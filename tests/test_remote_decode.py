"""Remote-write 1.0 decode: the columnar decoder against the
field-by-field decoder it replaced (kept below as the oracle) on
requests in every encoding Prometheus and other protobuf writers
produce, truncated and hostile bodies, and the snappy copy elements a
real (copy-emitting) compressor writes."""

from __future__ import annotations

import http.client
import random
import struct
from itertools import zip_longest

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from monolith_spark.engine import MonolithDB
from monolith_spark.sources import remote as proto

_SETTINGS = dict(
    deadline=None, derandomize=True, suppress_health_check=[HealthCheck.too_slow]
)
STALE_NAN_BITS = 0x7FF0000000000002  # Prometheus staleness marker


def _bits(x: float) -> int:
    return struct.unpack("<Q", struct.pack("<d", x))[0]


def _f64(bits: int) -> bytes:
    return bits.to_bytes(8, "little")


# ------------------------------------------------------------ the oracle
# The per-field decoder the columnar one replaced, verbatim but for
# names: a generator walk per message and one Sample object per field.
# It does not check that a field ends inside its message.

def _o_iter_fields(data: bytes):
    pos = 0
    while pos < len(data):
        key, pos = proto._read_varint(data, pos)
        field_no, wt = key >> 3, key & 0x7
        if wt == 0:
            v, pos = proto._read_varint(data, pos)
            yield field_no, wt, v
        elif wt == 1:
            yield field_no, wt, data[pos: pos + 8]
            pos += 8
        elif wt == 2:
            ln, pos = proto._read_varint(data, pos)
            yield field_no, wt, data[pos: pos + ln]
            pos += ln
        elif wt == 5:
            yield field_no, wt, data[pos: pos + 4]
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wt}")


def _o_label(data: bytes) -> tuple[str, str]:
    name = value = ""
    for f, _, v in _o_iter_fields(data):
        if f == 1:
            name = v.decode()
        elif f == 2:
            value = v.decode()
    return name, value


def _o_sample(data: bytes) -> proto.Sample:
    s = proto.Sample()
    for f, wt, v in _o_iter_fields(data):
        if f == 1 and wt == 1:
            s.value = struct.unpack("<d", v)[0]
        elif f == 2 and wt == 0:
            s.timestamp = proto._signed64(v)
    return s


def _o_exemplar(data: bytes) -> proto.Exemplar:
    e = proto.Exemplar()
    for f, wt, v in _o_iter_fields(data):
        if f == 1 and wt == 2:
            k, val = _o_label(v)
            e.labels[k] = val
        elif f == 2 and wt == 1:
            e.value = struct.unpack("<d", v)[0]
        elif f == 3 and wt == 0:
            e.timestamp = proto._signed64(v)
    return e


def _o_timeseries(data: bytes) -> proto.TimeSeries:
    ts = proto.TimeSeries()
    for f, _, v in _o_iter_fields(data):
        if f == 1:
            k, val = _o_label(v)
            ts.labels[k] = val
        elif f == 2:
            ts.samples.append(_o_sample(v))
        elif f == 3:
            ts.exemplars.append(_o_exemplar(v))
    return ts


def oracle_decode(data: bytes) -> proto.WriteRequest:
    req = proto.WriteRequest()
    for f, _, v in _o_iter_fields(data):
        if f == 1:
            req.timeseries.append(_o_timeseries(v))
    return req


def _canon(req: proto.WriteRequest):
    """The request with every double as its bits: NaN payloads compare
    exactly, and a NaN equals itself."""
    return [
        (
            ts.labels,
            [(_bits(s.value), s.timestamp) for s in ts.samples],
            [(e.labels, _bits(e.value), e.timestamp) for e in ts.exemplars],
        )
        for ts in req.timeseries
    ]


# ------------------------------------------- requests, as writers encode them

_VALUE_BITS = st.one_of(
    st.sampled_from([
        0, 0x8000000000000000,                       # +0.0, -0.0
        0x7FF0000000000000, 0xFFF0000000000000,      # +Inf, -Inf
        STALE_NAN_BITS, 0x7FF8000000000000, 0xFFF8000000000001,
    ]),
    st.floats(allow_nan=False).map(_bits),
    st.integers(0, (1 << 64) - 1),
)
_TIMESTAMPS = st.one_of(
    st.sampled_from([0, 1, -1, 1_699_992_000_000, (1 << 63) - 1, -(1 << 63)]),
    st.integers(-(1 << 63), (1 << 63) - 1),   # negatives: 10-byte varints
)
# short text, or one character repeated past 127 bytes (a 2-byte length)
_TEXT = st.one_of(
    st.text(max_size=6),
    st.builds(lambda c, n: c * n, st.characters(exclude_categories=("Cs",)),
              st.integers(128, 150)),
)


@st.composite
def _unknown(draw, known: int) -> list[bytes]:
    """0-2 fields a reader must skip: numbers past ``known`` (16 and up
    take a two-byte key), wire types 0, 1, 2 and 5."""
    out = []
    for _ in range(draw(st.integers(0, 2))):
        fno = draw(st.integers(known + 1, 40))
        wt = draw(st.sampled_from([0, 1, 2, 5]))
        if wt == 0:
            payload = proto._write_varint(draw(st.integers(0, (1 << 64) - 1)))
        elif wt == 2:
            body = draw(st.one_of(
                st.binary(max_size=6), st.integers(128, 150).map(bytes)))
            payload = proto._write_varint(len(body)) + body
        else:
            payload = draw(st.binary(min_size=4 << (wt == 1), max_size=4 << (wt == 1)))
        out.append(proto._tag(fno, wt) + payload)
    return out


@st.composite
def _fields(draw, fields: list[bytes], known: int) -> bytes:
    """A message from its known fields: in order (the common case),
    or shuffled, with unknown fields mixed in."""
    if draw(st.booleans()):
        return b"".join(fields)
    fields = fields + draw(_unknown(known))
    return b"".join(draw(st.permutations(fields)))


@st.composite
def _value_ts(draw, value_no: int, ts_no: int) -> list[bytes]:
    """The double and the timestamp of a Sample or an Exemplar; either
    is omitted when zero, as a proto3 encoder does, or written."""
    bits, ts = draw(_VALUE_BITS), draw(_TIMESTAMPS)
    out = []
    if bits or draw(st.booleans()):
        out.append(proto._tag(value_no, 1) + _f64(bits))
    if ts or draw(st.booleans()):
        out.append(proto._tag(ts_no, 0) + proto._write_varint(ts))
    return out


@st.composite
def _sample(draw) -> bytes:
    return draw(_fields(draw(_value_ts(1, 2)), 2))


@st.composite
def _label(draw) -> bytes:
    name, value = draw(_TEXT), draw(_TEXT)
    fields = [
        proto._len_delim(no, s.encode())
        for no, s in ((1, name), (2, value)) if s or draw(st.booleans())
    ]
    return draw(_fields(fields, 2))


@st.composite
def _series(draw) -> bytes:
    labels = draw(st.lists(_label(), max_size=4))
    samples = draw(st.lists(_sample(), max_size=5))
    exemplars = []
    for _ in range(draw(st.integers(0, 2))):
        ex_labels = [proto._len_delim(1, lab) for lab in draw(st.lists(_label(), max_size=2))]
        exemplars.append(draw(_fields(ex_labels + draw(_value_ts(2, 3)), 3)))
    fields = (
        [proto._len_delim(1, lab) for lab in labels]
        + [proto._len_delim(2, s) for s in samples]
        + [proto._len_delim(3, e) for e in exemplars]
    )
    return draw(_fields(fields, 3))


@st.composite
def write_requests(draw) -> bytes:
    series = draw(st.lists(_series(), max_size=6))
    return draw(_fields([proto._len_delim(1, s) for s in series], 1))


@settings(max_examples=200, **_SETTINGS)
@given(write_requests())
def test_decoder_matches_oracle(body):
    got = proto.decode_write_request(body)
    assert _canon(got) == _canon(oracle_decode(body))
    assert got.native_histogram_points == 0
    for ts in got.timeseries:
        assert all(type(s.timestamp) is int and type(s.value) is float
                   for s in ts.samples)


def _mutants(body: bytes, rng: random.Random) -> list[bytes]:
    """Hostile variants of a valid body: a byte flipped, inserted or
    dropped, and random bytes."""
    out = [bytes(rng.randrange(256) for _ in range(rng.randrange(1, 64)))]
    if body:
        for _ in range(6):
            i = rng.randrange(len(body))
            out.append(body[:i] + bytes([rng.randrange(256)]) + body[i + 1:])
            out.append(body[:i] + bytes([rng.randrange(256)]) + body[i:])
            out.append(body[:i] + body[i + 1:])
    return out


@settings(max_examples=80, **_SETTINGS)
@given(write_requests(), st.randoms(use_true_random=False))
def test_hostile_body_is_rejected_or_decoded_as_the_oracle_does(body, rng):
    """Whatever the decoder accepts, the oracle accepts and decodes the
    same; whatever it refuses, it refuses with ValueError."""
    for bad in _mutants(body, rng):
        try:
            got = proto.decode_write_request(bad)
        except ValueError:
            continue
        assert _canon(got) == _canon(oracle_decode(bad))


def _v(x: float) -> bytes:
    return b"\x09" + struct.pack("<d", x)


def _t(ms: int) -> bytes:
    return b"\x10" + proto._write_varint(ms)


def _sample_field(*fields: bytes) -> bytes:
    return proto._len_delim(2, b"".join(fields))


def _one_series(*samples: bytes) -> bytes:
    series = proto._len_delim(1, proto._enc_label("__name__", "m")) + b"".join(samples)
    return proto._len_delim(1, series)


# Sample messages in field-number order with a zero field left out, as
# proto3 writers (Prometheus's among them) encode them, and what they
# decode to
_BULK_LAYOUTS = [
    (_v(1.5) + _t(1000), (1000, _bits(1.5))),
    (_v(2.5) + _t(1), (1, _bits(2.5))),                  # 1-byte varint
    (_v(3.5) + _t(-6000), (-6000, _bits(3.5))),          # 10-byte varint
    (_v(-0.0) + _t(5), (5, _bits(-0.0))),
    (b"\x09" + _f64(STALE_NAN_BITS) + _t(9000), (9000, STALE_NAN_BITS)),
    (_t(3000), (3000, 0)),                               # zero value
    (_t(1 << 56), (1 << 56, 0)),                         # ... 9-byte varint
    (_v(4.5), (0, _bits(4.5))),                          # zero timestamp
    (b"", (0, 0)),                                       # both zero
]


def test_bulk_layouts_are_parsed_without_the_scalar_parser(monkeypatch):
    """Every layout the bulk pass covers, zero fields left out included,
    decodes exactly with the scalar parser out of reach."""
    def scalar(*_):
        raise AssertionError("a bulk-layout Sample reached the scalar parser")

    monkeypatch.setattr(proto, "_dec_sample_at", scalar)
    body = _one_series(*(_sample_field(f) for f, _ in _BULK_LAYOUTS))
    (ts,) = proto.decode_write_request(body).timeseries
    assert [(s.timestamp, _bits(s.value)) for s in ts.samples] == [w for _, w in _BULK_LAYOUTS]


def test_scalar_layouts_among_bulk_layouts_in_one_request():
    """Each layout only the scalar parser takes, between bulk-layout
    Samples, in wire order."""
    scalar = [
        (_t(2000) + _v(2.5), (2000, _bits(2.5))),                          # reordered
        (_v(6.5) + _t(7000) + proto._len_delim(9, b"x" * 200), (7000, _bits(6.5))),  # 2-byte length
        (_v(7.5) + b"\x1d\x00\x00\x00\x00" + _t(8000), (8000, _bits(7.5))),  # fixed32 field
        (_v(8.5) + b"\x18\x05", (0, _bits(8.5))),       # unknown varint after the value
        (_t(1) + _t(2), (2, 0)),                          # repeated field: the last wins
        (_t(-1), (-1, 0)),          # zero value, 10-byte varint: length 11, as a valued Sample
        (_t(1 << 49), (1 << 49, 0)),    # zero value, 8-byte varint: length 9, as a zero timestamp
    ]
    mixed = [x for pair in zip_longest(_BULK_LAYOUTS, scalar) for x in pair if x]
    body = _one_series(*(_sample_field(f) for f, _ in mixed))
    (ts,) = proto.decode_write_request(body).timeseries
    assert [(s.timestamp, _bits(s.value)) for s in ts.samples] == [w for _, w in mixed]


def test_bulk_pass_in_several_blocks_matches_the_oracle(monkeypatch):
    """A request whose Samples span several bulk passes, with scalar
    layouts in each, decodes as the oracle does."""
    monkeypatch.setattr(proto, "_BULK_ROWS", 4)
    body = proto.encode_write_request(_request()) + _one_series(
        *(_sample_field(f) for f in [_t(5) + _v(1.0)] + [f for f, _ in _BULK_LAYOUTS]))
    assert _canon(proto.decode_write_request(body)) == _canon(oracle_decode(body))


def test_remote_write_v2_samples_share_the_scalar_parser():
    """Remote-write 2.0 Samples (same fields as 1.0) decode through the
    same scalar parser: any field order, and a wrong wire type raises."""
    for raw, want in _BULK_LAYOUTS + [(_t(2000) + _v(2.5), (2000, _bits(2.5)))]:
        s = proto._dec_sample(raw)
        assert (s.timestamp, _bits(s.value)) == want
    with pytest.raises(ValueError):
        proto._dec_sample(b"\x08\x01")


# ------------------------------------------------------------ truncation

def _request() -> proto.WriteRequest:
    return proto.WriteRequest(timeseries=[
        proto.TimeSeries(
            {"__name__": "http_requests_total", "path": f"/v2/search{i}",
             "long": "x" * (130 + i)},
            [proto.Sample(float(i * 10 + j), 1_699_992_000_000 + j * 15_000)
             for j in range(3)],
            [proto.Exemplar({"trace_id": f"t{i}"}, 0.5, 1_699_992_000_000)] if i % 2 else [],
        )
        for i in range(4)
    ])


def _series_ends(req: proto.WriteRequest) -> list[int]:
    """Offsets in the encoded request where a TimeSeries field ends
    (0 first): the only places a cut leaves a whole request."""
    ends = [0]
    for ts in req.timeseries:
        ends.append(ends[-1] + len(proto._len_delim(1, proto._enc_timeseries(ts))))
    return ends


def test_every_truncation_is_rejected():
    """A prefix of a request that ends inside a TimeSeries — in a
    label, a sample, an exemplar or a length — raises ValueError; one
    that ends between two TimeSeries is itself a whole request, of
    exactly the series before the cut."""
    req = _request()
    body = proto.encode_write_request(req)
    ends = _series_ends(req)
    assert ends[-1] == len(body)
    for k in range(len(body)):
        if k in ends:
            got = proto.decode_write_request(body[:k])
            n = ends.index(k)
            assert _canon(got) == _canon(proto.WriteRequest(req.timeseries[:n]))
        else:
            with pytest.raises(ValueError):
                proto.decode_write_request(body[:k])


@pytest.mark.parametrize("inner", [
    b"\x12\x05\x09\x00\x00\x00\x00",        # a Sample's double cut at 4 bytes
    b"\x12\x03\x10\xff\xff",                # a Sample's varint past its Sample
    b"\x0a\x05\x0a\x09abc",                 # a Label's name past its Label
    b"\x1a\x04\x11\x00\x00\x00",            # an Exemplar's double cut short
    b"\x12\x0b\x09" + bytes(8) + b"\x10\x80",  # a varint cut inside a Sample
])
def test_field_past_its_parent_message_is_rejected(inner):
    """A field that runs past the message that holds it raises, even
    when the bytes after it would let it end inside the request."""
    series = proto._len_delim(1, proto._enc_label("a", "b")) + inner
    tail = proto._len_delim(1, proto._len_delim(1, proto._enc_label("c", "d")))
    with pytest.raises(ValueError):
        proto.decode_write_request(proto._len_delim(1, series) + tail)


@pytest.mark.parametrize("body", [
    b"\x08\x01",                                        # field 1 as a varint
    proto._len_delim(1, b"\x11" + bytes(8)),            # Sample field as fixed64
    proto._len_delim(1, proto._len_delim(2, b"\x08\x01")),  # Sample value as varint
    proto._len_delim(1, proto._len_delim(1, b"\x08\x01")),  # Label name as varint
    proto._len_delim(1, proto._len_delim(2, b"\x10" + b"\xff" * 9 + b"\x02")),
    # the same overflow in Prometheus's layout, which the bulk pass parses
    proto._len_delim(1, proto._len_delim(2, b"\x09" + bytes(8) + b"\x10" + b"\xff" * 9 + b"\x02")),
])
def test_wrong_wire_type_or_overflowing_varint_is_rejected(body):
    with pytest.raises(ValueError):
        proto.decode_write_request(body)


def test_truncated_v1_body_over_http_is_refused_and_commits_nothing(spark, tmp_path):
    from monolith_spark.server import MonolithServer

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    srv = MonolithServer(db, port=0)
    srv.serve_background()
    req = _request()
    raw = proto.encode_write_request(req)
    ends = _series_ends(req)
    cuts = (12, ends[1] - 30, ends[2] - 20, len(raw) - 3)
    assert not set(cuts) & set(ends)
    try:
        conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=60)
        history = len(db.history())
        for k in cuts:
            conn.request("POST", "/write", body=proto.snappy_compress(raw[:k]))
            resp = conn.getresponse()
            resp.read()
            assert not 200 <= resp.status < 300, k
            assert len(db.history()) == history
        conn.request("POST", "/write", body=proto.snappy_compress(raw))
        resp = conn.getresponse()
        resp.read()
        conn.close()
        assert resp.status == 200
        assert len(db.history()) > history
    finally:
        srv.shutdown()


# ----------------------------------------------------------------- snappy

def greedy_snappy(data: bytes) -> bytes:
    """A small greedy snappy compressor that emits copies, as real
    ones do: a hash of every 4-byte sequence's last position; at a
    repeat, extend the match (overlapping the current position when it
    runs on) and emit copy-1, copy-2 or copy-4 by offset and length."""
    out = bytearray(proto._write_varint(len(data)))

    def literal(a: int, b: int) -> None:
        while a < b:
            chunk = data[a:min(b, a + 65536)]
            ln = len(chunk) - 1
            if ln < 60:
                out.append(ln << 2)
            elif ln < 256:
                out.extend([60 << 2, ln])
            else:
                out.extend(bytes([61 << 2]) + ln.to_bytes(2, "little"))
            out.extend(chunk)
            a += len(chunk)

    def copy(offset: int, ln: int) -> None:
        while ln:
            n = min(ln, 64)
            if 4 <= n <= 11 and offset < 2048:
                out.extend([(offset >> 8) << 5 | (n - 4) << 2 | 1, offset & 0xFF])
            elif offset < 65536:
                out.extend(bytes([(n - 1) << 2 | 2]) + offset.to_bytes(2, "little"))
            else:
                out.extend(bytes([(n - 1) << 2 | 3]) + offset.to_bytes(4, "little"))
            ln -= n

    last: dict[bytes, int] = {}
    lit = i = 0
    while i + 4 <= len(data):
        j = last.get(data[i:i + 4])
        last[data[i:i + 4]] = i
        if j is None:
            i += 1
            continue
        ln = 4
        while i + ln < len(data) and data[j + ln] == data[i + ln]:
            ln += 1
        literal(lit, i)
        copy(i - j, ln)
        i = lit = i + ln
    literal(lit, len(data))
    return bytes(out)


@pytest.mark.parametrize("stream, want", [
    # copy-1: "abcd" then offset 4, length 8 (overlapping, period 4)
    (bytes([12, 3 << 2]) + b"abcd" + bytes([(8 - 4) << 2 | 1, 4]), b"abcd" * 3),
    # copy-1 with offset 1: run-length encoding of one byte
    (bytes([12, 0]) + b"z" + bytes([(11 - 4) << 2 | 1, 1]), b"z" * 12),
    # copy-2 with offset == length: one non-overlapping slice
    (bytes([10, 4 << 2]) + b"vwxyz" + bytes([(5 - 1) << 2 | 2, 5, 0]), b"vwxyz" * 2),
    # copy-2 longer than its offset: the 3-byte period repeated, cut
    (bytes([20, 2 << 2]) + b"pqr" + bytes([(17 - 1) << 2 | 2, 3, 0]),
     (b"pqr" * 7)[:20]),
    # copy-4: offset as 4 bytes, offset > length
    (bytes([9, 5 << 2]) + b"012345" + bytes([(3 - 1) << 2 | 3, 6, 0, 0, 0]),
     b"012345012"),
])
def test_snappy_copy_elements(stream, want):
    assert proto.snappy_decompress(stream) == want


@pytest.mark.parametrize("stream", [
    bytes([4]) + bytes([((4 - 4) << 2) | 1, 9]),                 # offset > output
    bytes([8, 0]) + b"a" + bytes([(4 - 1) << 2 | 2, 0, 0]),      # offset 0
    bytes([4, 0]) + b"a" + bytes([(8 - 4) << 2 | 1, 1]),          # past declared length
    bytes([8, 3 << 2]) + b"abcd" + bytes([(4 - 1) << 2 | 2, 4]),  # offset cut short
    bytes([8, 3 << 2]) + b"abcd" + bytes([(4 - 4) << 2 | 1]),     # copy-1 offset missing
    bytes([8, 7 << 2]) + b"abcd",                                 # literal cut short
])
def test_snappy_corrupt_streams_raise(stream):
    with pytest.raises(ValueError):
        proto.snappy_decompress(stream)


def test_snappy_round_trips_a_copy_emitting_compressor():
    """A request body, a run, and a block repeated beyond 64 KiB (copy-4)
    come back exactly; the compressor really emitted copies."""
    rng = random.Random(3)
    far = bytes(rng.randrange(256) for _ in range(70_000))
    body = proto.encode_write_request(_request()) * 20
    for data in (body, b"\x00" * 5000 + b"tail", far + far[:300], b"", b"abc"):
        packed = greedy_snappy(data)
        assert proto.snappy_decompress(packed) == data
    assert len(greedy_snappy(body)) < len(body) // 4
