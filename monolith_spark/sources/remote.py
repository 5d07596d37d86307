"""Prometheus remote-write / remote-read wire protocol, from scratch.

The reference speaks snappy-compressed protobuf over HTTP
(/root/reference/src/server.rs:16-19, :66-72). This module implements
the same wire surface in pure Python from the public specs:

- protobuf wire format (varint / length-delimited / fixed64) for the
  four message shapes the reference uses
  (/root/reference/src/proto/remote.rs:31,225,522,712 and
  /root/reference/src/proto/types.rs — WriteRequest, ReadRequest,
  ReadResponse, TimeSeries, Label, Sample, Query, LabelMatcher);
- snappy block format: full decompressor (literal + copy elements;
  a copy is one slice, or its period repeated when it overlaps), and
  a spec-valid all-literal compressor. If the python-snappy C library
  is available it is used instead (import-gated).

Remote-write 1.0 requests, the ingest hot path, decode in columns
(decode_write_request → _decode_series): Python walks the series and
their labels and only steps over each Sample; one numpy pass then
parses every Sample whose fields are in field-number order with
nothing else (0x09 + double, then 0x10 + varint timestamp), either one
left out when it is zero, as proto3 writers such as Prometheus do. A
scalar parser takes any other layout: reordered or unknown fields, a
multi-byte length, and two zero-value layouts (see _SAMPLE_SPAN). A length or fixed field that runs past its parent
message, or a known field of the wrong wire type, raises ValueError.

No generated code, no external deps beyond numpy; wire-compatible with
real Prometheus clients for every message this engine consumes/produces.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np
from numpy.lib.stride_tricks import sliding_window_view

try:  # the C library beats the pure-python path when present
    import snappy as _snappy_c  # type: ignore
except Exception:  # pragma: no cover - not installed in this container
    _snappy_c = None

# ------------------------------------------------------------------ snappy

# Largest decoded request body accepted on ingest: Prometheus's
# remote-write decode limit. A small compressed body can declare (or
# expand to) far more than it carries, so decoders check this bound
# before they allocate.
MAX_DECODED_BYTES = 32 << 20


def snappy_decompress(data: bytes) -> bytes:
    """Snappy block-format decompressor (pure python). Rejects a
    declared length over MAX_DECODED_BYTES before decoding anything,
    and a stream that would outgrow its declared length before the
    element that overflows is copied."""
    # preamble: uncompressed length varint
    ulen, pos = _read_varint(data, 0)
    if ulen > MAX_DECODED_BYTES:
        raise ValueError(
            f"snappy stream declares {ulen} bytes, over the "
            f"{MAX_DECODED_BYTES}-byte decode limit"
        )
    if _snappy_c is not None:
        return _snappy_c.decompress(data)
    out = bytearray()
    while pos < len(data):
        tag = data[pos]
        pos += 1
        kind = tag & 0x3
        if kind == 0:  # literal
            ln = tag >> 2
            if ln >= 60:
                nbytes = ln - 59
                ln = int.from_bytes(data[pos: pos + nbytes], "little")
                pos += nbytes
            ln += 1
            if len(out) + ln > ulen:
                raise ValueError("corrupt snappy stream: output past declared length")
            out += data[pos: pos + ln]
            pos += ln
        else:
            if kind == 1:  # copy with 1-byte offset
                ln = ((tag >> 2) & 0x7) + 4
                offset = ((tag >> 5) << 8) | int.from_bytes(data[pos: pos + 1], "little")
                pos += 1
            elif kind == 2:  # copy with 2-byte offset
                ln = (tag >> 2) + 1
                offset = int.from_bytes(data[pos: pos + 2], "little")
                pos += 2
            else:  # copy with 4-byte offset
                ln = (tag >> 2) + 1
                offset = int.from_bytes(data[pos: pos + 4], "little")
                pos += 4
            if offset == 0 or offset > len(out):
                raise ValueError("corrupt snappy stream: bad copy offset")
            if len(out) + ln > ulen:
                raise ValueError("corrupt snappy stream: output past declared length")
            start = len(out) - offset
            if offset >= ln:
                out += out[start:start + ln]
            else:
                # an overlapping copy (legal, and common: RLE) repeats
                # the last ``offset`` bytes
                out += (out[start:] * -(-ln // offset))[:ln]
    if pos > len(data):
        raise ValueError("corrupt snappy stream: element past end of input")
    if len(out) != ulen:
        raise ValueError(f"corrupt snappy stream: length {len(out)} != declared {ulen}")
    return bytes(out)


def snappy_compress(data: bytes) -> bytes:
    """Spec-valid snappy: C library if present, else all-literal
    encoding (larger output, still decodable by any snappy reader)."""
    if _snappy_c is not None:
        return _snappy_c.compress(data)
    out = bytearray(_write_varint(len(data)))
    pos = 0
    while pos < len(data):
        chunk = data[pos: pos + 65536]
        ln = len(chunk) - 1
        if ln < 60:
            out.append(ln << 2)
        elif ln < (1 << 8):
            out.append(60 << 2)
            out += ln.to_bytes(1, "little")
        else:
            out.append(61 << 2)
            out += ln.to_bytes(2, "little")
        out += chunk
        pos += len(chunk)
    return bytes(out)


# ---------------------------------------------------------------- protobuf

def _write_varint(v: int) -> bytes:
    if v < 0:
        v += 1 << 64  # two's-complement int64 as uint64, 10 bytes
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(data: bytes, pos: int) -> tuple[int, int]:
    result = shift = 0
    while True:
        try:
            b = data[pos]
        except IndexError:
            raise ValueError("truncated varint") from None
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift >= 70:
            raise ValueError("varint too long")


def _signed64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def _tag(field_no: int, wire_type: int) -> bytes:
    return _write_varint((field_no << 3) | wire_type)


def _len_delim(field_no: int, payload: bytes) -> bytes:
    return _tag(field_no, 2) + _write_varint(len(payload)) + payload


def _skip_field(data: bytes, pos: int, wt: int) -> int:
    """The position after the value, of wire type ``wt``, that starts
    at ``pos``; the caller checks it against the message's end."""
    if wt == 0:
        return _read_varint(data, pos)[1]
    if wt == 1:
        return pos + 8
    if wt == 2:
        ln, pos = _read_varint(data, pos)
        return pos + ln
    if wt == 5:
        return pos + 4
    raise ValueError(f"unsupported wire type {wt}")


def _truncated(what: str) -> ValueError:
    return ValueError(f"truncated protobuf: a field runs past its {what}")


def _iter_fields(data: bytes):
    """Yield (field_no, wire_type, value, ...) skipping unknown types —
    the forward-compat behavior protobuf guarantees. A field that runs
    past the end of ``data`` raises ValueError."""
    pos = 0
    while pos < len(data):
        key, pos = _read_varint(data, pos)
        field_no, wt = key >> 3, key & 0x7
        if wt == 0:
            v, pos = _read_varint(data, pos)
            yield field_no, wt, v
            continue
        if wt == 2:
            ln, pos = _read_varint(data, pos)
            end = pos + ln
        else:
            end = _skip_field(data, pos, wt)
        if end > len(data):
            raise _truncated("message")
        yield field_no, wt, data[pos:end]
        pos = end


# ------------------------------------------------------------ message model

EQ, NEQ, RE, NRE = 0, 1, 2, 3
_MATCHER_NAMES = {EQ: "EQ", NEQ: "NEQ", RE: "RE", NRE: "NRE"}


@dataclass
class Sample:
    value: float = 0.0     # field 1, double
    timestamp: int = 0     # field 2, int64 ms


@dataclass
class Exemplar:
    """Prometheus exemplar — the trace-id'd sample reference
    remote-write carries alongside samples (types.proto: Exemplar
    {labels=1, value=2, timestamp=3})."""

    labels: dict[str, str] = field(default_factory=dict)  # field 1
    value: float = 0.0                                    # field 2, double
    timestamp: int = 0                                    # field 3, int64 ms


@dataclass
class TimeSeries:
    labels: dict[str, str] = field(default_factory=dict)  # field 1, repeated Label{name=1,value=2}
    samples: list[Sample] = field(default_factory=list)   # field 2
    exemplars: list[Exemplar] = field(default_factory=list)  # field 3


@dataclass
class LabelMatcher:
    type: int = EQ         # field 1, enum
    name: str = ""         # field 2
    value: str = ""        # field 3

    @property
    def type_name(self) -> str:
        return _MATCHER_NAMES[self.type]


@dataclass
class ReadHints:
    """Prometheus ReadHints — parsed but never read by the reference
    (/root/reference/src/proto/types.rs:1248-1257); we honor step_ms +
    func as server-side downsampling (SURVEY §7.2 M5)."""

    step_ms: int = 0       # field 1
    func: str = ""         # field 2 ("avg_over_time", "sum", ...)
    start_ms: int = 0      # field 3
    end_ms: int = 0        # field 4


@dataclass
class Query:
    start_timestamp_ms: int = 0                 # field 1
    end_timestamp_ms: int = 0                   # field 2
    matchers: list[LabelMatcher] = field(default_factory=list)  # field 3
    hints: ReadHints | None = None              # field 4


@dataclass
class WriteRequest:
    timeseries: list[TimeSeries] = field(default_factory=list)  # field 1
    # receiver-side bookkeeping (not a wire field): native histogram
    # points that were classic-expanded into the timeseries above by
    # v2_to_v1 — the honest basis for the PRW2
    # X-Prometheus-Remote-Write-Histograms-Written header
    native_histogram_points: int = 0


# ReadRequest.ResponseType (prometheus remote-read spec): SAMPLES is
# the snappy+proto ReadResponse; STREAMED_XOR_CHUNKS streams framed
# ChunkedReadResponse messages with per-series compressed chunks.
RESP_SAMPLES = 0
RESP_STREAMED_XOR_CHUNKS = 1


@dataclass
class ReadRequest:
    queries: list[Query] = field(default_factory=list)  # field 1
    # field 2, repeated enum ResponseType — order = client preference;
    # an empty list means SAMPLES (spec default)
    accepted_response_types: list[int] = field(default_factory=list)


@dataclass
class ReadResponse:
    results: list[list[TimeSeries]] = field(default_factory=list)  # field 1: QueryResult{timeseries=1}


# ---------------------------------------------------------------- encoding

def _enc_label(name: str, value: str) -> bytes:
    return _len_delim(1, name.encode()) + _len_delim(2, value.encode())


def _enc_sample(s: Sample) -> bytes:
    return _tag(1, 1) + struct.pack("<d", s.value) + _tag(2, 0) + _write_varint(s.timestamp)


def _enc_exemplar(e: Exemplar) -> bytes:
    out = b"".join(
        _len_delim(1, _enc_label(k, v)) for k, v in sorted(e.labels.items())
    )
    out += _tag(2, 1) + struct.pack("<d", e.value)
    out += _tag(3, 0) + _write_varint(e.timestamp)
    return out


def _enc_timeseries(ts: TimeSeries) -> bytes:
    out = b"".join(_len_delim(1, _enc_label(k, v)) for k, v in sorted(ts.labels.items()))
    out += b"".join(_len_delim(2, _enc_sample(s)) for s in ts.samples)
    out += b"".join(_len_delim(3, _enc_exemplar(e)) for e in ts.exemplars)
    return out


def encode_write_request(req: WriteRequest) -> bytes:
    return b"".join(_len_delim(1, _enc_timeseries(ts)) for ts in req.timeseries)


def encode_read_request(req: ReadRequest) -> bytes:
    out = b""
    for q in req.queries:
        body = _tag(1, 0) + _write_varint(q.start_timestamp_ms)
        body += _tag(2, 0) + _write_varint(q.end_timestamp_ms)
        for m in q.matchers:
            mbody = b""
            if m.type:
                mbody += _tag(1, 0) + _write_varint(m.type)
            mbody += _len_delim(2, m.name.encode()) + _len_delim(3, m.value.encode())
            body += _len_delim(3, mbody)
        if q.hints is not None:
            h = q.hints
            hbody = b""
            if h.step_ms:
                hbody += _tag(1, 0) + _write_varint(h.step_ms)
            if h.func:
                hbody += _len_delim(2, h.func.encode())
            if h.start_ms:
                hbody += _tag(3, 0) + _write_varint(h.start_ms)
            if h.end_ms:
                hbody += _tag(4, 0) + _write_varint(h.end_ms)
            body += _len_delim(4, hbody)
        out += _len_delim(1, body)
    if req.accepted_response_types:
        out += _enc_packed_uint32(2, req.accepted_response_types)
    return out


def encode_read_response(resp: ReadResponse) -> bytes:
    out = b""
    for result in resp.results:
        body = b"".join(_len_delim(1, _enc_timeseries(ts)) for ts in result)
        out += _len_delim(1, body)
    return out


# ---------------------------------------------------------------- decoding

def _wrong_wire_type(key: int) -> ValueError:
    return ValueError(f"protobuf field {key >> 3} has the wrong wire type {key & 0x7}")


def _dec_label(data: bytes) -> tuple[str, str]:
    name = value = ""
    for f, wt, v in _iter_fields(data):
        if f in (1, 2) and wt != 2:
            raise _wrong_wire_type(f << 3 | wt)
        if f == 1:
            name = v.decode()
        elif f == 2:
            value = v.decode()
    return name, value


def _dec_sample(data: bytes) -> Sample:
    """A Sample message; remote-write 2.0 Samples have the same fields."""
    ts, bits = _dec_sample_at(data, 0, len(data))
    return Sample(struct.unpack("<d", bits.to_bytes(8, "little"))[0], ts)


def _dec_exemplar(data: bytes) -> Exemplar:
    e = Exemplar()
    for f, wt, v in _iter_fields(data):
        if f == 1 and wt == 2:
            k, val = _dec_label(v)
            e.labels[k] = val
        elif f == 2 and wt == 1:
            e.value = struct.unpack("<d", v)[0]
        elif f == 3 and wt == 0:
            e.timestamp = _signed64(v)
    return e


# The Sample layouts the bulk pass parses: a one-byte length, then the
# fields in field-number order with nothing else, either one left out
# when it is zero (proto3 writers, Prometheus's included, omit a zero
# value or timestamp): tag 0x09 + the little-endian double, then tag
# 0x10 + the timestamp varint (1 to 10 bytes). The length byte picks
# the layout, so the two zero-value layouts whose length a valued
# layout has go to the scalar parser: a negative timestamp (10 varint
# bytes, length 11) and one in [2^49, 2^56) ms (8 bytes, length 9). A
# Sample is at most this many bytes from its length on.
_SAMPLE_SPAN = 21
# Samples parsed per numpy pass: bounds the pass's temporary arrays
# (~300 bytes a Sample) on a request of many small Samples.
_BULK_ROWS = 1 << 16
# A layout's row in _LAYOUT: the mask and the expected value of a
# Sample's _SAMPLE_SPAN bytes, the mask of the timestamp's payload bits
# in bytes 2 on, and the mask of the value's bytes 2-9.
_MASK, _WANT = slice(0, 21), slice(21, 42)
_TS_MASK, _VALUE_MASK = slice(42, 61), slice(61, 69)


def _layout_table() -> np.ndarray:
    """_LAYOUT[length byte]: checks a Sample's tags and its varint's
    continuation bits (set on every byte but the last; a tenth byte may
    hold bit 63 only). A length no bulk layout has matches nothing."""
    t = np.zeros((256, 69), np.uint8)
    t[:, 0] = 0xFF
    t[:, _WANT.start] = np.arange(256) ^ 1
    layouts = [(0, v) for v in range(10) if v != 8]  # (has value, varint bytes)
    layouts += [(1, v) for v in range(11)]
    for has_value, vlen in layouts:
        ln = 9 * has_value + (vlen and 1 + vlen)
        mask, want = t[ln, _MASK], t[ln, _WANT]
        want[0] = ln
        p = 1  # the timestamp's tag
        if has_value:
            mask[1], want[1] = 0xFF, 0x09
            t[ln, _VALUE_MASK] = 0xFF
            p = 10
        if vlen:
            mask[p], want[p] = 0xFF, 0x10
            mask[p + 1:p + 1 + vlen] = 0x80
            want[p + 1:p + vlen] = 0x80
            if vlen == 10:
                mask[p + vlen] = 0xFE
            t[ln, _TS_MASK][p - 1:p - 1 + vlen] = 0x7F
    return t


_LAYOUT = _layout_table()
# Weights of the timestamp's bytes 2 on: a timestamp that comes first
# ends by byte 10, one after a value starts at byte 11.
_VARINT_WEIGHTS = np.array(
    [1 << (7 * k) for k in range(9)] + [1 << (7 * k) for k in range(10)], np.uint64
)


def _dec_series(
    data: bytes, pos: int, end: int, at: list[int],
    label_cache: dict[bytes, tuple[str, str]],
) -> TimeSeries:
    """The TimeSeries message in data[pos:end], its samples left for
    _sample_columns: each Sample field only appends the offset of its
    length to ``at``. A label pair is decoded once per request."""
    ts = TimeSeries()
    labels = ts.labels
    while pos < end:
        key = data[pos]
        if key > 0x7F:
            key, pos = _read_varint(data, pos)
        else:
            pos += 1
        if key == 0x12:  # Sample: _sample_columns parses it
            at.append(pos)
        elif key != 0x0A and key != 0x1A:
            if key >> 3 <= 3:
                raise _wrong_wire_type(key)
            pos = _skip_field(data, pos, key & 0x7)
            continue
        ln = data[pos]
        if ln > 0x7F:
            ln, p = _read_varint(data, pos)
        else:
            p = pos + 1
        pos = p + ln
        if key == 0x0A:  # Label
            raw = data[p:pos]
            kv = label_cache.get(raw)
            if kv is None:
                kv = label_cache[raw] = _dec_label(raw)
            labels[kv[0]] = kv[1]
        elif key == 0x1A:  # Exemplar
            ts.exemplars.append(_dec_exemplar(data[p:pos]))
    if pos != end:
        raise _truncated("TimeSeries")
    return ts


def _dec_sample_at(data: bytes, pos: int, end: int) -> tuple[int, int]:
    """(timestamp, value bits) of the Sample message in data[pos:end],
    in any field layout: omitted zero fields, either order, unknown
    fields."""
    ts = bits = 0
    while pos < end:
        key, pos = _read_varint(data, pos)
        if key == 0x09:
            bits = int.from_bytes(data[pos:pos + 8], "little")
            pos += 8
        elif key == 0x10:
            ts, pos = _read_varint(data, pos)
            if ts >> 64:
                raise ValueError("timestamp varint overflows 64 bits")
        elif key >> 3 <= 2:
            raise _wrong_wire_type(key)
        else:
            pos = _skip_field(data, pos, key & 0x7)
    if pos != end:
        raise _truncated("Sample")
    return _signed64(ts), bits


def _sample_columns(
    data: bytes, windows: np.ndarray, at: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(timestamp int64, value float64) columns of the Sample fields
    whose lengths sit at offsets ``at``; ``windows`` holds the
    _SAMPLE_SPAN bytes from each offset of ``data``. One numpy pass
    parses every Sample in a bulk layout; _dec_sample_at parses the
    rest. Values are moved as raw bits, so NaN payloads (staleness
    markers) survive. The pass is a handful of whole-array operations:
    each one drops the GIL, and a thread that drops it may wait a
    switch interval for it back while other request threads run."""
    rows = windows[at]
    t = _LAYOUT[rows[:, 0]]
    bad = (rows & t[:, _MASK]) != t[:, _WANT]
    ts = ((rows[:, 2:] & t[:, _TS_MASK]).astype(np.uint64) @ _VARINT_WEIGHTS).view(np.int64)
    value = (rows[:, 2:10] & t[:, _VALUE_MASK]).view("<u8").ravel()
    if bad.any():
        for i in np.flatnonzero(bad.any(1)).tolist():
            ln, p = _read_varint(data, int(at[i]))
            ts[i], value[i] = _dec_sample_at(data, p, p + ln)
    return ts, value.view(np.float64)


def _decode_series(data: bytes) -> list[TimeSeries]:
    """The TimeSeries in field 1 of ``data`` — a WriteRequest or a
    remote-read QueryResult. Python walks the series and their labels;
    the samples are parsed in bulk by _sample_columns. A length or
    fixed field that runs past its parent message raises ValueError."""
    n = len(data)
    series: list[TimeSeries] = []
    counts: list[int] = []
    at: list[int] = []
    label_cache: dict[bytes, tuple[str, str]] = {}
    pos = 0
    try:
        while pos < n:
            key, pos = _read_varint(data, pos)
            if key == 0x0A:
                ln, pos = _read_varint(data, pos)
                end = pos + ln
                if end > n:
                    raise _truncated("message")
                k = len(at)
                series.append(_dec_series(data, pos, end, at, label_cache))
                counts.append(len(at) - k)
                pos = end
            elif key >> 3 == 1:
                raise _wrong_wire_type(key)
            else:
                pos = _skip_field(data, pos, key & 0x7)
        if pos != n:
            raise _truncated("message")
    except IndexError:
        raise _truncated("message") from None
    offsets = np.array(at, np.intp)
    del at  # a list slot and an int a Sample: freed before the Samples are built
    windows = sliding_window_view(
        np.frombuffer(data + bytes(_SAMPLE_SPAN), np.uint8), _SAMPLE_SPAN
    )
    samples: list[Sample] = []
    for lo in range(0, len(offsets), _BULK_ROWS):
        ts, value = _sample_columns(data, windows, offsets[lo:lo + _BULK_ROWS])
        samples += map(Sample, value.tolist(), ts.tolist())
    i = 0
    for s, c in zip(series, counts):
        s.samples = samples[i:i + c]
        i += c
    return series


def decode_write_request(data: bytes) -> WriteRequest:
    """A remote-write 1.0 request body (snappy already undone)."""
    return WriteRequest(timeseries=_decode_series(data))


def _dec_matcher(data: bytes) -> LabelMatcher:
    m = LabelMatcher()
    for f, wt, v in _iter_fields(data):
        if f == 1 and wt == 0:
            m.type = v
        elif f == 2:
            m.name = v.decode()
        elif f == 3:
            m.value = v.decode()
    return m


def _dec_hints(data: bytes) -> ReadHints:
    h = ReadHints()
    for f, wt, v in _iter_fields(data):
        if f == 1 and wt == 0:
            h.step_ms = _signed64(v)
        elif f == 2:
            h.func = v.decode()
        elif f == 3 and wt == 0:
            h.start_ms = _signed64(v)
        elif f == 4 and wt == 0:
            h.end_ms = _signed64(v)
    return h


def _dec_query(data: bytes) -> Query:
    q = Query()
    for f, wt, v in _iter_fields(data):
        if f == 1 and wt == 0:
            q.start_timestamp_ms = _signed64(v)
        elif f == 2 and wt == 0:
            q.end_timestamp_ms = _signed64(v)
        elif f == 3:
            q.matchers.append(_dec_matcher(v))
        elif f == 4:
            q.hints = _dec_hints(v)
    return q


def decode_read_request(data: bytes) -> ReadRequest:
    req = ReadRequest()
    for f, wt, v in _iter_fields(data):
        if f == 1 and wt == 2:
            req.queries.append(_dec_query(v))
        elif f == 2:  # accepted_response_types: packed or unpacked
            req.accepted_response_types.extend(_dec_packed_uint32(wt, v))
    return req


def decode_read_response(data: bytes) -> ReadResponse:
    resp = ReadResponse()
    for f, _, v in _iter_fields(data):
        if f == 1:
            resp.results.append(_decode_series(v))
    return resp


# ------------------------------------------------- remote-write 2.0 (PRW2)
#
# The Prometheus 3.x wire format (io.prometheus.write.v2.Request — the
# public remote-write 2.0 spec): every label name/value, help string,
# and unit is INTERNED once in a request-wide symbols table and series
# reference them by index — the deduplication that makes high-churn
# fleets shippable. Carries per-metric Metadata (type/help/unit refs)
# inline, which this engine absorbs into its manifest metadata store.
# Hand-rolled like the v1 codec above. Native histograms (field 3)
# decode and classic-expand into `_bucket`/`_sum`/`_count` series on
# ingest (v2_to_v1 → _expand_native_histogram) — a Prometheus 3.x
# sender keeps its histogram data, quantile-queryable through the
# classic path; created_timestamp (field 6) is skipped on decode, as
# protobuf semantics require.

V2_CONTENT_TYPE = "application/x-protobuf;proto=io.prometheus.write.v2.Request"

# Metadata.MetricType enum (spec order)
_V2_METRIC_TYPES = {
    0: "unknown", 1: "counter", 2: "gauge", 3: "histogram",
    4: "gaugehistogram", 5: "summary", 6: "info", 7: "stateset",
}
_V2_TYPE_IDS = {v: k for k, v in _V2_METRIC_TYPES.items()}


@dataclass
class MetadataV2:
    type: int = 0        # field 1, enum
    help_ref: int = 0    # field 3, uint32 into symbols
    unit_ref: int = 0    # field 4, uint32 into symbols


@dataclass
class ExemplarV2:
    labels_refs: list[int] = field(default_factory=list)  # field 1, packed uint32 pairs
    value: float = 0.0                                    # field 2, double
    timestamp: int = 0                                    # field 3, int64 ms


@dataclass
class HistogramV2:
    """Native histogram (io.prometheus.write.v2.Request → Histogram,
    the prompb shape): sparse base-2 exponential buckets as
    (offset, length) spans with delta-encoded integer counts (or
    absolute double counts for float histograms). Decoded far enough
    to classic-expand — the engine stores float samples."""

    count: float = 0.0          # oneof: count_int=1 / count_float=2
    sum: float = 0.0            # field 3, double
    schema: int = 0             # field 4, sint32 (the scale)
    zero_threshold: float = 0.0  # field 5, double
    zero_count: float = 0.0     # oneof: int=6 / float=7
    neg_spans: list[tuple[int, int]] = field(default_factory=list)   # 8
    neg_deltas: list[int] = field(default_factory=list)    # 9, sint64
    neg_counts: list[float] = field(default_factory=list)  # 10, double
    pos_spans: list[tuple[int, int]] = field(default_factory=list)   # 11
    pos_deltas: list[int] = field(default_factory=list)    # 12, sint64
    pos_counts: list[float] = field(default_factory=list)  # 13, double
    timestamp: int = 0          # field 15, int64 ms


@dataclass
class TimeSeriesV2:
    # Spec field numbers (io.prometheus.write.v2.Request);
    # created_timestamp (field 6) is skipped on decode.
    labels_refs: list[int] = field(default_factory=list)  # field 1, packed uint32 pairs
    samples: list[Sample] = field(default_factory=list)   # field 2
    histograms: list[HistogramV2] = field(default_factory=list)  # field 3
    exemplars: list[ExemplarV2] = field(default_factory=list)  # field 4
    metadata: MetadataV2 | None = None                    # field 5


@dataclass
class WriteRequestV2:
    symbols: list[str] = field(default_factory=list)      # field 4
    timeseries: list[TimeSeriesV2] = field(default_factory=list)  # field 5


def _enc_packed_uint32(field_no: int, vals: list[int]) -> bytes:
    if not vals:
        return b""
    body = b"".join(_write_varint(v) for v in vals)
    return _len_delim(field_no, body)


def _dec_packed_uint32(wt: int, v) -> list[int]:
    """Packed (wt=2, the spec encoding) or unpacked (wt=0, which
    decoders must also accept) repeated uint32."""
    if wt == 0:
        return [v]
    out, pos = [], 0
    while pos < len(v):
        x, pos = _read_varint(v, pos)
        out.append(x)
    return out


def encode_write_request_v2(req: WriteRequestV2) -> bytes:
    if not req.symbols or req.symbols[0] != "":
        raise ValueError('PRW2 symbols[0] must be the empty string ""')
    out = b"".join(_len_delim(4, s.encode()) for s in req.symbols)
    for ts in req.timeseries:
        body = _enc_packed_uint32(1, ts.labels_refs)
        body += b"".join(_len_delim(2, _enc_sample(s)) for s in ts.samples)
        for e in ts.exemplars:
            eb = _enc_packed_uint32(1, e.labels_refs)
            eb += _tag(2, 1) + struct.pack("<d", e.value)
            eb += _tag(3, 0) + _write_varint(e.timestamp)
            body += _len_delim(4, eb)
        if ts.metadata is not None:
            m = ts.metadata
            mb = b""
            if m.type:
                mb += _tag(1, 0) + _write_varint(m.type)
            if m.help_ref:
                mb += _tag(3, 0) + _write_varint(m.help_ref)
            if m.unit_ref:
                mb += _tag(4, 0) + _write_varint(m.unit_ref)
            body += _len_delim(5, mb)
        out += _len_delim(5, body)
    return out


def _zigzag(v: int) -> int:
    """Protobuf sint32/sint64 zigzag decode (histogram schema, span
    offsets, and count deltas are zigzag on the wire)."""
    return (v >> 1) ^ -(v & 1)


def _dec_packed_zigzag(wt: int, v) -> list[int]:
    """repeated sint64 — packed (wt 2) or singular (wt 0)."""
    if wt == 0:
        return [_zigzag(v)]
    out, pos = [], 0
    while pos < len(v):
        x, pos = _read_varint(v, pos)
        out.append(_zigzag(x))
    return out


def _dec_packed_double(wt: int, v) -> list[float]:
    if wt == 1:
        return [struct.unpack("<d", v)[0]]
    return [
        struct.unpack("<d", v[i: i + 8])[0] for i in range(0, len(v), 8)
    ]


def _dec_bucket_span(data: bytes) -> tuple[int, int]:
    """BucketSpan{offset=1 sint32, length=2 uint32}."""
    off = ln = 0
    for f, wt, v in _iter_fields(data):
        if f == 1 and wt == 0:
            off = _zigzag(v)
        elif f == 2 and wt == 0:
            ln = v
    return off, ln


def _dec_histogram_v2(data: bytes) -> HistogramV2:
    h = HistogramV2()
    for f, wt, v in _iter_fields(data):
        if f == 1 and wt == 0:
            h.count = float(v)
        elif f == 2 and wt == 1:
            h.count = struct.unpack("<d", v)[0]
        elif f == 3 and wt == 1:
            h.sum = struct.unpack("<d", v)[0]
        elif f == 4 and wt == 0:
            h.schema = _zigzag(v)
        elif f == 5 and wt == 1:
            h.zero_threshold = struct.unpack("<d", v)[0]
        elif f == 6 and wt == 0:
            h.zero_count = float(v)
        elif f == 7 and wt == 1:
            h.zero_count = struct.unpack("<d", v)[0]
        elif f == 8 and wt == 2:
            h.neg_spans.append(_dec_bucket_span(v))
        elif f == 9:
            h.neg_deltas.extend(_dec_packed_zigzag(wt, v))
        elif f == 10:
            h.neg_counts.extend(_dec_packed_double(wt, v))
        elif f == 11 and wt == 2:
            h.pos_spans.append(_dec_bucket_span(v))
        elif f == 12:
            h.pos_deltas.extend(_dec_packed_zigzag(wt, v))
        elif f == 13:
            h.pos_counts.extend(_dec_packed_double(wt, v))
        elif f == 15 and wt == 0:
            h.timestamp = _signed64(v)
    return h


def _span_buckets(
    spans: list[tuple[int, int]], deltas: list[int], counts: list[float]
) -> list[tuple[int, float]]:
    """Resolve (offset, length) spans + delta-encoded (int) or
    absolute (float) counts to absolute (bucket_index, count) pairs.
    The first span's offset is the starting index; later offsets are
    gaps from the previous span's end (the prompb convention)."""
    vals: list[float]
    if counts:
        vals = list(counts)
    else:
        vals, acc = [], 0
        for d in deltas:
            acc += d
            vals.append(float(acc))
    out: list[tuple[int, float]] = []
    idx = pos = 0
    for off, ln in spans:
        idx += off
        for _ in range(ln):
            if pos >= len(vals):
                raise ValueError(
                    "PRW2 histogram spans exceed bucket counts")
            out.append((idx, vals[pos]))
            idx += 1
            pos += 1
    return out


def _dec_metadata_v2(data: bytes) -> MetadataV2:
    m = MetadataV2()
    for f, wt, v in _iter_fields(data):
        if f == 1 and wt == 0:
            m.type = v
        elif f == 3 and wt == 0:
            m.help_ref = v
        elif f == 4 and wt == 0:
            m.unit_ref = v
    return m


def _dec_exemplar_v2(data: bytes) -> ExemplarV2:
    e = ExemplarV2()
    for f, wt, v in _iter_fields(data):
        if f == 1:
            e.labels_refs.extend(_dec_packed_uint32(wt, v))
        elif f == 2 and wt == 1:
            e.value = struct.unpack("<d", v)[0]
        elif f == 3 and wt == 0:
            e.timestamp = _signed64(v)
    return e


def _dec_timeseries_v2(data: bytes) -> TimeSeriesV2:
    ts = TimeSeriesV2()
    for f, wt, v in _iter_fields(data):
        if f == 1:
            ts.labels_refs.extend(_dec_packed_uint32(wt, v))
        elif f == 2 and wt == 2:
            ts.samples.append(_dec_sample(v))
        elif f == 3 and wt == 2:
            ts.histograms.append(_dec_histogram_v2(v))
        elif f == 4 and wt == 2:
            ts.exemplars.append(_dec_exemplar_v2(v))
        elif f == 5 and wt == 2:
            ts.metadata = _dec_metadata_v2(v)
        # field 6 (created_timestamp): skipped per protobuf semantics.
    return ts


def decode_write_request_v2(data: bytes) -> WriteRequestV2:
    req = WriteRequestV2()
    for f, wt, v in _iter_fields(data):
        if f == 4 and wt == 2:
            req.symbols.append(v.decode())
        elif f == 5 and wt == 2:
            req.timeseries.append(_dec_timeseries_v2(v))
    return req


def _fmt_le(v: float) -> str:
    """le label value, Prometheus style: integral bounds print without
    a trailing .0."""
    return str(int(v)) if float(v).is_integer() else repr(v)


def _expand_native_histogram(
    labels: dict[str, str], h: HistogramV2
) -> list[TimeSeries]:
    """Classic-expand one native histogram point into
    `_bucket`/`_sum`/`_count` series (the same receiver convention the
    OTLP path uses for exponential histograms): positive bucket index
    i at schema s covers (2^((i-1)·2^-s), 2^(i·2^-s)] so its le is
    2^(i·2^-s); negatives mirror to -2^((i-1)·2^-s) (ascending le =
    descending index); the zero bucket's le is its threshold;
    cumulative counts run negatives → zero → positives."""
    name = labels.get("__name__")
    if not name:
        raise ValueError("PRW2 native histogram series needs __name__")
    inv = 2.0 ** -h.schema
    bounds: list[tuple[float, float]] = []
    for idx, c in reversed(_span_buckets(h.neg_spans, h.neg_deltas,
                                         h.neg_counts)):
        bounds.append((-(2.0 ** ((idx - 1) * inv)), c))
    if h.zero_count:
        bounds.append((h.zero_threshold, h.zero_count))
    for idx, c in _span_buckets(h.pos_spans, h.pos_deltas, h.pos_counts):
        bounds.append((2.0 ** (idx * inv), c))
    out: list[TimeSeries] = []

    def series(suffix: str, value: float, **more: str) -> TimeSeries:
        return TimeSeries(
            labels={**labels, "__name__": name + suffix, **more},
            samples=[Sample(value=float(value), timestamp=h.timestamp)],
        )

    cum = 0.0
    for bound, c in bounds:
        cum += c
        out.append(series("_bucket", cum, le=_fmt_le(bound)))
    out.append(series("_bucket", h.count, le="+Inf"))
    out.append(series("_sum", h.sum))
    out.append(series("_count", h.count))
    return out


def v2_to_v1(req: WriteRequestV2) -> tuple[WriteRequest, dict[str, dict]]:
    """Resolve the symbol table: a v1-shaped WriteRequest (labels as
    dicts — what server.request_batch ingests) plus the request's
    metric metadata {name: {type, help, unit}}, which request_batch
    carries into the same commit. Validates per spec: symbols[0] == "",
    labels_refs in (name, value) pairs, refs in range."""
    if req.symbols and req.symbols[0] != "":
        raise ValueError('PRW2 symbols[0] must be the empty string ""')

    def sym(i: int) -> str:
        if i < 0 or i >= len(req.symbols):
            raise ValueError(f"PRW2 symbol ref {i} out of range")
        return req.symbols[i]

    out = WriteRequest()
    meta: dict[str, dict] = {}
    for ts in req.timeseries:
        if len(ts.labels_refs) % 2:
            raise ValueError("PRW2 labels_refs must hold (name, value) pairs")
        labels = {
            sym(ts.labels_refs[i]): sym(ts.labels_refs[i + 1])
            for i in range(0, len(ts.labels_refs), 2)
        }
        exemplars = []
        for e in ts.exemplars:
            if len(e.labels_refs) % 2:
                raise ValueError(
                    "PRW2 exemplar labels_refs must hold (name, value) pairs"
                )
            exemplars.append(
                Exemplar(
                    labels={
                        sym(e.labels_refs[i]): sym(e.labels_refs[i + 1])
                        for i in range(0, len(e.labels_refs), 2)
                    },
                    value=e.value,
                    timestamp=e.timestamp,
                )
            )
        out.timeseries.append(
            TimeSeries(labels=labels, samples=ts.samples, exemplars=exemplars)
        )
        for h in ts.histograms:
            out.timeseries.extend(_expand_native_histogram(labels, h))
            out.native_histogram_points += 1
        name = labels.get("__name__")
        if name and ts.metadata is not None:
            m = ts.metadata
            entry: dict = {}
            if m.type:
                entry["type"] = _V2_METRIC_TYPES.get(m.type, "unknown")
            if m.help_ref:
                entry["help"] = sym(m.help_ref)
            if m.unit_ref:
                entry["unit"] = sym(m.unit_ref)
            if entry:
                meta.setdefault(name, {}).update(entry)
    return out, meta


def v1_to_v2(req: WriteRequest, meta: dict[str, dict] | None = None) -> WriteRequestV2:
    """Build the interned form: one symbols table for the whole
    request (insertion-ordered, "" first per spec), series as ref
    pairs, optional per-metric metadata re-attached by __name__."""
    symbols: list[str] = [""]
    index: dict[str, int] = {"": 0}

    def ref(s: str) -> int:
        if s not in index:
            index[s] = len(symbols)
            symbols.append(s)
        return index[s]

    out = WriteRequestV2(symbols=symbols)
    meta = meta or {}
    for ts in req.timeseries:
        refs: list[int] = []
        for k, v in sorted(ts.labels.items()):
            refs.append(ref(k))
            refs.append(ref(v))
        exemplars = []
        for e in ts.exemplars:
            erefs: list[int] = []
            for k, v in sorted(e.labels.items()):
                erefs.append(ref(k))
                erefs.append(ref(v))
            exemplars.append(
                ExemplarV2(
                    labels_refs=erefs, value=e.value, timestamp=e.timestamp
                )
            )
        md = None
        name = ts.labels.get("__name__")
        if name and name in meta:
            m = meta[name]
            md = MetadataV2(
                type=_V2_TYPE_IDS.get(m.get("type", "unknown"), 0),
                help_ref=ref(m["help"]) if m.get("help") else 0,
                unit_ref=ref(m["unit"]) if m.get("unit") else 0,
            )
        out.timeseries.append(
            TimeSeriesV2(
                labels_refs=refs, samples=ts.samples, exemplars=exemplars,
                metadata=md,
            )
        )
    return out


# --------------------------------------- streamed chunked remote read
# The second response type of the Prometheus remote-read spec
# (ReadRequest.accepted_response_types = STREAMED_XOR_CHUNKS): instead
# of one snappy+proto ReadResponse, the body is a STREAM of framed
# ChunkedReadResponse messages — each frame is
#   uvarint(len(msg)) + 4-byte big-endian CRC32-Castagnoli(msg) + msg
# with Content-Type application/x-streamed-protobuf. Streaming bounds
# the server's peak memory by one frame instead of one full result.
#
# Chunk payloads here are THIS engine's XOR codec (sources/gorilla.py,
# the public Gorilla paper scheme) prefixed with a 2-byte big-endian
# sample count — self-contained chunks, decodable without side state.
# The message framing and proto field numbers match the spec; the
# chunk bit-format is negotiated by this engine's own content type
# (Prometheus's tsdb XOR chunk differs in a few in-band details), so
# both ends of a monolith-spark pair stream losslessly.

STREAMED_CONTENT_TYPE = "application/x-streamed-protobuf; proto=prometheus.ChunkedReadResponse"

CHUNK_ENC_XOR = 1  # Chunk.Encoding.XOR

# Maximum samples per chunk: Prometheus targets ~120 samples per XOR
# chunk (2h at 1m scrape) — the same bound keeps frames small and
# decode latency per chunk flat.
CHUNK_MAX_SAMPLES = 120


@dataclass
class ChunkRec:
    min_time_ms: int = 0       # field 1, int64
    max_time_ms: int = 0       # field 2, int64
    type: int = CHUNK_ENC_XOR  # field 3, enum
    data: bytes = b""          # field 4


@dataclass
class ChunkedSeries:
    labels: dict[str, str] = field(default_factory=dict)  # field 1
    chunks: list[ChunkRec] = field(default_factory=list)  # field 2


@dataclass
class ChunkedReadResponse:
    chunked_series: list[ChunkedSeries] = field(default_factory=list)  # field 1
    query_index: int = 0  # field 2


def encode_chunk_points(points: list[tuple[int, float]]) -> bytes:
    """Self-contained XOR chunk: uint16 big-endian sample count + the
    Gorilla bitstream (count must ride in-band — the stream has no
    companion column)."""
    from monolith_spark.sources.gorilla import encode_points

    if len(points) > 0xFFFF:
        raise ValueError("chunk exceeds uint16 sample count")
    return struct.pack(">H", len(points)) + encode_points(points)


def decode_chunk_points(data: bytes) -> list[tuple[int, float]]:
    from monolith_spark.sources.gorilla import decode_points

    (n,) = struct.unpack(">H", data[:2])
    return decode_points(data[2:], n)


def _enc_chunk(c: ChunkRec) -> bytes:
    out = _tag(1, 0) + _write_varint(c.min_time_ms)
    out += _tag(2, 0) + _write_varint(c.max_time_ms)
    if c.type:
        out += _tag(3, 0) + _write_varint(c.type)
    out += _len_delim(4, c.data)
    return out


def encode_chunked_read_response(resp: ChunkedReadResponse) -> bytes:
    out = b""
    for cs in resp.chunked_series:
        body = b"".join(
            _len_delim(1, _enc_label(k, v)) for k, v in sorted(cs.labels.items())
        )
        body += b"".join(_len_delim(2, _enc_chunk(c)) for c in cs.chunks)
        out += _len_delim(1, body)
    if resp.query_index:
        out += _tag(2, 0) + _write_varint(resp.query_index)
    return out


def _dec_chunk(data: bytes) -> ChunkRec:
    c = ChunkRec(type=0)
    for f, wt, v in _iter_fields(data):
        if f == 1 and wt == 0:
            c.min_time_ms = _signed64(v)
        elif f == 2 and wt == 0:
            c.max_time_ms = _signed64(v)
        elif f == 3 and wt == 0:
            c.type = v
        elif f == 4 and wt == 2:
            c.data = v
    return c


def decode_chunked_read_response(data: bytes) -> ChunkedReadResponse:
    resp = ChunkedReadResponse()
    for f, wt, v in _iter_fields(data):
        if f == 1 and wt == 2:
            cs = ChunkedSeries()
            for f2, wt2, v2 in _iter_fields(v):
                if f2 == 1 and wt2 == 2:
                    k, val = _dec_label(v2)
                    cs.labels[k] = val
                elif f2 == 2 and wt2 == 2:
                    cs.chunks.append(_dec_chunk(v2))
            resp.chunked_series.append(cs)
        elif f == 2 and wt == 0:
            resp.query_index = v
    return resp


# CRC32-Castagnoli (polynomial 0x1EDC6F41, reflected 0x82F63B78) —
# the checksum the spec's frame format carries; table-driven, public
# algorithm (RFC 3720 appendix B / Castagnoli et al. 1993).
def _crc32c_table() -> list[int]:
    table = []
    for i in range(256):
        crc = i
        for _ in range(8):
            crc = (crc >> 1) ^ 0x82F63B78 if crc & 1 else crc >> 1
        table.append(crc)
    return table


_CRC32C_TABLE = _crc32c_table()


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC32C_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


def chunked_write_frame(msg: bytes) -> bytes:
    """One frame of the streamed response: uvarint length + crc32c
    (4 bytes big-endian) + message."""
    return _write_varint(len(msg)) + struct.pack(">I", crc32c(msg)) + msg


def chunked_read_frames(data: bytes) -> list[bytes]:
    """Split a streamed body back into messages, verifying each crc."""
    out = []
    pos = 0
    while pos < len(data):
        ln, pos = _read_varint(data, pos)
        (crc,) = struct.unpack(">I", data[pos: pos + 4])
        pos += 4
        msg = data[pos: pos + ln]
        if len(msg) != ln:
            raise ValueError("truncated chunked frame")
        if crc32c(msg) != crc:
            raise ValueError("chunked frame crc mismatch")
        out.append(msg)
        pos += ln
    return out
