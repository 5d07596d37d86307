"""Remote-write ingest path: a decoded request as the engine's
driver-held batch (no DataFrame, no py4j call for series the live dim
already holds) against the Spark append of the same rows as a
DataFrame, the cases that replace or race on dim files, one commit per
request, and the bounds and durability of what the ingest path decodes
and commits."""

from __future__ import annotations

import math
import os
import struct
import sys
import threading

import pytest

from monolith_spark.engine import MonolithDB
from monolith_spark.labels import SAMPLES_SCHEMA
from monolith_spark.server import request_batch, write_request_to_df
from monolith_spark.sources import remote as proto

STALE_NAN_BITS = 0x7FF0000000000002  # Prometheus staleness marker
STALE = struct.unpack("<d", struct.pack("<Q", STALE_NAN_BITS))[0]


def _bits(x: float) -> int:
    return struct.unpack("<Q", struct.pack("<d", x))[0]


def _req(series: dict[str, list[tuple[int, float]]]) -> proto.WriteRequest:
    """{series name: [(ts, value)]} → one WriteRequest, label ``s``."""
    return proto.WriteRequest(timeseries=[
        proto.TimeSeries({"__name__": "m", "s": name},
                         [proto.Sample(v, ts) for ts, v in points])
        for name, points in series.items()
    ])


def _write(db: MonolithDB, series) -> None:
    db.write(request_batch(_req(series)))


def _jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, "write-path job-count probe")
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _dim_files(db: MonolithDB) -> list[str]:
    return sorted(f for f in os.listdir(db.series_path) if f.endswith(".parquet"))


def _rows(db: MonolithDB, name: str) -> list[tuple[int, float]]:
    return sorted(
        (r["timestamp"], r["value"])
        for r in db.query_flat({"s": name}, 0, 10**9).collect()
    )


# ------------------------------------------------------- request batches


def test_request_frame_schema_and_values_survive(spark):
    """The Arrow-built frame is exactly SAMPLES_SCHEMA and carries empty
    label maps, non-ASCII labels, -Inf and the staleness NaN bit pattern
    through unchanged; exemplars come back only when the request has
    some."""
    req = proto.WriteRequest(timeseries=[
        proto.TimeSeries({}, [proto.Sample(float("-inf"), 1_000)]),
        proto.TimeSeries({"ключ": "значение ✓", "job": "ä"},
                         [proto.Sample(STALE, 2_000), proto.Sample(1.5, 3_000)]),
    ])
    df = write_request_to_df(spark, req)
    assert df.schema == SAMPLES_SCHEMA
    got = sorted(
        (r["timestamp"], dict(r["labels"]), _bits(r["value"])) for r in df.collect()
    )
    assert got == [
        (1_000, {}, _bits(float("-inf"))),
        (2_000, {"ключ": "значение ✓", "job": "ä"}, STALE_NAN_BITS),
        (3_000, {"ключ": "значение ✓", "job": "ä"}, _bits(1.5)),
    ]
    assert write_request_to_df(spark, proto.WriteRequest()).count() == 0

    assert request_batch(req).frame(spark, exemplars=True) is None
    assert request_batch(req).exemplars is None
    req.timeseries[1].exemplars = [proto.Exemplar({"trace_id": "t1"}, 2.0, 2_500)]
    (ex,) = request_batch(req).frame(spark, exemplars=True).collect()
    assert (dict(ex["labels"]), ex["timestamp"], ex["value"],
            dict(ex["exemplar_labels"])) == (
        {"ключ": "значение ✓", "job": "ä"}, 2_500, 2.0, {"trace_id": "t1"})


def test_http_empty_request_and_rw2_written_count(spark, tmp_path):
    """A 2.0 write reports the rows actually ingested (ts == 0 is
    dropped by the validity filter) in -Samples-Written and
    -Exemplars-Written, and commits samples and exemplars as one
    version; a remote-write with zero timeseries is acked and commits
    nothing."""
    import http.client

    from monolith_spark.server import MonolithServer

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    srv = MonolithServer(db, port=0)
    srv.serve_background()
    try:
        conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=60)
        req = _req({"a": [(0, 1.0), (5_000, 2.0), (6_000, 3.0)]})
        req.timeseries[0].exemplars = [
            proto.Exemplar({"trace_id": "t"}, 2.0, 5_000),
            proto.Exemplar({"trace_id": "u"}, 9.0, 0),
        ]
        v2 = proto.v1_to_v2(req, {})
        conn.request(
            "POST", "/write",
            body=proto.snappy_compress(proto.encode_write_request_v2(v2)),
            headers={"Content-Type": proto.V2_CONTENT_TYPE,
                     "X-Prometheus-Remote-Write-Version": "2.0.0"},
        )
        resp = conn.getresponse()
        resp.read()
        assert resp.status == 204
        assert resp.headers["X-Prometheus-Remote-Write-Samples-Written"] == "2"
        assert resp.headers["X-Prometheus-Remote-Write-Exemplars-Written"] == "1"
        assert _rows(db, "a") == [(5_000, 2.0), (6_000, 3.0)]
        assert [h["op"] for h in db.history()] == ["migrate", "write"]

        version = db._read_current()["version"]
        body = proto.snappy_compress(proto.encode_write_request(proto.WriteRequest()))
        conn.request("POST", "/write", body=body)
        resp = conn.getresponse()
        resp.read()
        conn.close()
        assert resp.status == 200
        assert db._read_current()["version"] == version
    finally:
        srv.shutdown()


def _otlp_gauge(help_: str, points: list[tuple[int, float]]) -> bytes:
    """A hand-encoded OTLP ExportMetricsServiceRequest: one gauge ``m``
    (unit ``s``, description ``help_``) with ``points`` [(ts_ms,
    value)] and a service.name resource attribute."""
    def vi(n):
        out = b""
        while True:
            b7, n = n & 0x7F, n >> 7
            out += bytes([b7 | (0x80 if n else 0)])
            if not n:
                return out

    def ld(fno, payload):
        return bytes([(fno << 3) | 2]) + vi(len(payload)) + payload

    gauge = b"".join(
        ld(1, bytes([(3 << 3) | 1]) + struct.pack("<Q", ts * 1_000_000)
           + bytes([(4 << 3) | 1]) + struct.pack("<d", v))
        for ts, v in points
    )
    metric = ld(1, b"m") + ld(2, help_.encode()) + ld(3, b"s") + ld(5, gauge)
    resource = ld(1, ld(1, b"service.name") + ld(2, ld(1, b"api")))
    return ld(1, ld(1, resource) + ld(2, ld(2, metric)))


@pytest.mark.parametrize("kind", ["rw2", "otlp"])
def test_request_with_metadata_commits_once(spark, tmp_path, kind):
    """A remote-write 2.0 or OTLP request that carries samples and
    metric metadata adds exactly one manifest version, and that version
    holds both; a metadata-only request adds one version too, and a
    batch with an unknown metric type is rejected with nothing
    committed."""
    import http.client

    from monolith_spark.server import MonolithServer
    from monolith_spark.sources import otlp

    def post(help_: str, points: list[tuple[int, float]]) -> int:
        if kind == "otlp":
            path, headers = otlp.OTLP_PATH, {"Content-Type": otlp.OTLP_CONTENT_TYPE}
            payload = _otlp_gauge(help_, points)
        else:
            path, headers = "/write", {"Content-Type": proto.V2_CONTENT_TYPE,
                                       "X-Prometheus-Remote-Write-Version": "2.0.0"}
            series = proto.TimeSeries(
                {"__name__": "m"}, [proto.Sample(v, ts) for ts, v in points])
            v2 = proto.v1_to_v2(proto.WriteRequest(timeseries=[series]),
                                {"m": {"type": "gauge", "help": help_, "unit": "s"}})
            payload = proto.snappy_compress(proto.encode_write_request_v2(v2))
        conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=60)
        try:
            conn.request("POST", path, body=payload, headers=headers)
            resp = conn.getresponse()
            resp.read()
            return resp.status
        finally:
            conn.close()

    def points_at(version: int) -> int:
        return db.query_flat({"__name__": "m"}, 0, 10**9, at_version=version).count()

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    srv = MonolithServer(db, port=0)
    srv.serve_background()
    try:
        assert post("first", [(5_000, 1.5), (6_000, 2.5)]) in (200, 204)
        assert [h["op"] for h in db.history()] == ["migrate", "write"]
        v1 = db._read_current()["version"]
        assert db.metric_metadata(at_version=v1)["m"] == {
            "type": "gauge", "help": "first", "unit": "s"}
        assert points_at(v1) == 2

        assert post("second", []) in (200, 204)
        assert len(db.history()) == 3
        assert db.metric_metadata()["m"]["help"] == "second"
        assert points_at(db._read_current()["version"]) == 2

    finally:
        srv.shutdown()
    version = db._read_current()["version"]
    facts = os.path.join(db.path, "samples", "chunk_id=0")
    files = sorted(os.listdir(facts))
    with pytest.raises(ValueError, match="unknown metric type"):
        db.write(request_batch(_req({"a": [(7_000, 3.5)]}), {"m": {"type": "gaugee"}}))
    assert db._read_current()["version"] == version
    assert sorted(os.listdir(facts)) == files  # nothing staged


# ------------------------------------------------- known-series get-or-create


def test_known_series_write_runs_no_dim_job(spark, tmp_path, py4j_calls):
    """Steady state: rewriting a known series set as a request batch
    runs no Spark job and makes no py4j call at all, adds no dim file
    and commits exactly one manifest version; one new series among
    known ones adds exactly one dim row."""
    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    names = [f"s{i}" for i in range(20)]
    _write(db, {n: [(1_000, 1.0), (2_000, 2.0)] for n in names})
    files, version = _dim_files(db), db._read_current()["version"]

    batch = request_batch(_req({n: [(3_000, 3.0), (4_000, 4.0)] for n in names}))
    calls = []
    n_jobs = _jobs(spark, "known_write",
                   lambda: calls.append(py4j_calls(lambda: db.write(batch))))
    assert (n_jobs, calls) == (0, [0])
    assert _dim_files(db) == files
    man = db._read_current()
    assert man["version"] == version + 1 and man["series"] == files
    assert db.samples().count() == 80

    n_dim = db._series_raw().count()
    _write(db, {n: [(5_000, 5.0)] for n in names[:5] + ["new"]})
    assert db._series_raw().count() == n_dim + 1
    assert len(_dim_files(db)) == len(files) + 1
    assert _rows(db, "new") == [(5_000, 5.0)]


def test_rewrite_after_delete_series(spark, tmp_path):
    """delete_series replaces the dim files, so a deleted series written
    again is new again — with its id still warm in the series-id memo:
    it is back in the dim and queryable, while the series that survived
    the delete are still skipped as known, and the memo shrinks to the
    live dim's series."""
    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    _write(db, {"a": [(1_000, 1.0)], "b": [(1_000, 2.0)], "c": [(1_000, 3.0)]})
    _write(db, {"a": [(1_500, 1.5)]})  # known: the probe caches the dim file
    assert len(db._sid_memo) == 3
    assert db.delete_series({"s": "a"}) == 1
    assert _rows(db, "a") == []
    assert len(db._sid_memo) == 3  # warm: pruned only on the next probe

    _write(db, {"a": [(2_000, 4.0)], "b": [(2_000, 5.0)]})
    assert _rows(db, "a") == [(2_000, 4.0)]
    assert _rows(db, "b") == [(1_000, 2.0), (2_000, 5.0)]
    # b was known: only a's row was appended to the dim
    assert db._series_raw().count() == 3
    assert len(db._sid_memo) == 3

    files = db._read_current()["series"]
    _write(db, {"a": [(3_000, 6.0)], "b": [(3_000, 7.0)], "c": [(3_000, 8.0)]})
    assert db._read_current()["series"] == files
    assert _rows(db, "c") == [(1_000, 3.0), (3_000, 8.0)]

    assert db.delete_series({"s": "c"}) == 1
    _write(db, {"b": [(4_000, 9.0)]})
    assert len(db._sid_memo) == 2  # c's entry left with its dim row


def test_concurrent_writers_create_one_series(spark, tmp_path):
    """More writers than cores create the same new series at once (and
    share the dim-id cache and the series-id memo): at worst several
    append its dim row, and reads still see the series exactly once
    with every writer's point."""
    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    _write(db, {"old": [(1_000, 1.0)]})  # non-empty dim: the probe runs
    stamps = [(i + 2) * 1_000 for i in range(6)]
    gate = threading.Barrier(len(stamps))
    errors: list[BaseException] = []

    def writer(ts: int) -> None:
        try:
            batch = request_batch(_req({"x": [(ts, float(ts))], "old": [(ts, 0.0)]}))
            gate.wait(timeout=60)
            db.write(batch)
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(ts,)) for ts in stamps]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert db.series().filter("labels['s'] = 'x'").count() == 1
    assert _rows(db, "x") == [(ts, float(ts)) for ts in stamps]
    (r,) = db.query({"s": "x"}, 0, 10**9).collect()
    assert [p["timestamp"] for p in r["points"]] == stamps
    assert len(_rows(db, "old")) == 1 + len(stamps)


# ------------------------------------------ request batch vs DataFrame


def test_local_and_distributed_appends_agree(spark, tmp_path):
    """One request sequence written as request batches (in-process
    append) and as DataFrames (Spark append) into two dbs: return
    counts, commits, dim rows, label index, samples and exemplars all
    match row for row — across a chunk boundary and negative
    timestamps, with ±Inf and staleness markers, ts == 0 dropped, an
    all-invalid batch committing nothing, a new series among known
    ones (one dim row, label index kept fresh) and an exemplar label
    map."""
    dbs = {k: MonolithDB(spark, str(tmp_path / k), chunk_size_ms=60_000)
           for k in ("batch", "frame")}

    def both(req, exemplars: bool = False) -> int:
        counts = {}
        for kind, db in dbs.items():
            data = request_batch(req)
            if kind == "frame":
                data = data.frame(spark, exemplars=exemplars)
            write = db.write_exemplars if exemplars else db.write
            counts[kind] = write(data, return_count=True)
        assert counts["batch"] == counts["frame"]
        return counts["batch"]

    inf = float("inf")
    first = {f"s{i}": [(0, 9.0), (59_000, inf), (61_000, -inf), (62_000, i + 0.5),
                       (-1, STALE), (-60_001, -2.5)]
             for i in range(4)}
    assert both(_req(first)) == 20  # ts == 0 dropped; chunks -2, -1, 0 and 1
    versions = {k: db._read_current()["version"] for k, db in dbs.items()}
    assert both(_req({"s0": [(0, 1.0)], "s1": [(0, 2.0)]})) == 0
    assert {k: db._read_current()["version"] for k, db in dbs.items()} == versions

    for db in dbs.values():
        db.build_label_index()
    assert both(_req({"s0": [(120_500, 3.0)], "s1": [(119_000, 4.0)],
                      "new": [(121_000, 5.0)]})) == 3
    for db in dbs.values():
        assert db._series_raw().count() == 5
        assert db._index_fresh(db._load_manifest())
        assert db._posting_candidates(db._load_manifest(), [("s", "new")])
        assert _rows(db, "new") == [(121_000, 5.0)]

    req = _req({"s2": [(63_000, 7.0)], "s3": [(64_000, 8.0)]})
    req.timeseries[0].exemplars = [
        proto.Exemplar({"trace_id": "a", "span_id": "1"}, 7.0, 59_500),
        proto.Exemplar({}, -inf, 0),
    ]
    req.timeseries[1].exemplars = [proto.Exemplar({"trace_id": "b"}, 8.0, -5)]
    assert both(req, exemplars=True) == 2

    def facts(frame) -> list[tuple]:
        # NaN payloads compare by class here: the Spark write stores the
        # canonical NaN (test_staleness_marker_bits_survive_storage)
        return sorted(
            tuple(sorted(v.items()) if isinstance(v, dict)
                  else "nan" if isinstance(v, float) and math.isnan(v) else v
                  for v in r)
            for r in frame.select(sorted(frame.columns)).collect()
        )

    batch, frame = dbs["batch"], dbs["frame"]
    assert facts(batch.samples()) == facts(frame.samples())
    assert len(facts(batch.samples())) == 23
    assert facts(batch.exemplars()) == facts(frame.exemplars())
    assert facts(batch.series()) == facts(frame.series())
    assert [h["op"] for h in batch.history()] == [h["op"] for h in frame.history()]


def test_request_frames_keep_label_index_fresh(spark, tmp_path):
    """New series arriving in request batches, in samples or only in
    exemplars, get postings in the same commit: the label index stays
    fresh and serves them."""
    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    _write(db, {"a": [(1_000, 1.0)], "b": [(1_000, 2.0)]})
    db.build_label_index()
    _write(db, {"a": [(2_000, 3.0)], "c": [(2_000, 4.0)]})
    assert db._index_fresh(db._load_manifest())
    req = _req({"d": []})
    req.timeseries[0].exemplars = [proto.Exemplar({"trace_id": "t"}, 5.0, 3_000)]
    db.write_exemplars(request_batch(req))
    assert db._index_fresh(db._load_manifest())
    assert _rows(db, "c") == [(2_000, 4.0)]
    assert [dict(r["exemplar_labels"]) for r in
            db.query_exemplars({"s": "d"}, 0, 10**9).collect()] == [{"trace_id": "t"}]


def test_staleness_marker_bits_survive_storage(spark, tmp_path):
    """The Prometheus staleness marker is a NaN with payload bits; a
    request batch's rows keep them through the in-process Parquet
    write, so a read returns the marker, not a canonical NaN."""
    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    _write(db, {"a": [(1_000, 1.0), (2_000, STALE)]})
    rows = sorted(db.query_flat({"s": "a"}, 0, 10**9).collect(),
                  key=lambda r: r["timestamp"])
    assert [_bits(r["value"]) for r in rows] == [_bits(1.0), STALE_NAN_BITS]


def test_request_commits_samples_and_exemplars_once(spark, tmp_path, monkeypatch):
    """A request's samples and exemplars land in ONE manifest version
    that lists both tables' files; a failure in the exemplar fact write
    leaves neither visible, and the retried write lands whole."""
    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    _write(db, {"a": [(1_000, 1.0)]})
    req = _req({"a": [(2_000, 2.0)], "b": [(2_000, 3.0)]})
    req.timeseries[1].exemplars = [proto.Exemplar({"trace_id": "t"}, 3.0, 2_000)]
    before = db._read_current()

    real = db._write_local_facts

    def failing(table, chunk, table_path):
        if table_path == db.exemplars_path:
            raise OSError("injected exemplar write failure")
        return real(table, chunk, table_path)

    monkeypatch.setattr(db, "_write_local_facts", failing)
    with pytest.raises(OSError, match="injected"):
        db.write(request_batch(req))
    assert db._read_current() == before
    assert _rows(db, "a") == [(1_000, 1.0)] and _rows(db, "b") == []
    assert db.exemplars().count() == 0

    monkeypatch.setattr(db, "_write_local_facts", real)
    db.write(request_batch(req))
    man = db._read_current()
    assert man["version"] == before["version"] + 1
    assert len(man["series"]) == len(before["series"]) + 1
    assert [len(man[t]["0"]) for t in ("samples", "exemplars")] == [2, 1]
    assert _rows(db, "b") == [(2_000, 3.0)]
    assert [r["value"] for r in db.exemplars().collect()] == [3.0]


def test_one_series_dim_file_is_small(spark, tmp_path):
    """Dim bloom filters are sized to their contents: the dim file of a
    one-series write is far below the fixed ~2 MB of default-sized
    filters."""
    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    _write(db, {"a": [(1_000, 1.0)]})
    (fn,) = _dim_files(db)
    assert os.path.getsize(os.path.join(db.series_path, fn)) < 256 * 1024


# --------------------------------------------- durability and input bounds


def test_manifest_directory_synced_after_swing(spark, tmp_path, monkeypatch):
    """A commit fsyncs the _manifest directory after CURRENT is
    replaced, so the swing itself survives a power loss."""
    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    db.set_metric_metadata({"m": {"type": "gauge"}})  # manifest exists
    d_ino = os.stat(db._manifest_dir()).st_ino
    events: list[str] = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        if os.fstat(fd).st_ino == d_ino:
            events.append("fsync-dir")
        return real_fsync(fd)

    def replace(src, dst):
        real_replace(src, dst)
        events.append(f"replace-{os.path.basename(dst)}")

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    db.set_metric_metadata({"m": {"help": "h"}})
    assert "replace-CURRENT" in events
    assert "fsync-dir" in events[events.index("replace-CURRENT"):]


def test_snappy_decode_is_bounded():
    """A forged declared length past the decode limit is rejected
    before decoding, and a stream that outgrows its declared length
    stops at the element that would overflow it."""
    forged = proto._write_varint(proto.MAX_DECODED_BYTES + 1) + b"\x00x"
    try:
        proto.snappy_decompress(forged)
        raise AssertionError("forged length accepted")
    except ValueError as e:
        assert "decode limit" in str(e)
    # declares 8 bytes, then a 4-byte literal and a 64-byte copy of it
    overlong = proto._write_varint(8) + bytes([3 << 2]) + b"abcd" + bytes(
        [(63 << 2) | 2]) + (4).to_bytes(2, "little")
    try:
        proto.snappy_decompress(overlong)
        raise AssertionError("overlong stream accepted")
    except ValueError as e:
        assert "past declared length" in str(e)
    data = b"abc" * 1000
    assert proto.snappy_decompress(proto.snappy_compress(data)) == data


def test_otlp_gzip_bomb_is_413(spark, tmp_path):
    """An OTLP body that gunzips to one byte past the decode limit is
    answered 413 without being expanded; nothing is committed."""
    import gzip
    import http.client

    from monolith_spark.server import MonolithServer
    from monolith_spark.sources import otlp

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    srv = MonolithServer(db, port=0)
    srv.serve_background()
    try:
        conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=60)
        bomb = gzip.compress(bytes(proto.MAX_DECODED_BYTES + 1), compresslevel=9)
        conn.request("POST", otlp.OTLP_PATH, body=bomb, headers={
            "Content-Type": otlp.OTLP_CONTENT_TYPE, "Content-Encoding": "gzip"})
        resp = conn.getresponse()
        resp.read()
        conn.close()
        assert resp.status == 413
        assert db._read_current() is None
    finally:
        srv.shutdown()


@pytest.mark.parametrize("path", ["/write", "/read", "otlp", "/api/v1/query"])
def test_oversized_body_is_413(spark, tmp_path, path):
    """Every POST path — remote-write, remote-read, OTLP and the
    form-encoded read APIs — answers 413 to a declared Content-Length
    past the decode limit and 400 to a negative one, without reading
    the body; it commits nothing and keeps serving."""
    import http.client

    from monolith_spark.server import MonolithServer
    from monolith_spark.sources import otlp

    path = otlp.OTLP_PATH if path == "otlp" else path
    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    srv = MonolithServer(db, port=0)
    srv.serve_background()
    try:
        for length, status in ((proto.MAX_DECODED_BYTES + 1, 413), (-1, 400)):
            conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=60)
            conn.putrequest("POST", path)
            conn.putheader("Content-Length", str(length))
            conn.endheaders(b"x")
            resp = conn.getresponse()
            resp.read()
            conn.close()
            assert resp.status == status
        assert db._read_current() is None

        conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=60)
        body = proto.snappy_compress(proto.encode_write_request(proto.WriteRequest()))
        conn.request("POST", "/write", body=body)
        resp = conn.getresponse()
        resp.read()
        conn.close()
        assert resp.status == 200
    finally:
        srv.shutdown()
