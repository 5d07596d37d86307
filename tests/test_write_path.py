"""Remote-write ingest path: the Arrow-built request frames and the
engine's known-series get-or-create (no dim job for series the live dim
already holds), including the cases that replace or race on dim files."""

from __future__ import annotations

import os
import struct
import sys
import threading

from monolith_spark.engine import MonolithDB
from monolith_spark.labels import SAMPLES_SCHEMA
from monolith_spark.server import exemplars_request_to_df, write_request_to_df
from monolith_spark.sources import remote as proto

STALE_NAN_BITS = 0x7FF0000000000002  # Prometheus staleness marker


def _bits(x: float) -> int:
    return struct.unpack("<Q", struct.pack("<d", x))[0]


def _req(series: dict[str, list[tuple[int, float]]]) -> proto.WriteRequest:
    """{series name: [(ts, value)]} → one WriteRequest, label ``s``."""
    return proto.WriteRequest(timeseries=[
        proto.TimeSeries({"__name__": "m", "s": name},
                         [proto.Sample(v, ts) for ts, v in points])
        for name, points in series.items()
    ])


def _write(spark, db: MonolithDB, series) -> None:
    db.write(write_request_to_df(spark, _req(series)))


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


# ------------------------------------------------------------ Arrow frames


def test_request_frame_schema_and_values_survive(spark):
    """The Arrow-built frame is exactly SAMPLES_SCHEMA and carries empty
    label maps, non-ASCII labels, -Inf and the staleness NaN bit pattern
    through unchanged; exemplars come back only when the request has
    some."""
    stale = struct.unpack("<d", struct.pack("<Q", STALE_NAN_BITS))[0]
    req = proto.WriteRequest(timeseries=[
        proto.TimeSeries({}, [proto.Sample(float("-inf"), 1_000)]),
        proto.TimeSeries({"ключ": "значение ✓", "job": "ä"},
                         [proto.Sample(stale, 2_000), proto.Sample(1.5, 3_000)]),
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

    assert exemplars_request_to_df(spark, req) is None
    req.timeseries[1].exemplars = [proto.Exemplar({"trace_id": "t1"}, 2.0, 2_500)]
    (ex,) = exemplars_request_to_df(spark, req).collect()
    assert (dict(ex["labels"]), ex["timestamp"], ex["value"],
            dict(ex["exemplar_labels"])) == (
        {"ключ": "значение ✓", "job": "ä"}, 2_500, 2.0, {"trace_id": "t1"})


def test_http_empty_request_and_rw2_written_count(spark, tmp_path):
    """A 2.0 write reports the rows actually ingested (ts == 0 is
    dropped by the validity filter) in -Samples-Written; a remote-write
    with zero timeseries is acked and commits nothing."""
    import http.client

    from monolith_spark.server import MonolithServer

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    srv = MonolithServer(db, port=0)
    srv.serve_background()
    try:
        conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=60)
        v2 = proto.v1_to_v2(_req({"a": [(0, 1.0), (5_000, 2.0), (6_000, 3.0)]}), {})
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
        assert _rows(db, "a") == [(5_000, 2.0), (6_000, 3.0)]

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


# ------------------------------------------------- known-series get-or-create


def test_known_series_write_runs_no_dim_job(spark, tmp_path):
    """Steady state: rewriting a known series set runs at most 5 Spark
    jobs, adds no dim file and commits exactly one manifest version; one
    new series among known ones adds exactly one dim row."""
    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    names = [f"s{i}" for i in range(20)]
    _write(spark, db, {n: [(1_000, 1.0), (2_000, 2.0)] for n in names})
    files, version = _dim_files(db), db._read_current()["version"]

    n_jobs = _jobs(spark, "known_write", lambda: _write(
        spark, db, {n: [(3_000, 3.0), (4_000, 4.0)] for n in names}))
    assert n_jobs <= 5, n_jobs
    assert _dim_files(db) == files
    man = db._read_current()
    assert man["version"] == version + 1 and man["series"] == files
    assert db.samples().count() == 80

    n_dim = db._series_raw().count()
    _write(spark, db, {n: [(5_000, 5.0)] for n in names[:5] + ["new"]})
    assert db._series_raw().count() == n_dim + 1
    assert len(_dim_files(db)) == len(files) + 1
    assert _rows(db, "new") == [(5_000, 5.0)]


def test_rewrite_after_delete_series(spark, tmp_path):
    """delete_series replaces the dim files, so a deleted series written
    again is new again: it is back in the dim and queryable, while the
    series that survived the delete are still skipped as known."""
    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    _write(spark, db, {"a": [(1_000, 1.0)], "b": [(1_000, 2.0)], "c": [(1_000, 3.0)]})
    _write(spark, db, {"a": [(1_500, 1.5)]})  # known: the probe caches the dim file
    assert db.delete_series({"s": "a"}) == 1
    assert _rows(db, "a") == []

    _write(spark, db, {"a": [(2_000, 4.0)], "b": [(2_000, 5.0)]})
    assert _rows(db, "a") == [(2_000, 4.0)]
    assert _rows(db, "b") == [(1_000, 2.0), (2_000, 5.0)]
    # b was known: only a's row was appended to the dim
    assert db._series_raw().count() == 3

    files = db._read_current()["series"]
    _write(spark, db, {"a": [(3_000, 6.0)], "b": [(3_000, 7.0)], "c": [(3_000, 8.0)]})
    assert db._read_current()["series"] == files
    assert _rows(db, "c") == [(1_000, 3.0), (3_000, 8.0)]


def test_concurrent_writers_create_one_series(spark, tmp_path):
    """More writers than cores create the same new series at once (and
    share the dim-id cache): at worst several append its dim row, and
    reads still see the series exactly once with every writer's point."""
    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    _write(spark, db, {"old": [(1_000, 1.0)]})  # non-empty dim: the probe runs
    stamps = [(i + 2) * 1_000 for i in range(6)]
    gate = threading.Barrier(len(stamps))
    errors: list[BaseException] = []

    def writer(ts: int) -> None:
        try:
            df = write_request_to_df(
                spark, _req({"x": [(ts, float(ts))], "old": [(ts, 0.0)]}))
            gate.wait(timeout=60)
            db.write(df)
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
