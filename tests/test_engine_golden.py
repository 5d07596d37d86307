"""End-to-end engine tests mirroring the reference's golden cases
(FIXTURES.md G1-G7, distilled from /root/reference/tests/test_chunk.rs
and /root/reference/src/storage/tikv_storage.rs:200-229)."""

from __future__ import annotations

import random

import pytest

from monolith_spark.engine import MonolithDB
from monolith_spark.labels import python_signature

S1 = {"test1": "1", "test2": "2"}
S2 = {"test2": "2", "test3": "3"}
S3 = {"test1": "1", "test2": "2", "test3": "3"}

G1_POINTS = {
    1: [(12, 12.9), (16, 13.5), (17, 46.4), (33, 45.5)],
    2: [(120, 12.9), (160, 13.5), (161, 15.4), (167, -43.3)],
    3: [(11, 12.9), (16, 13.5)],
}
G1_LABELS = {1: S1, 2: S2, 3: S3}


def _g1_db(spark, tmp_path) -> MonolithDB:
    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=10_000)
    rows = [
        (labels, ts, v)
        for sid, labels in G1_LABELS.items()
        for ts, v in G1_POINTS[sid]
    ]
    df = spark.createDataFrame(rows, "labels map<string,string>, timestamp long, value double")
    db.write(df)
    return db


def _points(row):
    return [(p["timestamp"], p["value"]) for p in row["points"]]


@pytest.mark.slow
def test_g1_superset_query(spark, tmp_path):
    # tests/test_chunk.rs:45-57 — query {test1=1}, t∈[0,100] → series 1 and 3.
    db = _g1_db(spark, tmp_path)
    res = db.query({"test1": "1"}, 0, 100).collect()
    sigs = {r["signature"] for r in res}
    assert sigs == {python_signature(S1), python_signature(S3)}
    by_sig = {r["signature"]: r for r in res}
    assert _points(by_sig[python_signature(S1)]) == G1_POINTS[1]
    assert _points(by_sig[python_signature(S3)]) == G1_POINTS[3]

    # tests/test_chunk.rs:59-67 — {test1=1, test2=2}, t∈[0,1000] → 2 series.
    res2 = db.query({"test1": "1", "test2": "2"}, 0, 1000).collect()
    assert {r["signature"] for r in res2} == {python_signature(S1), python_signature(S3)}


def test_g2_exact_lookup_roundtrip(spark, tmp_path):
    # tests/test_chunk.rs:72-112 — each full label set round-trips its points.
    db = _g1_db(spark, tmp_path)
    for sid, labels in G1_LABELS.items():
        res = db.query_exact(labels, 0, 1000).collect()
        assert len(res) == 1
        assert _points(res[0]) == G1_POINTS[sid]


def test_g3_time_trim_inclusive(spark, tmp_path):
    # tikv_storage.rs:200-229 — read [120,160] over (120,123,156,190) →
    # both bounds inclusive, 190 excluded.
    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=10_000)
    labels = {"m": "trim"}
    pts = [(120, 12.0), (123, 16.7), (156, 89.0), (190, 10.0)]
    df = spark.createDataFrame(
        [(labels, ts, v) for ts, v in pts],
        "labels map<string,string>, timestamp long, value double",
    )
    db.write(df)
    res = db.query({"m": "trim"}, 120, 160).collect()
    assert len(res) == 1
    assert _points(res[0]) == [(120, 12.0), (123, 16.7), (156, 89.0)]


def test_g6_concurrent_out_of_order_ingest(spark, tmp_path):
    # tests/test_chunk.rs:114-163 — 100 series × 50 points via 2 writers;
    # every series queryable with its full point set. Two overlapping
    # interleaved batches model the two writer threads (content-hash ids
    # make the order irrelevant — SURVEY §7.4).
    rng = random.Random(42)
    n_series, n_points = 60, 30
    start = 170_000
    series = [
        {f"label_{j}": f"{rng.randrange(1000):03d}_{i}" for j in range(5)}
        for i in range(n_series)
    ]
    all_rows = [
        (series[i], start + k * 100, round(rng.uniform(15.0, 199.0), 2))
        for i in range(n_series)
        for k in range(n_points)
    ]
    rng.shuffle(all_rows)
    half = len(all_rows) // 2
    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=160_000)
    schema = "labels map<string,string>, timestamp long, value double"
    db.write(spark.createDataFrame(all_rows[:half], schema))
    db.write(spark.createDataFrame(all_rows[half:], schema))

    res = db.query({}, 0, 10_000_000).collect()
    assert len(res) == n_series
    expected = {
        python_signature(series[i]): sorted(
            (start + k * 100, v)
            for (lbl, t, v) in all_rows
            if lbl is series[i]
            for k in [(t - start) // 100]
        )
        for i in range(n_series)
    }
    for r in res:
        assert _points(r) == expected[r["signature"]]
    # dim has no duplicates even though both batches carried every series
    assert db.series().count() == n_series


def test_g7_late_and_zero_ts_dropped(spark, tmp_path):
    # db.rs:176-194 / chunk.rs:110-121 — ts==0 and out-of-window points
    # never appear (ST2 late-data drop), bounds inclusive (M1 normalization).
    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=10_000)
    labels = {"m": "late"}
    df = spark.createDataFrame(
        [
            (labels, 0, 1.0),      # invalid ts
            (labels, 999, 2.0),    # before window
            (labels, 1000, 3.0),   # boundary: kept (inclusive)
            (labels, 1500, 4.0),
            (labels, 2000, 5.0),   # boundary: kept (inclusive)
            (labels, 2001, 6.0),   # after window
        ],
        "labels map<string,string>, timestamp long, value double",
    )
    db.write(df, window=(1000, 2000))
    res = db.query({"m": "late"}, 0, 10_000).collect()
    assert len(res) == 1
    assert _points(res[0]) == [(1000, 3.0), (1500, 4.0), (2000, 5.0)]


def test_metadata_rejects_mismatched_chunk_size(spark, tmp_path):
    # S4 parity (/root/reference/src/db.rs:107-124): reopening with a
    # different config errors.
    MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=1000)
    with pytest.raises(ValueError):
        MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=2000)


def test_g4_chunk_dir_codec():
    # /root/reference/src/common/utils.rs:151-171 golden vector.
    from monolith_spark.plans.chunks import decode_chunk_dir, encode_chunk_dir

    assert encode_chunk_dir(1671234234, 14423141234) == "639d02ba000000035bafab72"
    assert decode_chunk_dir("639d02ba000000035bafab72") == (1671234234, 14423141234)


def test_salted_assembly_equals_plain(spark, sf_dir):
    from monolith_spark.operators.timeseries import to_timeseries, to_timeseries_salted
    from monolith_spark.sources.events import events_samples

    s = events_samples(spark, sf_dir).select(
        "signature", "labels", "timestamp", "value"
    )
    plain = {r["signature"]: r["points"]
             for r in to_timeseries(s, key_cols=["signature"]).collect()}
    salted = {r["signature"]: r["points"]
              for r in to_timeseries_salted(s, key_cols=["signature"], salt=8).collect()}
    assert salted == plain


@pytest.mark.slow
def test_skew_detection_routes_salted_assembly(spark, sf_dir, tmp_path):
    """detect_skewed_key flags a ≥10%-hot series (escalating its sample
    when the matched set is small) and query(salted="auto") still
    returns results identical to the plain path."""
    from pyspark.sql import functions as F

    from monolith_spark.engine import MonolithDB
    from monolith_spark.operators.timeseries import detect_skewed_key
    from monolith_spark.sources.events import events_samples

    samples = events_samples(spark, sf_dir, with_signature=False)
    hot = F.create_map(
        F.lit("event_type"), F.lit("hot"),
        F.lit("kb"), F.lit("0"),
        F.lit("user"), F.lit("hot"),
    )
    skewed = samples.withColumn(
        "labels",
        F.when(F.pmod(F.xxhash64("timestamp"), F.lit(8)) == 0, hot)
        .otherwise(F.col("labels")),
    )
    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=2 * 86_400_000)
    db.write(skewed)

    flat_all = db.query_flat({}, 0, 4_000_000_000_000)
    assert detect_skewed_key(flat_all)  # ~12.5% of points on one series
    unskewed = db.query_flat({"event_type": "purchase"}, 0, 4_000_000_000_000)
    assert not detect_skewed_key(unskewed)

    auto = db.query({"event_type": "hot"}, 0, 4_000_000_000_000, salted="auto")
    plain = db.query({"event_type": "hot"}, 0, 4_000_000_000_000)
    a = [(r["signature"], r["points"]) for r in auto.collect()]
    p = [(r["signature"], r["points"]) for r in plain.collect()]
    assert a == p and len(a) == 1


def test_asof_join_semantics(spark):
    from monolith_spark.operators.timeseries import asof_join

    left = spark.createDataFrame(
        [(1, 10, 1.0), (1, 20, 2.0), (1, 15, 1.5), (2, 5, 9.0)],
        "k long, timestamp long, value double",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 16, 160.0), (2, 50, 500.0)],
        "k long, timestamp long, value double",
    )
    out = {
        (r["k"], r["timestamp"]): r["asof_value"]
        for r in asof_join(left, right, key_cols=["k"]).collect()
    }
    assert out[(1, 10)] == 100.0   # equal ts → inclusive
    assert out[(1, 15)] == 100.0   # between right points → earlier one
    assert out[(1, 20)] == 160.0
    assert out[(2, 5)] is None     # right exists only later → no match


def test_moving_avg_range_frame(spark):
    from monolith_spark.operators.timeseries import moving_avg

    df = spark.createDataFrame(
        [(1, 0, 1.0), (1, 10, 2.0), (1, 20, 3.0), (1, 35, 4.0),
         (2, 5, 10.0), (2, 5, 20.0)],  # equal-ts peers: each sees both
        "k long, timestamp long, value double",
    )
    out = {
        (r["k"], r["timestamp"], r["value"]): r["mavg"]
        for r in moving_avg(df, window_ms=10, key_cols=["k"]).collect()
    }
    assert out[(1, 0, 1.0)] == 1.0
    assert out[(1, 10, 2.0)] == 1.5    # frame [0,10] → {1,2}
    assert out[(1, 20, 3.0)] == 2.5    # frame [10,20] → {2,3}
    assert out[(1, 35, 4.0)] == 4.0    # frame [25,35] → {4}
    assert out[(2, 5, 10.0)] == 15.0   # RANGE peers share the frame
    assert out[(2, 5, 20.0)] == 15.0


def test_series_quantiles_ordered_statistic(spark):
    from monolith_spark.operators.timeseries import series_quantiles

    rows = [(1, i, float(i)) for i in range(1, 11)]  # values 1..10
    rows += [(2, 0, 7.0)]                            # single-point series
    df = spark.createDataFrame(rows, "k long, timestamp long, value double")
    out = {r["k"]: r for r in series_quantiles(df, key_cols=["k"]).collect()}
    assert (out[1]["p50"], out[1]["p90"], out[1]["n_points"]) == (5.0, 9.0, 10)
    assert (out[2]["p50"], out[2]["p90"], out[2]["n_points"]) == (7.0, 7.0, 1)


def test_label_names_and_retention(spark, tmp_path):
    from monolith_spark.labels import SAMPLES_SCHEMA

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    db.write(spark.createDataFrame(
        [({"job": "a", "dc": "x"}, 1_000, 1.0),     # chunk 0
         ({"job": "b"}, 61_000, 2.0),               # chunk 1
         ({"job": "a", "env": "p"}, 121_000, 3.0)], # chunk 2
        SAMPLES_SCHEMA))
    assert {r["name"] for r in db.label_names().collect()} == {"job", "dc", "env"}

    # retention: cutoff inside chunk 1 → only chunk 0 (ends 59_999) drops
    assert db.drop_chunks_before(70_000) == 1
    res = {r["signature"] for r in db.query({}, 0, 10**9).collect()}
    assert res == {"job=b", "env=p,job=a"}
    # idempotent; nothing else qualifies
    assert db.drop_chunks_before(70_000) == 0


def test_storage_beats_reference_16_byte_records(spark, tmp_path):
    # E6: the reference's dormant Gorilla codec exists to beat its
    # 16-byte-per-point storage blobs (SURVEY §4.4). Parquet encodings
    # must deliver that compactness without any custom bit-twiddling.
    import os

    from monolith_spark.labels import SAMPLES_SCHEMA

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=10**9)
    n = 50_000
    rows = [({"m": "a"}, 1_000 + 100 * i, float(i % 97)) for i in range(n)]
    db.write(spark.createDataFrame(rows, SAMPLES_SCHEMA))
    db.compact()
    db.vacuum(grace_ms=0)  # pre-compaction files linger until vacuum
    nbytes = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(db.samples_path)
        for f in files if f.endswith(".parquet")
    )
    # well under the reference's 16 B/point (ts+value), despite also
    # storing series_id per row
    assert nbytes / n < 16, f"{nbytes / n:.1f} bytes/point"


def test_compact_chunk_merges_files_preserves_results(spark, tmp_path):
    import os

    from monolith_spark.labels import SAMPLES_SCHEMA

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    # 3 appends into the same chunk → ≥3 small files
    for i in range(3):
        db.write(spark.createDataFrame(
            [({"m": "a"}, 1000 + i, float(i)), ({"m": "b"}, 2000 + i, float(10 + i))],
            SAMPLES_SCHEMA))
    part = os.path.join(db.samples_path, "chunk_id=0")
    files_before = db._load_manifest()["samples"]["0"]
    assert len(files_before) >= 3
    before = {r["signature"]: [(p["timestamp"], p["value"]) for p in r["points"]]
              for r in db.query({}, 0, 100_000).collect()}

    assert db.compact_chunk(0) is True
    # the SNAPSHOT now names one file; the old files stay on disk for
    # in-flight readers until vacuum reclaims them
    files_after = db._load_manifest()["samples"]["0"]
    assert len(files_after) == 1  # tiny chunk → one target file
    assert len([f for f in os.listdir(part) if f.endswith(".parquet")]) > 1
    db.vacuum(grace_ms=0)
    assert [f for f in os.listdir(part) if f.endswith(".parquet")] == files_after
    after = {r["signature"]: [(p["timestamp"], p["value"]) for p in r["points"]]
             for r in db.query({}, 0, 100_000).collect()}
    assert after == before
    # missing partition → no-op; compact() skips excluded chunks
    assert db.compact_chunk(99) is False
    assert db.compact(exclude_chunk_ids={0}) == 0
    # staging never leaks into the partition namespace
    assert not any(".compact" in d for d in os.listdir(db.samples_path))


def test_compaction_crash_before_commit_is_invisible(
    spark, tmp_path, monkeypatch
):
    """Kill compact_chunk at the REAL crash point — anywhere before the
    CURRENT pointer swing — and prove the previous snapshot is fully
    intact with NO recovery step: a fresh reader sees the original
    rows, a retried compaction completes, and vacuum reclaims the
    orphaned staged files."""
    import os as _os

    from monolith_spark.labels import SAMPLES_SCHEMA

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    for i in range(3):
        db.write(spark.createDataFrame(
            [({"m": "a"}, 1000 + i, float(i)), ({"m": "b"}, 2000 + i, float(10 + i))],
            SAMPLES_SCHEMA))
    before = {r["signature"]: [(p["timestamp"], p["value"]) for p in r["points"]]
              for r in db.query({}, 0, 100_000).collect()}
    v_before = db._load_manifest()["version"]

    real_replace = _os.replace

    def crashing_replace(src, dst):  # the ONLY visibility point
        if dst.endswith("CURRENT"):
            raise OSError("injected crash before manifest commit")
        return real_replace(src, dst)

    monkeypatch.setattr("monolith_spark.engine.os.replace", crashing_replace)
    import pytest as _pytest

    with _pytest.raises(OSError, match="injected crash"):
        db.compact_chunk(0)
    monkeypatch.setattr("monolith_spark.engine.os.replace", real_replace)

    # the crash is a NO-OP: same manifest version, same rows, for a
    # fresh engine instance (as after a process restart) — no healing
    db2 = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    assert db2._load_manifest()["version"] == v_before
    assert {r["signature"]: [(p["timestamp"], p["value"]) for p in r["points"]]
            for r in db2.query({}, 0, 100_000).collect()} == before

    # retried compaction completes; vacuum drops the crash's orphans
    assert db2.compact_chunk(0) is True
    assert db2.vacuum(grace_ms=0) > 0
    part = _os.path.join(db2.samples_path, "chunk_id=0")
    assert len([f for f in _os.listdir(part) if f.endswith(".parquet")]) == 1
    assert {r["signature"]: [(p["timestamp"], p["value"]) for p in r["points"]]
            for r in db2.query({}, 0, 100_000).collect()} == before


def test_reader_planned_before_swap_reads_consistent_snapshot(spark, tmp_path):
    """THE manifest-isolation contract: a reader whose plan was built
    before a compact + delete + retention sequence still collects the
    exact pre-maintenance snapshot (its file list is pinned), while
    fresh plans see the new state; after vacuum(0) the old snapshot's
    files are gone and a freshly planned query still serves the new
    state."""
    from monolith_spark.labels import SAMPLES_SCHEMA

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=10_000)
    rows = [({"j": "a"}, t, float(t)) for t in (1_000, 11_000, 21_000, 31_000)] \
        + [({"j": "b"}, t, 2.0) for t in (2_000, 12_000)]
    db.write(spark.createDataFrame(rows, SAMPLES_SCHEMA))

    planned = db.query({}, 0, 10**9)          # plan pinned at snapshot v
    before = sorted((r["signature"], len(r["points"]))
                    for r in planned.collect())

    assert db.compact_chunk(0) is True
    assert db.delete_series({"j": "b"}) == 1
    assert db.downsample_retention(cutoff_ms=20_000, step_ms=5_000) == (2, 2)

    # the pre-swap plan still serves the pre-swap world — no failure,
    # no torn mix of old and new files
    assert sorted((r["signature"], len(r["points"]))
                  for r in planned.collect()) == before
    # a fresh plan sees the post-maintenance world
    assert sorted((r["signature"], len(r["points"]))
                  for r in db.query({}, 0, 10**9).collect()) == [("j=a", 2)]
    # tiered query serves the rolled chunks
    got = {(r["bucket_ms"], r["n_points"]) for r in db.query_downsampled(
        {"j": "a"}, 0, 40_000, step_ms=5_000).collect()}
    assert got == {(0, 1), (10_000, 1), (20_000, 1), (30_000, 1)}

    # a DEFAULT-grace vacuum retains every recent snapshot: the
    # pre-swap plan still collects (the Delta-style contract — grace
    # must exceed the longest in-flight query, and then it's safe)
    db.vacuum()
    assert sorted((r["signature"], len(r["points"]))
                  for r in planned.collect()) == before

    db.vacuum(grace_ms=0)
    assert sorted((r["signature"], len(r["points"]))
                  for r in db.query({}, 0, 10**9).collect()) == [("j=a", 2)]


def test_label_values(spark, tmp_path):
    db = _g1_db(spark, tmp_path)
    vals = {r["value"] for r in db.label_values("test3").collect()}
    assert vals == {"3"}
    vals2 = {r["value"] for r in db.label_values("test2").collect()}
    assert vals2 == {"2"}


def test_resample_ffill_gapfill(spark):
    from monolith_spark.operators.timeseries import resample_ffill

    df = spark.createDataFrame(
        # series 1: buckets 0 and 20 observed, 10 is a gap → carries 1.0;
        # bucket 20 has a same-ts tie (25,2.5) vs (25,1.5) → lexico max 2.5
        # and a later-ts winner check via (21, 9.0) losing to ts=25.
        [(1, 0, 1.0), (1, 21, 9.0), (1, 25, 2.5), (1, 25, 1.5),
         (2, 40, 7.0)],
        "k long, timestamp long, value double",
    )
    rows = {
        (r["k"], r["bucket_ms"]): (r["value"], r["observed"])
        for r in resample_ffill(df, step_ms=10, key_cols=["k"]).collect()
    }
    assert rows[(1, 0)] == (1.0, True)
    assert rows[(1, 10)] == (1.0, False)   # gap forward-filled
    assert rows[(1, 20)] == (2.5, True)    # latest ts wins; value breaks the tie
    assert rows[(2, 40)] == (7.0, True)    # single-bucket series
    assert len(rows) == 4


def test_chunks_inventory(spark, tmp_path):
    from monolith_spark.engine import MonolithDB
    from monolith_spark.labels import SAMPLES_SCHEMA

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=1000)
    df = spark.createDataFrame(
        [({"a": "1"}, 100, 1.0), ({"a": "1"}, 1500, 2.0), ({"a": "2"}, 2500, 3.0)],
        SAMPLES_SCHEMA,
    )
    db.write(df)
    got = {r["chunk_id"]: r for r in db.chunks().collect()}
    assert sorted(got) == [0, 1, 2]
    assert got[0]["start_ms"] == 0 and got[0]["end_ms"] == 999
    assert got[2]["start_ms"] == 2000 and got[2]["end_ms"] == 2999
    assert all(r["n_files"] >= 1 and r["bytes"] > 0 for r in got.values())


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """Z-order compaction (plans/zorder.py): file min/max footprints
    must become rectangles — partial in BOTH series and time — where
    the default (series, timestamp) sort leaves every file spanning
    the chunk's whole time range. Results must be byte-identical."""
    import os

    import pyarrow.parquet as pq

    from monolith_spark.labels import SAMPLES_SCHEMA
    from monolith_spark.plans.zorder import cluster_zorder

    span = 1_000_000
    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=span)
    rows = [
        ({"m": f"s{i}"}, ts, float(i))
        for i in range(64)
        for ts in range(1_000, span, 8_000)
    ]
    db.write(spark.createDataFrame(rows, SAMPLES_SCHEMA))
    before = {
        (r["signature"], tuple((p["timestamp"], p["value"]) for p in r["points"]))
        for r in db.query({}, 0, span).collect()
    }

    def bounds(path, col):
        out = []
        for f in sorted(os.listdir(path)):
            if not f.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(path, f))
            lo = hi = None
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for c in range(g.num_columns):
                    cc = g.column(c)
                    if cc.path_in_schema == col and cc.statistics is not None:
                        lo = cc.statistics.min if lo is None else min(lo, cc.statistics.min)
                        hi = cc.statistics.max if hi is None else max(hi, cc.statistics.max)
            out.append((lo, hi))
        return out

    samples = spark.read.parquet(os.path.join(db.samples_path, "chunk_id=0"))
    zdir = str(tmp_path / "zorder")
    sdir = str(tmp_path / "series_sort")
    cluster_zorder(samples, 16).write.parquet(zdir)
    (
        samples.repartition(16, "series_id")
        .sortWithinPartitions("series_id", "timestamp")
        .write.parquet(sdir)
    )

    # A quarter-span time slice: the series-sorted layout cannot skip
    # any file; the z-ordered layout must skip some.
    w_lo, w_hi = 0, span // 4
    s_ts = bounds(sdir, "timestamp")
    z_ts = bounds(zdir, "timestamp")
    s_hit = sum(1 for lo, hi in s_ts if not (hi < w_lo or lo > w_hi))
    z_hit = sum(1 for lo, hi in z_ts if not (hi < w_lo or lo > w_hi))
    assert s_hit == len(s_ts)
    assert z_hit <= 0.75 * len(z_ts)

    # A single-series probe must also skip files under z-order (the
    # series rank occupies the even Morton bits).
    sid = samples.select("series_id").first()[0]
    z_sid = bounds(zdir, "series_id")
    assert sum(1 for lo, hi in z_sid if lo <= sid <= hi) < len(z_sid)

    # The maintenance path rewrites in place and preserves results.
    assert db.compact_chunk(0, layout="zorder")
    after = {
        (r["signature"], tuple((p["timestamp"], p["value"]) for p in r["points"]))
        for r in db.query({}, 0, span).collect()
    }
    assert after == before


def test_dim_broadcast_gated_on_size(spark, tmp_path):
    """The matched-dim broadcast hint applies only under the size
    bound: the default db plans a BroadcastHashJoin; with the bound at
    0 (simulating a dim too large to ship) the hint is dropped and the
    query still returns identical results via AQE's choice."""
    db = _g1_db(spark, tmp_path)
    plan = db.query_flat({"test1": "1"}, 0, 10_000)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BroadcastHashJoin" in plan

    big = MonolithDB(
        spark, str(tmp_path / "db"), chunk_size_ms=10_000, dim_broadcast_bytes=0
    )
    a = sorted(
        (r["signature"], p["timestamp"], p["value"])
        for r in db.query({"test1": "1"}, 0, 10_000).collect()
        for p in r["points"]
    )
    b = sorted(
        (r["signature"], p["timestamp"], p["value"])
        for r in big.query({"test1": "1"}, 0, 10_000).collect()
        for p in r["points"]
    )
    assert a == b and a


def test_resample_lerp_hand_case(spark):
    """Linear interpolation: exact at observed buckets, straight line
    through gaps using the surrounding POINTS' actual timestamps."""
    from monolith_spark.operators.timeseries import resample_lerp

    df = spark.createDataFrame(
        [(1, 100, 10.0), (1, 405, 40.0)],  # points in buckets 100, 400
        "series_id long, timestamp long, value double",
    )
    rows = {
        r["bucket_ms"]: (r["value"], r["observed"])
        for r in resample_lerp(df, step_ms=100).collect()
    }
    assert rows[100] == (10.0, True)
    assert rows[400] == (40.0, True)
    # gap buckets 200, 300: line between (100, 10) and (405, 40)
    assert abs(rows[200][0] - (10.0 + 30.0 * (100 / 305))) < 1e-12
    assert rows[200][1] is False
    assert abs(rows[300][0] - (10.0 + 30.0 * (200 / 305))) < 1e-12


@pytest.mark.slow
def test_bench_emits_driver_contract_json():
    """bench.py is the driver's per-round measurement: it must exit 0
    and print exactly one JSON line with the agreed keys at any SF."""
    import json
    import os as _os
    import subprocess
    import sys

    env = dict(_os.environ,
               SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
               SPARK_GRAFT_CPUS="4",
               # contract check (exit code, JSON shape, keys), not a
               # measurement — one rep; the workload has grown past
               # what 3 reps fit inside the timeout on a busy VM
               SPARK_GRAFT_BENCH_REPS="1")
    out = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        env=env, capture_output=True, text=True, timeout=540,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    json_lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    assert len(json_lines) == 1
    rec = json.loads(json_lines[0])
    assert rec["metric"] == "monolith_spark_e2e_sec" and rec["unit"] == "sec"
    assert rec["sf"] == 0.001
    assert 0 < rec["core_sec"] <= rec["value"]
    assert abs(sum(rec["queries"].values()) - rec["value"]) < 0.01
    assert {"ingest", "query_allchunks", "dedup_minhash_lsh"} <= set(rec["queries"])


def test_empty_batch_writes_never_poison_or_probe(spark, tmp_path):
    """An all-invalid first batch leaves no footer-less parquet dirs;
    steady-state empty appends are harmless without the emptiness
    probe (which only runs until both tables exist)."""
    import os as _os

    from monolith_spark.labels import SAMPLES_SCHEMA

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    empty = spark.createDataFrame([({"m": "x"}, 0, 1.0)], SAMPLES_SCHEMA)  # ts==0 dropped
    db.write(empty)
    assert not _os.path.exists(db.samples_path)
    assert not _os.path.exists(db.series_path)
    assert db.query({}, 0, 10**9).count() == 0

    db.write(spark.createDataFrame([({"m": "x"}, 1000, 1.0)], SAMPLES_SCHEMA))
    db.write(empty)  # append-nothing to existing tables
    res = db.query({}, 0, 10**9).collect()
    assert len(res) == 1
    assert [(p["timestamp"], p["value"]) for p in res[0]["points"]] == [(1000, 1.0)]
    assert db.series().count() == 1


def test_delete_series_removes_identity_from_both_tables(spark, tmp_path):
    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    db.write(spark.createDataFrame(
        [({"job": "a", "user": "u1"}, t, 1.0) for t in (1_000, 61_000, 121_000)]
        + [({"job": "b", "user": "u2"}, t, 2.0) for t in (1_000, 61_000)],
        "labels map<string,string>, timestamp long, value double",
    ))
    assert db.delete_series({"user": "u1"}) == 1
    # fact rows gone across every chunk; survivor untouched
    left = db.query({}, 0, 10**9).collect()
    assert [r["signature"] for r in left] == ["job=b,user=u2"]
    assert len(left[0]["points"]) == 2
    # dim row gone too
    assert db.series().count() == 1
    # idempotent replay + miss returns 0
    assert db.delete_series({"user": "u1"}) == 0
    # the identity can be re-created after deletion (content-hash ids)
    db.write(spark.createDataFrame(
        [({"job": "a", "user": "u1"}, 200_000, 9.0)],
        "labels map<string,string>, timestamp long, value double",
    ))
    back = db.query({"user": "u1"}, 0, 10**9).collect()
    assert len(back) == 1 and [p["value"] for p in back[0]["points"]] == [9.0]


def test_delete_series_crash_before_commit_is_a_full_noop(
    spark, tmp_path, monkeypatch
):
    """Kill delete_series at its WORST crash point — after the fact
    AND dim rewrites, right before the manifest commit — and prove the
    delete is ATOMIC: nothing changed (facts, dim, metadata all
    intact; the old protocol's 'facts rewritten, dim restored' torn
    state can no longer exist), and the replayed delete completes."""
    import os as _os

    import pytest as _pytest

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    db.write(spark.createDataFrame(
        [({"job": "a", "user": "u1"}, t, 1.0) for t in (1_000, 61_000)]
        + [({"job": "b", "user": "u2"}, t, 2.0) for t in (1_000, 61_000)],
        "labels map<string,string>, timestamp long, value double",
    ))
    before = {r["signature"]: [(p["timestamp"], p["value"]) for p in r["points"]]
              for r in db.query({}, 0, 10**9).collect()}

    real_replace = _os.replace

    def crashing_replace(src, dst):
        if dst.endswith("CURRENT"):
            raise OSError("injected crash before manifest commit")
        return real_replace(src, dst)

    monkeypatch.setattr("monolith_spark.engine.os.replace", crashing_replace)
    with _pytest.raises(OSError, match="injected crash"):
        db.delete_series({"user": "u1"})
    monkeypatch.setattr("monolith_spark.engine.os.replace", real_replace)

    # a fresh engine instance sees the COMPLETE pre-delete state: both
    # series, all points, dim intact — the crash left no torn state
    db2 = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    assert {r["signature"]: [(p["timestamp"], p["value"]) for p in r["points"]]
            for r in db2.query({}, 0, 10**9).collect()} == before
    assert db2.series().count() == 2

    # the replayed delete completes atomically
    assert db2.delete_series({"user": "u1"}) == 1
    assert db2.series().count() == 1
    final = db2.query({}, 0, 10**9).collect()
    assert [r["signature"] for r in final] == ["job=b,user=u2"]
    assert len(final[0]["points"]) == 2


def test_legacy_layout_migrates_and_heals_staged_renames(spark, tmp_path):
    """A pre-manifest db (directory layout, possibly crashed mid-swap
    under the OLD staged-rename protocol) must migrate on first
    contact: staged .old dirs are restored — a series.old is never
    misparsed as a chunk — and manifest v1 captures the healed
    listing; subsequent maintenance runs the manifest protocol."""
    import os
    import shutil

    from monolith_spark.labels import SAMPLES_SCHEMA

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    db.write(spark.createDataFrame(
        [({"m": "a"}, 1_000, 1.0), ({"m": "b"}, 61_000, 2.0)], SAMPLES_SCHEMA))

    # forge the legacy layout: no manifest, a crashed legacy compaction
    # (chunk_id=0 parked as _compact/chunk_0.old) and a crashed legacy
    # delete (series parked as _compact/series.old)
    shutil.rmtree(os.path.join(db.path, "_manifest"))
    staging = os.path.join(db.path, "_compact")
    os.makedirs(staging, exist_ok=True)
    os.rename(os.path.join(db.samples_path, "chunk_id=0"),
              os.path.join(staging, "chunk_0.old"))
    os.rename(db.series_path, os.path.join(staging, "series.old"))

    db2 = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    rows = db2.query({}, 0, 10**9).collect()
    assert sorted(r["signature"] for r in rows) == ["m=a", "m=b"]
    # series.old was never misparsed as a chunk partition
    assert "chunk_id=series" not in os.listdir(db2.samples_path)
    man = db2._load_manifest()
    assert man["version"] == 1 and sorted(man["samples"]) == ["0", "1"]
    assert not os.path.exists(os.path.join(staging, "series.old"))
    assert not os.path.exists(os.path.join(staging, "chunk_0.old"))

    # post-migration maintenance is manifest-native
    assert db2.delete_series({"m": "a"}) == 1
    assert db2.query({"m": "b"}, 0, 10**9).count() == 1


def test_migration_reraises_genuine_rename_failure(spark, tmp_path, monkeypatch):
    """Legacy migration must NOT swallow a restore failure that is not
    a lost race: with the staged .old still present and the live
    partition still absent, an EACCES/EXDEV-style OSError means the
    restore REALLY failed and silently passing would commit a manifest
    missing that chunk's data with no diagnostic (ADVICE r4)."""
    import os as _os

    import pytest as _pytest

    from monolith_spark.labels import SAMPLES_SCHEMA

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    db.write(spark.createDataFrame(
        [({"m": "a"}, 1000, 1.0), ({"m": "b"}, 2000, 2.0)], SAMPLES_SCHEMA))

    # forge a crashed LEGACY compaction: no manifest, partition parked
    import shutil
    shutil.rmtree(_os.path.join(db.path, "_manifest"))
    staging = _os.path.join(db.path, "_compact")
    _os.makedirs(staging, exist_ok=True)
    part = _os.path.join(db.samples_path, "chunk_id=0")
    _os.rename(part, _os.path.join(staging, "chunk_0.old"))

    real_rename = _os.rename

    def failing_rename(src, dst):
        raise OSError(13, "Permission denied (injected)")

    monkeypatch.setattr("monolith_spark.engine.os.rename", failing_rename)
    with _pytest.raises(OSError, match="injected"):
        db.samples()  # first contact runs the migration

    # restore succeeds once the fs cooperates; migration commits v1
    monkeypatch.setattr("monolith_spark.engine.os.rename", real_rename)
    assert db.query({"m": "a"}, 0, 100_000).count() == 1
    assert db._load_manifest()["version"] == 1


@pytest.mark.slow
def test_downsample_retention_tiers_serve_identically(spark, tmp_path):
    """Resolution-tiering retention: rolled chunks must serve every
    aggregate bit-identically to the raw data they replaced, raw
    partitions beyond the horizon are gone, a crash between rollup
    write and raw delete never double-counts, and a retried pass
    converges."""
    import os
    import shutil

    from monolith_spark.labels import SAMPLES_SCHEMA

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=10_000)
    rows = [
        ({"job": "api", "dc": "eu"}, t, float(v))
        for t, v in [
            (1_000, 5.0), (2_500, 1.0), (9_000, 7.0),     # chunk 0
            (11_000, 2.0), (15_000, 9.0),                 # chunk 1
            (21_000, 4.0), (29_000, 6.0),                 # chunk 2
            (31_000, 8.0),                                # chunk 3 (stays raw)
        ]
    ] + [({"job": "db"}, 3_000, 100.0), ({"job": "db"}, 12_000, 50.0)]
    db.write(spark.createDataFrame(rows, SAMPLES_SCHEMA))

    def snap(agg):
        return sorted(
            (r["series_id"], r["bucket_ms"], r["n_points"], r["value"])
            for r in db.query_downsampled(
                {"job": "api"}, 0, 40_000, step_ms=5_000, agg=agg
            ).collect()
        )

    before = {a: snap(a) for a in ("avg", "sum", "min", "max", "last", "count")}
    assert len(before["avg"]) > 0

    # crash injection: a rollup file for chunk 0 lands, but the commit
    # that lists it never happens — the unlisted file is invisible, so
    # the raw chunk alone serves it and nothing double-counts
    raw0 = spark.read.parquet(os.path.join(db.samples_path, "chunk_id=0"))
    db._rollup(raw0, 5_000).write.mode("overwrite").parquet(
        os.path.join(db.path, "rollups", "step_ms=5000", "chunk_id=0")
    )
    assert {a: snap(a) for a in before} == before

    # the retried pass converges: chunks 0-2 tier, chunk 3 stays raw
    rolled, dropped = db.downsample_retention(cutoff_ms=30_000, step_ms=5_000)
    assert (rolled, dropped) == (3, 3)
    assert sorted(db._load_manifest()["samples"]) == ["3"]
    assert sorted(db._rolled_chunk_ids(5_000)) == [0, 1, 2]
    # vacuum reclaims the dropped raw partitions physically
    db.vacuum(grace_ms=0)
    left = {d for d in os.listdir(db.samples_path) if d.startswith("chunk_id=")}
    assert left == {"chunk_id=3"}

    # every aggregate identical across the tier boundary
    assert {a: snap(a) for a in before} == before

    # the other series was tiered too but stays invisible to this matcher
    other = db.query_downsampled({"job": "db"}, 0, 40_000, 5_000).collect()
    assert {r["bucket_ms"] for r in other} == {0, 10_000}

    # idempotent: nothing left to roll at the same cutoff
    assert db.downsample_retention(cutoff_ms=30_000, step_ms=5_000) == (0, 0)
    shutil.rmtree(str(tmp_path / "db"), ignore_errors=True)


def test_rollups_are_manifest_listed(spark, tmp_path):
    """Rollup files live in the manifest like fact files: a snapshot
    carries the rolled tier, a late point written into a rolled chunk
    is served beside its rollup, and a second retention pass over that
    chunk adds a partial instead of replacing the first. Each read is
    (buckets, points) of a count query over both tiers."""
    import os

    from monolith_spark.labels import SAMPLES_SCHEMA

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=10_000)
    db.write(spark.createDataFrame(
        [({"j": "a"}, t, 1.0) for t in range(1_000, 40_000, 1_000)],
        SAMPLES_SCHEMA))

    def read(d):
        rows = d.query_downsampled({"j": "a"}, 0, 40_000, 5_000, "count")
        rows = rows.collect()
        return len(rows), int(sum(r["value"] for r in rows))

    assert db.downsample_retention(20_000, 5_000) == (2, 2)
    assert db._rolled_chunk_ids(5_000) == [0, 1]
    assert read(db) == (8, 39)
    snap = os.path.join(db.path, "snapshots", db.snapshot("s1"))
    assert read(MonolithDB(spark, snap, chunk_size_ms=10_000)) == (8, 39)

    db.write(spark.createDataFrame([({"j": "a"}, 500, 1.0)], SAMPLES_SCHEMA))
    assert read(db) == (8, 40)

    assert db.downsample_retention(20_000, 5_000) == (1, 1)
    assert read(db) == (8, 40)
    # vacuum walks the rollup tier but keeps every listed file
    db.vacuum(grace_ms=0)
    assert read(db) == (8, 40)


def test_rollups_outside_the_manifest_are_adopted(spark, tmp_path):
    """A db whose rollups were written to disk only (no ``rollups``
    manifest entry, as engines before the manifest listed them left it)
    keeps its rolled history: the first contact lists the files in one
    commit, drops the raw chunk a cut pass left beside its rollup, and
    query_downsampled and vacuum(grace_ms=0) both keep the tier."""
    import os

    from monolith_spark.labels import SAMPLES_SCHEMA

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=10_000)
    db.write(spark.createDataFrame(
        [({"j": "a"}, t, 1.0) for t in range(1_000, 40_000, 1_000)],
        SAMPLES_SCHEMA))

    def read():
        rows = db.query_downsampled({"j": "a"}, 0, 40_000, 5_000, "count")
        rows = rows.collect()
        return len(rows), int(sum(r["value"] for r in rows))

    # the old layout: chunks 0-1 rolled with their raw chunks dropped,
    # chunk 2 rolled by a pass cut before its raw drop, chunk 3 raw
    raw = db.samples().filter("chunk_id < 3")
    db._rollup(raw, 5_000, extra_keys=("chunk_id",)).write.partitionBy(
        "chunk_id").parquet(os.path.join(db.path, "rollups", "step_ms=5000"))

    def old_layout(m):
        del m["rollups"]
        m["samples"].pop("0")
        m["samples"].pop("1")

    db._commit(old_layout, op="old-layout")
    version = db._read_current()["version"]

    assert read() == (8, 39)
    man = db._load_manifest()
    assert (man["version"], man["op"]) == (version + 1, "adopt-rollups")
    assert db._rolled_chunk_ids(5_000) == [0, 1, 2]
    assert sorted(man["samples"]) == ["3"]
    db.vacuum(grace_ms=0)
    assert read() == (8, 39)
    assert db._load_manifest()["version"] == version + 1  # adopted once


@pytest.mark.slow
def test_downsample_retention_straddling_buckets_merge(spark, tmp_path):
    """ADVICE r5 high: when step_ms does not divide chunk_size_ms, a
    step bucket straddling a chunk boundary is stored as per-chunk
    partials — the cross-tier query must re-merge them into ONE
    whole-bucket row, bit-identical to the all-raw answer, and a
    non-step-aligned end_ms must serve identical values whichever tier
    a chunk is in (outward snap on BOTH tiers)."""
    import os
    import shutil

    from monolith_spark.labels import SAMPLES_SCHEMA

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=10_000)
    # step 7_000 ∤ chunk 10_000: bucket 7_000 spans chunks 0 and 1;
    # bucket 21_000 spans chunks 2 and 3 (chunk 3 stays raw → a
    # rolled-partial + raw-partial merge, not just rolled+rolled).
    rows = [
        ({"job": "api"}, t, float(v))
        for t, v in [
            (6_000, 5.0), (8_000, 1.0),            # chunk 0: buckets 0, 7k
            (12_000, 7.0), (13_500, 2.0), (15_000, 9.0),  # chunk 1: 7k, 7k, 14k
            (22_000, 4.0), (27_000, 6.0),          # chunk 2: 21k, 21k
            (31_000, 8.0), (36_000, 3.0),          # chunk 3: 28k, 35k
        ]
    ]
    db.write(spark.createDataFrame(rows, SAMPLES_SCHEMA))

    def snap(agg, end_ms=40_000):
        return sorted(
            (r["series_id"], r["bucket_ms"], r["n_points"], r["value"])
            for r in db.query_downsampled(
                {"job": "api"}, 0, end_ms, step_ms=7_000, agg=agg
            ).collect()
        )

    aggs = ("avg", "sum", "min", "max", "last", "count")
    # non-aligned end 13_000 sits inside bucket 7_000: the whole bucket
    # must be served (incl. t=13_500) by BOTH tiers
    before = {(a, e): snap(a, e) for a in aggs for e in (40_000, 13_000)}
    # all-raw sanity: one row per bucket, never split partials
    assert [b for (_, b, _, _) in before[("sum", 40_000)]] == [
        0, 7_000, 14_000, 21_000, 28_000, 35_000
    ]
    assert before[("sum", 13_000)] == [
        r for r in before[("sum", 40_000)] if r[1] <= 7_000
    ]

    rolled, dropped = db.downsample_retention(cutoff_ms=30_000, step_ms=7_000)
    assert (rolled, dropped) == (3, 3)
    after = {(a, e): snap(a, e) for a in aggs for e in (40_000, 13_000)}
    assert after == before

    # multi-pass preservation: a later pass must not clobber earlier
    # rollup partitions (dynamic, not static, partition overwrite)
    db2 = MonolithDB(spark, str(tmp_path / "db2"), chunk_size_ms=10_000)
    db2.write(spark.createDataFrame(rows, SAMPLES_SCHEMA))
    assert db2.downsample_retention(cutoff_ms=10_000, step_ms=7_000) == (1, 1)
    assert db2.downsample_retention(cutoff_ms=30_000, step_ms=7_000) == (2, 2)
    assert sorted(db2._rolled_chunk_ids(7_000)) == [0, 1, 2]
    got2 = sorted(
        (r["bucket_ms"], r["n_points"], r["value"])
        for r in db2.query_downsampled(
            {"job": "api"}, 0, 40_000, step_ms=7_000, agg="sum"
        ).collect()
    )
    assert got2 == [(b, n, v) for (_, b, n, v) in before[("sum", 40_000)]]
    shutil.rmtree(str(tmp_path / "db"), ignore_errors=True)
    shutil.rmtree(str(tmp_path / "db2"), ignore_errors=True)


def test_downsample_retention_job_count_independent_of_chunks(spark, tmp_path):
    """The batched retention contract (VERDICT r5 missing #3): Spark
    job count per pass must not grow with the number of expired chunks
    — one scan → one grouped rollup → one dynamic-partition write."""
    import shutil

    from monolith_spark.labels import SAMPLES_SCHEMA

    def build(name, n_chunks):
        db = MonolithDB(spark, str(tmp_path / name), chunk_size_ms=10_000)
        rows = [
            ({"job": "api"}, c * 10_000 + off, float(c + off))
            for c in range(n_chunks)
            for off in (1_000, 6_000)
        ]
        db.write(spark.createDataFrame(rows, SAMPLES_SCHEMA))
        return db

    db_small = build("small", 2)
    db_big = build("big", 9)
    sc = spark.sparkContext
    try:
        sc.setJobGroup("ret_small", "retention job-count probe")
        assert db_small.downsample_retention(10_000_000, 5_000) == (2, 2)
        sc.setJobGroup("ret_big", "retention job-count probe")
        assert db_big.downsample_retention(10_000_000, 5_000) == (9, 9)
    finally:
        sc.setJobGroup("", "")
    st = sc.statusTracker()
    n_small = len(st.getJobIdsForGroup("ret_small"))
    n_big = len(st.getJobIdsForGroup("ret_big"))
    assert n_small > 0 and n_small == n_big, (n_small, n_big)
    shutil.rmtree(str(tmp_path / "small"), ignore_errors=True)
    shutil.rmtree(str(tmp_path / "big"), ignore_errors=True)


def test_time_travel_and_history(spark, tmp_path):
    """Manifest time travel: every retained version reads a full
    consistent snapshot — a query at_version=N sees the world as of
    commit N across BOTH tables (a deleted series reappears, rolled
    chunks come back raw); history() lists versions with operation
    provenance; vacuumed versions fail loudly."""
    import pytest as _pytest

    from monolith_spark.labels import SAMPLES_SCHEMA

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=10_000)
    db.write(spark.createDataFrame(
        [({"j": "a"}, 1_000, 1.0), ({"j": "b"}, 2_000, 2.0)], SAMPLES_SCHEMA))
    v1 = db._load_manifest()["version"]
    db.write(spark.createDataFrame(
        [({"j": "a"}, 11_000, 3.0)], SAMPLES_SCHEMA))
    v2 = db._load_manifest()["version"]
    assert db.delete_series({"j": "b"}) == 1
    v3 = db._load_manifest()["version"]
    assert db.downsample_retention(cutoff_ms=10_000, step_ms=5_000) == (1, 1)

    # current: b gone, chunk 0 rolled
    assert sorted(r["signature"] for r in db.query({}, 0, 10**9).collect()) \
        == ["j=a"]
    # at v1: both series, only the first batch
    at1 = {r["signature"]: [(p["timestamp"], p["value"]) for p in r["points"]]
           for r in db.query({}, 0, 10**9, at_version=v1).collect()}
    assert at1 == {"j=a": [(1_000, 1.0)], "j=b": [(2_000, 2.0)]}
    # at v2: both series, a has both points (raw — pre-retention)
    at2 = {r["signature"]: len(r["points"])
           for r in db.query({}, 0, 10**9, at_version=v2).collect()}
    assert at2 == {"j=a": 2, "j=b": 1}
    # at v3: b deleted but chunk 0 still raw
    assert db.samples(at_version=v3).count() == 2
    assert db.series(at_version=v3).count() == 1

    ops = [h["op"] for h in db.history()]
    # v1 is the empty-db bootstrap (migration of a fresh layout)
    assert ops == ["migrate", "write", "write", "delete", "retention-tier"]
    versions = [h["version"] for h in db.history()]
    assert versions == [1, v1, v2, v3, v3 + 1]

    # vacuum(retain current only) expires history: old version objects
    # are gone and a travel to them fails loudly, current still serves
    db.vacuum(grace_ms=0)
    assert [h["version"] for h in db.history()] == [v3 + 1]
    with _pytest.raises(ValueError, match="expired by vacuum|does not exist"):
        db.samples(at_version=v1).count()
    assert sorted(r["signature"] for r in db.query({}, 0, 10**9).collect()) \
        == ["j=a"]


def test_time_bounded_delete_series(spark, tmp_path):
    """Prometheus admin delete_series semantics: a time-bounded delete
    removes matched points ONLY inside [start, end], rewrites ONLY
    overlapping chunks, keeps the dim row (points may survive
    elsewhere; a fully-emptied series just stops matching — F6), and
    is atomic + idempotent like the full delete."""
    from monolith_spark.labels import SAMPLES_SCHEMA

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=10_000)
    rows = [({"j": "a"}, t, float(t)) for t in (1_000, 11_000, 21_000)] \
        + [({"j": "b"}, t, 2.0) for t in (1_000, 12_000)]
    db.write(spark.createDataFrame(rows, SAMPLES_SCHEMA))
    untouched = db._load_manifest()["samples"]["2"]  # chunk 2 files

    assert db.delete_series({"j": "a"}, start_ms=10_000, end_ms=19_999) == 1
    got = {r["signature"]: [p["timestamp"] for p in r["points"]]
           for r in db.query({}, 0, 10**9).collect()}
    assert got == {"j=a": [1_000, 21_000], "j=b": [1_000, 12_000]}
    assert db.series().count() == 2  # dim keeps both series
    # chunk 2 (no overlap with [10k, 20k]) was NOT rewritten
    assert db._load_manifest()["samples"]["2"] == untouched

    # idempotent replay: nothing further changes
    assert db.delete_series({"j": "a"}, start_ms=10_000, end_ms=19_999) == 1
    assert {r["signature"]: [p["timestamp"] for p in r["points"]]
            for r in db.query({}, 0, 10**9).collect()} == got

    # deleting a series' remaining points everywhere leaves it
    # unmatched (empty-series elimination), dim row intact
    assert db.delete_series({"j": "a"}, start_ms=0, end_ms=10**15) == 1
    assert sorted(r["signature"] for r in db.query({}, 0, 10**9).collect()) \
        == ["j=b"]
    assert db.series().count() == 2


@pytest.mark.slow
def test_snapshot_is_complete_isolated_db(spark, tmp_path):
    """engine.snapshot(): the manifest-pinned file set hardlinked into
    snapshots/<name> is a COMPLETE MonolithDB — openable, queryable,
    and isolated from every later mutation of the source (the
    Prometheus admin snapshot contract, made exact by manifests)."""
    import pytest as _pytest

    from monolith_spark.labels import SAMPLES_SCHEMA

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=10_000)
    db.write(spark.createDataFrame(
        [({"j": "a"}, 1_000, 1.0), ({"j": "b"}, 2_000, 2.0),
         ({"j": "a"}, 11_000, 3.0)], SAMPLES_SCHEMA))
    db.build_label_index()
    name = db.snapshot()
    before = sorted(
        (r["signature"], r["timestamp"], r["value"])
        for r in db.query_flat({}, 0, 10**9).collect()
    )

    # mutate the source AFTER the snapshot: delete + more data
    assert db.delete_series({"j": "b"}) == 1
    db.write(spark.createDataFrame([({"j": "c"}, 3_000, 9.0)],
                                   SAMPLES_SCHEMA))

    snap = MonolithDB(
        spark, str(tmp_path / "db" / "snapshots" / name),
        chunk_size_ms=10_000,
    )
    got = sorted(
        (r["signature"], r["timestamp"], r["value"])
        for r in snap.query_flat({}, 0, 10**9).collect()
    )
    assert got == before
    # the snapshot carried the label index and serves postings
    assert snap._load_manifest().get("label_index") is not None
    assert sorted(
        r["signature"] for r in snap.query_flat({"j": "b"}, 0, 10**9).collect()
    ) == ["j=b"]

    # name collisions and path tricks fail loudly
    with _pytest.raises(ValueError, match="already exists"):
        db.snapshot(name=name)
    with _pytest.raises(ValueError, match="invalid snapshot name"):
        db.snapshot(name="../escape")

    # at_version snapshots export the historical world
    hist = db.history()
    v_first = hist[1]["version"]  # first write commit
    n2 = db.snapshot(at_version=v_first)
    snap2 = MonolithDB(
        spark, str(tmp_path / "db" / "snapshots" / n2), chunk_size_ms=10_000
    )
    assert snap2.samples().count() == 3 and snap2.series().count() == 2


def test_exemplars_follow_retention_and_delete(spark, tmp_path):
    """The exemplar table rides the maintenance surface: retention
    drops expired exemplar chunks with their samples, a full
    delete_series removes the identity's exemplars (GDPR — trace ids
    tie to the series), a bounded delete rewrites only overlapping
    exemplar chunks, and time travel still serves the pre-delete
    exemplars."""
    from monolith_spark.labels import SAMPLES_SCHEMA

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=10_000)
    db.write(spark.createDataFrame(
        [({"j": "a"}, t, float(t)) for t in (1_000, 11_000, 21_000)]
        + [({"j": "b"}, 2_000, 9.0)], SAMPLES_SCHEMA))
    ex_rows = [
        ({"j": "a"}, 1_000, 1.0, {"trace_id": "t1"}),
        ({"j": "a"}, 11_000, 2.0, {"trace_id": "t2"}),
        ({"j": "a"}, 21_000, 3.0, {"trace_id": "t3"}),
        ({"j": "b"}, 2_000, 9.0, {"trace_id": "t9"}),
    ]
    db.write_exemplars(spark.createDataFrame(
        ex_rows,
        "labels map<string,string>, timestamp long, value double, "
        "exemplar_labels map<string,string>"))
    v0 = db._load_manifest()["version"]

    def traces(**kw):
        return sorted(
            dict(r["exemplar_labels"])["trace_id"]
            for r in db.query_exemplars({}, 0, 10**9, **kw).collect()
        )

    assert traces() == ["t1", "t2", "t3", "t9"]

    # retention: chunk 0 expires → its exemplars go with it
    assert db.drop_chunks_before(10_000) == 1
    assert traces() == ["t2", "t3"]

    # bounded delete: only the overlapping chunk rewritten
    assert db.delete_series({"j": "a"}, start_ms=10_000, end_ms=19_999) == 1
    assert traces() == ["t3"]

    # full delete removes the identity's remaining exemplars
    assert db.delete_series({"j": "a"}) == 1
    assert traces() == []

    # time travel: the pre-maintenance snapshot still serves them all
    assert traces(at_version=v0) == ["t1", "t2", "t3", "t9"]

    # tiered retention drops expired exemplar chunks too, those whose
    # chunk holds no samples (t6) included
    db.write(spark.createDataFrame([({"j": "b"}, 31_000, 1.0)], SAMPLES_SCHEMA))
    db.write_exemplars(spark.createDataFrame(
        [({"j": "b"}, 31_000, 1.0, {"trace_id": "t4"}),
         ({"j": "b"}, 41_000, 2.0, {"trace_id": "t5"}),
         ({"j": "b"}, 5_000, 3.0, {"trace_id": "t6"})],
        "labels map<string,string>, timestamp long, value double, "
        "exemplar_labels map<string,string>"))
    assert traces() == ["t4", "t5", "t6"]
    # one sample chunk rolled; chunks 0 and 3 dropped
    assert db.downsample_retention(cutoff_ms=40_000, step_ms=5_000) == (1, 2)
    assert traces() == ["t5"]


def test_compact_exemplar_chunk_merges_files_preserves_results(
    spark, tmp_path
):
    """compact() must also collapse the exemplar store's per-batch
    small files (a streaming scrape with exemplars appends one file
    per micro-batch per chunk) — same manifest-swap + vacuum shape as
    the sample path, results bit-identical."""
    import os

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    schema = ("labels map<string,string>, timestamp long, value double, "
              "exemplar_labels map<string,string>")
    for i in range(3):
        db.write_exemplars(spark.createDataFrame(
            [({"m": "a"}, 1_000 + i, float(i), {"trace_id": f"t{i}"})],
            schema))
    files_before = db._load_manifest()["exemplars"]["0"]
    assert len(files_before) >= 3

    def rows():
        return sorted(
            (r["timestamp"], r["value"], dict(r["exemplar_labels"])["trace_id"])
            for r in db.query_exemplars({"m": "a"}, 0, 100_000).collect()
        )

    before = rows()

    assert db.compact() >= 1  # sweeps exemplar chunks too
    files_after = db._load_manifest()["exemplars"]["0"]
    assert len(files_after) == 1
    db.vacuum(grace_ms=0)
    part = os.path.join(db.exemplars_path, "chunk_id=0")
    assert sorted(
        f for f in os.listdir(part) if f.endswith(".parquet")
    ) == sorted(files_after)
    assert rows() == before
    assert db.compact_chunk(99, table="exemplars") is False

    # a z-order rewrite of the exemplar chunk serves the same rows
    assert db.compact_chunk(0, layout="zorder", table="exemplars") is True
    assert rows() == before
