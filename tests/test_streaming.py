"""Streaming ingest tests: ST1 micro-batch lifecycle, ST2 late-data
drop, exactly-once via the epoch ledger, and a watermarked windowed
aggregation (the Structured Streaming idiom the reference's chunk
machinery maps onto)."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from monolith_spark.engine import MonolithDB
from monolith_spark.labels import SAMPLES_SCHEMA
from monolith_spark.streaming.ingest import StreamingIngest, samples_file_stream


def _write_slice(spark, path, rows):
    spark.createDataFrame(rows, SAMPLES_SCHEMA).coalesce(1).write.mode("append").parquet(path)


@pytest.fixture(autouse=True)
def _stop_queries(spark):
    """Stop every StreamingQuery a test leaves running, failed tests
    included, so no micro-batch outlives its test."""
    try:
        yield
    finally:
        for q in spark.streams.active:
            q.stop()


def test_stream_ingest_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_slice(spark, src, [({"m": "a"}, 1000, 1.0), ({"m": "a"}, 2000, 2.0)])
    _write_slice(spark, src, [({"m": "a"}, 61_000, 3.0), ({"m": "b"}, 62_000, 4.0)])

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    ingest = StreamingIngest(db, late_policy="keep")
    q = ingest.start(samples_file_stream(spark, src), str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    res = {r["signature"]: r for r in db.query({}, 0, 100_000).collect()}
    assert [(p["timestamp"], p["value"]) for p in res["m=a"]["points"]] == [
        (1000, 1.0), (2000, 2.0), (61_000, 3.0)]
    assert [(p["timestamp"], p["value"]) for p in res["m=b"]["points"]] == [(62_000, 4.0)]
    # two chunk partitions materialized (ST1: sealing = partitioning)
    chunks = {d for d in os.listdir(db.samples_path) if d.startswith("chunk_id=")}
    assert chunks == {"chunk_id=0", "chunk_id=1"}


def test_stream_late_data_dropped(spark, tmp_path):
    src = str(tmp_path / "src")
    # batch 1 advances the high watermark to 100_000
    _write_slice(spark, src, [({"m": "x"}, 100_000, 1.0)])

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    ingest = StreamingIngest(db, late_policy="drop", allowed_lateness_ms=10_000)
    q = ingest.start(samples_file_stream(spark, src, max_files_per_trigger=1),
                     str(tmp_path / "ckpt"))
    q.processAllAvailable()
    # batch 2: one in-window point, one too-late point (ST2)
    _write_slice(spark, src, [({"m": "x"}, 95_000, 2.0), ({"m": "x"}, 80_000, 9.0)])
    q.processAllAvailable()
    q.stop()

    res = db.query({"m": "x"}, 0, 200_000).collect()
    pts = [(p["timestamp"], p["value"]) for p in res[0]["points"]]
    assert pts == [(95_000, 2.0), (100_000, 1.0)]  # 80_000 dropped


def test_epoch_ledger_makes_replay_idempotent(spark, tmp_path):
    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    ingest = StreamingIngest(db)
    batch = spark.createDataFrame([({"m": "r"}, 1000, 1.0)], SAMPLES_SCHEMA)
    ingest.process_batch(batch, epoch_id=7)
    ingest.process_batch(batch, epoch_id=7)  # replay after recovery
    res = db.query({"m": "r"}, 0, 10_000).collect()
    assert [(p["timestamp"], p["value"]) for p in res[0]["points"]] == [(1000, 1.0)]


def test_stream_events_fixture_matches_batch(spark, tmp_path, sf_dir):
    # M3: the driver's events table streamed through the full ingest
    # path must agree with the batch mapping (which the DuckDB oracles
    # validate elsewhere).
    from pyspark.sql import functions as F

    from monolith_spark.sources.events import events_samples, events_samples_stream

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=2 * 86_400_000)
    ingest = StreamingIngest(db)
    q = ingest.start(
        events_samples_stream(spark, sf_dir, str(tmp_path / "stage")),
        str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()

    got = (
        db.query_flat({"event_type": "purchase"}, 0, 4_000_000_000_000)
        .agg(F.count("*").alias("n"),
             F.sum(F.col("value").cast("decimal(18,2)")).alias("s"))
        .first()
    )
    want = (
        events_samples(spark, sf_dir, matchers={"event_type": "purchase"})
        .agg(F.count("*").alias("n"),
             F.sum(F.col("value").cast("decimal(18,2)")).alias("s"))
        .first()
    )
    assert (got["n"], got["s"]) == (want["n"], want["s"])
    assert got["n"] > 0


def test_stateful_running_series_stats(spark, tmp_path):
    # applyInPandasWithState: per-series state must carry across
    # micro-batches (maxFilesPerTrigger=1 forces two batches).
    from monolith_spark.labels import series_id_expr
    from monolith_spark.streaming.stateful import running_series_stats

    src = str(tmp_path / "src")
    # counter series: 1 → 5 → (reset) 2; gauge series: constant 7
    _write_slice(spark, src, [({"m": "c"}, 1000, 1.0), ({"m": "c"}, 2000, 5.0),
                              ({"m": "g"}, 1000, 7.0)])
    _write_slice(spark, src, [({"m": "c"}, 3000, 2.0), ({"m": "g"}, 2000, 7.0)])

    stream = samples_file_stream(spark, src, max_files_per_trigger=1)
    keyed = stream.select(
        series_id_expr("labels").alias("series_id"), "timestamp", "value"
    )
    q = (
        running_series_stats(keyed)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("series_stats")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    # update mode emits one row per series per batch; keep the latest
    latest = {}
    for r in spark.sql("SELECT * FROM series_stats").collect():
        prev = latest.get(r["series_id"])
        if prev is None or r["n"] > prev["n"]:
            latest[r["series_id"]] = r
    by_n = sorted(latest.values(), key=lambda r: r["sum"])
    counter, gauge = by_n[0], by_n[1]
    assert (counter["n"], counter["sum"], counter["min"], counter["max"]) == (3, 8.0, 1.0, 5.0)
    assert (counter["last_ts"], counter["last_value"]) == (3000, 2.0)
    # increase: (5-1) + reset-restart 2 = 6, accumulated ACROSS batches
    assert counter["increase"] == 6.0
    assert (gauge["n"], gauge["sum"], gauge["increase"]) == (2, 14.0, 0.0)


def test_dedup_stream_drops_retransmitted_samples(spark, tmp_path):
    # remote-write retry: batch 2 re-sends batch 1's point alongside a
    # new one — the duplicate must not reach storage
    from monolith_spark.streaming.ingest import dedup_stream

    src = str(tmp_path / "src")
    _write_slice(spark, src, [({"m": "d"}, 1000, 1.0)])
    _write_slice(spark, src, [({"m": "d"}, 1000, 1.0), ({"m": "d"}, 2000, 2.0)])

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    ingest = StreamingIngest(db)
    stream = dedup_stream(samples_file_stream(spark, src, max_files_per_trigger=1))
    q = ingest.start(stream, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    res = db.query({"m": "d"}, 0, 100_000).collect()
    pts = [(p["timestamp"], p["value"]) for p in res[0]["points"]]
    assert pts == [(1000, 1.0), (2000, 2.0)]


def test_continuous_rollup_matches_batch_downsample(spark, tmp_path):
    # Partials appended per micro-batch must merge to exactly the
    # batch downsample of all the data, across batch boundaries that
    # SPLIT a bucket; replays must not double-count.
    from monolith_spark.streaming.rollup import ContinuousRollup

    src = str(tmp_path / "src")
    # bucket [0, 60s): points in both batches; bucket [60s, 120s): one
    _write_slice(spark, src, [({"m": "a"}, 1000, 1.0), ({"m": "a"}, 2000, 5.0)])
    _write_slice(spark, src, [({"m": "a"}, 3000, 3.0), ({"m": "a"}, 61_000, 7.0),
                              ({"m": "b"}, 1000, 10.0)])

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    roll = ContinuousRollup(db, step_ms=60_000)
    q = roll.start(samples_file_stream(spark, src, max_files_per_trigger=1),
                   str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    rows = {(r["series_id"], r["bucket_ms"]): r for r in roll.read().collect()}
    # series m=a, bucket 0 has 3 points split across the two batches
    a_rows = [r for r in rows.values() if r["n_points"] == 3]
    assert len(a_rows) == 1
    a0 = a_rows[0]
    assert (a0["sum_value"], a0["min_value"], a0["max_value"], a0["avg_value"]) == (9.0, 1.0, 5.0, 3.0)
    assert {r["n_points"] for r in rows.values()} == {3, 1}
    # replaying an epoch is a no-op (idempotent partials)
    batch = spark.createDataFrame([({"m": "a"}, 1500, 100.0)], SAMPLES_SCHEMA)
    roll.process_batch(batch, epoch_id=0)  # epoch 0 already done
    rows2 = {(r["series_id"], r["bucket_ms"]): r["sum_value"] for r in roll.read().collect()}
    assert rows2 == {k: r["sum_value"] for k, r in rows.items()}
    # crash BETWEEN write and marker: replay must overwrite, not append
    os.remove(os.path.join(roll._epochs_dir, "1.done"))
    roll.process_batch(spark.createDataFrame(
        [({"m": "a"}, 3000, 3.0), ({"m": "a"}, 61_000, 7.0), ({"m": "b"}, 1000, 10.0)],
        SAMPLES_SCHEMA), epoch_id=1)
    rows3 = {(r["series_id"], r["bucket_ms"]): r["sum_value"] for r in roll.read().collect()}
    assert rows3 == rows2


def test_multimodal_resize(spark):
    from monolith_spark.operators import multimodal as mm

    docs = spark.createDataFrame(
        [(1, "x" * 300), (2, "short")], "doc_id long, text string"
    )
    out = mm.resize_media(mm.attach_payload(docs), width=4, height=4).collect()
    rows = {r["media_id"]: r for r in out}
    assert all(len(r["payload"]) == 16 for r in rows.values())
    assert rows[1]["meta"]["width"] == 4 and rows[1]["meta"]["n_bytes"] == 16
    # short payloads zero-padded, long ones stride-sampled — deterministic
    assert rows[2]["payload"] == b"short" + b"\x00" * 11
    again = {r["media_id"]: r["payload"]
             for r in mm.resize_media(mm.attach_payload(docs), 4, 4).collect()}
    assert again == {k: r["payload"] for k, r in rows.items()}


def test_windowed_aggregation_with_watermark(spark, tmp_path):
    # The Structured Streaming idiom replacing the reference's chunk
    # machinery for aggregation: watermark + tumbling window.
    src = str(tmp_path / "src")
    _write_slice(
        spark, src,
        [({"m": "w"}, t, float(i)) for i, t in enumerate([1_000, 2_000, 61_000, 65_000])],
    )
    stream = samples_file_stream(spark, src)
    agg = (
        stream.withColumn("event_time", F.timestamp_millis(F.col("timestamp")))
        .withWatermark("event_time", "10 seconds")
        .groupBy(F.window("event_time", "60 seconds"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_agg")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = {r["window"]["start"].minute: (r["n"], r["s"]) for r in
            spark.sql("SELECT * FROM win_agg").collect()}
    assert rows[0] == (2, 1.0)   # window [00:00, 01:00)
    assert rows[1] == (2, 5.0)   # window [01:00, 02:00)

def test_session_stream_gap_semantics(spark, tmp_path):
    from monolith_spark.streaming.ingest import session_stream

    src = str(tmp_path / "src")
    # series "s": points at 1s, 2s, 50s with a 10s gap → two sessions
    # ([1s..2s] n=2, [50s] n=1); series "t": one point, one session.
    _write_slice(
        spark, src,
        [({"m": "s"}, 1_000, 1.0), ({"m": "s"}, 2_000, 2.0),
         ({"m": "s"}, 50_000, 3.0), ({"m": "t"}, 5_000, 9.0)],
    )
    out = session_stream(samples_file_stream(spark, src), gap="10 seconds")
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM sess").collect()
    from pyspark.sql import functions as F

    from monolith_spark.labels import series_id_expr

    ids = {
        r["m"]: r["sid"]
        for r in spark.createDataFrame([("s",), ("t",)], "m string")
        .select("m", F.create_map(F.lit("m"), F.col("m")).alias("lm"))
        .select("m", series_id_expr("lm").alias("sid"))
        .collect()
    }
    sid_s, sid_t = ids["s"], ids["t"]
    sess = {(r["series_id"], r["session_start_ms"]): (r["session_end_ms"], r["n_points"], r["sum_value"])
            for r in rows}
    # session end = last event + gap (session_window semantics)
    assert sess[(sid_s, 1_000)] == (12_000, 2, 3.0)
    assert sess[(sid_s, 50_000)] == (60_000, 1, 3.0)
    assert sess[(sid_t, 5_000)] == (15_000, 1, 9.0)
    assert len(sess) == 3


@pytest.mark.slow
def test_streaming_neardup_index_within_and_cross_batch(spark, tmp_path):
    from monolith_spark.streaming.neardup import StreamingNearDupIndex

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs_schema = "doc_id long, text string"
    src = str(tmp_path / "docs")
    # slice 1: doc 2 is a near-dup of doc 1; doc 10 unrelated
    spark.createDataFrame(
        [(1, base), (2, base + " tonight"),
         (10, "completely different words about spark engines and parquet files")],
        docs_schema,
    ).coalesce(1).write.mode("append").parquet(src)
    # slice 2: doc 3 is a near-dup of doc 1 (cross-batch); doc 11 unique
    spark.createDataFrame(
        [(3, base + " always"),
         (11, "yet another unrelated document mentioning neither foxes nor dogs at all")],
        docs_schema,
    ).coalesce(1).write.mode("append").parquet(src)

    idx = StreamingNearDupIndex(spark, str(tmp_path / "idx"))
    stream = (
        spark.readStream.schema(docs_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = idx.start(stream, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    got = {(r["new_doc_id"], r["old_doc_id"]) for r in idx.matches().collect()}
    assert (2, 1) in got          # within-batch
    assert (3, 1) in got          # cross-batch against the persisted index
    assert (3, 2) in got          # cross-batch against batch-1's second doc
    assert all(n not in (10, 11) for n, _ in got)   # uniques match nothing
    assert all(o not in (10, 11) for _, o in got)

    # replaying a completed epoch is a no-op (ledger fast path)
    before = {(r["new_doc_id"], r["old_doc_id"], r["jaccard"])
              for r in idx.matches().collect()}
    batch1 = spark.read.parquet(src)
    idx.process_batch(batch1, epoch_id=0)
    assert {(r["new_doc_id"], r["old_doc_id"], r["jaccard"])
            for r in idx.matches().collect()} == before

    # crash-replay: epoch 1's writes landed but the ledger mark didn't.
    # The rerun must overwrite epoch 1's partitions and must NOT match
    # the batch against its own persisted signatures (no self-pairs,
    # no duplicates).
    import os

    slice2 = spark.createDataFrame(
        [(3, base + " always"),
         (11, "yet another unrelated document mentioning neither foxes nor dogs at all")],
        docs_schema,
    )
    os.remove(os.path.join(idx._epochs_dir, "1.done"))
    idx.process_batch(slice2, epoch_id=1)
    assert {(r["new_doc_id"], r["old_doc_id"], r["jaccard"])
            for r in idx.matches().collect()} == before


def test_streaming_anomalies_prequential(spark, tmp_path):
    # Prequential z-score: a planted spike must be flagged once its
    # series has >= min_points priors; state (and therefore scoring)
    # must carry across micro-batches.
    from monolith_spark.labels import series_id_expr
    from monolith_spark.streaming.anomaly import (
        prequential_anomalies_batch,
        streaming_anomalies,
    )

    src = str(tmp_path / "src")
    steady = [({"m": "a"}, 1000 * t, float(10 + (t % 2))) for t in range(1, 7)]
    _write_slice(spark, src, steady)
    # batch 2: one more steady point, then the spike; plus an
    # all-steady series that must never fire
    _write_slice(spark, src, [({"m": "a"}, 7000, 11.0), ({"m": "a"}, 8000, 99.0),
                              ({"m": "b"}, 1000, 5.0)])

    stream = samples_file_stream(spark, src, max_files_per_trigger=1)
    keyed = stream.select(
        series_id_expr("labels").alias("series_id"), "timestamp", "value"
    )
    q = (
        streaming_anomalies(keyed, min_points=5, threshold=3.0)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("anomalies")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = sorted(
        (r["series_id"], r["timestamp"], r["value"], r["zscore"])
        for r in spark.sql("SELECT * FROM anomalies").collect()
    )
    # python twin over the SAME points in the same order
    df = spark.read.parquet(src).select(
        series_id_expr("labels").alias("series_id"), "timestamp", "value"
    )
    rows = [(r["series_id"], r["timestamp"], r["value"]) for r in df.collect()]
    want = sorted(prequential_anomalies_batch(rows, min_points=5, threshold=3.0))
    assert got == want
    # exactly the planted spike, nothing else
    assert len(got) == 1 and got[0][2] == 99.0


@pytest.mark.slow
def test_attribution_stream_matches_batch(spark, tmp_path, sf_dir):
    """Stream-stream interval join (views ⋈ purchases within 1 h by
    user): driving the fixture events through file micro-batches must
    produce exactly the batch twin's pairs, including pairs whose view
    and purchase arrive in DIFFERENT micro-batches (buffered in join
    state until the partner side shows up)."""
    from monolith_spark.streaming.joins import attribution_batch, attribution_stream

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    expected = {
        (r["view_id"], r["purchase_id"], r["lag_ms"])
        for r in attribution_batch(ev, horizon_minutes=60).collect()
    }
    assert expected  # fixture must actually exercise the join

    # Slice by ts so partners of a pair can land in different batches.
    src = str(tmp_path / "ev_src")
    ordered = ev.orderBy("ts").coalesce(1)
    n = ordered.count()
    rows = ordered.collect()
    for i in range(3):
        spark.createDataFrame(
            rows[i * n // 3: (i + 1) * n // 3], ev.schema
        ).coalesce(1).write.mode("append").parquet(src)

    stream = attribution_stream(
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        horizon_minutes=60,
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["view_id"], r["purchase_id"], r["lag_ms"])
        for r in spark.sql("SELECT * FROM attrib").collect()
    }
    assert got == expected


@pytest.mark.slow
def test_attribution_stream_left_outer_emits_expired_views(spark, tmp_path, sf_dir):
    """left_outer mode: a view with no qualifying purchase is emitted
    (NULL purchase columns) once the watermark proves its horizon
    closed. With the final watermark at max_ts - 30min, every
    unmatched view older than max_ts - 90min (horizon 60 + delay 30)
    must have been flushed; inner pairs must still match the batch
    twin exactly."""
    from monolith_spark.streaming.joins import attribution_batch, attribution_stream

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    inner = {
        (r["view_id"], r["purchase_id"])
        for r in attribution_batch(ev, horizon_minutes=60).collect()
    }
    matched_views = {v for v, _ in inner}
    import pyspark.sql.functions as F

    max_ms = ev.agg(F.max(F.unix_millis(F.col("ts").cast("timestamp")))).first()[0]
    expired_unmatched = {
        r["event_id"]
        for r in ev.filter(
            (F.col("event_type") == "view")
            & (F.unix_millis(F.col("ts").cast("timestamp"))
               < max_ms - 90 * 60_000)
        ).collect()
        if r["event_id"] not in matched_views
    }

    src = str(tmp_path / "ev_src")
    rows = ev.orderBy("ts").collect()
    n = len(rows)
    for i in range(3):
        spark.createDataFrame(
            rows[i * n // 3: (i + 1) * n // 3], ev.schema
        ).coalesce(1).write.mode("append").parquet(src)

    q = (
        attribution_stream(
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            horizon_minutes=60,
            how="left_outer",
        )
        .writeStream.format("memory")
        .queryName("attrib_outer")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql("SELECT * FROM attrib_outer").collect()
    got_inner = {
        (r["view_id"], r["purchase_id"]) for r in out
        if r["purchase_id"] is not None
    }
    got_outer = {r["view_id"] for r in out if r["purchase_id"] is None}
    assert got_inner == inner
    # Everything emitted as unmatched must truly have no partner, and
    # every provably-expired unmatched view must have been emitted.
    assert got_outer.isdisjoint(matched_views)
    assert expired_unmatched <= got_outer


@pytest.mark.slow
def test_streaming_ivf_index_appends_and_replays(spark, tmp_path, sf_dir):
    """StreamingIVFIndex: embeddings streamed in 3 micro-batches under
    fixed centroids must yield a probe-able index equal to the batch
    ivf_topk over the full corpus; replaying an epoch (crash recovery)
    must not duplicate rows."""
    from monolith_spark.operators import similarity
    from monolith_spark.streaming.ivf import StreamingIVFIndex

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = similarity.train_ivf_centroids(embs, nlist=8)
    queries = embs.filter(F.col("vec_id") < 8).withColumnRenamed("vec_id", "query_id")

    src = str(tmp_path / "emb_src")
    rows = embs.orderBy("vec_id").collect()
    n = len(rows)
    for i in range(3):
        spark.createDataFrame(
            rows[i * n // 3: (i + 1) * n // 3], embs.schema
        ).coalesce(1).write.mode("append").parquet(src)

    idx = StreamingIVFIndex(spark, str(tmp_path / "ivf"), centroids=cents)
    q = idx.start(
        spark.readStream.schema(embs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()

    want = sorted(
        map(tuple, similarity.ivf_topk(
            embs, queries, k=10, nlist=8, nprobe=4, centroids=cents
        ).collect())
    )
    got = similarity.ivf_topk_indexed(
        spark, str(tmp_path / "ivf"), queries, k=10, nprobe=4
    )
    assert sorted(map(tuple, got.collect())) == want

    # Crash replay: wipe epoch 1's ledger mark and half its output,
    # then re-process the same batch — overwrite restores it exactly.
    import os
    import shutil

    edir = str(tmp_path / "ivf" / "epoch_id=1")
    os.remove(str(tmp_path / "ivf" / "_epochs" / "1.done"))
    cells = [d for d in os.listdir(edir) if d.startswith("cell=")]
    shutil.rmtree(os.path.join(edir, cells[0]))
    batch1 = spark.createDataFrame(rows[n // 3: 2 * n // 3], embs.schema)
    idx.process_batch(batch1, 1)
    got2 = similarity.ivf_topk_indexed(
        spark, str(tmp_path / "ivf"), queries, k=10, nprobe=4
    )
    assert sorted(map(tuple, got2.collect())) == want


def test_continuous_cms_matches_batch_sketch(spark, tmp_path):
    """Per-epoch CMS partials must merge to exactly the batch sketch of
    all streamed keys; replays must not double-count."""
    from monolith_spark.operators.sketches import cms_sketch
    from monolith_spark.streaming.cms import ContinuousCMS

    src = str(tmp_path / "toks")
    for words in (["a", "b", "a"], ["b", "c", "a"], ["c", "c", "c"]):
        spark.createDataFrame([(w,) for w in words], "key string") \
            .coalesce(1).write.mode("append").parquet(src)

    cms = ContinuousCMS(spark, str(tmp_path / "cms"), depth=3, width=64)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = cms.start(stream, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    all_keys = spark.read.parquet(src)
    batch = {(r["d"], r["bucket"]): r["n"]
             for r in cms_sketch(all_keys, "key", 3, 64).collect()}
    streamed = {(r["d"], r["bucket"]): r["n"] for r in cms.sketch().collect()}
    assert streamed == batch

    est = {r["key"]: r["cms_n"]
           for r in cms.estimate(spark.createDataFrame(
               [("a",), ("b",), ("c",), ("zzz",)], "key string")).collect()}
    assert est["a"] >= 3 and est["b"] >= 2 and est["c"] >= 4
    # upper-bound property holds for absent keys too (0 or collision)
    assert est["zzz"] >= 0

    # replayed epoch is a no-op
    cms.process_batch(spark.createDataFrame([("a",)] * 100, "key string"), epoch_id=0)
    assert {(r["d"], r["bucket"]): r["n"] for r in cms.sketch().collect()} == batch


@pytest.mark.slow
def test_continuous_nb_model_matches_batch_classifier(spark, tmp_path):
    """Per-epoch NB count partials must merge to exactly the batch
    model; scoring the streamed corpus against the merged model must
    equal the one-shot self-supervised classifier; replays no-op."""
    from monolith_spark.operators.text import nb_quality_classifier, nb_token_counts
    from monolith_spark.streaming.nbmodel import ContinuousNBModel

    body = ("the quick brown fox of the meadow and the hill ran to the "
            "river in the morning and drank of the cool water then slept "
            "in the shade of a tall tree")  # gate-passing
    rows = [
        (1, body), (2, body.replace("quick", "lazy")),
        (3, "zx9 qq7 blob blob zx9 junk junk qq7"),
        (4, "the fox drank of the cool river water and slept"),
        (5, "asdf jkl zx9 qq7 blob junk asdf jkl"),
        (6, body.replace("fox", "owl")),
    ]
    src = str(tmp_path / "docs")
    for lo, hi in ((0, 2), (2, 4), (4, 6)):
        spark.createDataFrame(rows[lo:hi], "doc_id long, text string") \
            .coalesce(1).write.mode("append").parquet(src)

    model = ContinuousNBModel(spark, str(tmp_path / "nb"))
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = model.start(stream, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    all_docs = spark.read.parquet(src)
    batch_counts = {r["tok"]: (r["c_pos"], r["c_neg"])
                    for r in nb_token_counts(all_docs).collect()}
    streamed = {r["tok"]: (r["c_pos"], r["c_neg"])
                for r in model.counts().collect()}
    assert streamed == batch_counts

    want = sorted(map(tuple, nb_quality_classifier(all_docs).collect()))
    got = sorted(map(tuple, model.score(all_docs).collect()))
    assert got == want

    # replayed epoch is a no-op
    model.process_batch(
        spark.createDataFrame([(99, body)], "doc_id long, text string"), epoch_id=0)
    assert {r["tok"]: (r["c_pos"], r["c_neg"])
            for r in model.counts().collect()} == batch_counts


def test_continuous_k_anonymity_matches_batch_release(spark, tmp_path):
    """The streamed release must equal the batch k_anonymous_release
    over the concatenated stream: exact distinct users per group (a
    privacy bound may never ride an approximate distinct), additive
    event counts, idempotent replays."""
    from monolith_spark.operators.privacy import k_anonymous_release
    from monolith_spark.streaming.privacy import ContinuousKAnonymity

    slices = [
        [("click", 1), ("click", 2), ("view", 1)],
        [("click", 3), ("click", 1), ("view", 1)],   # user 1 repeats
        [("click", 4), ("click", 5), ("view", 2)],
    ]
    src = str(tmp_path / "ev")
    for s in slices:
        spark.createDataFrame(s, "event_type string, user_id long") \
            .coalesce(1).write.mode("append").parquet(src)

    ka = ContinuousKAnonymity(
        spark, str(tmp_path / "ka"), quasi_cols=["event_type"], k=4)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = ka.start(stream, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    all_ev = spark.read.parquet(src)
    want = sorted(map(tuple, k_anonymous_release(
        all_ev, ["event_type"], k=4).collect()))
    got = sorted(map(tuple, ka.release().collect()))
    assert got == want
    # 'click' has 5 distinct users -> released; 'view' only 2 -> absent
    assert [r[0] for r in got] == ["click"]
    assert got[0][1] == 5 and got[0][2] == 6

    # replayed epoch is a no-op
    ka.process_batch(
        spark.createDataFrame([("view", 9)], "event_type string, user_id long"),
        epoch_id=0)
    assert sorted(map(tuple, ka.release().collect())) == want


def test_rollup_tiering_survives_raw_retention(spark, tmp_path):
    """The classic TSDB tiering lifecycle: continuous rollup keeps the
    downsampled history while raw-chunk retention deletes old
    partitions — after the drop, the rollup still answers for the
    aged-out window and raw queries serve only the retained one."""
    from monolith_spark.streaming.rollup import ContinuousRollup

    src = str(tmp_path / "src")
    # chunk 0: [0, 60s); chunk 1: [60s, 120s)
    _write_slice(spark, src, [({"m": "a"}, 1_000, 2.0), ({"m": "a"}, 2_000, 4.0)])
    _write_slice(spark, src, [({"m": "a"}, 61_000, 8.0)])

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    ingest = StreamingIngest(db, late_policy="keep")
    roll = ContinuousRollup(db, step_ms=60_000)
    q1 = ingest.start(samples_file_stream(spark, src), str(tmp_path / "ck1"))
    q1.processAllAvailable(); q1.stop()
    q2 = roll.start(samples_file_stream(spark, src), str(tmp_path / "ck2"))
    q2.processAllAvailable(); q2.stop()

    assert db.drop_chunks_before(60_000) == 1  # chunk 0 aged out

    # raw: only the retained chunk remains
    raw = db.query({}, 0, 200_000).collect()
    assert len(raw) == 1
    assert [(p["timestamp"], p["value"]) for p in raw[0]["points"]] == [(61_000, 8.0)]

    # rollup: full history still served, including the dropped window
    buckets = {r["bucket_ms"]: r for r in roll.read().collect()}
    assert buckets[0]["sum_value"] == 6.0 and buckets[0]["n_points"] == 2
    assert buckets[0]["avg_value"] == 3.0
    assert buckets[60_000]["sum_value"] == 8.0

    # retention is idempotent and never touches surviving chunks
    assert db.drop_chunks_before(60_000) == 0


def test_continuous_hll_matches_exact_distinct(spark, tmp_path):
    """Per-epoch HLL partials union to the exact per-day distinct count
    (coupon mode is exact at these cardinalities), across batch
    boundaries that split a day; replays never double-count."""
    from monolith_spark.streaming.hll import ContinuousHLL

    src = str(tmp_path / "ev")
    # day d1: users u0..u9 split across two batches (u5..u9 repeated);
    # day d2: users u0..u4
    spark.createDataFrame(
        [("d1", f"u{i}") for i in range(8)], "day string, user string"
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [("d1", f"u{i}") for i in range(5, 10)] + [("d2", f"u{i}") for i in range(5)],
        "day string, user string",
    ).coalesce(1).write.mode("append").parquet(src)

    hll = ContinuousHLL(spark, str(tmp_path / "hll"), "user", ["day"])
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = hll.start(stream, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    got = {r["day"]: r["n_distinct"] for r in hll.read().collect()}
    assert got == {"d1": 10, "d2": 5}

    # replayed epoch is a no-op
    hll.process_batch(
        spark.createDataFrame([("d1", "uNEW")], "day string, user string"), epoch_id=0
    )
    assert {r["day"]: r["n_distinct"] for r in hll.read().collect()} == got


def test_streaming_minibatch_kmeans_matches_python_twin(spark, tmp_path):
    import random

    from monolith_spark.streaming.kmeans import (
        StreamingKMeans,
        minibatch_kmeans_batch,
    )

    rng = random.Random(7)
    centers = [[5.0, 5.0, 5.0, 5.0], [-5.0, -5.0, -5.0, -5.0]]
    slices = []
    vid = 0
    for _ in range(3):  # 3 micro-batches
        sl = []
        for _ in range(20):
            c = centers[vid % 2]
            sl.append((vid, [x + rng.uniform(-1, 1) for x in c]))
            vid += 1
        slices.append(sl)

    src = str(tmp_path / "src")
    for sl in slices:
        spark.createDataFrame(
            sl, "vec_id long, embedding array<double>"
        ).coalesce(1).write.mode("append").parquet(src)

    seeds = [[0.0, 0.0, 0.0, 1.0], [0.0, 0.0, 0.0, -1.0]]
    km = StreamingKMeans(spark, str(tmp_path / "km"), [list(s) for s in seeds])
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = km.start(stream, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    # file-stream batch order = file write order; twin applies the same
    # mini-batch rule over the same slices
    want_c, want_n = minibatch_kmeans_batch(slices, [list(s) for s in seeds])
    assert km._counts == want_n and sum(want_n) == 60
    for got, want in zip(km.centroids, want_c):
        assert all(abs(a - b) < 1e-9 for a, b in zip(got, want)), (got, want)
    # converged near the planted centers (order follows the seeds' sign)
    for got, center in zip(km.centroids, centers):
        assert all(abs(a - b) < 1.0 for a, b in zip(got, center)), (got, center)

    # replaying a committed epoch is a no-op; assignments are queryable
    state_before = [list(c) for c in km.centroids]
    km.process_batch(spark.read.parquet(src), epoch_id=0)
    assert km.centroids == state_before
    assigned = spark.read.parquet(str(tmp_path / "km")).where("epoch_id >= 0")
    assert assigned.count() == 60
    assert set(r["cluster_id"] for r in assigned.collect()) == {0, 1}


def test_streaming_winnow_index_copy_detection(spark, tmp_path):
    from monolith_spark.streaming.winnow import StreamingWinnowIndex

    shared = "alpha beta gamma delta epsilon zeta"  # >= w+k-1 = 6 tokens
    docs_schema = "doc_id long, text string"
    src = str(tmp_path / "docs")
    # slice 1: docs 1 and 2 share the run (within-batch); 10 unrelated
    spark.createDataFrame(
        [(1, "intro words " + shared + " outro"),
         (2, shared + " trailing content here"),
         (10, "one two three four five six seven eight")],
        docs_schema,
    ).coalesce(1).write.mode("append").parquet(src)
    # slice 2: doc 3 copies the run (cross-batch); 11 unique
    spark.createDataFrame(
        [(3, "prefix " + shared + " suffix tokens"),
         (11, "unrelated vocabulary entirely different from both batches")],
        docs_schema,
    ).coalesce(1).write.mode("append").parquet(src)

    idx = StreamingWinnowIndex(spark, str(tmp_path / "idx"))
    stream = (
        spark.readStream.schema(docs_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = idx.start(stream, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    rows = idx.matches().collect()
    got = {(r["new_doc_id"], r["old_doc_id"]) for r in rows}
    assert (2, 1) in got          # within-batch
    assert (3, 1) in got and (3, 2) in got   # cross-batch
    assert all(10 not in p and 11 not in p for p in got)
    assert all(r["shared"] >= 1 and 0 < r["containment"] <= 1 for r in rows)

    # completed-epoch replay is a no-op
    before = sorted((r["new_doc_id"], r["old_doc_id"], r["shared"]) for r in rows)
    idx.process_batch(spark.read.parquet(src), epoch_id=0)
    after = sorted(
        (r["new_doc_id"], r["old_doc_id"], r["shared"]) for r in idx.matches().collect()
    )
    assert after == before


def test_continuous_kmv_matches_batch_sketch(spark, tmp_path):
    from monolith_spark.operators.sketches import kmv_estimate, kmv_sketch
    from monolith_spark.streaming.kmv import ContinuousKMV

    schema = "grp string, key string"
    src = str(tmp_path / "keys")
    spark.createDataFrame(
        [("g", f"x{i}") for i in range(300)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [("g", f"x{i}") for i in range(200, 500)] + [("h", "solo")], schema
    ).coalesce(1).write.mode("append").parquet(src)

    kmv = ContinuousKMV(spark, str(tmp_path / "kmv"), key_col="key", group_cols=["grp"])
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = kmv.start(stream, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    # streamed merge == one-shot batch sketch over all data
    batch = kmv_sketch(spark.read.parquet(src), "key", ["grp"])
    assert sorted(
        (r["grp"], r["h"]) for r in kmv.sketch().collect()
    ) == sorted((r["grp"], r["h"]) for r in batch.collect())
    est = {r["grp"]: r["kmv_est"] for r in kmv.estimate().collect()}
    assert est["h"] == 1.0
    assert abs(est["g"] - 500) / 500 < 0.4
    # replayed epoch is a no-op
    kmv.process_batch(spark.read.parquet(src), epoch_id=0)
    assert sorted(
        (r["grp"], r["h"]) for r in kmv.sketch().collect()
    ) == sorted((r["grp"], r["h"]) for r in batch.collect())


def test_streaming_winnow_crash_replay_is_idempotent(spark, tmp_path):
    import os

    from monolith_spark.streaming.winnow import StreamingWinnowIndex

    shared = "alpha beta gamma delta epsilon zeta"
    docs_schema = "doc_id long, text string"
    b1 = spark.createDataFrame([(1, "aa bb " + shared)], docs_schema)
    b2 = spark.createDataFrame([(2, shared + " cc dd")], docs_schema)
    idx = StreamingWinnowIndex(spark, str(tmp_path / "idx"))
    idx.process_batch(b1, epoch_id=0)
    idx.process_batch(b2, epoch_id=1)
    before = sorted(
        (r["new_doc_id"], r["old_doc_id"], r["shared"]) for r in idx.matches().collect()
    )
    assert before, "cross-batch match expected"
    # crash between epoch-1's writes and its ledger mark: the rerun
    # must overwrite epoch 1's partitions — no self-matches against its
    # own half-persisted fingerprints, no duplicate match rows
    os.remove(os.path.join(idx._epochs_dir, "1.done"))
    idx.process_batch(b2, epoch_id=1)
    after = sorted(
        (r["new_doc_id"], r["old_doc_id"], r["shared"]) for r in idx.matches().collect()
    )
    assert after == before
    assert all(n != o for n, o, _ in after)


def test_continuous_kmv_crash_replay_overwrites_epoch(spark, tmp_path):
    import os

    from monolith_spark.streaming.kmv import ContinuousKMV

    schema = "grp string, key string"
    b1 = spark.createDataFrame([("g", f"x{i}") for i in range(100)], schema)
    b2 = spark.createDataFrame([("g", f"y{i}") for i in range(100)], schema)
    kmv = ContinuousKMV(spark, str(tmp_path / "kmv"), key_col="key", group_cols=["grp"])
    kmv.process_batch(b1, epoch_id=0)
    kmv.process_batch(b2, epoch_id=1)
    before = sorted(r["h"] for r in kmv.sketch().collect())
    # crash after epoch-1's parquet write, before the ledger mark
    os.remove(os.path.join(kmv._epochs_dir, "1.done"))
    kmv.process_batch(b2, epoch_id=1)
    assert sorted(r["h"] for r in kmv.sketch().collect()) == before


def test_continuous_length_gate_matches_batch_thresholds(spark, tmp_path):
    from monolith_spark.streaming.gates import ContinuousLengthGate
    from monolith_spark.workload import all_queries

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    rows = []
    did = 0
    for src, lens in (("a", range(5, 45)), ("b", range(60, 80))):
        for n in lens:
            rows.append((did, " ".join(f"w{j}" for j in range(n)), "en", src, n * 3))
            did += 1
    src_dir = str(tmp_path / "docs")
    half = len(rows) // 2
    spark.createDataFrame(rows[:half], schema).coalesce(1).write.mode("append").parquet(src_dir)
    spark.createDataFrame(rows[half:], schema).coalesce(1).write.mode("append").parquet(src_dir)

    gate = ContinuousLengthGate(spark, str(tmp_path / "gate"))
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_dir)
    q = gate.start(stream, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    got = {r["source"]: (r["q05_tokens"], r["q95_tokens"]) for r in gate.thresholds().collect()}
    # batch gate over the same corpus must produce identical bands
    spark.read.parquet(src_dir).write.parquet(f"{tmp_path}/fix/documents.parquet")
    batch = all_queries()["docs_adaptive_length_gate"].spark_fn(spark, str(tmp_path / "fix"))
    expect = {
        r["source"]: (r["q05_tokens"], r["q95_tokens"])
        for r in batch.select("source", "q05_tokens", "q95_tokens").distinct().collect()
    }
    assert got == expect
    # replayed epoch is a no-op
    gate.process_batch(spark.read.parquet(src_dir), epoch_id=0)
    assert {
        r["source"]: (r["q05_tokens"], r["q95_tokens"]) for r in gate.thresholds().collect()
    } == expect


def test_continuous_correlation_matches_batch_query(spark, tmp_path):
    from monolith_spark.sources.events import events_samples
    from monolith_spark.streaming.correlation import ContinuousCorrelation
    from monolith_spark.workload import all_queries

    sf_dir = "/root/testdata/sf0.001"
    samples = events_samples(spark, sf_dir)  # includes signature
    # two deterministic micro-batch slices of the same corpus
    src_dir = str(tmp_path / "slices")
    for half in (0, 1):
        (
            samples.filter(F.pmod(F.xxhash64("timestamp", "value"), F.lit(2)) == half)
            .coalesce(1)
            .write.mode("append")
            .parquet(src_dir)
        )

    cc = ContinuousCorrelation(spark, str(tmp_path / "corr"))
    stream = (
        spark.readStream.schema(samples.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = cc.start(stream, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    got = {r["signature"]: (r["n_days"], r["corr"]) for r in cc.correlations().collect()}
    batch = all_queries()["ts_correlated_series"].spark_fn(spark, sf_dir)
    expect = {r["signature"]: (r["n_days"], r["corr"]) for r in batch.collect()}
    assert got == expect  # bit-exact: DECIMAL partials re-associate
    assert len(got) > 0

    # the lagged argmax derives from the SAME state, == batch
    got_lead = {
        r["signature"]: (r["best_lag"], r["n_days"], r["corr"])
        for r in cc.leading_indicators().collect()
    }
    lead = all_queries()["ts_leading_indicator"].spark_fn(spark, sf_dir)
    expect_lead = {
        r["signature"]: (r["best_lag"], r["n_days"], r["corr"])
        for r in lead.collect()
    }
    assert got_lead == expect_lead

    # replayed epoch is a no-op
    cc.process_batch(samples, epoch_id=0)
    assert {
        r["signature"]: (r["n_days"], r["corr"]) for r in cc.correlations().collect()
    } == expect


def test_continuous_gate_drift_matches_batch_query(spark, tmp_path):
    from monolith_spark.streaming.gates import ContinuousLengthGate
    from monolith_spark.workload import all_queries

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src_dir = str(tmp_path / "slices")
    for half in (0, 1):
        (
            docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == half)
            .coalesce(1)
            .write.mode("append")
            .parquet(src_dir)
        )

    gate = ContinuousLengthGate(spark, str(tmp_path / "gate"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = gate.start(stream, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    got = {r["source"]: (r["n_docs"], r["tv_dist"]) for r in gate.drift().collect()}
    batch = all_queries()["docs_distribution_drift"].spark_fn(spark, sf_dir)
    expect = {r["source"]: (r["n_docs"], r["tv_dist"]) for r in batch.collect()}
    assert got == expect  # integer statistics: streamed == batch exactly
    assert len(got) > 1


def test_streaming_image_dedup_index(spark, tmp_path):
    """Online image dedup: within-batch near-dup, cross-batch exact
    re-upload and near-dup, uniques match nothing, replay idempotence.
    Fixture seeds (3, 4, 5) are verified geometry: each base↔inverted
    pair is within Hamming 6–7, all cross-seed distances exceed the
    threshold."""
    import os

    from monolith_spark.operators import multimodal as mm
    from monolith_spark.streaming.phashdup import StreamingImageDedupIndex

    def img(seed, pert=False):
        base = mm.synth_image_varied(seed, 8 + seed % 5, 8 + seed % 3)
        return mm.encode_ppm(mm.invert_corner_block(base) if pert else base)

    schema = "media_id long, payload binary"
    src = str(tmp_path / "media")
    # slice 1: 2 is a near-dup of 1 (same seed, inverted corner); 10 unique
    spark.createDataFrame(
        [(1, img(3)), (2, img(3, pert=True)), (10, img(4))], schema
    ).coalesce(1).write.mode("append").parquet(src)
    # slice 2: 3 re-uploads image 1 exactly; 4 is a near-dup of 10; 11 unique
    spark.createDataFrame(
        [(3, img(3)), (4, img(4, pert=True)), (11, img(5))], schema
    ).coalesce(1).write.mode("append").parquet(src)

    idx = StreamingImageDedupIndex(spark, str(tmp_path / "idx"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = idx.start(stream, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    got = {(r["new_media_id"], r["old_media_id"]): r["hamming"]
           for r in idx.matches().collect()}
    assert got[(2, 1)] in range(1, 8)       # within-batch near-dup
    assert got[(3, 1)] == 0                 # cross-batch exact re-upload
    assert (3, 2) in got                    # cross-batch near-dup (pert side)
    assert got[(4, 10)] in range(1, 8)      # cross-batch near-dup
    assert set(got) == {(2, 1), (3, 1), (3, 2), (4, 10)}

    # replaying a completed epoch is a no-op (ledger fast path)
    slice2 = spark.createDataFrame(
        [(3, img(3)), (4, img(4, pert=True)), (11, img(5))], schema
    )
    idx.process_batch(slice2, epoch_id=1)
    assert {(r["new_media_id"], r["old_media_id"]) for r in idx.matches().collect()} \
        == {(2, 1), (3, 1), (3, 2), (4, 10)}

    # crash-replay: epoch 1's writes landed but the ledger mark didn't;
    # the rerun overwrites epoch 1's partitions without double-matching
    os.remove(os.path.join(str(tmp_path / "idx"), "_epochs", "1.done"))
    idx.process_batch(slice2, epoch_id=1)
    rows = idx.matches().collect()
    assert len(rows) == 4
    assert {(r["new_media_id"], r["old_media_id"]) for r in rows} \
        == {(2, 1), (3, 1), (3, 2), (4, 10)}


@pytest.mark.slow
def test_continuous_bigram_lm_matches_batch(spark, tmp_path):
    """Per-epoch unigram/bigram count partials must merge to exactly
    the batch tables; scoring and bucketing the streamed corpus
    against the merged model must equal the one-shot batch operator;
    replays no-op."""
    from monolith_spark.operators.ranking import ntile_expr, with_exact_rank
    from monolith_spark.operators.text import (
        bigram_lm_score,
        doc_bigrams,
        tokens_expr,
    )
    from monolith_spark.streaming.bigramlm import ContinuousBigramLM

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox naps under the tall tree"),
        (3, "a slow green turtle walks past the lazy dog"),
        (4, "the lazy dog sleeps and the quick fox jumps"),
        (5, "rivers run cold in the deep green valley every morning"),
        (6, "every morning the valley wakes to cold rivers and fog"),
    ]
    src = str(tmp_path / "docs")
    for lo, hi in ((0, 2), (2, 4), (4, 6)):
        spark.createDataFrame(rows[lo:hi], "doc_id long, text string") \
            .coalesce(1).write.mode("append").parquet(src)

    model = ContinuousBigramLM(spark, str(tmp_path / "lm"))
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = model.start(stream, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    docs = spark.read.parquet(src)
    # merged count tables == batch tables
    from pyspark.sql import functions as F

    batch_uni = {
        r["tok"]: r["c"]
        for r in docs.select(F.explode(tokens_expr("text")).alias("tok"))
        .groupBy("tok").agg(F.count("*").alias("c")).collect()
    }
    got_uni = {r["tok"]: r["c1"] for r in model.unigrams().collect()}
    assert got_uni == batch_uni
    batch_bi = {
        r["bg"]: r["c"]
        for r in doc_bigrams(docs).groupBy("bg").agg(F.count("*").alias("c")).collect()
    }
    got_bi = {r["bg"]: r["c2"] for r in model.bigrams().collect()}
    assert got_bi == batch_bi

    # streamed-model scores == batch self-scores (bit-exact)
    batch_scores = {r["doc_id"]: (r["n_bigrams"], r["avg_bigram_p"])
                    for r in bigram_lm_score(docs).collect()}
    got_scores = {r["doc_id"]: (r["n_bigrams"], r["avg_bigram_p"])
                  for r in model.score(docs).collect()}
    assert got_scores == batch_scores

    # streamed-model terciles == the batch bucket construction
    scored = bigram_lm_score(docs).select(
        "doc_id", F.col("avg_bigram_p").alias("lm_score"))
    ranked, cnt, _ = with_exact_rank(
        scored, "lm_score", ["doc_id"], "__rnk", domain=(0.0, 1.0))
    batch_buckets = {r["doc_id"]: r["bucket"] for r in ranked.select(
        "doc_id", ntile_expr("__rnk", cnt, 3).alias("bucket")).collect()}
    got_buckets = {r["doc_id"]: r["bucket"] for r in model.buckets(docs).collect()}
    assert got_buckets == batch_buckets
    assert set(got_buckets.values()) == {1, 2, 3}

    # replaying a completed epoch is a no-op
    model.process_batch(docs, epoch_id=0)
    assert {r["tok"]: r["c1"] for r in model.unigrams().collect()} == batch_uni


def test_continuous_dsir_matches_batch(spark, tmp_path):
    """Per-epoch DSIR bucket-count partials must merge to exactly the
    batch table; scoring the streamed corpus against the merged model
    must equal the one-shot batch dsir_scores bit-for-bit; an unseen-
    vocabulary doc takes the smoothed fallback, not a dropped token;
    replays no-op (idempotent epoch markers)."""
    from pyspark.sql import functions as F

    from monolith_spark.operators.text import dsir_bucket_counts, dsir_scores
    from monolith_spark.streaming.dsir import ContinuousDSIR

    rows = [
        (1, "alpha alpha beta", "wiki"),
        (2, "beta beta gamma", "crawl"),
        (3, "alpha gamma gamma delta", "wiki"),
        (4, "delta beta beta alpha", "crawl"),
        (5, "gamma delta alpha", "crawl"),
        (6, "beta alpha delta delta", "wiki"),
    ]
    src = str(tmp_path / "docs")
    for lo, hi in ((0, 2), (2, 4), (4, 6)):
        spark.createDataFrame(rows[lo:hi], "doc_id long, text string, source string") \
            .coalesce(1).write.mode("append").parquet(src)

    model = ContinuousDSIR(spark, str(tmp_path / "dsir"), "source = 'wiki'")
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = model.start(stream, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    docs = spark.read.parquet(src)
    batch_counts = {
        r["b"]: (r["t_b"], r["r_b"])
        for r in dsir_bucket_counts(docs, F.col("source") == "wiki").collect()
    }
    got_counts = {r["b"]: (r["t_b"], r["r_b"]) for r in model.bucket_counts().collect()}
    assert got_counts == batch_counts

    batch_scores = {
        r["doc_id"]: (r["n_tokens"], r["dsir_score"])
        for r in dsir_scores(docs, F.col("source") == "wiki").collect()
    }
    got_scores = {
        r["doc_id"]: (r["n_tokens"], r["dsir_score"])
        for r in model.score(docs).collect()
    }
    assert got_scores == batch_scores

    # unseen vocabulary scores via the smoothed fallback (never NULL,
    # never token-dropped) and replay is a no-op
    unseen = spark.createDataFrame(
        [(99, "zeta zeta", "crawl")], "doc_id long, text string, source string"
    )
    r = model.score(unseen).collect()[0]
    assert r["n_tokens"] == 2 and r["dsir_score"] is not None

    model.process_batch(spark.read.parquet(src), epoch_id=0)  # marker hit
    assert {r["b"]: (r["t_b"], r["r_b"]) for r in model.bucket_counts().collect()} \
        == batch_counts


def test_streaming_alerts_fire_across_batches(spark, tmp_path):
    """streaming/alerts.py: a breach run SPLIT ACROSS micro-batches
    must fire once with the full span (state carries), a run that
    closes below min_pts resolves silently (pending only), and the
    final open run is reported — closed firings + final open runs
    equal the batch gaps-and-islands semantics on the same points."""
    from monolith_spark.labels import signature_expr
    from monolith_spark.streaming.alerts import streaming_alerts

    src = str(tmp_path / "src")
    # series a: run of 3 split across slices 1|2 (35,40 | 50), dip,
    #   then an isolated breach (pending, never fires)
    # series b: single breach then clear (pending resolved), then an
    #   OPEN 2-run at stream end
    _write_slice(spark, src, [({"m": "a"}, 1000, 35.0), ({"m": "a"}, 2000, 40.0),
                              ({"m": "b"}, 1000, 90.0)])
    _write_slice(spark, src, [({"m": "a"}, 3000, 50.0), ({"m": "b"}, 2000, 3.0)])
    _write_slice(spark, src, [({"m": "a"}, 4000, 9.0), ({"m": "a"}, 5000, 77.0),
                              ({"m": "b"}, 3000, 44.0), ({"m": "b"}, 4000, 61.0)])
    # series b: a LATE out-of-order breach (ts 2500 < last processed
    # 4000) in a later batch must be dropped by the last_seen guard —
    # unguarded it would extend b's open run to n=3 / peak 90
    _write_slice(spark, src, [({"m": "b"}, 2500, 90.0)])

    stream = samples_file_stream(spark, src, max_files_per_trigger=1)
    keyed = stream.select(
        signature_expr("labels").alias("signature"), "timestamp", "value"
    )
    q = (
        streaming_alerts(keyed, tau=30.0, min_pts=2)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("alerts")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    rows = spark.sql("SELECT * FROM alerts").collect()
    fired = [(r["signature"], r["alert_start_ms"], r["alert_end_ms"],
              r["n_breaches"], r["peak_value"])
             for r in rows if r["kind"] == "firing"]
    # exactly one firing: series a's 3-run spanning the batch boundary
    assert fired == [("m=a", 1000, 3000, 3, 50.0)]
    # latest open run per series (update mode re-emits per batch)
    latest_open = {}
    for r in rows:
        if r["kind"] == "open":
            prev = latest_open.get(r["signature"])
            if prev is None or r["alert_end_ms"] > prev["alert_end_ms"]:
                latest_open[r["signature"]] = r
    a, b = latest_open["m=a"], latest_open["m=b"]
    # a's trailing isolated 77 is pending (n=1); b's 2-run is open at
    # >= min_pts — would fire on the next clear point
    assert (a["n_breaches"], a["alert_start_ms"]) == (1, 5000)
    assert (b["n_breaches"], b["alert_start_ms"], b["peak_value"]) == (2, 3000, 61.0)


def test_stream_ingest_keeps_label_index_fresh(spark, tmp_path):
    # Each micro-batch rides write()'s incremental posting maintenance,
    # so a streaming engine keeps serving index-backed queries without
    # ever rebuilding (the reference's insert-time indexer, streamed).
    src = str(tmp_path / "src")
    _write_slice(spark, src, [({"m": "a"}, 1000, 1.0)])

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    ingest = StreamingIngest(db, late_policy="keep")
    q = ingest.start(samples_file_stream(spark, src, max_files_per_trigger=1),
                     str(tmp_path / "ckpt"))
    q.processAllAvailable()
    db.build_label_index()
    _write_slice(spark, src, [({"m": "b"}, 61_000, 2.0), ({"m": "a"}, 62_000, 3.0)])
    q.processAllAvailable()
    q.stop()

    man = db._load_manifest()
    assert db._index_fresh(man)  # fresh after batches
    assert db.query_flat({"m": "b"}, 0, 100_000).count() == 1
    assert db.query_flat({"m": "a"}, 0, 100_000).count() == 2


# ------------------------------------------------------ EpochSink ledger

_DOCS = "doc_id long, text string"
_FOX = "the quick brown fox jumps over the lazy dog near the river bank today"


def _replay_case(spark, tmp_path, name):
    """(sink, epoch-0 batch, epoch-1 batch, read) for one marker-ledger
    sink; ``read()`` is the sink's read state as a list of rows."""
    p = str(tmp_path / name)
    df = spark.createDataFrame
    if name == "cms":
        from monolith_spark.streaming.cms import ContinuousCMS

        sink = ContinuousCMS(spark, p)
        return (sink, df([("a",)] * 3 + [("b",)], "key string"),
                df([("a",), ("c",)], "key string"), lambda: sink.sketch().collect())
    if name == "hll":
        from monolith_spark.streaming.hll import ContinuousHLL

        sink = ContinuousHLL(spark, p, value_col="user", group_cols=["g"])
        sch = "g string, user long"
        return (sink, df([("x", i) for i in range(5)], sch),
                df([("x", i) for i in range(3, 9)], sch), lambda: sink.read().collect())
    if name == "kmv":
        from monolith_spark.streaming.kmv import ContinuousKMV

        sink = ContinuousKMV(spark, p, k=4)
        sch = "grp string, key string"
        return (sink, df([("g", f"x{i}") for i in range(6)], sch),
                df([("g", f"y{i}") for i in range(6)], sch),
                lambda: sink.estimate().collect())
    if name == "privacy":
        from monolith_spark.streaming.privacy import ContinuousKAnonymity

        sink = ContinuousKAnonymity(spark, p, k=1)
        sch = "event_type string, user_id long"
        return (sink, df([("view", 1), ("view", 2)], sch),
                df([("view", 1), ("buy", 3)], sch), lambda: sink.ledger().collect())
    if name == "nbmodel":
        from monolith_spark.streaming.nbmodel import ContinuousNBModel

        sink = ContinuousNBModel(spark, p)
        return (sink, df([(1, _FOX * 3)], _DOCS), df([(2, "short doc")], _DOCS),
                lambda: sink.counts().collect())
    if name == "gates":
        from monolith_spark.streaming.gates import ContinuousLengthGate

        sink = ContinuousLengthGate(spark, p)
        sch = "source string, text string"
        return (sink, df([("s", _FOX), ("s", "a b")], sch), df([("s", _FOX)], sch),
                lambda: sink.histogram().collect())
    if name == "dsir":
        from monolith_spark.streaming.dsir import ContinuousDSIR

        sink = ContinuousDSIR(spark, p, target_pred="source = 't'", n_buckets=16)
        sch = "doc_id long, source string, text string"
        return (sink, df([(1, "t", _FOX), (2, "r", "lorem ipsum dolor")], sch),
                df([(3, "t", "quick fox")], sch), lambda: sink.bucket_counts().collect())
    if name == "bigramlm":
        from monolith_spark.streaming.bigramlm import ContinuousBigramLM

        sink = ContinuousBigramLM(spark, p)
        return (sink, df([(1, _FOX)], _DOCS), df([(2, "the quick red fox")], _DOCS),
                lambda: sink.unigrams().collect() + sink.bigrams().collect())
    if name == "correlation":
        from monolith_spark.streaming.correlation import ContinuousCorrelation

        sink = ContinuousCorrelation(spark, p)
        sch = "labels map<string,string>, timestamp long, value double, signature string"
        day = lambda d: sink.lo + d * sink.day_ms  # noqa: E731
        buy = {"event_type": "purchase"}
        return (sink,
                df([(buy, day(0), 2.0, "s1"), (buy, day(1), 3.0, "s1")], sch),
                df([(buy, day(1), 4.0, "s1"), ({}, day(2), 1.0, "s2")], sch),
                lambda: [r for t in sink._merged() for r in t.collect()])
    if name == "rollup":
        from monolith_spark.streaming.rollup import ContinuousRollup

        sink = ContinuousRollup(MonolithDB(spark, p, chunk_size_ms=60_000), step_ms=60_000)
        return (sink, df([({"m": "a"}, 1_000, 1.0)], SAMPLES_SCHEMA),
                df([({"m": "a"}, 2_000, 5.0), ({"m": "b"}, 61_000, 2.0)], SAMPLES_SCHEMA),
                lambda: sink.read().collect())
    if name == "neardup":
        from monolith_spark.streaming.neardup import StreamingNearDupIndex

        sink = StreamingNearDupIndex(spark, p)
        return (sink, df([(1, _FOX)], _DOCS), df([(2, _FOX), (3, _FOX)], _DOCS),
                lambda: sink.matches().collect())
    if name == "winnow":
        from monolith_spark.streaming.winnow import StreamingWinnowIndex

        sink = StreamingWinnowIndex(spark, p)
        return (sink, df([(1, _FOX)], _DOCS), df([(2, _FOX + " again")], _DOCS),
                lambda: sink.matches().collect())
    if name == "phashdup":
        from monolith_spark.operators import multimodal as mm
        from monolith_spark.streaming.phashdup import StreamingImageDedupIndex

        sink = StreamingImageDedupIndex(spark, p)
        img = mm.encode_ppm(mm.synth_image_varied(3, 11, 8))
        sch = "media_id long, payload binary"
        return (sink, df([(1, img)], sch), df([(2, img), (3, img)], sch),
                lambda: sink.matches().collect())
    if name == "ivf":
        from monolith_spark.streaming.ivf import StreamingIVFIndex

        sink = StreamingIVFIndex(spark, p, centroids=[[1.0, 0.0], [0.0, 1.0]])
        sch = "vec_id long, embedding array<float>"
        return (sink, df([(1, [1.0, 0.1]), (2, [0.1, 1.0])], sch),
                df([(3, [0.9, 0.2])], sch),
                lambda: spark.read.parquet(p).drop("c_vec").collect())
    raise ValueError(name)


@pytest.mark.parametrize("name", [
    "cms", "hll", "kmv", "privacy", "nbmodel", "gates", "dsir", "bigramlm",
    "correlation", "rollup", "neardup", "winnow", "phashdup", "ivf",
])
def test_epoch_sink_crash_replay_is_idempotent(spark, tmp_path, name):
    """Every sink whose epoch writes overwrite the epoch's own
    partition: a crash after epoch 1's writes but before its marker
    replays epoch 1, and the read state stays that of one application.
    A replay of a marked epoch is skipped. (StreamingIngest appends, so
    an unmarked replay would append twice; StreamingKMeans keeps its own
    state-file ledger.)"""
    sink, b0, b1, read = _replay_case(spark, tmp_path, name)
    sink.process_batch(b0, 0)
    sink.process_batch(b1, 1)
    once = sorted(map(repr, read()))
    assert once
    sink.process_batch(b1, 0)  # marked: skipped
    assert sorted(map(repr, read())) == once
    marker = os.path.join(sink._epochs_dir, "1.done")
    assert os.path.exists(marker)
    os.remove(marker)
    sink.process_batch(b1, 1)
    assert sorted(map(repr, read())) == once
    assert os.path.exists(marker)


def test_only_epoch_sink_drives_foreach_batch():
    """Structural guard: in monolith_spark/streaming/, only epoch.py
    calls ``.foreachBatch(`` or builds a ``.done`` marker path; every
    other sink reaches both through EpochSink. Docstrings may mention
    ``.done`` — only code counts."""
    import ast

    import monolith_spark.streaming as pkg

    root = os.path.dirname(pkg.__file__)
    offenders = []
    for fn in sorted(os.listdir(root)):
        if not fn.endswith(".py") or fn == "epoch.py":
            continue
        tree = ast.parse(open(os.path.join(root, fn)).read())
        docstrings = {
            id(node.body[0].value)
            for node in ast.walk(tree)
            if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                 ast.AsyncFunctionDef))
            and node.body and isinstance(node.body[0], ast.Expr)
            and isinstance(node.body[0].value, ast.Constant)
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "foreachBatch":
                offenders.append(f"{fn}:{node.lineno} foreachBatch")
            if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and ".done" in node.value and id(node) not in docstrings):
                offenders.append(f"{fn}:{node.lineno} .done")
    assert offenders == []


def test_two_ingest_streams_into_one_db_keep_their_epochs(spark, tmp_path):
    """Two StreamingIngest streams into ONE db, each with its own
    checkpoint and file source: epoch ids restart at 0 per checkpoint,
    so each stream keeps its own ledger and both streams' series read
    back."""
    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    for job in ("a", "b"):
        src = str(tmp_path / f"src_{job}")
        _write_slice(spark, src, [({"job": job}, 1_000, 1.0)])
        q = StreamingIngest(db).start(
            samples_file_stream(spark, src), str(tmp_path / f"ckpt_{job}"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    jobs = {r["labels"]["job"] for r in db.series().collect()}
    assert jobs == {"a", "b"}
    assert db.query_flat({}, 0, 10**9).count() == 2
    for job in ("a", "b"):  # each stream's ledger lives in its checkpoint
        assert os.path.exists(tmp_path / f"ckpt_{job}" / "_epochs" / "0.done")
