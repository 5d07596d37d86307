#!/usr/bin/env python
"""Scaling headroom probe: ingest + query the engine at 1× and N× the
sf0.1 events (copies shifted in time AND user-label space, so series
count and chunk count scale with the multiplier, not just row count).

Prints one JSON line per multiplier. This is the evidence behind
SCALE.md's "overhead-bound at test scale" claim — rerun after engine
changes to confirm times stay ~flat while data grows 10×.

  python scale_probe.py            # multipliers 1 and 10
  SCALE_PROBE_MULTS=1,5,20 python scale_probe.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from monolith_spark.engine import MonolithDB
from monolith_spark.session import get_spark
from monolith_spark.sources.events import events_samples

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CHUNK_MS = 2 * 86_400_000
MONTH_MS = 31 * 86_400_000


def scaled_samples(spark, mult: int):
    s = events_samples(spark, SF_DIR, with_signature=False)
    parts = [s]
    for i in range(1, mult):
        shifted = s.withColumn(
            "timestamp", F.col("timestamp") + F.lit(i * MONTH_MS)
        ).withColumn(
            "labels",
            F.map_concat(
                F.map_filter(F.col("labels"), lambda k, v: k != F.lit("user")),
                F.create_map(
                    F.lit("user"),
                    F.concat(F.element_at(F.col("labels"), "user"), F.lit(f"_{i}")),
                ),
            ),
        )
        parts.append(shifted)
    return reduce(lambda a, b: a.unionByName(b), parts)


def scaled_docs(spark, mult: int):
    """documents × mult with disjoint per-copy vocabulary (every token
    suffixed `_i`), so shingles never collide across copies: near-dup
    structure — pair count, cluster sizes — scales linearly with the
    multiplier instead of quadratically (10 exact copies of each doc
    would measure an artificial dup-rate blow-up, not scaling)."""
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    parts = [d]
    for i in range(1, mult):
        parts.append(
            d.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
            .withColumn("text", F.regexp_replace("text", r"(\S+)", f"$1_{i}"))
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


def dedup_probe(spark, mult: int) -> dict:
    """Times the two round-2-flagged dedup paths post-broadcast-gate:
    MinHash-LSH pair generation + the full keep-best materialization
    (pairs → connected components → winner/singleton union)."""
    from monolith_spark.operators import dedup

    docs = scaled_docs(spark, mult).localCheckpoint(eager=True)
    t0 = time.perf_counter()
    pairs = dedup.minhash_lsh_pairs(docs)
    pairs.write.format("noop").mode("overwrite").save()
    lsh_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    clusters = dedup.cluster_pairs(dedup.minhash_lsh_pairs(docs))
    scored = docs.select("doc_id", F.length("text").cast("double").alias("score"))
    dedup.keep_best(scored, clusters, "score").write.format("noop").mode(
        "overwrite"
    ).save()
    keep_best_s = time.perf_counter() - t0
    return {
        "mult": mult,
        "docs": docs.count(),
        "minhash_lsh_sec": round(lsh_s, 3),
        "keep_best_sec": round(keep_best_s, 3),
    }


def scaled_embs(spark, mult: int):
    """embeddings × mult, each copy's components sign-flipped by a
    per-copy hash(i, j) pattern (exact ±1 multiply, so geometry is
    reshuffled rather than duplicated): exact copies would pile every
    clone into one k-means cell and measure an artificial per-cell
    pair blow-up instead of scaling. Hash-of-(copy, position) — the
    earlier (j*i) % 2 parity was identically 0 for even i, so copies
    2, 4, ... duplicated the originals and the mult>2 probe timings
    measured a clone pile-up, not scaling (VERDICT r4)."""
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    parts = [e]
    for i in range(1, mult):
        parts.append(
            e.withColumn("vec_id", F.col("vec_id") + F.lit(i * 10_000_000))
            .withColumn(
                "embedding",
                F.transform(
                    "embedding",
                    lambda x, j: x
                    * (1 - 2 * F.pmod(F.hash(j, F.lit(i)), F.lit(2))).cast("float"),
                ),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


def pipeline3_probe(spark, mult: int) -> dict:
    """Round-3 operators: SemDeDup (k scaled with the corpus — the
    paper's recipe and the documented scale contract), strided span
    dedup, df-capped TF-cosine pairs, winnowing fingerprints."""
    from monolith_spark.operators import dedup, text
    from monolith_spark.operators import similarity as sim

    docs = scaled_docs(spark, mult).localCheckpoint(eager=True)
    out: dict = {"mult": mult, "docs": docs.count()}

    def timed(name, df):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        out[name] = round(time.perf_counter() - t0, 3)

    timed("span_dedup_sec", dedup.span_dup_stats(docs))
    timed("tf_cosine_sec", dedup.shingle_tf_cosine_pairs(docs))
    timed("winnow_sec", text.winnow_stats(docs))
    # r7: RAG chunking — pure projection+explode, must track the scan
    timed("chunk_rag_sec",
          text.chunk_documents(docs, chunk_tokens=64, overlap_tokens=16))
    # r7 fifth wave: shard assignment — distributed prefix sum; the
    # bucket windows are key-parallel and the bucket-offset table is
    # ≤64 rows at any corpus size, so time must track the scan
    from monolith_spark.pipeline import shard_assignment
    timed("shard_assign_sec", shard_assignment(docs, shard_bytes=1 << 20))
    from monolith_spark.workload import all_queries as _aq
    import os as _os, tempfile as _tf
    tmp = _tf.mkdtemp(prefix="probe_gate_")
    docs.write.parquet(_os.path.join(tmp, "documents.parquet"))
    timed("adaptive_gate_sec", _aq()["docs_adaptive_length_gate"].spark_fn(spark, tmp))
    embs = scaled_embs(spark, mult).localCheckpoint(eager=True)
    out["vecs"] = embs.count()
    timed("semdedup_sec", sim.semdedup(embs, k=8 * mult))
    return out


def round6_probe(spark, mult: int) -> dict:
    """Round-6 late additions: DSIR importance weighting (two corpus
    scans + a ≤512-row broadcast log-ratio table — time should track
    the corpus linearly; the model tables are bucket-bounded at any
    scale) and JL→IVF ANN serving (centroids/cells in 16-dim JL space,
    exact re-rank of candidates only). scaled_docs keeps per-copy
    vocabularies disjoint, so the DSIR bucket histogram fills rather
    than duplicates; scaled_embs reshuffles geometry so IVF cells
    don't clone-pile."""
    from monolith_spark.operators import similarity as sim
    from monolith_spark.operators import text

    docs = scaled_docs(spark, mult).localCheckpoint(eager=True)
    out: dict = {"mult": mult, "docs": docs.count()}

    def timed(name, df):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        out[name] = round(time.perf_counter() - t0, 3)

    timed(
        "dsir_sec",
        text.dsir_scores(docs, F.col("source").isin("src7", "src18")),
    )
    embs = scaled_embs(spark, mult).localCheckpoint(eager=True)
    out["vecs"] = embs.count()
    qv = embs.filter(F.col("vec_id") < 8).withColumnRenamed("vec_id", "query_id")
    timed("jl_ivf_serving_sec", sim.jl_ivf_topk(embs, qv, k=10))
    # capped LSH blocking: at fixed planes every bucket holds a
    # constant FRACTION of the corpus (n/2^planes), so uncapped
    # in-bucket pair-gen is quadratic — this probe measured 7.9s → 788s
    # at 10× before max_block_size; capped, pair work ≤ tables·n·cap
    # and the row must stay flat
    timed("near_dup_lsh_sec", sim.embedding_near_dup_lsh(embs))
    return out


def round7_probe(spark, mult: int) -> dict:
    """Round-7 bench rows under 10× growth: the PromQL text front-end
    (parse + lower + evaluate rate/sum-by and the 1:1 vector-matching
    ratio over scaled events — one per-series sort window + keyed aggs,
    so time must track the sample count sub-linearly), the persisted
    JL→IVF index (build once + partition-pruned probe), and GIF phash
    dedup (Arrow decode map + distinct-hash-grain joins — the image
    count scales with the multiplier like the r5 multimodal probe)."""
    from monolith_spark import promql
    from monolith_spark.operators import multimodal as mm
    from monolith_spark.operators import similarity as sim

    JAN20 = 1_705_708_800_000
    out: dict = {"mult": mult}

    def timed(name, df):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        out[name] = round(time.perf_counter() - t0, 3)

    s = scaled_samples(spark, mult).localCheckpoint(eager=True)
    out["samples"] = s.count()
    hi = JAN20 + mult * MONTH_MS
    timed("promql_parsed_sec", promql.eval_instant(
        s.select("labels", "timestamp", "value"),
        'sum by (event_type) (rate({kb=~"[0-4]"}[%dd]))' % (19 + 31 * mult),
        hi,
    ))
    timed("promql_ratio_sec", promql.eval_instant(
        s.select("labels", "timestamp", "value"),
        'sum_over_time({event_type="purchase"}[%dd]) / ignoring(event_type) '
        'sum_over_time({event_type="click"}[%dd])' % (19 + 31 * mult, 19 + 31 * mult),
        hi,
    ))
    # many-to-one matching: the one side stays ≤10 rows (one per kb) at
    # any scale, so the group_left join is a series-count keyed shuffle
    # against a tiny uniqueness window — must track the ratio row
    timed("promql_group_left_sec", promql.eval_instant(
        s.select("labels", "timestamp", "value"),
        'sum_over_time({event_type="purchase"}[%dd]) / on(kb) group_left(tier) '
        'label_replace(sum by (kb) (sum_over_time({event_type="click"}[%dd])), '
        '"tier", "t$1", "kb", "(.*)")' % (19 + 31 * mult, 19 + 31 * mult),
        hi,
    ))
    # step-range binary composition: two tiled passes + one keyed join
    # per (kb, window) — windows grow with the span, the join stays
    # series-grain
    JAN1 = 1_704_067_200_000
    timed("promql_range_ratio_sec", promql.eval_range(
        s.select("labels", "timestamp", "value"),
        'sum by (kb) (sum_over_time({event_type="purchase"}[1d])) / '
        'sum by (kb) (sum_over_time({event_type="click"}[1d]))',
        JAN1, hi, 86_400_000,
    ))
    # text exposition roundtrip: format+parse the whole scaled corpus —
    # pure column expressions, cost must track the scan linearly
    from monolith_spark.sources.openmetrics import format_lines, parse_lines

    named = s.withColumn(
        "labels",
        F.map_concat(
            F.col("labels"),
            F.create_map(
                F.lit("__name__"),
                F.concat(F.lit("ev_"), F.element_at("labels", "event_type")),
            ),
        ),
    ).select("labels", "timestamp", "value")
    timed("exposition_roundtrip_sec",
          parse_lines(format_lines(named)).groupBy().count())

    import tempfile as _tf

    embs = scaled_embs(spark, mult).localCheckpoint(eager=True)
    out["vecs"] = embs.count()
    qv = embs.filter(F.col("vec_id") < 8).withColumnRenamed("vec_id", "query_id")
    path = _tf.mkdtemp(prefix="jl_idx_probe_")
    t0 = time.perf_counter()
    sim.write_jl_ivf_index(embs, path, nlist=8)
    out["jl_index_build_sec"] = round(time.perf_counter() - t0, 3)
    timed("jl_index_probe_sec", sim.jl_ivf_topk_indexed(spark, path, qv, k=10))

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id")
    parts = [d]
    for i in range(1, mult):
        parts.append(d.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000)))
    docs = reduce(lambda a, b: a.unionByName(b), parts)
    media = mm.attach_phash_media(docs, n_images=40 * mult, fmt="gif")
    hashes = mm.image_hashes(media)
    timed("gif_phash_dupes_sec", hashes.groupBy("ahash", "dhash").agg(
        F.count("*").alias("n_docs")
    ))
    return out


def ranking_probe(spark, mult: int) -> dict:
    """Round-5 exact-rank device (operators/ranking.py) under the three
    queries it de-globalized: corpus-tercile bucketing, RFM quintiles,
    revenue Pareto. Orders/lineitem copies shift o_custkey / l_partkey
    into disjoint ranges so the RANKED relation (customers, parts)
    scales with the multiplier — the device's histogram stays <=nbins
    rows at any scale, so time should grow ~linearly with data (the
    single-task global sort it replaced would concentrate the growth
    in one straggler)."""
    from monolith_spark.workload import all_queries as _aq

    tmp = tempfile.mkdtemp(prefix="probe_rank_")
    scaled_docs(spark, mult).write.parquet(os.path.join(tmp, "documents.parquet"))
    for tbl, keys in (
        ("orders", [("o_orderkey", 10**9), ("o_custkey", 10**8)]),
        ("lineitem", [("l_orderkey", 10**9), ("l_partkey", 10**8)]),
    ):
        t = spark.read.parquet(f"{SF_DIR}/{tbl}.parquet")
        parts = [t]
        for i in range(1, mult):
            c = t
            for col, stride in keys:
                c = c.withColumn(col, F.col(col) + F.lit(i * stride))
            parts.append(c)
        reduce(lambda a, b: a.unionByName(b), parts).write.parquet(
            os.path.join(tmp, f"{tbl}.parquet")
        )
    out: dict = {"mult": mult}
    qs = _aq()
    for name in (
        "docs_perplexity_buckets", "orders_rfm_segments", "tpch_revenue_pareto"
    ):
        t0 = time.perf_counter()
        qs[name].spark_fn(spark, tmp).write.format("noop").mode(
            "overwrite"
        ).save()
        out[f"{name}_sec"] = round(time.perf_counter() - t0, 3)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


def multimodal_probe(spark, mult: int) -> dict:
    """Times the perceptual-hash dedup family at docs × mult with the
    unique-image count scaled by the same multiplier (n_images =
    40·mult): the hash map is linear in documents, the near-dup banded
    join is keyed on distinct hashes — both sides of the scaling claim
    get exercised. A fixed n_images would hold the join side constant
    and measure only the narrow map."""
    from monolith_spark.operators import multimodal as mm

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id")
    parts = [d]
    for i in range(1, mult):
        parts.append(d.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000)))
    docs = reduce(lambda a, b: a.unionByName(b), parts)
    media = mm.attach_phash_media(docs, n_images=40 * mult).localCheckpoint(
        eager=True
    )
    t0 = time.perf_counter()
    hashes = mm.image_hashes(media).localCheckpoint(eager=True)
    hash_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    hashes.groupBy("ahash", "dhash").agg(
        F.count("*").alias("n"), F.min("media_id").alias("rep")
    ).write.format("noop").mode("overwrite").save()
    group_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    n_pairs = mm.phash_near_dup_pairs(hashes).count()
    pair_s = time.perf_counter() - t0
    return {
        "mult": mult,
        "n_media": media.count(),
        "n_unique_hashes": hashes.select("ahash").distinct().count(),
        "hash_sec": round(hash_s, 3),
        "dup_groups_sec": round(group_s, 3),
        "neardup_join_sec": round(pair_s, 3),
        "n_near_pairs": n_pairs,
    }


def core_probe(spark, mult: int) -> dict:
    """The 100× core datapoint (VERDICT r6 next #7): ingest the scaled
    events once, then run the core TSDB query rows with the bench's
    median-of-3 protocol (each row executed 3×, median reported) plus
    one retention-tiering pass and the cross-tier step query. Series
    count AND chunk count scale with the multiplier (scaled_samples
    shifts copies in time and user-label space), so this exercises the
    manifest resolution, partition pruning, and the dim broadcast gate
    at mult× cardinality — not just mult× rows."""
    import statistics

    JAN1 = 1_704_067_200_000
    tmp = tempfile.mkdtemp(prefix="monolith_core100_")
    out: dict = {"mult": mult}
    try:
        db = MonolithDB(spark, os.path.join(tmp, "db"), chunk_size_ms=CHUNK_MS)
        s = scaled_samples(spark, mult)
        t0 = time.perf_counter()
        db.write(s)
        out["ingest_sec"] = round(time.perf_counter() - t0, 3)
        out["rows"] = db.samples().count()
        out["series"] = db.series().count()
        out["chunks"] = db.chunks().count()
        hi = JAN1 + mult * MONTH_MS + MONTH_MS

        def run(df):
            df.write.format("noop").mode("overwrite").save()

        def med3(name, fn):
            ts = []
            for _ in range(3):
                t0 = time.perf_counter()
                fn()
                ts.append(time.perf_counter() - t0)
            out[name] = round(statistics.median(ts), 3)

        med3("query_1chunk_sec", lambda: run(
            db.query_flat({"event_type": "purchase"}, JAN1, JAN1 + CHUNK_MS - 1)))
        med3("query_multichunk_sec", lambda: run(
            db.query_flat({"event_type": "purchase", "kb": "3"},
                          JAN1, JAN1 + 10 * 86_400_000)))
        med3("query_allchunks_sec", lambda: run(
            db.query({"event_type": "click"}, 0, hi)))
        med3("exact_lookup_sec", lambda: run(
            db.query_exact({"event_type": "purchase", "kb": "6", "user": "11"},
                           0, hi)))
        # round-7 late: the at-rest inverted label index — build cost
        # scales with series count (dim explode + bucketed write), and
        # the posting-served multichunk query must stay flat: the
        # posting scan reads 1/64th of an index that is itself ~1000×
        # smaller than the facts. Later rows (retention, downsampled)
        # then run index-served, the production configuration.
        t0 = time.perf_counter()
        db.build_label_index()
        out["build_label_index_sec"] = round(time.perf_counter() - t0, 3)
        med3("query_indexed_sec", lambda: run(
            db.query_flat({"event_type": "purchase", "kb": "3"},
                          JAN1, JAN1 + 10 * 86_400_000)))
        # selective 3-matcher lookup: posting intersection → IN-pushdown
        # dim read vs the same match as a full predicate dim scan — the
        # pair that shows what the index buys as series count grows
        sel3 = {"event_type": "purchase", "kb": "6", "user": "11"}
        plain = MonolithDB(
            spark, db.path, chunk_size_ms=CHUNK_MS, use_label_index=False
        )
        med3("query_selective_indexed_sec",
             lambda: run(db.query_flat(sel3, 0, hi)))
        med3("query_selective_scan_sec",
             lambda: run(plain.query_flat(sel3, 0, hi)))
        # retention: roll everything older than 10 days before the end
        t0 = time.perf_counter()
        rolled, _ = db.downsample_retention(hi - 10 * 86_400_000, 3_600_000)
        out["retention_tiering_sec"] = round(time.perf_counter() - t0, 3)
        out["chunks_rolled"] = rolled
        med3("query_downsampled_tiered_sec", lambda: run(
            db.query_downsampled({"event_type": "click"}, 0, hi, 3_600_000)))
        med3("vacuum_sec", lambda: db.vacuum(grace_ms=0))
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def round8_probe(spark, mult: int) -> dict:
    """Eighth wave under 10× growth: the Arrow pair kernels
    (hard_negatives / d4_prune — k scales with the corpus per the
    SemDeDup recipe, so per-cell pair work stays bounded; past the
    k=64 gate the kmeans assignment flips to the copy-free Column
    form, so the 10× leg probes BOTH assignment paths by
    construction) and the ridge trainer/scorer (one scan reducing to
    nine sums + one broadcast-apply scan — both must track the corpus
    linearly)."""
    from monolith_spark.operators import similarity as sim
    from monolith_spark.operators import text

    out: dict = {"mult": mult}

    def timed(name, df):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        out[name] = round(time.perf_counter() - t0, 3)

    embs = scaled_embs(spark, mult).localCheckpoint(eager=True)
    out["vecs"] = embs.count()
    timed("hard_negatives_sec", sim.hard_negatives(embs, k=8 * mult))
    timed("d4_prune_sec", sim.d4_prune(embs, k=8 * mult))
    docs = scaled_docs(spark, mult).localCheckpoint(eager=True)
    out["docs"] = docs.count()
    timed("ridge_train_sec", text.ridge_quality_model(docs))
    timed("ridge_scores_sec", text.ridge_quality_scores(docs))
    return out


def round9_probe(spark, mult: int) -> dict:
    """Range-mode PromQL under 10× growth (VERDICT r8 next #5): the
    r8 range rows (`@` fast path, per-(key, window) group_left) plus
    the r9 k-fan-out — rate at k=1/4/16 over the SAME grid, so the
    probe shows cost scaling with the bounded explode factor k (and
    staying series-grain at 10× data), never with the step count."""
    from monolith_spark import promql

    out: dict = {"mult": mult}
    jan1, jan20, day = 1_704_067_200_000, 1_705_708_800_000, 86_400_000
    s = scaled_samples(spark, mult).select(
        "labels", "timestamp", "value").localCheckpoint(eager=True)
    out["rows"] = s.count()

    def timed(name, expr):
        t0 = time.perf_counter()
        promql.eval_range(s, expr, jan1, jan20, day).write.format(
            "noop").mode("overwrite").save()
        out[name] = round(time.perf_counter() - t0, 3)

    timed("range_rate_k1_sec", 'sum by (event_type) (rate({}[1d]))')
    timed("range_rate_k4_sec", 'sum by (event_type) (rate({}[4d]))')
    timed("range_rate_k16_sec", 'sum by (event_type) (rate({}[16d]))')
    timed(
        "range_at_sec",
        'sum by (event_type) (sum_over_time({}[1d])) / '
        'sum by (event_type) (sum_over_time({}[19d] @ end()))',
    )
    timed(
        "range_group_left_sec",
        'sum by (kb, event_type) (sum_over_time({event_type="purchase"}[1d]))'
        ' / on(kb) group_left sum by (kb) (sum_over_time({}[1d]))',
    )
    return out


def exemplar_probe(spark, mult: int) -> dict:
    """Exemplar + metadata surfaces under 10× growth (VERDICT r7 next
    #7): samples ingested at mult× cardinality, then ~5% of points
    re-written as exemplars (trace-id'd, same chunk grid), the
    Prometheus query_exemplars window scan, and the bounded metadata
    APIs (label_names / label_values as ordered top-k — the
    TakeOrderedAndProject path the series/labels HTTP endpoints use,
    which must stay flat as the dim grows because executors keep only
    n+1 rows each)."""
    import statistics

    JAN1 = 1_704_067_200_000
    out: dict = {"mult": mult}
    tmp = tempfile.mkdtemp(prefix="monolith_exemplar_")
    try:
        db = MonolithDB(spark, os.path.join(tmp, "db"), chunk_size_ms=CHUNK_MS)
        s = scaled_samples(spark, mult)
        db.write(s)
        ex = (
            s.filter(F.pmod(F.xxhash64("timestamp", "value"), F.lit(20)) == 0)
            .withColumn(
                "exemplar_labels",
                F.create_map(
                    F.lit("trace_id"),
                    F.conv(
                        (F.abs(F.xxhash64("timestamp", "value"))
                         .cast("string")),
                        10, 16,
                    ),
                ),
            )
        )
        t0 = time.perf_counter()
        n_ex = db.write_exemplars(ex, return_count=True)
        out["write_exemplars_sec"] = round(time.perf_counter() - t0, 3)
        out["exemplars"] = n_ex
        out["series"] = db.series().count()
        hi = JAN1 + mult * MONTH_MS + MONTH_MS

        def run(df):
            df.write.format("noop").mode("overwrite").save()

        def med3(name, fn):
            ts = []
            for _ in range(3):
                t0 = time.perf_counter()
                fn()
                ts.append(time.perf_counter() - t0)
            out[name] = round(statistics.median(ts), 3)

        med3("query_exemplars_window_sec", lambda: run(
            db.query_exemplars({"event_type": "purchase"},
                               JAN1, JAN1 + 10 * 86_400_000)))
        med3("query_exemplars_span_sec", lambda: run(
            db.query_exemplars({"event_type": "click"}, 0, hi)))
        # the bounded metadata path: ordered top-(n+1), driver holds
        # ≤ n+1 rows however large the dim
        med3("label_values_topk_sec", lambda: (
            db.label_values("user").orderBy("value").limit(101).collect()))
        med3("label_names_sec", lambda: (
            db.label_names().orderBy("name").limit(101).collect()))
        t0 = time.perf_counter()
        db.set_metric_metadata(
            {f"metric_{i}": {"type": "counter", "help": "h", "unit": ""}
             for i in range(100 * mult)})
        out["set_metadata_sec"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        out["metadata_entries"] = len(db.metric_metadata())
        out["get_metadata_sec"] = round(time.perf_counter() - t0, 3)
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def top10_probe(spark, mult: int) -> dict:
    """The r9-bench TOP-10 rows at 1x and Nx input (VERDICT r9 next
    #6): the scale signal PERF adjudications can cite instead of sf0.1
    re-run roulette. Covers the six top rows no earlier probe reached
    (docs_curation_full, sim_jl_ivf_serving, docs_dedup_keep_best,
    ts_exposition_roundtrip, emb_d4_prune, emb_hard_negatives);
    ingest / ingest_skewed / query_* live in core_probe and
    ts_promql_range_at / _range_group_left in round9_probe. Inputs are
    the structure-scaling builders (disjoint vocab / sign-reshuffled
    geometry / shifted series), so pair counts and cell sizes scale
    with the multiplier, not just row count."""
    import statistics

    from monolith_spark import pipeline as _pipe
    from monolith_spark.operators import dedup as _dedup
    from monolith_spark.operators import similarity as _sim
    from monolith_spark.operators import text as _text
    from monolith_spark.sources.openmetrics import format_lines, parse_lines
    from monolith_spark.labels import signature_sql_text

    out: dict = {"mult": mult}

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    def med3(name, fn):
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        out[name] = round(statistics.median(ts), 3)

    docs = scaled_docs(spark, mult).localCheckpoint(eager=True)
    out["docs"] = docs.count()
    med3("curation_full_sec", lambda: run(_pipe.curation_verdicts(docs)))

    def keep_best():
        pairs = _dedup.shingle_jaccard_pairs(docs, threshold=0.5)
        clusters = _dedup.cluster_pairs(pairs)
        stats = _text.text_stats(docs).select("doc_id", "n_tokens")
        run(_dedup.keep_best(stats, clusters, "n_tokens"))

    med3("dedup_keep_best_sec", keep_best)

    embs = scaled_embs(spark, mult).localCheckpoint(eager=True)
    out["vectors"] = embs.count()
    med3("d4_prune_sec", lambda: run(
        _sim.d4_prune(embs, tau=0.4, k=8 * mult, iters=2, prune_pct=20)))
    med3("hard_negatives_sec", lambda: run(
        _sim.hard_negatives(embs, tau=0.4, k=8 * mult, iters=2)))
    qv = embs.filter(F.col("vec_id") < 8).withColumnRenamed(
        "vec_id", "query_id")
    med3("jl_ivf_serving_sec", lambda: run(
        _sim.jl_ivf_topk(embs, qv, k=10)))

    jan8 = 1_704_067_200_000 + 7 * 86_400_000
    s = scaled_samples(spark, mult).filter(
        (F.col("timestamp") >= jan8)
        & (F.col("timestamp") <= jan8 + mult * 7 * 86_400_000)
    ).localCheckpoint(eager=True)
    out["samples"] = s.count()

    def roundtrip():
        named = s.withColumn(
            "labels",
            F.map_concat(
                F.col("labels"),
                F.create_map(
                    F.lit("__name__"),
                    F.concat(F.lit("ev_"), F.element_at("labels", "event_type")),
                ),
            ),
        )
        back = parse_lines(format_lines(named))
        run(
            back.select(
                F.try_element_at("labels", F.lit("__name__")).alias("name"),
                F.expr(signature_sql_text(
                    "map_filter(`labels`, (k, v) -> k != '__name__')"
                )).alias("signature"),
                "timestamp", "value",
            )
            .groupBy("name", "signature")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
                .alias("sum_value"),
                F.max("timestamp").alias("last_ms"),
            )
        )

    med3("exposition_roundtrip_sec", roundtrip)
    return out


def main() -> None:
    spark = get_spark(app_name="monolith-spark-scale-probe")
    spark.range(1000).count()  # JVM warm-up
    mults = [
        int(m) for m in os.environ.get("SCALE_PROBE_MULTS", "1,10").split(",")
    ]
    target = os.environ.get("SCALE_PROBE_TARGET", "engine")
    if target == "core":
        for mult in mults:
            print(json.dumps(core_probe(spark, mult)))
        return
    if target == "multimodal":
        for mult in mults:
            print(json.dumps(multimodal_probe(spark, mult)))
        return
    if target == "dedup":
        for mult in mults:
            print(json.dumps(dedup_probe(spark, mult)))
        return
    if target == "pipeline3":
        for mult in mults:
            print(json.dumps(pipeline3_probe(spark, mult)))
        return
    if target == "ranking":
        for mult in mults:
            print(json.dumps(ranking_probe(spark, mult)))
        return
    if target == "round6":
        for mult in mults:
            print(json.dumps(round6_probe(spark, mult)))
        return
    if target == "round7":
        for mult in mults:
            print(json.dumps(round7_probe(spark, mult)))
        return
    if target == "round8":
        for mult in mults:
            print(json.dumps(round8_probe(spark, mult)))
        return
    if target == "exemplar":
        for mult in mults:
            print(json.dumps(exemplar_probe(spark, mult)))
        return
    if target == "round9":
        for mult in mults:
            print(json.dumps(round9_probe(spark, mult)))
        return
    if target == "top10":
        for mult in mults:
            print(json.dumps(top10_probe(spark, mult)))
        return
    for mult in mults:
        tmp = tempfile.mkdtemp(prefix="monolith_scale_")
        try:
            db = MonolithDB(spark, os.path.join(tmp, "db"), chunk_size_ms=CHUNK_MS)
            s = scaled_samples(spark, mult)
            t0 = time.perf_counter()
            db.write(s)
            ingest_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            db.query({"event_type": "click"}, 0, 10**16).write.format(
                "noop"
            ).mode("overwrite").save()
            query_s = time.perf_counter() - t0
            print(
                json.dumps(
                    {
                        "mult": mult,
                        "rows": db.samples().count(),
                        "series": db.series().count(),
                        "ingest_sec": round(ingest_s, 3),
                        "query_allchunks_sec": round(query_s, 3),
                    }
                )
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
