"""The benchmark's own launcher for the program under test.

``serve``: build the SparkSession, then hand over to the server's real
entry point, ``monolith_spark.__main__.main(["--serve", ...])``, which
reuses that session.  It runs until SIGINT.

``batch``: run the ``batch_rows`` registry rows in this process on the
registry's sf0.01 tables (``data/sf0.01``): one checked pass
(``monolith_spark.testing.run_parity``) and one warm pass, then timed
passes with a ``noop`` write until the time is up, and at least
``MIN_PASSES`` of them.

With ``--trace-dir`` both modes turn on the Spark event log and the
span wrappers of ``spans``, and write the spans there on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

BATCH_ROWS = (
    "ts_promql_parsed", "ts_recording_rules", "docs_curation_full",
    "text_bpe_train", "docs_tf_cosine_pairs", "dedup_minhash_lsh",
    "sim_jl_ivf_topk", "multimodal_phash_dupes_png",
)
# byte copies of the registry's sf0.01 test tables (TESTDATA.md)
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
# each row's reported time is a median over at least this many passes
MIN_PASSES = 3


def _spark(args, app_name: str):
    from monolith_spark.session import get_spark

    conf = {}
    if args.trace_dir:
        events = os.path.join(args.trace_dir, "events")
        os.makedirs(events, exist_ok=True)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(events),
            "spark.eventLog.compress": "false",
        }
    return get_spark(app_name=app_name, extra_conf=conf)


def _tracer(args, spark):
    if not args.trace_dir:
        return None
    from spans import Tracer

    tracer = Tracer()
    tracer.install(spark.sparkContext)
    return tracer


def _n_files(manifest: dict) -> int:
    """Live data files (series and sample files) in a manifest."""
    return len(manifest["series"]) + sum(len(v) for v in manifest["samples"].values())


def serve(args) -> int:
    from monolith_spark.__main__ import main

    spark = _spark(args, "monolith-spark-server")
    tracer = _tracer(args, spark)
    try:
        rc = main(["--serve", "--port", "0", "--db-path", args.db])
    finally:
        if tracer is not None:
            from monolith_spark.engine import MonolithDB

            db = MonolithDB(spark, args.db)
            history = db.history()
            tracer.dump(os.path.join(args.trace_dir, "spans.json"), {
                "history": history,
                "files_by_version": {
                    h["version"]: _n_files(db._load_manifest(h["version"]))
                    for h in history
                },
            })
        spark.stop()
    return rc


def _noop(spark, q) -> None:
    q.spark_fn(spark, DATA_DIR).write.format("noop").mode("overwrite").save()


def batch(args) -> int:
    from monolith_spark.testing import run_parity
    from monolith_spark.workload import all_queries

    t_start = time.perf_counter()
    spark = _spark(args, "perfbench-batch")
    tracer = _tracer(args, spark)
    qs = all_queries()
    sc = spark.sparkContext
    # the checked pass also warms the session; its rows run on
    # concurrent threads (Spark schedules jobs from several threads)
    # because a cold pass is mostly JIT compilation, which then
    # overlaps across the cores
    with ThreadPoolExecutor(max_workers=len(os.sched_getaffinity(0))) as pool:
        futures = {n: pool.submit(run_parity, spark, DATA_DIR, n) for n in BATCH_ROWS}
        problems = {n: f.result() for n, f in futures.items() if f.result()}
        # one more concurrent warm pass: without it the first timed pass
        # still runs about a quarter slower than the next two, and the
        # run-to-run spread of the row times doubles
        list(pool.map(lambda n: _noop(spark, qs[n]), BATCH_ROWS))
    setup_s = time.perf_counter() - t_start
    times: dict[str, list[float]] = {n: [] for n in BATCH_ROWS}
    t_begin = time.perf_counter()
    deadline = t_begin + args.seconds
    passes = 0
    while passes < MIN_PASSES or time.perf_counter() < deadline:
        for name in BATCH_ROWS:
            if tracer is not None:
                tracer.start_request(sc, f"{name}#{passes}")
            t0 = time.perf_counter()
            _noop(spark, qs[name])
            times[name].append(time.perf_counter() - t0)
            if tracer is not None:
                tracer.set_request(None)
        passes += 1
    window_s = time.perf_counter() - t_begin
    with open(args.out, "w") as f:
        json.dump({"setup_s": setup_s, "times": times, "passes": passes,
                   "window_s": window_s, "problems": problems}, f)
    if tracer is not None:
        tracer.dump(os.path.join(args.trace_dir, "spans.json"))
    spark.stop()
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    s = sub.add_parser("serve")
    s.add_argument("--db", required=True)
    b = sub.add_parser("batch")
    b.add_argument("--seconds", type=float, required=True)
    b.add_argument("--out", required=True)
    for p in (s, b):
        p.add_argument("--trace-dir")
    args = ap.parse_args()
    return serve(args) if args.mode == "serve" else batch(args)


if __name__ == "__main__":
    sys.exit(main())
