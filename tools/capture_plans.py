"""Capture query plans of workload rows, in one of two modes.

Physical mode (default): .explain('formatted') for bench workload rows
into plans/r10/<name>_<tag>.txt (tag = before/after), plus a one-line
plan-shape summary (Exchange count, join strategies, Python-eval
nodes, PushedFilters presence) to stdout for quick diffing.

    python tools/capture_plans.py <tag> [name ...]

With no names, captures every workload row that appears in bench.py's
R01_WORKLOAD_NAMES + EXTRA_WORKLOAD_NAMES.

Logical mode: each row's OPTIMIZED LOGICAL plan into <out_dir>/<name>.txt,
with expression ids (#123) and the numeric suffixes of Column-API
lambda variables (x_17) normalized, so two checkouts' captures compare
with a plain recursive diff — the plan-equality check for a refactor:

    python tools/capture_plans.py --logical <out_dir> [name ...]
    diff -r <out_dir of checkout A> <out_dir of checkout B>

With no names, captures every registry row whose name starts with
``ts_``. Rows read $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
Capture both sides with the same $SPARK_GRAFT_CPUS: a Range node prints
its split count, the session's default parallelism.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from monolith_spark.session import get_spark
from monolith_spark.workload import all_queries

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r10"),
)


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def logical_plan_text(df) -> str:
    """The optimized logical plan with run-dependent names normalized:
    expression ids and lambda-variable counters."""
    txt = df._jdf.queryExecution().optimizedPlan().toString()
    txt = re.sub(r"#\d+L?", "#N", txt)
    return re.sub(r"\b(lambda \w+?)_\d+#N", r"\1_N#N", txt)


def summarize(txt: str) -> str:
    n_ex = len(re.findall(r"\bExchange\b", txt))
    joins = sorted(
        set(re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                       r"BroadcastNestedLoopJoin|CartesianProduct)", txt))
    )
    py = sorted(set(re.findall(r"(BatchEvalPython|ArrowEvalPython|MapInArrow|"
                               r"MapInPandas|FlatMapGroupsInPandas)", txt)))
    pushed = "PushedFilters: []" not in txt and "PushedFilters" in txt
    return (f"exchanges={n_ex} joins={','.join(joins) or '-'} "
            f"python={','.join(py) or '-'} pushed_filters={pushed}")


def capture_logical(out_dir: str, names: list[str]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="plan-capture")
    qs = all_queries()
    for name in names or sorted(n for n in qs if n.startswith("ts_")):
        try:
            txt = logical_plan_text(qs[name].spark_fn(spark, SF_DIR))
        except Exception as exc:  # noqa: BLE001 - report and continue
            txt = f"ERROR {type(exc).__name__}: {exc}\n"
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(txt)
        print(f"{name}: {len(txt.splitlines())} plan lines")


def main() -> None:
    if sys.argv[1] == "--logical":
        capture_logical(sys.argv[2], sys.argv[3:])
        return
    tag = sys.argv[1]
    names = sys.argv[2:]
    if not names:
        import bench
        names = list(bench.R01_WORKLOAD_NAMES) + list(bench.EXTRA_WORKLOAD_NAMES)
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark(app_name="plan-capture")
    qs = all_queries()
    for name in names:
        try:
            df = qs[name].spark_fn(spark, SF_DIR)
            txt = plan_text(df)
        except Exception as exc:  # noqa: BLE001 - report and continue
            print(f"{name}: ERROR {exc}")
            continue
        with open(os.path.join(OUT_DIR, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(txt)
        print(f"{name}: {summarize(txt)}")


if __name__ == "__main__":
    main()
