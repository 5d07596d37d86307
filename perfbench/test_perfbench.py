"""Tests of the benchmark itself: statistics, the input generator, the
correctness gate, span analysis, and a short run of each workload.

    python -m pytest perfbench -q

The generator and statistics tests need no Spark and take a second; the
smoke runs start the real server and take about a minute each.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
from spans import layer_times  # noqa: E402

# ------------------------------------------------------------- statistics


def test_p90_needs_100_samples():
    assert run.percentile(list(range(99)), 0.9) is None
    assert run.percentile([], 0.5) is None
    vals = list(range(1, 101))
    assert run.percentile(vals, 0.9) == 90
    assert run.percentile(list(reversed(vals)), 0.9) == 90
    # a median needs 20 samples by the same rule
    assert run.percentile(list(range(19)), 0.5) is None
    assert run.percentile(list(range(1, 21)), 0.5) == 10


def test_timing_stats_reports_count_and_omits_unsupported_p90():
    st = run.timing_stats([3.0, 1.0, 2.0])
    assert st == {"n": 3, "p50_ms": 2.0, "p90_ms": None}


# ---------------------------------------------------------- generator


@pytest.mark.parametrize("seed", [0, 7])
def test_write_requests_decode_to_closed_form_values(seed):
    """A request, decoded by the program's own decoder, carries exactly
    the samples the read-back check expects: base + inc * j per series,
    recomputed here with numpy."""
    from monolith_spark.sources import remote as proto

    ss = gen.series_set(seed)
    base, inc = np.array(ss.base, dtype=np.int64), np.array(ss.inc, dtype=np.int64)
    n = 3
    req = proto.decode_write_request(proto.snappy_decompress(gen.write_request_body(ss, n)))
    js = np.arange(n * gen.SCRAPES_PER_WRITE, (n + 1) * gen.SCRAPES_PER_WRITE)
    assert len(req.timeseries) == len(ss.labels) == 250
    for i, ts in enumerate(req.timeseries):
        assert ts.labels == ss.labels[i]
        assert [s.timestamp for s in ts.samples] == list(gen.T0_MS + js * gen.SCRAPE_MS)
        assert [s.value for s in ts.samples] == list((base[i] + inc[i] * js).astype(float))


def test_write_requests_are_seeded_and_distinct():
    a, b = gen.series_set(5), gen.series_set(5)
    assert gen.write_request_body(a, 3) == gen.write_request_body(b, 3)
    assert gen.write_request_body(a, 3) != gen.write_request_body(a, 4)
    assert gen.series_set(5).inc != gen.series_set(6).inc


def test_durability_check_flags_lost_and_torn_requests():
    from monolith_spark.sources import remote as proto

    ss = gen.series_set(2)

    def body(drop=None):
        per = gen.SCRAPES_PER_WRITE
        resp = proto.ReadResponse(results=[[
            proto.TimeSeries(labels=lab, samples=[
                proto.Sample(value=ss.value(i, j), timestamp=gen.T0_MS + j * gen.SCRAPE_MS)
                for j in range(3 * per) if (i, j) != drop])
            for i, lab in enumerate(ss.labels)
        ]])
        return proto.snappy_compress(proto.encode_read_response(resp))

    acked = [run.Op(f"write.{n}", "write", "write", "POST", "/write") for n in range(3)]
    assert run._durability_problems(gen, ss, body(), acked) == []
    lost = run._durability_problems(gen, ss, body(drop=(5, 1)), acked)
    assert lost and "acknowledged request 0" in lost[0]
    torn = run._durability_problems(gen, ss, body(drop=(5, 9)), acked[:2])
    assert torn and "torn request 2" in torn[0]


# --------------------------------------------------------------- spans


def test_layer_self_times_and_nesting():
    spans = [
        # sid, parent, name, t0, t1, request
        (1, None, "engine.query_flat", 0.0, 1.0, "r"),
        (2, 1, "spark.exec", 0.2, 0.5, "r"),
        (3, 2, "spark.exec", 0.3, 0.4, "r"),  # nested same layer: not counted twice
        (4, None, "promql.plan", 1.0, 1.5, "r"),
    ]
    t = layer_times(spans)["r"]
    assert t["engine.query_flat"] == pytest.approx(1000.0)
    assert t["engine.query_flat.self"] == pytest.approx(700.0)
    assert t["spark.exec"] == pytest.approx(300.0)
    assert t["promql.plan"] == pytest.approx(500.0)


# ----------------------------------------------------------------- smoke


def _bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> tuple[int, dict]:
    spec = _bench_spec()
    proc = subprocess.run(
        [sys.executable, *spec["command"][1:], "--workload", workload, "--seed", "11",
         "--seconds", "6", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    lines = proc.stdout.strip().splitlines()
    assert lines, proc.stderr[-2000:]
    return proc.returncode, json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in _bench_spec()["workloads"]])
def test_smoke_untraced(workload):
    rc, res = _run(workload, 0)
    assert rc == 0 and res["correct"] is True, res
    assert res["attempted"] >= 1 and res["failed"] == 0
    names = {m["name"] for m in _bench_spec()["end_to_end"]}
    assert set(res["metrics"]) == names
    assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in _bench_spec()["workloads"]])
def test_smoke_traced(workload):
    rc, res = _run(workload, 1)
    assert rc == 0 and res["correct"] is True, res
    names = {m["name"] for m in _bench_spec()["per_layer"]}
    assert set(res["metrics"]) == names
    m = {k: v["value"] for k, v in res["metrics"].items()}
    if workload == "remote_write":
        assert m["engine.write_ms"] > 0 and m["remote.decode_ms"] > 0
        assert m["engine.commits_per_write"] >= 1 and m["spark.jobs_per_op.write"] >= 1
        assert m["py4j.calls_per_op.write"] > 0
    else:
        assert m["promql.parse_ms"] > 0 and m["spark.exec_ms"] > 0
        assert all(m[f"workload.{r}.jobs"] >= 1 for r in run.BATCH_ROWS)
