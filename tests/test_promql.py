"""PromQL text front-end: parser goldens + parse→eval equivalence
against the oracle-verified workload rows, plus the function surface
the registry rows don't cover (histogram_quantile interpolation
branches, quantile agg, comparisons, absent, error paths)."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from monolith_spark import promql
from monolith_spark.labels import LabelMatcher
from monolith_spark.promql import (
    Agg,
    BinOp,
    Call,
    Number,
    Selector,
    Subquery,
    parse,
    parse_duration_ms,
)
from monolith_spark.sources.events import events_samples
from monolith_spark.workload import JAN1, JAN20, all_queries

SF = "/root/testdata/sf0.001"
_SUB = 432_000_000  # 5d


def _samples(spark):
    return events_samples(spark, SF).select("labels", "timestamp", "value")


# ------------------------------------------------------------------ parser


def test_parse_goldens():
    assert parse_duration_ms("1h30m") == 5_400_000
    assert parse_duration_ms("19d") == 19 * 86_400_000
    with pytest.raises(ValueError):
        parse_duration_ms("5x")

    e = parse('rate(http_requests{job="api", code=~"5.."}[5m] offset 1h)')
    assert isinstance(e, Call) and e.func == "rate"
    sel = e.args[0]
    assert sel == Selector(
        "http_requests",
        (LabelMatcher("job", "api", "EQ"), LabelMatcher("code", "5..", "RE")),
        300_000,
        3_600_000,
    )

    e = parse('sum by (a, b) (m{x!="1", y!~"z+"})')
    assert isinstance(e, Agg) and e.op == "sum" and e.by == ("a", "b")
    assert e.expr.matchers[0].type == "NEQ" and e.expr.matchers[1].type == "NRE"

    # trailing clause form + without
    e2 = parse("avg (m) without (c)")
    assert e2.without == ("c",) and e2.by is None

    # subquery + precedence (^ right-assoc, * over +)
    e = parse("max_over_time(rate(m[5d])[15d:5d])")
    sq = e.args[0]
    assert isinstance(sq, Subquery) and (sq.range_ms, sq.step_ms) == (
        15 * 86_400_000, 5 * 86_400_000)
    b = parse("1 + 2 * 3 ^ 2 ^ 2")
    assert isinstance(b, BinOp) and b.op == "+"
    assert b.rhs.op == "*" and b.rhs.rhs.op == "^"
    assert b.rhs.rhs.rhs.op == "^"  # right-associative

    with pytest.raises(ValueError, match="trailing"):
        parse("m[5m] extra")
    with pytest.raises(ValueError, match="range suffix"):
        parse("(m + 1)[5m]")
    with pytest.raises(ValueError):
        parse('m{job=api}')  # unquoted matcher value


def test_scalar_only_expressions(spark):
    s = _samples(spark)
    row = promql.eval_instant(s, "1 + 2 * 3 ^ 2", JAN20).collect()[0]
    assert row["value"] == 19.0 and row["signature"] == ""
    row = promql.eval_instant(s, "-(3 - 5) / 4", JAN20).collect()[0]
    assert row["value"] == 0.5
    assert promql.eval_instant(s, "7 % 3", JAN20).collect()[0]["value"] == 1.0


# --------------------------------------------- golden parse→eval vs rows


def test_eval_matches_green_rows(spark):
    """The parsed evaluators must reproduce the oracle-verified ts_*
    rows bit-for-bit on the same windows — the reuse contract."""
    s = _samples(spark)
    q = all_queries()

    got = {r["signature"]: r["value"]
           for r in promql.eval_instant(s, "rate({}[19d])", JAN20).collect()}
    ref = {r["signature"]: r["rate_per_sec"]
           for r in q["ts_rate"].spark_fn(spark, SF).collect()}
    assert got == ref and got

    got = {r["signature"]: r["value"]
           for r in promql.eval_instant(s, "increase({}[19d])", JAN20).collect()}
    ref = {r["signature"]: r["increase"]
           for r in q["ts_counter_increase"].spark_fn(spark, SF).collect()}
    assert got == ref

    got = {r["signature"]: r["value"]
           for r in promql.eval_instant(s, "irate({}[19d])", JAN20).collect()}
    ref = {r["signature"]: r["irate_per_sec"]
           for r in q["ts_irate"].spark_fn(spark, SF).collect()}
    assert got == ref

    cr = {r["signature"]: (r["n_changes"], r["n_resets"])
          for r in q["ts_changes"].spark_fn(spark, SF).collect()}
    got_r = {r["signature"]: r["value"]
             for r in promql.eval_instant(s, "resets({}[19d])", JAN20).collect()}
    got_c = {r["signature"]: r["value"]
             for r in promql.eval_instant(s, "changes({}[19d])", JAN20).collect()}
    assert got_r == {k: float(v[1]) for k, v in cr.items()}
    assert got_c == {k: float(v[0]) for k, v in cr.items()}

    got = {r["signature"]: r["value"]
           for r in promql.eval_instant(s, "deriv({}[19d])", JAN20).collect()}
    ref = {r["signature"]: r["deriv_per_sec"]
           for r in q["ts_deriv"].spark_fn(spark, SF).collect()}
    assert got == ref

    got = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, 'holt_winters({event_type="purchase"}[19d], 0.25, 0.5)', JAN20
    ).collect()}
    ref = {r["signature"]: r["smoothed"]
           for r in q["ts_holt_winters"].spark_fn(spark, SF).collect()}
    assert got == ref

    # predict_linear one week past the range end == ts_predict_linear
    got = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, "predict_linear({}[19d], 604800)", JAN20).collect()}
    ref = {r["signature"]: r["predicted"]
           for r in q["ts_predict_linear"].spark_fn(spark, SF).collect()}
    assert got == ref


def test_subquery_matches_green_row(spark):
    """max_over_time(rate(m[5d])[15d:5d]) at T = JAN1+15d equals the
    first outer window of the green ts_subquery_max_rate row (same
    tiling, same per-window reset isolation)."""
    s = _samples(spark)
    got = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, "max_over_time(rate({}[5d])[15d:5d])", JAN1 + 3 * _SUB
    ).collect()}
    ref = {
        r["signature"]: r["max_rate_per_sec"]
        for r in all_queries()["ts_subquery_max_rate"].spark_fn(spark, SF).collect()
        if r["win_start_ms"] == JAN1
    }
    assert got == ref and got


def test_over_time_and_math_functions(spark):
    s = _samples(spark)
    sel = '{event_type="purchase"}'
    avg = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, f"avg_over_time({sel}[19d])", JAN20).collect()}
    cnt = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, f"count_over_time({sel}[19d])", JAN20).collect()}
    tot = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, f"sum_over_time({sel}[19d])", JAN20).collect()}
    assert avg and set(avg) == set(cnt) == set(tot)
    for k in avg:
        assert avg[k] == pytest.approx(tot[k] / cnt[k], rel=1e-12)
    mn = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, f"min_over_time({sel}[19d])", JAN20).collect()}
    mx = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, f"max_over_time({sel}[19d])", JAN20).collect()}
    med = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, f"quantile_over_time(0.5, {sel}[19d])", JAN20).collect()}
    for k in mn:
        assert mn[k] <= med[k] <= mx[k]
    q0 = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, f"quantile_over_time(0, {sel}[19d])", JAN20).collect()}
    q1 = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, f"quantile_over_time(1, {sel}[19d])", JAN20).collect()}
    assert q0 == mn and q1 == mx

    # math + arithmetic compose; sqrt of the abs keeps values real
    out = promql.eval_instant(
        s, f"sqrt(abs(delta({sel}[19d]))) * 2 + 1", JAN20
    ).collect()
    assert out and all(r["value"] >= 1.0 for r in out)

    # round to nearest 5, ties up (Prometheus round semantics)
    vals = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, f"round(max_over_time({sel}[19d]), 5)", JAN20).collect()}
    for k, v in vals.items():
        assert v % 5 == 0 and abs(v - mx[k]) <= 2.5

    # comparison filter vs bool
    kept = promql.eval_instant(s, f"max_over_time({sel}[19d]) > 50", JAN20)
    flags = promql.eval_instant(s, f"max_over_time({sel}[19d]) > bool 50", JAN20)
    kept_n = kept.count()
    f = {r["signature"]: r["value"] for r in flags.collect()}
    assert kept_n == sum(1 for v in f.values() if v == 1.0)
    assert set(f.values()) <= {0.0, 1.0} and len(f) == len(mx)


def test_aggregations_and_label_ops(spark):
    s = _samples(spark)
    lb = JAN20 - JAN1
    # sum by == hand-grouped sums of the instant vector
    per = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, 'max_over_time({event_type="purchase"}[19d])', JAN20).collect()}
    grouped = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, 'max by (kb) (max_over_time({event_type="purchase"}[19d]))', JAN20
    ).collect()}
    hand: dict[str, float] = {}
    for sig, v in per.items():
        kb = dict(p.split("=", 1) for p in sig.split(","))["kb"]
        key = f"kb={kb}"
        hand[key] = max(hand.get(key, -math.inf), v)
    assert grouped == hand

    # without == by over the complementary keys
    wo = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, 'count without (user) (max_over_time({event_type="purchase"}[19d]))',
        JAN20).collect()}
    assert set(wo) == {f"event_type=purchase,kb={k}" for k in
                       {sig.split("kb=")[1].split(",")[0] for sig in per}}

    # topk: k rows, deterministic, descending
    top = promql.eval_instant(
        s, 'topk(3, max_over_time({event_type="purchase"}[19d]))', JAN20
    ).orderBy(F.desc("value"), "signature").collect()
    assert len(top) == 3
    assert sorted((r["value"] for r in top), reverse=True) == [r["value"] for r in top]
    assert {r["value"] for r in top} <= set(per.values())
    bot = promql.eval_instant(
        s, 'bottomk(2, max_over_time({event_type="purchase"}[19d]))', JAN20
    ).collect()
    assert len(bot) == 2 and min(per.values()) in {r["value"] for r in bot}

    # label_replace: non-match keeps labels; match rewrites + re-signs
    rep = promql.eval_instant(
        s,
        'label_replace(max_over_time({event_type="purchase"}[19d]),'
        ' "env", "prod-$1", "kb", "([0-3])")',
        JAN20,
    ).collect()
    for r in rep:
        kb = dict(r["labels"]) ["kb"]
        if kb in "0123":
            assert dict(r["labels"])["env"] == f"prod-{kb}"
            assert f"env=prod-{kb}" in r["signature"]
        else:
            assert "env" not in dict(r["labels"])

    # label_join missing source labels join as empty strings
    lj = promql.eval_instant(
        s,
        'label_join(max_over_time({event_type="purchase"}[19d]),'
        ' "key", "|", "kb", "nope", "user")',
        JAN20,
    ).collect()
    for r in lj:
        d = dict(r["labels"])
        assert d["key"] == f"{d['kb']}||{d['user']}"

    # absent: empty selector → marker row; non-empty → no rows
    a1 = promql.eval_instant(
        s, 'absent({event_type="nope"})', JAN20, lookback_ms=lb).collect()
    assert len(a1) == 1 and a1[0]["value"] == 1.0 and a1[0]["labels"] == {}
    a2 = promql.eval_instant(
        s, 'absent({event_type="purchase"})', JAN20, lookback_ms=lb).collect()
    assert a2 == []


def test_histogram_quantile_branches(spark):
    """Interpolation, first-bucket zero lower bound, and the +Inf
    highest-finite clamp — the same branch set ts_latency_slo_p95 pins
    — on a hand-built cumulative le-bucket vector."""
    rows = [
        # series A: counts 10/30/40 at le 1/2/+Inf → p50 target 20 →
        # bucket le=2: 1 + (20-10)/(30-10) * (2-1) = 1.5
        ({"m": "A", "le": "1"}, 1_000, 10.0),
        ({"m": "A", "le": "2"}, 1_000, 30.0),
        ({"m": "A", "le": "+Inf"}, 1_000, 40.0),
        # series B: p99 target beyond the finite buckets → clamp to 2
        ({"m": "B", "le": "1"}, 1_000, 1.0),
        ({"m": "B", "le": "2"}, 1_000, 2.0),
        ({"m": "B", "le": "+Inf"}, 1_000, 100.0),
        # series C: p25 inside the FIRST bucket → 0 lower bound:
        # 0 + (25-0)/(50-0) * (4-0) = 2.0
        ({"m": "C", "le": "4"}, 1_000, 50.0),
        ({"m": "C", "le": "+Inf"}, 1_000, 100.0),
    ]
    df = spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double"
    )
    got = {r["signature"]: r["value"] for r in promql.eval_instant(
        df, "histogram_quantile(0.5, {m=~'A'})".replace("'", '"'), 2_000
    ).collect()}
    assert got == {"m=A": pytest.approx(1.5)}
    got = {r["signature"]: r["value"] for r in promql.eval_instant(
        df, 'histogram_quantile(0.99, {m="B"})', 2_000).collect()}
    assert got == {"m=B": pytest.approx(2.0)}
    got = {r["signature"]: r["value"] for r in promql.eval_instant(
        df, 'histogram_quantile(0.25, {m="C"})', 2_000).collect()}
    assert got == {"m=C": pytest.approx(2.0)}

    # step-range: the same quantile computed per window — the p95
    # latency graph shape. Window 1 holds the rows above; window 2 a
    # shifted bucket set for A (counts 0/20/40 → p50 target 20 → le=2)
    shifted = [
        ({"m": "A", "le": "1"}, 11_000, 0.0),
        ({"m": "A", "le": "2"}, 11_000, 20.0),
        ({"m": "A", "le": "+Inf"}, 11_000, 40.0),
    ]
    df2 = df.unionByName(spark.createDataFrame(
        shifted, "labels map<string,string>, timestamp long, value double"))
    grid = {(r["signature"], r["t_ms"]): r["value"] for r in
            promql.eval_range(
                df2, 'histogram_quantile(0.5, {m="A"})', 0, 20_000, 10_000
            ).collect()}
    assert grid == {("m=A", 10_000): pytest.approx(1.5),
                    ("m=A", 20_000): pytest.approx(2.0)}


def test_quantile_agg_interpolates(spark):
    rows = [({"g": "x", "i": str(i)}, 1_000, float(v))
            for i, v in enumerate([1, 2, 3, 4])]
    df = spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double"
    )
    got = promql.eval_instant(
        df, 'quantile by (g) (0.5, {g="x"})', 2_000).collect()
    assert len(got) == 1 and got[0]["value"] == pytest.approx(2.5)
    assert got[0]["signature"] == "g=x"


def test_vector_matching_and_set_ops(spark):
    s = _samples(spark)
    # ratio of a vector to itself == 1 everywhere (1:1 full-key match)
    ones = promql.eval_instant(
        s, "increase({}[19d]) / increase({}[19d])", JAN20).collect()
    assert ones and all(r["value"] == 1.0 for r in ones)

    # ignoring(event_type): purchase vs click rates matched on (kb, user)
    ratio = {r["signature"]: r["value"] for r in promql.eval_instant(
        s,
        'rate({event_type="purchase"}[19d]) / ignoring(event_type) '
        'rate({event_type="click"}[19d])',
        JAN20,
    ).collect()}
    pr = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, 'rate({event_type="purchase"}[19d])', JAN20).collect()}
    cr = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, 'rate({event_type="click"}[19d])', JAN20).collect()}
    for sig, v in ratio.items():
        assert sig in pr  # result carries the LHS labels
        csig = sig.replace("event_type=purchase", "event_type=click")
        assert v == pr[sig] / cr[csig]
    assert set(ratio) == {sig for sig in pr
                          if sig.replace("event_type=purchase",
                                         "event_type=click") in cr}

    # many-to-many (on(user) collapses kb) raises AT EXECUTION
    with pytest.raises(Exception, match="one-to-one"):
        promql.eval_instant(
            s,
            'rate({event_type="purchase"}[19d]) / on(user) '
            'rate({event_type="click"}[19d])',
            JAN20,
        ).collect()

    # set ops: and/unless partition the lhs; or unions the complement
    hi = 'max_over_time({event_type="purchase"}[19d]) > 50'
    both = promql.eval_instant(
        s, f'max_over_time({{event_type="purchase"}}[19d]) and ({hi})', JAN20
    ).count()
    rest = promql.eval_instant(
        s, f'max_over_time({{event_type="purchase"}}[19d]) unless ({hi})', JAN20
    ).count()
    total = promql.eval_instant(
        s, 'max_over_time({event_type="purchase"}[19d])', JAN20).count()
    assert both + rest == total and both > 0
    merged = promql.eval_instant(
        s,
        f'({hi}) or max_over_time({{event_type="purchase"}}[19d])', JAN20
    ).count()
    assert merged == total

def test_group_modifiers_parse_rules():
    e = parse("a / on(kb) group_left(tier, env) b")
    assert e.group == ("left", ("tier", "env")) and e.match == ("on", ("kb",))
    e = parse("a * ignoring(x) group_right b")
    assert e.group == ("right", ())
    with pytest.raises(ValueError, match="on/ignoring"):
        parse("a / group_left b")  # grouping needs an explicit clause
    with pytest.raises(ValueError, match="not allowed with"):
        parse("a and on(x) group_left b")
    with pytest.raises(ValueError, match="must not occur in both"):
        parse("a / on(x) group_left(x) b")


def test_group_left_many_to_one(spark):
    """group_left: per-series purchase totals divide their kb-level
    click total; the one side's derived tier label lands on the many
    side and the result re-signs. group_right is the mirrored operand
    order. A duplicate one-side key raises at execution."""
    s = _samples(spark)
    one = ('label_replace(sum by (kb) (sum_over_time('
           '{event_type="click"}[19d])), "tier", "t$1", "kb", "(.*)")')
    left = {r["signature"]: r["value"] for r in promql.eval_instant(
        s,
        f'sum_over_time({{event_type="purchase"}}[19d]) '
        f'/ on(kb) group_left(tier) {one}',
        JAN20,
    ).collect()}
    assert left and all(",tier=t" in sig for sig in left)

    # hand-join the two component queries to confirm every quotient
    p = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, 'sum_over_time({event_type="purchase"}[19d])', JAN20).collect()}
    c = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, 'sum by (kb) (sum_over_time({event_type="click"}[19d]))',
        JAN20).collect()}
    assert len(left) == len(p)
    for sig, v in left.items():
        kb = sig.split("kb=")[1].split(",")[0]
        base = sig.replace(f",tier=t{kb}", "")
        assert v == p[base] / c[f"kb={kb}"]

    # group_right: one side on the left, many on the right — the
    # quotient flips but the output series (many side + tier) match
    right = {r["signature"]: r["value"] for r in promql.eval_instant(
        s,
        f'{one} * on(kb) group_right(tier) '
        f'sum_over_time({{event_type="purchase"}}[19d])',
        JAN20,
    ).collect()}
    assert set(right) == set(left)

    # an absent extra label on the one side leaves the many side as-is
    plain = {r["signature"] for r in promql.eval_instant(
        s,
        'sum_over_time({event_type="purchase"}[19d]) / on(kb) group_left '
        'sum by (kb) (sum_over_time({event_type="click"}[19d]))',
        JAN20,
    ).collect()}
    assert plain == set(p)

    # duplicate one-side rows per key raise Prometheus's
    # multiple-matches error at execution
    with pytest.raises(Exception, match="many-to-one"):
        promql.eval_instant(
            s,
            'sum_over_time({event_type="purchase"}[19d]) / on(kb) group_left '
            'sum_over_time({event_type="click"}[19d])',
            JAN20,
        ).collect()

    # group modifiers between a vector and a scalar are rejected
    with pytest.raises(ValueError, match="two instant vectors"):
        promql.eval_instant(
            s,
            'sum_over_time({event_type="purchase"}[19d]) '
            '/ on(kb) group_left 2',
            JAN20,
        )


def test_at_modifier(spark):
    """@ pins the window to a fixed anchor: evaluated at JAN20, the
    anchored query equals the same query evaluated AT the anchor, and
    offset composes relative to the anchor. time_window() reports the
    anchored span for chunk pruning."""
    s = _samples(spark)
    anchored = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, f'sum_over_time({{event_type="view"}}[7d] @ {JAN20 // 1000} '
           'offset 2d)', JAN20 + 86_400_000 * 100).collect()}
    shifted = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, 'sum_over_time({event_type="view"}[7d] offset 2d)',
        JAN20).collect()}
    assert anchored and anchored == shifted

    lo, hi = promql.time_window(f"rate(m[10d] @ {JAN20 // 1000})", JAN1)
    assert (lo, hi) == (JAN20 - 10 * 86_400_000, JAN20)

    e = parse(f"m[5m] @ {JAN20 // 1000} offset 1d")
    assert (e.at_ms, e.offset_ms, e.range_ms) == (JAN20, 86_400_000, 300_000)
    with pytest.raises(ValueError, match="unix-seconds"):
        parse("m @ abc")
    # range mode: a fully pinned subtree is SUPPORTED since r8 — one
    # instant evaluation at the anchor fanned across the step grid
    pinned = promql.eval_range(
        s, f'increase({{}}[1d] @ {JAN20 // 1000})', JAN1, JAN20, 86_400_000
    ).collect()
    inst = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, 'increase({}[1d])', JAN20).collect()}
    n_steps = (JAN20 - JAN1) // 86_400_000
    assert len(pinned) == len(inst) * n_steps
    assert all(r["value"] == inst[r["signature"]] for r in pinned)
    with pytest.raises(ValueError, match="inner selector"):
        promql.eval_instant(
            s,
            f"max_over_time(rate({{}}[5d] @ {JAN20 // 1000})[15d:5d])",
            JAN20)


def test_trig_date_timestamp_functions(spark):
    """The trivial-fill surface: trig + deg/rad/pi, the date-component
    family over values-as-unix-seconds (zero-arg forms use the query
    time), and timestamp()."""
    import datetime as dt

    s = _samples(spark)
    assert promql.eval_instant(s, "sin(0)", JAN20).collect()[0]["value"] == 0.0
    assert promql.eval_instant(s, "pi()", JAN20).collect()[0]["value"] \
        == pytest.approx(math.pi)
    assert promql.eval_instant(s, "deg(pi())", JAN20).collect()[0]["value"] \
        == pytest.approx(180.0)
    assert promql.eval_instant(s, "rad(180)", JAN20).collect()[0]["value"] \
        == pytest.approx(math.pi)

    # zero-arg date components = the query evaluation time (JAN20 is
    # 2024-01-20T00:00Z, a Saturday)
    t = dt.datetime.fromtimestamp(JAN20 / 1000, tz=dt.timezone.utc)
    assert promql.eval_instant(s, "day_of_week()", JAN20).collect()[0][
        "value"] == float((t.weekday() + 1) % 7)
    assert promql.eval_instant(s, "month()", JAN20).collect()[0][
        "value"] == float(t.month)
    assert promql.eval_instant(s, "days_in_month()", JAN20).collect()[0][
        "value"] == 31.0

    # vector form: values interpreted as unix seconds
    rows = [({"j": "a"}, JAN20 - 1000, float(JAN20 // 1000))]
    df = spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double")
    assert promql.eval_instant(df, "year({})", JAN20).collect()[0][
        "value"] == float(t.year)
    assert promql.eval_instant(df, "hour({})", JAN20).collect()[0][
        "value"] == float(t.hour)

    # sort/sort_desc: vector identity (sets are unordered; the server
    # orders the presentation)
    n_all = promql.eval_instant(
        s, 'sort(sum_over_time({event_type="purchase"}[19d]))',
        JAN20).count()
    n_plain = promql.eval_instant(
        s, 'sum_over_time({event_type="purchase"}[19d])', JAN20).count()
    assert n_all == n_plain

    # timestamp(): the latest point's own timestamp in seconds
    ts = promql.eval_instant(df, 'timestamp({j="a"})', JAN20).collect()
    assert ts[0]["value"] == (JAN20 - 1000) / 1000.0
    with pytest.raises(ValueError, match="instant selector"):
        promql.eval_instant(df, "timestamp(1)", JAN20)


def test_format_expr_roundtrip():
    """parse(format(parse(q))) == parse(q) across every construct the
    grammar supports — the /api/v1/format_query invariant."""
    qs = [
        'sum by (event_type) (rate({kb=~"[0-4]"}[19d]))',
        'rate({event_type="purchase"}[15d] offset 4d)',
        'topk(3, increase({event_type="purchase"}[19d]))',
        'label_replace({a="1"}, "t", "$1", "kb", "([0-4])")',
        'count_values("v", up)',
        "max_over_time(rate(m[5d])[15d:5d] offset 3d)",
        "m[5m] @ 1705708800 offset 1d",
        '{job!~"db.*", dc!="eu"}',
        "{}",
        'sum_over_time({e="p"}[19d]) / on(kb) group_left(tier) x',
        "a / ignoring(event_type) b",
        "a * on(k) group_right b",
        "x == bool 5",
        "-(3 - 5) / 4",
        "avg (m) without (c)",
        "quantile(0.9, m)",
        'absent_over_time({x="1"}[5m])',
        "clamp(m, 1, 2)",
        "(a and on(k) b) or c",
        'histogram_quantile(0.95, sum by (le) (rate({m="x"}[5m])))',
        'label_join(m, "k", ":", "a", "b")',
        "1 + 2 * 3 ^ 2 ^ 2",
    ]
    for q in qs:
        ast = parse(q)
        assert parse(promql.format_expr(ast)) == ast, q
    # format_expr accepts raw text too; durations invert exactly
    assert parse(promql.format_expr("m[90m]")) == parse("m[1h30m]")
    assert promql.format_duration_ms(90_061_001) == "1d1h1m1s1ms"
    assert promql.parse_duration_ms("1d1h1m1s1ms") == 90_061_001


def test_absent_over_time(spark):
    s = _samples(spark)
    # a matcher nothing satisfies → one empty-label marker row at 1.0
    gone = promql.eval_instant(
        s, 'absent_over_time({event_type="nope"}[19d])', JAN20).collect()
    assert [(r["signature"], r["value"]) for r in gone] == [("", 1.0)]
    # samples exist → empty result
    there = promql.eval_instant(
        s, 'absent_over_time({event_type="purchase"}[19d])', JAN20).collect()
    assert there == []
    with pytest.raises(ValueError, match="range selector"):
        promql.eval_instant(s, 'absent_over_time({event_type="x"})', JAN20)


def test_unsupported_constructs_fail_loudly(spark):
    s = _samples(spark)
    with pytest.raises(ValueError, match="range selector"):
        promql.eval_instant(s, "rate({})", JAN20)
    # since the k-fan-out tiling landed, an inner range that is not a
    # whole multiple of the subquery step is the loud-reject shape
    with pytest.raises(ValueError, match="whole multiple of the step"):
        promql.eval_instant(s, "max_over_time(rate({}[1d])[15d:5d])", JAN20)
    with pytest.raises(ValueError, match="unsupported PromQL function"):
        promql.eval_instant(s, "nope({}[5m])", JAN20)
    with pytest.raises(ValueError, match="instant value"):
        promql.eval_instant(s, "{a='1'}[5m]".replace("'", '"'), JAN20)


def test_small_function_fills(spark):
    """sgn / time / vector / scalar / present_over_time /
    stdvar(_over_time) / group / count_values."""
    s = _samples(spark)
    sel = '{event_type="purchase"}'

    assert promql.eval_instant(s, "sgn(-3)", JAN20).collect()[0]["value"] == -1.0
    d = promql.eval_instant(s, f"sgn(delta({sel}[19d]))", JAN20).collect()
    assert d and set(r["value"] for r in d) <= {-1.0, 0.0, 1.0}

    assert promql.eval_instant(s, "time()", JAN20).collect()[0]["value"] \
        == JAN20 / 1000.0

    v = promql.eval_instant(s, "vector(7) * 3", JAN20).collect()
    assert len(v) == 1 and v[0]["value"] == 21.0 and v[0]["labels"] == {}

    # scalar(): single-series vector → its value; multi-series → NaN
    one = promql.eval_instant(
        s, f'scalar(topk(1, max_over_time({sel}[19d]))) + 0', JAN20
    ).collect()[0]["value"]
    mx = max(r["value"] for r in promql.eval_instant(
        s, f"max_over_time({sel}[19d])", JAN20).collect())
    assert one == mx
    nan = promql.eval_instant(
        s, f"scalar(max_over_time({sel}[19d]))", JAN20).collect()[0]["value"]
    assert math.isnan(nan)

    pres = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, f"present_over_time({sel}[19d])", JAN20).collect()}
    cnt = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, f"count_over_time({sel}[19d])", JAN20).collect()}
    assert set(pres) == set(cnt) and set(pres.values()) == {1.0}

    sd = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, f"stddev_over_time({sel}[19d])", JAN20).collect()}
    sv = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, f"stdvar_over_time({sel}[19d])", JAN20).collect()}
    for k in sd:
        assert sv[k] == pytest.approx(sd[k] ** 2, rel=1e-12)

    g = promql.eval_instant(
        s, f"group by (kb) (max_over_time({sel}[19d]))", JAN20).collect()
    assert g and all(r["value"] == 1.0 for r in g)

    cv = {tuple(sorted(r["labels"].items())): r["value"]
          for r in promql.eval_instant(
              s, f'count_values("v", sgn(max_over_time({sel}[19d])))', JAN20
          ).collect()}
    # every max is positive on this fixture → one bucket, count = series
    assert cv == {(("v", "1.0"),): float(len(sd))}


@pytest.mark.slow
def test_eval_range_tiled(spark):
    """eval_range: one-pass tiled step evaluation — selector last-
    per-window, rate/increase with range == step, *_over_time tiles,
    grouped aggregation per window — cross-checked against per-window
    eval_instant results; unsupported shapes fail with clear errors."""
    rows = [({"j": "a"}, t, float(v)) for t, v in
            [(1_000, 10.0), (4_000, 12.0), (11_000, 4.0), (14_000, 9.0),
             (21_000, 20.0)]] \
        + [({"j": "b"}, 12_000, 7.0)]
    df = spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double")

    # selector: last sample per (series, window); empty windows absent
    got = {(r["signature"], r["t_ms"]): r["value"] for r in
           promql.eval_range(df, '{j=~".+"}', 0, 30_000, 10_000).collect()}
    assert got == {("j=a", 10_000): 12.0, ("j=a", 20_000): 9.0,
                   ("j=a", 30_000): 20.0, ("j=b", 20_000): 7.0}

    # increase per tile: reset-isolated inside each window
    inc = {(r["signature"], r["t_ms"]): r["value"] for r in
           promql.eval_range(df, 'increase({j="a"}[10s])', 0, 30_000,
                             10_000).collect()}
    # window 1: 10->12 = 2; window 2: 4->9 = 5; window 3: single point
    assert inc == {("j=a", 10_000): 2.0, ("j=a", 20_000): 5.0}
    rate = {(r["signature"], r["t_ms"]): r["value"] for r in
            promql.eval_range(df, 'rate({j="a"}[10s])', 0, 30_000,
                              10_000).collect()}
    assert rate == {("j=a", 10_000): 0.2, ("j=a", 20_000): 0.5}

    # *_over_time tiles + grouped aggregation per window
    s = {(r["signature"], r["t_ms"]): r["value"] for r in
         promql.eval_range(df, 'sum_over_time({j=~".+"}[10s])', 0, 30_000,
                           10_000).collect()}
    assert s[("j=a", 10_000)] == 22.0 and s[("j=b", 20_000)] == 7.0
    tot = {(r["signature"], r["t_ms"]): r["value"] for r in
           promql.eval_range(df, 'sum(sum_over_time({j=~".+"}[10s]))',
                             0, 30_000, 10_000).collect()}
    assert tot == {("", 10_000): 22.0, ("", 20_000): 20.0, ("", 30_000): 20.0}

    # window boundary: a point AT start is excluded, at start+step in w0
    b = {r["t_ms"]: r["value"] for r in promql.eval_range(
        df, '{j="a"}', 1_000, 21_000, 10_000).collect()}
    assert b == {11_000: 4.0, 21_000: 20.0}

    # instantaneous / counting tiles: last-two-points and pair counts,
    # isolated per window (w1 has 10->12, w2 has 4->9, w3 one point)
    ir = {(r["signature"], r["t_ms"]): r["value"] for r in
          promql.eval_range(df, 'irate({j="a"}[10s])', 0, 30_000,
                            10_000).collect()}
    assert ir == {("j=a", 10_000): 2.0 / 3.0, ("j=a", 20_000): 5.0 / 3.0}
    idl = {(r["signature"], r["t_ms"]): r["value"] for r in
           promql.eval_range(df, 'idelta({j="a"}[10s])', 0, 30_000,
                             10_000).collect()}
    assert idl == {("j=a", 10_000): 2.0, ("j=a", 20_000): 5.0}
    ch = {(r["signature"], r["t_ms"]): r["value"] for r in
          promql.eval_range(df, 'changes({j="a"}[10s])', 0, 30_000,
                            10_000).collect()}
    # single-point windows emit 0 pairs → value 0 (batch changes_resets
    # convention)
    assert ch == {("j=a", 10_000): 1.0, ("j=a", 20_000): 1.0,
                  ("j=a", 30_000): 0.0}
    rs = {(r["signature"], r["t_ms"]): r["value"] for r in
          promql.eval_range(df, 'resets({j="a"}[10s])', 0, 30_000,
                            10_000).collect()}
    assert rs == {("j=a", 10_000): 0.0, ("j=a", 20_000): 0.0,
                  ("j=a", 30_000): 0.0}

    # range = k*step fans each sample into its k windows; a NON-multiple
    # range (or a fan-out past RANGE_TILE_MAX_K) still raises loudly
    with pytest.raises(ValueError, match="whole multiple of the step"):
        promql.eval_range(df, 'rate({j="a"}[5s])', 0, 30_000, 10_000)
    with pytest.raises(ValueError, match="exceeds RANGE_TILE_MAX_K"):
        promql.eval_range(
            df, f'rate({{j="a"}}[{10 * (promql.RANGE_TILE_MAX_K + 1)}s])',
            0, 30_000, 10_000)
    # holt_winters per window: the exact fold isolated per tile
    # (w1 holds 10,12 -> s1 after one step; single-point windows drop)
    hw = {(r["signature"], r["t_ms"]): r["value"] for r in
          promql.eval_range(df, 'holt_winters({j="a"}[10s], 0.5, 0.5)',
                            0, 30_000, 10_000).collect()}
    for (sig, t), v in hw.items():
        inst = {r["signature"]: r["value"] for r in promql.eval_instant(
            df, 'holt_winters({j="a"}[10s], 0.5, 0.5)', t).collect()}
        assert v == inst[sig]
    assert set(hw) == {("j=a", 10_000), ("j=a", 20_000)}

    # label_replace composes in range mode since r8 (see
    # test_eval_range_label_transforms) and the sort family since r9
    # (presentation-only unwrap); a genuinely unsupported shape still
    # raises with the catch-all message
    with pytest.raises(ValueError, match="unsupported shape"):
        promql.eval_range(
            df, 'day_of_week({j="a"})', 0, 30_000, 10_000)
    # timestamp() per window: the last sample's own time in seconds
    tsv = {(r["signature"], r["t_ms"]): r["value"] for r in promql.eval_range(
        df, 'timestamp({j="a"})', 0, 30_000, 10_000).collect()}
    assert tsv == {("j=a", 10_000): 4.0, ("j=a", 20_000): 14.0,
                   ("j=a", 30_000): 21.0}
    # sort_by_label unwraps to its inner vector (ordering is applied by
    # the serving layer off the AST)
    sbl = {(r["signature"], r["t_ms"]): r["value"] for r in promql.eval_range(
        df, 'sort_by_label({j="a"}, "j")', 0, 30_000, 10_000).collect()}
    assert sbl == {(r["signature"], r["t_ms"]): r["value"]
                   for r in promql.eval_range(df, '{j="a"}', 0, 30_000,
                                              10_000).collect()}


@pytest.mark.slow
def test_eval_range_binop_composition(spark):
    """Step-range binary operators: scalar arithmetic/comparisons per
    window, 1:1 vector matching per (key, window) — the error-ratio
    dashboard graph — set operators, and unary minus; many-to-many
    within a window raises; group_left degenerates to the 1:1 match
    when the key is unique per side."""
    df = _samples(spark)
    sel_a = 'sum by (kb) (sum_over_time({event_type="purchase"}[1d]))'
    sel_b = 'sum by (kb) (sum_over_time({event_type="click"}[1d]))'
    span = (JAN1, JAN1 + 7 * 86_400_000, 86_400_000)

    base = {(r["signature"], r["t_ms"]): r["value"] for r in
            promql.eval_range(df, sel_a, *span).collect()}
    other = {(r["signature"], r["t_ms"]): r["value"] for r in
             promql.eval_range(df, sel_b, *span).collect()}

    # scalar multiply, either operand order; unary minus
    dbl = {(r["signature"], r["t_ms"]): r["value"] for r in
           promql.eval_range(df, f"2 * ({sel_a})", *span).collect()}
    assert dbl == {k: 2 * v for k, v in base.items()}
    neg = {(r["signature"], r["t_ms"]): r["value"] for r in
           promql.eval_range(df, f"-({sel_a})", *span).collect()}
    assert neg == {k: -v for k, v in base.items()}

    # vector/vector ratio matched per (kb, window): lhs labels kept
    ratio = {(r["signature"], r["t_ms"]): r["value"] for r in
             promql.eval_range(df, f"({sel_a}) / ({sel_b})",
                               *span).collect()}
    assert ratio and ratio == {
        k: base[k] / other[k] for k in base if k in other
    }

    # comparison filter + bool per window
    hot = promql.eval_range(df, f"({sel_a}) > 100", *span).collect()
    assert all(r["value"] > 100 for r in hot)
    flags = promql.eval_range(df, f"({sel_a}) > bool 100", *span).collect()
    assert {r["value"] for r in flags} <= {0.0, 1.0}
    assert len(flags) == len(base)

    # set ops per window: and/unless partition the lhs
    both = promql.eval_range(
        df, f"({sel_a}) and (({sel_a}) > 100)", *span).count()
    rest = promql.eval_range(
        df, f"({sel_a}) unless (({sel_a}) > 100)", *span).count()
    assert both + rest == len(base) and both > 0

    # many-to-many within a window raises (full-key match across
    # different label sets collapses nothing — use a key that repeats)
    with pytest.raises(Exception, match="one-to-one within a step"):
        promql.eval_range(
            df,
            'sum_over_time({event_type="purchase"}[1d]) / on(kb) '
            'sum_over_time({event_type="click"}[1d])',
            *span,
        ).collect()
    # group_left in range mode (r8): 1:1-shaped here (both sides are
    # per-kb aggregates), so it must equal the plain on(kb) match
    gl = {(r["signature"], r["t_ms"]): r["value"] for r in
          promql.eval_range(
              df, f"({sel_a}) / on(kb) group_left {sel_b}",
              *span).collect()}
    plain = {(r["signature"], r["t_ms"]): r["value"] for r in
             promql.eval_range(
                 df, f"({sel_a}) / on(kb) ({sel_b})", *span).collect()}
    assert gl == plain and gl
    with pytest.raises(ValueError, match="at least one vector"):
        promql.eval_range(df, "1 + 2", *span)

    # deriv / predict_linear per window: the least-squares tiles must
    # equal the instant evaluator run window-by-window
    dv = {(r["signature"], r["t_ms"]): r["value"] for r in
          promql.eval_range(df, 'deriv({event_type="purchase"}[1d])',
                            *span).collect()}
    assert dv
    pl = {(r["signature"], r["t_ms"]): r["value"] for r in
          promql.eval_range(
              df, 'predict_linear({event_type="purchase"}[1d], 3600)',
              *span).collect()}
    assert set(pl) == set(dv)
    some = sorted(dv)[:3]
    for sig, t in some:
        inst_d = {r["signature"]: r["value"] for r in promql.eval_instant(
            df, 'deriv({event_type="purchase"}[1d])', t).collect()}
        inst_p = {r["signature"]: r["value"] for r in promql.eval_instant(
            df, 'predict_linear({event_type="purchase"}[1d], 3600)',
            t).collect()}
        assert dv[(sig, t)] == pytest.approx(inst_d[sig], rel=1e-9)
        assert pl[(sig, t)] == pytest.approx(inst_p[sig], rel=1e-9)

    # quantile_over_time tiles + quantile grouping per window
    qo = {(r["signature"], r["t_ms"]): r["value"] for r in
          promql.eval_range(
              df, 'quantile_over_time(0.5, {event_type="purchase"}[1d])',
              *span).collect()}
    assert qo
    sig, t = sorted(qo)[0]
    inst_q = {r["signature"]: r["value"] for r in promql.eval_instant(
        df, 'quantile_over_time(0.5, {event_type="purchase"}[1d])',
        t).collect()}
    assert qo[(sig, t)] == pytest.approx(inst_q[sig], rel=1e-9)
    qagg = {(r["signature"], r["t_ms"]): r["value"] for r in
            promql.eval_range(
                df,
                'quantile by (kb) (0.5, '
                'sum_over_time({event_type="purchase"}[1d]))',
                *span).collect()}
    assert qagg and all(v == v for v in qagg.values())

    # topk per step: membership re-evaluates window by window
    top2 = promql.eval_range(
        df, 'topk(2, sum_over_time({event_type="purchase"}[1d]))',
        *span).collect()
    per_w = {}
    for r in top2:
        per_w.setdefault(r["t_ms"], []).append(r["value"])
    assert per_w and all(len(vs) <= 2 for vs in per_w.values())
    full = {(r["signature"], r["t_ms"]): r["value"] for r in
            promql.eval_range(
                df, 'sum_over_time({event_type="purchase"}[1d])',
                *span).collect()}
    for t, vs in per_w.items():
        cutoff = sorted((v for (s, tt), v in full.items() if tt == t),
                        reverse=True)[: len(vs)]
        assert sorted(vs, reverse=True) == cutoff

    # stddev/stdvar/group aggregations per window (exact accumulators)
    sd = {(r["signature"], r["t_ms"]): r["value"] for r in
          promql.eval_range(
              df, 'stddev(sum_over_time({event_type="purchase"}[1d]))',
              *span).collect()}
    sv = {(r["signature"], r["t_ms"]): r["value"] for r in
          promql.eval_range(
              df, 'stdvar(sum_over_time({event_type="purchase"}[1d]))',
              *span).collect()}
    assert sd and all(
        v == pytest.approx(math.sqrt(sv[k])) for k, v in sd.items())
    grp = {r["value"] for r in promql.eval_range(
        df, 'group by (kb) (sum_over_time({event_type="purchase"}[1d]))',
        *span).collect()}
    assert grp == {1.0}

    # math / clamp transforms per window
    rooted = {(r["signature"], r["t_ms"]): r["value"] for r in
              promql.eval_range(df, f"sqrt({sel_a})", *span).collect()}
    assert rooted == {k: math.sqrt(v) for k, v in base.items()}
    capped = {(r["signature"], r["t_ms"]): r["value"] for r in
              promql.eval_range(df, f"clamp({sel_a}, 10, 100)",
                                *span).collect()}
    assert capped == {k: min(max(v, 10.0), 100.0) for k, v in base.items()}
    with pytest.raises(ValueError, match="must be scalars"):
        promql.eval_range(df, f"clamp({sel_a}, {sel_a}, 5)", *span)


@pytest.mark.slow
def test_mad_over_time_instant_and_tiled(spark):
    """mad_over_time (experimental-promql-functions): instant value
    equals the hand-computed median(|v - median(v)|) with PromQL
    interpolation; the tiled range evaluation reproduces per-window
    instant evals exactly (the eval_range contract)."""
    import statistics

    s = _samples(spark)
    sel = '{event_type="purchase"}'
    got = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, f"mad_over_time({sel}[19d])", JAN20).collect()}
    assert got

    def q50(vals):
        a = sorted(vals)
        rank = 0.5 * (len(a) - 1)
        lo, frac = int(rank), rank - int(rank)
        hi = min(lo + 1, len(a) - 1)
        return a[lo] + (a[hi] - a[lo]) * frac

    from monolith_spark.labels import signature_expr

    raw = s.withColumn("signature", signature_expr("labels")).filter(
        (F.col("timestamp") >= JAN20 - 19 * 86_400_000)
        & (F.col("timestamp") <= JAN20)
        & (F.try_element_at("labels", F.lit("event_type")) == "purchase")
    ).collect()
    by_sig = {}
    for r in raw:
        by_sig.setdefault(r["signature"], []).append(r["value"])
    for k, vals in by_sig.items():
        m = q50(vals)
        assert got[k] == q50([abs(v - m) for v in vals]), k

    # tiled: 3 windows of 5d == 3 instant evals at the window ends
    step = 5 * 86_400_000
    tiled = {(r["signature"], r["t_ms"]): r["value"] for r in promql.eval_range(
        s, f"mad_over_time({sel}[5d])", JAN20 - 2 * step, JAN20, step
    ).collect()}
    assert tiled
    for (k, w), v in tiled.items():
        inst = {r["signature"]: r["value"] for r in promql.eval_instant(
            s, f"mad_over_time({sel}[5d])", w).collect()}
        assert inst[k] == v, (k, w)


def test_atan2_operator_and_des_alias(spark):
    """`atan2` binary operator (scalar/vector/vector-matching forms)
    and the Prometheus 3.x `double_exponential_smoothing` name for
    holt_winters (bit-identical, instant and tiled)."""
    import math

    s = _samples(spark)
    sel = '{event_type="purchase"}'
    avg = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, f"avg_over_time({sel}[19d])", JAN20).collect()}
    got = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, f"avg_over_time({sel}[19d]) atan2 2", JAN20).collect()}
    assert got and set(got) == set(avg)
    for k in got:
        assert got[k] == pytest.approx(math.atan2(avg[k], 2), rel=1e-12)
    assert promql.eval_instant(s, "1 atan2 1", JAN20).collect()[0][
        "value"] == pytest.approx(math.pi / 4)
    vv = {r["signature"]: r["value"] for r in promql.eval_instant(
        s, f"avg_over_time({sel}[19d]) atan2 avg_over_time({sel}[19d])",
        JAN20).collect()}
    for k, v in vv.items():
        assert v == pytest.approx(math.atan2(avg[k], avg[k]), rel=1e-12)

    def rows(q):
        return sorted((r["signature"], r["value"])
                      for r in promql.eval_instant(s, q, JAN20).collect())

    assert rows(f"holt_winters({sel}[19d], 0.3, 0.2)") == rows(
        f"double_exponential_smoothing({sel}[19d], 0.3, 0.2)")
    step = 5 * 86_400_000

    def grid(q):
        return sorted((r["signature"], r["t_ms"], r["value"])
                      for r in promql.eval_range(
                          s, q, JAN20 - 2 * step, JAN20, step).collect())

    assert grid(f"holt_winters({sel}[5d], 0.3, 0.2)") == grid(
        f"double_exponential_smoothing({sel}[5d], 0.3, 0.2)")


def test_at_start_end_anchor_functions(spark):
    """`@ start()` / `@ end()` parse, format, and evaluate: in an
    instant query both anchors equal the evaluation time (Prometheus
    semantics), so the anchored expression is bit-identical to the
    bare one; time_window prunes to the same span."""
    s = _samples(spark)
    sel = '{event_type="purchase"}'

    def rows(q):
        return sorted((r["signature"], r["value"])
                      for r in promql.eval_instant(s, q, JAN20).collect())

    assert rows(f"sum_over_time({sel}[19d] @ end())") == rows(
        f"sum_over_time({sel}[19d])")
    assert rows(f"rate({sel}[19d] @ start() offset 1h)") == rows(
        f"rate({sel}[19d] offset 1h)")
    a = promql.time_window(parse(f"rate({sel}[19d] @ end())"), JAN20)
    b = promql.time_window(parse(f"rate({sel}[19d])"), JAN20)
    assert a == b
    with pytest.raises(ValueError):
        parse("m @ soon()")
    with pytest.raises(ValueError):
        parse("m @ start")  # the anchor form requires parentheses


def test_eval_range_or_vector_fallback(spark):
    """`sum(...) or vector(0)` in range mode — the no-data fallback:
    windows where the aggregate has no rows get the constant series,
    windows with data keep theirs (the per-window `or` semantics)."""
    rows = [({"j": "a"}, 1_000, 5.0), ({"j": "a"}, 21_000, 7.0)]
    df = spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double")
    got = {(r["t_ms"], r["value"]) for r in promql.eval_range(
        df, 'sum(sum_over_time({j="a"}[10s])) or vector(0)',
        0, 30_000, 10_000).collect()}
    assert got == {(10_000, 5.0), (20_000, 0.0), (30_000, 7.0)}


def test_eval_range_scalar_operand(spark):
    """scalar(X) as a binop operand in range mode: per-window scalar
    joined back onto the vector side — the share-of-total graph
    `m / scalar(sum(m))`; a window whose scalar inner is not exactly
    one series yields NaN (Prometheus semantics)."""
    import math

    rows = [({"j": "a"}, 1_000, 1.0), ({"j": "b"}, 2_000, 3.0),
            ({"j": "a"}, 11_000, 2.0)]
    df = spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double")
    got = {(r["signature"], r["t_ms"]): r["value"] for r in promql.eval_range(
        df, '{j=~".+"} / scalar(sum({j=~".+"}))',
        0, 20_000, 10_000).collect()}
    assert got == {("j=a", 10_000): 0.25, ("j=b", 10_000): 0.75,
                   ("j=a", 20_000): 1.0}
    # two series in the window → scalar() is NaN for that window
    nan = {(r["signature"], r["t_ms"]): r["value"] for r in promql.eval_range(
        df, '{j="a"} * scalar({j=~".+"})', 0, 20_000, 10_000).collect()}
    assert math.isnan(nan[("j=a", 10_000)])   # 2 series at w1
    assert nan[("j=a", 20_000)] == 4.0        # 1 series at w2: 2*2


def test_eval_range_label_transforms(spark):
    """label_replace / label_join in range mode: the instant path's
    transform applied per window with the grid carried through."""
    rows = [({"j": "a"}, 1_000, 1.0), ({"j": "b"}, 11_000, 2.0)]
    df = spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double")
    got = {(r["signature"], r["t_ms"]) for r in promql.eval_range(
        df, 'label_replace({j=~".+"}, "dst", "x-$1", "j", "(.*)")',
        0, 20_000, 10_000).collect()}
    assert got == {("dst=x-a,j=a", 10_000), ("dst=x-b,j=b", 20_000)}
    lj = {(r["signature"], r["t_ms"]) for r in promql.eval_range(
        df, 'label_join({j=~".+"}, "dst", "-", "j", "j")',
        0, 20_000, 10_000).collect()}
    assert lj == {("dst=a-a,j=a", 10_000), ("dst=b-b,j=b", 20_000)}


def test_eval_range_count_values(spark):
    """count_values in range mode: the per-window value histogram —
    every step's distinct sample values counted into the destination
    label, cross-checked against per-window instant evaluation."""
    rows = [({"j": "a"}, 1_000, 2.0), ({"j": "b"}, 2_000, 2.0),
            ({"j": "c"}, 3_000, 5.0), ({"j": "a"}, 11_000, 5.0)]
    df = spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double")
    got = {(r["signature"], r["t_ms"]): r["value"] for r in promql.eval_range(
        df, 'count_values("v", {j=~".+"})', 0, 20_000, 10_000).collect()}
    assert got == {("v=2.0", 10_000): 2.0, ("v=5.0", 10_000): 1.0,
                   ("v=5.0", 20_000): 1.0}
    # per-window equality with the instant evaluator
    inst = {(r["signature"], r["value"]) for r in promql.eval_instant(
        df.filter("timestamp <= 10000"),
        'count_values("v", {j=~".+"})', 10_000).collect()}
    assert inst == {(s, v) for (s, t), v in got.items() if t == 10_000}


def test_eval_range_absent(spark):
    """absent()/absent_over_time() in range mode: a 1.0 marker for
    every step whose window holds no matching data — the alert-graph
    shape. One anti-join of the window grid against the present
    windows, no extra fact scan."""
    rows = [({"j": "a"}, 1_000, 1.0), ({"j": "a"}, 21_000, 2.0)]
    df = spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double")

    got = {(r["t_ms"], r["value"]) for r in promql.eval_range(
        df, 'absent({j="a"})', 0, 30_000, 10_000).collect()}
    assert got == {(20_000, 1.0)}  # only window 2 (10k,20k] is empty

    aot = {(r["t_ms"], r["value"]) for r in promql.eval_range(
        df, 'absent_over_time({j="a"}[10s])', 0, 30_000, 10_000).collect()}
    assert aot == got

    # nothing matches at all → a marker at every step
    none = {(r["t_ms"], r["value"]) for r in promql.eval_range(
        df, 'absent({j="nope"})', 0, 30_000, 10_000).collect()}
    assert none == {(10_000, 1.0), (20_000, 1.0), (30_000, 1.0)}

    with pytest.raises(ValueError, match="whole multiple of the step"):
        promql.eval_range(df, 'absent_over_time({j="a"}[5s])',
                          0, 30_000, 10_000)
    # range = 2*step: a window is "present" when ANY point falls inside
    # its 20s reach, so the empty middle tile borrows neighbors' points
    # ((10k,30k] spans the gap) and NO window is absent
    aot2 = {(r["t_ms"], r["value"]) for r in promql.eval_range(
        df, 'absent_over_time({j="a"}[20s])', 0, 30_000, 10_000).collect()}
    assert aot2 == set()


def test_eval_range_group_left(spark):
    """Many-to-one matching in RANGE mode: group_left joins each
    many-side series to its one-side partner per (key, window), copies
    the listed extras, and re-signs; a duplicate one-side within a
    step raises."""
    rows = [({"j": "a", "g": "x"}, 1_000, 10.0),
            ({"j": "a", "g": "x"}, 11_000, 30.0),
            ({"j": "b", "g": "x"}, 2_000, 4.0),
            ({"g": "x", "env": "p"}, 3_000, 2.0),
            ({"g": "x", "env": "p"}, 13_000, 4.0)]
    df = spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double")
    got = {(r["signature"], r["t_ms"]): r["value"] for r in promql.eval_range(
        df,
        '{j=~".+"} / on(g) group_left(env) {j="", env=~".+"}',
        0, 20_000, 10_000).collect()}
    # window 1: one-side value 2.0; window 2: 4.0 (j=b absent there)
    assert got == {("env=p,g=x,j=a", 10_000): 5.0,
                   ("env=p,g=x,j=b", 10_000): 2.0,
                   ("env=p,g=x,j=a", 20_000): 7.5}

    # duplicate one-side within a step → the instant error, per window
    dup = df.unionByName(spark.createDataFrame(
        [({"g": "x", "env": "q"}, 4_000, 9.0)],
        "labels map<string,string>, timestamp long, value double"))
    with pytest.raises(Exception, match="multiple matches"):
        promql.eval_range(
            dup, '{j=~".+"} / on(g) group_left(env) {j="", env=~".+"}',
            0, 20_000, 10_000).collect()


def test_eval_range_at_modifier(spark):
    """`@` in RANGE queries: a fully pinned subtree evaluates once as
    an instant query at its anchors — start()/end() resolve to the
    RANGE bounds — and fans across the step grid; mixed expressions
    split at the BinOp so a pinned side composes with a step-varying
    side per window."""
    rows = [({"j": "a"}, t, float(v)) for t, v in
            [(1_000, 10.0), (4_000, 12.0), (11_000, 4.0), (14_000, 9.0),
             (21_000, 20.0)]] \
        + [({"j": "b"}, 12_000, 7.0)]
    df = spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double")

    # fixed anchor (@ takes unix seconds): instant value at 14s
    # replicated across all three windows
    got = {(r["signature"], r["t_ms"]): r["value"] for r in
           promql.eval_range(df, '{j="a"} @ 14', 0, 30_000, 10_000).collect()}
    assert got == {("j=a", 10_000): 9.0, ("j=a", 20_000): 9.0,
                   ("j=a", 30_000): 9.0}

    # @ end() pins to the range end; @ start() to the range start
    # (start anchor: no sample at/lookback-before 0 → empty grid)
    end_pinned = {(r["signature"], r["t_ms"]): r["value"] for r in
                  promql.eval_range(df, '{j=~".+"} @ end()',
                                    0, 30_000, 10_000).collect()}
    assert end_pinned == {("j=a", 10_000): 20.0, ("j=a", 20_000): 20.0,
                          ("j=a", 30_000): 20.0, ("j=b", 10_000): 7.0,
                          ("j=b", 20_000): 7.0, ("j=b", 30_000): 7.0}
    assert promql.eval_range(df, '{j="a"} @ start()',
                             0, 30_000, 10_000).count() == 0

    # a pinned range function bypasses the range==step restriction
    # (one instant window, no scan multiplication): whole-span sum
    tot = {(r["signature"], r["t_ms"]): r["value"] for r in
           promql.eval_range(df, 'sum_over_time({j="a"}[30s] @ end())',
                             0, 30_000, 10_000).collect()}
    assert tot == {("j=a", 10_000): 55.0, ("j=a", 20_000): 55.0,
                   ("j=a", 30_000): 55.0}

    # pinned through an aggregation, composed with a step-varying
    # numerator: per-window share of the pinned whole-span total
    share = {(r["signature"], r["t_ms"]): r["value"] for r in
             promql.eval_range(
                 df,
                 'sum(sum_over_time({j="a"}[10s])) / '
                 'sum(sum_over_time({j="a"}[30s] @ end()))',
                 0, 30_000, 10_000).collect()}
    assert share == {("", 10_000): 22.0 / 55.0, ("", 20_000): 13.0 / 55.0,
                     ("", 30_000): 20.0 / 55.0}

    # a pinned selector entangled with time() stays rejected (the
    # subtree is NOT step-constant)
    with pytest.raises(ValueError):
        promql.eval_range(df, 'clamp_max({j="a"} @ end(), time())',
                          0, 30_000, 10_000)


def test_limitk_and_limit_ratio(spark):
    """Prometheus 3.x experimental aggregations: limitk samples a
    DETERMINISTIC k series (ordered by md5(signature)), limit_ratio
    hash-samples with the complement contract
    limit_ratio(r) ∪ limit_ratio(-(1-r)) = all series, disjointly."""
    s = _samples(spark)
    sel = '{event_type="purchase"}'
    lb = JAN20 - JAN1

    def rows(q):
        return sorted(
            (r["signature"], r["value"])
            for r in promql.eval_instant(s, q, JAN20, lookback_ms=lb).collect()
        )

    everything = rows(sel)
    k3 = rows(f"limitk(3, {sel})")
    assert len(k3) == 3 and set(k3) <= set(everything)
    assert k3 == rows(f"limitk(3, {sel})")  # deterministic
    # k >= n returns the whole vector
    assert rows(f"limitk(100000, {sel})") == everything

    kept = rows(f"limit_ratio(0.4, {sel})")
    rest = rows(f"limit_ratio(-0.6, {sel})")
    assert sorted(kept + rest) == everything
    assert not set(kept) & set(rest)
    assert rows(f"limit_ratio(1.0, {sel})") == everything

    # limitk respects by() grouping: k per group
    per_group = promql.eval_instant(
        s, f"limitk(2, {sel}) by (kb)", JAN20, lookback_ms=lb
    ).collect()
    from collections import Counter

    by_kb = Counter(dict(r["labels"]).get("kb") for r in per_group)
    assert all(v <= 2 for v in by_kb.values()) and len(per_group) >= 2

    with pytest.raises(ValueError, match="ratio"):
        promql.eval_instant(s, f"limit_ratio(1.5, {sel})", JAN20).collect()

    # formatter roundtrip
    for q in (f"limitk(3, {sel})", f"limit_ratio(0.4, {sel})"):
        assert parse(promql.format_expr(parse(q))) == parse(q)


def test_limitk_limit_ratio_range(spark):
    """Range-mode twins: limit_ratio keeps the same hash-chosen series
    at every step; limitk keeps k per (group, window) of the series
    present in that window."""
    s = _samples(spark)
    sel = '{event_type="purchase"}'
    step = 5 * 86_400_000
    grid = promql.eval_range(
        s, f"limit_ratio(0.4, sum_over_time({sel}[5d]))",
        JAN20 - 2 * step, JAN20, step,
    ).collect()
    full = promql.eval_range(
        s, f"sum_over_time({sel}[5d])", JAN20 - 2 * step, JAN20, step
    ).collect()
    kept_sigs = {r["signature"] for r in grid}
    assert kept_sigs < {r["signature"] for r in full}
    # the keep rule is a pure function of the signature: per step, the
    # kept rows are EXACTLY the present-series rows whose md5-prefix
    # uniform lands under the ratio (presence itself varies per window)
    import hashlib

    def h60(sig: str) -> float:
        return int(hashlib.md5(sig.encode()).hexdigest()[:15], 16) / float(
            1 << 60
        )

    full_by_step: dict = {}
    for r in full:
        full_by_step.setdefault(r["t_ms"], set()).add(r["signature"])
    got_by_step: dict = {}
    for r in grid:
        got_by_step.setdefault(r["t_ms"], set()).add(r["signature"])
    for t, present in full_by_step.items():
        want = {s for s in present if h60(s) <= 0.4}
        assert got_by_step.get(t, set()) == want

    k2 = promql.eval_range(
        s, f"limitk(2, sum_over_time({sel}[5d]))",
        JAN20 - 2 * step, JAN20, step,
    ).collect()
    from collections import Counter

    per_w = Counter(r["t_ms"] for r in k2)
    assert all(v == 2 for v in per_w.values())


def test_sort_by_label(spark):
    """sort_by_label/_desc: vector identity at the engine (ordering is
    API presentation), label-name args validated, formatter roundtrip."""
    s = _samples(spark)
    sel = '{event_type="purchase"}'
    lb = JAN20 - JAN1

    def rows(q):
        return sorted(
            (r["signature"], r["value"])
            for r in promql.eval_instant(s, q, JAN20, lookback_ms=lb).collect()
        )

    assert rows(f'sort_by_label({sel}, "kb")') == rows(sel)
    assert rows(f'sort_by_label_desc({sel}, "kb", "user")') == rows(sel)
    with pytest.raises(ValueError, match="label name"):
        promql.eval_instant(
            s, f"sort_by_label({sel}, kb)", JAN20, lookback_ms=lb
        )
    with pytest.raises(ValueError, match="vector"):
        promql.eval_instant(s, 'sort_by_label(1, "kb")', JAN20)
    q = f'sort_by_label({sel}, "kb")'
    assert parse(promql.format_expr(parse(q))) == parse(q)


def test_ast_to_dict_golden():
    """ast_to_dict serializes every node kind to the documented JSON
    shape (the /api/v1/parse_query payload); it is total over
    everything the parser produces and JSON-serializable."""
    import json

    d = promql.ast_to_dict(
        'sum by (job) (rate(m{c=~"5.."}[5m] offset 1h)) '
        "/ on (job) group_left (dc) (-(topk(3, n)))"
    )
    json.dumps(d)  # serializable end-to-end
    assert d["kind"] == "binary" and d["op"] == "/"
    assert d["match"] == {"on": True, "labels": ["job"]}
    assert d["group"] == {"side": "left", "labels": ["dc"]}
    agg = d["lhs"]
    assert agg["kind"] == "aggregation" and agg["by"] == ["job"]
    rate = agg["expr"]
    assert rate["kind"] == "call" and rate["func"] == "rate"
    sel = rate["args"][0]
    assert sel == {
        "kind": "selector", "name": "m",
        "matchers": [{"name": "c", "op": "=~", "value": "5.."}],
        "range_ms": 300_000, "offset_ms": 3_600_000, "at": None,
    }
    un = d["rhs"]
    assert un["kind"] == "unary" and un["expr"]["kind"] == "aggregation"
    assert un["expr"]["param"] == {"kind": "number", "value": 3.0}

    sq = promql.ast_to_dict('max_over_time(rate(m[5d])[15d:5d] @ end())')
    assert sq["args"][0]["kind"] == "subquery"
    assert sq["args"][0]["at"] == "end"
    assert promql.ast_to_dict('label_join(m, "k", ":", "a")')["args"][1] == {
        "kind": "string", "value": "k"}


@pytest.mark.slow
def test_eval_range_k_fanout(spark):
    """range = k*step (the Grafana $__rate_interval shape, VERDICT r8
    #1): every range function fans each sample into the ≤k consecutive
    windows whose range covers it — still ONE scan, bounded explode —
    and each window's value equals the instant evaluation at that
    window's end. Samples are placed off the step grid because tiled
    range selection is left-open (t-R, t] where the instant evaluator
    keeps the closed 2.x convention (PARITY.md)."""
    import math

    rows = []
    for s in ("a", "b"):
        v = 0.0
        for i in range(40):
            t = 1_500 + i * 7_000  # never lands on a 10s boundary
            v += (i % 5) + (1 if s == "b" else 0)
            if i == 25:
                v = 2.0  # mid-stream counter reset
            rows.append(({"j": s}, t, float(v)))
    df = spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double")
    START, END, STEP = 0, 280_000, 10_000

    exprs = [
        'increase({j=~".+"}[40s])',
        'sum_over_time({j=~".+"}[40s])',
        'avg_over_time({j=~".+"}[20s])',
        'delta({j=~".+"}[40s])',
        'irate({j=~".+"}[40s])',
        'resets({j=~".+"}[40s])',
        'changes({j=~".+"}[40s])',
        'quantile_over_time(0.9, {j=~".+"}[40s])',
        'max_over_time({j=~".+"}[160s])',  # k = 16 — the cap itself
        'deriv({j=~".+"}[40s])',
        'predict_linear({j=~".+"}[40s], 60)',
        'holt_winters({j=~".+"}[40s], 0.5, 0.5)',
        'histogram_quantile(0.9, sum by (j) (increase({j=~".+"}[40s])))',
        'idelta({j=~".+"}[40s])',
        'min_over_time({j=~".+"}[40s])',
        'count_over_time({j=~".+"}[40s])',
        'last_over_time({j=~".+"}[40s])',
        'present_over_time({j=~".+"}[40s])',
        'stddev_over_time({j=~".+"}[40s])',
        'stdvar_over_time({j=~".+"}[40s])',
        'mad_over_time({j=~".+"}[40s])',
        'ts_of_max_over_time({j=~".+"}[40s])',
        'ts_of_min_over_time({j=~".+"}[40s])',
        'ts_of_last_over_time({j=~".+"}[40s])',
    ]
    steps = list(range(START + STEP, END + 1, STEP))
    for expr in exprs:
        rg = {(r["signature"], r["t_ms"]): r["value"]
              for r in promql.eval_range(df, expr, START, END, STEP).collect()}
        expected = {}
        for t in steps:
            for r in promql.eval_instant(df, expr, t).collect():
                expected[(r["signature"], t)] = r["value"]
        assert set(rg) == set(expected), expr
        for key, v in expected.items():
            got = rg[key]
            if v is not None and math.isnan(v):
                assert math.isnan(got), (expr, key)
            else:
                assert math.isclose(got, v, rel_tol=1e-9, abs_tol=1e-9), (
                    expr, key, got, v)

    # rate keeps the tiled convention: increase / range-seconds
    rr = {(r["signature"], r["t_ms"]): r["value"] for r in
          promql.eval_range(df, 'rate({j="a"}[40s])', START, END,
                            STEP).collect()}
    ri = {(r["signature"], r["t_ms"]): r["value"] for r in
          promql.eval_range(df, 'increase({j="a"}[40s])', START, END,
                            STEP).collect()}
    assert set(rr) == set(ri)
    assert all(math.isclose(rr[k], ri[k] / 40.0, rel_tol=1e-12) for k in rr)
    # ... where instant rate divides the increase by the span its steps
    # cover, so a window holding a single step (zero span) is absent
    pts = sorted((t, v) for lab, t, v in rows if lab["j"] == "a")
    one_step = 0
    for t in steps:
        win = [(ts, v) for ts, v in pts if t - 40_000 <= ts <= t]
        got = {r["signature"]: r["value"] for r in promql.eval_instant(
            df, 'rate({j="a"}[40s])', t).collect()}
        if len(win) < 3:
            one_step += len(win) == 2
            assert got == {} and ("j=a", t) in rr, t
            continue
        inc = sum(v - p if v >= p else v
                  for (_, p), (_, v) in zip(win, win[1:]))
        span_s = (win[-1][0] - win[1][0]) / 1000.0
        assert math.isclose(got["j=a"], inc / span_s, rel_tol=1e-12), t
    assert one_step


def test_eval_range_operators_match_instant(spark):
    """Instant and range evaluation share every operator above sample
    selection, so each window of eval_range must equal eval_instant at
    that window's end: aggregations (by and without), vector matching,
    set operators and value/label transforms. The instant lookback is
    one step, the range selector's window; samples sit off the step
    grid, where the closed instant window and the left-open range
    window agree (PARITY.md). Three window ends per shape keep the
    check in the fast tier."""
    from functools import reduce

    rows = []
    for j in ("a", "b"):
        for k in ("x", "y"):
            for i in range(20):
                t = 1_500 + i * 7_000  # never lands on a 10s boundary
                rows.append(({"__name__": "m", "j": j, "k": k}, t,
                             (i * 3 + ord(j) + 2 * ord(k)) % 7 + 0.5))
                rows.append(({"__name__": "n", "j": j, "k": k}, t,
                             (i * 2 + ord(j) + ord(k)) % 5 + 1.25))
        # `o`: one series per j with an extra label, in every window
        for t in range(5_000, 140_000, 10_000):
            rows.append(({"__name__": "o", "j": j, "tier": f"t{j}"}, t, 2.0))
    df = spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double")
    START, END, STEP = 0, 140_000, 10_000
    ends = [40_000, 80_000, 130_000]

    exprs = [
        "sum by (j) (m)", "avg without (k) (m)", "min by (k) (m)",
        "max without (j) (m)", "count by (j) (m)", "stddev by (j) (m)",
        "stdvar without (k) (m)", "group by (k) (m)",
        'count_values by (j) ("v", m)', "topk by (j) (1, m)",
        "bottomk without (j) (1, m)", "quantile by (k) (0.5, m)",
        "limitk by (j) (1, m)", "limit_ratio(0.7, m)",
        "sum without (j, k) (m)",
        "m * on(j, k) n", "m > on(j, k) n", "m > bool on(j, k) n",
        "m * on(j) group_left(tier) o", "o * on(j) group_right(tier) m",
        "(m > 3) and on(j, k) (n > 4)", "(m > 3) or on(j, k) n",
        "(m > 3) unless on(j, k) (n > 5)",
        "m - 2", "2 > bool m", "m < 4",
        "-m", "abs(m - 4)", "sgn(m - 4)", "clamp(m, 2, 5)",
        "round(m / 3, 0.5)", 'label_replace(m, "z", "$1", "j", "(.*)")',
        'label_join(m, "z", "-", "j", "k")', "sort_desc(m)",
        "timestamp(m)", "m", "m / scalar(sum(m))",
    ]
    for expr in exprs:
        rg = promql.eval_range(df, expr, START, END, STEP).filter(
            F.col("t_ms").isin(ends)
        ).select("signature", "t_ms", "value", F.lit(True).alias("rg"))
        inst = [
            promql.eval_instant(df, expr, t, lookback_ms=STEP).select(
                "signature", F.lit(t).cast("long").alias("t_ms"), "value",
                F.lit(False).alias("rg"))
            for t in ends
        ]
        got, expected = {}, {}
        for r in reduce(lambda a, b: a.unionByName(b), inst, rg).collect():
            (got if r["rg"] else expected)[(r["signature"], r["t_ms"])] = (
                r["value"])
        assert expected, f"{expr}: no instant rows — the shape checks nothing"
        assert set(got) == set(expected), expr
        for key, v in expected.items():
            if math.isnan(v):
                assert math.isnan(got[key]), (expr, key)
            else:
                assert math.isclose(got[key], v, rel_tol=1e-9, abs_tol=1e-9), (
                    expr, key, got[key], v)


def test_instant_lookback_no_staleness_markers(spark):
    """Documented divergence (PARITY.md): instant selectors honor the
    5m lookback but do NOT special-case NaN staleness markers — a
    stale-NaN sample written via remote write is returned as the
    latest value inside the lookback, where Prometheus would suppress
    the series. Pins the chosen semantics."""
    import math

    rows = [({"j": "a"}, 1_000, 5.0), ({"j": "a"}, 2_000, float("nan")),
            ({"j": "b"}, 1_500, 7.0)]
    df = spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double")
    got = {r["signature"]: r["value"] for r in
           promql.eval_instant(df, '{j=~".+"}', 10_000).collect()}
    assert math.isnan(got["j=a"])  # marker surfaces, series not dropped
    assert got["j=b"] == 7.0
    # outside the lookback both series vanish — the lookback itself
    # is the only staleness mechanism
    assert promql.eval_instant(df, '{j=~".+"}', 500_000).count() == 0


@pytest.mark.slow
def test_eval_range_fuzz_crash_free(spark):
    """Fuzz eval_range over random TILED-class ASTs (VERDICT r8 #8):
    any generated expression either evaluates to the spec shape
    [signature, labels, t_ms, value] (schema asserted via plan
    analysis — no job) or rejects with a clean ValueError — never an
    AnalysisException / Py4J error / silent wrong shape. Ranges are
    drawn to straddle the accept/reject boundary (k·step multiples,
    non-multiples, past-cap), the asymmetry class that hid the
    range != step gap until r8."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from monolith_spark.labels import LabelMatcher
    from monolith_spark.promql import Agg, BinOp, Call, Number, Selector

    df = spark.createDataFrame(
        [({"j": "a"}, 1_500, 10.0), ({"j": "a"}, 11_500, 12.0),
         ({"j": "a"}, 21_500, 7.0), ({"j": "b"}, 2_500, 1.0),
         ({"j": "b"}, 32_500, 5.0)],
        "labels map<string,string>, timestamp long, value double")
    STEP = 10_000
    _rng = st.sampled_from(
        [STEP, 2 * STEP, 4 * STEP, 16 * STEP,   # accepted fan-outs
         17 * STEP, STEP + 1, STEP // 2])       # past-cap / non-multiple
    _sel = st.builds(
        lambda r, which: Selector(
            None, (LabelMatcher("j", "a", "EQ"),) if which else
            (LabelMatcher("j", ".+", "RE"),), r, 0, None),
        _rng, st.booleans())
    _fn = st.sampled_from(
        ["rate", "increase", "delta", "irate", "idelta", "resets",
         "changes", "avg_over_time", "sum_over_time", "max_over_time",
         "min_over_time", "count_over_time", "last_over_time",
         "stddev_over_time", "absent_over_time", "ts_of_max_over_time",
         "ts_of_min_over_time", "ts_of_last_over_time"])
    from monolith_spark.promql import Subquery

    _sq = st.builds(
        lambda f, s, r, ss: Call(f, (Subquery(Call("increase", (s,)),
                                              r, ss, 0, None),)),
        st.sampled_from(["sum_over_time", "max_over_time",
                         "stddev_over_time", "last_over_time"]),
        _sel,
        st.sampled_from([2 * STEP, 4 * STEP, 3 * STEP + 1]),
        st.sampled_from([STEP, STEP // 2, 2 * STEP]),
    )
    leaf = st.one_of(
        st.builds(lambda f, s: Call(f, (s,)), _fn, _sel),
        st.builds(lambda s: s.__class__(
            s.name, s.matchers, None, 0, None), _sel),  # instant selector
        st.builds(lambda n: Call("vector", (Number(float(n)),)),
                  st.integers(0, 3)),
        _sq,  # subqueries straddling the alignment boundary
    )

    def wrap(inner):
        return st.one_of(
            st.builds(
                lambda op, e, names: Agg(op, e, None, by=tuple(names)),
                st.sampled_from(["sum", "avg", "max", "count"]),
                inner, st.lists(st.sampled_from(["j", "z"]), max_size=1)),
            st.builds(lambda e, n, op: BinOp(op, e, Number(float(n))),
                      inner, st.integers(1, 5),
                      st.sampled_from(["+", "*", "/"])),
            st.builds(lambda f, e: Call(f, (e,)),
                      st.sampled_from(["abs", "ceil", "sqrt", "sort",
                                       "sort_desc"]), inner),
            st.builds(lambda k, e: Agg("topk", e, Number(float(k))),
                      st.integers(1, 3), inner),
            st.builds(
                lambda lo, hi, e: Call(
                    "histogram_fraction",
                    (Number(float(lo)), Number(float(hi)), e)),
                st.integers(0, 2), st.integers(2, 9), inner),
        )

    _ast = st.recursive(leaf, wrap, max_leaves=4)

    @given(_ast)
    @settings(max_examples=40, deadline=None)
    def run(ast):
        from monolith_spark import promql

        try:
            out = promql.eval_range(df, ast, 0, 40_000, STEP)
        except ValueError:
            return  # the documented rejection path
        assert out.columns == ["signature", "labels", "t_ms", "value"]
        dt = dict(out.dtypes)
        assert dt["t_ms"] == "bigint" and dt["value"] == "double"

    run()


def test_subquery_inner_range_k_fanout(spark):
    """Subquery with inner range = k*step (the r9 extension of the
    same bounded fan-out eval_range uses): each sample feeds the ≤k
    windows whose inner range covers its tile, reset isolation stays
    per-window, and rate divides by the INNER range."""
    rows = [({"j": "a"}, 1_500, 10.0), ({"j": "a"}, 11_500, 12.0),
            ({"j": "a"}, 21_500, 4.0), ({"j": "a"}, 31_500, 9.0)]
    df = spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double")
    # windows (10s tiles over [0,40s], inner range 20s = 2 tiles):
    # w0: [10] single point → no step; w1: [10,12] → +2;
    # w2: [12,4] → reset → 4; w3: [4,9] → +5
    (r1,) = promql.eval_instant(
        df, 'sum_over_time(increase({j="a"}[20s])[40s:10s])', 40_000
    ).collect()
    assert r1["value"] == 11.0
    (r2,) = promql.eval_instant(
        df, 'max_over_time(rate({j="a"}[20s])[40s:10s])', 40_000
    ).collect()
    assert r2["value"] == 0.25  # max step 5 over the 20s inner range
    # non-multiple inner range and past-cap fan-out reject cleanly
    with pytest.raises(ValueError, match="whole multiple of the step"):
        promql.eval_instant(
            df, 'max_over_time(rate({j="a"}[15s])[40s:10s])', 40_000)
    with pytest.raises(ValueError, match="exceeds RANGE_TILE_MAX_K"):
        promql.eval_instant(
            df, 'max_over_time(rate({j="a"}[170s])[340s:10s])', 40_000)


@pytest.mark.slow
def test_eval_range_subquery(spark):
    """Subqueries in RANGE mode (r9): the inner expression evaluates
    once as its own tiled grid at the subquery step, and each inner
    value fans into the bounded set of outer windows whose subquery
    range covers its tile — per-step equality with eval_instant of the
    same expression (both share the S-grid because the grid step is a
    multiple of the subquery step). Misaligned steps and oversized
    fan-outs reject cleanly."""
    import math

    rows = []
    v = 0.0
    for i in range(30):
        v += (i % 4)
        if i == 15:
            v = 1.0  # mid-stream reset
        rows.append(({"j": "a"}, 1_500 + i * 7_000, float(v)))
    df = spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double")

    for expr, G in [
        ('sum_over_time(increase({j="a"}[20s])[40s:10s])', 10_000),
        ('max_over_time(rate({j="a"}[10s])[60s:10s])', 20_000),  # m=2
        ('avg_over_time(increase({j="a"}[20s])[40s:20s])', 20_000),
        ('last_over_time(delta({j="a"}[10s])[30s:10s])', 10_000),
        # the widened op family (r9): moments, quantile (param
        # threading), presence
        ('stddev_over_time(increase({j="a"}[20s])[40s:10s])', 10_000),
        ('quantile_over_time(0.9, increase({j="a"}[20s])[40s:20s])', 20_000),
        ('present_over_time(rate({j="a"}[10s])[30s:10s])', 10_000),
        # any range function as the inner: both modes run the one
        # range-function layer per window
        ('max_over_time(irate({j="a"}[20s])[40s:10s])', 10_000),
        ('avg_over_time(deriv({j="a"}[20s])[40s:20s])', 20_000),
    ]:
        rg = {(r["signature"], r["t_ms"]): r["value"]
              for r in promql.eval_range(df, expr, 0, 200_000, G).collect()}
        expected = {}
        for t in range(G, 200_001, G):
            for r in promql.eval_instant(df, expr, t).collect():
                expected[(r["signature"], t)] = r["value"]
        assert set(rg) == set(expected), expr
        for key, val in expected.items():
            assert math.isclose(rg[key], val, rel_tol=1e-9,
                                abs_tol=1e-12), (expr, key)

    with pytest.raises(ValueError, match="whole multiples of the subquery"):
        promql.eval_range(
            df, 'sum_over_time(increase({j="a"}[20s])[40s:15s])',
            0, 60_000, 10_000)
    with pytest.raises(ValueError, match="exceeds RANGE_TILE_MAX_K"):
        promql.eval_range(
            df, 'sum_over_time(rate({j="a"}[10s])[300s:10s])',
            0, 60_000, 10_000)


def test_histogram_fraction(spark):
    """histogram_fraction(lo, hi, b) over classic cumulative buckets
    (the faithful form for an engine that classic-expands native
    histograms at ingest): linear interpolation inside the bucket
    containing each bound, histogram_quantile's first-bucket-lower-0
    and +Inf-clamp conventions, result clamped to [0,1] — checked
    against hand-computed fractions, instant and range mode."""
    rows = []
    for le, c in [("1", 2.0), ("2", 5.0), ("4", 7.0), ("+Inf", 10.0)]:
        rows.append(({"__name__": "lat_bucket", "le": le}, 5_000, c))
    df = spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double")

    def frac(lo, hi):
        (r,) = promql.eval_instant(
            df, f'histogram_fraction({lo}, {hi}, '
                f'{{__name__="lat_bucket"}})', 10_000).collect()
        return r["value"]

    assert frac(0, 2) == pytest.approx(0.5)          # exact bucket edge
    assert frac(1, 3) == pytest.approx(0.4)          # interp F(3)=6
    # a finite bound inside the +Inf bucket clamps to the highest
    # finite le's count (histogram_quantile's convention): F(100)=7
    assert frac(0.5, 100) == pytest.approx(0.6)      # F(0.5)=1 interp
    assert frac(0.5, "Inf") == pytest.approx(0.9)    # true upper tail
    assert frac(4, "Inf") == pytest.approx(0.3)
    assert frac(5, 100) == pytest.approx(0.0)        # both clamp to 7
    assert frac(2, 1) == 0.0                         # inverted → clamped

    # range mode composes the same way, per window
    got = {(r["t_ms"], round(r["value"], 9)) for r in promql.eval_range(
        df, 'histogram_fraction(1, 3, {__name__="lat_bucket"})',
        0, 10_000, 10_000).collect()}
    assert got == {(10_000, 0.4)}


def test_info_function(spark):
    """info() (Prometheus 3.x experimental): series gain the data
    labels of the target_info series sharing their (job, instance)
    identity — the metric the OTLP receiver writes for leftover
    resource attributes. Unmatched series pass through, the series'
    own labels win on collision, a selector argument narrows the info
    series, and a duplicate info identity raises at execution."""
    rows = [
        ({"__name__": "reqs", "job": "api", "instance": "i1",
          "path": "/x"}, 5_000, 3.0),
        ({"__name__": "reqs", "job": "api", "instance": "i2"}, 5_000, 4.0),
        ({"__name__": "reqs", "job": "db", "instance": "i9"}, 5_000, 7.0),
        ({"__name__": "target_info", "job": "api", "instance": "i1",
          "k8s_cluster": "east", "path": "/info-wins-not"}, 4_000, 1.0),
        ({"__name__": "target_info", "job": "api", "instance": "i2",
          "k8s_cluster": "west"}, 4_000, 1.0),
    ]
    df = spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double")

    got = {r["signature"]: (dict(r["labels"]), r["value"]) for r in
           promql.eval_instant(df, 'info({__name__="reqs"})',
                               10_000).collect()}
    by_inst = {lbl["instance"]: (lbl, v) for lbl, v in got.values()}
    assert by_inst["i1"][0]["k8s_cluster"] == "east"
    assert by_inst["i1"][0]["path"] == "/x"      # series label wins
    assert by_inst["i1"][1] == 3.0
    assert by_inst["i2"][0]["k8s_cluster"] == "west"
    assert "k8s_cluster" not in by_inst["i9"][0]  # unmatched: unchanged
    assert by_inst["i9"][1] == 7.0

    # selector argument narrows the info series
    narrowed = {dict(r["labels"]).get("k8s_cluster") for r in
                promql.eval_instant(
                    df, 'info({__name__="reqs"}, {k8s_cluster="east"})',
                    10_000).collect()}
    assert narrowed == {"east", None}

    # duplicate info identity → execution-time error
    dup = df.unionByName(spark.createDataFrame(
        [({"__name__": "target_info", "job": "api", "instance": "i1",
           "k8s_cluster": "other"}, 4_500, 1.0)],
        "labels map<string,string>, timestamp long, value double"))
    with pytest.raises(Exception, match="multiple matching info series"):
        promql.eval_instant(
            dup, 'info({__name__="reqs"})', 10_000).collect()


def test_eval_range_info(spark):
    """info() composes in range mode: the tiled grid enriched per row
    with target_info data labels (info anchored at the range end),
    window ids untouched."""
    rows = [
        ({"__name__": "reqs", "job": "api", "instance": "i1"}, 1_000, 1.0),
        ({"__name__": "reqs", "job": "api", "instance": "i1"}, 11_000, 5.0),
        ({"__name__": "target_info", "job": "api", "instance": "i1",
          "cluster": "east"}, 11_000, 1.0),
    ]
    df = spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double")
    got = {(dict(r["labels"]).get("cluster"), r["t_ms"]): r["value"]
           for r in promql.eval_range(
               df, 'info({__name__="reqs"})', 0, 20_000, 10_000).collect()}
    assert got == {("east", 10_000): 1.0, ("east", 20_000): 5.0}


def test_ts_of_over_time(spark):
    """ts_of_max/min/last_over_time (Prometheus 3.5 experimental):
    the sample's own timestamp in seconds; ties resolve
    deterministically (latest max, earliest min); composes in range
    mode per window."""
    rows = [({"j": "a"}, 1_000, 5.0), ({"j": "a"}, 3_000, 9.0),
            ({"j": "a"}, 7_000, 9.0), ({"j": "a"}, 9_000, 2.0)]
    df = spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double")

    def one(expr):
        (r,) = promql.eval_instant(df, expr, 10_000).collect()
        return r["value"]

    assert one('ts_of_max_over_time({j="a"}[10s])') == 7.0   # latest max
    assert one('ts_of_min_over_time({j="a"}[10s])') == 9.0
    assert one('ts_of_last_over_time({j="a"}[10s])') == 9.0
    # range mode: per window
    got = {(r["t_ms"], r["value"]) for r in promql.eval_range(
        df, 'ts_of_max_over_time({j="a"}[5s])', 0, 10_000, 5_000).collect()}
    assert got == {(5_000, 3.0), (10_000, 7.0)}


def test_utf8_names(spark):
    """Prometheus 3.x UTF-8 names: quoted label names in matchers and
    label lists, quoted metric names in braces ({"my metric",
    job="api"}), formatter quoting anything that cannot re-lex bare
    (including metrics literally named inf/nan), and end-to-end
    evaluation over UTF-8 label keys."""
    assert promql.parse('{"m x", "a.b"="v"}') == promql.Selector(
        "m x", (promql.LabelMatcher("a.b", "v", "EQ"),))
    assert promql.format_expr(promql.Selector("inf", ())) == '{"inf"}'
    with pytest.raises(ValueError, match="metric name specified twice"):
        promql.parse('m{"n"}')
    with pytest.raises(ValueError, match="must be the first item"):
        promql.parse('{job="api", "n"}')

    rows = [({"__name__": "req total", "k8s.pod": "p1"}, 5_000, 3.0),
            ({"__name__": "req total", "k8s.pod": "p2"}, 5_000, 4.0)]
    df = spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double")
    got = {dict(r["labels"])["k8s.pod"]: r["value"] for r in
           promql.eval_instant(df, '{"req total"}', 10_000).collect()}
    assert got == {"p1": 3.0, "p2": 4.0}
    (r,) = promql.eval_instant(
        df, 'sum by ("k8s.pod") ({"req total", "k8s.pod"="p2"})',
        10_000).collect()
    assert r["value"] == 4.0 and dict(r["labels"]) == {"k8s.pod": "p2"}


def test_hashable_group_device(spark):
    """r9 optimization invariant: _hashable_group must (a) return the
    label map byte-identically to the first(labels) form — ENTRY ORDER
    included, since the driver's value hash sees map order — and (b)
    plan a HashAggregate, never the SortAggregate that a map-typed
    FIRST buffer forces (the whole point of the device)."""
    rows = [
        # insertion orders deliberately differ from sorted key order
        ({"z": "1", "a": "x", "m": "q"}, "s1", 1_000, 1.0),
        ({"z": "1", "a": "x", "m": "q"}, "s1", 2_000, 3.0),
        ({"b": "2", "a": "y"}, "s2", 1_000, 5.0),
    ]
    df = spark.createDataFrame(
        rows,
        "labels map<string,string>, signature string, "
        "timestamp long, value double",
    )
    fast = promql._hashable_group(
        df, ["signature"], "labels", F.sum("value").alias("value"))
    slow = df.groupBy("signature").agg(
        F.first("labels").alias("labels"), F.sum("value").alias("value"))
    # map_entries() order == iteration order: compare the ENTRIES
    # arrays, not just the logical map equality
    key = lambda r: r["signature"]
    fast_rows = sorted(
        fast.select("signature", F.map_entries("labels").alias("e"),
                    "value").collect(), key=key)
    slow_rows = sorted(
        slow.select("signature", F.map_entries("labels").alias("e"),
                    "value").collect(), key=key)
    assert fast_rows == slow_rows
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan and "SortAggregate" not in plan
    # and the first(labels) form really does sort-aggregate in this
    # Spark — if an upgrade lifts that limitation the device (and this
    # pin) can be retired
    slow_plan = slow._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" in slow_plan, (
        "Spark now hash-aggregates map-typed FIRST buffers — retire "
        "_hashable_group and this canary"
    )


def test_match_guard_elision(spark):
    """r10 optimization invariant: the one-to-one match guard window is
    ELIDED when a side is provably unique per match key (grouping aggs,
    per-series range functions with the ignored labels EQ-pinned), and
    KEPT for unproven shapes — the many-to-many error must still fire.
    Elision must not change results."""
    rows = [
        ({"event_type": "p", "kb": "0"}, 1_000, 1.0),
        ({"event_type": "p", "kb": "0"}, 2_000, 3.0),
        ({"event_type": "p", "kb": "1"}, 1_000, 5.0),
        ({"event_type": "c", "kb": "0"}, 1_000, 7.0),
        ({"event_type": "c", "kb": "1"}, 2_000, 11.0),
    ]
    df = spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double")

    # both sides provably unique (grouping aggs, default full-key
    # match): no Window in the plan, results = the per-group ratio
    q = ('sum by (kb) (sum_over_time({event_type="p"}[10s])) / '
         'sum by (kb) (sum_over_time({event_type="c"}[10s]))')
    out = promql.eval_instant(df, q, 10_000)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "provably-unique 1:1 match kept its guard"
    got = {r["signature"]: r["value"] for r in out.collect()}
    assert got == {"kb=0": 4.0 / 7.0, "kb=1": 5.0 / 11.0}

    # ignoring() with the ignored label EQ-pinned on both sides: elided
    q2 = ('sum_over_time({event_type="p"}[10s]) / ignoring(event_type) '
          'sum_over_time({event_type="c"}[10s])')
    out2 = promql.eval_instant(df, q2, 10_000)
    assert "Window" not in out2._jdf.queryExecution().executedPlan().toString()
    got2 = {r["signature"]: r["value"] for r in out2.collect()}
    assert got2 == {"event_type=p,kb=0": 4.0 / 7.0,
                    "event_type=p,kb=1": 5.0 / 11.0}

    # UNPROVEN shape (on() narrows a range-func side): guard stays and
    # the many-to-many error still raises at execution — two p-series
    # share kb=0, so on(kb) collapses them
    import pytest as _pt
    dup = df.unionByName(spark.createDataFrame(
        [({"event_type": "p", "kb": "0", "u": "2"}, 1_000, 13.0)],
        "labels map<string,string>, timestamp long, value double"))
    bad = promql.eval_instant(
        dup,
        'sum_over_time({event_type="p"}[10s]) / on(kb) '
        'sum_over_time({event_type="c"}[10s])',
        10_000,
    )
    assert "Window" in bad._jdf.queryExecution().executedPlan().toString()
    with _pt.raises(Exception, match="one-to-one"):
        bad.collect()

    # tiled twin: per-window elision, same results as the instant math
    # per day-window
    outr = promql.eval_range(df, q, 0, 10_000, 10_000)
    assert "Window" not in outr._jdf.queryExecution().executedPlan().toString()
    gotr = {(r["signature"], r["t_ms"]): r["value"] for r in outr.collect()}
    assert gotr == {("kb=0", 10_000): 4.0 / 7.0, ("kb=1", 10_000): 5.0 / 11.0}
