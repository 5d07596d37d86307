"""Recording rules: tiled evaluation, in-group chaining, write-back
through the manifest commit, overwrite idempotence, validation."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from monolith_spark.engine import MonolithDB
from monolith_spark.rules import (
    RecordingRule,
    evaluate_rules,
    record_rules,
    rules_from_dict,
)
from monolith_spark.sources.events import events_samples
from monolith_spark.workload import JAN1, JAN8

SF = "/root/testdata/sf0.001"
DAY = 86_400_000


@pytest.fixture()
def db(spark, tmp_path):
    d = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=2 * DAY)
    d.write(events_samples(spark, SF, with_signature=False))
    return d


def _group():
    return [
        RecordingRule(
            "kb:clicks:sum1d",
            'sum by (kb) (sum_over_time({event_type="click"}[1d]))',
        ),
        # chained: consumes the FIRST rule's output within the same pass
        RecordingRule(
            "clicks:sum1d:total",
            "sum(kb:clicks:sum1d)",
            labels={"env": "prod"},
        ),
    ]


def test_record_and_query_back(spark, db):
    out = record_rules(db, _group(), JAN1, JAN8, DAY).collect()
    assert out

    # rule 1: the recorded grid equals a direct tiled evaluation
    from monolith_spark import promql

    direct = {
        (r["signature"], r["t_ms"]): r["value"]
        for r in promql.eval_range(
            events_samples(spark, SF).select("labels", "timestamp", "value"),
            'sum by (kb) (sum_over_time({event_type="click"}[1d]))',
            JAN1, JAN8, DAY,
        ).collect()
    }
    got = {
        ("kb=" + r["labels"]["kb"], r["timestamp"]): r["value"]
        for r in out
        if r["labels"]["__name__"] == "kb:clicks:sum1d"
    }
    assert got == direct

    # rule 2 chained: per-timestamp total of rule 1, static label applied
    totals = {
        r["timestamp"]: r["value"]
        for r in out
        if r["labels"]["__name__"] == "clicks:sum1d:total"
    }
    assert totals
    for t, v in totals.items():
        assert v == pytest.approx(
            sum(val for (_, tt), val in direct.items() if tt == t)
        )
    env = [r["labels"].get("env")
           for r in out if r["labels"]["__name__"] == "clicks:sum1d:total"]
    assert set(env) == {"prod"}

    # the recorded series are first-class: PromQL text over the engine
    # reads them back (instant eval at a grid point, default lookback)
    from monolith_spark.server import evaluate_promql

    vec = evaluate_promql(db, "kb:clicks:sum1d", JAN1 + 3 * DAY)
    assert vec and all(m["metric"]["__name__"] == "kb:clicks:sum1d"
                       for m in vec)
    by_kb = {m["metric"]["kb"]: float(m["value"][1]) for m in vec}
    assert by_kb == {
        sig.split("kb=")[1]: v
        for (sig, t), v in direct.items() if t == JAN1 + 3 * DAY
    }


@pytest.mark.slow
def test_overwrite_is_idempotent(spark, db):
    record_rules(db, _group(), JAN1, JAN8, DAY, overwrite=True)
    n1 = db.query_flat(
        {"__name__": "kb:clicks:sum1d"}, 0, 2 * JAN8
    ).count()
    record_rules(db, _group(), JAN1, JAN8, DAY, overwrite=True)
    n2 = db.query_flat(
        {"__name__": "kb:clicks:sum1d"}, 0, 2 * JAN8
    ).count()
    assert n1 == n2 > 0

    # append mode (default) duplicates instead — the documented contrast
    record_rules(db, _group(), JAN1, JAN8, DAY)
    n3 = db.query_flat(
        {"__name__": "kb:clicks:sum1d"}, 0, 2 * JAN8
    ).count()
    assert n3 == 2 * n1


def test_validation_and_dict_loader():
    with pytest.raises(ValueError, match="invalid recording-rule name"):
        evaluate_rules(None, [RecordingRule("0bad", "x")], 0, 1, 1)
    with pytest.raises(ValueError, match="duplicate"):
        evaluate_rules(
            None,
            [RecordingRule("a:b", "x"), RecordingRule("a:b", "y")],
            0, 1, 1,
        )
    with pytest.raises(ValueError, match="invalid static label"):
        evaluate_rules(
            None,
            [RecordingRule("a:b", "x", labels={"__name__": "no"})],
            0, 1, 1,
        )
    with pytest.raises(ValueError, match="alerting rules"):
        rules_from_dict({"rules": [{"alert": "Hot", "expr": "x"}]})
    rs = rules_from_dict({
        "rules": [
            {"record": "a:b", "expr": "sum(m)", "labels": {"env": "ci"}},
            {"record": "c:d", "expr": "increase(m[1d])"},
        ]
    })
    assert rs == [
        RecordingRule("a:b", "sum(m)", {"env": "ci"}),
        RecordingRule("c:d", "increase(m[1d])"),
    ]


def test_rules_http_surface(spark, db):
    """The served rules flow: GET /api/v1/rules lists the configured
    group (Prometheus shape), POST /api/v1/admin/rules/run backfills a
    window (204), and the recorded series answer instant PromQL over
    HTTP afterwards."""
    import json
    import urllib.request

    from monolith_spark.server import MonolithServer

    from monolith_spark.rules import AlertingRule

    alert = AlertingRule(
        "ClicksSeen", 'sum by (kb) (sum_over_time({event_type="click"}[1d]))'
        ' > 0', 0, {"severity": "info"}, {"summary": "clicks happened"})
    srv = MonolithServer(db, port=0, recording_rules=_group(),
                         alerting_rules=[alert])
    srv.serve_background()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/api/v1/rules"
        ) as resp:
            listed = json.loads(resp.read())["data"]["groups"]
        assert [r["name"] for r in listed[0]["rules"]] == [
            "kb:clicks:sum1d", "clicks:sum1d:total", "ClicksSeen"]
        assert listed[0]["rules"][1]["labels"] == {"env": "prod"}
        assert listed[0]["rules"][2]["type"] == "alerting"
        assert listed[0]["rules"][2]["annotations"] == {
            "summary": "clicks happened"}

        run = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/api/v1/admin/rules/run"
            f"?start={JAN1 // 1000}&end={JAN8 // 1000}&step=1d"
            "&overwrite=true",
            method="POST",
        )
        with urllib.request.urlopen(run) as resp:
            assert resp.status == 204

        t = (JAN1 + 3 * DAY) // 1000
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/api/v1/query"
            f"?query=clicks:sum1d:total&time={t}"
        ) as resp:
            vec = json.loads(resp.read())["data"]["result"]
        assert len(vec) == 1 and vec[0]["metric"]["env"] == "prod"
        assert float(vec[0]["value"][1]) > 0

        # the same trigger backfilled ALERTS history (for: 0 → firing
        # wherever the condition held)
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/api/v1/query"
            f'?query={{__name__="ALERTS",alertname="ClicksSeen"}}&time={t}'
        ) as resp:
            alerts = json.loads(resp.read())["data"]["result"]
        assert alerts and all(
            a["metric"]["alertstate"] == "firing"
            and a["metric"]["severity"] == "info"
            for a in alerts)
    finally:
        srv.shutdown()


def test_check_rules_reports_without_evaluating():
    from monolith_spark.rules import check_rules

    ok = check_rules([RecordingRule("a:b", 'sum by (kb) (m)')])
    assert ok == []
    probs = check_rules([
        RecordingRule("a:b", "sum by (kb) (m"),   # unbalanced paren
        RecordingRule("a:b", "m"),                 # duplicate name
        RecordingRule("0bad", "m"),                # invalid name
    ])
    assert len(probs) == 3
    assert any("a:b" in p for p in probs)


def test_groups_from_dict():
    from monolith_spark.rules import groups_from_dict

    doc = {"groups": [
        {"name": "g1", "rules": [{"record": "a:b", "expr": "sum(m)"}]},
        {"name": "g2", "rules": [{"record": "c:d", "expr": "m"}]},
    ]}
    gs = groups_from_dict(doc)
    assert sorted(gs) == ["g1", "g2"]
    assert gs["g1"] == [RecordingRule("a:b", "sum(m)", {})]
    with pytest.raises(ValueError, match="duplicate rule group"):
        groups_from_dict({"groups": [{"name": "g", "rules": []}] * 2})
    with pytest.raises(ValueError, match="without a name"):
        groups_from_dict({"groups": [{"rules": []}]})


def test_time_travel_over_http(spark, db):
    """at_version on /api/v1/query pins the evaluation to a retained
    manifest snapshot: after deleting the click series, the current
    query sees nothing while the pre-delete version still answers."""
    import json
    import urllib.parse
    import urllib.request

    from monolith_spark.labels import LabelMatcher
    from monolith_spark.server import MonolithServer

    pre = max(e["version"] for e in db.history())
    db.delete_series([LabelMatcher("event_type", "click", "EQ")])
    srv = MonolithServer(db, port=0)
    srv.serve_background()
    try:
        q = urllib.parse.urlencode({
            "query": 'count(sum_over_time({event_type="click"}[19d]))',
            "time": str((JAN1 + 19 * DAY) // 1000),
        })

        def ask(extra=""):
            with urllib.request.urlopen(
                f"http://127.0.0.1:{srv.port}/api/v1/query?{q}{extra}"
            ) as resp:
                return json.loads(resp.read())["data"]["result"]

        now = ask()
        assert now == []  # count over an empty vector: no rows
        old = ask(f"&at_version={pre}")
        assert old and float(old[0]["value"][1]) > 0
    finally:
        srv.shutdown()


def test_status_endpoints(spark, db):
    import json
    import urllib.request

    from monolith_spark.server import MonolithServer

    srv = MonolithServer(db, port=0)
    srv.serve_background()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/api/v1/status/buildinfo"
        ) as resp:
            info = json.loads(resp.read())["data"]
        assert "monolith-spark" in info["version"]
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/api/v1/status/flags"
        ) as resp:
            flags = json.loads(resp.read())["data"]
        assert flags["query.lookback-delta"] == "5m"
    finally:
        srv.shutdown()


def test_static_label_overrides_result_label(spark):
    s = events_samples(spark, SF).select("labels", "timestamp", "value")
    out = evaluate_rules(
        s,
        [RecordingRule(
            "kb:clicks:inc",
            'sum by (kb) (sum_over_time({event_type="click"}[1d]))',
            labels={"kb": "all"},  # static label wins on collision
        )],
        JAN1, JAN8, DAY,
    ).collect()
    assert out and all(r["labels"]["kb"] == "all" for r in out)


def test_label_drop_lists_keys_sorted(spark):
    """The label-drop array a rule's relabel builds lists its keys
    sorted, so the plan text is the same in every process (a Python
    set's order follows the string hash seed)."""
    from monolith_spark.rules import _labels_without, _relabel

    keys = ["zeta", "mu", "beta", "alpha", "kappa"]
    want = sorted(["__name__", *keys])
    assert "array(" + ", ".join(f"'{k}'" for k in want) + ")" in str(
        _labels_without(set(["__name__", *keys]))
    )
    out = spark.createDataFrame(
        [], "signature string, labels map<string,string>, t_ms long, value double"
    )
    rule = RecordingRule("r:x", "up", labels={k: "v" for k in keys})
    plan = _relabel(out, rule)._jdf.queryExecution().analyzed().toString()
    assert "array(" + ", ".join(want) + ")" in plan


def test_alerting_rules_backfill(spark, tmp_path):
    """ALERTS historical backfill (r9 — the thing Prometheus cannot
    do: its ALERTS exist only from rule deployment): pending→firing
    with `for:` sustain semantics over a hand-built grid, static-label
    overlay, alertname/alertstate labels, write-back + overwrite
    idempotence, and the dict loader reading Prometheus rule-file
    shapes."""
    from monolith_spark.rules import (
        alerting_rules_from_dict,
        backfill_alerts,
        evaluate_alerting_rules,
    )

    # series j=a is above threshold in windows 1,2,3 (streak), j=b
    # only in window 2 — with for: 20s (2 steps) a only fires at
    # window 3; everything else active is pending
    rows = [({"j": "a"}, 5_000, 10.0), ({"j": "a"}, 15_000, 11.0),
            ({"j": "a"}, 25_000, 12.0), ({"j": "b"}, 15_000, 9.0),
            ({"j": "b"}, 35_000, 1.0)]
    df = spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double")
    (rule,) = alerting_rules_from_dict({
        "rules": [
            {"record": "skipped:by:alert:loader", "expr": "x"},
            {"alert": "HighValue", "expr": '{j=~".+"} > 5', "for": "20s",
             "labels": {"severity": "page"},
             "annotations": {"summary": "too high"}},
        ]
    })
    assert rule.for_ms == 20_000 and rule.annotations["summary"] == "too high"

    out = evaluate_alerting_rules(df, [rule], 0, 40_000, 10_000)
    got = {
        (dict(r["labels"])["j"], r["timestamp"],
         dict(r["labels"])["alertstate"]): r["value"]
        for r in out.collect()
    }
    assert got == {
        ("a", 10_000, "pending"): 1.0,   # streak held 0s
        ("a", 20_000, "pending"): 1.0,   # held 10s < 20s
        ("a", 30_000, "firing"): 1.0,    # held 20s
        ("b", 20_000, "pending"): 1.0,   # isolated window
    }
    lbl = {dict(r["labels"])["alertname"] for r in out.collect()}
    assert lbl == {"HighValue"}
    assert all(dict(r["labels"])["severity"] == "page"
               for r in out.collect())
    assert all(dict(r["labels"])["__name__"] == "ALERTS"
               for r in out.collect())

    # write-back + overwrite idempotence through the engine
    db = MonolithDB(spark, str(tmp_path / "adb"), chunk_size_ms=2 * DAY)
    db.write(df)
    backfill_alerts(db, [rule], 0, 40_000, 10_000)
    backfill_alerts(db, [rule], 0, 40_000, 10_000, overwrite=True)
    stored = db.query_flat({"__name__": "ALERTS"}, 0, 10**9)
    assert stored.count() == 4  # no duplication after the re-run
    firing = db.query_flat(
        {"__name__": "ALERTS", "alertstate": "firing"}, 0, 10**9).collect()
    assert [(r["timestamp"], dict(r["labels"])["j"]) for r in firing] == [
        (30_000, "a")]


def test_alerting_keep_firing_for(spark):
    """keep_firing_for (Prometheus 3.x): a firing alert stays firing
    for the grace period after the condition stops; a PENDING
    last-active step blocks the carry of an older firing one; carry
    never resurrects as pending."""
    from monolith_spark.rules import AlertingRule, evaluate_alerting_rules

    # j=a active in w0..w2 (firing from w1 with for:10s), inactive
    # w3..w5; j=b fires at w0 only, then a NEW 1-step activation at
    # w3 (pending under for:10s) blocks w4 from carrying w0's firing
    rows = [({"j": "a"}, 5_000, 9.0), ({"j": "a"}, 15_000, 9.0),
            ({"j": "a"}, 25_000, 9.0),
            ({"j": "b"}, 5_000, 9.0), ({"j": "b"}, 6_000, 1.0),
            ({"j": "b"}, 35_000, 9.0)]
    df = spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double")
    rule_a = AlertingRule("A", '{j="a"} > 5', 10_000,
                          keep_firing_for_ms=20_000)
    got_a = {(r["timestamp"], dict(r["labels"])["alertstate"])
             for r in evaluate_alerting_rules(
                 df, [rule_a], 0, 60_000, 10_000).collect()}
    assert got_a == {
        (10_000, "pending"),   # active, held 0
        (20_000, "firing"),    # held 10s = for
        (30_000, "firing"),    # active
        (40_000, "firing"),    # carried (10s since last active)
        (50_000, "firing"),    # carried (20s = keep_firing_for)
        # 60_000 resolved: 30s > keep_firing_for
    }
    # a PENDING last-active step BLOCKS the carry of an older firing
    # one: j=c fires through w1, gaps at w2 (carried), re-activates at
    # w3 as a new pending streak — w4/w5 must not resurrect w1's fire
    rows_c = [({"j": "c"}, 5_000, 9.0), ({"j": "c"}, 15_000, 9.0),
              ({"j": "c"}, 35_000, 9.0)]
    dfc = spark.createDataFrame(
        rows_c, "labels map<string,string>, timestamp long, value double")
    rule_c = AlertingRule("C", '{j="c"} > 5', 10_000,
                          keep_firing_for_ms=40_000)
    got_c = {(r["timestamp"], dict(r["labels"])["alertstate"])
             for r in evaluate_alerting_rules(
                 dfc, [rule_c], 0, 60_000, 10_000).collect()}
    assert got_c == {
        (10_000, "pending"),  # streak start
        (20_000, "firing"),   # held 10s = for
        (30_000, "firing"),   # carried from w1
        (40_000, "pending"),  # NEW streak — resets
        # 50s/60s: last-active is the pending w3 → carry blocked
    }
