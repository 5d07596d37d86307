"""Prometheus recording rules, evaluated server-side over the engine.

A recording rule precomputes a named PromQL expression so dashboards
read one cheap series instead of re-aggregating raw data — the single
most-used Prometheus scaling idiom. The reference cannot host rules at
all: it is a remote-storage backend and rule evaluation lives in the
Prometheus client (/root/reference/README.md:7). This engine already
evaluates PromQL text server-side (promql.py), so rules become a batch
job: each rule's expression runs as ONE tiled range pass
(promql.eval_range — no per-step replan, no repeated scans) and the
grid lands back in the engine as first-class series through the same
manifest-commit write path as any ingest, queryable by every matcher /
PromQL / HTTP surface from that commit on.

Semantics (matching Prometheus where the engine has the machinery):

- A group's rules evaluate SEQUENTIALLY: later rules see earlier
  rules' output in the same pass, so chained aggregations
  (``job:req:rate1d`` feeding ``job:req:rate1d:sum``) work without an
  intermediate commit.
- The output series carries the expression result's labels with
  ``__name__`` replaced by the rule's ``record`` name, then the
  rule's static ``labels`` overlaid (Prometheus rule-file semantics:
  static labels override result labels on collision).
- Each grid point is stamped at its evaluation timestamp (the tile
  end — eval_range's t_ms).
- ``overwrite=True`` re-runs are idempotent per rule name: the rule's
  prior output over [start, end] is removed first via the
  time-bounded delete (its own manifest commit), then the batch
  writes in one commit. Append mode (the default) never deletes.

Scale shape: one chunk-pruned scan of [start - lookback, end] feeds
every rule in the group; each rule adds one tiled evaluation (a keyed
per-(series, window) shuffle) and the union is ONE write job
repartitioned by chunk. Nothing collects to the driver.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from monolith_spark import promql
from monolith_spark.labels import LabelMatcher

from monolith_spark.barrier import barrier as _lineage_barrier

_METRIC_NAME_RE = re.compile(r"^[a-zA-Z_:][a-zA-Z0-9_:]*$")
_LABEL_NAME_RE = re.compile(r"^[a-zA-Z_][a-zA-Z0-9_]*$")


@dataclass(frozen=True)
class RecordingRule:
    """One rule of a Prometheus rule group: ``record`` is the output
    metric name, ``expr`` the PromQL text (the tiled class eval_range
    supports), ``labels`` static labels overlaid on the result."""

    record: str
    expr: str
    labels: dict[str, str] = field(default_factory=dict)


def rules_from_dict(group: dict) -> list[RecordingRule]:
    """Build rules from a parsed Prometheus rule-group mapping
    (``{"rules": [{"record": ..., "expr": ..., "labels": {...}}]}`` —
    the YAML file's shape after any YAML parser). Alerting rules
    (``alert:`` keys) are rejected here — the engine's alert path is
    operators/timeseries + streaming/alerts."""
    out = []
    for r in group.get("rules", []):
        if "alert" in r:
            raise ValueError(
                "alerting rules are not recording rules — use "
                "alerting_rules_from_dict / backfill_alerts (batch "
                "ALERTS history) or streaming_alerts (live)"
            )
        out.append(
            RecordingRule(r["record"], r["expr"], dict(r.get("labels", {})))
        )
    return out


def groups_from_dict(doc: dict) -> dict[str, list[RecordingRule]]:
    """Parse a whole Prometheus rule FILE mapping (``{"groups":
    [{"name": ..., "rules": [...]}]}``) into named groups. Each group
    evaluates independently (its own record_rules call); in-group
    chaining still applies within each."""
    out: dict[str, list[RecordingRule]] = {}
    for g in doc.get("groups", []):
        name = g.get("name")
        if not name:
            raise ValueError("rule group without a name")
        if name in out:
            raise ValueError(f"duplicate rule group {name!r}")
        out[name] = rules_from_dict(g)
    return out


def _validate(rules: list[RecordingRule]) -> None:
    seen: set[str] = set()
    for r in rules:
        if not _METRIC_NAME_RE.match(r.record):
            raise ValueError(f"invalid recording-rule name {r.record!r}")
        if r.record in seen:
            raise ValueError(f"duplicate recording-rule name {r.record!r}")
        seen.add(r.record)
        for k in r.labels:
            if not _LABEL_NAME_RE.match(k) or k == "__name__":
                raise ValueError(
                    f"invalid static label {k!r} on rule {r.record!r}"
                )


def _labels_without(keys) -> Column:
    """The ``labels`` map without the entries whose key is in ``keys``.
    The keys are listed sorted, so the plan text is the same in every
    process (a set's iteration order changes with the string hash
    seed)."""
    drop = F.array(*[F.lit(k) for k in sorted(keys)])
    return F.map_filter(F.col("labels"), lambda k, _: ~F.array_contains(drop, k))


def _relabel(out: DataFrame, rule: RecordingRule) -> DataFrame:
    """[signature, labels, t_ms, value] → [labels, timestamp, value]
    with __name__ set to the rule name and static labels overlaid."""
    kept = _labels_without({"__name__", *rule.labels})
    pairs: list = [F.lit("__name__"), F.lit(rule.record)]
    for k, v in sorted(rule.labels.items()):
        pairs.extend([F.lit(k), F.lit(v)])
    new_labels = F.map_concat(kept, F.create_map(*pairs))
    return out.select(
        new_labels.alias("labels"),
        F.col("t_ms").alias("timestamp"),
        F.col("value").cast("double").alias("value"),
    )


def check_rules(rules: list[RecordingRule]) -> list[str]:
    """``promtool check rules`` analog: validate a group without
    touching data — name/static-label validation plus a parse of every
    expression. Returns the list of problems (empty = OK). The
    tiled-class restriction is enforced at evaluation (it depends on
    the step); this catches the deploy-time errors: syntax, duplicate
    or invalid names, reserved labels."""
    problems: list[str] = []
    seen: set[str] = set()
    for r in rules:
        if not _METRIC_NAME_RE.match(r.record):
            problems.append(f"invalid recording-rule name {r.record!r}")
        elif r.record in seen:
            problems.append(f"duplicate recording-rule name {r.record!r}")
        seen.add(r.record)
        for k in r.labels:
            if not _LABEL_NAME_RE.match(k) or k == "__name__":
                problems.append(
                    f"invalid static label {k!r} on rule {r.record!r}"
                )
        try:
            promql.parse(r.expr)
        except ValueError as e:
            problems.append(f"{r.record}: {e}")
    return problems


def evaluate_rules(
    samples: DataFrame,
    rules: list[RecordingRule],
    start_ms: int,
    end_ms: int,
    step_ms: int,
) -> DataFrame:
    """Evaluate a rule group over [start, end] at ``step_ms`` and
    return every output point as [labels, timestamp, value]. Rules run
    sequentially — rule N's input is the base samples plus rules
    1..N-1's output — so chained aggregations resolve within one
    group, exactly Prometheus's in-group ordering."""
    _validate(rules)
    base = samples.select("labels", "timestamp", "value")
    if len(rules) > 1:
        # Chaining by raw lineage would embed rule 1..N-1's WHOLE plan
        # (including the base scan) inside rule N's — O(R²) scans for R
        # rules. Cut it: materialize the base once and each non-final
        # rule's (tiny, series×steps) grid before it joins the pool.
        base = base.transform(_lineage_barrier, eager=False)
    outs: list[DataFrame] = []
    for i, rule in enumerate(rules):
        grid = promql.eval_range(base, rule.expr, start_ms, end_ms, step_ms)
        recorded = _relabel(grid, rule)
        if i < len(rules) - 1:
            recorded = recorded.transform(_lineage_barrier, eager=False)
        outs.append(recorded)
        base = base.unionByName(recorded)
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def record_rules(
    db,
    rules: list[RecordingRule],
    start_ms: int,
    end_ms: int,
    step_ms: int,
    overwrite: bool = False,
) -> DataFrame:
    """Evaluate ``rules`` against ``db`` over [start, end] and write
    the results back as first-class series (ONE manifest commit for
    the whole group's output — a crash before the commit leaves the
    store untouched). With ``overwrite``, each rule's prior output in
    the window is removed first (time-bounded delete — its own
    commit), making re-runs idempotent per (rule, window). Returns the
    recorded [labels, timestamp, value] DataFrame (already written)."""
    _validate(rules)
    if overwrite:
        for rule in rules:
            db.delete_series(
                [LabelMatcher("__name__", rule.record, "EQ")],
                start_ms,
                end_ms,
            )
    # widest reach any rule expression can touch at its earliest grid
    # point (range = k*step selectors reach past start by (k-1)*step —
    # the old flat `start - max(step, lookback)` bound would truncate)
    lo = start_ms - max(step_ms, promql.DEFAULT_LOOKBACK_MS)
    for rule in rules:
        l1, _ = promql.time_window(rule.expr, min(start_ms + step_ms, end_ms))
        lo = min(lo, l1)
    samples = db.query_flat({}, lo, end_ms).select(
        "labels", "timestamp", "value"
    )
    out = evaluate_rules(samples, rules, start_ms, end_ms, step_ms)
    db.write(out)
    return out


@dataclass(frozen=True)
class AlertingRule:
    """One alerting rule of a Prometheus rule group: ``alert`` is the
    alert name, ``expr`` the condition (any expression the tiled
    evaluator supports — a series is "active" at a step when the
    expression returns it), ``for_ms`` the sustain duration before
    pending becomes firing, ``labels`` static labels overlaid on the
    result, ``annotations`` carried for API consumers (ALERTS series
    do not encode them, matching Prometheus)."""

    alert: str
    expr: str
    for_ms: int = 0
    labels: dict[str, str] = field(default_factory=dict)
    annotations: dict[str, str] = field(default_factory=dict)
    # Prometheus 3.x `keep_firing_for`: once firing, the alert stays
    # firing for this long after the condition stops holding
    keep_firing_for_ms: int = 0


def alerting_rules_from_dict(group: dict) -> list[AlertingRule]:
    """Build alerting rules from a parsed Prometheus rule-group
    mapping (``{"rules": [{"alert": ..., "expr": ..., "for": "5m",
    "labels": {...}, "annotations": {...}}]}``). Recording rules in
    the group are skipped (rules_from_dict reads those)."""
    out = []
    for r in group.get("rules", []):
        if "alert" not in r:
            continue
        f = r.get("for", 0)
        for_ms = promql.parse_duration_ms(f) if isinstance(f, str) else int(f)
        kf = r.get("keep_firing_for", 0)
        kf_ms = promql.parse_duration_ms(kf) if isinstance(kf, str) else int(kf)
        out.append(
            AlertingRule(
                r["alert"], r["expr"], for_ms,
                dict(r.get("labels", {})), dict(r.get("annotations", {})),
                kf_ms,
            )
        )
    return out


def evaluate_alerting_rules(
    samples: DataFrame,
    rules: list[AlertingRule],
    start_ms: int,
    end_ms: int,
    step_ms: int,
) -> DataFrame:
    """Historical ALERTS backfill — the thing Prometheus itself cannot
    do (its ALERTS series exist only from when the rule was deployed):
    evaluate each alert condition over the whole [start, end] grid in
    ONE tiled pass, derive pending/firing per (series, step) with
    Prometheus's `for:` semantics, and return the ALERTS series
    [labels, timestamp, value]:

    - a series is ACTIVE at a step when the condition returns it;
    - its state is FIRING once the condition has held for >= for_ms
      (streak length s consecutive active steps ⇒ held (s-1)·step —
      activeAt is the streak's first evaluation time, exactly
      Prometheus's now - activeAt >= for), PENDING before that;
    - output labels are the condition result's labels minus __name__,
      plus alertname=<alert>, alertstate=pending|firing and the
      rule's static labels (which override on collision); value 1.0.

    Scale shape: one tiled evaluation per rule + one keyed window
    (series × steps grain — the consecutive-run device row_number ⇒
    run id ⇒ streak min) — never a per-step replan."""
    from pyspark.sql import Window

    for r in rules:
        if not _METRIC_NAME_RE.match(r.alert):
            raise ValueError(f"invalid alert name {r.alert!r}")
        for k in r.labels:
            if not _LABEL_NAME_RE.match(k) or k == "__name__":
                raise ValueError(
                    f"invalid static label {k!r} on alert {r.alert!r}")
    n_tiles = -(-(end_ms - start_ms) // step_ms)
    outs: list[DataFrame] = []
    for rule in rules:
        grid = promql.eval_range(samples, rule.expr, start_ms, end_ms, step_ms)
        w = (
            (F.col("t_ms") - F.lit(start_ms)) / F.lit(step_ms) - 1
        ).cast("long")
        g = grid.select("signature", "labels", "t_ms", w.alias("__w"))
        rn = F.row_number().over(
            Window.partitionBy("signature").orderBy("__w"))
        runs = g.select(
            "signature", "labels", "t_ms", "__w",
            (F.col("__w") - rn).alias("__run"),
        )
        streak_start = F.min("__w").over(
            Window.partitionBy("signature", "__run"))
        held_ms = (F.col("__w") - streak_start) * F.lit(step_ms)
        state = F.when(
            held_ms >= F.lit(int(rule.for_ms)), F.lit("firing")
        ).otherwise(F.lit("pending"))
        states = runs.select(
            "signature", "labels", "__w", state.alias("__st"))
        if rule.keep_firing_for_ms > 0:
            # keep_firing_for: a step with NO active condition stays
            # firing while the LAST active step is (a) within reach
            # (≤ K steps back, K = ceil(keep/step)) and (b) itself
            # firing. Bounded device, no per-series grid: every
            # active step explodes into its next ≤K steps; per
            # (series, step) the max-source candidate IS the last
            # active step, so a pending last-active correctly blocks
            # the carry of an older firing one; active steps
            # anti-join out (their own state wins).
            K = min(-(-rule.keep_firing_for_ms // step_ms),
                    max(int(n_tiles), 1))
            cand = (
                states.filter(F.col("__w") < n_tiles - 1)
                .select(
                    "signature", "__st", F.col("__w").alias("__src"),
                    F.explode(
                        F.sequence(
                            F.col("__w") + 1,
                            F.least(F.col("__w") + K,
                                    F.lit(int(n_tiles - 1)).cast("long")),
                        )
                    ).alias("__w"),
                )
            )
            best = cand.groupBy("signature", "__w").agg(
                F.max(F.struct("__src", "__st")).alias("__b"))
            dim = states.select("signature", "labels").dropDuplicates(
                ["signature"])
            carried = (
                best.filter(F.col("__b.__st") == "firing")
                .join(states.select("signature", "__w"),
                      ["signature", "__w"], "left_anti")
                .join(F.broadcast(dim), "signature")
                .select("signature", "labels", "__w",
                        F.lit("firing").alias("__st"))
            )
            states = states.unionByName(carried)
        kept = _labels_without(
            {"__name__", "alertname", "alertstate", *rule.labels})
        pairs: list = [F.lit("alertname"), F.lit(rule.alert),
                       F.lit("alertstate"), F.col("__st")]
        for k, v in sorted(rule.labels.items()):
            pairs.extend([F.lit(k), F.lit(v)])
        new_labels = F.map_concat(
            F.create_map(F.lit("__name__"), F.lit("ALERTS")),
            kept, F.create_map(*pairs),
        )
        outs.append(
            states.select(
                new_labels.alias("labels"),
                (F.lit(start_ms) + (F.col("__w") + 1) * F.lit(step_ms))
                .cast("long").alias("timestamp"),
                F.lit(1.0).alias("value"),
            )
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def backfill_alerts(
    db,
    rules: list[AlertingRule],
    start_ms: int,
    end_ms: int,
    step_ms: int,
    overwrite: bool = False,
) -> DataFrame:
    """Evaluate alerting rules against ``db`` over [start, end] and
    write the ALERTS series back (one manifest commit), making alert
    history queryable like any other series. ``overwrite`` removes
    each alert's prior ALERTS output in the window first (time-bounded
    delete), so re-runs are idempotent per (alert, window)."""
    if overwrite:
        for rule in rules:
            db.delete_series(
                [LabelMatcher("__name__", "ALERTS", "EQ"),
                 LabelMatcher("alertname", rule.alert, "EQ")],
                start_ms, end_ms,
            )
    lo = start_ms
    for rule in rules:
        l1, _ = promql.time_window(
            rule.expr, min(start_ms + step_ms, end_ms))
        lo = min(lo, l1)
    samples = db.query_flat({}, lo, end_ms).select(
        "labels", "timestamp", "value"
    )
    out = evaluate_alerting_rules(samples, rules, start_ms, end_ms, step_ms)
    db.write(out)
    return out
