"""At-rest inverted label index (posting lists): the reference's J1-J3
posting lookup + k-way intersection (/root/reference/src/common/utils.rs:56-128,
sled_indexer.rs) re-expressed as a manifest-committed Parquet table,
bucket-partitioned by crc32(label key) so the partition count stays
bounded at any key cardinality. Every test pins indexed results against
the always-correct dim-scan path."""

from __future__ import annotations

import os
import re
import zlib

import pytest
from pyspark.sql import functions as F

from monolith_spark.engine import MonolithDB
from monolith_spark.labels import EQ, NEQ, RE, LabelMatcher

LO = 1_700_000_000_000
HI = LO + 300 * 60_000


def _mk_db(spark, tmp_path, name="idb", n=200, use_index=True) -> MonolithDB:
    db = MonolithDB(
        spark, str(tmp_path / name), chunk_size_ms=3_600_000, use_label_index=use_index
    )
    rows = []
    for i in range(n):
        labels = {"job": f"j{i % 5}", "inst": f"i{i % 20}"}
        if i % 2:
            labels["env"] = "prod"  # half the series lack 'env' entirely
        rows.append((labels, LO + i * 60_000, float(i)))
    df = spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double"
    )
    db.write(df)
    return db


def _rowset(df):
    return sorted(
        (r["signature"], r["timestamp"], r["value"]) for r in df.collect()
    )


def test_indexed_matches_dim_scan(spark, tmp_path):
    db = _mk_db(spark, tmp_path)
    db.build_label_index()
    plain = MonolithDB(
        spark, db.path, chunk_size_ms=3_600_000, use_label_index=False
    )
    cases = [
        {"job": "j1", "env": "prod"},
        {"job": "j3"},
        [LabelMatcher("job", "j1"), LabelMatcher("env", "dev", NEQ)],
        [LabelMatcher("job", "j2"), LabelMatcher("inst", "i(2|12)", RE)],
    ]
    for m in cases:
        a = _rowset(db.query_flat(m, LO, HI))
        b = _rowset(plain.query_flat(m, LO, HI))
        assert a == b and a, f"mismatch for {m}"


def test_empty_eq_matches_absent_label_despite_index(spark, tmp_path):
    # Prometheus env="" matches series WITHOUT the label — postings only
    # hold present entries, so EQ-"" must stay a residual predicate.
    db = _mk_db(spark, tmp_path)
    db.build_label_index()
    m = [LabelMatcher("job", "j1"), LabelMatcher("env", "", EQ)]
    got = {r["signature"] for r in db._matched_series(m).collect()}
    plain = MonolithDB(spark, db.path, chunk_size_ms=3_600_000, use_label_index=False)
    want = {r["signature"] for r in plain._matched_series(m).collect()}
    assert got == want and got  # the env-less j1 series


def test_missing_key_resolves_empty_without_dim_scan(spark, tmp_path):
    db = _mk_db(spark, tmp_path)
    db.build_label_index()
    assert db.query_flat({"no_such_key": "x"}, LO, HI).count() == 0


def test_bucket_pruning_executes_on_needed_buckets_only(spark, tmp_path):
    db = _mk_db(spark, tmp_path)
    man = db.build_label_index()
    nb = man["label_index"]["n_buckets"]
    idx = man["label_index"]
    populated = {b for b, fl in idx["buckets"].items() if fl}
    assert len(populated) >= 2  # job/inst/env land in distinct buckets
    want_files = len(idx["buckets"][str(zlib.crc32(b"job") % nb)])
    # the probe's scan is pinned to the key's bucket only (the plan
    # truncates its path list, so assert the scan's file COUNT), and
    # the k/v filter reaches the parquet reader
    probe = db._index_df(man, keys=["job"]).filter(
        (F.col("k") == "job") & (F.col("v") == "j1")
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"InMemoryFileIndex\((\d+) paths?\)", plan)
    assert m and int(m.group(1)) == want_files, plan
    total = sum(len(fl) for fl in idx["buckets"].values())
    assert want_files < total
    pushed = plan.split("PushedFilters")[1][:120]
    assert "EqualTo(k,job)" in pushed and "EqualTo(v,j1)" in pushed
    # the driving posting list resolves the right candidate set
    cand = db._posting_candidates(man, [("job", "j1")])
    want_ids = {r["series_id"] for r in db.series().filter(
        F.try_element_at("labels", F.lit("job")) == "j1").collect()}
    assert set(cand) == want_ids and cand == sorted(cand)


def test_write_extends_index_incrementally(spark, tmp_path):
    # Ingest after build does NOT stale the index: write() stages
    # postings for the batch's new series and the commit absorbs them,
    # so the index keeps serving (the reference's insert-time indexer).
    db = _mk_db(spark, tmp_path)
    db.build_label_index()
    base = _rowset(db.query_flat({"job": "j1"}, LO, HI))
    extra = spark.createDataFrame(
        [
            ({"job": "j1", "new": "y"}, LO + 30_000, 9.5),  # new series
            ({"job": "j1", "inst": "i1"}, LO + 31_000, 3.3),  # existing
        ],
        "labels map<string,string>, timestamp long, value double",
    )
    db.write(extra)
    man = db._load_manifest()
    assert db._index_fresh(man)  # still fresh
    with_new = _rowset(db.query_flat({"job": "j1"}, LO, HI))
    assert len(with_new) == len(base) + 2
    # the NEW series is reachable through its own fresh posting
    assert db.query_flat({"new": "y"}, LO, HI).count() == 1
    plain = MonolithDB(spark, db.path, chunk_size_ms=3_600_000, use_label_index=False)
    assert with_new == _rowset(plain.query_flat({"job": "j1"}, LO, HI))


def test_write_without_index_stays_plain(spark, tmp_path):
    # No index built → writes don't create one, queries use the dim scan.
    db = _mk_db(spark, tmp_path)
    man = db._load_manifest()
    assert "label_index" not in man
    assert not db._index_fresh(man)
    assert db.query_flat({"job": "j1"}, LO, HI).count() > 0


def test_delete_series_rebuilds_postings_in_same_commit(spark, tmp_path):
    # A full delete rewrites the dim; the index is re-derived from the
    # kept dim and swapped in the SAME commit, so the serving path
    # stays index-backed across deletes (and never serves a deleted
    # series through stale postings).
    db = _mk_db(spark, tmp_path)
    db.build_label_index()
    db.delete_series({"job": "j1"})
    man = db._load_manifest()
    assert db._index_fresh(man)  # still fresh
    assert db.query_flat({"job": "j1"}, LO, HI).count() == 0  # gone via postings
    plain = MonolithDB(spark, db.path, chunk_size_ms=3_600_000, use_label_index=False)
    assert _rowset(db.query_flat({"job": "j2"}, LO, HI)) == _rowset(
        plain.query_flat({"job": "j2"}, LO, HI)
    )
    # the planner stats the delete derived are a fresh build's
    ks = man["label_index"]["key_stats"]
    assert db.build_label_index()["label_index"]["key_stats"] == ks


def test_delete_without_index_never_creates_one(spark, tmp_path):
    db = _mk_db(spark, tmp_path)
    db.delete_series({"job": "j1"})
    assert "label_index" not in db._load_manifest()
    assert db.query_flat({"job": "j2"}, LO, HI).count() > 0


def test_time_travel_uses_pinned_snapshot_index(spark, tmp_path):
    db = _mk_db(spark, tmp_path)
    v_idx = db.build_label_index()["version"]
    before = _rowset(db.query_flat({"job": "j1"}, LO, HI, at_version=v_idx))
    db.write(
        spark.createDataFrame(
            [({"job": "j1"}, LO + 45_000, 7.7)],
            "labels map<string,string>, timestamp long, value double",
        )
    )
    # pinned version still serves the pre-write world (via its index)
    assert _rowset(db.query_flat({"job": "j1"}, LO, HI, at_version=v_idx)) == before
    now = _rowset(db.query_flat({"job": "j1"}, LO, HI))
    assert len(now) == len(before) + 1


def test_vacuum_keeps_live_index_reclaims_stale(spark, tmp_path):
    db = _mk_db(spark, tmp_path)
    db.build_label_index()
    # dim change + rebuild → first index generation becomes garbage
    db.write(
        spark.createDataFrame(
            [({"job": "j9"}, LO + 1, 1.0)],
            "labels map<string,string>, timestamp long, value double",
        )
    )
    man = db.build_label_index()
    deleted = db.vacuum(grace_ms=0, retain_last=1)
    assert deleted > 0  # stale index/dim generations reclaimed
    live = {
        os.path.join(db.index_path, f"kp={b}", fn)
        for b, fl in man["label_index"]["buckets"].items()
        for fn in fl
    }
    on_disk = {
        os.path.join(r, fn)
        for r, _, fns in os.walk(db.index_path)
        for fn in fns
        if fn.endswith(".parquet")
    }
    assert on_disk == live
    plain = MonolithDB(spark, db.path, chunk_size_ms=3_600_000, use_label_index=False)
    assert _rowset(db.query_flat({"job": "j1"}, LO, HI)) == _rowset(
        plain.query_flat({"job": "j1"}, LO, HI)
    )


def test_exact_lookup_pushes_signature_filter(spark, tmp_path):
    db = _mk_db(spark, tmp_path)
    sel = db.series().filter(F.col("signature") == F.lit("job=j1,inst=i1"))
    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "signature" in plan.split("PushedFilters")[1][:200]


@pytest.mark.slow
def test_literal_regex_served_from_postings(spark, tmp_path):
    # job=~"j1|j3" expands to a literal set and is posting-served;
    # parity with the dim-scan path, including a mixed EQ+RE+NRE query
    # and the per-key set-intersection case.
    db = _mk_db(spark, tmp_path)
    db.build_label_index()
    plain = MonolithDB(spark, db.path, chunk_size_ms=3_600_000, use_label_index=False)
    cases = [
        [LabelMatcher("job", "j1|j3", RE)],
        [LabelMatcher("job", "(?:j1|j2)", RE), LabelMatcher("env", "prod")],
        [LabelMatcher("job", "j1|j2", RE), LabelMatcher("job", "j2|j4", RE)],  # ∩ = {j2}
        [LabelMatcher("job", "j1", EQ), LabelMatcher("job", "j2|j3", RE)],  # ∩ = ∅
        [LabelMatcher("job", "j.*", RE)],  # non-literal → dim scan, same rows
        [LabelMatcher("env", "|prod", RE)],  # ""∈set → residual (absent matches)
    ]
    for m in cases:
        a = _rowset(db.query_flat(m, LO, HI))
        b = _rowset(plain.query_flat(m, LO, HI))
        assert a == b, f"mismatch for {m}"
    # the empty-intersection case resolves without touching postings
    assert db.query_flat(
        [LabelMatcher("job", "j1", EQ), LabelMatcher("job", "j2|j3", RE)], LO, HI
    ).count() == 0


@pytest.mark.slow
def test_compact_collapses_incremental_posting_files(spark, tmp_path):
    # N ingests after build → N posting files in touched buckets;
    # compact() rebuilds the index to one file per bucket and keeps
    # results identical.
    db = _mk_db(spark, tmp_path)
    db.build_label_index()
    for i in range(3):
        db.write(spark.createDataFrame(
            [({"job": f"extra{i}", "inst": "i0"}, LO + i, 1.0)],
            "labels map<string,string>, timestamp long, value double"))
    man = db._load_manifest()
    assert any(len(fl) > 1 for fl in man["label_index"]["buckets"].values())
    before = _rowset(db.query_flat({"inst": "i0"}, LO, HI))
    db.compact()
    man2 = db._load_manifest()
    idx = man2["label_index"]
    assert idx["series"] == man2["series"]  # fresh
    assert all(len(fl) == 1 for fl in idx["buckets"].values())
    assert _rowset(db.query_flat({"inst": "i0"}, LO, HI)) == before


def test_label_values_and_names_served_from_index(spark, tmp_path):
    db = _mk_db(spark, tmp_path)
    plain = MonolithDB(spark, db.path, chunk_size_ms=3_600_000, use_label_index=False)
    want_vals = {r["value"] for r in plain.label_values("job").collect()}
    want_names = {r["name"] for r in plain.label_names().collect()}
    db.build_label_index()
    assert {r["value"] for r in db.label_values("job").collect()} == want_vals
    assert {r["name"] for r in db.label_names().collect()} == want_names
    assert db.label_values("no_such_key").count() == 0
    # the values scan is pruned to the key's bucket
    import re as _re
    plan = db.label_values("job")._jdf.queryExecution().executedPlan().toString()
    m = _re.search(r"InMemoryFileIndex\((\d+) paths?\)", plan)
    man = db._load_manifest()
    nb = man["label_index"]["n_buckets"]
    want_files = len(man["label_index"]["buckets"][str(zlib.crc32(b"job") % nb)])
    assert m and int(m.group(1)) == want_files, plan


def test_write_drops_stale_index_entry(spark, tmp_path):
    # A stale entry (lost commit race / tampered state) must not ride
    # every future manifest pinning dead posting files — the next write
    # drops it; build_label_index recreates it on demand.
    db = _mk_db(spark, tmp_path)
    db.build_label_index()

    def tamper(m):
        m["label_index"]["series"] = ["bogus.parquet"]

    db._commit(tamper, op="test-tamper")
    assert not db._index_fresh(db._load_manifest())
    db.write(spark.createDataFrame(
        [({"job": "jX"}, LO + 5, 1.0)],
        "labels map<string,string>, timestamp long, value double"))
    assert "label_index" not in db._load_manifest()
    assert db.query_flat({"job": "j1"}, LO, HI).count() > 0  # dim-scan fallback


def test_selective_hydration_pushes_in_filter(spark, tmp_path):
    # Selective matches hydrate via an IN list pushed into the dim scan
    # (series_id-sorted, bloom-filtered files → row-group skips), not a
    # join that scans the whole dim.
    db = _mk_db(spark, tmp_path)
    db.build_label_index()
    sel = db._matched_series({"job": "j1", "env": "prod"})
    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "In(series_id" in plan, plan
    got = {r["signature"] for r in sel.collect()}
    plain = MonolithDB(spark, db.path, chunk_size_ms=3_600_000, use_label_index=False)
    want = {r["signature"] for r in plain._matched_series({"job": "j1", "env": "prod"}).collect()}
    assert got == want and got


def test_broad_match_falls_back_to_dim_scan(spark, tmp_path):
    # Past the selectivity bound the posting probe proves the id set is
    # large and the planner uses the plain predicate dim scan — one
    # scan, no join, no giant IN list (measured at the 100x probe:
    # a 177k-id hydration join cost 2.6x the dim scan).
    db = _mk_db(spark, tmp_path)
    db.build_label_index()
    db.HYDRATE_IN_LIMIT = 3  # force the broad path on a 40-series match
    sel = db._matched_series({"job": "j1"})
    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "In(series_id" not in plan
    assert "Join" not in plan  # predicate scan, not posting join
    plain = MonolithDB(spark, db.path, chunk_size_ms=3_600_000, use_label_index=False)
    assert {r["signature"] for r in sel.collect()} == {
        r["signature"] for r in plain._matched_series({"job": "j1"}).collect()}


def test_stats_driven_probe_planning(spark, tmp_path):
    # key_stats make broad queries skip probing entirely and selective
    # queries probe the rarest key first; estimates are maintained
    # through incremental writes and delete rebuilds.
    db = _mk_db(spark, tmp_path)
    man = db.build_label_index()
    ks = man["label_index"]["key_stats"]
    assert ks["job"][1] == 5 and ks["inst"][1] == 20  # exact NDVs
    assert ks["job"][0] == ks["inst"][0]  # every series carries both
    # force "everything is broad": no key fits → no probes, dim scan
    db.HYDRATE_IN_LIMIT = 1
    db.PROBE_EST_FACTOR = 1
    assert db._posting_candidates(man, [("job", "j1")]) is None
    db.HYDRATE_IN_LIMIT = 1024
    db.PROBE_EST_FACTOR = 4
    # absent key is decided from stats alone — empty, no probe
    assert db._posting_candidates(man, [("nokey", "x")]) == []
    # selective: inst (ndv 20) is rarer than job (ndv 5) → candidates
    # come from the inst posting list (superset of the joint match)
    cand = db._posting_candidates(man, [("job", "j1"), ("inst", "i6")])
    want_inst = {r["series_id"] for r in db.series().filter(
        F.try_element_at("labels", F.lit("inst")) == "i6").collect()}
    assert set(cand) == want_inst
    # stats stay exact through an incremental write (env=dev makes this
    # a genuinely NEW series — {job:j1, inst:i6} alone already exists)
    db.write(spark.createDataFrame(
        [({"job": "j1", "inst": "i6", "env": "dev"}, LO + 7, 2.0)],
        "labels map<string,string>, timestamp long, value double"))
    ks2 = db._load_manifest()["label_index"]["key_stats"]
    assert ks2["job"][0] == ks["job"][0] + 1
    # NDV merge is the documented conservative max: env's true NDV is
    # now 2 (prod, dev) but the merged lower bound stays 1 — the
    # estimate only ever errs toward skipping a probe
    assert ks2["env"][1] >= 1
    # and through a delete rebuild
    db.delete_series({"job": "j1"})
    ks3 = db._load_manifest()["label_index"]["key_stats"]
    assert "job" in ks3 and ks3["job"][1] == 4  # j1 gone → 4 job values
