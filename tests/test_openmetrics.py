"""Text exposition format: format/parse roundtrip (escapes, value
specials, optional timestamps), loud failures, and the /federate
endpoint feeding a scrape-ingest mirror — the federation flow two
Prometheus servers use between themselves, here engine-to-engine."""

from __future__ import annotations

import math
import urllib.request

import pytest

from pyspark.sql import functions as F

from monolith_spark.engine import MonolithDB
from monolith_spark.sources.openmetrics import (
    format_lines,
    parse_lines,
    parse_payload,
)

DAY = 86_400_000


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double"
    )


def test_roundtrip_escapes_and_specials(spark):
    rows = [
        ({"__name__": "http_req", "job": "api", "q": 'a"b\\c\nd'}, 1000, 1.5),
        ({"__name__": "up"}, 2000, float("inf")),
        ({"__name__": "err:ratio"}, 3000, float("nan")),
        # the escaped-backslash-before-n trap: \\n must NOT unescape
        # into a newline
        ({"__name__": "m", "p": "a\\nb"}, 4000, -0.0625),
        ({"__name__": "m2"}, 5000, 1.25e-7),
    ]
    back = parse_lines(format_lines(_df(spark, rows))).collect()
    orig = {tuple(sorted(r[0].items())): (r[1], r[2]) for r in rows}
    got = {
        tuple(sorted(r["labels"].items())): (r["timestamp"], r["value"])
        for r in back
    }
    assert set(got) == set(orig)
    for k, (ts, v) in orig.items():
        assert got[k][0] == ts
        assert got[k][1] == v or (math.isnan(v) and math.isnan(got[k][1]))


def test_roundtrip_adversarial_batch(spark):
    """Seeded adversarial sweep: hundreds of random label maps drawn
    from an escape-heavy alphabet (quotes, backslashes, newlines,
    regex metachars), random float values incl. subnormals and
    specials — the whole batch roundtrips in ONE Spark job."""
    import random

    rng = random.Random(7)
    alpha = list('abz09 _"\\\n.*+?[]{}()|^$\t=,')

    def rnd_text():
        return "".join(rng.choice(alpha) for _ in range(rng.randint(0, 10)))

    rows = []
    for i in range(300):
        labels = {"__name__": f"m{i % 7}:x"}
        for j in range(rng.randint(0, 3)):
            labels[f"l{j}"] = rnd_text()
        v = rng.choice([
            rng.uniform(-1e9, 1e9),
            rng.random() * 5e-324,
            float("inf"), float("-inf"), float("nan"),
            -0.0, 2**-1074, 1.7976931348623157e308,
        ])
        rows.append((labels, rng.randint(1, 2**53), v))
    df = _df(spark, rows)
    back = parse_lines(format_lines(df)).collect()
    orig = sorted(
        (tuple(sorted(r[0].items())), r[1], repr(r[2])) for r in rows
    )
    got = sorted(
        (tuple(sorted(r["labels"].items())), r["timestamp"],
         repr(r["value"]))
        for r in back
    )
    assert got == orig  # repr() distinguishes -0.0 and compares nan==nan


def test_parse_payload_comments_and_default_ts(spark):
    p = (
        "# HELP up 1 if the target is up\n"
        "# TYPE up gauge\n"
        'up{job="x"} 1\n'
        "\n"
        'up{job="y"} 0 5000\n'
    )
    out = parse_payload(spark, p, default_ts_ms=7_777).collect()
    assert sorted((r["labels"]["job"], r["timestamp"], r["value"])
                  for r in out) == [("x", 7_777, 1.0), ("y", 5_000, 0.0)]


def test_loud_failures(spark):
    with pytest.raises(Exception, match="malformed exposition line"):
        parse_payload(spark, "not a line {", default_ts_ms=1).collect()
    with pytest.raises(Exception, match="no timestamp"):
        parse_payload(spark, "up 1\n").collect()
    with pytest.raises(Exception, match="__name__"):
        format_lines(_df(spark, [({"job": "x"}, 1, 1.0)])).collect()


def test_scrape_stream_ingest(spark, tmp_path):
    """Exposition files landing in a directory stream into the engine:
    explicit per-line timestamps survive, stamp-less lines take the
    payload file's modification time, and the db contents equal the
    batch parse of the same payloads (streamed ≡ batch)."""
    import os

    from monolith_spark.sources.openmetrics import scrape_stream
    from monolith_spark.streaming.ingest import StreamingIngest

    scrape_dir = tmp_path / "scrapes"
    scrape_dir.mkdir()
    p1 = 'reqs{job="api"} 5.0 1000\nreqs{job="db"} 7.0 2000\n'
    p2 = 'up{job="api"} 1\n'  # no timestamp → file mtime
    (scrape_dir / "s1.txt").write_text(p1)
    (scrape_dir / "s2.txt").write_text(p2)
    mtime_ms = 9_000
    os.utime(scrape_dir / "s2.txt", (mtime_ms / 1000, mtime_ms / 1000))

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=DAY)
    q = StreamingIngest(db).start(
        scrape_stream(spark, str(scrape_dir)), str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["signature"], r["timestamp"], r["value"])
        for r in db.query_flat({}, 0, 10_000_000).collect()
    }
    batch = parse_payload(spark, p1).unionByName(
        parse_payload(spark, p2, default_ts_ms=mtime_ms)
    )
    oracle = MonolithDB(spark, str(tmp_path / "oracle"), chunk_size_ms=DAY)
    oracle.write(batch)
    want = {
        (r["signature"], r["timestamp"], r["value"])
        for r in oracle.query_flat({}, 0, 10_000_000).collect()
    }
    assert got == want and len(got) == 3
    # the stamp-less line carries the payload file's mtime
    assert any(ts == mtime_ms for (_, ts, _) in got)


def test_parse_plan_is_jvm_codegen(spark):
    """The scrape parser's 100 TB claim: no Python in the loop — the
    whole parse is codegen'd column expressions."""
    plan = (
        parse_payload(spark, "up 1 5\n")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the regexp/filter stages codegen (the `*(n)` markers); the final
    # map_from_arrays+transform projection is interpreted but still JVM
    assert "*(" in plan


def test_federate_to_scrape_mirror(spark, tmp_path):
    """/federate exposes the latest NAMED samples with their original
    timestamps as exposition text; parsing that text and writing it
    into a second engine mirrors the series — the Prometheus
    federation topology, engine-to-engine."""
    from monolith_spark.server import MonolithServer, federate_text

    src = MonolithDB(spark, str(tmp_path / "src"), chunk_size_ms=DAY)
    rows = [
        ({"__name__": "reqs", "job": "api"}, 1_000, 5.0),
        ({"__name__": "reqs", "job": "api"}, 61_000, 9.0),  # latest wins
        ({"__name__": "reqs", "job": "db", "q": 'x"y\\z'}, 31_000, 7.0),
        ({"job": "unnamed"}, 31_000, 3.0),  # no __name__ → not federated
    ]
    src.write(_df(spark, rows))

    srv = MonolithServer(src, port=0)
    srv.serve_background()
    try:
        url = (
            f"http://127.0.0.1:{srv.port}/federate"
            "?match[]=%7Bjob%3D~%22.%2B%22%7D&time=100"
        )
        with urllib.request.urlopen(url) as resp:
            assert resp.headers["Content-Type"].startswith("text/plain")
            text = resp.read().decode()
    finally:
        srv.shutdown()
    # HTTP body == the library helper's output
    assert text == federate_text(src, ['{job=~".+"}'], 100_000)
    assert "unnamed" not in text

    mirror = MonolithDB(spark, str(tmp_path / "mirror"), chunk_size_ms=DAY)
    mirror.write(parse_payload(spark, text))
    got = {
        (r["signature"], r["timestamp"], r["value"])
        for r in mirror.query_flat({}, 0, 10_000_000).collect()
    }
    want = {
        (r["signature"], r["timestamp"], r["value"])
        for r in src.query_flat({"__name__": "reqs"}, 0, 10_000_000)
        .groupBy("signature")
        .agg(F.max(F.struct("timestamp", "value")).alias("t"))
        .select("signature", F.col("t.timestamp").alias("timestamp"),
                F.col("t.value").alias("value"))
        .collect()
    }
    assert got == want and len(got) == 2


def test_parse_metadata_text():
    """# HELP / # TYPE / # UNIT comments → {metric: {help,type,unit}},
    with spec unescaping in help (\\\\ and \\n, incl. the
    escaped-backslash-before-n trap) and case-normalized types."""
    from monolith_spark.sources.openmetrics import parse_metadata_text

    text = "\n".join([
        "# HELP http_requests_total Total HTTP requests.",
        "# TYPE http_requests_total COUNTER",
        "# UNIT process_time_seconds seconds",
        "# HELP tricky line\\nbreak and \\\\n literal",
        "# TYPE tricky gauge",
        "# this is a plain comment, not metadata",
        "#HELP nospace ignored (needs whitespace after #? no — spec"
        " requires '# HELP')",
        'http_requests_total{job="api"} 3 1000',
    ])
    meta = parse_metadata_text(text)
    assert meta["http_requests_total"] == {
        "help": "Total HTTP requests.", "type": "counter"
    }
    assert meta["process_time_seconds"] == {"unit": "seconds"}
    assert meta["tricky"] == {"help": "line\nbreak and \\n literal",
                              "type": "gauge"}
    assert set(meta) == {"http_requests_total", "process_time_seconds",
                         "tricky"}
    assert parse_metadata_text("just text\nno comments") == {}


def test_ingest_scrape_stores_metadata_and_samples(spark, tmp_path):
    """db.ingest_scrape: samples land through the normal write path,
    the payload's metadata comments land in the manifest, and
    re-scrapes MERGE per-metric fields (a TYPE-only scrape never
    erases a stored help string). Bad types fail loudly."""
    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=DAY)
    db.ingest_scrape("\n".join([
        "# HELP reqs Requests seen.",
        "# TYPE reqs counter",
        'reqs{job="api"} 5 1000',
        'reqs{job="web"} 7 2000',
    ]))
    assert db.query_flat({"__name__": "reqs"}, 0, 10**9).count() == 2
    assert db.metric_metadata() == {
        "reqs": {"help": "Requests seen.", "type": "counter"}
    }
    v1 = db._load_manifest()["version"]

    db.ingest_scrape("\n".join([
        "# TYPE reqs gauge",          # type update, no help line
        "# TYPE lat histogram",
        'reqs{job="api"} 6 3000',
        'lat_sum 1.5 3000',
    ]))
    got = db.metric_metadata()
    assert got["reqs"] == {"help": "Requests seen.", "type": "gauge"}
    assert got["lat"] == {"type": "histogram"}
    # time travel reads the OLD metadata
    assert db.metric_metadata(at_version=v1)["reqs"]["type"] == "counter"

    with pytest.raises(ValueError, match="unknown metric type"):
        db.set_metric_metadata({"x": {"type": "countr"}})


def test_exemplar_suffix_roundtrip_and_scrape_ingest(spark, tmp_path):
    """OpenMetrics exemplar suffixes: parse extracts them (absent →
    NULLs; stamp-less exemplars take the sample's ts), format∘parse is
    the identity exemplars included, label blobs stay unambiguous
    against the ` # {...}` section, and ingest_scrape lands them in
    the engine's exemplar store."""
    lines = _df(spark, [])  # placeholder, not used
    text = "\n".join([
        'lat{job="api"} 0.9 1000 # {trace_id="abc"} 0.93 1500',
        'lat{job="web",q="x} 2 3"} 1.1 2000',   # `}`+digits inside a value
        'lat{job="db"} 2.5 3000 # {t="u"} 2.51',  # stamp-less exemplar
        "plain 7.5 4000",
    ])
    from monolith_spark.sources.openmetrics import parse_payload

    got = parse_payload(spark, text, with_exemplars=True).collect()
    by_job = {
        (dict(r["labels"]).get("job") or "plain"): r for r in got
    }
    assert dict(by_job["api"]["exemplar_labels"]) == {"trace_id": "abc"}
    assert (by_job["api"]["exemplar_value"], by_job["api"]["exemplar_ts"]) \
        == (0.93, 1500)
    assert dict(by_job["web"]["labels"])["q"] == "x} 2 3"
    assert by_job["web"]["exemplar_value"] is None
    assert by_job["db"]["exemplar_ts"] == 3000  # sample ts inherited
    assert by_job["plain"]["exemplar_labels"] is None

    # format ∘ parse identity, exemplars included
    from monolith_spark.sources.openmetrics import format_lines, parse_lines

    sdf = spark.createDataFrame(
        [
            ({"__name__": "lat", "job": "api"}, 1000, 0.9,
             {"trace_id": 'a"b\\c'}, 0.93, 1500),
            ({"__name__": "lat", "job": "web"}, 2000, 1.1, None, None, None),
        ],
        "labels map<string,string>, timestamp long, value double, "
        "exemplar_labels map<string,string>, exemplar_value double, "
        "exemplar_ts long",
    )
    text2 = format_lines(sdf, with_exemplars=True)
    back = parse_lines(text2, with_exemplars=True).collect()
    want = {
        (tuple(sorted(r["labels"].items())), r["timestamp"], r["value"],
         tuple(sorted((r["exemplar_labels"] or {}).items())),
         r["exemplar_value"], r["exemplar_ts"])
        for r in sdf.collect()
    }
    got2 = {
        (tuple(sorted(r["labels"].items())), r["timestamp"], r["value"],
         tuple(sorted((r["exemplar_labels"] or {}).items())),
         r["exemplar_value"], r["exemplar_ts"])
        for r in back
    }
    assert got2 == want

    # a garbage label blob now fails LOUDLY (constrained grammar)
    import pytest as _pytest

    with _pytest.raises(Exception, match="malformed exposition line"):
        parse_payload(spark, "m{garbage} 1 2").collect()

    # scrape ingest lands exemplars in the store
    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=DAY)
    db.ingest_scrape(text)
    ex = db.query_exemplars({"__name__": "lat"}, 0, 10**9).collect()
    assert {(dict(r["exemplar_labels"])["trace_id"]
             if "trace_id" in dict(r["exemplar_labels"]) else
             dict(r["exemplar_labels"])["t"], r["timestamp"], r["value"])
            for r in ex} == {("abc", 1500, 0.93), ("u", 3000, 2.51)}


@pytest.mark.slow
def test_scrape_stream_carries_exemplars(spark, tmp_path):
    """scrape_stream(with_exemplars=True) + StreamingIngest: the
    OpenMetrics exemplar suffixes land in the exemplar store per
    micro-batch, equal to the batch ingest of the same payloads
    (streamed ≡ batch), while samples flow unchanged."""
    from monolith_spark.sources.openmetrics import scrape_stream
    from monolith_spark.streaming.ingest import StreamingIngest

    scrape_dir = tmp_path / "scrapes"
    scrape_dir.mkdir()
    p1 = ('lat{job="api"} 0.9 1000 # {trace_id="abc"} 0.93 1500\n'
          'lat{job="db"} 1.1 2000\n')
    p2 = 'lat{job="api"} 1.2 3000 # {trace_id="def"} 1.25\n'
    (scrape_dir / "s1.txt").write_text(p1)
    (scrape_dir / "s2.txt").write_text(p2)

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=DAY)
    q = StreamingIngest(db).start(
        scrape_stream(spark, str(scrape_dir), with_exemplars=True),
        str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert db.query_flat({}, 0, 10_000_000).count() == 3
    got = {
        (dict(r["exemplar_labels"])["trace_id"], r["timestamp"], r["value"])
        for r in db.query_exemplars({}, 0, 10_000_000).collect()
    }
    # the stamp-less exemplar inherits ITS SAMPLE's timestamp (3000)
    assert got == {("abc", 1500, 0.93), ("def", 3000, 1.25)}

    # streamed ≡ batch: ingest_scrape of the same payloads
    oracle = MonolithDB(spark, str(tmp_path / "oracle"), chunk_size_ms=DAY)
    oracle.ingest_scrape(p1)
    oracle.ingest_scrape(p2)
    want = {
        (dict(r["exemplar_labels"])["trace_id"], r["timestamp"], r["value"])
        for r in oracle.query_exemplars({}, 0, 10_000_000).collect()
    }
    assert got == want
