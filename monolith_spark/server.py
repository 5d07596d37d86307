"""HTTP remote-storage server — the reference's MonolithServer
(/root/reference/src/server.rs:47-63) as a thin facade over the engine.

POST <write_path>: snappy(protobuf WriteRequest) → MonolithDB.write.
POST <read_path>:  snappy(protobuf ReadRequest) → one QueryResult per
Query → snappy(protobuf ReadResponse).

Parse errors → 500, matching the reference (src/server.rs:79-89,
:117-125). Matcher semantics: the reference collapses every matcher
type to EQ (/root/reference/src/common/label.rs:19-24); we honor
NEQ/RE/NRE (M4 extension) unless strict_reference_matchers=True.

The serving layer is deliberately driver-side Python: query fan-out
happens in Spark; HTTP is just transport (SURVEY §2.1 S2).
"""

from __future__ import annotations

import json
import threading
import zlib
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np

from monolith_spark.engine import IngestBatch, MonolithDB, Points
from monolith_spark.labels import LabelMatcher as EngineMatcher
from monolith_spark.sources import otlp
from monolith_spark.sources import remote as proto

from monolith_spark.barrier import barrier as _lineage_barrier


def request_batch(
    req: proto.WriteRequest, metadata: dict[str, dict] | None = None
) -> IngestBatch:
    """The request as the engine's driver-held batch: each series'
    label map once, its samples' and exemplars' owner index, timestamp
    and value as numpy columns (exemplars None when it carries none),
    and its metric ``metadata``. MonolithDB.write appends it in process,
    with no DataFrame, in one commit."""
    series = req.timeseries

    def points(attr: str) -> Points:
        owner = [i for i, s in enumerate(series) for _ in getattr(s, attr)]
        pts = [p for s in series for p in getattr(s, attr)]
        return Points(
            np.array(owner, dtype=np.int64),
            np.array([p.timestamp for p in pts], dtype=np.int64),
            np.array([p.value for p in pts], dtype=np.float64),
            [p.labels for p in pts] if attr == "exemplars" else None,
        )

    exemplars = points("exemplars")
    return IngestBatch(
        [s.labels for s in series],
        points("samples"),
        exemplars if exemplars.owner.size else None,
        metadata or None,
    )


def _gunzip_bounded(body: bytes, cap: int) -> bytes | None:
    """A gzip body (every member) decoded to at most ``cap`` bytes, or
    None when it decodes to more: the decoder stops one byte past the
    cap, so a small bomb never expands in memory. A truncated stream
    raises ValueError."""
    out = bytearray()
    while body:
        d = zlib.decompressobj(wbits=31)
        out += d.decompress(body, cap + 1 - len(out))
        if len(out) > cap:
            return None
        if not d.eof:
            raise ValueError("truncated gzip body")
        body = d.unused_data
    return bytes(out)


def write_request_to_df(spark, req: proto.WriteRequest):
    """The request's samples as a ``SAMPLES_SCHEMA`` frame, built from
    Arrow (a LocalTableScan) — for callers that want a DataFrame; the
    server itself writes request_batch(req)."""
    return request_batch(req).frame(spark)


def query_exemplars_api(
    db: MonolithDB, selector: str, start_ms: int, end_ms: int
) -> list[dict]:
    """GET /api/v1/query_exemplars — the Prometheus exemplars API:
    an instant selector (parsed by the PromQL parser, full matcher
    semantics), exemplars grouped per series, timestamps in unix
    seconds, values stringified, all orderings deterministic."""
    from monolith_spark import promql

    ast = promql.parse(selector)
    if not isinstance(ast, promql.Selector) or ast.range_ms is not None:
        raise ValueError(f"query must be an instant selector: {selector!r}")
    ms = list(ast.matchers)
    if ast.name is not None:
        ms = [EngineMatcher("__name__", ast.name, "EQ"), *ms]
    rows = db.query_exemplars(ms, start_ms, end_ms).collect()
    by_series: dict[str, dict] = {}
    for r in sorted(
        rows, key=lambda r: (r["signature"], r["timestamp"], r["value"])
    ):
        g = by_series.setdefault(
            r["signature"],
            {
                "seriesLabels": dict(r["labels"]) if r["labels"] else {},
                "exemplars": [],
            },
        )
        g["exemplars"].append(
            {
                "labels": dict(r["exemplar_labels"])
                if r["exemplar_labels"] else {},
                "value": str(r["value"]),
                "timestamp": r["timestamp"] / 1000.0,
            }
        )
    return [by_series[k] for k in sorted(by_series)]


def _engine_matchers(q: proto.Query, strict: bool) -> list[EngineMatcher]:
    out = []
    for m in q.matchers:
        mtype = "EQ" if strict else m.type_name
        out.append(EngineMatcher(m.name, m.value, mtype))
    return out


# ReadHints.func → downsample agg. Hints are advisory (Prometheus
# re-evaluates client-side), so unknown funcs fall back to raw points —
# the reference's behavior for ALL hints (types.rs:1248-1257, unread).
_HINT_AGGS = {
    "avg_over_time": "avg", "avg": "avg",
    "sum_over_time": "sum", "sum": "sum",
    "min_over_time": "min", "min": "min",
    "max_over_time": "max", "max": "max",
    "count_over_time": "count", "count": "count",
}

# PromQL range funcs the proto carries → per-step-bucket evaluation via
# the tested range_func_by_step operator (reset-corrected steps; bucket
# increases sum to the full-range increase).
_HINT_RANGE_FUNCS = {"rate", "increase", "delta", "irate"}


def _evaluate_hinted(db: MonolithDB, matchers, q: proto.Query) -> list[proto.TimeSeries] | None:
    """Server-side step downsampling when hints carry a known func
    (SURVEY §7.2 M5); returns None → caller uses the raw-points path.

    Caveat, by design: the response carries one PRE-AGGREGATED sample
    per step bucket. A client that re-applies its own aggregation over
    these (plain Prometheus treats hints as advisory) should use the
    raw path instead — that is why unknown funcs fall back to raw.
    Bucket stamps are clamped into [start, end] so no sample lies
    outside the requested range (the first bucket's floor-aligned
    start can precede the query start).
    """
    h = q.hints
    if not (h and h.step_ms > 0):
        return None
    agg = _HINT_AGGS.get(h.func)
    if agg is None and h.func not in _HINT_RANGE_FUNCS:
        return None
    from pyspark.sql import functions as F

    from monolith_spark.operators.timeseries import downsample, range_func_by_step

    # the labels query_flat already joined ride along as one more
    # grouping key (their entries array — a map is not groupable;
    # series_id determines it), so the query resolves ONE snapshot and
    # scans the dim once
    flat = db.query_flat(
        matchers, q.start_timestamp_ms, q.end_timestamp_ms
    ).withColumn("__lent", F.map_entries("labels"))
    keys = ["series_id", "signature", "__lent"]
    if agg is None:  # rate/increase/delta/irate
        agg = h.func
        ds = range_func_by_step(flat, h.step_ms, func=h.func, key_cols=keys)
    else:
        ds = downsample(flat, h.step_ms, key_cols=keys, agg=agg)
    rows = (
        ds.filter(F.col(f"{agg}_value").isNotNull())
        .select(
            "signature",
            F.map_from_entries("__lent").alias("labels"),
            F.greatest(F.col("bucket_ms"), F.lit(q.start_timestamp_ms))
            .alias("bucket_ms"),
            f"{agg}_value",
        )
        .orderBy("signature", "bucket_ms")
        .collect()
    )
    out: list[proto.TimeSeries] = []
    cur_sig = None
    for r in rows:
        if r["signature"] != cur_sig:
            out.append(proto.TimeSeries(labels=dict(r["labels"])))
            cur_sig = r["signature"]
        out[-1].samples.append(
            proto.Sample(value=float(r[f"{agg}_value"]), timestamp=r["bucket_ms"])
        )
    return out


def _evaluate_one(db: MonolithDB, q: proto.Query, strict: bool) -> list[proto.TimeSeries]:
    matchers = _engine_matchers(q, strict)
    hinted = _evaluate_hinted(db, matchers, q)
    if hinted is not None:
        return hinted
    res = db.query(matchers, q.start_timestamp_ms, q.end_timestamp_ms)
    return [
        proto.TimeSeries(
            labels=dict(row["labels"]),
            samples=[
                proto.Sample(value=p["value"], timestamp=p["timestamp"])
                for p in row["points"]
            ],
        )
        for row in res.collect()
    ]


def evaluate_read(
    db: MonolithDB,
    req: proto.ReadRequest,
    strict: bool = False,
    max_parallel: int = 4,
) -> proto.ReadResponse:
    """One QueryResult per Query (src/server.rs:133-169); points
    time-ascending, series ordered by signature for determinism.

    Multi-query requests evaluate CONCURRENTLY (Spark's scheduler
    interleaves jobs submitted from separate threads — a serial loop
    would leave executors idle between queries); results keep request
    order. ``max_parallel`` bounds driver-side memory for the collected
    results."""
    resp = proto.ReadResponse()
    if len(req.queries) <= 1:
        for q in req.queries:
            resp.results.append(_evaluate_one(db, q, strict))
        return resp
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=max_parallel) as pool:
        futures = [pool.submit(_evaluate_one, db, q, strict) for q in req.queries]
        resp.results.extend(f.result() for f in futures)
    return resp


def evaluate_read_chunked(
    db: MonolithDB, req: proto.ReadRequest, strict: bool = False
) -> list[bytes]:
    """The STREAMED_XOR_CHUNKS remote-read path: one framed
    ChunkedReadResponse per (query, series-batch), each series'
    points split into ≤CHUNK_MAX_SAMPLES XOR chunks
    (proto.encode_chunk_points — the engine's Gorilla codec with an
    in-band count). One frame per series keeps peak response-assembly
    memory at one series instead of one full result — the point of
    the streamed response type."""
    frames: list[bytes] = []
    for qi, q in enumerate(req.queries):
        for ts in _evaluate_one(db, q, strict):
            pts = [(s.timestamp, s.value) for s in ts.samples]
            chunks = []
            for i in range(0, len(pts), proto.CHUNK_MAX_SAMPLES):
                part = pts[i: i + proto.CHUNK_MAX_SAMPLES]
                chunks.append(proto.ChunkRec(
                    min_time_ms=part[0][0],
                    max_time_ms=part[-1][0],
                    type=proto.CHUNK_ENC_XOR,
                    data=proto.encode_chunk_points(part),
                ))
            msg = proto.encode_chunked_read_response(
                proto.ChunkedReadResponse(
                    chunked_series=[proto.ChunkedSeries(
                        labels=dict(ts.labels), chunks=chunks,
                    )],
                    query_index=qi,
                )
            )
            frames.append(proto.chunked_write_frame(msg))
    return frames


def evaluate_promql(
    db: MonolithDB, query: str, time_ms: int, at_version: int | None = None
) -> list[dict]:
    """Instant PromQL evaluation against the engine: parse, derive the
    sample window the expression can touch (promql.time_window), scan
    ONLY those chunk partitions via query_flat (pruning + pushdown
    intact), evaluate, and shape the rows as Prometheus API `vector`
    results. ``at_version`` pins the WHOLE evaluation to a retained
    manifest snapshot — PromQL over the pre-delete/pre-compaction
    world, the ops answer to "what did this series look like before".
    The reference cannot do this at all — PromQL lives in its
    Prometheus client (/root/reference/README.md:7)."""
    from monolith_spark import promql

    ast = promql.parse(query)
    lo, hi = promql.time_window(ast, time_ms)
    samples = db.query_flat({}, lo, hi, at_version=at_version).select(
        "labels", "timestamp", "value"
    )
    out = promql.eval_instant(samples, ast, time_ms)
    rows = out.collect()
    # sort()/sort_desc() order only the API presentation (the engine's
    # vectors are unordered sets)
    if isinstance(ast, promql.Call) and ast.func in ("sort", "sort_desc"):
        rows = sorted(
            rows, key=lambda r: r["value"], reverse=ast.func == "sort_desc"
        )
    elif isinstance(ast, promql.Call) and ast.func in (
        "sort_by_label", "sort_by_label_desc"
    ):
        names = [a.value for a in ast.args[1:]]
        rows = sorted(
            rows,
            key=lambda r: tuple(
                (r["labels"] or {}).get(n) or "" for n in names
            ),
            reverse=ast.func == "sort_by_label_desc",
        )
    return [
        {
            "metric": dict(r["labels"]) if r["labels"] else {},
            "value": [time_ms / 1000.0, str(r["value"])],
        }
        for r in rows
    ]


# The driver never materializes more than this many dim rows per
# metadata-API request, even with no ?limit= — a broad match[] (e.g.
# {job=~".+"}) against a 100M-series dim must not collect the whole
# dimension onto one process (VERDICT r7 wrong #3).
METADATA_API_HARD_CAP = 100_000

_TRUNCATED_WARNING = "results truncated due to limit"


def _effective_limit(limit: int | None) -> int:
    """Prometheus semantics: limit=0 (or absent) means no user limit —
    but the server-side hard cap always applies."""
    if limit is None or limit <= 0:
        return METADATA_API_HARD_CAP
    return min(limit, METADATA_API_HARD_CAP)


def _series_api(
    db: MonolithDB,
    selectors: list[str],
    limit: int | None = None,
    start_ms: int | None = None,
    end_ms: int | None = None,
) -> tuple[list[dict], bool]:
    """/api/v1/series: union of series matching any `match[]` selector
    (each parsed by the PromQL parser — full EQ/NEQ/RE/NRE semantics),
    deduped on signature. A dim-only scan, bounded: each selector runs
    as a distributed ordered top-(n+1) (TakeOrderedAndProject — the
    executors keep n+1 rows each and the driver merges), never a full
    dim collect. Optional start/end (Prometheus's time bounds on the
    endpoint) restrict the listing to series with samples in the
    window via a chunk-pruned fact semi-join — the scan touches only
    the window's partitions, and only the distinct series_id column
    shuffles. Returns (series, truncated)."""
    from monolith_spark import promql
    from monolith_spark.labels import matcher_predicate
    from monolith_spark.operators.timeseries import chunk_pred, time_trim

    if not selectors:
        raise ValueError("series API requires at least one match[] selector")
    n = _effective_limit(limit)
    live_ids = None
    if start_ms is not None or end_ms is not None:
        lo = start_ms if start_ms is not None else 0
        hi = end_ms if end_ms is not None else (1 << 62)
        live_ids = (
            time_trim(
                db.samples().filter(chunk_pred(lo, hi, db.chunk_size_ms)),
                lo, hi,
            )
            .select("series_id")
            .distinct()
        )
    seen: dict[str, dict] = {}
    truncated = False
    for sel_text in selectors:
        ast = promql.parse(sel_text)
        if not isinstance(ast, promql.Selector) or ast.range_ms is not None:
            raise ValueError(f"match[] must be an instant selector: {sel_text!r}")
        ms = list(ast.matchers)
        if ast.name is not None:
            from monolith_spark.labels import LabelMatcher

            ms = [LabelMatcher("__name__", ast.name, "EQ"), *ms]
        dim = db.series()
        if ms:
            dim = dim.filter(matcher_predicate("labels", ms))
        if live_ids is not None:
            dim = dim.join(live_ids, "series_id", "left_semi")
        rows = (
            dim.select("signature", "labels")
            .orderBy("signature")
            .limit(n + 1)
            .collect()
        )
        if len(rows) > n:
            truncated = True
        for r in rows[:n]:
            seen.setdefault(r["signature"], dict(r["labels"]) if r["labels"] else {})
    out = [seen[k] for k in sorted(seen)]
    if len(out) > n:
        truncated = True
        out = out[:n]
    return out, truncated


def tsdb_status(db: MonolithDB, limit: int = 10) -> dict:
    """/api/v1/status/tsdb — the cardinality-stats API an operator
    checks when series counts explode. All series-dimension scans plus
    the manifest-only chunk inventory (db.chunks() — no fact-table
    read): head stats, top metric names / label-value pairs by series
    count, distinct values per label name. Every top-N is ordered
    (count desc, name) so output is deterministic. The reference's
    LR<k>=<v> posting keyspace IS this table
    (/root/reference/src/indexer/sled_indexer.rs:23-25), never exposed
    there."""
    from pyspark.sql import functions as F

    dim = db.series()
    kv = dim.select(
        "signature", F.explode("labels").alias("k", "v")
    ).transform(_lineage_barrier, eager=False)
    num_series = dim.count()
    num_pairs = kv.select("k", "v").distinct().count()

    def top(df, name_col):
        rows = df.orderBy(F.col("value").desc(), name_col).limit(limit).collect()
        return [{"name": r[0], "value": r[1]} for r in rows]

    by_metric = top(
        kv.filter(F.col("k") == "__name__")
        .groupBy(F.col("v").alias("name"))
        .agg(F.count("*").alias("value")),
        "name",
    )
    by_label = top(
        kv.groupBy(F.col("k").alias("name"))
        .agg(F.count_distinct("v").alias("value")),
        "name",
    )
    by_pair = top(
        kv.groupBy(F.concat_ws("=", "k", "v").alias("name"))
        .agg(F.count("*").alias("value")),
        "name",
    )
    chunks = db.chunks().collect()
    head = {
        "numSeries": num_series,
        "numLabelPairs": num_pairs,
        "chunkCount": int(sum(r["n_files"] for r in chunks)),
        "minTime": int(min((r["start_ms"] for r in chunks), default=0)),
        "maxTime": int(max((r["end_ms"] for r in chunks), default=0)),
        "totalBytes": int(sum(r["bytes"] for r in chunks)),
    }
    # inverted-index observability: present/fresh + file count, so an
    # operator sees when a rebuild (or compact) is due — a fresh index
    # with many small per-ingest posting files wants compaction.
    man = db._load_manifest()
    idx = man.get("label_index")
    label_index = {
        "present": idx is not None,
        "fresh": db._index_fresh(man),
        "nBuckets": idx["n_buckets"] if idx else 0,
        "numFiles": sum(len(fl) for fl in idx["buckets"].values()) if idx else 0,
    }
    return {
        "headStats": head,
        "seriesCountByMetricName": by_metric,
        "labelValueCountByLabelName": by_label,
        "seriesCountByLabelValuePair": by_pair,
        "labelIndex": label_index,
    }


def federate_text(
    db: MonolithDB,
    selectors: list[str],
    time_ms: int,
    lookback_ms: int = 300_000,
) -> str:
    """/federate: the latest sample (with its ORIGINAL timestamp —
    federation re-exposes samples, it does not re-evaluate them) of
    every named series matching any `match[]` selector, as text
    exposition lines. One chunk-pruned scan per selector at series
    grain; formatting is JVM-side (sources/openmetrics.format_lines).
    Series without __name__ cannot be expressed in the format and are
    excluded by the matcher below rather than erroring the export."""
    from monolith_spark import promql
    from monolith_spark.labels import LabelMatcher
    from monolith_spark.sources.openmetrics import format_lines
    from pyspark.sql import functions as F

    if not selectors:
        raise ValueError("federate requires at least one match[] selector")
    parts = []
    for sel_text in selectors:
        ast = promql.parse(sel_text)
        if not isinstance(ast, promql.Selector) or ast.range_ms is not None:
            raise ValueError(f"match[] must be an instant selector: {sel_text!r}")
        ms = list(ast.matchers)
        if ast.name is not None:
            ms = [LabelMatcher("__name__", ast.name, "EQ"), *ms]
        flat = db.query_flat(ms, time_ms - lookback_ms, time_ms)
        parts.append(
            flat.groupBy("signature")
            .agg(
                F.max(F.struct("timestamp", "value")).alias("__top"),
                F.first("labels").alias("labels"),
            )
            .select(
                "signature", "labels",
                F.col("__top.timestamp").alias("timestamp"),
                F.col("__top.value").alias("value"),
            )
        )
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    latest = merged.dropDuplicates(["signature"]).filter(
        F.try_element_at("labels", F.lit("__name__")).isNotNull()
    )
    rows = format_lines(latest.select("labels", "timestamp", "value")).collect()
    lines = sorted(r["line"] + "\n" for r in rows)
    # Prometheus /federate prefixes each metric's block with its # TYPE
    # comment (and we add # HELP when stored): lines sort by metric-name
    # prefix, so one walk inserts each metric's header before its first
    # sample line. A db with no stored metadata emits byte-identical
    # output to the pre-metadata format.
    mm = db.metric_metadata()
    if mm:
        out: list[str] = []
        prev = None
        for line in lines:
            name = line.split("{", 1)[0].split(" ", 1)[0]
            if name != prev:
                prev = name
                m = mm.get(name)
                if m:
                    if m.get("help"):
                        h = m["help"].replace("\\", "\\\\").replace("\n", "\\n")
                        out.append(f"# HELP {name} {h}\n")
                    if m.get("type"):
                        out.append(f"# TYPE {name} {m['type']}\n")
            out.append(line)
        lines = out
    return "".join(lines)


def evaluate_promql_range(
    db: MonolithDB,
    query: str,
    start_ms: int,
    end_ms: int,
    step_ms: int,
    at_version: int | None = None,
) -> list[dict]:
    """Range PromQL evaluation (the Grafana query_range shape) against
    the engine: ONE pass over a chunk-pruned scan via the tiled
    evaluator (promql.eval_range — no per-step replan), shaped as
    Prometheus API `matrix` results. ``at_version`` pins the scan to a
    retained manifest snapshot, like the instant endpoint."""
    from monolith_spark import promql

    ast = promql.parse(query)
    # widest reach the expression can touch at ANY step: the earliest
    # window evaluates at start+step, the latest at end — union their
    # instant windows (range selectors reach back range+offset; with
    # range = k*step the first window's reach precedes start by
    # (k-1)*step, which the old `start - max(step, lookback)` bound
    # would truncate). Chunk pruning still applies: this only widens
    # the scan to exactly the partitions the evaluation reads.
    lo1, hi1 = promql.time_window(ast, min(start_ms + step_ms, end_ms))
    lo2, hi2 = promql.time_window(ast, end_ms)
    lo, hi = min(lo1, lo2), max(hi1, hi2, end_ms)
    samples = db.query_flat({}, lo, hi, at_version=at_version).select(
        "labels", "timestamp", "value"
    )
    out = promql.eval_range(samples, ast, start_ms, end_ms, step_ms)
    rows = out.collect()
    by_series: dict[str, dict] = {}
    for r in sorted(rows, key=lambda r: (r["signature"], r["t_ms"])):
        e = by_series.setdefault(
            r["signature"],
            {"metric": dict(r["labels"]) if r["labels"] else {}, "values": []},
        )
        e["values"].append([r["t_ms"] / 1000.0, str(r["value"])])
    # sort_by_label()/sort_by_label_desc() order the matrix's SERIES by
    # the named labels (Grafana legend stability); sort()/sort_desc()
    # are defined by Prometheus for instant presentation only, so a
    # range query evaluates the inner vector with the default
    # signature ordering
    if isinstance(ast, promql.Call) and ast.func in (
        "sort_by_label", "sort_by_label_desc"
    ):
        names = [a.value for a in ast.args[1:]]
        keys = sorted(
            by_series,
            key=lambda s: (
                tuple(by_series[s]["metric"].get(n) or "" for n in names),
                s,
            ),
            reverse=ast.func == "sort_by_label_desc",
        )
    else:
        keys = sorted(by_series)
    return [by_series[k] for k in keys]


def _admin_delete(db: MonolithDB, qs: dict[str, list[str]]) -> None:
    """Admin delete_series: every match[] selector deletes its matched
    series (optionally time-bounded by start/end seconds, Prometheus
    API shape), through the engine's atomic manifest-commit delete."""
    from monolith_spark import promql

    selectors = qs.get("match[]", [])
    if not selectors:
        raise ValueError("delete_series requires at least one match[] selector")
    start = qs.get("start", [None])[0]
    end = qs.get("end", [None])[0]
    start_ms = None if start is None else int(float(start) * 1000)
    end_ms = None if end is None else int(float(end) * 1000)
    for sel_text in selectors:
        ast = promql.parse(sel_text)
        if not isinstance(ast, promql.Selector) or ast.range_ms is not None:
            raise ValueError(f"match[] must be an instant selector: {sel_text!r}")
        ms = list(ast.matchers)
        if ast.name is not None:
            from monolith_spark.labels import LabelMatcher

            ms = [LabelMatcher("__name__", ast.name, "EQ"), *ms]
        db.delete_series(ms, start_ms=start_ms, end_ms=end_ms)


def _step_ms(qs: dict[str, list[str]]) -> int:
    """The ``step`` parameter in ms: float seconds or a PromQL duration."""
    from monolith_spark.promql import parse_duration_ms

    raw = qs["step"][0]
    try:
        return int(float(raw) * 1000)
    except ValueError:
        return parse_duration_ms(raw)


def _at_version(qs: dict[str, list[str]]) -> int | None:
    """The retained manifest version ``at_version`` pins, if given."""
    ver = qs.get("at_version", [None])[0]
    return None if ver is None else int(ver)


def _error_json(exc: Exception) -> bytes:
    return json.dumps(
        {"status": "error", "errorType": "bad_data", "error": str(exc)}
    ).encode()


class MonolithServer:
    """Blocking HTTP server; serve_background() for tests/demos."""

    def __init__(
        self,
        db: MonolithDB,
        host: str = "127.0.0.1",
        port: int = 9087,
        write_path: str = "/write",
        read_path: str = "/read",
        promql_path: str = "/api/v1/query",
        strict_reference_matchers: bool = False,
        recording_rules=None,
        alerting_rules=None,
    ) -> None:
        self.db = db
        # configured rules (monolith_spark.rules.RecordingRule /
        # AlertingRule): listed by GET /api/v1/rules, backfilled by
        # the admin trigger (recording output + ALERTS history)
        self.recording_rules = list(recording_rules or [])
        self.alerting_rules = list(alerting_rules or [])
        import time as _time

        self.start_time_iso = _time.strftime(
            "%Y-%m-%dT%H:%M:%SZ", _time.gmtime()
        )
        server = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _reply(self, code: int, *body: bytes, **headers: str) -> None:
                """One response: the status, ``headers`` in order (a
                keyword's ``_`` is sent as ``-``), Content-Length, then
                the body chunks."""
                self.send_response(code)
                for name, value in headers.items():
                    self.send_header(name.replace("_", "-"), value)
                self.send_header("Content-Length", str(sum(map(len, body))))
                self.end_headers()
                for chunk in body:
                    self.wfile.write(chunk)

            def _read_body(self) -> bytes | None:
                """The POST body, or None once refused: a declared
                Content-Length past the decode limit is answered 413,
                and one that is not a length (negative would read to
                EOF) 400, before a byte is read; the unread connection
                is closed."""
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                except ValueError:
                    n = -1
                if 0 <= n <= proto.MAX_DECODED_BYTES:
                    return self.rfile.read(n)
                self._reply(400 if n < 0 else 413)
                self.close_connection = True
                return None

            def do_GET(self) -> None:
                """Prometheus HTTP API: instant query
                (GET /api/v1/query?query=<promql>&time=<unix_s>) plus
                the metadata surface dashboards browse with —
                /api/v1/labels, /api/v1/label/<name>/values, and
                /api/v1/series?match[]=<selector> (all dim-only scans,
                never the fact table)."""
                import time as _time
                from urllib.parse import parse_qs, unquote, urlparse

                u = urlparse(self.path)
                qs = parse_qs(u.query)
                warnings: list[str] = []

                def _limit_param() -> int | None:
                    raw = qs.get("limit", [None])[0]
                    return None if raw is None else int(raw)

                try:
                    if u.path == promql_path:
                        query = qs["query"][0]
                        t = float(qs.get("time", [_time.time()])[0])
                        result = evaluate_promql(
                            server.db, query, int(t * 1000),
                            at_version=_at_version(qs),
                        )
                        # Prometheus 3.x: ?limit= caps the number of
                        # returned series (0 = disabled)
                        lim = _limit_param()
                        if lim is not None and 0 < lim < len(result):
                            result = result[:lim]
                            warnings.append(_TRUNCATED_WARNING)
                        data = {"resultType": "vector", "result": result}
                    elif u.path == promql_path + "_range":
                        step_ms = _step_ms(qs)
                        result = evaluate_promql_range(
                            server.db,
                            qs["query"][0],
                            int(float(qs["start"][0]) * 1000),
                            int(float(qs["end"][0]) * 1000),
                            step_ms,
                            at_version=_at_version(qs),
                        )
                        # ?limit= caps returned SERIES (matrix rows),
                        # Prometheus 3.x semantics
                        lim = _limit_param()
                        if lim is not None and 0 < lim < len(result):
                            result = result[:lim]
                            warnings.append(_TRUNCATED_WARNING)
                        data = {"resultType": "matrix", "result": result}
                    elif u.path == "/api/v1/labels":
                        # ordered top-(n+1): the sort+limit runs as a
                        # distributed TakeOrderedAndProject, so the
                        # driver never holds more than n+1 names even
                        # against a huge dim
                        n = _effective_limit(_limit_param())
                        rows = (
                            server.db.label_names()
                            .orderBy("name")
                            .limit(n + 1)
                            .collect()
                        )
                        if len(rows) > n:
                            warnings.append(_TRUNCATED_WARNING)
                        data = [r["name"] for r in rows[:n]]
                    elif u.path.startswith("/api/v1/label/") and u.path.endswith(
                        "/values"
                    ):
                        name = unquote(u.path[len("/api/v1/label/"):-len("/values")])
                        n = _effective_limit(_limit_param())
                        rows = (
                            server.db.label_values(name)
                            .orderBy("value")
                            .limit(n + 1)
                            .collect()
                        )
                        if len(rows) > n:
                            warnings.append(_TRUNCATED_WARNING)
                        data = [r["value"] for r in rows[:n]]
                    elif u.path == "/api/v1/series":
                        s_raw = qs.get("start", [None])[0]
                        e_raw = qs.get("end", [None])[0]
                        data, truncated = _series_api(
                            server.db, qs.get("match[]", []),
                            limit=_limit_param(),
                            start_ms=(None if s_raw is None
                                      else int(float(s_raw) * 1000)),
                            end_ms=(None if e_raw is None
                                    else int(float(e_raw) * 1000)),
                        )
                        if truncated:
                            warnings.append(_TRUNCATED_WARNING)
                    elif u.path == "/api/v1/query_exemplars":
                        data = query_exemplars_api(
                            server.db,
                            qs["query"][0],
                            int(float(qs["start"][0]) * 1000),
                            int(float(qs["end"][0]) * 1000),
                        )
                    elif u.path == "/api/v1/status/tsdb":
                        data = tsdb_status(server.db)
                    elif u.path == "/api/v1/metadata":
                        # {name: [{type, help, unit}]} — the Prometheus
                        # metadata API; one manifest read, no Spark job
                        mm = server.db.metric_metadata()
                        want = qs.get("metric", [None])[0]
                        names = sorted(
                            [want] if want is not None and want in mm
                            else [] if want is not None else mm
                        )
                        lim = qs.get("limit", [None])[0]
                        if lim is not None:
                            names = names[: int(lim)]
                        data = {
                            n: [{
                                "type": mm[n].get("type", "unknown"),
                                "help": mm[n].get("help", ""),
                                "unit": mm[n].get("unit", ""),
                            }]
                            for n in names
                        }
                    elif u.path == "/api/v1/status/buildinfo":
                        # Grafana probes this on datasource setup; the
                        # version string gates its feature detection
                        from monolith_spark import __version__

                        data = {
                            "version": f"2.45.0 (monolith-spark {__version__})",
                            "revision": __version__,
                            "features": {},
                        }
                    elif u.path == "/api/v1/status/flags":
                        data = {
                            "storage.tsdb.retention.time": "0s",
                            "query.lookback-delta": "5m",
                        }
                    elif u.path == "/api/v1/status/runtimeinfo":
                        # the last of Grafana's three status probes
                        # (buildinfo/flags/runtimeinfo); honest values
                        # from the engine, zeros where a field maps to
                        # nothing here
                        data = {
                            "startTime": server.start_time_iso,
                            "CWD": server.db.path,
                            "reloadConfigSuccess": True,
                            "lastConfigTime": server.start_time_iso,
                            "corruptionCount": 0,
                            "goroutineCount": 0,
                            "storageRetention": "0s",
                        }
                    elif u.path == "/api/v1/format_query":
                        from monolith_spark import promql as _pql

                        data = _pql.format_expr(_pql.parse(qs["query"][0]))
                    elif u.path == "/api/v1/parse_query":
                        from monolith_spark import promql as _pql

                        data = _pql.ast_to_dict(_pql.parse(qs["query"][0]))
                    elif u.path == "/api/v1/rules":
                        data = {
                            "groups": [{
                                "name": "monolith-spark",
                                "rules": [
                                    {
                                        "type": "recording",
                                        "name": r.record,
                                        "query": r.expr,
                                        "labels": dict(r.labels),
                                        "health": "ok",
                                    }
                                    for r in server.recording_rules
                                ] + [
                                    {
                                        "type": "alerting",
                                        "name": r.alert,
                                        "query": r.expr,
                                        "duration": r.for_ms / 1000.0,
                                        "labels": dict(r.labels),
                                        "annotations": dict(r.annotations),
                                        "health": "ok",
                                    }
                                    for r in server.alerting_rules
                                ],
                            }] if (server.recording_rules
                                   or server.alerting_rules) else [],
                        }
                    elif u.path == "/federate":
                        t = float(qs.get("time", [_time.time()])[0])
                        text = federate_text(
                            server.db, qs.get("match[]", []), int(t * 1000)
                        )
                        self._reply(
                            200, text.encode(),
                            Content_Type="text/plain; version=0.0.4",
                        )
                        return
                    else:
                        self._reply(404)
                        return
                    env = {"status": "success", "data": data}
                    if warnings:
                        env["warnings"] = warnings
                    body = json.dumps(env).encode()
                    code = 200
                except Exception as exc:  # bad expr / engine error
                    body = _error_json(exc)
                    code = 400
                self._reply(code, body, Content_Type="application/json")

            def do_POST(self) -> None:
                from urllib.parse import parse_qs, urlparse

                u = urlparse(self.path)
                if u.path in (
                    promql_path, promql_path + "_range",
                    "/api/v1/series", "/api/v1/labels",
                ) or (
                    u.path.startswith("/api/v1/label/")
                    and u.path.endswith("/values")
                ):
                    # Grafana's Prometheus datasource POSTs these
                    # read APIs form-encoded (URL-length safety);
                    # merge the body params into the query string and
                    # delegate to the GET logic
                    body = self._read_body()
                    if body is None:
                        return
                    body = body.decode("utf-8", "replace")
                    merged = "&".join(x for x in (u.query, body) if x)
                    self.path = u.path + (f"?{merged}" if merged else "")
                    return self.do_GET()
                if u.path == otlp.OTLP_PATH:
                    # OTLP/HTTP metrics (the Prometheus 3.x OTLP
                    # receiver path): protobuf body, optional gzip
                    # Content-Encoding; mapped to the v1 write shape
                    # and ingested through the normal path; inline
                    # descriptions/units land in metric metadata.
                    try:
                        ct = self.headers.get("Content-Type", "")
                        if "json" in ct:
                            # OTLP/JSON is a distinct encoding this
                            # receiver does not speak — tell the
                            # exporter to use protobuf
                            self._reply(415)
                            return
                        body = self._read_body()
                        if body is None:
                            return
                        if self.headers.get("Content-Encoding") == "gzip":
                            body = _gunzip_bounded(body, proto.MAX_DECODED_BYTES)
                            if body is None:
                                self._reply(413)
                                return
                        req, meta, stats = otlp.otlp_to_write_request(body)
                        # samples and metadata land in one commit
                        server.db.write(request_batch(req, meta))
                        # success: empty ExportMetricsServiceResponse
                        # (all-default message = zero bytes).
                        # Exponential histograms classic-expand on
                        # ingest (sources/otlp.py) — the count is
                        # surfaced via header for observability.
                        headers = {"Content_Type": otlp.OTLP_CONTENT_TYPE}
                        if stats["expanded_exponential"]:
                            headers["X_Otlp_Expanded_Exponential_Histograms"] = (
                                str(stats["expanded_exponential"])
                            )
                        self._reply(200, **headers)
                    except Exception as exc:
                        self._reply(400, str(exc).encode())
                    return
                if u.path == "/api/v1/admin/rules/run":
                    # backfill trigger: evaluate the configured rule
                    # group over [start, end] at step and commit the
                    # output (overwrite=true re-runs idempotently).
                    try:
                        from monolith_spark.rules import (
                            backfill_alerts,
                            record_rules,
                        )

                        qs = parse_qs(u.query)
                        if not (server.recording_rules
                                or server.alerting_rules):
                            raise ValueError("no rules configured")
                        step_ms = _step_ms(qs)
                        start_b = int(float(qs["start"][0]) * 1000)
                        end_b = int(float(qs["end"][0]) * 1000)
                        ow = qs.get("overwrite", ["false"])[0] == "true"
                        if server.recording_rules:
                            record_rules(
                                server.db, server.recording_rules,
                                start_b, end_b, step_ms, overwrite=ow,
                            )
                        if server.alerting_rules:
                            backfill_alerts(
                                server.db, server.alerting_rules,
                                start_b, end_b, step_ms, overwrite=ow,
                            )
                        self._reply(204)
                    except Exception as exc:
                        self._reply(400, _error_json(exc))
                    return
                if u.path.startswith("/api/v1/admin/tsdb/"):
                    # Prometheus admin API: delete_series (match[] +
                    # optional start/end seconds) and clean_tombstones
                    # (here: vacuum — manifest snapshots play the role
                    # of tombstones). 204 on success, like Prometheus.
                    try:
                        qs = parse_qs(u.query)
                        if u.path.endswith("/delete_series"):
                            _admin_delete(server.db, qs)
                        elif u.path.endswith("/clean_tombstones"):
                            server.db.vacuum()
                        elif u.path.endswith("/snapshot"):
                            # Prometheus's consistent-backup API: the
                            # manifest-pinned file set hardlinked into
                            # snapshots/<name> (engine.snapshot). 200 +
                            # {"name": ...}, matching Prometheus.
                            sname = server.db.snapshot(
                                at_version=_at_version(qs)
                            )
                            body = json.dumps(
                                {"status": "success",
                                 "data": {"name": sname}}
                            ).encode()
                            self._reply(
                                200, body, Content_Type="application/json"
                            )
                            return
                        elif u.path.endswith("/build_label_index"):
                            # build (or compact) the inverted label
                            # index; serving flips to postings on the
                            # next query, no restart
                            server.db.build_label_index()
                        else:
                            raise ValueError(f"unknown admin path {u.path}")
                        self._reply(204)
                    except Exception as exc:
                        self._reply(400, _error_json(exc))
                    return
                if self.path not in (write_path, read_path):
                    self._reply(404)
                    return
                if self.path == write_path:
                    ct = self.headers.get("Content-Type", "")
                    if "proto=" in ct and not (
                        "io.prometheus.write.v2.Request" in ct
                        or "prometheus.WriteRequest" in ct
                    ):
                        # remote-write spec: a receiver that does not
                        # support the negotiated message MUST answer
                        # 415 — checked BEFORE touching the payload,
                        # never mis-decoded as another version
                        self._reply(415)
                        return
                try:
                    body = self._read_body()
                    if body is None:
                        return
                    raw = proto.snappy_decompress(body)
                    if self.path == write_path:
                        ctype = self.headers.get("Content-Type", "")
                        if "io.prometheus.write.v2.Request" in ctype:
                            # remote-write 2.0: symbol-interned series +
                            # inline metric metadata (absorbed into the
                            # manifest metadata store). Reply with the
                            # spec's written-stats headers.
                            v2 = proto.decode_write_request_v2(raw)
                            req, meta = proto.v2_to_v1(v2)
                            # the -Written headers must carry the
                            # receiver's truth (rows that survived
                            # valid_points and were ingested), not the
                            # request's claimed counts; samples,
                            # exemplars and metadata land in one commit
                            batch = request_batch(req, meta)
                            n_samples = server.db.write(
                                batch, return_count=True
                            )
                            n_ex = 0
                            if batch.exemplars is not None:
                                n_ex = int(batch.exemplars.valid().sum())
                            # remote-write 2.0: success is 204 No Content
                            self._reply(
                                204,
                                X_Prometheus_Remote_Write_Samples_Written=str(
                                    n_samples),
                                X_Prometheus_Remote_Write_Histograms_Written=str(
                                    req.native_histogram_points),
                                X_Prometheus_Remote_Write_Exemplars_Written=str(
                                    n_ex),
                            )
                            return
                        req = proto.decode_write_request(raw)
                        server.db.write(request_batch(req))
                        payload = b""
                    else:
                        rreq = proto.decode_read_request(raw)
                        if (proto.RESP_STREAMED_XOR_CHUNKS
                                in rreq.accepted_response_types):
                            # spec content negotiation: the client
                            # accepts the streamed response type →
                            # framed ChunkedReadResponse messages,
                            # uncompressed body (frames carry their
                            # own crc), flushed one frame at a time
                            frames = evaluate_read_chunked(
                                server.db, rreq,
                                strict=strict_reference_matchers,
                            )
                            self._reply(
                                200, *frames,
                                Content_Type=proto.STREAMED_CONTENT_TYPE,
                            )
                            return
                        resp = evaluate_read(
                            server.db, rreq,
                            strict=strict_reference_matchers,
                        )
                        payload = proto.snappy_compress(proto.encode_read_response(resp))
                    self._reply(200, payload, Content_Encoding="snappy")
                except Exception as exc:  # 500 on parse/engine error (server.rs:79-89)
                    self._reply(500, str(exc).encode())

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self._httpd.server_address[1]

    def serve_forever(self) -> None:
        self._httpd.serve_forever()

    def serve_background(self) -> threading.Thread:
        t = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        t.start()
        return t

    def shutdown(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
