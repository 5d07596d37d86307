"""Traced mode: spans around calls into each layer, and their analysis.

The server-side half (``Tracer.install``) runs inside the benchmark's
launcher, before the server starts.  It replaces the public functions
named in ``LAYERS`` with wrappers that record a span (name, start, end,
parent span, request id), and counts py4j round trips per request by
wrapping ``GatewayClient.send_command``.  The request id arrives in
the client's ``X-Request-Id`` header; it is also set as a Spark local
property, so the event log attributes jobs, stages and tasks to it.
Spans stay in memory and are written once, when the server stops.

The analysis half (``layer_times``, ``spark_counts``) runs in the
benchmark process after the run.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import Counter, defaultdict

REQUEST_HEADER = "X-Request-Id"
REQUEST_PROPERTY = "perfbench.request_id"

# (module path, attribute path, span name); the span name's prefix up
# to the first dot is its layer
LAYERS = [
    ("monolith_spark.sources.remote", "snappy_decompress", "remote.decode"),
    ("monolith_spark.sources.remote", "decode_write_request", "remote.decode"),
    ("monolith_spark.sources.remote", "encode_read_response", "remote.encode"),
    ("monolith_spark.sources.remote", "snappy_compress", "remote.encode"),
    ("monolith_spark.server", "write_request_to_df", "server.to_df"),
    ("monolith_spark.engine", "MonolithDB.write", "engine.write"),
    ("monolith_spark.engine", "MonolithDB.query_flat", "engine.query_flat"),
    ("monolith_spark.engine", "MonolithDB.query", "engine.query"),
    ("monolith_spark.promql", "parse", "promql.parse"),
    ("monolith_spark.promql", "eval_instant", "promql.plan"),
    ("monolith_spark.promql", "eval_range", "promql.plan"),
    ("pyspark.sql.classic.dataframe", "DataFrame.collect", "spark.exec"),
    ("pyspark.sql.classic.dataframe", "DataFrame.toPandas", "spark.exec"),
    ("pyspark.sql.classic.dataframe", "DataFrame.count", "spark.exec"),
    ("pyspark.sql.classic.dataframe", "DataFrame.localCheckpoint", "spark.exec"),
    ("pyspark.sql.readwriter", "DataFrameWriter.save", "spark.exec"),
    ("pyspark.sql.readwriter", "DataFrameWriter.parquet", "spark.exec"),
]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.py4j_calls: Counter = Counter()
        self._py4j_lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count(1)

    @property
    def request_id(self) -> str | None:
        return getattr(self._local, "req", None)

    def set_request(self, req: str | None) -> None:
        self._local.req = req

    def start_request(self, spark_context, req: str) -> None:
        """Attribute what this thread runs next, spans and Spark jobs, to ``req``."""
        spark_context.setLocalProperty(REQUEST_PROPERTY, req)
        self.set_request(req)
        self._local.t_request = time.perf_counter()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            st = tracer._stack()
            sid = next(tracer._ids)
            parent = st[-1] if st else None
            st.append(sid)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                st.pop()
                # list.append is atomic under the GIL
                tracer.spans.append((sid, parent, name, t0, t1, tracer.request_id))

        traced.__wrapped__ = fn
        return traced

    def install(self, spark_context) -> None:
        """Wrap every LAYERS entry, py4j's send_command and the HTTP
        handler's request boundary.  Call before the server starts."""
        import http.server
        import importlib

        from py4j.java_gateway import GatewayClient

        for mod_name, attr, name in LAYERS:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            setattr(owner, leaf, self.wrap(getattr(owner, leaf), name))

        send = GatewayClient.send_command
        tracer = self

        def send_command(client, *args, **kwargs):
            rid = tracer.request_id
            with tracer._py4j_lock:
                tracer.py4j_calls[rid] += 1
            return send(client, *args, **kwargs)

        GatewayClient.send_command = send_command

        handler = http.server.BaseHTTPRequestHandler
        parse, handle = handler.parse_request, handler.handle_one_request

        def parse_request(h):
            ok = parse(h)
            rid = h.headers.get(REQUEST_HEADER) if ok else None
            if rid:
                tracer.start_request(spark_context, rid)
            return ok

        def handle_one_request(h):
            tracer.set_request(None)
            try:
                return handle(h)
            finally:
                rid = tracer.request_id
                if rid:
                    tracer.spans.append((next(tracer._ids), None, "server.request",
                                         tracer._local.t_request, time.perf_counter(), rid))
                tracer.set_request(None)

        handler.parse_request = parse_request
        handler.handle_one_request = handle_one_request

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "py4j_calls": {str(k): v for k, v in self.py4j_calls.items()},
                       **(extra or {})}, f)


# ---------------------------------------------------------------- analysis


def layer_times(spans: list) -> dict[str, dict[str, float]]:
    """Per request id: the time of each span name, in ms, counting only
    spans with no ancestor of the same name (nested calls of one layer
    are not counted twice), plus ``<name>.self`` = that time minus the
    time covered by its child spans."""
    by_id = {s[0]: s for s in spans}
    children: dict[int, list] = defaultdict(list)
    for s in spans:
        if s[1] is not None:
            children[s[1]].append(s)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for sid, parent, name, t0, t1, rid in spans:
        p, nested = parent, False
        while p is not None:
            ps = by_id.get(p)
            if ps is None:
                break
            if ps[2] == name:
                nested = True
                break
            p = ps[1]
        if nested:
            continue
        dur = (t1 - t0) * 1000
        child = sum((c[4] - c[3]) * 1000 for c in children.get(sid, ()))
        out[rid][name] += dur
        out[rid][name + ".self"] += dur - child
    return out


def read_event_log(path: str) -> list[dict]:
    events = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                events.append(json.loads(line))
    return events


def spark_counts(events: list[dict]) -> dict[str, dict[str, float]]:
    """Per request id (the Spark local property set by the launcher):
    jobs, stages and tasks run, shuffle bytes written, and task wait
    (launch time minus its stage's submission time, in ms)."""
    job_req: dict[int, str] = {}
    stage_req: dict[int, str] = {}
    stage_submit: dict[int, int] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            rid = (ev.get("Properties") or {}).get(REQUEST_PROPERTY)
            job_req[ev["Job ID"]] = rid
            out[rid]["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_req.setdefault(sid, rid)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_submit[info["Stage ID"]] = info.get("Submission Time", 0)
            out[stage_req.get(info["Stage ID"])]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            rid = stage_req.get(sid)
            rec = out[rid]
            rec["tasks"] += 1
            info = ev.get("Task Info") or {}
            sub = stage_submit.get(sid)
            if sub and info.get("Launch Time"):
                rec["task_wait_ms"] += max(0, info["Launch Time"] - sub)
            m = ev.get("Task Metrics") or {}
            rec["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
    return out
