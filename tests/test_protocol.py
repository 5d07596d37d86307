"""Wire-protocol tests: snappy + protobuf codecs (golden vectors and
roundtrips) and the HTTP remote write→read end-to-end path."""

from __future__ import annotations

import http.client
import json

import pytest

from monolith_spark.engine import MonolithDB
from monolith_spark.sources import remote as proto


# ------------------------------------------------------------------ snappy

def test_snappy_roundtrip_and_golden():
    data = b"Wikipedia is a free, web-based, collaborative encyclopedia" * 3
    assert proto.snappy_decompress(proto.snappy_compress(data)) == data
    assert proto.snappy_decompress(proto.snappy_compress(b"")) == b""


def test_snappy_decodes_copies():
    # Hand-built stream exercising literal + copy1 (overlapping, RLE):
    # uncompressed = b"abcabcabcabc" (12): literal "abc" then copy
    # offset=3 len=9 (copy1 max len 11, min 4).
    stream = bytes([12]) + bytes([(3 - 1) << 2]) + b"abc" + bytes([((9 - 4) << 2) | 1, 3])
    assert proto.snappy_decompress(stream) == b"abcabcabcabc"
    # copy2: offset as 2-byte LE
    stream2 = bytes([8]) + bytes([(4 - 1) << 2]) + b"wxyz" + bytes([((4 - 1) << 2) | 2, 4, 0])
    assert proto.snappy_decompress(stream2) == b"wxyzwxyz"


def test_snappy_corrupt_raises():
    with pytest.raises(ValueError):
        proto.snappy_decompress(bytes([4]) + bytes([((4 - 4) << 2) | 1, 9]))  # offset > out


# ---------------------------------------------------------------- protobuf

def test_varint_int64_negative_roundtrip():
    for v in [0, 1, 127, 128, 300, 2**32, 2**62, -1, -1000]:
        data = proto._write_varint(v)
        got, pos = proto._read_varint(data, 0)
        assert proto._signed64(got) == v and pos == len(data)


def test_write_request_roundtrip():
    req = proto.WriteRequest(
        timeseries=[
            proto.TimeSeries(
                labels={"__name__": "up", "job": "api"},
                samples=[proto.Sample(1.5, 1000), proto.Sample(-2.25, 2000)],
            ),
            proto.TimeSeries(labels={"a": "b"}, samples=[proto.Sample(0.0, 5)]),
        ]
    )
    got = proto.decode_write_request(proto.encode_write_request(req))
    assert [ts.labels for ts in got.timeseries] == [ts.labels for ts in req.timeseries]
    assert got.timeseries[0].samples[1].value == -2.25
    assert got.timeseries[0].samples[1].timestamp == 2000


def test_read_request_roundtrip_with_matcher_types():
    req = proto.ReadRequest(
        queries=[
            proto.Query(
                10, 2000,
                [proto.LabelMatcher(proto.EQ, "job", "api"),
                 proto.LabelMatcher(proto.RE, "env", "prod|stage"),
                 proto.LabelMatcher(proto.NEQ, "dc", "eu")],
            )
        ]
    )
    got = proto.decode_read_request(proto.encode_read_request(req))
    q = got.queries[0]
    assert (q.start_timestamp_ms, q.end_timestamp_ms) == (10, 2000)
    assert [(m.type_name, m.name, m.value) for m in q.matchers] == [
        ("EQ", "job", "api"), ("RE", "env", "prod|stage"), ("NEQ", "dc", "eu")]


def test_read_request_hints_roundtrip():
    req = proto.ReadRequest(
        queries=[
            proto.Query(
                0, 10_000,
                [proto.LabelMatcher(proto.EQ, "job", "api")],
                hints=proto.ReadHints(step_ms=60_000, func="avg_over_time",
                                      start_ms=0, end_ms=10_000),
            ),
            proto.Query(0, 99),  # hints omitted → stays None
        ]
    )
    got = proto.decode_read_request(proto.encode_read_request(req))
    h = got.queries[0].hints
    assert (h.step_ms, h.func, h.start_ms, h.end_ms) == (60_000, "avg_over_time", 0, 10_000)
    assert got.queries[1].hints is None


def test_golden_label_encoding():
    # protobuf wire bytes for Label{name="job", value="api"}:
    # 0A (field1,LEN) 03 "job"  12 (field2,LEN) 03 "api"
    assert proto._enc_label("job", "api") == b"\x0a\x03job\x12\x03api"


# ----------------------------------------------------------------- HTTP e2e

def _post(port: int, path: str, body: bytes):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    conn.request("POST", path, body=body)
    resp = conn.getresponse()
    data = resp.read()
    conn.close()
    return resp.status, data


def test_http_write_then_read_roundtrip(spark, tmp_path):
    from monolith_spark.server import MonolithServer

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    srv = MonolithServer(db, port=0)
    srv.serve_background()
    try:
        wr = proto.WriteRequest(
            timeseries=[
                proto.TimeSeries({"test1": "1", "test2": "2"},
                                 [proto.Sample(12.9, 12), proto.Sample(13.5, 16)]),
                proto.TimeSeries({"test2": "2", "test3": "3"},
                                 [proto.Sample(12.9, 120)]),
            ]
        )
        status, _ = _post(srv.port, "/write", proto.snappy_compress(proto.encode_write_request(wr)))
        assert status == 200

        rr = proto.ReadRequest(
            queries=[proto.Query(0, 1000, [proto.LabelMatcher(proto.EQ, "test1", "1")])]
        )
        status, body = _post(srv.port, "/read", proto.snappy_compress(proto.encode_read_request(rr)))
        assert status == 200
        resp = proto.decode_read_response(proto.snappy_decompress(body))
        assert len(resp.results) == 1
        (ts,) = resp.results[0]
        assert ts.labels == {"test1": "1", "test2": "2"}
        assert [(s.timestamp, s.value) for s in ts.samples] == [(12, 12.9), (16, 13.5)]

        # hinted read: step downsampling server-side (M5). Points at
        # ts 12 and 16 fall in bucket 0 of a 100 ms step → one avg'd
        # sample stamped at the bucket start.
        hr = proto.ReadRequest(
            queries=[proto.Query(
                0, 1000, [proto.LabelMatcher(proto.EQ, "test1", "1")],
                hints=proto.ReadHints(step_ms=100, func="avg_over_time"),
            )]
        )
        status, body = _post(srv.port, "/read", proto.snappy_compress(proto.encode_read_request(hr)))
        assert status == 200
        resp = proto.decode_read_response(proto.snappy_decompress(body))
        (ts,) = resp.results[0]
        assert ts.labels == {"test1": "1", "test2": "2"}
        assert [(s.timestamp, s.value) for s in ts.samples] == [(0, (12.9 + 13.5) / 2)]

        # unknown func → hints ignored, raw points (reference behavior)
        hr2 = proto.ReadRequest(
            queries=[proto.Query(
                0, 1000, [proto.LabelMatcher(proto.EQ, "test1", "1")],
                hints=proto.ReadHints(step_ms=100, func="holt_winters"),
            )]
        )
        status, body = _post(srv.port, "/read", proto.snappy_compress(proto.encode_read_request(hr2)))
        resp = proto.decode_read_response(proto.snappy_decompress(body))
        assert [(s.timestamp, s.value) for s in resp.results[0][0].samples] == [
            (12, 12.9), (16, 13.5)]

        # parse error -> 500 (reference src/server.rs:79-89)
        status, _ = _post(srv.port, "/read", b"\x00garbage-not-snappy\xff\xff")
        assert status == 500
        # unknown path -> 404
        status, _ = _post(srv.port, "/nope", b"")
        assert status == 404
    finally:
        srv.shutdown()


def test_hinted_range_funcs_semantics(spark, tmp_path):
    """ReadHints func ∈ {rate, increase, delta, irate} evaluated
    server-side per step bucket (reset-corrected counter steps)."""
    from monolith_spark.server import evaluate_read

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    wr = proto.WriteRequest(
        timeseries=[
            proto.TimeSeries(
                {"name": "ctr"},
                [proto.Sample(0.0, 1), proto.Sample(5.0, 10),
                 proto.Sample(2.0, 20), proto.Sample(7.0, 30)],  # reset at t=20
            )
        ]
    )
    from monolith_spark.server import write_request_to_df

    db.write(write_request_to_df(spark, wr))

    def hinted(func):
        req = proto.ReadRequest(queries=[proto.Query(
            0, 1000, [proto.LabelMatcher(proto.EQ, "name", "ctr")],
            hints=proto.ReadHints(step_ms=20, func=func),
        )])
        (ts,) = evaluate_read(db, req).results[0]
        return [(s.timestamp, s.value) for s in ts.samples]

    # steps: t10 +5 (bucket 0), t20 reset→inc 2 (bucket 20), t30 +5 (bucket 20)
    assert hinted("increase") == [(0, 5.0), (20, 7.0)]
    assert hinted("rate") == [(0, 5.0 / 0.02), (20, 7.0 / 0.02)]
    assert hinted("delta") == [(0, 5.0), (20, (2.0 - 5.0) + (7.0 - 2.0))]
    # irate: last step in each bucket over its own duration (ms→s);
    # bucket 0's step spans t=1→10 (9 ms), bucket 20's t=20→30 (10 ms)
    assert hinted("irate") == [(0, 5.0 / 0.009), (20, 5.0 / 0.010)]
    # a hinted query resolves ONE snapshot: the labels ride along with
    # the points query_flat returns, no second dim or manifest read
    loads = []
    load = db._load_manifest
    db._load_manifest = lambda *a, **k: loads.append(a) or load(*a, **k)
    assert hinted("avg_over_time") == [(0, 2.5), (20, 4.5)]
    assert len(loads) == 1


def test_range_func_matches_counter_increase_on_fixture(spark, sf_dir):
    """One giant hint bucket reproduces the tested ts_counter_increase
    workload operator exactly on the events fixture."""
    from monolith_spark import workload
    from monolith_spark.operators.timeseries import range_func_by_step
    from monolith_spark.sources.events import events_samples

    JAN1, JAN20 = 1_704_067_200_000, 1_705_708_800_000
    s = events_samples(spark, sf_dir, ts_range=(JAN1, JAN20))
    via_hint = {
        r["signature"]: r["increase_value"]
        for r in range_func_by_step(
            s, step_ms=1 << 50, func="increase", key_cols=["signature"]
        ).collect()
    }
    via_op = {
        r["signature"]: r["increase"]
        for r in workload.queries()["ts_counter_increase"](spark, sf_dir).collect()
    }
    assert via_hint == via_op


def test_multi_query_read_concurrent_preserves_order(spark, tmp_path):
    """A ReadRequest with several queries evaluates concurrently but
    results stay in request order, identical to serial evaluation."""
    from monolith_spark.server import _evaluate_one, evaluate_read, write_request_to_df

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    wr = proto.WriteRequest(
        timeseries=[
            proto.TimeSeries({"job": f"j{i}"}, [proto.Sample(float(i), 10 + i)])
            for i in range(6)
        ]
    )
    db.write(write_request_to_df(spark, wr))
    queries = [
        proto.Query(0, 1000, [proto.LabelMatcher(proto.EQ, "job", f"j{i}")])
        for i in range(6)
    ] + [proto.Query(0, 1000, [])]  # match-all as the 7th
    resp = evaluate_read(db, proto.ReadRequest(queries=queries), max_parallel=4)
    assert len(resp.results) == 7
    for i in range(6):
        (ts,) = resp.results[i]
        assert ts.labels == {"job": f"j{i}"}
        assert [(s.timestamp, s.value) for s in ts.samples] == [(10 + i, float(i))]
    assert len(resp.results[6]) == 6
    # concurrent == serial
    serial = [_evaluate_one(db, q, False) for q in queries]
    for a, b in zip(resp.results, serial):
        assert [(t.labels, [(s.timestamp, s.value) for s in t.samples]) for t in a] \
            == [(t.labels, [(s.timestamp, s.value) for s in t.samples]) for t in b]


def test_promql_http_instant_query(spark, tmp_path):
    """The Prometheus-API instant-query endpoint: GET /api/v1/query
    parses + evaluates server-side against a chunk-pruned scan and
    returns the standard vector JSON; matches a direct eval_instant;
    a bad expression returns status=error with HTTP 400."""
    import json
    import urllib.error
    import urllib.parse
    import urllib.request

    from monolith_spark import promql
    from monolith_spark.server import MonolithServer, evaluate_promql

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    rows = [({"job": "api", "dc": "eu"}, t, float(v))
            for t, v in [(1_000, 10.0), (31_000, 4.0), (61_000, 9.0)]] \
        + [({"job": "db", "dc": "us"}, 31_000, 7.0)]
    db.write(spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double"))

    # direct evaluation (what the endpoint must reproduce)
    direct = evaluate_promql(db, 'sum by (job) (increase({dc=~".+"}[2m]))',
                             time_ms=61_000)
    want = {tuple(sorted(r["metric"].items())): r["value"][1] for r in direct}
    # increase with a reset at 31s: (4 is a reset -> +4) + (9-4) = 9
    assert want[(("job", "api"),)] == "9.0"

    srv = MonolithServer(db, port=0)
    srv.serve_background()
    try:
        q = urllib.parse.urlencode(
            {"query": 'sum by (job) (increase({dc=~".+"}[2m]))', "time": "61"})
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/api/v1/query?{q}"
        ) as resp:
            body = json.loads(resp.read())
        assert body["status"] == "success"
        assert body["data"]["resultType"] == "vector"
        got = {tuple(sorted(r["metric"].items())): r["value"][1]
               for r in body["data"]["result"]}
        assert got == want
        assert all(r["value"][0] == 61.0 for r in body["data"]["result"])

        # scalar expression round-trips too
        q2 = urllib.parse.urlencode({"query": "1 + 2", "time": "61"})
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/api/v1/query?{q2}"
        ) as resp:
            body2 = json.loads(resp.read())
        assert body2["data"]["result"][0]["value"][1] == "3.0"

        # parse error -> 400 + status=error
        qbad = urllib.parse.urlencode({"query": "rate({"})
        try:
            urllib.request.urlopen(
                f"http://127.0.0.1:{srv.port}/api/v1/query?{qbad}")
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
            err = json.loads(e.read())
            assert err["status"] == "error" and err["errorType"] == "bad_data"
    finally:
        srv.shutdown()

    # time_window walks nested reaches correctly (serving-layer
    # pruning); an offset tightens BOTH ends — samples after the
    # shifted window end are never read, so they need not be scanned
    assert promql.time_window("rate(m[5m] offset 1h)", 10_000_000) == (
        10_000_000 - 3_900_000, 10_000_000 - 3_600_000)
    assert promql.time_window("max_over_time(rate(m[5d])[15d:5d])",
                              2_000_000_000) == (
        2_000_000_000 - 20 * 86_400_000, 2_000_000_000)
    assert promql.time_window("{a=\"1\"}", 1_000_000) == (700_000, 1_000_000)


def test_promql_metadata_http_apis(spark, tmp_path):
    """The Prometheus metadata surface: /api/v1/labels,
    /api/v1/label/<n>/values, /api/v1/series?match[] — dim-only scans
    with full matcher semantics through the PromQL selector parser."""
    import json
    import urllib.parse
    import urllib.request

    from monolith_spark.server import MonolithServer

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    db.write(spark.createDataFrame(
        [({"job": "api", "dc": "eu"}, 1_000, 1.0),
         ({"job": "api", "dc": "us"}, 1_000, 2.0),
         ({"job": "db"}, 1_000, 3.0)],
        "labels map<string,string>, timestamp long, value double"))
    srv = MonolithServer(db, port=0)
    srv.serve_background()

    def get(path):
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}{path}"
        ) as resp:
            return json.loads(resp.read())

    try:
        assert get("/api/v1/labels")["data"] == ["dc", "job"]
        assert get("/api/v1/label/dc/values")["data"] == ["eu", "us"]
        assert get("/api/v1/label/nope/values")["data"] == []
        q = urllib.parse.urlencode({"match[]": '{job="api"}'})
        got = get(f"/api/v1/series?{q}")["data"]
        assert got == [{"dc": "eu", "job": "api"}, {"dc": "us", "job": "api"}]
        # regex matcher + union of selectors dedupes on signature
        q2 = urllib.parse.urlencode(
            [("match[]", '{dc=~"e."}'), ("match[]", '{job="api"}')])
        got2 = get(f"/api/v1/series?{q2}")["data"]
        assert got2 == got
        # NEQ treats the missing label as empty (matches the bare-job series)
        q3 = urllib.parse.urlencode({"match[]": '{dc!="eu"}'})
        assert {tuple(sorted(d.items())) for d in get(f"/api/v1/series?{q3}")["data"]} \
            == {(("dc", "us"), ("job", "api")), (("job", "db"),)}

        # /api/v1/status/tsdb: head stats + deterministic cardinality tops
        st = get("/api/v1/status/tsdb")["data"]
        assert st["headStats"]["numSeries"] == 3
        assert st["headStats"]["numLabelPairs"] == 4  # job:api/db, dc:eu/us
        assert st["headStats"]["chunkCount"] >= 1
        assert st["headStats"]["totalBytes"] > 0
        pairs = {e["name"]: e["value"]
                 for e in st["seriesCountByLabelValuePair"]}
        assert pairs["job=api"] == 2 and pairs["job=db"] == 1
        labels = {e["name"]: e["value"]
                  for e in st["labelValueCountByLabelName"]}
        assert labels == {"job": 2, "dc": 2}
        assert st["seriesCountByMetricName"] == []  # unnamed series

        # ?limit= bounds every metadata API (Prometheus semantics:
        # capped data + a truncation warning; limit=0 disables)
        q4 = urllib.parse.urlencode({"match[]": '{job=~".+"}', "limit": 2})
        resp4 = get(f"/api/v1/series?{q4}")
        assert len(resp4["data"]) == 2
        assert resp4["warnings"] == ["results truncated due to limit"]
        resp5 = get("/api/v1/labels?limit=1")
        assert resp5["data"] == ["dc"]
        assert resp5["warnings"] == ["results truncated due to limit"]
        resp6 = get("/api/v1/label/dc/values?limit=1")
        assert resp6["data"] == ["eu"]
        assert resp6["warnings"] == ["results truncated due to limit"]
        # exact-fit and limit=0: full data, no warning
        assert "warnings" not in get("/api/v1/labels?limit=2")
        assert get("/api/v1/labels?limit=0")["data"] == ["dc", "job"]

        # start/end bound /api/v1/series to series with samples in
        # the window (chunk-pruned fact semi-join); all fixture
        # samples sit at t=1s, so a disjoint window lists nothing
        q5 = urllib.parse.urlencode(
            {"match[]": '{job=~".+"}', "start": 0, "end": 10})
        assert len(get(f"/api/v1/series?{q5}")["data"]) == 3
        q6 = urllib.parse.urlencode(
            {"match[]": '{job=~".+"}', "start": 100, "end": 200})
        assert get(f"/api/v1/series?{q6}")["data"] == []

        # Grafana POSTs the read APIs form-encoded — same results as GET
        post_body = urllib.parse.urlencode(
            {"query": '{job=~".+"}', "time": "2"}).encode()
        req_p = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/api/v1/query",
            data=post_body,
            headers={"Content-Type": "application/x-www-form-urlencoded"},
            method="POST",
        )
        with urllib.request.urlopen(req_p) as resp_p:
            posted = json.loads(resp_p.read())
        assert posted["status"] == "success"
        assert len(posted["data"]["result"]) == 3
        req_s = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/api/v1/series",
            data=urllib.parse.urlencode({"match[]": '{job="api"}'}).encode(),
            headers={"Content-Type": "application/x-www-form-urlencoded"},
            method="POST",
        )
        with urllib.request.urlopen(req_s) as resp_s:
            assert len(json.loads(resp_s.read())["data"]) == 2

        # ?limit= on the query endpoints caps returned series
        qq = urllib.parse.urlencode(
            {"query": '{job=~".+"}', "time": "2", "limit": 2})
        rq = get(f"/api/v1/query?{qq}")
        assert len(rq["data"]["result"]) == 2
        assert rq["warnings"] == ["results truncated due to limit"]
        qr = urllib.parse.urlencode(
            {"query": '{job=~".+"}', "start": "0", "end": "10",
             "step": "10s", "limit": 1})
        rr = get(f"/api/v1/query_range?{qr}")
        assert len(rr["data"]["result"]) == 1
        assert rr["warnings"] == ["results truncated due to limit"]
    finally:
        srv.shutdown()


def test_series_api_collect_is_bounded(spark, tmp_path):
    """The series/labels APIs must never materialize the full dim on
    the driver: the scan is an ordered top-(n+1), planned as
    TakeOrderedAndProject (executors keep n+1 rows each), not a global
    sort + full collect (VERDICT r7 wrong #3)."""
    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    db.write(spark.createDataFrame(
        [({"job": f"j{i}"}, 1_000, float(i)) for i in range(20)],
        "labels map<string,string>, timestamp long, value double"))
    plan = (
        db.series()
        .select("signature", "labels")
        .orderBy("signature")
        .limit(3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the ORDER BY + LIMIT pair must plan as the distributed top-k
    # (per-partition heaps + driver merge of n+1 rows), never as a
    # global Sort feeding a full CollectLimit
    assert "TakeOrderedAndProject" in plan
    assert "CollectLimit" not in plan


def test_promql_http_range_query(spark, tmp_path):
    """GET /api/v1/query_range: the tiled one-pass evaluator behind
    the Grafana shape, returning the standard matrix JSON."""
    import json
    import urllib.parse
    import urllib.request

    from monolith_spark.server import MonolithServer

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    db.write(spark.createDataFrame(
        [({"job": "api"}, t, float(v)) for t, v in
         [(1_000, 10.0), (4_000, 12.0), (11_000, 4.0), (14_000, 9.0)]],
        "labels map<string,string>, timestamp long, value double"))
    srv = MonolithServer(db, port=0)
    srv.serve_background()
    try:
        q = urllib.parse.urlencode({
            "query": 'increase({job="api"}[10s])',
            "start": "0", "end": "20", "step": "10s",
        })
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/api/v1/query_range?{q}"
        ) as resp:
            body = json.loads(resp.read())
        assert body["status"] == "success"
        assert body["data"]["resultType"] == "matrix"
        (series,) = body["data"]["result"]
        assert series["metric"] == {"job": "api"}
        assert series["values"] == [[10.0, "2.0"], [20.0, "5.0"]]

        # the DEFAULT Grafana shape: rate with range = 2x step — the
        # endpoint must widen its scan past `start` by (k-1)*step and
        # each window must see its full 20s reach
        q2 = urllib.parse.urlencode({
            "query": 'rate({job="api"}[20s])',
            "start": "0", "end": "20", "step": "10s",
        })
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/api/v1/query_range?{q2}"
        ) as resp:
            body2 = json.loads(resp.read())
        (series2,) = body2["data"]["result"]
        # w0 (reach (-10s,10s]): 10->12 = 2 over 20s = 0.1/s
        # w1 (reach (0,20s]): +2, reset to 4, +5 = 11 over 20s = 0.55/s
        assert series2["values"] == [[10.0, "0.1"], [20.0, "0.55"]]

        # sort_by_label orders the matrix's series (Grafana legend
        # stability) — desc puts job=db before job=api
        db.write(db.spark.createDataFrame(
            [({"job": "db"}, 5_000, 1.0)],
            "labels map<string,string>, timestamp long, value double"))
        q3 = urllib.parse.urlencode({
            "query": 'sort_by_label_desc({job=~".+"}, "job")',
            "start": "0", "end": "20", "step": "10s",
        })
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/api/v1/query_range?{q3}"
        ) as resp:
            body3 = json.loads(resp.read())
        order = [s["metric"]["job"] for s in body3["data"]["result"]]
        assert order == ["db", "api"]
    finally:
        srv.shutdown()


def test_admin_tsdb_http_apis(spark, tmp_path):
    """POST /api/v1/admin/tsdb/delete_series (match[] + start/end) and
    /clean_tombstones (vacuum) — 204 on success, 400 with a clear
    error on a bad selector."""
    from monolith_spark.server import MonolithServer

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    db.write(spark.createDataFrame(
        [({"job": "api"}, 1_000, 1.0), ({"job": "api"}, 120_000, 2.0),
         ({"job": "db"}, 1_000, 3.0)],
        "labels map<string,string>, timestamp long, value double"))
    srv = MonolithServer(db, port=0)
    srv.serve_background()
    try:
        import urllib.parse

        q = urllib.parse.urlencode(
            [("match[]", '{job="api"}'), ("start", "0"), ("end", "60")])
        status, _ = _post(srv.port, f"/api/v1/admin/tsdb/delete_series?{q}", b"")
        assert status == 204
        left = {r["signature"]: [p["timestamp"] for p in r["points"]]
                for r in db.query({}, 0, 10**9).collect()}
        assert left == {"job=api": [120_000], "job=db": [1_000]}

        status, _ = _post(srv.port, "/api/v1/admin/tsdb/clean_tombstones", b"")
        assert status == 204

        q2 = urllib.parse.urlencode({"match[]": "rate({"})
        status, body = _post(
            srv.port, f"/api/v1/admin/tsdb/delete_series?{q2}", b"")
        assert status == 400 and b"error" in body
    finally:
        srv.shutdown()


def test_admin_build_label_index_and_status_freshness(spark, tmp_path):
    """POST /api/v1/admin/tsdb/build_label_index flips serving to the
    posting index with no restart; /api/v1/status/tsdb reports the
    index's presence/freshness/file count so operators see when a
    compaction-grade rebuild is due."""
    import json
    import urllib.request

    from monolith_spark.server import MonolithServer

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    db.write(spark.createDataFrame(
        [({"job": "api"}, 1_000, 1.0), ({"job": "db"}, 2_000, 2.0)],
        "labels map<string,string>, timestamp long, value double"))
    srv = MonolithServer(db, port=0)
    srv.serve_background()
    try:
        def status_idx():
            with urllib.request.urlopen(
                f"http://127.0.0.1:{srv.port}/api/v1/status/tsdb"
            ) as resp:
                return json.loads(resp.read())["data"]["labelIndex"]

        assert status_idx() == {
            "present": False, "fresh": False, "nBuckets": 0, "numFiles": 0}
        code, _ = _post(srv.port, "/api/v1/admin/tsdb/build_label_index", b"")
        assert code == 204
        st = status_idx()
        assert st["present"] and st["fresh"] and st["numFiles"] >= 1
        man = db._load_manifest()
        assert db._index_fresh(man)
        # PromQL over HTTP now resolves matchers through the postings
        import urllib.parse
        q = urllib.parse.urlencode(
            {"query": '{job="api"}', "time": "2"})
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/api/v1/query?{q}"
        ) as resp:
            body = json.loads(resp.read())
        assert body["status"] == "success"
        (r,) = body["data"]["result"]
        assert r["metric"] == {"job": "api"}
    finally:
        srv.shutdown()


def test_http_metadata_and_snapshot_admin(spark, tmp_path):
    """GET /api/v1/metadata serves the manifest-stored metric metadata
    in the Prometheus shape; POST /api/v1/admin/tsdb/snapshot exports
    a consistent snapshot and returns its name."""
    import json as _json
    import os
    import urllib.request

    from monolith_spark.server import MonolithServer

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    db.ingest_scrape("\n".join([
        "# HELP reqs Requests seen.",
        "# TYPE reqs counter",
        'reqs{job="api"} 5 1000',
    ]))
    srv = MonolithServer(db, port=0)
    srv.serve_background()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/api/v1/metadata"
        ) as r:
            body = _json.load(r)
        assert body["status"] == "success"
        assert body["data"]["reqs"] == [
            {"type": "counter", "help": "Requests seen.", "unit": ""}
        ]
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/api/v1/metadata?metric=absent"
        ) as r:
            assert _json.load(r)["data"] == {}

        status, body = _post(
            srv.port, "/api/v1/admin/tsdb/snapshot", b""
        )
        assert status == 200
        name = _json.loads(body)["data"]["name"]
        snap_path = str(tmp_path / "db" / "snapshots" / name)
        assert os.path.isdir(snap_path)
        snap = MonolithDB(spark, snap_path, chunk_size_ms=60_000)
        assert snap.query_flat({"__name__": "reqs"}, 0, 10**9).count() == 1
    finally:
        srv.shutdown()


def test_otlp_http_metrics_ingest(spark, tmp_path):
    """OTLP/HTTP metrics (POST /api/v1/otlp/v1/metrics, the Prometheus
    3.x receiver path): a hand-encoded ExportMetricsServiceRequest —
    gauge, monotonic sum, histogram, and an exponential histogram —
    lands through the normal write path with job/instance promotion,
    classic histogram expansion (base-2 boundaries from scale/offset
    for the exponential one, quantile-queryable), target_info for the
    leftover resource attributes, and inline metadata."""
    import gzip
    import json as _json
    import struct
    import urllib.request

    from monolith_spark.server import MonolithServer

    def vi(n):
        out = b""
        while True:
            b7, n = n & 0x7F, n >> 7
            out += bytes([b7 | (0x80 if n else 0)])
            if not n:
                return out

    def ld(fno, payload):
        return bytes([(fno << 3) | 2]) + vi(len(payload)) + payload

    def f64(fno, val):  # fixed64 double
        return bytes([(fno << 3) | 1]) + struct.pack("<d", val)

    def u64(fno, val):  # fixed64 unsigned
        return bytes([(fno << 3) | 1]) + struct.pack("<Q", val)

    def kv(key, val):
        return ld(1, key.encode()) + ld(2, ld(1, val.encode()))

    NS = 1_000_000  # ms → ns

    gauge_pt = (
        ld(7, kv("core", "0")) + u64(3, 5_000 * NS) + f64(4, 0.5)
    )
    gauge = ld(1, "cpu.usage".encode()) + ld(3, b"1") + ld(
        5, ld(1, gauge_pt))
    sum_pt = (
        u64(3, 6_000 * NS)
        + bytes([(6 << 3) | 1]) + struct.pack("<q", 7)  # as_int sfixed64
    )
    mono_sum = ld(1, "http.requests.total".encode()) + ld(
        7, ld(1, sum_pt) + bytes([(3 << 3) | 0, 1]))  # is_monotonic=true
    hist_pt = (
        u64(3, 7_000 * NS)
        + u64(4, 6)                      # count
        + f64(5, 4.2)                    # sum
        + ld(6, struct.pack("<QQQ", 1, 2, 3))   # bucket_counts packed
        + ld(7, struct.pack("<dd", 0.1, 1.0))   # explicit_bounds packed
    )
    hist = ld(1, "latency".encode()) + ld(9, ld(1, hist_pt))
    # exponential histogram (classic-expanded on ingest): scale 0
    # (base 2), one negative bucket idx 0 → le=-1, zero_count 1 →
    # le=0, positive offset -1 counts [2,3,1] → le 1/2/4
    expo_pt = (
        u64(3, 8_000 * NS)
        + u64(4, 8)                       # count
        + f64(5, 7.5)                     # sum
        + bytes([(6 << 3) | 0, 0])        # scale sint32 = 0
        + u64(7, 1)                       # zero_count
        + ld(8, bytes([(1 << 3) | 0, 1]) + ld(2, vi(2) + vi(3) + vi(1)))
        + ld(9, bytes([(1 << 3) | 0, 0]) + ld(2, vi(1)))
    )
    expo = ld(1, "resp.size".encode()) + ld(10, ld(1, expo_pt))

    resource = (
        ld(1, kv("service.name", "api"))
        + ld(1, kv("service.namespace", "prod"))
        + ld(1, kv("service.instance.id", "i-1"))
        + ld(1, kv("deployment.environment", "eu"))
    )
    scope_metrics = ld(2, gauge) + ld(2, mono_sum) + ld(2, hist) + ld(2, expo)
    wire = ld(1, ld(1, resource) + ld(2, scope_metrics))

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    srv = MonolithServer(db, port=0)
    srv.serve_background()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/api/v1/otlp/v1/metrics",
            data=gzip.compress(wire),
            headers={"Content-Type": "application/x-protobuf",
                     "Content-Encoding": "gzip"},
            method="POST",
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200
            assert resp.headers[
                "X-Otlp-Expanded-Exponential-Histograms"] == "1"

        def vals(matchers):
            return {
                (r["timestamp"], r["value"])
                for r in db.query_flat(matchers, 0, 10**9).collect()
            }

        base = {"job": "prod/api", "instance": "i-1"}
        assert vals({**base, "__name__": "cpu_usage", "core": "0"}) == {
            (5_000, 0.5)}
        assert vals({**base, "__name__": "http_requests_total"}) == {
            (6_000, 7.0)}
        # histogram expansion: cumulative le buckets + sum + count
        assert vals({**base, "__name__": "latency_bucket",
                     "le": "0.1"}) == {(7_000, 1.0)}
        assert vals({**base, "__name__": "latency_bucket",
                     "le": "1"}) == {(7_000, 3.0)}
        assert vals({**base, "__name__": "latency_bucket",
                     "le": "+Inf"}) == {(7_000, 6.0)}
        assert vals({**base, "__name__": "latency_sum"}) == {(7_000, 4.2)}
        assert vals({**base, "__name__": "latency_count"}) == {(7_000, 6.0)}
        # exponential → classic expansion: base-2 bounds from
        # scale/offset, negatives mirrored, zero bucket at its
        # threshold, cumulative counts
        for le, cum in [("-1", 1.0), ("0", 2.0), ("1", 4.0),
                        ("2", 7.0), ("4", 8.0), ("+Inf", 8.0)]:
            assert vals({**base, "__name__": "resp_size_bucket",
                         "le": le}) == {(8_000, cum)}, le
        assert vals({**base, "__name__": "resp_size_sum"}) == {(8_000, 7.5)}
        assert vals({**base, "__name__": "resp_size_count"}) == {(8_000, 8.0)}
        # histogram_quantile over the expansion matches the
        # hand-computed oracle: φ=0.9 → rank 7.2 lands in (2,4]
        # (lower cum 7, bucket count 1) → 2 + 2·0.2 = 2.4
        import math as _math

        from monolith_spark import promql as _promql

        samples = db.query_flat({}, 0, 10**9).select(
            "labels", "timestamp", "value")
        (qrow,) = _promql.eval_instant(
            samples,
            'histogram_quantile(0.9, {__name__="resp_size_bucket"})',
            8_000,
        ).collect()
        assert _math.isclose(qrow["value"], 2.4, rel_tol=1e-12)
        # leftover resource attrs → target_info at the newest point ts
        rows = db.query_flat(
            {**base, "__name__": "target_info"}, 0, 10**9).collect()
        (ti,) = rows
        assert dict(ti["labels"])["deployment_environment"] == "eu"
        assert (ti["timestamp"], ti["value"]) == (8_000, 1.0)

        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/api/v1/metadata"
        ) as r:
            got = _json.load(r)["data"]
        assert got["cpu_usage"][0]["type"] == "gauge"
        assert got["cpu_usage"][0]["unit"] == "1"
        assert got["http_requests_total"][0]["type"] == "counter"
        assert got["latency"][0]["type"] == "histogram"

        # OTLP/JSON is not spoken → 415
        req2 = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/api/v1/otlp/v1/metrics",
            data=b"{}", headers={"Content-Type": "application/json"},
            method="POST",
        )
        try:
            urllib.request.urlopen(req2)
            raise AssertionError("expected 415")
        except urllib.error.HTTPError as e:
            assert e.code == 415
    finally:
        srv.shutdown()


def test_streamed_xor_chunks_remote_read(spark, tmp_path):
    """The spec's second remote-read response type: a client sending
    accepted_response_types=[STREAMED_XOR_CHUNKS] gets back framed
    ChunkedReadResponse messages (uvarint length + crc32c + proto)
    with per-series XOR chunks, split at CHUNK_MAX_SAMPLES; a client
    not asking for it still gets the classic snappy ReadResponse."""
    from monolith_spark.server import MonolithServer

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    # two series; one long enough to need two chunks (125 > 120)
    rows = [({"j": "a"}, 1_000 + i * 100, float(i)) for i in range(125)]
    rows += [({"j": "b"}, 2_000, 42.0)]
    db.write(spark.createDataFrame(
        rows, "labels map<string,string>, timestamp long, value double"))
    srv = MonolithServer(db, port=0)
    srv.serve_background()
    try:
        rreq = proto.ReadRequest(
            queries=[proto.Query(
                start_timestamp_ms=0, end_timestamp_ms=100_000,
                matchers=[proto.LabelMatcher(proto.RE, "j", ".+")],
            )],
            accepted_response_types=[proto.RESP_STREAMED_XOR_CHUNKS],
        )
        conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=60)
        conn.request("POST", "/read",
                     body=proto.snappy_compress(proto.encode_read_request(rreq)))
        resp = conn.getresponse()
        body = resp.read()
        assert resp.status == 200
        assert resp.headers["Content-Type"] == proto.STREAMED_CONTENT_TYPE

        got: dict[str, list[tuple[int, float]]] = {}
        n_chunks: dict[str, int] = {}
        for msg in proto.chunked_read_frames(body):
            r = proto.decode_chunked_read_response(msg)
            assert r.query_index == 0
            (cs,) = r.chunked_series
            key = cs.labels["j"]
            for c in cs.chunks:
                assert c.type == proto.CHUNK_ENC_XOR
                pts = proto.decode_chunk_points(c.data)
                assert c.min_time_ms == pts[0][0]
                assert c.max_time_ms == pts[-1][0]
                assert len(pts) <= proto.CHUNK_MAX_SAMPLES
                got.setdefault(key, []).extend(pts)
                n_chunks[key] = n_chunks.get(key, 0) + 1
        assert got["a"] == [(1_000 + i * 100, float(i)) for i in range(125)]
        assert got["b"] == [(2_000, 42.0)]
        assert n_chunks == {"a": 2, "b": 1}

        # without the accepted type: the classic snappy+proto response
        conn.request("POST", "/read", body=proto.snappy_compress(
            proto.encode_read_request(proto.ReadRequest(queries=rreq.queries))))
        resp2 = conn.getresponse()
        raw2 = resp2.read()
        conn.close()
        assert resp2.status == 200
        results = proto.decode_read_response(
            proto.snappy_decompress(raw2)).results
        assert {ts.labels["j"] for ts in results[0]} == {"a", "b"}

        # a corrupted frame fails loudly
        bad = bytearray(body)
        bad[-1] ^= 0xFF
        with pytest.raises(ValueError):
            proto.chunked_read_frames(bytes(bad))
    finally:
        srv.shutdown()


def test_prw2_codec_roundtrip():
    """Remote-write 2.0 (io.prometheus.write.v2.Request): symbol
    interning roundtrips, packed AND unpacked labels_refs decode, and
    spec validation fails loudly (symbols[0] != "", odd ref pairs,
    out-of-range refs)."""
    import pytest as _pytest

    v1 = proto.WriteRequest(
        timeseries=[
            proto.TimeSeries(
                {"__name__": "reqs", "job": "api"},
                [proto.Sample(1.5, 1000), proto.Sample(2.5, 2000)],
            ),
            proto.TimeSeries(
                {"__name__": "reqs", "job": "web"}, [proto.Sample(9.0, 1000)]
            ),
        ]
    )
    meta = {"reqs": {"type": "counter", "help": "Requests.", "unit": ""}}
    v2 = proto.v1_to_v2(v1, meta)
    assert v2.symbols[0] == ""
    # interning: "reqs"/"__name__"/"job" appear ONCE in the table
    assert len(v2.symbols) == len(set(v2.symbols))

    wire = proto.encode_write_request_v2(v2)
    back = proto.decode_write_request_v2(wire)
    rt, meta_back = proto.v2_to_v1(back)
    assert [(ts.labels, [(s.timestamp, s.value) for s in ts.samples])
            for ts in rt.timeseries] == [
        ({"__name__": "reqs", "job": "api"}, [(1000, 1.5), (2000, 2.5)]),
        ({"__name__": "reqs", "job": "web"}, [(1000, 9.0)]),
    ]
    assert meta_back == {"reqs": {"type": "counter", "help": "Requests."}}

    # unpacked labels_refs (wt=0 repeats) must decode identically
    ts0 = back.timeseries[0]
    unpacked = b"".join(
        proto._tag(1, 0) + proto._write_varint(r) for r in ts0.labels_refs
    ) + proto._len_delim(2, proto._enc_sample(proto.Sample(1.5, 1000)))
    blob = b"".join(
        proto._len_delim(4, s.encode()) for s in back.symbols
    ) + proto._len_delim(5, unpacked)
    again = proto.decode_write_request_v2(blob)
    assert proto.v2_to_v1(again)[0].timeseries[0].labels == {
        "__name__": "reqs", "job": "api"
    }

    with _pytest.raises(ValueError, match="symbols"):
        proto.encode_write_request_v2(proto.WriteRequestV2(symbols=["x"]))
    bad = proto.WriteRequestV2(
        symbols=["", "a"], timeseries=[proto.TimeSeriesV2(labels_refs=[1])]
    )
    with _pytest.raises(ValueError, match="pairs"):
        proto.v2_to_v1(bad)
    bad2 = proto.WriteRequestV2(
        symbols=["", "a"], timeseries=[proto.TimeSeriesV2(labels_refs=[1, 9])]
    )
    with _pytest.raises(ValueError, match="out of range"):
        proto.v2_to_v1(bad2)


def test_prw2_spec_field_numbers_golden():
    """Decode a request encoded BY HAND with the real
    io.prometheus.write.v2.Request schema (histograms=3, exemplars=4,
    metadata=5, created_timestamp=6) — independent byte construction,
    so an encoder/decoder that share a wrong field number cannot pass
    by symmetry (ADVICE r7 high: exemplars were at 3, metadata at 4).
    The native histogram decodes (spans/deltas/schema) and classic-
    expands through v2_to_v1 against hand-computed buckets."""
    import struct

    def vi(n: int) -> bytes:  # protobuf varint
        out = b""
        while True:
            b7, n = n & 0x7F, n >> 7
            out += bytes([b7 | (0x80 if n else 0)])
            if not n:
                return out

    def ld(field_no: int, payload: bytes) -> bytes:  # len-delimited
        return bytes([(field_no << 3) | 2]) + vi(len(payload)) + payload

    symbols = ["", "__name__", "reqs", "trace_id", "abc", "Requests.",
               "job", "api"]
    sample = bytes([0x09]) + struct.pack("<d", 3.5) + bytes([0x10]) + vi(1000)

    def zz(n: int) -> int:  # zigzag encode
        return (n << 1) ^ (n >> 63)

    def span(off: int, ln: int) -> bytes:  # BucketSpan{offset=1,length=2}
        return bytes([0x08]) + vi(zz(off)) + bytes([0x10]) + vi(ln)

    # a REAL native histogram: schema 0 (base 2), zero bucket of 2 at
    # threshold 0.001, one negative bucket idx 0 (count 1), positive
    # spans [(1,2),(2,1)] with delta counts 3,-1,2 → abs 3,2,4 at
    # indices 1,2,5 (le 2, 4, 32); total count 12, sum 31.5, ts 2000
    histogram = (
        bytes([0x08]) + vi(12)                      # count_int, field 1
        + bytes([0x19]) + struct.pack("<d", 31.5)   # sum, field 3
        + bytes([0x20]) + vi(zz(0))                 # schema, field 4
        + bytes([0x29]) + struct.pack("<d", 0.001)  # zero_threshold, 5
        + bytes([0x30]) + vi(2)                     # zero_count_int, 6
        + ld(8, span(0, 1))                         # negative_spans
        + ld(9, vi(zz(1)))                          # negative_deltas
        + ld(11, span(1, 2)) + ld(11, span(2, 1))   # positive_spans
        + ld(12, vi(zz(3)) + vi(zz(-1)) + vi(zz(2)))  # positive_deltas
        + bytes([0x78]) + vi(2000)                  # timestamp, field 15
    )
    exemplar = (
        ld(1, vi(3) + vi(4))                       # labels_refs packed
        + bytes([0x11]) + struct.pack("<d", 2.0)   # value, field 2
        + bytes([0x18]) + vi(1500)                 # timestamp, field 3
    )
    metadata = (
        bytes([0x08]) + vi(1)    # type = 1 (counter)
        + bytes([0x18]) + vi(5)  # help_ref = 5 ("Requests.")
    )
    series = (
        ld(1, vi(1) + vi(2) + vi(6) + vi(7))  # labels_refs packed
        + ld(2, sample)
        + ld(3, histogram)          # field 3: native histogram
        + ld(4, exemplar)           # field 4: exemplars
        + ld(5, metadata)           # field 5: metadata
        + bytes([0x30]) + vi(900)   # field 6 created_timestamp: skipped
    )
    wire = b"".join(ld(4, s.encode()) for s in symbols) + ld(5, series)

    req = proto.decode_write_request_v2(wire)
    assert req.symbols == symbols
    (ts,) = req.timeseries
    assert [(s.timestamp, s.value) for s in ts.samples] == [(1000, 3.5)]
    (h,) = ts.histograms
    assert (h.count, h.sum, h.schema, h.zero_threshold, h.zero_count,
            h.timestamp) == (12.0, 31.5, 0, 0.001, 2.0, 2000)
    assert h.neg_spans == [(0, 1)] and h.neg_deltas == [1]
    assert h.pos_spans == [(1, 2), (2, 1)] and h.pos_deltas == [3, -1, 2]
    (ex,) = ts.exemplars
    assert ex.labels_refs == [3, 4] and ex.value == 2.0 and ex.timestamp == 1500
    assert ts.metadata is not None
    assert ts.metadata.type == 1 and ts.metadata.help_ref == 5

    v1, meta = proto.v2_to_v1(req)
    assert v1.timeseries[0].labels == {"__name__": "reqs", "job": "api"}
    assert v1.timeseries[0].exemplars[0].labels == {"trace_id": "abc"}
    assert meta == {"reqs": {"type": "counter", "help": "Requests."}}
    # classic expansion of the native histogram point: cumulative le
    # buckets (negatives → zero → positives) + sum + count at ts 2000
    assert v1.native_histogram_points == 1
    expanded = {
        (t.labels["__name__"], t.labels.get("le"),
         t.samples[0].timestamp, t.samples[0].value)
        for t in v1.timeseries[1:]
    }
    assert expanded == {
        ("reqs_bucket", "-0.5", 2000, 1.0),   # neg idx 0 → le -2^(-1)
        ("reqs_bucket", "0.001", 2000, 3.0),  # zero bucket at threshold
        ("reqs_bucket", "2", 2000, 6.0),      # pos idx 1 → le 2^1
        ("reqs_bucket", "4", 2000, 8.0),      # pos idx 2
        ("reqs_bucket", "32", 2000, 12.0),    # pos idx 5
        ("reqs_bucket", "+Inf", 2000, 12.0),
        ("reqs_sum", None, 2000, 31.5),
        ("reqs_count", None, 2000, 12.0),
    }
    assert all(t.labels["job"] == "api" for t in v1.timeseries[1:])

    # encoder golden: our own bytes for the same logical request must
    # equal the hand-built fixture minus the skipped fields (3 and 6)
    expected = b"".join(ld(4, s.encode()) for s in symbols) + ld(
        5,
        ld(1, vi(1) + vi(2) + vi(6) + vi(7))
        + ld(2, sample)
        + ld(4, exemplar)
        + ld(5, metadata),
    )
    assert proto.encode_write_request_v2(req) == expected


def test_http_write_v2_and_federate_metadata(spark, tmp_path):
    """PRW2 over HTTP: the content-type dispatches to the v2 decoder,
    samples land through the same write path, inline metadata reaches
    /api/v1/metadata, the spec's written-stats headers come back, and
    /federate prefixes each metric block with its # HELP/# TYPE."""
    import json as _json
    import urllib.parse
    import urllib.request

    from monolith_spark.server import MonolithServer

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    srv = MonolithServer(db, port=0)
    srv.serve_background()
    try:
        v1 = proto.WriteRequest(
            timeseries=[
                proto.TimeSeries({"__name__": "reqs", "job": "api"},
                                 [proto.Sample(3.0, 5_000)]),
            ]
        )
        v2 = proto.v1_to_v2(
            v1, {"reqs": {"type": "counter", "help": "Requests seen."}}
        )
        body = proto.snappy_compress(proto.encode_write_request_v2(v2))
        conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=60)
        conn.request(
            "POST", "/write", body=body,
            headers={"Content-Type": proto.V2_CONTENT_TYPE,
                     "X-Prometheus-Remote-Write-Version": "2.0.0"},
        )
        resp = conn.getresponse()
        resp.read()
        # remote-write 2.0 spec: success is 204 No Content
        assert resp.status == 204
        assert resp.headers["X-Prometheus-Remote-Write-Samples-Written"] == "1"
        conn.close()

        assert db.query_flat({"__name__": "reqs"}, 0, 10**9).count() == 1
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/api/v1/metadata"
        ) as r:
            got = _json.load(r)["data"]
        assert got["reqs"][0]["type"] == "counter"

        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/federate?match[]="
            + urllib.parse.quote('{__name__="reqs"}')
            + "&time=10"
        ) as r:
            text = r.read().decode()
        assert text.startswith(
            "# HELP reqs Requests seen.\n# TYPE reqs counter\n"
        )
        assert 'reqs{job="api"} 3.0 5000\n' in text
    finally:
        srv.shutdown()


def test_http_write_v2_native_histogram(spark, tmp_path):
    """A PRW2 payload carrying ONLY a native histogram lands as its
    classic `_bucket`/`_sum`/`_count` expansion through the normal
    write path, and the -Written headers count honestly: Samples from
    rows the engine ingested (the expansion), Histograms from the
    native points expanded."""
    from monolith_spark.server import MonolithServer

    def vi(n: int) -> bytes:
        out = b""
        while True:
            b7, n = n & 0x7F, n >> 7
            out += bytes([b7 | (0x80 if n else 0)])
            if not n:
                return out

    def ld(fno: int, payload: bytes) -> bytes:
        return bytes([(fno << 3) | 2]) + vi(len(payload)) + payload

    import struct as _struct

    symbols = ["", "__name__", "hist", "job", "api"]
    histogram = (
        bytes([0x08]) + vi(2)                      # count_int = 2
        + bytes([0x19]) + _struct.pack("<d", 3.0)  # sum
        + bytes([0x20]) + vi(0)                    # schema 0
        + ld(11, bytes([0x08]) + vi(2) + bytes([0x10]) + vi(1))  # span(1,1)
        + ld(12, vi(4))                            # delta zz(2)=4 → count 2
        + bytes([0x78]) + vi(5_000)                # timestamp
    )
    series = ld(1, vi(1) + vi(2) + vi(3) + vi(4)) + ld(3, histogram)
    wire = b"".join(ld(4, s.encode()) for s in symbols) + ld(5, series)

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    srv = MonolithServer(db, port=0)
    srv.serve_background()
    try:
        conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=60)
        conn.request(
            "POST", "/write", body=proto.snappy_compress(wire),
            headers={"Content-Type": proto.V2_CONTENT_TYPE,
                     "X-Prometheus-Remote-Write-Version": "2.0.0"},
        )
        resp = conn.getresponse()
        resp.read()
        assert resp.status == 204
        # expansion = le=2, +Inf, _sum, _count → 4 ingested rows
        assert resp.headers["X-Prometheus-Remote-Write-Samples-Written"] == "4"
        assert resp.headers[
            "X-Prometheus-Remote-Write-Histograms-Written"] == "1"
        conn.close()

        got = {
            (dict(r["labels"])["__name__"],
             dict(r["labels"]).get("le"), r["timestamp"], r["value"])
            for r in db.query_flat({"job": "api"}, 0, 10**9).collect()
        }
        assert got == {
            ("hist_bucket", "2", 5_000, 2.0),
            ("hist_bucket", "+Inf", 5_000, 2.0),
            ("hist_sum", None, 5_000, 3.0),
            ("hist_count", None, 5_000, 2.0),
        }
    finally:
        srv.shutdown()


def test_exemplars_end_to_end(spark, tmp_path):
    """Exemplars through the whole surface: PRW1 and PRW2 payloads
    carry them, the engine stores them on the samples' chunk grid
    (one manifest commit), GET /api/v1/query_exemplars serves the
    Prometheus shape, vacuum keeps them live, snapshots carry them."""
    import json as _json
    import urllib.parse
    import urllib.request

    from monolith_spark.server import MonolithServer

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    srv = MonolithServer(db, port=0)
    srv.serve_background()
    try:
        ts = proto.TimeSeries(
            {"__name__": "lat", "job": "api"},
            [proto.Sample(0.9, 1_000), proto.Sample(1.9, 61_000)],
            [proto.Exemplar({"trace_id": "abc"}, 0.93, 1_500)],
        )
        # v1 write with exemplars
        status, _ = _post(
            srv.port, "/write",
            proto.snappy_compress(
                proto.encode_write_request(proto.WriteRequest([ts]))
            ),
        )
        assert status == 200
        # v2 write with a second exemplar (interned labels roundtrip)
        ts2 = proto.TimeSeries(
            {"__name__": "lat", "job": "api"},
            [],
            [proto.Exemplar({"trace_id": "def", "span": "s1"}, 1.91, 61_500)],
        )
        v2 = proto.v1_to_v2(proto.WriteRequest([ts2]))
        conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=60)
        conn.request(
            "POST", "/write",
            body=proto.snappy_compress(proto.encode_write_request_v2(v2)),
            headers={"Content-Type": proto.V2_CONTENT_TYPE},
        )
        resp = conn.getresponse()
        resp.read()
        assert resp.status == 204  # PRW2 success is No Content
        assert resp.headers[
            "X-Prometheus-Remote-Write-Exemplars-Written"] == "1"
        conn.close()

        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/api/v1/query_exemplars?query="
            + urllib.parse.quote('lat{job="api"}') + "&start=0&end=100"
        ) as r:
            got = _json.load(r)["data"]
        assert got == [{
            "seriesLabels": {"__name__": "lat", "job": "api"},
            "exemplars": [
                {"labels": {"trace_id": "abc"}, "value": "0.93",
                 "timestamp": 1.5},
                {"labels": {"span": "s1", "trace_id": "def"},
                 "value": "1.91", "timestamp": 61.5},
            ],
        }]
        # time pruning: only the second chunk's exemplar
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/api/v1/query_exemplars?query="
            + urllib.parse.quote('lat{job="api"}') + "&start=60&end=100"
        ) as r:
            got = _json.load(r)["data"]
        assert [e["labels"]["trace_id"]
                for e in got[0]["exemplars"]] == ["def"]

        # vacuum keeps live exemplar files; snapshot carries them
        assert db.vacuum(grace_ms=0) == 0 or db.exemplars().count() == 2
        name = db.snapshot()
        snap = MonolithDB(
            spark, str(tmp_path / "db" / "snapshots" / name),
            chunk_size_ms=60_000,
        )
        assert snap.exemplars().count() == 2
    finally:
        srv.shutdown()


def test_exemplar_codec_roundtrip():
    """PRW1 and PRW2 exemplar wire roundtrips, including v1↔v2
    conversion (labels interned into the request symbol table)."""
    ts = proto.TimeSeries(
        {"__name__": "m"},
        [proto.Sample(1.0, 10)],
        [proto.Exemplar({"trace_id": "t1"}, 2.5, 11),
         proto.Exemplar({}, -3.5, 12)],
    )
    wire = proto.encode_write_request(proto.WriteRequest([ts]))
    back = proto.decode_write_request(wire).timeseries[0]
    assert [(e.labels, e.value, e.timestamp) for e in back.exemplars] == [
        ({"trace_id": "t1"}, 2.5, 11), ({}, -3.5, 12)]

    v2 = proto.v1_to_v2(proto.WriteRequest([ts]))
    rt, _ = proto.v2_to_v1(
        proto.decode_write_request_v2(proto.encode_write_request_v2(v2))
    )
    assert [(e.labels, e.value, e.timestamp)
            for e in rt.timeseries[0].exemplars] == [
        ({"trace_id": "t1"}, 2.5, 11), ({}, -3.5, 12)]


def test_http_parse_query(spark, tmp_path):
    """GET /api/v1/parse_query returns the documented AST JSON."""
    import json as _json
    import urllib.parse
    import urllib.request

    from monolith_spark.server import MonolithServer

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    srv = MonolithServer(db, port=0)
    srv.serve_background()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/api/v1/parse_query?query="
            + urllib.parse.quote('sum by (job) (rate(m[5m]))')
        ) as r:
            d = _json.load(r)["data"]
        assert d["kind"] == "aggregation" and d["by"] == ["job"]
        assert d["expr"]["args"][0]["range_ms"] == 300_000
        # a parse error comes back as a 400 error envelope
        import urllib.error
        try:
            urllib.request.urlopen(
                f"http://127.0.0.1:{srv.port}/api/v1/parse_query?query="
                + urllib.parse.quote("m[5m] extra")
            )
            assert False, "expected HTTP 400"
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.shutdown()


def test_runtimeinfo_and_content_negotiation(spark, tmp_path):
    """/api/v1/status/runtimeinfo completes Grafana's status-probe
    trio; an unsupported remote-write proto= content type gets 415
    per the remote-write spec (never mis-decoded as v1)."""
    import json as _json
    import urllib.request

    from monolith_spark.server import MonolithServer

    db = MonolithDB(spark, str(tmp_path / "db"), chunk_size_ms=60_000)
    srv = MonolithServer(db, port=0)
    srv.serve_background()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/api/v1/status/runtimeinfo"
        ) as r:
            d = _json.load(r)["data"]
        assert d["CWD"] == db.path and d["reloadConfigSuccess"] is True
        assert d["startTime"].endswith("Z")

        conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=60)
        conn.request(
            "POST", "/write", body=b"",
            headers={"Content-Type":
                     "application/x-protobuf;proto=io.prometheus.write.v3.Request"},
        )
        resp = conn.getresponse()
        resp.read()
        assert resp.status == 415
        conn.close()

        # explicit v1 proto= still works
        wr = proto.WriteRequest([proto.TimeSeries({"a": "b"},
                                                  [proto.Sample(1.0, 5)])])
        conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=60)
        conn.request(
            "POST", "/write",
            body=proto.snappy_compress(proto.encode_write_request(wr)),
            headers={"Content-Type":
                     "application/x-protobuf;proto=prometheus.WriteRequest"},
        )
        resp = conn.getresponse()
        resp.read()
        assert resp.status == 200
        conn.close()
        assert db.query_flat({"a": "b"}, 0, 10**9).count() == 1
    finally:
        srv.shutdown()
