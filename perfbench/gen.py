"""Seeded input generator and exact answers for the serving benchmark.

Everything the benchmark sends the server, and every answer it checks
against, comes from here and from ``--seed`` alone.

The series set is a Prometheus-like counter family
``http_requests_total{job, instance, code, path}``: 2 jobs x 5
instances x 5 codes x 5 paths = 250 series.  Series ``i`` is scraped
every 15 s and its value at scrape ``j`` is ``base[i] + inc[i] * j``,
with small integer ``inc`` and large integer ``base``, so every stored
value is an exact integer in float64 and reads back exactly.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

SCRAPE_MS = 15_000
METRIC = "http_requests_total"
JOBS = ("api", "search")
CODES = ("200", "201", "400", "404", "500")
PATHS = ("/v1/items", "/v1/users", "/v1/orders", "/v2/items", "/v2/search")
N_INSTANCES = 5
# time of scrape 0: a multiple of the engine's default chunk width
# (12 000 s), so the writes fill whole chunks from their first sample on
T0_MS = 1_699_992_000_000


@dataclass
class SeriesSet:
    labels: list[dict[str, str]]
    base: list[int]
    inc: list[int]

    def value(self, i: int, j: int) -> float:
        """Value of series ``i`` at scrape index ``j`` (time T0 + 15 s * j)."""
        return float(self.base[i] + self.inc[i] * j)


def series_set(seed: int) -> SeriesSet:
    rng = random.Random(seed)
    labels, base, inc = [], [], []
    for job in JOBS:
        for n in range(N_INSTANCES):
            for code in CODES:
                for path in PATHS:
                    labels.append({
                        "__name__": METRIC, "job": job,
                        "instance": f"host-{n:02d}:9100",
                        "code": code, "path": path,
                    })
                    base.append(rng.randrange(10_000, 1_000_000))
                    inc.append(rng.randrange(1, 21))
    return SeriesSet(labels, base, inc)


# ------------------------------------------------------------ remote-write


SCRAPES_PER_WRITE = 4  # 250 series x 4 scrapes = 1000 samples per request


def write_request_body(ss: SeriesSet, n: int) -> bytes:
    """Snappy remote-write 1.0 body number ``n``: every series at scrapes
    n*SCRAPES_PER_WRITE .. (n+1)*SCRAPES_PER_WRITE-1."""
    from monolith_spark.sources import remote as proto

    js = range(n * SCRAPES_PER_WRITE, (n + 1) * SCRAPES_PER_WRITE)
    req = proto.WriteRequest(timeseries=[
        proto.TimeSeries(
            labels=lab,
            samples=[proto.Sample(value=ss.value(i, j), timestamp=T0_MS + j * SCRAPE_MS)
                     for j in js],
        )
        for i, lab in enumerate(ss.labels)
    ])
    return proto.snappy_compress(proto.encode_write_request(req))


def read_request_body(matchers: dict[str, str], start_ms: int, end_ms: int) -> bytes:
    from monolith_spark.sources import remote as proto

    req = proto.ReadRequest(queries=[proto.Query(
        start_timestamp_ms=start_ms, end_timestamp_ms=end_ms,
        matchers=[proto.LabelMatcher(name=k, value=v) for k, v in matchers.items()],
    )])
    return proto.snappy_compress(proto.encode_read_request(req))


def decode_read_body(body: bytes) -> dict[tuple, list[tuple[int, float]]]:
    """Remote-read response → {sorted label items: [(ts, value), ...]}."""
    from monolith_spark.sources import remote as proto

    resp = proto.decode_read_response(proto.snappy_decompress(body))
    out: dict[tuple, list[tuple[int, float]]] = {}
    for result in resp.results:
        for ts in result:
            out[tuple(sorted(ts.labels.items()))] = [
                (s.timestamp, s.value) for s in ts.samples
            ]
    return out
