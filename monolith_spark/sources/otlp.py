"""OTLP/HTTP metrics receiver — the OpenTelemetry ingestion path.

Prometheus 3.x accepts OTLP metrics at POST /api/v1/otlp/v1/metrics;
this module implements the same surface for this engine, hand-rolled
from the PUBLIC opentelemetry-proto schema
(opentelemetry/proto/collector/metrics/v1/metrics_service.proto and
opentelemetry/proto/metrics/v1/metrics.proto) on top of the protobuf
primitives in sources/remote.py. Decode-only: the engine is a
receiver; SDK exporters are the senders.

Mapping to the engine's sample model follows the Prometheus OTLP
receiver conventions (documented simplifications noted inline):

- metric names and attribute keys sanitized to the Prometheus charset
  (invalid chars → '_');
- Gauge and Sum data points → one sample per point under the metric
  name; Sum's aggregation temporality is NOT converted (cumulative
  expected — the Prometheus receiver rejects delta by default; here
  delta points are ingested as-is and flagged in the return);
- Histogram → classic series expansion: `<name>_bucket` with
  cumulative `le` labels per explicit bound plus `+Inf`,
  `<name>_sum`, `<name>_count`;
- Summary → `<name>{quantile="φ"}` per quantile plus `_sum`/`_count`;
- ExponentialHistogram → the SAME classic expansion, with bucket
  boundaries derived from scale/offset (base-2: index idx at scale s
  covers (2^(idx·2^-s), 2^((idx+1)·2^-s)]; negative buckets mirror,
  the zero bucket's le is its threshold) — a Prometheus 3.x sender
  using native histograms keeps its data, quantile-queryable via the
  classic histogram_quantile path (counted in the return as
  expanded_exponential);
- resource attributes: service.name (+ optional service.namespace)
  promote to `job` ("namespace/name"), service.instance.id to
  `instance`; every remaining resource attribute lands on a
  `target_info` gauge sample (value 1, stamped at the resource's
  newest point timestamp) — the receiver convention that keeps
  per-series label sets small while preserving resource identity;
- timestamps are ns on the wire → floor-divided to the engine's ms.
"""

from __future__ import annotations

import re
import struct
from dataclasses import dataclass, field

from monolith_spark.sources.remote import (
    Sample,
    TimeSeries,
    WriteRequest,
    _iter_fields,
    _signed64,
)

OTLP_PATH = "/api/v1/otlp/v1/metrics"
OTLP_CONTENT_TYPE = "application/x-protobuf"

_NAME_RE = re.compile(r"[^a-zA-Z0-9_:]")
_LABEL_RE = re.compile(r"[^a-zA-Z0-9_]")


def sanitize_metric_name(name: str) -> str:
    out = _NAME_RE.sub("_", name)
    if not out or out[0].isdigit():
        out = "_" + out
    return out


def sanitize_label_name(name: str) -> str:
    out = _LABEL_RE.sub("_", name)
    if not out or out[0].isdigit():
        out = "_" + out
    return out


# ----------------------------------------------------------- proto decode

def _dec_any_value(data: bytes) -> str:
    """AnyValue → string form (labels are strings in this model):
    string_value=1, bool_value=2, int_value=3, double_value=4;
    array/kvlist/bytes (5/6/7) stringify to a stable literal."""
    for f, wt, v in _iter_fields(data):
        if f == 1 and wt == 2:
            return v.decode("utf-8", "replace")
        if f == 2 and wt == 0:
            return "true" if v else "false"
        if f == 3 and wt == 0:
            return str(_signed64(v))
        if f == 4 and wt == 1:
            return repr(struct.unpack("<d", v)[0])
        if f in (5, 6, 7):
            return "<composite>"
    return ""


def _dec_attributes(items: list[bytes]) -> dict[str, str]:
    out: dict[str, str] = {}
    for kv in items:
        key = ""
        val = ""
        for f, wt, v in _iter_fields(kv):
            if f == 1 and wt == 2:
                key = v.decode("utf-8", "replace")
            elif f == 2 and wt == 2:
                val = _dec_any_value(v)
        if key:
            out[key] = val
    return out


@dataclass
class NumberPoint:
    attributes: dict[str, str] = field(default_factory=dict)
    time_ms: int = 0
    value: float = 0.0


@dataclass
class HistogramPoint:
    attributes: dict[str, str] = field(default_factory=dict)
    time_ms: int = 0
    count: int = 0
    sum: float | None = None
    bucket_counts: list[int] = field(default_factory=list)
    explicit_bounds: list[float] = field(default_factory=list)


@dataclass
class ExponentialHistogramPoint:
    attributes: dict[str, str] = field(default_factory=dict)
    time_ms: int = 0
    count: int = 0
    sum: float | None = None
    scale: int = 0
    zero_count: int = 0
    zero_threshold: float = 0.0
    pos_offset: int = 0
    pos_counts: list[int] = field(default_factory=list)
    neg_offset: int = 0
    neg_counts: list[int] = field(default_factory=list)


@dataclass
class SummaryPoint:
    attributes: dict[str, str] = field(default_factory=dict)
    time_ms: int = 0
    count: int = 0
    sum: float = 0.0
    quantiles: list[tuple[float, float]] = field(default_factory=list)


def _dec_number_point(data: bytes) -> NumberPoint:
    p = NumberPoint()
    for f, wt, v in _iter_fields(data):
        if f == 7 and wt == 2:
            p.attributes.update(_dec_attributes([v]))
        elif f == 3 and wt == 1:  # time_unix_nano, fixed64
            p.time_ms = int.from_bytes(v, "little") // 1_000_000
        elif f == 4 and wt == 1:  # as_double
            p.value = struct.unpack("<d", v)[0]
        elif f == 6 and wt == 1:  # as_int, sfixed64
            p.value = float(struct.unpack("<q", v)[0])
    return p


def _dec_packed_fixed64(wt: int, v) -> list[int]:
    if wt == 1:
        return [int.from_bytes(v, "little")]
    return [
        int.from_bytes(v[i: i + 8], "little") for i in range(0, len(v), 8)
    ]


def _dec_packed_double(wt: int, v) -> list[float]:
    if wt == 1:
        return [struct.unpack("<d", v)[0]]
    return [
        struct.unpack("<d", v[i: i + 8])[0] for i in range(0, len(v), 8)
    ]


def _dec_histogram_point(data: bytes) -> HistogramPoint:
    p = HistogramPoint()
    for f, wt, v in _iter_fields(data):
        if f == 9 and wt == 2:
            p.attributes.update(_dec_attributes([v]))
        elif f == 3 and wt == 1:
            p.time_ms = int.from_bytes(v, "little") // 1_000_000
        elif f == 4 and wt == 1:
            p.count = int.from_bytes(v, "little")
        elif f == 5 and wt == 1:
            p.sum = struct.unpack("<d", v)[0]
        elif f == 6:
            p.bucket_counts.extend(_dec_packed_fixed64(wt, v))
        elif f == 7:
            p.explicit_bounds.extend(_dec_packed_double(wt, v))
    return p


def _zigzag(v: int) -> int:
    """Protobuf sint32/sint64 zigzag decode (scale and bucket offsets
    are sint32 on the wire, unlike the two's-complement int64 fields
    _signed64 handles)."""
    return (v >> 1) ^ -(v & 1)


def _dec_packed_varints(wt: int, v) -> list[int]:
    """repeated uint64 — packed (wt 2, proto3 default) or singular
    (wt 0)."""
    if wt == 0:
        return [int(v)]
    out: list[int] = []
    i, n = 0, len(v)
    while i < n:
        x = shift = 0
        while True:
            b = v[i]
            i += 1
            x |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        out.append(x)
    return out


def _dec_exp_buckets(data: bytes) -> tuple[int, list[int]]:
    """ExponentialHistogramDataPoint.Buckets{offset=1 sint32,
    bucket_counts=2 repeated uint64}."""
    offset = 0
    counts: list[int] = []
    for f, wt, v in _iter_fields(data):
        if f == 1 and wt == 0:
            offset = _zigzag(v)
        elif f == 2:
            counts.extend(_dec_packed_varints(wt, v))
    return offset, counts


def _dec_exponential_point(data: bytes) -> ExponentialHistogramPoint:
    p = ExponentialHistogramPoint()
    for f, wt, v in _iter_fields(data):
        if f == 1 and wt == 2:
            p.attributes.update(_dec_attributes([v]))
        elif f == 3 and wt == 1:
            p.time_ms = int.from_bytes(v, "little") // 1_000_000
        elif f == 4 and wt == 1:
            p.count = int.from_bytes(v, "little")
        elif f == 5 and wt == 1:
            p.sum = struct.unpack("<d", v)[0]
        elif f == 6 and wt == 0:  # scale, sint32
            p.scale = _zigzag(v)
        elif f == 7 and wt == 1:  # zero_count, fixed64
            p.zero_count = int.from_bytes(v, "little")
        elif f == 8 and wt == 2:
            p.pos_offset, p.pos_counts = _dec_exp_buckets(v)
        elif f == 9 and wt == 2:
            p.neg_offset, p.neg_counts = _dec_exp_buckets(v)
        elif f == 14 and wt == 1:
            p.zero_threshold = struct.unpack("<d", v)[0]
    return p


def _dec_summary_point(data: bytes) -> SummaryPoint:
    p = SummaryPoint()
    for f, wt, v in _iter_fields(data):
        if f == 7 and wt == 2:
            p.attributes.update(_dec_attributes([v]))
        elif f == 3 and wt == 1:
            p.time_ms = int.from_bytes(v, "little") // 1_000_000
        elif f == 4 and wt == 1:
            p.count = int.from_bytes(v, "little")
        elif f == 5 and wt == 1:
            p.sum = struct.unpack("<d", v)[0]
        elif f == 6 and wt == 2:
            q = val = 0.0
            for f2, wt2, v2 in _iter_fields(v):
                if f2 == 1 and wt2 == 1:
                    q = struct.unpack("<d", v2)[0]
                elif f2 == 2 and wt2 == 1:
                    val = struct.unpack("<d", v2)[0]
            p.quantiles.append((q, val))
    return p


@dataclass
class OtlpMetric:
    name: str = ""
    unit: str = ""
    description: str = ""
    kind: str = ""  # gauge | sum | histogram | summary | exponential
    monotonic: bool = False
    number_points: list[NumberPoint] = field(default_factory=list)
    histogram_points: list[HistogramPoint] = field(default_factory=list)
    summary_points: list[SummaryPoint] = field(default_factory=list)
    exponential_points: list[ExponentialHistogramPoint] = field(
        default_factory=list)


def _dec_metric(data: bytes) -> OtlpMetric:
    m = OtlpMetric()
    for f, wt, v in _iter_fields(data):
        if f == 1 and wt == 2:
            m.name = v.decode("utf-8", "replace")
        elif f == 2 and wt == 2:
            m.description = v.decode("utf-8", "replace")
        elif f == 3 and wt == 2:
            m.unit = v.decode("utf-8", "replace")
        elif f == 5 and wt == 2:  # Gauge
            m.kind = "gauge"
            for f2, wt2, v2 in _iter_fields(v):
                if f2 == 1 and wt2 == 2:
                    m.number_points.append(_dec_number_point(v2))
        elif f == 7 and wt == 2:  # Sum
            m.kind = "sum"
            for f2, wt2, v2 in _iter_fields(v):
                if f2 == 1 and wt2 == 2:
                    m.number_points.append(_dec_number_point(v2))
                elif f2 == 3 and wt2 == 0:
                    m.monotonic = bool(v2)
        elif f == 9 and wt == 2:  # Histogram
            m.kind = "histogram"
            for f2, wt2, v2 in _iter_fields(v):
                if f2 == 1 and wt2 == 2:
                    m.histogram_points.append(_dec_histogram_point(v2))
        elif f == 10 and wt == 2:  # ExponentialHistogram
            m.kind = "exponential"
            for f2, wt2, v2 in _iter_fields(v):
                if f2 == 1 and wt2 == 2:
                    m.exponential_points.append(_dec_exponential_point(v2))
        elif f == 11 and wt == 2:  # Summary
            m.kind = "summary"
            for f2, wt2, v2 in _iter_fields(v):
                if f2 == 1 and wt2 == 2:
                    m.summary_points.append(_dec_summary_point(v2))
    return m


@dataclass
class ResourceBlock:
    attributes: dict[str, str] = field(default_factory=dict)
    metrics: list[OtlpMetric] = field(default_factory=list)


def decode_export_metrics_request(data: bytes) -> list[ResourceBlock]:
    """ExportMetricsServiceRequest{resource_metrics=1} →
    ResourceMetrics{resource=1{attributes=1}, scope_metrics=2{metrics=2}}."""
    out: list[ResourceBlock] = []
    for f, wt, v in _iter_fields(data):
        if f != 1 or wt != 2:
            continue
        rb = ResourceBlock()
        for f2, wt2, v2 in _iter_fields(v):
            if f2 == 1 and wt2 == 2:  # Resource
                kvs = [
                    v3 for f3, wt3, v3 in _iter_fields(v2)
                    if f3 == 1 and wt3 == 2
                ]
                rb.attributes.update(_dec_attributes(kvs))
            elif f2 == 2 and wt2 == 2:  # ScopeMetrics
                for f3, wt3, v3 in _iter_fields(v2):
                    if f3 == 2 and wt3 == 2:
                        rb.metrics.append(_dec_metric(v3))
        out.append(rb)
    return out


# --------------------------------------------------------------- mapping

def _fmt(v: float) -> str:
    """Label value for le/quantile, Prometheus style: integral bounds
    print without a trailing .0."""
    return str(int(v)) if float(v).is_integer() else repr(v)


def otlp_to_write_request(
    data: bytes,
) -> tuple[WriteRequest, dict[str, dict], dict[str, int]]:
    """Decode an OTLP export and map it to the v1 WriteRequest shape
    (so the server's request_batch path ingests it), plus the
    metric metadata {name: {type, help, unit}} and ingest stats
    {points, expanded_exponential}."""
    blocks = decode_export_metrics_request(data)
    series: dict[tuple, TimeSeries] = {}
    meta: dict[str, dict] = {}
    stats = {"points": 0, "expanded_exponential": 0}

    def emit(labels: dict[str, str], ts_ms: int, value: float) -> None:
        key = tuple(sorted(labels.items()))
        ts = series.get(key)
        if ts is None:
            ts = series[key] = TimeSeries(labels=dict(labels))
        ts.samples.append(Sample(value=float(value), timestamp=ts_ms))
        stats["points"] += 1

    for rb in blocks:
        attrs = rb.attributes
        base: dict[str, str] = {}
        svc = attrs.get("service.name")
        if svc:
            ns = attrs.get("service.namespace")
            base["job"] = f"{ns}/{svc}" if ns else svc
        inst = attrs.get("service.instance.id")
        if inst:
            base["instance"] = inst
        promoted = {"service.name", "service.namespace",
                    "service.instance.id"}
        extra = {
            sanitize_label_name(k): v
            for k, v in attrs.items()
            if k not in promoted
        }
        newest = 0

        def labels_of(point_attrs: dict[str, str],
                      name: str, **more: str) -> dict[str, str]:
            out = dict(base)
            for k, v in point_attrs.items():
                out[sanitize_label_name(k)] = v
            out.update(more)
            out["__name__"] = name
            return out

        for m in rb.metrics:
            name = sanitize_metric_name(m.name)
            if m.kind == "exponential":
                # classic expansion of base-2 exponential buckets: an
                # index idx at scale s covers (2^(idx·2^-s),
                # 2^((idx+1)·2^-s)], so its classic `le` upper bound
                # is 2^((idx+1)·2^-s); negative buckets mirror to
                # -2^(idx·2^-s) (ascending = descending idx) and the
                # zero bucket's bound is its threshold. Cumulative
                # counts run negatives → zero → positives, exactly the
                # classic-receiver convention, so histogram_quantile
                # works unchanged over the result.
                meta[name] = {"type": "histogram", "help": m.description,
                              "unit": m.unit}
                for ep in m.exponential_points:
                    stats["expanded_exponential"] += 1
                    inv = 2.0 ** -ep.scale
                    bounds: list[tuple[float, int]] = []
                    for j in range(len(ep.neg_counts) - 1, -1, -1):
                        idx = ep.neg_offset + j
                        bounds.append(
                            (-(2.0 ** (idx * inv)), ep.neg_counts[j]))
                    if ep.zero_count:
                        bounds.append((ep.zero_threshold, ep.zero_count))
                    for j, c in enumerate(ep.pos_counts):
                        idx = ep.pos_offset + j
                        bounds.append((2.0 ** ((idx + 1) * inv), c))
                    cum = 0
                    for bound, c in bounds:
                        cum += c
                        emit(labels_of(ep.attributes, name + "_bucket",
                                       le=_fmt(bound)), ep.time_ms, cum)
                    emit(labels_of(ep.attributes, name + "_bucket",
                                   le="+Inf"), ep.time_ms, ep.count)
                    if ep.sum is not None:
                        emit(labels_of(ep.attributes, name + "_sum"),
                             ep.time_ms, ep.sum)
                    emit(labels_of(ep.attributes, name + "_count"),
                         ep.time_ms, ep.count)
                    newest = max(newest, ep.time_ms)
                continue
            if m.kind in ("gauge", "sum"):
                mtype = (
                    "counter" if m.kind == "sum" and m.monotonic else "gauge"
                )
                meta[name] = {"type": mtype, "help": m.description,
                              "unit": m.unit}
                for p in m.number_points:
                    emit(labels_of(p.attributes, name), p.time_ms, p.value)
                    newest = max(newest, p.time_ms)
            elif m.kind == "histogram":
                meta[name] = {"type": "histogram", "help": m.description,
                              "unit": m.unit}
                for hp in m.histogram_points:
                    cum = 0
                    for i, bound in enumerate(hp.explicit_bounds):
                        cum += hp.bucket_counts[i] if i < len(
                            hp.bucket_counts) else 0
                        emit(labels_of(hp.attributes, name + "_bucket",
                                       le=_fmt(bound)), hp.time_ms, cum)
                    emit(labels_of(hp.attributes, name + "_bucket",
                                   le="+Inf"), hp.time_ms, hp.count)
                    if hp.sum is not None:
                        emit(labels_of(hp.attributes, name + "_sum"),
                             hp.time_ms, hp.sum)
                    emit(labels_of(hp.attributes, name + "_count"),
                         hp.time_ms, hp.count)
                    newest = max(newest, hp.time_ms)
            elif m.kind == "summary":
                meta[name] = {"type": "summary", "help": m.description,
                              "unit": m.unit}
                for sp in m.summary_points:
                    for q, val in sp.quantiles:
                        emit(labels_of(sp.attributes, name,
                                       quantile=_fmt(q)), sp.time_ms, val)
                    emit(labels_of(sp.attributes, name + "_sum"),
                         sp.time_ms, sp.sum)
                    emit(labels_of(sp.attributes, name + "_count"),
                         sp.time_ms, sp.count)
                    newest = max(newest, sp.time_ms)
        if extra and newest:
            # resource identity preserved off the per-series label
            # sets — the target_info convention
            emit({**base, **extra, "__name__": "target_info"}, newest, 1.0)
    return WriteRequest(timeseries=list(series.values())), meta, stats
