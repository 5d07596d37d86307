"""Time-series plan builders — the reference's query dataflow as
DataFrame transformations.

Each function is a pure plan builder (no actions); Catalyst fuses the
composition into one scan with pushed-down predicates. The reference's
hand-rolled stages they replace are cited per function.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def valid_points(df: DataFrame, window: tuple[int, int] | None = None, ts: str = "timestamp") -> DataFrame:
    """F1/F2 ingest filter: drop ts == 0; optionally keep only points
    inside the current chunk window, bounds inclusive.

    The reference mixes inclusive (db.rs:179-186) and exclusive
    (chunk/chunk.rs:115-121) bounds so boundary points pass the filter
    then error; we normalize to inclusive-and-drop (SURVEY.md §7.2 M1).
    Late/out-of-range data is silently dropped, matching ST2
    (/root/reference/src/db.rs:176-194).
    """
    # SQL text: one py4j round trip, where the Column form costs ~27 on
    # the write path's per-request budget
    pred = f"`{ts}` != 0"
    if window is not None:
        start, end = window
        pred += f" AND `{ts}` BETWEEN {int(start)} AND {int(end)}"
    return df.filter(pred)


def time_trim(df: DataFrame, start_ms: int, end_ms: int, ts: str = "timestamp") -> DataFrame:
    """F3 inclusive range trim (/root/reference/src/storage/common.rs:31-48).

    The reference binary-searches each series' sorted blob; on Parquet
    the same pruning is row-group min/max skipping — free when data is
    written time-sorted within partitions.
    """
    return df.filter(F.col(ts).between(F.lit(start_ms), F.lit(end_ms)))


def chunk_pred(start_ms: int, end_ms: int, chunk_size_ms: int, col: str = "chunk_id") -> Column:
    """F4 chunk-overlap predicate → partition pruning.

    Derives the chunk_id range touched by [start_ms, end_ms] so the scan
    prunes time-bucket partitions exactly like the reference's
    closed-interval overlap check (/root/reference/src/common/utils.rs:11-18,
    applied at /root/reference/src/db.rs:225-252).
    """
    return F.col(col).between(F.lit(start_ms // chunk_size_ms), F.lit(end_ms // chunk_size_ms))


def to_timeseries(df: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
    """A1 result assembly: per-series time-ascending point arrays.

    groupBy + sort_array(collect_list) replaces the reference's
    HashMap-of-Labels merge with reverse-accumulate/reverse ordering
    (/root/reference/src/db.rs:202-267). Empty series vanish naturally
    (F6, /root/reference/src/chunk/chunk.rs:156-158).
    """
    key_cols = key_cols or ["series_id"]
    aggs = [
        F.sort_array(F.collect_list(F.struct(F.col("timestamp"), F.col("value")))).alias("points")
    ]
    if "labels" in df.columns and "labels" not in key_cols:
        aggs.insert(0, F.first("labels").alias("labels"))
    return df.groupBy(*key_cols).agg(*aggs)


def to_timeseries_salted(
    df: DataFrame, key_cols: list[str] | None = None, salt: int = 16
) -> DataFrame:
    """A1 assembly for skewed series: two-stage collect.

    A single pathologically hot series makes plain
    groupBy(series).collect_list route ALL its points to one reducer
    (the skew risk called out in SCALE.md — AQE can split skewed join
    partitions but not a skewed aggregation key). Salting splits each
    series into `salt` sub-groups first (uniform by timestamp hash),
    collects partial sorted arrays, then merges the ≤`salt` arrays per
    series — the second stage shuffles one array-row per (series,
    salt), not per point. Output is identical to to_timeseries.
    """
    key_cols = key_cols or ["series_id"]
    salted = df.withColumn("__salt", F.pmod(F.xxhash64(F.col("timestamp")), F.lit(salt)))
    partial_aggs = [
        F.sort_array(
            F.collect_list(F.struct(F.col("timestamp"), F.col("value")))
        ).alias("partial")
    ]
    if "labels" in df.columns and "labels" not in key_cols:
        partial_aggs.insert(0, F.first("labels").alias("labels"))
    partials = salted.groupBy(*key_cols, "__salt").agg(*partial_aggs)
    final_aggs = [
        F.sort_array(F.flatten(F.collect_list(F.col("partial")))).alias("points")
    ]
    if "labels" in df.columns and "labels" not in key_cols:
        final_aggs.insert(0, F.first("labels").alias("labels"))
    return partials.groupBy(*key_cols).agg(*final_aggs)


def detect_skewed_key(
    df: DataFrame,
    key_cols: list[str] | None = None,
    hot_frac: float = 0.10,
    sample_frac: float = 0.01,
    min_sample_rows: int = 10_000,
) -> bool:
    """One cheap sampled job: does any key hold ≥ hot_frac of rows?

    Samples ``sample_frac`` of rows (uniform, seeded for re-run
    determinism), counts per key, and compares the max share against
    the threshold. The sample is aggregated map-side before the single
    tiny shuffle, so the job cost is ~a scan of sample_frac of the
    input — negligible next to the query it guards. A hot key at the
    hot_frac=10% level is detected with near-certainty once the sample
    holds ≥ min_sample_rows (binomial σ ≈ 0.3% at 10k rows); a smaller
    sample abstains (returns False) rather than flapping.
    """
    key_cols = key_cols or ["series_id"]
    frac = sample_frac
    while True:
        agg = (
            df.sample(fraction=frac, seed=7)
            .groupBy(*key_cols)
            .agg(F.count("*").alias("__n"))
            .agg(F.sum("__n").alias("total"), F.max("__n").alias("top"))
            .head()
        )
        total = agg["total"] if agg is not None else None
        if total is not None and (total >= min_sample_rows or frac >= 1.0):
            return agg["top"] / total >= hot_frac
        if frac >= 1.0:
            return False  # input genuinely tiny and empty-ish — no shuffle concern
        # Sample too small for a confident verdict ⇒ the input itself is
        # small, so escalating is cheap. The first probe already gives a
        # size estimate (total/frac), so jump STRAIGHT to the fraction
        # that yields min_sample_rows (×1.5 margin) instead of stepping
        # 10× per job — detection is ≤ 2 jobs total, and a 100-TB input
        # never escalates at all.
        if total:
            est_rows = total / frac
            frac = min(1.0, 1.5 * min_sample_rows / est_rows)
        else:
            frac = 1.0


def downsample(
    df: DataFrame,
    step_ms: int,
    key_cols: list[str] | None = None,
    agg: str = "avg",
    ts: str = "timestamp",
) -> DataFrame:
    """ReadHints-driven step aggregation — parsed but ignored by the
    reference (/root/reference/src/proto/types.rs:1248-1257, SURVEY §2.4);
    implemented here as the natural Spark extension.

    Returns one row per (series, bucket_start_ms) with the aggregated
    value and point count. Map-side partial aggregation makes this a
    single shuffle on (series, bucket) at any scale.
    """
    key_cols = key_cols or ["series_id"]
    bucket = (F.floor(F.col(ts) / F.lit(step_ms)) * F.lit(step_ms)).cast("long").alias("bucket_ms")
    agg_fn = {
        "avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max, "count": F.count,
    }[agg]
    return (
        df.groupBy(*key_cols, bucket)
        .agg(agg_fn("value").alias(f"{agg}_value"), F.count("*").alias("n_points"))
    )


def counter_step(cur: Column, prev: Column, lagged: bool = True) -> Column:
    """Reset-corrected counter increase from ``prev`` to ``cur``: the
    difference, or ``cur`` itself after a counter reset (a drop) — the
    one step expression behind every rate/increase/irate. ``lagged``:
    ``prev`` is a lag, null on a series' first point, which then has
    no step."""
    case = F.when(prev.isNull(), F.lit(None)) if lagged else F
    return case.when(cur >= prev, cur - prev).otherwise(cur)


def range_func_by_step(
    df: DataFrame,
    step_ms: int,
    func: str = "rate",
    key_cols: list[str] | None = None,
    ts: str = "timestamp",
) -> DataFrame:
    """PromQL range functions evaluated per step bucket — the hinted
    remote-read path for ``func`` ∈ {rate, increase, delta, irate}
    (ReadHints.func names from the public Prometheus proto; parsed but
    unread by the reference, /root/reference/src/proto/types.rs:1248-1257).

    Steps (consecutive-point diffs, reset-corrected for counters) are
    computed per series across the whole range, then each step is
    assigned to the bucket of its LATER point — so bucket increases
    partition the total: Σ_buckets increase == increase over the full
    range (continuity across bucket edges, unlike a per-bucket
    first/last evaluation which would drop cross-edge steps).

    One window sort shuffle on (series) + one groupBy on (series,
    bucket) — both map-combinable; scales like any keyed agg.
    """
    key_cols = key_cols or ["series_id"]
    w = Window.partitionBy(*key_cols).orderBy(ts, "value")
    dec = F.col("value").cast("decimal(28,6)")
    prev_v = F.lag(dec).over(w)
    prev_t = F.lag(F.col(ts)).over(w)
    inc_step = counter_step(dec, prev_v)
    delta_step = F.when(prev_v.isNull(), F.lit(None)).otherwise(dec - prev_v)
    bucket = (F.floor(F.col(ts) / F.lit(step_ms)) * F.lit(step_ms)).cast("long")
    stepped = df.select(
        *key_cols,
        bucket.alias("bucket_ms"),
        F.col(ts).alias("__t"),
        inc_step.alias("__inc"),
        delta_step.alias("__delta"),
        (F.col(ts) - prev_t).alias("__dt"),
    ).filter(F.col("__inc").isNotNull())
    g = stepped.groupBy(*key_cols, "bucket_ms")
    if func == "increase":
        out = g.agg(F.sum("__inc").cast("double").alias("increase_value"))
    elif func == "rate":
        out = g.agg(
            (F.sum("__inc").cast("double") / F.lit(step_ms / 1000.0)).alias("rate_value")
        )
    elif func == "delta":
        out = g.agg(F.sum("__delta").cast("double").alias("delta_value"))
    elif func == "irate":
        # instantaneous: last step in the bucket over its own duration
        out = g.agg(
            (
                F.max_by(F.col("__inc"), F.col("__t")).cast("double")
                / (F.max_by(F.col("__dt"), F.col("__t")).cast("double") / 1000.0)
            ).alias("irate_value")
        )
    else:
        raise ValueError(f"unsupported range func: {func!r}")
    return out


def latest(df: DataFrame, key_cols: list[str] | None = None, ts: str = "timestamp") -> DataFrame:
    """Most-recent point per series (Prometheus instant-vector analog).

    Implemented as max(struct(ts, value)) — lexicographic struct max
    gives the (ts desc, value desc) tie-break AND aggregates with
    map-side partials: the shuffle carries one row per (partition,
    series), not every point, unlike a row_number window which must
    sort-shuffle the full input. Output column order matches the
    input's (key_cols, ts, value).
    """
    key_cols = key_cols or ["series_id"]
    top = F.max(F.struct(F.col(ts), F.col("value"))).alias("__top")
    return (
        df.groupBy(*key_cols)
        .agg(top)
        .select(*key_cols, F.col(f"__top.{ts}").alias(ts), F.col("__top.value").alias("value"))
    )


def sessionize(
    df: DataFrame,
    key_cols: list[str],
    gap_ms: int,
    ts: str = "timestamp",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Gap-based session assignment: rows of a key belong to the same
    session while consecutive gaps are <= gap_ms; a larger gap starts a
    new session. Adds ``session_id`` (0-based per key, in time order).

    lag + cumulative sum over one (key, time) sort shuffle — the
    standard linear sessionization; no self-join, no state blowup.
    ``order_cols`` break ties at equal timestamps deterministically
    (default: value if present).
    """
    order_cols = order_cols if order_cols is not None else (
        ["value"] if "value" in df.columns else []
    )
    w = Window.partitionBy(*key_cols).orderBy(F.col(ts), *[F.col(c) for c in order_cols])
    prev = F.lag(F.col(ts)).over(w)
    new_session = F.when(
        prev.isNull() | ((F.col(ts) - prev) > F.lit(gap_ms)), F.lit(1)
    ).otherwise(F.lit(0))
    cum = Window.partitionBy(*key_cols).orderBy(
        F.col(ts), *[F.col(c) for c in order_cols]
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn("session_id", (F.sum(new_session).over(cum) - F.lit(1)).cast("long"))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    ts: str = "timestamp",
    right_value: str = "value",
    out_col: str = "asof_value",
) -> DataFrame:
    """Point-in-time (as-of) join: attach to every left row the most
    recent right value with right.ts <= left.ts (inclusive), per key.

    Spark has no native as-of join; the scalable composition is
    union + running last_value — ONE sort-shuffle on the key, never a
    range/cross join (candidate blowup at scale) and never a per-key
    loop. Right rows order before left rows at equal ts, which is what
    makes the bound inclusive (same semantics as DuckDB/kdb ASOF).

    ``right`` must be unique per (key, ts) — pre-aggregate if not
    (ambiguous as-of picks are engine-dependent otherwise).
    """
    lcols = list(left.columns)
    ltypes = dict(left.dtypes)
    l = left.withColumn("__side", F.lit(1)).withColumn(
        "__rv", F.lit(None).cast("double")
    )
    r = right.select(
        *key_cols, F.col(ts), F.col(right_value).cast("double").alias("__rv")
    ).withColumn("__side", F.lit(0))
    for c in lcols:
        if c not in r.columns:
            r = r.withColumn(c, F.lit(None).cast(ltypes[c]))
    combined = l.select(*lcols, "__side", "__rv").unionByName(
        r.select(*lcols, "__side", "__rv")
    )
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(ts), F.col("__side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        combined.withColumn(out_col, F.last("__rv", ignorenulls=True).over(w))
        .filter(F.col("__side") == 1)
        .drop("__side", "__rv")
    )


def range_join(
    samples: DataFrame,
    intervals: DataFrame,
    ts: str = "timestamp",
    start: str = "start_ms",
    end: str = "end_ms",
    bucket_ms: int = 86_400_000,
) -> DataFrame:
    """Interval-containment join: samples ⋈ intervals where
    start <= ts <= end (inclusive), returning all columns of both.

    A naive theta-join is a nested-loop (every sample × every
    interval). Bucket blocking makes it an equi-join: each interval
    explodes into the time buckets it covers, samples hash to one
    bucket, and the exact BETWEEN runs only on bucket-colliding pairs.
    Shuffle is |samples| + Σ interval spans / bucket_ms — linear, and
    overlapping intervals are fine (a sample can match many).
    Pick bucket_ms near the median interval span: bigger → fewer
    interval replicas, smaller → tighter candidate sets.
    """
    b = F.floor(F.col(ts) / F.lit(bucket_ms))
    s = samples.withColumn("__bucket", b)
    i = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(start) / F.lit(bucket_ms)),
                F.floor(F.col(end) / F.lit(bucket_ms)),
            )
        ),
    )
    return (
        s.join(i, "__bucket")
        .filter(F.col(ts).between(F.col(start), F.col(end)))
        .drop("__bucket")
    )


def moving_avg(
    df: DataFrame,
    window_ms: int,
    key_cols: list[str] | None = None,
    ts: str = "timestamp",
    out: str = "mavg",
    dec: str = "decimal(28,6)",
) -> DataFrame:
    """Trailing time-range moving average per series (PromQL
    avg_over_time analog): for each point, the mean of all values of
    the same series in [ts - window_ms, ts].

    A RANGE window frame over the numeric ms timestamp — peers at
    equal timestamps fall in every peer's frame, so the result is
    order-independent. The sum runs in DECIMAL (bit-stable under any
    intra-frame order — note ``dec``'s scale quantizes inputs: the
    default keeps 6 decimal places); one sort shuffle on the series
    key, frames evaluated by a sliding aggregator, never O(n·window)
    rescans.
    """
    key_cols = key_cols or ["series_id"]
    w = Window.partitionBy(*key_cols).orderBy(F.col(ts)).rangeBetween(-window_ms, 0)
    s = F.sum(F.col("value").cast(dec)).over(w).cast("double")
    n = F.count("value").over(w)
    return df.withColumn(out, s / n)


def resample_ffill(
    df: DataFrame,
    step_ms: int,
    key_cols: list[str] | None = None,
    ts: str = "timestamp",
) -> DataFrame:
    """Regular-grid resampling with forward fill: one row per series per
    step_ms bucket between the series' first and last point; empty
    buckets carry the last observed value forward (gap filling — the
    step PromQL's range evaluation and every hypertable `time_bucket_gapfill`
    perform; absent from the reference, which returns raw points).

    Bucket value = the latest point in the bucket, (ts, value)-lexico
    max so duplicate timestamps resolve deterministically. The grid is
    generated per series with sequence/explode — no driver loop, no
    cross join; grid size is bounded by time span / step regardless of
    input row count. Two shuffles: the bucket aggregation and the
    per-series ordered fill window (key-partitioned, sliding).
    """
    key_cols = key_cols or ["series_id"]
    bucket = (F.floor(F.col(ts) / F.lit(step_ms)) * F.lit(step_ms)).cast("long")
    per_bucket = (
        df.groupBy(*key_cols, bucket.alias("bucket_ms"))
        .agg(F.max(F.struct(F.col(ts), F.col("value"))).alias("__top"))
        .select(*key_cols, "bucket_ms", F.col("__top.value").alias("__bucket_value"))
    )
    grid = (
        per_bucket.groupBy(*key_cols)
        .agg(F.min("bucket_ms").alias("__mn"), F.max("bucket_ms").alias("__mx"))
        .select(
            *key_cols,
            F.explode(F.sequence("__mn", "__mx", F.lit(step_ms))).alias("bucket_ms"),
        )
    )
    w = (
        Window.partitionBy(*key_cols)
        .orderBy("bucket_ms")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(per_bucket, [*key_cols, "bucket_ms"], "left")
        .select(
            *key_cols,
            "bucket_ms",
            F.last("__bucket_value", ignorenulls=True).over(w).alias("value"),
            F.col("__bucket_value").isNotNull().alias("observed"),
        )
    )


def resample_lerp(
    df: DataFrame,
    step_ms: int,
    key_cols: list[str] | None = None,
    ts: str = "timestamp",
) -> DataFrame:
    """Regular-grid resampling with LINEAR interpolation (the
    `interpolate()` companion to resample_ffill's locf): observed
    buckets keep their (ts, value)-max point's value; empty buckets
    get the straight line between the previous and next observed
    POINTS (their actual timestamps, not bucket edges) evaluated at
    the bucket timestamp. Grid edges are observed buckets by
    construction, so no NULLs escape.

    Same scale shape as resample_ffill: per-series sequence/explode
    grid, one bucket aggregation, one key-partitioned ordered window
    (the prev/next frames share the sort — no extra shuffle).
    """
    key_cols = key_cols or ["series_id"]
    bucket = (F.floor(F.col(ts) / F.lit(step_ms)) * F.lit(step_ms)).cast("long")
    per_bucket = (
        df.groupBy(*key_cols, bucket.alias("bucket_ms"))
        .agg(F.max(F.struct(F.col(ts), F.col("value"))).alias("__top"))
        .select(
            *key_cols,
            "bucket_ms",
            F.col("__top").getField(ts).alias("__pt_ts"),
            F.col("__top").getField("value").alias("__pt_val"),
        )
    )
    grid = (
        per_bucket.groupBy(*key_cols)
        .agg(F.min("bucket_ms").alias("__mn"), F.max("bucket_ms").alias("__mx"))
        .select(
            *key_cols,
            F.explode(F.sequence("__mn", "__mx", F.lit(step_ms))).alias("bucket_ms"),
        )
    )
    w_prev = (
        Window.partitionBy(*key_cols)
        .orderBy("bucket_ms")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy(*key_cols)
        .orderBy("bucket_ms")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    j = grid.join(per_bucket, [*key_cols, "bucket_ms"], "left").select(
        *key_cols,
        "bucket_ms",
        "__pt_val",
        F.last("__pt_ts", ignorenulls=True).over(w_prev).alias("__tp"),
        F.last("__pt_val", ignorenulls=True).over(w_prev).alias("__vp"),
        F.first("__pt_ts", ignorenulls=True).over(w_next).alias("__tn"),
        F.first("__pt_val", ignorenulls=True).over(w_next).alias("__vn"),
    )
    lerp = F.col("__vp") + (F.col("__vn") - F.col("__vp")) * (
        (F.col("bucket_ms") - F.col("__tp")) / (F.col("__tn") - F.col("__tp"))
    )
    return j.select(
        *key_cols,
        "bucket_ms",
        F.when(F.col("__pt_val").isNotNull(), F.col("__pt_val"))
        .otherwise(lerp)
        .alias("value"),
        F.col("__pt_val").isNotNull().alias("observed"),
    )


def series_quantiles(
    df: DataFrame,
    qs: tuple[float, ...] = (0.5, 0.9),
    key_cols: list[str] | None = None,
    value: str = "value",
) -> DataFrame:
    """Per-series discrete quantiles by ordered statistic: the value at
    row ceil(q·n) in ascending value order (1-based).

    Discrete (an actual data element, no interpolation arithmetic) so
    results are bit-identical across engines, and deterministic under
    value ties — any row_number assignment among equal values selects
    the same value. One sort shuffle on the series key; the two window
    functions share a single sort.

    The rank is computed as ceil over an exact DECIMAL product: a
    double product can round past the true integer (0.07 * 100 =
    7.000000000000001 → ceil 8 picks the wrong element) — oracles
    must use the same DECIMAL form.
    """
    key_cols = key_cols or ["series_id"]
    w = Window.partitionBy(*key_cols).orderBy(F.col(value))
    part = Window.partitionBy(*key_cols)
    rn = F.row_number().over(w).cast("long")
    n = F.count("*").over(part)
    ranked = df.select(*key_cols, F.col(value), rn.alias("__rn"), n.alias("__n"))
    aggs = [
        F.max(
            F.when(
                F.col("__rn")
                == F.ceil(F.lit(q).cast("decimal(12,6)") * F.col("__n")),
                F.col(value),
            )
        ).alias(f"p{int(round(q * 100))}")
        for q in qs
    ]
    aggs.append(F.max("__n").alias("n_points"))
    return ranked.groupBy(*key_cols).agg(*aggs)


def changes_resets(
    df: DataFrame,
    key_cols: list[str] | None = None,
    ts: str = "timestamp",
    value: str = "value",
) -> DataFrame:
    """PromQL changes() and resets() in one pass: per-series counts of
    consecutive-value changes and drops ([*key, n_changes, n_resets]).

    One lag over a (key, time) sort; ties broken by value so duplicate
    timestamps order deterministically. Integer outputs — immune to
    float summation order, so oracle parity is exact by construction.
    """
    key_cols = key_cols or ["series_id"]
    w = Window.partitionBy(*key_cols).orderBy(F.col(ts), F.col(value))
    seq = df.select(
        *key_cols, F.col(value).alias("__v"), F.lag(F.col(value)).over(w).alias("__prev")
    )
    notnull = F.col("__prev").isNotNull()
    return seq.groupBy(*key_cols).agg(
        F.count(F.when(notnull & (F.col("__v") != F.col("__prev")), 1)).alias("n_changes"),
        F.count(F.when(notnull & (F.col("__v") < F.col("__prev")), 1)).alias("n_resets"),
    )


def linreg_slope(
    df: DataFrame,
    key_cols: list[str] | None = None,
    ts: str = "timestamp",
    value: str = "value",
    t0: int = 0,
    per: float = 1000.0,
    out: str = "slope",
) -> DataFrame:
    """PromQL deriv(): per-series least-squares slope (× ``per``, i.e.
    per-second for ms timestamps) from five exact DECIMAL accumulators
    (n, Σx, Σy, Σxx, Σxy) — ONE map-combinable aggregation, no window,
    no sort, order-independent. Returns [*key, n_points, out].

    ``t0`` centers timestamps before squaring so Σxx stays in DECIMAL
    range (pass the query range start); DECIMAL(20,0) keeps engines
    like DuckDB on wide (hugeint) physical types where an int64-backed
    DECIMAL(18) product would overflow. Series with zero x-variance
    (all points at one timestamp) are dropped — slope undefined.
    """
    key_cols = key_cols or ["series_id"]
    x = (F.col(ts) - F.lit(t0)).cast("decimal(20,0)")
    y = F.col(value).cast("decimal(18,2)")
    agg = df.groupBy(*key_cols).agg(
        F.count("*").alias("n_points"),
        F.sum(x).cast("double").alias("__sx"),
        F.sum(y).cast("double").alias("__sy"),
        F.sum(x * x).cast("double").alias("__sxx"),
        F.sum(x * y).cast("double").alias("__sxy"),
    )
    denom = F.col("n_points") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    slope = (
        (F.col("n_points") * F.col("__sxy") - F.col("__sx") * F.col("__sy"))
        / denom
        * F.lit(per)
    )
    return agg.filter(denom > 0).select(*key_cols, "n_points", slope.alias(out))


def holt_winters(
    df: DataFrame,
    key_cols: list[str] | None = None,
    ts: str = "timestamp",
    value: str = "value",
    sf: float = 0.25,
    tf: float = 0.5,
    out: str = "smoothed",
) -> DataFrame:
    """PromQL holt_winters() (double exponential smoothing): per-series
    sequential recurrence — level smoothed by ``sf``, trend by ``tf`` —
    returning the final smoothed value. The reference parses the func
    hint but never evaluates it (/root/reference/src/proto/types.rs:
    1248-1257); Prometheus evaluates it client-side; we evaluate it
    engine-side.

    An inherently ORDER-DEPENDENT fold, expressed Spark-first as
    ``F.aggregate`` over ``sort_array(collect_list(...))`` — the whole
    recurrence runs inside JVM codegen (no Python UDF, no window, one
    shuffle on the series key). Points sort by (ts, value) so duplicate
    timestamps fold deterministically. Series need ≥ 2 points.

    State follows the Prometheus recurrence exactly: s1₀ = v₁,
    b₀ = v₂ − v₁; per step i ≥ 1: b ← b (i = 1) else tf·(s1−s0) +
    (1−tf)·b, then (s0, s1) ← (s1, sf·vᵢ + (1−sf)·(s1+b)). Plain double
    arithmetic in a fixed order → an oracle running the identical
    recurrence is bit-equal.
    """
    key_cols = key_cols or ["series_id"]
    pts = (
        df.groupBy(*key_cols)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(ts).alias("t"), F.col(value).alias("v")))
            ).alias("__pts")
        )
        .filter(F.size("__pts") >= 2)
    )
    vals = F.transform(F.col("__pts"), lambda p: p["v"])
    sfl, tfl = F.lit(float(sf)), F.lit(float(tf))
    one = F.lit(1.0)
    init = F.struct(
        F.lit(0.0).alias("s0"),
        F.element_at(vals, 1).alias("s1"),
        (F.element_at(vals, 2) - F.element_at(vals, 1)).alias("b"),
        F.lit(1).alias("i"),
    )

    def step(acc, v):
        b2 = F.when(acc["i"] == 1, acc["b"]).otherwise(
            tfl * (acc["s1"] - acc["s0"]) + (one - tfl) * acc["b"]
        )
        return F.struct(
            acc["s1"].alias("s0"),
            (sfl * v + (one - sfl) * (acc["s1"] + b2)).alias("s1"),
            b2.alias("b"),
            (acc["i"] + 1).alias("i"),
        )

    smoothed = F.aggregate(
        F.slice(vals, 2, F.size(vals) - 1), init, step, lambda a: a["s1"]
    )
    return pts.select(
        *key_cols,
        F.size("__pts").cast("long").alias("n_points"),
        smoothed.alias(out),
    )


def predict_linear(
    df: DataFrame,
    key_cols: list[str] | None = None,
    ts: str = "timestamp",
    value: str = "value",
    t0: int = 0,
    at_ms: int | Column = 0,
    out: str = "predicted",
) -> DataFrame:
    """PromQL predict_linear(): least-squares extrapolation of each
    series to ``t0 + at_ms`` (a Column over the key columns gives
    each group its own horizon, e.g. per evaluation window), from the
    same five exact DECIMAL accumulators as :func:`linreg_slope` (one
    map-combinable aggregation, no sort). The reference parses the
    PromQL func hint but never evaluates it (ReadHints at
    /root/reference/src/proto/types.rs:1248-1257, unread by the
    server); this is the server-side evaluation Spark makes cheap.

    intercept + slope are assembled from the exact sums with plain
    double arithmetic (centered x-coordinates), so an oracle engine
    running the identical expression over the identical sums is
    bit-equal. Series with zero x-variance are dropped.
    """
    key_cols = key_cols or ["series_id"]
    x = (F.col(ts) - F.lit(t0)).cast("decimal(20,0)")
    y = F.col(value).cast("decimal(18,2)")
    agg = df.groupBy(*key_cols).agg(
        F.count("*").alias("n_points"),
        F.sum(x).cast("double").alias("__sx"),
        F.sum(y).cast("double").alias("__sy"),
        F.sum(x * x).cast("double").alias("__sxx"),
        F.sum(x * y).cast("double").alias("__sxy"),
    )
    n = F.col("n_points")
    denom = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    slope_ms = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")) / denom
    intercept = (F.col("__sy") - slope_ms * F.col("__sx")) / n
    at = at_ms if isinstance(at_ms, Column) else F.lit(float(at_ms))
    predicted = intercept + slope_ms * at
    return agg.filter(denom > 0).select(*key_cols, "n_points", predicted.alias(out))


def _last_two(df: DataFrame, key_cols: list[str], ts: str, value: str) -> DataFrame:
    """The last two samples per key, [*key, __v1, __v2, __t1, __t2]
    newest first: a row_number top-2 over a (time desc, value desc)
    sort — one shuffle; the value tie-break makes the pair
    deterministic under duplicate timestamps. Values are DECIMAL;
    keys without two distinct trailing timestamps are dropped."""
    w = Window.partitionBy(*key_cols).orderBy(F.desc(ts), F.desc(value))
    d = F.col(value).cast("decimal(28,6)")
    ranked = df.select(
        *key_cols,
        F.col(ts).alias("__t"),
        d.alias("__v"),
        F.row_number().over(w).alias("__rn"),
    ).filter(F.col("__rn") <= 2)
    return (
        ranked.groupBy(*key_cols)
        .agg(
            F.max(F.when(F.col("__rn") == 1, F.col("__v"))).alias("__v1"),
            F.max(F.when(F.col("__rn") == 2, F.col("__v"))).alias("__v2"),
            F.max(F.when(F.col("__rn") == 1, F.col("__t"))).alias("__t1"),
            F.max(F.when(F.col("__rn") == 2, F.col("__t"))).alias("__t2"),
        )
        .filter(F.col("__t2").isNotNull() & (F.col("__t1") > F.col("__t2")))
    )


def irate(
    df: DataFrame,
    key_cols: list[str] | None = None,
    ts: str = "timestamp",
    value: str = "value",
    per: float = 1000.0,
    out: str = "irate",
) -> DataFrame:
    """PromQL irate(): reset-corrected rate from the LAST TWO samples
    per series ([*key, out]), the step DECIMAL until the final double
    divide. Series without two distinct trailing timestamps are
    dropped (rate undefined)."""
    key_cols = key_cols or ["series_id"]
    step = counter_step(F.col("__v1"), F.col("__v2"), lagged=False)
    return _last_two(df, key_cols, ts, value).select(
        *key_cols,
        (step.cast("double") / (F.col("__t1") - F.col("__t2")) * F.lit(per)).alias(out),
    )


def idelta(
    df: DataFrame,
    key_cols: list[str] | None = None,
    ts: str = "timestamp",
    value: str = "value",
    out: str = "idelta",
) -> DataFrame:
    """PromQL idelta(): the raw difference of the LAST TWO samples per
    series ([*key, out]), exact in DECIMAL. Series without two distinct
    trailing timestamps are dropped."""
    key_cols = key_cols or ["series_id"]
    return _last_two(df, key_cols, ts, value).select(
        *key_cols, (F.col("__v1") - F.col("__v2")).cast("double").alias(out)
    )


def anomaly_zscore(
    df: DataFrame,
    key_cols: list[str] | None = None,
    ts: str = "timestamp",
    value: str = "value",
    window_ms: int = 7 * 86_400_000,
    min_points: int = 5,
    threshold: float = 1.5,
) -> DataFrame:
    """Trailing-window z-score anomaly detection: rows of ``df`` whose
    value deviates more than ``threshold``·σ from their own series'
    trailing ``window_ms`` mean (windows with ≥ ``min_points`` and
    positive variance). Returns [*key, ts, value, zscore].

    Window stats use the exact DECIMAL two-accumulator form (sum +
    sum-of-squares, order-independent) over a RANGE frame — one
    (key, time) sort shuffle, sliding-frame evaluation; the z-score's
    double ops (divide, sqrt, abs) are IEEE-deterministic, so results
    are reproducible cross-engine and cross-run."""
    key_cols = key_cols or ["series_id"]
    w = Window.partitionBy(*key_cols).orderBy(F.col(ts)).rangeBetween(-window_ms, 0)
    d = F.col(value).cast("decimal(18,2)")
    base = df.select(
        *key_cols,
        F.col(ts),
        F.col(value),
        F.sum(d).over(w).cast("double").alias("__s1"),
        F.sum(d * d).over(w).cast("double").alias("__s2"),
        F.count(value).over(w).alias("__cnt"),
    )
    # expression shape matches the ts_anomaly oracle SQL exactly
    var = (F.col("__s2") - F.col("__s1") * F.col("__s1") / F.col("__cnt")) / F.col("__cnt")
    z = (F.col(value) - F.col("__s1") / F.col("__cnt")) / F.sqrt(var)
    return (
        base.filter(
            (F.col("__cnt") >= min_points) & (var > 0) & (F.abs(z) > threshold)
        )
        .select(*key_cols, F.col(ts), F.col(value), z.alias("zscore"))
    )


def cusum(
    df: DataFrame,
    key_cols: list[str] | None = None,
    ts: str = "timestamp",
    value: str = "value",
    k: float = 1.0,
    h: float = 10.0,
) -> DataFrame:
    """Two-sided CUSUM change-point detection against each series' own
    mean: S⁺ accumulates positive deviations beyond slack ``k``, S⁻
    negative ones, both clamped at 0; a change is signalled when
    either excursion exceeds threshold ``h``. Returns per series
    [key, n_points, max_pos, max_neg, first_cross_ms (NULL if never)].

    Like holt_winters, an inherently order-dependent fold expressed as
    ``F.aggregate`` over the series' sorted points — the recurrence
    runs inside JVM codegen, one shuffle on the series key. The mean
    is the exact DECIMAL sum cast to double over the count, so the
    oracle's recursive CTE replays bit-identical arithmetic.
    """
    key_cols = key_cols or ["series_id"]
    mu = (
        F.sum(F.col(value).cast("decimal(18,2)")).cast("double") / F.count("*")
    ).alias("__mu")
    pts = df.groupBy(*key_cols).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(ts).alias("t"), F.col(value).alias("v")))
        ).alias("__pts"),
        mu,
    )
    kl, hl, zero = F.lit(float(k)), F.lit(float(h)), F.lit(0.0)
    init = F.struct(
        zero.alias("sp"),
        zero.alias("sn"),
        zero.alias("mp"),
        zero.alias("mn"),
        F.lit(0).cast("long").alias("cross"),
    )

    def step(acc, p):
        sp = F.greatest(zero, acc["sp"] + (p["v"] - F.col("__mu") - kl))
        sn = F.greatest(zero, acc["sn"] + (F.col("__mu") - p["v"] - kl))
        return F.struct(
            sp.alias("sp"),
            sn.alias("sn"),
            F.greatest(acc["mp"], sp).alias("mp"),
            F.greatest(acc["mn"], sn).alias("mn"),
            F.when(acc["cross"] != 0, acc["cross"])
            .when((sp > hl) | (sn > hl), p["t"])
            .otherwise(F.lit(0))
            .cast("long")
            .alias("cross"),
        )

    st = F.aggregate(F.col("__pts"), init, step)
    return pts.select(
        *key_cols,
        F.size("__pts").cast("long").alias("n_points"),
        st["mp"].alias("max_pos"),
        st["mn"].alias("max_neg"),
        F.nullif(st["cross"], F.lit(0)).alias("first_cross_ms"),
    )


def holt_winters_backtest(
    df: DataFrame,
    key_cols: list[str] | None = None,
    ts: str = "timestamp",
    value: str = "value",
    sf: float = 0.25,
    tf: float = 0.5,
) -> DataFrame:
    """One-step-ahead forecast backtest: per series, walk the
    holt_winters recurrence and score each forecast ŷᵢ = s1 + b
    against the realized vᵢ, alongside the naive persistence forecast
    (ŷᵢ = vᵢ₋₁) — MAE of both plus the skill ratio, the number an
    alerting/capacity pipeline tracks to decide whether the smoother
    earns its keep (skill < 1 ⇒ beats persistence).

    Same Spark-first shape as holt_winters: one shuffle on the series
    key, the whole scored recurrence inside a codegen'd F.aggregate
    fold (state gains prev/err/count fields). Steps are scored from
    the third point on (the second is fit by construction: with
    b₀ = v₂ − v₁ the i=1 forecast IS v₂). Fixed fold order → the
    recursive-CTE oracle is bit-equal. Series need ≥ 3 points.
    """
    key_cols = key_cols or ["series_id"]
    pts = (
        df.groupBy(*key_cols)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(ts).alias("t"), F.col(value).alias("v")))
            ).alias("__pts")
        )
        .filter(F.size("__pts") >= 3)
    )
    vals = F.transform(F.col("__pts"), lambda p: p["v"])
    sfl, tfl = F.lit(float(sf)), F.lit(float(tf))
    one = F.lit(1.0)
    init = F.struct(
        F.lit(0.0).alias("s0"),
        F.element_at(vals, 1).alias("s1"),
        (F.element_at(vals, 2) - F.element_at(vals, 1)).alias("b"),
        F.lit(1).alias("i"),
        F.element_at(vals, 1).alias("prev"),
        F.lit(0.0).alias("e_hw"),
        F.lit(0.0).alias("e_nv"),
        F.lit(0).alias("k"),
    )

    def step(acc, v):
        b2 = F.when(acc["i"] == 1, acc["b"]).otherwise(
            tfl * (acc["s1"] - acc["s0"]) + (one - tfl) * acc["b"]
        )
        scored = acc["i"] >= 2
        return F.struct(
            acc["s1"].alias("s0"),
            (sfl * v + (one - sfl) * (acc["s1"] + b2)).alias("s1"),
            b2.alias("b"),
            (acc["i"] + 1).alias("i"),
            v.alias("prev"),
            (acc["e_hw"] + F.when(scored, F.abs(v - (acc["s1"] + b2))).otherwise(F.lit(0.0))).alias("e_hw"),
            (acc["e_nv"] + F.when(scored, F.abs(v - acc["prev"])).otherwise(F.lit(0.0))).alias("e_nv"),
            (acc["k"] + F.when(scored, F.lit(1)).otherwise(F.lit(0))).alias("k"),
        )

    res = F.aggregate(
        F.slice(vals, 2, F.size(vals) - 1),
        init,
        step,
        lambda a: F.struct(a["e_hw"].alias("e_hw"), a["e_nv"].alias("e_nv"), a["k"].alias("k")),
    )
    return pts.withColumn("__r", res).select(
        *key_cols,
        F.size("__pts").cast("long").alias("n_points"),
        F.col("__r")["k"].cast("long").alias("n_scored"),
        F.try_divide(F.col("__r")["e_hw"], F.col("__r")["k"]).alias("mae_hw"),
        F.try_divide(F.col("__r")["e_nv"], F.col("__r")["k"]).alias("mae_naive"),
        F.try_divide(F.col("__r")["e_hw"], F.col("__r")["e_nv"]).alias("skill"),
    )
