"""Similarity search over embedding columns (array<float>).

- cosine/dot exprs: sequential left-fold in DOUBLE via F.aggregate —
  deterministic and bit-identical to DuckDB's list_reduce fold, so
  oracle comparisons need no tolerance.
- brute-force top-k: broadcast the (small) query set against the
  corpus — the corpus is scanned once, never shuffled; per-row work is
  JVM-side codegen.
- LSH top-k: random-hyperplane signs from seedless md5-derived
  pseudo-planes; bucket join + exact re-rank inside buckets — the
  100 TB path (candidates per query bounded by bucket size).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from monolith_spark.labels import sql_name
from monolith_spark.operators.text import hash60_expr

from monolith_spark.barrier import barrier as _lineage_barrier


def _dbl_sql(v: str) -> str:
    """SQL text of the double cast-map over a SQL expression. Every
    builder here composes SQL text and parses it ONCE: a Column-API
    higher-order function costs ~10 ms of py4j chatter per build (the
    JL/IVF serving frame held 112 of them = ~1.2 s per FRESH plan
    construction)."""
    return f"transform({v}, x -> CAST(x AS DOUBLE))"


def _dbl(v: str) -> Column:
    return F.expr(_dbl_sql(sql_name(v, "_dbl")))


def _dbl_norm(v: str) -> Column:
    """norm_expr of the double cast of a named vector column."""
    return F.expr(norm_sql(_dbl_sql(sql_name(v, "_dbl_norm"))))


def _plane_signs(prefix: str, dim: int) -> list[float]:
    """The ±1 components of one seedless sign plane (hyperplane LSH,
    JL): component d is +1 iff the md5 of ``f"{prefix}{d}"`` has an
    even first-15-hex value — the formula hash60_expr evaluates, so the
    SQL oracles replaying the derivation stay bit-identical. Derived
    driver-side and embedded as literals: the in-plan form ran one
    md5+conv per component PER ROW."""
    import hashlib

    return [
        1.0 if int(hashlib.md5(f"{prefix}{d}".encode()).hexdigest()[:15], 16) % 2 == 0
        else -1.0
        for d in range(dim)
    ]


def _lit_dbl_array(xs) -> Column:
    """Literal array<double> built as ONE parsed expression.

    The F.array(*[F.lit(x), ...]) form pays a py4j round-trip per
    element — ~2 s of driver time per FRESH plan build of the JL/IVF
    serving path (16 sign planes x 64 dims + centroid arrays), charged
    to every query construction. One F.expr parse is ~100x cheaper and
    yields the identical tree (CreateArray of double literals), so
    evaluation is bit-for-bit unchanged: repr() emits the shortest
    round-trip form and Java parses it back to the same IEEE double.
    """
    return F.expr(_lit_dbl_array_sql(xs))


def _lit_dbl_array_sql(xs) -> str:
    """SQL text of a literal array<double> (see _lit_dbl_array; repr()
    emits the shortest round-trip form, Java parses the same IEEE
    double). Guard: non-finite values have no SQL double literal —
    current callers (centroids, sign planes over finite data) never
    produce them, so fail loudly rather than emit `infD`."""
    out = []
    for x in xs:
        x = float(x)
        if x != x or x in (float("inf"), float("-inf")):
            raise ValueError(f"non-finite value {x!r} in literal array")
        out.append(repr(x) + "D")
    return "array(" + ",".join(out) + ")"


def _lit_dbl_matrix_sql(xss) -> str:
    """SQL text of a literal array<array<double>> (see _lit_dbl_array,
    incl. the non-finite guard)."""
    return "array(" + ",".join(_lit_dbl_array_sql(xs) for xs in xss) + ")"


def _lit_dbl_matrix(xss) -> Column:
    return F.expr(_lit_dbl_matrix_sql(xss))


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality from the data (one-row action).

    A wrong hardcoded dim is silent poison for hyperplane signatures:
    zip_with null-pads, the fold goes NULL, every signature collapses
    to 0 and LSH blocking degrades to one quadratic bucket.
    """
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None or row["d"] is None or row["d"] <= 0:
        raise ValueError(f"cannot infer embedding dim from column {vec_col!r}")
    return int(row["d"])


def dot_sql(a: str, b: str) -> str:
    """Sequential left-fold dot product in double (order-deterministic)
    over two SQL expressions."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        "(acc, x) -> acc + x)"
    )


def norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def cosine_sql(a: str, b: str) -> str:
    a, b = _dbl_sql(a), _dbl_sql(b)
    return f"{dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)})"


def dot_expr(a: str, b: str) -> Column:
    """Sequential-fold dot product of two array columns."""
    return F.expr(dot_sql(sql_name(a, "dot_expr"), sql_name(b, "dot_expr")))


def norm_expr(a: str) -> Column:
    return F.expr(norm_sql(sql_name(a, "norm_expr")))


def cosine_expr(a: str, b: str) -> Column:
    return F.expr(
        cosine_sql(sql_name(a, "cosine_expr"), sql_name(b, "cosine_expr"))
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    [query_id, neighbor_id, rank, cosine]; self-matches excluded when
    ids collide. Deterministic rank: cosine desc, neighbor_id asc.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _dbl(vec_col).alias("q_vec"),
        _dbl_norm(vec_col).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _dbl(vec_col).alias("c_vec"),
        _dbl_norm(vec_col).alias("cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            dot_expr("q_vec", "c_vec") / (F.col("qn") * F.col("cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def hyperplane_sql(vec_sql: str, planes: int, dim: int, plane_offset: int = 0) -> str:
    """SQL text of a random-hyperplane LSH signature over planes
    [plane_offset, plane_offset + planes): bit p - plane_offset is set
    iff the sequential-fold projection onto plane p is positive."""
    v = _dbl_sql(vec_sql)
    bits = [
        f"CASE WHEN {dot_sql(v, _lit_dbl_array_sql(_plane_signs(f'plane{p}:', dim)))}"
        f" > 0 THEN {1 << (p - plane_offset)} ELSE 0 END"
        for p in range(plane_offset, plane_offset + planes)
    ]
    return "CAST(" + " + ".join(bits) + " AS BIGINT)"


def hyperplane_signature(vec_col: str, planes: int, dim: int) -> Column:
    """Seedless random-hyperplane LSH signature (BIGINT, `planes` bits).

    Plane p's component for dimension d is +1/-1 from the parity of a
    md5-derived hash of (p, d) — reproducible anywhere with md5.
    """
    name = sql_name(vec_col, "hyperplane_signature")
    return F.expr(hyperplane_sql(name, planes, dim))


def hyperplane_signature_offset(
    vec_col: str, planes: int, dim: int, plane_offset: int
) -> Column:
    """hyperplane_signature with globally-numbered planes (for
    multi-table LSH: table t uses planes [t*planes, (t+1)*planes))."""
    name = sql_name(vec_col, "hyperplane_signature_offset")
    return F.expr(hyperplane_sql(name, planes, dim, plane_offset))


def int8_quantize_stats(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric int8 scalar quantization quality, per vector: scale =
    max|x| / 127, code = round(x / scale), reconstruction x̂ = code ·
    scale. Returns [id_col, n_dims, scale, rmse, max_abs_err] — the
    stats a pipeline needs to decide whether 4× embedding compression
    is tolerable before reindexing 100 TB of vectors.

    Pure projection: no shuffle, no UDF; every fold is the module's
    deterministic sequential F.aggregate, so a DuckDB list_reduce
    oracle is bit-equal. Zero vectors (scale = 0) are dropped —
    quantization is undefined for them. round() on half-way doubles is
    away-from-zero in both engines (BigDecimal HALF_UP vs C round).
    """
    v = _dbl(vec_col)
    base = df.select(F.col(id_col), v.alias("__v"))
    scale = (
        F.aggregate(F.col("__v"), F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))
        / F.lit(127.0)
    )
    base = base.withColumn("scale", scale).filter(F.col("scale") > 0)
    err = F.transform(
        F.col("__v"),
        lambda x: x - F.round(x / F.col("scale")) * F.col("scale"),
    )
    sse = F.aggregate(err, F.lit(0.0), lambda a, x: a + x * x)
    max_err = F.aggregate(err, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))
    return base.select(
        id_col,
        F.size("__v").cast("long").alias("n_dims"),
        "scale",
        F.sqrt(sse / F.size("__v")).alias("rmse"),
        max_err.alias("max_abs_err"),
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: [id_a, id_b, cosine]
    with id_a < id_b and cosine >= threshold.

    The all-pairs baseline (and the oracle's construction) — use
    embedding_near_dup_lsh as the 100 TB path; this exact variant is
    the verify stage and the recall yardstick.

    Norms are computed once per VECTOR before the join and reused per
    pair (the join boundary materializes them) — bit-identical to
    recomputing inside cosine_expr, ~3× less per-pair work.

    NO forced broadcast on the right side: it is O(corpus vectors), so
    a ``F.broadcast`` hint would force the whole table onto every
    executor at any size (the dedup.py:174 bug class). Under the
    stats-based autoBroadcastJoinThreshold Spark still picks
    BroadcastNestedLoopJoin for small corpora on its own; past it the
    theta-join degrades to a partitioned cartesian — slow but bounded
    memory, which is the right failure mode for a verify-tier scan.
    """
    base = df.select(
        F.col(id_col).alias("vid"),
        _dbl(vec_col).alias("vec"),
        _dbl_norm(vec_col).alias("nrm"),
    )
    a = base.select(F.col("vid").alias("id_a"), F.col("vec").alias("va"), F.col("nrm").alias("na"))
    b = base.select(F.col("vid").alias("id_b"), F.col("vec").alias("vb"), F.col("nrm").alias("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine", dot_expr("va", "vb") / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def hyperplane_signatures_batch(
    df: DataFrame,
    planes: int,
    num_tables: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All ``num_tables`` hyperplane signatures in ONE Arrow-batched
    numpy pass — returns [vid, vec (array<double>), sigs (array<long>,
    one per table)].

    Bit-identical to hyperplane_signature_offset by construction: the
    per-plane projection is a SEQUENTIAL fold in ascending dimension
    order (acc starts at 0.0; the numpy loop vectorizes across ROWS
    while adding one dimension at a time, so each plane's IEEE add
    sequence equals the expression's zip_with+aggregate fold —
    asserted bit-for-bit in tests), with ±1 signs from the same
    md5-parity formula. Exists because the num_tables × planes expression
    form (16×16×64 ≈ 16k lambda terms at the defaults) exceeds
    whole-stage-codegen limits and falls back to interpreted HOF
    evaluation — measured ~46 vectors/sec/core (435 s for a 20k-vector
    probe); this map does the same arithmetic in numpy column ops and
    keeps the LSH blockers' "signatures are a cheap narrow map" scale
    contract true. float32→float64 widening and the float64 Arrow
    round-trip are both exact.
    """
    import numpy as np
    import pandas as pd

    total = num_tables * planes
    S = np.array(
        [_plane_signs(f"plane{p}:", dim) for p in range(total)]
    )  # (total_planes, dim)
    weights = np.array(
        [1 << (p % planes) for p in range(total)], dtype=np.int64
    )

    def batches(it):
        for pdf in it:
            # NULL vectors: the expression form yields a NULL signature that
            # never equi-joins — dropping the row here is the same
            # observable behavior (and np.stack would crash on None)
            pdf = pdf[pdf[vec_col].notna()]
            n = len(pdf)
            if n == 0:
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            acc = np.zeros((n, total))
            for d in range(dim):  # sequential over dims == the fold
                acc += X[:, d : d + 1] * S[:, d]
            bits = (acc > 0).astype(np.int64) * weights  # (n, total)
            sigs = bits.reshape(n, num_tables, planes).sum(axis=2)
            yield pd.DataFrame(
                {
                    "vid": pdf[id_col].astype("int64"),
                    "vec": list(X),
                    "sigs": list(sigs),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        batches, "vid long, vec array<double>, sigs array<long>"
    )


def embedding_near_dup_lsh(
    df: DataFrame,
    threshold: float = 0.4,
    planes: int = 4,
    num_tables: int = 8,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block_size: int = 256,
) -> DataFrame:
    """Embedding near-dup via hyperplane-LSH blocking + exact verify.

    Output ⊆ embedding_near_dup_pairs (every candidate is re-scored
    with exact cosine); recall is statistical in (planes, tables) —
    see lsh_topk for the collision math. All joins are equi-joins on
    (table, signature): the corpus is hashed map-side and never
    all-pairs joined.

    ``max_block_size`` is the same HARD cap simhash_pairs carries: at
    FIXED planes every bucket holds ~n/2**planes of the corpus, so
    uncapped in-bucket pair generation is quadratic in n (the 10×
    probe measured ~100× time before the cap). Each (table, sig)
    block truncates deterministically to its first ``max_block_size``
    members by id — total pair work ≤ num_tables·n·cap, linear at any
    corpus size — and the oracle replays the truncation. Vectors past
    the cap in SOME table usually still pair via their other tables;
    a corpus whose buckets are persistently hot needs more ``planes``
    (the blocking bits no longer discriminate — same contract as
    raising semdedup's k with corpus size).
    """
    if dim is None:
        dim = _infer_dim(df, vec_col)
    # Signatures via the Arrow-batched numpy map (bit-identical to the
    # expression form, which at 16 tables x 16 planes falls out of codegen
    # into interpreted HOF evaluation — a measured 50x on the 10x
    # probe); posexplode expands the per-table array AFTER the
    # expensive math, still one corpus scan.
    sb = hyperplane_signatures_batch(df, planes, num_tables, dim, id_col, vec_col)
    blocked = sb.select(
        "vid",
        "vec",
        norm_expr("vec").alias("nrm"),
        F.posexplode("sigs").alias("table", "sig"),
    )
    wb = Window.partitionBy("table", "sig").orderBy("vid")
    blocked = (
        blocked.withColumn("__rn", F.row_number().over(wb))
        .filter(F.col("__rn") <= max_block_size)
        .drop("__rn")
    )
    x, y = blocked.alias("x"), blocked.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.table") == F.col("y.table"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.vid") < F.col("y.vid")),
        )
        .select(
            F.col("x.vid").alias("id_a"),
            F.col("y.vid").alias("id_b"),
            F.col("x.vec").alias("va"),
            F.col("y.vec").alias("vb"),
            F.col("x.nrm").alias("na"),
            F.col("y.nrm").alias("nb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn(
            "cosine", dot_expr("va", "vb") / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def train_ivf_centroids(
    corpus: DataFrame,
    nlist: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = 2048,
    iters: int = 10,
    seed: int = 7,
) -> list[list[float]]:
    """Spherical k-means coarse quantizer for IVF, trained driver-side
    on a deterministic sample (orderBy(id).limit(sample_n)).

    Training on a bounded sample is the standard IVF recipe (FAISS
    trains on ~{39*nlist}..{256*nlist} vectors regardless of corpus
    size), so the collect here stays O(sample_n*dim) at 100 TB — the
    corpus itself is never collected.
    """
    import numpy as np

    rows = (
        corpus.orderBy(id_col)
        .limit(sample_n)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    X = np.array([r["v"] for r in rows])
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(nlist, len(X)), replace=False)].copy()
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    for _ in range(iters):
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        assign = (Xn @ Cn.T).argmax(axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return [[float(x) for x in c] for c in C]


def _cell_sims_sql(vec_sql: str, centroids: list[list[float]]) -> str:
    """array<struct<s: double, cid: int>> scoring a vector SQL
    expression against each centroid; one narrow projection — no
    shuffle, no join.

    Score is dot(v, c)/||c|| with ||c|| a driver-side constant — same
    argmax/ordering as cosine (||v|| is constant per row) without
    re-folding the row norm once per centroid.
    """
    import math

    v = _dbl_sql(vec_sql)
    structs = []
    for cid, c in enumerate(centroids):
        nc = math.sqrt(sum(x * x for x in c)) or 1.0
        structs.append(
            f"named_struct('s', {dot_sql(v, _lit_dbl_array_sql(c))} / "
            f"{repr(float(nc))}D, 'cid', {cid})"
        )
    return "array(" + ",".join(structs) + ")"


def _cell_sql(vec_sql: str, centroids: list[list[float]]) -> str:
    """The IVF cell of a vector: its best-scoring centroid's id."""
    return "array_max(" + _cell_sims_sql(vec_sql, centroids) + ").cid"


def _cell_expr(vec_col: str, centroids: list[list[float]]) -> Column:
    return F.expr(_cell_sql(sql_name(vec_col, "_cell_expr"), centroids))


def _probes_expr(vec_col: str, centroids: list[list[float]], nprobe: int) -> Column:
    """The ``nprobe`` best-scoring cell ids of a query vector column."""
    return F.expr(
        "transform(slice(reverse(array_sort("
        + _cell_sims_sql(sql_name(vec_col, "_probes_expr"), centroids)
        + f")), 1, {int(nprobe)}), s -> s.cid)"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int = 8,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer:
    every corpus vector is assigned to its nearest of `nlist` spherical
    k-means centroids; each query probes its `nprobe` nearest cells and
    re-ranks candidates with exact cosine.

    The scale shape: cell assignment is a narrow map over the corpus
    (centroids are literals — no join, no shuffle), and the probe is a
    broadcast equi-join on cell id, so candidate work per query is
    bounded by cell occupancy (~nprobe/nlist of the corpus). At 100 TB
    the assigned corpus would be written once, partitioned/clustered by
    `cell`, making a probe a partition-pruned scan. Recall→1 as
    nprobe→nlist (nprobe=nlist is exhaustive = brute_force_topk).
    """
    if centroids is None:
        centroids = train_ivf_centroids(corpus, nlist, id_col, vec_col)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _dbl(vec_col).alias("c_vec"),
        _dbl_norm(vec_col).alias("cn"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _dbl(vec_col).alias("q_vec"),
        _dbl_norm(vec_col).alias("qn"),
    )
    c = c.withColumn("cell", _cell_expr("c_vec", centroids))
    q = q.withColumn("cell", F.explode(_probes_expr("q_vec", centroids, nprobe)))
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            dot_expr("q_vec", "c_vec") / (F.col("qn") * F.col("cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    planes: int = 4,
    num_tables: int = 8,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH candidates
    + exact cosine re-rank.

    Standard (planes x tables) trade-off: a pair at angular similarity
    p collides in one table with prob p^planes and in >= 1 of L tables
    with 1-(1-p^planes)^L. At scale the bucket equi-join replaces the
    cross join — the corpus is hashed once (narrow map, no shuffle of
    the vectors themselves), and candidates per query are bounded by
    bucket occupancy. Recall is tested against brute_force_topk.
    """
    if dim is None:
        dim = _infer_dim(corpus, vec_col)
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _dbl(vec_col).alias("q_vec"),
        _dbl_norm(vec_col).alias("qn"),
    )
    # Distinct planes per table (global plane ids [t*planes, ...)).
    # Corpus side: the Arrow-batched numpy signature map (the
    # expression form at these defaults runs interpreted — see
    # hyperplane_signatures_batch); query side stays the expression
    # (q rows are few and broadcast), all tables in one parse.
    cb = hyperplane_signatures_batch(
        corpus, planes, num_tables, dim, id_col, vec_col
    )
    c_blocked = cb.select(
        F.col("vid").alias("neighbor_id"),
        F.col("vec").alias("c_vec"),
        norm_expr("vec").alias("cn"),
        F.posexplode("sigs").alias("table", "sig"),
    )
    q_sigs = F.expr("array(" + ",".join(
        f"struct({t} AS `table`, "
        f"{hyperplane_sql('`q_vec`', planes, dim, t * planes)} AS sig)"
        for t in range(num_tables)
    ) + ")")
    cand = c_blocked.join(
        F.broadcast(q.select("*", F.inline(q_sigs))), ["table", "sig"]
    )
    scored = (
        cand.select("query_id", "neighbor_id", "q_vec", "c_vec", "qn", "cn")
        .dropDuplicates(["query_id", "neighbor_id"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            dot_expr("q_vec", "c_vec") / (F.col("qn") * F.col("cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# ------------------------------------------------------------ product quant.

def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = 2048,
    iters: int = 10,
    seed: int = 11,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: split the (L2-normalized)
    vector into ``m`` contiguous subspaces and run plain k-means with
    ``ksub`` centroids in each, driver-side on a deterministic bounded
    sample (the FAISS recipe — training cost is O(sample_n·dim)
    regardless of corpus size). Returns ``m`` lists of ``ksub``
    centroids of dim/m floats each.
    """
    import numpy as np

    rows = (
        corpus.orderBy(id_col)
        .limit(sample_n)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    X = np.array([r["v"] for r in rows])
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books: list[list[list[float]]] = []
    for j in range(m):
        S = X[:, j * dsub: (j + 1) * dsub]
        C = S[rng.choice(len(S), size=min(ksub, len(S)), replace=False)].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(C)):
                members = S[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books.append([[float(x) for x in c] for c in C])
    return books


def _unit_expr(vec_col: str) -> Column:
    v = sql_name(vec_col, "_unit_expr")
    return F.expr(f"transform({v}, u -> u / {norm_sql(v)})")


def _sub_score_sql(v: str, off: int, cent: list[float]) -> str:
    """|c|² − 2·(x·c) for v[off : off+len(cent)] against a literal
    centroid: the squared L2 distance shifted by the per-row constant
    |x|², which cancels in every use here (argmin over centroids, and
    per-query ADC ranking). Higher-order form (slice + zip_with +
    aggregate): the input array is referenced ONCE per centroid, so a
    transform-derived ``v`` can't be re-evaluated per element — and
    the loop body beats the unrolled element_at chain in codegen
    (A/B'd at sf0.1: ~5.5 s vs ~7.2 s warm for the full encode).
    Summation is index-ascending, identical to the unrolled form, so
    double results are bit-equal and oracles are unaffected."""
    sub = f"slice({v}, {off + 1}, {len(cent)})"
    dot = dot_sql(sub, _lit_dbl_array_sql(cent))
    return f"{repr(float(sum(c * c for c in cent)))}D - {dot} * 2.0D"


def pq_code_expr(vec_col: str, codebooks: list[list[list[float]]]) -> Column:
    """Encode a normalized vector column as ``m`` small codes: per
    subspace, the argmin-distance centroid id (array_min over
    (d2, code) structs — ties to the lowest code, deterministically)."""
    v = sql_name(vec_col, "pq_code_expr")
    dsub = len(codebooks[0][0])
    codes = [
        "array_min(array(" + ",".join(
            f"struct({_sub_score_sql(v, j * dsub, cent)} AS d2, {code} AS code)"
            for code, cent in enumerate(book)
        ) + ")).code"
        for j, book in enumerate(codebooks)
    ]
    return F.expr("array(" + ",".join(codes) + ")")


def _adc_table_expr(vec_col: str, codebooks: list[list[list[float]]]) -> Column:
    """Per-query ADC lookup table: table[j][code] = the j-th
    subvector's distance score to that centroid (squared L2 shifted by
    the per-query constant Σ|q_j|² — candidate ORDERING per query is
    identical, which is all ADC ranking uses)."""
    v = sql_name(vec_col, "_adc_table_expr")
    dsub = len(codebooks[0][0])
    return F.expr("array(" + ",".join(
        "array(" + ",".join(_sub_score_sql(v, j * dsub, cent) for cent in book) + ")"
        for j, book in enumerate(codebooks)
    ) + ")")


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int = 8,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    refine_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k: IVF cells bound the candidate set,
    PQ asymmetric-distance (ADC) scoring ranks candidates from m code
    lookups instead of dim multiplies, and the best refine_factor·k
    per query are re-ranked with exact cosine.

    Vectors are L2-normalized before encoding, so ADC's squared L2
    ordering is monotone with cosine (|u-v|² = 2-2cos for unit
    vectors) — the compressed ranking chases the same objective the
    refinement checks. The scale story: the corpus side is a narrow
    map (cell + m-byte codes from literal centroids — at rest this is
    a ~dim·4/m-fold compression of the index), the probe is the same
    broadcast equi-join as IVF, and ADC costs O(m) per candidate.
    """
    if centroids is None:
        centroids = train_ivf_centroids(corpus, nlist, id_col, vec_col)
    if codebooks is None:
        codebooks = train_pq_codebooks(corpus, m, ksub, id_col, vec_col)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _dbl(vec_col).alias("c_vec"),
        _dbl_norm(vec_col).alias("cn"),
    )
    c = c.withColumn("cell", _cell_expr("c_vec", centroids))
    # Materialize the unit vector in its own column: element access in
    # the encoder then hits an attribute, not a re-embedded O(dim)
    # normalize transform (projection-collapse trap; A/B'd ~20% faster).
    c = c.withColumn("c_unit", _unit_expr("c_vec")).withColumn(
        "codes", pq_code_expr("c_unit", codebooks)
    ).drop("c_unit")
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _dbl(vec_col).alias("q_vec"),
        _dbl_norm(vec_col).alias("qn"),
    )
    q = (
        q.withColumn("q_unit", _unit_expr("q_vec"))
        .withColumn("qtab", _adc_table_expr("q_unit", codebooks))
        .drop("q_unit")
        .withColumn("cell", F.explode(_probes_expr("q_vec", centroids, nprobe)))
    )
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.element_at(F.col("qtab"), j + 1),
            F.element_at(F.col("codes"), j + 1) + 1,
        ),
    )
    cand = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc_score", adc)
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc_score").asc(), F.col("neighbor_id")
    )
    refined = (
        cand.withColumn("adc_rank", F.row_number().over(w_adc))
        .filter(F.col("adc_rank") <= refine_factor * k)
        .withColumn(
            "cosine",
            dot_expr("q_vec", "c_vec") / (F.col("qn") * F.col("cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        refined.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# ----------------------------------------------------------- persisted IVF

def write_ivf_index(
    corpus: DataFrame,
    path: str,
    nlist: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> list[list[float]]:
    """Materialize the IVF index: assign every corpus vector to its
    nearest centroid and write Parquet PARTITIONED BY cell, with the
    centroids in a JSON sidecar. This is the 100 TB shape SCALE.md
    promises: the corpus is written once, and every probe afterwards
    is a partition-pruned scan of ~nprobe/nlist of the data — no
    full-corpus scan per query batch. Returns the centroids used.
    """
    import json
    import os

    if centroids is None:
        centroids = train_ivf_centroids(corpus, nlist, id_col, vec_col)
    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _dbl(vec_col).alias("c_vec"),
        _dbl_norm(vec_col).alias("cn"),
    ).withColumn("cell", _cell_expr("c_vec", centroids))
    assigned.write.partitionBy("cell").mode("overwrite").parquet(path)
    with open(os.path.join(path, "_ivf_centroids.json"), "w") as fh:
        json.dump(centroids, fh)
    return centroids


def append_to_ivf_index(
    new_corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Incremental index refresh — the FAISS ``add`` shape: assign NEW
    vectors to the EXISTING centroids (read from the sidecar, never
    retrained) and append them to their cell partitions. Probes see
    the appended vectors immediately through the same partition-pruned
    scan; no rebuild, and existing files are untouched. Distribution
    drift degrades cell balance over time — rebuild via
    write_ivf_index to retrain, the operational rule of every IVF
    index. Returns the number of appended vectors."""
    import json
    import os

    with open(os.path.join(path, "_ivf_centroids.json")) as fh:
        centroids = json.load(fh)
    assigned = new_corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _dbl(vec_col).alias("c_vec"),
        _dbl_norm(vec_col).alias("cn"),
    ).withColumn("cell", _cell_expr("c_vec", centroids))
    n = assigned.count()
    assigned.write.partitionBy("cell").mode("append").parquet(path)
    return n


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k probe against a persisted IVF index (write_ivf_index).

    The probed cell ids are resolved driver-side from the (small)
    query set and injected as an IN-filter on the PARTITION column, so
    the scan reads only the probed cells' files — visible as
    `PartitionFilters: [cell IN (...)]` in the plan. Scoring matches
    ivf_topk: exact cosine inside probed cells, deterministic order.
    """
    import json
    import os

    with open(os.path.join(path, "_ivf_centroids.json")) as fh:
        centroids = json.load(fh)
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _dbl(vec_col).alias("q_vec"),
        _dbl_norm(vec_col).alias("qn"),
    )
    q = q.withColumn("cell", F.explode(_probes_expr("q_vec", centroids, nprobe)))
    probe_cells = sorted(
        {r["cell"] for r in q.select("cell").distinct().collect()}
    )
    c = spark.read.parquet(path).filter(F.col("cell").isin(probe_cells))
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            dot_expr("q_vec", "c_vec") / (F.col("qn") * F.col("cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def sqdist_sql(a: str, b: str) -> str:
    """Sequential-fold squared L2 distance in double over two SQL
    expressions — same order-deterministic shape as dot_sql, so the
    DuckDB oracle's list_reduce reproduces the exact IEEE result."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), 0.0D, "
        "(acc, x) -> acc + x)"
    )


def kmeans_parallel_init(
    corpus: DataFrame,
    k: int = 8,
    l: int | None = None,
    rounds: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """k-means|| scalable initialization (Bahmani et al., VLDB 2012 —
    the init Spark MLlib itself ships): instead of k sequential
    k-means++ passes over the corpus, oversample ~l candidates per
    round for O(rounds) passes, weight each candidate by the corpus
    mass it attracts, and solve the tiny weighted problem driver-side.
    Feed the result to kmeans_lloyd(init_centers=...) — good centers
    in a FIXED number of corpus scans regardless of k, where
    k-means++ needs k scans (a non-starter at k ≈ corpus/1k, the
    SemDeDup recipe).

    Deterministic without RNG, per repo convention: the paper's coin
    flip P(pick x) = min(1, l·d²(x,C)/φ) keeps x iff
    md5-uniform(vid, round) < that probability (hash60/2⁶⁰ — the same
    seedless device as the JL/LSH planes); φ accumulates in DECIMAL so
    the threshold is partition-order-free. The driver-side recluster
    is greedy weighted farthest-point (max weight·d²) + weighted Lloyd
    in numpy — deterministic, O((l·rounds)²·k) flops on ≤ a few
    hundred candidates.

    Scale shape per round: candidates broadcast as literals (≤ l·round
    entries), one narrow-map d² pass feeding a 1-row DECIMAL agg (φ),
    one narrow-map filter whose survivors (expected l) are collected —
    no corpus-grain shuffle anywhere. The weighting pass is one argmin
    map + one ≤|C|-row groupBy."""
    import numpy as np

    if l is None:
        l = 2 * k
    v = corpus.select(F.col(id_col).alias("vid"), _dbl(vec_col).alias("v"))

    first = v.orderBy("vid").limit(1).collect()[0]
    cands: list[list[float]] = [[float(x) for x in first["v"]]]
    cand_ids = {first["vid"]}

    for r in range(rounds):
        d2 = F.expr(
            f"array_min(transform({_lit_dbl_matrix_sql(cands)}, "
            f"c -> {sqdist_sql('`v`', 'c')}))"
        )
        phi = v.select(
            F.sum(d2.cast("decimal(38,12)")).alias("phi")
        ).collect()[0]["phi"]
        if phi is None or float(phi) == 0.0:
            break
        u = hash60_expr(
            F.concat(F.lit(f"kmpar{r}:"), F.col("vid").cast("string"))
        ).cast("double") / F.lit(float(1 << 60))
        picked = (
            v.filter(u * F.lit(float(phi)) < F.lit(float(l)) * d2)
            .orderBy("vid")
            .collect()
        )
        for row in picked:
            if row["vid"] not in cand_ids:
                cand_ids.add(row["vid"])
                cands.append([float(x) for x in row["v"]])

    # Weight every candidate by the corpus mass it attracts (one pass).
    dists = F.expr(
        f"transform({_lit_dbl_matrix_sql(cands)}, "
        f"(c, i) -> struct({sqdist_sql('`v`', 'c')} AS d2, i AS ci))"
    )
    wrows = (
        v.select(F.array_min(dists)["ci"].cast("int").alias("ci"))
        .groupBy("ci")
        .agg(F.count("*").alias("w"))
        .collect()
    )
    W = np.zeros(len(cands))
    for row in wrows:
        W[row["ci"]] = row["w"]
    X = np.array(cands)

    if len(cands) <= k:
        return [[float(x) for x in c] for c in cands]

    # Greedy weighted farthest-point seeding + weighted Lloyd (numpy).
    chosen = [int(W.argmax())]
    d2x = ((X - X[chosen[0]]) ** 2).sum(axis=1)
    while len(chosen) < k:
        nxt = int((W * d2x).argmax())
        chosen.append(nxt)
        d2x = np.minimum(d2x, ((X - X[nxt]) ** 2).sum(axis=1))
    C = X[chosen].copy()
    for _ in range(10):
        a = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
        for j in range(k):
            m = a == j
            if W[m].sum() > 0:
                C[j] = (X[m] * W[m, None]).sum(axis=0) / W[m].sum()
    return [[float(x) for x in c] for c in C]


def kmeans_lloyd(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init_centers: list[list[float]] | None = None,
) -> DataFrame:
    """Distributed Lloyd k-means over an embedding column — unlike
    train_ivf_centroids (the FAISS bounded-sample recipe, a driver-side
    collect of a SAMPLE), every corpus-sized step here is a DataFrame
    op: assignment is a corpus × k broadcast, the centroid update is
    one (cid, pos) aggregation. Only the k·dim centroid TABLE crosses
    the driver between rounds — the same bytes the assignment step
    already collapses into its one-row broadcast, bounded by the k and
    dim parameters, never by corpus size.

    Returns the final assignment [vec_id, cluster_id, dist2].

    Deterministic and cross-engine exact, by construction:
    - seeds = the k lowest-id vectors (no RNG);
    - assignment ties break to the lowest cluster id;
    - per-component means sum in DECIMAL(38,18) (order-free) and
      divide ONCE in double;
    - distances are sequential folds (sqdist_sql ≡ list_reduce).
    Empty clusters keep their previous centroid.

    Scale shape per iteration: one broadcast of k·dim doubles (the
    centroids collapsed to a single array row), assignment as a
    zero-shuffle narrow map (array_min over per-centroid distances),
    one posexplode shuffle of corpus × dim keyed (cid, pos) — all
    linear; per-round driver state is the k·dim centroid table only
    (see the loop note below for why the round-trip replaced the
    in-plan centroid chain).
    """
    spark = corpus.sparkSession
    v = corpus.select(F.col(id_col).alias("vid"), _dbl(vec_col).alias("v"))
    if init_centers is not None:
        # e.g. kmeans_parallel_init's output — k-means|| seeding
        C = [[float(x) for x in c] for c in init_centers]
    else:
        # NULL vectors never seed (a NULL centroid would poison every
        # distance); they also never update centroids (posexplode of
        # NULL emits nothing) and assign to the lowest cluster id with
        # NULL dist2 — defined, total semantics for dirty corpora.
        # limit(k).collect() is the bounded centroid-table round-trip
        # (k rows of dim doubles — see the loop note below).
        C = [
            list(r["c"])
            for r in v.filter(F.col("v").isNotNull())
            .orderBy("vid")
            .limit(k)
            .select(F.col("v").alias("c"))
            .collect()
        ]

    def cents_df(cs: list[list[float]]) -> DataFrame:
        if not cs:  # empty corpus: typed empty relation (cold path)
            return spark.createDataFrame([], "cid int, c array<double>")
        # k rows (cid, c) off ONE parsed literal matrix — a
        # createDataFrame per round costs ~0.2 s of py4j/RDD setup at
        # any size, while one expr parse is ~100× cheaper (the
        # _lit_dbl_array device); posexplode's position IS the cid
        # because the matrix is built in cid order
        return spark.range(1).select(
            F.posexplode(_lit_dbl_matrix(cs)).alias("cid", "c")
        )

    def assign(cs: list[list[float]]) -> DataFrame:
        # Assignment is a pure NARROW map over the corpus; each vector
        # takes the lexicographic min over (d2, cid) — bit-identically
        # the orderBy(d2, cid) row_number()==1 it replaces.
        #
        # Two physical forms, same bits (asserted in tests):
        # - k <= _ARROW_ASSIGN_MAX_K (every curation-family caller):
        #   the k·dim sqdist folds run in an Arrow batch map with the
        #   sequential-over-dims accumulation (the pair-kernel device:
        #   acc += (x_d−c_d)², one dim at a time, rows vectorized) —
        #   exact sqdist_sql fold bits at numpy speed; np.argmin's
        #   first-min is the lowest-cid tie-break because positions
        #   ascend with cid. The centroid table rides the task CLOSURE
        #   (k·dim doubles pickled once per task — the same bytes the
        #   former crossJoin(broadcast) shipped, minus the broadcast
        #   exchange subjob and the per-row Arrow copy of the joined
        #   cents column that made this path k-gated in the first
        #   place); the input stays the bare (vid, v) projection.
        # - larger k (the paper-scale k ≈ corpus/1k regime): the
        #   expression form — JVM rows share the one broadcast struct
        #   array by reference, so no per-task centroid copy; the HOF
        #   fold runs interpreted (measured 3× the whole-kmeans wall
        #   at sf0.1, the price of staying copy-free at huge k).
        if k <= _ARROW_ASSIGN_MAX_K:
            C0 = [[float(x) for x in c] for c in cs]

            def batches(it):
                import numpy as np
                import pandas as pd

                cids = np.arange(len(C0), dtype=np.int32)
                C = np.array(C0, dtype=np.float64) if C0 else None
                for pdf in it:
                    if len(pdf) == 0:
                        continue
                    nulls = pdf[pdf["v"].isna()]
                    if len(nulls):
                        # NULL vector: no distance; lowest cluster id,
                        # NULL dist2 (verdict rows downstream stay total)
                        yield pd.DataFrame(
                            {
                                "vid": nulls["vid"].astype("int64"),
                                "cid": (
                                    int(cids[0]) if len(cids) else None
                                ),
                                "v": [None] * len(nulls),
                                "d2": [None] * len(nulls),
                            }
                        )
                    pdf = pdf[pdf["v"].notna()]
                    if len(pdf) == 0 or C is None:
                        continue
                    X = np.stack(
                        [np.asarray(x, dtype=np.float64) for x in pdf["v"]]
                    )
                    n, dim = X.shape
                    acc = np.zeros((n, C.shape[0]))
                    for d in range(dim):  # sequential over dims == fold
                        diff = X[:, d: d + 1] - C[:, d][None, :]
                        acc += diff * diff
                    j = acc.argmin(axis=1)
                    yield pd.DataFrame(
                        {
                            "vid": pdf["vid"].astype("int64"),
                            "cid": cids[j],
                            "v": list(X),
                            "d2": acc[np.arange(n), j],
                        }
                    )

            return v.mapInPandas(
                batches, "vid long, cid int, v array<double>, d2 double"
            )
        carr = cents_df(cs).agg(
            F.array_sort(F.collect_list(F.struct("cid", "c"))).alias("cents")
        )
        dists = F.expr(
            "transform(`cents`, s -> struct("
            f"{sqdist_sql('`v`', 's.c')} AS d2, s.cid AS cid))"
        )
        # NULL vector: same defined semantics as the Arrow path —
        # lowest cluster id, NULL dist2 (never folded against a
        # centroid, never relying on null-field struct ordering)
        best = F.when(
            F.col("v").isNotNull(), F.array_min(dists)
        ).otherwise(
            F.struct(
                F.lit(None).cast("double").alias("d2"),
                F.element_at(F.col("cents"), 1)["cid"].alias("cid"),
            )
        )
        return (
            v.crossJoin(F.broadcast(carr))
            # Generate is a projection-collapse barrier: `best` lands as
            # a real attribute, so the k sqdists run once per row even
            # though two fields are read below (the transform
            # re-evaluation trap — SCALE traps memo).
            .select("vid", "v", F.explode(F.array(best)).alias("best"))
            .select(
                "vid", F.col("best.cid").alias("cid"), "v", F.col("best.d2").alias("d2")
            )
        )

    # Per-round centroid ROUND-TRIP instead of an in-plan centroid
    # table: collect the (cid, pos, m) means — ≤ k·dim rows, the SAME
    # bytes assign() already funnels into its one-row broadcast — and
    # re-inject them as a k-row local relation next round. The previous
    # form kept centroids as a join + localCheckpoint chain; even a
    # LAZY localCheckpoint pays full analysis + physical planning of
    # the cumulative plan at build time, and the measured cost was
    # DRIVER-side: ~1.5s/row of planning across the kmeans family at
    # sf0.1 (guide §7.3 "nothing is running"). Values are bit-identical:
    # m is computed in-engine (DECIMAL(38,18) sum → one double divide)
    # and the collect/createDataFrame round-trip preserves the exact
    # IEEE doubles; empty clusters keep their previous centroid, as
    # before. Driver state stays bounded by k·dim (the
    # pca_top_component / IVF-centroid device), never by corpus size.
    for _ in range(iters):
        a = assign(C)
        comp = a.select("cid", F.posexplode("v").alias("pos", "x"))
        means = (
            comp.groupBy("cid", "pos")
            .agg(
                F.sum(F.col("x").cast("decimal(38,18)")).alias("s"),
                F.count("*").alias("n"),
            )
            .select(
                "cid", "pos", (F.col("s").cast("double") / F.col("n")).alias("m")
            )
        )
        upd: dict[int, dict[int, float]] = {}
        for r in means.collect():
            upd.setdefault(r["cid"], {})[r["pos"]] = r["m"]
        nxt = []
        for i, old in enumerate(C):
            byp = upd.get(i)
            nxt.append([byp[p] for p in sorted(byp)] if byp else old)
        C = nxt

    return assign(C).select(
        F.col("vid").alias("vec_id"),
        F.col("cid").cast("long").alias("cluster_id"),
        F.col("d2").alias("dist2"),
    )


# ------------------------------------- Arrow within-cluster pair kernels
#
# The semdedup/d4/hard-negatives family compares vectors pairwise
# inside their k-means cell. The Column form (cluster equi-join +
# dot_expr fold per pair) evaluates the fold INTERPRETED — dim
# multiplies per pair through the HOF evaluator, the same ceiling
# hyperplane_signatures_batch documents — and materializes Σ|cell|²
# join rows each carrying TWO full vectors. These kernels do the same
# arithmetic per k-means cell in numpy: one groupBy(cluster) →
# applyInPandas, the cosine matrix accumulated SEQUENTIALLY OVER
# DIMENSIONS (acc starts at 0.0 and adds one x_d·y_d per step, rows
# vectorized — each pair's IEEE add sequence equals the zip_with +
# aggregate fold exactly, the hyperplane_signatures_batch device), so
# every cosine is BIT-IDENTICAL to the Column form and the DuckDB
# oracles' list_reduce replay — asserted bit-for-bit in tests. Work
# per cell is the same Σ|cell|²·dim flops at C speed with no wide-row
# materialization; blocks of ``_PAIR_BLOCK`` rows bound the resident
# cosine matrix however hot a cell gets.


_PAIR_BLOCK = 2048

# kmeans_lloyd's Arrow assignment path materializes the joined
# centroid array per row (k·dim doubles through Arrow), so it is
# gated to small k; past the gate the expression form keeps assignments
# copy-free (JVM rows share the broadcast array by reference).
_ARROW_ASSIGN_MAX_K = 64


def _pair_cosine_blocks(X, nrm, block: int = _PAIR_BLOCK):
    """Yield (row_start, C_block) over the n×n cosine matrix of X
    (n×dim float64), C computed with the exact dot_expr/norm_expr op
    sequence: sequential-over-dims fold, then dot / (na · nb)."""
    import numpy as np

    n, dim = X.shape
    for s in range(0, n, block):
        e = min(s + block, n)
        acc = np.zeros((e - s, n))
        for d in range(dim):  # sequential over dims == the fold
            acc += X[s:e, d: d + 1] * X[:, d][None, :]
        yield s, acc / (nrm[s:e, None] * nrm[None, :])


def _cluster_norms(X):
    """norm_expr replayed: sqrt of the sequential x_d² fold."""
    import numpy as np

    n, dim = X.shape
    acc = np.zeros(n)
    for d in range(dim):
        acc += X[:, d] * X[:, d]
    return np.sqrt(acc)


def _sorted_cluster_matrix(pdf, id_col: str, vec_col: str):
    import numpy as np

    pdf = pdf[pdf[vec_col].notna()]  # NULL vec never yields/joins a pair
    pdf = pdf.sort_values(id_col)
    ids = pdf[id_col].to_numpy()
    if len(ids) == 0:
        return ids, None
    X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    return ids, X


def _cluster_dup_ids_arrow(
    base: DataFrame, tau: float, id_col: str = "vid", vec_col: str = "vec"
) -> DataFrame:
    """[cluster_id, vid, vec] → the ids having a SMALLER-id peer with
    cosine >= tau in their cluster (the greedy lowest-id-keep drop
    set) — bit-identical to the cluster join + dot_expr filter."""
    import numpy as np
    import pandas as pd

    def f(pdf):
        ids, X = _sorted_cluster_matrix(pdf, id_col, vec_col)
        if X is None or len(ids) < 2:
            return pd.DataFrame({id_col: ids[:0]})
        nrm = _cluster_norms(X)
        n = len(ids)
        dropped = np.zeros(n, dtype=bool)
        cols = np.arange(n)[None, :]
        for s, C in _pair_cosine_blocks(X, nrm):
            ge = C >= tau
            ge &= cols > (s + np.arange(C.shape[0]))[:, None]  # id_a < id_b
            dropped |= ge.any(axis=0)
        return pd.DataFrame({id_col: ids[dropped]})

    return (
        base.select("cluster_id", F.col(id_col), F.col(vec_col))
        .groupBy("cluster_id")
        .applyInPandas(lambda pdf: f(pdf), f"{id_col} long")
    )


def _cluster_hard_negatives_arrow(
    base: DataFrame, tau: float, id_col: str = "vid", vec_col: str = "vec"
) -> DataFrame:
    """[cluster_id, vid, vec] → per vector its most-similar other
    vector UNDER the duplicate threshold: argmax by (cosine desc, id
    asc) over in-cell peers with cosine < tau. Bit-identical to the
    pair join + struct-max form: cosines carry the exact fold bits,
    and ids ascend with row position so numpy's first-max argmax IS
    the (cosine, -id) lexicographic max."""
    import numpy as np
    import pandas as pd

    def f(pdf):
        ids, X = _sorted_cluster_matrix(pdf, id_col, vec_col)
        empty = pd.DataFrame(
            {"vec_id": ids[:0], "negative_id": ids[:0],
             "cosine": np.zeros(0)}
        )
        if X is None or len(ids) < 2:
            return empty
        nrm = _cluster_norms(X)
        n = len(ids)
        out_x, out_j, out_c = [], [], []
        cols = np.arange(n)[None, :]
        for s, C in _pair_cosine_blocks(X, nrm):
            lt = C < tau
            lt &= cols != (s + np.arange(C.shape[0]))[:, None]  # no self
            vals = np.where(lt, C, -np.inf)
            j = vals.argmax(axis=1)  # first max == smallest id on ties
            v = vals[np.arange(C.shape[0]), j]
            keep = v > -np.inf
            out_x.append(ids[s: s + C.shape[0]][keep])
            out_j.append(ids[j[keep]])
            out_c.append(v[keep])
        return pd.DataFrame(
            {
                "vec_id": np.concatenate(out_x),
                "negative_id": np.concatenate(out_j),
                "cosine": np.concatenate(out_c),
            }
        )

    return (
        base.select("cluster_id", F.col(id_col), F.col(vec_col))
        .groupBy("cluster_id")
        .applyInPandas(lambda pdf: f(pdf), "vec_id long, negative_id long, cosine double")
    )


def semdedup(
    corpus: DataFrame,
    tau: float = 0.4,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init_centers: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by k-means-bounded cosine pruning. Cluster the
    corpus with distributed Lloyd k-means, compare vectors pairwise
    ONLY within their cluster, and greedily drop every vector that has
    a near-duplicate (cosine >= tau) with a smaller id in the same
    cluster.

    Returns [vec_id, cluster_id, kept] for EVERY input vector — the
    keep/drop decision is the product; callers filter kept for the
    surviving corpus.

    This is the embedding-family analog of the paper's recipe and the
    scale path past embedding_near_dup_pairs' all-pairs join: the
    pairwise stage is an equi-join on cluster_id, so total work is
    Σ|cluster|² instead of n². At 100 TB you run k ≈ corpus/1k
    clusters (the paper uses k=50k at 100M scale) and the per-cluster
    quadratic term stays bounded; seed those k centers with
    kmeans_parallel_init(...) via ``init_centers`` — min-id seeding
    needs luck at k=50k, and k-means++ would need k corpus scans; a pathological hot cluster is fixed
    by raising k (the assignment step is linear in k via one broadcast
    of k·dim doubles). Greedy lowest-id keep (not connected
    components) matches docs_curation's pair rule: deterministic,
    single-pass, and exactly SQL-replayable.
    """
    # the thin (vec_id, cluster_id) assignment feeds several lineage
    # references below; checkpoint it once so the per-vector k-distance
    # assignment map (and the k-means rounds under it) never re-run per
    # consumer — O(corpus) ids+cells on local disk, not vectors
    assign = kmeans_lloyd(
        corpus, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
        init_centers=init_centers,
    ).select("vec_id", "cluster_id").transform(_lineage_barrier, eager=False)
    base = (
        corpus.select(
            F.col(id_col).alias("vid"),
            _dbl(vec_col).alias("vec"),
        )
        .join(assign.select(F.col("vec_id").alias("vid"), "cluster_id"), "vid")
    )
    # within-cell pairwise stage as the Arrow kernel — bit-identical
    # cosines to the former cluster join + dot_expr fold (see the
    # kernel block above), Σ|cell|²·dim flops at numpy speed instead
    # of interpreted HOF evaluation over materialized vector pairs
    dropped = _cluster_dup_ids_arrow(base, tau).withColumn(
        "__dropped", F.lit(True)
    )
    return (
        base.join(dropped, "vid", "left")
        .select(
            F.col("vid").alias("vec_id"),
            F.col("cluster_id"),
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("kept"),
        )
    )


def hard_negatives(
    corpus: DataFrame,
    tau: float = 0.4,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init_centers: list[list[float]] | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every
    vector, the most-similar OTHER vector in its k-means cell whose
    cosine is BELOW the near-duplicate threshold ``tau`` — similar
    enough to be a hard example, not similar enough to be a duplicate
    (the DPR/SimCSE in-batch-negative recipe, mined corpus-wide
    against the same cells SemDeDup prunes with instead of per batch).

    Returns [vec_id, negative_id, cosine]; a vector whose cell holds
    no eligible peer produces no row. Deterministic: argmax by
    (cosine desc, id asc); cosine involves only ORIGINAL vectors (no
    centroid values), so the sequential folds are bit-identical
    cross-engine with no narrowing needed.

    Scale shape: one k-means (assignment is a zero-shuffle narrow
    map), one within-cell pair join (Σ|cell|², k-bounded — the
    semdedup term; each unordered pair folds its cosine ONCE and a
    2-element explode emits both orientations), one per-vector argmax
    as a map-side-combinable struct-max aggregation.
    """
    # the thin (vec_id, cluster_id) assignment feeds several lineage
    # references below; checkpoint it once so the per-vector k-distance
    # assignment map (and the k-means rounds under it) never re-run per
    # consumer — O(corpus) ids+cells on local disk, not vectors
    assign = kmeans_lloyd(
        corpus, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
        init_centers=init_centers,
    ).select("vec_id", "cluster_id").transform(_lineage_barrier, eager=False)
    base = corpus.select(
        F.col(id_col).alias("vid"),
        _dbl(vec_col).alias("vec"),
    ).join(assign.select(F.col("vec_id").alias("vid"), "cluster_id"), "vid")
    # per-cell argmax in the Arrow kernel: cosines carry the exact
    # fold bits (see the kernel block above) and ids ascend with row
    # position, so numpy's first-max argmax IS the (cosine, -id)
    # struct max the Column form aggregated — with neither the
    # Σ|cell|² materialized pair rows nor their interpreted folds
    return _cluster_hard_negatives_arrow(base, tau)


def prototypicality(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
) -> DataFrame:
    """Per-group prototypicality ranking (the D4 recipe — Tirumala et
    al. 2023, arXiv:2308.12284 — ranks SemDeDup-survivors by distance
    to their cluster centroid and prunes the most prototypical as
    redundant): cosine of every vector to its group's mean vector,
    ranked within the group (rank 1 = most prototypical).

    Returns [vec_id, <group_col>, proto_cosine, rank].

    Scale shape: the centroid is ONE (group, pos) aggregation over a
    posexplode of the corpus (same device as kmeans_lloyd's update
    step — linear, map-combinable), and the scoring join is an
    equi-join on the group key against a relation of |groups| rows.
    Cross-engine exact by the kmeans devices: DECIMAL(38,18) component
    sums with a single double division, sequential-fold dot/norms,
    (cosine desc, id) rank tie-break.
    """
    v = corpus.select(
        F.col(id_col).alias("vid"), F.col(group_col).alias("grp"), _dbl(vec_col).alias("v")
    )
    comp = v.select("grp", F.posexplode("v").alias("pos", "x"))
    cents = (
        comp.groupBy("grp", "pos")
        .agg(
            F.sum(F.col("x").cast("decimal(38,18)")).alias("s"),
            F.count("*").alias("n"),
        )
        .select("grp", "pos", (F.col("s").cast("double") / F.col("n")).alias("m"))
        .groupBy("grp")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("c")
        )
    )
    scored = v.join(cents.withColumn("cn", norm_expr("c")), "grp").withColumn(
        "proto_cosine",
        dot_expr("v", "c") / (norm_expr("v") * F.col("cn")),
    )
    w = Window.partitionBy("grp").orderBy(F.col("proto_cosine").desc(), "vid")
    return scored.select(
        F.col("vid").alias("vec_id"),
        F.col("grp").alias(group_col),
        "proto_cosine",
        F.row_number().over(w).cast("long").alias("rank"),
    )


def d4_prune(
    corpus: DataFrame,
    tau: float = 0.4,
    k: int = 8,
    iters: int = 2,
    prune_pct: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init_centers: list[list[float]] | None = None,
) -> DataFrame:
    """D4 (Tirumala et al. 2023, arXiv:2308.12284) — the composed
    embedding-curation pipeline: SemDeDup drops semantic duplicates
    (within-cluster cosine >= tau, greedy lowest-id keep), then the
    ``prune_pct``% MOST prototypical survivors of each cluster (the
    vectors nearest the cluster mean — the redundant "template"
    examples) are pruned for diversity.

    Returns a verdict for EVERY vector:
    [vec_id, cluster_id, verdict in ('dup','proto_pruned','kept'),
    proto_cosine (NULL for dups)].

    Scale shape = the union of its parts: one distributed k-means
    (linear per iteration), one within-cluster pair join
    (Σ|cluster|², k-bounded), one (cluster, pos) centroid aggregation
    over survivors, one rank window per cluster. The prune boundary
    uses integer arithmetic (rank <= (n·prune_pct) div 100) so both
    engines cut at the identical row.
    """
    # the thin (vec_id, cluster_id) assignment feeds several lineage
    # references below; checkpoint it once so the per-vector k-distance
    # assignment map (and the k-means rounds under it) never re-run per
    # consumer — O(corpus) ids+cells on local disk, not vectors
    assign = kmeans_lloyd(
        corpus, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
        init_centers=init_centers,
    ).select("vec_id", "cluster_id").transform(_lineage_barrier, eager=False)
    base = (
        corpus.select(
            F.col(id_col).alias("vid"),
            _dbl(vec_col).alias("v"),
            # norms once per VECTOR before the pair join (the semdedup
            # device) — recomputing them per PAIR inside the filter is
            # |cluster|× more fold work for bit-identical doubles
            _dbl_norm(vec_col).alias("nrm"),
        )
        .join(assign.select(F.col("vec_id").alias("vid"), "cluster_id"), "vid")
    )
    # within-cell dup drop as the Arrow kernel — bit-identical to the
    # former cluster join + dot_expr threshold (see kernel block).
    # Lazy barrier on the dropped-id set: `kept` is consumed by BOTH the
    # centroid aggregation and the scoring join below, and without it
    # the whole Σ|cell|² pair kernel (and its cluster_id shuffle) runs
    # once per consumer — the barrier is O(dups) ids on local disk.
    dropped = _cluster_dup_ids_arrow(base, tau, vec_col="v").transform(_lineage_barrier, eager=False)
    kept = base.join(dropped, "vid", "left_anti")
    comp = kept.select("cluster_id", F.posexplode("v").alias("pos", "x"))
    cents = (
        comp.groupBy("cluster_id", "pos")
        .agg(
            F.sum(F.col("x").cast("decimal(38,18)")).alias("s"),
            F.count("*").alias("n"),
        )
        .select("cluster_id", "pos", (F.col("s").cast("double") / F.col("n")).alias("m"))
        .groupBy("cluster_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("c")
        )
    )
    scored = kept.join(
        cents.withColumn("cn", norm_expr("c")), "cluster_id"
    ).withColumn(
        "pc", dot_expr("v", "c") / (F.col("nrm") * F.col("cn"))
    )
    wr = Window.partitionBy("cluster_id").orderBy(F.col("pc").desc(), "vid")
    wn = Window.partitionBy("cluster_id")
    ranked = scored.select(
        "vid",
        "cluster_id",
        "pc",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    out = base.select("vid", "cluster_id").join(
        ranked.select("vid", "pc", "rn", "n"), "vid", "left"
    )
    return out.select(
        F.col("vid").alias("vec_id"),
        "cluster_id",
        F.when(F.col("rn").isNull(), F.lit("dup"))
        .when(F.col("rn") <= F.expr(f"(n*{prune_pct}) div 100"), F.lit("proto_pruned"))
        .otherwise(F.lit("kept"))
        .alias("verdict"),
        F.col("pc").alias("proto_cosine"),
    )


def pca_top_component(
    corpus: DataFrame,
    iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed PCA, top principal component by fixed-round power
    iteration: mean-center, accumulate the d×d covariance as ONE
    (p, q) aggregation over per-vector outer products, then iterate
    v ← Cv/||Cv|| from the e₁ basis vector for ``iters`` rounds.

    Returns one row per dimension:
    [pos, mu, pc1, lambda1, explained_frac] — the whitening/projection
    vector an embedding pipeline applies before quantization or ANN,
    plus the variance-explained diagnostic.

    Scale shape: the corpus is touched twice (mean, covariance), both
    map-combinable aggregations; every power round then works on the
    d² covariance table (4096 rows at d=64) with the current vector as
    d literals (driver collect of d doubles/round — the bounded
    IVF-centroid pattern). Determinism: covariance, every matvec, the
    norm, trace, and the Rayleigh quotient all sum in DECIMAL(38,18)
    (order-free) IN-ENGINE, and the only driver-side math is IEEE
    element division — the whole iteration is bit-reproducible
    cross-engine, so the oracle replays it exactly (fixed rounds, not
    a convergence test — the kmeans/pagerank convention)."""
    spark = corpus.sparkSession
    if corpus.isEmpty():
        return spark.createDataFrame(
            [], "pos long, mu double, pc1 double, lambda1 double, explained_frac double"
        )
    d = _infer_dim(corpus, vec_col)
    v = corpus.select(_dbl(vec_col).alias("v"))
    comp = v.select(F.posexplode("v").alias("pos", "x"))
    mu = comp.groupBy("pos").agg(
        (F.sum(F.col("x").cast("decimal(38,18)")).cast("double") / F.count("*")).alias(
            "mu"
        )
    )
    mu_rows = {r["pos"]: r["mu"] for r in mu.collect()}
    mu_arr = _lit_dbl_array(mu_rows.get(i, 0.0) for i in range(d))
    n = v.count()
    cov = (
        v.withColumn("__mu", mu_arr)
        .select(
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(0, {d - 1}), p ->"
                    f" transform(sequence(0, {d - 1}), q -> struct(p AS p, q AS q,"
                    " (v[p] - element_at(__mu, p+1)) * (v[q] - element_at(__mu, q+1)) AS t))))"
                )
            ).alias("e")
        )
        .groupBy(F.col("e.p").alias("p"), F.col("e.q").alias("q"))
        .agg(
            (F.sum(F.col("e.t").cast("decimal(38,18)")).cast("double") / F.lit(n)).alias("c")
        )
        .transform(_lineage_barrier, eager=True)
    )

    def _matvec(vec: list[float]) -> DataFrame:
        v_arr = _lit_dbl_array(vec)
        return (
            cov.withColumn("__v", v_arr)
            .groupBy("p")
            .agg(
                F.sum(
                    (F.col("c") * F.expr("element_at(__v, CAST(q AS INT) + 1)")).cast(
                        "decimal(38,18)"
                    )
                )
                .cast("double")
                .alias("m")
            )
        )

    vec = [1.0] + [0.0] * (d - 1)
    for _ in range(iters):
        mv = _matvec(vec)
        nrm = mv.agg(
            F.sqrt(F.sum((F.col("m") * F.col("m")).cast("decimal(38,18)")).cast("double")).alias(
                "n"
            )
        ).collect()[0]["n"]
        rows = {r["p"]: r["m"] for r in mv.collect()}
        if not nrm or nrm <= 0:
            break
        vec = [rows.get(i, 0.0) / nrm for i in range(d)]
    v_arr = _lit_dbl_array(vec)
    lam = (
        cov.withColumn("__v", v_arr)
        .select(
            (
                F.col("c")
                * F.expr("element_at(__v, CAST(p AS INT) + 1)")
                * F.expr("element_at(__v, CAST(q AS INT) + 1)")
            ).cast("decimal(38,18)").alias("t")
        )
        .agg(F.sum("t").cast("double").alias("lam"))
        .collect()[0]["lam"]
    )
    trace = (
        cov.filter(F.col("p") == F.col("q"))
        .agg(F.sum(F.col("c").cast("decimal(38,18)")).cast("double").alias("tr"))
        .collect()[0]["tr"]
    )
    return spark.createDataFrame(
        [(i, mu_rows.get(i, 0.0), vec[i], lam, (lam / trace) if trace else None) for i in range(d)],
        "pos long, mu double, pc1 double, lambda1 double, explained_frac double",
    )


def pca_project(
    corpus: DataFrame,
    mu: list[float],
    pc: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project every vector onto a principal component: score =
    (x−mu)·pc and reconstruction error ‖(x−mu) − score·pc‖ — the
    corpus-parallel encode half of the PCA pair (pca_top_component
    trains on aggregates; this is a narrow map with mu/pc as
    literals, the bpe_train/bpe_encode split). Sequential folds in
    ascending dimension order (zip_with + aggregate ≡ list_reduce),
    bit-reproducible cross-engine."""
    mu_arr = _lit_dbl_array(mu)
    pc_arr = _lit_dbl_array(pc)
    v = corpus.select(F.col(id_col), _dbl(vec_col).alias("v")).withColumn(
        "__c", F.zip_with(F.col("v"), mu_arr, lambda x, m: x - m)
    )
    score = F.aggregate(
        F.zip_with(F.col("__c"), pc_arr, lambda c, p: c * p),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    # Bind the score fold as a LAMBDA VARIABLE before the recon_err
    # fold references it: a plain withColumn alias gets inlined by
    # projection collapse into EVERY element of the zip_with lambda —
    # the d-term fold re-evaluated d times per row, O(d²) arithmetic
    # (the winnowing/kmeans re-evaluation trap, VERDICT r4).
    def _with_score(s: Column) -> Column:
        err = F.sqrt(
            F.aggregate(
                F.zip_with(F.col("__c"), pc_arr, lambda c, p: (c - s * p) * (c - s * p)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        return F.struct(s.alias("score"), err.alias("recon_err"))

    out = v.withColumn(
        "__o", F.element_at(F.transform(F.array(score), _with_score), 1)
    )
    return out.select(
        F.col(id_col), F.col("__o.score").alias("score"),
        F.col("__o.recon_err").alias("recon_err"),
    )


def jl_project(
    corpus: DataFrame,
    out_dim: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: dense sign-matrix
    dimensionality reduction y_j = (Σ_d x_d·s(j,d)) / sqrt(out_dim)
    with s(j,d) ∈ {±1} from the parity of an md5-derived hash of
    (j, d) — the same seedless-plane device as hyperplane_signature,
    so any engine with md5 reproduces the projection bit for bit
    (Achlioptas 2003: ±1 entries satisfy the JL distance-preservation
    lemma; the denser Gaussian matrix buys nothing).

    The 100 TB role: shrink embeddings before ANN/dedup — a narrow
    zero-shuffle map, O(dim·out_dim) flops per row, no trained state
    to ship (unlike PCA, no covariance pass). Each output component
    is ONE sequential ascending-dim fold referenced exactly once in
    the array constructor — no lambda re-evaluation (the pca_project
    trap).

    Returns [id_col, jl: array<double>(out_dim)]."""
    return corpus.select(
        F.col(id_col), jl_expr(vec_col, out_dim, dim).alias("jl")
    )


def jl_sql(vec_sql: str, out_dim: int = 16, dim: int = 64) -> str:
    """SQL text of the JL projection over a SQL expression: each
    component one sequential fold against a literal sign plane (see
    _plane_signs), referenced exactly once — no lambda
    re-evaluation. The earlier in-plan hash60_expr ran 1024 md5+conv
    calls PER ROW (16 comps × 64 dims) and made JL-IVF serving ~10×
    slower than plain IVF."""
    v = _dbl_sql(vec_sql)
    scale = f"sqrt({repr(float(out_dim))}D)"
    comps = [
        f"{dot_sql(v, _lit_dbl_array_sql(_plane_signs(f'jl{j}:', dim)))} / {scale}"
        for j in range(out_dim)
    ]
    return "array(" + ",".join(comps) + ")"


def jl_expr(vec_col: str, out_dim: int = 16, dim: int = 64) -> Column:
    """The JL projection of an array column (array<double>(out_dim)) —
    lets callers attach the projected vector in the SAME narrow
    projection as other derived columns (jl_ivf_topk carries full
    vector + JL twin through one select, no self-join). See jl_sql."""
    return F.expr(jl_sql(sql_name(vec_col, "jl_expr"), out_dim, dim))


def _jl_cell_expr(
    vec_col: str, centroids: list[list[float]], out_dim: int, dim: int
) -> Column:
    """The IVF cell of a vector column's JL projection. The projection
    is bound as a LAMBDA VARIABLE before the per-centroid dots
    reference it: a plain alias is inlined by projection collapse into
    EVERY centroid's zip_with — the 16-fold JL projection re-evaluated
    nlist times per row (the pca_project re-evaluation trap; measured
    3× on the sf0.1 serving path)."""
    return F.expr(
        "element_at(transform(array("
        + jl_sql(sql_name(vec_col, "_jl_cell_expr"), out_dim, dim)
        + "), j -> " + _cell_sql("j", centroids) + "), 1)"
    )


def jl_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int = 8,
    nprobe: int = 4,
    out_dim: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """The JL→IVF composition the jl_project docstring promises — the
    actual 100 TB ANN recipe: coarse quantization happens ENTIRELY in
    the JL-projected space (centroid training on a bounded projected
    sample, cell assignment and query probing at O(out_dim·nlist)
    flops per row instead of O(dim·nlist) — a 4× cut at 64→16), while
    the candidate re-rank uses exact FULL-SPACE cosine, so projection
    distortion can only move cell boundaries (recall), never the
    ranking of surfaced candidates (precision of the re-rank is
    exact).

    Scale shape is identical to ivf_topk: the full vector and its JL
    twin ride the same narrow projection (no self-join to attach the
    projection), cells are literal-centroid argmax (zero shuffle), the
    probe is a broadcast equi-join on cell id. At rest the assigned
    corpus would be written once partitioned by cell with ONLY the
    full vector stored (the JL twin is recomputable — no index bytes
    at rest beyond the cell id)."""
    if centroids is None:
        centroids = train_ivf_centroids(
            jl_project(corpus, out_dim, dim, id_col, vec_col),
            nlist,
            id_col,
            "jl",
        )
    cell = _jl_cell_expr(vec_col, centroids, out_dim, dim)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _dbl(vec_col).alias("c_vec"),
        _dbl_norm(vec_col).alias("cn"),
        cell.alias("cell"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _dbl(vec_col).alias("q_vec"),
        _dbl_norm(vec_col).alias("qn"),
        jl_expr(vec_col, out_dim, dim).alias("q_jl"),
    )
    q = q.withColumn(
        "cell", F.explode(_probes_expr("q_jl", centroids, nprobe))
    ).drop("q_jl")
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            dot_expr("q_vec", "c_vec") / (F.col("qn") * F.col("cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def write_jl_ivf_index(
    corpus: DataFrame,
    path: str,
    nlist: int = 8,
    out_dim: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> list[list[float]]:
    """At-rest JL→IVF index — the layout jl_ivf_topk's docstring
    promises: centroids are trained in JL-projected space, the corpus
    is written ONCE partitioned by its JL-space cell with ONLY the
    full vector (plus its norm) stored — the JL twin is recomputable
    from the seedless md5 sign planes, so the index costs zero extra
    vector bytes at rest beyond the cell id in the partition path.
    Centroids + projection params land in a JSON sidecar. Returns the
    centroids used."""
    import json
    import os

    if centroids is None:
        centroids = train_ivf_centroids(
            jl_project(corpus, out_dim, dim, id_col, vec_col), nlist, id_col, "jl"
        )
    cell = _jl_cell_expr(vec_col, centroids, out_dim, dim)
    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _dbl(vec_col).alias("c_vec"),
        _dbl_norm(vec_col).alias("cn"),
        cell.alias("cell"),
    )
    assigned.write.partitionBy("cell").mode("overwrite").parquet(path)
    with open(os.path.join(path, "_jl_ivf_index.json"), "w") as fh:
        json.dump({"centroids": centroids, "out_dim": out_dim, "dim": dim}, fh)
    return centroids


def jl_ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k probe against a persisted JL→IVF index (write_jl_ivf_index).

    Query cells are resolved driver-side in JL space from the (small)
    query set and injected as an IN-filter on the PARTITION column —
    the scan reads only the probed cells' files (`PartitionFilters:
    [cell IN (...)]`, plan-asserted) — then candidates re-rank with
    exact FULL-SPACE cosine, identical to jl_ivf_topk: projection
    distortion moves cell boundaries (recall), never the surfaced
    ranking."""
    import json
    import os

    with open(os.path.join(path, "_jl_ivf_index.json")) as fh:
        side = json.load(fh)
    centroids, out_dim, dim = side["centroids"], side["out_dim"], side["dim"]
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _dbl(vec_col).alias("q_vec"),
        _dbl_norm(vec_col).alias("qn"),
        jl_expr(vec_col, out_dim, dim).alias("q_jl"),
    )
    q = q.withColumn(
        "cell", F.explode(_probes_expr("q_jl", centroids, nprobe))
    ).drop("q_jl")
    probe_cells = sorted(
        {r["cell"] for r in q.select("cell").distinct().collect()}
    )
    c = spark.read.parquet(path).filter(F.col("cell").isin(probe_cells))
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            dot_expr("q_vec", "c_vec") / (F.col("qn") * F.col("cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )
