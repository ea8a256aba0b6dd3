"""Embedding similarity search over ``array<float>`` columns.

Vectors quantize to integers (``quantize``: x·1e6 rounded half away
from zero), so every dot product, norm and hyperplane projection is
exact int64 arithmetic. Integer sums are associative: a score is
bit-identical under any partitioning, reduction order or engine, which
is what lets these searches carry exact SQL oracles.

Search paths:
- brute-force top-k: broadcast the query set, one linear scan of the
  candidate side, per-query heap via window row_number. O(N·Q·d) —
  the exact baseline.
- random-hyperplane LSH: md5-derived integer hyperplanes bucket
  vectors by the sign pattern of their projections, all tables in one
  Arrow-batched int64 matmul (``lsh_buckets``); probing only
  same-bucket candidates makes the scan sublinear. Approximate against
  brute force (recall tests), exact against its own SQL oracle.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Embedding components quantize to integers at 1e6 — after that every
# dot product/norm is exact BIGINT arithmetic: associative, partition-
# order-independent, identical in any engine. (Summing raw doubles
# is none of those; and decimal casts of doubles round differently
# across engines at the 15th digit.) 64 dims × (1e6·|x|)² stays far
# below 2^63.
QUANT = 1_000_000


def quantize(vec: Column) -> Column:
    return F.transform(
        vec, lambda x: F.round(x.cast("double") * QUANT).cast("long")
    )


def dot_q(qa: Column, qb: Column) -> Column:
    """Exact integer dot product of two quantized vectors."""
    return F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def cosine_q(qa: Column, qb: Column) -> Column:
    """Cosine over quantized vectors — deterministic to the last bit."""
    return dot_q(qa, qb).cast("double") / (
        F.sqrt(dot_q(qa, qa).cast("double")) * F.sqrt(dot_q(qb, qb).cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    return cosine_q(quantize(a), quantize(b))


def _prepared(emb: DataFrame, id_col: str, vec_col: str, prefix: str) -> DataFrame:
    """Quantize + compute the norm ONCE per vector. Higher-order array
    functions are interpreted (not codegen'd), so per-pair work must
    be the single dot-product fold — everything per-vector hoists
    here."""
    q = quantize(F.col(vec_col))
    return emb.select(
        F.col(id_col).alias(f"{prefix}_id"),
        q.alias(f"{prefix}_q"),
    ).withColumn(f"{prefix}_norm", F.sqrt(dot_q(F.col(f"{prefix}_q"), F.col(f"{prefix}_q")).cast("double")))


def near_duplicate_pairs(
    emb: DataFrame,
    threshold: float,
    bucket_col: str | None = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs above a cosine threshold. The
    ``bucket_col`` restricts the quadratic join to within-bucket pairs
    — at scale that bucket is an LSH/IVF cell, here the label column
    plays that role."""
    extra = [F.col(bucket_col).alias("bucket")] if bucket_col else []
    q = quantize(F.col(vec_col))
    prep = emb.select(F.col(id_col).alias("id"), q.alias("qv"), *extra).withColumn(
        "norm", F.sqrt(dot_q(F.col("qv"), F.col("qv")).cast("double"))
    )
    a = prep.select(
        F.col("id").alias("vec_a"), F.col("qv").alias("q_a"), F.col("norm").alias("n_a"),
        *( [F.col("bucket")] if bucket_col else [] ),
    )
    b = prep.select(
        F.col("id").alias("vec_b"), F.col("qv").alias("q_b"), F.col("norm").alias("n_b"),
        *( [F.col("bucket")] if bucket_col else [] ),
    )
    cond = F.col("vec_a") < F.col("vec_b")
    joined = (
        a.join(b, on=["bucket"], how="inner").filter(cond)
        if bucket_col
        else a.crossJoin(b).filter(cond)
    )
    cos = dot_q(F.col("q_a"), F.col("q_b")).cast("double") / (
        F.col("n_a") * F.col("n_b")
    )
    return joined.select("vec_a", "vec_b", cos.alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def brute_force_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query: broadcast the (quantized)
    query set, one linear scan of candidates with a single dot-product
    fold per pair, window top-k with deterministic tiebreak."""
    q = F.broadcast(_prepared(queries, id_col, vec_col, "query"))
    c = _prepared(candidates, id_col, vec_col, "neighbor")
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot_q(F.col("query_q"), F.col("neighbor_q")).cast("double")
                / (F.col("query_norm") * F.col("neighbor_norm"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def hyperplane_coefficients(
    spark, n_tables: int, n_planes: int, dim: int
) -> list[list[list[int]]]:
    """Deterministic pseudo-random hyperplanes for ``n_tables``
    independent hash tables of ``n_planes`` bits each, derived from
    md5("plane:t:p:i") — a PORTABLE hash both engines implement, so
    the bucket assignment is bit-reproducible in plain SQL (this is
    what gives sim_ann_lsh its exact cross-engine oracle). Integer
    coefficients ~uniform in [-1000, 1000]: the projection of a
    quantized vector is then exact integer arithmetic — sign decisions
    cannot flip with partitioning, reduction order, or engine.

    Returns nested Python lists ``[tbl][plane] -> dim ints`` — a few
    KiB of configuration regardless of data size, computed with
    hashlib (no Spark job). ``lsh_buckets`` captures it as an int64
    matrix in its kernel's closure. ``spark`` is accepted for
    signature compatibility and unused."""
    import hashlib as _hashlib

    def coef(t: int, p: int, i: int) -> int:
        h = _hashlib.md5(f"plane:{t}:{p}:{i}".encode()).hexdigest()[:8]
        return int(h, 16) % 2001 - 1000

    return [
        [[coef(t, p, i) for i in range(dim)] for p in range(n_planes)]
        for t in range(n_tables)
    ]


def _plane_matrix(coefs):
    """``[tbl][plane][i]`` coefficients as the (dim × tables·planes)
    int64 matrix the bucket kernel multiplies by: column
    ``t·planes + p`` is plane p of table t."""
    import numpy as np

    cf = np.asarray(coefs, dtype=np.int64)
    n_tables, n_planes, dim = cf.shape
    return np.ascontiguousarray(cf.reshape(n_tables * n_planes, dim).T)


@functools.lru_cache(maxsize=None)
def _md5_planes(n_tables: int, n_planes: int, dim: int):
    """The md5 hyperplanes for vectors of length ``dim``, memoized per
    process — a Python worker derives each length's planes once."""
    return _plane_matrix(hyperplane_coefficients(None, n_tables, n_planes, dim))


def lsh_buckets(
    emb: DataFrame,
    coefs: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vector, table) → sign-pattern bucket id: one row per vector
    and table, ``(vid, tbl, bucket)`` with bit p of ``bucket`` set iff
    ``q(vec) · coefs[tbl][p] > 0``, where ``q`` is ``quantize`` (round
    half away from zero of x·1e6, to int64).

    One narrow ``mapInArrow`` kernel, no shuffle and no join: per Arrow
    batch it quantizes the vectors, multiplies them by the (dim ×
    tables·planes) int64 coefficient matrix held in its closure, and
    packs the sign bits per table. The projection is EXACT: integer
    addition is associative, so the sign cannot depend on summation
    order, partitioning or engine — the same buckets the oracle's SQL
    computes. Overflow never wraps: a non-finite component, or one that
    does not quantize into int64, raises (as Spark's ANSI cast does),
    and so does a hashed vector with |q| > (2^63−1) // (max|c|·dim),
    the bound under which no product or partial sum can leave int64.

    A NULL vector, a vector with a NULL component, or one whose length
    is not ``dim`` gets bucket 0 in every table. A NULL id passes
    through."""
    mat = _plane_matrix(coefs)
    dim = mat.shape[0]
    return _sign_buckets(
        emb,
        len(coefs),
        len(coefs[0]),
        lambda n: mat if n == dim else None,
        id_col,
        vec_col,
    )


def _sign_buckets(
    emb: DataFrame,
    n_tables: int,
    n_planes: int,
    planes,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The ``lsh_buckets`` kernel. ``planes(n)`` gives the coefficient
    matrix for vectors of length n, or None to leave them in bucket 0;
    it is called on the Python worker, once per length per batch."""
    from pyspark.sql.types import LongType, StructField, StructType

    from php_etl_spark.functions.exact import round_half_away

    schema = StructType(
        [
            StructField("vid", emb.schema[id_col].dataType),
            StructField("tbl", LongType()),
            StructField("bucket", LongType()),
        ]
    )
    int64_max = (1 << 63) - 1

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        tbl_ids = np.arange(n_tables, dtype=np.int64)
        bit = np.int64(1) << np.arange(n_planes, dtype=np.int64)
        for b in batches:
            n = b.num_rows
            vecs = b.column(1)
            # a NULL vector has length -1 and no values in ``flat``
            lens = pc.fill_null(pc.list_value_length(vecs), -1).to_numpy()
            sizes = np.maximum(lens, 0)
            starts = np.zeros(n, dtype=np.int64)
            np.cumsum(sizes[:-1], out=starts[1:])
            flat = pc.list_flatten(vecs)
            nulls = np.concatenate(
                ([0], np.cumsum(flat.is_null().to_numpy(zero_copy_only=False)))
            )
            # hashable: a non-NULL vector without NULL components
            whole = (lens >= 0) & (nulls[starts + sizes] == nulls[starts])
            q = round_half_away(
                pc.fill_null(flat, 0).to_numpy().astype(np.float64) * QUANT
            )
            if not (np.abs(q) < 2.0**63).all():
                raise ArithmeticError(
                    "lsh_buckets: embedding component is NaN, infinite, or "
                    "quantizes outside int64"
                )
            bucket = np.zeros((n, n_tables), dtype=np.int64)
            for dim in np.unique(lens[whole]):
                mat = planes(int(dim))
                if mat is None:
                    continue
                rows = np.flatnonzero(whole & (lens == dim))
                qv = q[starts[rows, None] + np.arange(dim)]
                limit = int64_max // max(1, int(np.abs(mat).max(initial=0)) * int(dim))
                if np.abs(qv).max(initial=0) > limit:
                    raise ArithmeticError(
                        f"lsh_buckets: quantized component exceeds {limit}; "
                        "the int64 projection could overflow"
                    )
                signs = (qv.astype(np.int64) @ mat > 0).reshape(
                    len(rows), n_tables, n_planes
                )
                bucket[rows] = signs @ bit
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0).take(pa.array(np.repeat(np.arange(n), n_tables))),
                    pa.array(np.tile(tbl_ids, n)),
                    pa.array(bucket.ravel()),
                ],
                names=["vid", "tbl", "bucket"],
            )

    return emb.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    ).mapInArrow(kernel, schema)


def ann_topk_lsh(
    emb: DataFrame,
    queries: DataFrame,
    n_planes: int = 4,
    n_tables: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH:
    candidates match the query's bucket in ANY of ``n_tables`` tables
    (OR-amplification — recall 1-(1-p^planes)^tables), then exact
    rescore of the candidate set only. Approximate vs brute force
    (recall asserted in tests) but fully DETERMINISTIC: md5-derived
    integer hyperplanes over quantized vectors make the bucket
    assignment and the rescore exact cross-engine arithmetic, so the
    whole query carries a bit-exact SQL oracle (sim_ann_lsh).

    ``dim`` fixes the embedding length: vectors of any other length
    land in bucket 0. With ``dim=None`` every vector is hashed with the
    planes for its own length, derived on the worker — building the
    frame launches no job either way."""
    if dim is None:
        planes = functools.partial(_md5_planes, n_tables, n_planes)

        def buckets(df):
            return _sign_buckets(df, n_tables, n_planes, planes, id_col, vec_col)

    else:
        coefs = hyperplane_coefficients(None, n_tables, n_planes, dim)

        def buckets(df):
            return lsh_buckets(df, coefs, id_col, vec_col)

    cb = buckets(emb).withColumnRenamed("vid", "neighbor_id")
    qb = buckets(queries).withColumnRenamed("vid", "query_id")
    cand = (
        cb.join(F.broadcast(qb), ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q = _prepared(queries, id_col, vec_col, "query")
    c = _prepared(emb, id_col, vec_col, "neighbor")
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                dot_q(F.col("query_q"), F.col("neighbor_q")).cast("double")
                / (F.col("query_norm") * F.col("neighbor_norm"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_centroids(
    emb: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    by: str = "hash",
) -> DataFrame:
    """Deterministic IVF codebook: the ``n_cells`` vectors with the
    smallest xxhash64(id) serve as cell centroids — a hash-sample
    'training' that is reproducible at any parallelism. Production
    IVF k-means-refines the codebook; the assignment/probe machinery
    below is unchanged by how centroids are chosen. ``by="id"`` ranks
    by the raw id instead — a worse statistical sample (ids can be
    clustered) but expressible in plain SQL, which is what lets the
    semantic-dedup query carry a cross-engine oracle."""
    rank_col = F.xxhash64(F.col("c_id")) if by == "hash" else F.col("c_id")
    ranked = (
        _prepared(emb, id_col, vec_col, "c")
        .withColumn("__h", rank_col)
        .orderBy("__h")
        .limit(n_cells)
    )
    w = Window.orderBy("__h")
    return ranked.select(
        F.row_number().over(w).alias("cell"),
        F.col("c_q"),
        F.col("c_norm"),
    )


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest cells (by cosine
    to the centroid). Centroids broadcast — assignment is one linear
    scan, N × n_cells dot products, no shuffle of the vector side
    until the final per-vector top-nprobe window."""
    v = _prepared(emb, id_col, vec_col, "v")
    scored = v.crossJoin(F.broadcast(centroids)).select(
        "v_id",
        "cell",
        (
            dot_q(F.col("v_q"), F.col("c_q")).cast("double")
            / (F.col("v_norm") * F.col("c_norm"))
        ).alias("cos_c"),
    )
    w = Window.partitionBy("v_id").orderBy(F.col("cos_c").desc(), F.col("cell"))
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= nprobe)
        .select("v_id", "cell")
    )


def ann_topk_ivf(
    emb: DataFrame,
    queries: DataFrame,
    n_cells: int = 16,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via IVF: corpus vectors live in their single
    nearest cell; each query probes its ``nprobe`` nearest cells and
    exact-rescores only those cells' members. Scan fraction ≈
    nprobe/n_cells of brute force. The inverted-list shape is the
    standard scale path when LSH bucket skew bites (cells are
    near-equal-sized by construction of the codebook). Pass a trained
    (cell, c_q, c_norm) table via ``centroids`` (e.g.
    ``codebook_as_centroids(kmeans_codebook(...))``) to search a
    k-means-refined codebook instead of the hash-picked one."""
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(emb, n_cells, id_col, vec_col)
    )
    corpus_cells = ivf_assign(emb, cents, 1, id_col, vec_col).withColumnRenamed(
        "v_id", "neighbor_id"
    )
    query_cells = ivf_assign(queries, cents, nprobe, id_col, vec_col).withColumnRenamed(
        "v_id", "query_id"
    )
    cand = (
        corpus_cells.join(F.broadcast(query_cells), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q = _prepared(queries, id_col, vec_col, "query")
    c = _prepared(emb, id_col, vec_col, "neighbor")
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                dot_q(F.col("query_q"), F.col("neighbor_q")).cast("double")
                / (F.col("query_norm") * F.col("neighbor_norm"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def quantize_int8(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|x|/127,
    q_i = floor(x_i/scale + 0.5) (explicit half-up — identical in
    every engine, unlike round()'s dialect-dependent ties). The
    compression step before shipping embeddings to an ANN index: 4x
    smaller, one narrow map, no shuffle. Zero vectors quantize to
    zeros with scale 0."""
    x = F.col(vec_col)
    maxabs = F.array_max(F.transform(x, lambda v: F.abs(v.cast("double"))))
    scale = maxabs / F.lit(127.0)
    q = F.when(maxabs == 0, F.transform(x, lambda v: F.lit(0))).otherwise(
        F.transform(
            x,
            lambda v: F.floor(v.cast("double") / scale + F.lit(0.5)).cast("int"),
        )
    )
    return emb.select(
        F.col(id_col),
        q.alias("q_embedding"),
        scale.alias("scale"),
    )


def gram_matrix(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact integer Gram matrix of the quantized corpus:
    G[i,j] = Σ_vec q_i·q_j over all vectors, as (i, j, g) rows with
    1-based indices. The d² second-moment statistic behind PCA/
    whitening/OPQ — computed in EXACT integer arithmetic (quantized
    components), so it is bit-identical under any partitioning and
    both engines agree to the hash.

    Plan shape: each vector emits its d² products via a nested
    transform + one explode (NO self-join on the exploded table —
    that would shuffle N·d rows), then one groupBy(i, j) whose
    map-side combine collapses every partition to ≤ d² partial rows.
    Driver/shuffle traffic is d²-sized, never N-sized. Overflow
    bound: |q| ≤ QUANT·max|x|, so N·q² must stay < 2^63 — at 1e6
    quantization and unit-scale embeddings that holds to ~30B
    vectors."""
    q = quantize(F.col(vec_col))
    pairs = F.flatten(
        F.transform(
            q,
            lambda x, i: F.transform(
                q,
                lambda y, j: F.struct(
                    (i + 1).alias("i"), (j + 1).alias("j"), (x * y).alias("p")
                ),
            ),
        )
    )
    return (
        emb.select(F.explode(pairs).alias("e"))
        .select("e.i", "e.j", "e.p")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("g"))
    )


def pca_whiten(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eps: float = 1e-9,
) -> DataFrame:
    """PCA whitening of the embedding corpus: project each vector onto
    the top-k principal axes and rescale to unit variance — the
    standard conditioning step before OPQ / similarity calibration.

    Distribution of work (the 100 TB shape):
    - second moments come from ``gram_matrix`` (exact integer Σ qqᵀ,
      map-side combined to d² rows) plus an exact integer sum vector —
      the ONLY driver traffic is the d×d Gram + d-vector (codebook-
      sized, like every iterative loop here);
    - the d×d eigendecomposition runs on the driver (numpy eigh — d is
      64, this is microseconds and deterministic given the exact
      integer input);
    - the projection ships back as ONE broadcast row and applies as a
      narrow map (no shuffle, no Python in the row path).

    Returns (id, white: array<double> length k), components ordered by
    descending eigenvalue."""
    import numpy as np

    spark = emb.sparkSession
    d = len(emb.select(vec_col).first()[0])
    n = emb.count()
    g_rows = gram_matrix(emb, id_col, vec_col).collect()
    q = quantize(F.col(vec_col))
    sums = (
        emb.select(F.posexplode(q).alias("i", "qv"))
        .groupBy("i")
        .agg(F.sum("qv").alias("s"))
        .collect()
    )
    G = np.zeros((d, d))
    for r in g_rows:
        G[r["i"] - 1, r["j"] - 1] = r["g"]
    s = np.zeros(d)
    for r in sums:
        s[r["i"]] = r["s"]
    scale = float(QUANT)
    mean = s / (n * scale)
    cov = G / (n * scale * scale) - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    w = evecs[:, order] / np.sqrt(evals[order] + eps)  # d×k whitening map
    one = spark.createDataFrame(
        [(mean.tolist(), w.T.tolist())],
        schema="mu array<double>, w array<array<double>>",
    )
    centered = F.transform(
        F.col(vec_col),
        lambda x, i: x.cast("double") - F.get("mu", i),
    )
    proj = F.transform(
        F.col("w"),
        lambda row: F.aggregate(
            F.zip_with(centered, row, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    return emb.join(F.broadcast(one)).select(
        F.col(id_col).alias("id"), proj.alias("white")
    )


def kmeans_seed_rank(col):
    """Deterministic pseudo-random rank for k-means seed selection:
    a Knuth multiplicative hash reduced FIRST (id % 1000003) so the
    product stays inside BIGINT in every engine — DuckDB promotes
    overflow to HUGEINT while Spark wraps, so an overflowing hash
    would silently disagree across engines. SQL-expressible
    ((id % 1000003) * 2654435761 % 999999937), which is what lets the
    seed-selection step carry an EXACT cross-engine oracle
    (emb_kmeans_seeds) instead of a rows-only check."""
    return F.pmod(
        F.pmod(col, F.lit(1000003)) * F.lit(2654435761), F.lit(999999937)
    )


def kmeans_lloyd1_exact(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ONE Lloyd iteration in exact integer arithmetic — the oracle-
    gated pin of the k-means training algebra (emb_kmeans_lloyd1).
    Seeds are the k smallest kmeans_seed_rank vectors (the same exact
    step emb_kmeans_seeds verifies); every vector is assigned to the
    nearest seed by quantized integer L2 (ties → smallest cell); the
    update step's per-dimension integer sums are reported per cell as
    (n_members, Σ_i S_i, Σ_i (S_i² mod 1e9+7)) — a checksum that pins
    the centroid sums to the last bit at any scale (the mod keeps the
    square inside BIGINT however large the cell). The full float loop
    (kmeans_codebook) stays rows-only by nature — float reduction
    order — which is exactly why this key exists.

    Scale shape: the k×d seed codebook rides as ONE broadcast row, the
    assignment is a narrow per-vector fold (no shuffle), and the sums
    are map-side-combinable (cell, dim) partials — k·d rows through
    the exchange, k rows out."""
    P = F.lit(1_000_000_007).cast("long")
    q = quantize(F.col(vec_col))
    base = emb.filter(F.size(vec_col) > 0).select(
        F.col(id_col).alias("id"),
        q.alias("qv"),
        kmeans_seed_rank(F.col(id_col)).alias("r"),
    )
    # distributed TakeOrdered for the k seeds (never a global
    # single-partition window over the corpus); the row_number window
    # then runs on the k-row frame only
    w = Window.orderBy("r", "id")
    seeds = base.orderBy("r", "id").limit(k).withColumn(
        "cell", F.row_number().over(w)
    )
    one = seeds.agg(
        F.sort_array(F.collect_list(F.struct("cell", "qv"))).alias("seeds")
    )
    dists = F.transform(
        F.col("seeds"),
        lambda s: F.aggregate(
            F.zip_with(F.col("qv"), s["qv"], lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    assigned = (
        base.join(F.broadcast(one))
        .withColumn("dists", dists)
        .select(
            "qv",
            F.array_position(F.col("dists"), F.array_min("dists"))
            .cast("int")
            .alias("cell"),
        )
    )
    counts = assigned.groupBy("cell").agg(F.count("*").alias("n_members"))
    dimsum = (
        assigned.select("cell", F.posexplode("qv").alias("i", "qd"))
        .groupBy("cell", "i")
        .agg(F.sum("qd").alias("s"))
    )
    sums = dimsum.groupBy("cell").agg(
        F.sum("s").alias("sum_q"),
        F.sum((F.col("s") % P) * (F.col("s") % P) % P).alias("sum_sq_mod"),
    )
    return counts.join(sums, "cell").orderBy("cell")


def kmeans_codebook(
    emb: DataFrame,
    k: int = 16,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    inertia_out: list | None = None,
) -> DataFrame:
    """Lloyd's k-means codebook trained with DataFrame ops only — the
    'production IVF' refinement ``ivf_centroids`` points at (the
    reference engine has no iterative-ML surface at all; this is the
    Spark-native equivalent of its closest batch loop,
    /root/reference/sdk/migrate_assures.php:49-88, applied to vectors).

    Per iteration: the k×d codebook (kilobytes) rides to executors as
    a ONE-ROW broadcast DataFrame — never as k·d literal expression
    nodes, which stall Catalyst's constant folding — each vector
    scores all k cells with an indexed-lambda fold (narrow, no
    shuffle), and new centroids are per-dimension means via
    posexplode + (cell, pos) aggregate: the only shuffle, k·d rows
    out. Empty cells keep their previous centroid. Driver traffic is
    the codebook itself — never vectors — so the loop runs unchanged
    on a 1000-executor cluster; rounds are bounded by ``iters``, and
    the input is materialized once so each pass re-reads a pinned
    result, not the source scan.

    Appends per-iteration inertia (sum of squared distance to the
    assigned centroid) to ``inertia_out`` when given; tests assert it
    is non-increasing. Returns (cell, centroid array<double>,
    n_members)."""
    from php_etl_spark.materialize import materialize

    spark = emb.sparkSession
    vecs = emb.select(
        F.col(id_col).alias("kid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).filter(F.size("v") > 0)
    vecs = materialize(vecs)

    seeds = (
        vecs.withColumn("__h", kmeans_seed_rank(F.col("kid")))
        .orderBy("__h", "kid")
        .limit(k)
    )
    cents = [list(r["v"]) for r in seeds.select("v").collect()]
    k = len(cents)  # corpus smaller than k → shrink honestly
    sizes: dict[int, int] = {}

    def d2s():
        return F.transform(
            F.col("cf"),
            lambda c: F.aggregate(
                F.zip_with(F.col("v"), c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )

    for _ in range(iters):
        one = spark.createDataFrame(
            [(cents,)], schema="cf array<array<double>>"
        )
        assigned = (
            vecs.crossJoin(F.broadcast(one))
            .withColumn("__d2s", d2s())
            .select(
                "kid",
                "v",
                F.array_position(F.col("__d2s"), F.array_min("__d2s"))
                .cast("int")
                .alias("cell"),
                F.array_min("__d2s").alias("d2"),
            )
        )
        stats = assigned.select(
            "cell", "d2", F.posexplode("v").alias("pos", "x")
        ).groupBy("cell", "pos").agg(
            F.avg("x").alias("m"),
            F.count("*").alias("n"),
            F.sum(F.when(F.col("pos") == 0, F.col("d2"))).alias("d2sum"),
        )
        rows = (
            stats.groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("c"),
                F.max("n").alias("n_members"),
                F.sum("d2sum").alias("inertia"),
            )
            .collect()
        )
        new = {r["cell"]: list(r["c"]) for r in rows}
        sizes = {r["cell"]: r["n_members"] for r in rows}
        if inertia_out is not None:
            inertia_out.append(sum(r["inertia"] or 0.0 for r in rows))
        cents = [new.get(i + 1, cents[i]) for i in range(k)]

    return spark.createDataFrame(
        [(i + 1, cents[i], int(sizes.get(i + 1, 0))) for i in range(k)],
        schema="cell int, centroid array<double>, n_members bigint",
    )


def codebook_as_centroids(codebook: DataFrame) -> DataFrame:
    """Adapt a trained double codebook to the quantized (cell, c_q,
    c_norm) layout ``ivf_assign``/``ann_topk_ivf`` consume — train
    with ``kmeans_codebook``, search with the existing IVF machinery."""
    q = quantize(F.col("centroid"))
    return codebook.select(
        "cell",
        q.alias("c_q"),
        F.sqrt(
            F.aggregate(
                q, F.lit(0).cast("double"), lambda a, x: a + x.cast("double") * x.cast("double")
            )
        ).alias("c_norm"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory path to billion-vector ANN
# ---------------------------------------------------------------------------


def _unit(v: Column) -> Column:
    """L2-normalize an array<double> column; on the unit sphere L2
    ordering is exactly cosine ordering, which is what lets an
    L2-space PQ index answer cosine queries."""
    n = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    return F.transform(v, lambda x: x / F.nullif(n, F.lit(0.0)))


def pq_train(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """Train an m-subspace × k-centroid product-quantization codebook.

    PQ is what makes 100 TB of embeddings searchable: a d-dim float
    vector (d·4 bytes) compresses to m single-byte codes, so a
    billion-vector index fits in executor memory and ADC scoring is
    m table lookups instead of d multiplies per candidate.

    All m sub-codebooks train JOINTLY in one Lloyd's loop: vectors are
    sliced into (id, sub, subvector) rows once (narrow — slice() is
    per-row), every iteration broadcasts the full m×k×(d/m) codebook
    (kilobytes) as a one-row DataFrame, assignment is an indexed-
    lambda fold (narrow, no shuffle), and the only shuffle is the
    (sub, cell, pos) mean aggregation — m·k·(d/m) = m·k rows of
    output per pass. Driver traffic is codebooks only, never vectors,
    so the loop is unchanged on a 1000-executor cluster.

    Returns (sub, cell, centroid: array<double>) with cells 1..k.
    """
    from php_etl_spark.materialize import materialize

    spark = emb.sparkSession
    d = emb.select(F.size(vec_col)).first()[0]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub_d = d // m
    asd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # normalize=False trains on the vectors AS GIVEN — required for
    # IVF-PQ residuals, whose magnitude IS the information
    unit = _unit(asd) if normalize else asd
    slices = emb.select(
        F.col(id_col).alias("kid"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.struct(
                    s.alias("sub"),
                    F.slice(unit, s * sub_d + 1, sub_d).alias("sv"),
                ),
            )
        ).alias("e"),
    ).select("kid", F.col("e.sub").alias("sub"), F.col("e.sv").alias("sv"))
    slices = materialize(slices)

    # k deterministic seeds per subspace via hash-order row_number
    w = Window.partitionBy("sub").orderBy(F.xxhash64("kid", "sub"))
    seeds = (
        slices.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .select("sub", "__r", "sv")
        .collect()
    )
    cb: list[list[list[float]]] = [[None] * k for _ in range(m)]
    for r in seeds:
        cb[r["sub"]][r["__r"] - 1] = list(r["sv"])
    for s in range(m):  # corpus smaller than k → pad with first seed
        first = next(c for c in cb[s] if c is not None)
        cb[s] = [c if c is not None else first for c in cb[s]]

    for _ in range(iters):
        one = spark.createDataFrame([(cb,)], schema="cb array<array<array<double>>>")
        assigned = (
            slices.join(F.broadcast(one))
            .withColumn(
                "__d2s",
                F.transform(
                    F.element_at(F.col("cb"), F.col("sub") + 1),
                    lambda c: F.aggregate(
                        F.zip_with(F.col("sv"), c, lambda a, b: (a - b) * (a - b)),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                ),
            )
            .select(
                "sub",
                "sv",
                F.array_position(F.col("__d2s"), F.array_min("__d2s"))
                .cast("int")
                .alias("cell"),
            )
        )
        rows = (
            assigned.select("sub", "cell", F.posexplode("sv").alias("pos", "x"))
            .groupBy("sub", "cell", "pos")
            .agg(F.avg("x").alias("mval"))
            .groupBy("sub", "cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mval"))),
                    lambda st: st["mval"],
                ).alias("c")
            )
            .collect()
        )
        new = {(r["sub"], r["cell"]): list(r["c"]) for r in rows}
        cb = [
            [new.get((s, c + 1), cb[s][c]) for c in range(k)]
            for s in range(m)
        ]

    flat = [(s, c + 1, cb[s][c]) for s in range(m) for c in range(k)]
    return spark.createDataFrame(
        flat, schema="sub int, cell int, centroid array<double>"
    )


def pq_encode(
    emb: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """Encode vectors to (id, codes: array<int>) — m bytes per vector.

    The codebook is folded into one broadcast row; per vector, each
    subspace picks its nearest centroid with an indexed fold. Fully
    narrow: no shuffle, no Python — the encode of a 100 TB corpus is
    a single map stage."""
    spark = emb.sparkSession
    rows = codebook.orderBy("sub", "cell").collect()
    m = 1 + max(r["sub"] for r in rows)
    k = max(r["cell"] for r in rows)
    cb = [[None] * k for _ in range(m)]
    for r in rows:
        cb[r["sub"]][r["cell"] - 1] = list(r["centroid"])
    sub_d = len(cb[0][0])
    one = spark.createDataFrame([(cb,)], schema="cb array<array<array<double>>>")
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    v = _unit(vd) if normalize else vd
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.array_position(
            F.transform(
                F.element_at(F.col("cb"), s + 1),
                lambda c: F.aggregate(
                    F.zip_with(F.slice(v, s * sub_d + 1, sub_d), c,
                               lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
            ),
            F.array_min(
                F.transform(
                    F.element_at(F.col("cb"), s + 1),
                    lambda c: F.aggregate(
                        F.zip_with(F.slice(v, s * sub_d + 1, sub_d), c,
                                   lambda a, b: (a - b) * (a - b)),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                )
            ),
        ).cast("int"),
    )
    return emb.join(F.broadcast(one)).select(
        F.col(id_col), codes.alias("codes")
    )


def ann_topk_pq_adc(
    emb: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    k: int = 5,
    oversample: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: corpus lives as PQ codes,
    queries stay full-precision. Per (query, sub) the distance from
    the query's subvector to ALL k centroids is computed ONCE into a
    lookup table; scoring a candidate is then m array lookups — the
    O(N·Q·m) scan that replaces O(N·Q·d) float math and lets the
    whole index ride in memory. Query × distance-table rows broadcast
    (Q·m rows, kilobytes); the corpus side never shuffles. Approximate
    by construction → recall-vs-brute-force is property-tested, no
    SQL oracle."""
    spark = emb.sparkSession
    codes = pq_encode(emb, codebook, id_col, vec_col)
    rows = codebook.orderBy("sub", "cell").collect()
    m = 1 + max(r["sub"] for r in rows)
    kc = max(r["cell"] for r in rows)
    cb = [[None] * kc for _ in range(m)]
    for r in rows:
        cb[r["sub"]][r["cell"] - 1] = list(r["centroid"])
    sub_d = len(cb[0][0])
    one = spark.createDataFrame([(cb,)], schema="cb array<array<array<double>>>")
    qv = _unit(F.transform(F.col(vec_col), lambda x: x.cast("double")))
    # per query: m × k distance table
    dtab = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.transform(
            F.element_at(F.col("cb"), s + 1),
            lambda c: F.aggregate(
                F.zip_with(F.slice(qv, s * sub_d + 1, sub_d), c,
                           lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        ),
    )
    qt = queries.join(F.broadcast(one)).select(
        F.col(id_col).alias("query_id"), dtab.alias("dtab")
    )
    # score = Σ_sub dtab[sub][code[sub]] — m lookups per candidate
    paired = codes.join(F.broadcast(qt)).filter(
        F.col(id_col) != F.col("query_id")
    )
    score = F.aggregate(
        F.zip_with(
            F.col("dtab"),
            F.col("codes"),
            lambda tab, code: F.element_at(tab, code),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = paired.select(
        "query_id", F.col(id_col).alias("neighbor_id"), score.alias("adc_d2")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id")
    )
    shortlist = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k * oversample)
        .select("query_id", "neighbor_id")
    )
    # exact rescore of the ADC shortlist: joins move only Q·k·oversample
    # rows, never the corpus — compressed scan picks candidates, full
    # precision orders them (the standard IVF-PQ + rescore pipeline).
    cand = shortlist.join(
        emb.select(
            F.col(id_col).alias("neighbor_id"),
            quantize(F.col(vec_col)).alias("__nq"),
        ),
        "neighbor_id",
    )
    qside = queries.select(
        F.col(id_col).alias("query_id"), quantize(F.col(vec_col)).alias("__qq")
    )
    rescored = cand.join(F.broadcast(qside), "query_id").select(
        "query_id", "neighbor_id", cosine_q(F.col("__qq"), F.col("__nq")).alias("cos")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos_round"), "rk")
    )


def pq_codebook_by_id(
    emb: DataFrame,
    m: int = 8,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Deterministic INTEGER PQ codebook: the ``n_cells`` vectors with
    the smallest ids donate their quantized subvectors as the cell
    centroids of every subspace — the PQ twin of
    ``ivf_centroids(by="id")`` (the SQL-expressible 'training' device
    that let sim_ann_ivf carry an exact oracle in round 6). A worse
    statistical codebook than k-means (``pq_train`` remains the
    production trainer) but every distance it induces is exact integer
    arithmetic, replayable in plain SQL. Returns the nested
    ``cb[sub][cell] -> list[int]`` the ADC scorer broadcasts
    (codebook-sized driver traffic: n_cells rows)."""
    ranked = (
        emb.select(
            F.col(id_col).alias("c_id"), quantize(F.col(vec_col)).alias("cq")
        )
        .orderBy("c_id")
        .limit(n_cells)
    )
    rows = ranked.collect()  # bounded: n_cells rows (codebook-sized)
    d = len(rows[0]["cq"])
    sub_d = d // m
    return [
        [list(r["cq"][s * sub_d:(s + 1) * sub_d]) for r in rows]
        for s in range(m)
    ]


def ann_topk_pq_adc_exact(
    emb: DataFrame,
    queries: DataFrame,
    m: int = 8,
    n_cells: int = 16,
    k: int = 5,
    oversample: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k with exact rescore over the id-ranked INTEGER
    codebook — the same compressed-scan + rescore pipeline as
    ``ann_topk_pq_adc`` (codes scored by m table lookups, only the
    shortlist rejoins full vectors) but with every quantity exact:
    squared distances are BIGINT sums over quantized components, cell
    assignment breaks ties to the smallest cell, the ADC score is a
    BIGINT, and the final cosine is the deterministic integer-dot
    division ``cosine_q`` — so the whole pipeline replays bit-for-bit
    in SQL (sim_ann_pq_adc's oracle). The per-row distance table is
    staged in a COLUMN before the packing lambdas reference it (the
    O(d) staging discipline from perceptual_hash64_q)."""
    spark = emb.sparkSession
    cb = pq_codebook_by_id(emb, m, n_cells, id_col, vec_col)
    sub_d = len(cb[0][0])
    one = spark.createDataFrame(
        [(cb,)], schema="cb array<array<array<long>>>"
    )

    def dists(qcol: str) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.transform(
                F.element_at(F.col("cb"), s + 1),
                lambda c: F.aggregate(
                    F.zip_with(
                        F.slice(F.col(qcol), s * sub_d + 1, sub_d),
                        c,
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ),
            ),
        )

    # corpus codes: per sub, first index of the min distance = nearest
    # cell with ties to the smallest cell (array_position is first-hit)
    codes = (
        emb.join(F.broadcast(one))
        .select(
            F.col(id_col).alias("neighbor_id"),
            quantize(F.col(vec_col)).alias("__q"),
            F.col("cb"),
        )
        .withColumn("__ds", dists("__q"))
        .select(
            "neighbor_id",
            F.transform(
                F.col("__ds"),
                lambda ds: F.array_position(ds, F.array_min(ds)).cast("int"),
            ).alias("codes"),
        )
    )
    # query distance tables: the same staged expression, kept as the
    # full m x n_cells BIGINT table
    qt = (
        queries.join(F.broadcast(one))
        .select(
            F.col(id_col).alias("query_id"),
            quantize(F.col(vec_col)).alias("__q"),
            F.col("cb"),
        )
        .withColumn("dtab", dists("__q"))
        .select("query_id", "dtab")
    )
    paired = codes.join(F.broadcast(qt)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    score = F.aggregate(
        F.zip_with(
            F.col("dtab"),
            F.col("codes"),
            lambda tab, code: F.element_at(tab, code),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = paired.select("query_id", "neighbor_id", score.alias("adc_d2"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id")
    )
    shortlist = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k * oversample)
        .select("query_id", "neighbor_id")
    )
    # exact rescore: only Q * k * oversample rows rejoin full vectors
    cand = shortlist.join(
        emb.select(
            F.col(id_col).alias("neighbor_id"),
            quantize(F.col(vec_col)).alias("__nq"),
        ),
        "neighbor_id",
    )
    qside = queries.select(
        F.col(id_col).alias("query_id"), quantize(F.col(vec_col)).alias("__qq")
    )
    rescored = cand.join(F.broadcast(qside), "query_id").select(
        "query_id",
        "neighbor_id",
        cosine_q(F.col("__qq"), F.col("__nq")).alias("cosine"),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w2).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def pq_residual_encode_exact(
    emb: DataFrame,
    m: int = 8,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The RESIDUAL step of IVF-PQ, in exact integer arithmetic — the
    last piece of ``ann_topk_ivfpq``'s algebra without an exact pin
    (coarse assignment is pinned by sim_ann_ivf since r6, the ADC
    scan by sim_ann_pq_adc since r7; this pins vector-minus-centroid
    and the residual encode). Each vector coarse-assigns to its
    nearest id-ranked centroid by the deterministic integer-cosine
    rule, the residual is the component-wise BIGINT difference of
    quantized vectors, and the residual encodes against a codebook
    donated by the residuals of the NEXT ``n_cells`` ids after the
    coarse donors (the coarse donors' own residuals are identically
    zero — a degenerate codebook — so the donor window shifts past
    them). Ties break to the smallest cell everywhere. Returns
    (vec_id, cell, codes); every value replays bit-for-bit in SQL.
    Production IVF-PQ keeps the float k-means codebook
    (``ann_topk_ivfpq``); recall is pytest-asserted there."""
    spark = emb.sparkSession
    cents = ivf_centroids(emb, n_cells, id_col, vec_col, by="id")
    assign = ivf_assign(emb, cents, nprobe=1, id_col=id_col, vec_col=vec_col)
    resid = (
        emb.select(
            F.col(id_col).alias("v_id"), quantize(F.col(vec_col)).alias("vq")
        )
        .join(assign, "v_id")
        .join(F.broadcast(cents.select("cell", "c_q")), "cell")
        .select(
            "v_id",
            "cell",
            F.zip_with("vq", "c_q", lambda a, b: a - b).alias("rv"),
        )
    )
    donors = (
        resid.orderBy("v_id").limit(2 * n_cells).collect()
    )  # bounded: 2 * n_cells rows (codebook-sized driver traffic)
    donors = donors[n_cells:]
    d = len(donors[0]["rv"])
    sub_d = d // m
    cb = [
        [list(r["rv"][s * sub_d:(s + 1) * sub_d]) for r in donors]
        for s in range(m)
    ]
    one = spark.createDataFrame([(cb,)], schema="cb array<array<array<long>>>")
    dists = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.transform(
            F.element_at(F.col("cb"), s + 1),
            lambda c: F.aggregate(
                F.zip_with(
                    F.slice(F.col("rv"), s * sub_d + 1, sub_d),
                    c,
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        ),
    )
    return (
        resid.join(F.broadcast(one))
        .withColumn("__ds", dists)
        .select(
            F.col("v_id").alias(id_col),
            "cell",
            F.transform(
                F.col("__ds"),
                lambda ds: F.array_position(ds, F.array_min(ds)).cast("int"),
            ).alias("codes"),
        )
    )


def ann_topk_ivfpq(
    emb: DataFrame,
    queries: DataFrame,
    n_cells: int = 8,
    m: int = 8,
    k_pq: int = 16,
    iters: int = 2,
    k: int = 5,
    nprobe: int = 2,
    oversample: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ with exact rescore — the full billion-scale ANN recipe
    (FAISS ``IVFx,PQm``): a coarse inverted file restricts each query
    to ``nprobe`` cells, product-quantized RESIDUALS (vector minus
    its cell centroid — their magnitude is the information, so PQ
    trains with ``normalize=False``) give m-byte codes scored by ADC
    table lookups, and the shortlist rescores at full precision.

    Scale anatomy — every stage is the shape a 1000-executor run
    needs:
    - coarse assign: centroids broadcast, one narrow scan;
    - residual + encode: narrow maps (codebook broadcast);
    - query→candidate pairing is an EQUI-JOIN ON THE CELL KEY — the
      corpus-side scan touches only probed cells' codes, which is
      the entire point of the inverted file;
    - ADC tables are (query, cell, m×k) rows — kilobytes, broadcast;
    - exact rescore joins move only Q·k·oversample rows.

    Approximate by construction (no SQL oracle): recall vs
    brute-force and run-to-run determinism are pytest-asserted.
    """
    spark = emb.sparkSession
    cents = ivf_centroids(emb, n_cells, id_col, vec_col)
    cmat = cents.select(
        "cell",
        F.transform(
            "c_q", lambda x: x.cast("double") / F.col("c_norm")
        ).alias("cu"),
    )
    # corpus side: unit vector, owning cell, residual, PQ codes
    vu = emb.select(
        F.col(id_col).alias("rid"),
        _unit(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias(
            "vu"
        ),
    )
    assign = ivf_assign(emb, cents, nprobe=1, id_col=id_col, vec_col=vec_col)
    resid = (
        vu.join(assign, vu.rid == assign.v_id)
        .join(F.broadcast(cmat), "cell")
        .select(
            "rid", "cell",
            F.zip_with("vu", "cu", lambda a, b: a - b).alias("rv"),
        )
    )
    from php_etl_spark.materialize import materialize

    resid = materialize(resid)
    codebook = pq_train(
        resid, m=m, k=k_pq, iters=iters, id_col="rid", vec_col="rv",
        normalize=False,
    )
    codes = pq_encode(
        resid, codebook, id_col="rid", vec_col="rv", normalize=False
    ).join(resid.select("rid", "cell"), "rid")

    # query side: nprobe cells, per-(query, cell) residual ADC table
    rows = codebook.orderBy("sub", "cell").collect()
    mm = 1 + max(r["sub"] for r in rows)
    kc = max(r["cell"] for r in rows)
    cb = [[None] * kc for _ in range(mm)]
    for r in rows:
        cb[r["sub"]][r["cell"] - 1] = list(r["centroid"])
    sub_d = len(cb[0][0])
    one = spark.createDataFrame(
        [(cb,)], schema="cb array<array<array<double>>>"
    )
    q_assign = ivf_assign(
        queries, cents, nprobe=nprobe, id_col=id_col, vec_col=vec_col
    ).select(F.col("v_id").alias("query_id"), "cell")
    qu = queries.select(
        F.col(id_col).alias("query_id"),
        _unit(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias(
            "qu"
        ),
    )
    qres = (
        qu.join(q_assign, "query_id")
        .join(F.broadcast(cmat), "cell")
        .select(
            "query_id", "cell",
            F.zip_with("qu", "cu", lambda a, b: a - b).alias("qr"),
        )
    )
    dtab = F.transform(
        F.sequence(F.lit(0), F.lit(mm - 1)),
        lambda s: F.transform(
            F.element_at(F.col("cb"), s + 1),
            lambda c: F.aggregate(
                F.zip_with(
                    F.slice(F.col("qr"), s * sub_d + 1, sub_d), c,
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        ),
    )
    qt = qres.join(F.broadcast(one)).select(
        "query_id", "cell", dtab.alias("dtab")
    )
    # the IVF gate: equi-join codes to query tables ON THE CELL
    paired = codes.join(F.broadcast(qt), "cell").filter(
        F.col("rid") != F.col("query_id")
    )
    score = F.aggregate(
        F.zip_with(
            F.col("dtab"), F.col("codes"),
            lambda tab, code: F.element_at(tab, code),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = paired.select(
        "query_id", F.col("rid").alias("neighbor_id"), score.alias("adc_d2")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id")
    )
    shortlist = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k * oversample)
        .select("query_id", "neighbor_id")
    )
    cand = shortlist.join(
        emb.select(
            F.col(id_col).alias("neighbor_id"),
            quantize(F.col(vec_col)).alias("__nq"),
        ),
        "neighbor_id",
    )
    qside = queries.select(
        F.col(id_col).alias("query_id"),
        quantize(F.col(vec_col)).alias("__qq"),
    )
    rescored = cand.join(F.broadcast(qside), "query_id").select(
        "query_id", "neighbor_id",
        cosine_q(F.col("__qq"), F.col("__nq")).alias("cos"),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .select(
            "query_id", "neighbor_id",
            F.round("cos", 6).alias("cos_round"), "rk",
        )
    )


def mmr_rerank(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 3,
    pool: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversified rerank (Carbonell &
    Goldstein, SIGIR 1998): per query, shortlist the ``pool`` highest
    inner-product candidates, then greedily select ``k`` of them
    maximizing ``rel(c) - max_{s in selected} sim(c, s)`` — the
    lambda=0.5 MMR ordering — so near-duplicate hits are displaced by
    diverse ones. All similarities are exact integer dot products of
    1e-6-quantized vectors, so the greedy argmax (ties broken by id)
    is reproducible bit-for-bit across engines and partitionings.

    Scale shape: the expensive part is the relevance scan, which is
    the brute-force/ANN shortlist (broadcast queries, no candidate
    shuffle); the sequential greedy loop touches only pool-sized
    per-query groups — one applyInPandas over ``queries x pool`` rows,
    never the corpus. Returns (q_id, sel_rank, vec_id, rel, mmr)."""
    import pandas as pd

    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("q_id"),
            quantize(F.col(vec_col)).alias("qq"),
        )
    )
    c = candidates.select(
        F.col(id_col).alias("vec_id"), quantize(F.col(vec_col)).alias("cq")
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id", "vec_id", "cq",
            dot_q(F.col("qq"), F.col("cq")).alias("rel"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("rel").desc(), "vec_id")
    pooled = scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= pool
    )

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = sorted(
            pdf.itertuples(index=False), key=lambda r: (-r.rel, r.vec_id)
        )
        vecs = {r.vec_id: [int(x) for x in r.cq] for r in rows}
        rel = {r.vec_id: int(r.rel) for r in rows}
        selected: list[tuple[int, int]] = []  # (vec_id, mmr score)
        remaining = [r.vec_id for r in rows]
        while remaining and len(selected) < k:
            best = None
            for vid in remaining:
                if selected:
                    ms = max(
                        sum(a * b for a, b in zip(vecs[vid], vecs[s]))
                        for s, _ in selected
                    )
                    score = rel[vid] - ms
                else:
                    score = rel[vid]
                if best is None or score > best[1] or (
                    score == best[1] and vid < best[0]
                ):
                    best = (vid, score)
            selected.append(best)
            remaining.remove(best[0])
        qid = int(pdf["q_id"].iloc[0])
        return pd.DataFrame(
            {
                "q_id": [qid] * len(selected),
                "sel_rank": range(1, len(selected) + 1),
                "vec_id": [v for v, _ in selected],
                "rel": [rel[v] for v, _ in selected],
                "mmr": [m for _, m in selected],
            }
        )

    return pooled.groupBy("q_id").applyInPandas(
        _greedy,
        "q_id bigint, sel_rank bigint, vec_id bigint, rel bigint, mmr bigint",
    )
