"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: native F.aggregate/zip_with dot products
  (JVM-side, no Python), crossJoin bounded by a broadcast query side;
- LSH-bucketed ANN: deterministic random-hyperplane signatures → candidate
  buckets → exact re-rank inside buckets (the 100 TB path: the index is a
  cheap map-side signature, the join is bucket-equi, never all-pairs).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_expr(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_vec(a_col, b_col):
    """Batch cosine as ONE Arrow-batched numpy kernel — the candidate-scoring
    stage's hot path. The `cosine_expr` HOF tree is CodegenFallback
    (interpreted per element on the JVM; cost grows with candidates x dim),
    while this is a single (n, dim) row-wise dot per batch.

    Numeric parity with `cosine_expr` (and the DuckDB oracles): numpy's
    reduction is unrolled/pairwise even at small dims, so the doubles can
    differ from F.aggregate's strict left-to-right fold in the last ulps
    (measured ~1e-16 relative). That is within the engine's numeric
    contract: every oracle-facing query rounds cosine to 6 dp before
    output, and top-k windows break ties on (cosine DESC, id ASC), so a
    sub-ulp score difference cannot change any oracle-checked result.
    DuckDB's own list summation order differs from BOTH folds, which is
    why the contract is round-6 parity rather than bit identity.

    asNondeterministic pins a single evaluation: the score feeds both a
    filter and a projection, and Catalyst clones deterministic UDF calls
    into both operators (the tiling encoder's measured 2x-eval trap)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def cos_udf(a, b):
        if len(a) == 0:
            return pd.Series([], dtype=np.float64)
        xa = np.array(a.tolist(), dtype=np.float64)
        xb = np.array(b.tolist(), dtype=np.float64)
        num = np.sum(xa * xb, axis=1)
        den = np.sqrt(np.sum(xa * xa, axis=1)) * np.sqrt(np.sum(xb * xb, axis=1))
        return pd.Series(num / den)

    return cos_udf.asNondeterministic()(a_col, b_col)


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """For each query row: top-k most-cosine-similar vectors (excluding
    self-matches by id). Query side is broadcast — this is the correctness
    baseline; use :func:`lsh_topk` at scale."""
    q = queries.select(
        F.col(q_id_col), F.col(vec_col).alias("q_vec")
    )
    joined = vectors.crossJoin(F.broadcast(q)).filter(
        F.col(id_col) != F.col(q_id_col)
    )
    scored = joined.select(
        F.col(q_id_col),
        F.col(id_col),
        cosine_vec(F.col(vec_col), F.col("q_vec")).alias("cosine"),
    )
    w = Window.partitionBy(q_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id_col, id_col, "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    """Deterministic random hyperplanes from a fixed-seed numpy RNG —
    identical on every executor and across the driver/worker boundary (the
    planes travel in the UDF closure), no fitting step."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).round(6)


def _table_buckets(vec_col, dim: int, n_tables: int, bits: int, seed: int = 42):
    """array<bigint> of per-table bucket keys ``(t << bits) | sig`` — L
    independent hyperplane tables of b bits each (classic multi-table LSH:
    per-neighbor recall 1-(1-p^b)^L for hyperplane agreement prob p).

    All ``n_tables x bits`` dot products for a batch are ONE
    ``(batch, dim) @ (dim, n_tables*bits)`` matmul in a scalar pandas UDF
    (same pattern as ``ivf_topk.assign_udf``), then a reshape + bit-pack.
    Integer keys instead of the previous '<t>|<sig>' strings: the bucket
    join hashes a bigint, not a string — cheaper at 10^12 rows and
    semantically identical (t is encoded in the high bits)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    planes = np.vstack(
        [_hyperplanes(dim, bits, seed + 1000 * t) for t in range(n_tables)]
    )  # (n_tables*bits, dim)
    weights = (np.int64(1) << np.arange(bits, dtype=np.int64))
    tbl_off = (np.arange(n_tables, dtype=np.int64) << np.int64(bits))

    @pandas_udf(ArrayType(LongType()))
    def buckets_udf(vs):
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        x = np.array(vs.tolist(), dtype=np.float64)
        signs = (x @ planes.T) > 0  # (n, n_tables*bits)
        sig = signs.reshape(len(x), n_tables, bits).astype(np.int64) @ weights
        return pd.Series(list(sig + tbl_off[None, :]))

    return buckets_udf(vec_col)


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_tables: int = 16,
    bits: int = 4,
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN: join on any shared LSH-table bucket, exact cosine re-rank within.
    Recall < 1 by construction; the scale path for 10^12 rows (bucket-equi
    join instead of cross product). Tune (n_tables, bits) by corpus density:
    more bits → smaller buckets, more tables → higher recall."""
    v = vectors.select(
        F.col(id_col),
        F.col(vec_col),
        F.explode(_table_buckets(F.col(vec_col), dim, n_tables, bits)).alias("bucket"),
    )
    q = queries.select(
        F.col(q_id_col),
        F.col(vec_col).alias("q_vec"),
        F.explode(_table_buckets(F.col(vec_col), dim, n_tables, bits)).alias("bucket"),
    )
    joined = v.join(q, "bucket").filter(F.col(id_col) != F.col(q_id_col))
    scored = joined.select(
        F.col(q_id_col),
        F.col(id_col),
        cosine_vec(F.col(vec_col), F.col("q_vec")).alias("cosine"),
    ).dropDuplicates([q_id_col, id_col])
    w = Window.partitionBy(q_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id_col, id_col, "rank")
    )


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    method: str = "lsh",
    dim: int | None = None,
    n_tables: int = 8,
    bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine >= threshold).

    ``method="lsh"`` (the 100 TB path): candidates come from any shared
    random-hyperplane bucket (bucket-equi join, never all-pairs), then exact
    cosine filters — probabilistic recall, tuned by (n_tables, bits).
    ``method="exact"``: all-pairs via broadcast self-join — O(n²), for
    validation and small dims tables only (a sound sub-quadratic exact
    blocking does not exist for the cosine-threshold predicate).
    """
    a = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    if method == "exact":
        pairs = a.crossJoin(F.broadcast(b)).filter(F.col("id_a") < F.col("id_b"))
    else:
        if dim is None:
            raise ValueError("method='lsh' requires dim")
        av = vectors.select(
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("_va"),
            F.explode(_table_buckets(F.col(vec_col), dim, n_tables, bits)).alias("bucket"),
        )
        bv = vectors.select(
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("_vb"),
            F.explode(_table_buckets(F.col(vec_col), dim, n_tables, bits)).alias("bucket"),
        )
        pairs = (
            av.join(bv, "bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
    return (
        pairs.withColumn("cosine", cosine_vec(F.col("_va"), F.col("_vb")))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", "cosine")
    )


def fit_ivf_centroids(
    vectors: DataFrame,
    dim: int,
    n_centroids: int = 16,
    iters: int = 5,
    sample: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic IVF coarse quantizer: Lloyd iterations (cosine metric)
    on a driver-side sample. The sample is the ``sample`` lowest ids via
    TakeOrdered (a distributed top-k heap — no full sort, scan-only at any
    scale); init = the first ``n_centroids`` sample vectors. Returns
    (n_centroids, dim) L2-normalized centroids."""
    rows = (
        vectors.select(id_col, vec_col).orderBy(id_col).limit(sample).collect()
    )
    x = np.array([list(r[1]) for r in rows], dtype=np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True) + 1e-12
    c = x[:n_centroids].copy()
    for _ in range(iters):
        assign = np.argmax(x @ c.T, axis=1)
        for j in range(n_centroids):
            m = assign == j
            if m.any():
                v = x[m].mean(axis=0)
                c[j] = v / (np.linalg.norm(v) + 1e-12)
    return c


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: np.ndarray | None = None,
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: vectors partition into ``n_centroids`` inverted lists by
    nearest centroid (one vectorized assignment pass, centroids broadcast in
    the UDF closure); each query probes its ``n_probe`` closest lists and
    re-ranks exactly by cosine. ``n_probe == n_centroids`` probes every
    list — then the result equals brute force exactly (recall 1), which is
    the oracle configuration; smaller n_probe is the 10^12-row scale path
    (candidates ≈ n_probe/n_centroids of the corpus, one bucket-equi join,
    never all-pairs)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    if centroids is None:
        centroids = fit_ivf_centroids(
            vectors, dim, n_centroids, id_col=id_col, vec_col=vec_col
        )
    c = np.asarray(centroids, dtype=np.float64)

    @pandas_udf(IntegerType())
    def assign_udf(vs):
        x = np.array(vs.tolist(), dtype=np.float64)
        x /= np.linalg.norm(x, axis=1, keepdims=True) + 1e-12
        return pd.Series(np.argmax(x @ c.T, axis=1).astype(np.int32))

    def probes_udf_factory(np_probe):
        from pyspark.sql.types import ArrayType

        @pandas_udf(ArrayType(IntegerType()))
        def probes_udf(vs):
            x = np.array(vs.tolist(), dtype=np.float64)
            x /= np.linalg.norm(x, axis=1, keepdims=True) + 1e-12
            sims = x @ c.T
            top = np.argsort(-sims, axis=1)[:, :np_probe].astype(np.int32)
            return pd.Series(list(top))

        return probes_udf

    v = vectors.select(
        F.col(id_col), F.col(vec_col), assign_udf(F.col(vec_col)).alias("_list")
    )
    q = queries.select(
        F.col(q_id_col),
        F.col(vec_col).alias("_qvec"),
        F.explode(probes_udf_factory(n_probe)(F.col(vec_col))).alias("_list"),
    )
    cand = v.join(F.broadcast(q), "_list").filter(F.col(id_col) != F.col(q_id_col))
    scored = cand.select(
        F.col(q_id_col),
        F.col(id_col),
        cosine_vec(F.col(vec_col), F.col("_qvec")).alias("cosine"),
    ).dropDuplicates([q_id_col, id_col])
    w = Window.partitionBy(q_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id_col, id_col, "rank")
    )
