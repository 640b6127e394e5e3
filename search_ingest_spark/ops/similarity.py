"""Similarity search over embedding columns (`array<float>`).

- :func:`brute_force_topk` — exact cosine top-k per query vector,
  entirely JVM-side (`zip_with`/`aggregate` fold for the dot product —
  whole-stage codegen, no Python).  The correctness baseline.
- :func:`ivf_topk` — the scale path: IVF-style partition pruning.
  Centroids are learned with a deterministic k-means (seeded, fixed
  iterations) over a sample; vectors are bucketed by nearest centroid
  (one narrow shuffle at build time); a query probes only the
  `nprobe` nearest buckets.  Approximate recall, exact distances.

At 10^12 scale the IVF bucket id becomes the Iceberg partition key so a
query scans nprobe/nlist of the data; brute force stays as the oracle
on samples.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_ingest_spark.ops.dedup import cosine_expr


def brute_force_topk(
    emb: DataFrame, qvec: list[float], k: int = 10,
    *, id_col: str = "vec_id", vec_col: str = "embedding",
    round_to: int | None = 4,
) -> DataFrame:
    """Exact cosine top-k: (vec_id, cosine, rank) by (cosine desc, id asc)."""
    q = F.array(*[F.lit(float(v)).cast("float") for v in qvec])
    scored = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("va"),
    ).withColumn("qv", q).withColumn("cosine", cosine_expr("va", "qv"))
    if round_to is not None:
        scored = scored.withColumn("cosine", F.round("cosine", round_to))
    topk = scored.select("vec_id", "cosine").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    ).limit(k)
    from search_ingest_spark.ranking import ranked_desc

    return ranked_desc(topk, "cosine", "vec_id")


def brute_force_topk_sql(
    qvec: list[float], k: int = 10, *, table: str = "embeddings",
    id_col: str = "vec_id", vec_col: str = "embedding", round_to: int = 4,
) -> str:
    """DuckDB oracle: same cosine, same float64 math (cast to DOUBLE[]),
    same rounding + tie-break."""
    vec = "[" + ", ".join(f"{float(v)!r}::FLOAT" for v in qvec) + "]"
    return f"""
WITH q AS (SELECT {vec} AS qv),
scored AS (
  SELECT {id_col} AS vec_id,
         round(
           list_dot_product({vec_col}::DOUBLE[], qv::DOUBLE[])
           / (sqrt(list_dot_product({vec_col}::DOUBLE[], {vec_col}::DOUBLE[]))
              * sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))),
         {round_to})::DOUBLE AS cosine
  FROM {table}, q
),
topk AS (
  SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT {k}
)
SELECT vec_id, cosine,
       row_number() OVER (ORDER BY cosine DESC, vec_id ASC)::INT AS rank
FROM topk
""".strip()


# ---------------------------------------------------------------------------
# IVF (inverted-file) approximate search
# ---------------------------------------------------------------------------


def train_centroids(
    emb: DataFrame, nlist: int = 16, *, id_col: str = "vec_id",
    vec_col: str = "embedding", sample: int = 2048, iters: int = 10,
    seed: int = 1,
) -> np.ndarray:
    """Deterministic mini k-means on a driver-side sample (centroid
    training is inherently tiny relative to the corpus; the heavy part —
    assignment — stays distributed).

    The sample is ORDER-DETERMINISTIC: TakeOrdered by `id_col` — a bare
    limit() over a multi-file table returns whichever files' tasks finish
    first, which would make the bucketing (and every IVF result
    downstream) nondeterministic across runs."""
    rows = emb.orderBy(id_col).limit(sample).select(vec_col).collect()
    X = np.array([r[0] for r in rows], dtype=np.float64)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(nlist, len(X)), replace=False)]
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(len(C)):
            m = assign == j
            if m.any():
                C[j] = X[m].mean(axis=0)
    return C


def assign_buckets(
    emb: DataFrame, centroids: np.ndarray, *, vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid bucket id per vector — an Arrow-vectorized
    pandas_udf with the centroid matrix broadcast in the closure.

    (The previous formulation built one Catalyst fold expression per
    centroid, which blows up codegen beyond nlist≈tens; the kernel is a
    flat (batch × nlist) NumPy computation that works for nlist in the
    thousands.)

    Float contract (lets a SQL oracle replicate the bucketing exactly):
    inputs upcast float32→float64; the squared distance accumulates
    DIMENSION-BY-DIMENSION in a left fold (not numpy's pairwise sum);
    argmin breaks ties on the LOWEST bucket id — all bitwise identical
    to `list_reduce(list_transform(...))` + `list_position(l, list_min)`
    in DuckDB (see ivf_bucket_sql_expr).
    """
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("int")
    def _assign(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="int32")
        X = np.array(vs.tolist(), dtype=np.float64)
        acc = np.zeros((X.shape[0], C.shape[0]), dtype=np.float64)
        for d in range(C.shape[1]):
            diff = X[:, d, None] - C[None, :, d]
            acc += diff * diff
        return pd.Series(np.argmin(acc, axis=1).astype(np.int32))

    return emb.withColumn("ivf_bucket", _assign(F.col(vec_col)))


def ivf_bucket_sql_with(
    centroids: np.ndarray, *, table: str = "embeddings",
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> str:
    """DuckDB CTE chain ending in a relation `bucketed(vec_id, v, bk)`
    with the same bucket id as assign_buckets (same float64 left-fold
    distance, same first-min tie-break).  Compose as:
    ``WITH {this}, more AS (... FROM bucketed ...) SELECT ...``"""
    C = np.asarray(centroids, dtype=np.float64)
    dim = C.shape[1]
    cents = ", ".join(
        "[%s]::DOUBLE[]" % ", ".join(repr(float(x)) for x in row) for row in C
    )
    return f"""cents(cl) AS (SELECT [{cents}]),
dists AS (
  SELECT {id_col} AS vec_id, {vec_col}::DOUBLE[] AS v,
         list_transform(cl, c ->
           list_reduce(list_transform(range(1, {dim + 1}),
                                      i -> (v[i] - c[i]) * (v[i] - c[i])),
                       (a, b) -> a + b)) AS dl
  FROM {table}, cents
),
bucketed AS (
  SELECT vec_id, v, (list_position(dl, list_min(dl)) - 1)::INT AS bk FROM dists
)"""


def bucketed_near_dups(
    emb: DataFrame, *, nlist: int = 16, threshold: float = 0.9,
    id_col: str = "vec_id", vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs at scale: IVF buckets as the
    blocking key — the self-join shuffles on bucket id and compares
    only within-bucket pairs (O(Σ bucket²) instead of O(N²)); cosine is
    exact within candidates.  Misses cross-bucket pairs near centroid
    boundaries (recall < 1), which is the standard trade; the exact
    `embedding_near_dups` is the oracle on samples."""
    from search_ingest_spark.ops.dedup import cosine_expr

    if centroids is None:
        centroids = train_centroids(emb, nlist=nlist, vec_col=vec_col)
    # materialized once: the bucket self-join consumes the assignment
    # pandas_udf on both sides (x and y below) — without the cache the
    # nearest-centroid kernel runs twice over the corpus
    b = assign_buckets(emb, centroids, vec_col=vec_col).persist()
    x = b.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"),
                 F.col("ivf_bucket").alias("bk"))
    y = b.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"),
                 F.col("ivf_bucket").alias("bk"))
    return (
        x.join(y, "bk")
        .where(F.col("a") < F.col("b"))
        .withColumn("cosine", F.round(cosine_expr("va", "vb"), 4))
        .where(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def ivf_topk(
    emb_bucketed: DataFrame, centroids: np.ndarray, qvec: list[float],
    k: int = 10, *, nprobe: int = 4, id_col: str = "vec_id",
    vec_col: str = "embedding", round_to: int | None = 4,
    probes: list[int] | None = None,
) -> DataFrame:
    """Probe the nprobe nearest buckets only (partition pruning at scale),
    exact cosine within them.  `probes` overrides the coarse quantizer
    (e.g. ops.hnsw.hnsw_nprobe replaces this exact argsort scan when
    nlist is large enough that O(nlist) per query matters)."""
    if probes is None:
        q = np.asarray(qvec, dtype=np.float64)
        order = np.argsort(((centroids - q) ** 2).sum(axis=1), kind="stable")
        probes = [int(j) for j in order[:nprobe]]
    pruned = emb_bucketed.where(F.col("ivf_bucket").isin(probes))
    return brute_force_topk(
        pruned, qvec, k, id_col=id_col, vec_col=vec_col, round_to=round_to
    )
