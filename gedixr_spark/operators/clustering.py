"""Distributed k-means over embedding columns — the iterative-algorithm
surface (SURVEY.md §7.4; also the production path to IVF centroids in
operators/similarity.py).

Plan shape per Lloyd iteration: one Arrow-batched assignment pass
(numpy matmul per batch — no per-row Python) + one groupBy(cluster)
aggregation for the centroid update. Driver holds only the k×dim
centroid matrix; executors never see global state. At 100 TB this is
the canonical iterate-broadcast-aggregate loop, k·dim doubles over the
wire per iteration.

Determinism: init = first-k rows by id (not random), assignment ties
break to the lowest cluster index, updates are exact-count averages —
reruns produce identical clusterings on identical data. (Iterative ⇒
not SQL-expressible; the driver records a rows-only check for the
contract query, per the build brief.)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType

from gedixr_spark.session import local_frame


def _assign_udf(centroids: np.ndarray) -> Column:
    """Factory: nearest-centroid (squared-L2) assignment, vectorized;
    first minimum wins. Closure pickles by value (bare-worker safe).

    DELIBERATELY an Arrow UDF, not a higher-order-function rewrite
    (r15 VERDICT #2): the distances here are FLOAT — d = ||c||² − 2x·c
    with x·c computed by a BLAS dgemm whose summation order is blocked/
    vectorized and implementation-defined. A JVM `aggregate` fold sums
    sequentially, so its low-order bits can differ from the matmul's,
    and a near-tie argmin would then flip a cluster assignment — a
    silent result change on the rows-only kmeans query. Bit-identity
    is unprovable across the two summation orders, so the vectorized
    Arrow kernel stays (guide §4.2's acceptable form: one numpy matmul
    per batch, no per-row Python). The integer-exact kernels (PQ
    encode/ADC, LSH, IVF) have no such hazard and run JVM-side."""
    cen = centroids.astype(np.float64)
    cen_sq = (cen * cen).sum(axis=1)

    def build(col: Column) -> Column:
        @pandas_udf(IntegerType())
        def _assign(vecs: pd.Series) -> pd.Series:
            m = np.stack(vecs.to_numpy()).astype(np.float64)
            # argmin over ||x-c||² = c·c - 2x·c (x·x constant per row)
            d = cen_sq[None, :] - 2.0 * (m @ cen.T)
            return pd.Series(np.argmin(d, axis=1).astype(np.int32))

        return _assign(col)

    return build


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[np.ndarray, DataFrame]:
    """Lloyd's algorithm; returns (centroids k×dim, assignments df).

    Empty clusters keep their previous centroid (no re-seeding — keeps
    determinism). Convergence is fixed-iteration by design: at scale
    you bound cost, not chase epsilon.
    """
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.stat import Summarizer

    # materialize the (id, vec) working set ONCE: every Lloyd iteration
    # below re-evaluates its input, and without this each of the n_iter
    # jobs replays the full upstream lineage (parquet scan, quantize,
    # filters…). localCheckpoint truncates lineage and pins the rows to
    # executor storage — the standard iterative-algorithm persistence
    # (MLlib caches its training set the same way); storage is freed
    # when the returned assignment frame is garbage-collected.
    # eager=False: the init collect below is the first action and
    # materializes the checkpoint in the same job
    work = df.select(F.col(id_col), F.col(vec_col)).localCheckpoint(
        eager=False
    )

    init_rows = (
        work.orderBy(id_col).limit(k).select(F.col(vec_col).alias("v")).collect()
    )
    if not init_rows:
        # Empty input: no centroids to fit; hand back an empty
        # assignment frame with the contract schema instead of letting
        # the assign kernel choke on a 0-d centroid matrix.
        empty = work.select(
            F.col(id_col), F.lit(0).cast("int").alias("cluster")
        )
        return np.zeros((0, 0), dtype=np.float64), empty
    centroids = np.array([r["v"] for r in init_rows], dtype=np.float64)

    for _ in range(n_iter):
        assign = _assign_udf(centroids)
        assigned = work.select(
            F.col(id_col), F.col(vec_col), assign(F.col(vec_col)).alias("cluster")
        )
        # centroid update: ONE vector-sum aggregate (Summarizer over an
        # ml vector) instead of `dim` scalar F.sum columns — at dim 1024
        # the per-dimension form is 1024 aggregate expressions (plan
        # bloat + codegen pressure); the vector sum is a single
        # JVM-side accumulator of k×dim state regardless of dim
        sums = assigned.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("n"),
            Summarizer.sum(array_to_vector(F.col(vec_col))).alias("s"),
        )
        new = centroids.copy()
        for r in sums.collect():  # k rows (k×dim driver state — tiny)
            new[r["cluster"]] = np.asarray(r["s"].toArray()) / r["n"]
        centroids = new

    assign = _assign_udf(centroids)
    final = work.select(
        F.col(id_col), assign(F.col(vec_col)).alias("cluster")
    )
    return centroids, final


def kmeans_cluster_sizes(
    df: DataFrame, k: int = 8, n_iter: int = 5, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Cluster-size summary after fitting — the contract-facing shape
    (rows-only check: iterative, not SQL-expressible)."""
    _, assigned = kmeans_fit(df, k=k, n_iter=n_iter, vec_col=vec_col, id_col=id_col)
    return assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_vectors"))


def kmeans_assign(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign rows to a FITTED centroid set — the inference half of
    `kmeans_fit`, split out so a write-once index (fit once, persist)
    can serve many queries without re-running Lloyd iterations: one
    Arrow-batched map pass, no shuffle, no driver state beyond the
    k×dim matrix in the closure. Returns (id, cluster) with the same
    assignment rule (squared-L2, first minimum wins) as the fit."""
    cen = np.asarray(centroids, dtype=np.float64)
    if cen.ndim != 2 or cen.shape[0] == 0:
        raise ValueError(f"centroids must be a non-empty k×dim matrix, got shape {cen.shape}")
    assign = _assign_udf(cen)
    return df.select(F.col(id_col), assign(F.col(vec_col)).alias("cluster"))


def save_kmeans_centroids(spark, centroids: np.ndarray, path: str) -> str:
    """Persist a fitted float centroid matrix as parquet — the
    write-once index-metadata lifecycle (fit on a sample / one big job,
    broadcast-load everywhere after). float64 survives parquet exactly,
    so load-then-assign is bit-identical to fit-then-assign."""
    cen = np.asarray(centroids, dtype=np.float64)
    rows = [(i, [float(x) for x in row]) for i, row in enumerate(cen)]
    df = local_frame(spark, rows, "cluster int, centroid array<double>")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return path


def load_kmeans_centroids(spark, path: str) -> np.ndarray:
    """Inverse of `save_kmeans_centroids` (k×dim float64, row order by
    cluster id)."""
    rows = spark.read.parquet(path).orderBy("cluster").collect()
    return np.array([r["centroid"] for r in rows], dtype=np.float64)
