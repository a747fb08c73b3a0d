"""Distributed Lloyd k-means over an embedding column.

Corpus clustering is a first-class training-data-curation primitive:
cluster-balanced sampling (SemDeDup/DSIR-style mixes), IVF codebook
training at corpus scale (the sampled-driver codebook in
``goldens/ivf_codebook.py`` is the small-scale stand-in; this operator
is the 100 TB path), and topic-shard layout for locality.

Design (Spark-first, no RDDs):

- **Assignment** is one Arrow-batched ``pandas_udf``: the k×d centroid
  matrix rides the closure (k·d doubles — broadcast-sized by
  construction), each batch computes argmin ||x-c||² with one numpy
  matmul-shaped expression.  The corpus is never shuffled.
- **Update** is ``posexplode → groupBy(cluster, pos).avg``: an algebraic
  aggregate, so Spark's map-side partial aggregation collapses each
  partition to ≤ k·d partial rows before the exchange — the shuffle
  carries O(k·d·partitions) rows regardless of corpus size.  The
  exploded rows themselves never cross the wire.
- The k×d result is collected to the driver each round (it IS the next
  round's broadcast state — same bounded-driver pattern as the IVF
  codebook and PageRank's dangling scalar).

Determinism: init picks the k seed vectors by md5(vec_id) order (a
deterministic pseudo-random draw, partitioning-invariant); iterations
are FIXED (no convergence break), and distance comparisons happen in
float64 with gaps ~1e-3 while cross-run float-reduction wobble is
~1e-13, so assignments are stable run-to-run.  Empty clusters keep
their previous centroid (documented Lloyd convention).

Reference scope note: the reference has no clustering operator; this is
one of the beyond-reference training-data-pipeline extras (brief §"LLM
data pipeline").
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


def kmeans(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    iters: int = 5,
    init_centroids: "np.ndarray | list | None" = None,
) -> DataFrame:
    """(id, cluster) Lloyd k-means assignments after ``iters`` fixed
    rounds from the md5-seeded deterministic init.

    Squared-euclidean objective in float64.  ``k`` seeds = the vectors
    of the k ids with smallest ``md5(cast(id AS string))`` — stable
    under repartitioning and re-runs, unlike ``rand()``-based inits.
    A uniform draw can land two seeds in one natural blob at k ≈ #blobs
    (coupon-collector); pass ``init_centroids`` (a k×d array, e.g.
    centroids pre-clustered on a sample, the k-means‖ shape, or a
    previous run's centroids for incremental refresh) to override.
    """
    if init_centroids is not None:
        centroids = np.asarray(init_centroids, dtype=np.float64)
        if centroids.shape[0] != k:
            raise ValueError(
                f"kmeans: init_centroids has {centroids.shape[0]} rows, k={k}"
            )
        d = centroids.shape[1]
    else:
        seed_rows = (
            df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
            .orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
            .limit(k)
            .collect()
        )
        if len(seed_rows) < k:
            raise ValueError(f"kmeans: k={k} but only {len(seed_rows)} rows")
        d = len(seed_rows[0]._v)
        centroids = np.array([list(r._v) for r in seed_rows], dtype=np.float64)

    def make_assign(c_mat: np.ndarray):
        @F.pandas_udf("int")
        def assign(vecs: pd.Series) -> pd.Series:
            X = np.array(vecs.tolist(), dtype=np.float64)
            # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 ; ||x||^2 is constant
            # per row for the argmin, so skip it
            scores = X @ c_mat.T - 0.5 * (c_mat * c_mat).sum(axis=1)
            return pd.Series(np.argmax(scores, axis=1).astype("int32"))

        return assign

    for _ in range(iters):
        assign = make_assign(centroids)
        assigned = df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            assign(F.col(vec_col)).alias("cluster"),
        )
        upd = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cluster")
            .agg(F.sort_array(F.collect_list(F.struct("pos", "m"))).alias("vs"))
            .select("cluster", F.col("vs.m").alias("centroid"))
            .collect()
        )
        new_c = centroids.copy()  # empty clusters keep their centroid
        for r in upd:
            new_c[int(r.cluster)] = np.asarray(r.centroid, dtype=np.float64)
        centroids = new_c

    assign = make_assign(centroids)
    return df.select(
        F.col(id_col),
        assign(F.col(vec_col)).alias("cluster"),
    )
