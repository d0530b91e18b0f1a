"""Distributed spherical k-means (Lloyd's iterations) over an embedding
column — the full-corpus trainer behind SemDeDup-style clustering.

Scale shape per iteration: assignment is the Arrow-vectorized cosine
argmax against the broadcast centroid matrix
(:func:`jodie_spark.operators.ivf.ivf_cell`); the update is ONE
map-side-combined aggregation over ``(cell, dim_pos)`` — the shuffle
carries k·dim partial sums per task, never vectors — and the driver
holds exactly the k×dim centroid matrix. Contrast with
:func:`jodie_spark.operators.ivf.train_centroids`, which trains on a
bounded driver-side sample: use the sample trainer to seed/explore and
this one when the final centroids must reflect the whole corpus.

Convergence/semantics follow the spherical k-means convention used by
SemDeDup (Abbas et al. 2023): members are L2-normalized, a centroid is
the (re-normalized) mean of its members, assignment maximizes cosine.
Deterministic given the init: ties break to the lowest centroid id
(argmax picks the first maximum), and empty cells keep their previous
centroid.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jodie_spark.operators.ivf import ivf_cell


def kmeans_fit(
    df: DataFrame,
    vec_col: str,
    k: int,
    n_iter: int = 5,
    id_col: str | None = None,
    init: np.ndarray | None = None,
) -> np.ndarray:
    """Train k L2-normalized centroids with full-corpus Lloyd's
    iterations. ``init`` seeds explicitly; else the first ``k`` vectors
    ordered by ``id_col`` (deterministic, oracle-friendly); an
    ``id_col=None`` default falls back to the sample trainer's seed."""
    if init is not None:
        cent = np.asarray(init, dtype=np.float64)
    elif id_col is not None:
        rows = (
            df.select(F.col(id_col).alias("__id__"), F.col(vec_col).cast("array<double>"))
            .orderBy("__id__")  # TakeOrderedAndProject: no global sort
            .limit(k)
            .collect()
        )
        cent = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    else:
        from jodie_spark.operators.ivf import train_centroids

        cent = train_centroids(df, vec_col, n_centroids=k, n_iter=0)
    cent = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
    dim = cent.shape[1]

    # Each Lloyd iteration is ONE Arrow-vectorized pass: a mapInPandas
    # task normalizes its batch, assigns cells with a single matmul
    # argmax (identical arithmetic to ivf_cell: max(norm, 1e-12)
    # normalization, numpy argmax ties to the lowest id) and accumulates
    # per-cell sums/counts across its batches, emitting exactly k rows
    # per task — the driver combines #tasks × k rows, no shuffle at
    # all. The previous shape (interpreted higher-order-function
    # normalize + posexplode to n·dim rows + groupBy) spent ~0.6 s per
    # iteration in lambda HOFs that never reach codegen and another
    # ~0.4-1 s exploding and shuffling what one matmul computes
    # (guide §4.2; r13 measurement in OPTIMIZATION_r13.md). Null
    # vectors and vectors of the wrong dimension contribute nothing to
    # the update, matching the old posexplode(null) behavior.
    import pandas as pd

    k = len(cent)
    proj = df.select(F.col(vec_col).cast("array<double>").alias("__v__"))
    out_schema = "cell int, n long, sums array<double>"
    for _ in range(n_iter):
        cent_t = cent.T.copy()  # (dim × k), captured per iteration

        def partials(batches, _ct=cent_t):
            sums = np.zeros((k, dim))
            counts = np.zeros(k, dtype=np.int64)
            for b in batches:
                vals = [
                    v for v in b["__v__"] if v is not None and len(v) == dim
                ]
                if not vals:
                    continue
                m = np.asarray(vals, dtype=np.float64)
                nv = m / np.maximum(
                    np.linalg.norm(m, axis=1, keepdims=True), 1e-12
                )
                cells = (nv @ _ct).argmax(axis=1)
                np.add.at(sums, cells, nv)
                counts += np.bincount(cells, minlength=k)
            yield pd.DataFrame(
                {
                    "cell": np.arange(k, dtype=np.int32),
                    "n": counts,
                    "sums": [s.tolist() for s in sums],
                }
            )

        sums = np.zeros((k, dim))
        counts = np.zeros(k)
        for r in proj.mapInPandas(partials, out_schema).collect():
            sums[r["cell"]] += np.asarray(r["sums"])
            counts[r["cell"]] += r["n"]
        for c in range(k):
            if counts[c] > 0:
                m = sums[c] / counts[c]
                cent[c] = m / max(np.linalg.norm(m), 1e-12)
    return cent


def kmeans_assign(
    df: DataFrame, vec_col: str, centroids: np.ndarray, cluster_col: str = "cluster"
) -> DataFrame:
    """Attach the nearest-centroid id (cosine argmax, ties → lowest
    id). At scale, write the result partitioned/bucketed by this column
    so per-cluster work becomes partition-pruned."""
    return df.withColumn(cluster_col, ivf_cell(F.col(vec_col), centroids))
