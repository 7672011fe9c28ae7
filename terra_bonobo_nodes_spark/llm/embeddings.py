"""Embedding-corpus analytics: gram/covariance aggregation, per-label
centroids, centroid-distance outliers, and PCA — the statistics a
training-data pipeline runs over an embedding column before using it
(detect corrupt vectors, whiten, reduce dimension).

The 100 TB shape of every op here is the same: a d-dimensional (or
d x d) SUMMARY is aggregated in one scan with map-side combine, the
tiny summary crosses to the driver (or broadcasts back), and any
per-row computation is a broadcast-side projection. Nothing row-sized
ever collects. d x d for d = a few thousand is kilobytes-to-megabytes —
driver-sized by construction (the classic scalable-PCA layout: compute
X^T X distributed, eigendecompose the d x d result locally).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.columns import top_per_group


def embedding_gram(
    df: DataFrame,
    vec_col: str = "embedding",
    round_dp: int | None = 4,
) -> DataFrame:
    """The gram matrix X^T X of the embedding column as (i, j, g) rows,
    upper triangle only (it is symmetric).

    Plan: one ``mapInPandas`` pass computes a PARTIAL d x d gram per
    partition (a numpy matmul over the whole Arrow batch — the map-side
    combine), so each partition emits exactly d(d+1)/2 rows no matter
    how many vectors it held; one d(d+1)/2-key shuffle sums the
    partials. This is the aggregation-tree shape that makes second-order
    statistics linear at 100 TB — contrast the naive
    explode-and-self-join, which blows every row up d^2-fold.

    ``round_dp`` quantizes the output (partial-sum ORDER depends on
    partitioning; with O(1)-magnitude float64 entries the drift is
    ~1e-12, so 4dp is engine- and partitioning-stable by nine orders of
    magnitude — same convention as the registry's float rule).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: np.ndarray | None = None
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array([[float(x) for x in v] for v in pdf[vec_col]], dtype=np.float64)
            g = m.T @ m
            acc = g if acc is None else acc + g
        if acc is not None:
            iu = np.triu_indices(acc.shape[0])
            yield pd.DataFrame(
                {"i": iu[0].astype(np.int32), "j": iu[1].astype(np.int32), "g": acc[iu]}
            )

    partials = df.select(vec_col).mapInPandas(run, "i int, j int, g double")
    total = F.sum("g")
    if round_dp is not None:
        total = F.round(total, round_dp)
    return partials.groupBy("i", "j").agg(total.alias("g"))


def centroids_by_label(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """(label, centroid array<double>): per-dimension DECIMAL-exact
    means, so the result is independent of partitioning and engine.
    One explode + one (label, pos) aggregation + one per-label
    re-assembly — all map-side-combinable."""
    flat = df.select(
        label_col, F.posexplode(vec_col).alias("pos", "v")
    )
    per_dim = flat.groupBy(label_col, "pos").agg(
        (
            F.sum(F.col("v").cast("decimal(30,10)")) / F.count(F.lit(1))
        ).cast("double").alias("c")
    )
    return per_dim.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("centroid")
    )


def label_centroid_outliers(
    df: DataFrame,
    k: int = 5,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_dp: int = 4,
) -> DataFrame:
    """Top-``k`` farthest vectors from their OWN label's centroid —
    the curation screen for corrupt/mislabeled embeddings. Centroids
    are a tiny per-label table that broadcasts back into the scan; the
    distance is a zip_with/aggregate column expression (JVM-side); one
    per-label window ranks. Ties break on id ascending."""
    from pyspark.sql import Window

    cents = centroids_by_label(df, label_col, vec_col)
    joined = df.join(F.broadcast(cents), label_col)
    diff2 = F.zip_with(
        F.col(vec_col), F.col("centroid"), lambda a, b: (a.cast("double") - b) ** 2
    )
    dist = F.sqrt(F.aggregate(diff2, F.lit(0.0), lambda acc, x: acc + x))
    w = (
        Window.partitionBy(label_col)
        .orderBy(F.col("dist").desc(), F.col(id_col).asc())
    )
    return top_per_group(
        joined.withColumn("dist", F.round(dist, round_dp)), w, k, "rank"
    ).select(label_col, id_col, "dist", "rank")


def pca_components(gram: DataFrame, dim: int, n_components: int) -> np.ndarray:
    """Eigendecompose the (driver-sized, d x d) gram into the top
    ``n_components`` principal directions. The ONLY collect in the PCA
    path is the d(d+1)/2-row gram itself — by-contract driver-sized
    (see module docstring). Returns (n_components, d), rows unit-norm,
    sign-normalized (largest-|coordinate| entry positive) so results
    are deterministic across LAPACK builds."""
    g = np.zeros((dim, dim))
    for r in gram.collect():
        g[r["i"], r["j"]] = r["g"]
        g[r["j"], r["i"]] = r["g"]
    vals, vecs = np.linalg.eigh(g)
    order = np.argsort(vals)[::-1][:n_components]
    comps = vecs[:, order].T
    for c in comps:
        j = int(np.argmax(np.abs(c)))
        if c[j] < 0:
            c *= -1.0
    return comps


def pca_project(
    df: DataFrame,
    components: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "pca",
    round_dp: int = 4,
) -> DataFrame:
    """Project onto fixed components: a pure column expression (the
    components ship as literals inside the plan — a few KB), zero
    shuffle, zero Python."""
    dots = [
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.array(*[F.lit(float(x)) for x in comp]),
                    lambda a, b: a.cast("double") * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            round_dp,
        )
        for comp in components
    ]
    return df.withColumn(out_col, F.array(*dots))
