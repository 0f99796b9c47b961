"""Sampled k-means coarse quantizer for the IVF similarity-search path.

`operators/similarity.py:ivf_assign` takes *any* centroid table; this is
the production way to build one: Spark ML KMeans fitted on a seeded
sample of the corpus (at billions of vectors the quantizer does not need
— and should not pay for — a full pass; IVF recall is insensitive to
sampling at these rates). The fitted centers come back as a tiny
DataFrame shaped exactly like the corpus (``centroid_id, embedding``),
ready to broadcast into ``ivf_assign`` / ``ivf_search``.

Deterministic under a fixed seed + fixed sample, so index builds are
reproducible run to run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fit_ivf_centroids(df: DataFrame, k: int = 8, seed: int = 42) -> DataFrame:
    """Fit a k-means coarse quantizer on the ``embedding`` column (20
    iterations); returns ``(centroid_id, embedding)``.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    data = df.select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    model = KMeans(k=k, seed=seed, maxIter=20).fit(data)
    spark = df.sparkSession
    return spark.createDataFrame(
        [
            (i, [float(x) for x in center])
            for i, center in enumerate(model.clusterCenters())
        ],
        schema="centroid_id bigint, embedding array<double>",
    )
