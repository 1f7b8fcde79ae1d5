"""Operators own their intermediates: once an operator's result has been
consumed, the session's DataFrame cache is empty again, with no release by
the caller.  Intermediates an operator shares between branches live as
private checkpoints of the returned plan (freed by Spark's ContextCleaner
with the result) or are unpersisted by the operator itself."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geostatstransforms_jl_spark.core.cells import CellGrid
from geostatstransforms_jl_spark.core.grid import GridMeta


def _points(spark, n=1200, seed=3):
    """n points in [0, 10)², the last fifth coincident with earlier ones so
    a k=1 self-join takes the dedup-1NN route."""
    xy = np.random.default_rng(seed).uniform(0, 10, (n, 2))
    xy[-n // 5:] = xy[: n // 5]
    return spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(xy)],
        "row_id long, x double, y double",
    )


def _docs(spark):
    base = [f"the quick brown fox number {i} jumps over the lazy dog again and again"
            for i in range(30)]
    # near-copies (one word changed) and exact copies of the first ten
    texts = base + [t.replace("lazy", "sleepy") for t in base[:10]] + base[:10]
    return spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")


def _cell_pyramid(spark):
    from geostatstransforms_jl_spark.functions.geocell import cell_pyramid

    df = spark.range(2000).select(
        (F.col("id") % 37 / 37.0).alias("x"), (F.col("id") % 23 / 23.0).alias("y"),
        F.col("id").alias("v"))
    return cell_pyramid(df, CellGrid.box2d(0.0, 0.0, 1.0, 1.0, 4), sum_cols=("v",),
                        distinct_col="v")


def _minhash_dedup(spark):
    from geostatstransforms_jl_spark.textops import minhash_dedup

    return minhash_dedup(_docs(spark), threshold=0.7, max_bucket_size=None)


def _minhash_dedup_cc(spark):
    from geostatstransforms_jl_spark.textops import minhash_dedup_cc

    return minhash_dedup_cc(_docs(spark), threshold=0.7, max_bucket_size=None)


def _knn(same=False, **kw):
    def run(spark):
        from geostatstransforms_jl_spark.functions.knn import knn_join

        pts = _points(spark)
        # a distinct source object keeps k=1 off the dedup-1NN route
        return knn_join(pts, pts if same else pts.select("*"), k=1, exclude_same_id=True, **kw)
    return run


def _pip_join(**kw):
    def run(spark):
        from geostatstransforms_jl_spark.operators.spatialjoin import pip_join

        squares = [(g, [[{"x": g + dx, "y": g + dy} for dx, dy in
                         ((0.0, 0.0), (1.5, 0.0), (1.5, 1.5), (0.0, 1.5))]])
                   for g in range(8)]
        geoms = spark.createDataFrame(
            squares, "geom_id long, rings array<array<struct<x double, y double>>>")
        out = pip_join(_points(spark), geoms, GridMeta(10, 10, 0.0, 0.0, 1.0, 1.0), **kw)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert ("BroadcastHashJoin" in plan) is ("geom_broadcast_threshold" not in kw)
        return out
    return run


def _connected_components(spark):
    from geostatstransforms_jl_spark.functions.graph import connected_components

    edges = spark.createDataFrame([(i, i + 1) for i in range(0, 60) if i % 7], "a long, b long")
    return connected_components(edges, src="a", dst="b")


def _slic(spark):
    from geostatstransforms_jl_spark.clustering.slic import slic_df

    df = spark.range(400).select(
        F.col("id").alias("row_id"), (F.col("id") % 20 + 0.5).alias("x"),
        (F.floor(F.col("id") / 20) + 0.5).alias("y"),
        ((F.col("id") % 20 >= 10).cast("double") * 2.0).alias("z"))
    return slic_df(df, 4, 1.0)


CASES = {
    "cell_pyramid": _cell_pyramid,
    "minhash_dedup": _minhash_dedup,
    "minhash_dedup_cc": _minhash_dedup_cc,
    "knn_join-broadcast": _knn(),
    "knn_join-targets_scan": _knn(broadcast_threshold=0, finish_threshold=5000),
    "knn_join-ladder": _knn(broadcast_threshold=0, finish_threshold=100),
    "knn_join-dedup_1nn": _knn(same=True, broadcast_threshold=0, finish_threshold=100),
    "pip_join-broadcast": _pip_join(),
    "pip_join-shuffle": _pip_join(geom_broadcast_threshold=0),
    "connected_components": _connected_components,
    "slic": _slic,
}


@pytest.mark.parametrize("name", list(CASES))
def test_operator_leaves_no_cache_entry(spark, name):
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # start from an empty cache, whatever ran before
    rows = CASES[name](spark).collect()
    assert rows
    assert cache.isEmpty(), f"{name} left a DataFrame cache entry behind"
