"""Z-order cell keys: encode/decode roundtrip vs an independent python
interleaver, parent consistency, and the clustering property of
zorder_repartition."""

import numpy as np
from pyspark.sql import functions as F

from geostatstransforms_jl_spark.core.cells import CellGrid
from geostatstransforms_jl_spark.functions.geocell import (
    morton_cell,
    morton_decode_py,
    morton_encode,
    morton_parent,
    zorder_repartition,
)


def py_morton(ix: int, iy: int) -> int:
    # independent bit-by-bit interleave (no magic numbers)
    out = 0
    for b in range(31):
        out |= ((ix >> b) & 1) << (2 * b)
        out |= ((iy >> b) & 1) << (2 * b + 1)
    return out


def test_morton_roundtrip_vs_reference(spark):
    rng = np.random.default_rng(3)
    pairs = [(int(a), int(b)) for a, b in rng.integers(0, 2**31 - 1, (200, 2))]
    df = spark.createDataFrame(pairs, "ix long, iy long").withColumn(
        "key", morton_encode(F.col("ix"), F.col("iy"))
    )
    for r in df.collect():
        assert r.key == py_morton(r.ix, r.iy)
        assert morton_decode_py(r.key) == (r.ix, r.iy)


def test_morton_parent_matches_halved_indices(spark):
    rng = np.random.default_rng(4)
    pairs = [(int(a), int(b)) for a, b in rng.integers(0, 2**20, (100, 2))]
    df = spark.createDataFrame(pairs, "ix long, iy long").select(
        "ix", "iy",
        morton_parent(morton_encode(F.col("ix"), F.col("iy")), 3).alias("p"),
        morton_encode(
            F.shiftrightunsigned("ix", 3), F.shiftrightunsigned("iy", 3)
        ).alias("q"),
    )
    assert all(r.p == r.q for r in df.collect())


def test_morton_cell_same_indices_as_join_path(spark):
    grid = CellGrid(((0.0, 97.0), (0.0, 89.0)), res=10)
    rng = np.random.default_rng(5)
    pts = [(float(a), float(b)) for a, b in rng.uniform(0, 90, (100, 2))]
    df = spark.createDataFrame(pts, "x double, y double").select(
        grid.idx(0, F.col("x")).alias("ix"),
        grid.idx(1, F.col("y")).alias("iy"),
        morton_cell(grid, F.col("x"), F.col("y")).alias("key"),
    )
    for r in df.collect():
        assert morton_decode_py(r.key) == (r.ix, r.iy)


def test_zorder_repartition_clusters(spark):
    grid = CellGrid(((0.0, 100.0), (0.0, 100.0)), res=8)
    rng = np.random.default_rng(6)
    pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.uniform(0, 100, (2000, 2)))]
    df = spark.createDataFrame(pts, "row_id long, x double, y double")
    out = zorder_repartition(df, grid, num_partitions=8, key_col="zk")
    parts = out.select(F.spark_partition_id().alias("p"), "zk").collect()
    ranges = {}
    for r in parts:
        lo, hi = ranges.get(r.p, (r.zk, r.zk))
        ranges[r.p] = (min(lo, r.zk), max(hi, r.zk))
    # range partitions must not overlap: sort by lo, each hi <= next lo
    ordered = sorted(ranges.values())
    assert all(a[1] <= b[0] for a, b in zip(ordered[:-1], ordered[1:]))
    assert len(ranges) > 1


def test_zorder_write_prunes_scan(spark, tmp_path):
    """The point of the layout at 100 TB: a z-ordered parquet write gives
    per-file zkey min/max footprints that a small spatial window overlaps in
    only a few files, and Spark pushes the zkey range predicate into the
    scan.  Verified with DuckDB's parquet_metadata (independent reader) on
    a z-ordered vs a hash-shuffled write of the same rows."""
    import duckdb

    grid = CellGrid(((0.0, 100.0), (0.0, 100.0)), res=8)
    rng = np.random.default_rng(7)
    pts = [
        (i, float(x), float(y), float(x + y))
        for i, (x, y) in enumerate(rng.uniform(0, 100, (20000, 2)))
    ]
    df = spark.createDataFrame(pts, "row_id long, x double, y double, v double")
    zdir, hdir = str(tmp_path / "z"), str(tmp_path / "h")
    zorder_repartition(df, grid, num_partitions=16, key_col="zkey").write.parquet(zdir)
    df.withColumn("zkey", morton_cell(grid, F.col("x"), F.col("y"))).repartition(
        16, "row_id"
    ).write.parquet(hdir)

    def file_ranges(d):
        rows = duckdb.sql(
            f"""SELECT file_name,
                       MIN(stats_min_value::BIGINT) lo,
                       MAX(stats_max_value::BIGINT) hi
                FROM parquet_metadata('{d}/*.parquet')
                WHERE path_in_schema = 'zkey' GROUP BY 1"""
        ).fetchall()
        return [(r[1], r[2]) for r in rows]

    zr, hr = file_ranges(zdir), file_ranges(hdir)
    assert len(zr) >= 8 and len(hr) >= 8
    # a window = the middle 1/16th of the curve
    all_lo = min(lo for lo, _ in zr)
    all_hi = max(hi for _, hi in zr)
    w_lo = all_lo + (all_hi - all_lo) * 8 // 16
    w_hi = all_lo + (all_hi - all_lo) * 9 // 16
    z_touch = sum(1 for lo, hi in zr if not (hi < w_lo or lo > w_hi))
    h_touch = sum(1 for lo, hi in hr if not (hi < w_lo or lo > w_hi))
    # hash layout: every file spans ~the whole key space; z layout: few files
    assert h_touch == len(hr)
    assert z_touch <= max(2, len(zr) // 4)

    # and Spark pushes the range predicate into the parquet scan
    plan = (
        spark.read.parquet(zdir)
        .filter((F.col("zkey") >= int(w_lo)) & (F.col("zkey") <= int(w_hi)))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan and "GreaterThanOrEqual(zkey" in plan


def test_tile_cells_rollup_and_plans(spark):
    from geostatstransforms_jl_spark.functions.geocell import tile_cells

    rng = np.random.default_rng(11)
    n = 5000
    rows = [
        (float(x), float(y), int(p))
        for x, y, p in zip(
            rng.random(n), rng.random(n), rng.integers(0, 800, n)
        )
    ]
    df = spark.createDataFrame(rows, "x double, y double, phash long")
    grid = CellGrid.box2d(0.0, 0.0, 1.0, 1.0, 3)  # 64 cells

    exact = tile_cells(df, grid, distinct_col="phash", exact_distinct=True,
                       aggs=(F.min("phash").alias("min_phash"),))
    got = {r.zkey: (r.n_rows, r.n_distinct, r.min_phash) for r in exact.collect()}
    # independent replay
    import collections
    import re

    exp_rows = collections.Counter()
    exp_set, exp_min = collections.defaultdict(set), {}
    # use the engine's keying once (already verified vs py_morton above),
    # replay only the AGGREGATES independently
    keyed = df.withColumn("zkey", morton_cell(grid, F.col("x"), F.col("y")))
    for r in keyed.collect():
        exp_rows[r.zkey] += 1
        exp_set[r.zkey].add(r.phash)
        exp_min[r.zkey] = min(exp_min.get(r.zkey, 1 << 62), r.phash)
    assert got == {
        k: (exp_rows[k], len(exp_set[k]), exp_min[k]) for k in exp_rows
    }

    # exact distinct dedups map-side on (zkey, phash) — an aggregate keyed
    # by BOTH columns, O(n) shuffle rows over ~unique values; approx must
    # NOT: fixed-width HLL buffers keyed by zkey alone keep the whole
    # rollup one hash aggregate with O(cells) shuffle volume
    exact_plan = exact._jdf.queryExecution().executedPlan().toString()
    pair_keyed = re.compile(r"keys=\[zkey#\d+L?, phash")
    assert pair_keyed.search(exact_plan)

    approx = tile_cells(df, grid, distinct_col="phash")
    approx_plan = approx._jdf.queryExecution().executedPlan().toString()
    assert not pair_keyed.search(approx_plan)
    assert "SortAggregate" not in approx_plan
    assert "HashAggregate" in approx_plan

    # HLL estimates within its documented rsd on every cell, exact elsewhere
    a = {r.zkey: (r.n_rows, r.n_distinct) for r in approx.collect()}
    assert {k: v[0] for k, v in a.items()} == dict(exp_rows)
    for k, (_, nd) in a.items():
        assert abs(nd - len(exp_set[k])) <= max(3, 0.15 * len(exp_set[k]))


def test_tile_cells_rejects_bad_contracts(spark):
    # ADVICE r4: exact_distinct without distinct_col must raise, and caller
    # agg aliases must not silently collide with reserved output columns
    import pytest
    from geostatstransforms_jl_spark.functions.geocell import tile_cells

    grid = CellGrid.box2d(0.0, 0.0, 1.0, 1.0, 3)
    df = spark.range(10).select(
        (F.col("id") / 10.0).alias("x"),
        (F.col("id") / 10.0).alias("y"),
        F.col("id").alias("v"),
    )
    with pytest.raises(ValueError, match="exact_distinct"):
        tile_cells(df, grid, exact_distinct=True)
    with pytest.raises(ValueError, match="n_rows"):
        tile_cells(df, grid, aggs=[F.sum("v").alias("n_rows")])
    with pytest.raises(ValueError, match="n_distinct"):
        tile_cells(
            df, grid, distinct_col="v",
            aggs=[F.max("v").alias("n_distinct")],
        )


def test_cell_pyramid_exact_reagg_and_hll_union(spark):
    """Every pyramid level must equal a direct rollup of the RAW rows at
    that level's key (n_rows/sum/min/max exactly; HLL identically — the
    register-max union of per-cell sketches IS the sketch of the union)."""
    from geostatstransforms_jl_spark.functions.geocell import cell_pyramid

    rng = np.random.default_rng(23)
    n = 4000
    rows = [
        (float(x), float(y), int(p), int(v))
        for x, y, p, v in zip(
            rng.random(n), rng.random(n),
            rng.integers(0, 500, n), rng.integers(-50, 50, n),
        )
    ]
    df = spark.createDataFrame(rows, "x double, y double, phash long, v long")
    grid = CellGrid.box2d(0.0, 0.0, 1.0, 1.0, 4)  # 256 cells, levels 0..4

    pyr = cell_pyramid(
        df, grid, sum_cols=("v",), min_cols=("v",), max_cols=("v",),
        distinct_col="phash",
    )
    got = {(r.level, r.zkey): (r.n_rows, r.sum_v, r.min_v, r.max_v, r.n_distinct)
           for r in pyr.collect()}

    keyed = df.withColumn("zkey", morton_cell(grid, F.col("x"), F.col("y")))
    for lvl in range(grid.res + 1):
        direct = (
            keyed.groupBy(F.shiftrightunsigned("zkey", 2 * lvl).alias("k"))
            .agg(F.count("*").alias("n"), F.sum("v").alias("s"),
                 F.min("v").alias("lo"), F.max("v").alias("hi"),
                 F.countDistinct("phash").alias("nd"))
        )
        exp = {r.k: (r.n, r.s, r.lo, r.hi) for r in direct.collect()}
        exact_nd = {r.k: r.nd for r in direct.collect()}
        lvl_got = {k: v[:4] for (l, k), v in got.items() if l == lvl}
        assert lvl_got == exp, f"level {lvl} mismatch"
        # unioned sketches vs exact distinct: within HLL's documented band
        # (union forces dense HLL mode, so it is NOT bit-equal to a direct
        # small-cardinality sketch — only estimate-close)
        for (l, k), v in got.items():
            if l == lvl:
                assert abs(v[4] - exact_nd[k]) <= max(3, 0.05 * exact_nd[k]), \
                    f"level {lvl} cell {k}: hll {v[4]} vs exact {exact_nd[k]}"
    # the root level is ONE cell covering everything
    assert [k for (l, k) in got if l == grid.res] == [0]
    assert got[(grid.res, 0)][0] == n


def test_cell_pyramid_scans_base_once_and_validates(spark):
    import pytest
    from geostatstransforms_jl_spark.functions.geocell import cell_pyramid

    df = spark.range(100).select(
        (F.col("id") % 10 / 10.0).alias("x"),
        (F.col("id") % 7 / 7.0).alias("y"),
        F.col("id").alias("v"),
    )
    grid = CellGrid.box2d(0.0, 0.0, 1.0, 1.0, 3)
    pyr = cell_pyramid(df, grid, sum_cols=("v",), levels=3)
    plan = pyr._jdf.queryExecution().executedPlan().toString()
    # coarser tiers re-aggregate the materialized level-0 rollup (one O(n)
    # aggregate total), never the raw input again: the input's Range node
    # is absent from the executed tier plan
    assert "Range (" in df._jdf.queryExecution().executedPlan().toString()
    assert "Range (" not in plan
    assert pyr.where(F.col("level") == 3).count() == 1

    with pytest.raises(ValueError, match="levels"):
        cell_pyramid(df, grid, levels=9)
    with pytest.raises(ValueError, match="collide"):
        cell_pyramid(df, grid, sum_cols=("v", "v"))
    with pytest.raises(ValueError, match="collide"):
        cell_pyramid(df, grid, sum_cols=("v",), key_col="sum_v")
