"""Z-order (Morton) hierarchical cell keys — the S2/quadkey-style encoding
of the engine's cell index (core/cells.py is the axis-major packing used by
the kNN/radius joins; this module is the *interleaved* layout whose one
integer order is space-filling).

Why a second layout: Z-order's property is that sorting by the key is a
spatial clustering — `repartitionByRange` + `sortWithinPartitions` on it
co-locates spatially-near rows into the same files/partitions, which is what
makes min/max-pruned scans and cell-local joins cheap at 100 TB (the same
reason table formats cluster by Z-order).  The axis-major key can't do that:
its order sweeps whole x-slabs.  Parent/child is a single shift:
``parent = key >> (d·levels)``.

Everything is built-in bitwise column expressions (shiftleft/AND/OR via the
classic magic-number bit spreading) — whole-stage codegen, no Python in the
hot path.  The reference has no distributed analogue; its KD-tree search
(P1, SURVEY.md §2.2) is the in-process counterpart of what cell keys make
join-able.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.cells import CellGrid

# magic-number spreading: insert a zero bit between each of the low 31 bits
_SPREAD = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def spread_bits(ix: Column) -> Column:
    """Spread the low 31 bits of a long into even bit positions."""
    v = ix
    for sh, mask in _SPREAD:
        v = (v.bitwiseOR(F.shiftleft(v, sh))).bitwiseAND(F.lit(mask))
    return v


def morton_encode(ix: Column, iy: Column) -> Column:
    """Interleave two ≤31-bit axis indices: x in even bits, y in odd."""
    return spread_bits(ix).bitwiseOR(F.shiftleft(spread_bits(iy), 1))


def morton_cell(grid: CellGrid, x: Column, y: Column) -> Column:
    """Z-order key of the grid cell containing (x, y) — same cell indices
    as the join path's axis-major key (CellGrid.idx), different packing."""
    assert grid.ndim == 2, "morton_cell is 2-D; use CellGrid.pack for n-D"
    return morton_encode(grid.idx(0, x), grid.idx(1, y))


def morton_parent(key: Column, levels_up: int) -> Column:
    """Ancestor `levels_up` levels coarser — one unsigned shift."""
    return F.shiftrightunsigned(key, 2 * levels_up)


def _unspread(v: "int") -> int:
    v &= 0x5555555555555555
    for sh, mask in ((1, 0x3333333333333333), (2, 0x0F0F0F0F0F0F0F0F),
                     (4, 0x00FF00FF00FF00FF), (8, 0x0000FFFF0000FFFF),
                     (16, 0x00000000FFFFFFFF)):
        v = (v | (v >> sh)) & mask
    return v


def morton_decode_py(key: int) -> tuple:
    """Driver-side inverse (diagnostics/tests): key → (ix, iy)."""
    return _unspread(key), _unspread(key >> 1)


def zorder_repartition(
    df: DataFrame,
    grid: CellGrid,
    coords: Sequence[str] = ("x", "y"),
    num_partitions: Optional[int] = None,
    key_col: Optional[str] = None,
) -> DataFrame:
    """Spatially cluster `df`: range-partition + sort by the Z-order key so
    each output partition holds a contiguous space-filling-curve segment —
    the write-side layout that gives parquet row-group min/max pruning and
    cell-local joins their locality at scale.  Keeps the key as `key_col`
    when given (so writers can also partition files by a parent prefix),
    otherwise drops it."""
    x, y = coords
    kc = key_col or "_zkey"
    out = df.withColumn(kc, morton_cell(grid, F.col(x), F.col(y)))
    n = num_partitions or out.rdd.getNumPartitions()
    out = out.repartitionByRange(n, kc).sortWithinPartitions(kc)
    return out if key_col else out.drop(kc)


def tile_cells(
    df: DataFrame,
    grid: CellGrid,
    coords: Sequence[str] = ("x", "y"),
    distinct_col: Optional[str] = None,
    exact_distinct: bool = False,
    aggs: Sequence[Column] = (),
    key_col: str = "zkey",
) -> DataFrame:
    """The north-star tile-assignment rollup as a first-class batch
    operator: Morton cell key (codegen'd bit spreading, no Python) →
    per-cell hash aggregate.  Always emits ``n_rows``; ``distinct_col``
    adds a per-cell distinct count (e.g. distinct phash per cell), and
    ``aggs`` appends caller aggregates (use fixed-width buffers — numeric
    min/avg/sum — to keep the whole rollup in HashAggregate; a var-length
    buffer like ``min(string)`` forces the sort-based fallback).

    Distinct semantics are the measured 100-TB trade-off
    (BENCH/BASELINE.md §"Round-4 tile-assignment cells stage"): the default
    ``approx_count_distinct`` carries fixed-size HLL buffers with map-side
    combine — shuffle volume O(cells), 0.848 scaling efficiency / 17.1M
    rows/s at 512M rows, 0.0097% observed error.  ``exact_distinct=True``
    plans an expand — one shuffled row per (cell, distinct value) pair,
    O(n) shuffle volume (measured 0.369 at the same scale) — correct, and
    the right call only when cardinality per cell is known-small.

    One aggregate Exchange end-to-end; the streaming twin with identical
    key/rollup semantics is ``streaming.streaming_tile_cells``."""
    if exact_distinct and distinct_col is None:
        raise ValueError(
            "exact_distinct=True has no effect without distinct_col — pass "
            "the column to count distinctly, or drop exact_distinct"
        )
    x, y = coords
    keyed = df.withColumn(key_col, morton_cell(grid, F.col(x), F.col(y)))
    agg_list = [F.count("*").alias("n_rows")]
    if distinct_col is not None:
        d = (F.countDistinct(distinct_col) if exact_distinct
             else F.approx_count_distinct(distinct_col))
        agg_list.append(d.alias("n_distinct"))
    agg_list.extend(aggs)
    out = keyed.groupBy(key_col).agg(*agg_list)
    dupes = {c for c in out.columns if out.columns.count(c) > 1}
    if dupes:
        raise ValueError(
            f"caller agg aliases collide with reserved output columns "
            f"({key_col!r}/'n_rows'/'n_distinct'): {sorted(dupes)}"
        )
    return out


def _pyramid_contract(grid, levels, sum_cols, min_cols, max_cols, key_col, level_col):
    """Shared validation for the batch and streaming pyramids: resolve
    `levels`, derive the sum_/min_/max_ output names, reject collisions
    with the reserved columns and among themselves."""
    if levels is None:
        levels = grid.res
    if not 0 <= levels <= grid.res:
        raise ValueError(f"levels must be in [0, grid.res={grid.res}]; got {levels}")
    if key_col == level_col:
        raise ValueError(f"key_col and level_col must differ; both are {key_col!r}")
    reserved = {key_col, level_col, "n_rows", "n_distinct"}
    outnames = [f"{k}_{c}" for k, cols in
                (("sum", sum_cols), ("min", min_cols), ("max", max_cols))
                for c in cols]
    clash = reserved & set(outnames)
    if clash or len(set(outnames)) != len(outnames):
        raise ValueError(f"derived output names collide: {sorted(clash) or outnames}")
    return levels, outnames


def _pyramid_base_aggs(sum_cols, min_cols, max_cols):
    """Shared count/sum/min/max aggregate list for both pyramid twins —
    one copy, so the output naming contract cannot diverge."""
    aggs = [F.count("*").alias("n_rows")]
    aggs += [F.sum(c).alias(f"sum_{c}") for c in sum_cols]
    aggs += [F.min(c).alias(f"min_{c}") for c in min_cols]
    aggs += [F.max(c).alias(f"max_{c}") for c in max_cols]
    return aggs


def cell_pyramid(
    df: DataFrame,
    grid: CellGrid,
    coords: Sequence[str] = ("x", "y"),
    levels: Optional[int] = None,
    sum_cols: Sequence[str] = (),
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    distinct_col: Optional[str] = None,
    hll_lgk: int = 12,
    key_col: str = "zkey",
    level_col: str = "level",
) -> DataFrame:
    """Multi-resolution tile pyramid: the ``tile_cells`` rollup at EVERY
    zoom level 0..`levels` in one pass over the data.  Level 0 is the
    grid's native resolution; level L keys are ``zkey >> 2L`` (Z-order
    parent = one shift), so level `grid.res` is the single root cell.

    The 100-TB contract is that the base data is scanned ONCE: the level-0
    hash aggregate is the only O(n_rows) Exchange, its O(occupied-cells)
    result is materialized once, and every coarser level re-aggregates
    that small base — counts and sums add, min/max nest, and
    distinct-counting rides DataSketches HLL (``hll_sketch_agg`` per base
    cell, ``hll_union_agg`` upward), whose register-max union makes "union
    of sketches" EQUAL "sketch of the union" — the mergeability that exact
    distinct fundamentally lacks (see ``tile_cells``' exact-vs-HLL
    measurement).  A naive ``GROUP BY`` per level re-reads the input once
    per level — at 10¹² rows and 10 zoom levels that is 10 full scans for what this
    plan does in one.

    Output: one row per (level, parent cell) with ``n_rows``,
    ``sum_<c>``/``min_<c>``/``max_<c>`` per caller column, and
    ``n_distinct`` (HLL estimate) when `distinct_col` is given.  The base
    is computed at call time as a private ``localCheckpoint``: it belongs to
    the returned plan, so Spark's ContextCleaner frees it with the result
    and no DataFrame-cache entry outlives the call."""
    levels, outnames = _pyramid_contract(
        grid, levels, sum_cols, min_cols, max_cols, key_col, level_col
    )
    keyed = df.withColumn(key_col, morton_cell(grid, F.col(coords[0]), F.col(coords[1])))
    base_aggs = _pyramid_base_aggs(sum_cols, min_cols, max_cols)
    if distinct_col is not None:
        base_aggs.append(F.hll_sketch_agg(distinct_col, hll_lgk).alias("_hll"))
    base = keyed.groupBy(key_col).agg(*base_aggs).localCheckpoint(eager=True)

    def finish(lvl_df: DataFrame, lvl: int) -> DataFrame:
        out = lvl_df.withColumn(level_col, F.lit(lvl))
        if distinct_col is not None:
            out = out.withColumn("n_distinct", F.hll_sketch_estimate("_hll")).drop("_hll")
        return out.select(level_col, key_col, "n_rows",
                          *outnames, *(["n_distinct"] if distinct_col else []))

    tiers = [finish(base, 0)]
    for lvl in range(1, levels + 1):
        re_aggs = [F.sum("n_rows").alias("n_rows")]
        re_aggs += [F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols]
        re_aggs += [F.min(f"min_{c}").alias(f"min_{c}") for c in min_cols]
        re_aggs += [F.max(f"max_{c}").alias(f"max_{c}") for c in max_cols]
        if distinct_col is not None:
            re_aggs.append(F.hll_union_agg("_hll").alias("_hll"))
        tier = (base.groupBy(morton_parent(F.col(key_col), lvl).alias(key_col))
                    .agg(*re_aggs))
        tiers.append(finish(tier, lvl))
    out = tiers[0]
    for t in tiers[1:]:
        out = out.unionByName(t)
    return out
