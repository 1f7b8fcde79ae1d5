"""Distributed kNN / radius joins via cell-ring candidate generation.

This is the engine's replacement for the reference's in-process KD-tree and
ball searches (`KNearestSearch` / `BallSearch` / `KBallSearch`, primitive P1:
used by src/aggregate.jl:96-99, src/transfer.jl:80-83,
src/interpneighbors.jl:72-84, src/droplocallowhigh.jl:49-55,
src/clustering/slic.jl:74,105,169).

Physical strategy (scale-first, skew-first):

1.  **Occupancy-adaptive resolution.**  One histogram pass over the sources
    evaluates max cell occupancy at every candidate resolution at once and
    picks the coarsest whose densest cell is bounded (`_adaptive_cell_grid`)
    — a global average-density resolution melts down under spatial skew
    (one dense cell ⇒ O(m²) pairs in one task).  Mass on exactly coincident
    coordinates that no grid can split is compressed exactly: only the k+1
    smallest source ids per coordinate can ever rank in a top-k.
2.  **Level loop, each level exact.**  Remaining targets ring-1 join the
    sources keyed at the level's resolution (cell key is pure arithmetic;
    the assignment and ring explode are codegen'd expressions).  A target is
    (a) PROVEN when its k-th candidate lies within one cell edge — nothing
    outside the ring can be nearer; else (b) VERIFIED by a second join whose
    per-target ring covers its own candidate ball (`kring_exploded_var` —
    total explode volume is Σ(2kᵢ+1)², small because the ball fits in the
    3×3 block); else (c) — fewer than k ring-1 candidates — falls to the
    next, ×8-coarser level.  Dense regions resolve at fine levels with
    bounded candidate volume; sparse fringes a level or two later; one
    driver action (a count) per level, ~2 levels on realistic data.
3.  **Bounded streaming scan for the tail.**  A small remainder (or a level
    ladder about to degenerate into near-all-pairs cells) finishes with
    `_bcast_targets_scan`: targets broadcast in the closure, every source
    partition streams past them once keeping a running top-k (BLAS-form
    squared distances, O(n) selection with exact tie-break) — no kRing, no
    shuffle of sources beyond the final k·|T|·P-row rank.
4.  Ranking everywhere is (dist, s_id) — `row_number` for k>1, a partial-
    aggregating `min(struct(...))` for k=1 — deterministic tie-break.
5.  Residual skew: cells above `salt_threshold` are split into shards;
    targets touching a hot cell fan out over the shards (salted equi-join).
    AQE skew-join splitting applies on top.

Output columns: targets prefixed ``t_``, sources prefixed ``s_``, plus
``dist`` (and ``rank`` for kNN).
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..core import cells as C


def _prefixed(df: DataFrame, prefix: str, coords: Sequence[str], id_col: str, carry: Sequence[str]) -> DataFrame:
    keep = [id_col, *coords, *carry]
    sel = [F.col(c).alias(f"{prefix}{c}") for c in dict.fromkeys(keep)]
    return df.select(*sel)


def _dist_expr(tcols, scols):
    """√Σ(tᵢ−sᵢ)² — difference form, bit-identical to the numpy `_sq_dists`."""
    acc = None
    for tc, sc in zip(tcols, scols):
        term = (tc - sc) * (tc - sc)
        acc = term if acc is None else acc + term
    return F.sqrt(acc)


def metric_cholesky(metric, ndim: int) -> "np.ndarray":
    """Normalize a metric spec to the linear map L under which the metric is
    plain Euclidean on x' = Lᵀx.

    * a length-d sequence of positive per-axis weights w — weighted
      Euclidean d² = Σ wᵢ·Δᵢ² (the reference's axis-scaled `MetricBall`,
      src/interpneighbors.jl:66) — gives L = diag(√w);
    * a d×d SPD matrix M — anisotropic d² = ΔᵀMΔ (Mahalanobis / rotated
      ellipsoid) — gives its Cholesky factor (M = LLᵀ ⇒ ΔᵀMΔ = |LᵀΔ|²).
    """
    import numpy as np

    m = np.asarray(metric, dtype=float)
    if m.ndim == 1:
        if m.shape != (ndim,) or not (m > 0).all():
            raise ValueError(f"metric weights must be {ndim} positive values")
        return np.diag(np.sqrt(m))
    if m.shape != (ndim, ndim):
        raise ValueError(f"metric matrix must be {ndim}x{ndim}")
    return np.linalg.cholesky(m)  # raises LinAlgError when not SPD


def _metric_join(join_fn, targets, sources, t_coords, s_coords,
                 t_carry, s_carry, metric, kw):
    """Run `join_fn` under a non-Euclidean metric by pre-transforming both
    sides' coordinates (x' = Lᵀx) into temp columns — every physical
    strategy (cell ladder, broadcast, dedup fast path, salting) then works
    unchanged, and `dist`/radii are in METRIC units.  Original coordinates
    ride along via carry and the temp columns are dropped from the output."""
    tc, sc = list(t_coords), list(s_coords)
    assert len(tc) == len(sc), "coordinate arity mismatch"
    L = metric_cholesky(metric, len(tc))
    mcols = [f"_m{j}" for j in range(len(tc))]

    def add(df, coords):
        for j, mc in enumerate(mcols):
            expr = None
            for i, c in enumerate(coords):
                if L[i, j] == 0.0:
                    continue
                term = F.col(c) * F.lit(float(L[i, j]))
                expr = term if expr is None else expr + term
            df = df.withColumn(mc, expr if expr is not None else F.lit(0.0))
        return df

    out = join_fn(
        add(targets, tc),
        add(sources, sc),
        t_coords=tuple(mcols),
        s_coords=tuple(mcols),
        t_carry=tuple(dict.fromkeys([*tc, *t_carry])),
        s_carry=tuple(dict.fromkeys([*sc, *s_carry])),
        **kw,
    )
    return out.drop(*[f"t_{c}" for c in mcols], *[f"s_{c}" for c in mcols])


def _union_bounds_and_counts(a: DataFrame, ac, b: DataFrame, bc):
    """Bounds of both sides + row counts in ONE job (union-tagged agg).
    Returns (bounds, n_a, n_b) with bounds = ((lo, hi), … per axis)."""
    nd = len(ac)
    names = [f"_c{i}" for i in range(nd)]
    u = a.select(
        F.lit(0).alias("_side"), *[F.col(c).alias(n) for c, n in zip(ac, names)]
    ).unionByName(
        b.select(F.lit(1).alias("_side"), *[F.col(c).alias(n) for c, n in zip(bc, names)])
    )
    aggs = [F.count("*").alias("n")]
    for n_ in names:
        aggs += [F.min(n_).alias(f"lo{n_}"), F.max(n_).alias(f"hi{n_}")]
    rows = {r["_side"]: r for r in u.groupBy("_side").agg(*aggs).collect()}
    ra, rb = rows.get(0), rows.get(1)
    n_a = int(ra["n"]) if ra else 0
    n_b = int(rb["n"]) if rb else 0
    bounds = []
    for n_ in names:
        lo = float(min(r[f"lo{n_}"] for r in (ra, rb) if r))
        hi = float(max(r[f"hi{n_}"] for r in (ra, rb) if r))
        if hi <= lo:
            hi = lo + 1.0
        bounds.append((lo, hi))
    return tuple(bounds), n_a, n_b


def _adaptive_cell_grid(
    s_df: DataFrame,
    scs: Sequence[str],
    bounds,
    base_res: int,
    cap: int,
    span: int = None,
):
    """Pick the COARSEST resolution whose max cell occupancy ≤ cap.

    A globally uniform resolution sized from the average density melts down
    under spatial skew: a cell holding m sources costs O(m²) candidate pairs
    for the targets ringing it, concentrated in one task.  Oversized
    resolution only costs extra (cheap, geometric) expansion rounds for the
    sparse stragglers — so the asymmetric-risk choice is to refine until the
    DENSEST cell is bounded.

    Cost: one groupBy over the sources (fine-res histogram) + one
    explode/agg job evaluating occupancy maxima at all `span+1` candidate
    resolutions at once — both on (key, count) pairs, never on payloads.

    Returns (grid, overfull): `overfull` is True when even the finest
    candidate resolution exceeds cap — i.e. mass sits on coincident
    coordinates that no grid can split; the caller must compress those.
    """
    # evaluate candidate resolutions all the way to the per-axis bit cap by
    # default: a dense blob 10^-k the width of the extent needs ~3.3k extra
    # levels, and an undersized span reintroduces the m² hot-cell blowup this
    # function exists to prevent.  Cost only grows the histogram explode
    # factor (histogram rows, never payload rows).
    res_cap = C.BITS[len(bounds)]
    fine_res = min(res_cap, base_res + span) if span is not None else res_cap
    fine_res = max(fine_res, base_res)
    d_max = fine_res - base_res
    grid_f = C.CellGrid(bounds, fine_res)
    hist = s_df.groupBy(grid_f.cell(*[F.col(c) for c in scs]).alias("_c")).count()
    # parent cell at (fine_res - d): drop d low bits of each axis.  The shift
    # amount is a column, so `parent` uses exact integer division by 2^d.
    parent = grid_f.parent(F.col("_c"), F.col("_d"))
    occ = (
        hist.select(F.explode(F.sequence(F.lit(0), F.lit(d_max))).alias("_d"), "_c", "count")
        .groupBy("_d", parent.alias("_p"))
        .agg(F.sum("count").alias("_n"))
        .groupBy("_d")
        .agg(F.max("_n").alias("_m"))
        .collect()
    )
    max_at = {int(r["_d"]): int(r["_m"]) for r in occ}
    for d in range(d_max, -1, -1):  # coarsest candidate first
        if max_at.get(d, 0) <= cap:
            return C.CellGrid(bounds, fine_res - d), False, max_at.get(d, 0)
    return grid_f, True, max_at.get(0, 0)


def _hot_cells(sources_cells: DataFrame, threshold: int):
    """Histogram of source cells; return list of (cell, nshards) above threshold."""
    hist = (
        sources_cells.groupBy("_cell")
        .count()
        .filter(F.col("count") > threshold)
        .select("_cell", "count")
        .collect()
    )
    return {r["_cell"]: int(math.ceil(r["count"] / threshold)) for r in hist}


def radius_join(
    targets: DataFrame,
    sources: DataFrame,
    radius: float,
    *,
    t_id: str = "row_id",
    s_id: str = "row_id",
    t_coords: Sequence[str] = ("x", "y"),
    s_coords: Sequence[str] = ("x", "y"),
    t_carry: Sequence[str] = (),
    s_carry: Sequence[str] = (),
    exclude_same_id: bool = False,
    salt_threshold: Optional[int] = 200_000,
    metric=None,
) -> DataFrame:
    """All (target, source) pairs with distance ≤ radius.

    Exact: the ring count covers the ball by construction.  n-D: pass 2- or
    3-element coordinate tuples.  `metric` (per-axis weights or an SPD
    matrix, see :func:`metric_cholesky`) switches to weighted/anisotropic
    Euclidean — `radius` and the output `dist` are then in metric units,
    matching the reference's `MetricBall` (src/interpneighbors.jl:66).
    """
    if metric is not None:
        return _metric_join(
            radius_join, targets, sources, t_coords, s_coords, t_carry, s_carry,
            metric,
            dict(radius=radius, t_id=t_id, s_id=s_id,
                 exclude_same_id=exclude_same_id, salt_threshold=salt_threshold),
        )
    t = _prefixed(targets, "t_", t_coords, t_id, t_carry)
    s = _prefixed(sources, "s_", s_coords, s_id, s_carry)
    tc = [f"t_{c}" for c in t_coords]
    sc = [f"s_{c}" for c in s_coords]

    bounds, n_t, n_s = _union_bounds_and_counts(t, tc, s, sc)
    res = C.pick_resolution(bounds, radius)
    grid = C.CellGrid(bounds, res)
    k = grid.rings_needed(radius)

    s_cells = C.with_cell(s, grid, coords=sc, out="_cell")
    t_cells = C.kring_exploded(t, grid, k, coords=tc, out="_cell")

    # salting only pays when a single cell CAN exceed the threshold
    thr = salt_threshold if (salt_threshold and n_s > salt_threshold) else None
    joined = _salted_cell_join(t_cells, s_cells, thr)
    d = _dist_expr([F.col(c) for c in tc], [F.col(c) for c in sc])
    out = joined.withColumn("dist", d).filter(F.col("dist") <= F.lit(float(radius))).drop("_cell")
    if exclude_same_id:
        out = out.filter(F.col(f"t_{t_id}") != F.col(f"s_{s_id}"))
    return out


def _salted_cell_join(t_cells: DataFrame, s_cells: DataFrame, salt_threshold: Optional[int]) -> DataFrame:
    """Equi-join on `_cell`, optionally salting cells whose source count
    exceeds the threshold: hot source rows get shard = s_id % n, hot target
    rows explode all shards (a broadcast map keeps this a single pass)."""
    if not salt_threshold:
        return t_cells.join(s_cells, "_cell")
    hot = _hot_cells(s_cells, salt_threshold)
    if not hot:
        return t_cells.join(s_cells, "_cell")
    spark = t_cells.sparkSession
    hot_df = F.broadcast(
        spark.createDataFrame([(c, n) for c, n in hot.items()], "_cell long, _nshard int")
    )
    s2 = (
        s_cells.join(hot_df, "_cell", "left")
        .withColumn(
            "_salt",
            F.when(F.col("_nshard").isNull(), F.lit(0)).otherwise(
                F.pmod(F.xxhash64(*[c for c in s_cells.columns if c != "_cell"][:1]), F.col("_nshard")).cast("int")
            ),
        )
        .drop("_nshard")
    )
    t2 = (
        t_cells.join(hot_df, "_cell", "left")
        .withColumn("_nshard", F.coalesce(F.col("_nshard"), F.lit(1)))
        .withColumn("_salt", F.explode(F.sequence(F.lit(0), F.col("_nshard") - 1)))
        .drop("_nshard")
    )
    return t2.join(s2, ["_cell", "_salt"]).drop("_salt")


def _topk_tiebreak(d: "np.ndarray", s_ids: "np.ndarray", kk: int) -> "np.ndarray":
    """Indices (n_rows, kk) of the kk smallest entries per row of `d`,
    ordered by (dist, s_id) — EXACT tie-break, but O(n) selection instead of
    a full-row lexsort: argpartition by distance, lexsort only the kk
    selected, then repair the (rare) rows where distance ties straddle the
    selection boundary."""
    n, m = d.shape
    ids = np.broadcast_to(s_ids, d.shape)
    if kk >= m:
        return np.lexsort((ids, d), axis=1)
    part = np.argpartition(d, kk - 1, axis=1)[:, :kk]
    rows = np.arange(n)[:, None]
    dsel = d[rows, part]
    # exact order within the selection
    inner = np.lexsort((ids[rows, part], dsel), axis=1)
    order = part[rows, inner]
    dsel = np.take_along_axis(d, order, axis=1)
    kth = dsel[:, -1]
    # rows where entries OUTSIDE the selection tie the kth distance: the
    # partition picked arbitrary members of the tie group — redo those rows
    # exactly (tie groups are tiny; np.isclose not needed, bit-equality is
    # what the SQL tie-break sees too)
    # kth == inf means every finite entry is already inside the selection
    # (inf never outranks a finite distance), so only finite boundaries can
    # have straddling ties
    tie_rows = np.where(np.isfinite(kth) & ((d <= kth[:, None]).sum(axis=1) > kk))[0]
    for r in tie_rows:
        cand = np.where(d[r] <= kth[r])[0]
        o = cand[np.lexsort((s_ids[cand], d[r, cand]))][:kk]
        order[r] = o
    return order


def _sq_dists(T: "np.ndarray", S: "np.ndarray") -> "np.ndarray":
    """Pairwise SQUARED euclidean distances in DIFFERENCE form,
    (tx−sx)² + (ty−sy)², with per-coordinate in-place temporaries.

    NOT the BLAS form |t|²+|s|²−2·T·Sᵀ: that rounds differently, and on
    lattice coordinates (true distance ties everywhere) a 1-ulp formula
    difference flips the (dist, s_id) tie-break — the numpy paths would
    disagree with the JVM `_dist_expr`, which computes exactly these IEEE
    operations.  Difference form is bit-identical to the SQL path, so every
    route (dedup-1NN / broadcast / targets-scan / cell ladder) returns the
    same rows.
    Cost vs gemm: ndim (n,m) temporaries instead of one — fine for 2-/3-D."""
    d2 = T[:, 0][:, None] - S[:, 0][None, :]
    np.multiply(d2, d2, out=d2)
    for ax in range(1, T.shape[1]):
        da = T[:, ax][:, None] - S[:, ax][None, :]
        np.multiply(da, da, out=da)
        d2 += da
    return d2


def _broadcast_knn(
    t: DataFrame,
    s: DataFrame,
    k: int,
    tid: str,
    sid: str,
    tc: Sequence[str],
    sc: Sequence[str],
    exclude_same_id: bool,
    max_radius,
) -> DataFrame:
    """Small-source fast path: the reference's in-memory KD-tree analogue.

    Sources (≤ broadcast threshold) are collected once and shipped in the
    UDF closure; each Arrow batch of targets computes exact kNN with one
    numpy distance matrix + argpartition.  One narrow pass over the targets:
    no shuffle, no window, no driver round-trips per round."""
    import pandas as pd
    from typing import Iterator

    spdf = s.toPandas()
    S = spdf[list(sc)].to_numpy(dtype=float)
    s_ids = spdf[sid].to_numpy()
    s_cols = {c: spdf[c].to_numpy() for c in spdf.columns}
    n_s = len(spdf)
    kk = min(k, n_s)

    t_fields = t.schema.fields
    s_fields = s.schema.fields

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            T = pdf[list(tc)].to_numpy(dtype=float)
            d = _sq_dists(T, S)  # (n_t, n_s) squared
            if exclude_same_id:
                same = pdf[tid].to_numpy()[:, None] == s_ids[None, :]
                d = np.where(same, np.inf, d)
            if max_radius is not None:
                d = np.where(d <= float(max_radius) ** 2, d, np.inf)
            # top-k with exact (dist, s_id) tie-break, O(n_s) selection
            order = _topk_tiebreak(d, s_ids, kk)
            n_t = len(pdf)
            dd = np.sqrt(np.take_along_axis(d, order, axis=1))  # (n_t, kk) sorted
            valid = np.isfinite(dd)
            counts = valid.sum(axis=1)
            total = int(counts.sum())
            if total == 0:
                continue
            rep_idx = np.repeat(np.arange(n_t), counts)
            flat_sel = order[valid]
            block = {c: pdf[c].to_numpy()[rep_idx] for c in pdf.columns}
            for c in s_cols:
                block[c] = s_cols[c][flat_sel]
            block["dist"] = dd[valid]
            starts = np.cumsum(counts) - counts
            block["rank"] = (np.arange(total) - np.repeat(starts, counts) + 1).astype(np.int32)
            yield pd.DataFrame(block)

    schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in t_fields)
        + ", "
        + ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in s_fields)
        + ", dist double, rank int"
    )
    return t.mapInPandas(run, schema)


def _bcast_targets_scan(
    t_small: DataFrame,
    s: DataFrame,
    k: int,
    tid: str,
    sid: str,
    tc: Sequence[str],
    sc: Sequence[str],
    exclude_same_id: bool,
    max_radius,
) -> DataFrame:
    """Few-targets fast path (the transpose of `_broadcast_knn`): collect the
    targets once, stream every SOURCE partition past them, keep a running
    per-target top-k inside the partition (numpy, chunked so the distance
    block stays bounded), emit ≤ n_t·k candidate rows per partition, then one
    tiny hash-agg/window picks the global top-k.  No kRing explosion — this
    is how sparse stragglers finish after the cell rounds settle the bulk."""
    import pandas as pd
    from typing import Iterator

    tpdf = t_small.toPandas()
    n_t = len(tpdf)
    t_fields = t_small.schema.fields
    s_fields = s.schema.fields
    if n_t == 0:
        # no targets (e.g. the dedup fast path when EVERY coordinate is
        # duplicated): emit an empty frame with the join's output schema
        spark = t_small.sparkSession
        from pyspark.sql import types as _T

        empty_schema = _T.StructType(
            list(t_fields) + list(s_fields)
            + [_T.StructField("dist", _T.DoubleType()), _T.StructField("rank", _T.IntegerType())]
        )
        return spark.createDataFrame([], empty_schema)
    T = tpdf[list(tc)].to_numpy(dtype=float)
    t_ids = tpdf[tid].to_numpy()
    t_cols = {c: tpdf[c].to_numpy() for c in tpdf.columns}

    CHUNK = 1 << 22  # ≤ ~32 MB distance block per (target-chunk × batch)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # accumulate per-partition candidates: keep k best (dist, s_id) per
        # target across all batches of this partition
        acc_d = [np.full((n_t, 0), np.inf)]
        acc_sidx = [np.full((n_t, 0), -1, dtype=np.int64)]
        src_rows = []
        row_base = 0
        kk = k

        for pdf in batches:
            if pdf.empty:
                continue
            S = pdf[list(sc)].to_numpy(dtype=float)
            s_ids = pdf[sid].to_numpy()
            nb = len(pdf)
            t_chunk = max(1, CHUNK // nb)
            # batch-local top-k per target chunk (rows are independent, so
            # only the (chunk, kk_b) selections are kept), then merge into
            # the accumulator lazily
            kk_b = min(kk, nb)
            o_parts, d_parts = [], []
            for lo in range(0, n_t, t_chunk):
                hi = min(n_t, lo + t_chunk)
                d = _sq_dists(T[lo:hi], S)  # squared
                if exclude_same_id:
                    d = np.where(t_ids[lo:hi, None] == s_ids[None, :], np.inf, d)
                if max_radius is not None:
                    d = np.where(d <= float(max_radius) ** 2, d, np.inf)
                o = _topk_tiebreak(d, s_ids, kk_b)
                o_parts.append(o)
                d_parts.append(np.take_along_axis(d, o, axis=1))
            order = np.concatenate(o_parts, axis=0)  # (n_t, kk_b)
            # keep ONLY the batch rows some target selected (≤ n_t·k, not
            # nb): retaining whole batches would accumulate the entire
            # source partition in pandas memory — the opposite of the
            # bounded-scan contract — and OOM when the ladder hands this
            # path a large source table.  Remap indices to the slice.
            used = np.unique(order)
            inv = np.empty(nb, dtype=np.int64)
            inv[used] = np.arange(len(used))
            acc_d.append(np.concatenate(d_parts, axis=0))
            acc_sidx.append(inv[order] + row_base)
            src_rows.append(pdf.iloc[used].reset_index(drop=True))
            row_base += len(used)

        if not src_rows:
            return
        D = np.concatenate(acc_d, axis=1)
        IDX = np.concatenate(acc_sidx, axis=1)
        allsrc = pd.concat(src_rows, ignore_index=True)
        s_ids_all = np.where(IDX >= 0, allsrc[sid].to_numpy()[IDX], np.iinfo(np.int64).max)
        kk_f = min(kk, D.shape[1])
        order = np.lexsort((s_ids_all, D), axis=1)[:, :kk_f]
        dd = np.take_along_axis(D, order, axis=1)
        sel = np.take_along_axis(IDX, order, axis=1)
        valid = np.isfinite(dd)
        counts = valid.sum(axis=1)
        total = int(counts.sum())
        if total == 0:
            return
        rep_idx = np.repeat(np.arange(n_t), counts)
        flat_sel = sel[valid]
        block = {c: t_cols[c][rep_idx] for c in t_cols}
        for c in allsrc.columns:
            block[c] = allsrc[c].to_numpy()[flat_sel]
        block["dist"] = np.sqrt(dd[valid])  # accumulator held squared dists
        yield pd.DataFrame(block)

    schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in t_fields)
        + ", "
        + ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in s_fields)
        + ", dist double"
    )
    partial = s.mapInPandas(run, schema)
    w = Window.partitionBy(tid).orderBy(F.col("dist"), F.col(sid))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _selfjoin_dedup_1nn(
    df: DataFrame,
    id_col: str,
    coords,
    carry,
    *,
    rows_per_cell,
    salt_threshold,
    broadcast_threshold,
    finish_threshold,
) -> DataFrame:
    """Exact 1-NN self-join (exclude self) on duplicate-heavy data via
    UniqueCoords-style compression — the dedup workload's dominant pattern.

    * Rows sharing an exact coordinate with ≥2 rows resolve WITHOUT any
      spatial search: their 1-NN is the smallest-id coincident row other
      than self, at distance exactly 0 (nothing at a different coordinate
      can beat 0, and ties at 0 break by s_id).
    * Singleton-coordinate rows search the generic cell path against ONE
      row per unique coordinate (only the min-id row at a coordinate can
      win a (dist, s_id) tie-break there) — both join sides shrink by the
      duplicate mass.

    One coordinate window + the reduced search replaces the full ladder.
    """
    s = _prefixed(df, "s_", coords, id_col, carry)
    sc = [f"s_{c}" for c in coords]
    sid = f"s_{id_col}"
    tid = f"t_{id_col}"
    ren = {c: "t_" + c[2:] for c in s.columns}

    w_rn = Window.partitionBy(*sc).orderBy(sid)
    w_all = Window.partitionBy(*sc)
    marked = (
        s.withColumn("_rn", F.row_number().over(w_rn))
        .withColumn("_cnt", F.count("*").over(w_all))
        .persist()
    )

    # ---- pile rows: coincident resolution, no search --------------------
    top2 = marked.filter(F.col("_rn") <= 2).select(*s.columns)
    piles_t = marked.filter(F.col("_cnt") >= 2).select(
        *[F.col(c).alias(ren[c]) for c in s.columns]
    )
    cond = None
    for c in coords:
        eq = F.col(f"t_{c}") == F.col(f"s_{c}")
        cond = eq if cond is None else (cond & eq)
    pairs = piles_t.join(top2, cond).filter(F.col(sid) != F.col(tid))
    s_payload = [c for c in s.columns if c != sid]
    t_cols = [ren[c] for c in s.columns]
    pile_out = (
        pairs.groupBy(*t_cols)
        .agg(F.min(F.struct(F.col(sid), *[F.col(c) for c in s_payload])).alias("_b"))
        .select(
            *t_cols,
            F.col(f"_b.{sid}").alias(sid),
            *[F.col(f"_b.{c}").alias(c) for c in s_payload],
            F.lit(0.0).alias("dist"),
            F.lit(1).alias("rank"),
        )
    )

    # ---- singleton rows: reduced generic search -------------------------
    raw_cols = [id_col, *coords, *carry]
    singles_raw = marked.filter(F.col("_cnt") == 1).select(
        *[F.col(f"s_{c}").alias(c) for c in dict.fromkeys(raw_cols)]
    )
    uniq_raw = marked.filter(F.col("_rn") == 1).select(
        *[F.col(f"s_{c}").alias(c) for c in dict.fromkeys(raw_cols)]
    )
    inner, materialized = _knn_dispatch(
        singles_raw, uniq_raw, 1,
        t_id=id_col, s_id=id_col, t_coords=coords, s_coords=coords,
        t_carry=carry, s_carry=carry, exclude_same_id=True, max_radius=None,
        rows_per_cell=rows_per_cell, salt_threshold=salt_threshold,
        broadcast_threshold=broadcast_threshold, finish_threshold=finish_threshold,
    )

    # the ladder has already materialized `inner` (its own eager
    # checkpoint), so only the pile branch still references `marked` —
    # checkpoint just that branch instead of re-materializing the whole
    # union (saves a second full-result write).  The broadcast / targets-scan
    # routes, however, return LAZY plans over `marked`'s lineage —
    # unpersisting before the union would recompute the coordinate window
    # (ADVICE r2).  The decision follows the route `_knn_dispatch` reports
    # instead of re-deriving the routing conditions (ADVICE r3); the lazy
    # routes only trigger on small reduced sides, so the eager checkpoint
    # there is a bounded narrow write.
    if not materialized:
        inner = inner.localCheckpoint(eager=True)
    pile_out = pile_out.localCheckpoint(eager=True)
    marked.unpersist()
    return pile_out.unionByName(inner.select(*pile_out.columns))


def knn_join(
    targets: DataFrame,
    sources: DataFrame,
    k: int,
    *,
    t_id: str = "row_id",
    s_id: str = "row_id",
    t_coords: Sequence[str] = ("x", "y"),
    s_coords: Sequence[str] = ("x", "y"),
    t_carry: Sequence[str] = (),
    s_carry: Sequence[str] = (),
    exclude_same_id: bool = False,
    max_radius: Optional[float] = None,
    rows_per_cell: Optional[int] = None,
    salt_threshold: Optional[int] = 200_000,
    broadcast_threshold: int = 20_000,
    finish_threshold: int = 2_000,
    metric=None,
) -> DataFrame:
    """Exact k-nearest-neighbors join (≤ k when fewer sources qualify).

    Returns ``t_*``, ``s_*``, ``dist``, ``rank`` (1-based, rank ≤ k).
    With ``max_radius`` it is the reference's `KBallSearch` (k nearest within
    a ball, src/interpneighbors.jl:72-84); targets with no qualifying source
    are absent from the output (consumers left-join to keep them).

    n-D: pass matching-length coordinate tuples (2-D ``("x","y")`` default,
    3-D ``("x","y","z")``) — the reference is dimension-generic
    (src/utils.jl:6, src/modefilter.jl:22).

    ``metric`` (per-axis weights or an SPD matrix, see
    :func:`metric_cholesky`) switches the search to weighted/anisotropic
    Euclidean — the reference's ``InterpolateNeighbors(...; distance)`` /
    ``MetricBall`` knob (src/interpneighbors.jl:66).  ``max_radius`` and the
    output ``dist`` are then in metric units.

    Physical routes (the engine's §3.1-step-3 dispatch), all returning
    the same rows:
    * dedup-1NN — self-join 1-NN with abundant exact-duplicate coordinates
      → `_selfjoin_dedup_1nn` (UniqueCoords-style compression: coincident
      rows resolve at distance 0 with no spatial search; only singleton
      coordinates search, against one row per unique coordinate);
    * broadcast — sources ≤ broadcast_threshold → `_broadcast_knn` (one
      narrow pass);
    * targets-scan — targets ≤ finish_threshold → `_bcast_targets_scan`
      (one streaming pass over the sources);
    * cell ladder — otherwise: cell-ring candidate join with driver-looped
      exact ring expansion and optional hot-cell salting.
    """
    if metric is not None:
        return _metric_join(
            knn_join, targets, sources, t_coords, s_coords, t_carry, s_carry,
            metric,
            dict(k=k, t_id=t_id, s_id=s_id, exclude_same_id=exclude_same_id,
                 max_radius=max_radius, rows_per_cell=rows_per_cell,
                 salt_threshold=salt_threshold,
                 broadcast_threshold=broadcast_threshold,
                 finish_threshold=finish_threshold),
        )
    if (
        k == 1
        and exclude_same_id
        and max_radius is None
        and targets is sources
        and t_id == s_id
        and tuple(t_coords) == tuple(s_coords)
        and tuple(t_carry) == tuple(s_carry)
    ):
        # one narrow agg decides whether compression pays (≥10% duplicate
        # coordinate mass); without duplicates the coordinate window would be
        # a pure extra shuffle in front of an identical search
        stats = targets.agg(
            F.count("*").alias("n"),
            F.approx_count_distinct(F.struct(*[F.col(c) for c in t_coords])).alias("u"),
        ).first()
        if stats["n"] and stats["u"] <= 0.9 * stats["n"]:
            return _selfjoin_dedup_1nn(
                targets, t_id, t_coords, t_carry,
                rows_per_cell=rows_per_cell, salt_threshold=salt_threshold,
                broadcast_threshold=broadcast_threshold,
                finish_threshold=finish_threshold,
            )
    out, _ = _knn_dispatch(
        targets, sources, k,
        t_id=t_id, s_id=s_id, t_coords=t_coords, s_coords=s_coords,
        t_carry=t_carry, s_carry=s_carry, exclude_same_id=exclude_same_id,
        max_radius=max_radius, rows_per_cell=rows_per_cell,
        salt_threshold=salt_threshold, broadcast_threshold=broadcast_threshold,
        finish_threshold=finish_threshold,
    )
    return out


def _knn_dispatch(
    targets: DataFrame,
    sources: DataFrame,
    k: int,
    *,
    t_id: str,
    s_id: str,
    t_coords: Sequence[str],
    s_coords: Sequence[str],
    t_carry: Sequence[str],
    s_carry: Sequence[str],
    exclude_same_id: bool,
    max_radius: Optional[float],
    rows_per_cell: Optional[int],
    salt_threshold: Optional[int],
    broadcast_threshold: int,
    finish_threshold: int,
) -> tuple[DataFrame, bool]:
    """`knn_join`'s routes after the dedup check: broadcast, targets-scan
    or the cell ladder.  Returns ``(out, materialized)``: the ladder's
    result is already checkpointed (True); the broadcast and targets-scan
    routes return lazy plans over their inputs (False)."""
    t = _prefixed(targets, "t_", t_coords, t_id, t_carry)
    s = _prefixed(sources, "s_", s_coords, s_id, s_carry)
    tc = [f"t_{c}" for c in t_coords]
    sc = [f"s_{c}" for c in s_coords]
    tid, sid = f"t_{t_id}", f"s_{s_id}"
    ndim = len(tc)

    bounds, n_targets, n_sources = _union_bounds_and_counts(t, tc, s, sc)
    if n_sources == 0:
        raise ValueError("knn_join: empty source side")
    if n_sources <= broadcast_threshold:
        return _broadcast_knn(t, s, k, tid, sid, tc, sc, exclude_same_id, max_radius), False
    if n_targets <= finish_threshold:
        # few targets, many sources (e.g. InterpolateNeighbors onto a small
        # domain): one streaming scan beats building the cell index
        return _bcast_targets_scan(t, s, k, tid, sid, tc, sc, exclude_same_id, max_radius), False
    base_res = C.pick_resolution_by_count(n_sources, rows_per_cell or max(4, k), ndim)
    # skew guard: refine until the densest cell is bounded (see
    # _adaptive_cell_grid).  cap bounds ring-1 candidates per target at
    # 3^ndim·cap while staying coarse enough to settle most targets in round 1.
    # measured at 2M bench anchors (PLANS.md round 2): cap 8 beats 16 by
    # ~20% at local[8] AND ~26% at local[2] for k=1 (candidate volume scales
    # with cap; too-fine cap 4 re-adds ladder rounds and loses it back)
    cap = max(8, 4 * k)
    grid, overfull, occ_max = _adaptive_cell_grid(s, sc, bounds, base_res, cap)
    if overfull:
        # mass on coincident coordinates no grid can split.  Exact
        # compression: among sources sharing one exact coordinate, only the
        # k+1 smallest ids can ever rank in a top-k (ties break by id, and
        # at most one of them is the target itself under exclude_same_id).
        w_coin = Window.partitionBy(*sc).orderBy(sid)
        s = (
            s.withColumn("_rn", F.row_number().over(w_coin))
            .filter(F.col("_rn") <= k + 1)
            .drop("_rn")
        )
        # re-pick the grid on the COMPRESSED sources: the coincident pile no
        # longer dominates the histogram, so the loop starts at a sane
        # resolution instead of crawling down from the bit cap level by level
        grid, _, occ_max = _adaptive_cell_grid(s, sc, bounds, base_res, cap)
    diag = math.sqrt(sum((hi - lo) ** 2 for lo, hi in bounds))
    # the adaptive resolution already bounds occupancy at the STARTING level;
    # salting can only matter at coarser levels of the ladder (occupancy
    # grows ×64/level) or in the overfull case — skip the per-join hot-cell
    # histogram (a driver collect) whenever the bound rules it out
    thr = salt_threshold if (salt_threshold and n_sources > salt_threshold) else None
    w = Window.partitionBy(tid).orderBy(F.col("dist"), F.col(sid))

    def _kbest(cand: DataFrame) -> DataFrame:
        """k best (dist, s_id) rows per target from a candidate set, plus
        bookkeeping columns `_cnt` (candidates seen) and `_kth` (worst kept
        distance)."""
        cand = cand.withColumn(
            "dist", _dist_expr([F.col(c) for c in tc], [F.col(c) for c in sc])
        )
        if max_radius is not None:
            cand = cand.filter(F.col("dist") <= F.lit(float(max_radius)))
        if exclude_same_id:
            cand = cand.filter(F.col(tid) != F.col(sid))
        if k == 1:
            # hash aggregate with partial (map-side) combine beats a window
            # sort: min(struct(dist, s_id, payload)) per target
            other = [c for c in cand.columns if c not in (tid, "dist", sid, "_cell")]
            packed = cand.groupBy(tid).agg(
                F.min(F.struct(F.col("dist"), F.col(sid), *[F.col(c) for c in other])).alias("_b"),
                F.count("*").alias("_cnt"),
            )
            return packed.select(
                tid,
                F.col(f"_b.{sid}").alias(sid),
                F.col("_b.dist").alias("dist"),
                *[F.col(f"_b.{c}").alias(c) for c in other],
                F.lit(1).alias("rank"),
                F.col("_cnt"),
                F.col("_b.dist").alias("_kth"),
            )
        ranked = cand.withColumn("rank", F.row_number().over(w)).withColumn(
            "_cnt", F.count("*").over(Window.partitionBy(tid))
        )
        topk = ranked.filter(F.col("rank") <= k).drop("_cell")
        return topk.withColumn("_kth", F.max("dist").over(Window.partitionBy(tid)))

    # ---------------------------------------------------------------------
    # Level loop.  At each level the sources are keyed at a resolution
    # (coarsened ×8 per level — the cell key is pure arithmetic, sources
    # never recomputed), and each remaining target runs:
    #   ring-1 candidates → (a) PROVEN if its k-th candidate is within one
    #   cell edge (nothing outside the ring can be nearer), else (b) an
    #   exact VERIFY pass whose per-target ring covers its own candidate
    #   ball (≤ ~6 rings, since the ball fits inside the 3×3 block), else
    #   (c) — fewer than k candidates — fall through to the next (coarser)
    #   level.  Dense regions resolve at fine levels with bounded cell
    #   occupancy (no m² pair blowup); sparse fringes resolve a level or
    #   two later; a bounded streaming scan finishes any tiny remainder.
    # Driver actions: one count per level (≈2–3 levels in practice).
    # ---------------------------------------------------------------------
    t_payload = [c for c in t.columns if c not in (tid, *tc)]
    pieces = []
    persisted = []
    cur = t
    n_cur = n_targets
    level_step = 3
    d = 0
    # verify-ring cap: ring volume is (2R+1)^ndim rows per target, so the
    # affordable R shrinks with dimension (2-D: 13²=169 cells; 3-D: 7³=343)
    R_MAX = {1: 16, 2: 6, 3: 3}.get(ndim, 2)
    while True:
        gridL = C.CellGrid(bounds, max(0, grid.res - d))
        sL = C.with_cell(s, gridL, coords=sc, out="_cell").persist()
        persisted.append(sL)
        edge = gridL.min_cell_edge
        # occupancy upper bound at this level: a level-d cell contains
        # 2^(ndim·d) starting-level cells, each ≤ occ_max (exact when not
        # overfull)
        occ_bound = (occ_max if not overfull else n_sources) * ((1 << ndim) ** d)
        thr_L = thr if (thr and occ_bound > thr) else None

        t_cells = C.kring_exploded(cur, gridL, 1, coords=tc, out="_cell")
        best = _kbest(_salted_cell_join(t_cells, sL, thr_L)).persist()
        persisted.append(best)

        proven = best.filter((F.col("_cnt") >= k) & (F.col("_kth") <= F.lit(edge))).drop(
            "_cnt", "_kth"
        )
        pieces.append(proven)

        head = best.filter(F.col("rank") == 1).select(tid, *tc, "_kth", "_cnt")
        # verify ring sized by the target's own candidate ball — but CAPPED:
        # a target whose ball spans many cells of this level would explode
        # (2r+1)^ndim rows here, while one level coarser the same ball needs
        # r/8 rings.  Deferring it costs one cheap re-discovery; verifying it
        # here costs exponential explode volume.
        ring_col = F.ceil(F.col("_kth") / F.lit(edge)).cast("int") + F.lit(1)
        unproven = head.filter(
            (F.col("_cnt") >= k) & (F.col("_kth") > F.lit(edge)) & (ring_col <= R_MAX)
        )
        verify_t = unproven.select(tid, *tc, ring_col.alias("_ring"))
        vb_cells = C.kring_exploded_var(verify_t, gridL, "_ring", coords=tc, out="_cell").drop(
            "_ring"
        )
        bestB = _kbest(_salted_cell_join(vb_cells, sL, thr_L)).drop("_cnt", "_kth")
        if t_payload:
            bestB = bestB.join(cur.select(tid, *t_payload), tid)
        pieces.append(bestB)

        resolved_ids = head.filter((F.col("_cnt") >= k) & (ring_col <= R_MAX)).select(tid)
        starved = cur.join(resolved_ids, tid, "left_anti")
        n_starved = starved.count()  # the level's one driver action
        if n_starved == 0:
            break
        # the scan touches n_remaining × n_sources distance pairs; a coarser
        # level touches ~9 × n_remaining × avg-occupancy.  Scan only when its
        # volume is genuinely small (or the ladder is exhausted) — a tiny
        # straggler count over a huge source table still wants more levels.
        scan_budget = 200_000_000
        if (
            (n_starved <= finish_threshold and n_starved * n_sources <= scan_budget)
            or gridL.res == 0
        ):
            pieces.append(_bcast_targets_scan(
                starved, s, k, tid, sid, tc, sc, exclude_same_id, max_radius
            ))
            break
        # truncate lineage: each level's plan otherwise embeds every prior
        # level's anti-join, and planning time grows superlinearly
        # escalate the coarsening step when a level resolved almost nothing
        # (multi-scale data: the gap between density scales carries no
        # information, so cross it geometrically instead of crawling)
        if n_starved > 0.9 * n_cur:
            level_step = min(level_step * 2, 6)
        cur = starved.localCheckpoint(eager=False)
        n_cur = n_starved
        d += level_step

    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p, allowMissingColumns=False)
    # materialize once, then release every per-level cache: without this,
    # cached sL/best blocks accumulate across levels AND across repeated
    # knn_join calls in one session (the pieces lazily reference them, so
    # they could not be unpersisted before the result is consumed).  The
    # checkpoint also makes repeated downstream consumption cheap.
    out = out.localCheckpoint(eager=True)
    for p in persisted:
        p.unpersist()
    return out, True
