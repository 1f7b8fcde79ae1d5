"""Scaling harness: one surface's job at several parallelism levels.

    python scripts/scaling.py <surface> [--levels 1,4] [--reps 2] [--n N] [options]

Surfaces: ``cells``, ``dedup``, ``media``, ``packing``, ``pip``, ``pyramid``,
``image`` and ``calibrate``; ``python scripts/scaling.py <surface> -h`` lists
a surface's options and their defaults.

The protocol is the same for every surface:

* The surface's fixture table, if it has one, is built once in its own JVM
  and cached under ``.scratch/``.  The cache name holds the parameters the
  table depends on and a hash of the synthesis code, so an edited generator
  builds a new table instead of silently reusing stale bytes.
* Every (level, rep) runs in a fresh Python process with its own
  ``local[level]`` JVM, and each rep runs the levels in turn, so a burst of
  host noise cannot bias one level.
* Shuffle partitioning is fixed across levels (default: twice the highest
  level), so only executor parallelism differs.  Tying partitions to cores
  makes the low leg's few large partitions spill, which reads as
  super-linear scaling (BENCH/BASELINE.md, round-4 protocol note).
* Each level's best run is the one with the highest rate.
* Every identity field must be equal on every run: the output may not depend
  on the executor count.
* A level's efficiency is its speedup over the lowest level divided by its
  parallelism ratio; ``scaling_efficiency`` is the highest level's.
* Each run also reports the SQL jobs and the shuffle, spill and Python bytes
  of its timed body, read from the SQL status store by perfbench's Tracer.
* After every timed body the session's DataFrame cache must be empty: an
  operator frees what it persisted, the caller releases nothing.

Prints one JSON line on stdout and progress on stderr.  The fixture cache is
the only file it writes.
"""

from __future__ import annotations

import argparse
import dataclasses
import hashlib
import inspect
import json
import os
import subprocess
import sys
import time
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.path.join(REPO, ".scratch")
_CORE = os.path.join(REPO, "geostatstransforms_jl_spark", "core")
_MARK = "SCALING_JSON "


@dataclasses.dataclass(frozen=True)
class Surface:
    """One scaling job.

    ``body(spark, p, fixture, level)`` is the timed work; it returns the
    run's output fields, and returns ``sec`` too when its timed window is
    narrower than the call.  ``options`` maps each surface option to its
    default (a tuple lists the choices, default first); ``levels`` is the
    default ``--levels``.  ``fixture(spark, p)``
    returns the table to cache, under the name ``fixture_name(p)`` (None: no
    fixture); its hash covers ``fixture`` and the module functions it calls,
    plus ``fixture_files``.  ``compare`` names a second body that also runs
    at the highest level, in every rep, against the same identity fields.
    """

    body: Callable
    identity: tuple[str, ...]
    unit: str
    options: dict
    items: Callable = lambda p: p.n
    fixture: Callable | None = None
    fixture_name: Callable = lambda p: None
    fixture_files: tuple[str, ...] = ()
    compare: tuple[str, Callable] | None = None
    levels: str = "1,4"


# ---- fixtures -----------------------------------------------------------


def _u(ids, salt):
    """splitmix64 of ``ids + salt`` (uint64 arrays) as uniforms in [0, 1)."""
    z = (ids + np.uint64(salt)) * np.uint64(0x9E3779B97F4A7C15)
    z ^= z >> np.uint64(30)
    z *= np.uint64(0xBF58476D1CE4E5B9)
    z ^= z >> np.uint64(27)
    z *= np.uint64(0x94D049BB133111EB)
    z ^= z >> np.uint64(31)
    return (z >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _real_anchors(batches):
    from geostatstransforms_jl_spark.core.images import make_image

    # make_image(encode=False) gives the bench image table's phash; the codec
    # draws no RNG, so these are the same values without the encode cost
    for pdf in batches:
        ids = pdf["id"].tolist()
        yield pd.DataFrame({
            "row_id": ids,
            "phash": [make_image(int(i), encode=False)[6] & ((1 << 63) - 1) for i in ids],
        })


def _zipf_anchors(batches):
    # hot-cell stress (SURVEY §7: phash-derived cells are Zipfian): cell rank
    # ~ Zipf(s=1.2) over the 256x256 cells of the level-8 grid, the point
    # uniform inside its cell.  The hottest cell holds ~20% of the rows.  A
    # fixed rank->cell permutation scatters hot cells across shuffle
    # partitions, isolating key skew from range skew.
    k = 1 << 16
    w = 1.0 / np.arange(1, k + 1, dtype=np.float64) ** 1.2
    cdf = np.cumsum(w) / w.sum()
    perm = np.random.Generator(np.random.PCG64(12345)).permutation(k)
    for pdf in batches:
        ids = pdf["id"].to_numpy().astype(np.uint64)
        cell = perm[np.clip(np.searchsorted(cdf, _u(ids, 1)), 0, k - 1)]
        yield pd.DataFrame({
            "row_id": ids.astype("int64"),
            "phash": ((ids * np.uint64(0x9E3779B97F4A7C15)) >> np.uint64(1)).astype("int64"),
            "x": (cell % 256 + _u(ids, 2)) / 256.0,
            "y": (cell // 256 + _u(ids, 3)) / 256.0,
        })


def _anchors(spark, p):
    """Tile anchors (row_id, phash, x, y), shared by ``cells`` and ``pyramid``."""
    from geostatstransforms_jl_spark.core.images import georef_lonlat

    base = spark.range(p.n, numPartitions=64)
    if p.dist == "zipf":
        return base.mapInPandas(_zipf_anchors, "row_id long, phash long, x double, y double")
    lon, lat = georef_lonlat("phash")
    return (base.mapInPandas(_real_anchors, "row_id long, phash long")
            .select("row_id", "phash", lon.alias("x"), lat.alias("y")))


def _uniform_points(batches):
    for pdf in batches:
        ids = pdf["id"].to_numpy().astype(np.uint64)
        yield pd.DataFrame({"row_id": ids.astype("int64"), "x": _u(ids, 1), "y": _u(ids, 2)})


def _pip_points(spark, p):
    return spark.range(p.n, numPartitions=64).mapInPandas(
        _uniform_points, "row_id long, x double, y double")


def _prose(batches):
    # 60 words per doc from a 40k-word vocabulary, Zipf-ish by squaring a
    # uniform.  doc_id mod 50 == 1 is a near-copy of the previous doc (words
    # 7, 23 and 41 resampled: est. Jaccard ~0.85, above the 0.7 threshold);
    # mod 50 == 2 an exact copy of the doc two back.
    words, vocab = 60, 40_000
    for pdf in batches:
        ids = pdf["id"].to_numpy().astype(np.uint64)
        mod = ids % np.uint64(50)
        one = np.uint64(1)
        base = (ids - np.where((mod == 1) | (mod == 2), one, np.uint64(0))
                - np.where(mod == 2, one, np.uint64(0)))
        pos = np.arange(words, dtype=np.uint64)
        u = _u(base[:, None] * np.uint64(1315423911) + pos[None, :], 0)
        w = (u * u * vocab).astype(np.int64)
        near = mod == 1
        for q in (7, 23, 41):
            uq = _u(ids[near] * np.uint64(2654435761) + np.uint64(q), 0)
            w[near, q] = (uq * uq * vocab).astype(np.int64)
        texts = [" ".join("w%05d" % x for x in row) for row in w]
        yield pd.DataFrame({"doc_id": ids.astype("int64"), "text": texts})


def _dedup_docs(spark, p):
    return spark.range(p.n, numPartitions=64).mapInPandas(_prose, "doc_id long, text string")


def _packing_docs(spark, p):
    """(doc_id, n_toks, src), or (doc_id, text, src) for the ``tokenize``
    route: the packed columns plus one payload column, so column pruning is
    part of the measured scan.  Dense ids and uniform token counts balance
    the shards by construction (the operator's contract)."""
    tokenize = p.route == "tokenize"
    ids = spark.range(p.n, numPartitions=64)
    src = F.pmod(F.xxhash64("id", F.lit(2 if tokenize else 1).cast("long")), F.lit(31)).alias("src")
    if not tokenize:
        return ids.select(F.col("id").alias("doc_id"),
                          F.pmod(F.xxhash64("id"), F.lit(997)).alias("n_toks"), src)
    # ~190-char docs: 12-61 words from a 4096-word vocabulary, each drawn by
    # a per-(doc, position) hash
    words = F.transform(
        F.sequence(F.lit(1), (F.pmod(F.xxhash64("id"), F.lit(50)) + 12).cast("int")),
        lambda i: F.concat(
            F.lit("w"), F.pmod(F.xxhash64("id", i.cast("long")), F.lit(4096)).cast("string")),
    )
    return ids.select(F.col("id").alias("doc_id"), F.concat_ws(" ", words).alias("text"), src)


def _images(spark, p):
    from geostatstransforms_jl_spark.core.images import synthetic_images

    return synthetic_images(spark, p.n, partitions=256)


# ---- timed bodies -------------------------------------------------------


def _scan(spark, path, repeat):
    """``repeat`` unioned scans of one fixture: a k*n-row input from an n-row
    table, without k times the synthesis (separate scan nodes, so the file
    index is not shared; only the OS page cache is)."""
    scan = spark.read.parquet(path)
    for _ in range(repeat - 1):
        scan = scan.union(spark.read.parquet(path))
    return scan


def _cells(spark, p, fixture, level):
    """Tile assignment: anchor scan, Morton cell key, per-cell rollup.

    Modes: ``exact`` countDistinct(phash) (its expand shuffle carries one row
    per (cell, phash) pair), ``approx`` HLL (map-side combine, O(cells)
    shuffle), ``count`` a plain sum (no distinct)."""
    from geostatstransforms_jl_spark.core.cells import CellGrid
    from geostatstransforms_jl_spark.functions.geocell import morton_cell

    grid = CellGrid.box2d(0.0, 0.0, 1.0, 1.0, 8)
    distinct = {
        "exact": F.countDistinct("phash"),
        "approx": F.approx_count_distinct("phash"),
        "count": F.sum(F.shiftrightunsigned("phash", 32)),
    }[p.mode]
    res = (_scan(spark, fixture, p.repeat)
           .withColumn("zkey", morton_cell(grid, F.col("x"), F.col("y")))
           .groupBy("zkey")
           .agg(F.count("*").alias("n"), distinct.alias("n_phash"))
           .agg(F.sum("n"), F.count("*"), F.sum("n_phash"))
           .first())
    if res[0] != p.n * p.repeat:
        raise RuntimeError(f"row conservation: {res[0]} != {p.n * p.repeat}")
    return {"cells": res[1], "distinct_phash_sum": res[2]}


def _pyramid(spark, p, fixture, level, naive=False):
    """cell_pyramid: every zoom tier from one scan of the anchors.

    Compared at the highest level with the naive plan, one GROUP BY (and one
    input scan) per tier.  ``count`` mode sums associatively, so both plans
    give identical tiers; ``hll`` adds each plan's own distinct estimator,
    reported but not compared."""
    from geostatstransforms_jl_spark.core.cells import CellGrid
    from geostatstransforms_jl_spark.functions.geocell import (
        cell_pyramid, morton_cell, morton_parent)

    grid = CellGrid.box2d(0.0, 0.0, 1.0, 1.0, 8)
    hll = p.mode == "hll"
    scan = _scan(spark, fixture, p.repeat).withColumn("v", F.shiftrightunsigned("phash", 32))
    if not naive:
        out = cell_pyramid(scan, grid, coords=("x", "y"), levels=p.pyramid_levels,
                           sum_cols=("v",), distinct_col="phash" if hll else None)
    else:
        keyed = scan.withColumn("zkey", morton_cell(grid, F.col("x"), F.col("y")))
        tiers = []
        for lvl in range(p.pyramid_levels + 1):
            aggs = [F.count("*").alias("n_rows"), F.sum("v").alias("sum_v")]
            if hll:
                aggs.append(F.approx_count_distinct("phash").alias("n_distinct"))
            tiers.append(keyed.groupBy(morton_parent(F.col("zkey"), lvl).alias("zkey"))
                         .agg(*aggs).withColumn("level", F.lit(lvl)))
        out = tiers[0]
        for t in tiers[1:]:
            out = out.unionByName(t)
    final = [F.sum("n_rows"), F.count("*"), F.sum("sum_v")]
    if hll:
        final.append(F.sum("n_distinct"))
    res = out.agg(*final).first()
    if res[0] != p.n * p.repeat * (p.pyramid_levels + 1):
        raise RuntimeError(f"row conservation: {res[0]}")
    return {"tier_rows": res[1], "sum_v": res[2], "distinct_sum": res[3] if hll else None}


def _pyramid_naive(spark, p, fixture, level):
    return _pyramid(spark, p, fixture, level, naive=True)


def _pip(spark, p, fixture, level):
    """pip_join on its shuffle route: uniform points x diamond polygons.

    Each polygon (radius 0.008) covers ~300 cells of the 1024x1024 grid, so
    20k polygons explode to ~6M cell rows, above the 2M broadcast threshold:
    the cell and edge joins run as ShuffledHashJoin (asserted from the
    executed plan).  Building the polygon table is not timed."""
    from geostatstransforms_jl_spark.core.grid import GridMeta
    from geostatstransforms_jl_spark.operators.spatialjoin import pip_join

    rng = np.random.Generator(np.random.PCG64(9172))
    cx, cy, r = rng.uniform(0.1, 0.9, p.polys), rng.uniform(0.1, 0.9, p.polys), 0.008
    polys = spark.createDataFrame(
        [(i, [[(float(cx[i] + r), float(cy[i])), (float(cx[i]), float(cy[i] + r)),
               (float(cx[i] - r), float(cy[i])), (float(cx[i]), float(cy[i] - r))]])
         for i in range(p.polys)],
        "geom_id long, rings array<array<struct<x double, y double>>>",
    )
    meta = GridMeta(1024, 1024, 0.0, 0.0, 1.0 / 1024, 1.0 / 1024)
    t0 = time.perf_counter()
    pairs = pip_join(spark.read.parquet(fixture), polys, meta, point_id="row_id")
    res = pairs.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(F.concat_ws(":", "row_id", "geom_id")).cast("decimal(38,0)")).alias("chk"),
    ).first()
    sec = time.perf_counter() - t0
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    if "ShuffledHashJoin" not in plan or "BroadcastHashJoin" in plan:
        raise RuntimeError("pip_join did not take the forced shuffle route")
    return {"sec": sec, "pairs": res["n"], "checksum": int(res["chk"])}


def _dedup(spark, p, fixture, level):
    """MinHash-LSH dedup over prose with planted duplicates.

    Shingles, signatures, banded buckets and pair scoring, then the survivor
    rule: ``greedy`` (minhash_dedup's drop-larger-side anti-join) or ``cc``
    (minhash_dedup_cc's one survivor per connected component of the same
    pair graph)."""
    from geostatstransforms_jl_spark.textops.dedup import minhash_dedup, minhash_dedup_cc

    fn = minhash_dedup if p.policy == "greedy" else minhash_dedup_cc
    kept = fn(spark.read.parquet(fixture), threshold=0.7, max_bucket_size=1000)
    res = kept.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(F.col("doc_id").cast("string")).cast("decimal(38,0)")).alias("chk"),
    ).first()
    return {"kept": res["n"], "checksum": int(res["chk"])}


def _packing(spark, p, fixture, level):
    """Concat-and-chunk packing over a corpus scan.

    Routes: ``generic`` chunk_pack (one exchange), ``sorted``
    chunk_pack_sorted over the id-clustered files (zero shuffles), and
    ``tokenize`` a text scan, Catalyst whitespace tokenization (the gate
    query's formulation), then chunk_pack.  Every output column is folded
    into the checksums."""
    from geostatstransforms_jl_spark.textops import chunk_pack, chunk_pack_sorted

    src = spark.read.parquet(fixture)
    if p.route == "tokenize":
        src = src.select("doc_id", F.size(F.split(F.trim(F.lower("text")), r"\s+"))
                         .cast("long").alias("n_toks"))
    else:
        src = src.select("doc_id", "n_toks")
    if p.route == "sorted":
        packed = chunk_pack_sorted(src, p.chunk_size, "n_toks")
    else:
        packed = chunk_pack(src, p.chunk_size, "n_toks", shard_size=p.shard_size)
    res = packed.agg(F.count("*"), F.sum("chunk_id"), F.max("chunk_id"),
                     F.sum("chunk_offset"), F.sum("n_chunks")).first()
    if res[0] != p.n:
        raise RuntimeError(f"row conservation: {res[0]} != {p.n}")
    return {"sum_chunk_id": res[1], "max_chunk_id": res[2],
            "sum_offset": res[3], "sum_n_chunks": res[4]}


def _media(spark, p, fixture, level):
    """bench.py's media stages: video sampling, audio windows, resize.

    n videos, 2n audio clips and n images, all zero-shuffle passes; the JPEG
    round trip runs after the timed window."""
    import bench

    out = bench._media_stages(spark, p.n, 2 * p.n, p.n, level)
    return {k: out[k] for k in ("sec", "rows", "stages", "jpeg_roundtrips_per_sec")}


def _image(spark, p, fixture, level):
    """bench.py's image workload: decode + Sobel, 1-NN, unique coords.

    The 1-NN self-join takes the cell ladder; tile cells runs after the timed
    window.  With SPARK_GRAFT_MATERIALIZED=1 the images are a cached parquet
    fixture and the scan is timed; otherwise they are synthesized in the
    window."""
    import bench

    out = bench._image_stages(spark, p.n, level, source_path=fixture)
    return {k: out[k] for k in ("sec", "rows", "stages", "tile_assign_rows_per_sec")}


def _calibrate(spark, p, fixture, level):
    """Machine ceiling: a pure-JVM sha2 job with no engine code.

    Its efficiency is what the host itself allows at each level."""
    res = spark.range(p.n, numPartitions=8 * level).select(F.sum(
        F.conv(F.substring(F.sha2(F.col("id").cast("string"), 256), 1, 4), 16, 10).cast("long")
    )).first()
    return {"checksum": res[0]}


_IMAGES = os.path.join(_CORE, "images.py")

SURFACES = {
    "cells": Surface(
        _cells, ("cells", "distinct_phash_sum"), "rows",
        {"n": 8_000_000, "mode": ("exact", "approx", "count"), "repeat": 1,
         "dist": ("real", "zipf")},
        items=lambda p: p.n * p.repeat, fixture=_anchors,
        fixture_name=lambda p: f"anchors_{p.n}_{p.dist}", fixture_files=(_IMAGES,)),
    "pyramid": Surface(
        _pyramid, ("tier_rows", "sum_v"), "rows",
        {"n": 8_000_000, "mode": ("count", "hll"), "repeat": 1, "dist": ("real", "zipf"),
         "pyramid_levels": 8},
        items=lambda p: p.n * p.repeat, fixture=_anchors,
        fixture_name=lambda p: f"anchors_{p.n}_{p.dist}", fixture_files=(_IMAGES,),
        compare=("naive", _pyramid_naive)),
    "pip": Surface(
        _pip, ("pairs", "checksum"), "points", {"n": 12_000_000, "polys": 20_000},
        fixture=_pip_points, fixture_name=lambda p: f"pip_points_{p.n}"),
    "dedup": Surface(
        _dedup, ("kept", "checksum"), "docs", {"n": 150_000, "policy": ("greedy", "cc")},
        fixture=_dedup_docs, fixture_name=lambda p: f"dedup_docs_{p.n}"),
    "packing": Surface(
        _packing, ("sum_chunk_id", "max_chunk_id", "sum_offset", "sum_n_chunks"), "docs",
        {"n": 100_000_000, "chunk_size": 2048, "shard_size": 65536,
         "route": ("generic", "sorted", "tokenize")},
        fixture=_packing_docs,
        fixture_name=lambda p: f"{'packtext' if p.route == 'tokenize' else 'packdocs'}_{p.n}"),
    "media": Surface(_media, ("rows",), "items", {"n": 20_000}, items=lambda p: 4 * p.n),
    "image": Surface(
        _image, ("rows",), "images", {"n": 80_000}, fixture=_images,
        fixture_name=lambda p: (f"images_{p.n}"
                                if os.environ.get("SPARK_GRAFT_MATERIALIZED") == "1" else None),
        fixture_files=(_IMAGES, os.path.join(_CORE, "png.py"), os.path.join(_CORE, "jpeg.py"))),
    "calibrate": Surface(
        _calibrate, ("checksum",), "rows", {"n": 120_000_000}, levels="1,2,4,8,32"),
}


# ---- protocol -----------------------------------------------------------


def _code_names(code) -> set[str]:
    names = set(code.co_names)
    for c in code.co_consts:
        if inspect.iscode(c):
            names |= _code_names(c)
    return names


def fixture_tag(fn: Callable, files: tuple[str, ...] = ()) -> str:
    """Hash of ``fn``'s source, of every function of this module it calls
    (transitively), and of ``files``."""
    h, todo, seen = hashlib.sha256(), [fn], set()
    while todo:
        f = todo.pop()
        if f in seen:
            continue
        seen.add(f)
        h.update(inspect.getsource(f).encode())
        todo += [g for n in sorted(_code_names(f.__code__))
                 if inspect.isfunction(g := globals().get(n))]
    for path in files:
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:8]


def fixture_path(s: Surface, p) -> str | None:
    name = s.fixture_name(p)
    if s.fixture is None or name is None:
        return None
    return os.path.join(SCRATCH, f"{name}_{fixture_tag(s.fixture, s.fixture_files)}")


def measure(s: Surface, p, run: Callable) -> dict:
    """Interleaved reps of every level (and of ``s.compare`` at the highest
    level) through ``run(role, level) -> {"sec", "rate", fields...}``; checks
    the identity fields over all runs, then picks each level's best run by
    rate and computes the efficiencies."""
    high, low = max(p.levels), min(p.levels)
    cells = [(str(lvl), "run", lvl) for lvl in p.levels]
    if s.compare:
        cells.append((f"{s.compare[0]}_{high}", "compare", high))
    runs = {key: [] for key, _, _ in cells}
    for rep in range(p.reps):
        for key, role, lvl in cells:
            r = run(role, lvl)
            runs[key].append(r)
            print(f"rep {rep} {key}: {r['sec']} s, {r['rate']} {s.unit}/s",
                  file=sys.stderr, flush=True)
    for field in s.identity:
        vals = {json.dumps(r[field], sort_keys=True) for rs in runs.values() for r in rs}
        if len(vals) != 1:
            raise RuntimeError(f"{field} differs across runs: {sorted(vals)}")
    best = {key: max(rs, key=lambda r: r["rate"]) for key, rs in runs.items()}
    eff = {str(lvl): round(best[str(lvl)]["rate"] / best[str(low)]["rate"] / (lvl / low), 3)
           for lvl in p.levels if lvl != low}
    out = {
        "surface": p.surface, "unit": f"{s.unit}/s",
        "params": {k: v for k, v in vars(p).items() if k != "surface"},
        "best": best, "runs": {key: [r["sec"] for r in rs] for key, rs in runs.items()},
        "efficiency": eff, "scaling_efficiency": eff.get(str(high)),
    }
    if s.compare:
        name = s.compare[0]
        out[f"speedup_vs_{name}"] = round(best[f"{name}_{high}"]["sec"] / best[str(high)]["sec"], 2)
    return out


def timed(s: Surface, role: str, spark, p, fixture: str | None, level: int) -> dict:
    """Run the surface's body (or its ``compare`` body) once; returns its
    output fields with ``sec``.  Raises if the body left a DataFrame cache
    entry behind."""
    body = s.compare[1] if role == "compare" else s.body
    t0 = time.perf_counter()
    out = body(spark, p, fixture, level)
    out.setdefault("sec", time.perf_counter() - t0)
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        raise RuntimeError(f"{p.surface} {role} left a DataFrame cache entry behind")
    return out


def _spawn(role: str, p, level: int, fixture: str | None) -> dict | None:
    """One fresh Python process (and JVM) running ``_child``."""
    r = subprocess.run(
        [sys.executable, "-c", "from scripts.scaling import _child; _child()",
         role, p.surface, str(level), json.dumps(vars(p)), fixture or ""],
        capture_output=True, text=True, cwd=REPO,
        # Python workers import this module to unpickle the fixture generators
        env=dict(os.environ, PYTHONPATH=os.pathsep.join(
            x for x in (REPO, os.environ.get("PYTHONPATH")) if x)),
    )
    lines = [line for line in r.stdout.splitlines() if line.startswith(_MARK)]
    if r.returncode != 0 or (role != "fixture" and not lines):
        sys.stderr.write(r.stdout[-2000:] + "\n" + r.stderr[-4000:] + "\n")
        raise RuntimeError(f"{p.surface} {role} at local[{level}] failed (rc={r.returncode})")
    return json.loads(lines[0][len(_MARK):]) if lines else None


def _child() -> None:
    role, name, level, params, fixture = sys.argv[1:6]
    s, p = SURFACES[name], argparse.Namespace(**json.loads(params))
    level, fixture = int(level), fixture or None
    from geostatstransforms_jl_spark.core.session import get_spark

    if role == "fixture":
        spark = get_spark(app=f"gst-{name}-fixture", master="local[*]")
        s.fixture(spark, p).write.mode("overwrite").parquet(fixture)
        spark.stop()
        return
    from perfbench.spans import SQL_FIELDS, Tracer

    spark = get_spark(app=f"gst-{name}-{level}", master=f"local[{level}]",
                      shuffle_partitions=p.shuffle_partitions)
    # warm the JVM and one Python worker per core before the timed window
    spark.range(level).repartition(level).mapInPandas(lambda it: it, "id long").count()
    tracer = Tracer(True)
    span = tracer.open(name, None, 0, layer=name)
    out = timed(s, role, spark, p, fixture, level)
    sec = out.pop("sec")
    Tracer.close(span)
    tracer.attach_sql(spark)
    spark.stop()
    sql = {k: round(span[k]) for k in ("sql_jobs", *SQL_FIELDS.values())}
    print(_MARK + json.dumps({"sec": round(sec, 2), "rate": round(s.items(p) / sec, 1),
                              **out, **sql}))


def parse(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="surface", required=True)
    for name, s in SURFACES.items():
        sp = sub.add_parser(name, help=s.body.__doc__.split("\n")[0],
                            description=inspect.getdoc(s.body))
        sp.add_argument("--levels", default=s.levels, help="comma-separated local[N] levels")
        sp.add_argument("--reps", type=int, default=2, help="interleaved runs per level")
        for key, val in s.options.items():
            default = val[0] if isinstance(val, tuple) else val
            sp.add_argument("--" + key.replace("_", "-"), type=type(default), default=default,
                            choices=val if isinstance(val, tuple) else None)
        sp.add_argument("--shuffle-partitions", type=int,
                        help="fixed at every level; default twice the highest level")
    p = ap.parse_args(argv)
    p.levels = [int(x) for x in p.levels.split(",")]
    p.shuffle_partitions = p.shuffle_partitions or 2 * max(p.levels)
    return p


def main(argv=None) -> None:
    p = parse(argv)
    s = SURFACES[p.surface]
    fixture = fixture_path(s, p)
    if fixture and not os.path.exists(os.path.join(fixture, "_SUCCESS")):
        t0 = time.time()
        _spawn("fixture", p, 0, fixture)
        print(f"fixture {fixture} built in {time.time() - t0:.0f} s", file=sys.stderr, flush=True)
    out = measure(s, p, lambda role, level: _spawn(role, p, level, fixture))
    out["fixture"] = fixture
    print(json.dumps(out))


if __name__ == "__main__":
    main()
