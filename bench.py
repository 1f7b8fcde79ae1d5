#!/usr/bin/env python
"""Benchmark harness.

Default mode (what the driver runs): executes the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ..., "rows_per_sec": ...}

Per-query seconds are interleaved best-of-``$SPARK_GRAFT_BENCH_REPS``
(default 2) and ``value`` is their sum; the raw timings per run are kept in
``query_runs``.

``--image-workload``, ``--stress`` and ``--knn2m`` run one job each.  The
scaling pairs (the same job at several parallelism levels, in fresh JVMs)
come from ``python scripts/scaling.py <surface>``; its ``image`` and
``media`` surfaces time this module's image and media stages.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# headline queries: dedup (hash agg), spatial 1-NN join, tile assignment.
# HEADLINE_SPATIAL is the r1-r4 comparable set (rows_per_sec and spatial_sec
# derive from it alone); HEADLINE_PIPELINE adds the LLM-data-pipeline trend
# queries (r4 verdict #6) — timed under the same interleaved best-of-N
# protocol, included in `value`, excluded from the comparable subtotal.
HEADLINE_SPATIAL = ["uniquecoords", "knn_transfer", "knn_aggregate", "upscale", "downscale", "aggregate_median"]
HEADLINE_PIPELINE = ["minhash_dedup", "embed_neardup"]
HEADLINE = HEADLINE_SPATIAL + HEADLINE_PIPELINE


def run_bench(cpus: str = CPUS, sf_dir: str = SF_DIR, queries=None) -> dict:
    from geostatstransforms_jl_spark.core.session import get_spark
    import __spark_entry__ as E

    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    spark = get_spark(app=f"gst-bench-{cpus}", master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    qmap = E.queries()
    names = [q for q in (queries or HEADLINE) if q in qmap]
    # input size for the throughput metric: rows feeding the spatial-join stage
    n_li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    # warm the JVM + parquet footers + Arrow Python workers once so per-query
    # timings measure the plan, not cold-start (first mapInPandas pays one
    # daemon spin-up per core: ~4-5 s at local[32])
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).collect()
    spark.range(int(cpus)).repartition(int(cpus)).mapInPandas(
        lambda it: it, "id long"
    ).count()

    # interleaved best-of-N (default 2), same protocol the image workload
    # uses: this host's wall-clock swings ±30% under noisy neighbors, and
    # r3's snapshot shipped a single-run 2× knn_transfer reading that the
    # code diff couldn't explain.  Interleaving the full suite (rather than
    # repeating each query back-to-back) keeps a noise burst from landing on
    # both runs of the same query; per-query raw runs are kept alongside.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    if reps < 1:
        raise SystemExit("SPARK_GRAFT_BENCH_REPS must be >= 1 "
                         "(set SPARK_GRAFT_BENCH_MEDIA=0 / skip queries by "
                         "flag, not by zero reps)")
    per_q_runs = {name: [] for name in names}
    for _ in range(reps):
        for name in names:
            t0 = time.perf_counter()
            n = qmap[name](spark, sf_dir).count()
            per_q_runs[name].append(round(time.perf_counter() - t0, 3))
            assert n > 0, f"{name} returned 0 rows"
    per_q = {name: min(rs) for name, rs in per_q_runs.items()}
    total = round(sum(per_q.values()), 3)
    spatial_total = round(
        sum(s for n, s in per_q.items() if n in HEADLINE_SPATIAL), 3
    )

    # the north-rule metric itself: image spatial-join + tile-assignment
    # over the input_hint-shaped synthetic table, in the same session.
    # Best-of-2: this host's wall-clock swings ±30% under noisy neighbors
    # (r2 shipped one 21.7 s kNN reading against a 17.9 s r1 baseline that
    # re-measured at parity), so the snapshot records the better of two
    # back-to-back runs plus both raw timings.
    n_img = int(os.environ.get("SPARK_GRAFT_BENCH_IMAGES", "20000"))
    runs = [_image_stages(spark, n_img, int(cpus)) for _ in range(2)]
    img = max(runs, key=lambda r: r["images_per_sec"])
    img["runs_sec"] = [r["sec"] for r in runs]
    # surface the central tendency next to the best so downstream readers
    # can't mistake best-of-2 for single-run throughput (ADVICE r3)
    import statistics

    med_sec = statistics.median(r["sec"] for r in runs)
    img["images_per_sec_best"] = img["images_per_sec"]
    img["images_per_sec_median"] = round(n_img / med_sec, 1)
    # multimodal packed-binary throughput (video/audio/resize), same
    # best-of-2 protocol.  SPARK_GRAFT_BENCH_MEDIA=0 disables the stage;
    # the SIZE knob is SPARK_GRAFT_BENCH_MEDIA_N (mirrors _BENCH_IMAGES) —
    # a boolean-intent MEDIA=1 must not silently run a 1-video stage and
    # record a startup-dominated items_per_sec into the snapshot
    media_on = os.environ.get("SPARK_GRAFT_BENCH_MEDIA", "1") != "0"
    n_med = int(os.environ.get("SPARK_GRAFT_BENCH_MEDIA_N", "3000")) if media_on else 0
    med = None
    if n_med > 0:
        med_runs = [
            _media_stages(spark, n_med, 2 * n_med, n_med, int(cpus))
            for _ in range(2)
        ]
        med = max(med_runs, key=lambda r: r["items_per_sec"])
        med["runs_sec"] = [r["sec"] for r in med_runs]
        # median beside best, same as the image workload (ADVICE r3)
        med["items_per_sec_best"] = med["items_per_sec"]
        n_items = med["videos"] + med["audio"] + med["resize"]
        med["items_per_sec_median"] = round(
            n_items / statistics.median(r["sec"] for r in med_runs), 1
        )
    # offline-recorded large-scale numbers (bench.py --knn2m writes this);
    # surfaced here so the driver snapshot carries them with provenance
    rec_path = os.path.join(REPO, "BENCH", "recorded.json")
    recorded = None
    if os.path.exists(rec_path):
        with open(rec_path) as f:
            recorded = json.load(f)
    spark.stop()
    return {
        "metric": "spatial-join+tile-assignment headline suite",
        "value": total,
        "unit": "sec",
        "queries": per_q,
        "query_runs": per_q_runs,
        "sf": sf_dir,
        "cpus": int(cpus),
        "lineitem_rows": n_li,
        # spatial_sec / rows_per_sec cover HEADLINE_SPATIAL only — the
        # r1-r4 comparable suite; `value` additionally includes the
        # LLM-pipeline queries added in r5
        "spatial_sec": spatial_total,
        "rows_per_sec": round(
            n_li * sum(1 for n in names if n in HEADLINE_SPATIAL) / spatial_total, 1
        ),
        "image_workload": img,
        **({"media_workload": med} if med else {}),
        **({"recorded": recorded} if recorded else {}),
    }


def _image_stages(spark, n_images: int, cpus: int, source_path: str | None = None) -> dict:
    """Shared by run_bench and image_workload: synthesis → per-tile Sobel →
    phash georeference → cell-path 1-NN self-join → exact dedup.

    With `source_path`, the first stage reads the MATERIALIZED image table
    from parquet instead of synthesizing in-line — the window then times
    exactly what a 100-TB deployment pays (scan → decode → Sobel), with the
    fixture build (synthesis + jpeg/png ENCODE) excluded as setup.  The
    in-line variant stays the r2–r4-comparable window."""
    from geostatstransforms_jl_spark.core.images import synthetic_images
    from geostatstransforms_jl_spark.operators.gradient import gradient_packed
    from geostatstransforms_jl_spark.functions.knn import knn_join
    from geostatstransforms_jl_spark.operators.uniquecoords import unique_coords_df
    from pyspark.sql import functions as F

    stage_t = {}
    t0 = time.perf_counter()
    if source_path is not None:
        imgs = spark.read.parquet(source_path)
    else:
        imgs = synthetic_images(spark, n_images, partitions=4 * cpus)
    # ONE shuffle-free pass: synthesis → per-tile Sobel → anchor projection.
    # The image bytes (4 KB/row) never persist anywhere — gradient_packed
    # carries the narrow phash forward, so the georeference derives from the
    # summary table instead of a multi-GB cached binary column (which evicted
    # shuffle blocks and was the dominant memory traffic at 2M images).
    t = time.perf_counter()
    pts = (
        gradient_packed(imgs, carry=("phash",))
        .select(
            F.col("image_id"),
            F.xxhash64("image_id").alias("row_id"),
            ((F.shiftrightunsigned("phash", 15) % 100000) / 100000.0).alias("x"),
            ((F.col("phash") % 32768) / 32768.0).alias("y"),
            F.col("phash"),
        )
        .persist()
    )
    n_g = pts.count()
    stage_t["scan+gradient" if source_path else "synth+gradient"] = round(
        time.perf_counter() - t, 2
    )
    t = time.perf_counter()
    nn = knn_join(
        pts, pts, k=1, exclude_same_id=True, broadcast_threshold=0, salt_threshold=20_000
    )
    n_nn = nn.count()
    stage_t["knn"] = round(time.perf_counter() - t, 2)
    t = time.perf_counter()
    n_uc = unique_coords_df(pts.drop("image_id"), ("x", "y")).count()
    stage_t["unique"] = round(time.perf_counter() - t, 2)
    sec = time.perf_counter() - t0
    # tile-assignment stage (the north-rule metric's literal unit, rows/sec):
    # Morton cell key + per-cell rollup over the persisted anchors.  Measured
    # AFTER `sec` is taken so images_per_sec stays comparable to the r2/r3
    # snapshots; reported as its own stage + rows_per_sec figure.
    from geostatstransforms_jl_spark.core.cells import CellGrid
    from geostatstransforms_jl_spark.functions.geocell import tile_cells

    t = time.perf_counter()
    grid = CellGrid.box2d(0.0, 0.0, 1.0, 1.0, 8)
    # consume every rollup column through a second summing aggregate — a bare
    # .count() would let Catalyst prune count(*) AND the countDistinct out of
    # the lower aggregate, timing a distinct-zkey job instead of the
    # documented per-cell rollup (same shape as scripts/scaling.py cells)
    cell_totals = (
        tile_cells(pts, grid, distinct_col="phash", exact_distinct=True)
        .agg(F.count("*").alias("cells"), F.sum("n_rows").alias("rows"),
             F.sum("n_distinct").alias("phash"))
        .first()
    )
    n_cells = cell_totals["cells"]
    if cell_totals["rows"] != n_images:
        raise RuntimeError(
            f"cells rollup consumed {cell_totals['rows']} rows, "
            f"expected {n_images}"
        )
    cells_sec = time.perf_counter() - t
    stage_t["cells"] = round(cells_sec, 2)
    pts.unpersist()
    return {
        "images": n_images,
        "source": "materialized" if source_path else "inline",
        "sec": round(sec, 2),
        "stages": stage_t,
        "rows": {"gradient": n_g, "knn": n_nn, "unique": n_uc, "cells": n_cells},
        "images_per_sec": round(n_images / sec, 1),
        "tile_assign_rows_per_sec": round(n_images / cells_sec, 1),
    }


def _media_stages(spark, n_videos: int, n_audio: int, n_resize: int, cpus: int) -> dict:
    """Multimodal packed-binary passes (core/media.py): gsv1 video frame
    sampling (seek-skip container decode of every 3rd frame), windowed
    pcm16 audio RMS/peak, and exact-integer bilinear image resize with
    lossless re-encode.  All three are zero-shuffle mapInPandas over packed
    binary rows, so the metric is pure decode+compute throughput per core —
    the axis that dominates a 100-TB multimodal scan."""
    from geostatstransforms_jl_spark.core.images import synthetic_images
    from geostatstransforms_jl_spark.core.media import (
        audio_features,
        resize_images,
        sample_frames,
        synthetic_audio,
        synthetic_videos,
    )

    stage_t, rows = {}, {}
    t0 = time.perf_counter()
    t = time.perf_counter()
    vids = synthetic_videos(spark, n_videos, partitions=4 * cpus)
    rows["frames"] = sample_frames(vids, every=3).count()
    stage_t["video_sample"] = round(time.perf_counter() - t, 2)
    t = time.perf_counter()
    aud = synthetic_audio(spark, n_audio, partitions=4 * cpus)
    rows["windows"] = audio_features(aud, window=512).count()
    stage_t["audio_features"] = round(time.perf_counter() - t, 2)
    t = time.perf_counter()
    imgs = synthetic_images(spark, n_resize, partitions=4 * cpus)
    rows["resized"] = resize_images(imgs, 32, 32, "bilinear").count()
    stage_t["resize"] = round(time.perf_counter() - t, 2)
    sec = time.perf_counter() - t0
    # real-JFIF codec throughput (round 5): force EVERY row through a jpeg
    # encode → decode round trip so the pure-python baseline codec's cost is
    # a recorded figure, not folded invisibly into mixed-fmt stages.
    # Measured AFTER `sec` so items_per_sec stays comparable to r4.
    import pandas as pd

    def _transcode(batches):
        from geostatstransforms_jl_spark.core.png import decode_image, encode_image

        for pdf in batches:
            n_px = []
            for r in pdf.itertuples(index=False):
                pix = decode_image(bytes(r.bytes), r.fmt)
                n_px.append(int(decode_image(encode_image(pix, "jpeg"), "jpeg").size))
            yield pd.DataFrame({"n_px": pd.Series(n_px, dtype="int64")})

    t = time.perf_counter()
    rows["jpeg_px"] = (
        imgs.select("bytes", "fmt").mapInPandas(_transcode, "n_px long")
        .agg({"n_px": "sum"}).first()[0]
    )
    jr = time.perf_counter() - t
    stage_t["jpeg_roundtrip"] = round(jr, 2)
    n_items = n_videos + n_audio + n_resize
    return {
        "videos": n_videos,
        "audio": n_audio,
        "resize": n_resize,
        "sec": round(sec, 2),
        "stages": stage_t,
        "rows": rows,
        "items_per_sec": round(n_items / sec, 1),
        "jpeg_roundtrips_per_sec": round(n_resize / jr, 1),
    }


def image_workload(cpus: str, n_images: int) -> dict:
    """The north-rule job: spatial-join + tile-assignment over the synthetic
    image+caption table (schema identical to the 10¹²-row target).

    Stages: distributed deterministic synthesis → per-tile decode + Sobel
    (CPU-bound, narrow) → phash georeference (expressions) → spatial 1-NN
    self-join on tile anchors via the cell-ring path → exact-coordinate
    dedup.  CPU-dominated so throughput scales with cores — the honest
    substitute for N vs 4N executors in a single-node sandbox.
    """
    from geostatstransforms_jl_spark.core.session import get_spark

    source_path = None
    if os.environ.get("SPARK_GRAFT_MATERIALIZED") == "1":
        source_path = _materialized_images(n_images)
    spark = get_spark(
        app=f"gst-scaling-{cpus}", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.range(10).count()  # JVM warm
    out = _image_stages(spark, n_images, int(cpus), source_path=source_path)
    spark.stop()
    return {"cpus": int(cpus), **out}


def _materialized_images(n_images: int) -> str:
    """Build (once) the deterministic image table as parquet — the fixture a
    100-TB deployment's scan would read.  Built in its OWN local[32] JVM so
    the (untimed) synthesis+encode cost never depends on the measured level;
    path is version-tagged (v2 = real JFIF fmt='jpeg' bytes) so a codec
    change can't silently reuse stale bytes."""
    path = os.path.join(REPO, ".scratch", f"images_v2_{n_images}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    from geostatstransforms_jl_spark.core.images import synthetic_images
    from geostatstransforms_jl_spark.core.session import get_spark

    spark = get_spark(app="gst-img-fixture", master="local[32]", shuffle_partitions=32)
    t0 = time.perf_counter()
    synthetic_images(spark, n_images, partitions=256).write.mode("overwrite").parquet(path)
    print(f"# materialized {n_images} images -> {path} "
          f"({time.perf_counter() - t0:.1f}s, untimed fixture build)", file=sys.stderr)
    spark.stop()
    return path


def stress(cpus: str = CPUS) -> dict:
    """The reference's own largest in-repo scales, reproduced distributed:

    * 2,000,000-row exact-coordinate dedup → 1,000,000 unique
      (reference test/uniquecoords.jl:4-12, run on a 2-thread CI)
    * 16,200 × 8,100 = 131.2M-cell Upscale by factors (80, 40) → 203×203
      (reference test/upscale.jl:84-97, threaded tmap)
    """
    from geostatstransforms_jl_spark.core.session import get_spark
    from geostatstransforms_jl_spark.operators.uniquecoords import unique_coords_df
    from geostatstransforms_jl_spark.operators.upscale import upscale_df
    from pyspark.sql import functions as F

    spark = get_spark(app=f"gst-stress-{cpus}", master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    spark.range(10).count()
    out = {}

    n = 2_000_000
    df = (
        spark.range(n, numPartitions=4 * int(cpus))
        .withColumn("x", (F.col("id") % (n // 2)).cast("double"))
        .withColumn("y", (F.col("id") % 1000).cast("double") / 7.0)
        .withColumn("a", F.col("id").cast("double"))
        .withColumn("flag", F.concat(F.lit("f"), (F.col("id") % 5)))
        .withColumnRenamed("id", "row_id")
    )
    t0 = time.perf_counter()
    n_uniq = unique_coords_df(df, ("x", "y")).count()
    sec = time.perf_counter() - t0
    out["dedup_2M"] = {"rows": n, "unique": n_uniq, "sec": round(sec, 2),
                       "rows_per_sec": round(n / sec, 1)}

    nx, ny = 16200, 8100
    cells = nx * ny
    g = (
        spark.range(cells, numPartitions=8 * int(cpus))
        .withColumn("i", (F.col("id") % nx).cast("int"))
        .withColumn("j", (F.col("id") / nx).cast("int"))
        .withColumn("q", (F.col("id") % 997).cast("double"))
        .withColumnRenamed("id", "row_id")
    )
    t0 = time.perf_counter()
    n_up = upscale_df(g, 80, 40, ("i", "j"), row_id="row_id").count()
    sec = time.perf_counter() - t0
    out["upscale_131M"] = {"cells": cells, "out_blocks": n_up, "sec": round(sec, 2),
                           "cells_per_sec": round(cells / sec, 1)}
    spark.stop()
    return out


def knn2m(cpus: str = None, n_images: int = 2_000_000, reps: int = 2) -> dict:
    """The dedup-fast-path kNN stage at the reference-relevant 2M-anchor
    scale (r2 measured 57.9 s at local[2], prose-only in BENCH/BASELINE.md);
    best-of-`reps` with an order-independent checksum, written to
    BENCH/recorded.json so run_bench surfaces it in the driver snapshot."""
    import datetime

    from geostatstransforms_jl_spark.core.session import get_spark
    from geostatstransforms_jl_spark.functions.knn import knn_join
    from pyspark.sql import functions as F

    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "2")
    spark = get_spark(app=f"gst-knn2m-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    spark.range(10).count()
    from geostatstransforms_jl_spark.core.images import synthetic_images
    from geostatstransforms_jl_spark.operators.gradient import gradient_packed

    pts = (
        gradient_packed(synthetic_images(spark, n_images, partitions=4 * int(cpus)),
                        carry=("phash",))
        .select(
            F.xxhash64("image_id").alias("row_id"),
            ((F.shiftrightunsigned("phash", 15) % 100000) / 100000.0).alias("x"),
            ((F.col("phash") % 32768) / 32768.0).alias("y"),
        )
        .persist()
    )
    pts.count()
    best, checksum = None, None
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        nn = knn_join(pts, pts, k=1, exclude_same_id=True,
                      broadcast_threshold=0, salt_threshold=20_000)
        # decimal(38) sum: 2M full-range longs overflow BIGINT under ANSI mode
        cs = nn.agg(
            F.sum(F.xxhash64("t_row_id", "s_row_id").cast("decimal(38,0)"))
        ).first()[0]
        sec = round(time.perf_counter() - t0, 2)
        runs.append(sec)
        if best is None or sec < best:
            best = sec
        if checksum is None:
            checksum = int(cs)
        else:
            assert checksum == int(cs), "kNN output changed between runs"
    pts.unpersist()
    spark.stop()
    out = {
        "knn_2m_dedup_fastpath": {
            "cpus": int(cpus),
            "images": n_images,
            "knn_sec_best": best,
            "knn_sec_runs": runs,
            "checksum": checksum,
            "measured": datetime.date.today().isoformat(),
        }
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    rec_path = os.path.join(REPO, "BENCH", "recorded.json")
    recorded = {}
    if os.path.exists(rec_path):
        with open(rec_path) as f:
            recorded = json.load(f)
    recorded.update(out)
    with open(rec_path, "w") as f:
        json.dump(recorded, f, indent=1)
    return out


if __name__ == "__main__":
    if "--stress" in sys.argv:
        print(json.dumps(stress()))
    elif "--knn2m" in sys.argv:
        print(json.dumps(knn2m()))
    elif "--image-workload" in sys.argv:
        n = int(os.environ.get("SPARK_GRAFT_BENCH_IMAGES", "20000"))
        print(json.dumps(image_workload(CPUS, n)))
    else:
        print(json.dumps(run_bench()))
