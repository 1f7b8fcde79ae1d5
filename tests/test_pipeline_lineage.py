"""Pipeline composition + checkpoint/lineage + kill/resume + streaming tests."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from geostatstransforms_jl_spark.core.geotable import georef_grid, georef_points
from geostatstransforms_jl_spark.core.grid import GridMeta
from geostatstransforms_jl_spark.core.lineage import MANIFEST, LineageStore
from geostatstransforms_jl_spark.operators import Detrend, Upscale, UniqueCoords
from geostatstransforms_jl_spark.plans import Pipeline


@pytest.fixture()
def store(tmp_path):
    return LineageStore(str(tmp_path / "ckpt"))


def _points(spark):
    rows = [(k, float(k % 50), float(k % 7), float(k)) for k in range(500)]
    return spark.createDataFrame(rows, "row_id long, x double, y double, a double")


def test_pipeline_lazy_composition(spark):
    gt = georef_points(_points(spark))
    pipe = Pipeline([UniqueCoords(), Detrend(["a"], degree=1)])
    out, caches = pipe.run(gt)
    assert out.df.count() == 350  # 50*7 unique coordinate pairs
    assert caches[1] is not None  # detrend cache present


def test_pipeline_commit_and_manifest(spark, store):
    gt = georef_points(_points(spark))
    pipe = Pipeline([UniqueCoords()], store=store)
    out, _ = pipe.run(gt)
    n = out.df.count()
    m = store.manifest(0, "uniquecoords")
    assert m is not None
    assert m["rows"] == n
    assert m["partitions"] and all("hash" in p and "rows" in p for p in m["partitions"])
    assert sum(p["rows"] for p in m["partitions"]) == n
    assert store.validate(spark, 0, "uniquecoords")


def test_resume_skips_valid_stages(spark, store):
    calls = {"n": 0}

    def counting_stage(df):
        calls["n"] += 1
        return df.withColumn("b", F.col("a") * 2)

    counting_stage.__name__ = "double_a"
    gt = georef_points(_points(spark))
    pipe = Pipeline([UniqueCoords(), counting_stage], store=store)
    out1, _ = pipe.run(gt)
    r1 = {(r.x, r.y): r.b for r in out1.df.collect()}
    assert calls["n"] == 1

    out2, _ = pipe.run(gt, resume=True)
    assert calls["n"] == 1  # second run replayed from snapshots
    assert all(m["resumed"] for m in pipe.metrics)
    r2 = {(r.x, r.y): r.b for r in out2.df.collect()}
    assert r1 == r2


def test_resume_rejects_corrupt_snapshot(spark, store):
    gt = georef_points(_points(spark))
    pipe = Pipeline([UniqueCoords()], store=store)
    pipe.run(gt)
    # corrupt the committed data: drop a parquet part file (simulated
    # partial loss after a kill)
    d = store.stage_dir(0, "uniquecoords")
    parts = [f for f in os.listdir(d) if f.endswith(".parquet")]
    os.remove(os.path.join(d, parts[0]))
    assert not store.validate(spark, 0, "uniquecoords")
    out, _ = pipe.run(gt, resume=True)  # recomputes instead of trusting it
    assert not pipe.metrics[0]["resumed"]
    assert store.validate(spark, 0, "uniquecoords")


def test_kill_leaves_no_half_commit(spark, store):
    # a .tmp dir without rename must never validate
    gt = georef_points(_points(spark))
    pipe = Pipeline([UniqueCoords()], store=store)
    pipe.run(gt)
    final = store.stage_dir(0, "uniquecoords")
    tmp = final + ".tmp"
    shutil.move(final, tmp)  # simulate dying before the atomic rename
    assert store.manifest(0, "uniquecoords") is None
    assert not store.validate(spark, 0, "uniquecoords")


def test_pipeline_revert(spark, store):
    gt = georef_points(_points(spark))
    pipe = Pipeline([Detrend(["a"], degree=1)])
    out, caches = pipe.run(gt)
    back = pipe.revert(out, caches)
    orig = {r.row_id: r.a for r in gt.df.collect()}
    rec = {r.row_id: r.a for r in back.df.collect()}
    for k in orig:
        assert rec[k] == pytest.approx(orig[k], abs=1e-8)


def test_streaming_unique_coords(spark, tmp_path):
    # run the streaming dedup over a file source and compare to batch
    from geostatstransforms_jl_spark.streaming import streaming_unique_coords

    src = tmp_path / "stream_src"
    df = _points(spark)
    df.write.parquet(str(src))
    stream = spark.readStream.schema(df.schema).parquet(str(src))
    agg = streaming_unique_coords(stream, value_col="a")
    q = (
        agg.writeStream.format("memory")
        .queryName("uc_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = spark.sql("select * from uc_stream")
    assert got.count() == 350
    batch = df.groupBy("x", "y").agg(F.avg("a").alias("a"))
    b = {(r.x, r.y): r.a for r in batch.collect()}
    g = {(r.x, r.y): r.a for r in got.collect()}
    assert b == pytest.approx(g)


def test_streaming_time_rollup(spark, tmp_path):
    # streaming hourly rollup over a file source == batch rollup (count/sum/avg)
    from geostatstransforms_jl_spark.streaming import streaming_time_rollup

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    src = tmp_path / "ev_src"
    ev.write.parquet(str(src))
    stream = spark.readStream.schema(ev.schema).parquet(str(src))
    agg = streaming_time_rollup(stream, "1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("ev_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = spark.sql("select bucket.start as b, event_type, n, sum_value from ev_stream")
    batch = ev.groupBy(
        F.date_trunc("hour", "ts").alias("b"), "event_type"
    ).agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
    g = {(r.b, r.event_type): (r.n, round(r.sum_value, 6)) for r in got.collect()}
    b = {(r.b, r.event_type): (r.n, round(r.sum_value, 6)) for r in batch.collect()}
    assert g == b


def test_tabletransforms_vocabulary(spark):
    # P12: Select/Reject/Only/Filter/OneHot/StdFeats as composable stages
    import pytest as _pytest
    from geostatstransforms_jl_spark.core.geotable import georef_points
    from geostatstransforms_jl_spark.operators import (
        Filter, OneHot, Only, Reject, Select, StdFeats,
    )
    from geostatstransforms_jl_spark.plans.pipeline import Pipeline

    df = spark.createDataFrame(
        [(i, float(i % 7), float(i % 5), float(i), f"c{i % 3}", i) for i in range(60)],
        "row_id long, x double, y double, a double, cat string, n long",
    )
    gt = georef_points(df)

    sel, _ = Select(["a", "cat"]).apply(gt)
    assert set(sel.df.columns) == {"row_id", "x", "y", "a", "cat"}
    rej, _ = Reject(["cat", "x"]).apply(gt)  # x is geometry → protected
    assert set(rej.df.columns) == {"row_id", "x", "y", "a", "n"}
    only, _ = Only("continuous").apply(gt)
    assert set(only.df.columns) == {"row_id", "x", "y", "a"}

    oh, levels = OneHot("cat").apply(gt)
    assert levels == ["c0", "c1", "c2"]
    assert oh.df.select(F.sum("cat_c0")).first()[0] == 20

    # Filter is revertible: dropped rows come back
    filt = Filter("a < 30")
    kept, dropped = filt.apply(gt)
    assert kept.df.count() == 30 and dropped.count() == 30
    back = filt.revert(kept, dropped)
    assert back.df.count() == 60

    # StdFeats: zero mean / unit variance, revert restores values
    sf = StdFeats(["a"])
    std, moments = sf.apply(gt)
    m = std.df.agg(F.avg("a"), F.stddev_samp("a")).first()
    assert abs(m[0]) < 1e-9 and abs(m[1] - 1.0) < 1e-9
    rec = sf.revert(std, moments)
    orig = {r.row_id: r.a for r in gt.df.collect()}
    got = {r.row_id: r.a for r in rec.df.collect()}
    for k in orig:
        assert got[k] == _pytest.approx(orig[k], abs=1e-9)

    # composes in a Pipeline with stacked revert
    pipe = Pipeline([StdFeats(["a"]), Filter("a > -10")])
    out, caches = pipe.run(gt)
    assert out.df.count() == 60


def test_streaming_sessionize(spark, tmp_path):
    # gap sessions via applyInPandasWithState == batch sessionize on the same
    # events, down to exact (user, n_events, start, end) microseconds.  Three
    # files processed in mtime order (maxFilesPerTrigger=1): the real events,
    # then two far-future sentinels per user — sentinel 1 advances the
    # watermark past every real session's end+gap, sentinel 2 forces the
    # micro-batch in which those event-time timeouts fire.
    import os
    import time

    from geostatstransforms_jl_spark.functions.timeseries import sessionize
    from geostatstransforms_jl_spark.streaming import streaming_sessionize

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("user_id", "ts")
    )
    hi = ev.agg(F.max("ts").alias("m")).first().m
    src = tmp_path / "sess_src"
    ev.coalesce(1).write.parquet(str(src))
    users = [r.user_id for r in ev.select("user_id").distinct().collect()]
    for k, days in ((1, 30), (2, 60)):
        sent = spark.createDataFrame(
            [(u, hi) for u in users], "user_id long, ts timestamp"
        ).withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {days} DAYS"))
        time.sleep(1.1)  # distinct mtimes -> deterministic file order
        sent.coalesce(1).write.mode("append").parquet(str(src))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = streaming_sessionize(stream, gap_seconds=1800, watermark="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .start()
    )
    assert q.awaitTermination(300)
    got = spark.sql(
        "select * from sess_stream where session_start <= timestamp'{}'".format(hi)
    )
    batch = sessionize(ev, gap_seconds=1800)
    g = sorted(
        (r.user_id, r.n_events, r.session_start, r.session_end)
        for r in got.collect()
    )
    b = sorted(
        (r.user_id, r.n_events, r.session_start, r.session_end)
        for r in batch.collect()
    )
    assert len(g) == len(set(g)), "a session was emitted twice"
    assert g == b


def test_streaming_tile_agg_and_quality(spark, tmp_path):
    # the two remaining streaming variants, parity vs their batch twins
    from geostatstransforms_jl_spark.streaming import (
        streaming_quality,
        streaming_tile_agg,
    )
    from geostatstransforms_jl_spark.textops.quality import (
        quality_scores,
        token_stats,
    )

    px = spark.range(4096).select(
        F.lit("img0").alias("image_id"),
        (F.col("id") % 64).cast("int").alias("i"),
        (F.col("id") / 64).cast("int").alias("j"),
        (F.col("id") % 97).cast("double").alias("z"),
    )
    src = tmp_path / "px_src"
    px.write.parquet(str(src))
    stream = spark.readStream.schema(px.schema).parquet(str(src))
    q = (
        streaming_tile_agg(stream, 4, 4)
        .writeStream.format("memory")
        .queryName("tile_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        (r.i, r.j): (r.n, round(r.z, 9))
        for r in spark.sql("select * from tile_stream").collect()
    }
    batch = {
        (r.i, r.j): (r.n, round(r.z, 9))
        for r in streaming_tile_agg(px, 4, 4).collect()
    }
    assert got == batch and len(got) == 256

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    dsrc = tmp_path / "doc_src"
    docs.write.parquet(str(dsrc))
    dstream = spark.readStream.schema(docs.schema).parquet(str(dsrc))
    q2 = (
        streaming_quality(dstream)
        .writeStream.format("memory")
        .queryName("qual_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(120)
    sg = {
        r.doc_id: (r.n_tokens, round(r.quality, 9))
        for r in spark.sql("select * from qual_stream").collect()
    }
    sb = {
        r.doc_id: (r.n_tokens, round(r.quality, 9))
        for r in quality_scores(token_stats(docs, "text"), "text").collect()
    }
    assert sg == sb and len(sg) == docs.count()


def test_streaming_sessionize_non_utc_timezone(spark, tmp_path):
    # regression: the stateful operator compares JVM-computed unix_micros
    # against the UTC watermark, so a non-UTC session timezone must not
    # shift sealing (naive pandas timestamps WOULD be shifted by the
    # session-tz offset and double-emit sessions)
    from geostatstransforms_jl_spark.functions.timeseries import sessionize
    from geostatstransforms_jl_spark.streaming import streaming_sessionize

    tz0 = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        rows = [
            (u, f"2024-03-01 {8 + u}:{m:02d}:{s:02d}.{us:06d}")
            for u in (1, 2)
            for m, s, us in (
                (0, 0, 250000), (10, 30, 0), (20, 0, 999999),  # session 1
                (55, 0, 0), (59, 59, 123456),                  # session 2
            )
        ]
        ev = spark.createDataFrame(rows, "user_id long, t string").select(
            "user_id", F.col("t").cast("timestamp").alias("ts")
        )
        hi = ev.agg(F.max("ts").alias("m")).first().m
        src = tmp_path / "tz_src"
        ev.coalesce(1).write.parquet(str(src))
        import time

        for days in (30, 60):
            sent = spark.createDataFrame(
                [(u, hi) for u in (1, 2)], "user_id long, ts timestamp"
            ).withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {days} DAYS"))
            time.sleep(1.1)
            sent.coalesce(1).write.mode("append").parquet(str(src))
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        out = streaming_sessionize(stream, gap_seconds=1800, watermark="0 seconds")
        q = (
            out.writeStream.format("memory")
            .queryName("sess_tz_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "tz_ckpt"))
            .start()
        )
        assert q.awaitTermination(300)
        got = spark.sql(
            "select * from sess_tz_stream where session_start <= timestamp'{}'".format(hi)
        )
        g = sorted(
            (r.user_id, r.n_events, r.session_start, r.session_end)
            for r in got.collect()
        )
        b = sorted(
            (r.user_id, r.n_events, r.session_start, r.session_end)
            for r in sessionize(ev, gap_seconds=1800).collect()
        )
        assert len(g) == len(set(g)) and len(g) == 4  # 2 users x 2 sessions
        assert g == b
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)


def test_sessionize_microsecond_boundary(spark, tmp_path):
    # gaps exactly AT, 1us OVER, and 1us UNDER the threshold: a session
    # break happens iff gap > gap_seconds, compared in exact microseconds
    # (whole-second truncation would merge the +1us case).  Batch and
    # streaming must agree with the hand-folded expectation.
    import time

    from geostatstransforms_jl_spark.functions.timeseries import sessionize
    from geostatstransforms_jl_spark.streaming import streaming_sessionize

    G = 1800 * 10**6
    base = 1_714_521_600 * 10**6
    deltas = [0, G, G + 1, G - 1, G + 1, 1, G]  # cumulative gaps after e0
    us, acc = [], base
    for d in deltas:
        acc += d
        us.append(acc)
    us = [base] + us
    # expected sessions: breaks only where gap > G (the two G+1 gaps)
    expected = sorted(
        [(1, 3, us[0], us[2]), (1, 2, us[3], us[4]), (1, 3, us[5], us[7])]
    )
    ev = spark.createDataFrame(
        [(1, u) for u in us], "user_id long, us long"
    ).select("user_id", F.timestamp_micros("us").alias("ts"))

    b = sorted(
        (r.user_id, r.n_events,
         r.session_start.timestamp() * 10**6, r.session_end.timestamp() * 10**6)
        for r in sessionize(ev, gap_seconds=1800).collect()
    )
    assert [(u, n, round(s), round(e)) for u, n, s, e in b] == expected

    hi = ev.agg(F.max("ts").alias("m")).first().m
    src = tmp_path / "bnd_src"
    ev.coalesce(1).write.parquet(str(src))
    for days in (30, 60):
        time.sleep(1.1)
        spark.createDataFrame([(1, hi)], "user_id long, ts timestamp").withColumn(
            "ts", F.col("ts") + F.expr(f"INTERVAL {days} DAYS")
        ).coalesce(1).write.mode("append").parquet(str(src))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_sessionize(stream, gap_seconds=1800, watermark="0 seconds")
        .writeStream.format("memory")
        .queryName("bnd_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "bnd_ckpt"))
        .start()
    )
    assert q.awaitTermination(300)
    g = sorted(
        (r.user_id, r.n_events,
         round(r.session_start.timestamp() * 10**6),
         round(r.session_end.timestamp() * 10**6))
        for r in spark.sql(
            "select * from bnd_stream where session_start <= timestamp'{}'".format(hi)
        ).collect()
    )
    assert g == expected


def test_assign_session_seq(spark):
    # sealed sessions + batch-layer ordinal == the batch sessionize schema
    from geostatstransforms_jl_spark.functions.timeseries import sessionize
    from geostatstransforms_jl_spark.streaming import assign_session_seq

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    batch = sessionize(ev, 1800)
    # simulate the sealed table (what streaming_sessionize emits)
    sealed = batch.select("user_id", "n_events", "session_start", "session_end")
    got = sorted(
        (r.user_id, r.session_seq, r.n_events, r.session_start, r.session_end)
        for r in assign_session_seq(sealed).collect()
    )
    want = sorted(
        (r.user_id, r.session_seq, r.n_events, r.session_start, r.session_end)
        for r in batch.collect()
    )
    assert got == want


def test_streaming_media_sample_frames(spark, tmp_path):
    # stateless packed-media pass streams as-is: file-source stream of gsv1
    # videos -> sample_frames -> memory sink == the batch result
    from geostatstransforms_jl_spark.core.media import sample_frames, synthetic_videos

    vids = synthetic_videos(spark, 20, partitions=4)
    src = tmp_path / "vid_src"
    vids.write.parquet(str(src))
    stored = spark.read.parquet(str(src))
    stream = spark.readStream.schema(stored.schema).parquet(str(src))
    q = (
        sample_frames(stream, every=3)
        .writeStream.format("memory")
        .queryName("vid_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        (r.video_id, r.frame_idx): (r.w, r.h, round(r.frame_mean, 9), bytes(r.bytes))
        for r in spark.sql("select * from vid_stream").collect()
    }
    want = {
        (r.video_id, r.frame_idx): (r.w, r.h, round(r.frame_mean, 9), bytes(r.bytes))
        for r in sample_frames(stored, every=3).collect()
    }
    assert got == want and len(got) > 20


def test_streaming_sessionize_bridge_merge(spark, tmp_path):
    # an event arriving in a LATER micro-batch that falls between two open
    # sessions must merge them (the bridged-neighbors path): file1 carries
    # t0 and t0+3000s (gap > 1800 -> two open sessions), file2 carries
    # t0+1500s which is within the gap of both.  Watermark delay 2h keeps
    # the bridge event admissible in batch 2.
    import time

    from geostatstransforms_jl_spark.streaming import streaming_sessionize

    t0 = 1_714_521_600
    ev1 = spark.createDataFrame(
        [(1, t0), (1, t0 + 3000)], "user_id long, s long"
    ).select("user_id", F.timestamp_seconds("s").alias("ts"))
    ev2 = spark.createDataFrame([(1, t0 + 1500)], "user_id long, s long").select(
        "user_id", F.timestamp_seconds("s").alias("ts")
    )
    src = tmp_path / "bridge_src"
    ev1.coalesce(1).write.parquet(str(src))
    for df_sent in (
        ev2,
        spark.createDataFrame([(1, t0 + 86400 * 30)], "user_id long, s long").select(
            "user_id", F.timestamp_seconds("s").alias("ts")
        ),
        spark.createDataFrame([(1, t0 + 86400 * 60)], "user_id long, s long").select(
            "user_id", F.timestamp_seconds("s").alias("ts")
        ),
    ):
        time.sleep(1.1)
        df_sent.coalesce(1).write.mode("append").parquet(str(src))
    stream = (
        spark.readStream.schema(ev1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_sessionize(stream, gap_seconds=1800, watermark="2 hours")
        .writeStream.format("memory")
        .queryName("bridge_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "bridge_ckpt"))
        .start()
    )
    assert q.awaitTermination(300)
    got = [
        (r.user_id, r.n_events,
         round(r.session_start.timestamp()), round(r.session_end.timestamp()))
        for r in spark.sql(
            "select * from bridge_stream "
            f"where session_start <= timestamp_seconds({t0 + 3000})"
        ).collect()
    ]
    # ONE merged session of 3 events, not two sessions of 1 and 2
    assert got == [(1, 3, t0, t0 + 3000)]


def test_streaming_tile_cells(spark, tmp_path):
    # the north-star tile-assignment rollup folds incrementally: streaming
    # state after availableNow == the batch rollup over the same image table
    from geostatstransforms_jl_spark.core.cells import CellGrid
    from geostatstransforms_jl_spark.core.images import synthetic_images
    from geostatstransforms_jl_spark.streaming import streaming_tile_cells

    imgs = synthetic_images(spark, 200, partitions=4).select(
        "image_id", "phash", "caption"
    )
    src = tmp_path / "img_src"
    imgs.write.parquet(str(src))
    grid = CellGrid.box2d(0.0, 0.0, 1.0, 1.0, 5)

    stream = spark.readStream.schema(imgs.schema).parquet(str(src))
    q = (
        streaming_tile_cells(stream, grid)
        .writeStream.format("memory")
        .queryName("cells_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        r.zkey: (r.n_images, r.avg_tokens, r.first_image)
        for r in spark.sql("select * from cells_stream").collect()
    }
    # token counts are ints, so the avg is an exact double on both sides
    batch = {
        r.zkey: (r.n_images, r.avg_tokens, r.first_image)
        for r in streaming_tile_cells(
            spark.read.parquet(str(src)), grid
        ).collect()
    }
    assert got == batch and sum(n for n, _, _ in got.values()) == 200
    assert len(got) > 20  # zipf lat skew still spreads across many cells


def test_streaming_tile_cells_non_numeric_ids(spark):
    # ids without trailing digits must yield a NULL representative (the
    # documented signal to pass id_index_expr), not an ANSI cast crash
    from geostatstransforms_jl_spark.core.cells import CellGrid
    from geostatstransforms_jl_spark.streaming import streaming_tile_cells

    df = spark.createDataFrame(
        [("thumb_a", 123456789, "two words"), ("img00000007", 123456789, "x")],
        "image_id string, phash long, caption string",
    )
    grid = CellGrid.box2d(0.0, 0.0, 1.0, 1.0, 3)
    rows = streaming_tile_cells(df, grid).collect()
    assert len(rows) == 1 and rows[0].n_images == 2
    assert rows[0].first_image == "img00000007"  # min ignores the NULL idx

    only_bad = streaming_tile_cells(df.filter(F.col("image_id") == "thumb_a"), grid)
    assert only_bad.collect()[0].first_image is None


def test_streaming_tile_cells_foreign_prefix_ids(spark):
    # ADVICE r5: a trailing-digit scheme with a non-img prefix must NOT be
    # silently re-formatted into a fabricated 'img…' id; under the default
    # id_format it yields NULL, and declaring the format restores a real id
    from geostatstransforms_jl_spark.core.cells import CellGrid
    from geostatstransforms_jl_spark.streaming import streaming_tile_cells

    df = spark.createDataFrame(
        [("vid00000007", 123456789, "a"), ("vid00000003", 123456789, "b")],
        "image_id string, phash long, caption string",
    )
    grid = CellGrid.box2d(0.0, 0.0, 1.0, 1.0, 3)
    assert streaming_tile_cells(df, grid).collect()[0].first_image is None
    declared = streaming_tile_cells(df, grid, id_format="vid%08d").collect()
    assert declared[0].first_image == "vid00000003"


def test_streaming_tile_cells_kill_resume(spark, tmp_path):
    # VERDICT r4 #5: stop the north-star streaming rollup mid-stream and
    # restart from the checkpoint dir.  Phase 2 must (a) read ONLY the new
    # files (offsets recovered) yet (b) emit the rollup over ALL rows (state
    # recovered) — together that is exactly-once across the restart.
    from geostatstransforms_jl_spark.core.cells import CellGrid
    from geostatstransforms_jl_spark.core.images import synthetic_images
    from geostatstransforms_jl_spark.streaming import streaming_tile_cells

    grid = CellGrid.box2d(0.0, 0.0, 1.0, 1.0, 4)
    cols = ("image_id", "phash", "caption")
    src, ckpt = tmp_path / "tc_src", str(tmp_path / "tc_ckpt")
    imgs = synthetic_images(spark, 600).select(*cols)
    first, second = (
        imgs.filter(F.col("image_id") < "img00000400"),
        imgs.filter(F.col("image_id") >= "img00000400"),
    )
    first.coalesce(2).write.parquet(str(src))

    def run(name):
        stream = (
            spark.readStream.schema(imgs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            streaming_tile_cells(stream, grid)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        assert q.awaitTermination(300)
        return sum(p["numInputRows"] for p in q.recentProgress)

    n1 = run("tc_phase1")
    assert n1 == 400
    # the "kill": the availableNow query has terminated; its state lives only
    # in the checkpoint.  New data lands while no query is running.
    second.coalesce(2).write.mode("append").parquet(str(src))
    n2 = run("tc_phase2")
    assert n2 == 200, "restart re-read already-committed files"

    got = sorted(
        (r.zkey, r.n_images, r.avg_tokens, r.first_image)
        for r in spark.sql("select * from tc_phase2").collect()
    )
    batch = sorted(
        (r.zkey, r.n_images, r.avg_tokens, r.first_image)
        for r in streaming_tile_cells(
            spark.read.parquet(str(src)), grid
        ).collect()
    )
    assert got == batch


def test_streaming_sessionize_kill_resume(spark, tmp_path):
    # Checkpoint recovery through applyInPandasWithState: phase 1 ingests the
    # real events and seals whatever sessions its final no-data batch can
    # (watermark = max real ts), then terminates; phase 2 restarts from the
    # checkpoint with only the two sentinel files, sealing the REMAINDER from
    # recovered state.  The union of emissions across the two incarnations
    # must equal the batch sessionize exactly once — no session lost at the
    # restart boundary, none emitted twice.
    import time

    from geostatstransforms_jl_spark.functions.timeseries import sessionize
    from geostatstransforms_jl_spark.streaming import streaming_sessionize

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("user_id", "ts")
    )
    hi = ev.agg(F.max("ts").alias("m")).first().m
    users = [r.user_id for r in ev.select("user_id").distinct().collect()]
    src, ckpt = tmp_path / "sr_src", str(tmp_path / "sr_ckpt")
    sink = str(tmp_path / "sr_out")  # a REAL file sink: append mode recovers
    ev.coalesce(1).write.parquet(str(src))  # from the checkpoint, and its
    # _spark_metadata commit log is the exactly-once ledger we assert on

    def run():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            streaming_sessionize(stream, gap_seconds=1800, watermark="0 seconds")
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        assert q.awaitTermination(300)
        return sum(p["numInputRows"] for p in q.recentProgress)

    run()
    p1 = spark.read.parquet(sink).collect()

    for k, days in ((1, 30), (2, 60)):
        sent = spark.createDataFrame(
            [(u, hi) for u in users], "user_id long, ts timestamp"
        ).withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {days} DAYS"))
        time.sleep(1.1)  # distinct mtimes -> deterministic file order
        sent.coalesce(1).write.mode("append").parquet(str(src))

    n2 = run()
    assert n2 == 2 * len(users), "restart re-read already-committed files"
    total = spark.read.parquet(sink).collect()
    # the restart boundary did real work on both sides: phase 1 sealed some
    # sessions, phase 2 sealed the rest from RECOVERED state
    assert p1 and len(total) > len(p1), (len(p1), len(total))

    batch = sessionize(ev, gap_seconds=1800)
    g = sorted(
        (r.user_id, r.n_events, r.session_start, r.session_end)
        for r in total
        if r.session_start <= hi
    )
    b = sorted(
        (r.user_id, r.n_events, r.session_start, r.session_end)
        for r in batch.collect()
    )
    assert len(g) == len(set(g)), "a session was emitted twice across restart"
    assert g == b


def test_streaming_cell_pyramid_parity(spark, tmp_path):
    # streaming pyramid (explode-levels, one streaming aggregate) over a
    # bounded file source == batch cell_pyramid (persisted base + tier
    # re-aggregation) row-for-row, every zoom level
    import numpy as np
    from geostatstransforms_jl_spark.core.cells import CellGrid
    from geostatstransforms_jl_spark.functions.geocell import cell_pyramid
    from geostatstransforms_jl_spark.streaming import streaming_cell_pyramid

    rng = np.random.default_rng(11)
    n = 5000
    rows = [(float(x), float(y), int(v)) for x, y, v in
            zip(rng.random(n), rng.random(n), rng.integers(-100, 100, n))]
    df = spark.createDataFrame(rows, "x double, y double, v long")
    src = tmp_path / "pyr_src"
    df.write.parquet(str(src))
    grid = CellGrid.box2d(0.0, 0.0, 1.0, 1.0, 5)

    stream = spark.readStream.schema(df.schema).parquet(str(src))
    agg = streaming_cell_pyramid(
        stream, grid, sum_cols=("v",), min_cols=("v",), max_cols=("v",)
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("pyr_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {(r.level, r.zkey): (r.n_rows, r.sum_v, r.min_v, r.max_v)
           for r in spark.sql("select * from pyr_stream").collect()}

    batch = cell_pyramid(df, grid, sum_cols=("v",), min_cols=("v",), max_cols=("v",))
    want = {(r.level, r.zkey): (r.n_rows, r.sum_v, r.min_v, r.max_v)
            for r in batch.collect()}
    assert got == want
    assert {l for l, _ in got} == set(range(6))


def test_streaming_cell_pyramid_hostile_names(spark, tmp_path):
    # input already carries a 'level' column AND the key column name needs
    # quoting — the projection-before-explode and backticked shift must
    # keep streaming parity with batch (which drops extras in its base agg)
    import pytest as _pytest
    from geostatstransforms_jl_spark.core.cells import CellGrid
    from geostatstransforms_jl_spark.functions.geocell import cell_pyramid
    from geostatstransforms_jl_spark.streaming import streaming_cell_pyramid

    df = spark.range(500).select(
        (F.col("id") % 23 / 23.0).alias("x"),
        (F.col("id") % 17 / 17.0).alias("y"),
        F.col("id").alias("v"),
        (F.col("id") % 9).alias("level"),  # decoy input column
    )
    src = tmp_path / "pyr_hostile"
    df.write.parquet(str(src))
    grid = CellGrid.box2d(0.0, 0.0, 1.0, 1.0, 3)

    stream = spark.readStream.schema(df.schema).parquet(str(src))
    agg = streaming_cell_pyramid(
        stream, grid, sum_cols=("v",), key_col="cell key"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("pyr_hostile")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {(r["level"], r["cell key"]): (r["n_rows"], r["sum_v"])
           for r in spark.sql("select * from pyr_hostile").collect()}
    batch = cell_pyramid(df.drop("level"), grid, sum_cols=("v",), key_col="cell key")
    want = {(r["level"], r["cell key"]): (r["n_rows"], r["sum_v"])
            for r in batch.collect()}
    assert got == want

    # shared contract: same-name key/level columns are rejected up front
    with _pytest.raises(ValueError, match="must differ"):
        cell_pyramid(df.drop("level"), grid, key_col="k", level_col="k")


def test_streaming_cell_pyramid_kill_resume(spark, tmp_path):
    # same exactly-once contract as the tile_cells kill/resume, for the
    # multi-level rollup: phase 2 reads ONLY the new files (offsets
    # recovered) yet every tier reflects ALL rows (state recovered)
    import numpy as np
    from geostatstransforms_jl_spark.core.cells import CellGrid
    from geostatstransforms_jl_spark.functions.geocell import cell_pyramid
    from geostatstransforms_jl_spark.streaming import streaming_cell_pyramid

    rng = np.random.default_rng(31)
    n = 2000
    rows = [(int(i), float(x), float(y), int(v)) for i, (x, y, v) in
            enumerate(zip(rng.random(n), rng.random(n),
                          rng.integers(-50, 50, n)))]
    df = spark.createDataFrame(rows, "i long, x double, y double, v long")
    grid = CellGrid.box2d(0.0, 0.0, 1.0, 1.0, 4)
    src, ckpt = tmp_path / "pyr_src", str(tmp_path / "pyr_ckpt")
    df.filter(F.col("i") < 1400).coalesce(2).write.parquet(str(src))

    def run(name):
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            streaming_cell_pyramid(stream, grid, sum_cols=("v",))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        assert q.awaitTermination(300)
        return sum(p["numInputRows"] for p in q.recentProgress)

    assert run("pyr_phase1") == 1400
    df.filter(F.col("i") >= 1400).coalesce(2).write.mode("append").parquet(str(src))
    assert run("pyr_phase2") == 600, "restart re-read already-committed files"

    got = {(r.level, r.zkey): (r.n_rows, r.sum_v)
           for r in spark.sql("select * from pyr_phase2").collect()}
    want = {(r.level, r.zkey): (r.n_rows, r.sum_v)
            for r in cell_pyramid(
                spark.read.parquet(str(src)), grid, sum_cols=("v",)
            ).collect()}
    assert got == want
