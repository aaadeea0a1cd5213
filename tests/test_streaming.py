"""Structured Streaming: windowed stats over the events stream driven to
completion with a memory sink; stateful, join, dedup and raster
streaming operators against their batch twins."""

import pytest
from pyspark.sql import functions as F


def test_windowed_stats_stream_matches_batch(spark, sf_dir, tmp_path):
    import shutil

    from extra_ops.incremental import windowed_change_stats

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = {
        (r.win_start, r.event_type): (r.n, round(r.sum_value, 6))
        for r in windowed_change_stats(batch).collect()
    }

    # the streaming file source wants a directory of files
    stream_dir = tmp_path / "events_stream"
    stream_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir / "part-0.parquet")
    stream = spark.readStream.schema(batch.schema).parquet(str(stream_dir))
    q = (
        windowed_change_stats(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_stats")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.win_start, r.event_type): (r.n, round(r.sum_value, 6))
            for r in spark.sql("SELECT * FROM win_stats").collect()
        }
    finally:
        q.stop()
    assert got == want
    assert len(got) > 10


def test_stateful_sessions(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): sessions close
    either in-stream (gap inside a later batch) or via event-time
    timeout; closed sessions must equal the batch-computed ones."""
    import pandas as pd
    from extra_ops.incremental import stateful_sessions

    t0 = 1_600_000_000
    batch1 = pd.DataFrame(
        {
            "user_id": [1, 1, 2],
            "ts": pd.to_datetime([t0, t0 + 100, t0 + 50], unit="s"),
            "value": [1.0, 2.0, 5.0],
        }
    )
    # user 1: an event 1h later -> closes session A in-stream and opens B;
    # user 3: far-future event advances the watermark past everything,
    # timing out user 2's session and user 1's session B
    batch2 = pd.DataFrame(
        {
            "user_id": [1, 3],
            "ts": pd.to_datetime([t0 + 3700, t0 + 10_000_000], unit="s"),
            "value": [7.0, 0.0],
        }
    )
    src_dir = str(tmp_path / "sess_src")
    spark.createDataFrame(batch1).coalesce(1).write.parquet(src_dir)
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    out = stateful_sessions(stream, gap_sec=1800, watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("sessions")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .outputMode("append")
        .start()
    )
    # a third far-future batch triggers the micro-batch in which the
    # timeouts set after batch2's watermark advance actually fire
    batch3 = pd.DataFrame(
        {
            "user_id": [3],
            "ts": pd.to_datetime([t0 + 20_000_000], unit="s"),
            "value": [0.0],
        }
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(batch2).coalesce(1).write.mode("append").parquet(src_dir)
        q.processAllAvailable()
        spark.createDataFrame(batch3).coalesce(1).write.mode("append").parquet(src_dir)
        q.processAllAvailable()
        got = {
            (r.user_id, int(r.session_start.timestamp())): (
                int(r.session_end.timestamp()),
                r.n,
                r.sum_value,
            )
            for r in spark.sql("SELECT * FROM sessions").collect()
        }
    finally:
        q.stop()
    assert got[(1, t0)] == (t0 + 100, 2, 3.0)          # closed in-stream
    assert got[(2, t0 + 50)] == (t0 + 50, 1, 5.0)      # closed by timeout
    assert got[(1, t0 + 3700)] == (t0 + 3700, 1, 7.0)  # closed by timeout


def test_stateful_sessions_late_events(spark, tmp_path):
    """Out-of-order events admitted by the watermark must MERGE into the
    carried session interval (batch session_window semantics), not
    regress session_end or re-split: a late event inside the carried
    interval and one before its start both fold in."""
    import pandas as pd
    from extra_ops.incremental import stateful_sessions

    t0 = 1_600_000_000
    batch1 = pd.DataFrame(
        {
            "user_id": [1, 1, 2],
            "ts": pd.to_datetime([t0, t0 + 100, t0 + 50], unit="s"),
            "value": [1.0, 2.0, 5.0],
        }
    )
    # watermark after batch1 = (t0+100) - 600 < t0+20: both late rows
    # below are admitted. user 1 gets a late event INSIDE its carried
    # interval; user 2 a late event BEFORE its carried start.
    batch2 = pd.DataFrame(
        {
            "user_id": [1, 2],
            "ts": pd.to_datetime([t0 + 50, t0 + 20], unit="s"),
            "value": [0.5, 4.0],
        }
    )
    batch3 = pd.DataFrame(
        {"user_id": [3], "ts": pd.to_datetime([t0 + 10_000_000], unit="s"), "value": [0.0]}
    )
    batch4 = pd.DataFrame(
        {"user_id": [3], "ts": pd.to_datetime([t0 + 20_000_000], unit="s"), "value": [0.0]}
    )
    src_dir = str(tmp_path / "late_src")
    spark.createDataFrame(batch1).coalesce(1).write.parquet(src_dir)
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    out = stateful_sessions(stream, gap_sec=1800, watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("late_sessions")
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        for b in (batch2, batch3, batch4):
            spark.createDataFrame(b).coalesce(1).write.mode("append").parquet(src_dir)
            q.processAllAvailable()
        got = {
            (r.user_id, int(r.session_start.timestamp())): (
                int(r.session_end.timestamp()),
                r.n,
                r.sum_value,
            )
            for r in spark.sql("SELECT * FROM late_sessions").collect()
        }
    finally:
        q.stop()
    # late event folded in: end does NOT regress, counts/sums include it
    assert got[(1, t0)] == (t0 + 100, 3, 3.5)
    # late event before the carried start extends the session backwards
    assert got[(2, t0 + 20)] == (t0 + 50, 2, 9.0)


def test_streaming_rasterize_matches_batch(spark, sf_dir, tmp_path):
    """stream == batch for the windowed raster aggregation (the
    streaming face of rasterize_points)."""
    from osm_replication_rust_spark.functions import coords as C
    from extra_ops.incremental import streaming_rasterize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "ts",
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
    )
    batch = {
        (str(r.win_start), r.tile, r.idx): r.n
        for r in streaming_rasterize(ev).collect()
    }
    src_dir = tmp_path / "raster_src"
    ev.write.parquet(str(src_dir))
    stream = spark.readStream.schema(ev.schema).parquet(str(src_dir))
    out = streaming_rasterize(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("raster_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r.win_start), r.tile, r.idx): r.n
        for r in spark.sql("SELECT * FROM raster_stream").collect()
    }
    assert got == batch
    assert len(batch) > 0


def test_streaming_spatial_join_matches_batch(spark, sf_dir, tmp_path, regions):
    """The flagship cell-prefilter spatial join is STATELESS (map-side
    encode + broadcast join + refine), so the identical plan runs on a
    stream in append mode — streamed assignments == batch assignments."""
    from osm_replication_rust_spark.functions import coords as C
    from osm_replication_rust_spark.operators.spatial_join import assign_regions

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
    )
    batch = {
        (r.event_id, r.region_id): (r.in_poly, r.in_buffer)
        for r in assign_regions(ev, regions, keep_cols=["event_id"]).collect()
    }
    src = tmp_path / "sj_src"
    ev.write.parquet(str(src))
    stream = spark.readStream.schema(ev.schema).parquet(str(src))
    out = assign_regions(stream, regions, keep_cols=["event_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("sj_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.event_id, r.region_id): (r.in_poly, r.in_buffer)
        for r in spark.sql("SELECT * FROM sj_stream").collect()
    }
    assert got == batch
    assert len(batch) > 0


def test_streaming_dedup_exact(spark, tmp_path):
    """Streaming first-wins dedup drops duplicate content within the
    watermark horizon; survivor KEY SET matches the batch dedup."""
    import shutil

    import pandas as pd

    from extra_ops.incremental import (
        streaming_dedup_exact,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": range(12),
            "text": [
                "alpha", "beta", "alpha", "gamma", "beta", "delta",
                "alpha", "epsilon", "zeta", "gamma", "zeta", "eta",
            ],
            "ts": pd.to_datetime(
                [f"2024-01-01 00:0{i % 10}:00" for i in range(12)]
            ),
        }
    )
    src = spark.createDataFrame(pdf)
    stream_dir = tmp_path / "docs_stream"
    stream_dir.mkdir()
    src.write.parquet(str(stream_dir / "p"))
    for f in (stream_dir / "p").glob("*.parquet"):
        shutil.move(str(f), stream_dir / f.name)
    shutil.rmtree(stream_dir / "p")

    stream = spark.readStream.schema(src.schema).parquet(str(stream_dir))
    q = (
        streaming_dedup_exact(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM dedup_stream").collect()
    finally:
        q.stop()
    texts = [r.text for r in got]
    assert sorted(texts) == sorted(set(pdf["text"]))  # one survivor each

    # batch twin: same survivor key set (first-wins by ts)
    batch = streaming_dedup_exact(src).collect()
    assert sorted(r.text for r in batch) == sorted(texts)
    # batch keeps the EARLIEST ts per content
    first_ts = pdf.groupby("text")["ts"].min()
    for r in batch:
        assert pd.Timestamp(r.ts) == first_ts[r.text]


def test_stateful_trajectory_segments_stream_equals_batch(spark, tmp_path):
    """Spatial trajectory segmentation as a custom stateful operator:
    closed segments (in-stream break, late out-of-order point inside
    the horizon, and timeout close) equal the batch twin
    (relational.trajectory_segments with the same eps + gap rules)."""
    import pandas as pd
    from extra_ops.relational import (
        trajectory_segments,
    )
    from extra_ops.incremental import (
        stateful_trajectory_segments,
    )

    t0 = 1_600_000_000
    eps, gap = 1000, 1800
    # user 1: tight pair, then a spatial jump (same times), then idle;
    # user 2: one point, times out. batch2 adds an out-of-order point
    # for user 1 INSIDE the watermark horizon that extends segment A.
    batch1 = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 2],
            "ts": pd.to_datetime([t0, t0 + 100, t0 + 200, t0 + 50], unit="s"),
            "lat": [0, 50, 9_000_000, 0],
            "lon": [0, 50, 0, 0],
        }
    )
    batch2 = pd.DataFrame(
        {
            "user_id": [1, 3],
            "ts": pd.to_datetime([t0 + 150, t0 + 10_000_000], unit="s"),
            "lat": [70, 0],
            "lon": [70, 0],
        }
    )
    batch3 = pd.DataFrame(
        {
            "user_id": [3],
            "ts": pd.to_datetime([t0 + 20_000_000], unit="s"),
            "lat": [0],
            "lon": [0],
        }
    )
    src_dir = str(tmp_path / "traj_src")
    spark.createDataFrame(batch1).coalesce(1).write.parquet(src_dir)
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, lat long, lon long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    out = stateful_trajectory_segments(
        stream, step_eps=eps, gap_sec=gap, watermark="10 minutes"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("traj_segs")
        .option("checkpointLocation", str(tmp_path / "traj_ckpt"))
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    spark.createDataFrame(batch2).coalesce(1).write.mode("append").parquet(src_dir)
    q.processAllAvailable()
    spark.createDataFrame(batch3).coalesce(1).write.mode("append").parquet(src_dir)
    q.processAllAvailable()
    q.stop()
    got = {
        (r.user_id, int(r.seg_start.timestamp()), int(r.seg_end.timestamp()), r.n_pts)
        for r in spark.sql("SELECT * FROM traj_segs").collect()
    }

    # batch twin over the SAME delivered rows; user 3 is only the
    # watermark driver — its trailing segments are legitimately still
    # open when the query stops
    got = {r for r in got if r[0] != 3}
    all_rows = pd.concat([batch1, batch2])
    bdf = spark.createDataFrame(all_rows[all_rows.user_id != 3])
    seg = trajectory_segments(
        bdf, key="user_id", ts="ts", step_eps=eps, gap_seconds=gap,
        order_cols=["ts"],
    )
    import pyspark.sql.functions as F

    want = {
        (r.user_id, int(r.s.timestamp()), int(r.e.timestamp()), r.n)
        for r in seg.groupBy("user_id", "seg_id")
        .agg(
            F.min("ts").alias("s"),
            F.max("ts").alias("e"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    assert got == want
    # the out-of-order point landed inside segment A: 3 points
    assert (1, t0, t0 + 150, 3) in got


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """Attribution join: purchases within [click, click+2h] per user —
    streamed in three appends with out-of-order (but in-horizon)
    arrivals, compared pair-for-pair against the batch twin."""
    from datetime import datetime

    from extra_ops.incremental import (
        stream_interval_join,
    )

    from datetime import timedelta

    T = lambda m: datetime(2024, 1, 1, 10, 0) + timedelta(minutes=m)
    clicks = [
        (1, T(0), "c1"), (1, T(50), "c2"), (2, T(10), "c3"),
        (3, T(30), "c4"),
    ]
    buys = [
        (1, T(40), "p1"),     # matches c1 (40m) and NOT c2 (before it -> only via before_s=0 rule: 40 < 50 so no)
        (1, T(55), "p2"),     # matches c1 (55m) and c2 (5m)
        (2, T(9), "p3"),      # 1m BEFORE c3: excluded by before_s=0
        (3, T(150), "p4"),    # 120m after c4: exactly at the bound -> included
        (4, T(20), "p5"),     # user with no clicks
    ]
    cschema = "user_id long, ts timestamp, click_id string"
    pschema = "user_id long, ts timestamp, buy_id string"
    cb = spark.createDataFrame(clicks, cschema)
    pb = spark.createDataFrame(buys, pschema)
    want = {
        (r.user_id, r.click_id, r.buy_id)
        for r in stream_interval_join(cb, pb, after_s=7200).collect()
    }
    assert want == {(1, "c1", "p1"), (1, "c1", "p2"), (1, "c2", "p2"),
                    (3, "c4", "p4")}

    cdir, pdir = tmp_path / "clicks", tmp_path / "buys"
    # batch 1: first clicks + one EARLY purchase; batch 2 delivers a
    # purchase OLDER than batch 1's clicks (out-of-order, in horizon);
    # batch 3 the rest
    spark.createDataFrame([clicks[0], clicks[2]], cschema).coalesce(1).write.parquet(str(cdir))
    spark.createDataFrame([buys[1]], pschema).coalesce(1).write.parquet(str(pdir))
    cs = spark.readStream.schema(cb.schema).parquet(str(cdir))
    ps = spark.readStream.schema(pb.schema).parquet(str(pdir))
    q = (
        stream_interval_join(cs, ps, after_s=7200, watermark="3 hours")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ij")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame([clicks[1], clicks[3]], cschema).coalesce(1).write.mode("append").parquet(str(cdir))
        spark.createDataFrame([buys[0], buys[2]], pschema).coalesce(1).write.mode("append").parquet(str(pdir))
        q.processAllAvailable()
        spark.createDataFrame([buys[3], buys[4]], pschema).coalesce(1).write.mode("append").parquet(str(pdir))
        q.processAllAvailable()
        got = {
            (r.user_id, r.click_id, r.buy_id)
            for r in spark.sql("SELECT * FROM ij").collect()
        }
    finally:
        q.stop()
    assert got == want


def test_stream_interval_join_guards(spark):
    import pytest

    from extra_ops.incremental import (
        stream_interval_join,
    )

    a = spark.createDataFrame([], "user_id long, ts timestamp, x string")
    b = spark.createDataFrame([], "user_id long, ts timestamp, x string")
    with pytest.raises(ValueError, match="both sides"):
        stream_interval_join(a, b)
    with pytest.raises(ValueError, match="negative"):
        stream_interval_join(
            a, b.withColumnRenamed("x", "y"), before_s=-1
        )


def test_stream_interval_join_drops_late_rows(spark, tmp_path):
    """A right row arriving BEHIND the watermark is dropped and its
    pair never emits (the batch twin still contains it) — the state
    bound is real, not decorative."""
    from datetime import datetime, timedelta

    from extra_ops.incremental import (
        stream_interval_join,
    )

    T = lambda m: datetime(2024, 1, 1, 10, 0) + timedelta(minutes=m)
    cschema = "user_id long, ts timestamp, click_id string"
    pschema = "user_id long, ts timestamp, buy_id string"
    # the GLOBAL watermark is min() over all watermarked inputs
    # (multipleWatermarkPolicy default), so BOTH sides carry a
    # far-future row in batch 1 — an empty purchases side would hold
    # the global watermark at the epoch and nothing would ever drop
    clicks = [(1, T(0), "c1"), (9, T(300), "cfar")]
    far_buy = [(9, T(301), "pfar")]
    late_buy = [(1, T(40), "p1")]

    cb = spark.createDataFrame(clicks, cschema)
    pb = spark.createDataFrame(far_buy + late_buy, pschema)
    batch = {
        (r.user_id, r.click_id, r.buy_id)
        for r in stream_interval_join(cb, pb, after_s=7200).collect()
    }
    assert batch == {(1, "c1", "p1"), (9, "cfar", "pfar")}

    cdir, pdir = tmp_path / "clicks", tmp_path / "buys"
    spark.createDataFrame(clicks, cschema).coalesce(1).write.parquet(str(cdir))
    spark.createDataFrame(far_buy, pschema).coalesce(1).write.parquet(str(pdir))
    cs = spark.readStream.schema(cb.schema).parquet(str(cdir))
    ps = spark.readStream.schema(pb.schema).parquet(str(pdir))
    q = (
        stream_interval_join(cs, ps, after_s=7200, watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ij_late")
        .start()
    )
    try:
        # batch 1 advances the stream clock to T(300): watermark T(290)
        q.processAllAvailable()
        # p1 at T(40) is now ~4 h behind the watermark: dropped
        spark.createDataFrame(late_buy, pschema).coalesce(1).write.mode("append").parquet(str(pdir))
        q.processAllAvailable()
        got = {
            (r.user_id, r.click_id, r.buy_id)
            for r in spark.sql("SELECT * FROM ij_late").collect()
        }
    finally:
        q.stop()
    assert got == {(9, "cfar", "pfar")}


def test_stateful_speed_screen_stream_equals_batch(spark, tmp_path):
    """Streaming speed screen: per-step violation rows (in-stream
    finalization by watermark, late in-horizon reordering, timeout
    flush) equal the batch twin (relational.speed_screen) per user."""
    import pandas as pd
    import pyspark.sql.functions as F
    from extra_ops.relational import speed_screen
    from extra_ops.incremental import (
        stateful_speed_screen,
    )

    t0 = 1_600_000_000
    vmax = 10
    # user 1: ok step, teleport-speed step, then a LATE in-horizon fix
    # that lands between two already-buffered fixes and re-splits the
    # consecutive pairs; user 2: single fix then idle (no steps).
    batch1 = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 2],
            "ts": pd.to_datetime(
                [t0, t0 + 100, t0 + 300, t0 + 50], unit="s"
            ),
            "lat": [0, 500, 20_000, 7],
            "lon": [0, 0, 0, 7],
        }
    )
    batch2 = pd.DataFrame(
        {
            "user_id": [1, 3],
            "ts": pd.to_datetime([t0 + 200, t0 + 10_000_000], unit="s"),
            "lat": [400, 0],
            "lon": [0, 0],
        }
    )
    batch3 = pd.DataFrame(
        {
            "user_id": [3],
            "ts": pd.to_datetime([t0 + 20_000_000], unit="s"),
            "lat": [0],
            "lon": [0],
        }
    )
    src_dir = str(tmp_path / "spd_src")
    spark.createDataFrame(batch1).coalesce(1).write.parquet(src_dir)
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, lat long, lon long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    out = stateful_speed_screen(stream, vmax=vmax, watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("spd_steps")
        .option("checkpointLocation", str(tmp_path / "spd_ckpt"))
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    spark.createDataFrame(batch2).coalesce(1).write.mode("append").parquet(src_dir)
    q.processAllAvailable()
    spark.createDataFrame(batch3).coalesce(1).write.mode("append").parquet(src_dir)
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM spd_steps").collect()
    # no duplicate step emissions
    keyed = [(r.user_id, int(r.step_ts.timestamp())) for r in rows]
    assert len(keyed) == len(set(keyed))
    got = {}
    for r in rows:
        if r.user_id == 3:  # watermark driver, trailing steps open
            continue
        a = got.setdefault(r.user_id, [0, 0, 0])
        a[0] += 1
        a[1] += int(r.viol)
        a[2] += int(r.ex_str)
    all_rows = pd.concat([batch1, batch2])
    bdf = spark.createDataFrame(all_rows[all_rows.user_id != 3])
    want = {
        r["user_id"]: [r["sp_steps"], r["sp_viol"], int(r["sp_ex_str"])]
        for r in speed_screen(bdf, "user_id", "ts", vmax=vmax).collect()
        if r["sp_steps"] > 0
    }
    assert got == want
    # the late fix re-split the pairs: user 1 has 3 final steps
    assert got[1][0] == 3 and got[1][1] >= 1
