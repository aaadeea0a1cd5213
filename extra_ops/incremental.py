"""Structured-Streaming operators.

The reference's replication loop is micro-batch by construction (one
minutely .osc diff per state, /root/reference/src/update.rs:74-144).
Diffs are applied by the one batch driver, ``cli.py update``, which
reads only the states above the store's cursor; this module holds the
watermarked streaming operators beside it:

- windowed aggregation for the observability stream (events/sec,
  changes per region per window) — the reference's stats counters
  (/root/reference/src/osmbin.rs:66-77) as a live query;
- stream-stream interval joins, stateful sessions, trajectory segments
  and speed screens, streaming dedup and rasterization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_change_stats(events: DataFrame, window: str = "5 minutes") -> DataFrame:
    """Watermarked tumbling-window stats over a timestamped change/event
    stream: counts + value sum per (window, event_type). Works on a
    batch frame too (same plan, no watermark)."""
    # watermarks require TIMESTAMP (LTZ); parquet often carries NTZ.
    # The session TZ is pinned to UTC, so the cast is lossless.
    src = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if src.isStreaming:
        src = src.withWatermark("ts", "10 minutes")
    return src.groupBy(F.window("ts", window).alias("win"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_value"),
    ).select(
        F.col("win.start").alias("win_start"),
        "event_type",
        "n",
        "sum_value",
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    before_s: int = 0,
    after_s: int = 7200,
    watermark: str = "1 hour",
    left_ts: str = "ts",
    right_ts: str = "ts",
) -> DataFrame:
    """Stream-stream INNER interval join — the attribution-join shape
    ("purchase within 2 h after the click"): pair every left row with
    the right rows of the SAME ``key`` whose event time falls in
    ``[left_ts - before_s, left_ts + after_s]``. The same call works
    on batch frames (identical plan minus watermarks), so batch is the
    executable spec the streaming test compares against.

    Output: ``key, l_ts, r_ts`` plus every other left column and every
    other right column, in that order. Non-key column names shared by
    both inputs raise (the join would silently produce ambiguous
    references); the two event-time columns are renamed ``l_ts`` /
    ``r_ts`` in the output whatever their input names.

    Streaming semantics: BOTH sides get ``watermark`` on their event
    time — Spark requires it to bound interval-join state, and the
    condition below is exactly the range form its state manager
    recognises. Each side buffers only rows inside
    watermark + before_s/after_s of the stream clock, so state is
    O(rate x horizon) per key-partition, never the stream. Matches
    emit as soon as both rows have arrived (append mode); a row later
    than the watermark is dropped and its pairs are NOT emitted —
    stream==batch equality holds for on-time data (asserted with
    out-of-order but in-horizon arrivals in the tests).

    Scale: one shuffle of each side on ``key`` (co-partitioned state
    store); hot keys split across time via the range condition. At
    100 TB the watermark horizon — not the input size — bounds memory."""
    if before_s < 0 or after_s < 0:
        raise ValueError("before_s/after_s must be >= 0 (a negative bound "
                         "silently empties the join window)")
    l_extra = [c for c in left.columns if c not in (key, left_ts)]
    r_extra = [c for c in right.columns if c not in (key, right_ts)]
    clash = sorted(set(l_extra) & set(r_extra))
    if clash:
        raise ValueError(
            f"non-key columns present on both sides: {clash}; rename one "
            "side — the join output would be ambiguous"
        )
    l = left.select(
        F.col(key),
        F.col(left_ts).cast("timestamp").alias("l_ts"),
        *[F.col(c) for c in l_extra],
    )
    r = right.select(
        F.col(key).alias("_rkey"),
        F.col(right_ts).cast("timestamp").alias("r_ts"),
        *[F.col(c) for c in r_extra],
    )
    if l.isStreaming:
        l = l.withWatermark("l_ts", watermark)
    if r.isStreaming:
        r = r.withWatermark("r_ts", watermark)
    cond = (
        (l[key] == r["_rkey"])
        & (r["r_ts"] >= l["l_ts"] - F.expr(f"INTERVAL {before_s} SECONDS"))
        & (r["r_ts"] <= l["l_ts"] + F.expr(f"INTERVAL {after_s} SECONDS"))
    )
    return l.join(r, cond, "inner").select(
        key, "l_ts", "r_ts", *l_extra, *r_extra
    )


SESSION_OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n long, sum_value double"
)
_SESSION_STATE_SCHEMA = "start long, last long, n long, sum_value double"


def stateful_sessions(
    events: DataFrame, gap_sec: int = 1800, watermark: str = "1 hour"
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-
    user gap-based sessionization that EMITS each session once it is
    closed — either by a later in-stream event past the gap, or by the
    event-time timeout when the watermark passes session_end + gap.

    Same gap semantics as the batch session_window query (a gap >= gap_sec
    starts a new session), so closed sessions equal the batch-computed
    ones — asserted in tests/test_streaming.py. State per user is one
    (start, last, n, sum_value) tuple; batch rows are folded with a
    vectorized split on the sorted timestamps."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = events.select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    ).withWatermark("ts", watermark)

    def fold(key, pdfs, state: GroupState):
        (uid,) = key
        if state.hasTimedOut:
            start, last, n, sv = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [uid],
                    "session_start": [pd.Timestamp(start, unit="s")],
                    "session_end": [pd.Timestamp(last, unit="s")],
                    "n": [n],
                    "sum_value": [sv],
                }
            )
            return

        pdf = pd.concat(list(pdfs)).sort_values("ts")
        ts = (pdf["ts"].astype("int64") // 1_000_000_000).to_numpy()
        vals = pdf["value"].to_numpy(dtype=float)
        if len(ts) == 0:
            return

        # segment ids within the batch: a gap >= gap_sec starts a new one
        seg = np.zeros(len(ts), dtype=np.int64)
        if len(ts) > 1:
            seg[1:] = np.cumsum((np.diff(ts) >= gap_sec).astype(np.int64))

        # batch segments as (start, last, n, sum) intervals, start-sorted
        segs = []
        for s in range(int(seg[-1]) + 1):
            m = seg == s
            segs.append(
                [int(ts[m][0]), int(ts[m][-1]), int(m.sum()), float(vals[m].sum())]
            )

        # The watermark admits out-of-order events, so batch segments
        # may precede, overlap, or follow the carried interval. Insert
        # the carry into the start-sorted segment list and re-merge
        # adjacent intervals whose gap < gap_sec — exactly the batch
        # session_window merge rule on intervals (a late event inside
        # or before the carry merges instead of regressing session_end).
        if state.exists:
            segs.append(list(state.get))
            segs.sort(key=lambda iv: (iv[0], iv[1]))
        merged: list[list] = []
        for iv in segs:
            if merged and iv[0] - merged[-1][1] < gap_sec:
                cur = merged[-1]
                cur[1] = max(cur[1], iv[1])
                cur[2] += iv[2]
                cur[3] += iv[3]
            else:
                merged.append(list(iv))

        closed = [tuple(iv) for iv in merged[:-1]]
        seg_start, seg_last, seg_n, seg_sv = merged[-1]
        state.update((int(seg_start), int(seg_last), int(seg_n), float(seg_sv)))
        # the natural timeout may already lie behind the watermark (a
        # late-ish session observed after the stream advanced) — clamp
        # forward so it fires on the next watermark move instead of
        # raising
        desired = (seg_last + gap_sec) * 1000
        state.setTimeoutTimestamp(max(desired, state.getCurrentWatermarkMs() + 1))

        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [uid] * len(closed),
                    "session_start": [pd.Timestamp(c[0], unit="s") for c in closed],
                    "session_end": [pd.Timestamp(c[1], unit="s") for c in closed],
                    "n": [c[2] for c in closed],
                    "sum_value": [c[3] for c in closed],
                }
            )

    return src.groupBy("user_id").applyInPandasWithState(
        fold,
        SESSION_OUT_SCHEMA,
        _SESSION_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def streaming_rasterize(
    points: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    ts: str = "ts",
    window: str = "5 minutes",
    tile_res: int = 23,
    px_res: int = 19,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window vector->raster over a point stream:
    (win_start, tile, idx, n) SPARSE pixel counts per window — the
    streaming face of raster.rasterize_points.

    Streaming state is one counter per (window, tile, pixel) — never a
    dense array — so state size tracks occupied pixels only and the
    watermark bounds its lifetime. Densify to per-tile arrays batch-side
    in the sink (raster._densify) where needed. Works on a
    batch frame too (identical plan minus the watermark)."""
    from osm_replication_rust_spark.functions.coords import LAT_OFFSET, LON_OFFSET, Y_STRIDE
    from .raster import _check_res

    npx = _check_res(tile_res, px_res)
    shift = tile_res - px_res
    mask = npx - 1
    src = points.withColumn("_ts", F.col(ts).cast("timestamp"))
    if src.isStreaming:
        src = src.withWatermark("_ts", watermark)
    gx = F.shiftright(F.col(lon) + LON_OFFSET, px_res)
    gy = F.shiftright(F.col(lat) + LAT_OFFSET, px_res)
    return (
        src.groupBy(
            F.window("_ts", window).alias("win"),
            (F.shiftright(gy, shift) * Y_STRIDE + F.shiftright(gx, shift)).alias("tile"),
            (gy.bitwiseAND(F.lit(mask)) * npx + gx.bitwiseAND(F.lit(mask))).alias("idx"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "tile", "idx", "n")
    )


def streaming_dedup_exact(
    docs: DataFrame,
    content_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup for an ingest pipeline: keep the FIRST
    arrival of each content hash, drop re-deliveries and duplicates
    within the watermark horizon. Built on
    ``dropDuplicatesWithinWatermark`` so state is BOUNDED — a key is
    held only until the watermark passes it, which is the property
    that lets a 100 TB/day ingest run forever (a plain dropDuplicates
    on an unbounded stream accumulates state without limit). Batch
    frames dedup exactly (same first-wins semantics, no horizon).

    The dedup key is xxhash64(content) — the same key
    ``dedup.exact_duplicates`` groups on, so the streaming
    survivor KEY SET matches the batch twin on replay. Which duplicate
    ROW survives differs in kind: streaming keeps the first ARRIVAL
    (delivery order); the batch twin keeps the earliest ts, breaking
    exact-ts ties deterministically by full-row hash (NOT min id — the
    content is identical either way). Both paths cast ts to timestamp
    so a string ts column cannot silently order lexicographically."""
    hashed = docs.withColumn(
        "content_hash", F.xxhash64(F.col(content_col))
    ).withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if not hashed.isStreaming:
        from pyspark.sql import Window

        w = Window.partitionBy("content_hash").orderBy(
            F.col(ts_col),
            F.xxhash64(F.struct(*[F.col(c) for c in hashed.columns])),
        )
        return (
            hashed.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def stateful_trajectory_segments(
    events: DataFrame,
    step_eps: int,
    gap_sec: int = 1800,
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user SPATIAL trajectory segmentation — the streaming sibling of
    ``relational.trajectory_segments(gap_seconds=gap_sec)``.
    A segment breaks when the step to the next point exceeds
    ``step_eps`` (exact integer squared compare) OR the time gap
    exceeds ``gap_sec`` (the finalization rule an unbounded stream
    needs: a purely spatial split could keep one segment open forever).

    Emits each segment ONCE, when it is provably final under the
    watermark discipline:

    - in-stream: segment i (not the buffer's last) is closed as soon
      as the watermark passes the NEXT segment's start — any
      still-admissible late event has ts > watermark, so nothing can
      land before that break and re-bridge it (a late point BETWEEN
      two segments could otherwise merge them);
    - timeout: the event-time timeout fires when the watermark passes
      last_ts + gap_sec, at which point every future event is
      time-gapped from the buffer — the remaining segments are final.

    State per user is the buffer of points not yet in a closed segment
    — bounded by the watermark horizon (late events re-order inside
    it), never the stream. Output rows: (user_id, seg_start, seg_end,
    n_pts) per closed segment; stream == batch asserted in
    tests/test_streaming.py."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    eps2 = int(step_eps) * int(step_eps)
    gap = int(gap_sec)

    src = events.select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("lat").cast("long").alias("lat"),
        F.col("lon").cast("long").alias("lon"),
    ).withWatermark("ts", watermark)

    def _segments(pts):
        """Split the sorted (ts, lat, lon) buffer at spatial/time breaks
        -> list of [first_idx, last_idx] inclusive ranges."""
        segs = [[0, 0]]
        for k in range(1, len(pts)):
            t0, la0, lo0 = pts[k - 1]
            t1, la1, lo1 = pts[k]
            d2 = (la1 - la0) ** 2 + (lo1 - lo0) ** 2
            if d2 > eps2 or (t1 - t0) > gap:
                segs.append([k, k])
            else:
                segs[-1][1] = k
        return segs

    def _emit(uid, pts, segs):
        return pd.DataFrame(
            {
                "user_id": [uid] * len(segs),
                "seg_start": [pd.Timestamp(pts[a][0], unit="s") for a, _ in segs],
                "seg_end": [pd.Timestamp(pts[b][0], unit="s") for _, b in segs],
                "n_pts": [b - a + 1 for a, b in segs],
            }
        )

    def fold(key, pdfs, state: GroupState):
        (uid,) = key
        if state.hasTimedOut:
            ts_l, la_l, lo_l = state.get
            state.remove()
            pts = sorted(zip(ts_l, la_l, lo_l))
            if pts:
                yield _emit(uid, pts, _segments(pts))
            return

        pdf = pd.concat(list(pdfs))
        ts = (pdf["ts"].astype("int64") // 1_000_000_000).tolist()
        la = pdf["lat"].tolist()
        lo = pdf["lon"].tolist()
        if state.exists:
            ots, ola, olo = state.get
            ts += list(ots)
            la += list(ola)
            lo += list(olo)
        pts = sorted(zip(ts, la, lo))
        if not pts:
            return
        segs = _segments(pts)

        wm_sec = state.getCurrentWatermarkMs() // 1000
        if wm_sec >= pts[-1][0] + gap:
            # the watermark already passed last + gap (a far-future
            # event in this very batch): every segment is final NOW,
            # and a timeout timestamp would be invalid (<= watermark)
            state.remove()
            yield _emit(uid, pts, segs)
            return
        closed = []
        while len(segs) > 1 and wm_sec >= pts[segs[1][0]][0]:
            closed.append(segs.pop(0))
        if closed:
            yield _emit(uid, pts, closed)
        keep_from = segs[0][0]
        rem = pts[keep_from:]
        state.update((
            [p[0] for p in rem],
            [p[1] for p in rem],
            [p[2] for p in rem],
        ))
        # finalize when the watermark passes the last point + gap: any
        # later event is then time-gapped from the whole buffer (and
        # this timestamp is > watermark by the close-all guard above)
        state.setTimeoutTimestamp((rem[-1][0] + gap) * 1000)

    return src.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=(
            "user_id long, seg_start timestamp, seg_end timestamp, n_pts long"
        ),
        stateStructType="ts array<long>, lat array<long>, lon array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stateful_speed_screen(
    events: DataFrame,
    vmax: int,
    watermark: str = "1 hour",
    idle_ttl_sec: int = 3600,
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    the streaming sibling of ``relational.speed_screen`` —
    per-user consecutive-step speed feasibility over an unbounded fix
    stream, division-free (step violates iff d² > vmax²·dt², the
    teleport/multipath GPS-cleaning rule).

    Emits one row per step ONCE, when the step is provably final
    under the watermark discipline: step (t0 → t1) is final when the
    watermark passes t1 — any still-admissible late fix has ts ≥
    watermark, so nothing can insert between t0 and t1 and change
    which fixes are consecutive (the trajectory-segments finality
    argument, applied to pairs).  Output: ``(user_id, step_ts, dt_s,
    viol, ex_str)`` — the later fix's timestamp, the whole-second
    gap, the violation flag, and the exact positive excess
    d² − vmax²·dt² as digits ('0' when feasible; python ints carry
    past int64 at full coordinate range).

    State per user = the fixes not yet in a final step (bounded by
    the watermark horizon) plus ONE anchor fix; a user idle past
    ``idle_ttl_sec`` times out — remaining steps flush and the anchor
    is forgotten (the next fix starts a new chain, the same
    forget-on-timeout contract as ``stateful_trajectory_segments``).
    Stream == batch asserted in tests/test_streaming.py."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    vb = int(vmax) * int(vmax)
    ttl = int(idle_ttl_sec)

    src = events.select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("lat").cast("long").alias("lat"),
        F.col("lon").cast("long").alias("lon"),
    ).withWatermark("ts", watermark)

    def _steps(pts, lo, hi):
        """Rows for steps (k-1, k) with lo < k <= hi (python ints)."""
        rows = {"step_ts": [], "dt_s": [], "viol": [], "ex_str": []}
        for k in range(max(lo, 1), hi + 1):
            t0, la0, lo0 = pts[k - 1]
            t1, la1, lo1 = pts[k]
            d2 = (la1 - la0) ** 2 + (lo1 - lo0) ** 2
            b2 = vb * (t1 - t0) ** 2
            rows["step_ts"].append(pd.Timestamp(t1, unit="s"))
            rows["dt_s"].append(t1 - t0)
            rows["viol"].append(1 if d2 > b2 else 0)
            rows["ex_str"].append(str(d2 - b2) if d2 > b2 else "0")
        return rows

    def _emit(uid, rows):
        n = len(rows["step_ts"])
        return pd.DataFrame({"user_id": [uid] * n, **rows})

    def fold(key, pdfs, state: GroupState):
        (uid,) = key
        if state.hasTimedOut:
            ts_l, la_l, lo_l = state.get
            state.remove()
            pts = sorted(zip(ts_l, la_l, lo_l))
            if len(pts) > 1:
                yield _emit(uid, _steps(pts, 1, len(pts) - 1))
            return

        pdf = pd.concat(list(pdfs))
        ts = (pdf["ts"].astype("int64") // 1_000_000_000).tolist()
        la = pdf["lat"].tolist()
        lo = pdf["lon"].tolist()
        if state.exists:
            ots, ola, olo = state.get
            ts += list(ots)
            la += list(ola)
            lo += list(olo)
        pts = sorted(zip(ts, la, lo))
        if not pts:
            return
        wm_sec = state.getCurrentWatermarkMs() // 1000
        # final steps: later fix STRICTLY behind the watermark. Spark
        # still admits late rows with event time == the watermark, so
        # an equal-boundary fix (same second, smaller (lat, lon) sort
        # key) could re-split an already-emitted "final" step; the
        # finality argument ("any admissible late fix has ts >= wm")
        # only holds strictly (r6, ADVICE item).
        hi = 0
        for k in range(1, len(pts)):
            if pts[k][0] < wm_sec:
                hi = k
        if hi >= 1:
            yield _emit(uid, _steps(pts, 1, hi))
        rem = pts[hi:]  # the last finalized fix anchors the next step
        state.update((
            [p[0] for p in rem],
            [p[1] for p in rem],
            [p[2] for p in rem],
        ))
        state.setTimeoutTimestamp(
            max((rem[-1][0] + ttl) * 1000, state.getCurrentWatermarkMs() + 1)
        )

    return src.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=(
            "user_id long, step_ts timestamp, dt_s long, viol long, "
            "ex_str string"
        ),
        stateStructType="ts array<long>, lat array<long>, lon array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
