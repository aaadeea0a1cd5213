"""Relational operators Spark lacks as built-ins, expressed set-based.

- ``asof_join``: for each left row, the latest right row at-or-before
  its timestamp within the same key (trade/quote style). Implemented
  with the union + last-observation-carried-forward window — one shuffle
  on (key), no range explosion, no per-group Python. (The pandas
  ``merge_asof``-in-``applyInPandas`` alternative shuffles the same data
  but pays the Arrow hop; this stays in Tungsten.)
- ``sessionize``: gap-based session ids per key (lag + conditional
  cumsum over an ordered window) — the batch analog of
  ``session_window`` in streaming.
- ``range_join``: interval-overlap join (which right intervals overlap
  each left interval, optionally per key) via bucket fan-out + a single
  equi-join — never a cartesian product, never a ``distinct``: a pair
  that shares several buckets is accepted only in its CANONICAL bucket
  (the one containing the later of the two starts), so matches are
  exactly-once by construction.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    value_cols: list[str],
    direction: str = "backward",
) -> DataFrame:
    """Left rows annotated with the most recent right values at-or-before
    (``backward``) their timestamp, per key. Right columns come back
    null when no prior right row exists.

    Tie rule: a right row at exactly the same timestamp matches.
    """
    if direction != "backward":
        raise NotImplementedError("only backward as-of implemented")
    l_tag = left.select(
        key,
        F.col(ts).alias("_ts"),
        F.lit(1).alias("_is_left"),
        F.struct(*left.columns).alias("_lrow"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in value_cols],
    )
    r_tag = right.select(
        key,
        F.col(ts).alias("_ts"),
        F.lit(0).alias("_is_left"),
        F.lit(None).cast(l_tag.schema["_lrow"].dataType).alias("_lrow"),
        *[F.col(c).alias(f"_r_{c}") for c in value_cols],
    )
    # right rows sort BEFORE left rows at equal _ts (so same-ts matches)
    u = l_tag.unionByName(r_tag)
    w = (
        Window.partitionBy(key)
        .orderBy("_ts", "_is_left")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = u.select(
        key,
        "_ts",
        "_is_left",
        "_lrow",
        *[F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"_c_{c}") for c in value_cols],
    ).filter(F.col("_is_left") == 1)
    out_cols = [F.col("_lrow." + c).alias(c) for c in left.columns]
    out_cols += [F.col(f"_c_{c}").alias(f"right_{c}") for c in value_cols]
    return carried.select(*out_cols)


def sessionize(
    events: DataFrame,
    key: str,
    ts: str,
    gap_seconds: int,
) -> DataFrame:
    """Assign a per-key session id: a new session starts when the gap to
    the previous event exceeds ``gap_seconds``. Adds ``session_id``
    (1-based per key) — deterministic given (key, ts, tiebreak by all
    original order columns is the caller's concern)."""
    w = Window.partitionBy(key).orderBy(ts)
    gap = F.col(ts).cast("long") - F.lag(F.col(ts).cast("long")).over(w)
    new_session = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    return events.withColumn(
        "session_id",
        F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def _bucket_of(col, width: int):
    """Euclidean floor division (bucket id of an int64 coordinate) — the
    shared exact-arithmetic spelling: identical to ``//`` in DuckDB and
    correct on negatives, unlike Spark's truncating DIV."""
    s = col.cast("long")
    n = F.lit(int(width)).cast("long")
    # `div` is Spark's exact int64 division (the SQL DIV operator) —
    # float `/` would silently round past 2^53
    return F.call_function("div", s - (((s % n) + n) % n), n)


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bucket_width: int,
    key: str | None = None,
    right_cols: list[str] | None = None,
) -> DataFrame:
    """Interval-overlap join: every (left, right) pair — same ``key`` if
    one is given — whose closed integer intervals
    ``[left_start, left_end]`` and ``[right_start, right_end]`` overlap
    (touching endpoints count). Returns all left columns plus the
    requested right columns (all of them by default) prefixed
    ``right_``.

    Scale shape (the classic bucketized range join — what Spark's own
    range-join HINT and DuckDB's IEJoin replace a cartesian with):

    - each side fans out map-side to the width-``bucket_width`` buckets
      its interval covers (``sequence`` + ``explode`` — no shuffle);
    - ONE hash equi-join on ``(key, bucket)`` replaces the cross
      product: only same-bucket pairs ever meet, so the join input is
      bounded by interval density per bucket, not |L|x|R|;
    - a pair overlapping across several buckets is accepted only in its
      CANONICAL bucket — the bucket containing ``greatest(l_start,
      r_start)``, which both rows of an overlapping pair always cover —
      so the output is exactly-once WITHOUT a distinct (no second
      shuffle, no wide-row dedup state);
    - the exact overlap predicate then drops same-bucket non-overlaps.

    ``bucket_width`` tunes the fan-out/selectivity trade: pick it near
    the median interval length (fan-out per row is span/width + 1;
    width >> spans degrades toward per-bucket mini cross products,
    width << spans inflates the fan-out). Intervals must satisfy
    start <= end (validated cheaply via the join predicate semantics —
    reversed intervals simply never match; callers who need loud
    rejection should assert upstream).
    """
    if bucket_width <= 0:
        raise ValueError(f"bucket_width must be positive, got {bucket_width}")
    if right_cols is None:
        right_cols = [c for c in right.columns]
    keys = [key] if key is not None else []

    l_s = F.col(left_start).cast("long")
    l_e = F.col(left_end).cast("long")
    r_s = F.col(right_start).cast("long")
    r_e = F.col(right_end).cast("long")

    lb = left.select(
        *keys,
        F.struct(*left.columns).alias("_lrow"),
        l_s.alias("_ls"),
        l_e.alias("_le"),
        F.explode(
            F.sequence(_bucket_of(l_s, bucket_width), _bucket_of(l_e, bucket_width))
        ).alias("_b"),
    )
    rb = right.select(
        *keys,
        r_s.alias("_rs"),
        r_e.alias("_re"),
        *[F.col(c).alias(f"_r_{c}") for c in right_cols],
        F.explode(
            F.sequence(_bucket_of(r_s, bucket_width), _bucket_of(r_e, bucket_width))
        ).alias("_b"),
    )
    joined = lb.join(rb, on=keys + ["_b"], how="inner")
    canonical = _bucket_of(F.greatest(F.col("_ls"), F.col("_rs")), bucket_width)
    matched = joined.filter(
        (F.col("_ls") <= F.col("_re"))
        & (F.col("_rs") <= F.col("_le"))
        & (F.col("_b") == canonical)
    )
    out_cols = [F.col("_lrow." + c).alias(c) for c in left.columns]
    out_cols += [F.col(f"_r_{c}").alias(f"right_{c}") for c in right_cols]
    return matched.select(*out_cols)


def group_trend(
    df: DataFrame,
    group_cols: list[str],
    x: str,
    y: str,
) -> DataFrame:
    """Per-group OLS linear trend — the "is this metric rising?" step of
    any monitoring/rollup pipeline (density per tile over time, volume
    per event type per window), as ONE aggregation in the exact-integer
    discipline:

        slope     = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
        intercept = (Σy·Σx² − Σx·Σxy) / (n·Σx² − (Σx)²)

    x and y must be integer columns; every moment accumulates in
    decimal(38,0) (HUGEINT in the oracle) with casts BEFORE the
    products, and each statistic is ONE shared division of two exact
    integers — so both engines emit the same doubles to ≤ 1 ulp.
    Groups with a degenerate design (n < 2 or constant x: den = 0) get
    NULL slope/intercept. Emits group_cols + n_obs, slope, intercept
    and trend_den_str (the exact denominator as digits — the integer
    pin behind the floats).

    Scale: one hash aggregation with map-side combine; state is five
    decimals per group."""
    dec = "decimal(38,0)"
    xd = F.col(x).cast(dec)
    yd = F.col(y).cast(dec)
    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast(dec).alias("_n"),
        F.sum(xd).alias("_sx"),
        F.sum(yd).alias("_sy"),
        F.sum(xd * xd).alias("_sxx"),
        F.sum(xd * yd).alias("_sxy"),
    )
    n, sx, sy, sxx, sxy = (F.col(c) for c in ("_n", "_sx", "_sy", "_sxx", "_sxy"))
    den = n * sxx - sx * sx
    return agg.select(
        *group_cols,
        F.col("_n").cast("long").alias("n_obs"),
        F.when(den != 0, (n * sxy - sx * sy).cast("double") / den.cast("double"))
        .alias("slope"),
        F.when(den != 0, (sy * sxx - sx * sxy).cast("double") / den.cast("double"))
        .alias("intercept"),
        den.cast("string").alias("trend_den_str"),
    )


def trajectory_segments(
    events: DataFrame,
    key: str,
    ts: str,
    lat: str = "lat",
    lon: str = "lon",
    step_eps: int = 1_000_000,
    min_stay_s: int = 0,
    order_cols: list[str] | None = None,
    gap_seconds: int | None = None,
) -> DataFrame:
    """Spatial trajectory segmentation — the stay-region / movement-leg
    split a mobility pipeline runs before map matching: within each
    key's time-ordered point sequence, a NEW segment starts whenever
    the step to the previous point exceeds ``step_eps`` (exact int64
    squared-distance compare — no floats, no haversine drift). Returns
    the input plus ``seg_id`` (1-based per key), ``seg_n`` (segment
    size), ``seg_duration_s`` and ``seg_stay`` (1 when the segment
    lasted >= ``min_stay_s`` — the classic stay-point criterion, as
    BIGINT for gate-dtype stability).

    Deterministic given the ordering: pass ``order_cols`` (defaults to
    [ts]) including a tiebreaker if timestamps can collide.
    ``gap_seconds`` (optional) adds the sessionize time rule: a step
    ALSO breaks when the time gap exceeds it — the combined contract
    the streaming sibling (``streaming.incremental.
    stateful_trajectory_segments``) needs so idle trajectories
    finalize; None (default) keeps the purely spatial split.

    Scale: two windows over the same (key, order) partitioning — one
    shuffle — plus a segment-keyed window for the stats; state per
    group is O(1). The lag/cumsum shape is sessionize's with a spatial
    predicate, so batch == streaming semantics carry over the same
    way."""
    order = order_cols or [ts]
    w = Window.partitionBy(key).orderBy(*order)
    # squared deltas in decimal(38,0): raw antipodal decimicro steps
    # (dlon ~ 3.6e9) square past 2^63, where int64 would silently wrap
    # in Spark but raise in DuckDB — decimal keeps the exact compare
    # engine-identical at any coordinate range
    dec = "decimal(38,0)"
    dla = (F.col(lat) - F.lag(lat).over(w)).cast(dec)
    dlo = (F.col(lon) - F.lag(lon).over(w)).cast(dec)
    d2 = dla * dla + dlo * dlo
    brk = d2.isNull() | (d2 > F.lit(int(step_eps) * int(step_eps)).cast(dec))
    if gap_seconds is not None:
        tgap = F.col(ts).cast("long") - F.lag(F.col(ts).cast("long")).over(w)
        brk = brk | (tgap > int(gap_seconds))
    new_seg = F.when(brk, 1).otherwise(0)
    with_seg = events.withColumn(
        "seg_id",
        F.sum(new_seg).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ws = Window.partitionBy(key, "seg_id")
    dur = F.max(F.col(ts).cast("long")).over(ws) - F.min(
        F.col(ts).cast("long")
    ).over(ws)
    return (
        with_seg.withColumn("seg_n", F.count(F.lit(1)).over(ws))
        .withColumn("seg_duration_s", dur)
        .withColumn(
            "seg_stay",
            F.when(dur >= min_stay_s, 1).otherwise(0).cast("long"),
        )
    )


def scd2_intervals(
    df: DataFrame,
    key_cols: list[str],
    ts: str,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type-2 intervals — the temporal-table
    primitive a replication consumer builds from a version history
    (the reference's element version chains, osm.rs:26: every diff row
    is a new revision of its (type, id) key): each key's time-ordered
    revisions become half-open validity intervals
    ``[valid_from_s, valid_to_s)`` with exactly one open (current)
    version per key. Returns the input plus

    - ``scd_version``   1-based revision number within the key,
    - ``valid_from_s``  the revision's own epoch second,
    - ``valid_to_s``    the NEXT revision's epoch second — NULL on the
                        current version, so intervals tile the key's
                        history with no gaps and no overlaps by
                        construction,
    - ``is_current``    1 on the open version else 0 (BIGINT for
                        gate-dtype stability).

    Point-in-time reads become ``valid_from_s <= t AND (valid_to_s IS
    NULL OR t < valid_to_s)``; the as-of join over the result needs no
    window at read time.

    Deterministic given the ordering: pass ``order_cols`` (defaults to
    ``[ts]``) including a tiebreaker if timestamps can collide — two
    revisions at the same instant would otherwise order
    nondeterministically and swap their (degenerate, zero-length)
    intervals between runs.

    Scale: one window over the (key, order) partitioning — a single
    shuffle, O(1) state per key; both ``row_number`` and ``lead`` ride
    the same sort, so Catalyst plans one Window node."""
    order = order_cols or [ts]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    nxt = F.lead(F.col(ts).cast("long")).over(w)
    return (
        df.withColumn("scd_version", F.row_number().over(w).cast("long"))
        .withColumn("valid_from_s", F.col(ts).cast("long"))
        .withColumn("valid_to_s", nxt)
        .withColumn(
            "is_current",
            F.when(nxt.isNull(), 1).otherwise(0).cast("long"),
        )
    )


_FUNNEL_NEG = -(1 << 62)


def funnel_levels(
    df: DataFrame,
    steps: list[str],
    horizon_s: int,
    user: str = "user_id",
    ts: str = "ts",
    etype: str = "event_type",
    order_id: str = "event_id",
) -> DataFrame:
    """Window funnel (ClickHouse ``windowFunnel`` semantics) — the
    product-analytics conversion primitive: per user, the deepest
    prefix of the ``steps`` event-type chain that occurs in order
    within ``horizon_s`` seconds OF THE CHAIN'S FIRST STEP. Returns
    ``(user, funnel_level, funnel_start_us)`` — level K users also
    carry the chain-start time of the latest complete chain; users
    with no step-1 event get level 0.

    Exact-integer DP as ONE aggregation: per user, the step events
    collect into a (ts_us, order_id, step)-sorted array and a single
    ``F.aggregate`` fold carries K longs — acc[k] = the LATEST
    possible chain-start among chains reaching step k (latest start
    dominates: the only future constraint is t − start ≤ horizon, so
    no other chain can extend where the latest-start one cannot).
    Event times are unix MICROSECONDS (exact int64); the total order
    (ts, order_id) makes equal-timestamp runs deterministic and
    engine-identical, and a chain may not reuse one event for two
    steps (step types must be distinct — validated). The oracle twin
    can verify with a genuinely different algorithm (brute
    exists-joins over the same total order).

    Scale: one hash aggregation on ``user`` with map-side combine of
    the collected lists; per-user state = that user's STEP events
    only (the same carry any sessionization holds), the fold itself
    is O(events × K) with zero extra shuffles, no window, no Python.
    Hot users are bounded by their own event counts, not the table.
    """
    if len(set(steps)) != len(steps) or len(steps) < 2:
        raise ValueError(f"steps must be >= 2 distinct event types: {steps}")
    if horizon_s <= 0:
        raise ValueError(f"horizon_s must be positive: {horizon_s}")
    k_n = len(steps)
    neg = F.lit(_FUNNEL_NEG).cast("long")
    h_us = F.lit(horizon_s * 1_000_000).cast("long")
    j = F.when(F.col(etype) == steps[0], 1)
    for i, s in enumerate(steps[1:], start=2):
        j = j.when(F.col(etype) == s, i)
    ev = df.select(
        F.col(user).alias("user"),
        # cast: parquet NTZ timestamps read as TIMESTAMP_NTZ, which
        # unix_micros rejects; the session pins UTC so the cast is a
        # relabel, matching the oracle's epoch_us on naive timestamps
        F.unix_micros(F.col(ts).cast("timestamp")).alias("t"),
        F.col(order_id).alias("oid"),
        j.alias("j"),
    ).filter(F.col("j").isNotNull())

    def fold(acc, e):
        out = []
        for k in range(1, k_n + 1):
            cur = F.element_at(acc, k)
            if k == 1:
                out.append(
                    F.when(e["j"] == 1, F.greatest(cur, e["t"])).otherwise(cur)
                )
            else:
                prev = F.element_at(acc, k - 1)
                ok = (e["j"] == k) & (prev > neg) & (e["t"] - prev <= h_us)
                out.append(F.when(ok, F.greatest(cur, prev)).otherwise(cur))
        return F.array(*out)

    lst = F.array_sort(F.collect_list(F.struct(F.col("t"), F.col("oid"), F.col("j"))))
    per_user = ev.groupBy("user").agg(lst.alias("_l"))
    acc = F.aggregate(
        F.col("_l"), F.array(*[neg for _ in range(k_n)]), fold
    )
    return per_user.select(
        "user",
        F.size(F.filter(acc, lambda v: v > neg)).cast("long").alias("funnel_level"),
        F.when(
            F.element_at(acc, k_n) > neg, F.element_at(acc, k_n)
        ).alias("funnel_start_us"),
    )


def cohort_retention(
    df: DataFrame,
    period_s: int,
    user: str = "user_id",
    ts: str = "ts",
) -> DataFrame:
    """Cohort retention matrix — the third leg of the event-analytics
    trio (sessionize, funnel, retention): users cohort by the period
    of their FIRST event, and each matrix cell counts how many of a
    cohort's users were active ``offset_p`` periods later.

    Returns ``(cohort_p, offset_p, n_users)`` with ``cohort_p`` the
    cohort's absolute period index (``epoch_seconds DIV period_s`` —
    truncating int division == floor on the positive epochs this
    engine's timestamps live in, so Spark ``DIV`` and SQL ``//`` agree
    bit-for-bit), ``offset_p >= 0``, and cells with zero active users
    absent (a dense matrix is the caller's generate_series join).

    Shape: one (user, period) distinct + one per-user min aggregation
    + one matrix aggregation — all hash aggs with map-side combine,
    all exact integers. No window, no Python, no per-user state beyond
    the distinct's own key.

    Scale: the (user, period) distinct is the heavy step and is
    bounded by ACTIVITY (one row per user-period, not per event);
    cohort skew (one giant launch-day cohort) lands on distinct
    (cohort, offset) reducer keys, never one hot key."""
    if period_s <= 0:
        raise ValueError(f"period_s must be positive: {period_s}")
    base = df.select(
        F.col(user).alias("user"),
        # double cast: parquet NTZ timestamps reject a direct LONG
        # cast; the session pins UTC so TIMESTAMP is a relabel
        F.col(ts).cast("timestamp").cast("long").alias("_e"),
    ).select("user", F.expr(f"_e DIV {period_s}").alias("p"))
    first = base.groupBy("user").agg(F.min("p").alias("cohort_p"))
    act = (
        base.distinct()
        .join(first, "user")
        .select("cohort_p", (F.col("p") - F.col("cohort_p")).alias("offset_p"))
    )
    return act.groupBy("cohort_p", "offset_p").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


def pareto_frontier(
    df: DataFrame,
    x: str,
    y: str,
    bucket_width: int,
    out: str = "sky",
) -> DataFrame:
    """2-D Pareto frontier (skyline) flag — the multi-objective
    selection primitive ("best documents by quality AND brevity",
    "south-west frontier of a point cloud"): ``out`` = 1 iff no other
    row DOMINATES this one, where q dominates p iff ``q.x <= p.x AND
    q.y <= p.y`` with at least one strict (both MINIMIZED; negate a
    column to maximize it). Exact duplicates dominate nothing, so tied
    frontier points all keep the flag — deterministic, order-free,
    exact int64 throughout.

    The naive skyline is an O(n²) NOT-EXISTS anti-join (the oracle
    shape). The distributed form is the grid-partitioned skyline:

    - rows bucket by ``x DIV bucket_width`` (Euclidean floor division
      — monotone, so every row of an earlier bucket has strictly
      smaller x);
    - WITHIN a bucket, domination splits exactly into "strictly
      smaller x" (a running ``min(y)`` over a RANGE frame ending at
      x−1) and "equal x, strictly smaller y" (a per-(bucket, x) min)
      — two window passes over one (bucket, x) sort;
    - ACROSS buckets, the only fact needed from all earlier buckets is
      their min(y) (their x is strictly smaller by construction), so a
      per-bucket min aggregate + a prefix-min over the BUCKET frame
      (cells-width — one row per occupied bucket, the quadtree-carry
      convention) joins back as the carry.

    dominated  ⇔  carry_min <= y  ∨  min_{x'<x, same bucket}(y') <= y
                  ∨  min_{x'=x}(y') < y

    Scale: one (bucket)-keyed window sort over the facts + one
    cells-width prefix window + one broadcast-sized carry join; no
    loop, no Python, no O(n²) anywhere. ``bucket_width`` trades carry
    size against per-bucket window width — any positive value is
    CORRECT (the flag is bucket-invariant; tested), it only moves
    work between the window and the carry."""
    if bucket_width <= 0:
        raise ValueError(f"bucket_width must be positive: {bucket_width}")
    xs = F.col(x).cast("long")
    ys = F.col(y).cast("long")
    base = df.withColumn("_bx", _bucket_of(xs, bucket_width))
    w_lt = (
        Window.partitionBy("_bx")
        .orderBy(xs)
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_eq = Window.partitionBy("_bx", xs)
    bmin = base.groupBy("_bx").agg(F.min(ys).alias("_bm"))
    w_carry = Window.orderBy("_bx").rowsBetween(Window.unboundedPreceding, -1)
    carry = bmin.select("_bx", F.min("_bm").over(w_carry).alias("_cm"))
    dominated = (
        (F.col("_cm") <= ys)
        | (F.min(ys).over(w_lt) <= ys)
        | (F.min(ys).over(w_eq) < ys)
    )
    return (
        base.join(carry, "_bx", "left")
        .withColumn(out, F.when(dominated, 0).otherwise(1).cast("long"))
        .drop("_bx", "_cm")
    )


def mann_kendall(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    v: str = "v",
    id_col: str = "event_id",
) -> DataFrame:
    """Mann-Kendall trend test per key — the standard nonparametric
    "is this series monotonically trending?" statistic (hydrology /
    emerging-hotspot / metric-drift screening), exact-integer end to
    end:

        S = Σ_{i<j} sign(vⱼ − vᵢ)   over the (ts, id) time order
        Var·18 = n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5)
        Z = (S ∓ 1) / sqrt(Var18/18)   (0 at S=0, NULL at Var18=0)

    Emits (key, mk_n, mk_s, mk_var18_str, mk_z): S and Var18 are exact
    (Var18 in decimal(38,0) — n³ passes int64 near n≈2M), Z is two
    casts + divide + sqrt + divide spelled identically in the SQL twin.

    Plan: ONE (key)-keyed collect agg; S folds over the time-ordered
    value array as a nested higher-order aggregate — per-key state
    O(n), compute O(n²) INSIDE the executor with no pair shuffle (the
    bounded-series contract, same as funnel_levels' accumulator); the
    tie correction is a relational (key, v) count + per-key agg on the
    same shuffle key. Keys with one row get S=0, Var18=0, Z NULL."""
    dec = "decimal(38,0)"
    per = df.groupBy(key).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(ts).alias("t"),
                    F.col(id_col).alias("i"),
                    F.col(v).cast("long").alias("x"),
                )
            )
        ).alias("_a"),
        F.count(F.lit(1)).cast(dec).alias("_n"),
    )
    s_expr = """
      CASE WHEN size(_va) >= 2 THEN aggregate(
        sequence(1, size(_va) - 1), 0L,
        (acc, i) -> acc + aggregate(
          slice(_va, i + 1, size(_va) - i), 0L,
          (a2, x) -> a2 + CASE WHEN x > element_at(_va, i) THEN 1L
                               WHEN x < element_at(_va, i) THEN -1L
                               ELSE 0L END))
      ELSE 0L END
    """
    ties = (
        df.groupBy(key, v)
        .agg(F.count(F.lit(1)).cast(dec).alias("_t"))
        .groupBy(key)
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("_t") > 1,
                        F.col("_t") * (F.col("_t") - 1) * (2 * F.col("_t") + 5),
                    )
                ),
                F.lit(0).cast(dec),
            ).cast(dec).alias("_tie")
        )
    )
    n = F.col("_n")
    var18 = (n * (n - 1) * (2 * n + 5) - F.col("_tie")).cast(dec)
    sc = F.col("mk_s").cast("double")
    zden = F.sqrt(F.col("_v18").cast("double") / F.lit(18.0))
    return (
        per.withColumn("_va", F.expr("transform(_a, s -> s.x)"))
        .withColumn("mk_s", F.expr(s_expr))
        .join(ties, key)
        .withColumn("_v18", var18)
        .select(
            key,
            n.cast("long").alias("mk_n"),
            F.col("mk_s").alias("mk_s"),
            F.col("_v18").cast("string").alias("mk_var18_str"),
            F.when(F.col("_v18") == 0, F.lit(None).cast("double"))
            .when(F.col("mk_s") > 0, (sc - 1) / zden)
            .when(F.col("mk_s") < 0, (sc + 1) / zden)
            .otherwise(F.lit(0.0))
            .alias("mk_z"),
        )
    )


def robust_outliers(
    df: DataFrame,
    key: str,
    value: str,
    k: int = 3,
    tiebreak: str | None = None,
) -> DataFrame:
    """Exact per-group median / MAD robust outlier flagging — the
    monitoring screen that survives the heavy tails a mean/stddev
    z-score drowns in (Hampel filter / robust z-score family; the
    0.6745 consistency constant is irrational and dropped, so ``k``
    compares |x − median| directly against k·MAD). Everything stays
    EXACT integer by carrying doubled medians:

        med2  = x_(k1) + x_(k2)          k1 = (n+1)//2, k2 = n//2 + 1
        d2_i  = |2·x_i − med2|           (= 2·|x_i − median|)
        mad22 = d2_(k1) + d2_(k2)        (= 4·MAD)
        outlier iff 2·d2_i > k·mad22     (⇔ |x−med| > k·MAD)

    Each midrank is picked by two conditional window sums (rn == k1,
    rn == k2), so odd groups count their single middle value twice and
    no division ever happens; the flag test is cross-multiplied. A
    singleton group has d2 = mad22 = 0 — never an outlier. A group
    where >= half the values equal the median has MAD 0, flagging
    every value off the median: that is the documented Hampel-filter
    edge, not a bug (callers wanting slack add it to k).

    Emits per ROW: rz_med2, rz_mad22 (group constants), rz_d2 and
    rz_out (0/1). Plan: two sorts over ONE hash partitioning of the
    group key (rank by value, then rank by deviation) — the same
    single narrow shuffle class as sessionize; no join, no Python."""
    if k < 0:
        raise ValueError(f"k must be >= 0: {k}")
    tb = [tiebreak] if tiebreak else []
    grp = Window.partitionBy(key)
    w1 = grp.orderBy(value, *tb)
    x = F.col(value).cast("long")
    n = F.count(F.lit(1)).over(grp)
    rn = F.row_number().over(w1)
    # midranks as EXACT longs (Spark's / is float division: truncate-
    # cast after the halving reproduces // for these positive counts)
    _k1 = ((F.col("_rz_n") + 1) / 2).cast("long")
    _k2 = (F.col("_rz_n") / 2).cast("long") + 1
    with_med = (
        df.withColumn("_rz_rn", rn)
        .withColumn("_rz_n", n)
        .withColumn(
            "rz_med2",
            F.sum(F.when(F.col("_rz_rn") == _k1, x)).over(grp)
            + F.sum(F.when(F.col("_rz_rn") == _k2, x)).over(grp),
        )
        .withColumn("rz_d2", F.abs(2 * x - F.col("rz_med2")))
    )
    w2 = grp.orderBy("rz_d2", value, *tb)
    rn2 = F.row_number().over(w2)
    d2 = F.col("rz_d2")
    return (
        with_med.withColumn("_rz_rn2", rn2)
        .withColumn(
            "rz_mad22",
            F.sum(F.when(F.col("_rz_rn2") == _k1, d2)).over(grp)
            + F.sum(F.when(F.col("_rz_rn2") == _k2, d2)).over(grp),
        )
        .withColumn(
            "rz_out",
            (2 * d2 > F.lit(int(k)) * F.col("rz_mad22")).cast("long"),
        )
        .drop("_rz_rn", "_rz_rn2", "_rz_n")
    )


def isotonic_fit(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    v: str = "v",
    id_col: str = "event_id",
    max_n: int = 12,
) -> DataFrame:
    """Isotonic regression per key (PAVA, the pool-adjacent-violators
    algorithm) — THE score-calibration primitive: the least-squares
    NON-DECREASING fit to a noisy series (calibrating a quality score
    against downstream outcomes, enforcing monotone rate curves).
    Restricted to each key's first ``max_n`` points in (ts, id) order —
    the bounded-trajectory contract hmm_map_match uses, and what makes
    the oracle's O(n³) brute minimax affordable.

    Cross-engine exactness via the SCALED-FLOOR pin: every candidate
    fitted value is a block average sum/len with len <= n, so two
    DISTINCT candidates differ by >= 1/n²; with S = 2n² the map
    q = floor(S·sum / len) is strictly order-preserving on the
    candidate set (equal stays equal, and a gap of >= 1/n² becomes a
    scaled gap of >= 2, which survives the floor).  Order-preserving
    maps commute with max/min, so

        fitq_i = floor(S · PAVA_fit_i)
               = max_{j<=i} min_{k>=i} floor(S·sum(y[j..k]) / (k-j+1))

    — the LEFT side is what the numpy PAVA stack emits, the RIGHT side
    is the textbook minimax characterization the DuckDB twin brute-
    forces: two genuinely different algorithms, one exact integer
    answer per row.  Emits (id, <key>, iso_n, iso_fitq).

    Plan: ONE (key)-keyed sort-collect agg (the mann_kendall shuffle
    class), a single Arrow-batched UDF over the bounded arrays, one
    posexplode back to rows."""
    from pyspark.sql import Window as W

    @F.pandas_udf("array<long>")
    def _pava(arrs: pd.Series) -> pd.Series:
        out = []
        for a in arrs:
            y = [int(x) for x in a]
            n = len(y)
            S = 2 * n * n
            stack: list[tuple[int, int]] = []  # (sum, len) blocks
            for val in y:
                s, ln = val, 1
                # merge while previous block average >= current's
                # (exact cross-multiplied compare; merging equal
                # averages leaves the fitted values unchanged)
                while stack and stack[-1][0] * ln >= s * stack[-1][1]:
                    ps, pl = stack.pop()
                    s += ps
                    ln += pl
                stack.append((s, ln))
            fit: list[int] = []
            for s, ln in stack:
                fit.extend([(S * s) // ln] * ln)
            out.append(fit)
        return pd.Series(out)

    w = W.partitionBy(key).orderBy(ts, id_col)
    base = (
        df.select(key, ts, id_col, F.col(v).cast("long").alias("_y"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_n)
    )
    per = base.groupBy(key).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(ts).alias("t"),
                    F.col(id_col).alias("i"),
                    F.col("_y").alias("x"),
                )
            )
        ).alias("_a")
    )
    per = per.select(
        key,
        F.col("_a.i").alias("_ids"),
        _pava(F.col("_a.x")).alias("_fit"),
        F.size("_a").alias("iso_n"),
    )
    return per.select(
        key,
        "iso_n",
        F.explode(F.arrays_zip("_ids", "_fit")).alias("_z"),
    ).select(
        F.col("_z._ids").alias(id_col),
        F.col(key),
        "iso_n",
        F.col("_z._fit").alias("iso_fitq"),
    )


#: Allen census column order (the 13 relations folded to 7 by
#: classifying the unordered pair from its lexicographically-earlier
#: (s, e) member)
ALLEN_COLS = (
    "al_prec", "al_meets", "al_over", "al_starts", "al_during",
    "al_fin", "al_eq",
)


def allen_census(
    intervals: DataFrame,
    key_cols: Sequence[str],
    item: str,
    s: str = "s",
    e: str = "e",
) -> DataFrame:
    """Allen interval-relations census (Allen '83 — the temporal-join
    algebra): for every unordered pair of items within a key, classify
    the pair into one of the SEVEN canonical relations (the 13 fold
    pairwise into 7 once the pair is anchored at its
    lexicographically-earlier (s, e) member A):

        equals   s_A=s_B ∧ e_A=e_B      starts   s_A=s_B ∧ e_A<e_B
        precedes e_A< s_B               meets    e_A=s_B
        during   s_A<s_B ∧ e_B<e_A      finishes s_A<s_B ∧ e_B=e_A
        overlaps otherwise (s_A<s_B<=e_A<e_B)

    — disjoint and exhaustive for integer endpoints, so the census is
    exact and engine-independent.  This is what a temporal-consistency
    screen runs over entity validity intervals ("no two versions of X
    may overlap"), session/type co-occurrence profiles, and
    label-span QA.

    Emits one row per key with the 7 counts (ALLEN_COLS order).
    Plan: ONE self equi-join on the key (pairs bounded by
    items-per-key², the bounded-group contract), one hash census agg —
    no window, no Python."""
    g = list(key_cols)
    base = intervals.select(
        *g,
        F.col(item).alias("_it"),
        F.col(s).cast("long").alias("_s"),
        F.col(e).cast("long").alias("_e"),
    )
    a = base.select(*g, *[F.col(c).alias(f"{c}_a") for c in ("_it", "_s", "_e")])
    b = base.select(*g, *[F.col(c).alias(f"{c}_b") for c in ("_it", "_s", "_e")])
    pairs = a.join(b, g).filter(F.col("_it_a") < F.col("_it_b"))
    # anchor A = lexicographically earlier (s, e)
    swap = (F.col("_s_b") < F.col("_s_a")) | (
        (F.col("_s_b") == F.col("_s_a")) & (F.col("_e_b") < F.col("_e_a"))
    )
    sa = F.when(swap, F.col("_s_b")).otherwise(F.col("_s_a"))
    ea = F.when(swap, F.col("_e_b")).otherwise(F.col("_e_a"))
    sb = F.when(swap, F.col("_s_a")).otherwise(F.col("_s_b"))
    eb = F.when(swap, F.col("_e_a")).otherwise(F.col("_e_b"))
    rel = (
        F.when((sa == sb) & (ea == eb), F.lit("al_eq"))
        .when(sa == sb, F.lit("al_starts"))
        .when(ea < sb, F.lit("al_prec"))
        .when(ea == sb, F.lit("al_meets"))
        .when(eb < ea, F.lit("al_during"))
        .when(eb == ea, F.lit("al_fin"))
        .otherwise(F.lit("al_over"))
    )
    tagged = pairs.select(*g, rel.alias("_rel"))
    return tagged.groupBy(*g).agg(
        *[
            F.coalesce(F.sum(F.when(F.col("_rel") == c, 1)), F.lit(0))
            .cast("long")
            .alias(c)
            for c in ALLEN_COLS
        ]
    )


def cusum_changepoint(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    v: str,
) -> DataFrame:
    """CUSUM changepoint screen (Page '54 / the at-most-one-changepoint
    mean-shift statistic) per key, exact-integer.  Over the ordered
    values v_1..v_n the classic centered CUSUM is
    C_k = S_k − (k/n)·S_n (S_k = prefix sum); to stay
    division-free and engine-exact we carry the n-SCALED statistic

        D_k = n·S_k − k·S_n  ( = n·C_k )

    so the changepoint estimate is argmax_k |D_k| over the interior
    split points k = 1..n−1 (ties → smallest k, the earliest
    candidate).  The screen is the standard level-shift detector for
    drifting sensors / regime changes in per-entity event streams —
    a large max |D_k| concentrated at one k flags a mean shift there.

    Emits one row per key: ``cp_n`` (sequence length), ``cp_stat``
    (max |D_k|, 0 when n < 2), ``cp_pos`` (the argmax k, null when
    n < 2), ``cp_sign`` (sign of D at the argmax: +1 = the prefix
    runs ABOVE the global mean, −1 below, 0 never occurs at a strict
    max unless the series is constant — then stat = 0 and pos = 1).

    Plan: ONE (key, order) window for the prefix sum (shuffle shared
    with any sibling per-key window fold) + one hash argmax agg via
    max(struct) — no self-join, no Python, O(1) state per row.

    Scale: |D_k| ≤ n·|S_n| — int64-safe while n·Σ|v| < 2^63 (2e18);
    callers with larger groups cast the two products to decimal."""
    g = list(keys)
    w = Window.partitionBy(*g).orderBy(*[F.col(c) for c in order_cols])
    pref = df.select(
        *g,
        F.col(v).cast("long").alias("_v"),
        F.row_number().over(w).alias("_k"),
        F.sum(F.col(v).cast("long")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("_sk"),
    )
    tot = pref.groupBy(*g).agg(
        F.count(F.lit(1)).cast("long").alias("cp_n"),
        F.sum("_v").cast("long").alias("_sn"),
    )
    d = (
        pref.join(tot, g)
        .filter((F.col("_k") < F.col("cp_n")) & (F.col("cp_n") >= 2))
        .select(
            *g,
            "cp_n",
            "_k",
            (F.col("cp_n") * F.col("_sk") - F.col("_k") * F.col("_sn")).alias(
                "_d"
            ),
        )
    )
    best = (
        d.select(
            *g,
            "cp_n",
            F.struct(
                F.abs(F.col("_d")).alias("a"),
                (-F.col("_k")).alias("nk"),
                F.signum(F.col("_d")).cast("long").alias("sg"),
            ).alias("_c"),
        )
        .groupBy(*g, "cp_n")
        .agg(F.max("_c").alias("_m"))
        .select(
            *g,
            "cp_n",
            F.col("_m.a").cast("long").alias("cp_stat"),
            (-F.col("_m.nk")).cast("long").alias("cp_pos"),
            F.col("_m.sg").alias("cp_sign"),
        )
    )
    short = (
        tot.filter(F.col("cp_n") < 2)
        .select(
            *g,
            "cp_n",
            F.lit(0).cast("long").alias("cp_stat"),
            F.lit(None).cast("long").alias("cp_pos"),
            F.lit(0).cast("long").alias("cp_sign"),
        )
    )
    return best.unionByName(short)


def speed_screen(
    events: DataFrame,
    key: str,
    ts: str,
    lat: str = "lat",
    lon: str = "lon",
    vmax: int = 100_000,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Trajectory speed-feasibility screen — the GPS-cleaning primitive
    run before map matching / stay detection: a consecutive step whose
    implied speed exceeds ``vmax`` (decimicro per SECOND, planar) is
    physically impossible (teleport / multipath jump) and flags the
    fix for removal.  Division-free and exact: step k violates iff

        d² > vmax² · dt²     (d² = dx² + dy², dt in whole seconds)

    — a pure integer compare carried in decimal(38,0) (dx can reach
    3.6e9 decimicro, so d² overflows int64 by design; HUGEINT on the
    DuckDB side).  A zero-dt step with any displacement violates
    automatically (rhs 0), the classic duplicate-timestamp teleport.

    Emits one row per key: ``sp_steps`` (consecutive pairs),
    ``sp_viol`` (violating steps), and ``sp_ex_str`` (Σ of the
    positive excess d² − vmax²·dt² over violating steps, exact digits
    as a string — pins the violation magnitudes, not just the count).

    Plan: ONE (key, order) lag window (the shuffle every sibling
    trajectory fold shares) + one hash agg; O(1) state per row."""
    order_cols = order_cols or [ts]
    w = Window.partitionBy(key).orderBy(*[F.col(c) for c in order_cols])
    dec = "decimal(38,0)"
    dx = (F.col(lon) - F.lag(lon).over(w)).cast(dec)
    dy = (F.col(lat) - F.lag(lat).over(w)).cast(dec)
    dt = (
        F.col(ts).cast("long") - F.lag(F.col(ts).cast("long")).over(w)
    ).cast(dec)
    stepped = events.select(
        F.col(key),
        (dx * dx + dy * dy).alias("_d2"),
        (F.lit(vmax).cast(dec) * F.lit(vmax).cast(dec) * dt * dt).alias("_b2"),
    )
    ex = F.when(F.col("_d2") > F.col("_b2"), F.col("_d2") - F.col("_b2"))
    return stepped.groupBy(key).agg(
        F.count("_d2").cast("long").alias("sp_steps"),
        F.coalesce(
            F.sum(F.when(F.col("_d2") > F.col("_b2"), 1)), F.lit(0)
        )
        .cast("long")
        .alias("sp_viol"),
        F.coalesce(F.sum(ex), F.lit(0).cast(dec))
        .cast(dec)
        .cast("string")
        .alias("sp_ex_str"),
    )


def theil_sen(
    df: DataFrame,
    key: str,
    x: str,
    y: str,
    order_cols: Sequence[str],
    max_n: int = 12,
) -> DataFrame:
    """Theil–Sen robust slope per key — the median of all pairwise
    slopes (y_j − y_i)/(x_j − x_i), the classic outlier-resistant
    trend estimator (up to ~29% contamination) next to OLS
    (``group_trend``) and Mann-Kendall — kept EXACT: slopes are
    rationals, the median is selected under exact cross-multiplied
    comparison (denominators positive by construction), and the
    result is emitted as CANONICAL reduced digits ``ts_num_str /
    ts_den_str`` (gcd-reduced, den > 0; even pair-counts average the
    two middle rationals exactly).  Vertical pairs (Δx = 0, possible
    under timestamp ties) are skipped, the standard Theil-Sen rule.

    Only the first ``max_n`` rows per key enter (the ``isotonic_fit``
    cap discipline): pair count is then ≤ max_n(max_n−1)/2 and the
    kernel is O(max_n²) per key with NO pair shuffle.  Keys with no
    valid pair emit ``ts_m = 0`` and null digit strings.

    Emits (key, ts_m, ts_num_str, ts_den_str).  Plan: one (key,
    order) row_number window + one applyInPandas over the capped
    rows — per-key state is the ≤ max_n point buffer."""
    from fractions import Fraction

    import pandas as pd

    w = Window.partitionBy(key).orderBy(*[F.col(c) for c in order_cols])
    capped = (
        df.select(
            F.col(key),
            F.col(x).cast("long").alias("_x"),
            F.col(y).cast("long").alias("_y"),
            F.row_number().over(w).alias("_rn"),
        )
        .filter(F.col("_rn") <= max_n)
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        kv = pdf[key].iloc[0]
        pts = sorted(zip(pdf["_rn"], pdf["_x"], pdf["_y"]))
        slopes = []
        for a in range(len(pts)):
            for b in range(a + 1, len(pts)):
                dx = int(pts[b][1]) - int(pts[a][1])
                if dx != 0:
                    slopes.append(Fraction(int(pts[b][2]) - int(pts[a][2]), dx))
        m = len(slopes)
        if m == 0:
            return pd.DataFrame(
                {key: [kv], "ts_m": [0], "ts_num_str": [None],
                 "ts_den_str": [None]}
            )
        slopes.sort()
        if m % 2 == 1:
            med = slopes[m // 2]
        else:
            med = (slopes[m // 2 - 1] + slopes[m // 2]) / 2
        return pd.DataFrame(
            {
                key: [kv],
                "ts_m": [m],
                "ts_num_str": [str(med.numerator)],
                "ts_den_str": [str(med.denominator)],
            }
        )

    out_schema = (
        f"{key} {dict(df.dtypes)[key]}, ts_m long, "
        "ts_num_str string, ts_den_str string"
    )
    return capped.groupBy(key).applyInPandas(kernel, out_schema)


def k_anonymity_census(
    df: DataFrame,
    qi_cols: Sequence[str],
    sensitive: str,
    k_threshold: int = 5,
) -> DataFrame:
    """k-anonymity / l-diversity census — the privacy-governance
    screen a dataset release runs over its quasi-identifier columns
    (Sweeney '02 / Machanavajjhala '07): rows grouped by the QI tuple
    form equivalence classes; the dataset is k-anonymous for k = the
    smallest class and l-diverse for l = the smallest per-class count
    of distinct ``sensitive`` values.  Emits ONE summary row:

    - ``ka_classes``  — number of QI equivalence classes,
    - ``ka_min``      — the k (smallest class size),
    - ``ka_sup``      — rows in classes below ``k_threshold`` (what a
      release at that threshold would suppress),
    - ``ka_sum2_str`` — Σ n² as exact digits (the re-identification
      collision mass: the expected class size of a random row is
      Σn²/N),
    - ``ld_min``      — the l (min distinct sensitive values/class).

    Plan: ONE hash agg on the QI tuple (map-side combine) + one
    single-row agg; the distinct-count rides the same shuffle.  Scale:
    state is one row per QI class, never per input row; a skewed QI
    class is a single accumulating counter."""
    dec = "decimal(38,0)"
    cls = df.groupBy(*list(qi_cols)).agg(
        F.count(F.lit(1)).alias("_n"),
        F.countDistinct(sensitive).alias("_l"),
    )
    return cls.agg(
        F.count(F.lit(1)).cast("long").alias("ka_classes"),
        F.min("_n").cast("long").alias("ka_min"),
        F.coalesce(
            F.sum(F.when(F.col("_n") < k_threshold, F.col("_n"))), F.lit(0)
        )
        .cast("long")
        .alias("ka_sup"),
        F.sum(F.col("_n").cast(dec) * F.col("_n").cast(dec))
        .cast(dec)
        .cast("string")
        .alias("ka_sum2_str"),
        F.min("_l").cast("long").alias("ld_min"),
    )


def seasonal_decompose(
    counts: DataFrame,
    t: str = "t",
    v: str = "n",
    period: int = 24,
) -> tuple[DataFrame, DataFrame]:
    """Classical additive seasonal decomposition (the centered-moving-
    average ancestor of STL) over an evenly-binned series, EXACT:
    for an even ``period`` p the trend at bin t is the 2×p-weighted
    centered window

        trend_scaled(t) = v[t-p/2] + 2·(v[t-p/2+1..t+p/2-1]) + v[t+p/2]
                        ( = 2p · the classic centered MA )

    carried as the SCALED integer (denominator 2p, never divided), the
    seasonal component of phase q is the mean of the scaled detrended
    values over the phase's interior occurrences

        s_num(q) = Σ_t≡q (2p·v[t] − trend_scaled(t)),  s_den(q) = 2p·m_q

    (exact integer pair; interior = bins with a full window), and the
    caller pins remainders from the same integers.  Returns
    ``(trend, seasonal)``: trend = (t, v, trend_scaled | null at the
    p/2-bin edges), seasonal = (phase, m, s_num, s_den).

    Plan: the series is BIN-domain sized (counts per bin, never
    events), so the single-partition centered window is the roc_auc
    distinct-table shape — it orders bins, not facts; the phase agg is
    an ordinary hash agg."""
    if period % 2 != 0 or period < 2:
        raise ValueError(f"period must be even and >= 2, got {period}")
    half = period // 2
    w = Window.orderBy(t).rowsBetween(-half, half)
    wn = Window.orderBy(t).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    vv = F.col(v).cast("long")
    # a ROWS window is only the centered BIN window when the series is
    # dense; on a series with missing bins the p+1 rows span a wider t
    # range and the trend would silently be wrong (r6, ADVICE item).
    # Guard per window — rows == bins locally iff the spanned t range
    # is exactly `period` — so sparse neighborhoods emit NULL trend
    # (and drop from the seasonal means) instead of a wrong value;
    # dense series are bit-identical. Pure expression, no extra action.
    tl = F.col(t).cast("long")
    full = (F.count(F.lit(1)).over(w) == period + 1) & (
        F.last(tl).over(w) - F.first(tl).over(w) == period
    )
    tsc = (
        F.sum(vv * 2).over(w)
        - F.first(vv).over(w)
        - F.last(vv).over(w)
    )
    trend = counts.select(
        F.col(t).cast("long").alias(t),
        vv.alias(v),
        F.when(full, tsc).cast("long").alias("trend_scaled"),
    )
    seasonal = (
        trend.filter(F.col("trend_scaled").isNotNull())
        .groupBy((F.col(t) % period).alias("phase"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("m"),
            F.sum(
                F.lit(2 * period) * F.col(v) - F.col("trend_scaled")
            ).cast("long").alias("s_num"),
        )
        .select(
            "phase",
            "m",
            "s_num",
            (F.lit(2 * period) * F.col("m")).cast("long").alias("s_den"),
        )
    )
    _ = wn  # single-partition by design; documented above
    return trend, seasonal
