"""HMM map matching (Viterbi): snap a trajectory to way segments
JOINTLY, not point-by-point — the classic fix for independent nearest-
segment snapping's zig-zag between parallel roads (Newson & Krumm,
ACM GIS'09 — public).  The reference resolves way chains
(/root/reference/src/osm.rs); matching GPS traces onto those chains is
the standard consumer of that store, and at image scale it is the
"assign each geo-tagged capture sequence to the road it was shot
along" step.

Model — simplified to the repo's exact-integer discipline so the DP is
cross-engine reproducible bit-for-bit:

- candidates: per trajectory point, the k nearest segments under the
  snap d² ordering (snap.point_segment_d2 — the doubles are
  bit-identical across engines, ties break to lowest (group, pos));
- emission cost  E(t,c)  = floor(d²)  — floor of a bit-identical
  double is a bit-identical int64;
- transition cost Tr(c,c') = switch_cost·[way(c) ≠ way(c')]
  + gap_weight·((mx−mx')² + (my−my')²), where (mx, my) is the
  segment's DOUBLED midpoint (x1+x2, y1+y2 — stays integer);
  staying on the same way is free apart from the spatial gap, so the
  matcher prefers coherent routes over per-point argmins;
- total path cost = Σ E + Σ Tr, pure int64 (bounds: band coords
  ≤ 4.4e7 ⇒ E ≤ ~4e15, gap ≤ ~6.2e16, 8 points ⇒ total < 2^63);
- tie rule: among min-cost paths, the LEXICOGRAPHICALLY SMALLEST
  candidate-rank sequence.

The Viterbi DP runs per trajectory inside ``applyInPandas`` (state =
k·T ints; trajectories are the natural partition unit, the
applyInPandasWithState sessionizer precedent), with a backward pass +
greedy forward extraction so the tie rule is exact.  The oracle twin
(:func:`sql_hmm_ctes`) ENUMERATES all k^T paths in a recursive CTE and
takes ``ORDER BY cost, path`` — a genuinely different algorithm, so
the gate also proves the DP optimal and the tie rule right on the
fixture.

Scale shape: the segment dimension broadcasts (ways ≪ points, the
tiling-flagship pattern); candidates are ONE broadcast join + one
per-point top-k window; the DP is one ``applyInPandas`` over the
trajectory key with O(k·T) state per key — no cross-trajectory state,
no iteration, no driver actions.  max_points bounds T (and the
enumeration oracle); real deployments sessionize first so T is the
session length.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .snap import point_segment_d2, sql_snap_d2_expr

SWITCH_COST = 10**15
GAP_WEIGHT = 1


def hmm_candidates(
    points: DataFrame,
    segments: DataFrame,
    traj_col: str = "user_id",
    order_cols: tuple = ("ts", "event_id"),
    point_id: str = "event_id",
    x: str = "lon",
    y: str = "lat",
    k: int = 3,
    max_points: int = 8,
) -> DataFrame:
    """(traj, t, point_id, rnk, group_id, pos, e, mx, my): the first
    ``max_points`` points of each trajectory joined to their k nearest
    segments (broadcast), emission cost e = floor(d²)."""
    if k < 1 or max_points < 1:
        raise ValueError(f"k and max_points must be >= 1: {k}, {max_points}")
    wt = Window.partitionBy(traj_col).orderBy(*order_cols)
    pts = (
        points.select(traj_col, *order_cols, point_id, x, y)
        .withColumn("t", F.row_number().over(wt))
        .filter(F.col("t") <= max_points)
    )
    cand = pts.crossJoin(F.broadcast(segments)).withColumn(
        "d2",
        point_segment_d2(
            F.col(x), F.col(y),
            F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2"),
        ),
    )
    wk = Window.partitionBy(point_id).orderBy("d2", "group_id", "pos")
    return (
        cand.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= k)
        .select(
            F.col(traj_col).alias("traj"),
            "t",
            F.col(point_id).alias("pid"),
            "rnk",
            "group_id",
            F.col("pos").cast("long").alias("pos"),
            F.floor("d2").cast("long").alias("e"),
            (F.col("x1") + F.col("x2")).cast("long").alias("mx"),
            (F.col("y1") + F.col("y2")).cast("long").alias("my"),
        )
    )


def _viterbi_pdf(
    pdf: pd.DataFrame, switch_cost: int, gap_weight: int
) -> pd.DataFrame:
    """Exact-int Viterbi over one trajectory's candidate frame:
    backward DP for min suffix costs, greedy forward extraction for
    the lexicographically-smallest min-cost path."""
    pdf = pdf.sort_values(["t", "rnk"])
    ts = sorted(pdf["t"].unique().tolist())
    by_t = {
        t: list(
            zip(
                g["rnk"].tolist(),
                g["pid"].tolist(),
                g["group_id"].tolist(),
                g["pos"].tolist(),
                [int(v) for v in g["e"]],
                [int(v) for v in g["mx"]],
                [int(v) for v in g["my"]],
            )
        )
        for t, g in pdf.groupby("t")
    }

    def tr(a, b):  # a, b = candidate tuples
        gap = (a[5] - b[5]) ** 2 + (a[6] - b[6]) ** 2
        return (switch_cost if a[2] != b[2] else 0) + gap_weight * gap

    # backward 2-BEST min suffix costs (emission of t included):
    # b[t][i] and b2[t][i] are the smallest and SECOND-smallest costs
    # over the multiset of all suffix paths starting at candidate i —
    # the classic k-best Viterbi with k=2.  The gap between the global
    # best and second-best total is the match-confidence statistic
    # (Newson & Krumm's alternatives test); b2 = None marks "no second
    # path exists" (single-candidate chains).
    b: dict = {}
    b2: dict = {}
    for t in reversed(ts):
        cur = by_t[t]
        brk = t == ts[-1] or (t + 1) not in by_t
        if brk:  # last layer / gap: one path per candidate (itself)
            b[t] = [c[4] for c in cur]
            b2[t] = [None] * len(cur)
        else:
            nxt = by_t[t + 1]
            b[t], b2[t] = [], []
            for c in cur:
                vals = []
                for j, n in enumerate(nxt):
                    w = tr(c, n)
                    vals.append(w + b[t + 1][j])
                    if b2[t + 1][j] is not None:
                        vals.append(w + b2[t + 1][j])
                vals.sort()
                b[t].append(c[4] + vals[0])
                b2[t].append(c[4] + vals[1] if len(vals) > 1 else None)
    # greedy forward extraction (exact equalities on ints)
    totals = sorted(
        v
        for i in range(len(b[ts[0]]))
        for v in (b[ts[0]][i], b2[ts[0]][i])
        if v is not None
    )
    cost2 = totals[1] if len(totals) > 1 else None
    best = min(b[ts[0]])
    chosen = []
    prev = None
    need = best
    for t in ts:
        cur = by_t[t]
        for i, c in enumerate(cur):  # rank order = lexicographic order
            cost_through = b[t][i] if prev is None else tr(prev, c) + b[t][i]
            if cost_through == need:
                chosen.append(c)
                need = b[t][i] - c[4]
                prev = c
                break
    switches = sum(
        1 for a, z in zip(chosen, chosen[1:]) if a[2] != z[2]
    )
    return pd.DataFrame(
        {
            "pid": [c[1] for c in chosen],
            "mm_way": [c[2] for c in chosen],
            "mm_pos": [c[3] for c in chosen],
            "mm_rank": [c[0] for c in chosen],
            "mm_e": [c[4] for c in chosen],
            "mm_cost": best,
            "mm_cost2": cost2,
            "mm_switches": switches,
        }
    )


def hmm_map_match(
    points: DataFrame,
    segments: DataFrame,
    traj_col: str = "user_id",
    order_cols: tuple = ("ts", "event_id"),
    point_id: str = "event_id",
    x: str = "lon",
    y: str = "lat",
    k: int = 3,
    max_points: int = 8,
    switch_cost: int = SWITCH_COST,
    gap_weight: int = GAP_WEIGHT,
) -> DataFrame:
    """Viterbi-match each trajectory's first ``max_points`` points onto
    ``segments`` (the clip.way_segments shape).  Returns one row per
    matched point: (pid, mm_way, mm_pos, mm_rank, mm_e, mm_cost,
    mm_switches) — mm_cost/mm_switches are the trajectory's totals
    repeated on each of its rows."""
    cand = hmm_candidates(
        points, segments, traj_col, order_cols, point_id, x, y, k, max_points
    )
    schema = (
        "pid long, mm_way string, mm_pos long, mm_rank int, mm_e long, "
        "mm_cost long, mm_cost2 long, mm_switches int"
    )
    sc, gw = int(switch_cost), int(gap_weight)
    return cand.groupBy("traj").applyInPandas(
        lambda pdf: _viterbi_pdf(pdf, sc, gw), schema
    )


def sql_hmm_ctes(
    pts_src: str,
    segs_values: str,
    traj: str = "user_id",
    order_by: str = "ts, event_id",
    point_id: str = "event_id",
    x: str = "lon",
    y: str = "lat",
    k: int = 3,
    max_points: int = 8,
    switch_cost: int = SWITCH_COST,
    gap_weight: int = GAP_WEIGHT,
) -> str:
    """DuckDB twin as a CTE chain (requires WITH RECURSIVE): enumerate
    ALL k^max_points candidate paths and take ORDER BY (cost, path) —
    proves the Spark DP optimal and its tie rule exact.  ``pts_src``
    must provide (traj, order cols, point_id, x, y); ``segs_values``
    is a VALUES list (group_id, pos, x1, y1, x2, y2).  Final CTEs:
    ``mmassign`` (per matched point) and ``mmswitch`` (per traj)."""
    d2 = sql_snap_d2_expr(f"p.{x}", f"p.{y}", "s.x1", "s.y1", "s.x2", "s.y2")
    return f"""
    mmsegs(group_id, pos, x1, y1, x2, y2) AS (VALUES {segs_values}),
    mmp AS (
      SELECT * FROM (
        SELECT {traj} AS traj, {point_id} AS pid, {x}, {y},
               row_number() OVER (PARTITION BY {traj} ORDER BY {order_by})
                 AS t
        FROM {pts_src}
      ) WHERE t <= {max_points}
    ),
    mmc AS (
      SELECT traj, t, pid, rnk, group_id, pos,
             CAST(floor(d2) AS BIGINT) AS e,
             CAST(x1 + x2 AS BIGINT) AS mx, CAST(y1 + y2 AS BIGINT) AS my
      FROM (
        SELECT p.traj, p.t, p.pid, s.group_id, s.pos,
               s.x1, s.y1, s.x2, s.y2, {d2} AS d2,
               row_number() OVER (PARTITION BY p.pid
                                  ORDER BY {d2}, s.group_id, s.pos) AS rnk
        FROM mmp p CROSS JOIN mmsegs s
      ) WHERE rnk <= {k}
    ),
    mmtmax AS (SELECT traj, max(t) AS tmax FROM mmc GROUP BY traj),
    mmpath(traj, t, cost, path, lg, lmx, lmy) AS (
      SELECT traj, t, e, [rnk], group_id, mx, my FROM mmc WHERE t = 1
      UNION ALL
      SELECT c.traj, c.t,
             p.cost + c.e
               + CASE WHEN c.group_id <> p.lg THEN {int(switch_cost)}
                      ELSE 0 END
               + {int(gap_weight)} * ((c.mx - p.lmx) * (c.mx - p.lmx)
                                      + (c.my - p.lmy) * (c.my - p.lmy)),
             list_append(p.path, c.rnk), c.group_id, c.mx, c.my
      FROM mmpath p JOIN mmc c ON c.traj = p.traj AND c.t = p.t + 1
    ),
    mmbest AS (
      SELECT traj, path, cost,
             row_number() OVER (PARTITION BY traj ORDER BY cost, path)
               AS brn
      FROM mmpath JOIN mmtmax USING (traj) WHERE t = tmax
    ),
    mmassign AS (
      SELECT c.traj, c.t, c.pid, c.group_id AS mm_way,
             CAST(c.pos AS BIGINT) AS mm_pos,
             CAST(c.rnk AS INT) AS mm_rank, c.e AS mm_e, s.cost AS mm_cost
      FROM mmc c
      JOIN (SELECT traj, path, cost FROM mmbest WHERE brn = 1) s
        ON s.traj = c.traj AND c.rnk = s.path[c.t]
    ),
    mmsecond AS (
      -- second-smallest path cost (the match-confidence alternative):
      -- row 2 of the SAME full enumeration that proves the DP optimal
      SELECT traj, cost AS mm_cost2 FROM mmbest WHERE brn = 2
    ),
    mmswitch AS (
      SELECT traj, CAST(SUM(CASE WHEN pg IS NOT NULL AND mm_way <> pg
                                 THEN 1 ELSE 0 END) AS INT) AS mm_switches
      FROM (
        SELECT traj, mm_way,
               lag(mm_way) OVER (PARTITION BY traj ORDER BY t) AS pg
        FROM mmassign
      ) GROUP BY traj
    )"""
