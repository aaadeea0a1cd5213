"""Nearest-segment snapping — map matching's geometric core: assign
every point to the closest way segment (GPS trace -> road, image
footprint -> boundary edge). The reference resolves way chains
(/root/reference/src/osm.rs ways over node coords); snapping is the
standard query a consumer runs against those chains.

Distance arithmetic is the repo's exact-integer discipline: for point p
and segment (a, b), with integer coords,

    dot = (p-a)·(b-a),   L2 = |b-a|²          (int64, < 2^52 here)
    d² = |p-a|²                     if dot <= 0      (clamp to a)
       = |p-b|²                     if dot >= L2     (clamp to b)
       = (|p-a|²·L2 - dot²) / L2    otherwise        (perpendicular)

The two big products run in decimal(38,0) on Spark and HUGEINT in the
DuckDB twin — both exact — and d² becomes a double through the ONE
shared division/cast spelling, so candidate ordering (and therefore the
argmin with its (d2, way, pos) tie-break) is identical across engines.

Scale shape: the segment side is the DIMENSION (ways ≪ points in every
replication workload) and broadcasts, exactly like the region
multipolygons in the tiling flagship; the point side never shuffles for
the distance test — only the optional per-way aggregation does. A
bbox-dilated prefilter (``max_dist``) keeps the nested-loop candidate
set bounded when the caller has a snap radius.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_DEC = "decimal(38,0)"


def point_segment_d2(px, py, x1, y1, x2, y2):
    """Clamped squared point-to-segment distance as a Column — the ONE
    Spark spelling of the docstring's d² (decimal(38,0) products, one
    shared division/cast), kept in lockstep with ``sql_snap_d2_expr``
    below; snapping AND the chain-Hausdorff operator both build on it
    so candidate ordering is identical everywhere."""
    dx, dy = x2 - x1, y2 - y1
    apx, apy = px - x1, py - y1
    pbx, pby = px - x2, py - y2
    dot = apx * dx + apy * dy
    l2 = dx * dx + dy * dy
    pa2 = apx * apx + apy * apy
    pb2 = pbx * pbx + pby * pby
    num = pa2.cast(_DEC) * l2.cast(_DEC) - dot.cast(_DEC) * dot.cast(_DEC)
    return (
        F.when(dot <= 0, pa2.cast("double"))
        .when(dot >= l2, pb2.cast("double"))
        .otherwise(num.cast("double") / l2.cast("double"))
    )


def snap_points_to_segments(
    points: DataFrame,
    segments: DataFrame,
    point_id: str = "event_id",
    x: str = "lon",
    y: str = "lat",
    max_dist: int | None = None,
) -> DataFrame:
    """(point_id, group_id, pos, d2): each point's nearest segment
    (ties -> lowest (group_id, pos)). ``segments`` is the
    clip.way_segments shape (group_id, pos, x1, y1, x2, y2), broadcast.
    ``max_dist`` (same units as coords) drops candidates whose dilated
    segment bbox misses the point BEFORE any arithmetic; points farther
    than max_dist from every segment then emit no row.

    Arithmetic bound: the int64 pieces (pa2/pb2/dot/l2) are exact while
    point-to-endpoint offsets stay under ~2.1e9 units. Whole-globe
    decimicro corpora exceed that ONLY for points ~half a hemisphere
    from a segment — pass ``max_dist`` there (the operational mode at
    scale anyway: it bounds both the candidate set and the offsets)."""
    px, py = F.col(x), F.col(y)
    cond = F.lit(True)
    if max_dist is not None:
        md = int(max_dist)
        cond = (
            (px >= F.least("x1", "x2") - md)
            & (px <= F.greatest("x1", "x2") + md)
            & (py >= F.least("y1", "y2") - md)
            & (py <= F.greatest("y1", "y2") + md)
        )
    j = points.select(point_id, x, y).join(F.broadcast(segments), cond)
    scored = j.withColumn(
        "d2",
        point_segment_d2(
            px, py, F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2")
        ),
    )
    if max_dist is not None:
        scored = scored.filter(F.col("d2") <= float(max_dist) ** 2)
    w = Window.partitionBy(point_id).orderBy("d2", "group_id", "pos")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(point_id, "group_id", "pos", "d2")
    )


def sql_snap_d2_expr(
    px: str, py: str, x1: str, y1: str, x2: str, y2: str
) -> str:
    """DuckDB twin of the d² expression (HUGEINT products == Spark's
    decimal(38,0); one shared division/cast)."""
    # explicit BIGINT: VALUES-sourced ints arrive as INT32 in DuckDB and
    # the squared terms overflow 32 bits
    dxe, dye = f"CAST({x2} - {x1} AS BIGINT)", f"CAST({y2} - {y1} AS BIGINT)"
    apx, apy = f"CAST({px} - {x1} AS BIGINT)", f"CAST({py} - {y1} AS BIGINT)"
    pbx, pby = f"CAST({px} - {x2} AS BIGINT)", f"CAST({py} - {y2} AS BIGINT)"
    dot = f"({apx} * {dxe} + {apy} * {dye})"
    l2 = f"({dxe} * {dxe} + {dye} * {dye})"
    pa2 = f"({apx} * {apx} + {apy} * {apy})"
    pb2 = f"({pbx} * {pbx} + {pby} * {pby})"
    num = (
        f"(CAST({pa2} AS HUGEINT) * CAST({l2} AS HUGEINT)"
        f" - CAST({dot} AS HUGEINT) * CAST({dot} AS HUGEINT))"
    )
    return (
        f"(CASE WHEN {dot} <= 0 THEN CAST({pa2} AS DOUBLE) "
        f"WHEN {dot} >= {l2} THEN CAST({pb2} AS DOUBLE) "
        f"ELSE CAST({num} AS DOUBLE) / CAST({l2} AS DOUBLE) END)"
    )
