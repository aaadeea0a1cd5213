"""Ring / polyline validity: proper self-intersection detection.

The reference treats its region polygons as trusted input (parsed
`.poly` rings, /root/reference/src/osmgeom.rs:15-62) and its way chains
as whatever the planet file says — a consumer that builds extracts or
runs point-in-polygon against user-drawn ways needs the standard
validity screen first (ST_IsSimple's core): does the chain cross
itself?  Re-expressed Spark-first over the resolved segment table
(clip.way_segments shape).

Semantics — PROPER crossings only.  Segments A=(a1,a2), B=(b1,b2)
properly cross iff a1/a2 are strictly on opposite sides of line B AND
b1/b2 strictly on opposite sides of line A:

    o1 = orient(a1, a2, b1)   o2 = orient(a1, a2, b2)
    o3 = orient(b1, b2, a1)   o4 = orient(b1, b2, a2)
    proper  :=  sign(o1)*sign(o2) == -1  AND  sign(o3)*sign(o4) == -1

with orient(p, q, r) = (qx-px)(ry-py) - (qy-py)(rx-px).  Exact-integer
discipline: coordinate differences stay int64 (< 2^33 decimicro
globally), the cross products run in decimal(38,0) on Spark and
HUGEINT in the DuckDB twin — no epsilon, no robustness heuristics.
The strict (< 0) test makes shared endpoints (consecutive chain
segments, closed-ring first/last) orientation-zero, so adjacency never
needs special-casing, and collinear overlaps / T-touches are reported
as touches, not crossings — the ST_IsSimple convention for rings.

Scale shape (100 TB): the naive test is all segment pairs per way —
quadratic in way length, which is exactly what the DuckDB oracle runs
at fixture scale.  The engine instead fans each segment out to the
grid tiles of its bbox rectangle (same arithmetic tiling as
clip_ways_to_tiles — tiles are index arithmetic, never a joined
dimension) and hash-joins pairs on (group_id, tx, ty): only segments
whose bboxes share a tile are ever tested.  Exactly-once WITHOUT a
distinct, via the 2-D canonical-tile rule: a pair is accepted only in
tile (max(txlo_a, txlo_b), max(tylo_a, tylo_b)) — the tile every
bbox-overlapping pair covers (the bucketized-range-join rule, one
axis per dimension).  Long chains therefore cost O(pairs that are
bbox-close), not O(n^2), and the fan-out is bounded by each segment's
own tile span at the chosen resolution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_replication_rust_spark.functions import coords as C

_DEC = "decimal(38,0)"


def _sign(col):
    return F.when(col > 0, F.lit(1)).when(col < 0, F.lit(-1)).otherwise(F.lit(0))


def _orient(px, py, qx, qy, rx, ry):
    """Exact sign-carrying cross product (q-p) x (r-p) in decimal(38,0).
    int64 differences, decimal products — overflow-free for decimicro
    coordinates (|diff| < 2^33, |product| < 2^66 < 10^38)."""
    return (qx - px).cast(_DEC) * (ry - py).cast(_DEC) - (qy - py).cast(_DEC) * (
        rx - px
    ).cast(_DEC)


def _proper_cross():
    """Boolean Column: rows are joined pairs with a-side (ax1, ay1, ax2,
    ay2) and b-side (bx1, by1, bx2, by2) int columns."""
    ax1, ay1 = F.col("ax1"), F.col("ay1")
    ax2, ay2 = F.col("ax2"), F.col("ay2")
    bx1, by1 = F.col("bx1"), F.col("by1")
    bx2, by2 = F.col("bx2"), F.col("by2")
    s1 = _sign(_orient(ax1, ay1, ax2, ay2, bx1, by1))
    s2 = _sign(_orient(ax1, ay1, ax2, ay2, bx2, by2))
    s3 = _sign(_orient(bx1, by1, bx2, by2, ax1, ay1))
    s4 = _sign(_orient(bx1, by1, bx2, by2, ax2, ay2))
    return (s1 * s2 == -1) & (s3 * s4 == -1)


def _sides(segs: DataFrame, tag: str, res: int | None) -> DataFrame:
    cols = [
        F.col("group_id"),
        F.col("pos").alias(f"{tag}pos"),
        F.col("x1").alias(f"{tag}x1"),
        F.col("y1").alias(f"{tag}y1"),
        F.col("x2").alias(f"{tag}x2"),
        F.col("y2").alias(f"{tag}y2"),
    ]
    if res is None:
        return segs.select(*cols)
    out = segs.select(
        *cols,
        F.shiftright(F.least("x1", "x2") + C.LON_OFFSET, res).alias(f"{tag}txlo"),
        F.shiftright(F.greatest("x1", "x2") + C.LON_OFFSET, res).alias(f"{tag}txhi"),
        F.shiftright(F.least("y1", "y2") + C.LAT_OFFSET, res).alias(f"{tag}tylo"),
        F.shiftright(F.greatest("y1", "y2") + C.LAT_OFFSET, res).alias(f"{tag}tyhi"),
    )
    return (
        out.withColumn(
            "tx", F.explode(F.sequence(F.col(f"{tag}txlo"), F.col(f"{tag}txhi")))
        )
        .withColumn(
            "ty", F.explode(F.sequence(F.col(f"{tag}tylo"), F.col(f"{tag}tyhi")))
        )
        .drop(f"{tag}txhi", f"{tag}tyhi")
    )


def self_intersection_pairs(
    segs: DataFrame, res: int | None = C.DEFAULT_RES
) -> DataFrame:
    """(group_id, apos, bpos) — every properly-crossing non-identical
    segment pair (apos < bpos) of each way chain, exactly once.

    ``segs`` is the clip.way_segments shape (group_id, pos, x1, y1,
    x2, y2).  ``res`` picks the bucketing grid; ``res=None`` runs the
    brute-force all-pairs join (the oracle shape — for tests and tiny
    inputs only)."""
    a = _sides(segs, "a", res)
    b = _sides(segs, "b", res)
    if res is None:
        j = a.join(b, ["group_id"]).filter(F.col("apos") < F.col("bpos"))
    else:
        j = (
            a.join(b, ["group_id", "tx", "ty"])
            .filter(F.col("apos") < F.col("bpos"))
            # canonical tile: the one tile EVERY bbox-overlapping pair
            # shares — counts each pair exactly once, no distinct
            .filter(
                (F.col("tx") == F.greatest("atxlo", "btxlo"))
                & (F.col("ty") == F.greatest("atylo", "btylo"))
            )
        )
    return j.filter(_proper_cross()).select("group_id", "apos", "bpos")


def self_intersection_counts(
    segs: DataFrame, res: int | None = C.DEFAULT_RES
) -> DataFrame:
    """(group_id, n_self_x, is_simple) for every group present in
    ``segs`` — groups with no proper crossing report (0, true)."""
    counts = (
        self_intersection_pairs(segs, res)
        .groupBy("group_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_self_x"))
    )
    return (
        segs.select("group_id")
        .distinct()
        .join(counts, "group_id", "left")
        .withColumn("n_self_x", F.coalesce("n_self_x", F.lit(0).cast("long")))
        .withColumn("is_simple", F.col("n_self_x") == 0)
    )


def cross_intersection_pairs(
    segs_a: DataFrame, segs_b: DataFrame, res: int | None = C.DEFAULT_RES
) -> DataFrame:
    """(a_group, apos, b_group, bpos) — every properly-crossing segment
    pair BETWEEN two layers, exactly once: the overlay-detection join
    (roads x rivers = bridge/culvert candidates, ST_Crosses as a
    distributed join) on the same exact-integer predicate and
    canonical-tile machinery as the self-intersection screen.

    Unlike ``self_intersection_pairs`` there is no shared group key:
    the ONLY join key is the bbox tile — a global spatial pair join.
    The canonical-tile rule (accept a pair only in tile
    (max(txlo), max(tylo))) again counts each bbox-overlapping pair
    exactly once with no distinct. ``res=None`` is the brute-force
    cross join (oracle shape; tests and tiny inputs only).

    Scale: shuffle = each layer's segments x their tile span, hash
    join on (tx, ty); only bbox-close cross-layer pairs are ever
    tested. Dense tiles are ordinary AQE skew splits; res trades
    fan-out (finer = more tiles per long segment) against tile
    occupancy (coarser = more candidate pairs) exactly as in
    clip_ways_to_tiles."""
    return _cross_pairs_raw(segs_a, segs_b, res).select(
        "a_group", "apos", "b_group", "bpos"
    )


def _cross_pairs_raw(
    segs_a: DataFrame, segs_b: DataFrame, res: int | None
) -> DataFrame:
    """The properly-crossing cross-layer pair frame WITH both segments'
    coordinate columns still attached (shared by the pair and the
    intersection-point variants)."""
    a = _sides(segs_a, "a", res).withColumnRenamed("group_id", "a_group")
    b = _sides(segs_b, "b", res).withColumnRenamed("group_id", "b_group")
    if res is None:
        j = a.crossJoin(b)
    else:
        j = a.join(b, ["tx", "ty"]).filter(
            (F.col("tx") == F.greatest("atxlo", "btxlo"))
            & (F.col("ty") == F.greatest("atylo", "btylo"))
        )
    return j.filter(_proper_cross())


def cross_intersection_points(
    segs_a: DataFrame, segs_b: DataFrame, res: int | None = C.DEFAULT_RES
) -> DataFrame:
    """(a_group, apos, b_group, bpos, ix, iy) — the overlay join's
    NODE-ing step (ST_Intersection of two line layers): every properly
    crossing pair plus the intersection point itself.

    The point is the exact rational

        t  = cross(b1 − a1, s) / cross(r, s)      r = a2−a1, s = b2−b1
        ix = (a1x·den + num_t·rx) / den           den = cross(r, s)
        iy = (a1y·den + num_t·ry) / den

    with every numerator/denominator an exact decimal(38,0) product
    (|num| < 2^99 < 10^38 for decimicro coords; den ≠ 0 on a proper
    crossing by definition) and the double produced by ONE shared
    division of the two exact integers — both engines convert the same
    integers and divide once, so the doubles are bit-identical (the
    snap.point_segment_d2 discipline).  Same join/shuffle shape as
    ``cross_intersection_pairs``; the point math is map-side codegen on
    the surviving pairs only."""
    j = _cross_pairs_raw(segs_a, segs_b, res)
    rx = (F.col("ax2") - F.col("ax1")).cast(_DEC)
    ry = (F.col("ay2") - F.col("ay1")).cast(_DEC)
    sx = (F.col("bx2") - F.col("bx1")).cast(_DEC)
    sy = (F.col("by2") - F.col("by1")).cast(_DEC)
    den = rx * sy - ry * sx
    numt = (F.col("bx1") - F.col("ax1")).cast(_DEC) * sy - (
        F.col("by1") - F.col("ay1")
    ).cast(_DEC) * sx
    ixn = F.col("ax1").cast(_DEC) * den + numt * rx
    iyn = F.col("ay1").cast(_DEC) * den + numt * ry
    return j.select(
        "a_group",
        "apos",
        "b_group",
        "bpos",
        (ixn.cast("double") / den.cast("double")).alias("ix"),
        (iyn.cast("double") / den.cast("double")).alias("iy"),
    )


def sql_proper_cross_expr(
    ax1: str, ay1: str, ax2: str, ay2: str, bx1: str, by1: str, bx2: str, by2: str
) -> str:
    """DuckDB twin of the proper-crossing predicate (HUGEINT products ==
    Spark's decimal(38,0); strict opposite-side signs)."""

    def d(a: str, b: str) -> str:
        # explicit BIGINT before subtracting: VALUES-sourced ints arrive
        # as INT32 in DuckDB and whole-globe differences overflow 32 bits
        return f"(CAST({a} AS BIGINT) - CAST({b} AS BIGINT))"

    def orient(px, py, qx, qy, rx, ry):
        return (
            f"(CAST({d(qx, px)} AS HUGEINT) * CAST({d(ry, py)} AS HUGEINT)"
            f" - CAST({d(qy, py)} AS HUGEINT) * CAST({d(rx, px)} AS HUGEINT))"
        )

    o1 = orient(ax1, ay1, ax2, ay2, bx1, by1)
    o2 = orient(ax1, ay1, ax2, ay2, bx2, by2)
    o3 = orient(bx1, by1, bx2, by2, ax1, ay1)
    o4 = orient(bx1, by1, bx2, by2, ax2, ay2)
    return (
        f"((({o1} > 0 AND {o2} < 0) OR ({o1} < 0 AND {o2} > 0))"
        f" AND (({o3} > 0 AND {o4} < 0) OR ({o3} < 0 AND {o4} > 0)))"
    )


def sql_cross_point_exprs(
    ax1: str, ay1: str, ax2: str, ay2: str, bx1: str, by1: str, bx2: str, by2: str
) -> tuple[str, str]:
    """DuckDB twin of cross_intersection_points' (ix, iy) — HUGEINT
    numerators/denominator == Spark's decimal(38,0), ONE shared
    division, so the doubles match bit-for-bit."""

    def d(a: str, b: str) -> str:
        return f"(CAST({a} AS BIGINT) - CAST({b} AS BIGINT))"

    rx = f"CAST({d(ax2, ax1)} AS HUGEINT)"
    ry = f"CAST({d(ay2, ay1)} AS HUGEINT)"
    sx = f"CAST({d(bx2, bx1)} AS HUGEINT)"
    sy = f"CAST({d(by2, by1)} AS HUGEINT)"
    den = f"({rx} * {sy} - {ry} * {sx})"
    numt = (
        f"(CAST({d(bx1, ax1)} AS HUGEINT) * {sy}"
        f" - CAST({d(by1, ay1)} AS HUGEINT) * {sx})"
    )
    ix = (
        f"(CAST(CAST({ax1} AS HUGEINT) * {den} + {numt} * {rx} AS DOUBLE)"
        f" / CAST({den} AS DOUBLE))"
    )
    iy = (
        f"(CAST(CAST({ay1} AS HUGEINT) * {den} + {numt} * {ry} AS DOUBLE)"
        f" / CAST({den} AS DOUBLE))"
    )
    return ix, iy
