"""Way-geometry clipping to tile extents (polygon-extract splitting).

The reference splits its per-region extracts by intersecting element
geometry with a region's bounding box turned into a polygon
(/root/reference/src/osmgeom.rs:65-71 bounding_box_to_polygon; the
per-region extract loop in src/diffs.rs drives it).  Re-expressed
Spark-first: every resolved way chain is exploded into its segments,
each segment is fanned out to the grid tiles its bbox covers, and each
(segment, tile) pair is clipped with Liang–Barsky — pure min/max/
mul/div arithmetic, fully inside whole-stage codegen.  No Python in
the plan at all; the only shuffle is the way-closure aggregate that
produces the chains.

Scale shape (100 TB): segment fan-out is bounded by the segment's own
tile span (OSM ways are local — almost always 1-2 tiles per segment),
so the explode is map-side and output-proportional.  Tiles never
materialize as a dimension table: tile extents are arithmetic on the
tile index, so there is nothing to join or broadcast.  Skewed mega-
tiles cost nothing here — rows are per (segment, tile), not per tile.

The clip parameterization (same IEEE tree in the DuckDB twin, see
plans/entry_queries.py clip_to_tiles):

    t0 = max(0, tx_lo, ty_lo)   t1 = min(1, tx_hi, ty_hi)

with per-axis entering/leaving parameters from the clamped division,
and the axis-parallel / degenerate cases (dx == 0) resolved by CASE
to (0,1) when inside the slab, (2,-1) = empty when outside.  A pair
with t0 <= t1 yields the clipped piece endpoints x1 + t*dx — shared
boundary points land in BOTH adjacent tiles, which is exactly what an
extract-splitter wants (each tile's extract is self-contained).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_replication_rust_spark.functions import coords as C
from osm_replication_rust_spark.operators.resolve import resolve_way_full


def _axis_interval(d, p1, lo, hi):
    """(t_lo, t_hi) for one axis slab [lo, hi]: the parameter interval
    where p1 + t*d is inside the slab. Degenerate axis (d == 0) maps to
    (0, 1) inside / (2, -1) outside so the final max/min test rejects.
    All doubles; division only happens on the d != 0 branch."""
    inside = (p1 >= lo) & (p1 <= hi)
    a = (lo - p1) / d
    b = (hi - p1) / d
    t_lo = F.when(d != 0.0, F.least(a, b)).otherwise(
        F.when(inside, F.lit(0.0)).otherwise(F.lit(2.0))
    )
    t_hi = F.when(d != 0.0, F.greatest(a, b)).otherwise(
        F.when(inside, F.lit(1.0)).otherwise(F.lit(-1.0))
    )
    return t_lo, t_hi


def way_segments(
    groups: DataFrame, points: DataFrame, point_id: str = "image_id"
) -> DataFrame:
    """(group_id, pos, x1, y1, x2, y2) — consecutive-vertex segments of
    every resolved way chain, decimicro ints; ``pos`` is the ORIGINAL
    member position of the segment's start vertex. Array-slice zip, no
    shuffle beyond the closure agg."""
    ways = resolve_way_full(groups, points, point_id, keep_pos=True)
    c = F.col("coords")
    segs = F.zip_with(
        F.slice(c, 1, F.greatest(F.size(c) - 1, F.lit(0))),
        F.slice(c, 2, F.greatest(F.size(c) - 1, F.lit(0))),
        lambda a, b: F.struct(
            a["pos"].alias("pos"),
            a["lon"].alias("x1"),
            a["lat"].alias("y1"),
            b["lon"].alias("x2"),
            b["lat"].alias("y2"),
        ),
    )
    return (
        ways.filter(F.size(c) >= 2)
        .select("group_id", F.explode(segs).alias("s"))
        .select("group_id", "s.pos", "s.x1", "s.y1", "s.x2", "s.y2")
    )


def clip_ways_to_tiles(
    groups: DataFrame,
    points: DataFrame,
    res: int = C.DEFAULT_RES,
    point_id: str = "image_id",
) -> DataFrame:
    """Split every way into per-tile segment pieces at grid resolution
    ``res``: (group_id, pos, tx, ty, cx1, cy1, cx2, cy2) with c* the
    clipped endpoints (double, decimicro scale). A segment appears once
    per tile its clipped extent touches; pieces on a shared tile edge
    appear in both tiles (self-contained extracts). Plan: closure agg →
    map-side segment/tile explode → codegen Liang–Barsky filter+project.
    """
    edge = C.cell_edge(res)
    segs = way_segments(groups, points, point_id)
    tiled = (
        segs.withColumn(
            "tx",
            F.explode(
                F.sequence(
                    F.shiftright(F.least("x1", "x2") + C.LON_OFFSET, res),
                    F.shiftright(F.greatest("x1", "x2") + C.LON_OFFSET, res),
                )
            ),
        )
        .withColumn(
            "ty",
            F.explode(
                F.sequence(
                    F.shiftright(F.least("y1", "y2") + C.LAT_OFFSET, res),
                    F.shiftright(F.greatest("y1", "y2") + C.LAT_OFFSET, res),
                )
            ),
        )
    )
    x1 = F.col("x1").cast("double")
    y1 = F.col("y1").cast("double")
    dx = (F.col("x2") - F.col("x1")).cast("double")
    dy = (F.col("y2") - F.col("y1")).cast("double")
    # tile extents: exact ints (< 2^53) cast to double
    xmin = (F.col("tx") * edge - F.lit(C.LON_OFFSET)).cast("double")
    ymin = (F.col("ty") * edge - F.lit(C.LAT_OFFSET)).cast("double")
    xmax = xmin + F.lit(float(edge))
    ymax = ymin + F.lit(float(edge))
    tx_lo, tx_hi = _axis_interval(dx, x1, xmin, xmax)
    ty_lo, ty_hi = _axis_interval(dy, y1, ymin, ymax)
    t0 = F.greatest(F.lit(0.0), tx_lo, ty_lo)
    t1 = F.least(F.lit(1.0), tx_hi, ty_hi)
    return (
        tiled.withColumn("t0", t0)
        .withColumn("t1", t1)
        .filter(F.col("t0") <= F.col("t1"))
        .select(
            "group_id",
            "pos",
            "tx",
            "ty",
            (x1 + F.col("t0") * dx).alias("cx1"),
            (y1 + F.col("t0") * dy).alias("cy1"),
            (x1 + F.col("t1") * dx).alias("cx2"),
            (y1 + F.col("t1") * dy).alias("cy2"),
        )
    )


def densify_segments(segs: DataFrame, max_gap: int) -> DataFrame:
    """ST_Segmentize's core: per segment, the evenly spaced intermediate
    vertices that keep every gap <= ``max_gap`` (coordinate units).
    Returns (group_id, pos, j, px, py) — j = 1..n_sub-1 with
    n_sub = max(ceil(len / max_gap), 1); original vertices are NOT
    re-emitted (callers union them if they want the densified chain).

    Cross-engine determinism WITHOUT exact integers: each segment is
    subdivided independently — no cumulative arc-length state — so the
    only floats are one correctly-rounded sqrt/division per segment and
    the shared interpolation spelling x1 + (dx*j)/n_sub.  Identical
    IEEE inputs -> identical doubles in Spark and the DuckDB twin (the
    same reasoning as the Liang–Barsky clip tree above; a cumulative
    resampling would instead hit engine-specific summation orders).

    Scale shape: pure map-side codegen on the segment table — explode
    fan-out is output-proportional (the inserted points), no shuffle,
    no Python."""
    if max_gap < 1:
        raise ValueError(f"max_gap must be >= 1 coordinate unit, got {max_gap}")
    dx = (F.col("x2") - F.col("x1")).cast("double")
    dy = (F.col("y2") - F.col("y1")).cast("double")
    n_sub = F.greatest(
        F.ceil(F.sqrt(dx * dx + dy * dy) / F.lit(float(max_gap))), F.lit(1)
    )
    js = F.when(n_sub > 1, F.sequence(F.lit(1).cast("long"), n_sub - 1)).otherwise(
        F.array().cast("array<bigint>")
    )
    out = (
        segs.withColumn("_dx", dx)
        .withColumn("_dy", dy)
        .withColumn("_n_sub", n_sub)
        .select("group_id", "pos", "x1", "y1", "_dx", "_dy", "_n_sub",
                F.explode(js).alias("j"))
    )
    nd = F.col("_n_sub").cast("double")
    jd = F.col("j").cast("double")
    return out.select(
        "group_id",
        "pos",
        "j",
        (F.col("x1").cast("double") + (F.col("_dx") * jd) / nd).alias("px"),
        (F.col("y1").cast("double") + (F.col("_dy") * jd) / nd).alias("py"),
    )


# ---------------------------------------------------------------------------
# Tile-clipped polygon areas (areal interpolation / zonal weighting):
# the signed area of ring ∩ tile for every tile of the ring's bbox,
# WITHOUT ever constructing the clipped polygons.  Green's-theorem
# clamp identity: for a closed curve γ and a convex rectangle R,
# clamping every point of γ onto R preserves the winding number around
# every interior point of R (the straight homotopy from p to clamp(p)
# never enters the open rectangle), so the shoelace integral of
# clamp(γ) IS 2·area(γ ∩ R) — no vertex stitching, no corner-insertion
# cases, and every breakpoint is computed from ORIGINAL edge endpoints
# (never from previously clipped geometry), which is what makes the
# arithmetic cross-engine exact.
#
# Discretization contract: a breakpoint's off-axis coordinate is the
# exact rational floor-snapped to the 2^-qshift sub-coordinate lattice
# (one decimal(38,0) floor division; the on-axis coordinate is the
# clip line itself, exact).  All downstream arithmetic is exact
# integer, so per-tile areas are bit-reproducible and ORDER-FREE
# (plain SUM aggregates).  Σ over tiles equals the ring's exact
# shoelace area up to the snapping of boundary crossings — EXACT when
# crossings land on the lattice (axis-aligned rings, lattice-aligned
# geometry), bounded by (boundary crossings)·2^-qshift·perimeter-step
# otherwise (property-tested).
# ---------------------------------------------------------------------------

_DEC = "decimal(38,0)"
_CLAMP_OFF = 1 << 31  # shifts any decimicro coordinate non-negative


def tile_polygon_areas(
    segs: DataFrame,
    res: int = C.DEFAULT_RES,
    qshift: int = 16,
) -> DataFrame:
    """(group_id, tx, ty, area2q) — 2·area(ring ∩ tile) in Q²-scaled
    exact decimal(38,0) units (Q = 2^qshift) for every bbox tile of
    every CLOSED ring in ``segs`` (clip.way_segments shape; the chain
    must repeat its first vertex so the segments close the loop).
    Signed: CCW rings positive, CW negative; zero-area tiles are
    dropped.

    Scale shape: one bbox aggregate per ring + a join back (the ring
    bbox is the only cross-edge state), then a map-side explode of
    edge x bbox-tile pairs — EVERY edge contributes to every bbox tile
    (a far edge clamps to the tile boundary and its boundary run
    carries the winding), so cost is O(edges · bbox tiles) per ring,
    the same bound as rasterize_polygon's grid scan.  The per-pair
    breakpoint math is array HOFs inside codegen — no Python, no
    window; one final hash aggregate on (group, tile)."""
    if not 0 <= qshift <= 20:
        raise ValueError(f"qshift out of range: {qshift}")
    if not 0 <= res < 32:
        raise ValueError(f"res out of range: {res}")
    edge = 1 << res
    q = qshift

    bbox = segs.groupBy("group_id").agg(
        F.shiftright(
            F.least(F.min("x1"), F.min("x2")) + C.LON_OFFSET, res
        ).alias("_txlo"),
        F.shiftright(
            F.greatest(F.max("x1"), F.max("x2")) + C.LON_OFFSET, res
        ).alias("_txhi"),
        F.shiftright(
            F.least(F.min("y1"), F.min("y2")) + C.LAT_OFFSET, res
        ).alias("_tylo"),
        F.shiftright(
            F.greatest(F.max("y1"), F.max("y2")) + C.LAT_OFFSET, res
        ).alias("_tyhi"),
    )
    fan = (
        segs.join(bbox, "group_id")
        .withColumn("tx", F.explode(F.sequence("_txlo", "_txhi")))
        .withColumn("ty", F.explode(F.sequence("_tylo", "_tyhi")))
    )
    # tile bounds in coordinate units (exact)
    tx0 = F.shiftleft(F.col("tx"), res) - F.lit(C.LON_OFFSET)
    ty0 = F.shiftleft(F.col("ty"), res) - F.lit(C.LAT_OFFSET)
    tx1 = tx0 + edge
    ty1 = ty0 + edge

    ax, ay = F.col("x1"), F.col("y1")
    bx, by = F.col("x2"), F.col("y2")

    def crossing(c, p1, p2, o1, o2, td, idx, is_x):
        """Breakpoint struct for the crossing with axis line ``c`` on
        the p-axis, valid iff strictly between the endpoints.  The
        off-axis coordinate o1 + (c-p1)·(o2-o1)/(p2-p1) is floor-
        snapped to the Q-lattice by ONE exact decimal floor division:
        signs are flipped so the denominator is positive, and the
        _CLAMP_OFF offset (a multiple of the denominator) makes the
        numerator non-negative, where subtract-the-mod-then-divide is
        an exact integer floor."""
        valid = ((p1 < c) & (c < p2)) | ((p2 < c) & (c < p1))
        dd = (p2 - p1).cast(_DEC)
        num = (c - p1).cast(_DEC) * (o2 - o1).cast(_DEC) * F.lit(1 << q)
        num = F.when(dd < 0, -num).otherwise(num)
        ddp = F.abs(dd)
        off_q = F.lit(_CLAMP_OFF).cast("long") * F.lit(1 << q)
        num_nn = num + (o1.cast(_DEC) + F.lit(_CLAMP_OFF)) * F.lit(1 << q) * ddp
        oq = (
            ((num_nn - F.pmod(num_nn, ddp)) / ddp).cast("long") - off_q
        )
        pq = (c * F.lit(1 << q)).cast("long")
        xq = pq if is_x else oq
        yq = oq if is_x else pq
        return F.when(
            valid,
            F.struct(
                td.alias("td"),
                F.lit(idx).alias("idx"),
                xq.cast("long").alias("xq"),
                yq.cast("long").alias("yq"),
            ),
        )

    qlit = F.lit(1 << q)
    end0 = F.struct(
        F.lit(0.0).alias("td"),
        F.lit(0).alias("idx"),
        (ax * qlit).cast("long").alias("xq"),
        (ay * qlit).cast("long").alias("yq"),
    )
    end1 = F.struct(
        F.lit(1.0).alias("td"),
        F.lit(5).alias("idx"),
        (bx * qlit).cast("long").alias("xq"),
        (by * qlit).cast("long").alias("yq"),
    )

    def td_of(c, p1, p2):
        return (c - p1).cast("double") / (p2 - p1).cast("double")

    cands = F.array(
        end0,
        crossing(tx0, ax, bx, ay, by, td_of(tx0, ax, bx), 1, True),
        crossing(tx1, ax, bx, ay, by, td_of(tx1, ax, bx), 2, True),
        crossing(ty0, ay, by, ax, bx, td_of(ty0, ay, by), 3, False),
        crossing(ty1, ay, by, ax, bx, td_of(ty1, ay, by), 4, False),
        end1,
    )
    bp = F.array_sort(F.filter(cands, lambda s: s.isNotNull()))

    # clamp into the Q-scaled tile box
    txl, txh = tx0 * qlit, tx1 * qlit
    tyl, tyh = ty0 * qlit, ty1 * qlit

    def clamped(s):
        cxq = F.least(F.greatest(s["xq"], txl), txh).cast(_DEC)
        cyq = F.least(F.greatest(s["yq"], tyl), tyh).cast(_DEC)
        return F.struct(cxq.alias("x"), cyq.alias("y"))

    n = F.size(bp)
    heads = F.transform(F.slice(bp, 1, n - 1), clamped)
    tails = F.transform(F.slice(bp, 2, n - 1), clamped)
    terms = F.zip_with(
        heads, tails, lambda p, r: p["x"] * r["y"] - r["x"] * p["y"]
    )
    contrib = F.aggregate(
        terms, F.lit(0).cast(_DEC), lambda acc, t: acc + t
    )
    out = (
        fan.withColumn("_c", contrib)
        .groupBy("group_id", "tx", "ty")
        .agg(F.sum("_c").alias("area2q"))
        .filter(F.col("area2q") != 0)
    )
    return out


#: areal-transfer weight quantum: wq = (value * AREAL_K * |tile area|)
#: // |ring area| — exact integers, error <= value/AREAL_K per tile
AREAL_K = 1 << 20


def areal_transfer(
    tile_areas: DataFrame, values: DataFrame, value_col: str = "value"
) -> DataFrame:
    """(tx, ty, alloc) — areal interpolation: redistribute a per-ring
    quantity (population, counts, mass) onto tiles proportionally to
    the clipped areas from ``tile_polygon_areas``.  True proportional
    allocation value·area/total is a float; the allocation here is the
    exact integer

        alloc_tile = Σ_rings (value · AREAL_K · |area2q|) // |Σ area2q|

    (the IDW quantization discipline): one exact decimal(38,0) floor
    division per (ring, tile), so every allocation is bit-reproducible
    and ORDER-FREE, with quantization error <= value/AREAL_K per tile
    — divide by AREAL_K consumer-side for the real-valued answer.
    Signed areas enter through ABS so both ring orientations allocate
    identically.  Plan: one per-ring total agg + a join back + one
    per-tile agg; everything combines map-side."""
    tot = tile_areas.groupBy("group_id").agg(
        F.sum(F.abs(F.col("area2q"))).alias("_tot")
    )
    v = values.select(
        F.col("group_id"), F.col(value_col).cast("decimal(38,0)").alias("_v")
    )
    j = tile_areas.join(tot, "group_id").join(v, "group_id")
    num = F.col("_v") * F.lit(AREAL_K).cast("decimal(38,0)") * F.abs(
        F.col("area2q")
    )
    wq = ((num - F.pmod(num, F.col("_tot"))) / F.col("_tot")).cast(
        "decimal(38,0)"
    )
    return (
        j.withColumn("_wq", wq)
        .groupBy("tx", "ty")
        .agg(F.sum("_wq").cast("decimal(38,0)").alias("alloc"))
    )


def bearing_histogram(segs: DataFrame) -> DataFrame:
    """(group_id, bh_n0..bh_n3, bh_l0..bh_l3) — the street-grid
    orientation histogram (the road-orientation-entropy statistic city
    morphology studies compute): every segment's UNDIRECTED bearing
    quantized into four 45-degree sectors, per way the sector counts
    and the exact squared-length mass per sector.

    The same exact-integer sector discipline as the gradient
    orientation histogram (multimodal.orientation_hist_stage):
    after upper-half-plane normalization ((dx, dy) -> (-dx, -dy) when
    dy < 0 or dy = 0, dx < 0) the 0/45/90/135-degree boundaries are
    pure integer comparisons — no atan2, no floats, bit-reproducible.
    Left-closed 45-degree sectors of the normalized angle in [0, 180):
    0 = [0, 45): nx > ny; 1 = [45, 90): nx > 0 and ny >= nx;
    2 = [90, 135): nx <= 0 and ny > -nx; 3 = [135, 180): the rest.
    Zero-length segments are dropped (no bearing).
    Squared lengths in decimal(38,0) (whole-globe deltas pass 2^63
    when squared).  One hash aggregate; map-side combine."""
    dx = F.col("x2") - F.col("x1")
    dy = F.col("y2") - F.col("y1")
    flip = (dy < 0) | ((dy == 0) & (dx < 0))
    nx = F.when(flip, -dx).otherwise(dx)
    ny = F.when(flip, -dy).otherwise(dy)
    l2 = nx.cast(_DEC) * nx.cast(_DEC) + ny.cast(_DEC) * ny.cast(_DEC)
    sec = (
        F.when(nx > ny, 0)
        .when((nx > 0) & (ny >= nx), 1)
        .when((nx <= 0) & (ny > -nx), 2)
        .otherwise(3)
    )
    base = segs.filter((dx != 0) | (dy != 0)).select(
        "group_id", sec.alias("_s"), l2.alias("_l2")
    )
    aggs = []
    for b in range(4):
        aggs.append(
            F.sum(F.when(F.col("_s") == b, 1).otherwise(0))
            .cast("long")
            .alias(f"bh_n{b}")
        )
        aggs.append(
            F.sum(F.when(F.col("_s") == b, F.col("_l2")))
            .cast(_DEC)
            .cast("string")
            .alias(f"bh_l{b}")
        )
    return base.groupBy("group_id").agg(*aggs)
