"""Geometry compiled to Catalyst expressions.

The cell-cover discretization leaves only boundary-cell rows needing an
exact test. For polygons of modest edge count, that test itself can be
*compiled to JVM expressions* — the same even-odd ray-cast + segment
distance the numpy kernel and the generated oracle SQL implement — so
the entire spatial join becomes whole-stage-codegen'd JVM work: no
Python workers, no Arrow hops, linear thread scaling.

(Role, per BENCH.md round-2 measurements: ``assign_regions``'s
'auto' strategy resolves to the Arrow-UDF kernel — on this host it
measured 26.3M rows/s vs 11.0M for the compiled expressions, because
the F.exists buffer HOF is CodegenFallback, i.e. interpreted per
boundary row. The expr path is kept as the pure-JVM alternative for
deployments that forbid Python workers, and as the
process-isolation-friendly variant the scaling harness certifies —
request it explicitly with strategy='expr'. MAX_EXPR_EDGES bounds the
generated code size either way.)

All crossing arithmetic is exact int64 (same bounds as the kernel);
the buffered-membership distance test is float64 with the identical
per-edge formula.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .geometry import MultiPolygon

#: above this many total edges, expression compilation is declined
#: (codegen size; the Arrow kernel takes over)
MAX_EXPR_EDGES = 2048


def raycast_expr(mp: MultiPolygon, lon: Column, lat: Column) -> Column:
    """Even-odd point-in-multipolygon with boundary-counts-inside, as a
    single boolean Column (mirrors sql_raycast / points_in_polygon)."""
    crossings: Column | None = None
    boundary: Column | None = None
    ex1, ey1, ex2, ey2 = mp.edges()
    for x1, y1, x2, y2 in zip(ex1, ey1, ex2, ey2):
        x1, y1, x2, y2 = int(x1), int(y1), int(x2), int(y2)
        if y1 != y2:
            # horizontal edges can never straddle the ray — emitting
            # their (always-false) straddle test would also build a
            # trivially-equal column comparison that Spark WARNs about
            num = (F.lit(x1) - lon) * F.lit(y2 - y1) + (lat - F.lit(y1)) * F.lit(x2 - x1)
            straddle = (F.lit(y1) > lat) != (F.lit(y2) > lat)
            crossed = straddle & ((num > 0) if y2 > y1 else (num < 0))
            c = F.when(crossed, 1).otherwise(0)
            crossings = c if crossings is None else crossings + c
        on_seg = (
            ((F.lit(x2 - x1) * (lat - F.lit(y1)) - F.lit(y2 - y1) * (lon - F.lit(x1))) == 0)
            & lon.between(min(x1, x2), max(x1, x2))
            & lat.between(min(y1, y2), max(y1, y2))
        )
        boundary = on_seg if boundary is None else (boundary | on_seg)
    if crossings is None:  # degenerate all-horizontal ring
        return boundary
    return (crossings % 2 == 1) | boundary


def buffer_dist_expr(mp: MultiPolygon, lon: Column, lat: Column, buffer: int) -> Column:
    """True iff the point lies within ``buffer`` of any ring segment
    (squared-distance test against the clamped projection, float64 —
    the identical formula distance_to_boundary evaluates).

    Expressed as F.exists over a CONSTANT edge array rather than an
    unrolled per-edge OR chain: the unrolled float math for a full
    region tree blew the JVM's 64 KB method limit inside the broadcast-
    join's whole-stage consume function ("Code grows beyond 64 KB"),
    silently demoting the ENTIRE flagship stage to interpreted execution
    (~2x slower, measured). The higher-order function keeps the
    generated method O(1) per region — the stage compiles — while the
    edge loop runs over a constant-folded literal array."""
    px = lon.cast("double")
    py = lat.cast("double")
    b2 = float(buffer) * float(buffer)
    ex1, ey1, ex2, ey2 = mp.edges()
    edges = F.array(*[
        F.struct(
            F.lit(float(x1)).alias("x1"),
            F.lit(float(y1)).alias("y1"),
            F.lit(float(x2 - x1)).alias("dx"),
            F.lit(float(y2 - y1)).alias("dy"),
            F.lit(max(float((x2 - x1)) ** 2 + float((y2 - y1)) ** 2, 1.0)).alias("len2"),
        )
        for x1, y1, x2, y2 in zip(ex1, ey1, ex2, ey2)
    ])

    def near(e: Column) -> Column:
        # zero-length edges: len2 clamped to 1.0 above; dx=dy=0 makes
        # t irrelevant and d2 the plain point distance (same formula)
        t_raw = ((px - e.x1) * e.dx + (py - e.y1) * e.dy) / e.len2
        t = F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))
        cx = e.x1 + t * e.dx
        cy = e.y1 + t * e.dy
        return (px - cx) * (px - cx) + (py - cy) * (py - cy) <= F.lit(b2)

    return F.exists(edges, near)


def membership_exprs(
    regions: list[MultiPolygon],
    region_idx: Column,
    lon: Column,
    lat: Column,
    buffer: int,
) -> tuple[Column, Column]:
    """(in_poly, in_buffer) Columns dispatched on the dense region index
    — one CASE chain per predicate, fully codegen'd."""
    in_poly: Column | None = None
    in_buf: Column | None = None
    for i, mp in enumerate(regions):
        pred = raycast_expr(mp, lon, lat)
        in_poly = (
            F.when(region_idx == i, pred)
            if in_poly is None
            else in_poly.when(region_idx == i, pred)
        )
        if buffer:
            bpred = pred | buffer_dist_expr(mp, lon, lat, buffer)
        else:
            bpred = pred
        in_buf = (
            F.when(region_idx == i, bpred)
            if in_buf is None
            else in_buf.when(region_idx == i, bpred)
        )
    return in_poly.otherwise(F.lit(False)), in_buf.otherwise(F.lit(False))
