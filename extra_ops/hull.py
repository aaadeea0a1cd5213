"""Convex hull (ST_ConvexHull) over resolved way chains, plus the
two-level distributed hull of an arbitrary point table.

Exact-integer discipline: every orientation test is a cross product of
decimicro int64 differences evaluated in arbitrary-precision Python ints
(global-extent differences reach ~7.2e9, so the products pass 2^63 —
the same reason way_geometry's shoelace runs in decimal(38,0)). The
hull itself is Andrew's monotone chain with STRICT left turns (minimal
hull: collinear edge-interior points dropped), emitted in canonical
order — counter-clockwise starting at the lexicographically smallest
(lon, lat) vertex — so the serialization, signature and signed area are
deterministic and reproducible by the DuckDB twin's gift-wrapping
(Jarvis march) recursive CTE, which picks each next vertex by the same
exact-integer "no point strictly right, no collinear point beyond"
rule (proven equivalent to the chain in tests across random/collinear/
duplicate fixtures).

Scale shape: per-way hulls ride resolve_way_full's existing closure agg
(the one shuffle; per-way state is O(way length), OSM-bounded). The
global hull is the canonical two-level reduction — each partition emits
only ITS OWN hull vertices (tens of rows from millions), and the final
chain runs over the tiny union on one task: hull(union of hulls) ==
hull(all points) because the hull operator is associative and
idempotent (pytest-pinned), the same merge argument a 1000-executor
run relies on.

Reference parity: the reference engine has no hull operator; this
extends its way-geometry family (osm.rs way bbox/extent handling) the
way way_geometry extends bbox to area/centroid.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from osm_replication_rust_spark.operators.resolve import resolve_way_full

Point = tuple[int, int]


def _cross(o: Point, a: Point, b: Point) -> int:
    """Exact CCW test: > 0 iff o->a->b turns left (Python ints — no
    overflow at any coordinate magnitude)."""
    return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])


def hull_ccw(pts: list[Point]) -> list[Point]:
    """Minimal convex hull of integer points, counter-clockwise,
    starting at the lexicographically smallest vertex (monotone chain,
    strict turns). Duplicates collapse; 1 or 2 distinct points return
    themselves (degenerate hulls); all-collinear inputs return the two
    extreme endpoints."""
    P = sorted(set(pts))
    if len(P) <= 2:
        return P
    lower: list[Point] = []
    for p in P:
        while len(lower) >= 2 and _cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list[Point] = []
    for p in reversed(P):
        while len(upper) >= 2 and _cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    return lower[:-1] + upper[:-1]


def hull_area2(hull: list[Point]) -> int:
    """Twice the signed shoelace area of the CCW hull — exact int,
    >= 0 by the CCW convention, 0 for degenerate (<=2 vertex) hulls."""
    n = len(hull)
    if n < 3:
        return 0
    s = 0
    for i in range(n):
        x1, y1 = hull[i]
        x2, y2 = hull[(i + 1) % n]
        s += x1 * y2 - x2 * y1
    return s


def hull_diam2(hull: list[Point]) -> int:
    """Exact squared diameter (ST_MaxDistance of the set with itself):
    the farthest pair of hull vertices — which IS the point-set
    diameter, since the maximum distance is attained at hull vertices.
    Brute over hull vertices (hulls are small after the chain reduces
    the chain/batch; the classic rotating-calipers refinement saves
    nothing at these sizes), arbitrary-precision ints — decimicro
    global extents square past 2^63, so callers carry the result as a
    decimal STRING like the shoelace area. 0 for empty/single-point
    hulls."""
    best = 0
    for i in range(len(hull)):
        x1, y1 = hull[i]
        for j in range(i + 1, len(hull)):
            x2, y2 = hull[j]
            d = (x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2)
            if d > best:
                best = d
    return best


def hull_mbr_area(hull: list[Point]) -> float:
    """Minimum-area oriented bounding rectangle (ST_OrientedEnvelope)
    area — the rotating-calipers statistic, computed by the defining
    theorem instead of the pointer dance: the optimal rectangle has a
    side collinear with a hull EDGE, so take the min over edges of
    (projection extent) x (perpendicular extent) / |edge|². Extents are
    EXACT arbitrary-precision ints (decimicro products pass 2^63);
    each per-edge area is then ONE correctly-rounded int->double cast
    per factor and two IEEE ops — bit-identical to the DuckDB twin's
    HUGEINT min/max + CAST spelling, so the float min matches across
    engines without an epsilon. O(h²) over hull vertices (same budget
    rationale as hull_diam2). 0.0 for degenerate (<3 vertex) hulls."""
    n = len(hull)
    if n < 3:
        return 0.0
    best = None
    for i in range(n):
        x1, y1 = hull[i]
        x2, y2 = hull[(i + 1) % n]
        dx, dy = x2 - x1, y2 - y1
        projs = [x * dx + y * dy for x, y in hull]
        perps = [y * dx - x * dy for x, y in hull]
        a = (
            float(max(projs) - min(projs))
            * float(max(perps) - min(perps))
            / float(dx * dx + dy * dy)
        )
        if best is None or a < best:
            best = a
    return best


def hull_signature(hull: list[Point]) -> str:
    """md5 of the canonical serialization ``lon,lat;lon,lat;...`` in
    hull order — the same spelling DuckDB's
    ``md5(string_agg(x || ',' || y, ';' ORDER BY step))`` produces."""
    ser = ";".join(f"{x},{y}" for x, y in hull)
    return hashlib.md5(ser.encode()).hexdigest()


def convex_hull_stats(
    groups: DataFrame, points: DataFrame, point_id: str = "image_id"
) -> DataFrame:
    """Per-way convex hull summary over the resolved chain:
    ``(group_id, n_hull, hull_area2, hull_sig, hull_diam2)`` with
    ``hull_area2`` / ``hull_diam2`` exact decimal STRINGS (HUGEINT-
    safe, like way_geometry's area2) and ``hull_sig`` the
    canonical-order md5; ``hull_diam2`` is the exact squared point-set
    diameter (ST_MaxDistance — attained at hull vertices), and
    ``mbr_area`` the minimum-area oriented-envelope area (float,
    engine-matched — hull_mbr_area). Ways whose chain resolved to zero
    coordinates emit nothing (inner-join semantics, as
    simplify_ways)."""
    ways = resolve_way_full(groups, points, point_id)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            gs: list[str] = []
            ns: list[int] = []
            a2: list[str] = []
            sg: list[str] = []
            d2: list[str] = []
            mb: list[float] = []
            for gid, coords in zip(pdf["group_id"], pdf["coords"]):
                if len(coords) == 0:
                    continue
                h = hull_ccw([(int(c["lon"]), int(c["lat"])) for c in coords])
                gs.append(gid)
                ns.append(len(h))
                a2.append(str(hull_area2(h)))
                sg.append(hull_signature(h))
                d2.append(str(hull_diam2(h)))
                mb.append(hull_mbr_area(h))
            yield pd.DataFrame(
                {
                    "group_id": gs,
                    "n_hull": ns,
                    "hull_area2": a2,
                    "hull_sig": sg,
                    "hull_diam2": d2,
                    "mbr_area": mb,
                }
            )

    return ways.mapInPandas(
        kernel,
        "group_id string, n_hull int, hull_area2 string, hull_sig string, "
        "hull_diam2 string, mbr_area double",
    )


def global_hull(points: DataFrame, x: str = "lon", y: str = "lat") -> DataFrame:
    """Convex hull of an entire point table as the two-level reduction:
    stage 1 replaces every Arrow batch with its own hull vertices
    (map-side, output bounded by the batch hull size), stage 2 chains
    the tiny union on ONE task. Returns ``(hull_pos, lon, lat)`` in
    canonical CCW order. Correct because hull() is associative over
    unions — hull(hull(A) u hull(B)) == hull(A u B)."""

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            h = hull_ccw(
                list(zip((int(v) for v in pdf[x]), (int(v) for v in pdf[y])))
            )
            yield pd.DataFrame({x: [p[0] for p in h], y: [p[1] for p in h]})

    def final(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: list[Point] = []
        for pdf in batches:
            acc.extend(zip((int(v) for v in pdf[x]), (int(v) for v in pdf[y])))
        if acc:
            h = hull_ccw(acc)
            yield pd.DataFrame(
                {
                    "hull_pos": range(len(h)),
                    x: [p[0] for p in h],
                    y: [p[1] for p in h],
                }
            )

    part = points.select(x, y).mapInPandas(partial, f"{x} long, {y} long")
    return part.repartition(1).mapInPandas(
        final, f"hull_pos int, {x} long, {y} long"
    )
