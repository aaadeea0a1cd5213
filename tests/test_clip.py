"""clip_ways_to_tiles: Liang–Barsky per-tile way splitting;
densify_segments: ST_Segmentize's evenly-spaced vertex insertion."""

import math

import numpy as np
import pandas as pd
import pytest

from osm_replication_rust_spark.functions import coords as C
from extra_ops.clip import (
    clip_ways_to_tiles,
    densify_segments,
    way_segments,
)

RES = 23
EDGE = C.cell_edge(RES)


def _mk(spark, pts, ways):
    points = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": list(pts),
                "lat": [p[1] for p in pts.values()],
                "lon": [p[0] for p in pts.values()],
            }
        )
    )
    groups = spark.createDataFrame(
        [
            (gid, "way", [{"ref": r, "type": "image", "role": ""} for r in refs])
            for gid, refs in ways.items()
        ],
        "group_id string, kind string, members array<struct<ref:string,type:string,role:string>>",
    )
    return groups, points


def _ref_clip(x1, y1, x2, y2, tx, ty):
    """Plain-python Liang–Barsky reference (floats)."""
    xmin = float(tx * EDGE - C.LON_OFFSET)
    ymin = float(ty * EDGE - C.LAT_OFFSET)
    xmax, ymax = xmin + EDGE, ymin + EDGE
    x1, y1 = float(x1), float(y1)
    dx, dy = float(x2 - x1), float(y2 - y1)

    def axis(d, p, lo, hi):
        if d != 0.0:
            a, b = (lo - p) / d, (hi - p) / d
            return min(a, b), max(a, b)
        return (0.0, 1.0) if lo <= p <= hi else (2.0, -1.0)

    xlo, xhi = axis(dx, x1, xmin, xmax)
    ylo, yhi = axis(dy, y1, ymin, ymax)
    t0, t1 = max(0.0, xlo, ylo), min(1.0, xhi, yhi)
    if t0 > t1:
        return None
    return (x1 + t0 * dx, y1 + t0 * dy, x1 + t1 * dx, y1 + t1 * dy)


def test_clip_matches_reference_and_covers(spark):
    rng = np.random.default_rng(7)
    n = 40
    lon = rng.integers(-30_000_000, 30_000_000, n)
    lat = rng.integers(-30_000_000, 30_000_000, n)
    pts = {f"p{i}": (int(lon[i]), int(lat[i])) for i in range(n)}
    ways = {f"w{k}": [f"p{i}" for i in range(4 * k, 4 * k + 4)] for k in range(10)}
    groups, points = _mk(spark, pts, ways)

    out = clip_ways_to_tiles(groups, points, res=RES).collect()
    segs = {
        (r.group_id, r.pos): r
        for r in way_segments(groups, points).collect()
    }

    # 1) every piece matches the plain-python reference clip exactly
    seen = set()
    for r in out:
        s = segs[(r.group_id, r.pos)]
        ref = _ref_clip(s.x1, s.y1, s.x2, s.y2, r.tx, r.ty)
        assert ref is not None, (r.group_id, r.pos, r.tx, r.ty)
        assert (r.cx1, r.cy1, r.cx2, r.cy2) == ref
        # piece lies inside the tile extent (closed box, up to one ulp
        # of t*d rounding — the clip itself is bit-exact vs the oracle)
        xmin = r.tx * EDGE - C.LON_OFFSET
        ymin = r.ty * EDGE - C.LAT_OFFSET
        tol = 1e-3
        for x, y in [(r.cx1, r.cy1), (r.cx2, r.cy2)]:
            assert xmin - tol <= x <= xmin + EDGE + tol
            assert ymin - tol <= y <= ymin + EDGE + tol
        seen.add((r.group_id, r.pos, r.tx, r.ty))

    # 2) completeness: every tile the reference clip accepts is emitted
    for (gid, pos), s in segs.items():
        txa = (min(s.x1, s.x2) + C.LON_OFFSET) >> RES
        txb = (max(s.x1, s.x2) + C.LON_OFFSET) >> RES
        tya = (min(s.y1, s.y2) + C.LAT_OFFSET) >> RES
        tyb = (max(s.y1, s.y2) + C.LAT_OFFSET) >> RES
        for tx in range(txa, txb + 1):
            for ty in range(tya, tyb + 1):
                if _ref_clip(s.x1, s.y1, s.x2, s.y2, tx, ty) is not None:
                    assert (gid, pos, tx, ty) in seen

    # 3) pieces chain: within a segment, consecutive tiles share endpoints
    by_seg: dict = {}
    for r in out:
        by_seg.setdefault((r.group_id, r.pos), []).append(r)
    def param(r, s, x, y):
        return (x - s.x1) / (s.x2 - s.x1) if s.x2 != s.x1 else (y - s.y1) / (s.y2 - s.y1)

    for (gid, pos), rs in by_seg.items():
        s = segs[(gid, pos)]
        if s.x1 == s.x2 and s.y1 == s.y2:
            continue
        ivs = sorted(
            (param(r, s, r.cx1, r.cy1), param(r, s, r.cx2, r.cy2)) for r in rs
        )
        hi = 0.0
        for a, b in ivs:
            assert a <= hi + 1e-12
            hi = max(hi, b)
        assert hi >= 1.0 - 1e-12


@pytest.mark.parametrize(
    "a,b",
    [
        ((100, 100), (100, 200)),              # vertical, inside one tile
        ((100, 100), (EDGE * 3, 100)),         # horizontal, spans tiles
        ((0, 0), (0, 0)),                      # degenerate point segment
        ((EDGE - C.LON_OFFSET % EDGE, 5), (EDGE - C.LON_OFFSET % EDGE, 9000)),
    ],
)
def test_clip_degenerate_segments(spark, a, b):
    pts = {"a": a, "b": b}
    groups, points = _mk(spark, pts, {"w": ["a", "b"]})
    out = clip_ways_to_tiles(groups, points, res=RES).collect()
    assert out, "every segment must land in at least one tile"
    for r in out:
        ref = _ref_clip(a[0], a[1], b[0], b[1], r.tx, r.ty)
        assert ref == (r.cx1, r.cy1, r.cx2, r.cy2)


def _segs_df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["group_id", "pos", "x1", "y1", "x2", "y2"])
    )


def _ref_densify(x1, y1, x2, y2, gap):
    """Plain-python reference: the same IEEE tree as the operator."""
    dx, dy = float(x2 - x1), float(y2 - y1)
    n = max(math.ceil(math.sqrt(dx * dx + dy * dy) / float(gap)), 1)
    return {
        j: (float(x1) + (dx * float(j)) / float(n), float(y1) + (dy * float(j)) / float(n))
        for j in range(1, n)
    }


def test_densify_matches_reference_bitwise(spark):
    rng = np.random.default_rng(11)
    rows = [
        (
            f"g{i}",
            0,
            int(rng.integers(-1_800_000_000, 1_800_000_000)),
            int(rng.integers(-900_000_000, 900_000_000)),
            int(rng.integers(-1_800_000_000, 1_800_000_000)),
            int(rng.integers(-900_000_000, 900_000_000)),
        )
        for i in range(30)
    ]
    gap = 100_000_000
    out = densify_segments(_segs_df(spark, rows), max_gap=gap).collect()
    got = {}
    for r in out:
        got.setdefault(r.group_id, {})[r.j] = (r.px, r.py)
    for gid, pos, x1, y1, x2, y2 in rows:
        ref = _ref_densify(x1, y1, x2, y2, gap)
        assert got.get(gid, {}) == ref, gid  # exact float equality


def test_densify_gap_bound_with_endpoints(spark):
    rows = [("g", 0, -300_000_000, -100_000_000, 355_000_001, 200_000_003)]
    gap = 50_000_000
    out = densify_segments(_segs_df(spark, rows), max_gap=gap).collect()
    pts = (
        [(float(rows[0][2]), float(rows[0][3]))]
        + [(r.px, r.py) for r in sorted(out, key=lambda r: r.j)]
        + [(float(rows[0][4]), float(rows[0][5]))]
    )
    assert len(pts) > 3, "long segment must densify"
    for (ax, ay), (bx, by) in zip(pts, pts[1:]):
        assert math.hypot(bx - ax, by - ay) <= gap * (1 + 1e-12)


def test_densify_short_and_degenerate_emit_nothing(spark):
    rows = [
        ("short", 0, 0, 0, 10, 10),           # len << gap -> n_sub = 1
        ("point", 1, 5, 5, 5, 5),             # zero-length
        ("exact", 2, 0, 0, 100_000_000, 0),   # len == gap exactly -> n_sub = 1
    ]
    out = densify_segments(_segs_df(spark, rows), max_gap=100_000_000).collect()
    assert out == []


def test_densify_reversed_segment_same_point_set(spark):
    # the inserted j-points of a reversed segment are the same chain
    # positions (j <-> n-j); values may differ by rounding, never by
    # placement — counts and integer-resolution positions agree
    fwd = [("f", 0, 0, 0, 777_000_000, 333_000_000)]
    rev = [("r", 0, 777_000_000, 333_000_000, 0, 0)]
    gap = 100_000_000
    a = densify_segments(_segs_df(spark, fwd), max_gap=gap).collect()
    b = densify_segments(_segs_df(spark, rev), max_gap=gap).collect()
    assert len(a) == len(b) > 0
    fa = sorted((round(r.px), round(r.py)) for r in a)
    fb = sorted((round(r.px), round(r.py)) for r in b)
    assert fa == fb


def test_clip_missing_ref_skips_vertex(spark):
    pts = {"a": (0, 0), "c": (10_000_000, 0)}
    groups, points = _mk(spark, pts, {"w": ["a", "ghost", "c"]})
    out = clip_ways_to_tiles(groups, points, res=RES).collect()
    # chain is a->c (ghost dropped); start pos of the single segment is 0
    assert {r.pos for r in out} == {0}
    assert {(r.cx1, r.cy1) for r in out if r.tx == (0 + C.LON_OFFSET) >> RES} \
        .issubset({(0.0, 0.0), (float((0 + C.LON_OFFSET >> RES) * EDGE - C.LON_OFFSET), 0.0)})


def test_densify_rejects_nonpositive_gap(spark):
    rows = [("g", 0, 0, 0, 10, 10)]
    for bad in (0, -5):
        with pytest.raises(ValueError):
            densify_segments(_segs_df(spark, rows), max_gap=bad)


# ---------------------------------------------------------------------------
# tile_polygon_areas (Green's-theorem clamp identity, quantized)
# ---------------------------------------------------------------------------

_TPA_RES, _TPA_Q = 20, 16


def _tpa_segs(spark, rings):
    rows = []
    for gid, ring in rings.items():
        closed = list(ring) + [ring[0]]
        for pos, (a, b) in enumerate(zip(closed, closed[1:])):
            rows.append((gid, pos, a[0], a[1], b[0], b[1]))
    return spark.createDataFrame(
        rows, "group_id string, pos int, x1 long, y1 long, x2 long, y2 long"
    )


def _ref_tile_area2q(ring, rect, q):
    """Python reference of the exact quantized clamp identity: python's
    floor-div IS the contract's floor division."""
    Q = 1 << q
    x0, y0, x1, y1 = rect
    tot = 0
    n = len(ring)
    for i in range(n):
        (ax, ay), (bx, by) = ring[i], ring[(i + 1) % n]
        cands = [(0.0, 0, ax * Q, ay * Q), (1.0, 5, bx * Q, by * Q)]

        def cross(c, p1, p2, o1, o2, idx, is_x):
            if (p1 < c < p2) or (p2 < c < p1):
                td = (c - p1) / (p2 - p1)
                oq = o1 * Q + ((c - p1) * (o2 - o1) * Q) // (p2 - p1)
                pq = c * Q
                cands.append(
                    (td, idx, pq if is_x else oq, oq if is_x else pq)
                )

        cross(x0, ax, bx, ay, by, 1, True)
        cross(x1, ax, bx, ay, by, 2, True)
        cross(y0, ay, by, ax, bx, 3, False)
        cross(y1, ay, by, ax, bx, 4, False)
        cands.sort(key=lambda s: (s[0], s[1]))
        pts = [
            (min(max(xq, x0 * Q), x1 * Q), min(max(yq, y0 * Q), y1 * Q))
            for _, _, xq, yq in cands
        ]
        for p, r in zip(pts, pts[1:]):
            tot += p[0] * r[1] - r[0] * p[1]
    return tot


def _shoelace2(ring):
    n = len(ring)
    return sum(
        ring[i][0] * ring[(i + 1) % n][1] - ring[(i + 1) % n][0] * ring[i][1]
        for i in range(n)
    )


def test_tpa_matches_python_reference(spark):
    import random

    from osm_replication_rust_spark.functions.coords import (
        LAT_OFFSET,
        LON_OFFSET,
    )
    from extra_ops.clip import tile_polygon_areas

    rng = random.Random(9)
    rings = {}
    for g in range(5):
        n = rng.randint(3, 7)
        rings[f"g{g}"] = [
            (rng.randint(-3_000_000, 3_000_000), rng.randint(-3_000_000, 3_000_000))
            for _ in range(n)
        ]
    got = {
        (r.group_id, r.tx, r.ty): int(r.area2q)
        for r in tile_polygon_areas(
            _tpa_segs(spark, rings), res=_TPA_RES, qshift=_TPA_Q
        ).collect()
    }
    want = {}
    for gid, ring in rings.items():
        xs = [p[0] for p in ring]
        ys = [p[1] for p in ring]
        for tx in range((min(xs) + LON_OFFSET) >> _TPA_RES,
                        ((max(xs) + LON_OFFSET) >> _TPA_RES) + 1):
            for ty in range((min(ys) + LAT_OFFSET) >> _TPA_RES,
                            ((max(ys) + LAT_OFFSET) >> _TPA_RES) + 1):
                rect = (
                    (tx << _TPA_RES) - LON_OFFSET,
                    (ty << _TPA_RES) - LAT_OFFSET,
                    ((tx + 1) << _TPA_RES) - LON_OFFSET,
                    ((ty + 1) << _TPA_RES) - LAT_OFFSET,
                )
                a = _ref_tile_area2q(ring, rect, _TPA_Q)
                if a != 0:
                    want[(gid, tx, ty)] = a
    assert got == want
    # quantization-bounded partition: Σ tiles ≈ ring area, and at least
    # one ring spans multiple tiles
    for gid, ring in rings.items():
        s = sum(v for (g, _, _), v in got.items() if g == gid)
        tot = _shoelace2(ring) * (1 << _TPA_Q) ** 2
        n_cross = sum(1 for (g, _, _) in got if g == gid) * 8
        assert abs(s - tot) <= n_cross * (1 << _TPA_Q) * (1 << _TPA_RES) * 4
    assert len({(tx, ty) for (_, tx, ty) in got}) > len(rings)


def test_tpa_lattice_exact_partition_and_orientation(spark):
    """Crossings of axis-aligned rings land EXACTLY on the lattice, so
    the tile areas partition the ring area with zero error; reversing
    the ring negates every tile."""
    from extra_ops.clip import tile_polygon_areas

    e = 1 << _TPA_RES
    # CCW staircase spanning a 2x2 tile block, vertices at half-tile
    # offsets (tile-grid-aligned lines land exactly)
    stair = [
        (0, 0), (e + e // 2, 0), (e + e // 2, e // 2), (e // 2, e // 2),
        (e // 2, e + e // 2), (0, e + e // 2),
    ]
    rings = {"ccw": stair, "cw": list(reversed(stair))}
    got = {}
    for r in tile_polygon_areas(
        _tpa_segs(spark, rings), res=_TPA_RES, qshift=_TPA_Q
    ).collect():
        got.setdefault(r.group_id, {})[(r.tx, r.ty)] = int(r.area2q)
    q2 = (1 << _TPA_Q) ** 2
    want_total = _shoelace2(stair) * q2
    assert want_total > 0
    assert sum(got["ccw"].values()) == want_total  # EXACT partition
    assert got["cw"] == {k: -v for k, v in got["ccw"].items()}
    assert len(got["ccw"]) >= 3  # genuinely split across tiles


def test_tpa_containment_cases(spark):
    from osm_replication_rust_spark.functions.coords import (
        LAT_OFFSET,
        LON_OFFSET,
    )
    from extra_ops.clip import tile_polygon_areas

    e = 1 << _TPA_RES
    q2 = (1 << _TPA_Q) ** 2
    # true tile corner (coordinate 0 is NOT tile-aligned: the offsets
    # are not multiples of the tile edge)
    mtx, mty = 1717, 859
    bx = (mtx << _TPA_RES) - LON_OFFSET
    by = (mty << _TPA_RES) - LAT_OFFSET
    # ring fully inside one tile -> exactly one row, the full ring area
    inner = [(bx + e // 4, by + e // 4), (bx + e // 2, by + e // 4),
             (bx + e // 2, by + e // 2)]
    # ring covering the full middle tile plus margins -> that tile's
    # row is exactly 2 * tile_area
    big = [(bx - e, by - e), (bx + 2 * e, by - e),
           (bx + 2 * e, by + 2 * e), (bx - e, by + 2 * e)]
    rows = tile_polygon_areas(
        _tpa_segs(spark, {"inner": inner, "big": big}),
        res=_TPA_RES, qshift=_TPA_Q,
    ).collect()
    inner_rows = [r for r in rows if r.group_id == "inner"]
    assert len(inner_rows) == 1
    assert (inner_rows[0].tx, inner_rows[0].ty) == (mtx, mty)
    assert int(inner_rows[0].area2q) == _shoelace2(inner) * q2
    big_mid = [r for r in rows if r.group_id == "big"
               and (r.tx, r.ty) == (mtx, mty)]
    assert len(big_mid) == 1
    assert int(big_mid[0].area2q) == 2 * e * e * q2
    # and the big ring's tiles partition its area exactly (all its
    # edges are tile-aligned lines)
    s = sum(int(r.area2q) for r in rows if r.group_id == "big")
    assert s == _shoelace2(big) * q2


def test_tpa_guards(spark):
    from extra_ops.clip import tile_polygon_areas

    segs = _tpa_segs(spark, {"g": [(0, 0), (10, 0), (10, 10)]})
    with pytest.raises(ValueError, match="qshift"):
        tile_polygon_areas(segs, qshift=25)
    with pytest.raises(ValueError, match="res"):
        tile_polygon_areas(segs, res=40)


def test_areal_transfer_exact_and_conserving(spark):
    from extra_ops.clip import (
        AREAL_K,
        areal_transfer,
        tile_polygon_areas,
    )

    e = 1 << _TPA_RES
    # two overlapping rings (opposite orientations — ABS must equalize)
    rings = {
        "r1": [(0, 0), (e, 0), (e, e), (0, e)],
        "r2": list(reversed([(e // 2, e // 2), (2 * e, e // 2),
                             (2 * e, 2 * e), (e // 2, 2 * e)])),
    }
    tpa = tile_polygon_areas(_tpa_segs(spark, rings), res=_TPA_RES,
                             qshift=_TPA_Q)
    vals = spark.createDataFrame(
        [("r1", 100), ("r2", 7)], "group_id string, value long"
    )
    got = {(r.tx, r.ty): int(r.alloc)
           for r in areal_transfer(tpa, vals).collect()}
    # python reference over the collected tile areas
    areas = [(r.group_id, r.tx, r.ty, int(r.area2q)) for r in tpa.collect()]
    tot = {}
    for g, _, _, a in areas:
        tot[g] = tot.get(g, 0) + abs(a)
    vmap = {"r1": 100, "r2": 7}
    want = {}
    for g, tx, ty, a in areas:
        wq = (vmap[g] * AREAL_K * abs(a)) // tot[g]
        want[(tx, ty)] = want.get((tx, ty), 0) + wq
    assert got == want
    # conservation: per ring the allocation loses < 1 quantum per tile
    for g, v in vmap.items():
        alloc_g = sum((v * AREAL_K * abs(a)) // tot[g]
                      for gg, _, _, a in areas if gg == g)
        n_tiles = sum(1 for gg, _, _, _ in areas if gg == g)
        assert v * AREAL_K - n_tiles < alloc_g <= v * AREAL_K


def test_bearing_histogram_vs_atan2_reference(spark):
    import math
    import random

    from extra_ops.clip import bearing_histogram

    rng = random.Random(31)
    rows = []
    want = {}
    for g in range(6):
        gid = f"g{g}"
        want[gid] = {f"bh_n{b}": 0 for b in range(4)}
        want[gid].update({f"bh_l{b}": None for b in range(4)})
        for pos in range(8):
            x1, y1, x2, y2 = (rng.randint(-2_000_000_000, 2_000_000_000)
                              for _ in range(4))
            rows.append((gid, pos, x1, y1, x2, y2))
            dx, dy = x2 - x1, y2 - y1
            if dx == 0 and dy == 0:
                continue
            theta = math.degrees(math.atan2(dy, dx)) % 180.0
            b = int(theta // 45.0) % 4
            want[gid][f"bh_n{b}"] += 1
            l2 = dx * dx + dy * dy
            want[gid][f"bh_l{b}"] = (want[gid][f"bh_l{b}"] or 0) + l2
    # planted exact boundaries: 0, 45, 90, 135 degrees -> sectors 0..3
    for pos, (dx, dy, b) in enumerate(
        [(10, 0, 0), (7, 7, 1), (0, 9, 2), (-5, 5, 3)]
    ):
        rows.append(("edge", pos, 0, 0, dx, dy))
    segs = spark.createDataFrame(
        rows, "group_id string, pos int, x1 long, y1 long, x2 long, y2 long"
    )
    got = {r.group_id: r.asDict() for r in bearing_histogram(segs).collect()}
    for gid, exp in want.items():
        for k, v in exp.items():
            gv = got[gid][k]
            if k.startswith("bh_l"):
                gv = int(gv) if gv is not None else None
            assert gv == v, (gid, k, gv, v)
    e = got["edge"]
    assert (e["bh_n0"], e["bh_n1"], e["bh_n2"], e["bh_n3"]) == (1, 1, 1, 1)
    assert int(e["bh_l1"]) == 98  # the 45-degree boundary segment
