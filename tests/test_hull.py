"""Convex hull operator (operators/hull.py): the exact-integer
monotone chain kernel, its promised algebraic properties (associative +
idempotent over unions — the merge argument global_hull's two-level
reduction rests on), canonical-order/signature contracts, equivalence
with an independent gift-wrapping implementation (the DuckDB twin's
algorithm), and the distributed wrappers."""

import hashlib
import random
from fractions import Fraction

import pytest

from extra_ops.hull import (
    global_hull,
    hull_area2,
    hull_ccw,
    hull_signature,
)


def _cross(o, a, b):
    return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])


def _gift_wrap(pts):
    """Independent witness: Jarvis march from the lexicographic min,
    CCW, minimal hull — next vertex q has no point strictly right of
    cur->q and no collinear point beyond q (the exact rule the DuckDB
    recursive CTE spells)."""
    P = sorted(set(pts))
    if len(P) <= 2:
        return P
    start = P[0]
    hull = [start]
    cur = start
    while True:
        nxt = None
        for q in P:
            if q == cur:
                continue
            if nxt is None:
                nxt = q
                continue
            c = _cross(cur, nxt, q)
            if c < 0:
                nxt = q
            elif c == 0:
                # collinear: keep the farther one (minimal hull)
                dq = (q[0] - cur[0]) ** 2 + (q[1] - cur[1]) ** 2
                dn = (nxt[0] - cur[0]) ** 2 + (nxt[1] - cur[1]) ** 2
                if dq > dn:
                    nxt = q
        if nxt == start:
            break
        hull.append(nxt)
        cur = nxt
    return hull


def _rand_pts(rng, n, lo=-7_200_000_000, hi=7_200_000_000):
    return [(rng.randint(lo, hi), rng.randint(lo, hi)) for _ in range(n)]


def test_hull_degenerate_cases():
    assert hull_ccw([]) == []
    assert hull_ccw([(5, 5), (5, 5)]) == [(5, 5)]
    assert hull_ccw([(0, 0), (3, 3)]) == [(0, 0), (3, 3)]
    # all-collinear: the two extreme endpoints only
    assert hull_ccw([(0, 0), (1, 1), (2, 2), (3, 3)]) == [(0, 0), (3, 3)]
    assert hull_area2([(0, 0), (3, 3)]) == 0


def test_hull_square_canonical_order():
    """Unit square with interior + edge-midpoint points: minimal hull
    is the 4 corners, CCW from the lexicographic min (0,0)."""
    pts = [(0, 0), (2, 0), (2, 2), (0, 2), (1, 1), (1, 0), (0, 1), (2, 1)]
    h = hull_ccw(pts)
    assert h == [(0, 0), (2, 0), (2, 2), (0, 2)]
    assert hull_area2(h) == 8  # 2 * area(4)


def test_hull_matches_gift_wrapping_on_adversarial_fixtures():
    rng = random.Random(7)
    fixtures = [
        _rand_pts(rng, 40),
        _rand_pts(rng, 3),
        # duplicates: every point twice
        _rand_pts(rng, 15) * 2,
        # collinear clusters on a lattice (many exact collinearities)
        [(x, 2 * x + 1) for x in range(-10, 11)] + _rand_pts(rng, 10, -30, 30),
        # small lattice — dense exact ties
        [(x, y) for x in range(-3, 4) for y in range(-3, 4)],
        # global-extent magnitudes (products pass 2^63 — exactness test)
        _rand_pts(rng, 25, -3_600_000_000, 3_600_000_000)
        + [(-7_200_000_000, 900_000_000), (7_200_000_000, -900_000_000)],
    ]
    for pts in fixtures:
        assert hull_ccw(pts) == _gift_wrap(pts), pts[:5]


def test_hull_associative_and_idempotent():
    """hull(hull(A) u hull(B)) == hull(A u B) and hull(hull(A)) ==
    hull(A) — the exact merge argument the two-level global_hull
    reduction (and a 1000-executor run of it) relies on."""
    rng = random.Random(11)
    for trial in range(20):
        a = _rand_pts(rng, rng.randint(1, 60))
        b = _rand_pts(rng, rng.randint(1, 60))
        whole = hull_ccw(a + b)
        merged = hull_ccw(hull_ccw(a) + hull_ccw(b))
        assert merged == whole, trial
        assert hull_ccw(whole) == whole, trial  # idempotent


def test_hull_vertices_are_extreme_and_ccw():
    """Every input point lies inside-or-on the hull (no left turn
    missed), consecutive hull turns are strictly left (minimal), and
    the signed area is positive (CCW)."""
    rng = random.Random(23)
    pts = _rand_pts(rng, 200, -10**9, 10**9)
    h = hull_ccw(pts)
    n = len(h)
    assert hull_area2(h) > 0
    for i in range(n):
        o, a = h[i], h[(i + 1) % n]
        assert _cross(o, a, h[(i + 2) % n]) > 0  # strict turn
        for p in pts:  # all points on the left of every edge (or on it)
            assert _cross(o, a, p) >= 0


def test_hull_signature_spelling_matches_duckdb():
    """hull_signature == md5 of 'x,y;x,y;...' in hull order — the exact
    string DuckDB's md5(string_agg(x || ',' || y, ';' ORDER BY step))
    builds, including negative coordinates."""
    h = [(-3, 0), (2, -1), (4, 5)]
    assert hull_signature(h) == hashlib.md5(b"-3,0;2,-1;4,5").hexdigest()


def test_hull_centroid_invariance_under_translation():
    """Exact check that the hull commutes with integer translation —
    guards against any hidden float in the kernel (Fraction-exact
    vertex compare after shifting by a global-extent offset)."""
    rng = random.Random(5)
    pts = _rand_pts(rng, 50, -10**6, 10**6)
    dx, dy = 7_199_999_999, -3_599_999_998
    h0 = hull_ccw(pts)
    h1 = hull_ccw([(x + dx, y + dy) for x, y in pts])
    assert [(Fraction(x + dx), Fraction(y + dy)) for x, y in h0] == [
        (Fraction(x), Fraction(y)) for x, y in h1
    ]


def test_convex_hull_stats_spark(spark):
    """Distributed per-way hulls == driver-side kernel on the resolved
    chains; zero-coordinate ways drop (inner-join semantics)."""
    from extra_ops.hull import convex_hull_stats

    groups = spark.createDataFrame(
        [
            ("w1", "way", [{"type": "image", "ref": r} for r in ["a", "b", "c", "d", "e"]]),
            ("w2", "way", [{"type": "image", "ref": r} for r in ["a", "b"]]),
            ("w3", "way", [{"type": "image", "ref": "zz"}]),  # unresolvable
            ("r1", "relation", [{"type": "image", "ref": "a"}]),
        ],
        "group_id string, kind string, members array<struct<type string, ref string>>",
    )
    pts = spark.createDataFrame(
        [
            ("a", 0, 0),
            ("b", 40, 0),
            ("c", 40, 40),
            ("d", 0, 40),
            ("e", 20, 20),  # interior
        ],
        "image_id string, lat long, lon long",
    )
    got = {r.group_id: r for r in convex_hull_stats(groups, pts).collect()}
    assert set(got) == {"w1", "w2"}
    w1 = got["w1"]
    assert w1.n_hull == 4
    assert w1.hull_area2 == str(2 * 40 * 40)
    # canonical CCW from lexicographic (lon, lat) min: (0,0)->(40,0)->(40,40)->(0,40)
    assert w1.hull_sig == hashlib.md5(b"0,0;40,0;40,40;0,40").hexdigest()
    assert got["w2"].n_hull == 2 and got["w2"].hull_area2 == "0"
    # exact squared diameter: the square's diagonal; 2-point hull = the
    # segment's squared length
    assert w1.hull_diam2 == str(40 * 40 + 40 * 40)
    assert got["w2"].hull_diam2 == str(40 * 40)


@pytest.mark.parametrize("parts", [1, 7])
def test_global_hull_two_level_matches_driver_kernel(spark, parts):
    """global_hull (partition-partial hulls -> one-task final chain)
    == hull_ccw of all points, regardless of partitioning — the
    distributed associativity witness."""
    rng = random.Random(31)
    pts = _rand_pts(rng, 300, -2_000_000_000, 2_000_000_000)
    df = spark.createDataFrame(pts, "lon long, lat long").repartition(parts)
    got = [
        (r.lon, r.lat)
        for r in global_hull(df).orderBy("hull_pos").collect()
    ]
    assert got == hull_ccw(pts)


def test_hull_diam2_matches_brute_all_pairs():
    """Diameter over HULL vertices == diameter over ALL points (the max
    distance is attained at hull vertices), on random clouds including
    collinear and duplicate-heavy ones; values past 2^63 stay exact."""
    import numpy as np

    from extra_ops.hull import hull_ccw, hull_diam2

    rng = np.random.default_rng(7)
    for trial in range(5):
        pts = [
            (int(x), int(y))
            for x, y in rng.integers(-(2**33), 2**33, size=(60, 2))
        ]
        if trial == 3:  # collinear line
            pts = [(i * 7, i * 3) for i in range(40)]
        if trial == 4:  # duplicates
            pts = pts[:10] * 6
        brute = max(
            (a[0] - b[0]) ** 2 + (a[1] - b[1]) ** 2
            for a in pts
            for b in pts
        )
        assert hull_diam2(hull_ccw(pts)) == brute
    # hemisphere-magnitude coordinates: squared diameter passes 2^63
    big = [(-1_800_000_000, -900_000_000), (1_800_000_000, 900_000_000), (0, 0)]
    d = hull_diam2(hull_ccw(big))
    assert d == 3_600_000_000**2 + 1_800_000_000**2 and d > 2**63
    # degenerate
    assert hull_diam2([]) == 0 and hull_diam2([(5, 5)]) == 0


def test_hull_mbr_area_known_shapes():
    from extra_ops.hull import hull_ccw, hull_mbr_area

    # axis-aligned unit square: MBR is the square itself
    sq = hull_ccw([(0, 0), (10, 0), (10, 10), (0, 10)])
    assert hull_mbr_area(sq) == 100.0
    # 45-degree diamond: optimal rectangle aligns with an edge
    # (side sqrt(200)), area 200 — HALF the axis-aligned bbox (400)
    dia = hull_ccw([(10, 0), (20, 10), (10, 20), (0, 10)])
    assert abs(hull_mbr_area(dia) - 200.0) < 1e-9
    # thin 3-point sliver: area ~ base * height
    tri = hull_ccw([(0, 0), (100, 0), (50, 2)])
    assert abs(hull_mbr_area(tri) - 200.0) < 1e-9
    # degenerate: segment / point
    assert hull_mbr_area(hull_ccw([(0, 0), (5, 5)])) == 0.0
    assert hull_mbr_area(hull_ccw([(3, 3)])) == 0.0


def test_hull_mbr_area_is_min_over_rotations():
    import math
    import random

    from extra_ops.hull import hull_ccw, hull_mbr_area

    rng = random.Random(5)
    pts = [(rng.randrange(-1000, 1000), rng.randrange(-1000, 1000))
           for _ in range(60)]
    h = hull_ccw(pts)
    got = hull_mbr_area(h)
    # dense rotation sweep can only be >= the edge-aligned optimum
    # (theorem: the min-area rectangle is edge-collinear), and the
    # sweep minimum must come within a hair of it
    best = float("inf")
    for k in range(3600):
        t = k * math.pi / 3600
        c, s = math.cos(t), math.sin(t)
        xs = [x * c + y * s for x, y in h]
        ys = [-x * s + y * c for x, y in h]
        best = min(best, (max(xs) - min(xs)) * (max(ys) - min(ys)))
    assert got <= best + 1e-6
    assert best <= got * 1.0001
