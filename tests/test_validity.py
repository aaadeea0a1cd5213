"""Proper self-intersection detection (operators/validity.py)."""

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from extra_ops.validity import (
    self_intersection_counts,
    self_intersection_pairs,
    sql_proper_cross_expr,
)


def _segs(spark, chains):
    """chains: {group_id: [(x, y), ...]} -> way_segments shape."""
    rows = []
    for gid, pts in chains.items():
        for pos, (a, b) in enumerate(zip(pts, pts[1:])):
            rows.append(
                Row(
                    group_id=gid,
                    pos=pos,
                    x1=int(a[0]),
                    y1=int(a[1]),
                    x2=int(b[0]),
                    y2=int(b[1]),
                )
            )
    return spark.createDataFrame(rows)


def _counts(df):
    return {
        r["group_id"]: (r["n_self_x"], r["is_simple"])
        for r in df.collect()
    }


M = 1_000_000


def test_bowtie_and_square(spark):
    # bowtie: square corners visited in the crossing order -> 1 proper X
    bow = [(0, 0), (M, M), (M, 0), (0, M), (0, 0)]
    # simple closed square -> 0
    sq = [(0, 0), (M, 0), (M, M), (0, M), (0, 0)]
    segs = _segs(spark, {"bow": bow, "sq": sq})
    got = _counts(self_intersection_counts(segs, res=18))
    assert got == {"bow": (1, False), "sq": (0, True)}


def test_touch_collinear_shared_are_not_proper(spark):
    chains = {
        # T-touch: second segment ends ON the first (interior) -> 0
        "t": [(0, 0), (2 * M, 0), (M, M), (M, 0)],
        # collinear overlap retrace -> 0 (touch, not crossing)
        "col": [(0, 0), (2 * M, 0), (M, 0), (3 * M, 0)],
        # plain open zigzag sharing endpoints -> 0
        "zig": [(0, 0), (M, M), (2 * M, 0), (3 * M, M)],
    }
    got = _counts(self_intersection_counts(_segs(spark, chains), res=18))
    assert got == {"t": (0, True), "col": (0, True), "zig": (0, True)}


def test_global_magnitude_exactness(spark):
    # hemisphere-scale bowtie: cross products ~ 1.3e19 > int64 — the
    # decimal(38,0) carry must stay exact (float or wrapped int64
    # arithmetic misclassifies near-parallel giants)
    G = 1_790_000_000
    bow = [(-G, -880_000_000), (G, 880_000_000), (G, -880_000_000),
           (-G, 880_000_000), (-G, -880_000_000)]
    got = _counts(self_intersection_counts(_segs(spark, {"g": bow}), res=28))
    assert got == {"g": (1, False)}
    # near-parallel long segments that DON'T cross: exact sign must say 0
    near = [(-G, 0), (G, 3), (G, -1_000_000), (-G, -999_997)]
    got = _counts(self_intersection_counts(_segs(spark, {"n": near}), res=28))
    assert got == {"n": (0, True)}


def test_tiled_equals_brute_across_resolutions(spark):
    import random

    rng = random.Random(7)
    chains = {}
    for g in range(12):
        n = rng.randint(2, 14)
        chains[f"w{g}"] = [
            (rng.randint(-50 * M, 50 * M), rng.randint(-25 * M, 25 * M))
            for _ in range(n)
        ]
    segs = _segs(spark, chains).cache()
    try:
        brute = sorted(
            tuple(r) for r in self_intersection_pairs(segs, res=None).collect()
        )
        assert brute, "fixture should contain real crossings"
        for res in (20, 23, 26):
            tiled = sorted(
                tuple(r) for r in self_intersection_pairs(segs, res=res).collect()
            )
            assert tiled == brute, f"res={res}"
    finally:
        segs.unpersist()


def test_no_cartesian_in_tiled_plan(spark):
    segs = _segs(spark, {"a": [(0, 0), (M, M), (2 * M, 0)]})
    plan = self_intersection_pairs(segs, res=20)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sql_twin_matches_spark(spark):
    import random

    rng = random.Random(13)
    chains = {}
    for g in range(8):
        chains[f"w{g}"] = [
            (rng.randint(-10 * M, 10 * M), rng.randint(-10 * M, 10 * M))
            for _ in range(rng.randint(3, 10))
        ]
    segs = _segs(spark, chains)
    got = _counts(self_intersection_counts(segs, res=22))

    vals = ",".join(
        f"('{r['group_id']}', {r['pos']}, {r['x1']}, {r['y1']}, {r['x2']}, {r['y2']})"
        for r in segs.collect()
    )
    cross = sql_proper_cross_expr(
        "a.x1", "a.y1", "a.x2", "a.y2", "b.x1", "b.y1", "b.x2", "b.y2"
    )
    oracle = duckdb.sql(
        f"""
        WITH segs(group_id, pos, x1, y1, x2, y2) AS (VALUES {vals}),
        x AS (
          SELECT a.group_id, count(*) AS n
          FROM segs a JOIN segs b
            ON b.group_id = a.group_id AND a.pos < b.pos
          WHERE {cross}
          GROUP BY a.group_id
        )
        SELECT s.group_id, coalesce(x.n, 0) AS n
        FROM (SELECT DISTINCT group_id FROM segs) s
        LEFT JOIN x USING (group_id)
        """
    ).fetchall()
    want = {gid: (int(n), n == 0) for gid, n in oracle}
    assert got == want


# ---------------------------------------------------------------------------
# cross_intersection_pairs (two-layer overlay join)
# ---------------------------------------------------------------------------


def _brute_cross(chains_a, chains_b):
    """Pure-python proper-crossing reference between two layers."""
    def orient(p, q, r):
        return (q[0] - p[0]) * (r[1] - p[1]) - (q[1] - p[1]) * (r[0] - p[0])

    def sign(v):
        return (v > 0) - (v < 0)

    def segs(chains):
        out = []
        for gid, pts in chains.items():
            for pos, (a, b) in enumerate(zip(pts, pts[1:])):
                out.append((gid, pos, a, b))
        return out

    got = set()
    for ga, pa, a1, a2 in segs(chains_a):
        for gb, pb, b1, b2 in segs(chains_b):
            s1 = sign(orient(a1, a2, b1))
            s2 = sign(orient(a1, a2, b2))
            s3 = sign(orient(b1, b2, a1))
            s4 = sign(orient(b1, b2, a2))
            if s1 * s2 == -1 and s3 * s4 == -1:
                got.add((ga, pa, gb, pb))
    return got


def test_cross_layer_planted_and_touches(spark):
    from extra_ops.validity import (
        cross_intersection_pairs,
    )

    roads = {"r1": [(0, 0), (2 * M, 2 * M)], "r2": [(0, 3 * M), (M, 3 * M)]}
    rivers = {
        "w1": [(0, 2 * M), (2 * M, 0)],          # crosses r1 once
        "w2": [(M, M), (M, 0)],                  # T-touches r1 at (M, M) -> no
        "w3": [(5 * M, 5 * M), (6 * M, 5 * M)],  # far away
    }
    got = {
        (r.a_group, r.apos, r.b_group, r.bpos)
        for r in cross_intersection_pairs(
            _segs(spark, roads), _segs(spark, rivers), res=18
        ).collect()
    }
    assert got == {("r1", 0, "w1", 0)}
    assert got == _brute_cross(roads, rivers)


def test_cross_layer_bucketed_equals_brute_random(spark):
    """Whole-globe random chains: the canonical-tile bucketed join must
    equal the brute-force cross join pair-for-pair (exactly once)."""
    import numpy as np

    from extra_ops.validity import (
        cross_intersection_pairs,
    )

    rng = np.random.default_rng(17)

    def chains(tag, n):
        out = {}
        for i in range(n):
            pts = rng.integers(-1_500_000_000, 1_500_000_000, size=(4, 2))
            out[f"{tag}{i}"] = [(int(x), int(y)) for x, y in pts]
        return out

    a, b = chains("a", 12), chains("b", 12)
    ref = _brute_cross(a, b)
    assert len(ref) > 5  # the fixture genuinely crosses layers
    for res in (27, 29):
        rows = cross_intersection_pairs(
            _segs(spark, a), _segs(spark, b), res=res
        ).collect()
        got = [(r.a_group, r.apos, r.b_group, r.bpos) for r in rows]
        assert len(got) == len(set(got)), "pair emitted more than once"
        assert set(got) == ref, res
    # brute path (res=None) agrees too
    rows = cross_intersection_pairs(
        _segs(spark, a), _segs(spark, b), res=None
    ).collect()
    assert {(r.a_group, r.apos, r.b_group, r.bpos) for r in rows} == ref


# ---------------------------------------------------------------------------
# cross_intersection_points (overlay node-ing: ST_Intersection of lines)
# ---------------------------------------------------------------------------


def _ref_point(a1, a2, b1, b2):
    """Exact-integer reference of the shared (ix, iy) spelling: HUGEINT
    numerators as python ints, ONE float conversion + division each."""
    rx, ry = a2[0] - a1[0], a2[1] - a1[1]
    sx, sy = b2[0] - b1[0], b2[1] - b1[1]
    den = rx * sy - ry * sx
    numt = (b1[0] - a1[0]) * sy - (b1[1] - a1[1]) * sx
    ix = float(a1[0] * den + numt * rx) / float(den)
    iy = float(a1[1] * den + numt * ry) / float(den)
    return ix, iy


def test_cross_points_planted_rational(spark):
    from extra_ops.validity import (
        cross_intersection_points,
    )

    # X-crossing at exactly (5, 5); second pair meets at (18/11, 54/11)
    a = {"a1": [(0, 0), (10, 10)], "a2": [(0, 0), (3, 9)]}
    b = {"b1": [(0, 10), (10, 0)], "b2": [(0, 6), (9, 0)]}
    rows = cross_intersection_points(_segs(spark, a), _segs(spark, b), res=None)
    got = {
        (r.a_group, r.b_group): (r.ix, r.iy) for r in rows.collect()
    }
    assert got[("a1", "b1")] == (5.0, 5.0)
    assert got[("a2", "b2")] == (float(18 * 11) / 121.0, float(54 * 11) / 121.0)
    # the doubles are EXACTLY the one-shared-division reference spelling
    assert got[("a2", "b2")] == _ref_point((0, 0), (3, 9), (0, 6), (9, 0))


def test_cross_points_bucketed_equals_brute_bitwise(spark):
    import numpy as np

    from extra_ops.validity import (
        cross_intersection_points,
    )

    rng = np.random.default_rng(23)

    def chains(tag, n):
        out = {}
        for i in range(n):
            pts = rng.integers(-1_500_000_000, 1_500_000_000, size=(4, 2))
            out[f"{tag}{i}"] = [(int(x), int(y)) for x, y in pts]
        return out

    a, b = chains("p", 10), chains("q", 10)
    segs_a, segs_b = _segs(spark, a), _segs(spark, b)
    brute = {
        (r.a_group, r.apos, r.b_group, r.bpos): (r.ix, r.iy)
        for r in cross_intersection_points(segs_a, segs_b, res=None).collect()
    }
    assert len(brute) > 3
    bucketed = {
        (r.a_group, r.apos, r.b_group, r.bpos): (r.ix, r.iy)
        for r in cross_intersection_points(segs_a, segs_b, res=27).collect()
    }
    assert bucketed == brute  # exact double equality, not approx
    # every intersection point sits inside BOTH segments' bboxes, and
    # matches the exact-integer python reference bit-for-bit
    for (ga, pa, gb, pb), (ix, iy) in brute.items():
        a1, a2 = a[ga][pa], a[ga][pa + 1]
        b1, b2 = b[gb][pb], b[gb][pb + 1]
        assert min(a1[0], a2[0]) <= ix <= max(a1[0], a2[0])
        assert min(b1[1], b2[1]) <= iy <= max(b1[1], b2[1])
        assert (ix, iy) == _ref_point(a1, a2, b1, b2)
