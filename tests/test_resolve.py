"""way_full / relation closure resolution (S9/S10)."""

import pandas as pd
import pytest

from osm_replication_rust_spark.operators.resolve import (
    resolve_relation_members,
    resolve_way_full,
)


@pytest.fixture(scope="module")
def world(spark):
    points = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": ["p1", "p2", "p3", "p4"],
                "lat": [1, 2, 3, 4],
                "lon": [10, 20, 30, 40],
            }
        )
    )
    groups = spark.createDataFrame(
        [
            ("w1", "way", [
                {"ref": "p3", "type": "image", "role": ""},
                {"ref": "p1", "type": "image", "role": ""},
                {"ref": "p2", "type": "image", "role": ""},
            ]),
            ("w2", "way", [
                {"ref": "p4", "type": "image", "role": ""},
                {"ref": "missing", "type": "image", "role": ""},
            ]),
            ("r1", "relation", [
                {"ref": "w1", "type": "group", "role": "outer"},
                {"ref": "p4", "type": "image", "role": "centre"},
            ]),
            ("r2", "relation", [{"ref": "r1", "type": "group", "role": "sub"}]),
            ("c1", "relation", [
                {"ref": "c2", "type": "group", "role": ""},
                {"ref": "p1", "type": "image", "role": ""},
            ]),
            ("c2", "relation", [{"ref": "c1", "type": "group", "role": ""}]),
        ],
        "group_id string, kind string, members array<struct<ref:string,type:string,role:string>>",
    )
    return points, groups


def test_way_full_order_preserved(spark, world):
    points, groups = world
    got = {r.group_id: [(c[0], c[1]) for c in r.coords] for r in resolve_way_full(groups, points).collect()}
    # member order p3, p1, p2 preserved exactly
    assert got["w1"] == [(3, 30), (1, 10), (2, 20)]
    # missing ref contributes nothing
    assert got["w2"] == [(4, 40)]


def test_relation_closure(spark, world):
    points, groups = world
    got = {}
    for r in resolve_relation_members(groups, points).collect():
        got.setdefault(r.group_id, set()).add((r.member_id, r.depth))
    # r1: direct p4 (depth 1) + w1's points (depth 2)
    assert got["r1"] == {("p4", 1), ("p1", 2), ("p2", 2), ("p3", 2)}
    # r2 reaches everything via r1 one level deeper
    assert {m for m, _ in got["r2"]} == {"p4", "p1", "p2", "p3"}
    # cycle pair: c1 has p1 direct; c2 reaches p1 through c1; bounded
    assert {m for m, _ in got["c1"]} == {"p1"}
    assert {m for m, _ in got["c2"]} == {"p1"}


@pytest.fixture(scope="module")
def geo_world(spark):
    """A closed square ring (CCW), an open chain, and a degenerate
    1-point way, with global-extent coords that overflow int64 if
    shoelace terms are multiplied untranslated."""
    points = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": ["a", "b", "c", "d", "e", "far"],
                # square of side 1000 at a far-west offset
                "lat": [0, 0, 1000, 1000, 500, 899_999_000],
                "lon": [
                    -1_799_999_000,
                    -1_799_998_000,
                    -1_799_998_000,
                    -1_799_999_000,
                    -1_799_990_000,
                    1_799_999_000,
                ],
            }
        )
    )
    groups = spark.createDataFrame(
        [
            ("ring", "way", [
                {"ref": "a", "type": "image", "role": ""},
                {"ref": "b", "type": "image", "role": ""},
                {"ref": "c", "type": "image", "role": ""},
                {"ref": "d", "type": "image", "role": ""},
                {"ref": "a", "type": "image", "role": ""},
            ]),
            ("chain", "way", [
                {"ref": "a", "type": "image", "role": ""},
                {"ref": "e", "type": "image", "role": ""},
            ]),
            ("dot", "way", [{"ref": "e", "type": "image", "role": ""}]),
            ("span", "way", [
                # antipodal span: untranslated shoelace term would be
                # ~1.8e9 * 9e8 * 4 > int64
                {"ref": "a", "type": "image", "role": ""},
                {"ref": "far", "type": "image", "role": ""},
                {"ref": "b", "type": "image", "role": ""},
                {"ref": "a", "type": "image", "role": ""},
            ]),
        ],
        "group_id string, kind string, members array<struct<ref:string,type:string,role:string>>",
    )
    return points, groups


def test_way_geometry(spark, geo_world):
    from osm_replication_rust_spark.operators.resolve import way_geometry

    points, groups = geo_world
    got = {r.group_id: r for r in way_geometry(groups, points).collect()}

    ring = got["ring"]
    assert ring.n_pts == 5 and ring.is_closed
    # CCW square side 1000 -> signed area 1e6, area2 = 2e6
    assert ring.area2 == "2000000"
    assert ring.length == pytest.approx(4000.0)
    assert ring.cx == pytest.approx((-1_799_999_000 * 3 - 1_799_998_000 * 2) / 5)

    chain = got["chain"]
    assert chain.n_pts == 2 and not chain.is_closed
    import math

    assert chain.length == pytest.approx(math.hypot(9000, 500))

    dot = got["dot"]
    assert dot.n_pts == 1 and dot.is_closed and dot.length == 0.0
    assert dot.area2 == "0"

    # exactness across the antipodal span: translated shoelace in
    # decimal carry; verify against Python big-int shoelace
    span = got["span"]
    vs = [(-1_799_999_000, 0), (1_799_999_000, 899_999_000),
          (-1_799_998_000, 0), (-1_799_999_000, 0)]
    a2 = sum(
        vs[i][0] * vs[(i + 1) % len(vs)][1] - vs[(i + 1) % len(vs)][0] * vs[i][1]
        for i in range(len(vs))
    )
    assert span.is_closed and span.area2 == str(a2)


def test_way_area_centroid(spark, geo_world):
    from fractions import Fraction

    from osm_replication_rust_spark.operators.resolve import way_geometry

    points, groups = geo_world
    got = {r.group_id: r for r in way_geometry(groups, points).collect()}

    # square ring: area centroid is the exact center (small ints ->
    # every double op exact -> equality, not approx)
    assert got["ring"].acx == -1_799_998_500.0
    assert got["ring"].acy == 500.0

    # degenerate signed area (2-point chain, 1-point dot): undefined -> NULL
    assert got["chain"].acx is None and got["chain"].acy is None
    assert got["dot"].acx is None and got["dot"].acy is None

    # antipodal-span triangle: exact-rational python reference; the
    # HUGEINT/decimal -> double casts are <= 1 ulp each, so compare at
    # 1e-12 relative
    vs = [(-1_799_999_000, 0), (1_799_999_000, 899_999_000),
          (-1_799_998_000, 0)]
    x1, y1 = vs[0]
    tx = [x - x1 for x, _ in vs]
    ty = [y - y1 for _, y in vs]
    m = len(vs)
    cr = [
        tx[i] * ty[(i + 1) % m] - tx[(i + 1) % m] * ty[i] for i in range(m)
    ]
    a2 = sum(cr)
    refx = x1 + Fraction(sum((tx[i] + tx[(i + 1) % m]) * cr[i] for i in range(m)), 3 * a2)
    refy = y1 + Fraction(sum((ty[i] + ty[(i + 1) % m]) * cr[i] for i in range(m)), 3 * a2)
    assert got["span"].acx == pytest.approx(float(refx), rel=1e-12)
    assert got["span"].acy == pytest.approx(float(refy), rel=1e-12)


def test_simplify_ways(spark):
    from osm_replication_rust_spark.operators.resolve import simplify_ways

    points = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": ["p0", "p1", "p2", "p3", "s", "beyond", "t1", "t2"],
                #            base line y=0 ..... spike  far-past-end  tie pair
                "lat": [0, 1, 0, 0, 5000, 400, 300, -300],
                "lon": [0, 3000, 6000, 9000, 4500, 20000, 2000, 7000],
            }
        )
    )
    groups = spark.createDataFrame(
        [
            # near-collinear chain: p1 (1 unit off a 9000-long base) drops
            ("flat", "way", [
                {"ref": "p0", "type": "image", "role": ""},
                {"ref": "p1", "type": "image", "role": ""},
                {"ref": "p2", "type": "image", "role": ""},
                {"ref": "p3", "type": "image", "role": ""},
            ]),
            # spike well above eps survives and re-splits the chain
            ("spike", "way", [
                {"ref": "p0", "type": "image", "role": ""},
                {"ref": "s", "type": "image", "role": ""},
                {"ref": "p3", "type": "image", "role": ""},
            ]),
            # interior point past the segment end: clamped distance is
            # to the endpoint (11000 away), far over eps -> kept
            ("clamp", "way", [
                {"ref": "p0", "type": "image", "role": ""},
                {"ref": "beyond", "type": "image", "role": ""},
                {"ref": "p3", "type": "image", "role": ""},
            ]),
            # exact-tie distances (+300/-300 around y=0): argmax keeps
            # the FIRST (lowest pos), then recursion keeps the other too
            ("tie", "way", [
                {"ref": "p0", "type": "image", "role": ""},
                {"ref": "t1", "type": "image", "role": ""},
                {"ref": "t2", "type": "image", "role": ""},
                {"ref": "p3", "type": "image", "role": ""},
            ]),
            # missing interior ref: kept pos refers to ORIGINAL members
            ("gap", "way", [
                {"ref": "p0", "type": "image", "role": ""},
                {"ref": "nope", "type": "image", "role": ""},
                {"ref": "s", "type": "image", "role": ""},
                {"ref": "p3", "type": "image", "role": ""},
            ]),
        ],
        "group_id string, kind string, members array<struct<ref:string,type:string,role:string>>",
    )
    out = simplify_ways(groups, points, eps=100.0).collect()
    kept = {}
    for r in out:
        kept.setdefault(r.group_id, []).append(r.pos)
    kept = {g: sorted(v) for g, v in kept.items()}
    assert kept["flat"] == [0, 3]
    assert kept["spike"] == [0, 1, 2]
    assert kept["clamp"] == [0, 1, 2]
    assert kept["tie"] == [0, 1, 2, 3]
    assert kept["gap"] == [0, 2, 3]
    # coords surface the kept vertex, not an interpolation
    spike = {r.pos: (r.lat, r.lon) for r in out if r.group_id == "spike"}
    assert spike[1] == (5000, 4500)


def test_way_geom_signature(spark):
    from osm_replication_rust_spark.operators.resolve import way_geom_signature

    points = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": ["a", "b", "c", "d"],
                "lat": [0, 5, 9, 5],
                "lon": [0, 5, 0, -5],
            }
        )
    )

    def way(gid, refs):
        return (gid, "way", [{"ref": r, "type": "image", "role": ""} for r in refs])

    groups = spark.createDataFrame(
        [
            way("fwd", ["a", "b", "c"]),
            way("rev", ["c", "b", "a"]),          # same chain reversed -> dup
            way("rot", ["b", "c", "a"]),          # rotation -> NOT a dup
            way("other", ["a", "d", "c"]),        # different vertices
            way("drop", ["a", "missing", "b", "c"]),  # missing ref drops out -> dup of fwd
        ],
        "group_id string, kind string, members array<struct<ref:string,type:string,role:string>>",
    )
    sigs = {r["group_id"]: r["geom_sig"] for r in way_geom_signature(groups, points).collect()}
    assert sigs["fwd"] == sigs["rev"] == sigs["drop"]
    assert len({sigs["fwd"], sigs["rot"], sigs["other"]}) == 3
    # signature is the md5 of the canonical serialization (engine-shared hash)
    import hashlib

    fwd = "0,0;5,5;0,9"
    rev = "0,9;5,5;0,0"
    assert sigs["fwd"] == hashlib.md5(min(fwd, rev).encode()).hexdigest()


def test_line_interpolate(spark):
    import math

    from osm_replication_rust_spark.operators.resolve import line_interpolate

    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": ["a", "b", "c", "d"],
                "lat": [0, 0, 3000, 3000],
                "lon": [0, 4000, 4000, 4000],
            }
        )
    )

    def mk(ways):
        return spark.createDataFrame(
            [
                (gid, "way", [{"ref": r, "type": "image", "role": ""} for r in refs])
                for gid, refs in ways.items()
            ],
            "group_id string, kind string, "
            "members array<struct<ref:string,type:string,role:string>>",
        )

    # L-chain a->b->c: lengths 4000 + 3000 = 7000
    ways = {
        "L": ["a", "b", "c"],
        "seg": ["a", "b"],
        "dot": ["a"],                 # < 2 vertices -> NULL
        "dupe": ["a", "b", "b", "c"],  # zero-length middle edge
    }

    def ref(chain, t):
        le = [math.hypot(x2 - x1, y2 - y1)
              for (x1, y1), (x2, y2) in zip(chain, chain[1:])]
        cum = []
        s = 0.0
        for e in le:  # same left-to-right fold
            s += e
            cum.append(s)
        d = t * s
        k = next((i for i, cv in enumerate(cum) if cv >= d), len(le) - 1)
        prev = 0.0
        for e in le[:k]:
            prev += e
        u = (d - prev) / le[k] if le[k] > 0.0 else 0.0
        (x1, y1), (x2, y2) = chain[k], chain[k + 1]
        return (x1 + u * (x2 - x1), y1 + u * (y2 - y1))

    coords = {"a": (0, 0), "b": (4000, 0), "c": (4000, 3000)}
    chains = {
        "L": [coords[r] for r in ways["L"]],
        "seg": [coords[r] for r in ways["seg"]],
        "dupe": [coords[r] for r in ["a", "b", "b", "c"]],
    }
    for t in (0.0, 0.25, 0.5, 4000 / 7000, 0.75, 1.0):
        got = {r.group_id: (r.ix, r.iy)
               for r in line_interpolate(mk(ways), pts, t=t).collect()}
        assert got["dot"] == (None, None)
        for gid, chain in chains.items():
            assert got[gid] == ref(chain, t), (gid, t)  # exact float equality

    # t = 0.5 of the L-chain: 3500 along, still on the 4000-long first
    # edge -> (3500, 0)
    got = {r.group_id: (r.ix, r.iy)
           for r in line_interpolate(mk(ways), pts, t=0.5).collect()}
    assert got["L"] == (3500.0, 0.0)

    with pytest.raises(ValueError):
        line_interpolate(mk(ways), pts, t=1.5)


def test_relation_closure_seven_deep_chain(spark):
    """A relation chain deeper than any fixed bound: every member of the
    way at the bottom resolves, at depth = chain length + 1."""
    points = spark.createDataFrame(
        pd.DataFrame({"image_id": ["q1", "q2", "q3"], "lat": [1, 2, 3], "lon": [1, 2, 3]})
    )
    rows = [("d7", "way", [
        {"ref": "q1", "type": "image", "role": ""},
        {"ref": "q2", "type": "image", "role": ""},
    ])]
    for i in range(7):
        members = [{"ref": f"d{i + 1}", "type": "group", "role": ""}]
        if i == 0:
            members.append({"ref": "q3", "type": "image", "role": ""})
        rows.append((f"d{i}", "relation", members))
    groups = spark.createDataFrame(
        rows,
        "group_id string, kind string, members array<struct<ref:string,type:string,role:string>>",
    )
    got = {
        (r.member_id, r.depth)
        for r in resolve_relation_members(groups, points).collect()
        if r.group_id == "d0"
    }
    assert got == {("q3", 1), ("q1", 8), ("q2", 8)}
