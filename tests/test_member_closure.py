"""Seeded property test of the member-closure primitive and the four
aggregates built on it, against a pure-Python BFS walker over random
group graphs: 2-cycles, self-references, missing refs (points and
groups), chains up to 10 deep and random per-point values."""

import random
from collections import deque

import pytest

from osm_replication_rust_spark.operators.bbox import group_bboxes
from osm_replication_rust_spark.operators.filter import (
    groups_in_regions,
    groups_in_regions_buffered,
)
from osm_replication_rust_spark.operators.resolve import (
    member_closure,
    resolve_relation_members,
)

GROUPS_SCHEMA = (
    "group_id string, kind string, "
    "members array<struct<ref:string,type:string,role:string>>"
)


def random_world(seed: int):
    """(groups, points, point_bbox, assignments) as plain Python."""
    rng = random.Random(seed)
    pts = [f"p{i}" for i in range(30)]
    img_pool = pts + ["p_missing"]
    groups: dict[str, tuple[str, list[tuple[str, str]]]] = {}

    def img_refs(lo, hi):
        return [(rng.choice(img_pool), "image") for _ in range(rng.randint(lo, hi))]

    for i in range(8):
        groups[f"w{i}"] = ("way", img_refs(1, 4))
    depth = rng.randint(7, 10)  # a chain as deep as 10 hops
    for i in range(depth):
        nxt = f"ch{i + 1}" if i + 1 < depth else "w0"
        groups[f"ch{i}"] = ("relation", [(nxt, "group")] + img_refs(0, 1))
    groups["cyc_a"] = ("relation", [("cyc_b", "group")] + img_refs(1, 1))
    groups["cyc_b"] = ("relation", [("cyc_a", "group")])
    groups["self"] = ("relation", [("self", "group")] + img_refs(0, 2))
    groups["dangling"] = ("relation", [("r_missing", "group"), ("p_missing", "image")])
    ids = list(groups)
    for i in range(10):
        refs = [(rng.choice(ids + [f"r{j}" for j in range(10)] + ["r_missing"]), "group")
                for _ in range(rng.randint(0, 3))]
        groups[f"r{i}"] = ("relation", refs + img_refs(0, 2))

    point_bbox = {}
    for p in rng.sample(pts, 22):
        la, lo = rng.randint(-10**6, 10**6), rng.randint(-10**6, 10**6)
        point_bbox[p] = (la - rng.randint(0, 1000), la, lo - rng.randint(0, 1000), lo)
    points = set(rng.sample(pts, 24))
    assignments = []
    for p in rng.sample(pts, 20):
        for region in rng.sample(["A", "A/B", "A/D"], rng.randint(1, 2)):
            in_poly = rng.random() < 0.5
            assignments.append((p, region, in_poly, in_poly or rng.random() < 0.5))
    return groups, points, point_bbox, assignments


def bfs(groups, root):
    """{group: min depth} reachable from ``root`` through group refs
    (refs to groups outside ``groups`` reach nothing)."""
    seen = {root: 0}
    todo = deque([root])
    while todo:
        g = todo.popleft()
        for ref, typ in groups[g][1]:
            if typ == "group" and ref in groups and ref not in seen:
                seen[ref] = seen[g] + 1
                todo.append(ref)
    return seen


def reached_points(groups, root):
    """[(point ref, depth of the group holding it)]"""
    return [
        (ref, d)
        for g, d in bfs(groups, root).items()
        for ref, typ in groups[g][1]
        if typ == "image"
    ]


def persisted_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs persisted now. Tests compare these as sets: an
    RDD an earlier test persisted may be unpersisted by the
    ContextCleaner during a call, while a cache the call leaks is a
    new id that was not there before."""
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


@pytest.fixture(params=[5, 17])
def world(spark, request):
    groups, points, point_bbox, assignments = random_world(request.param)
    members = lambda refs: [{"ref": r, "type": t, "role": ""} for r, t in refs]  # noqa: E731
    return dict(
        py=(groups, points, point_bbox, assignments),
        groups=spark.createDataFrame(
            [(g, k, members(refs)) for g, (k, refs) in groups.items()], GROUPS_SCHEMA
        ),
        points=spark.createDataFrame(
            [(p, 0, 0) for p in sorted(points)], "image_id string, lat long, lon long"
        ),
        point_bbox=spark.createDataFrame(
            [(p, *bb) for p, bb in point_bbox.items()],
            "image_id string, minlat long, maxlat long, minlon long, maxlon long",
        ),
        assignments=spark.createDataFrame(
            assignments, "image_id string, region_id string, in_poly boolean, in_buffer boolean"
        ),
    )


def test_member_closure_matches_bfs(spark, world):
    groups = world["py"][0]
    before = persisted_rdd_ids(spark)
    got_df = member_closure(world["groups"])
    assert persisted_rdd_ids(spark) <= before
    got = {(r.root_id, r.group_id, r.depth) for r in got_df.collect()}
    want = {(root, g, d) for root in groups for g, d in bfs(groups, root).items()}
    assert got == want
    # the chain really is walked to its end (no truncation)
    assert max(d for _, _, d in got) >= 7

    roots = spark.createDataFrame([("ch0",), ("cyc_b",), ("nope",)], "group_id string")
    got = {(r.root_id, r.group_id, r.depth) for r in member_closure(world["groups"], roots).collect()}
    want = {(root, g, d) for root in ("ch0", "cyc_b") for g, d in bfs(groups, root).items()}
    assert got == want
    assert persisted_rdd_ids(spark) <= before


def test_group_bboxes_matches_bfs(spark, world):
    groups, _, point_bbox, _ = world["py"]
    before = persisted_rdd_ids(spark)
    out = group_bboxes(world["groups"], world["point_bbox"])
    assert persisted_rdd_ids(spark) <= before
    got = {r.group_id: (r.kind, r.minlat, r.maxlat, r.minlon, r.maxlon) for r in out.collect()}
    want = {}
    for root, (kind, _) in groups.items():
        bbs = [point_bbox[p] for p, _ in reached_points(groups, root) if p in point_bbox]
        if bbs:
            want[root] = (
                kind,
                min(b[0] for b in bbs),
                max(b[1] for b in bbs),
                min(b[2] for b in bbs),
                max(b[3] for b in bbs),
            )
    assert got == want


def test_groups_in_regions_matches_bfs(spark, world):
    groups, _, _, assignments = world["py"]
    before = persisted_rdd_ids(spark)
    buffered = groups_in_regions_buffered(world["groups"], world["assignments"])
    poly = groups_in_regions(
        world["groups"],
        world["assignments"].filter("in_poly").select("image_id", "region_id"),
    )
    assert persisted_rdd_ids(spark) <= before
    got = {
        (r.group_id, r.kind, r.region_id): (r.in_poly, r.in_buffer)
        for r in buffered.collect()
    }
    want: dict = {}
    for root, (kind, _) in groups.items():
        pts = {p for p, _ in reached_points(groups, root)}
        for p, region, in_poly, in_buffer in assignments:
            if p in pts:
                old = want.get((root, kind, region), (False, False))
                want[(root, kind, region)] = (old[0] or in_poly, old[1] or in_buffer)
    assert got == want
    got_poly = {(r.group_id, r.region_id) for r in poly.collect()}
    assert got_poly == {(g, region) for (g, _, region), (ip, _) in want.items() if ip}


def test_resolve_relation_members_matches_bfs(spark, world):
    groups, points, _, _ = world["py"]
    before = persisted_rdd_ids(spark)
    out = resolve_relation_members(world["groups"], world["points"])
    assert persisted_rdd_ids(spark) <= before
    got = {(r.group_id, r.member_id, r.depth) for r in out.collect()}
    want: dict = {}
    for root, (kind, _) in groups.items():
        if kind != "relation":
            continue
        for p, d in reached_points(groups, root):
            if p in points:
                want[(root, p)] = min(want.get((root, p), d + 1), d + 1)
    assert got == {(g, p, d) for (g, p), d in want.items()}
