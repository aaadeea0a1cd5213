"""Closure resolution: way_full / relation_full as set-based joins, and
the one member-closure primitive every relation walk is built on.

Reference: ``read_way_full`` resolves a way's node list to coordinates
(/root/reference/src/osm.rs:203-214); ``read_relation_full`` resolves
members recursively with a cycle guard (/root/reference/src/osm.rs:219-246).

Spark shape (SURVEY.md S9/S10):
  way_full      posexplode(members) -> join the point table -> collect
                ordered by member position (order preserved exactly);
  closure       :func:`member_closure`, the one relation walk;
                relation_full, group bboxes and group region flags are
                closure ⋈ point refs (:func:`closure_points`) ⋈ per-point
                value -> one aggregate.
Missing refs resolve to nothing (tolerated, like the bbox/filter paths).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def member_edges(groups: DataFrame) -> DataFrame:
    """(group_id, kind, ref, ref_type) — the exploded membership edge list
    (way node-refs and relation members,
    reference src/osm.rs:49-114)."""
    return groups.select(
        "group_id", "kind", F.explode("members").alias("m")
    ).select(
        "group_id",
        "kind",
        F.col("m.ref").alias("ref"),
        F.col("m.type").alias("ref_type"),
    )


def member_closure(groups: DataFrame, roots: DataFrame | None = None) -> DataFrame:
    """(root_id, group_id, depth) — for each root, every group of
    ``groups`` reachable through group-typed member refs, at its BFS
    (minimum) depth, ``(root, root, 0)`` included. ``roots`` is a frame
    with a ``group_id`` column (default: every group); roots and refs
    absent from ``groups`` reach nothing. The reference's
    ``RelationFull`` recursion with its cycle guard
    (reference src/osm.rs:219-246) as one set-based loop.

    Each level is one aggregate over the previous one: every visited
    pair takes a self hop (step 0), the newest pairs also take one
    member hop (step 1), and ``min(depth)`` keeps the first visit, so a
    visited pair never rejoins the frontier (the anti-join against the
    visited set that stops cycles) and the loop ends at the first level
    that adds no pair (the set is finite).

    One action per level. The hop list (so ``groups`` is computed once,
    not once per level) and the latest level are persisted while the
    loop runs and released before returning. The result is lazy: a
    linear chain of one join + aggregate per level, each reading only
    the one before, so evaluating it after the release costs one more
    pass per level, never a blow-up."""
    hops = (
        member_edges(groups)
        .filter(F.col("ref_type") == "group")
        .select(F.col("group_id").alias("node"), "ref", F.lit(1).alias("step"))
        .unionByName(
            groups.select(
                F.col("group_id").alias("node"),
                F.col("group_id").alias("ref"),
                F.lit(0).alias("step"),
            )
        )
        .persist()
    )
    level = prev = (
        (groups if roots is None else roots)
        .select("group_id")
        .distinct()
        .select(F.col("group_id").alias("root_id"), "group_id", F.lit(0).alias("depth"))
    )
    depth = 0
    try:
        while True:
            prev, level = level, (
                level.join(
                    hops,
                    (F.col("group_id") == F.col("node"))
                    & ((F.col("step") == 0) | (F.col("depth") == depth)),
                )
                .groupBy("root_id", F.col("ref").alias("group_id"))
                .agg(F.min(F.col("depth") + F.col("step")).alias("depth"))
                .persist()
            )
            depth += 1
            reached = level.filter(F.col("depth") == depth).count()
            prev.unpersist()  # level k+1 is materialized: k is spent
            if reached == 0:
                return level
    finally:
        for df in (hops, prev, level):
            df.unpersist()


def closure_points(groups: DataFrame, roots: DataFrame | None = None) -> DataFrame:
    """(root_id, ref, depth) — every point-typed member ref of every
    group in each root's :func:`member_closure`; ``depth`` is the
    closure depth of the group holding the ref."""
    pts = member_edges(groups).filter(F.col("ref_type") == "image")
    return member_closure(groups, roots).join(
        pts.select("group_id", "ref"), "group_id"
    ).select("root_id", "ref", "depth")


def resolve_way_full(
    groups: DataFrame,
    points: DataFrame,
    point_id: str = "image_id",
    keep_pos: bool = False,
) -> DataFrame:
    """(group_id, coords) with coords = ordered array<struct<lat,lon>>
    of resolved member points (ways only). Order = member position.
    ``keep_pos=True`` keeps the original member position in each
    element (struct<pos,lat,lon>) so downstream operators can refer
    back to source members even when missing refs drop out."""
    edges = (
        groups.filter(F.col("kind") == "way")
        .select("group_id", F.posexplode("members").alias("pos", "m"))
        .filter(F.col("m.type") == "image")
        .select("group_id", "pos", F.col("m.ref").alias("ref"))
    )
    pts = points.select(
        F.col(point_id).alias("ref"),
        F.struct(
            F.col("lat").cast("long").alias("lat"),
            F.col("lon").cast("long").alias("lon"),
        ).alias("pt"),
    )
    joined = edges.join(pts, "ref", "inner")
    # one hash-agg instead of two window passes: collect (pos, pt)
    # pairs, sort by position, strip the position — order preserved,
    # one shuffle, map-side partial agg applies
    elem = (
        (lambda s: F.struct(s["pos"].alias("pos"), s["pt"]["lat"].alias("lat"), s["pt"]["lon"].alias("lon")))
        if keep_pos
        else (lambda s: s["pt"])
    )
    return joined.groupBy("group_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "pt"))),
            elem,
        ).alias("coords")
    )


def resolve_relation_members(
    groups: DataFrame,
    points: DataFrame,
    point_id: str = "image_id",
    roots: DataFrame | None = None,
) -> DataFrame:
    """Transitive closure: (group_id, member_id, depth) — every point
    reachable from each relation through way/relation edges, cycle-safe,
    depth = 1 + the closure depth of the group holding the point (a
    relation's own point members are depth 1). The set-based analog of
    relation_full. ``roots`` (a ``group_id`` frame) restricts the
    relations resolved; default every relation."""
    rels = groups.filter(F.col("kind") == "relation").select("group_id")
    if roots is not None:
        rels = rels.join(roots.select("group_id"), "group_id", "left_semi")
    return (
        closure_points(groups, rels)
        .join(points.select(F.col(point_id).alias("ref")), "ref", "left_semi")
        .groupBy(F.col("root_id").alias("group_id"), F.col("ref").alias("member_id"))
        .agg((F.min("depth") + 1).alias("depth"))
    )
