"""Staged bbox aggregation — the set-based re-expression of the
reference's bbox-annotation pass (/root/reference/src/osmxml/bbox.rs).

The reference streams a diff and, per element, probes its osmbin store
for old geometry, folding min/max into a BoundingBox
(/root/reference/src/osm.rs:155-171) while consulting running maps of
bboxes computed earlier in the same batch
(/root/reference/src/osmxml/bbox.rs:16-18, 61-66, 79-84, 116-122).

Set-based equivalent (SURVEY.md §4.3 #4): because OSM diffs order nodes
before ways before relations, the per-row running maps are equivalent to
a staged batch computation over the full diff:

  stage 1  point bbox   = old coord ∪ new coord          (union + agg)
  stage 2  way bbox     = min/max over member points     (explode + join + agg)
  stage 3  relation bbox= min/max over the points of every  (member closure
           group in the relation's member closure          ⋈ points + agg)

bbox-union composes, so a composite's bbox is min/max over every point
reachable through its members; ways and relations are the same
computation (a way's closure is itself). The closure is
operators.resolve.member_closure, whose visited set stops cycles between
relations (reference guard src/osmxml/bbox.rs:112-115).
Missing references contribute nothing (tolerated, reference
/root/reference/src/osmbin.rs:427-430).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .resolve import closure_points


def _point_aggs():
    # built lazily: Column construction needs an active SparkContext
    return [
        F.min("lat").alias("minlat"),
        F.max("lat").alias("maxlat"),
        F.min("lon").alias("minlon"),
        F.max("lon").alias("maxlon"),
    ]


def point_bboxes(
    base: DataFrame,
    changes: DataFrame,
    id_col: str = "image_id",
) -> DataFrame:
    """bbox of each changed point = old coord ∪ new coord (reference
    /root/reference/src/osmxml/bbox.rs:60-71: both lookups feed the same
    expand). ``base`` carries (id, lat, lon); ``changes`` carries
    (id, action, new_lat, new_lon). Deletes fold in only the old coord;
    creates only the new one; missing base rows are tolerated."""
    changed_ids = changes.select(F.col(id_col)).distinct()
    old_pts = base.join(changed_ids, id_col, "left_semi").select(
        id_col, F.col("lat").cast("long").alias("lat"), F.col("lon").cast("long").alias("lon")
    )
    new_pts = changes.filter(F.col("new_lat").isNotNull()).select(
        id_col,
        F.col("new_lat").cast("long").alias("lat"),
        F.col("new_lon").cast("long").alias("lon"),
    )
    return old_pts.unionByName(new_pts).groupBy(id_col).agg(*_point_aggs())


def coord_bboxes(points: DataFrame) -> DataFrame:
    """(image_id, minlat, maxlat, minlon, maxlon) — each point's stored
    coord as a degenerate bbox."""
    lat, lon = F.col("lat").cast("long"), F.col("lon").cast("long")
    return points.select(
        "image_id", lat.alias("minlat"), lat.alias("maxlat"), lon.alias("minlon"), lon.alias("maxlon")
    )


def _closure_bboxes(
    groups: DataFrame, point_bbox: DataFrame, roots: DataFrame | None = None
) -> DataFrame:
    """(group_id, minlat, maxlat, minlon, maxlon) per root: min/max over
    ``point_bbox`` (keyed ``ref``) of every point in its member closure."""
    return (
        closure_points(groups, roots)
        .join(point_bbox, "ref")
        .groupBy(F.col("root_id").alias("group_id"))
        .agg(
            F.min("minlat").alias("minlat"),
            F.max("maxlat").alias("maxlat"),
            F.min("minlon").alias("minlon"),
            F.max("maxlon").alias("maxlon"),
        )
    )


def annotate_diff_bboxes(
    elements: DataFrame,
    base: DataFrame,
    stored_groups: DataFrame | None = None,
    namespace_ids: bool = False,
) -> DataFrame:
    """bbox per changed element of a parsed three-kind diff
    (sources.osc.ELEMENT_SCHEMA) — the set-based re-expression of the
    reference's bbox-annotation pass (/root/reference/src/osmxml/bbox.rs
    write_node/write_way/write_relation): every element's bbox is the
    union of its OLD geometry (store lookups: ``base`` points and
    ``stored_groups`` membership) and its NEW geometry (the diff
    element's own refs), with diff-internal references resolving
    through the same-batch bboxes (the reference's *_modified maps).

    Returns (element_id, kind, minlat, maxlat, minlon, maxlon);
    elements none of whose geometry resolves are absent (the reference
    emits no <bbox> child then, bbox.rs:145-163). The member closure is
    cycle-safe (the 7801⇄7802-style cycle stops contributing,
    bbox.rs:112-115).

    Deviation (documented): for an element id occurring MORE THAN ONCE
    in one diff the reference emits a per-occurrence running bbox in
    document order; the set-based pass emits the final (full-union)
    bbox for every occurrence — identical for the last occurrence,
    which is the one the *_modified map carries forward.

    Scale: the member closure runs from the changed composites only
    (``roots``), so its pairs and the point join's rows stay in the
    diff's neighbourhood; the store is scanned, never closed over."""
    from ..sources.osc import elements_to_engine

    points, gch = elements_to_engine(elements, namespace_ids=namespace_ids)
    pb = point_bboxes(base, points)  # changed nodes: old ∪ new

    # effective membership of changed composites = stored ∪ new refs
    # (the reference expands BOTH expand_bbox_way_id(stored) and
    # expand_bbox_way_only(new), bbox.rs:86-89)
    changed = gch.select(
        "group_id", "kind", F.col("new_members").alias("members")
    )
    if stored_groups is not None:
        stored_for_changed = stored_groups.join(
            changed.select("group_id").distinct(), "group_id", "left_semi"
        ).select("group_id", "kind", "members")
        changed = changed.unionByName(stored_for_changed)
    eff_changed = (
        changed.select("group_id", "kind", F.explode_outer("members").alias("m"))
        .groupBy("group_id", "kind")
        .agg(F.collect_list("m").alias("members"))
    )

    # resolution universe: the changed composites (effective members)
    # plus every other stored group, reached only through the closure
    universe = eff_changed
    if stored_groups is not None:
        universe = universe.unionByName(
            stored_groups.join(
                eff_changed.select("group_id"), "group_id", "left_anti"
            ).select("group_id", "kind", "members")
        )
    # a reached point's extent: its changed-node bbox (old ∪ new) and
    # its stored coord; min/max compose, so no per-point pre-aggregate
    resolver = pb.unionByName(coord_bboxes(base)).withColumnRenamed("image_id", "ref")
    gb = _closure_bboxes(universe, resolver, roots=eff_changed)

    nodes_out = pb.select(  # pb holds exactly the changed nodes with a coord
        F.col("image_id").alias("element_id"),
        F.lit("node").alias("kind"),
        "minlat",
        "maxlat",
        "minlon",
        "maxlon",
    )
    comps_out = eff_changed.select("group_id", "kind").join(gb, "group_id").select(
        F.col("group_id").alias("element_id"),
        F.when(F.col("kind") == "way", "way").otherwise("relation").alias("kind"),
        "minlat",
        "maxlat",
        "minlon",
        "maxlon",
    )
    return nodes_out.unionByName(comps_out)


def group_bboxes(
    groups: DataFrame,
    point_bbox: DataFrame,
    point_id_col: str = "image_id",
) -> DataFrame:
    """bboxes of composite groups (ways + relations) from member bboxes:
    min/max over the point bboxes of every group in the member closure.

    Returns (group_id, kind, minlat, maxlat, minlon, maxlon); groups none
    of whose members resolve are absent (reference emits no bbox child in
    that case, src/osmxml/bbox.rs:145-163). Point refs
    join ``point_bbox`` and group refs walk the closure, so an id
    collision across the two namespaces cannot pollute a bbox.
    """
    pt = point_bbox.select(
        F.col(point_id_col).alias("ref"), "minlat", "maxlat", "minlon", "maxlon"
    )
    bb = _closure_bboxes(groups, pt)
    return (
        groups.select("group_id", "kind")
        .filter(F.col("kind").isin("way", "relation"))
        .join(bb, "group_id")
    )
