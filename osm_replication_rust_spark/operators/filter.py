"""Three-way diff filter (the reference's core operator) + existential
group membership.

Reference semantics (/root/reference/src/osmxml/filter.rs:219-299, and
SURVEY.md §4.3):

  for each changed element, per region:
    in polygon            -> KEEP, original action
    in buffer(poly, 0.1°) -> KEEP, action forced to 'delete'
                             (soft boundary: consumers near the edge
                             must drop elements that drifted out)
    outside buffer        -> DROP (no output row)

The reference runs this as a recursive cascade, re-filtering the
parent's output per child region (/root/reference/src/diffs.rs:168-191).
Because child polygons are contained in parents, one flattened pass
against ALL regions is equivalent (proof in SURVEY.md §4.3 #7); we
implement the flattened one-pass join (scale path) and a literal
cascade (test oracle) and assert they agree.

Existential membership (reference P4/P5):
  way ∈ poly      ⇔ ∃ member point ∈ poly
  relation ∈ poly ⇔ ∃ member ∈ poly, recursively
Both are one aggregate over member closure ⋈ point assignments
(operators.resolve.member_closure; a way's closure is itself).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.geometry import BUFFER_DECIMICRO, MultiPolygon
from ..functions.coords import DEFAULT_RES
from .resolve import closure_points, member_edges
from .spatial_join import assign_regions


def effective_changes(changes: DataFrame, base: DataFrame) -> DataFrame:
    """One row per changed element with its effective coordinates:
    new coords when the change carries them, else the old base coords
    (deletes reference stored geometry,
    /root/reference/src/osmxml/filter.rs:250-254). Last writer wins
    within a batch (window by seq — the reference's in-order overwrite)."""
    w = Window.partitionBy("image_id").orderBy(F.desc("seq"))
    last = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    old = base.select("image_id", F.col("lat").alias("_old_lat"), F.col("lon").alias("_old_lon"))
    return (
        last.join(old, "image_id", "left")
        .withColumn("eff_lat", F.coalesce(F.col("new_lat").cast("long"), F.col("_old_lat").cast("long")))
        .withColumn("eff_lon", F.coalesce(F.col("new_lon").cast("long"), F.col("_old_lon").cast("long")))
        .drop("_old_lat", "_old_lon")
        .filter(F.col("eff_lat").isNotNull())
    )


def classify_diff(
    changes: DataFrame,
    base: DataFrame,
    regions: list[MultiPolygon],
    res: int = DEFAULT_RES,
    buffer: int = BUFFER_DECIMICRO,
) -> DataFrame:
    """Flattened one-pass classification of a diff batch against every
    region. Returns (image_id, action, region_id, out_action); dropped
    (element, region) pairs are simply absent."""
    eff = effective_changes(changes, base)
    assigned = assign_regions(
        eff,
        regions,
        lon_col="eff_lon",
        lat_col="eff_lat",
        res=res,
        buffer=buffer,
        keep_cols=["image_id", "action"],
    )
    return assigned.select(
        "image_id",
        "action",
        "region_id",
        F.when(F.col("in_poly"), F.col("action")).otherwise(F.lit("delete")).alias(
            "out_action"
        ),
    )


def cascade_classify(
    changes: DataFrame,
    base: DataFrame,
    regions: list[MultiPolygon],
    res: int = DEFAULT_RES,
    buffer: int = BUFFER_DECIMICRO,
) -> DataFrame:
    """Literal re-expression of the reference's recursive fan-out
    (/root/reference/src/diffs.rs:168-191): each child filters its
    PARENT'S output rows (with the parent's possibly-overridden action).
    Used as the semantics oracle for :func:`classify_diff` on small
    inputs: nothing is cached, so each region's plan recomputes its
    ancestors' joins and no persisted frame outlives the call."""
    eff = effective_changes(changes, base).select(
        "image_id", "action", "eff_lat", "eff_lon"
    )
    by_id = {mp.region_id: mp for mp in regions}
    children: dict[str | None, list[MultiPolygon]] = {}
    for mp in regions:
        children.setdefault(mp.parent_id, []).append(mp)

    outputs: list[DataFrame] = []

    def run(region: MultiPolygon, incoming: DataFrame) -> None:
        assigned = assign_regions(
            incoming,
            [region],
            lon_col="eff_lon",
            lat_col="eff_lat",
            res=res,
            buffer=buffer,
            keep_cols=["image_id", "action", "eff_lat", "eff_lon"],
        )
        mine = assigned.select(
            "image_id",
            "eff_lat",
            "eff_lon",
            F.when(F.col("in_poly"), F.col("action"))
            .otherwise(F.lit("delete"))
            .alias("action"),
        )
        outputs.append(
            mine.select(
                "image_id",
                F.col("action").alias("out_action"),
                F.lit(region.region_id).alias("region_id"),
            )
        )
        for ch in children.get(region.region_id, []):
            run(ch, mine)

    for root in children.get(None, []):
        run(root, eff)

    out = outputs[0]
    for o in outputs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# existential group membership (P4/P5) and the composite-element
# three-way diff filter (the reference's update_way / update_relation,
# /root/reference/src/osmxml/filter.rs:237-299)
# ---------------------------------------------------------------------------

def groups_in_regions_buffered(
    groups: DataFrame,
    member_assignments: DataFrame,
) -> DataFrame:
    """(group_id, kind, region_id, in_poly, in_buffer) for every group
    with >=1 member matching the region's buffered polygon.

    ``member_assignments`` is (image_id, region_id, in_poly, in_buffer)
    — per-point results of assign_regions. A group's flags are the OR
    (max) over the points of every group in its member closure; cycles
    stop contributing (reference guard
    src/osmxml/filter.rs:159-169). Missing members
    contribute nothing."""
    pt = member_assignments.select(
        F.col("image_id").alias("ref"), "region_id", "in_poly", "in_buffer"
    )
    flags = (
        closure_points(groups)
        .join(pt, "ref")
        .groupBy(F.col("root_id").alias("group_id"), "region_id")
        .agg(F.max("in_poly").alias("in_poly"), F.max("in_buffer").alias("in_buffer"))
    )
    kinds = (
        groups.select("group_id", "kind")
        .distinct()
        .filter(F.col("kind").isin("way", "relation"))
    )
    return flags.join(kinds, "group_id").select(
        "group_id", "kind", "region_id", "in_poly", "in_buffer"
    )


def classify_group_diff(
    group_changes: DataFrame,
    groups: DataFrame,
    base: DataFrame,
    regions: list[MultiPolygon],
    res: int = DEFAULT_RES,
    buffer: int = BUFFER_DECIMICRO,
) -> DataFrame:
    """Three-way diff classification of changed ways/relations — the
    set-based re-expression of the reference's update_way /
    update_relation (/root/reference/src/osmxml/filter.rs:237-299):

      ∃ member in polygon          -> KEEP, original action
      ∃ member in buffer(0.1°)     -> KEEP, action forced to 'delete'
      no member in any buffer      -> DROP (no output row)

    Member geometry comes from the pre-batch store (``base``) for EVERY
    action — the reference resolves way nodes / relation members from
    osmbin BEFORE the batch is merged, and the delete branch explicitly
    falls back to stored geometry (filter.rs:250-254).

    ``group_changes``: (group_id, action[, kind][, new_members]) — when
    a modify/create carries ``new_members`` (the diff element's member
    list, filter.rs resolves the NEW refs), it overrides the stored
    list. A CREATE of a group absent from the store classifies from the
    diff element's own member list (reference update_way/update_relation
    build the member set from the diff element, filter.rs:237-299) —
    this requires the change row to carry both ``kind`` and
    ``new_members``; creates without them cannot be classified and
    raise ValueError at plan time rather than silently emitting
    nothing. ``groups``: stored (group_id, kind, members). ``base``:
    stored points (image_id, lat, lon). Returns
    (group_id, kind, action, region_id, out_action)."""
    from .spatial_join import assign_regions as _assign

    changed = group_changes.select("group_id", "action")
    supports_create = {"new_members", "kind"} <= set(group_changes.columns)
    if not supports_create:
        # cheap guard only on the ill-equipped path: a create with no
        # (kind, new_members) has no member list to classify from and
        # must error, not silently vanish
        if not group_changes.filter(F.col("action") == "create").isEmpty():
            raise ValueError(
                "classify_group_diff: 'create' actions require the "
                "change rows to carry (kind, new_members) — a created "
                "group has no stored member list to classify from"
            )
    eff_groups = groups.select("group_id", "kind", "members").join(
        changed.select("group_id"), "group_id", "left_semi"
    )
    if "new_members" in group_changes.columns:
        # deletes classify from STORED geometry (the reference's delete
        # branch, filter.rs:250-254): a bare <delete><way id=../></delete>
        # parses to an EMPTY member list, and letting it override would
        # strip every member ref and silently drop the delete from the
        # classification. Only create/modify carry the diff's list.
        overrides = group_changes.filter(
            F.col("new_members").isNotNull() & (F.col("action") != "delete")
        ).select("group_id", F.col("new_members").alias("_nm"))
        eff_groups = (
            eff_groups.join(overrides, "group_id", "left")
            .withColumn("members", F.coalesce(F.col("_nm"), F.col("members")))
            .drop("_nm")
        )
        if "kind" in group_changes.columns:
            # creates of groups the store has never seen: their member
            # list IS the diff element's list — union them in so the
            # flag computation (and therefore the classification) sees
            # them like any stored group
            created = (
                group_changes.filter(
                    F.col("new_members").isNotNull()
                    & (F.col("action") != "delete")
                )
                .select("group_id", "kind", F.col("new_members").alias("members"))
                .join(groups.select("group_id"), "group_id", "left_anti")
            )
            eff_groups = eff_groups.unionByName(created)

    # only member points actually referenced by a changed group need the
    # (expensive) region assignment: semi-join the store first
    refs = (
        member_edges(eff_groups)
        .filter(F.col("ref_type") == "image")
        .select(F.col("ref").alias("image_id"))
        .distinct()
    )
    member_pts = base.join(refs, "image_id", "left_semi")
    assignments = _assign(
        member_pts,
        regions,
        res=res,
        buffer=buffer,
        keep_cols=["image_id"],
    )

    flags = groups_in_regions_buffered(eff_groups, assignments)
    return (
        flags.join(changed, "group_id")
        .filter(F.col("in_buffer"))
        .select(
            "group_id",
            "kind",
            "action",
            "region_id",
            F.when(F.col("in_poly"), F.col("action"))
            .otherwise(F.lit("delete"))
            .alias("out_action"),
        )
    )


# ---------------------------------------------------------------------------
# existential group membership (P4/P5)
# ---------------------------------------------------------------------------

def groups_in_regions(
    groups: DataFrame,
    member_regions: DataFrame,
) -> DataFrame:
    """(group_id, region_id) for every group with ≥1 member in the region.

    ``member_regions`` is (image_id, region_id) — the in-polygon point
    assignments. A group is in a region when any point of any group in
    its member closure is; cycles stop contributing (reference guard
    src/osmxml/filter.rs:159-169). Missing members
    contribute nothing."""
    pt = member_regions.select(F.col("image_id").alias("ref"), "region_id")
    return (
        closure_points(groups)
        .join(pt, "ref")
        .select(F.col("root_id").alias("group_id"), "region_id")
        .distinct()
    )
