"""The flagship incremental pipeline — the engine's `update` entry point
(reference /root/reference/src/update.rs:30-146, one iteration per diff
state):

  per state N, in sequence order:
    a. bbox stage      — point bboxes over old ∪ new geometry
                         (operators/bbox.py; reference stage b)
    b. filter stage    — flattened keep/delete/drop classification
                         against every region (operators/filter.py;
                         reference stage c, the recursive fan-out)
    c. publish stage   — per-region tile output written partitioned by
                         region path (reference's <dest>/<region>/minute/N
                         files, /root/reference/src/diffs.rs:94-166)
    d. merge stage     — idempotent MERGE into the base table + manifest
                         advance (reference stage d + state symlink)

A killed job re-runs from the last committed state: ``TableStore``
refuses to re-apply completed states and the tile output for a state is
rewritten atomically (overwrite of the state=N partition).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.coords import unpack_lat, unpack_lon
from ..functions.geometry import BUFFER_DECIMICRO, MultiPolygon
from ..operators.bbox import coord_bboxes, group_bboxes, point_bboxes
from ..operators.filter import classify_diff, classify_group_diff
from ..operators.merge import TableStore


def run_update(
    store: TableStore,
    diffs: DataFrame,
    regions: list[MultiPolygon],
    out_dir: str,
    buffer: int = BUFFER_DECIMICRO,
    groups: DataFrame | None = None,
    group_diffs: DataFrame | None = None,
) -> list[int]:
    """Process every diff state newer than the store's checkpoint, in
    sequence order. Returns the list of states applied this run.

    ``groups`` (stored group_id/kind/members) + ``group_diffs`` (state,
    group_id, action) wire the composite elements through the same
    stages the reference runs for ways/relations: per state, changed
    groups are three-way classified (keep / buffered-delete / drop,
    /root/reference/src/osmxml/filter.rs:237-299) into
    ``tiles_groups/state=N`` and annotated with member-closure bboxes
    (/root/reference/src/osmxml/bbox.rs:145-164) into
    ``bbox_groups/state=N``, next to the point artifacts."""
    states = [
        r["state"]
        for r in diffs.select("state").distinct().orderBy("state").collect()
    ]
    last = store.last_state() or 0
    applied = []
    for state in states:
        if state <= last:
            continue  # resume: already committed
        batch = diffs.filter(F.col("state") == state)
        # the base table stores the footprint packed in phash
        # (FIXTURES.md §1); unpack once for the geometry stages
        # persist: the resolved-footprint frame feeds both the bbox and
        # filter stages (the reference's cache handoff bbox→filter,
        # /root/reference/src/update.rs:124-131)
        base = store.current().select(
            "image_id",
            unpack_lat(F.col("phash")).alias("lat"),
            unpack_lon(F.col("phash")).alias("lon"),
        ).persist()

        # a. bbox stage (annotation output kept alongside the tiles)
        bbox = point_bboxes(base, batch)
        bbox.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"bbox/state={state}")
        )

        # a'. composite elements: changed groups get member-closure
        # bboxes and the three-way classification, published beside the
        # point artifacts (reference stages b+c for ways/relations)
        gbatch = None
        if groups is not None and group_diffs is not None:
            # carry (kind, new_members) through when the diff source
            # provides them: classify_group_diff needs both to classify
            # CREATEs of groups the store has never seen (and modify
            # rows override stored members with the diff's list, the
            # reference's filter.rs:237-299 behavior)
            extra = [
                c for c in ("kind", "new_members") if c in group_diffs.columns
            ]
            gbatch = group_diffs.filter(F.col("state") == state).select(
                "group_id", "action", *extra
            )
            changed_groups = groups.join(
                gbatch.select("group_id"), "group_id", "left_semi"
            )
            # member bbox source: changed-point bboxes (old ∪ new) plus
            # stored coords as degenerate bboxes — the batch view the
            # reference's running maps present to the way/relation
            # passes (src/osmxml/bbox.rs:61-84). A
            # changed point's stored coord already lies in its bbox, so
            # min/max needs no anti-join of the store against the batch
            gbx = group_bboxes(changed_groups, bbox.unionByName(coord_bboxes(base)))
            gbx.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"bbox_groups/state={state}")
            )

            gtiles = classify_group_diff(gbatch, groups, base, regions, buffer=buffer)
            (
                gtiles.repartition("region_id")
                .write.mode("overwrite")
                .partitionBy("region_id")
                .parquet(os.path.join(out_dir, f"tiles_groups/state={state}"))
            )

        # b+c. classify + publish per-region tiles, partitioned by region.
        # Observation = the reference's stats counters
        # (/root/reference/src/osmbin.rs:66-77) without an extra job.
        tiles = classify_diff(batch, base, regions, buffer=buffer)
        obs = Observation(f"tiles_s{state}")
        tiles = tiles.observe(
            obs,
            F.count(F.lit(1)).alias("tile_rows"),
            F.sum(F.when(F.col("out_action") == F.col("action"), 1).otherwise(0)).alias(
                "kept"
            ),
            F.sum(F.when(F.col("out_action") != F.col("action"), 1).otherwise(0)).alias(
                "forced_delete"
            ),
            F.approx_count_distinct("image_id").alias("distinct_elements"),
        )
        (
            tiles.repartition("region_id")
            .write.mode("overwrite")
            .partitionBy("region_id")
            .parquet(os.path.join(out_dir, f"tiles/state={state}"))
        )
        try:
            raw = obs.get
        except Exception:
            # a batch classifying to ZERO tile rows is legal (a quiet
            # minutely diff touching no region): AQE's empty-relation
            # propagation elides the observe node under
            # repartition(col) + partitionBy, and Observation.get then
            # raises on the schemaless result row. Confirm that is what
            # happened — if the write actually emitted rows, the
            # exception is a REAL failure and zeroed metrics would lie.
            try:
                empty = diffs.sparkSession.read.parquet(
                    os.path.join(out_dir, f"tiles/state={state}")
                ).isEmpty()
            except Exception:
                # an empty partitioned write leaves only _SUCCESS — no
                # footer to infer a schema from: that IS the empty case
                empty = True
            if not empty:
                raise
            raw = {"tile_rows": 0, "kept": 0, "forced_delete": 0, "distinct_elements": 0}
        metrics = {k: (v if not hasattr(v, "item") else v.item()) for k, v in raw.items()}
        mdir = os.path.join(out_dir, "metrics")
        os.makedirs(mdir, exist_ok=True)
        tmp = os.path.join(mdir, f".state={state}.json.tmp")
        with open(tmp, "w") as f:
            json.dump({"state": state, **metrics}, f)
        os.replace(tmp, os.path.join(mdir, f"state={state}.json"))

        # d. merge + checkpoint advance (atomic manifest publish)
        store.apply_batch(state, batch)
        base.unpersist()
        applied.append(state)
    return applied
