"""Command-line surface mirroring the reference's binaries, so a user
of the reference can run the same operations against this engine:

- ``import``  <- osmbin --import   (/root/reference/src/bin/osmbin.rs:38-41)
                 and osmxml .osm import (/root/reference/src/bin/osmxml.rs:29-31)
- ``update``  <- update            (/root/reference/src/bin/update.rs:27-56,
                                    incl. the update.lock advisory lock)
- ``read``    <- osmbin --read     (/root/reference/src/bin/osmbin.rs:43-71,
                                    incl. way_full / relation_full closures)
- ``check``   <- osmbin --check    (/root/reference/src/bin/osmbin.rs:73-79)
- ``filter``  <- osmxml --filter   (/root/reference/src/bin/osmxml.rs:37-41)
- ``bbox``    <- osmxml --bbox     (/root/reference/src/bin/osmxml.rs:33-37,
                                    src/osmxml/bbox.rs: store-resolved
                                    bbox-annotated copy of a diff)

Store layout (one directory):
  <store>/points/        TableStore (hash-bucketed snapshots + manifest;
                         footprint packed in phash per FIXTURES.md §1)
  <store>/groups.parquet ways/relations (group_id, kind, members)

The ``filter`` extract collects the (small) single-region result to
write one .osc file like the reference does; the distributed many-
region publish path is sources.osc.write_region_osc_tree (used by
``update``'s tile publish).
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.coords import pack_footprint, unpack_lat, unpack_lon


def _store(spark: SparkSession, store_dir: str):
    from .operators.merge import TableStore

    return TableStore(spark, os.path.join(store_dir, "points"))


def _groups_path(store_dir: str) -> str:
    return os.path.join(store_dir, "groups.parquet")


def _heal_groups_link(store_dir: str) -> None:
    """If a crash landed between the legacy-dir rename and the symlink
    swap in _publish_groups, groups.parquet is missing but a versioned
    sibling exists — re-point the link at the newest version so no
    merge output is ever silently lost."""
    import glob

    dst = _groups_path(store_dir)
    if os.path.lexists(dst):
        return
    versions = sorted(
        (
            p
            for p in glob.glob(dst + ".v*")
            if os.path.exists(os.path.join(p, "_SUCCESS"))
        ),
        key=lambda p: int(p.rsplit(".v", 1)[1]),
    )
    if versions:
        tmp = dst + ".lnk-tmp"
        if os.path.lexists(tmp):
            os.remove(tmp)
        os.symlink(os.path.basename(versions[-1]), tmp)
        os.replace(tmp, dst)


def _publish_groups(spark: SparkSession, store_dir: str, groups: DataFrame) -> None:
    """Atomically publish a new groups table: write a fresh versioned
    directory, then swap a relative symlink over groups.parquet
    (os.replace of a symlink is atomic). Never overwrites the live
    directory in place — a crash mid-write leaves the old version
    intact and readable, same manifest-pointer discipline as
    TableStore."""
    import glob
    import shutil

    dst = _groups_path(store_dir)
    versions = [int(p.rsplit(".v", 1)[1]) for p in glob.glob(dst + ".v*")]
    next_v = max(versions, default=-1) + 1
    legacy_is_dir = os.path.isdir(dst) and not os.path.islink(dst)
    # The legacy real-directory copy (if any) must be parked under a
    # LOWER version than the new write: _heal_groups_link resolves a
    # crash window by picking the HIGHEST complete version, which must
    # always be the new merge output, never the pre-publish data.
    new_dir = f"{dst}.v{next_v + 1}" if legacy_is_dir else f"{dst}.v{next_v}"
    groups.write.mode("overwrite").parquet(new_dir)
    tmp = dst + ".lnk-tmp"
    if os.path.lexists(tmp):
        os.remove(tmp)
    os.symlink(os.path.basename(new_dir), tmp)
    if legacy_is_dir:
        # legacy store with a real directory: move it aside under the
        # reserved lower version (atomic rename; _read_groups heals the
        # brief dst-missing window via _heal_groups_link)
        os.rename(dst, f"{dst}.v{next_v}")
    os.replace(tmp, dst)
    live = os.readlink(dst)
    for p in glob.glob(dst + ".v*"):
        if os.path.basename(p) != live:
            shutil.rmtree(p, ignore_errors=True)


def _read_groups(spark: SparkSession, store_dir: str) -> DataFrame | None:
    _heal_groups_link(store_dir)
    p = _groups_path(store_dir)
    return spark.read.parquet(p) if os.path.exists(p) else None


def _require_groups(spark: SparkSession, store_dir: str) -> DataFrame:
    g = _read_groups(spark, store_dir)
    if g is None:
        raise SystemExit(
            f"store at {store_dir} has no groups.parquet (points-only "
            "store) — run `import` on a .osm.pbf to populate it"
        )
    return g


def _base_points(store) -> DataFrame:
    return store.current().select(
        "image_id",
        unpack_lat(F.col("phash")).alias("lat"),
        unpack_lon(F.col("phash")).alias("lon"),
    )


def _osm_xml_to_engine(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Plain .osm[.gz] -> the same (init points, groups) shape as
    pbf_to_engine (reference osmxml import, /root/reference/src/bin/
    osmxml.rs:29-31): bare elements parse as 'modify', so the change
    model's new_* columns ARE the element attributes."""
    from .sources.osc import elements_df, elements_to_engine, parse_osc_elements

    opener = __import__("gzip").open if path.endswith(".gz") else open
    with opener(path, "rb") as f:
        rows = parse_osc_elements(f.read(), state=0)
    points, gch = elements_to_engine(
        elements_df(spark, rows), namespace_ids=True
    )
    init = points.select(
        "image_id",
        F.col("new_caption").alias("caption"),
        F.col("new_phash").alias("phash"),
    )
    groups = gch.select("group_id", "kind", F.col("new_members").alias("members"))
    return init, groups


def cmd_import(spark: SparkSession, args) -> int:
    if args.pbf.endswith((".osm", ".osm.gz")):
        init, groups = _osm_xml_to_engine(spark, args.pbf)
    else:
        from .sources.pbf import pbf_to_engine

        base, groups = pbf_to_engine(spark, args.pbf)
        init = base.select(
            "image_id",
            F.lit(None).cast("string").alias("caption"),
            pack_footprint(F.col("lat"), F.col("lon")).alias("phash"),
        )
    store = _store(spark, args.store)
    store.init(init)
    _publish_groups(spark, args.store, groups)
    n = store.current().count()
    g = _read_groups(spark, args.store).count()
    print(f"imported {n} points, {g} groups from {args.pbf}")
    return 0


def _acquire_update_lock(store_dir: str):
    """Advisory per-store update lock (reference
    /root/reference/src/bin/update.rs:30-41): a second concurrent
    update fails fast instead of interleaving manifest/tile writes.
    Returns the open file object — the flock lives exactly as long as
    the caller keeps it referenced."""
    import fcntl

    os.makedirs(store_dir, exist_ok=True)
    lock = open(os.path.join(store_dir, "update.lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        lock.close()
        raise SystemExit(
            f"update: another update already holds {store_dir}/update.lock; "
            "aborting"
        )
    return lock


def cmd_update(spark: SparkSession, args) -> int:
    from .plans.pipeline import run_update
    from .sources.osc import elements_to_engine, read_osc_elements_dir
    from .sources.poly import regions_from_dir

    _update_lock = _acquire_update_lock(args.store)  # noqa: F841 — held for scope
    if args.follow and args.osc_tree:
        raise SystemExit(
            "update: --osc-tree is not supported with --follow yet; "
            "run a batch `update --osc-tree` pass for the tree publish"
        )
    regions = regions_from_dir(args.polygons)
    store = _store(spark, args.store)

    if getattr(args, "diffs_url", None):
        # S12: fetch the replication window (store state -> remote
        # head, optionally clamped) into the diffs dir BEFORE either
        # consumption path — the batch scan below or the --follow
        # stream (which picks the new files up as an availableNow
        # pass). Driver-side tiny-file I/O; re-fetch after a crash is
        # harmless (idempotent apply), so the walk needs no durable
        # fetch cursor beyond the store's own applied state.
        from .sources.replication import fetch_new_diffs

        fetched = fetch_new_diffs(
            store.last_state() or 0, args.diffs_url, args.diffs,
            max_state=getattr(args, "max_state", None),
        )
        print(f"fetched {len(fetched)} diff(s) from {args.diffs_url}")

    if args.follow:
        # streaming mode: the file-stream source + checkpoint gives
        # exactly-once file processing across CLI restarts; the
        # idempotent state-keyed store makes re-delivered batches
        # no-ops on top of that
        from .sources.osc import stream_osc_elements

        def per_batch(batch_elements: DataFrame, epoch_id: int) -> None:
            if batch_elements.isEmpty():
                return
            pts, gch_b = elements_to_engine(batch_elements, namespace_ids=True)
            grp = _read_groups(spark, args.store)
            applied_b = run_update(
                store,
                pts,
                regions,
                args.out,
                groups=grp,
                group_diffs=gch_b if grp is not None else None,
            )
            # group merge runs UNCONDITIONALLY (not gated on applied_b):
            # upsert/delete re-application is a no-op, so replaying a
            # batch after a crash between the store commit and this
            # merge still converges — the gate would skip it forever
            if grp is not None:
                _merge_group_store(spark, args.store, grp, gch_b)
            print(f"epoch {epoch_id}: applied {applied_b}")

        q = (
            stream_osc_elements(spark, args.diffs)
            .writeStream.foreachBatch(per_batch)
            .option(
                "checkpointLocation", os.path.join(args.store, "stream_ckpt")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        print(f"follow pass done; store at state {store.last_state()}")
        return 0

    elements = read_osc_elements_dir(spark, args.diffs).persist()
    # released on every exit: a later in-process update over the same
    # --diffs path would otherwise be served this stale scan
    try:
        points, gch = elements_to_engine(elements, namespace_ids=True)
        groups = _read_groups(spark, args.store)
        applied = run_update(
            store,
            points,
            regions,
            args.out,
            groups=groups,
            group_diffs=gch if groups is not None else None,
        )
        if args.osc_tree and applied:
            # the reference's interchange artifact (diffs.rs generate_diff):
            # per-region .osc.gz tree derived from the SAME classification
            # run_update just published (tiles parquet), joined back to the
            # original elements for full metadata/tag fidelity, written
            # distributedly (write_region_osc_tree, no driver collect)
            from functools import reduce

            from .sources.osc import write_region_osc_tree

            asg = None
            for kind_dir, idc in (("tiles", "image_id"), ("tiles_groups", "group_id")):
                frames = []
                for s in applied:
                    p = os.path.join(args.out, f"{kind_dir}/state={s}")
                    if os.path.isdir(p):
                        frames.append(
                            spark.read.parquet(p).select(
                                F.col(idc).alias("nid"),
                                F.lit(s).cast("long").alias("state"),
                                "region_id",
                                "out_action",
                            )
                        )
                if frames:
                    part = reduce(lambda a, b: a.unionByName(b), frames)
                    asg = part if asg is None else asg.unionByName(part)
            if asg is not None:
                prefix = F.when(F.col("kind") == "node", F.lit("n")).when(
                    F.col("kind") == "way", F.lit("w")
                ).otherwise(F.lit("r"))
                tagged = (
                    elements.withColumn("nid", F.concat(prefix, F.col("element_id")))
                    .join(asg, ["nid", "state"])
                    .withColumn("action", F.col("out_action"))
                    .withColumn("region", F.col("region_id"))
                    .drop("nid", "out_action", "region_id")
                )
                written = write_region_osc_tree(tagged, args.osc_tree)
                print(f"published {len(written)} region diff file(s) under {args.osc_tree}")

        # unconditional for the same crash-window reason as follow mode:
        # a previous run may have committed the store but died before the
        # group rewrite; re-merging the full (idempotent) change set heals it
        if groups is not None:
            _merge_group_store(spark, args.store, groups, gch)
        print(f"applied states: {applied}")
        return 0
    finally:
        elements.unpersist()


def _merge_group_store(
    spark: SparkSession, store_dir: str, groups: DataFrame, gch: DataFrame
) -> None:
    """Merge way/relation changes into <store>/groups.parquet.

    The winner per group is picked across ALL states in the change set:
    ``seq`` restarts at 0 in every diff file, so ordering by seq alone
    would let an older state's change beat a newer one — the order key
    is (state, seq) packed into one column."""
    from .operators.merge import merge_changes

    ordered = gch.withColumn(
        "_ord", F.col("state") * F.lit(1_000_000_000) + F.col("seq")
    )
    new_groups = merge_changes(
        groups,
        ordered.withColumnRenamed("kind", "new_kind"),
        key="group_id",
        order="_ord",
    )
    _publish_groups(spark, store_dir, new_groups)


def cmd_read(spark: SparkSession, args) -> int:
    store = _store(spark, args.store)
    eid = args.element_id
    if eid.isdigit():
        # the reference's osmbin --read takes bare numeric ids; the
        # store namespaces ids by type, so derive the prefix from the
        # requested kind (node -> n, way_full -> w, relation_full -> r)
        eid = {"node": "n", "way_full": "w", "relation_full": "r"}[args.what] + eid
    elif eid[:1] not in ("n", "w", "r"):
        raise SystemExit(
            f"read: element id {eid!r} is neither numeric nor "
            "type-prefixed (n…/w…/r…)"
        )
    if args.what == "node":
        rows = store.current().filter(F.col("image_id") == eid).collect()
    elif args.what == "way_full":
        from .operators.resolve import resolve_way_full

        groups = _require_groups(spark, args.store)
        rows = (
            resolve_way_full(
                groups.filter(F.col("group_id") == eid), _base_points(store)
            ).collect()
        )
    elif args.what == "relation_full":
        from .operators.resolve import resolve_relation_members

        groups = _require_groups(spark, args.store)
        rows = (
            resolve_relation_members(
                groups,
                _base_points(store),
                roots=groups.filter(F.col("group_id") == eid),
            )
            .orderBy("depth", "member_id")
            .collect()
        )
    else:  # pragma: no cover - argparse restricts choices
        raise ValueError(args.what)
    for r in rows:
        print(r.asDict())
    print(f"{len(rows)} row(s)")
    return 0


def cmd_check(spark: SparkSession, args) -> int:
    from .operators.integrity import dangling_refs

    store = _store(spark, args.store)
    groups = _require_groups(spark, args.store)
    dangling = dangling_refs(groups, _base_points(store))
    n = dangling.count()
    for r in dangling.limit(args.limit).collect():
        print(r.asDict())
    print(f"{n} dangling reference(s)")
    return 1 if n else 0


def cmd_filter(spark: SparkSession, args) -> int:
    from .operators.filter import classify_diff, classify_group_diff
    from .sources.osc import (
        elements_df,
        elements_to_engine,
        format_osc_elements,
        parse_osc_elements,
    )
    from .sources.poly import parse_poly

    with open(args.poly) as f:
        region = parse_poly(
            f.read(), region_id=os.path.splitext(os.path.basename(args.poly))[0]
        )
    opener = __import__("gzip").open if args.input.endswith(".gz") else open
    with opener(args.input, "rb") as f:
        rows = parse_osc_elements(f.read(), state=0)
    elements = elements_df(spark, rows).persist()
    try:
        points, gch = elements_to_engine(elements, namespace_ids=True)
        store = _store(spark, args.store)
        base = _base_points(store)
        kept_pts = classify_diff(points, base, [region], buffer=args.buffer).select(
            F.col("image_id").alias("nid"), "out_action"
        )
        groups = _read_groups(spark, args.store)
        kept = kept_pts
        if groups is not None:
            kept_groups = classify_group_diff(
                gch.select("group_id", "action", "kind", "new_members"),
                groups,
                base,
                [region],
                buffer=args.buffer,
            ).select(F.col("group_id").alias("nid"), "out_action")
            kept = kept_pts.unionByName(kept_groups)
        # join classification back to the ORIGINAL element rows (full
        # metadata/tags fidelity), override the action with out_action
        prefix = F.when(F.col("kind") == "node", F.lit("n")).when(
            F.col("kind") == "way", F.lit("w")
        ).otherwise(F.lit("r"))
        out_rows = (
            elements.withColumn("nid", F.concat(prefix, F.col("element_id")))
            .join(kept, "nid")
            .withColumn("action", F.col("out_action"))
            .drop("nid", "out_action")
            .orderBy("seq")
            .collect()
        )
    finally:
        elements.unpersist()
    xml = format_osc_elements([r.asDict(recursive=True) for r in out_rows])
    with open(args.output, "w") as f:
        f.write(xml)
    print(f"wrote {len(out_rows)} elements to {args.output}")
    return 0


def cmd_bbox(spark: SparkSession, args) -> int:
    """Store-resolved bbox annotation of a diff (reference osmxml
    --bbox, /root/reference/src/bin/osmxml.rs:33-37 + src/osmxml/
    bbox.rs): write a copy of the input .osc with a <bbox> child on
    every element whose old ∪ new geometry resolves through the store.
    Single-file artifact like the reference's, so the (small) annotated
    diff collects to the driver for the write — the distributed sibling
    is operators.bbox.annotate_diff_bboxes itself, which ``update``
    uses inline."""
    from .operators.bbox import annotate_diff_bboxes
    from .sources.osc import (
        elements_df,
        format_osc_elements,
        parse_osc_elements,
    )

    opener = __import__("gzip").open if args.input.endswith(".gz") else open
    with opener(args.input, "rb") as f:
        rows = parse_osc_elements(f.read(), state=0)
    elements = elements_df(spark, rows).persist()
    try:
        store = _store(spark, args.store)
        bb = annotate_diff_bboxes(
            elements,
            _base_points(store),
            stored_groups=_read_groups(spark, args.store),
            namespace_ids=True,
        )
        prefix = F.when(F.col("kind") == "node", F.lit("n")).when(
            F.col("kind") == "way", F.lit("w")
        ).otherwise(F.lit("r"))
        out_rows = (
            elements.withColumn("nid", F.concat(prefix, F.col("element_id")))
            .join(
                bb.select(
                    F.col("element_id").alias("nid"),
                    F.struct("minlat", "maxlat", "minlon", "maxlon").alias("new_bbox"),
                ),
                "nid",
                "left",
            )
            .withColumn("bbox", F.col("new_bbox"))
            .drop("nid", "new_bbox")
            .orderBy("seq")
            .collect()
        )
    finally:
        elements.unpersist()
    xml = format_osc_elements([r.asDict(recursive=True) for r in out_rows])
    if args.output.endswith(".gz"):
        with __import__("gzip").open(args.output, "wt") as f:
            f.write(xml)
    else:
        with open(args.output, "w") as f:
            f.write(xml)
    n_bb = sum(1 for r in out_rows if r["bbox"] is not None)
    print(f"wrote {len(out_rows)} elements ({n_bb} bbox-annotated) to {args.output}")
    return 0


def cmd_maintain(spark: SparkSession, args) -> int:
    """Store maintenance (the Iceberg expire_snapshots /
    remove_orphan_files pair over <store>/points): bound the snapshot
    log's disk and manifest, reclaim written-but-unpublished snapshot
    dirs a killed update left. Takes the same advisory lock as
    ``update`` — expiring a snapshot while an update publishes would
    race the manifest."""
    lock = _acquire_update_lock(args.store)
    try:
        store = _store(spark, args.store)
        if args.keep_last is not None:
            res = store.expire_snapshots(keep_last=args.keep_last)
            print(
                f"expired {len(res['expired'])} snapshot(s) "
                f"{res['expired']}; kept {res['kept']}"
            )
        if args.remove_orphans:
            removed = store.remove_orphans()
            print(f"removed {len(removed)} orphan snapshot dir(s)")
    finally:
        lock.close()
    return 0


def cmd_cluster(spark: SparkSession, args) -> int:
    """Rewrite a parquet table Hilbert-clustered: persist the curve id
    and lay files out as disjoint, sorted id ranges
    (repartitionByRange + sortWithinPartitions), the storage layout
    ``operators/spatial_join.hilbert_prefilter`` prunes against. The
    reference has no analog — its osmbin store is id-keyed
    (/root/reference/src/osmbin.rs); this is the spatial-access-path
    sibling a 100 TB tiling table needs: after clustering, a region
    query's OR-of-BETWEENs skips whole files/row-groups by parquet
    min/max before any decode or join."""
    from .functions.coords import unpack_lat, unpack_lon, with_hilbert

    df = spark.read.parquet(args.input)
    if args.phash_col:
        lon = unpack_lon(F.col(args.phash_col))
        lat = unpack_lat(F.col(args.phash_col))
    else:
        lon, lat = F.col(args.lon_col), F.col(args.lat_col)
    out = with_hilbert(df, lon, lat, out=args.hil_col)
    (
        out.repartitionByRange(args.files, F.col(args.hil_col))
        .sortWithinPartitions(args.hil_col)
        .write.mode("overwrite")
        .parquet(args.output)
    )
    # clustering-quality report: per-file [min,max] id ranges must be
    # disjoint (RangePartitioner keeps equal keys together), else the
    # layout would not prune
    back = spark.read.parquet(args.output)
    stats = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(
            F.min(args.hil_col).alias("lo"),
            F.max(args.hil_col).alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("lo")
        .collect()
    )
    overlaps = sum(1 for a, b in zip(stats[:-1], stats[1:]) if b["lo"] <= a["hi"])
    n_rows = sum(r["n"] for r in stats)
    print(
        f"clustered {n_rows} rows into {len(stats)} files "
        f"({overlaps} overlapping id ranges)"
    )
    return 0 if overlaps == 0 else 1


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m osm_replication_rust_spark",
        description="PySpark re-expression of osm-replication-rust's CLI",
    )
    p.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", 8)))
    sub = p.add_subparsers(dest="cmd", required=True)

    imp = sub.add_parser("import", help="bulk-import a .osm.pbf into a store")
    imp.add_argument("pbf")
    imp.add_argument("--store", required=True)

    upd = sub.add_parser("update", help="apply a replication diff tree")
    upd.add_argument("--store", required=True)
    upd.add_argument("--polygons", required=True, help="region .poly directory")
    upd.add_argument("--diffs", required=True, help=".osc[.gz] directory")
    upd.add_argument("--out", required=True, help="tile/bbox/metrics output dir")
    upd.add_argument(
        "--osc-tree",
        default=None,
        help="also publish the reference's per-region .osc.gz diff tree here",
    )
    upd.add_argument(
        "--follow",
        action="store_true",
        help="streaming mode: process the diff tree via a checkpointed "
        "file stream (exactly-once across restarts; availableNow pass)",
    )
    upd.add_argument(
        "--diffs-url",
        default=None,
        help="replication base URL (file:// or http[s]://) to fetch "
        "state.txt + NNN/NNN/NNN.osc.gz diffs from into --diffs "
        "before applying (the reference's update.rs download walk)",
    )
    upd.add_argument(
        "--max-state",
        type=int,
        default=None,
        help="clamp the fetched replication head (update.rs max_state)",
    )

    rd = sub.add_parser("read", help="point lookup / closure read")
    rd.add_argument("what", choices=["node", "way_full", "relation_full"])
    rd.add_argument("element_id")
    rd.add_argument("--store", required=True)

    ck = sub.add_parser("check", help="referential integrity (dangling refs)")
    ck.add_argument("--store", required=True)
    ck.add_argument("--limit", type=int, default=20)

    fl = sub.add_parser("filter", help="single-region .osc extract")
    fl.add_argument("input")
    fl.add_argument("output")
    fl.add_argument("--poly", required=True)
    fl.add_argument("--store", required=True)
    fl.add_argument("--buffer", type=int, default=1_000_000)

    bb = sub.add_parser(
        "bbox", help="store-resolved bbox-annotated copy of a diff"
    )
    bb.add_argument("input")
    bb.add_argument("output")
    bb.add_argument("--store", required=True)

    mt = sub.add_parser(
        "maintain",
        help="store maintenance: snapshot expiry + orphan cleanup "
        "(Iceberg expire_snapshots / remove_orphan_files)",
    )
    mt.add_argument("--store", required=True)
    mt.add_argument(
        "--keep-last",
        type=int,
        default=None,
        help="expire all but the newest N snapshots",
    )
    mt.add_argument(
        "--remove-orphans",
        action="store_true",
        help="delete snapshot dirs not referenced by the manifest",
    )

    cl = sub.add_parser(
        "cluster",
        help="rewrite a parquet table hilbert-clustered (disjoint sorted "
        "curve-id file ranges for scan pruning)",
    )
    cl.add_argument("input")
    cl.add_argument("output")
    cl.add_argument("--lon-col", default="lon")
    cl.add_argument("--lat-col", default="lat")
    cl.add_argument(
        "--phash-col",
        default=None,
        help="unpack lon/lat from this packed footprint column instead",
    )
    cl.add_argument("--hil-col", default="hil")
    cl.add_argument("--files", type=int, default=32)
    gj = sub.add_parser(
        "geojson",
        help="convert a .poly file or polygon dir tree to a GeoJSON "
        "FeatureCollection (exact decimicro decimals)",
    )
    gj.add_argument("source")
    gj.add_argument("dest", help="output path, or - for stdout")
    return p


def cmd_geojson(spark: SparkSession, args) -> int:
    """Region-format interop: convert a ``.poly`` file or polygon
    directory tree into a GeoJSON FeatureCollection (RFC 7946) — the
    exchange format downstream GIS tools speak.  Coordinates are the
    engine's decimicro ints rendered as EXACT 7-decimal numbers;
    ``sources/geojson.parse_geojson`` round-trips them losslessly, so
    the pair is a converter in both directions.  The reference's region
    model is the .poly tree (src/poly.rs); this closes the interop gap
    without touching its on-disk format."""
    import os

    from .sources.geojson import feature_collection
    from .sources.poly import parse_poly, regions_from_dir

    if os.path.isdir(args.source):
        regions = regions_from_dir(args.source)
    else:
        rid = os.path.splitext(os.path.basename(args.source))[0]
        with open(args.source) as f:
            regions = [parse_poly(f.read(), rid)]
    txt = feature_collection(regions)
    if args.dest == "-":
        print(txt)
    else:
        tmp = args.dest + ".tmp"
        with open(tmp, "w") as f:
            f.write(txt)
        os.replace(tmp, args.dest)
        print(f"wrote {len(regions)} region(s) to {args.dest}")
    return 0



def main(argv: list[str] | None = None) -> int:
    from .session import get_spark

    args = build_parser().parse_args(argv)
    spark = get_spark("cli", cpus=args.cpus)
    return {
        "import": cmd_import,
        "update": cmd_update,
        "read": cmd_read,
        "check": cmd_check,
        "filter": cmd_filter,
        "bbox": cmd_bbox,
        "maintain": cmd_maintain,
        "cluster": cmd_cluster,
        "geojson": cmd_geojson,
    }[args.cmd](spark, args)


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
