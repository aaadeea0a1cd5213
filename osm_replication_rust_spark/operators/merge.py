"""Idempotent MERGE + checkpointed table store.

Re-expresses the reference's osmbin upsert/delete sink
(/root/reference/src/osmbin.rs:543-747) and its crash-consistent state
advance (tmp-file + atomic rename + state symlink,
/root/reference/src/diffs.rs:105-162, /root/reference/src/update.rs:138-143)
on Spark terms:

- MERGE INTO is emulated set-based (no Delta/Iceberg jars in this image;
  the plan shape is identical to what Iceberg's copy-on-write MERGE
  produces): latest-change-per-key window → full outer join on the key →
  per-row resolve. On a real deployment swap ``merge_changes`` for
  ``MERGE INTO`` against an Iceberg table — the call sites don't change.
- Checkpointing: each applied batch writes a new parquet snapshot
  directory plus a manifest JSON (state seq, snapshot path, row count,
  per-partition lineage counts), published with tmp + atomic rename.
  ``apply_batch`` is a no-op for already-applied states, so a killed and
  restarted job never double-applies (exactly-once-ish, the reference's
  src/update.rs:40-47). A store keeps two such tables, points and
  ways/relations; the latter's ``last_state`` is ``update``'s diff
  cursor (the reference's local state.txt).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def latest_per_key(changes: DataFrame, key: str = "image_id", order: str = "seq") -> DataFrame:
    w = Window.partitionBy(key).orderBy(F.desc(order))
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_changes(
    base: DataFrame,
    changes: DataFrame,
    key: str = "image_id",
    order: str = "seq",
    version_col: str | None = None,
) -> DataFrame:
    """Apply one diff batch to the base table.

    - delete  -> row removed (reference /root/reference/src/osmbin.rs:666-747)
    - create/modify -> upsert; change columns named ``new_<col>``
      override, nulls keep the old value (partial updates tolerated).
    - ``order`` picks the within-batch winner per key (default the
      document-order ``seq``; pass ``"version"`` for version order).
    - ``version_col`` (when present in BOTH frames) makes the MERGE
      idempotent across replayed batches — the reference's element
      version (osm.rs:26, SURVEY §2.10 "MERGE keyed on
      (type,id,version)"): a change whose version is <= the stored row's
      version is STALE and leaves the row untouched (replays and
      out-of-order deliveries cannot regress newer data); applied
      upserts advance the stored version.
    """
    last = latest_per_key(changes, key, order)
    new_cols = {c[4:]: c for c in last.columns if c.startswith("new_")}
    use_ver = (
        version_col is not None
        and version_col in base.columns
        and version_col in last.columns
    )
    sel = [
        F.col(key).alias("_k"),
        F.col("action").alias("_action"),
        *[F.col(src).alias(f"_n_{dst}") for dst, src in new_cols.items()],
    ]
    if use_ver:
        sel.append(F.col(version_col).alias("_cv"))
    ch = last.select(*sel)
    joined = base.join(ch, base[key] == ch["_k"], "full_outer")

    if use_ver:
        stale = (
            F.col("_cv").isNotNull()
            & F.col(version_col).isNotNull()
            & (F.col("_cv") <= F.col(version_col))
        )
        act = F.when(stale, F.lit(None).cast("string")).otherwise(F.col("_action"))
    else:
        act = F.col("_action")

    keep = (
        act.isNull()  # untouched base row (or stale change)
        | (act != "delete")
    ) & (F.col(key).isNotNull() | (act != "delete"))

    out_cols = []
    for c in base.columns:
        if c == key:
            out_cols.append(F.coalesce(F.col(key), F.col("_k")).alias(key))
        elif use_ver and c == version_col:
            out_cols.append(
                F.when(act.isNull(), F.col(c))
                .otherwise(F.coalesce(F.col("_cv"), F.col(c)))
                .cast(base.schema[c].dataType)
                .alias(c)
            )
        elif c in new_cols:
            col = F.when(act.isNull(), F.col(c)).otherwise(
                F.coalesce(F.col(f"_n_{c}"), F.col(c))
            )
            # preserve the base column's type (diff columns may be wider)
            out_cols.append(col.cast(base.schema[c].dataType).alias(c))
        else:
            out_cols.append(F.col(c))
    return joined.filter(keep).select(*out_cols)


class TableStore:
    """Snapshot-per-batch parquet table with a checkpoint manifest —
    the engine's stand-in for an Iceberg table + snapshot log.

    The table is hash-bucketed on the merge key (``_bucket`` partition
    column, the engine's analog of Iceberg's bucket(N, key) partition
    transform). ``apply_batch`` REWRITES ONLY BUCKETS CONTAINING CHANGED
    KEYS: unchanged bucket directories are hard-linked into the new
    snapshot byte-identical. A minutely diff touching K of N buckets
    rewrites K/N of the table instead of all of it — the property that
    makes per-minute MERGE viable at the 10^12-row design point (and
    exactly what Iceberg COW MERGE file-pruning does)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str = "image_id",
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.path = path
        self.key = key
        self.n_buckets = n_buckets
        os.makedirs(path, exist_ok=True)

    def _bucket_col(self):
        return F.pmod(F.xxhash64(F.col(self.key)), F.lit(self.n_buckets)).cast("int")

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "manifest.json")

    def manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {"last_state": None, "snapshots": []}

    def last_state(self) -> int | None:
        return self.manifest()["last_state"]

    def _publish_manifest(self, man: dict) -> None:
        # tmp + atomic rename, the reference's publish pattern
        # (/root/reference/src/diffs.rs:146-149)
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(man, f, indent=1)
        os.replace(tmp, self._manifest_path)

    def init(self, df: DataFrame) -> None:
        snap = os.path.join(self.path, "v0")
        bucketed = df.withColumn("_bucket", self._bucket_col())
        (
            bucketed.repartition("_bucket")
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(snap)
        )
        # the schema is recorded, not inferred: an empty table (a store
        # without ways) writes no parquet footer to infer it from
        man = {"last_state": 0, "schema": bucketed.schema.jsonValue(), "snapshots": []}
        written = self._read_snapshot(man, snap)
        man["snapshots"].append(
            {
                "state": 0,
                "path": snap,
                "rows": written.count(),
                "lineage": self._bucket_lineage(written),
            }
        )
        self._publish_manifest(man)

    def _bucket_lineage(self, df: DataFrame) -> dict:
        return {
            str(r["_bucket"]): r["cnt"]
            for r in df.groupBy("_bucket").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }

    def _read_snapshot(self, man: dict, path: str) -> DataFrame:
        reader = self.spark.read
        if "schema" in man:
            reader = reader.schema(StructType.fromJson(man["schema"]))
        return reader.parquet(path)

    def current(self) -> DataFrame:
        man = self.manifest()
        return self._read_snapshot(man, man["snapshots"][-1]["path"]).drop("_bucket")

    def as_of(self, state: int) -> DataFrame:
        """Time travel: the table exactly as of ``state`` (the newest
        snapshot with state <= requested — Iceberg's snapshot-as-of)."""
        man = self.manifest()
        eligible = [s for s in man["snapshots"] if s["state"] <= state]
        if not eligible:
            raise ValueError(f"no snapshot at or before state {state}")
        return self._read_snapshot(man, eligible[-1]["path"]).drop("_bucket")

    def apply_batch(self, state: int, changes: DataFrame) -> bool:
        """Idempotent, bucket-pruned MERGE of one diff batch. Returns
        False if the state was already applied (resume path: no
        re-tiling of completed states).

        Only buckets containing a changed key are recomputed + written;
        every other bucket directory is hard-linked from the previous
        snapshot (byte-identical files, O(1) per file)."""
        man = self.manifest()
        if man["last_state"] is not None and state <= man["last_state"]:
            return False
        prev_path = man["snapshots"][-1]["path"]
        snap = os.path.join(self.path, f"v{state}")

        ch_buckets = sorted(
            r["_b"]
            for r in changes.select(
                F.pmod(F.xxhash64(F.col(self.key)), F.lit(self.n_buckets))
                .cast("int")
                .alias("_b")
            )
            .distinct()
            .collect()
        )
        prev_raw = self._read_snapshot(man, prev_path)
        # partition pruning: only the changed buckets are scanned
        prev_changed = prev_raw.filter(F.col("_bucket").isin(ch_buckets)).drop("_bucket")
        merged = merge_changes(prev_changed, changes, self.key)
        (
            merged.withColumn("_bucket", self._bucket_col())
            .repartition("_bucket")
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(snap)
        )
        # carry unchanged buckets forward as hard links (byte-identical)
        changed_set = {f"_bucket={b}" for b in ch_buckets}
        for entry in sorted(os.listdir(prev_path)):
            if not entry.startswith("_bucket=") or entry in changed_set:
                continue
            src_dir = os.path.join(prev_path, entry)
            dst_dir = os.path.join(snap, entry)
            os.makedirs(dst_dir, exist_ok=True)
            for fn in os.listdir(src_dir):
                dst = os.path.join(dst_dir, fn)
                if not os.path.exists(dst):
                    os.link(os.path.join(src_dir, fn), dst)

        written = self._read_snapshot(man, snap)
        man["snapshots"].append(
            {
                "state": state,
                "path": snap,
                "rows": written.count(),
                "applied_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                "rewritten_buckets": ch_buckets,
                "lineage": self._bucket_lineage(written),
            }
        )
        man["last_state"] = state
        self._publish_manifest(man)
        return True

    # -- table maintenance (the Iceberg expire_snapshots /
    # remove_orphan_files pair) ------------------------------------

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Drop all but the newest ``keep_last`` snapshots — Iceberg's
        ``expire_snapshots``, the op that keeps a per-minute-MERGE
        store's disk and manifest bounded (10^12-row design point:
        1440 snapshots/day of manifest entries and directory trees).

        Deleting an old snapshot directory is SAFE by construction:
        unchanged buckets are carried forward as hard links, so a data
        file shared with a retained snapshot survives the rmtree (the
        inode lives until its last link drops) — exactly Iceberg's
        reachability rule, enforced by the filesystem instead of a
        file-graph walk. The manifest is rewritten first (tmp + atomic
        rename): a crash between publish and rmtree leaves only
        unreferenced directories, which ``remove_orphans`` reclaims.

        Time travel to an expired state raises (as_of finds no
        eligible snapshot). Returns {"expired": [states], "kept":
        [states]}."""
        if keep_last < 1:
            raise ValueError("expire_snapshots requires keep_last >= 1")
        man = self.manifest()
        snaps = man["snapshots"]
        if len(snaps) <= keep_last:
            return {"expired": [], "kept": [s["state"] for s in snaps]}
        drop, keep = snaps[:-keep_last], snaps[-keep_last:]
        man["snapshots"] = keep
        self._publish_manifest(man)
        for s in drop:
            shutil.rmtree(s["path"], ignore_errors=True)
        return {
            "expired": [s["state"] for s in drop],
            "kept": [s["state"] for s in keep],
        }

    def remove_orphans(self) -> list[str]:
        """Delete snapshot directories not referenced by the manifest —
        Iceberg's ``remove_orphan_files`` for this store's layout. A
        job killed after writing ``v{state}`` but before the manifest
        publish leaves exactly such a directory (apply_batch is
        idempotent-by-state, so a retry overwrites it; an abandoned
        state never would). Returns the deleted paths."""
        man = self.manifest()
        referenced = {os.path.basename(s["path"]) for s in man["snapshots"]}
        removed: list[str] = []
        for entry in sorted(os.listdir(self.path)):
            full = os.path.join(self.path, entry)
            if (
                os.path.isdir(full)
                and re.fullmatch(r"v\d+", entry)
                and entry not in referenced
            ):
                shutil.rmtree(full, ignore_errors=True)
                removed.append(full)
        return removed
