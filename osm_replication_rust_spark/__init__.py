"""osm_replication_rust_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch re-expression of the capabilities of
jocelynj/osm-replication-rust (reference at /root/reference, read-only)
as set-based DataFrame operators over parquet/Iceberg-shaped tables:

- decimicro-degree integer geometry (reference src/osm.rs:137-143)
- bbox annotation via min/max aggregation (reference src/osmxml/bbox.rs)
- polygon extract / three-way diff filter via a cell-prefilter spatial
  join + exact point-in-polygon refine (reference src/osmxml/filter.rs)
- incremental replication via idempotent MERGE + checkpoint manifests
  (reference src/update.rs, src/osmbin.rs)
- point tiling to the region hierarchy (``assign_regions``)
- OSM sources: PBF import, OsmChange diffs, ``.poly`` region trees

Nothing here is a port: the reference is a single-process streaming Rust
engine; this package declares logical plans with the DataFrame API and
lets Catalyst/Tungsten pick physical strategies.
"""

__version__ = "0.1.0"
