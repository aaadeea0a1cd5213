"""Benchmark harness. Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec",
 "queries": {name: sec, ...}, "sf": ..., "images_per_sec": ...}

- headline: the flagship spatial-join+tiling throughput on a synthetic
  geo-tagged table (BASELINE.json metric), measured warm;
- plus wall time per catalog query at $SPARK_GRAFT_SF_DIR
  (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Flags: --tiling-only (scaling runs), --rows N (tiling table size).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from osm_replication_rust_spark.datagen.synth import fixture_regions  # noqa: E402
from osm_replication_rust_spark.operators.spatial_join import assign_regions  # noqa: E402
from osm_replication_rust_spark.session import get_spark  # noqa: E402

# catalog queries worth timing (the engine's scan-shaped rows: the
# spatial join, the geo codecs, bbox aggregation and the MERGE)
BENCH_QUERIES = [
    "spatial_join_tiles",
    "footprint_roundtrip",
    "bbox_agg",
    "merge_upsert",
]


def synthetic_points(spark, n: int):
    """Deterministic geo-tagged table: the LCG footprint spread over the
    fixture-region band (same derivation the oracle queries use)."""
    return spark.range(n).select(
        F.col("id").alias("image_id"),
        ((F.col("id") * 48271) % 44000001 - 22000000).alias("lat"),
        ((F.col("id") * 69621) % 44000001 - 22000000).alias("lon"),
    )


def run_tiling(
    spark, n_rows: int, repeats: int = 1, strategy: str | None = None
) -> tuple[float, int]:
    """Best-of-N wall time (the sandbox host is shared and noisy; min is
    the stable statistic). Each repeat REBUILDS the plan as a fresh
    Dataset — a fresh object means fresh RDD lineage, so Spark cannot
    stage-skip into the previous run's shuffle map outputs (counting
    the SAME DataFrame twice only runs the final reduce and measures
    nothing). The row count is kept IDENTICAL across repeats on
    purpose: the tiling plan is map-side-only up to count's single
    final exchange, so there is nothing reusable, and an identical
    plan keeps the generated code Janino-cache-hot — round 2 varied
    the count per repeat, which recompiled the whole-stage codegen
    every repeat and showed up as a fixed ~1 s/job that dominated the
    small-cluster scaling levels.

    ``strategy`` (or $SPARK_GRAFT_REFINE): auto|udf|expr refine path.
    Default res (20) + the Arrow refine measured fastest at 32 threads
    (26.3M rows/s vs 11.0M for compiled expressions; res=18 shrinks
    interior cells below the buffer width and was 4-30x slower)."""
    strategy = strategy or os.environ.get("SPARK_GRAFT_REFINE", "auto")
    best, cnt = float("inf"), 0
    for _ in range(repeats):
        pts = synthetic_points(spark, n_rows)
        out = assign_regions(
            pts, fixture_regions(), keep_cols=["image_id"], strategy=strategy
        )
        t0 = time.time()
        cnt = out.count()
        best = min(best, time.time() - t0)
    return best, cnt


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--tiling-only", action="store_true", help="skip the catalog queries")
    p.add_argument(
        "--rows",
        type=int,
        default=int(os.environ.get("SPARK_GRAFT_TILING_ROWS", "50000000")),
        help="tiling table size",
    )
    args = p.parse_args()
    tiling_only, n_rows = args.tiling_only, args.rows
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench", cpus=cpus)

    # warmup: start python workers on EVERY executor + JIT before
    # measuring (two rounds — the first run on a fresh multi-executor
    # cluster pays worker spawn + numpy import per worker; one round
    # leaves stragglers cold)
    run_tiling(spark, 2_000_000)
    run_tiling(spark, 2_000_001)

    queries: dict[str, float] = {}
    t_tile, n_assigned = run_tiling(spark, n_rows, repeats=3)
    queries["tiling_flagship"] = round(t_tile, 3)
    images_per_sec = int(n_rows / t_tile)

    if not tiling_only:
        from osm_replication_rust_spark.plans import entry_queries

        catalog = entry_queries.queries()
        # INTERLEAVED passes, min per query: the host is shared and a
        # noisy 30 s window must not pin its full cost on whichever
        # query it happened to overlap (round-2 artifact: one query
        # charged 32 s for work that takes 3 s on a quiet host).
        # Back-to-back repeats of the same query share the noise
        # window; interleaving decorrelates it. Each pass rebuilds the
        # plan from scratch (fresh DataFrames -> no shuffle reuse) and
        # caches are dropped between runs so persisted fixtures can't
        # make later passes lie.
        passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
        best: dict[str, float] = {name: float("inf") for name in BENCH_QUERIES}
        for _ in range(passes):
            for name in BENCH_QUERIES:
                fn = catalog[name]
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                best[name] = min(best[name], time.time() - t0)
                spark.catalog.clearCache()
        for name in BENCH_QUERIES:
            queries[name] = round(best[name], 3)

    total = round(sum(queries.values()), 3)
    print(
        json.dumps(
            {
                "metric": "spatial-join+tiling images/sec (synthetic geo-tagged table) + catalog query wall times",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "sf": sf_dir,
                "cpus": cpus,
                "tiling_rows": n_rows,
                "tiling_assigned": n_assigned,
                "images_per_sec": images_per_sec,
                "refine": os.environ.get("SPARK_GRAFT_REFINE", "auto"),
            }
        )
    )


if __name__ == "__main__":
    main()
