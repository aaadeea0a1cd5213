"""Plan-hygiene audit: .explain("formatted") for the engine's key plans,
with automated assertions on the shapes that matter at 100 TB:

- the spatial-join cover join is a BroadcastHashJoin (no shuffle of the
  point side), the point source is scanned once (no Union) and the
  refine is one Arrow-batched stage
- the expr strategy runs no Python at all
- every scalar geo codec (footprint_roundtrip) is pure codegen
- the PBF decode is one map-only Python stage
- the tiling plans' generated code compiles

Usage: python tools/explain_plans.py [sf_dir]   (prints PASS/FAIL lines
and the formatted plans for eyeballing)
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def count_shuffle_exchanges(p: str) -> int:
    """Distinct non-broadcast Exchange nodes in a formatted plan (each
    node appears once in the numbered section; BroadcastExchange is a
    different node name and is not counted)."""
    return len(re.findall(r"^\(\d+\) Exchange$", p, re.M))


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def simple_plan_of(df) -> str:
    # `*(n)` markers (whole-stage codegen ids) only appear in simple mode
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "simple"
    )


def main(sf_dir: str) -> int:
    from osm_replication_rust_spark.datagen.synth import fixture_regions
    from osm_replication_rust_spark.operators.spatial_join import assign_regions
    from osm_replication_rust_spark.plans import entry_queries
    from osm_replication_rust_spark.session import get_spark

    spark = get_spark("explain", cpus=8, shuffle_partitions=8)
    failures = 0

    def check(name: str, ok: bool, detail: str = "") -> None:
        nonlocal failures
        print(f"{'PASS' if ok else 'FAIL'} {name} {detail}")
        if not ok:
            failures += 1

    # 1. flagship: broadcast join, no exchange on the point side
    pts = spark.range(1000).select(
        F.col("id").alias("image_id"),
        ((F.col("id") * 48271) % 44000001 - 22000000).alias("lat"),
        ((F.col("id") * 69621) % 44000001 - 22000000).alias("lon"),
    )
    tiling = assign_regions(pts, fixture_regions(), keep_cols=["image_id"])
    p = plan_of(tiling)
    check("tiling.broadcast_join", "BroadcastHashJoin" in p)
    # the only exchanges allowed are broadcast exchanges.
    # Formatted mode names nodes "(N) Exchange" with the partitioning
    # under Arguments — count the numbered node list, not the tree.
    check(
        "tiling.no_shuffle",
        count_shuffle_exchanges(p) == 0,
        f"exchanges={count_shuffle_exchanges(p)}",
    )

    # 2. footprint_roundtrip: every scalar geo
    # codec in one scan — pure codegen, no Python
    ce = entry_queries.queries()["footprint_roundtrip"](spark, sf_dir)
    p = plan_of(ce)
    check("codecs.no_python", "ArrowEvalPython" not in p and "BatchEvalPython" not in p)
    ce.collect()
    check("codecs.codegen", "*(" in simple_plan_of(ce))

    # 3a. default (auto=udf) flagship: ONE Arrow-batched refine stage
    # over every joined row (join-decided rows pass through it) — never
    # row-at-a-time Python — and one scan of the points, no Union
    pt = simple_plan_of(tiling)  # simple mode: each node appears once
    check(
        "tiling.arrow_refine_single_stage",
        pt.count("ArrowEvalPython") == 1 and "BatchEvalPython" not in pt,
        f"arrow_nodes={pt.count('ArrowEvalPython')}",
    )
    check(
        "tiling.single_scan",
        pt.count("Range (") == 1 and "Union" not in pt,
        f"scans={pt.count('Range (')} unions={pt.count('Union')}",
    )

    # 3b. expr strategy variant: zero runtime Python in the plan
    tiling_expr = assign_regions(
        pts, fixture_regions(), keep_cols=["image_id"], strategy="expr"
    )
    pt = plan_of(tiling_expr)
    check(
        "tiling_expr.no_python_runtime",
        "ArrowEvalPython" not in pt and "BatchEvalPython" not in pt,
    )

    # 4. pbf_scan: blob-range decode is map-only up to the final sort
    pbf = entry_queries.queries()["pbf_scan"](spark, sf_dir)
    p = plan_of(pbf)
    check(
        "pbf_scan.single_python_stage",
        len(re.findall(r"^\(\d+\) MapInPandas$", p, re.M)) == 1
        and "BatchEvalPython" not in p,
    )

    # 5. the flagship's generated code actually COMPILES. Plan text can
    # show WholeStageCodegen while janino fails at runtime ("Code grows
    # beyond 64 KB") and Spark silently executes interpreted (~2x slower,
    # measured) — disable the fallback so a compile failure FAILS here.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    for name, df in (
        ("tiling", tiling),
        ("tiling_expr", tiling_expr),
    ):
        try:
            df.limit(1).collect()
            check(f"{name}.codegen_compiles", True)
        except Exception as e:  # noqa: BLE001
            check(f"{name}.codegen_compiles", False, str(e)[:200])
    spark.conf.set("spark.sql.codegen.fallback", "true")

    print(f"\n{'ALL PLANS HEALTHY' if failures == 0 else f'{failures} PLAN CHECKS FAILED'}")
    return 1 if failures else 0


if __name__ == "__main__":
    # usage check: --help and unknown flags exit here, before Spark
    # starts; the argument itself is read positionally below
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("sf_dir", nargs="?", help="parquet tables (default: the sf0.01 set)")
    p.parse_args()
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"))
