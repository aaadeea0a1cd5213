"""Round-6 optimization equivalence pins: every restructure that changed
an operator's internals is asserted equal to the shape it replaced.

- hilbert_range_predicate_bound == hilbert_range_predicate (the bound
  exists(array(id), ...) form vs the plain OR-of-BETWEENs) on ids that
  hit range interiors, endpoints, gaps and the far outside;
- pyramid_rollup(base-level agg) == tile_pyramid(points) — the exposed
  rollup half composed with an external base agg is the original
  two-agg operator;
- grouping-sets HLL registers (rollup_revenue's one-pass build) ==
  build-lvl0-then-re-aggregate (the shape it replaced);
- with_hilbert (one withColumns per level) still matches the
  per-level reference recurrence computed in Python.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def test_bound_cover_predicate_matches_plain(spark):
    from osm_replication_rust_spark.functions.coords import (
        hilbert_range_predicate,
        hilbert_range_predicate_bound,
    )

    ranges = [(0, 4), (10, 10), (100, 199), (1 << 40, (1 << 40) + 7)]
    probe = sorted(
        {v for lo, hi in ranges for v in (lo - 1, lo, lo + 1, hi - 1, hi, hi + 1)}
        | {0, 5, 50, 1 << 50}
    )
    df = spark.createDataFrame([(v,) for v in probe], "hil: long")
    got = df.select(
        "hil",
        hilbert_range_predicate(F.col("hil"), ranges).alias("plain"),
        hilbert_range_predicate_bound(F.col("hil"), ranges).alias("bound"),
    ).collect()
    for r in got:
        assert r.plain == r.bound, f"hil={r.hil}: {r.plain} != {r.bound}"
    assert any(r.plain for r in got) and not all(r.plain for r in got)


def test_bound_cover_predicate_empty_ranges(spark):
    from osm_replication_rust_spark.functions.coords import (
        hilbert_range_predicate_bound,
    )

    df = spark.range(3).select(F.col("id").alias("hil"))
    rows = df.select(
        hilbert_range_predicate_bound(F.col("hil"), []).alias("b")
    ).collect()
    assert [r.b for r in rows] == [False, False, False]


def test_pyramid_rollup_composes_to_tile_pyramid(spark):
    from osm_replication_rust_spark.functions.coords import (
        LAT_OFFSET,
        LON_OFFSET,
        Y_STRIDE,
    )
    from extra_ops.raster import (
        pyramid_rollup,
        tile_pyramid,
    )

    pts = spark.range(500).select(
        ((F.col("id") * 48271) % 44000001 - 22000000).alias("lat"),
        ((F.col("id") * 69621) % 44000001 - 22000000).alias("lon"),
    )
    direct = tile_pyramid(pts, base_res=18, levels=4)
    cell = (
        F.shiftright(F.col("lat") + LAT_OFFSET, 18) * Y_STRIDE
        + F.shiftright(F.col("lon") + LON_OFFSET, 18)
    )
    base = pts.select(cell.alias("cell")).groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    composed = pyramid_rollup(base, base_res=18, levels=4)
    a = {(r.res, r.cell): r.n for r in direct.collect()}
    b = {(r.res, r.cell): r.n for r in composed.collect()}
    assert a == b and len(a) > 4


def test_grouping_sets_registers_match_reaggregation(spark):
    from extra_ops.sketch import hll_rank_cols

    df = spark.range(2000).select(
        (F.col("id") % 97).alias("k"),
        (F.col("id") % 3).cast("string").alias("g1"),
        (F.col("id") % 2).cast("string").alias("g2"),
    )
    bucket, rank = hll_rank_cols(F.col("k"), p=4)
    rows = df.select("g1", "g2", bucket.alias("bucket"), rank.alias("rank"))
    one_pass = (
        rows.groupingSets(
            [["g1", "g2", "bucket"], ["g1", "bucket"], ["bucket"]],
            "g1",
            "g2",
            "bucket",
        )
        .agg(
            F.max("rank").alias("reg"),
            F.grouping("g1").alias("_a"),
            F.grouping("g2").alias("_b"),
        )
        .select(
            F.when(F.col("_a") == 1, F.lit("ALL")).otherwise(F.col("g1")).alias("g1"),
            F.when(F.col("_b") == 1, F.lit("ALL")).otherwise(F.col("g2")).alias("g2"),
            "bucket",
            "reg",
        )
    )
    lvl0 = rows.groupBy("g1", "g2", "bucket").agg(F.max("rank").alias("reg"))
    lvl1 = (
        lvl0.groupBy("g1", "bucket")
        .agg(F.max("reg").alias("reg"))
        .select("g1", F.lit("ALL").alias("g2"), "bucket", "reg")
    )
    lvl2 = (
        lvl0.groupBy("bucket")
        .agg(F.max("reg").alias("reg"))
        .select(F.lit("ALL").alias("g1"), F.lit("ALL").alias("g2"), "bucket", "reg")
    )
    ref = lvl0.unionByName(lvl1).unionByName(lvl2)
    a = {(r.g1, r.g2, r.bucket): r.reg for r in one_pass.collect()}
    b = {(r.g1, r.g2, r.bucket): r.reg for r in ref.collect()}
    assert a == b and len(a) > 20


def _hilbert_ref(x: int, y: int, levels: int) -> int:
    """Reference d(x, y): the textbook per-level Hilbert recurrence the
    merged withColumns chain must keep reproducing."""
    sw = cp = d = 0
    for b in range(levels - 1, -1, -1):
        bx = (x >> b) & 1
        by = (y >> b) & 1
        rx = bx ^ (sw & (bx ^ by)) ^ cp
        ry = by ^ (sw & (bx ^ by)) ^ cp
        d = (d << 2) + rx * 2 + (rx ^ ry)
        sw ^= ry ^ 1
        cp ^= (ry ^ 1) & rx
    return d


def test_with_hilbert_matches_reference_recurrence(spark):
    from osm_replication_rust_spark.functions.coords import (
        DEFAULT_RES,
        HILBERT_LEVELS,
        LAT_OFFSET,
        LON_OFFSET,
        with_hilbert,
    )

    pts = [(i, (i * 48271) % 44000001 - 22000000, (i * 69621) % 44000001 - 22000000)
           for i in range(64)]
    df = spark.createDataFrame(pts, "id: long, lat: long, lon: long")
    out = with_hilbert(df, F.col("lon"), F.col("lat"), out="hil").collect()
    for r in out:
        x = (r.lon + LON_OFFSET) >> DEFAULT_RES
        y = (r.lat + LAT_OFFSET) >> DEFAULT_RES
        assert r.hil == _hilbert_ref(x, y, HILBERT_LEVELS), r.id
