"""Discrete Hausdorff distances: brute-force bigint parity (directed +
symmetric, vertex sets), the subset-zero and asymmetry contracts, the
overflow regime decimal(38,0) exists for, and the Douglas-Peucker
error-bound property of the chain variant."""

import random

import pytest
from pyspark.sql import functions as F

from extra_ops.hausdorff import (
    chain_hausdorff_d2,
    chain_segments,
    directed_hausdorff_d2,
    hausdorff_d2,
)


def _brute_directed(a_pts, b_pts):
    # exact python-int max-min over squared distances
    return max(
        min((ax - bx) ** 2 + (ay - by) ** 2 for bx, by in b_pts)
        for ax, ay in a_pts
    )


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "group_id string, lon long, lat long"
    )


def test_directed_matches_bruteforce_and_is_asymmetric(spark):
    rng = random.Random(7)
    keys = ["k1", "k2", "k3"]
    a_rows, b_rows, ref = [], [], {}
    for k in keys:
        a = [(rng.randint(-500, 500), rng.randint(-500, 500)) for _ in range(9)]
        b = [(rng.randint(-500, 500), rng.randint(-500, 500)) for _ in range(5)]
        a_rows += [(k, x, y) for x, y in a]
        b_rows += [(k, x, y) for x, y in b]
        ref[k] = (_brute_directed(a, b), _brute_directed(b, a))
    a_df, b_df = _df(spark, a_rows), _df(spark, b_rows)
    fwd = {r.group_id: int(r.hd2) for r in directed_hausdorff_d2(a_df, b_df).collect()}
    rev = {r.group_id: int(r.hd2) for r in directed_hausdorff_d2(b_df, a_df).collect()}
    sym = {r.group_id: int(r.hd2) for r in hausdorff_d2(a_df, b_df).collect()}
    for k in keys:
        assert fwd[k] == ref[k][0]
        assert rev[k] == ref[k][1]
        assert sym[k] == max(*ref[k])
    # with 9-vs-5 random clouds at least one key is genuinely asymmetric
    assert any(fwd[k] != rev[k] for k in keys)


def test_subset_direction_is_zero(spark):
    # B contains every A point -> directed A->B = 0; the reverse
    # direction sees B's extra far point
    a = _df(spark, [("g", 0, 0), ("g", 10, 0)])
    b = _df(spark, [("g", 0, 0), ("g", 10, 0), ("g", 10, 40)])
    assert int(directed_hausdorff_d2(a, b).collect()[0].hd2) == 0
    assert int(directed_hausdorff_d2(b, a).collect()[0].hd2) == 1600


def test_exact_in_int64_overflow_regime(spark):
    # antipodal decimicro coords: d2 = (3.6e9)^2 + (3.2e9)^2 > 2^63 —
    # int64 would wrap; the decimal(38,0) path must stay exact
    a = _df(spark, [("g", -1_800_000_000, -1_600_000_000)])
    b = _df(spark, [("g", 1_800_000_000, 1_600_000_000)])
    want = (3_600_000_000) ** 2 + (3_200_000_000) ** 2
    assert want > 2**63
    assert int(directed_hausdorff_d2(a, b).collect()[0].hd2) == want


def test_missing_key_emits_no_row_and_dups_collapse(spark):
    a = _df(spark, [("g", 0, 0), ("g", 0, 0), ("h", 1, 1)])
    b = _df(spark, [("g", 3, 4), ("g", 3, 4)])
    rows = directed_hausdorff_d2(a, b).collect()
    assert {r.group_id for r in rows} == {"g"}
    assert int(rows[0].hd2) == 25


def test_chain_segments_and_chain_hausdorff(spark):
    verts = spark.createDataFrame(
        [("g", 0, 0, 0), ("g", 1, 100, 0), ("g", 2, 100, 50), ("s", 0, 7, 7)],
        "group_id string, pos int, lon long, lat long",
    )
    segs = chain_segments(verts)
    got = {(r.group_id, r.pos): (r.x1, r.y1, r.x2, r.y2) for r in segs.collect()}
    # single-vertex key s emits nothing; g has its two consecutive segments
    assert got == {
        ("g", 0): (0, 0, 100, 0),
        ("g", 1): (100, 0, 100, 50),
    }
    pts = spark.createDataFrame(
        [("g", 50, 30), ("g", 120, 25)], "group_id string, lon long, lat long"
    )
    # point 1: 30 above the horizontal leg (d2=900); point 2: 20 right of
    # the vertical leg (d2=400); max = 900
    out = chain_hausdorff_d2(pts, segs).collect()
    assert len(out) == 1 and out[0].hd2 == 900.0


def test_dp_error_bound_property(spark):
    # the classic Douglas-Peucker invariant: every original vertex is
    # within eps of the SIMPLIFIED polyline -> chain Hausdorff <= eps^2
    from osm_replication_rust_spark.datagen.synth import gen_groups, gen_images
    from osm_replication_rust_spark.functions import coords as C
    from extra_ops.way_geometry import simplify_ways
    from osm_replication_rust_spark.operators.resolve import resolve_way_full

    images = gen_images(120, seed=11)
    base = spark.createDataFrame(images[["image_id", "phash"]]).select(
        "image_id",
        C.unpack_lat(F.col("phash")).alias("lat"),
        C.unpack_lon(F.col("phash")).alias("lon"),
    )
    groups = spark.createDataFrame(gen_groups(images))
    eps = 40_000_000.0
    kept = simplify_ways(groups, base, eps=eps)
    simp_segs = chain_segments(kept)
    allv = (
        resolve_way_full(groups, base, keep_pos=True)
        .select("group_id", F.explode("coords").alias("c"))
        .select("group_id", F.col("c.lon").alias("lon"), F.col("c.lat").alias("lat"))
    )
    rows = chain_hausdorff_d2(allv, simp_segs).collect()
    assert rows, "fixture must contain multi-vertex ways"
    assert all(r.hd2 <= eps * eps for r in rows)
    # and at least one way was genuinely simplified with nonzero error
    n_kept = {r.group_id: r.n for r in kept.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    n_all = {r.group_id: r.n for r in allv.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert any(n_kept[g] < n_all[g] for g in n_kept)
    assert any(r.hd2 > 0 for r in rows)
