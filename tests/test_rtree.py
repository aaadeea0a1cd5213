"""Broadcast STR R-tree spatial join (operators/rtree.py): structure
invariants, pruning, and row-for-row parity with the cell-prefilter
flagship (spatial_join.assign_regions)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_replication_rust_spark.functions.geometry import (
    BUFFER_DECIMICRO,
    MultiPolygon,
    Ring,
    points_in_buffered_polygon,
    points_in_polygon,
)
from extra_ops.rtree import (
    StrTree,
    assign_regions_rtree,
    build_str_tree,
    query_candidates,
)


def _box(rid, x0, y0, x1, y1):
    return MultiPolygon(
        region_id=rid,
        rings=[
            Ring(
                np.array(
                    [[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=np.int64
                )
            )
        ],
    )


def _grid_regions(n_side=14, cell=1_000_000, gap=200_000):
    regs = []
    for gy in range(n_side):
        for gx in range(n_side):
            x0 = gx * cell
            y0 = gy * cell
            regs.append(
                _box(f"g{gx}_{gy}", x0, y0, x0 + cell - gap, y0 + cell - gap)
            )
    return regs


def test_str_tree_invariants():
    regs = _grid_regions()
    tree = build_str_tree(regs, leaf_size=4, buffer=0)
    assert tree.height >= 3  # 196 leaves at fanout 4
    # every parent MBR covers exactly its children's union
    for lvl in range(1, tree.height):
        for i in range(len(tree.mbrs[lvl])):
            lo, hi = tree.lo[lvl][i], tree.hi[lvl][i]
            sub = tree.mbrs[lvl - 1][lo:hi]
            assert tree.mbrs[lvl][i][0] == sub[:, 0].min()
            assert tree.mbrs[lvl][i][1] == sub[:, 1].min()
            assert tree.mbrs[lvl][i][2] == sub[:, 2].max()
            assert tree.mbrs[lvl][i][3] == sub[:, 3].max()
        # children ranges tile the level below exactly
        order = np.argsort(tree.lo[lvl])
        assert tree.lo[lvl][order][0] == 0
        assert (tree.hi[lvl][order][:-1] == tree.lo[lvl][order][1:]).all()
        assert tree.hi[lvl][order][-1] == len(tree.mbrs[lvl - 1])
    # perm is a permutation of the region indices
    assert sorted(tree.perm.tolist()) == list(range(len(regs)))


def test_query_candidates_exact_and_pruned():
    regs = _grid_regions()
    tree = build_str_tree(regs, leaf_size=4, buffer=0)
    rng = np.random.default_rng(97)
    px = rng.integers(-1_000_000, 15_000_000, 500).astype(np.int64)
    py = rng.integers(-1_000_000, 15_000_000, 500).astype(np.int64)
    pi, ri = query_candidates(tree, px, py)
    got = set(zip(pi.tolist(), ri.tolist()))
    want = set()
    for j, mp in enumerate(regs):
        x0, y0, x1, y1 = mp.bbox
        hit = (px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)
        for i in np.nonzero(hit)[0]:
            want.add((int(i), j))
    assert got == want
    # pruning: far fewer candidate pairs than the 500x196 cross product
    assert len(got) < 500 * len(regs) / 20


def test_rtree_parity_with_cell_join_fixtures(spark, regions):
    from osm_replication_rust_spark.operators.spatial_join import assign_regions

    import osm_replication_rust_spark.functions.coords as C

    ev = spark.range(0, 4000).select(
        F.col("id").alias("event_id"),
        C.derived_lat(F.col("id")).alias("lat"),
        C.derived_lon(F.col("id")).alias("lon"),
    )
    key = lambda r: (r["event_id"], r["region_id"], r["in_poly"], r["in_buffer"])  # noqa: E731
    got = sorted(
        map(
            key,
            assign_regions_rtree(
                ev, regions, keep_cols=["event_id"], buffer=BUFFER_DECIMICRO
            ).collect(),
        )
    )
    want = sorted(
        map(
            key,
            assign_regions(
                ev, regions, keep_cols=["event_id"], buffer=BUFFER_DECIMICRO
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_rtree_many_small_regions_matches_brute(spark):
    regs = _grid_regions(n_side=10)
    rng = np.random.default_rng(101)
    pts = [
        (i, int(rng.integers(-500_000, 10_500_000)),
         int(rng.integers(-500_000, 10_500_000)))
        for i in range(800)
    ]
    df = spark.createDataFrame(pts, "pid long, lon long, lat long")
    out = assign_regions_rtree(
        df, regs, keep_cols=["pid"], buffer=100_000, leaf_size=4
    ).collect()
    got = {(r["pid"], r["region_id"]): (r["in_poly"], r["in_buffer"]) for r in out}
    want = {}
    px = np.array([p[1] for p in pts], dtype=np.int64)
    py = np.array([p[2] for p in pts], dtype=np.int64)
    for mp in regs:
        inb = points_in_buffered_polygon(px, py, mp, 100_000)
        inp = points_in_polygon(px, py, mp)
        for i in np.nonzero(inb)[0]:
            want[(pts[i][0], mp.region_id)] = (bool(inp[i]), True)
    assert got == want and len(want) > 0


def test_rtree_guards():
    with pytest.raises(ValueError, match="zero regions"):
        build_str_tree([], leaf_size=4)
    with pytest.raises(ValueError, match="leaf_size"):
        build_str_tree([_box("a", 0, 0, 1, 1)], leaf_size=1)
