"""Raster <-> vector operator tests (extra_ops/raster.py).

Property checks against driver-side numpy recomputation; the DuckDB
gate rows rasterize_density / raster_vectorize cover the SQL twins.
"""

import numpy as np
import pytest

from osm_replication_rust_spark.functions.coords import LAT_OFFSET, LON_OFFSET, Y_STRIDE
from osm_replication_rust_spark.functions.geometry import points_in_polygon
from extra_ops.raster import (
    rasterize_points,
    rasterize_polygon,
    vectorize_raster,
)

TILE_RES = 23
PX_RES = 19
NPX = 1 << (TILE_RES - PX_RES)
PXE = 1 << PX_RES


def test_rasterize_points_exact(spark):
    # three points: two in the same pixel, one in another tile
    pts = [
        (0, 0),  # pixel (gx, gy) = (LON_OFFSET>>19, LAT_OFFSET>>19)
        (1, 1),  # same pixel (within 2**19 decimicro of the first)
        (1 << TILE_RES, 0),  # exactly one tile east
    ]
    df = spark.createDataFrame([{"lon": a, "lat": b} for a, b in pts])
    out = {
        r["tile"]: r["raster"]
        for r in rasterize_points(df, tile_res=TILE_RES, px_res=PX_RES).collect()
    }
    assert len(out) == 2
    for tile, raster in out.items():
        assert len(raster) == NPX * NPX
    gx0, gy0 = (0 + LON_OFFSET) >> PX_RES, (0 + LAT_OFFSET) >> PX_RES
    t0 = (gy0 >> (TILE_RES - PX_RES)) * Y_STRIDE + (gx0 >> (TILE_RES - PX_RES))
    idx0 = (gy0 % NPX) * NPX + (gx0 % NPX)
    assert out[t0][idx0] == 2
    assert sum(out[t0]) == 2
    assert sum(sum(r) for r in out.values()) == 3


def test_polygon_raster_matches_numpy(spark, regions):
    mp = regions[5]  # pentagon
    px_res = 18
    r = rasterize_polygon(spark, mp, tile_res=TILE_RES, px_res=px_res).collect()
    npx = 1 << (TILE_RES - px_res)
    # engine pixels set
    got = set()
    for row in r:
        tx, ty = row["tile"] % Y_STRIDE, row["tile"] // Y_STRIDE
        for idx, v in enumerate(row["raster"]):
            if v:
                got.add(((tx << (TILE_RES - px_res)) + idx % npx,
                         (ty << (TILE_RES - px_res)) + idx // npx))
    # numpy oracle over the polygon's own bbox grid
    minx, miny, maxx, maxy = mp.bbox
    x0, x1 = (minx + LON_OFFSET) >> px_res, (maxx + LON_OFFSET) >> px_res
    y0, y1 = (miny + LAT_OFFSET) >> px_res, (maxy + LAT_OFFSET) >> px_res
    gx, gy = np.meshgrid(np.arange(x0, x1 + 1), np.arange(y0, y1 + 1))
    gx, gy = gx.ravel(), gy.ravel()
    half = 1 << (px_res - 1)
    inside = points_in_polygon(
        (gx << px_res) + half - LON_OFFSET, (gy << px_res) + half - LAT_OFFSET, mp
    )
    want = set(zip(gx[inside].tolist(), gy[inside].tolist()))
    assert got == want
    assert len(want) > 100  # non-trivial mask


def test_vectorize_rects_partition_mask(spark, regions):
    mp = regions[5]
    px_res = 18
    r = rasterize_polygon(spark, mp, tile_res=TILE_RES, px_res=px_res)
    rects = vectorize_raster(r, tile_res=TILE_RES, px_res=px_res).collect()
    pxe = 1 << px_res
    # rectangles are pixel-aligned, disjoint, and their union is the mask
    covered = set()
    for row in rects:
        assert row["min_lon"] % pxe == (-LON_OFFSET) % pxe
        assert (row["max_lon"] - row["min_lon"]) % pxe == 0
        nx = (row["max_lon"] - row["min_lon"]) // pxe
        ny = (row["max_lat"] - row["min_lat"]) // pxe
        assert nx * ny == row["n_pixels"]
        gx0 = (row["min_lon"] + LON_OFFSET) >> px_res
        gy0 = (row["min_lat"] + LAT_OFFSET) >> px_res
        for dy in range(ny):
            for dx in range(nx):
                p = (gx0 + dx, gy0 + dy)
                assert p not in covered, "overlapping rectangles"
                covered.add(p)
    # same mask as the raster itself
    total = sum(
        sum(1 for v in row["raster"] if v) for row in r.collect()
    )
    assert len(covered) == total
    # every covered pixel center is inside the polygon
    xs = np.array([p[0] for p in covered])
    ys = np.array([p[1] for p in covered])
    half = 1 << (px_res - 1)
    assert points_in_polygon(
        (xs << px_res) + half - LON_OFFSET, (ys << px_res) + half - LAT_OFFSET, mp
    ).all()


def test_vectorize_threshold(spark):
    rows = [
        {"lon": 0, "lat": 0},
        {"lon": 1, "lat": 1},
        {"lon": 1 << TILE_RES, "lat": 0},
    ]
    df = spark.createDataFrame(rows)
    r = rasterize_points(df, tile_res=TILE_RES, px_res=PX_RES)
    r1 = vectorize_raster(r, tile_res=TILE_RES, px_res=PX_RES, threshold=1).collect()
    r2 = vectorize_raster(r, tile_res=TILE_RES, px_res=PX_RES, threshold=2).collect()
    assert sum(x["n_pixels"] for x in r1) == 2
    assert sum(x["n_pixels"] for x in r2) == 1  # only the double-hit pixel


def test_res_validation(spark):
    df = spark.createDataFrame([{"lon": 0, "lat": 0}])
    with pytest.raises(ValueError):
        rasterize_points(df, tile_res=19, px_res=19)
    with pytest.raises(ValueError):
        rasterize_points(df, tile_res=15, px_res=10)


def test_vectorize_random_masks_reconstruct(spark):
    """Property: for random sparse rasters, the rectangle set from
    vectorize_raster reconstructs EXACTLY the thresholded pixel set,
    with disjoint rectangles (deterministic seeds, several densities)."""
    import numpy as np

    rng = np.random.default_rng(7)
    npx = NPX
    for density in (0.05, 0.3, 0.7, 0.95):
        tiles = {}
        rows = []
        for tile in (10_000_000, 10_000_001, 10_100_000):
            mask = rng.random(npx * npx) < density
            tiles[tile] = mask
            rows.append(
                {"tile": tile, "raster": [int(v) for v in mask]}
            )
        df = spark.createDataFrame(rows, "tile long, raster array<long>")
        rects = vectorize_raster(df, tile_res=TILE_RES, px_res=PX_RES).collect()
        covered = set()
        for r in rects:
            gx0 = (r["min_lon"] + LON_OFFSET) >> PX_RES
            gy0 = (r["min_lat"] + LAT_OFFSET) >> PX_RES
            nx = (r["max_lon"] - r["min_lon"]) >> PX_RES
            ny = (r["max_lat"] - r["min_lat"]) >> PX_RES
            for dy in range(ny):
                for dx in range(nx):
                    p = (gx0 + dx, gy0 + dy)
                    assert p not in covered
                    covered.add(p)
        want = set()
        shift = TILE_RES - PX_RES
        for tile, mask in tiles.items():
            tx, ty = tile % Y_STRIDE, tile // Y_STRIDE
            for idx in np.nonzero(mask)[0]:
                want.add(
                    ((tx << shift) + int(idx) % npx, (ty << shift) + int(idx) // npx)
                )
        assert covered == want, f"density {density}"


def test_zonal_stats_matches_numpy(spark, regions):
    """zonal_stats == direct numpy recomputation (bin events-like points,
    ray-cast every occupied pixel center against every region)."""
    from extra_ops.raster import zonal_stats

    rng = np.random.default_rng(11)
    lat = rng.integers(-22_000_000, 22_000_001, size=3000)
    lon = rng.integers(-22_000_000, 22_000_001, size=3000)
    df = spark.createDataFrame(
        [{"lat": int(a), "lon": int(b)} for a, b in zip(lat, lon)]
    )
    r = rasterize_points(df, tile_res=TILE_RES, px_res=PX_RES)
    got = {
        row["region_id"]: (row["n_pixels"], row["total"])
        for row in zonal_stats(r, regions, tile_res=TILE_RES, px_res=PX_RES, buffer=0).collect()
    }
    # numpy oracle
    import collections

    bins = collections.Counter(
        (int((lo + LON_OFFSET) >> PX_RES), int((la + LAT_OFFSET) >> PX_RES))
        for lo, la in zip(lon, lat)
    )
    gx = np.array([g for g, _ in bins])
    gy = np.array([g for _, g in bins])
    v = np.array([bins[(a, b)] for a, b in zip(gx.tolist(), gy.tolist())])
    clon = (gx << PX_RES) + (1 << (PX_RES - 1)) - LON_OFFSET
    clat = (gy << PX_RES) + (1 << (PX_RES - 1)) - LAT_OFFSET
    want = {}
    for mp in regions:
        inside = points_in_polygon(clon, clat, mp)
        if inside.any():
            want[mp.region_id] = (int(inside.sum()), int(v[inside].sum()))
    assert got == want
    assert sum(n for n, _ in want.values()) > 50


def test_tile_pyramid_rollup_properties(spark):
    """Pyramid invariants on random points: every level's total equals
    the input row count; each parent's n is the sum of its children;
    each level equals a direct groupBy at that res."""
    from extra_ops.raster import tile_pyramid

    rng = np.random.default_rng(11)
    n = 4000
    lon = rng.integers(-1_000_000_000, 1_000_000_000, n)
    lat = rng.integers(-800_000_000, 800_000_000, n)
    df = spark.createDataFrame(
        [{"lon": int(a), "lat": int(b)} for a, b in zip(lon, lat)]
    )
    base_res, levels = 24, 4
    rows = tile_pyramid(df, base_res=base_res, levels=levels).collect()
    got = {}
    for r in rows:
        got.setdefault(r.res, {})[r.cell] = r.n
    assert set(got) == set(range(base_res, base_res + levels))
    for res in got:
        assert sum(got[res].values()) == n
        # direct numpy group at this res matches the rolled-up level
        cx = (lon + LON_OFFSET) >> res
        cy = (lat + LAT_OFFSET) >> res
        cells, counts = np.unique(cy * Y_STRIDE + cx, return_counts=True)
        assert got[res] == dict(zip(cells.tolist(), counts.tolist()))
    # child -> parent sum consistency on the packed ids
    for res in range(base_res, base_res + levels - 1):
        up = {}
        for cell, cnt in got[res].items():
            ccx, ccy = cell % Y_STRIDE, cell // Y_STRIDE
            up[(ccy >> 1) * Y_STRIDE + (ccx >> 1)] = (
                up.get((ccy >> 1) * Y_STRIDE + (ccx >> 1), 0) + cnt
            )
        assert up == got[res + 1]


def test_tile_pyramid_validation(spark):
    from extra_ops.raster import tile_pyramid

    df = spark.createDataFrame([{"lon": 0, "lat": 0}])
    with pytest.raises(ValueError):
        tile_pyramid(df, levels=0)
    with pytest.raises(ValueError):
        tile_pyramid(df, base_res=15)


def test_focal_sum_matches_numpy(spark):
    import numpy as np

    from extra_ops.raster import focal_sum

    rng = np.random.default_rng(9)
    W = 12
    mask = rng.random((W, W)) < 0.45
    vals = rng.integers(1, 9, (W, W))
    rows = [
        (int(x), int(y), int(vals[y, x]))
        for y in range(W)
        for x in range(W)
        if mask[y, x]
    ]
    pix = spark.createDataFrame(rows, "gx long, gy long, n long")
    got = {(r.gx, r.gy): (r.n, r.focal, r.n_nbrs)
           for r in focal_sum(pix).collect()}

    dense = np.where(mask, vals, 0)
    occ = mask.astype(int)
    assert set(got) == {(x, y) for y in range(W) for x in range(W) if mask[y, x]}
    for (x, y), (v, focal, nn) in got.items():
        y0, y1 = max(y - 1, 0), min(y + 2, W)
        x0, x1 = max(x - 1, 0), min(x + 2, W)
        assert v == vals[y, x]
        assert focal == dense[y0:y1, x0:x1].sum()
        assert nn == occ[y0:y1, x0:x1].sum()


def test_focal_sum_radius2_and_morphology(spark):
    import numpy as np

    from extra_ops.raster import focal_sum

    # solid 5x5 block: interior pixel of the 3x3 erosion is only (2,2);
    # radius=2 erosion survivor count is also exactly the center
    rows = [(x, y, 1) for y in range(5) for x in range(5)]
    pix = spark.createDataFrame(rows, "gx long, gy long, n long")
    r1 = {(r.gx, r.gy): r.n_nbrs for r in focal_sum(pix, radius=1).collect()}
    assert sum(1 for v in r1.values() if v == 9) == 9      # 3x3 interior
    r2 = {(r.gx, r.gy): r.n_nbrs for r in focal_sum(pix, radius=2).collect()}
    assert [k for k, v in r2.items() if v == 25] == [(2, 2)]
    # negative-coordinate pixels work (global grid, no offset assumptions)
    neg = spark.createDataFrame([(-5, -5, 3), (-4, -5, 4)], "gx long, gy long, n long")
    got = {(r.gx, r.gy): r.focal for r in focal_sum(neg).collect()}
    assert got == {(-5, -5): 7, (-4, -5): 7}

    import pytest as _pytest
    with _pytest.raises(ValueError):
        focal_sum(pix, radius=0)
    with _pytest.raises(ValueError):
        focal_sum(pix, radius=16)


def test_pyramid_ivm_equals_recompute(spark):
    import numpy as np
    import pandas as pd

    from extra_ops.raster import (
        merge_pyramids,
        tile_pyramid,
    )

    rng = np.random.default_rng(17)
    n = 4000
    pts = pd.DataFrame(
        {
            "pid": np.arange(n),
            "lon": rng.integers(-50_000_000, 50_000_000, n),
            "lat": rng.integers(-50_000_000, 50_000_000, n),
        }
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(pts)
    base = df.filter("pid % 3 != 0")
    # deletes include ENTIRE duplicated clusters so some cells cancel to
    # zero; inserts are the held-out third
    dels = base.filter("pid % 5 == 0").withColumn("w", F.lit(-1))
    ins = df.filter("pid % 3 == 0").withColumn("w", F.lit(1))
    eff = df.filter("pid % 3 == 0 OR pid % 5 != 0")

    kw = dict(base_res=20, levels=4)
    direct = {
        (r.res, r.cell): r.n for r in tile_pyramid(eff, **kw).collect()
    }
    ivm = {
        (r.res, r.cell): r.n
        for r in merge_pyramids(
            tile_pyramid(base, **kw),
            tile_pyramid(dels.unionByName(ins), weight="w", **kw),
        ).collect()
    }
    assert ivm == direct  # identical cells, identical counts, no zeros


def test_merge_pyramids_drops_cancelled_cells(spark):
    from extra_ops.raster import merge_pyramids

    a = spark.createDataFrame(
        [(20, 100, 3), (20, 101, 1), (21, 50, 2)], "res int, cell long, n long"
    )
    b = spark.createDataFrame(
        [(20, 100, -3), (20, 102, 4), (21, 50, -1)], "res int, cell long, n long"
    )
    got = {(r.res, r.cell): r.n for r in merge_pyramids(a, b).collect()}
    assert got == {(20, 101): 1, (20, 102): 4, (21, 50): 1}


def test_merge_pyramids_rejects_incompatible_levels(spark):
    from extra_ops.raster import merge_pyramids

    a = spark.createDataFrame(
        [(20, 1, 1), (21, 1, 1), (22, 1, 1)], "res int, cell long, n long"
    )
    b = spark.createDataFrame(
        [(18, 1, 1), (19, 1, 1), (20, 1, 1)], "res int, cell long, n long"
    )
    with pytest.raises(ValueError, match="incompatible"):
        merge_pyramids(a, b).collect()
    # a SUBSET res set is legitimate (a delta batch with empty levels)
    sub = spark.createDataFrame([(21, 1, 2)], "res int, cell long, n long")
    got = {(r.res, r.cell): r.n for r in merge_pyramids(a, sub).collect()}
    assert got == {(20, 1): 1, (21, 1): 3, (22, 1): 1}


def test_blob_labels_match_python_bfs(spark):
    import numpy as np
    from collections import deque

    from osm_replication_rust_spark.functions.coords import Y_STRIDE
    from extra_ops.raster import blob_labels

    rng = np.random.default_rng(21)
    W = 16
    mask = rng.random((W, W)) < 0.42  # subcritical + snakes both appear
    pts = [(int(x), int(y)) for y in range(W) for x in range(W) if mask[y, x]]
    # plant an isolated far-away pixel (no neighbours at all)
    pts.append((1000, 1000))
    pix = spark.createDataFrame([(x, y, 1) for x, y in pts], "gx long, gy long, n long")
    got = {(r.gx, r.gy): r.blob for r in blob_labels(pix).collect()}

    s = set(pts)
    seen, ref = set(), {}
    for p in sorted(pts):
        if p in seen:
            continue
        comp, q = [], deque([p])
        seen.add(p)
        while q:
            x, y = q.popleft()
            comp.append((x, y))
            for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                np_ = (x + dx, y + dy)
                if np_ in s and np_ not in seen:
                    seen.add(np_)
                    q.append(np_)
        lbl = min(yy * Y_STRIDE + xx for xx, yy in comp)
        for c in comp:
            ref[c] = lbl
    assert got == ref
    # the isolated pixel is its own blob
    assert got[(1000, 1000)] == 1000 * Y_STRIDE + 1000


def test_blob_labels_snake_diameter(spark):
    """A boustrophedon snake: one component with diameter ~ size —
    exactly the shape plain propagation is too slow for."""
    from osm_replication_rust_spark.functions.coords import Y_STRIDE
    from extra_ops.raster import blob_labels

    pts = []
    for y in range(8):
        xs = range(8) if y % 2 == 0 else [7 if y % 4 == 1 else 0]
        pts.extend((x, y) for x in xs)
    pix = spark.createDataFrame([(x, y, 1) for x, y in pts], "gx long, gy long, n long")
    out = blob_labels(pix, max_iters=16).collect()
    labels = {r.blob for r in out}
    assert labels == {0 * Y_STRIDE + 0}
    assert len(out) == len(pts)


def test_morans_i_matches_fraction_reference(spark):
    import numpy as np
    from fractions import Fraction

    from extra_ops.raster import morans_i

    rng = np.random.default_rng(33)
    # one tile at tile_res=20/px_res=16 -> npx=16; keep all pixels in
    # the tile at [0,16)^2 so the within-tile contract covers all pairs
    W = 16
    mask = rng.random((W, W)) < 0.5
    vals = rng.integers(1, 7, (W, W))
    rows = [
        (int(x), int(y), int(vals[y, x]))
        for y in range(W)
        for x in range(W)
        if mask[y, x]
    ]
    pix = spark.createDataFrame(rows, "gx long, gy long, n long")
    out = morans_i(pix, tile_res=20, px_res=16).collect()
    assert len(out) == 1
    got = out[0]

    pts = {(x, y): v for x, y, v in rows}
    n = len(pts)
    xbar = Fraction(sum(pts.values()), n)
    pairs = [
        (pts[p], pts[(p[0] + dx, p[1] + dy)])
        for p in pts
        for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1))
        if (p[0] + dx, p[1] + dy) in pts
    ]
    W_ = len(pairs)
    num = sum((Fraction(a) - xbar) * (Fraction(b) - xbar) for a, b in pairs)
    den = sum((Fraction(v) - xbar) ** 2 for v in pts.values())
    ref = float(Fraction(n, W_) * num / den)
    assert got.mi_n == n and got.mi_w == W_
    assert abs(got.moran_i - ref) < 1e-9 * max(1.0, abs(ref))


def test_morans_i_null_and_multi_tile(spark):
    from extra_ops.raster import morans_i

    # tile A: constant values (den=0 -> NULL); tile B: an isolated
    # pixel pair in separate tiles (W=0 -> NULL); cross-tile adjacency
    # at the boundary must NOT count (within-tile contract)
    rows = [
        (0, 0, 5), (1, 0, 5),          # tile (0,0): constant -> NULL
        (15, 21, 1), (16, 21, 9),      # adjacent but straddling tiles -> W=0
    ]
    pix = spark.createDataFrame(rows, "gx long, gy long, n long")
    out = {r.tile: r for r in morans_i(pix, tile_res=20, px_res=16).collect()}
    assert all(r.moran_i is None for r in out.values())
    ws = sorted(r.mi_w for r in out.values())
    assert ws == [0, 0, 2]  # only the constant tile has its in-tile pair


def test_gi_star_matches_float_reference(spark):
    import math

    import numpy as np

    from extra_ops.raster import gi_star

    rng = np.random.default_rng(41)
    W = 10
    mask = rng.random((W, W)) < 0.55
    vals = rng.integers(1, 20, (W, W))
    rows = [
        (int(x), int(y), int(vals[y, x]))
        for y in range(W)
        for x in range(W)
        if mask[y, x]
    ]
    pix = spark.createDataFrame(rows, "gx long, gy long, n long")
    got = {(r.gx, r.gy): r.gi_z for r in gi_star(pix).collect()}

    pts = {(x, y): v for x, y, v in rows}
    n = len(pts)
    S = sum(pts.values())
    Q = sum(v * v for v in pts.values())
    for (x, y), v in pts.items():
        focal = sum(
            pts.get((x + dx, y + dy), 0)
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
        )
        w = sum(
            1
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
            if (x + dx, y + dy) in pts
        )
        num = n * focal - S * w
        A = n * Q - S * S
        B = n * w - w * w
        ref = num / math.sqrt((A / (n - 1)) * B)
        assert abs(got[(x, y)] - ref) < 1e-9 * max(1.0, abs(ref))


def test_gi_star_constant_raster_null(spark):
    from extra_ops.raster import gi_star

    pix = spark.createDataFrame(
        [(x, 0, 3) for x in range(5)], "gx long, gy long, n long"
    )
    assert all(r.gi_z is None for r in gi_star(pix).collect())


def test_quadtree_leaves_partition_property(spark):
    """Every base cell has exactly ONE leaf among itself and its
    ancestors; leaves respect the cap except forced base leaves."""
    import numpy as np

    from osm_replication_rust_spark.functions.coords import Y_STRIDE
    from extra_ops.raster import (
        quadtree_leaves,
        tile_pyramid,
    )

    rng = np.random.default_rng(8)
    # skewed points: a dense hotspot + sparse background
    lats = np.concatenate([
        rng.integers(0, 1 << 18, 400),                  # hotspot cellfull
        rng.integers(-(1 << 22), 1 << 22, 100),
    ])
    lons = np.concatenate([
        rng.integers(0, 1 << 18, 400),
        rng.integers(-(1 << 22), 1 << 22, 100),
    ])
    df = spark.createDataFrame(
        [(int(a), int(o)) for a, o in zip(lats, lons)], "lat long, lon long"
    )
    base_res, levels, cap = 18, 5, 25
    pyr = tile_pyramid(df, base_res=base_res, levels=levels).persist()
    out = quadtree_leaves(pyr, cap=cap, base_res=base_res, levels=levels)
    rows = out.collect()
    leaves = {(r.res, r.cell) for r in rows if r.qt_leaf == 1}
    byres = {(r.res, r.cell): r.n for r in rows}

    for (r, c), n in byres.items():
        if r != base_res:
            continue
        cx, cy = c % Y_STRIDE, c // Y_STRIDE
        chain = [
            (r + k, (cy >> k) * Y_STRIDE + (cx >> k))
            for k in range(levels)
        ]
        hits = [rc for rc in chain if rc in leaves]
        assert len(hits) == 1, (r, c, hits)
    for (r, c) in leaves:
        assert byres[(r, c)] <= cap or r == base_res
    # the skewed fixture must actually exercise multiple levels
    assert len({r for r, _ in leaves}) >= 3
    pyr.unpersist()


def test_quadtree_leaves_validation(spark):
    from extra_ops.raster import (
        quadtree_leaves,
        tile_pyramid,
    )

    df = spark.createDataFrame([(0, 0)], "lat long, lon long")
    pyr = tile_pyramid(df, base_res=18, levels=2)
    import pytest as _pt
    with _pt.raises(ValueError, match="cap"):
        quadtree_leaves(pyr, cap=0, base_res=18, levels=2)
    # levels=1: the single level is both coarsest and base -> all leaves
    p1 = tile_pyramid(df, base_res=18, levels=1)
    got = quadtree_leaves(p1, cap=1, base_res=18, levels=1).collect()
    assert all(r.qt_leaf == 1 for r in got)


def test_blob_labels_packing_range_guard(spark):
    from osm_replication_rust_spark.functions.coords import Y_STRIDE
    from extra_ops.raster import blob_labels

    pix = spark.createDataFrame(
        [(Y_STRIDE, 5, 1)], "gx long, gy long, n long"
    )
    with pytest.raises(ValueError, match="key packing"):
        blob_labels(pix)


def test_quadtree_level_mismatch_raises(spark):
    from extra_ops.raster import (
        quadtree_leaves,
        tile_pyramid,
    )

    df = spark.createDataFrame([(0, 0)], "lat long, lon long")
    pyr = tile_pyramid(df, base_res=18, levels=6)
    with pytest.raises(ValueError, match="level set"):
        quadtree_leaves(pyr, cap=10, base_res=18, levels=5)


# ---------------------------------------------------------------------------
# rasterize_line (rounded-DDA pixel trace)
# ---------------------------------------------------------------------------


def _ref_trace(p1, p2):
    """Python reference of the closed-form rounded DDA in pixel space."""
    dx, dy = p2[0] - p1[0], p2[1] - p1[1]
    n = max(abs(dx), abs(dy))
    if n == 0:
        return [p1]
    out = []
    for j in range(n + 1):
        ox = (2 * j * abs(dx) + n) // (2 * n)
        oy = (2 * j * abs(dy) + n) // (2 * n)
        out.append(
            (p1[0] + (ox if dx >= 0 else -ox), p1[1] + (oy if dy >= 0 else -oy))
        )
    return out


def test_rasterize_line_matches_reference_all_octants(spark):
    from osm_replication_rust_spark.functions.coords import (
        LAT_OFFSET,
        LON_OFFSET,
    )
    from extra_ops.raster import rasterize_line

    res = 19
    edge = 1 << res
    # pixel-space endpoints across all octants + degenerate same-pixel
    cases = [
        ((0, 0), (7, 3)), ((0, 0), (3, 7)), ((0, 0), (-7, 3)),
        ((0, 0), (-3, -7)), ((5, 5), (5, 5)), ((2, 9), (2, -4)),
        ((-6, 1), (8, 1)), ((10, -10), (-10, 10)),
    ]
    rows = []
    for i, (p1, p2) in enumerate(cases):
        # put each endpoint at its pixel's exact lower-left corner
        rows.append(
            (f"g{i}", 0,
             p1[0] * edge - LON_OFFSET, p1[1] * edge - LAT_OFFSET,
             p2[0] * edge - LON_OFFSET, p2[1] * edge - LAT_OFFSET)
        )
    segs = spark.createDataFrame(
        rows, "group_id string, pos int, x1 long, y1 long, x2 long, y2 long"
    )
    got = {}
    for r in rasterize_line(segs, px_res=res).collect():
        got.setdefault(r.group_id, {})[r.j] = (r.px, r.py)
    for i, (p1, p2) in enumerate(cases):
        want = _ref_trace(p1, p2)
        trace = [got[f"g{i}"][j] for j in range(len(got[f"g{i}"]))]
        assert trace == want, (i, p1, p2)
        # contracts: endpoints exact, 8-connected, dominant axis steps 1
        assert trace[0] == p1 and trace[-1] == p2
        for a, b in zip(trace, trace[1:]):
            assert max(abs(b[0] - a[0]), abs(b[1] - a[1])) == 1
        assert len(trace) == len(set(trace))  # no within-segment dups


def test_rasterize_line_res_guard(spark):
    from extra_ops.raster import rasterize_line

    segs = spark.createDataFrame(
        [("g", 0, 0, 0, 1, 1)],
        "group_id string, pos int, x1 long, y1 long, x2 long, y2 long",
    )
    with pytest.raises(ValueError, match="px_res"):
        rasterize_line(segs, px_res=40)


def _dt_ref(mask):
    """Brute-force L1 distance transform of a 2-D bool mask."""
    h, w = mask.shape
    occ = np.argwhere(mask)
    out = np.empty((h, w), dtype=np.int64)
    for yy in range(h):
        for xx in range(w):
            out[yy, xx] = np.abs(occ - [yy, xx]).sum(axis=1).min()
    return out


def _dt_run(spark, pts):
    from extra_ops.raster import distance_transform_l1

    df = spark.createDataFrame([{"gx": int(a), "gy": int(b)} for a, b in pts])
    return distance_transform_l1(df, tile_res=TILE_RES, px_res=PX_RES).collect()


def test_distance_transform_matches_bruteforce(spark):
    rng = np.random.default_rng(7)
    mask = rng.random((NPX, NPX)) < 0.06
    mask[3, 5] = True  # never empty
    base_tx, base_ty = 5000, 7000  # arbitrary tile
    pts = [
        (base_tx * NPX + xx, base_ty * NPX + yy) for yy, xx in np.argwhere(mask)
    ]
    ref = _dt_ref(mask)
    got = _dt_run(spark, pts)
    assert len(got) == NPX * NPX
    for r in got:
        assert r.tile == base_ty * Y_STRIDE + base_tx
        assert r.dt == ref[r.py, r.px], (r.px, r.py)


def test_distance_transform_single_pixel_and_full(spark):
    # one occupied pixel at (2, 3): dt == |px-2| + |py-3| everywhere
    got = _dt_run(spark, [(2, 3)])
    for r in got:
        assert r.dt == abs(r.px - 2) + abs(r.py - 3)
    # fully occupied tile: all zeros (duplicates are harmless)
    pts = [(xx, yy) for xx in range(NPX) for yy in range(NPX)] + [(0, 0)]
    got = _dt_run(spark, pts)
    assert all(r.dt == 0 for r in got)


def test_distance_transform_tiles_independent(spark):
    # two occupied tiles, one pixel each: distances never cross tiles
    got = _dt_run(spark, [(0, 0), (3 * NPX + 8, 9)])
    by_tile = {}
    for r in got:
        by_tile.setdefault(r.tile, []).append(r)
    assert len(by_tile) == 2
    for tile, rows in by_tile.items():
        assert len(rows) == NPX * NPX
        if tile == 3:  # ty=0, tx=3
            for r in rows:
                assert r.dt == abs(r.px - 8) + abs(r.py - 9)
        else:
            for r in rows:
                assert r.dt == r.px + r.py


def test_geary_join_stats_matches_fraction_reference(spark):
    from fractions import Fraction

    import numpy as np

    from extra_ops.raster import geary_join_stats

    rng = np.random.default_rng(41)
    W = 16
    mask = rng.random((W, W)) < 0.5
    vals = rng.integers(1, 9, (W, W))
    rows = [
        (int(x), int(y), int(vals[y, x]))
        for y in range(W)
        for x in range(W)
        if mask[y, x]
    ]
    pix = spark.createDataFrame(rows, "gx long, gy long, n long")
    out = geary_join_stats(pix, tile_res=20, px_res=16).collect()
    assert len(out) == 1
    got = out[0]

    pts = {(x, y): v for x, y, v in rows}
    n = len(pts)
    pairs = [
        (pts[p], pts[(p[0] + dx, p[1] + dy)])
        for p in pts
        for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1))
        if (p[0] + dx, p[1] + dy) in pts
    ]
    w = len(pairs)
    xbar = Fraction(sum(pts.values()), n)
    ref_c = (
        Fraction(n - 1, 2 * w)
        * sum((a - b) ** 2 for a, b in pairs)
        / sum((v - xbar) ** 2 for v in pts.values())
    )
    assert got.gc_n == n and got.gc_w == w
    assert abs(got.geary_c - float(ref_c)) < 1e-12
    assert got.jc_bb == sum(1 for a, b in pairs if a % 2 == 1 and b % 2 == 1)
    assert got.jc_ww == sum(1 for a, b in pairs if a % 2 == 0 and b % 2 == 0)
    assert got.jc_bw == sum(1 for a, b in pairs if a % 2 != b % 2)
    assert got.jc_bb + got.jc_ww + got.jc_bw == w


def test_geary_join_stats_nulls(spark):
    from extra_ops.raster import geary_join_stats

    rows = [
        (0, 0, 5), (1, 0, 5),        # constant tile -> geary NULL, joins count
        (15, 21, 1), (16, 21, 9),    # straddling tiles -> W=0, all zero
    ]
    pix = spark.createDataFrame(rows, "gx long, gy long, n long")
    out = {r.tile: r for r in geary_join_stats(pix, tile_res=20, px_res=16).collect()}
    assert all(r.geary_c is None for r in out.values())
    const_tile = [r for r in out.values() if r.gc_w > 0]
    assert len(const_tile) == 1 and const_tile[0].jc_bb == 2  # 5,5 both odd
    assert sum(r.jc_bb + r.jc_ww + r.jc_bw for r in out.values()) == 2


def test_gini_tile_matches_fraction_reference(spark):
    """Exact-rational Gini reference on a random multi-tile raster:
    G = (2*sum(i*x_(i)) - (n+1)*sum(x)) / (n*sum(x)) over ascending
    values, which equals the mean-absolute-difference form."""
    from fractions import Fraction

    import numpy as np

    from extra_ops.raster import gini_tile

    rng = np.random.default_rng(43)
    W = 32  # two 16px tiles wide at tile_res 20 / px_res 16
    mask = rng.random((16, W)) < 0.4
    vals = rng.integers(1, 50, (16, W))
    rows = [
        (int(x), int(y), int(vals[y, x]))
        for y in range(16)
        for x in range(W)
        if mask[y, x]
    ]
    pix = spark.createDataFrame(rows, "gx long, gy long, n long")
    got = {r.tile: r for r in gini_tile(pix, tile_res=20, px_res=16).collect()}
    assert len(got) == 2
    by_tile: dict = {}
    for x, y, v in rows:
        by_tile.setdefault(x // 16, []).append(v)
    for tx, xs in by_tile.items():
        tile = 0 * Y_STRIDE + tx
        xs = sorted(xs)
        n, s = len(xs), sum(xs)
        ref = Fraction(
            2 * sum((i + 1) * x for i, x in enumerate(xs)) - (n + 1) * s, n * s
        )
        # cross-check vs the mean-absolute-difference definition
        mad = Fraction(
            sum(abs(a - b) for a in xs for b in xs), 2 * n * n
        ) / Fraction(s, n)
        assert ref == mad
        r = got[tile]
        assert r.gini_mass == s
        assert abs(r.gini - float(ref)) < 1e-15
        assert 0 <= r.gini < 1


def test_gini_tile_contracts(spark):
    """Constant tile -> exactly 0; one pixel holding all extra mass ->
    the closed-form (n-1)/n * (m-1)*... check via direct formula; a
    single-pixel tile is 0 by the rank identity."""
    from extra_ops.raster import gini_tile

    rows = [
        (0, 0, 5), (1, 0, 5), (2, 0, 5),     # constant tile 0
        (16, 0, 1),                          # singleton tile 1
        (32, 0, 1), (33, 0, 1), (34, 0, 98), # concentrated tile 2
    ]
    pix = spark.createDataFrame(rows, "gx long, gy long, n long")
    got = {r.tile: r for r in gini_tile(pix, tile_res=20, px_res=16).collect()}
    assert got[0].gini == 0.0 and got[0].gini_mass == 15
    assert got[1].gini == 0.0 and got[1].gini_mass == 1
    # sorted [1, 1, 98]: G = (2*(1+2+3*98) - 4*100) / (3*100)
    assert abs(got[2].gini - (2 * (1 + 2 + 3 * 98) - 4 * 100) / 300) < 1e-15
    assert got[2].gini_mass == 100


def test_local_moran_matches_fraction_reference(spark):
    import numpy as np

    from extra_ops.raster import local_moran

    rng = np.random.default_rng(47)
    W = 16
    mask = rng.random((W, W)) < 0.5
    vals = rng.integers(1, 9, (W, W))
    rows = [
        (int(x), int(y), int(vals[y, x]))
        for y in range(W)
        for x in range(W)
        if mask[y, x]
    ]
    pix = spark.createDataFrame(rows, "gx long, gy long, n long")
    out = local_moran(pix, tile_res=20, px_res=16).collect()
    assert len(out) == 1
    got = out[0]

    pts = {(x, y): v for x, y, v in rows}
    n = len(pts)
    S = sum(pts.values())
    hh = ll = hl = lh = iso = 0
    num = 0
    for p, v in pts.items():
        nbrs = [
            pts[(p[0] + dx, p[1] + dy)]
            for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1))
            if (p[0] + dx, p[1] + dy) in pts
        ]
        if not nbrs:
            iso += 1
            continue
        d = n * v - S
        lag = n * sum(nbrs) - len(nbrs) * S
        num += d * lag
        if d > 0 and lag > 0:
            hh += 1
        elif d < 0 and lag < 0:
            ll += 1
        elif d > 0 and lag < 0:
            hl += 1
        elif d < 0 and lag > 0:
            lh += 1
    assert (got.lq_n, got.lq_hh, got.lq_ll, got.lq_hl, got.lq_lh, got.lq_iso) == (
        n, hh, ll, hl, lh, iso
    )
    assert int(got.lisa_num_str) == num
    # the exact cross-check with GLOBAL Moran: sum d*lag == n^2 * num_I
    from fractions import Fraction

    xbar = Fraction(S, n)
    numI = sum(
        (Fraction(a) - xbar) * (Fraction(pts[(p[0] + dx, p[1] + dy)]) - xbar)
        for p, a in pts.items()
        for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1))
        if (p[0] + dx, p[1] + dy) in pts
    )
    assert Fraction(num, n * n) == numI


def test_local_moran_contracts(spark):
    from extra_ops.raster import local_moran

    # a 3-pixel line of (1, 9, 1): the 9 is an HL outlier (high amid
    # low), its flanks are LH; nothing is HH/LL
    rows = [(0, 0, 1), (1, 0, 9), (2, 0, 1)]
    pix = spark.createDataFrame(rows, "gx long, gy long, n long")
    got = local_moran(pix, tile_res=20, px_res=16).collect()[0]
    assert (got.lq_hh, got.lq_ll, got.lq_hl, got.lq_lh) == (0, 0, 1, 2)
    assert got.lq_iso == 0
    # isolated pixels and pair-less tiles: NULL num, all-iso census
    rows = [(0, 0, 3), (5, 5, 8)]
    pix = spark.createDataFrame(rows, "gx long, gy long, n long")
    got = local_moran(pix, tile_res=20, px_res=16).collect()[0]
    assert got.lq_iso == 2 and got.lisa_num_str is None
    assert (got.lq_hh, got.lq_ll, got.lq_hl, got.lq_lh) == (0, 0, 0, 0)
    # constant tile: every d == 0 -> no quadrant membership, num == 0
    rows = [(0, 0, 4), (1, 0, 4), (0, 1, 4)]
    pix = spark.createDataFrame(rows, "gx long, gy long, n long")
    got = local_moran(pix, tile_res=20, px_res=16).collect()[0]
    assert (got.lq_hh, got.lq_ll, got.lq_hl, got.lq_lh) == (0, 0, 0, 0)
    assert got.lisa_num_str == "0"


def _ref_viewshed(pts, tower=2):
    """Brute per-target loop over the same lattice + compare rules."""
    OFF = 64
    # observer: max value, tie smallest (py, px)
    opx, opy, ov = min(
        ((x, y, v) for (x, y), v in pts.items()),
        key=lambda t: (-t[2], t[1], t[0]),
    )
    ho = ov + tower
    vis_n = vis_mass = 0
    for (tx, ty), tv in pts.items():
        dx, dy = tx - opx, ty - opy
        dm = max(abs(dx), abs(dy))
        blocked = False
        for k in range(1, dm):
            cx = opx + (2 * k * dx + dm + 2 * dm * OFF) // (2 * dm) - OFF
            cy = opy + (2 * k * dy + dm + 2 * dm * OFF) // (2 * dm) - OFF
            e = pts.get((cx, cy), 0)
            if (e - ho) * dm >= (tv - ho) * k:
                blocked = True
                break
        if not blocked:
            vis_n += 1
            vis_mass += tv
    return (opx, opy, len(pts), vis_n, vis_mass)


def test_viewshed_matches_loop_reference(spark):
    import numpy as np

    from extra_ops.raster import viewshed

    rng = np.random.default_rng(83)
    W = 16
    mask = rng.random((W, W)) < 0.4
    vals = rng.integers(1, 40, (W, W))
    pts = {
        (int(x), int(y)): int(vals[y, x])
        for y in range(W)
        for x in range(W)
        if mask[y, x]
    }
    rows = [(x, y, v) for (x, y), v in pts.items()]
    pix = spark.createDataFrame(rows, "gx long, gy long, n long")
    out = viewshed(pix, tile_res=20, px_res=16).collect()
    assert len(out) == 1
    got = out[0]
    opx, opy, ntot, vn, vm = _ref_viewshed(pts)
    assert (got.vs_opx, got.vs_opy) == (opx, opy)
    assert (got.vs_ntot, got.vs_n, got.vs_mass) == (ntot, vn, vm)


def test_viewshed_ridge_contract(spark):
    from extra_ops.raster import viewshed

    # observer (peak 30) at x=0; a ridge of height 20 at x=4 hides the
    # LOW target at x=8 (elev 1) but not the TALL one at x=12 (elev 25)
    rows = [(0, 5, 30), (4, 5, 20), (8, 5, 1), (12, 5, 25)]
    pix = spark.createDataFrame(rows, "gx long, gy long, n long")
    got = viewshed(pix, tile_res=20, px_res=16).collect()[0]
    assert (got.vs_opx, got.vs_opy) == (0, 5)
    # visible: observer, the ridge itself, the tall target; hidden: x=8
    assert got.vs_ntot == 4 and got.vs_n == 3
    assert got.vs_mass == 30 + 20 + 25
    # single-pixel tile: trivially visible
    pix = spark.createDataFrame([(3, 3, 7)], "gx long, gy long, n long")
    got = viewshed(pix, tile_res=20, px_res=16).collect()[0]
    assert (got.vs_ntot, got.vs_n, got.vs_mass) == (1, 1, 7)


# ---------------------------------------------------------------------------
# D8 flow direction + accumulation (raster.d8_flow)
# ---------------------------------------------------------------------------

from extra_ops.raster import (  # noqa: E402
    D8_OFFSETS,
    MS_SEGMENTS,
    d8_flow,
    marching_squares,
)


def _mk_pix(spark, cells, tile_res=TILE_RES, px_res=PX_RES):
    """cells: {(gx_local, gy_local): v} within the tile at grid origin."""
    rows = [
        {"gx": (LON_OFFSET >> px_res) // NPX * NPX + x,
         "gy": (LAT_OFFSET >> px_res) // NPX * NPX + y,
         "n": v}
        for (x, y), v in cells.items()
    ]
    return spark.createDataFrame(rows)


def _d8_python(cells):
    """Brute-force D8 + accumulation oracle over {(x, y): elev}."""
    dirs = {}
    for (x, y), e in cells.items():
        best = None
        for d, (dx, dy) in enumerate(D8_OFFSETS):
            ne = cells.get((x + dx, y + dy))
            if ne is None or ne >= e:
                continue
            w = 2 if dx == 0 or dy == 0 else 1
            key = (w * (e - ne) ** 2, -d)
            if best is None or key > best[0]:
                best = (key, d)
        dirs[(x, y)] = None if best is None else best[1]
    acc = {c: 0 for c in cells}
    for c in cells:
        cur = c
        while cur is not None:
            acc[cur] += 1
            d = dirs[cur]
            cur = None if d is None else (
                cur[0] + D8_OFFSETS[d][0], cur[1] + D8_OFFSETS[d][1]
            )
    return dirs, acc


def _local(cells_rows):
    """Map d8_flow/ms output rows to within-tile (px, py) keyed dicts."""
    return {(r["px"], r["py"]): r for r in cells_rows}


def test_d8_flow_tiny_grid(spark):
    # _mk_pix aligns to the tile origin, so within-tile (px, py) == keys
    cells = {(0, 0): 5, (1, 0): 3, (0, 1): 4, (1, 1): 1}
    got = _local(d8_flow(_mk_pix(spark, cells)).collect())
    assert got[(0, 0)]["d8_dir"] == 1  # NE: diag drop 4, key 16 > E key 8
    assert got[(1, 0)]["d8_dir"] == 2  # N
    assert got[(0, 1)]["d8_dir"] == 0  # E: cardinal drop 3 key 18
    assert got[(1, 1)]["d8_dir"] is None  # pit
    assert got[(1, 1)]["acc"] == 4
    assert all(got[c]["acc"] == 1 for c in [(0, 0), (1, 0), (0, 1)])


def test_d8_tiebreak_and_sqrt2_compare(spark):
    # E and N both drop 2 (key 8): tie -> smallest code = E (0)
    cells = {(1, 1): 5, (2, 1): 3, (1, 2): 3}
    out = _local(d8_flow(_mk_pix(spark, cells)).collect())
    assert out[(1, 1)]["d8_dir"] == 0
    # cardinal drop 3 (key 18) beats diagonal drop 4 (key 16):
    # 3/1 > 4/sqrt(2) cross-multiplied
    cells = {(1, 1): 10, (2, 1): 7, (2, 2): 6}
    out = _local(d8_flow(_mk_pix(spark, cells)).collect())
    assert out[(1, 1)]["d8_dir"] == 0


def test_d8_chain_accumulation(spark):
    n = 9
    cells = {(i, 3): 20 - i for i in range(n)}
    df = d8_flow(_mk_pix(spark, cells))
    rows = df.collect()
    accs = sorted(r["acc"] for r in rows)
    assert accs == list(range(1, n + 1))
    assert sum(r["acc"] for r in rows) == n * (n + 1) // 2
    assert sum(r["d8_dir"] is None for r in rows) == 1


def test_d8_nonconvergence_raises(spark):
    cells = {(i, 0): 10 - i for i in range(6)}
    with pytest.raises(Exception, match="converge"):
        d8_flow(_mk_pix(spark, cells), max_rounds=2).collect()


def test_d8_random_matches_python(spark):
    rng = np.random.default_rng(7)
    cells = {}
    for _ in range(120):
        x, y = int(rng.integers(0, NPX)), int(rng.integers(0, NPX))
        cells[(x, y)] = int(rng.integers(1, 30))
    dirs, acc = _d8_python(cells)
    out = _local(d8_flow(_mk_pix(spark, cells)).collect())
    assert len(out) == len(cells)
    for (x, y), e in cells.items():
        r = out[(x, y)]
        assert r["elev"] == e
        assert r["d8_dir"] == dirs[(x, y)], (x, y)
        assert r["acc"] == acc[(x, y)], (x, y)


# ---------------------------------------------------------------------------
# marching squares census (raster.marching_squares)
# ---------------------------------------------------------------------------


def _ms_python(cells, thr):
    """Window census oracle over {(x, y): v} within one tile."""
    wins = {}
    for (x, y), v in cells.items():
        for cx in (0, 1):
            for cy in (0, 1):
                wx, wy = x - cx, y - cy
                if 0 <= wx <= NPX - 2 and 0 <= wy <= NPX - 2:
                    if v >= thr:
                        wins[(wx, wy)] = wins.get((wx, wy), 0) | (1 << (cx + 2 * cy))
                    else:
                        wins.setdefault((wx, wy), 0)
    return {w: c for w, c in wins.items() if c > 0}


def test_marching_squares_single_pixel(spark):
    cells = {(5, 5): 3}
    out = marching_squares(_mk_pix(spark, cells), thr=1).collect()
    got = {(r["wx"] - 5, r["wy"] - 5): r["mcase"] for r in out}
    assert got == {(-1, -1): 8, (0, -1): 4, (-1, 0): 2, (0, 0): 1}
    assert all(r["segs"] == 1 for r in out)


def test_marching_squares_saddle_and_threshold(spark):
    # diagonal pair SW+NE in one window -> case 9, two segments
    cells = {(4, 4): 5, (5, 5): 5}
    out = marching_squares(_mk_pix(spark, cells), thr=2).collect()
    got = {(r["wx"], r["wy"]): (r["mcase"], r["segs"]) for r in out}
    assert got[(4, 4)] == (9, 2)
    # below-threshold pixels contribute nothing: all-below window vanishes
    out2 = marching_squares(_mk_pix(spark, {(8, 8): 1}), thr=2).collect()
    assert out2 == []


def test_marching_squares_random_matches_python(spark):
    rng = np.random.default_rng(11)
    thr = 2
    cells = {}
    for _ in range(150):
        x, y = int(rng.integers(0, NPX)), int(rng.integers(0, NPX))
        cells[(x, y)] = int(rng.integers(1, 4))
    oracle = _ms_python(cells, thr)
    out = marching_squares(_mk_pix(spark, cells), thr=thr).collect()
    got = {(r["wx"], r["wy"]): r["mcase"] for r in out}
    assert got == oracle
    for r in out:
        assert r["segs"] == MS_SEGMENTS[r["mcase"]]


# ---------------------------------------------------------------------------
# watershed basins (raster.d8_basins)
# ---------------------------------------------------------------------------

from extra_ops.raster import d8_basins  # noqa: E402


def _basin_python(cells):
    dirs, _ = _d8_python(cells)
    roots = {}
    for c in cells:
        cur = c
        while dirs[cur] is not None:
            d = dirs[cur]
            cur = (cur[0] + D8_OFFSETS[d][0], cur[1] + D8_OFFSETS[d][1])
        roots[c] = cur[1] * NPX + cur[0]
    return roots


def test_d8_basins_tiny(spark):
    cells = {(0, 0): 5, (1, 0): 3, (0, 1): 4, (1, 1): 1}
    out = _local(d8_basins(_mk_pix(spark, cells)).collect())
    pit = 1 * NPX + 1
    assert {k: r["basin"] for k, r in out.items()} == {
        (0, 0): pit, (1, 0): pit, (0, 1): pit, (1, 1): pit
    }


def test_d8_basins_two_pits_and_chain(spark):
    # two descending chains to two separate pits + an isolated pixel
    cells = {(i, 0): 10 - i for i in range(4)}
    cells.update({(i, 8): 20 - i for i in range(5, 9)})
    cells[(12, 12)] = 7
    out = _local(d8_basins(_mk_pix(spark, cells)).collect())
    got = {k: r["basin"] for k, r in out.items()}
    assert got[(0, 0)] == got[(3, 0)] == 0 * NPX + 3
    assert got[(5, 8)] == got[(8, 8)] == 8 * NPX + 8
    assert got[(12, 12)] == 12 * NPX + 12
    # pointer doubling: a 4-chain needs 2 rounds; prove log behavior
    # by converging a 9-chain within 5 rounds
    chain = {(i, 3): 30 - i for i in range(9)}
    out2 = _local(d8_basins(_mk_pix(spark, chain), max_rounds=5).collect())
    assert all(r["basin"] == 3 * NPX + 8 for r in out2.values())


def test_d8_basins_random_matches_python(spark):
    rng = np.random.default_rng(23)
    cells = {}
    for _ in range(120):
        x, y = int(rng.integers(0, NPX)), int(rng.integers(0, NPX))
        cells[(x, y)] = int(rng.integers(1, 30))
    oracle = _basin_python(cells)
    out = _local(d8_basins(_mk_pix(spark, cells)).collect())
    assert {k: r["basin"] for k, r in out.items()} == oracle
    # basin count == pit count (labels are pit self-keys)
    dirs, _ = _d8_python(cells)
    n_pits = sum(d is None for d in dirs.values())
    assert len({r["basin"] for r in out.values()}) == n_pits


# ---------------------------------------------------------------------------
# Horn slope/aspect (raster.slope_aspect)
# ---------------------------------------------------------------------------

from extra_ops.raster import (  # noqa: E402
    HORN_WEIGHTS,
    slope_aspect,
)


def _oct_python(sx, sy):
    if sx == 0 and sy == 0:
        return None
    if sx > 0 and sy >= 0 and sy < sx:
        return 0
    if sy > 0 and sx > 0:
        return 1
    if sy > 0 and sx <= 0 and -sx < sy:
        return 2
    if sy > 0:
        return 3
    if sy <= 0 and sx < 0 and -sy < -sx:
        return 4
    if sy < 0 and sx < 0:
        return 5
    if sy < 0 and sx >= 0 and sx < -sy:
        return 6
    return 7


def _horn_python(cells):
    out = {}
    for tx in range(1, NPX - 1):
        for ty in range(1, NPX - 1):
            z = lambda dx, dy: cells.get((tx + dx, ty + dy), 0)  # noqa: E731
            any_nb = any(
                (tx + ox, ty + oy) in cells for (ox, oy), _, _ in HORN_WEIGHTS
            )
            if not any_nb:
                continue
            sx = (z(1, 1) + 2 * z(1, 0) + z(1, -1)) - (
                z(-1, 1) + 2 * z(-1, 0) + z(-1, -1)
            )
            sy = (z(-1, 1) + 2 * z(0, 1) + z(1, 1)) - (
                z(-1, -1) + 2 * z(0, -1) + z(1, -1)
            )
            out[(tx, ty)] = (sx, sy, sx * sx + sy * sy, _oct_python(sx, sy))
    return out


def test_octant_rotation_property():
    # rotating (sx, sy) by +45 deg — (x, y) -> (x - y, x + y) — must
    # advance the octant by exactly 1 (mod 8); anchors pin the phase
    assert _oct_python(1, 0) == 0 and _oct_python(1, 1) == 1
    for sx in range(-3, 4):
        for sy in range(-3, 4):
            k = _oct_python(sx, sy)
            k2 = _oct_python(sx - sy, sx + sy)
            if k is None:
                assert k2 is None
            else:
                assert k2 == (k + 1) % 8, (sx, sy)


def test_slope_aspect_spark_matches_python_decision_table(spark):
    # every octant + flat, planted via single-neighbour gradients:
    # a pixel east of the target makes sx=+2v, sy=0, etc.
    rng = np.random.default_rng(53)
    cells = {}
    for _ in range(130):
        xx, yy = int(rng.integers(0, NPX)), int(rng.integers(0, NPX))
        cells[(xx, yy)] = int(rng.integers(1, 9))
    oracle = _horn_python(cells)
    out = {
        (r["px"], r["py"]): (r["sx"], r["sy"], r["slope2"], r["oct"])
        for r in slope_aspect(_mk_pix(spark, cells)).collect()
    }
    assert out == oracle
    # sanity: the random grid actually exercised several octants
    assert len({v[3] for v in oracle.values() if v[3] is not None}) >= 5


def test_slope_aspect_interior_only_and_flat(spark):
    # a pixel at the tile corner scatters only to interior targets;
    # symmetric cross makes the center exactly flat (sx=sy=0) but
    # present (it received contributions)
    c = NPX // 2
    cells = {(c + 1, c): 5, (c - 1, c): 5, (c, c + 1): 5, (c, c - 1): 5}
    out = {
        (r["px"], r["py"]): r
        for r in slope_aspect(_mk_pix(spark, cells)).collect()
    }
    r = out[(c, c)]
    assert (r["sx"], r["sy"], r["slope2"], r["oct"]) == (0, 0, 0, None)
    assert all(1 <= px <= NPX - 2 and 1 <= py <= NPX - 2 for px, py in out)
