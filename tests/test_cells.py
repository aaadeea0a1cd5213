"""Cell cover correctness: the (cell, full/partial) classification must
reproduce exact polygon membership for arbitrary points."""

import numpy as np
import pytest

from osm_replication_rust_spark.datagen.synth import fixture_regions
from osm_replication_rust_spark.functions.coords import (
    LAT_OFFSET,
    LON_OFFSET,
    Y_STRIDE,
    cell_id_from_xy,
    cell_ring_offsets,
    cell_disk_offsets,
    cell_xy,
)
from osm_replication_rust_spark.functions.geometry import (
    points_in_buffered_polygon,
    points_in_polygon,
)
from osm_replication_rust_spark.operators.cells import (
    ABSENT,
    BUFFER_ONLY,
    FULL,
    PROBE_FINEST_RES,
    PROBE_MAX_ROWS,
    STRADDLING,
    build_cover,
    classify_cells,
    cover_cells,
)

RES = 20
BUF = 1_000_000


def test_cover_vs_exact_membership():
    rng = np.random.default_rng(11)
    lon = rng.integers(-22_000_000, 22_000_000, size=4000)
    lat = rng.integers(-22_000_000, 22_000_000, size=4000)
    for mp in fixture_regions():
        cover = dict(cover_cells(mp, RES, BUF))
        exact_in = points_in_polygon(lon, lat, mp)
        exact_buf = points_in_buffered_polygon(lon, lat, mp, BUF)
        for i in range(len(lon)):
            cx, cy = cell_xy(int(lon[i]), int(lat[i]), RES)
            kind = cover.get(cell_id_from_xy(cx, cy))
            if kind is None:
                # cell absent from cover => point must be outside the buffer
                assert not exact_buf[i], (mp.region_id, lon[i], lat[i])
            elif kind:  # full cell => certainly inside the polygon
                assert exact_in[i], (mp.region_id, lon[i], lat[i])
            # partial cells make no claim — refine handles them


def test_full_cells_dominate_for_big_region():
    """Scale property: the share of 'full' (refine-free) cells grows as
    the region gets large relative to the buffer. Fixture A is only
    2°x2° with a 0.1° buffer, so the partial band eats a visible share;
    a planet-scale region (20°) at the same res would be ~97% full."""
    mp = fixture_regions()[0]  # "A": 2°x2° square with a hole
    cover = cover_cells(mp, 18, BUF)
    full = sum(1 for _, f in cover if f)
    assert full / len(cover) > 0.55


@pytest.mark.parametrize("buffer", [0, BUF])
@pytest.mark.parametrize("res", [17, 20])
def test_exact_cell_classes_agree_with_kernels(res, buffer):
    """Seeded property test of cells.classify_cells: in sampled cells of
    every decided class, the 4 corners and random interior points get
    the class's answer from points_in_polygon / points_in_buffered_polygon.
    Every cell holding a ring vertex straddles; region A's hole ring is
    absent at buffer 0 and buffer-only inside at 0.1°."""
    rng = np.random.default_rng(31 + res + buffer % 97)
    edge = 1 << res
    seen = set()
    for mp in fixture_regions():
        minx, miny, maxx, maxy = mp.bbox
        cx0, cy0 = cell_xy(minx - buffer - 2 * edge, miny - buffer - 2 * edge, res)
        cx1, cy1 = cell_xy(maxx + buffer + 2 * edge, maxy + buffer + 2 * edge, res)
        gy, gx = np.mgrid[cy0 : cy1 + 1, cx0 : cx1 + 1]
        gx, gy = gx.ravel().astype(np.int64), gy.ravel().astype(np.int64)
        cls = classify_cells(mp, gx, gy, res, buffer)
        seen |= set(cls.tolist())

        verts = np.vstack([r.coords for r in mp.rings])
        vx, vy = cell_xy(verts[:, 0], verts[:, 1], res)
        at_vertex = np.isin(gy * Y_STRIDE + gx, vy * Y_STRIDE + vx)
        assert (cls[at_vertex] == STRADDLING).all(), mp.region_id

        for kind in (FULL, BUFFER_ONLY, ABSENT):
            idx = np.nonzero(cls == kind)[0]
            idx = rng.choice(idx, size=min(len(idx), 60), replace=False)
            x0 = (gx[idx] << res) - LON_OFFSET
            y0 = (gy[idx] << res) - LAT_OFFSET
            ox = np.concatenate([[0, edge - 1, 0, edge - 1], rng.integers(0, edge, 12)])
            oy = np.concatenate([[0, 0, edge - 1, edge - 1], rng.integers(0, edge, 12)])
            lon = (x0[:, None] + ox[None, :]).ravel()
            lat = (y0[:, None] + oy[None, :]).ravel()
            inp = points_in_polygon(lon, lat, mp)
            inb = points_in_buffered_polygon(lon, lat, mp, buffer)
            if kind == FULL:
                assert inp.all(), mp.region_id
            elif kind == BUFFER_ONLY:
                assert not inp.any() and inb.all(), mp.region_id
            else:
                assert not inb.any(), mp.region_id

        if mp.region_id == "A":
            hx0, hy0 = cell_xy(2_000_000, 2_000_000, res)
            hx1, hy1 = cell_xy(4_000_000, 4_000_000, res)
            in_hole = (gx > hx0) & (gx < hx1) & (gy > hy0) & (gy < hy1)
            assert in_hole.any() and not (cls[in_hole] == FULL).any()
            if in_hole.sum() > 4:  # a hole wider than two cells
                want = ABSENT if buffer == 0 else BUFFER_ONLY
                assert (cls[in_hole] == want).any()
    # a buffer-only cell needs a cell diagonal shorter than the buffer
    assert seen >= {FULL, ABSENT, STRADDLING} | ({BUFFER_ONLY} if edge * 1.5 < buffer else set())


def test_probe_cover_fits_budget_and_refines_less():
    """The probe level is the finest that fits PROBE_MAX_ROWS; a finer
    level straddles less area than res 20."""
    regions = fixture_regions()
    level, frame = build_cover(regions, RES, BUF, PROBE_FINEST_RES)
    assert PROBE_FINEST_RES <= level < RES and len(frame) <= PROBE_MAX_ROWS
    if level > PROBE_FINEST_RES:
        assert len(build_cover(regions, level - 1, BUF)[1]) > PROBE_MAX_ROWS
    coarse = build_cover(regions, RES, BUF)[1]

    def straddling_area(f, res):
        return int((~f["full"]).sum()) << (2 * res)

    assert straddling_area(frame, level) * 3 < straddling_area(coarse, RES)
    assert (frame["in_poly"] <= frame["full"]).all()


def test_ring_offsets():
    assert cell_ring_offsets(0) == [0]
    assert len(cell_ring_offsets(1)) == 8
    assert len(cell_ring_offsets(3)) == 24
    assert len(cell_disk_offsets(2)) == 25
    assert set(cell_disk_offsets(1)) == set(cell_ring_offsets(0) + cell_ring_offsets(1))


def test_quadkey_properties(spark):
    """Quadkey: digits decode back to (cx, cy); a parent cell's quadkey
    is the child's prefix (the property tile pyramids key on)."""
    from osm_replication_rust_spark.functions.coords import (
        DEFAULT_RES,
        LAT_OFFSET,
        LON_OFFSET,
        QUADKEY_LEVELS,
        quadkey,
    )
    from pyspark.sql import functions as F

    pts = [(-12_345_678, 9_876_543), (0, 0), (21_999_999, -21_999_999)]
    df = spark.createDataFrame([{"lon": a, "lat": b} for a, b in pts])
    rows = df.select(
        "lon", "lat", quadkey(F.col("lon"), F.col("lat")).alias("qk"),
        quadkey(F.col("lon"), F.col("lat"), res=DEFAULT_RES + 1).alias("qk_parent"),
    ).collect()
    for r in rows:
        cx = (r.lon + LON_OFFSET) >> DEFAULT_RES
        cy = (r.lat + LAT_OFFSET) >> DEFAULT_RES
        # decode digits back
        dx = dy = 0
        for ch in r.qk:
            d = int(ch)
            dx = dx * 2 + (d & 1)
            dy = dy * 2 + (d >> 1)
        assert (dx, dy) == (cx, cy)
        assert len(r.qk) == QUADKEY_LEVELS
        # the coarser cell's key is a strict prefix of the finer key
        # shifted: parent(res+1) digits == qk digits of (cx>>1, cy>>1)
        px, py = cx >> 1, cy >> 1
        pdx = pdy = 0
        for ch in r.qk_parent:
            d = int(ch)
            pdx = pdx * 2 + (d & 1)
            pdy = pdy * 2 + (d >> 1)
        assert (pdx, pdy) == (px, py)


def test_geohash_spark_matches_twin_and_vectors(spark):
    """Geohash: Spark expression == driver-side integer twin ==
    published float-bisection vectors (u4pruydq for 57.64911,
    10.40744); clamping at the +180/+90 open bound."""
    from pyspark.sql import functions as F

    from osm_replication_rust_spark.functions.coords import geohash, py_geohash

    rng = np.random.default_rng(17)
    pts = [(104_074_400, 576_491_100), (1_800_000_000, 900_000_000),
           (-1_800_000_000, -900_000_000), (0, 0)]
    pts += [
        (int(a), int(b))
        for a, b in zip(
            rng.integers(-1_800_000_000, 1_800_000_000, 200),
            rng.integers(-900_000_000, 900_000_000, 200),
        )
    ]
    df = spark.createDataFrame(
        [{"i": i, "lon": a, "lat": b} for i, (a, b) in enumerate(pts)]
    )
    rows = df.select(
        "i", geohash(F.col("lon"), F.col("lat")).alias("gh")
    ).collect()
    got = {r["i"]: r["gh"] for r in rows}
    for i, (a, b) in enumerate(pts):
        assert got[i] == py_geohash(a, b), (a, b)
    assert got[0] == "u4pruydq"


def test_hilbert_spark_matches_twin_and_adjacency(spark):
    """Hilbert: the chained-Project Spark form == driver-side automaton
    twin on random decimicro points, and sorting a small cell patch by
    the id walks 4-adjacent cells (the locality property the
    range-partitioning story rests on)."""
    from pyspark.sql import functions as F

    from osm_replication_rust_spark.functions.coords import (
        DEFAULT_RES,
        cell_xy,
        py_hilbert,
        with_hilbert,
    )

    rng = np.random.default_rng(23)
    pts = [(1_800_000_000, 900_000_000), (-1_800_000_000, -900_000_000), (0, 0)]
    pts += [
        (int(a), int(b))
        for a, b in zip(
            rng.integers(-1_800_000_000, 1_800_000_000, 200),
            rng.integers(-900_000_000, 900_000_000, 200),
        )
    ]
    df = spark.createDataFrame(
        [{"i": i, "lon": a, "lat": b} for i, (a, b) in enumerate(pts)]
    )
    rows = with_hilbert(df, F.col("lon"), F.col("lat")).collect()
    got = {r["i"]: r["hil"] for r in rows}
    for i, (a, b) in enumerate(pts):
        assert got[i] == py_hilbert(a, b), (a, b)

    # adjacency: all 16 cells of a 4x4 decimicro patch, ordered by id,
    # step to a Chebyshev/Manhattan neighbor every time
    edge = 1 << DEFAULT_RES
    patch = [
        (100_000_000 + dx * edge, 200_000_000 + dy * edge)
        for dx in range(4)
        for dy in range(4)
    ]
    byd = sorted((py_hilbert(a, b), cell_xy(a, b)) for a, b in patch)
    for (d1, (x1, y1)), (d2, (x2, y2)) in zip(byd[:-1], byd[1:]):
        if d2 == d1 + 1:  # consecutive on the curve -> grid neighbors
            assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_hilbert_range_predicate_pushes_down(spark, tmp_path):
    """The cover's OR-of-BETWEENs is plain comparisons on one long
    column, so it reaches the parquet scan as PushedFilters — the
    row-group pruning a hilbert-sorted 100 TB table is laid out for."""
    from pyspark.sql import functions as F

    from osm_replication_rust_spark.functions.coords import (
        hilbert_range_predicate,
        hilbert_ranges,
        with_hilbert,
    )

    rng = np.random.default_rng(31)
    df = spark.createDataFrame(
        [
            {"i": i, "lon": int(a), "lat": int(b)}
            for i, (a, b) in enumerate(
                zip(
                    rng.integers(-30_000_000, 30_000_000, 500),
                    rng.integers(-30_000_000, 30_000_000, 500),
                )
            )
        ]
    )
    path = str(tmp_path / "hsorted")
    with_hilbert(df, F.col("lon"), F.col("lat")).repartitionByRange(
        4, "hil"
    ).sortWithinPartitions("hil").write.parquet(path)

    bbox = (-9_000_000, -6_000_000, 14_000_000, 11_000_000)
    ranges = hilbert_ranges(*bbox, max_ranges=8)
    back = spark.read.parquet(path)
    got = back.filter(hilbert_range_predicate(F.col("hil"), ranges))
    plan = got._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "PushedFilters: [" in plan and "hil" in plan.split("PushedFilters")[1][:200]

    # semantics: cover-filter AND exact == exact
    exact = back.filter(
        F.col("lon").between(bbox[0], bbox[2]) & F.col("lat").between(bbox[1], bbox[3])
    )
    refined = got.filter(
        F.col("lon").between(bbox[0], bbox[2]) & F.col("lat").between(bbox[1], bbox[3])
    )
    assert sorted(r["i"] for r in refined.collect()) == sorted(
        r["i"] for r in exact.collect()
    )
    assert got.count() >= exact.count()


# ---------------------------------------------------------------------------
# hex_cell (axial hex binning, shared-IEEE-tree discipline)
# ---------------------------------------------------------------------------


def test_hex_cell_nearest_center_property(spark):
    import math
    import random

    from pyspark.sql import functions as F

    from osm_replication_rust_spark.functions.coords import hex_cell

    rng = random.Random(13)
    size = 250_000.0
    pts = [
        (i, rng.randint(-3_000_000, 3_000_000), rng.randint(-3_000_000, 3_000_000))
        for i in range(300)
    ]
    df = spark.createDataFrame(pts, "id long, lon long, lat long")
    got = {
        r.id: (r.h.hq, r.h.hr)
        for r in df.select(
            "id", hex_cell(F.col("lon"), F.col("lat"), size).alias("h")
        ).collect()
    }
    sq3 = math.sqrt(3.0)

    def center(q, r):
        return (size * sq3 * (q + r / 2.0), size * 1.5 * r)

    for i, x, y in pts:
        q, r = got[i]
        cx, cy = center(q, r)
        d0 = math.hypot(x - cx, y - cy)
        # the assigned center is within the hex circumradius, and no
        # neighbor center is meaningfully closer (near-ties allowed:
        # the cube-round decision at a boundary is a valid either-way
        # call, but never a WRONG cell)
        assert d0 <= size * (1 + 1e-9)
        for dq, dr in [(1, 0), (-1, 0), (0, 1), (0, -1), (1, -1), (-1, 1)]:
            nx, ny = center(q + dq, r + dr)
            assert d0 <= math.hypot(x - nx, y - ny) * (1 + 1e-9)


def test_hex_cell_matches_duckdb_twin_bitwise(spark):
    import random

    import duckdb
    from pyspark.sql import functions as F

    from osm_replication_rust_spark.functions.coords import (
        hex_cell,
        sql_hex_cell,
    )

    rng = random.Random(29)
    size = 777_000.0
    pts = [
        (i,
         rng.randint(-1_800_000_000, 1_800_000_000),
         rng.randint(-900_000_000, 900_000_000))
        for i in range(500)
    ]
    df = spark.createDataFrame(pts, "id long, lon long, lat long")
    got = {
        r.id: (r.h.hq, r.h.hr)
        for r in df.select(
            "id", hex_cell(F.col("lon"), F.col("lat"), size).alias("h")
        ).collect()
    }
    hq, hr = sql_hex_cell("lon", "lat", size)
    vals = ",".join(f"({i},{x},{y})" for i, x, y in pts)
    want = {
        row[0]: (row[1], row[2])
        for row in duckdb.sql(
            f"SELECT id, {hq}, {hr} FROM (VALUES {vals}) AS t(id, lon, lat)"
        ).fetchall()
    }
    assert got == want  # bit-identical doubles -> identical ids


def test_hex_cell_size_guard(spark):
    import pytest
    from pyspark.sql import functions as F

    from osm_replication_rust_spark.functions.coords import hex_cell

    with pytest.raises(ValueError, match="hex size"):
        hex_cell(F.lit(0), F.lit(0), 0.0)


# ---------------------------------------------------------------------------
# hexagonal binning (cells.hex_bin)
# ---------------------------------------------------------------------------


def _hex_python(x, y, a, b):
    ry = y // b
    best = None
    for r in range(ry - 2, ry + 4):
        rm = ((r % 2) + 2) % 2
        off = rm * (a // 2)
        qf = (x - off) // a
        for q in range(qf - 2, qf + 4):
            cx, cy = q * a + off, r * b
            d2 = (x - cx) ** 2 + (y - cy) ** 2
            key = (d2, r, q)
            if best is None or key < best:
                best = key
    return (best[2], best[1])


def test_hex_bin_matches_bruteforce_and_duckdb(spark):
    import duckdb
    import numpy as np

    from osm_replication_rust_spark.operators.cells import hex_bin, sql_hex_bin

    a, b = 10, 9
    rng = np.random.default_rng(83)
    pts = [(int(rng.integers(-100, 100)), int(rng.integers(-100, 100)))
           for _ in range(300)]
    # planted exact ties: midpoints between horizontally/vertically
    # adjacent centers, and a lattice center itself
    pts += [(5, 0), (0, 4), (0, 0), (-5, 0), (15, 9), (10, 18)]
    df = spark.createDataFrame(
        [{"i": i, "lon": x, "lat": y} for i, (x, y) in enumerate(pts)]
    )
    got = {
        r["i"]: (r["hq"], r["hr"])
        for r in hex_bin(df, a=a, b=b).collect()
    }
    for i, (x, y) in enumerate(pts):
        assert got[i] == _hex_python(x, y, a, b), (i, x, y)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE p AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, {x}, {y})" for i, (x, y) in enumerate(pts))
        + ") v(i, x, y)"
    )
    e = sql_hex_bin("x", "y", a=a, b=b)
    for i, q, r in con.execute(
        f"SELECT i, ({e}).q, ({e}).r FROM p"
    ).fetchall():
        assert got[i] == (q, r), i


def test_hex_bin_guards(spark):
    import pytest

    from osm_replication_rust_spark.operators.cells import hex_bin

    df = spark.createDataFrame([{"lon": 0, "lat": 0}])
    with pytest.raises(ValueError, match="even"):
        hex_bin(df, a=11, b=10)
    with pytest.raises(ValueError, match="sqrt"):
        hex_bin(df, a=10, b=5)
