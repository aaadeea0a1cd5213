"""End-to-end cell-prefilter spatial join vs a numpy brute-force oracle
(the reference's nested-loop semantics, /root/reference/src/diffs.rs:113-131)."""

import numpy as np
from pyspark.sql import functions as F

from osm_replication_rust_spark.functions.coords import unpack_lat, unpack_lon
from osm_replication_rust_spark.functions.geometry import (
    points_in_buffered_polygon,
    points_in_polygon,
)
from osm_replication_rust_spark.operators.spatial_join import assign_regions

BUF = 1_000_000


def brute_force(images_pdf, regions):
    lat = ((images_pdf.phash.to_numpy() >> 32) - 900_000_000).astype(np.int64)
    lon = (images_pdf.phash.to_numpy() % (1 << 32) - 1_800_000_000).astype(np.int64)
    want = {}
    for mp in regions:
        inp = points_in_polygon(lon, lat, mp)
        inb = inp | points_in_buffered_polygon(lon, lat, mp, BUF)
        for i in np.nonzero(inb)[0]:
            want[(images_pdf.image_id.iloc[i], mp.region_id)] = (
                bool(inp[i]),
                bool(inb[i]),
            )
    return want


def test_assign_regions_matches_brute_force(spark, regions, images_pdf):
    df = spark.createDataFrame(
        images_pdf[["image_id", "phash"]]
    ).withColumn("lat", unpack_lat(F.col("phash"))).withColumn(
        "lon", unpack_lon(F.col("phash"))
    )
    got_rows = assign_regions(
        df, regions, keep_cols=["image_id"], buffer=BUF
    ).collect()
    got = {(r.image_id, r.region_id): (r.in_poly, r.in_buffer) for r in got_rows}
    assert len(got_rows) == len(got)  # no duplicate (point, region) rows
    want = brute_force(images_pdf, regions)
    assert got == want
    # sanity: the fixture exercises every region and both membership kinds
    regions_hit = {k[1] for k in want}
    assert regions_hit == {mp.region_id for mp in regions}
    assert any(not v[0] and v[1] for v in want.values())  # buffer-only rows


def test_cascade_containment(spark, regions, images_pdf):
    """Reference cascade (/root/reference/src/diffs.rs:168-191): children
    filter the parent's output. With child poly ⊂ parent poly the
    flattened one-pass join must agree: any point in a child's polygon is
    in the parent's polygon too."""
    df = spark.createDataFrame(images_pdf[["image_id", "phash"]]).select(
        "image_id",
        unpack_lat(F.col("phash")).alias("lat"),
        unpack_lon(F.col("phash")).alias("lon"),
    )
    res = assign_regions(df, regions, keep_cols=["image_id"], buffer=BUF)
    by_parent = {mp.region_id: mp.parent_id for mp in regions}
    rows = res.filter(F.col("in_poly")).collect()
    in_poly = {(r.image_id, r.region_id) for r in rows}
    for iid, rid in in_poly:
        parent = by_parent[rid]
        while parent is not None:
            assert (iid, parent) in in_poly, (iid, rid, parent)
            parent = by_parent[parent]


def test_auto_strategy_by_master(spark):
    """'auto' resolves to the Arrow kernel only inside a single JVM;
    every multi-executor master gets the certified-scaling compiled
    expression path (BENCH.md round-3 iso-load decomposition)."""
    from osm_replication_rust_spark.operators.spatial_join import (
        _auto_strategy,
        _auto_strategy_for_master,
    )

    assert _auto_strategy_for_master("local[32]") == "udf"
    assert _auto_strategy_for_master("local[*]") == "udf"
    assert _auto_strategy_for_master("local") == "udf"
    assert _auto_strategy_for_master("local-cluster[4,8,8192]") == "expr"
    assert _auto_strategy_for_master("spark://host:7077") == "expr"
    assert _auto_strategy_for_master("yarn") == "expr"
    assert _auto_strategy_for_master("k8s://https://host:6443") == "expr"
    # the test session is local[N]
    assert _auto_strategy(spark) == "udf"


def test_assign_regions_expr_strategy_matches_brute_force(spark, regions, images_pdf):
    """The compiled-expression refine path (the multi-executor default)
    produces the identical assignment set as the numpy oracle — incl.
    on the fixtures' rectilinear rings, whose horizontal edges are
    skipped by raycast_expr's crossing accumulator."""
    df = spark.createDataFrame(images_pdf[["image_id", "phash"]]).select(
        "image_id",
        unpack_lat(F.col("phash")).alias("lat"),
        unpack_lon(F.col("phash")).alias("lon"),
    )
    got_rows = assign_regions(
        df, regions, keep_cols=["image_id"], buffer=BUF, strategy="expr"
    ).collect()
    got = {(r.image_id, r.region_id): (r.in_poly, r.in_buffer) for r in got_rows}
    assert got == brute_force(images_pdf, regions)


def test_hilbert_prefilter_is_lossless_and_prunes(spark, regions, images_pdf):
    """assign_regions(hilbert_prefilter(df)) == assign_regions(df): the
    range cover is a strict superset of the cover join's matches, and
    on this fixture it actually drops rows (the prune is real)."""
    from osm_replication_rust_spark.functions.coords import with_hilbert
    from osm_replication_rust_spark.operators.spatial_join import (
        hilbert_prefilter,
    )

    df = spark.createDataFrame(images_pdf[["image_id", "phash"]]).select(
        "image_id",
        unpack_lat(F.col("phash")).alias("lat"),
        unpack_lon(F.col("phash")).alias("lon"),
    )
    df = with_hilbert(df, F.col("lon"), F.col("lat"), out="hil")

    pruned = hilbert_prefilter(df, regions, hil_col="hil", buffer=BUF)
    n_all, n_kept = df.count(), pruned.count()
    assert n_kept < n_all  # the prune removed far-away rows

    def key(rows):
        return {(r.image_id, r.region_id): (r.in_poly, r.in_buffer) for r in rows}

    a = key(assign_regions(df, regions, keep_cols=["image_id"], buffer=BUF).collect())
    b = key(
        assign_regions(pruned, regions, keep_cols=["image_id"], buffer=BUF).collect()
    )
    assert a == b and len(a) > 0


def _buffer_edge_points(regions, buffer=BUF, seed=5):
    """Points where a join-decided class can be wrong: around every ring
    vertex at 0.985-1.005 buffer widths in all directions (the band where
    the exact and the 8-segment buffers differ), plus the 4 corners of
    every buffer-only cell of the probe cover — a few of which lie
    outside the 8-segment buffer."""
    from osm_replication_rust_spark.functions.coords import LAT_OFFSET, LON_OFFSET, Y_STRIDE
    from osm_replication_rust_spark.operators.cells import PROBE_FINEST_RES, build_cover

    rng = np.random.default_rng(seed)
    lon, lat = [], []
    for mp in regions:
        verts = np.vstack([r.coords for r in mp.rings])
        v = verts[rng.integers(0, len(verts), 400)]
        ang = rng.uniform(0, 2 * np.pi, 400)
        rad = buffer * rng.uniform(0.985, 1.005, 400)
        lon.append((v[:, 0] + rad * np.cos(ang)).astype(np.int64))
        lat.append((v[:, 1] + rad * np.sin(ang)).astype(np.int64))
    level, cover = build_cover(regions, 20, buffer, PROBE_FINEST_RES)
    cell = cover.loc[cover["full"] & ~cover["in_poly"], "cell"].to_numpy()
    x0 = (cell % Y_STRIDE << level) - LON_OFFSET
    y0 = (cell // Y_STRIDE << level) - LAT_OFFSET
    top = (1 << level) - 1
    for dx, dy in ((0, 0), (top, 0), (0, top), (top, top)):
        lon.append(x0 + dx)
        lat.append(y0 + dy)
    return np.concatenate(lon), np.concatenate(lat)


def test_assign_regions_buffer_edge_both_buffer_modes(spark, regions):
    """The join-decided classes agree with the numpy kernels where the
    buffer ends, under the exact buffer and under the 8-segment one
    (whose buffer-only cells must still be refined)."""
    import pandas as pd

    from osm_replication_rust_spark.functions.geometry import (
        points_in_buffered_polygon_8seg,
    )

    lon, lat = _buffer_edge_points(regions)
    df = spark.createDataFrame(pd.DataFrame({"pid": np.arange(len(lon)), "lon": lon, "lat": lat}))
    for mode, kernel in (
        ("exact", points_in_buffered_polygon),
        ("8seg", points_in_buffered_polygon_8seg),
    ):
        want = {}
        for mp in regions:
            inp = points_in_polygon(lon, lat, mp)
            inb = inp | kernel(lon, lat, mp, BUF)
            for i in np.nonzero(inb)[0]:
                want[(int(i), mp.region_id)] = (bool(inp[i]), True)
        got = {
            (r.pid, r.region_id): (r.in_poly, r.in_buffer)
            for r in assign_regions(
                df, regions, keep_cols=["pid"], buffer=BUF, buffer_mode=mode
            ).collect()
        }
        assert got == want, mode


def test_repeated_calls_reuse_one_broadcast(spark, regions, images_pdf, monkeypatch):
    """N assign_regions calls on the same regions build the geometry
    broadcast at most once: neither the broadcasts nor the pickled files
    in the context's temp dir grow with N."""
    import os

    sc = spark.sparkContext
    made = []
    real_broadcast = sc.broadcast
    monkeypatch.setattr(sc, "broadcast", lambda v: made.append(v) or real_broadcast(v))
    df = spark.createDataFrame(images_pdf[["image_id", "phash"]]).select(
        "image_id",
        unpack_lat(F.col("phash")).alias("lat"),
        unpack_lon(F.col("phash")).alias("lon"),
    )
    n = assign_regions(df, regions, keep_cols=["image_id"], buffer=BUF).count()
    files = len(os.listdir(sc._temp_dir))
    for _ in range(5):
        assert assign_regions(df, regions, keep_cols=["image_id"], buffer=BUF).count() == n
    assert len(made) <= 1
    assert len(os.listdir(sc._temp_dir)) == files


def test_udf_strategy_scans_the_points_once(spark, regions):
    """The 'udf' strategy is one pipeline: the executed plan of one call
    over a spark.range point source has one Range scan, one broadcast
    hash join and no Union (join-decided rows pass through the refine
    instead of being scanned again on a second branch)."""
    pts = spark.range(20_000).select(
        F.col("id").alias("pid"),
        ((F.col("id") * 48271) % 44000001 - 22000000).alias("lat"),
        ((F.col("id") * 69621) % 44000001 - 22000000).alias("lon"),
    )
    df = assign_regions(pts, regions, keep_cols=["pid"], buffer=BUF, strategy="udf")
    assert df.collect()
    # the adaptive plan's final physical plan, without the initial one
    plan = df._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert plan.count("Range (") == 1, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "Union" not in plan, plan


def _cell_points(regions, buffer, mode, kind, n=600, seed=11):
    """``n`` points inside probe-level cover cells where every cover row
    is join-decided (``kind='decided'``) or none is (``'straddling'``);
    'decided' means ``full`` under the exact buffer and ``in_poly``
    under the 8-segment one, as in assign_regions."""
    from osm_replication_rust_spark.functions.coords import LAT_OFFSET, LON_OFFSET, Y_STRIDE
    from osm_replication_rust_spark.operators.cells import PROBE_FINEST_RES, build_cover

    level, cover = build_cover(regions, 20, buffer, PROBE_FINEST_RES)
    decided = cover["full"] if mode == "exact" else cover["in_poly"]
    per_cell = decided.groupby(cover["cell"]).agg(["all", "any"])
    pick = per_cell["all"] if kind == "decided" else ~per_cell["any"]
    cells = per_cell.index[pick].to_numpy()
    rng = np.random.default_rng(seed)
    cell = cells[rng.integers(0, len(cells), n)]
    lon = (cell % Y_STRIDE << level) - LON_OFFSET + rng.integers(0, 1 << level, n)
    lat = (cell // Y_STRIDE << level) - LAT_OFFSET + rng.integers(0, 1 << level, n)
    return lon, lat


def test_refine_sentinel_batches_match_numpy(spark, regions):
    """Batches whose rows are all join-decided, all straddling, or
    mixed give the numpy oracle's rows under both buffer modes and with
    no buffer: decided rows reach the refine kernel as region -1 and
    must come out with the cover's in_poly, untouched by the kernel."""
    import pandas as pd

    from osm_replication_rust_spark.functions.geometry import (
        points_in_buffered_polygon_8seg,
    )

    kernels = {"exact": points_in_buffered_polygon, "8seg": points_in_buffered_polygon_8seg}
    for mode, buffer in (("exact", BUF), ("8seg", BUF), ("exact", 0)):
        dec = _cell_points(regions, buffer, mode, "decided")
        strad = _cell_points(regions, buffer, mode, "straddling")
        mixed = tuple(np.concatenate([a, b]) for a, b in zip(dec, strad))
        for name, (lon, lat) in (("decided", dec), ("straddling", strad), ("mixed", mixed)):
            want = {}
            for mp in regions:
                inp = points_in_polygon(lon, lat, mp)
                inb = inp | kernels[mode](lon, lat, mp, buffer) if buffer else inp
                for i in np.nonzero(inb)[0]:
                    want[(int(i), mp.region_id)] = (bool(inp[i]), True)
            pdf = pd.DataFrame({"pid": np.arange(len(lon)), "lon": lon, "lat": lat})
            got_rows = assign_regions(
                spark.createDataFrame(pdf).coalesce(1),
                regions,
                keep_cols=["pid"],
                buffer=buffer,
                strategy="udf",
                buffer_mode=mode,
            ).collect()
            got = {(r.pid, r.region_id): (r.in_poly, r.in_buffer) for r in got_rows}
            assert len(got) == len(got_rows), (mode, buffer, name)
            assert got == want, (mode, buffer, name)
            # the sets exercise what they are named after
            assert want and any(v[0] for v in want.values()), (mode, buffer, name)
