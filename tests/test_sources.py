""".poly parser / region-dir scan / OsmChange XML source round-trips,
and the end-to-end file-driven pipeline (the reference's actual input
formats feeding the set-based engine)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_replication_rust_spark.datagen.synth import fixture_regions, gen_diffs, gen_images
from osm_replication_rust_spark.sources.osc import (
    _shard,
    elements_to_engine,
    format_osc_elements,
    parse_osc_elements,
    read_osc_elements_dir,
    state_from_path,
)
from osm_replication_rust_spark.sources.poly import (
    format_poly,
    parse_poly,
    regions_from_dir,
    write_region_dir,
)

AFRICA_POLY = """africa
1
   -13.0   27.0
   -13.0   5.0
   10.0   5.0
   33.0   27.5
   -13.0   27.0
END
!2
   0.0   10.0
   1.0   10.0
   1.0   11.0
   0.0   10.0
END
END
"""


def test_parse_poly():
    mp = parse_poly(AFRICA_POLY, "africa")
    assert len(mp.rings) == 2
    assert not mp.rings[0].hole and mp.rings[1].hole
    assert mp.rings[0].coords[0].tolist() == [-130_000_000, 270_000_000]
    assert mp.rings[0].coords[3].tolist() == [330_000_000, 275_000_000]


def test_poly_roundtrip():
    mp = parse_poly(AFRICA_POLY, "africa")
    again = parse_poly(format_poly(mp), "africa")
    assert len(again.rings) == len(mp.rings)
    for a, b in zip(again.rings, mp.rings):
        assert a.hole == b.hole
        assert (a.coords == b.coords).all()


def test_region_dir_roundtrip(tmp_path, regions):
    write_region_dir(regions, str(tmp_path))
    back = regions_from_dir(str(tmp_path))
    assert {m.region_id for m in back} == {m.region_id for m in regions}
    by_id = {m.region_id: m for m in back}
    for mp in regions:
        got = by_id[mp.region_id]
        assert got.parent_id == mp.parent_id
        assert len(got.rings) == len(mp.rings)
        for a, b in zip(got.rings, mp.rings):
            assert a.hole == b.hole
            assert (a.coords == b.coords).all()


def test_state_from_path():
    assert state_from_path("/x/001/002/003.osc.gz") == 1_002_003
    assert state_from_path("/x/42.osc") == 42


def _node_change(state, seq, action, eid, lat, lon, caption=None, phash=None):
    """A point change as an ELEMENT_SCHEMA row (caption/phash as tags)."""
    tags = [{"k": "caption", "v": caption}] if caption is not None else []
    if phash is not None:
        tags.append({"k": "phash", "v": str(phash)})
    return dict(state=state, seq=seq, action=action, kind="node", element_id=eid,
                new_lat=lat, new_lon=lon, tags=tags or None, members=None, bbox=None)


def test_osc_roundtrip():
    rows = [
        _node_change(7, 0, "create", "img1", 12_345_678, -23_456_789, 'a "quoted" <cap>', 99),
        _node_change(7, 1, "create", "img2", 1, 2),
        _node_change(7, 2, "modify", "img1", 5, 6, "x"),
        _node_change(7, 3, "delete", "img2", None, None),
    ]
    xml = format_osc_elements(rows)
    assert xml.count("<create>") == 1 and xml.count("<modify>") == 1
    back = parse_osc_elements(xml.encode(), 7)
    assert len(back) == 4
    assert back[0]["element_id"] == "img1" and back[0]["new_lat"] == 12_345_678
    assert back[0]["tags"][0] == {"k": "caption", "v": 'a "quoted" <cap>'}
    assert back[3]["action"] == "delete" and back[3]["new_lat"] is None


def test_read_osc_dir_and_pipeline(spark, regions, images_pdf, tmp_path):
    """File-driven end to end: diffs written as sharded .osc.gz, read
    back distributedly, driven through the update pipeline."""
    import gzip
    import json

    import pandas as pd

    from osm_replication_rust_spark.operators.merge import TableStore
    from osm_replication_rust_spark.plans.pipeline import run_update

    def opt(v, cast=lambda v: v):
        return None if pd.isna(v) else cast(v)

    diffs_pdf = gen_diffs(images_pdf.iloc[:200], n_batches=2)
    root = tmp_path / "osc"
    for state, grp in diffs_pdf.groupby("state"):
        rows = [
            _node_change(int(state), int(r.seq), r.action, r.image_id,
                         opt(r.new_lat, int), opt(r.new_lon, int),
                         opt(r.new_caption), opt(r.new_phash, int))
            for r in grp.itertuples()
        ]
        path = root / (_shard(state) + ".osc.gz")
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_bytes(gzip.compress(format_osc_elements(rows).encode()))

    changes, _ = elements_to_engine(read_osc_elements_dir(spark, str(root)))
    got = changes.orderBy("state", "seq").collect()
    want = diffs_pdf.sort_values(["state", "seq"])
    assert len(got) == len(want)
    assert [r.image_id for r in got] == list(want.image_id)
    assert [r.action for r in got] == list(want.action)
    # lat/lon survive the float-degree round trip exactly (decimicro)
    w_lat = [None if pd.isna(v) else int(v) for v in want.new_lat]
    assert [r.new_lat for r in got] == w_lat

    store = TableStore(spark, str(tmp_path / "tbl"))
    store.init(spark.createDataFrame(images_pdf[["image_id", "caption", "phash"]].iloc[:200]))
    applied = run_update(store, changes, regions, str(tmp_path / "out"))
    assert applied == [1, 2]

    m1 = json.load(open(tmp_path / "out/metrics/state=1.json"))
    assert m1["tile_rows"] == m1["kept"] + m1["forced_delete"]
    assert m1["tile_rows"] > 0


# ---------------------------------------------------------------------------
# GeoJSON interop (sources/geojson.py)
# ---------------------------------------------------------------------------


def test_geojson_roundtrip_exact_on_fixture_regions():
    import json

    import numpy as np

    from osm_replication_rust_spark.plans.entry_queries import fixture_regions
    from osm_replication_rust_spark.sources.geojson import (
        feature_collection,
        parse_geojson,
    )

    regions = fixture_regions()
    fc = feature_collection(regions)
    back = parse_geojson(fc)
    assert [m.region_id for m in back] == [m.region_id for m in regions]
    for a, b in zip(regions, back):
        assert len(a.rings) == len(b.rings)
        for ra, rb in zip(a.rings, b.rings):
            assert ra.hole == rb.hole
            # EXACT point sets (write normalizes winding, not points)
            sa = {tuple(p) for p in np.asarray(ra.coords).tolist()}
            sb = {tuple(p) for p in np.asarray(rb.coords).tolist()}
            assert sa == sb, a.region_id
    # the document is valid JSON with NUMBER coordinates
    doc = json.loads(fc)
    c = doc["features"][0]["geometry"]["coordinates"][0][0][0]
    assert isinstance(c[0], float) and isinstance(c[1], float)


def test_geojson_winding_and_roles():
    import json

    import numpy as np

    from osm_replication_rust_spark.functions.geometry import MultiPolygon, Ring
    from osm_replication_rust_spark.sources.geojson import (
        multipolygon_to_geojson,
        parse_geojson,
    )

    # exterior given CW, hole given CCW: writer must flip both
    ext_cw = np.array([[0, 0], [0, 9], [9, 9], [9, 0]], dtype=np.int64)
    hole_ccw = np.array([[2, 2], [5, 2], [5, 5], [2, 5]], dtype=np.int64)
    mp = MultiPolygon("w", [Ring(ext_cw), Ring(hole_ccw, hole=True)])
    doc = json.loads(multipolygon_to_geojson(mp))
    poly = doc["geometry"]["coordinates"][0]

    def shoelace(ring):
        s = 0
        for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
            s += x1 * y2 - x2 * y1
        return s

    assert shoelace(poly[0]) > 0   # exterior CCW
    assert shoelace(poly[1]) < 0   # hole CW
    # read ignores winding, role comes from position
    back = parse_geojson(json.dumps(doc))[0]
    assert [r.hole for r in back.rings] == [False, True]


def test_geojson_foreign_inputs():
    import pytest as _pytest

    from osm_replication_rust_spark.sources.geojson import (
        _parse_coord,
        parse_geojson,
    )

    # bare geometry, float coords, sub-grid value snaps to nearest
    txt = (
        '{"type": "Polygon", "coordinates":'
        ' [[[1.00000004, 2.0], [3.0, 2.0], [3.0, 4.0], [1.00000004, 4.0]]]}'
    )
    mp = parse_geojson(txt)[0]
    assert mp.region_id == "geojson"
    pts = {tuple(p) for p in mp.rings[0].coords.tolist()}
    assert (10_000_000, 20_000_000) in pts  # 1.00000004 -> nearest grid
    # string coords finer than the grid raise
    with _pytest.raises(ValueError):
        _parse_coord("1.00000004")
    # unsupported geometry type raises
    with _pytest.raises(ValueError):
        parse_geojson('{"type": "LineString", "coordinates": [[0, 0], [1, 1]]}')
