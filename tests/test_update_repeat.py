"""Two ``update`` calls in one process over the same --diffs tree: the
second must see (and apply) the diff that landed after the first, and
neither may leave cached blocks behind."""

import gzip
import os

from pyspark.sql import functions as F

from osm_replication_rust_spark import cli
from osm_replication_rust_spark.datagen.synth import fixture_regions
from osm_replication_rust_spark.sources.poly import write_region_dir

STORE_OSM = b"""<?xml version="1.0" encoding="UTF-8"?>
<osm version="0.6">
  <node id="1" version="1" lat="0.0500000" lon="0.0500000"/>
  <node id="2" version="1" lat="0.0600000" lon="0.0400000"/>
  <node id="3" version="1" lat="-0.0500000" lon="0.0200000"/>
  <way id="10" version="1"><nd ref="1"/><nd ref="2"/></way>
  <relation id="20" version="1">
    <member type="way" ref="10" role="outer"/>
    <member type="node" ref="3" role=""/>
  </relation>
  <relation id="21" version="1"><member type="relation" ref="20" role="sub"/></relation>
</osm>
"""

DIFF_1 = b"""<?xml version="1.0" encoding="UTF-8"?>
<osmChange version="0.6">
<modify><node id="1" version="2" lat="0.0700000" lon="0.0500000"/></modify>
<create><node id="4" version="1" lat="0.0100000" lon="0.0100000"/></create>
</osmChange>
"""

DIFF_2 = b"""<?xml version="1.0" encoding="UTF-8"?>
<osmChange version="0.6">
<create><node id="5" version="1" lat="0.0200000" lon="-0.0300000"/></create>
<modify>
  <way id="10" version="2"><nd ref="1"/><nd ref="2"/><nd ref="5"/></way>
  <relation id="21" version="2"><member type="relation" ref="20" role="sub"/></relation>
</modify>
</osmChange>
"""


def persisted_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs persisted now. Compared as sets: an RDD an
    earlier test persisted may be unpersisted by the ContextCleaner
    during a call, while a cache the call leaks is a new id."""
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _land(root, state, payload):
    path = os.path.join(root, "000", "000", f"{state:03d}.osc.gz")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with gzip.open(path, "wb") as f:
        f.write(payload)


def test_second_update_in_process_applies_new_diff(spark, tmp_path):
    store = str(tmp_path / "store")
    osm = tmp_path / "base.osm"
    osm.write_bytes(STORE_OSM)
    polys = str(tmp_path / "polys")
    write_region_dir(fixture_regions(), polys)
    diffs = str(tmp_path / "diffs")
    out = str(tmp_path / "out")
    argv = ["update", "--store", store, "--polygons", polys, "--diffs", diffs, "--out", out]

    assert cli.main(["import", str(osm), "--store", store]) == 0
    before = persisted_rdd_ids(spark)

    def ids():
        return {r.image_id for r in cli._store(spark, store).current().select("image_id").collect()}

    _land(diffs, 1, DIFF_1)
    assert cli.main(argv) == 0
    assert cli._store(spark, store).last_state() == 1
    assert ids() == {"n1", "n2", "n3", "n4"}
    assert persisted_rdd_ids(spark) <= before

    _land(diffs, 2, DIFF_2)
    assert cli.main(argv) == 0
    assert cli._store(spark, store).last_state() == 2
    assert ids() == {"n1", "n2", "n3", "n4", "n5"}
    assert persisted_rdd_ids(spark) <= before

    # state 2's changed groups were annotated and published too
    bb = spark.read.parquet(os.path.join(out, "bbox_groups", "state=2"))
    assert {r.group_id for r in bb.collect()} >= {"w10"}
    groups = cli._read_groups(spark, store)
    w10 = groups.filter(F.col("group_id") == "w10").collect()[0]
    assert [m.ref for m in w10.members] == ["n1", "n2", "n5"]


def test_bbox_and_filter_release_their_caches(spark, tmp_path):
    """``bbox`` and ``filter`` leave no new cached RDD behind, and a
    relation's bbox reaches through a chain whose way changed in the
    same diff."""
    from osm_replication_rust_spark.sources.osc import parse_osc_elements

    store = str(tmp_path / "store")
    osm = tmp_path / "base.osm"
    osm.write_bytes(STORE_OSM)
    assert cli.main(["import", str(osm), "--store", store]) == 0
    diff = tmp_path / "diff.osc"
    diff.write_bytes(DIFF_2)
    polys = str(tmp_path / "polys")
    write_region_dir(fixture_regions(), polys)
    before = persisted_rdd_ids(spark)

    out = str(tmp_path / "annotated.osc")
    assert cli.main(["bbox", str(diff), out, "--store", store]) == 0
    assert persisted_rdd_ids(spark) <= before
    with open(out, "rb") as f:
        got = {(r["kind"], r["element_id"]): r["bbox"] for r in parse_osc_elements(f.read(), state=1)}
    # w10 = n1, n2 and the created n5; r21 -> r20 -> {w10, n3}
    assert got[("way", "10")] == dict(minlat=200000, maxlat=600000, minlon=-300000, maxlon=500000)
    assert got[("relation", "21")] == dict(minlat=-500000, maxlat=600000, minlon=-300000, maxlon=500000)

    poly = os.path.join(polys, "A.poly")
    assert cli.main(["filter", str(diff), str(tmp_path / "a.osc"), "--poly", poly, "--store", store]) == 0
    assert persisted_rdd_ids(spark) <= before
    with open(tmp_path / "a.osc", "rb") as f:
        kept = {(r["kind"], r["element_id"]) for r in parse_osc_elements(f.read(), state=1)}
    assert {("node", "5"), ("way", "10")} <= kept


DIFF_RELATIONS_ONLY = b"""<?xml version="1.0" encoding="UTF-8"?>
<osmChange version="0.6">
<modify>
  <relation id="20" version="2">
    <member type="way" ref="10" role="outer"/>
    <member type="node" ref="3" role=""/>
    <member type="node" ref="2" role="label"/>
  </relation>
</modify>
</osmChange>
"""


def test_relation_only_diff_applies_its_state(spark, tmp_path):
    """A diff that changes no node still advances the store: its state
    is committed, its group bboxes are published and the relation is
    merged into the groups table."""
    store = str(tmp_path / "store")
    osm = tmp_path / "base.osm"
    osm.write_bytes(STORE_OSM)
    polys = str(tmp_path / "polys")
    write_region_dir(fixture_regions(), polys)
    diffs = str(tmp_path / "diffs")
    out = str(tmp_path / "out")
    assert cli.main(["import", str(osm), "--store", store]) == 0

    _land(diffs, 1, DIFF_RELATIONS_ONLY)
    assert cli.main(["update", "--store", store, "--polygons", polys, "--diffs", diffs, "--out", out]) == 0
    assert cli._store(spark, store).last_state() == 1
    bb = spark.read.parquet(os.path.join(out, "bbox_groups", "state=1"))
    assert {r.group_id for r in bb.collect()} == {"r20"}
    groups = cli._read_groups(spark, store)
    r20 = groups.filter(F.col("group_id") == "r20").collect()[0]
    assert [m.ref for m in r20.members] == ["w10", "n3", "n2"]
