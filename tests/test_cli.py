"""CLI end-to-end: import an .osm.pbf, replay diffs through `update`
(including `--osc-tree`, the store cursor that keeps applied diffs
unread, the group-apply crash heal and the bucketed group table),
`read`, `check`, a single-region `filter` extract, `bbox`, `maintain`
and the refusal of an old-layout store (the reference's
src/bin/{osmbin,update,osmxml}.rs surfaces).

The `inputs` fixture hands the tests the reference's Saint-Barthelemy
extract, its .poly and its two diffs when those fixture files exist.
Where they are absent it builds small stand-ins of the same shape
instead, so the tests of the CLI's mechanics still run. The five tests
that pin the reference's own values (osmbin lat pins, post-update pins
and way member counts, the golden .bbox.osc.gz, the --diffs-url pin,
the .poly GeoJSON round trip) read the reference files directly and
are skipped where they are absent (`needs_ref`)."""

import gzip
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_replication_rust_spark import cli
from osm_replication_rust_spark.functions.coords import unpack_lat
from osm_replication_rust_spark.functions.geometry import MultiPolygon, Ring

REF = "/root/reference/tests/resources"
PBF = f"{REF}/saint_barthelemy.osm.pbf"

needs_ref = pytest.mark.skipif(
    not os.path.exists(PBF), reason="reference fixtures not available"
)

# Stand-in store: the ids the `read` tests name (n2619283351,
# n2619283352, w255316725), 4 ways + 3 relations, and relation 1002's
# admin_centre
# n2619283399, which is not in the store, so `check` finds a dangling
# reference as it does on the regional extract.
# (id, decimicro lat, decimicro lon); n2619283357 lies outside the poly.
STANDIN_NODES = [
    (2619283351, 179_060_000, -628_500_000),
    (2619283352, 179_010_000, -628_400_000),
    (2619283353, 179_020_000, -628_300_000),
    (2619283354, 179_100_000, -628_200_000),
    (2619283355, 179_150_000, -628_250_000),
    (2619283356, 179_300_000, -628_600_000),
    (2619283357, 181_000_000, -631_000_000),
    (2619283358, 179_350_000, -628_700_000),
    (2619283359, 179_400_000, -628_800_000),
]
STANDIN_WAYS = [
    (255316725, [2619283351, 2619283352, 2619283353]),
    (255316726, [2619283353, 2619283354]),
    (255316727, [2619283354, 2619283355]),
    (255316728, [2619283356, 2619283357, 2619283358]),
]
STANDIN_RELATIONS = [
    (1001, [(255316725, "way", "outer"), (255316726, "way", "outer")]),
    (1002, [(1001, "relation", "subarea"), (2619283399, "node", "admin_centre")]),
    (1003, [(255316728, "way", "outer")]),
]
# (lon, lat) ring around every stand-in node but n2619283357
STANDIN_POLY = [
    (-629_500_000, 178_500_000),
    (-627_500_000, 178_500_000),
    (-627_500_000, 179_800_000),
    (-629_500_000, 179_800_000),
    (-629_500_000, 178_500_000),
]
STANDIN_OSC_1 = b"""<?xml version="1.0" encoding="UTF-8"?>
<osmChange version="0.6">
<create><node id="2619283348" version="1" lat="17.9120000" lon="-62.8150000"/></create>
<modify>
  <node id="2619283354" version="2" lat="17.9110000" lon="-62.8210000"/>
  <way id="255316727" version="2"><nd ref="2619283354"/><nd ref="2619283355"/><nd ref="2619283348"/></way>
</modify>
<delete><node id="2619283359" version="2" lat="17.9400000" lon="-62.8800000"/></delete>
</osmChange>
"""
STANDIN_OSC_2 = b"""<?xml version="1.0" encoding="UTF-8"?>
<osmChange version="0.6">
<modify><node id="2619283352" version="2" lat="17.9015000" lon="-62.8405000"/></modify>
<create><node id="2619283360" version="1" lat="17.9320000" lon="-62.8650000"/></create>
<modify>
  <relation id="1003" version="2">
    <member type="way" ref="255316728" role="outer"/>
    <member type="node" ref="2619283360" role="label"/>
  </relation>
</modify>
</osmChange>
"""


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    """dict(pbf, poly, osc1, osc2): the reference's extract, .poly,
    boundary diff and diff where they exist, else stand-ins written
    here."""
    if os.path.exists(PBF):
        return dict(
            pbf=PBF,
            poly=f"{REF}/saint_barthelemy.poly",
            osc1=f"{REF}/saint_barthelemy-boundary.osc.gz",
            osc2=f"{REF}/saint_barthelemy.osc.gz",
        )
    from osm_replication_rust_spark.sources.pbf import write_pbf
    from osm_replication_rust_spark.sources.poly import format_poly

    d = tmp_path_factory.mktemp("standin")
    paths = dict(
        pbf=str(d / "standin.osm.pbf"),
        poly=str(d / "standin.poly"),
        osc1=str(d / "standin-boundary.osc.gz"),
        osc2=str(d / "standin.osc.gz"),
    )
    write_pbf(paths["pbf"], STANDIN_NODES, STANDIN_WAYS, STANDIN_RELATIONS)
    region = MultiPolygon(
        "saint_barthelemy", [Ring(np.array(STANDIN_POLY, dtype=np.int64))]
    )
    with open(paths["poly"], "w") as f:
        f.write(format_poly(region))
    for key, payload in (("osc1", STANDIN_OSC_1), ("osc2", STANDIN_OSC_2)):
        with gzip.open(paths[key], "wb") as f:
            f.write(payload)
    return paths


@pytest.fixture(scope="module")
def store_dir(spark, inputs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("clistore"))
    assert cli.main(["import", inputs["pbf"], "--store", d]) == 0
    return d


@needs_ref
def test_cli_import_and_read_node(spark, store_dir):
    st = cli._store(spark, store_dir)
    got = {
        r.image_id: r.lat
        for r in cli._base_points(st)
        .filter(F.col("image_id").isin("n2619283351", "n2619283352"))
        .collect()
    }
    # the reference's pre-update pins (/root/reference/src/osmbin.rs:1239-1254)
    assert got == {"n2619283351": 179070278, "n2619283352": 179005419}
    assert cli.main(["read", "node", "n2619283351", "--store", store_dir]) == 0


def test_cli_read_way_full(spark, store_dir, capsys):
    assert cli.main(["read", "way_full", "w255316725", "--store", store_dir]) == 0
    out = capsys.readouterr().out
    assert "1 row(s)" in out and "coords" in out


def test_cli_check_runs(spark, store_dir):
    # the extract references elements outside its cut: check must run
    # and report (exit 1 = dangling found, 0 = clean — both are valid
    # outcomes of a *working* checker on a regional extract)
    rc = cli.main(["check", "--store", store_dir, "--limit", "3"])
    assert rc in (0, 1)


@needs_ref
def test_cli_update_applies_boundary_diff(spark, store_dir, tmp_path):
    # replication tree: state 1 at minute/000/000/001.osc.gz
    diffs = tmp_path / "minute" / "000" / "000"
    diffs.mkdir(parents=True)
    shutil.copy(f"{REF}/saint_barthelemy-boundary.osc.gz", diffs / "001.osc.gz")
    polys = tmp_path / "polys"
    polys.mkdir()
    shutil.copy(f"{REF}/saint_barthelemy.poly", polys / "saint_barthelemy.poly")
    out = str(tmp_path / "out")

    rc = cli.main([
        "update",
        "--store", store_dir,
        "--polygons", str(polys),
        "--diffs", str(tmp_path / "minute"),
        "--out", out,
    ])
    assert rc == 0
    st = cli._store(spark, store_dir)
    assert st.last_state() == 1
    # post-update pins (/root/reference/src/osmbin.rs:1264-1287) through
    # the CLI path: created node present, deleted node gone
    cur = st.current().select("image_id", unpack_lat(F.col("phash")).alias("lat"))
    got = {
        r.image_id: r.lat
        for r in cur.filter(
            F.col("image_id").isin("n2619283348", "n2619283355", "n2619283354")
        ).collect()
    }
    assert got.get("n2619283348") == 181085101
    assert got.get("n2619283354") == 181153011
    assert "n2619283355" not in got
    # group store merged too (way counts from the same reference test)
    groups = cli._read_groups(spark, store_dir)
    got_w = {
        r.group_id: len(r.members)
        for r in groups.filter(
            F.col("group_id").isin("w255316716", "w255316730", "w255316715")
        ).collect()
    }
    assert got_w.get("w255316716") == 3
    assert got_w.get("w255316730") == 6
    assert "w255316715" not in got_w
    # artifacts published
    assert os.path.isdir(os.path.join(out, "tiles/state=1"))
    assert os.path.exists(os.path.join(out, "metrics/state=1.json"))


def test_cli_filter_extract(spark, inputs, store_dir, tmp_path):
    out = str(tmp_path / "extract.osc")
    rc = cli.main([
        "filter",
        inputs["osc2"],
        out,
        "--poly", inputs["poly"],
        "--store", store_dir,
    ])
    assert rc == 0
    from osm_replication_rust_spark.sources.osc import parse_osc_elements

    with open(out, "rb") as f:
        rows = parse_osc_elements(f.read(), state=0)
    assert len(rows) > 0
    kinds = {r["kind"] for r in rows}
    assert "node" in kinds


def test_cli_update_publishes_region_osc_tree(spark, inputs, tmp_path):
    """`update --osc-tree` publishes the reference's per-region .osc.gz
    interchange tree (diffs.rs layout) from the same classification the
    tiles came from."""
    store = str(tmp_path / "store")
    assert cli.main(["import", inputs["pbf"], "--store", store]) == 0
    diffs = tmp_path / "minute" / "000" / "000"
    diffs.mkdir(parents=True)
    shutil.copy(inputs["osc2"], diffs / "002.osc.gz")
    polys = tmp_path / "polys"
    polys.mkdir()
    shutil.copy(inputs["poly"], polys / "saint_barthelemy.poly")
    tree = str(tmp_path / "tree")
    rc = cli.main([
        "update",
        "--store", store,
        "--polygons", str(polys),
        "--diffs", str(tmp_path / "minute"),
        "--out", str(tmp_path / "out"),
        "--osc-tree", tree,
    ])
    assert rc == 0
    leaf = os.path.join(tree, "saint_barthelemy", "minute", "000", "000", "002.osc.gz")
    assert os.path.exists(leaf)
    from osm_replication_rust_spark.sources.osc import parse_osc_elements

    with open(leaf, "rb") as f:
        rows = parse_osc_elements(f.read(), state=2)
    assert len(rows) > 0
    # current-state pointer
    link = os.path.join(tree, "saint_barthelemy", "minute", "state.txt")
    assert os.path.exists(link)


def _update_argv(tmp_path, inputs, store):
    """`update` argv over tmp_path/minute with the inputs' region."""
    polys = tmp_path / "polys"
    polys.mkdir()
    shutil.copy(inputs["poly"], polys / "saint_barthelemy.poly")
    (tmp_path / "minute" / "000" / "000").mkdir(parents=True)
    return [
        "update",
        "--store", store,
        "--polygons", str(polys),
        "--diffs", str(tmp_path / "minute"),
        "--out", str(tmp_path / "out"),
    ]


def test_cli_update_reads_only_pending_diffs(spark, inputs, tmp_path):
    """Plain `update --osc-tree` over two landings: the second call
    reads only the newly-landed diff. The applied 001.osc.gz is
    overwritten with bytes that are not XML first, so re-reading it
    would fail the call."""
    store = str(tmp_path / "store")
    assert cli.main(["import", inputs["pbf"], "--store", store]) == 0
    argv = _update_argv(tmp_path, inputs, store) + ["--osc-tree", str(tmp_path / "tree")]
    diffs = tmp_path / "minute" / "000" / "000"
    shutil.copy(inputs["osc1"], diffs / "001.osc.gz")
    assert cli.main(argv) == 0
    st = cli._store(spark, store)
    assert st.last_state() == 1
    (diffs / "001.osc.gz").write_bytes(b"not xml, not gzip")
    shutil.copy(inputs["osc2"], diffs / "002.osc.gz")
    assert cli.main(argv) == 0
    assert cli._store(spark, store).last_state() == 2
    # both states' artifacts exist; state 1 applied once (v1 snapshot dir)
    assert os.path.isdir(os.path.join(store, "points", "v1"))
    assert os.path.isdir(os.path.join(store, "points", "v2"))


def _group_rows(spark, store):
    """group_id -> member refs of the store's groups table."""
    return {
        r.group_id: [m.ref for m in r.members]
        for r in cli._read_groups(spark, store).collect()
    }


def test_cli_update_heals_group_merge_crash(spark, inputs, tmp_path, monkeypatch):
    """A call that dies after its point commit but before its group
    apply leaves the cursor (the group table's last state) behind: the
    next call re-reads that state and applies its group changes."""
    from osm_replication_rust_spark.sources.osc import parse_osc_elements

    store = str(tmp_path / "store")
    assert cli.main(["import", inputs["pbf"], "--store", store]) == 0
    before = _group_rows(spark, store)
    argv = _update_argv(tmp_path, inputs, store)
    shutil.copy(inputs["osc1"], tmp_path / "minute" / "000" / "000" / "001.osc.gz")

    real_merge = cli._merge_group_store

    def crash(*a, **kw):
        raise RuntimeError("injected crash before the group merge")

    monkeypatch.setattr(cli, "_merge_group_store", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        cli.main(argv)
    monkeypatch.setattr(cli, "_merge_group_store", real_merge)
    assert cli._store(spark, store).last_state() == 1
    assert _group_rows(spark, store) == before

    assert cli.main(argv) == 0
    st = cli._store(spark, store)
    assert st.last_state() == 1 and cli._group_store(spark, store).last_state() == 1
    # the group store now holds the diff's last word on every way/relation
    with open(inputs["osc1"], "rb") as f:
        rows = parse_osc_elements(f.read(), state=1)
    prefix = {"node": "n", "way": "w", "relation": "r"}
    want = {}
    for r in rows:
        if r["kind"] != "node":
            gid = prefix[r["kind"]] + r["element_id"]
            want[gid] = None if r["action"] == "delete" else [
                prefix[m["type"]] + m["ref"] for m in r["members"]
            ]
    assert want
    got = _group_rows(spark, store)
    assert {g: got.get(g) for g in want} == want


STANDIN_OSC_ONE_WAY = b"""<?xml version="1.0" encoding="UTF-8"?>
<osmChange version="0.6">
<modify>
  <way id="255316725" version="9"><nd ref="2619283351"/><nd ref="2619283352"/></way>
</modify>
</osmChange>
"""


def test_cli_update_rewrites_only_the_changed_group_bucket(spark, inputs, tmp_path):
    """An `update` whose diff changes one way rewrites only that way's
    bucket of the group table: every other bucket of the new snapshot
    holds hard links to the previous snapshot's files."""
    store = str(tmp_path / "store")
    assert cli.main(["import", inputs["pbf"], "--store", store]) == 0
    argv = _update_argv(tmp_path, inputs, store)
    with gzip.open(tmp_path / "minute" / "000" / "000" / "001.osc.gz", "wb") as f:
        f.write(STANDIN_OSC_ONE_WAY)
    assert cli.main(argv) == 0

    assert _group_rows(spark, store)["w255316725"] == ["n2619283351", "n2619283352"]
    v0, v1 = cli._group_store(spark, store).manifest()["snapshots"]
    assert v1["state"] == 1 and len(v1["rewritten_buckets"]) == 1
    changed = f"_bucket={v1['rewritten_buckets'][0]}"
    buckets = sorted(e for e in os.listdir(v0["path"]) if e.startswith("_bucket="))
    assert buckets == sorted(e for e in os.listdir(v1["path"]) if e.startswith("_bucket="))
    assert changed in buckets
    for b in buckets:
        old = [os.path.join(v0["path"], b, f) for f in os.listdir(os.path.join(v0["path"], b))]
        new = [os.path.join(v1["path"], b, f) for f in os.listdir(os.path.join(v1["path"], b))]
        linked = [any(os.path.samefile(n, o) for o in old) for n in new]
        if b == changed:
            assert not any(linked)
        else:
            assert len(new) == len(old) and all(linked)


def test_cli_refuses_old_layout_store(spark, inputs, tmp_path):
    """A store that still keeps its ways/relations in the old
    groups.parquet layout makes `update` and `read` exit with a message
    that names re-import, instead of passing as a points-only store;
    re-importing replaces that layout."""
    from osm_replication_rust_spark.operators.merge import TableStore

    store = str(tmp_path / "store")
    assert cli.main(["import", inputs["pbf"], "--store", store]) == 0
    cli._read_groups(spark, store).write.parquet(os.path.join(store, "groups.parquet"))
    shutil.rmtree(os.path.join(store, "groups"))
    argv = _update_argv(tmp_path, inputs, store)
    shutil.copy(inputs["osc1"], tmp_path / "minute" / "000" / "000" / "001.osc.gz")
    for cmd in (argv, ["read", "way_full", "w255316725", "--store", store]):
        with pytest.raises(SystemExit, match="re-import"):
            cli.main(cmd)
    assert TableStore(spark, os.path.join(store, "points")).last_state() == 0

    assert cli.main(["import", inputs["pbf"], "--store", store]) == 0
    assert not os.path.exists(os.path.join(store, "groups.parquet"))
    assert cli.main(["read", "way_full", "w255316725", "--store", store]) == 0


def test_cli_read_bare_numeric_id(spark, store_dir, capsys):
    """The reference's osmbin --read takes bare numeric ids
    (/root/reference/src/bin/osmbin.rs:43-71); the CLI derives the
    store's type prefix from the requested kind."""
    assert cli.main(["read", "node", "2619283351", "--store", store_dir]) == 0
    out = capsys.readouterr().out
    assert "1 row(s)" in out
    with pytest.raises(SystemExit):
        cli.main(["read", "node", "x123", "--store", store_dir])


def test_elements_df_arrow_equals_list_rows(spark):
    """`elements_df` builds its frame through an Arrow table: a local
    relation whose rows equal the list-built frame's on the stand-in
    diffs and on an annotated way (null coordinates, metadata, tag
    order with a repeated key, members, the bbox struct)."""
    from osm_replication_rust_spark.sources.osc import (
        ELEMENT_SCHEMA,
        elements_df,
        parse_osc_elements,
    )

    annotated = b"""<osmChange version="0.6"><modify>
<way id="5" version="3" timestamp="2020-01-01T00:00:00Z" uid="7" user="a&amp;b" changeset="9">
<nd ref="1"/><nd ref="2"/><tag k="z" v="1"/><tag k="a" v="2"/><tag k="z" v="3"/>
<bbox minlat="17.9000000" maxlat="17.9500000" minlon="-62.9000000" maxlon="-62.8000000"/>
</way></modify></osmChange>"""
    for payload in (STANDIN_OSC_1, STANDIN_OSC_2, annotated):
        rows = parse_osc_elements(payload, state=1)
        df = elements_df(spark, rows)
        assert "LocalRelation" in df._jdf.queryExecution().analyzed().toString()
        want = spark.createDataFrame(rows, schema=ELEMENT_SCHEMA)
        assert df.schema == want.schema
        assert df.collect() == want.collect()
    (way,) = df.collect()
    assert way.new_lat is None and way.uid == 7
    assert [(t.k, t.v) for t in way.tags] == [("z", "1"), ("a", "2"), ("z", "3")]
    assert way.bbox.minlon == -629_000_000


@needs_ref
def test_cli_bbox_matches_reference_golden(spark, tmp_path, capsys):
    """`bbox` subcommand (reference osmxml --bbox): the annotated copy
    of the diff carries EXACTLY the golden file's <bbox> children,
    decimicro-exact, through the CLI path."""
    from osm_replication_rust_spark.sources.osc import parse_osc_elements

    store = str(tmp_path / "store")
    assert cli.main(["import", PBF, "--store", store]) == 0
    out = str(tmp_path / "annotated.osc.gz")
    rc = cli.main(["bbox", f"{REF}/saint_barthelemy.osc.gz", out, "--store", store])
    assert rc == 0

    with gzip.open(out, "rb") as f:
        got_rows = parse_osc_elements(f.read(), state=1)
    with gzip.open(f"{REF}/saint_barthelemy.bbox.osc.gz", "rb") as f:
        gold_rows = parse_osc_elements(f.read(), state=1)

    key = lambda r: (r["kind"], r["element_id"])  # noqa: E731
    got = {key(r): r["bbox"] for r in got_rows}
    gold = {key(r): r["bbox"] for r in gold_rows}
    assert set(got) == set(gold)
    n_bb = 0
    for k, bb in gold.items():
        assert got[k] == bb, k
        n_bb += bb is not None
    assert n_bb == 12  # every annotated element in the golden file


def test_cli_update_lock_rejects_concurrent(spark, tmp_path):
    """Advisory update lock (reference /root/reference/src/bin/
    update.rs:30-41): while one update holds <store>/update.lock, a
    second invocation fails fast instead of interleaving writes."""
    import fcntl

    store = tmp_path / "store"
    store.mkdir()
    holder = open(store / "update.lock", "w")
    fcntl.flock(holder, fcntl.LOCK_EX | fcntl.LOCK_NB)
    try:
        with pytest.raises(SystemExit, match="update.lock"):
            cli.main([
                "update",
                "--store", str(store),
                "--polygons", str(tmp_path),
                "--diffs", str(tmp_path),
                "--out", str(tmp_path / "out"),
            ])
    finally:
        holder.close()


def test_cli_import_osm_gz_equals_pbf(spark, tmp_path):
    """Importing a plain .osm.gz (reference osmxml import,
    /root/reference/src/bin/osmxml.rs:29-31) yields the same store as
    importing the equivalent .osm.pbf."""
    from osm_replication_rust_spark.sources.pbf import write_pbf

    nodes = [(10, 451234567, 23456789), (11, 451234600, 23456800),
             (12, 451240000, 23460000)]
    ways = [(100, [10, 11, 12])]
    rels = [(500, [(100, "way", "outer"), (10, "node", "admin_centre")])]

    pbf = str(tmp_path / "tiny.osm.pbf")
    write_pbf(pbf, nodes, ways, rels)

    xml = ['<?xml version="1.0" encoding="UTF-8"?>', '<osm version="0.6">']
    for nid, lat, lon in nodes:
        xml.append(f'<node id="{nid}" lat="{lat / 1e7:.7f}" lon="{lon / 1e7:.7f}"/>')
    for wid, refs in ways:
        xml.append(f'<way id="{wid}">' + "".join(f'<nd ref="{r}"/>' for r in refs) + "</way>")
    for rid, members in rels:
        xml.append(
            f'<relation id="{rid}">'
            + "".join(f'<member type="{t}" ref="{r}" role="{ro}"/>' for r, t, ro in members)
            + "</relation>"
        )
    xml.append("</osm>")
    osm = str(tmp_path / "tiny.osm.gz")
    with gzip.open(osm, "wt") as f:
        f.write("\n".join(xml))

    s1, s2 = str(tmp_path / "from_pbf"), str(tmp_path / "from_osm")
    assert cli.main(["import", pbf, "--store", s1]) == 0
    assert cli.main(["import", osm, "--store", s2]) == 0

    def snap(store):
        st = cli._store(spark, store)
        pts = {tuple(r) for r in st.current().select("image_id", "phash").collect()}
        g = cli._read_groups(spark, store)
        grp = {
            (r.group_id, r.kind, tuple((m.ref, m.type, m.role) for m in r.members))
            for r in g.collect()
        }
        return pts, grp

    assert snap(s1) == snap(s2)


@needs_ref
def test_cli_update_diffs_url_fetch(spark, tmp_path):
    """S12 e2e: a file:// replication tree (state.txt head + 3/3/3
    diff/state pairs) is fetched by `update --diffs-url` and applied —
    same store outcome as pointing --diffs at a local tree."""
    from osm_replication_rust_spark.sources.replication import seq_split

    # fresh store from the reference PBF
    store = str(tmp_path / "store")
    assert cli.main(["import", PBF, "--store", store]) == 0

    # remote replication tree at head=1
    remote = tmp_path / "remote"
    d = remote / "000" / "000"
    d.mkdir(parents=True)
    shutil.copy(f"{REF}/saint_barthelemy-boundary.osc.gz", d / "001.osc.gz")
    (d / "001.state.txt").write_text("sequenceNumber=1\n")
    (remote / "state.txt").write_text("sequenceNumber=1\n")
    assert seq_split(1) == "000/000/001"

    polys = tmp_path / "polys"
    polys.mkdir()
    shutil.copy(f"{REF}/saint_barthelemy.poly", polys / "saint_barthelemy.poly")

    diffs = str(tmp_path / "fetched")
    rc = cli.main([
        "update",
        "--store", store,
        "--polygons", str(polys),
        "--diffs", diffs,
        "--out", str(tmp_path / "out"),
        "--diffs-url", f"file://{remote}/",
    ])
    assert rc == 0
    # the walk landed the diff in the planet/minute layout
    assert os.path.exists(
        os.path.join(diffs, "planet", "minute", "000/000/001.osc.gz")
    )
    st = cli._store(spark, store)
    assert st.last_state() == 1
    # the same post-update pin as the local-diffs path
    cur = st.current().select("image_id", unpack_lat(F.col("phash")).alias("lat"))
    got = {
        r.image_id: r.lat
        for r in cur.filter(F.col("image_id") == "n2619283348").collect()
    }
    assert got.get("n2619283348") == 181085101


def test_cli_cluster_hilbert_layout(spark, tmp_path, capsys):
    """`cluster` rewrites a table hilbert-clustered: the persisted
    curve id is bit-identical to the driver-side twin, per-file id
    ranges are disjoint (the command's own report, rc 0), and the
    packed-footprint unpack path produces the same ids as raw
    lon/lat columns."""
    from osm_replication_rust_spark.functions.coords import (
        LAT_OFFSET,
        LON_OFFSET,
        PHASH_LON_BASE,
        py_hilbert,
    )

    rows = [
        (
            i,
            (i * 2654435761) % 3_600_000_000 - 1_800_000_000,
            (i * 40503) % 1_800_000_000 - 900_000_000,
        )
        for i in range(2000)
    ]
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(rows, "id long, lon long, lat long").coalesce(
        4
    ).write.parquet(src)

    dst = str(tmp_path / "clustered.parquet")
    assert cli.main(["cluster", src, dst, "--files", "8"]) == 0
    out = capsys.readouterr().out
    assert "0 overlapping id ranges" in out

    back = spark.read.parquet(dst)
    got = {r.id: r.hil for r in back.collect()}
    assert len(got) == len(rows)
    for i, lon, lat in rows[:200]:
        assert got[i] == py_hilbert(lon, lat), (i, lon, lat)

    # packed-footprint input path: same ids from a phash column
    packed = [
        (i, (lat + LAT_OFFSET) * PHASH_LON_BASE + (lon + LON_OFFSET))
        for i, lon, lat in rows
    ]
    src2 = str(tmp_path / "src2.parquet")
    spark.createDataFrame(packed, "id long, phash long").write.parquet(src2)
    dst2 = str(tmp_path / "clustered2.parquet")
    assert cli.main(
        ["cluster", src2, dst2, "--phash-col", "phash", "--files", "8"]
    ) == 0
    got2 = {r.id: r.hil for r in spark.read.parquet(dst2).collect()}
    assert got2 == got


def test_cli_maintain_expire_and_orphans(spark, inputs, tmp_path, capsys):
    """`maintain --keep-last/--remove-orphans` bounds the points store:
    expiry drops old snapshots while the current one stays readable
    (hard-link carry-forward), orphan cleanup reclaims an unpublished
    v{state} dir, and the update lock is honored."""
    store = str(tmp_path / "mstore")
    assert cli.main(["import", inputs["pbf"], "--store", store]) == 0
    pts = os.path.join(store, "points")
    # three more snapshots via the TableStore directly (cheaper than
    # three update runs; `update` produces exactly these)
    from osm_replication_rust_spark.operators.merge import TableStore
    from osm_replication_rust_spark.session import get_spark

    ts = TableStore(spark, pts)
    cur = ts.current()
    some_id = cur.select("image_id").limit(1).collect()[0][0]
    n0 = cur.count()
    for s in (1, 2):
        ch = cur.filter(F.col("image_id") == some_id).select(
            "image_id",
            F.lit("modify").alias("action"),
            F.lit(s).cast("long").alias("seq"),
            F.concat(F.lit(f"cap{s}-"), F.col("image_id")).alias("new_caption"),
        )
        assert ts.apply_batch(s, ch) is True
    # orphan: a written-but-unpublished snapshot dir
    os.makedirs(os.path.join(pts, "v99", "_bucket=0"), exist_ok=True)
    rc = cli.main(
        ["maintain", "--store", store, "--keep-last", "1", "--remove-orphans"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "expired 2 snapshot(s)" in out and "removed 1 orphan" in out
    assert not os.path.exists(os.path.join(pts, "v0"))
    assert not os.path.exists(os.path.join(pts, "v99"))
    got = TableStore(spark, pts).current()
    assert got.count() == n0
    assert (
        got.filter(F.col("image_id") == some_id).collect()[0]["caption"]
        == f"cap2-{some_id}"
    )


def test_cli_maintain_expires_group_snapshots(spark, inputs, tmp_path, capsys):
    """`maintain --keep-last 1` expires the group table's snapshots too,
    and its current snapshot stays readable."""
    store = str(tmp_path / "gstore")
    assert cli.main(["import", inputs["pbf"], "--store", store]) == 0
    gs = cli._group_store(spark, store)
    cur = gs.current()
    n0 = cur.count()
    gid = cur.select("group_id").limit(1).collect()[0][0]
    ch = cur.filter(F.col("group_id") == gid).select(
        "group_id", F.lit("modify").alias("action"), F.lit(0).cast("long").alias("seq")
    )
    assert gs.apply_batch(1, ch) is True
    capsys.readouterr()
    assert cli.main(["maintain", "--store", store, "--keep-last", "1"]) == 0
    assert "groups: expired 1 snapshot(s) [0]; kept [1]" in capsys.readouterr().out
    assert not os.path.exists(os.path.join(store, "groups", "v0"))
    assert cli._read_groups(spark, store).count() == n0


@needs_ref
def test_cli_geojson_roundtrips_reference_poly(spark, tmp_path, capsys):
    """`geojson` converts the reference's own .poly fixture to RFC 7946
    and the parser recovers the identical decimicro rings."""
    import json

    import numpy as np

    from osm_replication_rust_spark.sources.geojson import parse_geojson
    from osm_replication_rust_spark.sources.poly import parse_poly

    dest = str(tmp_path / "sbh.geojson")
    rc = cli.main(
        ["geojson", f"{REF}/saint_barthelemy.poly", dest]
    )
    assert rc == 0
    txt = open(dest).read()
    doc = json.loads(txt)
    assert doc["type"] == "FeatureCollection" and len(doc["features"]) == 1
    back = parse_geojson(txt)[0]
    src = parse_poly(
        open(f"{REF}/saint_barthelemy.poly").read(), "saint_barthelemy"
    )
    assert back.region_id == "saint_barthelemy"
    assert len(back.rings) == len(src.rings)
    for ra, rb in zip(src.rings, back.rings):
        assert ra.hole == rb.hole
        sa = {tuple(p) for p in np.asarray(ra.coords).tolist()}
        sb = {tuple(p) for p in np.asarray(rb.coords).tolist()}
        assert sa == sb
