"""Driver-contract smoke: entry() produces assignments; queries() and
oracle_sql() stay consistent. (The full Spark-vs-DuckDB value comparison
runs via tools/check_oracle.py / the driver's own gate.)"""

import importlib
import sys


def _entry_mod():
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as m

    importlib.reload(m)
    return m


def test_entry_smoke(spark):
    m = _entry_mod()
    df = m.entry(spark)
    assert set(df.columns) == {"event_id", "region_id", "in_poly", "in_buffer"}
    rows = df.collect()
    assert len(rows) > 0
    assert any(r.in_poly for r in rows)
    assert any(not r.in_poly and r.in_buffer for r in rows)


def test_contract_consistency():
    m = _entry_mod()
    qs = m.queries()
    oracles = m.oracle_sql()
    assert set(qs) == {
        "footprint_roundtrip",
        "bbox_agg",
        "spatial_join_tiles",
        "group_membership_exists",
        "group_diff_classify",
        "merge_upsert",
        "osc_roundtrip",
        "poly_dir_scan",
        "pbf_scan",
        "relation_closure",
        "group_bbox_fixpoint",
    }
    assert set(oracles) == set(qs)


def test_one_oracle_pair_at_tiny_sf(spark, sf_dir):
    """One end-to-end oracle comparison inside pytest (cheap, sf0.001)."""
    import duckdb

    m = _entry_mod()
    got = m.queries()["footprint_roundtrip"](spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    want = con.execute(m.oracle_sql()["footprint_roundtrip"]).fetchdf()
    num = {"cell": "int64", "lat": "int64", "lon": "int64", "phash": "int64"}
    assert got.astype(num)[list(num)].equals(want.astype(num)[list(num)])
    assert list(got["qk"]) == list(want["qk"])
    assert list(got["shard"]) == list(want["shard"])
