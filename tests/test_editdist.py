"""Bounded edit-distance similarity join: q-gram banding completeness
vs brute-force Levenshtein, short-pool routing, skew valve."""

import pytest

from extra_ops.dedup import edit_distance_pairs


def _lev(a, b):
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _brute(rows, d):
    out = set()
    for i, (ia, ta) in enumerate(rows):
        for ib, tb in rows[i + 1:]:
            if abs(len(ta) - len(tb)) <= d:
                e = _lev(ta, tb)
                if e <= d:
                    lo, hi = min(ia, ib), max(ia, ib)
                    out.add((lo, hi, e))
    return out


def _corpus():
    """Mixed-length corpus crossing the L0 = q*(d+1) boundary, with
    planted deletions/substitutions/insertions and red herrings."""
    base = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "how vexingly quick daft zebras jump",
        "abcdefgh",  # short pool (len 8 < 9 for q=3,d=2)
        "abcdefg",
        "abcdefx",
        "ab",
        "abc",
        "",  # empty string: pairs with every len <= d short string
        "zzzzzzzzzzzzzzzzzzzz",
    ]
    rows = []
    k = 0
    for t in base:
        rows.append((k, t)); k += 1
    # planted variants: delete, substitute, insert on the long strings
    for t in base[:3]:
        rows.append((k, t[:5] + t[6:])); k += 1          # deletion
        rows.append((k, t[:7] + "#" + t[8:])); k += 1     # substitution
        rows.append((k, t[:11] + "!!" + t[11:])); k += 1  # double insert
    # boundary pair: len 8 (short pool) vs len 9 (gram pool), dist 1
    rows.append((k, "abcdefghi")); k += 1
    return rows


@pytest.mark.parametrize("d,q", [(1, 3), (2, 3), (2, 2), (3, 4)])
def test_banding_complete_vs_bruteforce(spark, d, q):
    rows = _corpus()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"], r["edist"])
        for r in edit_distance_pairs(df, "text", "doc_id", d, q=q).collect()
    }
    assert got == _brute(rows, d)
    assert got, "fixture must produce pairs"


def test_short_long_boundary_pair_found(spark):
    # len L0-1 = 8 (short pool) vs len L0 = 9 (gram pool): must be
    # caught by the gram path (max >= L0 routes there)
    rows = [(1, "abcdefgh"), (2, "abcdefghi")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = edit_distance_pairs(df, "text", "doc_id", 2, q=3).collect()
    assert [(r["id_a"], r["id_b"], r["edist"]) for r in got] == [(1, 2, 1)]


def test_hot_gram_cap_drops_candidates(spark):
    # 4 identical long strings: every gram has df 4; cap 3 kills the
    # gram path entirely (documented completeness trade)
    rows = [(i, "the same long caption text here") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = edit_distance_pairs(df, "text", "doc_id", 2).count()
    assert exact == 6
    capped = edit_distance_pairs(df, "text", "doc_id", 2, max_gram_df=3).count()
    assert capped == 0


def test_param_validation(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        edit_distance_pairs(df, "text", "doc_id", 0)
    with pytest.raises(ValueError):
        edit_distance_pairs(df, "text", "doc_id", 2, q=1)


def test_duckdb_twin_parity(spark):
    duckdb = pytest.importorskip("duckdb")
    from extra_ops.dedup import (
        sql_edit_distance_pairs,
    )

    rows = _corpus()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"], r["edist"])
        for r in edit_distance_pairs(df, "text", "doc_id", 2).collect()
    }
    con = duckdb.connect()
    vals = ", ".join(f"({i}, '{t}')" for i, t in rows)
    fixture = f"SELECT * FROM (VALUES {vals}) v(doc_id, text)"
    ref = {
        tuple(r)
        for r in con.execute(sql_edit_distance_pairs(fixture, 2)).fetchall()
    }
    assert got == ref
