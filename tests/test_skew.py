"""Salted join correctness: same result as the plain join, with the hot
key spread across salt buckets."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from extra_ops.skew import (
    hot_keys,
    salted_join,
    split_hot_cells,
)


@pytest.fixture(scope="module")
def skewed(spark):
    # 90% of rows share one hot key
    n = 20_000
    keys = np.where(np.arange(n) % 10 < 9, 7, np.arange(n) % 100)
    big = spark.createDataFrame(
        pd.DataFrame({"cell": keys, "val": np.arange(n)})
    )
    dim = spark.createDataFrame(
        pd.DataFrame({"cell": np.arange(100), "region": [f"r{i}" for i in range(100)]})
    )
    return big, dim


def test_salted_join_equals_plain(spark, skewed):
    big, dim = skewed
    plain = big.join(dim, "cell").groupBy("cell").agg(
        F.count(F.lit(1)).alias("n"), F.sum("val").alias("s")
    )
    salted = salted_join(big, dim, "cell", salt_buckets=8).groupBy("cell").agg(
        F.count(F.lit(1)).alias("n"), F.sum("val").alias("s")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_hot_keys(spark, skewed):
    big, _ = skewed
    hot = hot_keys(big, "cell", threshold_ratio=0.5).collect()
    assert [r.cell for r in hot] == [7]


def test_salted_join_rejects_outer(spark, skewed):
    big, dim = skewed
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(big, dim, "cell", how="full")


def test_split_hot_cells_spreads(spark, skewed):
    """The hot cell must actually fan out over >1 sub-bucket (hashing a
    cell-correlated column would put all its rows in one bucket)."""
    big, _ = skewed
    out = split_hot_cells(big, id_col="val", max_per_cell=5_000, sub_buckets=8)
    per = {
        r.cell: r.n
        for r in out.groupBy("cell").agg(
            F.countDistinct("cell_sub").alias("n")
        ).collect()
    }
    assert per[7] > 4  # hot cell spread over most sub-buckets
    assert all(n == 1 for c, n in per.items() if c != 7)  # cold cells: sub 0
    # row count preserved
    assert out.count() == big.count()


# ---------------------------------------------------------------------------
# rendezvous (HRW) hashing (skew.hrw_assign)
# ---------------------------------------------------------------------------


def test_hrw_minimal_disruption_and_duckdb_twin(spark):
    import duckdb
    import hashlib

    from pyspark.sql import functions as F

    from extra_ops.skew import (
        hrw_assign,
        sql_hrw_assign,
    )

    nodes5 = [f"n{i}" for i in range(5)]
    nodes4 = [n for n in nodes5 if n != "n2"]
    df = spark.range(0, 2000).select(F.col("id"))
    out = df.select(
        "id",
        hrw_assign(F.col("id"), nodes5).alias("o5"),
        hrw_assign(F.col("id"), nodes4).alias("o4"),
    ).collect()
    got5 = {r["id"]: r["o5"] for r in out}
    got4 = {r["id"]: r["o4"] for r in out}

    def ref(k, nodes):
        return max(
            ((hashlib.md5(f"{k}|{n}".encode()).hexdigest(), n) for n in nodes),
            key=lambda t: (t[0], tuple(-ord(c) for c in t[1])),
        )[1]

    for k in range(2000):
        assert got5[k] == ref(k, nodes5), k
    # balance: every node owns a reasonable share
    from collections import Counter

    c = Counter(got5.values())
    assert set(c) == set(nodes5) and min(c.values()) > 2000 / 5 * 0.6
    # minimal disruption: ONLY n2's keys move when n2 leaves
    for k in range(2000):
        if got5[k] == "n2":
            assert got4[k] != "n2"
        else:
            assert got4[k] == got5[k], k
    con = duckdb.connect()
    e5 = sql_hrw_assign("k", nodes5)
    duck = dict(
        con.execute(
            f"SELECT k, {e5} FROM (SELECT unnest(range(0, 2000)) AS k)"
        ).fetchall()
    )
    assert duck == got5
