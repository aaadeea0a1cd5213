"""Count-min sketch: one-sided guarantee, bounded state, heavy-hitter
screen exactness, and bit-level slot parity with the DuckDB twin."""

import duckdb
import pytest
from pyspark.sql import functions as F

from extra_ops.sketch import (
    cms_build,
    cms_estimate,
    heavy_hitters,
    sql_cms_estimate,
    sql_slot,
    _slot,
)


@pytest.fixture(scope="module")
def keyed(spark):
    # zipf-ish skew: key k appears 1000//(k+1) times — one hot key,
    # a long tail
    rows = [(k,) for k in range(60) for _ in range(1000 // (k + 1))]
    return spark.createDataFrame(rows, "k long").repartition(8).persist()


def test_cms_never_undercounts_and_state_is_bounded(spark, keyed):
    depth, width = 4, 256
    sk = cms_build(keyed, "k", depth, width).persist()
    assert sk.count() <= depth * width
    # every d row's counters sum to the full input size
    per_d = {r.d: r.total for r in sk.groupBy("d").agg(F.sum("cnt").alias("total")).collect()}
    n = keyed.count()
    assert per_d == {d: n for d in range(depth)}

    est = {
        r.k: r.cms_est
        for r in cms_estimate(keyed.select("k").distinct(), sk, "k", depth, width).collect()
    }
    true = {r.k: r.c for r in keyed.groupBy("k").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert set(est) == set(true)
    for k, t in true.items():
        assert est[k] >= t, (k, est[k], t)


def test_cms_unseen_key_estimates_zero_or_collision(spark, keyed):
    sk = cms_build(keyed, "k", 4, 256)
    probe = spark.createDataFrame([(10_000_000,)], "k long")
    [r] = cms_estimate(probe, sk, "k", 4, 256).collect()
    assert r.cms_est >= 0  # 0 unless all 4 slots collide with real keys


def test_heavy_hitters_exact_vs_groupby(spark, keyed):
    thr = 90
    got = {r.k: r.exact_cnt for r in heavy_hitters(keyed, "k", thr, 4, 256).collect()}
    true = {
        r.k: r.c
        for r in keyed.groupBy("k").agg(F.count(F.lit(1)).alias("c")).collect()
        if r.c >= thr
    }
    assert got == true
    # and the screen's estimates never undercut the exact counts
    for r in heavy_hitters(keyed, "k", thr, 4, 256).collect():
        assert r.cms_est >= r.exact_cnt


def test_width_must_be_power_of_two(spark, keyed):
    with pytest.raises(ValueError, match="power of two"):
        cms_build(keyed, "k", 4, 1000)
    with pytest.raises(ValueError, match="power of two"):
        sql_cms_estimate("t", "k", width=768)


def test_slot_parity_with_duckdb(spark):
    """The Spark slot (signed & mask) equals the DuckDB slot
    (UBIGINT % power-of-two) for every probed key and depth row."""
    keys = [0, 1, 7, 123456789, -5, 2**40 + 3]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    for d in (0, 3):
        spark_slots = {
            r.k: r.s
            for r in df.select("k", _slot(F.col("k"), d, 1024).alias("s")).collect()
        }
        for k in keys:
            [(duck,)] = duckdb.sql(
                f"SELECT {sql_slot(str(k), d, 1024)}"
            ).fetchall()
            assert spark_slots[k] == duck, (k, d)


def test_estimate_parity_with_duckdb_twin(spark, keyed):
    """Full estimate parity: the DuckDB twin rebuilt from the same rows
    produces the identical (key, estimate) map."""
    pdf = keyed.toPandas()  # noqa: F841 — registered below
    con = duckdb.connect()
    con.register("events_like", pdf)
    sql = sql_cms_estimate("events_like", "k", depth=4, width=256, key_alias="k")
    duck = {k: e for k, e in con.execute(sql).fetchall()}
    sk = cms_build(keyed, "k", 4, 256)
    got = {
        r.k: r.cms_est
        for r in cms_estimate(keyed.select("k").distinct(), sk, "k", 4, 256).collect()
    }
    assert got == duck


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def hll_df(spark):
    # 3 groups with distinct-key counts 2500 / 1250 / 834
    rows = [(i, f"g{i % 3}") for i in range(2500)] + [
        (i, "g0") for i in range(2500)  # g0 keys repeated: distincts unchanged
    ]
    return spark.createDataFrame(rows, "k long, g string").repartition(8).persist()


def test_hll_estimate_accuracy_and_state_bound(spark, hll_df):
    from extra_ops.sketch import (
        hll_estimate,
        hll_registers,
    )

    regs = hll_registers(hll_df, "k", p=8, group_cols=["g"]).persist()
    # state bound: <= 2^p register rows per group
    per_g = {r.g: r.c for r in regs.groupBy("g").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert all(c <= 256 for c in per_g.values())

    est = {r.g: r.hll_est for r in hll_estimate(regs, p=8, group_cols=["g"]).collect()}
    true = {
        r.g: r.c
        for r in hll_df.groupBy("g")
        .agg(F.countDistinct("k").alias("c"))
        .collect()
    }
    for g, t in true.items():
        assert abs(est[g] - t) / t < 0.25, (g, est[g], t)  # ~4 sigma at p=8


def test_hll_register_union_property(spark, hll_df):
    """Registers of a union == MAX-merge of the parts' registers —
    the property that lets a cube (or day+day) reuse fine registers."""
    from extra_ops.sketch import hll_registers

    fine = hll_registers(hll_df, "k", p=8, group_cols=["g"])
    merged = {
        r.bucket: r.reg
        for r in fine.groupBy("bucket").agg(F.max("reg").alias("reg")).collect()
    }
    direct = {
        r.bucket: r.reg for r in hll_registers(hll_df, "k", p=8).collect()
    }
    assert merged == direct


def test_hll_estimate_parity_with_duckdb(spark, hll_df):
    from extra_ops.sketch import (
        hll_estimate,
        hll_registers,
        sql_hll_estimate,
    )

    con = duckdb.connect()
    con.register("t", hll_df.toPandas())
    duck = {
        g: e
        for g, e in con.execute(
            sql_hll_estimate("t", "k", p=8, group_exprs=["g"])
        ).fetchall()
    }
    got = {
        r.g: r.hll_est
        for r in hll_estimate(
            hll_registers(hll_df, "k", p=8, group_cols=["g"]), p=8, group_cols=["g"]
        ).collect()
    }
    assert got == duck  # bit-identical doubles, not approximately equal


def test_hll_p_validation(spark, hll_df):
    from extra_ops.sketch import (
        hll_registers,
        sql_hll_estimate,
    )

    with pytest.raises(ValueError, match=r"\[4, 16\]"):
        hll_registers(hll_df, "k", p=2)
    with pytest.raises(ValueError, match=r"\[4, 16\]"):
        sql_hll_estimate("t", "k", p=20)


# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def bloom_corpus(spark):
    # 300 member strings + 200 non-members, disjoint by construction
    members = [(i, f"doc body {i} lorem") for i in range(300)]
    others = [(1000 + i, f"absent {i} ipsum") for i in range(200)]
    mem = spark.createDataFrame(members, "id long, key string")
    non = spark.createDataFrame(others, "id long, key string")
    return mem.persist(), non.persist()


def test_bloom_state_bounded_and_no_false_negatives(spark, bloom_corpus):
    from extra_ops.sketch import (
        bloom_pack,
        bloom_probe,
        bloom_words,
    )

    mem, non = bloom_corpus
    m, k = 2048, 3
    words = bloom_words(mem, "key", m, k)
    assert words.count() <= m // 32
    packed = bloom_pack(words)
    # THE guarantee: every member probes true, whatever the fp rate
    hits = bloom_probe(mem, packed, "key", m, k).collect()
    assert all(r.bloom_hit for r in hits)
    # non-members: false positives allowed (small m makes some certain),
    # but a sane filter at 2048/300 must reject the majority
    miss = bloom_probe(non, packed, "key", m, k).collect()
    rejected = sum(1 for r in miss if not r.bloom_hit)
    assert rejected > len(miss) * 0.5


def test_bloom_cross_engine_bit_parity(spark, bloom_corpus):
    from extra_ops.sketch import (
        bloom_pack,
        bloom_probe,
        bloom_words,
        sql_bloom_hit_expr,
        sql_bloom_words,
    )

    mem, non = bloom_corpus
    m, k = 1024, 4
    con = duckdb.connect()
    con.register("mem", mem.toPandas())
    con.register("non", non.toPandas())
    got_w = {r.word: r.bits for r in bloom_words(mem, "key", m, k).collect()}
    duck_w = dict(con.execute(sql_bloom_words("mem", "key", m, k)).fetchall())
    assert got_w == duck_w  # every packed word bit-identical
    packed = bloom_pack(bloom_words(mem, "key", m, k))
    both = mem.unionByName(non)
    got_p = {r.id: r.bloom_hit for r in bloom_probe(both, packed, "key", m, k).collect()}
    duck_p = dict(
        con.execute(
            f"WITH bw AS ({sql_bloom_words('mem', 'key', m, k)}), "
            f"pro AS (SELECT * FROM mem UNION ALL SELECT * FROM non) "
            f"SELECT id, {sql_bloom_hit_expr('bw', 'key', m, k)} FROM pro"
        ).fetchall()
    )
    assert got_p == duck_p


def test_bloom_validation(spark, bloom_corpus):
    from extra_ops.sketch import bloom_words, sql_bloom_words

    mem, _ = bloom_corpus
    with pytest.raises(ValueError, match="power of two"):
        bloom_words(mem, "key", m_bits=3000, k=3)
    with pytest.raises(ValueError, match="power of two"):
        sql_bloom_words("mem", "key", m_bits=16, k=3)
    with pytest.raises(ValueError, match=r"\[1, 16\]"):
        bloom_words(mem, "key", m_bits=1024, k=0)


def test_cms_probe_equals_estimate(spark, keyed):
    """The map-side packed probe must give the SAME estimates as the
    aggregating estimate path for every key (same min-over-depth, same
    unseen-is-zero)."""
    from extra_ops.sketch import cms_pack, cms_probe

    depth, width = 4, 256
    sk = cms_build(keyed, "k", depth, width)
    est = {
        r.k: r.cms_est
        for r in cms_estimate(
            keyed.select("k").distinct(), sk, "k", depth, width
        ).collect()
    }
    probe_in = keyed.select("k").distinct().union(
        spark.createDataFrame([(77_000_000,)], "k long")  # unseen key
    )
    got = {
        r.k: r.cms_est
        for r in cms_probe(probe_in, cms_pack(sk, width), "k", depth, width).collect()
    }
    assert {k: v for k, v in got.items() if k in est} == est
    assert got[77_000_000] >= 0  # unseen: 0 unless all slots collide


def test_null_keys_build_and_probe(spark):
    """NULL keys must not crash the packed forms (md5(NULL) would be a
    NULL map key) and must not count: builds filter them (the
    countDistinct rule, mirrored in every SQL twin); probes of NULL
    keys give est=0 (CMS, coalesced lookups) / bloom_hit NULL (kept by
    callers, as dedup_exact's plain-join shape does)."""
    from extra_ops.sketch import (
        bloom_pack,
        bloom_probe,
        bloom_words,
        cms_pack,
        cms_probe,
        hll_registers,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b"), (4, "a"), (5, None)], "id long, key string"
    )
    sk = cms_build(df, "key", 2, 64)
    assert sk.selectExpr("sum(cnt)").collect()[0][0] == 2 * 3  # NULLs excluded
    probed = cms_probe(df, cms_pack(sk, 64), "key", 2, 64).collect()  # no crash
    est = {r.id: r.cms_est for r in probed}
    assert est[2] == 0 and est[5] == 0

    bw = bloom_words(df, "key", 64, 2)
    hits = {r.id: r.bloom_hit for r in bloom_probe(df, bloom_pack(bw), "key", 64, 2).collect()}
    assert hits[1] and hits[3] and hits[4]
    assert hits[2] is None and hits[5] is None

    regs = hll_registers(df, "key", p=4)
    assert regs.where("bucket IS NULL").count() == 0
    assert regs.count() <= 2  # at most one register per distinct non-null key


# ---------------------------------------------------------------------------
# histogram quantiles
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def hist_df(spark):
    # two groups with different shapes: g0 uniform-ish, g1 skewed low,
    # plus out-of-range values that must clamp into the edge bins
    rows = [(float(i % 997) * 10.03, "g0") for i in range(4000)]
    rows += [(float((i * i) % 500), "g1") for i in range(2500)]
    rows += [(-50.0, "g1"), (1e9, "g0")]
    return spark.createDataFrame(rows, "v double, g string").repartition(8).persist()


def test_hist_quantile_accuracy_and_state_bound(spark, hist_df):
    import numpy as np

    from extra_ops.sketch import hist_bins, hist_quantile

    lo, hi, nb = 0, 10240, 256  # width 40
    bins = hist_bins(hist_df, "v", lo, hi, nb, group_cols=["g"]).persist()
    per_g = {r.g: r.c for r in bins.groupBy("g").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert all(c <= nb for c in per_g.values())

    pdf = hist_df.toPandas()
    w = (hi - lo) // nb
    for q in (0.1, 0.5, 0.9, 1.0):
        est = {
            r.g: r.q_est
            for r in hist_quantile(bins, q, lo, hi, nb, group_cols=["g"]).collect()
        }
        for g in ("g0", "g1"):
            vals = np.clip(pdf[pdf.g == g].v.to_numpy(), lo, hi)  # clamp = bins' view
            exact = np.quantile(vals, q)
            assert abs(est[g] - exact) <= w + 1e-9, (g, q, est[g], exact)


def test_hist_quantile_parity_with_duckdb(spark, hist_df):
    from extra_ops.sketch import (
        hist_bins,
        hist_quantile,
        sql_hist_quantile,
    )

    con = duckdb.connect()
    con.register("t", hist_df.toPandas())
    for q in (0.25, 0.5, 0.99):
        duck = dict(
            con.execute(
                sql_hist_quantile("t", "v", q, 0, 10240, 256, group_exprs=["g"])
            ).fetchall()
        )
        got = {
            r.g: r.q_est
            for r in hist_quantile(
                hist_bins(hist_df, "v", 0, 10240, 256, group_cols=["g"]),
                q, 0, 10240, 256, group_cols=["g"],
            ).collect()
        }
        assert got == duck  # bit-identical doubles


def test_hist_validation(spark, hist_df):
    from extra_ops.sketch import (
        hist_bins,
        hist_quantile,
        sql_hist_quantile,
    )

    with pytest.raises(ValueError, match="divide"):
        hist_bins(hist_df, "v", 0, 1000, 256, group_cols=["g"])
    with pytest.raises(ValueError, match="hi > lo"):
        hist_bins(hist_df, "v", 10, 10, 4)
    with pytest.raises(ValueError, match=r"\(0, 1\]"):
        hist_quantile(
            hist_bins(hist_df, "v", 0, 1024, 256, group_cols=["g"]),
            0.0, 0, 1024, 256, group_cols=["g"],
        )
    with pytest.raises(ValueError, match=r"\(0, 1\]"):
        sql_hist_quantile("t", "v", 1.5, 0, 1024, 256)


# ---------------------------------------------------------------------------
# exact equi-depth histogram (sketch.equi_depth_bins)
# ---------------------------------------------------------------------------


def test_equi_depth_bins_exact(spark):
    import numpy as np
    import pytest

    from extra_ops.sketch import equi_depth_bins

    rng = np.random.default_rng(139)
    # heavy ties: half the rows share 10 hot values
    vals = [int(x) for x in rng.integers(0, 1000, 300)]
    vals += [int(x) for x in rng.choice([5, 7, 500], 300)]
    df = spark.createDataFrame([{"i": i, "v": v} for i, v in enumerate(vals)])
    k = 8
    got = {
        r["i"]: (r["boundary"], r["cum"])
        for r in equi_depth_bins(df, "v", k=k, tiebreak="i").collect()
    }
    sv = sorted(vals)
    n = len(sv)
    for i in range(1, k + 1):
        r = -(-i * n // k)
        b = sv[r - 1]
        assert got[i] == (b, sum(1 for x in vals if x <= b)), i
    # ties make cum overshoot the ideal depth at hot boundaries
    assert any(got[i][1] > -(-i * n // k) for i in range(1, k + 1))
    assert got[k][1] == n
    with pytest.raises(ValueError):
        equi_depth_bins(df, "v", k=0)
