"""Deterministic hash-ticket sampling: reproducibility, rate accuracy,
stratified exactness, and cross-engine ticket parity."""

import duckdb
import pytest
from pyspark.sql import functions as F

from extra_ops.sampling import (
    TICKET_BITS,
    hash_rate_sample,
    rate_threshold,
    sample_ticket,
    sql_sample_ticket,
    sql_stratified_fixed_n_expr,
    sql_stratified_keep_expr,
    stratified_fixed_n,
    stratified_rate_sample,
)


@pytest.fixture(scope="module")
def corpus(spark):
    # 4 strata with heavy skew: en 4000, de 800, fr 150, es 50
    rows = []
    counts = {"en": 4000, "de": 800, "fr": 150, "es": 50}
    i = 0
    for lang, n in counts.items():
        for _ in range(n):
            rows.append((i, lang))
            i += 1
    return spark.createDataFrame(rows, "id long, lang string").repartition(8).persist()


def test_rate_sample_is_deterministic_and_partition_invariant(spark, corpus):
    a = sorted(r.id for r in hash_rate_sample(corpus, "id", 0.3).collect())
    b = sorted(
        r.id for r in hash_rate_sample(corpus.repartition(3), "id", 0.3).collect()
    )
    assert a == b and len(a) > 0


def test_rate_sample_hits_the_rate(spark, corpus):
    n = corpus.count()
    for rate in (0.1, 0.5, 0.9):
        kept = hash_rate_sample(corpus, "id", rate).count()
        assert abs(kept / n - rate) < 0.03, (rate, kept, n)
    assert hash_rate_sample(corpus, "id", 0.0).count() == 0
    assert hash_rate_sample(corpus, "id", 1.0).count() == n


def test_rate_sample_complement_partitions(spark, corpus):
    """ticket < t / ticket >= t is a train/holdout PARTITION."""
    thr = rate_threshold(0.6)
    t = corpus.withColumn("tk", sample_ticket(F.col("id")))
    train = {r.id for r in t.filter(F.col("tk") < thr).collect()}
    hold = {r.id for r in t.filter(F.col("tk") >= thr).collect()}
    assert train.isdisjoint(hold)
    assert len(train) + len(hold) == corpus.count()


def test_stratified_rates_apply_per_stratum(spark, corpus):
    rates = {"en": 0.25, "de": 0.75}
    out = stratified_rate_sample(
        corpus, "lang", rates, "id", default_rate=1.0, out_col="keep"
    )
    got = {
        r.lang: r.frac
        for r in out.groupBy("lang")
        .agg((F.sum(F.col("keep").cast("int")) / F.count(F.lit(1))).alias("frac"))
        .collect()
    }
    assert abs(got["en"] - 0.25) < 0.05
    assert abs(got["de"] - 0.75) < 0.05
    assert got["fr"] == 1.0 and got["es"] == 1.0  # default keeps everything


def test_fixed_n_exact_counts_and_prefix_property(spark, corpus):
    out = stratified_fixed_n(corpus, "lang", 100, "id")
    got = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got == {"en": 100, "de": 100, "fr": 100, "es": 50}  # min(n, |stratum|)
    # growing n EXTENDS the sample (rank order is fixed by the ticket):
    # resumable jobs can top-up a sample without reshuffling past picks
    small = {r.id for r in stratified_fixed_n(corpus, "lang", 40, "id").collect()}
    big = {r.id for r in stratified_fixed_n(corpus, "lang", 100, "id").collect()}
    assert small < big
    with pytest.raises(ValueError, match=">= 1"):
        stratified_fixed_n(corpus, "lang", 0, "id")
    with pytest.raises(ValueError, match=r"\[0, 1\]"):
        rate_threshold(1.5)


def test_cross_engine_parity(spark, corpus):
    rates = {"en": 0.25, "de": 0.75}
    con = duckdb.connect()
    con.register("c", corpus.toPandas())
    duck = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            f"SELECT id, {sql_sample_ticket('id')} AS tk, "
            f"{sql_stratified_keep_expr('lang', rates, 'id')} AS keep, "
            f"{sql_stratified_fixed_n_expr('lang', 60, 'id')} AS head FROM c"
        ).fetchall()
    }
    got_df = stratified_fixed_n(
        stratified_rate_sample(corpus, "lang", rates, "id", out_col="keep"),
        "lang",
        60,
        "id",
        out_col="head",
    ).withColumn("tk", sample_ticket(F.col("id")))
    got = {r.id: (r.tk, r.keep, r.head) for r in got_df.collect()}
    assert got == duck
    # tickets fill the full 32-bit range, never exceed it
    assert all(0 <= v[0] < (1 << TICKET_BITS) for v in got.values())


def test_fixed_n_filter_form_gets_window_group_limit(spark, corpus):
    """The scale property: the filter form must plan a two-phase
    WindowGroupLimit (map-side partial trim BEFORE the stratum
    exchange), so a mega-stratum never lands whole on one reducer."""
    out = stratified_fixed_n(corpus, "lang", 10, "id")
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    before_exchange = plan.split("Exchange", 1)[0]
    assert "WindowGroupLimit" in before_exchange, plan
