"""Benchmark decontamination screen: per-document word n-gram overlap
against a (small) benchmark/eval set.

The standard pretraining hygiene step (GPT-3 appendix C / Gopher /
FineWeb decontamination): a training document is suspect when a large
fraction of its word n-grams also occur in an evaluation benchmark —
either direction of leakage poisons downstream evals.  The reference
engine has no analogue (it is a geodata engine); this operator is part
of the training-data-pipeline tier the engine adds on top.

Spark-first shape and why it scales to 100 TB:

- The benchmark side is eval-set-sized BY DEFINITION (thousands of
  documents, not billions), so its distinct shingle set is a broadcast
  dimension — the corpus side never shuffles for the membership test.
- Corpus side: ``array_distinct`` BEFORE the explode (map-side, kills
  the per-(doc, shingle) distinct shuffle), then one broadcast left
  join and ONE hash aggregation on the doc id whose partial combine
  collapses every partition's rows to one narrow (id, 2 longs) row per
  doc — the only exchange in the plan.
- The overlap fraction is ONE shared IEEE division over exact integer
  counts, so Spark and the DuckDB oracle twin emit bit-identical
  doubles (the repo-wide cross-engine float rule).

NULL text contributes zero shingles (``explode_outer`` keeps the row;
n_shingles = 0, fraction NULL) — mirrored in the SQL twin by a LEFT
join from the full document set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import word_shingle_array
from .text import SQL_WS


def contamination_scores(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """(id, n_shingles, n_contam, contam_frac, is_contaminated) per
    corpus document: distinct word ``n``-gram count, how many of those
    occur anywhere in ``benchmark``'s texts, their ratio, and the
    ``ratio >= threshold`` flag (NULL for shingle-less docs).  Shares
    the tokenization/shingle contract with dedup.word_shingle_array so
    all overlap operators (Jaccard, MinHash, this) agree on what an
    n-gram is."""
    # NULL-text guard: word_shingle_array(NULL) would yield [""]
    # (Spark's greatest() SKIPS nulls, so the clamped sequence still
    # emits index 0); the twin's DuckDB greatest() propagates NULL and
    # drops the doc from the shingle set — make Spark agree: NULL text
    # -> NULL array -> explode_outer NULL -> zero counts.
    def _sh(col: Column) -> Column:
        return F.when(col.isNotNull(), F.array_distinct(word_shingle_array(col, n)))

    bench_sh = (
        benchmark.select(F.explode(_sh(F.col(text_col))).alias("shingle"))
        .distinct()
        .withColumn("_bhit", F.lit(True))
    )
    ex = docs.select(id_col, F.explode_outer(_sh(F.col(text_col))).alias("shingle"))
    agg = (
        ex.join(F.broadcast(bench_sh), "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count("shingle").cast("long").alias("n_shingles"),
            F.coalesce(F.sum(F.when(F.col("_bhit"), 1)), F.lit(0))
            .cast("long")
            .alias("n_contam"),
        )
    )
    frac = F.when(
        F.col("n_shingles") > 0,
        F.col("n_contam").cast("double") / F.col("n_shingles").cast("double"),
    )
    return agg.select(
        id_col,
        "n_shingles",
        "n_contam",
        frac.alias("contam_frac"),
        (frac >= F.lit(float(threshold))).alias("is_contaminated"),
    )


def sql_shingles(text: str, n: int) -> str:
    """DuckDB: the distinct word n-gram list of ``text`` — the same
    sliding windows with clamped tails as word_shingle_array (general-n
    sibling of text.sql_dup_trigrams, which is pinned at n=3)."""
    toks = f"string_split_regex(trim({text}), '{SQL_WS}')"
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len({toks}) - {n - 1}, 1)), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')))"
    )


def sql_contamination_ctes(
    bench_where: str,
    n: int = 3,
    docs: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    """CTE block ``dsh, bsh, cagg, cont`` — the oracle twin: same
    shingle spelling, LEFT membership join, exact integer counts, the
    identical one-division fraction.  ``cont`` keys by ``id_col``;
    NULL-text docs are absent from ``dsh`` (NULL list unnests to no
    rows), so consumers LEFT JOIN cont and COALESCE the counts to 0
    exactly like the Spark side's explode_outer + count semantics."""
    sh = sql_shingles(text, n)
    return f"""
    dsh AS (
      SELECT {id_col}, unnest({sh}) AS shingle FROM {docs}
    ),
    bsh AS (
      SELECT DISTINCT unnest({sh}) AS shingle FROM {docs} WHERE {bench_where}
    ),
    cagg AS (
      SELECT d.{id_col},
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(COALESCE(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 END), 0)
                  AS BIGINT) AS n_contam
      FROM dsh d LEFT JOIN bsh b ON b.shingle = d.shingle
      GROUP BY d.{id_col}
    ),
    cont AS (
      SELECT {id_col}, n_shingles, n_contam,
             CASE WHEN n_shingles > 0
                  THEN CAST(n_contam AS DOUBLE) / CAST(n_shingles AS DOUBLE)
             END AS contam_frac
      FROM cagg
    )"""
