"""Exact evaluation metrics over classifier-style score/label columns:
ROC-AUC (Mann-Whitney rank form, midrank tie handling) and the 2x2
Pearson chi-square association test.

A training-data pipeline does not just COMPUTE quality signals — it has
to EVALUATE them: "does this quality score actually separate the
contaminated/leaked/duplicate docs from the clean ones?" is an AUC
question, and "is seed-query relevance associated with contamination?"
is a chi-square question.  The reference engine has no analogue (it is
a geodata engine); these belong to the training-data-pipeline tier the
engine adds on top.

Cross-engine exactness (the repo-wide rule: exact integer state behind
every float):

- ROC-AUC is computed in its Mann-Whitney rank-sum form with midranks,
  which makes it a pure INTEGER statistic: group the labeled rows by
  distinct score s into (c1 = positives at s, c = rows at s), take the
  strictly-below cumulative count cl, and then

      2*R1    = sum( c1 * (2*cl + c + 1) )        # doubled midrank sum
      auc_num = 2*R1 - n1*(n1 + 1)
      auc_den = 2 * n1 * n0
      auc     = auc_num / auc_den                  # ONE shared division

  Every sum/product runs in decimal(38,0) on Spark and HUGEINT on the
  DuckDB twin (products reach ~n^2 and the rank sum ~n^2, far past
  int64 at 10^12 rows), the exact numerator/denominator travel as
  digit strings (the integer pin behind the float compare, the
  ``idw_den_str`` discipline), and the float is one correctly-rounded
  division — bit-identical across engines, orderings and retries.
  auc_num >= 0 always (R1 is minimal when every positive ranks below
  every negative).  den = 0 (single-class input) => auc NULL.

- chi-square: the four contingency cells a,b,c,d ARE the sufficient
  statistic and stay exact int64 at any scale; ad - bc is computed in
  decimal/HUGEINT (exact) and cast to double ONCE (one correct
  rounding), the margins are < 2^53 so their double casts are exact,
  and the statistic is a FIXED double expression tree

      chi2 = (N * (ad - bc)^2) / (((a+b) * (c+d)) * ((a+c) * (b+d)))

  spelled with identical association in both engines, so every
  intermediate is the same correctly-rounded IEEE value.  Any zero
  margin => chi2 NULL.

Plan shape / 100 TB scaling:

- roc_auc: one hash aggregation on (group, score) with map-side
  combine (the only fact-width exchange), then a window and final
  aggregate over the DISTINCT-SCORE table — for the integer/bounded
  scores these metrics run on (token counts, quantized quality
  scores), that table is domain-sized, not corpus-sized.  With no
  group columns the window is single-partition BY DESIGN: it orders
  the global distinct-score table, never the facts.
- chi2_2x2: ONE aggregate, map-side combining, four conditional
  counts.  Nothing else.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_DEC = "decimal(38,0)"


def _dec(c: Column) -> Column:
    return c.cast(_DEC)


def roc_auc(
    df: DataFrame,
    score_col: str | Column,
    label_col: str | Column,
    group_cols: Sequence[str] = (),
    prefix: str = "auc",
) -> DataFrame:
    """Exact ROC-AUC of ``score_col`` predicting boolean ``label_col``
    (higher score = more positive), midrank tie handling, optionally
    per group.  Returns one row per group (one row total when
    ``group_cols`` is empty) with columns::

        <prefix>_num_str  exact numerator digits   (2*R1 - n1*(n1+1))
        <prefix>_den_str  exact denominator digits (2*n1*n0)
        <prefix>          num/den as ONE shared double division
        <prefix>_n_pos    positive count (rows with label true)
        <prefix>_n_neg    negative count

    Rows whose label is NULL are excluded (both engines).  AUC is NULL
    when either class is empty."""
    g = list(group_cols)
    s = F.col(score_col) if isinstance(score_col, str) else score_col
    y = F.col(label_col) if isinstance(label_col, str) else label_col
    base = df.filter(y.isNotNull()).select(
        *g, s.alias("_s"), y.cast("boolean").alias("_y")
    )
    per = base.groupBy(*g, "_s").agg(
        F.sum(F.when(F.col("_y"), 1).otherwise(0)).cast("long").alias("_c1"),
        F.count(F.lit(1)).alias("_c"),
    )
    w = (
        Window.partitionBy(*g)
        .orderBy("_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    per = per.withColumn("_cl", F.sum("_c").over(w) - F.col("_c"))
    two = F.lit(2).cast(_DEC)
    one = F.lit(1).cast(_DEC)
    agg = per.groupBy(*g).agg(
        F.sum(
            _dec(F.col("_c1"))
            * (two * _dec(F.col("_cl")) + _dec(F.col("_c")) + one)
        ).alias("_r2"),
        _dec(F.sum("_c1")).alias("_n1"),
        _dec(F.sum("_c")).alias("_n"),
    )
    num = F.col("_r2") - F.col("_n1") * (F.col("_n1") + one)
    den = two * F.col("_n1") * (F.col("_n") - F.col("_n1"))
    return agg.select(
        *g,
        num.cast("string").alias(f"{prefix}_num_str"),
        den.cast("string").alias(f"{prefix}_den_str"),
        F.when(den != 0, num.cast("double") / den.cast("double")).alias(prefix),
        F.col("_n1").cast("long").alias(f"{prefix}_n_pos"),
        (F.col("_n") - F.col("_n1")).cast("long").alias(f"{prefix}_n_neg"),
    )


def sql_roc_auc_ctes(
    src: str,
    score: str,
    label: str,
    prefix: str = "auc",
    group_by: str | None = None,
) -> str:
    """DuckDB twin of :func:`roc_auc` as a chain of CTEs; the final CTE
    is named ``<prefix>`` and carries exactly the Spark columns.  All
    integer work runs in HUGEINT (the oracle-side decimal(38,0))."""
    gsel = f"{group_by}, " if group_by else ""
    gpart = f"PARTITION BY {group_by} " if group_by else ""
    ggrp = f"GROUP BY {group_by}" if group_by else ""
    return f"""
    {prefix}_rk AS (
      SELECT {gsel}{score} AS s,
             SUM(CASE WHEN {label} THEN 1 ELSE 0 END) AS c1,
             COUNT(*) AS c
      FROM {src} WHERE {label} IS NOT NULL
      GROUP BY {gsel.rstrip(', ') + ', ' if gsel else ''}s
    ),
    {prefix}_rk2 AS (
      SELECT *, SUM(c) OVER ({gpart}ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS cl
      FROM {prefix}_rk
    ),
    {prefix}_ag AS (
      SELECT {gsel}
             SUM(CAST(c1 AS HUGEINT)
                 * (2 * CAST(cl AS HUGEINT) + CAST(c AS HUGEINT) + 1)) AS r2,
             CAST(SUM(c1) AS HUGEINT) AS n1,
             CAST(SUM(c) AS HUGEINT) AS n
      FROM {prefix}_rk2 {ggrp}
    ),
    {prefix} AS (
      SELECT {gsel}
             CAST(r2 - n1 * (n1 + 1) AS VARCHAR) AS {prefix}_num_str,
             CAST(2 * n1 * (n - n1) AS VARCHAR) AS {prefix}_den_str,
             CASE WHEN 2 * n1 * (n - n1) <> 0
                  THEN CAST(r2 - n1 * (n1 + 1) AS DOUBLE)
                       / CAST(2 * n1 * (n - n1) AS DOUBLE)
             END AS {prefix},
             CAST(n1 AS BIGINT) AS {prefix}_n_pos,
             CAST(n - n1 AS BIGINT) AS {prefix}_n_neg
      FROM {prefix}_ag
    )"""


def chi2_2x2(
    df: DataFrame,
    pred_col: str | Column,
    label_col: str | Column,
    prefix: str = "chi2",
) -> DataFrame:
    """Pearson chi-square (1 dof, no continuity correction) of boolean
    ``pred_col`` against boolean ``label_col``.  Returns ONE row:
    ``<prefix>_a/_b/_c/_d`` (exact cells: a = pred&pos, b = pred&neg,
    c = !pred&pos, d = !pred&neg, over rows where both are non-NULL),
    ``<prefix>_n`` and ``<prefix>`` (the statistic; NULL on any zero
    margin)."""
    p = F.col(pred_col) if isinstance(pred_col, str) else pred_col
    y = F.col(label_col) if isinstance(label_col, str) else label_col
    ok = p.isNotNull() & y.isNotNull()
    p, y = p.cast("boolean"), y.cast("boolean")

    def cell(cond: Column) -> Column:
        return F.coalesce(F.sum(F.when(ok & cond, 1)), F.lit(0)).cast("long")

    agg = df.agg(
        cell(p & y).alias("_a"),
        cell(p & ~y).alias("_b"),
        cell(~p & y).alias("_c"),
        cell(~p & ~y).alias("_d"),
    )
    a, b, c, d = (F.col(x) for x in ("_a", "_b", "_c", "_d"))
    n = a + b + c + d
    # exact cross-product difference in decimal, rounded to double ONCE
    det = (_dec(a) * _dec(d) - _dec(b) * _dec(c)).cast("double")
    # margins < 2^53: their double casts are exact; fixed association
    m = (
        (a + b).cast("double") * (c + d).cast("double")
    ) * (
        (a + c).cast("double") * (b + d).cast("double")
    )
    chi = F.when(m != 0, n.cast("double") * (det * det) / m)
    return agg.select(
        a.alias(f"{prefix}_a"),
        b.alias(f"{prefix}_b"),
        c.alias(f"{prefix}_c"),
        d.alias(f"{prefix}_d"),
        n.alias(f"{prefix}_n"),
        chi.alias(prefix),
    )


def sql_chi2_2x2(src: str, pred: str, label: str, prefix: str = "chi2") -> str:
    """DuckDB twin of :func:`chi2_2x2` as one CTE named ``<prefix>``,
    spelled with the identical double-expression association."""
    ok = f"({pred}) IS NOT NULL AND ({label}) IS NOT NULL"
    cells = {
        "a": f"({pred}) AND ({label})",
        "b": f"({pred}) AND NOT ({label})",
        "c": f"NOT ({pred}) AND ({label})",
        "d": f"NOT ({pred}) AND NOT ({label})",
    }
    sel = ",\n             ".join(
        f"COALESCE(SUM(CASE WHEN {ok} AND {cond} THEN 1 END), 0) AS _{k}"
        for k, cond in cells.items()
    )
    return f"""
    {prefix}_cells AS (
      SELECT {sel} FROM {src}
    ),
    {prefix} AS (
      SELECT CAST(_a AS BIGINT) AS {prefix}_a,
             CAST(_b AS BIGINT) AS {prefix}_b,
             CAST(_c AS BIGINT) AS {prefix}_c,
             CAST(_d AS BIGINT) AS {prefix}_d,
             CAST(_a + _b + _c + _d AS BIGINT) AS {prefix}_n,
             CASE WHEN (CAST(_a + _b AS DOUBLE) * CAST(_c + _d AS DOUBLE))
                       * (CAST(_a + _c AS DOUBLE) * CAST(_b + _d AS DOUBLE)) <> 0
                  THEN CAST(_a + _b + _c + _d AS DOUBLE)
                       * (CAST(CAST(_a AS HUGEINT) * CAST(_d AS HUGEINT)
                               - CAST(_b AS HUGEINT) * CAST(_c AS HUGEINT) AS DOUBLE)
                          * CAST(CAST(_a AS HUGEINT) * CAST(_d AS HUGEINT)
                                 - CAST(_b AS HUGEINT) * CAST(_c AS HUGEINT) AS DOUBLE))
                       / ((CAST(_a + _b AS DOUBLE) * CAST(_c + _d AS DOUBLE))
                          * (CAST(_a + _c AS DOUBLE) * CAST(_b + _d AS DOUBLE)))
             END AS {prefix}
      FROM {prefix}_cells
    )"""


def ks_2samp(
    df: DataFrame,
    value_col: str | Column,
    in_a: Column,
    prefix: str = "ks",
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov D statistic — the
    distribution-drift screen between two shards/cohorts/time windows
    of the same signal (is this batch's quality-score distribution
    still the one the filter thresholds were tuned on?).

    Rows with ``in_a`` true form sample A, false sample B; NULL ``in_a``
    rows are excluded.  D = sup_x |F_A(x) - F_B(x)| is a pure RATIONAL:

        num = max over distinct values v of |cumA(v)*nB - cumB(v)*nA|
        den = nA * nB,          D = num / den    (ONE shared division)

    The cross products reach n² (past int64 at 10^12 rows), so they run
    in decimal(38,0) on Spark and HUGEINT on the DuckDB twin, and
    num/den travel as digit strings (the integer pin behind the float).

    Plan = the roc_auc shape: one fact-width hash aggregation on the
    value (map-side combining), one 1-row totals aggregate broadcast
    back, then a window + final aggregate over the DISTINCT-VALUE
    table (domain-sized for the quantized signals drift screens run
    on).  Returns ONE row: <prefix>_num_str/_den_str, <prefix> (NULL
    when either sample is empty), <prefix>_n_a/_n_b."""
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    base = df.filter(in_a.isNotNull()).select(
        v.alias("_v"), in_a.cast("boolean").alias("_a")
    )
    per = base.groupBy("_v").agg(
        F.sum(F.when(F.col("_a"), 1).otherwise(0)).cast("long").alias("_ca"),
        F.sum(F.when(~F.col("_a"), 1).otherwise(0)).cast("long").alias("_cb"),
    )
    w = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        F.sum("_ca").over(w).alias("_cuma"),
        F.sum("_cb").over(w).alias("_cumb"),
    )
    tot = per.agg(
        F.coalesce(F.sum("_ca"), F.lit(0)).cast("long").alias("_na"),
        F.coalesce(F.sum("_cb"), F.lit(0)).cast("long").alias("_nb"),
    )
    agg = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max(
                F.abs(
                    _dec(F.col("_cuma")) * _dec(F.col("_nb"))
                    - _dec(F.col("_cumb")) * _dec(F.col("_na"))
                )
            ).alias("_num")
        )
        .crossJoin(F.broadcast(tot))  # totals survive even an empty input
    )
    den = _dec(F.col("_na")) * _dec(F.col("_nb"))
    num = F.coalesce(F.col("_num"), F.lit(0).cast(_DEC))
    return agg.select(
        num.cast("string").alias(f"{prefix}_num_str"),
        den.cast("string").alias(f"{prefix}_den_str"),
        F.when(den != 0, num.cast("double") / den.cast("double")).alias(prefix),
        F.col("_na").alias(f"{prefix}_n_a"),
        F.col("_nb").alias(f"{prefix}_n_b"),
    )


def sql_ks_2samp_ctes(
    src: str, value: str, in_a: str, prefix: str = "ks"
) -> str:
    """DuckDB twin of :func:`ks_2samp` as a CTE chain; the final CTE is
    named ``<prefix>`` and carries exactly the Spark columns."""
    return f"""
    {prefix}_per AS (
      SELECT {value} AS v,
             SUM(CASE WHEN {in_a} THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN NOT ({in_a}) THEN 1 ELSE 0 END) AS cb
      FROM {src} WHERE ({in_a}) IS NOT NULL GROUP BY 1
    ),
    {prefix}_cum AS (
      SELECT SUM(ca) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
             SUM(cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
      FROM {prefix}_per
    ),
    {prefix}_tot AS (
      SELECT CAST(COALESCE(SUM(ca), 0) AS BIGINT) AS na,
             CAST(COALESCE(SUM(cb), 0) AS BIGINT) AS nb
      FROM {prefix}_per
    ),
    {prefix}_agg AS (
      SELECT MAX(ABS(CAST(cuma AS HUGEINT) * CAST(nb AS HUGEINT)
                     - CAST(cumb AS HUGEINT) * CAST(na AS HUGEINT))) AS num
      FROM {prefix}_cum CROSS JOIN {prefix}_tot
    ),
    {prefix} AS (
      SELECT CAST(COALESCE(num, 0) AS VARCHAR) AS {prefix}_num_str,
             CAST(CAST(na AS HUGEINT) * CAST(nb AS HUGEINT) AS VARCHAR)
               AS {prefix}_den_str,
             CASE WHEN na <> 0 AND nb <> 0
                  THEN CAST(COALESCE(num, 0) AS DOUBLE)
                       / CAST(CAST(na AS HUGEINT) * CAST(nb AS HUGEINT)
                              AS DOUBLE)
             END AS {prefix},
             na AS {prefix}_n_a, nb AS {prefix}_n_b
      FROM {prefix}_tot CROSS JOIN {prefix}_agg
    )"""


def first_digit_screen(
    df: DataFrame, int_col: str | Column, prefix: str = "fd"
) -> DataFrame:
    """First-significant-digit distribution — the Benford's-law-style
    fraud / synthetic-data screen an ingestion pipeline runs over
    amount-like columns (fabricated and machine-generated figures have
    first-digit distributions real multiplicative data never shows).
    Rows with ``int_col`` < 1 (non-positive, sub-unit after the
    caller's fixed-point scaling) are out of the population by
    definition — the leading digit of a non-positive integer is not a
    Benford observation.

    Digits come from the decimal rendering (``substring(cast(x as
    string), 1, 1)`` — BIGINT-to-string is identical across engines:
    no sign, no decimal point, no exponent), so the extraction is
    exact without log10. The pinned statistic is the EXACT uniformity
    chi-square (the classic Benford expectation log10(1+1/d) is
    irrational and cross-engine unverifiable; uniform is the natural
    null for this engine's LCG-derived fixtures, and the raw counts
    ride along so any downstream test can re-weight them):

        chi2u = Σ_d (9·c_d − N)² / (9·N)

    with the numerator carried exactly in decimal(38,0)/HUGEINT
    (pinned as digits) and ONE shared division. Returns ONE row:
    ``<prefix>_n``, ``<prefix>_c1..c9``, ``<prefix>_chi2u_num_str``,
    ``<prefix>_chi2u`` (NULL on an empty population).

    Plan: one filter + one hash aggregate to a single row — map-side
    combine does the work; broadcast the result."""
    x = F.col(int_col) if isinstance(int_col, str) else int_col
    x = x.cast("long")
    d = F.substring(x.cast("string"), 1, 1).cast("long")
    pop = df.where(x >= 1)
    agg = pop.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        *[
            F.coalesce(F.sum(F.when(d == k, 1)), F.lit(0))
            .cast("long")
            .alias(f"_c{k}")
            for k in range(1, 10)
        ],
    )
    n = F.col("_n")
    num = None
    for k in range(1, 10):
        t = _dec(9 * F.col(f"_c{k}") - n)
        term = t * t
        num = term if num is None else num + term
    return agg.select(
        n.alias(f"{prefix}_n"),
        *[F.col(f"_c{k}").alias(f"{prefix}_c{k}") for k in range(1, 10)],
        num.cast("string").alias(f"{prefix}_chi2u_num_str"),
        F.when(n > 0, num.cast("double") / (9 * n).cast("double")).alias(
            f"{prefix}_chi2u"
        ),
    )


def sql_first_digit_ctes(src: str, int_expr: str, prefix: str = "fd") -> str:
    """DuckDB twin of :func:`first_digit_screen` ending in a CTE named
    ``<prefix>`` with the identical columns (embed inside a WITH
    chain; the caller CROSS JOINs it)."""
    cs = ",\n             ".join(
        f"CAST(COALESCE(SUM(CASE WHEN d = {k} THEN 1 END), 0) AS BIGINT)"
        f" AS {prefix}_c{k}"
        for k in range(1, 10)
    )
    num = " + ".join(
        f"(CAST(9 * {prefix}_c{k} - {prefix}_n AS HUGEINT)"
        f" * CAST(9 * {prefix}_c{k} - {prefix}_n AS HUGEINT))"
        for k in range(1, 10)
    )
    return f"""{prefix}pop AS (
      SELECT CAST(substr(CAST(CAST({int_expr} AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS d
      FROM {src} WHERE CAST({int_expr} AS BIGINT) >= 1
    ),
    {prefix}ct AS (
      SELECT CAST(count(*) AS BIGINT) AS {prefix}_n,
             {cs}
      FROM {prefix}pop
    ),
    {prefix} AS (
      SELECT {prefix}_n,
             {", ".join(f"{prefix}_c{k}" for k in range(1, 10))},
             CAST({num} AS VARCHAR) AS {prefix}_chi2u_num_str,
             CASE WHEN {prefix}_n > 0
               THEN CAST({num} AS DOUBLE)
                    / CAST(9 * {prefix}_n AS DOUBLE)
             END AS {prefix}_chi2u
      FROM {prefix}ct
    )"""


def spearman(
    df: DataFrame,
    x_col: str | Column,
    y_col: str | Column,
    group_cols: Sequence[str] = (),
    prefix: str = "rho",
) -> DataFrame:
    """Exact Spearman rank correlation of ``x_col`` vs ``y_col`` with
    midrank tie handling, optionally per group.  Returns one row per
    group with::

        <prefix>_num_str  exact digits of sum(cx*cy)
        <prefix>_dx_str   exact digits of sum(cx^2)
        <prefix>_dy_str   exact digits of sum(cy^2)
        <prefix>          num / sqrt(dx*dy) as a FIXED double tree
        <prefix>_n        paired-row count

    where ``cx`` is the CENTERED doubled midrank ``2*cl + c - n`` (cl =
    rows strictly below the value, c = rows at it, n = group rows).
    Doubled midranks sum to exactly ``n*(n+1)``, so their mean is the
    integer ``n + 1`` and centering is EXACT — and it bounds every
    integer by n^3 instead of the n^4 a raw cross-moment
    ``n*Sxy - Sx*Sy`` would need, keeping decimal(38,0)/HUGEINT safe
    past 10^11 rows.  Constant column => dx (or dy) = 0 => rho NULL.
    Rows with a NULL on either side are excluded.

    Plan shape / 100 TB scaling: per variable one hash aggregate on
    (group, value) with map-side combine, a window over the
    DISTINCT-VALUE table only (domain-sized for the integer/quantized
    columns this runs on — never the facts), a broadcast join of the
    two rank tables back onto the facts, and ONE final aggregate.  The
    only fact-width exchanges are the two value aggregations."""
    g = list(group_cols)
    x = F.col(x_col) if isinstance(x_col, str) else x_col
    y = F.col(y_col) if isinstance(y_col, str) else y_col
    base = df.filter(x.isNotNull() & y.isNotNull()).select(
        *g, x.alias("_x"), y.alias("_y")
    )

    def _ranks(col: str, out: str) -> DataFrame:
        per = base.groupBy(*g, col).agg(F.count(F.lit(1)).alias("_c"))
        run = (
            Window.partitionBy(*g)
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        tot = Window.partitionBy(*g)
        return per.select(
            *g,
            col,
            (
                2 * F.sum("_c").over(run) - F.col("_c") - F.sum("_c").over(tot)
            ).alias(out),
        )

    j = base.join(F.broadcast(_ranks("_x", "_cx")), [*g, "_x"]).join(
        F.broadcast(_ranks("_y", "_cy")), [*g, "_y"]
    )
    agg = j.groupBy(*g).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(_dec(F.col("_cx")) * _dec(F.col("_cy"))).alias("_num"),
        F.sum(_dec(F.col("_cx")) * _dec(F.col("_cx"))).alias("_dx"),
        F.sum(_dec(F.col("_cy")) * _dec(F.col("_cy"))).alias("_dy"),
    )
    return agg.select(
        *g,
        F.col("_num").cast("string").alias(f"{prefix}_num_str"),
        F.col("_dx").cast("string").alias(f"{prefix}_dx_str"),
        F.col("_dy").cast("string").alias(f"{prefix}_dy_str"),
        F.when(
            (F.col("_dx") > 0) & (F.col("_dy") > 0),
            F.col("_num").cast("double")
            / F.sqrt(F.col("_dx").cast("double") * F.col("_dy").cast("double")),
        ).alias(prefix),
        F.col("_n").cast("long").alias(f"{prefix}_n"),
    )


def sql_spearman_ctes(src: str, x: str, y: str, prefix: str = "rho") -> str:
    """DuckDB twin of :func:`spearman` (ungrouped form — the gate's
    shape) as a chain of CTEs ending in ``<prefix>`` with the identical
    columns.  All integer work runs in HUGEINT."""
    return f"""{prefix}_b AS (
      SELECT {x} AS x, {y} AS y FROM {src}
      WHERE {x} IS NOT NULL AND {y} IS NOT NULL
    ),
    {prefix}_rx AS (
      SELECT x, 2 * SUM(c) OVER (ORDER BY x
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - c - SUM(c) OVER () AS cx
      FROM (SELECT x, COUNT(*) AS c FROM {prefix}_b GROUP BY x)
    ),
    {prefix}_ry AS (
      SELECT y, 2 * SUM(c) OVER (ORDER BY y
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - c - SUM(c) OVER () AS cy
      FROM (SELECT y, COUNT(*) AS c FROM {prefix}_b GROUP BY y)
    ),
    {prefix}_j AS (
      SELECT cx, cy FROM {prefix}_b
      JOIN {prefix}_rx USING (x) JOIN {prefix}_ry USING (y)
    ),
    {prefix}_ag AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(cx AS HUGEINT) * CAST(cy AS HUGEINT)) AS num,
             SUM(CAST(cx AS HUGEINT) * CAST(cx AS HUGEINT)) AS dx,
             SUM(CAST(cy AS HUGEINT) * CAST(cy AS HUGEINT)) AS dy
      FROM {prefix}_j
    ),
    {prefix} AS (
      SELECT CAST(num AS VARCHAR) AS {prefix}_num_str,
             CAST(dx AS VARCHAR) AS {prefix}_dx_str,
             CAST(dy AS VARCHAR) AS {prefix}_dy_str,
             CASE WHEN dx > 0 AND dy > 0
                  THEN CAST(num AS DOUBLE)
                       / sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE))
             END AS {prefix},
             CAST(n AS BIGINT) AS {prefix}_n
      FROM {prefix}_ag
    )"""


def average_precision(
    gt: DataFrame,
    det: DataFrame,
    group: str = "image_id",
    thr_num: int = 1,
    thr_den: int = 2,
) -> DataFrame:
    """Detection average precision — THE vision-evaluation metric
    (PASCAL VOC / COCO AP@IoU) next to ``roc_auc``: per group (image),
    detections are greedily matched to ground-truth boxes in
    (score DESC, det_id) order, each det taking the highest-IoU
    still-free GT with IoU >= thr_num/thr_den (the COCO greedy rule),
    and the UNINTERPOLATED average precision

        AP = (1 / n_gt) * Σ_{k : det k is TP}  tp_k / k

    is carried as an EXACT fraction (python Fraction in the kernel;
    the twin accumulates over the n_det! common denominator and
    gcd-reduces — identical canonical digits).

    Exactness contract: boxes are half-open integer rectangles (the
    ``iou_pairs`` convention); the MATCH THRESHOLD is the integer
    cross-multiplication ``inter * thr_den >= thr_num * union`` — no
    float ever decides TP/FP; the greedy ARGMAX orders candidates by
    the shared correctly-rounded double inter/union (identical ints ->
    identical doubles -> identical order in both engines), ties to the
    smallest gt_id.

    Input: ``gt``  (group, gt_id, x0, y0, x1, y1),
           ``det`` (group, det_id, score, x0, y0, x1, y1).
    Output per group: ``ap_n_gt, ap_n_det, ap_tp, ap_num_str,
    ap_den_str`` (AP = num/den canonical; groups with n_gt = 0 emit
    null digits — AP undefined).

    Plan: ONE cogroup shuffle on the group key + a bounded-group
    kernel (boxes per image are tens, the mann_kendall discipline —
    O(n_det · n_gt) compares inside the executor, no pair shuffle)."""
    from fractions import Fraction

    import pandas as pd

    gsrc = gt.select(
        F.col(group),
        F.col("gt_id").cast("long").alias("gt_id"),
        *[F.col(c).cast("long").alias(c) for c in ("x0", "y0", "x1", "y1")],
    )
    dsrc = det.select(
        F.col(group),
        F.col("det_id").cast("long").alias("det_id"),
        F.col("score").cast("long").alias("score"),
        *[F.col(c).cast("long").alias(c) for c in ("x0", "y0", "x1", "y1")],
    )

    def kernel(key, gpdf: pd.DataFrame, dpdf: pd.DataFrame) -> pd.DataFrame:
        (kv,) = key
        gts = [
            (int(r.gt_id), int(r.x0), int(r.y0), int(r.x1), int(r.y1))
            for r in gpdf.itertuples()
        ]
        dets = sorted(
            (
                (-int(r.score), int(r.det_id), int(r.x0), int(r.y0),
                 int(r.x1), int(r.y1))
                for r in dpdf.itertuples()
            )
        )
        taken: set[int] = set()
        ap = Fraction(0)
        tp = 0
        for k, (_, _, dx0, dy0, dx1, dy1) in enumerate(dets, start=1):
            darea = (dx1 - dx0) * (dy1 - dy0)
            best = None
            for gid, gx0, gy0, gx1, gy1 in gts:
                if gid in taken:
                    continue
                iw = min(dx1, gx1) - max(dx0, gx0)
                ih = min(dy1, gy1) - max(dy0, gy0)
                inter = iw * ih if iw > 0 and ih > 0 else 0
                union = darea + (gx1 - gx0) * (gy1 - gy0) - inter
                if union <= 0 or inter * thr_den < thr_num * union:
                    continue
                key2 = (-(inter / union), gid)  # shared-double order
                if best is None or key2 < best[0]:
                    best = (key2, gid)
            if best is not None:
                taken.add(best[1])
                tp += 1
                ap += Fraction(tp, k)
        n_gt = len(gts)
        if n_gt > 0:
            apf = ap / n_gt
            num, den = str(apf.numerator), str(apf.denominator)
        else:
            num = den = None
        return pd.DataFrame(
            {
                group: [kv],
                "ap_n_gt": [n_gt],
                "ap_n_det": [len(dets)],
                "ap_tp": [tp],
                "ap_num_str": [num],
                "ap_den_str": [den],
            }
        )

    out_schema = (
        f"{group} {dict(gt.dtypes).get(group, dict(det.dtypes)[group])}, "
        "ap_n_gt long, ap_n_det long, ap_tp long, "
        "ap_num_str string, ap_den_str string"
    )
    return (
        gsrc.groupBy(group)
        .cogroup(dsrc.groupBy(group))
        .applyInPandas(kernel, out_schema)
    )


def ece_quantized(
    df: DataFrame,
    score: str,
    label: str,
    bin_w: int = 10,
    scale: int = 100,
    prefix: str = "ece",
) -> DataFrame:
    """Expected calibration error over an integer-quantized confidence
    — the calibration screen next to ROC-AUC: scores s in [0, scale]
    bin by ``s DIV bin_w``, and

        ECE = Σ_b (n_b/N) · |acc_b − conf_b|
            = Σ_b |scale·pos_b − Σs_b|  /  (scale · N)

    — the rewrite makes it a PURE INTEGER statistic (acc_b = pos_b/n_b,
    conf_b = Σs_b/(scale·n_b); the n_b weights cancel the
    denominators), so numerator and denominator are exact longs and
    the float is ONE shared division.  Emits a single row:
    ``{prefix}_bins, {prefix}_num, {prefix}_den, {prefix}`` (NULL when
    N = 0).

    Plan: one hash agg on the bin key (map-side combine; bin domain =
    scale/bin_w + 1) + one single-row agg."""
    s = F.col(score).cast("long")
    y = F.col(label).cast("long")
    per = df.select(
        F.call_function("div", s, F.lit(int(bin_w))).alias("_b"),
        s.alias("_s"),
        y.alias("_y"),
    ).groupBy("_b").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_y").alias("_pos"),
        F.sum("_s").alias("_ssum"),
    )
    num = F.sum(F.abs(F.lit(scale) * F.col("_pos") - F.col("_ssum")))
    den = F.lit(scale) * F.sum("_n")
    return per.agg(
        F.count(F.lit(1)).cast("long").alias(f"{prefix}_bins"),
        F.coalesce(num, F.lit(0)).cast("long").alias(f"{prefix}_num"),
        den.cast("long").alias(f"{prefix}_den"),
        F.when(
            F.sum("_n") > 0,
            F.coalesce(num, F.lit(0)).cast("double") / den.cast("double"),
        ).alias(prefix),
    )


def sql_ece_ctes(
    src: str,
    score: str,
    label: str,
    bin_w: int = 10,
    scale: int = 100,
    prefix: str = "ece",
) -> str:
    """DuckDB twin of ``ece_quantized`` as a named CTE ``{prefix}``
    (cross-join it onto the final select)."""
    return f"""{prefix}b AS (
      SELECT ({score}) // {bin_w} AS b,
             count(*) AS n, SUM({label}) AS pos, SUM({score}) AS ssum
      FROM {src} GROUP BY 1
    ),
    {prefix} AS (
      SELECT CAST(count(*) AS BIGINT) AS {prefix}_bins,
             CAST(COALESCE(SUM(abs({scale} * pos - ssum)), 0) AS BIGINT)
               AS {prefix}_num,
             CAST({scale} * SUM(n) AS BIGINT) AS {prefix}_den,
             CASE WHEN SUM(n) > 0 THEN
               CAST(COALESCE(SUM(abs({scale} * pos - ssum)), 0) AS DOUBLE)
               / CAST({scale} * SUM(n) AS DOUBLE) END AS {prefix}
      FROM {prefix}b
    )"""
