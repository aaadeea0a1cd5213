"""Deterministic sampling for training-data pipelines.

A 100 TB ingestion job cannot sample with RNG state: a retried task, a
resumed checkpoint, or a re-run at a different parallelism must select
the SAME rows, or dedup/lineage downstream breaks. Everything here is
hash-ticket sampling — each row's ticket is a pure function of its key
(md5-derived, engine-portable like the sketch slots), so selection is
reproducible row-by-row on any cluster shape, any retry, any engine:

- rate sampling: keep iff ticket < floor(rate * 2^32) — an EXACT
  integer threshold (no float equality hazards), map-side, zero
  shuffle, composable with column pruning and pushdown.
- stratified rates: per-stratum thresholds (downsample the dominant
  language/domain, keep the long tail whole) as one CASE expression —
  still map-side.
- exact-N per stratum ("uniform without replacement"): rank by ticket
  within the stratum, keep rank <= n. One narrow shuffle on the
  stratum key; per-group state is the running window, output n rows
  per stratum whatever the skew.
- disjoint train/holdout splits fall out of rate sampling: ticket < t
  is train, ticket >= t is holdout — the same ticket makes the split
  a partition by construction.

No reference analog (the reference replicates everything, never
samples); this is training-pipeline infrastructure in the SURVEY
"beyond the reference" tier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import h64_md5

#: tickets live in [0, 2^32): wide enough that floor(rate * 2^32)
#: resolves rates to ~2.3e-10 granularity, small enough that the
#: threshold times any realistic row count stays far from int64 edges.
TICKET_BITS = 32
_TICKET_MOD = 1 << TICKET_BITS


def sample_ticket(key: Column, salt: str = "sample") -> Column:
    """Uniform deterministic ticket in [0, 2^32): low 32 bits of the
    shared md5-derived 64-bit hash of 'key:salt'. The salt decorrelates
    independent sampling decisions over the same key space (and, since
    the sketches hash the bare key with no suffix, keeps tickets
    independent of the CMS/bloom/HLL slots)."""
    return h64_md5(F.concat(key.cast("string"), F.lit(f":{salt}"))).bitwiseAND(
        F.lit(_TICKET_MOD - 1)
    )


def sql_sample_ticket(key_expr: str, salt: str = "sample") -> str:
    """DuckDB twin of sample_ticket — identical integer for every key."""
    u = f"(('0x' || substr(md5(CAST({key_expr} AS VARCHAR) || ':{salt}'), 1, 16))::UBIGINT)"
    return f"CAST({u} % {_TICKET_MOD} AS BIGINT)"


def rate_threshold(rate: float) -> int:
    """floor(rate * 2^32) — the exact integer the keep test compares
    against, shared by both engines so the twins can never diverge on
    float rounding."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"sample rate must be in [0, 1], got {rate}")
    return int(rate * _TICKET_MOD)


def hash_rate_sample(
    df: DataFrame,
    key_col: str,
    rate: float,
    salt: str = "sample",
    out_col: str | None = None,
) -> DataFrame:
    """Bernoulli(rate) sampling, deterministic in the key. With
    ``out_col`` the keep decision is APPENDED as a boolean (gateable);
    without it the frame is filtered. Map-side either way."""
    keep = sample_ticket(F.col(key_col), salt) < F.lit(rate_threshold(rate))
    if out_col is not None:
        return df.withColumn(out_col, keep)
    return df.filter(keep)


def stratified_rate_sample(
    df: DataFrame,
    stratum_col: str,
    rates: dict[str, float],
    key_col: str,
    default_rate: float = 1.0,
    salt: str = "sample",
    out_col: str | None = None,
) -> DataFrame:
    """Per-stratum Bernoulli rates (e.g. downsample 'en' to 30%, keep
    low-resource languages whole) as ONE CASE expression over the
    (small, known) rates dict — map-side, no join, no shuffle. Strata
    not in ``rates`` use ``default_rate``."""
    thr: Column = F.lit(rate_threshold(default_rate))
    for stratum, rate in sorted(rates.items()):
        thr = F.when(
            F.col(stratum_col) == stratum, F.lit(rate_threshold(rate))
        ).otherwise(thr)
    keep = sample_ticket(F.col(key_col), salt) < thr
    if out_col is not None:
        return df.withColumn(out_col, keep)
    return df.filter(keep)


def sql_stratified_keep_expr(
    stratum_expr: str,
    rates: dict[str, float],
    key_expr: str,
    default_rate: float = 1.0,
    salt: str = "sample",
) -> str:
    """DuckDB twin of the stratified keep decision."""
    whens = "".join(
        f"WHEN {stratum_expr} = '{s}' THEN {rate_threshold(r)} "
        for s, r in sorted(rates.items())
    )
    thr = f"(CASE {whens}ELSE {rate_threshold(default_rate)} END)"
    return f"({sql_sample_ticket(key_expr, salt)} < {thr})"


def stratified_fixed_n(
    df: DataFrame,
    stratum_col: str,
    n: int,
    key_col: str,
    salt: str = "sample",
    out_col: str | None = None,
) -> DataFrame:
    """Exactly min(n, |stratum|) rows per stratum, uniform without
    replacement: rank by ticket (key breaks the negligible ties) inside
    each stratum, keep rank <= n. Deterministic reservoir sampling's
    batch equivalent — ONE shuffle on the stratum key, n rows out per
    stratum however skewed the input.

    Scale note: in the FILTER form Catalyst applies two-phase
    WindowGroupLimit (pinned by test_sampling) — each map task trims
    its stratum slice to n rows BEFORE the exchange, so a mega-stratum
    reaches its reducer as <= n * num_partitions rows, never whole.
    The ``out_col`` (flag) form must keep every row, so it shuffles the
    full stratum: use it for gating/inspection at fixture scale, the
    filter form in production plans."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    w = Window.partitionBy(stratum_col).orderBy(
        sample_ticket(F.col(key_col), salt), F.col(key_col)
    )
    picked = F.row_number().over(w) <= n
    if out_col is not None:
        return df.withColumn(out_col, picked)
    # window expressions can't live in a WHERE clause — materialize
    return df.withColumn("_picked", picked).filter("_picked").drop("_picked")


def sql_stratified_fixed_n_expr(
    stratum_expr: str,
    n: int,
    key_expr: str,
    salt: str = "sample",
) -> str:
    """DuckDB twin: a boolean window expression usable in a SELECT
    (DuckDB allows window functions in expressions)."""
    t = sql_sample_ticket(key_expr, salt)
    return (
        f"(row_number() OVER (PARTITION BY {stratum_expr} "
        f"ORDER BY {t}, {key_expr}) <= {n})"
    )
