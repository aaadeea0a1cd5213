"""Count-min sketch: bounded-state frequency estimation for skewed keys.

The scale problem this solves: an exact per-key count over a 100 TB
corpus shuffles every distinct key — state and exchange grow with
cardinality, and one hot key (the skew the reference's dense-region
handling fights on the geo side) concentrates on one reducer. The
count-min sketch caps the aggregation state at ``depth * width``
counters REGARDLESS of key cardinality: every partition's map-side
combine collapses to at most depth*width partial rows before the one
exchange, so the shuffle is O(d*w) per partition and the final state is
a few KB. Estimates carry the classic one-sided guarantee — never
below the true count, above it by at most eps*N with probability
1-delta (eps = e/width, delta = exp(-depth)); a heavy-hitter screen
then rechecks only the few survivors exactly.

Slot hashes are md5-derived (``dedup.h64_md5``) with the d per-row
slots expanded by Kirsch-Mitzenmacher double hashing from ONE digest
(slot_d = (hi32 + d*lo32odd) mod width — one md5 per row, not depth),
and ``width`` must be a power of two, so the signed-int64 arithmetic
Spark computes equals the BIGINT arithmetic DuckDB computes — the
oracle rebuilds every counter and every estimate bit-for-bit (no RNG,
no engine-private hash).

No reference analog (the reference keeps exact osmbin counters,
/root/reference/src/osmbin.rs:66-77); this is training-pipeline
infrastructure: hot-key detection before a join, corpus token
frequencies, per-source document counts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import h64_md5, sql_h64_md5


def _check_width(width: int) -> None:
    if width <= 0 or width & (width - 1):
        raise ValueError(
            f"cms width must be a power of two (signed & unsigned low "
            f"bits must agree across engines), got {width}"
        )


def _km_halves(h: Column) -> tuple[Column, Column]:
    """Kirsch-Mitzenmacher halves of ONE 64-bit hash: h1 = high 32 bits
    (unsigned), h2 = low 32 bits forced odd. slot_d = (h1 + d*h2) mod m
    gives d independent-enough slots from a single md5 — the classic
    double-hashing result (Kirsch & Mitzenmacher, ESA'06) that keeps
    the CMS/bloom error guarantees while paying ONE digest per row
    instead of depth/k of them (measured 3.2x on the build at sf0.1).
    Values stay < 2^36, far from int64 edges, identical in both
    engines."""
    return (
        F.shiftrightunsigned(h, 32),
        h.bitwiseAND(F.lit(0xFFFFFFFF)).bitwiseOR(F.lit(1)),
    )


def _km_slot(h: Column, d: int, width: int) -> Column:
    h1, h2 = _km_halves(h)
    return (h1 + F.lit(d) * h2).bitwiseAND(F.lit(width - 1))


def _slot(key: Column, d: int, width: int) -> Column:
    """Row d's counter slot for a key — the SPEC form (tests compare it
    against sql_slot value-by-value). Builders materialize the md5 once
    per row in a preceding Project (CollapseProject keeps non-cheap
    multi-consumer aliases materialized) and derive the d slots
    arithmetically; this single-expression spelling would recompute
    the digest per d."""
    return _km_slot(h64_md5(key.cast("string")), d, width)


def sql_slot(key_expr: str, d: int, width: int) -> str:
    """DuckDB twin of _slot (two's-complement & mask == unsigned % for
    power-of-two widths; h1/h2 both fit positive in BIGINT)."""
    u = f"(('0x' || substr(md5(CAST({key_expr} AS VARCHAR)), 1, 16))::UBIGINT)"
    h1 = f"CAST({u} // 4294967296 AS BIGINT)"
    h2 = f"(CAST({u} % 4294967296 AS BIGINT) | 1)"
    return f"(({h1} + {d} * {h2}) % {width})"


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Build the sketch: (d, slot, cnt) counter rows, at most
    depth*width of them. ONE aggregation; posexplode is map-side, the
    hash agg's map-side combine bounds every partition's shuffle
    contribution at depth*width rows whatever the input size or skew."""
    _check_width(width)
    # NULL keys contribute nothing (md5(NULL) is NULL and would poison
    # pack's map keys / the twin's counters) — same rule as countDistinct
    hashed = df.where(F.col(key_col).isNotNull()).select(
        h64_md5(F.col(key_col).cast("string")).alias("_h")
    )
    slots = F.array(*[_km_slot(F.col("_h"), d, width) for d in range(depth)])
    return (
        hashed.select(F.posexplode(slots).alias("d", "slot"))
        .groupBy("d", "slot")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    keys: DataFrame,
    sketch: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    out_col: str = "cms_est",
) -> DataFrame:
    """Point-estimate each key in ``keys``: min over the d counters the
    key hashes to. The sketch is tiny by construction, so it
    broadcasts — the probe side never shuffles. Keys the sketch never
    saw estimate 0 (left join + coalesce), preserving est >= true."""
    _check_width(width)
    hashed = keys.select(
        key_col, h64_md5(F.col(key_col).cast("string")).alias("_h")
    )
    slots = F.array(*[_km_slot(F.col("_h"), d, width) for d in range(depth)])
    ex = hashed.select(key_col, F.posexplode(slots).alias("d", "slot"))
    return (
        ex.join(F.broadcast(sketch), ["d", "slot"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias(out_col))
    )


def cms_pack(sketch: DataFrame, width: int = 1024) -> DataFrame:
    """Collapse the counter rows to ONE map-typed row keyed by
    d*width+slot, so probes become a broadcast nested-loop join against
    a single row plus pure map-side expressions (the bloom_pack
    pattern) — no per-key groupBy, no distinct, no rejoin."""
    _check_width(width)
    return sketch.groupBy().agg(
        F.map_from_entries(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        (F.col("d") * width + F.col("slot")).alias("k"),
                        F.col("cnt"),
                    )
                )
            )
        ).alias("_cms")
    )


def cms_probe(
    df: DataFrame,
    packed: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    out_col: str = "cms_est",
) -> DataFrame:
    """Append the count-min estimate to EVERY row of ``df`` map-side:
    one md5, d arithmetic slots, d map lookups, a least(). Same
    estimates as cms_estimate (min over depth, unseen 0) without the
    probe-side aggregation — the fact side never shuffles. Use this to
    annotate rows in place; use cms_estimate when you genuinely want
    one row per distinct key."""
    _check_width(width)
    out = df.join(F.broadcast(packed)).withColumn(
        "_cms_h", h64_md5(F.col(key_col).cast("string"))
    )
    est: Column | None = None
    for d in range(depth):
        slot = _km_slot(F.col("_cms_h"), d, width)
        cnt = F.coalesce(
            F.try_element_at(F.col("_cms"), F.lit(d * width) + slot),
            F.lit(0).cast("long"),
        )
        est = cnt if est is None else F.least(est, cnt)
    return out.withColumn(out_col, est).drop("_cms", "_cms_h")


def sql_cms_estimate(
    table: str,
    key_expr: str,
    depth: int = 4,
    width: int = 1024,
    est_col: str = "cms_est",
    key_alias: str = "key",
) -> str:
    """DuckDB twin: rebuild the counters and the min-over-depth
    estimate for every distinct key of ``table``. Returns a SELECT
    yielding (key_alias, est_col)."""
    _check_width(width)
    counters = "\n      UNION ALL\n      ".join(
        f"SELECT {d} AS d, {sql_slot(key_expr, d, width)} AS slot, "
        f"COUNT(*) AS cnt FROM {table} "
        f"WHERE {key_expr} IS NOT NULL GROUP BY 2"  # cms_build's NULL rule
        for d in range(depth)
    )
    probes = "\n      UNION ALL\n      ".join(
        f"SELECT {key_expr} AS {key_alias}, {d} AS d, "
        f"{sql_slot(key_expr, d, width)} AS slot FROM dk"
        for d in range(depth)
    )
    return f"""
    WITH dk AS (SELECT DISTINCT {key_expr} FROM {table}),
    counters AS (
      {counters}
    ),
    probes AS (
      {probes}
    )
    SELECT p.{key_alias},
           CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS {est_col}
    FROM probes p
    LEFT JOIN counters c ON c.d = p.d AND c.slot = p.slot
    GROUP BY p.{key_alias}
    """


def heavy_hitters(
    df: DataFrame,
    key_col: str,
    threshold: int,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Keys whose TRUE count is >= threshold, found sketch-first: the
    CM estimate never undercounts, so screening on est >= threshold
    loses nothing; only the (few, by the eps*N bound) surviving keys
    get an exact recount. Returns (key, cms_est, exact_cnt) for keys
    with exact_cnt >= threshold."""
    sk = cms_build(df, key_col, depth, width)
    est = cms_estimate(
        df.select(key_col).distinct(), sk, key_col, depth, width
    ).filter(F.col("cms_est") >= threshold)
    exact = (
        df.join(F.broadcast(est), key_col)
        .groupBy(key_col, "cms_est")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    return exact.filter(F.col("exact_cnt") >= threshold)


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch (same cross-engine determinism rules:
# md5-shared hash, exact-integer register arithmetic, one final IEEE
# division spelled identically in both engines)
# ---------------------------------------------------------------------------


def _check_hll_p(p: int) -> None:
    if not 4 <= p <= 16:
        raise ValueError(f"hll precision p must be in [4, 16], got {p}")


def _hll_scale_bits(p: int) -> int:
    """2^-M_j is carried as the exact integer 2^s >> M_j. s = 62 - p
    keeps the worst-case denominator (every one of the 2^p buckets
    contributing the full 2^s) at 2^62 — inside int64 for BOTH engines,
    no decimal/hugeint divergence to reconcile. Registers above s
    truncate to 0 identically in both engines (a register > 54 needs
    ~2^-54-probability hash prefixes; the estimate deviation is below
    double resolution)."""
    return 62 - p


def hll_alpha_numerator(p: int) -> float:
    """alpha_m * m^2 * 2^s as ONE double literal, precomputed driver-
    side and injected into BOTH engines, so the estimate is a single
    identical IEEE division of this constant by the exact-integer
    scaled denominator."""
    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    return alpha * m * m * float(1 << _hll_scale_bits(p))


def _hll_bucket_rank_from(h: Column, p: int) -> tuple[Column, Column]:
    """(bucket, rank) from a 64-bit hash column: bucket = low p bits;
    rank = leading-zero count of the remaining (64-p)-bit window plus
    one. The bit length comes from a shift-smear + bit_count — exact
    integer ops both engines share — never floor(log2(x)), whose FP
    misrounding at powers of two would desynchronize the engines."""
    bucket = h.bitwiseAND(F.lit((1 << p) - 1))
    s = F.shiftrightunsigned(h, p)
    for b in (1, 2, 4, 8, 16, 32):
        s = s.bitwiseOR(F.shiftrightunsigned(s, b))
    rank = F.lit(64 - p + 1) - F.bit_count(s)
    return bucket, rank


def hll_rank_cols(key: Column, p: int) -> tuple[Column, Column]:
    """(bucket, rank) for a key — the spec form over the shared md5
    hash; hll_registers materializes the digest once per row first."""
    _check_hll_p(p)
    return _hll_bucket_rank_from(h64_md5(key.cast("string")), p)


def hll_registers(
    df: DataFrame, key_col: str, p: int = 8, group_cols: list[str] | None = None
) -> DataFrame:
    """Per-(group, bucket) max-rank registers: at most 2^p rows per
    group, whatever the key cardinality — the distributed-distinct
    state bound. max() re-aggregates, so rollup levels, merged
    partitions and unioned corpora combine registers with another max
    (the sketch-union property): count day+day by unioning register
    tables, never re-reading rows."""
    _check_hll_p(p)
    gb = list(group_cols or [])
    # NULLs don't count as a distinct value (countDistinct's rule; a
    # NULL hash would otherwise add a phantom NULL-bucket register)
    hashed = df.where(F.col(key_col).isNotNull()).select(
        *gb, h64_md5(F.col(key_col).cast("string")).alias("_h")
    )
    bucket, rank = _hll_bucket_rank_from(F.col("_h"), p)
    return (
        hashed.select(*gb, bucket.alias("bucket"), rank.alias("rank"))
        .groupBy(*gb, "bucket")
        .agg(F.max("rank").alias("reg"))
    )


def hll_estimate(
    regs: DataFrame,
    p: int = 8,
    group_cols: list[str] | None = None,
    out_col: str = "hll_est",
) -> DataFrame:
    """Raw HLL estimate per group from register rows: denominator
    SUM(2^s >> reg) + (m - buckets_present) * 2^s is exact int64; the
    estimate is one double division by the precomputed alpha numerator.
    (Raw estimate only — the linear-counting small-range correction
    needs ln(), whose last-ulp behavior the engines don't contract on;
    callers counting < 2.5*m distincts should read the zero-bucket
    count from the registers and correct driver-side.)"""
    _check_hll_p(p)
    m = 1 << p
    scale = 1 << _hll_scale_bits(p)
    gb = list(group_cols or [])
    # python-API shiftrightunsigned takes a literal count; the SQL form
    # shifts by a column
    denom = F.sum(F.expr(f"shiftrightunsigned({scale}L, reg)")) + (
        F.lit(m) - F.count(F.lit(1))
    ) * F.lit(scale)
    return regs.groupBy(*gb).agg(
        (F.lit(hll_alpha_numerator(p)) / denom.cast("double")).alias(out_col)
    )


def sql_hll_registers(
    table: str,
    key_expr: str,
    p: int = 8,
    group_exprs: list[str] | None = None,
) -> str:
    """DuckDB twin of hll_registers: a SELECT of
    (group..., bucket, reg) — composable, so callers can re-aggregate
    registers across levels (MAX per bucket) exactly like the Spark
    side before estimating."""
    _check_hll_p(p)
    m = 1 << p
    gb = list(group_exprs or [])
    u = f"(('0x' || substr(md5(CAST({key_expr} AS VARCHAR)), 1, 16))::UBIGINT)"
    smear = f"CAST(({u} // {1 << p}) AS BIGINT)"
    for b in (1, 2, 4, 8, 16, 32):
        smear = f"({smear} | ({smear} >> {b}))"
    gsel = "".join(f"{g}, " for g in gb)
    gby = "GROUP BY " + ", ".join([*gb, "bucket"])
    return f"""
      SELECT {gsel}bucket, MAX(reg0) AS reg
      FROM (
        SELECT {gsel}CAST({u} % {m} AS BIGINT) AS bucket,
               {64 - p + 1} - bit_count({smear}) AS reg0
        FROM {table}
        WHERE {key_expr} IS NOT NULL
      ) ranks
      {gby}
    """


def sql_hll_est_expr(p: int = 8) -> str:
    """The estimate as an aggregate expression over (bucket, reg) rows
    — SUM/COUNT denominator + the one shared division."""
    _check_hll_p(p)
    m = 1 << p
    sb = _hll_scale_bits(p)
    return (
        f"CAST({hll_alpha_numerator(p)!r} AS DOUBLE) / "
        f"CAST(SUM({1 << sb} >> reg) + ({m} - COUNT(*)) * {1 << sb} AS DOUBLE)"
    )


def sql_hll_estimate(
    table: str,
    key_expr: str,
    p: int = 8,
    group_exprs: list[str] | None = None,
    est_col: str = "hll_est",
) -> str:
    """DuckDB twin of hll_registers |> hll_estimate over ``table``:
    identical hash, smear, integer denominator and single division.
    Returns a SELECT of (group..., est_col)."""
    gb = list(group_exprs or [])
    gsel = "".join(f"{g}, " for g in gb)
    outer_gby = ("GROUP BY " + ", ".join(gb)) if gb else ""
    return f"""
    SELECT {gsel}{sql_hll_est_expr(p)} AS {est_col}
    FROM (
      {sql_hll_registers(table, key_expr, p, gb)}
    ) regs
    {outer_gby}
    """


# ---------------------------------------------------------------------------
# Bloom filter: bounded-state set MEMBERSHIP (the third sketch, beside
# count-min's frequencies and HLL's cardinalities). The 100 TB use is
# incremental dedup: "was this content hash kept in any previous crawl?"
# is a membership probe against a corpus too large to broadcast as
# exact keys — the bloom compresses it to m_bits (16 bits/key gives
# ~0.05% false positives) with NO false negatives, so a negative probe
# skips the exact-verify join entirely and a positive one is rechecked
# exactly. Same cross-engine determinism rules as CMS/HLL: md5-derived
# slots, power-of-two masks, and 32-bit word packing (bit 31 shifted
# into a BIGINT stays positive, so DuckDB's overflow-checked `<<`
# accepts every index and both engines agree bit-for-bit).
# ---------------------------------------------------------------------------

#: bits packed per int64 word. 32, not 64: DuckDB raises on
#: ``1::BIGINT << 63`` (checked overflow), and the sign bit would
#: need two's-complement special-casing; 32 keeps every mask positive.
BLOOM_WORD_BITS = 32


def _check_bloom(m_bits: int, k: int) -> None:
    if m_bits < BLOOM_WORD_BITS or m_bits & (m_bits - 1):
        raise ValueError(
            f"bloom m_bits must be a power of two >= {BLOOM_WORD_BITS}, got {m_bits}"
        )
    if not 1 <= k <= 16:
        raise ValueError(f"bloom k must be in [1, 16], got {k}")


#: derived from BLOOM_WORD_BITS so every word/bit split (Spark helper,
#: probe mask, SQL twins) moves together if the packing ever changes
_BLOOM_WORD_SHIFT = BLOOM_WORD_BITS.bit_length() - 1
_BLOOM_BIT_MASK = BLOOM_WORD_BITS - 1


def _bloom_word_bit(slot: Column) -> tuple[Column, Column]:
    return (
        F.shiftright(slot, _BLOOM_WORD_SHIFT),
        slot.bitwiseAND(F.lit(_BLOOM_BIT_MASK)),
    )


def bloom_words(df: DataFrame, key_col: str, m_bits: int = 4096, k: int = 3) -> DataFrame:
    """Build the filter as (word, bits) rows — at most m_bits/32 of
    them, whatever the input cardinality. ONE aggregation whose
    map-side combine (bit_or is associative) bounds each partition's
    shuffle contribution at m_bits/32 rows; the result is a few KB and
    broadcasts."""
    _check_bloom(m_bits, k)
    # NULL keys set no bits (a NULL md5 would poison the packed map);
    # probes of NULL keys return NULL, which callers keep or gate
    hashed = df.where(F.col(key_col).isNotNull()).select(
        h64_md5(F.col(key_col).cast("string")).alias("_h")
    )
    slots = F.array(*[_km_slot(F.col("_h"), d, m_bits) for d in range(k)])
    ex = hashed.select(F.explode(slots).alias("slot"))
    word, bit = _bloom_word_bit(F.col("slot"))
    return (
        ex.select(word.alias("word"), bit.alias("bit"))
        .groupBy("word")
        .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))")).alias("bits"))
    )


def bloom_pack(words: DataFrame) -> DataFrame:
    """Collapse the (word, bits) rows to ONE map-typed row so probes
    are a broadcast nested-loop join against a single row followed by
    pure map-side expressions — the fact side never shuffles, never
    even hash-partitions. sort_array only for plan determinism."""
    return words.groupBy().agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("word", "bits")))
        ).alias("_bf")
    )


def bloom_probe(
    df: DataFrame,
    packed: DataFrame,
    key_col: str,
    m_bits: int = 4096,
    k: int = 3,
    out_col: str = "bloom_hit",
) -> DataFrame:
    """Append ``out_col`` (boolean, true = maybe-member, false =
    DEFINITELY not a member) to ``df``. try_element_at so a word the
    build never touched reads as 0 under ANSI sessions too."""
    _check_bloom(m_bits, k)
    out = df.join(F.broadcast(packed)).withColumn(
        "_bloom_h", h64_md5(F.col(key_col).cast("string"))
    )
    hit = F.lit(True)
    slot_cols = ["_bloom_h"]
    for d in range(k):
        sc = f"_bloom_s{d}"
        slot_cols.append(sc)
        out = out.withColumn(sc, _km_slot(F.col("_bloom_h"), d, m_bits))
        word, _ = _bloom_word_bit(F.col(sc))
        w = F.coalesce(F.try_element_at(F.col("_bf"), word), F.lit(0).cast("long"))
        mask = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(({sc} & {_BLOOM_BIT_MASK}) AS INT))"
        )
        hit = hit & (w.bitwiseAND(mask) != 0)
    return out.withColumn(out_col, hit).drop("_bf", *slot_cols)


def sql_bloom_words(table: str, key_expr: str, m_bits: int = 4096, k: int = 3) -> str:
    """DuckDB twin of bloom_words over ``table`` — rebuilds every word
    bit-for-bit."""
    _check_bloom(m_bits, k)
    probes = "\n      UNION ALL\n      ".join(
        f"SELECT {sql_slot(key_expr, d, m_bits)} AS slot FROM {table} "
        f"WHERE {key_expr} IS NOT NULL"  # bloom_words' NULL rule
        for d in range(k)
    )
    return (
        f"SELECT slot // {BLOOM_WORD_BITS} AS word, "
        f"bit_or(CAST(1 AS BIGINT) << CAST(slot % {BLOOM_WORD_BITS} AS INT)) AS bits "
        f"FROM (\n      {probes}\n    ) sl GROUP BY 1"
    )


def sql_bloom_hit_expr(words_cte: str, key_expr: str, m_bits: int = 4096, k: int = 3) -> str:
    """Boolean probe expression against a (word, bits) CTE named
    ``words_cte`` — correlated scalar lookups, one per hash."""
    _check_bloom(m_bits, k)
    terms = []
    for d in range(k):
        slot = sql_slot(key_expr, d, m_bits)
        terms.append(
            f"(coalesce((SELECT bits FROM {words_cte} bw WHERE bw.word = "
            f"({slot}) // {BLOOM_WORD_BITS}), 0) & "
            f"(CAST(1 AS BIGINT) << CAST(({slot}) % {BLOOM_WORD_BITS} AS INT))) <> 0"
        )
    return "(" + " AND ".join(terms) + ")"


# ---------------------------------------------------------------------------
# Bounded-bin histogram quantiles (the fourth sketch: approximate
# percentiles). exact percentile_disc/percentile_cont over 100 TB means
# a full sort or a giant QuantileSummaries state per group; a fixed
# [lo, hi) equi-width histogram caps per-group aggregation state at
# n_bins counters, merges by addition (partial agg / AQE friendly), and
# answers any quantile to within one bin width. Integer bin widths +
# exact integer cumulative counts + ONE shared interpolation spelling
# keep Spark and DuckDB bit-identical (the HLL estimator rule).
# The training-pipeline use: corpus-level quality thresholds ("drop the
# bottom quartile by token count") computed without sorting anything.
# ---------------------------------------------------------------------------


def _check_hist(lo: int, hi: int, n_bins: int) -> None:
    if not (isinstance(lo, int) and isinstance(hi, int)) or hi <= lo:
        raise ValueError(f"hist range must be integers with hi > lo, got [{lo}, {hi})")
    if n_bins < 1 or (hi - lo) % n_bins:
        raise ValueError(
            f"n_bins must divide (hi - lo) exactly so the bin width is an "
            f"integer (shared FP-free constant), got ({hi} - {lo}) / {n_bins}"
        )


def hist_bins(
    df: DataFrame,
    value_col: str,
    lo: int,
    hi: int,
    n_bins: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group..., bin, cnt) — at most n_bins rows per group whatever the
    row count; out-of-range values clamp into the edge bins (the sketch
    stays total). NULL values don't count (the aggregate-function
    rule)."""
    _check_hist(lo, hi, n_bins)
    w = (hi - lo) // n_bins
    gb = list(group_cols or [])
    v = F.col(value_col)
    b = F.floor((v.cast("double") - F.lit(float(lo))) / F.lit(float(w))).cast("long")
    b = F.greatest(F.lit(0).cast("long"), F.least(b, F.lit(n_bins - 1).cast("long")))
    return (
        df.where(v.isNotNull())
        .select(*gb, b.alias("bin"))
        .groupBy(*gb, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_quantile(
    bins: DataFrame,
    q: float,
    lo: int,
    hi: int,
    n_bins: int,
    group_cols: list[str] | None = None,
    out_col: str = "q_est",
) -> DataFrame:
    """Interpolated quantile (q in (0, 1]) per group from histogram
    rows: find the bin where the exact integer cumulative count crosses
    ceil(q*N), then place the estimate target-th-value-deep into that
    bin. All counts are exact ints; the interpolation is the one shared
    double expression, so both engines emit identical doubles. Accuracy
    is one bin width by construction (tested)."""
    _check_hist(lo, hi, n_bins)
    if not 0.0 < q <= 1.0:
        raise ValueError(f"q must be in (0, 1], got {q}")
    w = (hi - lo) // n_bins
    gb = list(group_cols or [])
    cumw = (
        Window.partitionBy(*gb).orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    totw = Window.partitionBy(*gb)
    cum = F.sum("cnt").over(cumw)
    n = F.sum("cnt").over(totw)
    target = F.ceil(F.lit(float(q)) * n.cast("double")).cast("long")
    t = (
        bins.withColumn("_cum", cum)
        .withColumn("_target", target)
        .withColumn("_before", F.col("_cum") - F.col("cnt"))
    )
    frac = (F.col("_target") - F.col("_before")).cast("double") / F.col("cnt").cast(
        "double"
    )
    est = F.lit(float(lo)) + F.lit(float(w)) * (F.col("bin").cast("double") + frac)
    return (
        t.filter((F.col("_cum") >= F.col("_target")) & (F.col("_before") < F.col("_target")))
        .select(*gb, est.alias(out_col))
    )


def sql_hist_quantile(
    table: str,
    value_expr: str,
    q: float,
    lo: int,
    hi: int,
    n_bins: int,
    group_exprs: list[str] | None = None,
    est_col: str = "q_est",
    where: str | None = None,
) -> str:
    """DuckDB twin of hist_bins |> hist_quantile over ``table`` —
    identical bins, identical exact cumulative counts, the identical
    interpolation spelling. Returns a SELECT of (group..., est_col)."""
    _check_hist(lo, hi, n_bins)
    if not 0.0 < q <= 1.0:
        raise ValueError(f"q must be in (0, 1], got {q}")
    w = (hi - lo) // n_bins
    gb = list(group_exprs or [])
    gsel = "".join(f"{g}, " for g in gb)
    part = ("PARTITION BY " + ", ".join(gb)) if gb else ""
    gby = "GROUP BY " + ", ".join([*gb, "bin"])
    wh = f"WHERE ({value_expr}) IS NOT NULL" + (f" AND ({where})" if where else "")
    return f"""
    SELECT {gsel}
           CAST({lo} AS DOUBLE) + CAST({w} AS DOUBLE) *
             (CAST(bin AS DOUBLE)
              + CAST(trg - (cum - cnt) AS DOUBLE) / CAST(cnt AS DOUBLE)) AS {est_col}
    FROM (
      SELECT {gsel}bin, cnt,
             SUM(cnt) OVER ({part} ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS cum,
             CAST(CEIL({q!r} * CAST(SUM(cnt) OVER ({part}) AS DOUBLE)) AS BIGINT) AS trg
      FROM (
        SELECT {gsel}
               GREATEST(CAST(0 AS BIGINT), LEAST(
                 CAST(FLOOR((CAST({value_expr} AS DOUBLE) - CAST({lo} AS DOUBLE))
                            / CAST({w} AS DOUBLE)) AS BIGINT),
                 CAST({n_bins - 1} AS BIGINT))) AS bin,
               COUNT(*) AS cnt
        FROM {table} {wh}
        {gby}
      ) hb
    ) c
    WHERE cum >= trg AND (cum - cnt) < trg
    """


def equi_depth_bins(
    df: DataFrame,
    v: str,
    k: int = 8,
    tiebreak: str | None = None,
) -> DataFrame:
    """Exact equi-depth histogram — the optimizer/profiling primitive
    (ANALYZE-style depth-balanced bins) kept exact: boundary i
    (1 ≤ i ≤ k) is the order statistic at rank ⌈i·N/k⌉ under the
    total order (v, tiebreak), and ``cum`` is the VALUE-based count of
    rows with v ≤ boundary — so duplicate-heavy values expose their
    tie mass (cum jumps past the ideal i·N/k) instead of being
    silently split, which is exactly what a cardinality estimator
    needs to know.  Emits (i, boundary, cum), k rows.

    Plan: one (v, tiebreak) row_number window for the rank picks + one
    broadcast of the k boundaries back over an aggregated
    distinct-value frame for the cumulative counts — the fact table is
    scanned twice but shuffled as (value, count) rows only.

    Scale: the window orders facts once (the one fact-width shuffle);
    the cum join runs on the distinct-value table (domain-sized, the
    roc_auc discipline)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    order = [F.col(v)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.orderBy(*order)
    ranked = df.select(
        F.col(v).alias("_v"), F.row_number().over(w).alias("_rn")
    )
    n = df.count()
    ranks = [(i, -(-i * n // k)) for i in range(1, k + 1)]
    rk = df.sparkSession.createDataFrame(ranks, "i long, _rn long")
    bounds = ranked.join(F.broadcast(rk), "_rn").select(
        "i", F.col("_v").alias("boundary")
    )
    dist = df.groupBy(F.col(v).alias("_dv")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    cum = (
        dist.join(
            F.broadcast(bounds), F.col("_dv") <= F.col("boundary"), "inner"
        )
        .groupBy("i", "boundary")
        .agg(F.sum("_c").cast("long").alias("cum"))
    )
    return cum.orderBy("i")
