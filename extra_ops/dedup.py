"""Deduplication operators for large-scale training-data pipelines.

Five tiers, cheapest first — all set-based, no driver-side loops:

- exact:          hash-groupBy on normalized content (one shuffle)
- ngram_jaccard:  exact word-shingle Jaccard via a self-join on shared
                  shingles (SQL-expressible, the oracle-checkable tier)
- minhash_lsh:    MinHash signatures (xxhash64 + k universal-hash mins,
                  all JVM-side aggregates) banded into LSH buckets;
                  candidate pairs verified with exact Jaccard
- simhash:        64-bit SimHash from token hashes; near-dups = small
                  Hamming distance within band buckets
- embedding:      cosine near-dup over embedding vectors (see
                  operators/similarity.py for the ANN machinery)

Scale notes: every tier is (map -> one-or-two shuffles -> map). The
shingle self-join explodes on hot shingles; ngram_jaccard_pairs caps
shingle document-frequency (stop-shingle removal) exactly like
production near-dup pipelines drop stopwords.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# deterministic universal-hash parameters for MinHash: h_i(x) = (a_i*x + b_i) mod p.
# p = 2^31 - 1 (Mersenne) keeps every product under 2^62, so the whole
# chain stays in exact JVM long arithmetic (no 128-bit mulmod needed).
MINHASH_PRIME = (1 << 31) - 1

#: default stop-shingle cap for the SCALE tier (minhash_lsh_pairs): any
#: shingle shared by more than this many documents is dropped before
#: signatures/joins. At 100 TB a single hot shingle ("click here to")
#: otherwise produces df^2 join rows; above ~10k docs a shingle carries
#: no near-dup signal anyway. The EXACT tier (ngram_jaccard_pairs)
#: defaults to no cap — a function documented as exact Jaccard must not
#: silently truncate; arm the cap there explicitly for large corpora.
DEFAULT_MAX_SHINGLE_DF = 10_000


def h64_md5(col: Column) -> Column:
    """Shared 64-bit hash usable by BOTH engines: the first 8 bytes of
    md5 (big-endian) as a signed int64. DuckDB twin: :func:`sql_h64_md5`.
    Used where the oracle must reproduce hash values exactly (xxhash64
    has no DuckDB implementation)."""
    hx = F.md5(col)
    hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def sql_h64_md5(expr: str) -> str:
    u = f"(('0x' || substr(md5({expr}), 1, 16))::UBIGINT)"
    return (
        f"(CASE WHEN {u} >= 9223372036854775808 "
        f"THEN (CAST({u} AS HUGEINT) - 18446744073709551616)::BIGINT "
        f"ELSE {u}::BIGINT END)"
    )


def _hash_params(num: int, seed: int = 7) -> list[tuple[int, int]]:
    import numpy as np

    rng = np.random.default_rng(seed)
    return [
        (int(rng.integers(1, MINHASH_PRIME)), int(rng.integers(0, MINHASH_PRIME)))
        for _ in range(num)
    ]


@functools.lru_cache(maxsize=None)
def _band_agg_cols(num_hashes: int, bands: int, seed: int) -> tuple[Column, ...]:
    """minhash_lsh_pairs' band-key aggregate Columns, built once per
    (num_hashes, bands, seed): band keys computed INSIDE the aggregate
    (xxhash64 over the row's ``rows`` min-states) so the 32 sig columns
    never materialize through a projection and the post-agg plan is
    bands-wide, not sigs-wide. Identical buckets either way (same
    aggregate state); interleaved min-of-3 A/B
    (tools/ab_minhash_bands.py) measures only ~1.04x at fixture scale —
    the win is plan width, which matters at real signature widths.
    Cached: pure expression trees over the fixed "h" column whose
    construction is ~150 py4j round-trips of build latency."""
    rows = num_hashes // bands
    params = _hash_params(num_hashes, seed)
    hp = F.col("h") % MINHASH_PRIME

    def sig(i: int) -> Column:
        return F.min(
            (F.lit(params[i][0]) * hp + F.lit(params[i][1])) % MINHASH_PRIME
        )

    return tuple(
        F.xxhash64(*[sig(b * rows + r) for r in range(rows)], F.lit(b)).alias(
            f"band_{b}"
        )
        for b in range(bands)
    )


def exact_duplicates(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Groups of byte-identical content: (content_hash, n_dups, keeper_id).
    One hash-aggregate; survivors = min id per group (deterministic)."""
    return (
        df.groupBy(F.xxhash64(F.col(content_col)).alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(F.col(id_col)).alias("keeper_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


def word_shingle_array(text: Column, n: int = 3) -> Column:
    """array<string> of sliding word n-grams (clamped tails) — THE
    single definition of the shingle window shared by word_shingles
    (Jaccard/MinHash) and text.dup_trigram_frac (repetition signal);
    extracting it keeps the three spellings (this, the Python-UDF hot
    path, the DuckDB sql_dup_trigrams twin) from drifting."""
    toks = F.split(F.trim(text), r"\s+")
    # shingle i = tokens[i..i+n) joined; slide via transform over indices
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )


def word_shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) distinct word n-grams — the unit of Jaccard
    similarity. Built with JVM array functions (no UDF).

    PRECONDITION: ``id_col`` is unique per row (one text per doc id).
    Dedup happens map-side per ROW (array_distinct); duplicated id rows
    would inflate sizes/intersections in every downstream Jaccard."""
    shingles = word_shingle_array(F.col(text_col), n)
    # per-doc dedup happens MAP-SIDE with array_distinct (each doc's
    # shingles live in one row), so no (id, shingle) distinct shuffle
    # exists — doc ids are unique, hence this IS the distinct relation
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(shingles)).alias("shingle"),
        )
        .filter(F.length("shingle") > 0)
    )


def _drop_hot_shingles(sh: DataFrame, max_shingle_df: int | None) -> DataFrame:
    """Stop-shingle removal: drop shingles whose document frequency
    exceeds the cap (the skew guard for the shingle self-join)."""
    if max_shingle_df is None:
        return sh
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_shingle_df)
        .select("shingle")
    )
    return sh.join(hot, "shingle", "left_anti")


def jaccard_from_shingles(sh: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard pairs from a prepared (id, shingle) relation:
    |A ∩ B| via self-join on shared shingles; |A ∪ B| = |A|+|B|-∩."""
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "sz_a", "sz_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard >= t).

    ``max_shingle_df`` (default None = exact): pass a cap to drop
    shingles shared by more than that many docs (stop-shingles) — the
    skew guard for the self-join at scale. With a cap the result is no
    longer exact Jaccard (hot shingles are excluded from both ∩ and ∪);
    the scale tier that arms it by default is minhash_lsh_pairs."""
    sh = _drop_hot_shingles(word_shingles(df, text_col, id_col, n), max_shingle_df)
    return jaccard_from_shingles(sh, threshold)


def _signatures_from_shingles(
    sh: DataFrame, num_hashes: int = 32, seed: int = 7
) -> DataFrame:
    """(id, sig_0..sig_{k-1}) MinHash signature from a prepared (id,
    shingle) relation, entirely JVM-side: shingle -> xxhash64 -> k
    universal hashes -> min per doc. P(sig_i(A)==sig_i(B)) = jaccard."""
    # xxhash64 is signed; shift into [0, 2^63) so the mod stays positive
    h = sh.withColumn("h", F.abs(F.xxhash64(F.col("shingle"))))
    params = _hash_params(num_hashes, seed)
    # h' = h mod p < 2^31 and a < 2^31, so a*h' + b < 2^62: exact longs
    hp = F.col("h") % MINHASH_PRIME
    aggs = [
        F.min((F.lit(ai) * hp + F.lit(bi)) % MINHASH_PRIME).alias(f"sig_{i}")
        for i, (ai, bi) in enumerate(params)
    ]
    return h.groupBy(F.col("id")).agg(*aggs)


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
    seed: int = 7,
) -> DataFrame:
    return _signatures_from_shingles(
        word_shingles(df, text_col, id_col, n), num_hashes, seed
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 7,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    verify: str = "array",
) -> DataFrame:
    """MinHash + LSH banding: docs sharing any band bucket become
    candidate pairs; candidates verified with EXACT shingle Jaccard so
    the output has no false positives (standard two-stage design).

    Shuffle-lean shape (the whole query is ~6 exchanges):

    1. ONE per-doc aggregate computes the MinHash signature AND (in the
       default ``verify='array'`` mode) carries the doc's distinct
       shingle set (the shuffle is O(corpus tokens) either way, so
       carrying the set costs no extra shuffle);
    2. banding buckets self-join into candidate pairs (the two sides
       are the same plan — Spark reuses the exchange);
    3. the exact verify is candidate-only. ``verify='array'`` computes
       |A ∩ B| via array_intersect on the carried sets — fewest jobs,
       fastest at bench scale — but the per-doc set arrays are the
       fattest aggregation state in the engine (O(doc tokens) per
       group, unspillable per-row). ``verify='join'`` is the bounded-
       state scale tier: no set is ever collected; |A ∩ B| comes from
       a candidate-restricted (id, shingle) equi-join + count, whose
       sort-merge state is O(1) per row and spills gracefully. Both
       modes return the identical pair set (tested); neither contains
       a shingle-level self-join."""
    if verify not in ("array", "join"):
        raise ValueError(f"verify must be 'array' or 'join', got {verify!r}")
    sh = _drop_hot_shingles(word_shingles(df, text_col, id_col, n), max_shingle_df)
    h = sh.withColumn("h", F.abs(F.xxhash64(F.col("shingle"))))
    band_aggs = _band_agg_cols(num_hashes, bands, seed)
    carry = (
        [F.collect_set("shingle").alias("_shset")] if verify == "array" else []
    )
    per_doc = h.groupBy(F.col("id")).agg(
        *band_aggs, *carry, F.count(F.lit(1)).alias("_sz")
    ).persist()
    stacked = per_doc.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"band_{b}").alias("bucket"))
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    a = stacked.select(F.col("id").alias("id_a"), "band", "bucket")
    b = stacked.select(F.col("id").alias("id_b"), "band", "bucket")
    cands = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    if verify == "join":
        # bounded-state exact verify: restrict shingles to candidate
        # docs, then count common shingles per pair with a plain
        # equi-join — no arrays anywhere, everything spillable.
        cand_ids = cands.select(F.col("id_a").alias("id")).unionByName(
            cands.select(F.col("id_b").alias("id"))
        ).distinct()
        shc = sh.join(cand_ids, "id", "left_semi")
        n_common = (
            cands.join(shc.select(F.col("id").alias("id_a"), "shingle"), "id_a")
            .join(
                shc.select(F.col("id").alias("id_b"), "shingle"),
                ["id_b", "shingle"],
            )
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        sizes = per_doc.select("id", "_sz")
        return (
            n_common.join(
                sizes.select(F.col("id").alias("id_a"), F.col("_sz").alias("sz_a")),
                "id_a",
            )
            .join(
                sizes.select(F.col("id").alias("id_b"), F.col("_sz").alias("sz_b")),
                "id_b",
            )
            .withColumn(
                "jaccard",
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select(
                "id_a",
                "id_b",
                F.col("n_common").cast("long").alias("n_common"),
                F.col("sz_a").cast("long").alias("sz_a"),
                F.col("sz_b").cast("long").alias("sz_b"),
                "jaccard",
            )
        )

    slim = per_doc.select("id", "_shset", "_sz")
    return (
        cands.join(
            slim.select(
                F.col("id").alias("id_a"),
                F.col("_shset").alias("_sa"),
                F.col("_sz").alias("sz_a"),
            ),
            "id_a",
        )
        .join(
            slim.select(
                F.col("id").alias("id_b"),
                F.col("_shset").alias("_sb"),
                F.col("_sz").alias("sz_b"),
            ),
            "id_b",
        )
        .withColumn("n_common", F.size(F.array_intersect("_sa", "_sb")).cast("long"))
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            "id_a",
            "id_b",
            "n_common",
            F.col("sz_a").cast("long").alias("sz_a"),
            F.col("sz_b").cast("long").alias("sz_b"),
            "jaccard",
        )
    )


def simhash64(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, simhash) — 64-bit SimHash over word tokens, set-based:
    explode tokens -> h64_md5 -> per-bit ±1 sums -> sign bits packed.
    Bit b of the final hash = 1 iff sum over tokens of (bit b set ? +1 : -1) > 0.
    Token hash is the md5-derived shared hash so the DuckDB oracle can
    reproduce the simhash (and therefore the pair set) bit-for-bit.

    Shape: the bit dimension is EXPLODED into rows (token x 64) and
    reduced by two small hash aggs — (id, b) ±1 sums, then a bit_or
    pack — instead of one 64-column aggregate. The wide-agg variant
    carried 128 aggregate expressions through partial+final codegen
    and cost ~2 s of fixed plan/compile overhead per run (measured;
    4-5x slower than this form at identical output). Shuffle bytes are
    the same (64 rows/doc here vs 1 row x 64 columns there), map-side
    combine applies to both aggs, and `shiftright(h, b) & 1` picks bit
    b regardless of sign-fill, so arithmetic shift == unsigned here."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).withColumn("h", h64_md5(F.col("tok")))
    bits = toks.select(
        "id", "h", F.explode(F.sequence(F.lit(0), F.lit(63))).alias("b")
    )
    pm = F.when(F.expr("(shiftright(h, b) & 1) = 1"), 1).otherwise(-1)
    sums = bits.groupBy("id", "b").agg(F.sum(pm).alias("s"))
    # bit 63 lands as min-long via shiftleft's wraparound — exact pack,
    # and bit_or (not sum) keeps the combine overflow-free
    term = F.when(
        F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), b)")
    ).otherwise(F.lit(0).cast("long"))
    return sums.groupBy("id").agg(F.bit_or(term).alias("simhash"))


def dedup_components(pairs: DataFrame, max_iters: int = 50) -> DataFrame:
    """Connected components over a near-dup pair graph -> (id, keeper_id)
    with keeper = min id of the component — the step that turns pair
    lists (from any dedup tier) into actual keep/drop decisions.

    Min-label propagation: every node starts labelled with itself; each
    round every node takes the min of its own and its neighbours'
    labels. Converges in O(component diameter) rounds — near-dup
    clusters are shallow (dup cliques, short chains), so a handful of
    joins; each round is one shuffle join + one aggregate, no driver
    data. Convergence detected with a sum-of-labels signature (labels
    only decrease monotonically, so an unchanged sum IS a fixpoint).
    Raises RuntimeError if ``max_iters`` rounds pass without reaching
    the fixpoint (a silent partial answer would split one true
    component across several keepers)."""
    edges = pairs.select("id_a", "id_b")
    und = edges.unionByName(
        edges.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).persist()
    labels = (
        und.select(F.col("id_a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    prev_sig = None
    converged = False
    for _ in range(max_iters):
        nbr_min = (
            und.join(
                labels.select(F.col("id").alias("id_b"), F.col("label").alias("_nl")),
                "id_b",
            )
            .groupBy(F.col("id_a").alias("id"))
            .agg(F.min("_nl").alias("_nl"))
        )
        labels = (
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("_nl"), F.col("label"))).alias(
                    "label"
                ),
            )
        ).localCheckpoint(eager=True)
        sig = labels.agg(F.sum("label")).collect()[0][0]
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            f"dedup_components did not converge in {max_iters} rounds "
            "(component diameter exceeds max_iters); raise max_iters — "
            "a partial answer would assign several keepers to one "
            "true component"
        )
    return labels.select("id", F.col("label").alias("keeper_id"))


def sql_simhash_pairs(fixture_sql: str, max_hamming: int = 3) -> str:
    """DuckDB twin of simhash64 + simhash_near_pairs, over a fixture CTE
    body producing (doc_id, text). The banding in simhash_near_pairs is
    a lossless pigeonhole prefilter, so the operator's SPEC is exactly
    'all pairs with hamming(simhash) <= budget' — which the oracle
    computes directly (all-pairs is affordable at oracle scale). The
    simhash itself is reproduced bit-for-bit via the shared md5 hash."""
    u = "('0x' || substr(md5(tok), 1, 16))::UBIGINT"
    bit_sums = ",\n           ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(64)
    )
    pack = " + ".join(f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(64))
    return f"""
    WITH fx AS ({fixture_sql}),
    toks AS (
      SELECT doc_id AS id, unnest(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) AS tok
      FROM fx
    ),
    th AS (SELECT id, {u} AS h FROM toks),
    bits AS (SELECT id, {bit_sums} FROM th GROUP BY id),
    sg AS (SELECT id, CAST(({pack}) AS UBIGINT) AS sh FROM bits)
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
    FROM sg a JOIN sg b ON a.id < b.id
    WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
    ORDER BY id_a, id_b
    """


def hamming_near_pairs(
    df: DataFrame, hash_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by Hamming distance over ANY 64-bit hash column
    (SimHash, image perceptual hash, ...), found via the standard
    block-permutation trick: split the 64-bit hash into
    (max_hamming+1) bands — any pair within max_hamming matches exactly
    on >= 1 band (pigeonhole), so banding is a lossless prefilter and
    the result is EXACTLY the <=max_hamming pair set, never all-pairs.
    Returns (id_a, id_b, hamming) with id_a < id_b."""
    sh = df.select(F.col(id_col).alias("id"), F.col(hash_col).alias("simhash"))
    nb = max_hamming + 1
    width = 64 // nb

    def band_key(i: int) -> Column:
        shifted = F.shiftrightunsigned(F.col("simhash"), i * width)
        if width == 64:  # max_hamming=0: one band, the full hash (the
            return shifted  # 2^64-1 mask would overflow a long literal)
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    bands = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("band"), band_key(i).alias("key"))
                for i in range(nb)
            ])
        ).alias("bk"),
    ).select("id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = bands.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "band", "key")
    b = bands.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "band", "key")
    cands = (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    return cands.withColumn(
        "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    ).filter(F.col("hamming") <= max_hamming).select("id_a", "id_b", "hamming")


def simhash_near_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance (text instantiation
    of ``hamming_near_pairs``)."""
    return hamming_near_pairs(
        simhash64(df, text_col, id_col), "simhash", "id", max_hamming
    )


def dedup_keepers_by_score(
    pairs: DataFrame, scores: DataFrame, max_iters: int = 50
) -> DataFrame:
    """(id, keeper_id) with keeper = the HIGHEST-SCORE member of the
    id's near-dup component (ties -> min id) — the quality-weighted
    keep/drop policy a pretraining pipeline actually wants (keep the
    best-quality duplicate, not the lowest id).

    Components come from ``dedup_components`` (min-label propagation);
    keeper selection is ONE window argmax over (component, score) plus
    a broadcast-size join back — no extra fixpoint. ``scores``:
    (id, score)."""
    comp = dedup_components(pairs, max_iters).select(
        "id", F.col("keeper_id").alias("_comp")
    )
    # LEFT join: a member (or a whole component) without a score row
    # must not vanish from the mapping — unscored members sort last
    # (desc_nulls_last) and a fully-unscored component falls back to
    # keeper = min id, matching dedup_components
    j = comp.join(scores.select("id", "score"), "id", "left")
    w = Window.partitionBy("_comp").orderBy(
        F.col("score").desc_nulls_last(), F.col("id")
    )
    keepers = (
        j.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col("_comp"), F.col("id").alias("keeper_id"))
    )
    return comp.join(keepers, "_comp").select("id", "keeper_id")


# ---------------------------------------------------------------------------
# substring-level dedup: winnowing fingerprints (MOSS scheme)
# ---------------------------------------------------------------------------
# Winnowing (Schleimer, Wilkerson, Aiken: "Winnowing: Local Algorithms
# for Document Fingerprinting", SIGMOD 2003; the MOSS selection rule)
# picks, from every window of `w` consecutive character-k-gram hashes,
# the RIGHTMOST minimal hash. Any shared substring of length
# >= w + k - 1 is then guaranteed to share a selected fingerprint —
# the property that makes it the standard substring-level near-dup
# detector for training corpora (cf. Lee et al., "Deduplicating
# Training Data Makes Language Models Better").
#
# Two equivalent spellings, asserted equal in tests: a pure HOF
# expression form (the ORACLE-grade definition — bit-identical in
# DuckDB list_* spelling; Spark runs HOF lambdas interpreted, so this
# form is for oracles/cross-checks, not the hot path) and an
# Arrow-batched numpy kernel (the hot path — see the kernel section
# below). The k-gram rolling hash is a Horner fold over code points
# mod 2^31-1, so every intermediate fits comfortably in int64 under
# all three engines' arithmetic (max step value < 2^31 * 257 + 127 <
# 2^40) — no overflow semantics in play, ANSI-safe.

WINNOW_BASE = 257
WINNOW_MOD = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
WINNOW_PACK = 2_147_483_648  # 2^31: packed = pos * PACK + hash, injective


def _winnow_horner(text: str, i: str, k: int) -> str:
    """Engine-neutral Horner fold of the k-gram starting at 1-based
    position `i`: h = fold((h * B + cp) mod P) over ascii code points.
    Valid Spark SQL and DuckDB SQL verbatim."""
    h = f"CAST(ascii(substr({text}, {i}, 1)) AS BIGINT)"
    for j in range(1, k):
        h = (
            f"(({h} * {WINNOW_BASE} + ascii(substr({text}, {i} + {j}, 1)))"
            f" % {WINNOW_MOD})"
        )
    return h


def winnow_hashes_sql(text: str, k: int = 5, *, dialect: str = "spark") -> str:
    """array<bigint> of k-gram rolling hashes over `text` (empty when
    the text is shorter than k). The Spark spelling guards sequence()
    against its descending-range behaviour; generate_series is already
    empty-safe but keeps the same guard for symmetry."""
    horner = _winnow_horner(text, "i", k)
    n = f"length({text}) - {k} + 1"
    if dialect == "spark":
        empty = "CAST(array() AS ARRAY<BIGINT>)"
        body = f"transform(sequence(1, {n}), i -> {horner})"
    else:
        empty = "CAST([] AS BIGINT[])"
        body = f"list_transform(generate_series(1, {n}), i -> {horner})"
    return f"CASE WHEN length({text}) < {k} THEN {empty} ELSE {body} END"


def winnow_fps_sql(hashes: str, w: int = 4, *, dialect: str = "spark") -> str:
    """Distinct packed fingerprints (pos * 2^31 + hash) selected by the
    MOSS rule from a precomputed hash-array column: per window starting
    at p, take the rightmost position of the window minimum
    (p + len - position_in_reversed_slice). A text shorter than w+k-1
    still yields one fingerprint (the clamped single window) — the
    SIGMOD-paper guarantee that every document with >= 1 k-gram gets
    >= 1 fingerprint. Keep `hashes` a real column: inlining the hash
    array here would recompute it four times per window."""
    if dialect == "spark":
        size_ = f"size({hashes})"
        slice_ = f"slice({hashes}, p, {w})"
        min_ = f"array_min({slice_})"
        pos_ = f"array_position(reverse({slice_}), {min_})"
        distinct, xform, seq = "array_distinct", "transform", "sequence"
        empty = "CAST(array() AS ARRAY<BIGINT>)"
    else:
        size_ = f"len({hashes})"
        slice_ = f"list_slice({hashes}, p, p + {w} - 1)"
        min_ = f"list_aggregate({slice_}, 'min')"
        pos_ = f"list_position(list_reverse({slice_}), {min_})"
        distinct, xform, seq = "list_distinct", "list_transform", "generate_series"
        empty = "CAST([] AS BIGINT[])"
    lenp = f"least({w}, {size_} - p + 1)"
    packed = f"(CAST(p + {lenp} - {pos_} AS BIGINT) * {WINNOW_PACK} + {min_})"
    nw = f"greatest({size_} - {w} + 1, 1)"
    body = f"{distinct}({xform}({seq}(1, {nw}), p -> {packed}))"
    return f"CASE WHEN {size_} = 0 THEN {empty} ELSE {body} END"


def with_winnow_fps(
    df: DataFrame, text_col: str, out_col: str, k: int = 5, w: int = 4
) -> DataFrame:
    """Add `out_col` = array<bigint> of packed winnowing fingerprints.
    Two chained projections (hash array, then selection) that collapse
    into one codegen stage — the hash array is materialized once per
    row instead of once per window."""
    tmp = f"__wh_{out_col}"
    return (
        df.withColumn(tmp, F.expr(winnow_hashes_sql(text_col, k)))
        .withColumn(out_col, F.expr(winnow_fps_sql(tmp, w)))
        .drop(tmp)
    )


def winnow_fingerprints(
    df: DataFrame, text_col: str, id_col: str, k: int = 5, w: int = 4
) -> DataFrame:
    """(id, pos, fp) — the selected fingerprints of each document,
    exploded. pos is the 1-based k-gram offset the winnow selected;
    fp the k-gram hash at that offset. Uses the Arrow-batched numpy
    kernel (winnow_fps_udf); the HOF spelling is the tested twin."""
    packed = df.select(
        F.col(id_col).alias("id"),
        winnow_fps_udf(k, w)(F.col(text_col)).alias("_fps"),
    )
    return packed.select(
        "id", F.explode("_fps").alias("_p")
    ).select(
        "id",
        F.expr(f"_p DIV {WINNOW_PACK}").alias("pos"),
        (F.col("_p") % WINNOW_PACK).alias("fp"),
    )


def winnow_near_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    w: int = 4,
    min_common: int = 2,
    max_fp_df: int | None = None,
) -> DataFrame:
    """(id_a, id_b, n_common) — document pairs sharing >= min_common
    winnowing fingerprint VALUES (position-independent, the MOSS match
    rule). Same scale shape as the shingle Jaccard join: per-doc
    distinct happens MAP-SIDE (array_distinct over the hash values
    before the explode — doc ids are unique), so the only shuffles are
    the fp-bucket self-join; `max_fp_df` is the stop-fingerprint skew
    cap (drop fps shared by more than that many docs — boilerplate
    headers/footers — exactly like `_drop_hot_shingles`)."""
    packed = df.select(
        F.col(id_col).alias("id"),
        winnow_fps_udf(k, w)(F.col(text_col)).alias("_fps"),
    )
    # stripping pos leaves a SMALL array (~n/w entries) — the HOF here
    # costs nothing next to the kernelized selection above
    fps = packed.select(
        "id",
        F.explode(
            F.expr(f"array_distinct(transform(_fps, x -> x % {WINNOW_PACK}))")
        ).alias("fp"),
    )
    if max_fp_df is not None:
        hot = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_fp_df)
            .select("fp")
        )
        fps = fps.join(hot, "fp", "left_anti")
    a = fps.select(F.col("id").alias("id_a"), "fp")
    b = fps.select(F.col("id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )


# --- vectorized winnowing kernel -------------------------------------------
# The HOF spelling above is the ORACLE-grade definition (bit-exact in
# DuckDB list_* form, and runnable in Spark for cross-checks), but
# Spark evaluates higher-order-function lambdas interpreted, per
# element — measured ~25 ms/doc on 550-char docs (3 slice
# materializations per window). The hot path below is the identical
# selection as ONE Arrow-batched numpy kernel: the rolling hash is
# k-1 vector ops over the whole batch matrix, the window min is w-1
# np.minimum passes over shifted views, the rightmost-min position is
# w masked assignments — no per-document Python. Both paths are
# asserted equal in tests; the text_features gate row pins the kernel
# against the DuckDB HOF twin per row.

_W_BIG = 1 << 62  # sentinel > any packed fingerprint

#: per-matrix element budget for one kernel chunk (int64 cells). The
#: kernel pads every row to the chunk's longest document, so an
#: unbucketed 10k-row Arrow batch containing one multi-MB document
#: would allocate rows x maxlen cells across ~7 matrices -> executor
#: OOM. Chunking by SORTED length keeps padding waste and peak memory
#: bounded (~16 MB/matrix here) while preserving full vectorization —
#: a single huge document simply forms its own small chunk.
_W_CHUNK_BUDGET = 2_000_000


def _winnow_chunks(texts, k: int, w: int):
    """Yield (orig_indices, sorted_packed, keep) over length-bucketed
    chunks of the batch; consumers scatter results back by index."""
    n = len(texts)
    if n == 0:
        return
    enc = [(t or "").encode("utf-32-le") for t in texts]
    lens = np.fromiter((len(e) // 4 for e in enc), np.int64, n)
    order = np.argsort(lens, kind="stable")
    start = 0
    while start < n:
        end = start + 1
        while end < n and (end - start + 1) * max(int(lens[order[end]]), 1) <= _W_CHUNK_BUDGET:
            end += 1
        idx = order[start:end]
        S, keep = _winnow_matrix([enc[i] for i in idx], lens[idx], k, w)
        yield idx, S, keep
        start = end


def _winnow_matrix(enc, lens, k: int, w: int):
    """(sorted_packed, keep): per-row sorted packed fingerprints and a
    distinct+valid mask, vectorized across the chunk. utf-32 decode
    gives the code-point matrix without a per-char Python loop (the
    ascii() twin semantics: one lane per code point)."""
    n = len(enc)
    maxlen = int(lens.max())
    if maxlen < k:
        return np.empty((n, 0), np.int64), np.empty((n, 0), bool)
    C = np.zeros((n, maxlen), np.int64)
    for i, e in enumerate(enc):
        if e:
            C[i, : lens[i]] = np.frombuffer(e, np.uint32).astype(np.int64)
    W0 = maxlen - k + 1
    h = C[:, :W0].copy()
    for j in range(1, k):
        h = (h * WINNOW_BASE + C[:, j : j + W0]) % WINNOW_MOD
    nh = np.maximum(lens - k + 1, 0)
    pos = np.arange(W0)
    h[pos[None, :] >= nh[:, None]] = _W_BIG
    Hp = np.full((n, W0 + w - 1), _W_BIG, np.int64)
    Hp[:, :W0] = h
    M = Hp[:, :W0].copy()
    for j in range(1, w):
        np.minimum(M, Hp[:, j : j + W0], out=M)
    # rightmost position of the window min (MOSS tie rule)
    J = np.zeros((n, W0), np.int64)
    chosen = np.zeros((n, W0), bool)
    for j in range(w - 1, -1, -1):
        eq = (Hp[:, j : j + W0] == M) & ~chosen
        J[eq] = j
        chosen |= eq
    packed = (pos[None, :] + J + 1) * WINNOW_PACK + M
    n_windows = np.where(nh > 0, np.maximum(nh - w + 1, 1), 0)
    packed[pos[None, :] >= n_windows[:, None]] = _W_BIG
    S = np.sort(packed, axis=1)
    keep = S < _W_BIG
    keep[:, 1:] &= S[:, 1:] != S[:, :-1]
    return S, keep


def winnow_stats_udf(k: int = 5, w: int = 4):
    """pandas_udf: text -> struct(n_winnow_fp, winnow_fp_sum). Lives in
    the SAME ArrowEvalPython stage as any sibling pandas UDF in the
    projection (Spark coalesces same-eval-type Python UDFs), so
    text_features keeps its single Arrow hop."""

    @F.pandas_udf("n_winnow_fp bigint, winnow_fp_sum bigint")
    def stats(texts: pd.Series) -> pd.DataFrame:
        n_fp = np.zeros(len(texts), np.int64)
        fp_sum = np.zeros(len(texts), np.int64)
        for idx, S, keep in _winnow_chunks(texts, k, w):
            if S.shape[1]:
                n_fp[idx] = keep.sum(axis=1)
                fp_sum[idx] = np.where(keep, S, 0).sum(axis=1)
        return pd.DataFrame({"n_winnow_fp": n_fp, "winnow_fp_sum": fp_sum})

    return stats


def winnow_fps_udf(k: int = 5, w: int = 4):
    """pandas_udf: text -> array<bigint> of distinct packed
    fingerprints (sorted) — the batch kernel behind
    winnow_fingerprints / winnow_near_pairs."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def fps(texts: pd.Series) -> pd.Series:
        out: list = [[]] * len(texts)
        for idx, S, keep in _winnow_chunks(texts, k, w):
            for r, i in enumerate(idx):
                out[i] = S[r, keep[r]].tolist()
        return pd.Series(out)

    return fps


# ---------------------------------------------------------------------------
# bounded edit-distance similarity join (q-gram count filter + verify)
# ---------------------------------------------------------------------------

def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_dist: int = 2,
    q: int = 3,
    max_gram_df: int | None = None,
) -> DataFrame:
    """All pairs within Levenshtein distance ``max_dist`` — the fuzzy
    near-dup tier between exact dedup (hash) and Jaccard/MinHash
    (token sets): caption variants, OCR noise, single-typo mirrors.

    NEVER all-pairs.  Candidates come from the classic q-gram count
    lower bound (Gravano et al., VLDB'01 — public): one edit operation
    destroys at most q positional q-grams, so

        ed(s1, s2) <= d  =>  |G(s1) ∩ G(s2)|_multiset
                             >= max(len1, len2) - (q-1) - q*d

    Multiset semantics are exact: each doc's grams aggregate to
    (gram, count) and re-explode to (gram, k) occurrence rows, so the
    equi-join on (gram, k) yields exactly sum(min(c1, c2)) matches per
    pair.  The bound is usable (>= 1) whenever the LONGER string has
    len >= L0 = q*(d+1); shorter-vs-shorter pairs (both len < L0, a
    CONSTANT-bounded pool) go through a complete length-band join
    instead (the right side fans out to its len±d keys — any true pair
    shares exactly one key).  Together the two paths are COMPLETE:
    every true pair is generated by exactly one path (the length
    filter |len1-len2| <= d makes a short-long true pair impossible
    across the L0 boundary beyond the band the gram path covers —
    max >= L0 routes to grams, and there min >= L0-d >= q so both
    sides have grams).

    Verification is the built-in JVM ``levenshtein`` (whole-stage
    codegen) on the candidate pairs only; the emitted ``edist`` is the
    exact distance.  ``max_gram_df`` (default None = exact/complete)
    drops grams whose document frequency exceeds the cap — the
    ngram_jaccard ``max_shingle_df`` skew valve for the 100 TB tier,
    where a stop-gram ("the", "ing") would otherwise quadratically
    dominate the candidate join; capping trades completeness for a
    bounded join, exactly like every prefix-filter system in
    production.

    Plan: one fact-width explode + hash agg (gram counts), one
    self-equi-join on (gram, k), one pair-count agg, two narrow id
    joins back to texts, one codegen verify.  Returns (id_a, id_b,
    edist) with id_a < id_b."""
    if max_dist < 1:
        raise ValueError(f"max_dist must be >= 1 (got {max_dist}); use "
                         "exact_duplicates for distance 0")
    if q < 2:
        raise ValueError(f"q must be >= 2: {q}")
    d, L0 = max_dist, q * (max_dist + 1)
    t, i = text_col, id_col
    base = (
        df.filter(F.col(t).isNotNull())
        .select(F.col(i).alias("_id"), F.col(t).alias("_t"),
                F.length(t).alias("_len"))
    )

    # --- gram path: pairs whose longer member has _len >= L0 ---------
    grams = base.select(
        "_id", "_len",
        F.explode(
            F.expr(
                f"CASE WHEN length(_t) >= {q} THEN "
                f"transform(sequence(1, length(_t) - {q - 1}), "
                f"p -> substring(_t, p, {q})) "
                f"ELSE CAST(array() AS array<string>) END"
            )
        ).alias("_g"),
    )
    gc = grams.groupBy("_id", "_len", "_g").agg(F.count(F.lit(1)).alias("_c"))
    if max_gram_df is not None:
        hot = (
            gc.groupBy("_g").agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_gram_df).select("_g")
        )
        gc = gc.join(F.broadcast(hot), "_g", "left_anti")
    sh = gc.select(
        "_id", "_len", "_g", F.explode(F.expr("sequence(1, _c)")).alias("_k")
    )
    a, b = sh.alias("a"), sh.alias("b")
    gram_cand = (
        a.join(
            b,
            (F.col("a._g") == F.col("b._g"))
            & (F.col("a._k") == F.col("b._k"))
            & (F.col("a._id") < F.col("b._id"))
            & (F.abs(F.col("a._len") - F.col("b._len")) <= d)
            & (F.greatest(F.col("a._len"), F.col("b._len")) >= L0),
        )
        .groupBy(
            F.col("a._id").alias("_ida"), F.col("b._id").alias("_idb"),
            F.col("a._len").alias("_la"), F.col("b._len").alias("_lb"),
        )
        .agg(F.count(F.lit(1)).alias("_nc"))
        .filter(
            F.col("_nc")
            >= F.greatest("_la", "_lb") - F.lit(q - 1) - F.lit(q * d)
        )
        .select("_ida", "_idb")
    )

    # --- short path: both members have _len <= L0 - 1 ----------------
    shorts = base.filter(F.col("_len") <= L0 - 1)
    sl = shorts.select(F.col("_id").alias("_ida"), F.col("_len").alias("_key"))
    sr = shorts.select(
        F.col("_id").alias("_idb"),
        F.explode(F.expr(f"sequence(greatest(_len - {d}, 0), _len + {d})"))
        .alias("_key"),
    )
    short_cand = sl.join(
        sr, (sl["_key"] == sr["_key"]) & (sl["_ida"] < sr["_idb"])
    ).select("_ida", "_idb")

    # --- verify ------------------------------------------------------
    cand = gram_cand.unionByName(short_cand)
    ta = base.select(F.col("_id").alias("_ida"), F.col("_t").alias("_ta"))
    tb = base.select(F.col("_id").alias("_idb"), F.col("_t").alias("_tb"))
    return (
        cand.join(ta, "_ida").join(tb, "_idb")
        .withColumn("edist", F.levenshtein("_ta", "_tb"))
        .filter(F.col("edist") <= d)
        .select(
            F.col("_ida").alias("id_a"), F.col("_idb").alias("id_b"), "edist"
        )
    )


def sql_edit_distance_pairs(fixture_sql: str, max_dist: int) -> str:
    """DuckDB twin of :func:`edit_distance_pairs` — the quadratic
    length-filtered verify (a genuinely different algorithm: no
    banding, so it also PROVES the banding complete at fixture
    scale)."""
    return f"""
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             levenshtein(a.text, b.text) AS edist
      FROM ({fixture_sql}) a JOIN ({fixture_sql}) b
        ON a.doc_id < b.doc_id
       AND abs(length(a.text) - length(b.text)) <= {max_dist}
      WHERE levenshtein(a.text, b.text) <= {max_dist}
    """
