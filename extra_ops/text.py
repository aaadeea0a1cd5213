"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language-ID heuristics, document fingerprinting.

Counting/ratio signals are pure JVM expression work (whole-stage
codegen; also ANSI-SQL-expressible for the oracle). The rolling
fingerprint, the duplicate-trigram fraction and the winnowing summary
run as Arrow-batched kernels that COALESCE into a single
ArrowEvalPython stage (audit-pinned); each has an expression twin
(sql_* / HOF) that defines the oracle-grade semantics and is asserted
equal in tests.
"""

from __future__ import annotations

import functools
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

#: RE2 (DuckDB) spelling of Java's \s charset. RE2's own \s is
#: [\t\n\f\r ] — it MISSES \x0b (vertical tab), which Java and
#: Python-re.ASCII include, so every DuckDB twin must use this
#: explicit class or \v-containing text tokenizes differently.
SQL_WS = "[ \\t\\n\\x0b\\f\\r]+"


def token_count(text: Column) -> Column:
    """Whitespace token count (empty string -> 0)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def sql_token_count(text: str) -> str:
    return (
        f"CASE WHEN length(trim({text})) = 0 THEN 0 "
        f"ELSE len(string_split_regex(trim({text}), '{SQL_WS}')) END"
    )


#: BPE-ish pre-tokenizer segmentation (the GPT-2 pattern reduced to a
#: lookaround-free, explicit-ASCII-class form so Java regex (Spark),
#: RE2 (DuckDB) and python re agree match-for-match): contraction
#: suffixes, optional-space-prefixed letter / digit / "other" runs,
#: residual whitespace runs. The original's `\s+(?!\S)` trailing-space
#: lookahead is dropped (RE2 has no lookaround) — a whitespace run
#: before a token is absorbed by the token's optional leading space,
#: longer runs count as their own segment, exactly alike in all three
#: dialects (disjoint leading character classes keep alternation-order
#: semantics out of play; non-ASCII codepoints land in the "other"
#: run, and run COUNTS agree even where char counts differ, e.g. Java
#: surrogate pairs).
BPE_SEGMENT_RE = (
    "'(?:s|t|re|ve|m|ll|d)"
    "| ?[A-Za-z]+"
    "| ?[0-9]+"
    "| ?[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]+"
    "|[ \\t\\n\\x0b\\f\\r]+"
)


def bpe_token_count(text: Column) -> Column:
    """BPE-ish token count: how many BPE_SEGMENT_RE segments the text
    splits into — the standard 'how many tokens will the tokenizer
    see' estimate a pretraining budget uses (whitespace token_count
    undercounts punctuation-heavy and contraction-heavy text).
    JVM-side regexp_count; NULL/empty -> 0."""
    return F.coalesce(
        F.regexp_count(text, F.lit(BPE_SEGMENT_RE)), F.lit(0)
    ).cast("long")


def sql_bpe_token_count(text: str) -> str:
    """DuckDB twin: len(regexp_extract_all(...)) over the same RE2-safe
    pattern."""
    esc = BPE_SEGMENT_RE.replace("'", "''")
    return (
        f"CAST(CASE WHEN {text} IS NULL THEN 0 "
        f"ELSE len(regexp_extract_all({text}, '{esc}')) END AS BIGINT)"
    )


def occurrences(text: Column, needle: str) -> Column:
    """Occurrence count via length arithmetic — identical semantics in
    Spark and ANSI SQL (no regex dialect differences)."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("long")


def sql_occurrences(text: str, needle: str) -> str:
    esc = needle.replace("'", "''")
    return (
        f"CAST((length({text}) - length(replace({text}, '{esc}', ''))) / {len(needle)} AS BIGINT)"
    )


def stopword_hits(text: Column) -> Column:
    """Stopword occurrences, counted as bounded words (space-padded)."""
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    total = F.lit(0).cast("long")
    for w in STOPWORDS:
        total = total + occurrences(padded, f" {w} ")
    return total


def sql_stopword_hits(text: str) -> str:
    padded = f"(' ' || {text} || ' ')"
    return " + ".join(sql_occurrences(padded, f" {w} ") for w in STOPWORDS)


def dup_trigram_frac(text: Column) -> Column:
    """Gopher-style repetition signal: fraction of duplicate word
    trigrams, 1 - distinct/total over the SAME sliding word-3-grams as
    ``dedup.word_shingles`` (shared via word_shingle_array; a doc full
    of repeated boilerplate scores near 1, clean prose near 0).
    HOF-expression spelling — the oracle-grade twin of
    sql_dup_trigram_*; Spark runs HOF lambdas interpreted (~1.7 ms/row
    measured), so the hot path is :func:`dup_trigram_frac_udf`
    (asserted equal in tests). NULL and empty text -> 0.0 in all three
    spellings."""
    from .dedup import word_shingle_array

    sh = word_shingle_array(text, 3)
    frac = (F.size(sh) - F.size(F.array_distinct(sh))) / F.size(sh)
    return F.when(
        text.isNull() | (F.length(F.trim(text)) == 0), F.lit(0.0)
    ).otherwise(frac)


def dup_line_frac(text: Column) -> Column:
    """Gopher repetition rule: fraction of duplicate LINES,
    1 - distinct/total over the newline split (boilerplate footers,
    scraped nav menus and error pages score high; prose scores 0).
    Pure codegen exprs — split keeps trailing empties in BOTH engines
    (Java split with negative limit == DuckDB string_split), and the
    int/int division promotes to double identically. NULL text -> 0.0
    (matching dup_trigram_frac's contract)."""
    lines = F.split(text, "\n")
    frac = (F.size(lines) - F.size(F.array_distinct(lines))) / F.size(lines)
    return F.when(text.isNull(), F.lit(0.0)).otherwise(frac)


def sql_dup_line_frac(text: str) -> str:
    """DuckDB twin of dup_line_frac (string_split on chr(10),
    list_distinct, same int->double division)."""
    lines = f"string_split({text}, chr(10))"
    return (
        f"CASE WHEN {text} IS NULL THEN 0.0 ELSE "
        f"(len({lines}) - len(list_distinct({lines}))) / len({lines}) END"
    )


def sql_dup_trigrams(text: str) -> str:
    """DuckDB: the word-trigram list of `text` (same sliding windows,
    clamped tails, as the Spark construction). Meant to be staged as a
    CTE column so the ratio references it without recomputation."""
    toks = f"string_split_regex(trim({text}), '{SQL_WS}')"
    return (
        f"list_transform(generate_series(1, greatest(len({toks}) - 2, 1)), "
        f"i -> array_to_string(list_slice({toks}, i, i + 2), ' '))"
    )


def sql_dup_trigram_frac(trigrams: str, text: str) -> str:
    """DuckDB: duplicate fraction over a staged trigram-list column.
    NULL text -> 0.0 (matching the Column and UDF spellings; without
    the IS NULL arm, tg would be [NULL] and list_distinct's NULL drop
    would yield 1.0)."""
    return (
        f"CASE WHEN {text} IS NULL OR length(trim({text})) = 0 THEN 0.0 "
        f"ELSE (len({trigrams}) - len(list_distinct({trigrams})))"
        f" / len({trigrams}) END"
    )


#: Java-regex \s charset (what Spark's split('\\s+') matches). Python's
#: re.ASCII \s is the identical set [ \t\n\r\f\v], so re.split with
#: re.A reproduces Spark tokenization exactly — str.split() would NOT
#: (it also splits on Unicode whitespace and drops leading empties).
_JAVA_WS = re.compile(r"\s+", re.ASCII)


def dup_trigram_frac_udf():
    """Hot-path twin of :func:`dup_trigram_frac`: trigram tuples per
    doc (tokens carry no \\s characters, so tuple identity == the
    joined string the HOF/oracle spelling builds), duplicate fraction
    from a set — ~40x the interpreted-HOF throughput, coalesced into
    the same single ArrowEvalPython stage as the other text UDFs.
    Tokenization mirrors Spark exactly: trim() strips ASCII SPACE only,
    split uses the Java \\s charset (re.ASCII), and leading empty
    tokens are kept."""

    @F.pandas_udf("double")
    def frac(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), np.float64)
        for i, t in enumerate(texts):
            t = (t or "").strip(" ")
            if not t:
                continue
            toks = _JAVA_WS.split(t)
            n = max(len(toks) - 3, 0) + 1
            out[i] = (n - len({tuple(toks[j : j + 3]) for j in range(n)})) / n
        return pd.Series(out)

    return frac


@functools.lru_cache(maxsize=None)
def _quality_cols(text_col: str) -> tuple[Column, ...]:
    """The six cheap pretraining quality signals as named Columns —
    the single definition shared by quality_features and text_features
    (and, via the sql_* twins, the DuckDB oracles). Cached per column
    name: pure expression trees whose construction is ~100 py4j
    round-trips of driver build latency."""
    t = F.col(text_col)
    n_tok = token_count(t)
    return (
        F.length(t).alias("n_chars"),
        n_tok.alias("n_tokens"),
        (F.length(t) / F.greatest(n_tok, F.lit(1))).alias("mean_tok_len"),
        (stopword_hits(t) / F.greatest(n_tok, F.lit(1))).alias("stopword_ratio"),
        (occurrences(t, ".") + occurrences(t, ",") + occurrences(t, "!")).alias(
            "n_punct"
        ),
        dup_trigram_frac_udf()(t).alias("dup_trigram_frac"),
    )


def quality_features(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-doc quality signals: length, tokens, mean token length,
    stopword ratio, punctuation count, duplicate-trigram fraction — the
    standard cheap filters of a pretraining pipeline. All codegen'd
    expressions EXCEPT dup_trigram_frac, which is an Arrow-batched
    pandas UDF (one ArrowEvalPython stage when consumed; Catalyst
    prunes it when a downstream select drops the column)."""
    return df.select(F.col(id_col), *_quality_cols(text_col))


LANG_MARKERS = {
    "en": (" the ", " and ", " is "),
    "de": (" der ", " und ", " ist "),
    "fr": (" le ", " et ", " est "),
    "es": (" el ", " y ", " es "),
}


@functools.lru_cache(maxsize=None)
def _lang_best(text_col: str) -> Column:
    """argmax-of-struct language pick over the padded text (ties ->
    lexicographically largest language, deterministic). Cached per
    column name — pure expression tree, see _quality_cols."""
    t = F.concat(F.lit(" "), F.col(text_col), F.lit(" "))
    scores = [
        F.struct(
            sum((occurrences(t, m) for m in ms), F.lit(0).cast("long")).alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, ms in sorted(LANG_MARKERS.items())
    ]
    return F.array_max(F.array(*scores))


def lang_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """n-gram-heuristic language ID: per-language marker-token hit
    counts; predicted = argmax (ties -> lexicographic, deterministic).
    Tuned for fixtures, but the operator shape (per-language scores +
    argmax over a struct array) is the real thing."""
    best = _lang_best(text_col)
    return df.select(
        F.col(id_col),
        best["lang"].alias("pred_lang"),
        best["score"].alias("pred_score"),
    )


def text_features(
    df: DataFrame,
    text_col: str,
    id_col: str,
    extra_cols: list[Column] | None = None,
) -> DataFrame:
    """ALL per-doc text signals in ONE scan — quality features, language
    ID, the rolling-hash fingerprint, and the winnowing-fingerprint
    summary (count + sum of the MOSS-selected substring fingerprints,
    pinning the full selection bit-for-bit against the oracle). At
    100 TB this is the shape you want: all signals share a single pass
    over the text column instead of five scans — zero shuffles, and the
    three Python kernels (fingerprint, trigram fraction, winnow stats)
    coalesce into ONE ArrowEvalPython stage."""
    from .dedup import winnow_stats_udf

    best = _lang_best(text_col)
    fp = fingerprint_udf()
    wstats = winnow_stats_udf()
    return df.select(
        F.col(id_col),
        *_quality_cols(text_col),
        best["lang"].alias("pred_lang"),
        best["score"].alias("pred_score"),
        fp(F.col(text_col)).alias("fingerprint"),
        wstats(F.col(text_col)).alias("_ws"),
        *(extra_cols or []),
    ).select(
        "*",
        F.col("_ws.n_winnow_fp").alias("n_winnow_fp"),
        F.col("_ws.winnow_fp_sum").alias("winnow_fp_sum"),
    ).drop("_ws")


#: polynomial fingerprint parameters: h = fold over Unicode code points
#: of (h * B + cp) mod 2^64, h0 = FNV offset basis; emitted as signed
#: int64. Defined over CODE POINTS (not utf-8 bytes) so the DuckDB twin
#: (sql_fingerprint) expresses the identical fold with unicode().
FP_BASE = 1_000_003
FP_OFFSET = 1_469_598_103_934_665_603
_U64 = 1 << 64


def fingerprint_udf():
    """64-bit polynomial rolling-hash document fingerprint (Karp-Rabin
    style over code points), Arrow-batched. Horner's rule is rewritten
    as a power-vector dot product so the char axis is fully numpy-
    vectorized (uint64 wraparound IS the mod-2^64 semantics):

        h = h0 * B^n + sum_k cp[k] * B^(n-1-k)   (mod 2^64)
    """

    @F.pandas_udf(T.LongType())
    def fp(text: pd.Series) -> pd.Series:
        maxlen = 0
        for s in text:
            if s is not None and len(s) > maxlen:
                maxlen = len(s)
        # B^0..B^maxlen mod 2^64: uint64 multiplication wraps natively
        pows = np.ones(maxlen + 1, dtype=np.uint64)
        if maxlen:
            pows[1:] = np.cumprod(np.full(maxlen, FP_BASE, dtype=np.uint64))
        h0 = np.uint64(FP_OFFSET)
        vals: list[int | None] = []
        with np.errstate(over="ignore"):
            for s in text:
                if s is None:
                    vals.append(None)
                    continue
                cp = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(
                    np.uint64
                )
                n = len(cp)
                h = h0 * pows[n] + (cp * pows[:n][::-1]).sum(dtype=np.uint64)
                v = int(h)
                vals.append(v - _U64 if v >= _U64 // 2 else v)
        return pd.Series(pd.array(vals, dtype="Int64"))

    return fp


def sql_fingerprint(text: str) -> str:
    """DuckDB twin of fingerprint_udf: the same code-point Horner fold
    mod 2^64 in HUGEINT arithmetic, reinterpreted as signed int64."""
    cps = f"list_transform(range(1, length({text}) + 1), i -> unicode(({text})[i]))"
    fold = (
        f"list_reduce(list_prepend(CAST({FP_OFFSET} AS HUGEINT), {cps}), "
        f"(acc, x) -> (acc * {FP_BASE} + x) % {_U64})"
    )
    return (
        f"(CASE WHEN {text} IS NULL THEN NULL "
        f"WHEN {fold} >= {_U64 // 2} THEN ({fold} - {_U64})::BIGINT "
        f"ELSE ({fold})::BIGINT END)"
    )


# ---------------------------------------------------------------------------
# retrieval scoring (Okapi BM25)
# ---------------------------------------------------------------------------

def bm25_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed bag of
    query terms — the relevance-weighted selection step of a training-
    data pipeline (and the scoring core of retrieval over the corpus).

    Scale shape: the tokenize+explode is map-side and the filter keeps
    ONLY query-term hits, so the one per-(doc, term) shuffle carries
    |Q|-bounded rows per doc, not the corpus vocabulary; document
    frequencies and corpus stats (N, avgdl) are tiny aggregates that
    broadcast back. Docs with no query-term hit produce no row —
    callers left-join + coalesce(0.0).

    Tokenization is the engine-shared whitespace split (lowercased);
    ln() may differ from DuckDB's by an ulp, which the oracle's
    9-significant-digit compare absorbs (unlike the sketch operators,
    which contract bit-equality via integer arithmetic)."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = df.select(
        F.col(id_col).alias("__bm_id"),
        token_count(F.col(text_col)).alias("dl"),
        toks.alias("toks"),
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    hits = base.select("__bm_id", "dl", F.explode("toks").alias("term")).filter(
        F.col("term").isin(list(query_terms))
    )
    tf = hits.groupBy("__bm_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    # tf has one row per (doc, term), so counting rows per term IS the
    # document frequency
    dfs = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dft"))
    sc = tf.join(F.broadcast(dfs), "term").crossJoin(F.broadcast(stats))
    idf = F.log(
        (F.col("n_docs") - F.col("dft") + 0.5) / (F.col("dft") + 0.5) + 1.0
    )
    score = (
        idf
        * (F.col("tf") * (k1 + 1))
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        sc.groupBy("__bm_id")
        .agg(F.sum(score).alias("bm25"))
        .select(F.col("__bm_id").alias(id_col), "bm25")
    )


def sql_bm25(
    id_out: str = "doc_id",
    query_terms: tuple[str, ...] = (),
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB twin of bm25_scores over the ``documents`` view: same
    tokenization (shared \\s charset), same formula spelling. Returns a
    SELECT of (id_out, bm25)."""
    terms = ", ".join("'" + t.replace("'", "''") + "'" for t in query_terms)
    ntok = sql_token_count("text")
    return f"""
      WITH bm_toks AS (
        SELECT doc_id, {ntok} AS dl,
               unnest(string_split_regex(trim(lower(text)), '{SQL_WS}')) AS term
        FROM documents
      ),
      bm_stats AS (
        SELECT COUNT(*) AS n_docs, AVG(CAST({ntok} AS DOUBLE)) AS avgdl
        FROM documents
      ),
      bm_tf AS (
        SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
        FROM bm_toks WHERE term IN ({terms})
        GROUP BY doc_id, term
      ),
      bm_dfs AS (SELECT term, COUNT(*) AS dft FROM bm_tf GROUP BY term)
      SELECT t.doc_id AS {id_out},
             SUM(
               ln((s.n_docs - d.dft + 0.5) / (d.dft + 0.5) + 1.0)
               * (t.tf * {k1 + 1!r})
               / (t.tf + {k1!r} * ({1 - b!r} + {b!r} * t.dl / s.avgdl))
             ) AS bm25
      FROM bm_tf t
      JOIN bm_dfs d USING (term)
      CROSS JOIN bm_stats s
      GROUP BY t.doc_id
    """


# ---------------------------------------------------------------------------
# PII detection / redaction (pretraining scrub pass). Patterns are
# chosen to evaluate IDENTICALLY under Java regex (Spark) and RE2
# (DuckDB): explicit character classes only — no lookaround (RE2 has
# none), no alternation whose leftmost-first (Java) vs leftmost-longest
# (RE2) semantics could diverge, no \s (dialect-dependent class).
# Counts are per-pattern over the RAW text (an email inside a URL
# counts as both); redaction applies URL -> EMAIL -> PHONE so a URL's
# userinfo@host never leaves a half-redacted fragment.
# ---------------------------------------------------------------------------

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_URL = r"https?://[^ \t\r\n\x0b\f]+"
PII_PHONE = r"\+?[0-9][0-9()\- ]{6,}[0-9]"

#: redaction order is load-bearing (see module comment)
PII_REDACTION = (
    (PII_URL, "[URL]"),
    (PII_EMAIL, "[EMAIL]"),
    (PII_PHONE, "[PHONE]"),
)


def pii_count_cols(text: Column) -> list[Column]:
    """n_pii_email / n_pii_url / n_pii_phone — JVM-side regexp_count,
    whole-stage codegen, no Python."""
    return [
        F.regexp_count(text, F.lit(PII_EMAIL)).alias("n_pii_email"),
        F.regexp_count(text, F.lit(PII_URL)).alias("n_pii_url"),
        F.regexp_count(text, F.lit(PII_PHONE)).alias("n_pii_phone"),
    ]


def redact_pii(text: Column) -> Column:
    """The text with every PII span replaced by its tag — what a scrub
    pass writes back before training."""
    out = text
    for pat, tag in PII_REDACTION:
        out = F.regexp_replace(out, pat, tag)
    return out


def sql_pii_counts(text: str) -> list[str]:
    """DuckDB twins of pii_count_cols (len(regexp_extract_all))."""
    return [
        f"CAST(len(regexp_extract_all({text}, '{PII_EMAIL}')) AS INT) AS n_pii_email",
        f"CAST(len(regexp_extract_all({text}, '{PII_URL}')) AS INT) AS n_pii_url",
        f"CAST(len(regexp_extract_all({text}, '{PII_PHONE}')) AS INT) AS n_pii_phone",
    ]


def sql_redact_pii(text: str) -> str:
    """DuckDB twin of redact_pii ('g' = replace all, like Spark)."""
    out = text
    for pat, tag in PII_REDACTION:
        out = f"regexp_replace({out}, '{pat}', '{tag}', 'g')"
    return out


# ---------------------------------------------------------------------------
# Soundex phonetic encoding — the classic entity-resolution / record-
# linkage BLOCKING key (group candidate pairs by how a name SOUNDS so
# the expensive pairwise verify never goes all-pairs).  Deliberately
# NOT Spark's builtin F.soundex: the h/w separator rule varies across
# implementations, and the repo-wide discipline is ONE spelling both
# engines evaluate — so the full pipeline is spelled from shared
# primitives (upper/translate/regexp_replace/rpad, all backref-FREE so
# Java regex and RE2 agree) and the published American-Soundex vectors
# pin it (Robert/Rupert→R163, Ashcraft/Ashcroft→A261 — the h/w merge —
# Tymczak→T522, Pfister→P236 — the first-letter merge — Honeyman→H555).
# ---------------------------------------------------------------------------

_SOUNDEX_FROM = "AEIOUYBFPVCGJKQSXZDTLMNR"
_SOUNDEX_TO = "000000111122222222334556"


def soundex_expr(word: Column) -> Column:
    """American Soundex of ``word`` (non-letters stripped first):
    retain the first letter; drop H/W (so same-coded consonants they
    separate merge); map letters to digit classes with vowels as '0'
    separators; collapse adjacent equal digits; drop the first
    letter's own (merged) group; strip the separators; pad to
    letter+3.  NULL when no letter survives the cleanup."""
    u = F.upper(F.regexp_replace(word, "[^A-Za-z]", ""))
    first = F.substring(u, 1, 1)
    seq = F.translate(
        F.regexp_replace(u, "[HW]", ""), _SOUNDEX_FROM, _SOUNDEX_TO
    )
    for d in "123456":  # backref-free run collapse, identical in RE2
        seq = F.regexp_replace(seq, f"{d}{{2,}}", d)
    tail = F.when(first.isin("H", "W"), seq).otherwise(F.substring(seq, 2, 2_000_000))
    code = F.concat(
        first, F.rpad(F.substring(F.regexp_replace(tail, "0", ""), 1, 3), 3, "0")
    )
    return F.when(u != "", code)


def sql_soundex(word: str) -> str:
    """DuckDB twin of :func:`soundex_expr` — the literally identical
    pipeline ('g' flags where Spark replaces all by default)."""
    u = f"upper(regexp_replace({word}, '[^A-Za-z]', '', 'g'))"
    seq = (
        f"translate(regexp_replace({u}, '[HW]', '', 'g'),"
        f" '{_SOUNDEX_FROM}', '{_SOUNDEX_TO}')"
    )
    for d in "123456":
        seq = f"regexp_replace({seq}, '{d}{{2,}}', '{d}', 'g')"
    tail = (
        f"CASE WHEN substr({u}, 1, 1) IN ('H', 'W') THEN {seq}"
        f" ELSE substr({seq}, 2) END"
    )
    return (
        f"CASE WHEN {u} <> '' THEN substr({u}, 1, 1)"
        f" || rpad(substr(regexp_replace({tail}, '0', '', 'g'), 1, 3), 3, '0')"
        f" END"
    )


# ---------------------------------------------------------------------------
# URL canonicalization — the URL-dedup primitive for crawl corpora:
# the same page arrives as http://Example.com/a?utm_source=x#frag and
# https://example.com/a, and exact dedup on raw URLs misses it.  The
# canonical form here: lowercase scheme+authority, drop the fragment,
# drop utm_* tracking params (fixing separators), drop a trailing '/'.
# Deliberately spelled as a chain of backref-free regex replaces with
# NO replacement groups — Java spells group refs `$1` where RE2 spells
# `\1`, so any group replacement would silently diverge between the
# engines; every step below is pattern-only.  (Query-param SORTING
# needs split+sort and is documented out of scope of the shared form.)
# ---------------------------------------------------------------------------

#: first http(s) URL in a text blob (no trailing whitespace);
#: (?i) scopes case-insensitivity to the scheme match and is spelled
#: identically in Java regex and RE2
URL_PATTERN = r"(?i)https?://[^\s]+"
#: scheme + authority prefix (up to the first /, ?, or #)
_URL_PREFIX = r"(?i)^https?://[^/?#]*"


def url_canonicalize(url: Column) -> Column:
    """Canonical form of a URL column (NULL stays NULL)."""
    pre = F.regexp_extract(url, _URL_PREFIX, 0)
    rest = F.substring(url, F.length(pre) + 1, F.lit(1 << 30))
    rest = F.regexp_replace(rest, r"#.*$", "")          # fragment
    rest = F.regexp_replace(rest, r"&utm_[^&#]*", "")   # mid/tail utm
    rest = F.regexp_replace(rest, r"\?utm_[^&#]*&", "?")  # leading utm
    rest = F.regexp_replace(rest, r"\?utm_[^&#]*$", "")   # only utm
    rest = F.regexp_replace(rest, r"/$", "")            # trailing slash
    return F.when(url.isNotNull(), F.concat(F.lower(pre), rest))


def sql_url_canonicalize(url: str) -> str:
    """DuckDB twin of :func:`url_canonicalize` ('g' flags match
    Spark's replace-all default; all patterns RE2-and-Java safe)."""
    pre = f"regexp_extract({url}, '{_URL_PREFIX}', 0)"
    rest = f"substr({url}, length({pre}) + 1)"
    rest = f"regexp_replace({rest}, '#.*$', '', 'g')"
    rest = f"regexp_replace({rest}, '&utm_[^&#]*', '', 'g')"
    rest = f"regexp_replace({rest}, '\\?utm_[^&#]*&', '?', 'g')"
    rest = f"regexp_replace({rest}, '\\?utm_[^&#]*$', '', 'g')"
    rest = f"regexp_replace({rest}, '/$', '', 'g')"
    return (
        f"CASE WHEN {url} IS NOT NULL THEN lower({pre}) || {rest} END"
    )


# ---------------------------------------------------------------------------
# character-bigram language-model fluency (the CCNet-style perplexity
# filter, stripped to its engine-expressible core: a corpus-trained
# char n-gram LM scoring every document; low avg log-prob = noisy /
# non-prose text a pretrain pipeline drops or down-weights)
# ---------------------------------------------------------------------------

def bigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref: DataFrame | None = None,
) -> DataFrame:
    """Per-document fluency under an add-one-smoothed character-bigram
    LM trained on ``ref`` (default: the corpus itself — the in-domain
    CCNet configuration): for each doc,

        lm_avg_logp = mean over bigram positions of
                      ln((cnt(c1c2) + 1) / (tot(c1) + V))

    with cnt = corpus bigram count, tot(c1) = Σ_c cnt(c1c), and V =
    distinct continuation characters corpus-wide (the Laplace
    vocabulary). Emits (id, n_bigrams, lm_mass, lm_avg_logp) where
    ``n_bigrams``/``lm_mass`` (Σ cnt over the doc's positions) are the
    exact-integer pins behind the float score. Docs shorter than two
    characters produce no row — callers left-join.

    Plan: bigrams explode map-side from a sequence/substring transform
    (pure JVM, no Python); the model is TWO tiny aggregates (bigram
    counts ≤ |alphabet|², first-char totals) that broadcast back, so
    the only data-sized shuffles are the model count (map-side combine
    collapses each partition to its distinct-bigram set) and the
    per-doc score aggregate. ln() may differ by an ulp per term across
    engines and the sum order is engine-dependent — absorbed by the
    oracle's 9-significant-digit compare (the exact invariants ride in
    n_bigrams / lm_mass), same contract as bm25_scores."""
    src = ref if ref is not None else df
    bg_of = (
        "transform(sequence(1, length({t}) - 1), i -> substring({t}, i, 2))"
    )
    def bge(frame):
        return (
            frame.filter(F.length(F.col(text_col)) >= 2)
            .select(
                F.col(id_col).alias("__lm_id"),
                F.explode(F.expr(bg_of.format(t=text_col))).alias("bg"),
            )
        )

    counts = bge(src).groupBy("bg").agg(F.count(F.lit(1)).alias("cnt"))
    tots = counts.groupBy(F.substring("bg", 1, 1).alias("c1")).agg(
        F.sum("cnt").alias("tot")
    )
    vocab = counts.agg(
        F.countDistinct(F.substring("bg", 2, 1)).alias("v")
    )
    logp = F.log(
        (F.col("cnt").cast("double") + F.lit(1.0))
        / (F.col("tot").cast("double") + F.col("v").cast("double"))
    )
    return (
        bge(df)
        .join(F.broadcast(counts), "bg")
        .join(F.broadcast(tots), F.substring("bg", 1, 1) == F.col("c1"))
        .crossJoin(F.broadcast(vocab))
        .groupBy("__lm_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("cnt").cast("long").alias("lm_mass"),
            (F.sum(logp) / F.count(F.lit(1))).alias("lm_avg_logp"),
        )
        .select(F.col("__lm_id").alias(id_col), "n_bigrams", "lm_mass", "lm_avg_logp")
    )


def sql_bigram_lm(id_out: str = "doc_id") -> str:
    """DuckDB twin of bigram_lm_scores over the ``documents`` view
    (self-trained configuration). Returns a CTE body string defining
    ``lm`` with columns (id_out, n_bigrams, lm_mass, lm_avg_logp) —
    splice after a leading WITH."""
    return f"""
    lm_bge AS (
      SELECT doc_id AS {id_out},
             unnest(list_transform(range(1, length(text)),
                                   i -> substr(text, i, 2))) AS bg
      FROM documents WHERE length(text) >= 2
    ),
    lm_cnt AS (SELECT bg, COUNT(*) AS cnt FROM lm_bge GROUP BY bg),
    lm_tot AS (
      SELECT substr(bg, 1, 1) AS c1, SUM(cnt) AS tot FROM lm_cnt GROUP BY c1
    ),
    lm_v AS (SELECT COUNT(DISTINCT substr(bg, 2, 1)) AS v FROM lm_cnt),
    lm AS (
      SELECT e.{id_out},
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(c.cnt) AS BIGINT) AS lm_mass,
             SUM(ln((CAST(c.cnt AS DOUBLE) + 1.0)
                    / (CAST(t.tot AS DOUBLE) + CAST(v.v AS DOUBLE))))
               / COUNT(*) AS lm_avg_logp
      FROM lm_bge e
      JOIN lm_cnt c USING (bg)
      JOIN lm_tot t ON t.c1 = substr(e.bg, 1, 1)
      CROSS JOIN lm_v v
      GROUP BY e.{id_out}
    )"""


# ---------------------------------------------------------------------------
# BPE tokenizer training (Sennrich et al. 2016) — learning the merge
# table IS a distributed counting problem: pair statistics come from
# the (tiny) distinct-word frequency table, never the corpus, and each
# round is one weighted hash aggregation + one argmax
# ---------------------------------------------------------------------------

def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 5,
):
    """Train a byte-pair-encoding merge table on the corpus: start from
    character sequences of the engine-shared lowercased-whitespace
    vocabulary (the bm25 tokenization), and n_merges times (a) count
    every adjacent symbol pair weighted by word frequency, (b) merge
    the argmax pair under the deterministic (count DESC, a ASC, b ASC)
    order, applying it greedily left-to-right without overlap (the
    reference BPE semantics: "aaa" + (a,a) -> [aa, a]).

    Returns ``(merges, segmented)``: merges a list of (a, b, pair_n)
    in learned order, segmented the final (w, wf, syms) word frame.

    Scale shape: the corpus is touched ONCE (the word-frequency agg —
    one shuffle with map-side combine); every round after that runs on
    the DISTINCT-WORD table (vocabulary-sized, millions of rows at
    web scale, not trillions): one weighted pair aggregation + a
    1-row argmax collect (the merge table is inherently sequential —
    n_merges tiny driver actions, the knn-round pattern), then a
    map-side array fold applies the merge. The per-round frame is
    localCheckpoint-ed so the fold lineage never stacks."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    toks = F.explode(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    ).alias("w")
    words = (
        df.select(toks)
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wf"))
    )
    seg = words.withColumn(
        "syms",
        F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
    ).localCheckpoint(eager=True)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pairs = (
            seg.filter(F.size("syms") >= 2)
            .select(
                "wf",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), i -> "
                        "struct(element_at(syms, i) AS a, "
                        "element_at(syms, i + 1) AS b))"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("wf").alias("n"))
        )
        top = pairs.orderBy(F.desc("n"), "a", "b").limit(1).collect()
        if not top:
            break
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        merges.append((a, b, n))
        fold = F.aggregate(
            F.expr("slice(syms, 2, size(syms) - 1)"),
            F.array(F.element_at(F.col("syms"), 1)),
            lambda acc, x: F.when(
                (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b)),
                F.concat(
                    F.slice(acc, F.lit(1), F.size(acc) - 1),
                    F.array(F.lit(a + b)),
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        seg = seg.withColumn(
            "syms", F.when(F.size("syms") >= 2, fold).otherwise(F.col("syms"))
        ).localCheckpoint(eager=True)
    return merges, seg


def sql_bpe_ctes(n_merges: int = 5, sep: str = "chr(1)") -> str:
    """DuckDB twin of bpe_train over the ``documents`` view: unrolled
    n_merges rounds, each a weighted pair count + (count DESC, a, b)
    argmax + a list_reduce greedy merge with a {sep}-joined string
    accumulator (the corpus is asserted free of that byte by the
    caller's test; the Spark fold needs no separator). Defines CTEs
    bpe_w0..bpe_w{n}, bpe_m0..bpe_m{n-1} and ``bpe`` with one row:
    m{r}_a, m{r}_b, m{r}_n per round + tokens_before/tokens_after."""
    out = [f"""
    bpe_w0 AS (
      SELECT w, CAST(count(*) AS BIGINT) AS wf,
             list_transform(range(1, length(w) + 1),
                            i -> substr(w, i, 1)) AS syms
      FROM (SELECT unnest(string_split_regex(trim(lower(text)),
                                             '{SQL_WS}')) AS w
            FROM documents)
      WHERE w <> '' GROUP BY w
    )"""]
    for r in range(n_merges):
        out.append(f"""
    bpe_p{r} AS (
      SELECT p.a AS a, p.b AS b, SUM(wf) AS n FROM (
        SELECT wf,
               unnest(list_transform(range(1, len(syms)),
                 i -> struct_pack(a := syms[i], b := syms[i + 1]))) AS p
        FROM bpe_w{r} WHERE len(syms) >= 2)
      GROUP BY p.a, p.b
    ),
    bpe_m{r} AS (
      SELECT a, b, CAST(n AS BIGINT) AS n
      FROM bpe_p{r} ORDER BY n DESC, a, b LIMIT 1
    ),
    bpe_w{r + 1} AS (
      SELECT w, wf,
             CASE WHEN len(syms) <= 1 THEN syms ELSE
               string_split(list_reduce(syms, (acc, x) ->
                 CASE WHEN (acc = m.a OR ends_with(acc, {sep} || m.a))
                           AND x = m.b
                   THEN left(acc, length(acc) - length(m.a)) || m.a || m.b
                   ELSE acc || {sep} || x END), {sep})
             END AS syms
      FROM bpe_w{r} CROSS JOIN bpe_m{r} m
    )""")
    mcols = ", ".join(
        f"m{r}.a AS m{r}_a, m{r}.b AS m{r}_b, m{r}.n AS m{r}_n"
        for r in range(n_merges)
    )
    mfrom = " CROSS JOIN ".join(f"bpe_m{r} m{r}" for r in range(n_merges))
    out.append(f"""
    bpe_stats AS (
      SELECT CAST(SUM(b0.wf * len(b0.syms)) AS BIGINT) AS tokens_before,
             CAST(SUM(bn.wf * len(bn.syms)) AS BIGINT) AS tokens_after
      FROM bpe_w0 b0 JOIN bpe_w{n_merges} bn USING (w)
    ),
    bpe AS (
      SELECT {mcols}, s.tokens_before, s.tokens_after
      FROM {mfrom} CROSS JOIN bpe_stats s
    )""")
    return ",".join(out)


#: tracked alphabet for the char-entropy screen: space + the 8 most
#: frequent English letters; everything else lands in the OTHER
#: bucket (9+1 symbols are plenty to separate mojibake / key-spam from
#: prose, and each tracked char costs a full replace() scan per row on
#: a BENCHED query — 17 chars measured +0.66 s on text_features at
#: sf0.1, 9 halves that). No case folding — Unicode lower() is not
#: contracted identical across engines, and a case-sensitive census is
#: still a valid quality screen (documented).
ENTROPY_ALPHABET = " etaoinsh"


def _entropy_counts(t):
    return [
        F.length(t) - F.length(F.replace(t, F.lit(c), F.lit("")))
        for c in ENTROPY_ALPHABET
    ]


def char_entropy_cols(t) -> list:
    """Character-entropy quality screen — the classic corpus filter
    for mojibake / binary spill / boilerplate (low-entropy) and
    random-key (high-entropy) documents, map-only: per document the
    Shannon entropy (NATS) of the character distribution over
    ``ENTROPY_ALPHABET`` + an OTHER bucket,

        H = ln(N) − (Σ_c n_c·ln(n_c)) / N        (n_c > 0 terms)

    with n_c = length(t) − length(replace(t, c, '')) — pure string
    built-ins, zero shuffle, zero Python, and the Σ spelled as a
    FIXED left-associated chain so the float tree is identical in the
    DuckDB twin (ln may drift an ulp; the gate's 9-significant-digit
    compare absorbs it, the BM25 precedent).  Emits ``ce_n`` (total
    chars), ``ce_distinct`` (tracked chars present + other-present),
    ``ce_h`` (nats; null when the text is empty)."""
    counts = _entropy_counts(t)
    n = F.length(t)
    other = n - sum(counts[1:], counts[0])
    terms = counts + [other]
    dist = sum(
        (F.when(c > 0, 1).otherwise(0) for c in terms[1:]),
        F.when(terms[0] > 0, 1).otherwise(0),
    )
    def plogp(c):
        return F.when(
            c > 0, c.cast("double") * F.log(c.cast("double"))
        ).otherwise(F.lit(0.0))

    ssum = plogp(terms[0])
    for c in terms[1:]:
        ssum = ssum + plogp(c)
    h = F.when(
        n > 0,
        F.log(n.cast("double")) - ssum / n.cast("double"),
    )
    return [
        n.cast("long").alias("ce_n"),
        dist.cast("long").alias("ce_distinct"),
        h.alias("ce_h"),
    ]


def sql_char_entropy(expr: str) -> dict[str, str]:
    """DuckDB twin of ``char_entropy_cols`` — the same counts, the
    same left-associated Σ, ln for ln."""
    counts = [
        f"(length({expr}) - length(replace({expr}, '{c}', '')))"
        for c in ENTROPY_ALPHABET
    ]
    other = f"(length({expr}) - ({' + '.join(counts)}))"
    terms = counts + [other]
    dist = " + ".join(f"(CASE WHEN {c} > 0 THEN 1 ELSE 0 END)" for c in terms)
    ssum = ""
    for c in terms:
        t = (
            f"(CASE WHEN {c} > 0 THEN CAST({c} AS DOUBLE)"
            f" * ln(CAST({c} AS DOUBLE)) ELSE 0.0 END)"
        )
        ssum = t if not ssum else f"({ssum} + {t})"
    return {
        "ce_n": f"CAST(length({expr}) AS BIGINT)",
        "ce_distinct": f"CAST({dist} AS BIGINT)",
        "ce_h": (
            f"CASE WHEN length({expr}) > 0 THEN"
            f" ln(CAST(length({expr}) AS DOUBLE))"
            f" - {ssum} / CAST(length({expr}) AS DOUBLE) END"
        ),
    }
