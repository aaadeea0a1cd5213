"""Dedup tier tests: exact, n-gram Jaccard (vs independent pandas
oracle), MinHash-LSH (estimates true Jaccard; catches planted
near-dups), SimHash banding (lossless within Hamming budget)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from extra_ops.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    word_shingles,
)

WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()


def make_docs(n=60, seed=3):
    rng = np.random.default_rng(seed)
    texts, ids = [], []
    for i in range(n):
        ids.append(i)
        texts.append(" ".join(rng.choice(WORDS, size=30)))
    # planted exact dup + near dup (one word changed)
    ids += [1000, 1001, 1002]
    texts += [texts[0], texts[1][:-5] + " zeta", texts[2]]
    return pd.DataFrame({"doc_id": ids, "text": texts})


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(make_docs()).persist()


def test_exact_duplicates(spark, docs):
    got = exact_duplicates(docs, "text", "doc_id").collect()
    dup_keepers = {r.keeper_id: r.n_dups for r in got}
    assert dup_keepers == {0: 2, 2: 2}  # doc 1000 == doc 0, 1002 == doc 2


def jaccard_oracle(pdf, n=3):
    def sh(t):
        toks = t.split()
        return {" ".join(toks[i : i + n]) for i in range(max(1, len(toks) - n + 1))}

    sets = {r.doc_id: sh(r.text) for r in pdf.itertuples()}
    out = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter:
                j = inter / len(sets[a] | sets[b])
                if j >= 0.5:
                    out[(a, b)] = round(j, 9)
    return out


def test_ngram_jaccard_vs_oracle(spark, docs):
    pdf = make_docs()
    want = jaccard_oracle(pdf)
    got = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", 3, 0.5).collect()
    }
    assert got == want
    assert (0, 1000) in got and got[(0, 1000)] == 1.0  # exact dup
    assert any(k in got for k in [(1, 1001)])  # planted near dup


def test_minhash_estimates_jaccard(spark, docs):
    """Property: signature agreement rate ≈ true Jaccard (±0.2 with 32
    hashes on the planted pairs)."""
    sig = minhash_signatures(docs, "text", "doc_id", 3, 32).toPandas().set_index("id")
    pdf = make_docs()
    true = jaccard_oracle(pdf, 3)
    for (a, b), j in true.items():
        agree = float((sig.loc[a] == sig.loc[b]).mean())
        assert abs(agree - j) <= 0.25, (a, b, j, agree)


def test_minhash_lsh_finds_planted_pairs(spark, docs):
    got = {
        (r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, "text", "doc_id").collect()
    }
    assert (0, 1000) in got
    assert (2, 1002) in got
    assert (1, 1001) in got
    # verified stage: no false positives below threshold
    want = set(jaccard_oracle(make_docs()))
    assert got <= want


def test_simhash_near_pairs(spark, docs):
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_pairs(docs, "text", "doc_id", max_hamming=4).collect()
    }
    assert got[(0, 1000)] == 0  # identical text -> identical simhash
    assert got[(2, 1002)] == 0
    # every reported pair respects the budget (banding is a prefilter only)
    assert all(h <= 4 for h in got.values())


def test_word_shingles_short_doc(spark):
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1, 2], "text": ["one two", ""]}))
    got = word_shingles(df, "text", "doc_id", 3).collect()
    assert {(r.id, r.shingle) for r in got} == {(1, "one two")}


def test_dedup_components_chain(spark):
    """Transitivity: a-b and b-c put all three in one component with
    keeper = min id, across >1 propagation round (chain diameter 4)."""
    import pandas as pd

    from extra_ops.dedup import dedup_components

    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [10, 20, 30, 40, 100], "id_b": [20, 30, 40, 50, 101]})
    )
    got = {r.id: r.keeper_id for r in dedup_components(pairs).collect()}
    assert got == {10: 10, 20: 10, 30: 10, 40: 10, 50: 10, 100: 100, 101: 100}


def test_minhash_verify_modes_identical(spark, docs):
    """verify='join' (bounded-state scale tier) must return the exact
    same verified rows as verify='array' (default) — same pairs, same
    n_common/sz/jaccard values."""
    cols = ["id_a", "id_b", "n_common", "sz_a", "sz_b"]
    arr = {
        tuple(r[c] for c in cols): round(r["jaccard"], 12)
        for r in minhash_lsh_pairs(docs, "text", "doc_id", verify="array").collect()
    }
    jn = {
        tuple(r[c] for c in cols): round(r["jaccard"], 12)
        for r in minhash_lsh_pairs(docs, "text", "doc_id", verify="join").collect()
    }
    assert arr == jn
    assert len(arr) > 0


def test_hamming_near_pairs_generic(spark):
    """hamming_near_pairs over a raw int64 column (image phash use):
    pigeonhole banding finds exactly the <=budget pairs."""
    from extra_ops.dedup import hamming_near_pairs

    rows = [
        {"pid": 1, "ph": 0x0F0F0F0F0F0F0F0F},
        {"pid": 2, "ph": 0x0F0F0F0F0F0F0F0E},  # hamming 1 from pid 1
        {"pid": 3, "ph": 0x0F0F0F0F0F0F0F0F ^ 0b10110},  # hamming 3
        {"pid": 4, "ph": -1},  # far from everything
        {"pid": 5, "ph": -1 ^ 0x11},  # hamming 2 from pid 4 (negative longs)
    ]
    df = spark.createDataFrame(rows)
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming_near_pairs(df, "ph", "pid", max_hamming=3).collect()
    }
    # (2,3) differs by 0b10111 -> hamming 4 > budget, correctly absent
    assert got == {(1, 2): 1, (1, 3): 3, (4, 5): 2}


def test_dedup_keepers_by_score(spark):
    """Quality-weighted keeper: argmax score per component, ties by
    min id; every member of a component maps to the same keeper."""
    from extra_ops.dedup import dedup_keepers_by_score

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    scores = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 9.0), (10, 1.0), (11, 0.5)],
        "id long, score double",
    )
    got = {
        r.id: r.keeper_id for r in dedup_keepers_by_score(pairs, scores).collect()
    }
    # comp {1,2,3}: max score 9.0 tie between 2 and 3 -> min id 2
    assert got == {1: 2, 2: 2, 3: 2, 10: 10, 11: 10}


# ---------------------------------------------------------------------------
# winnowing fingerprints (MOSS)
# ---------------------------------------------------------------------------

from extra_ops.dedup import (  # noqa: E402
    WINNOW_BASE,
    WINNOW_MOD,
    WINNOW_PACK,
    winnow_fingerprints,
    winnow_near_pairs,
    with_winnow_fps,
)


def _py_winnow(text, k=5, w=4):
    """Independent reference: MOSS selection (rightmost window min)."""
    if len(text) < k:
        return []
    hs = []
    for i in range(len(text) - k + 1):
        h = ord(text[i])
        for j in range(1, k):
            h = (h * WINNOW_BASE + ord(text[i + j])) % WINNOW_MOD
        hs.append(h)
    out = set()
    for p in range(1, max(len(hs) - w + 1, 1) + 1):
        sl = hs[p - 1 : p - 1 + w]
        m = min(sl)
        j = p + len(sl) - 1 - sl[::-1].index(m)
        out.add(j * WINNOW_PACK + m)
    return sorted(out)


def _winnow_texts():
    rng = np.random.default_rng(11)
    alphabet = np.array(list("abcdefghij "))
    texts = ["", "ab", "abcd", "abcde", "aaaaaaaaaaaa", "hello world"]
    for n in rng.integers(1, 220, size=30):
        texts.append("".join(rng.choice(alphabet, size=int(n))))
    return texts


def test_winnow_matches_reference(spark):
    texts = _winnow_texts()
    df = spark.createDataFrame(list(enumerate(texts)), "id INT, txt STRING")
    got = {
        r["id"]: sorted(r["fps"])
        for r in with_winnow_fps(df, "txt", "fps").collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _py_winnow(t), (i, t[:40])


def test_winnow_window_coverage(spark):
    """SIGMOD'03 guarantee: every window of w consecutive k-grams
    contains a selected position — consecutive selected positions are
    never more than w apart (the density bound that makes matches of
    length >= w+k-1 detectable)."""
    k, w = 5, 4
    texts = [t for t in _winnow_texts() if len(t) >= k]
    df = spark.createDataFrame(list(enumerate(texts)), "id INT, txt STRING")
    rows = winnow_fingerprints(df, "txt", "id", k, w).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["id"], []).append(r["pos"])
    for i, t in enumerate(texts):
        pos = sorted(by_doc[i])
        assert pos[0] <= w and pos[-1] >= len(t) - k + 2 - w
        assert all(b - a <= w for a, b in zip(pos, pos[1:]))


def test_winnow_near_pairs_guarantee(spark):
    # shared substring of length w + k - 1 = 8 -> must share >= 1
    # fingerprint VALUE; unrelated docs from disjoint alphabets share 0
    docs = [
        (1, "qqqq SHARED-SEGMENT zzzzzz"),
        (2, "mmmmmmmm SHARED-SEGMENT pppp"),
        (3, "uvuvuvuv wxwxwxwxwx yyyy"),
    ]
    df = spark.createDataFrame(docs, "id INT, txt STRING")
    pairs = {
        (r["id_a"], r["id_b"]): r["n_common"]
        for r in winnow_near_pairs(df, "txt", "id", min_common=1).collect()
    }
    assert (1, 2) in pairs
    assert all(p == (1, 2) for p in pairs)


def test_winnow_hot_fp_cap(spark):
    # a boilerplate footer shared by ALL docs is dropped by the df cap,
    # so only the pair sharing a rare segment survives
    footer = " COMMON-FOOTER-BOILERPLATE"
    docs = [
        (1, "aaaa RARE-SEGMENT bbbb" + footer),
        (2, "cccc RARE-SEGMENT dddd" + footer),
        (3, "eeee ffff gggg hhhh iiii" + footer),
        (4, "jjjj kkkk llll mmmm nnnn" + footer),
    ]
    df = spark.createDataFrame(docs, "id INT, txt STRING")
    capped = {
        (r["id_a"], r["id_b"])
        for r in winnow_near_pairs(
            df, "txt", "id", min_common=1, max_fp_df=2
        ).collect()
    }
    assert capped == {(1, 2)}


def test_winnow_kernel_equals_hof(spark):
    """The Arrow-batched numpy kernel and the HOF-expression spelling
    (the DuckDB-oracle-grade form) select identical fingerprints."""
    from extra_ops.dedup import winnow_fps_udf

    texts = _winnow_texts()
    df = spark.createDataFrame(list(enumerate(texts)), "id INT, txt STRING")
    hof = {
        r["id"]: sorted(r["fps"])
        for r in with_winnow_fps(df, "txt", "fps").collect()
    }
    udf = winnow_fps_udf()
    kern = {
        r["id"]: sorted(r["f"])
        for r in df.select("id", udf(F.col("txt")).alias("f")).collect()
    }
    assert kern == hof


#: JSONL round-trip hazard suffix: quote, backslash, newline, tab,
#: BMP unicode (ü é €), an astral pair (𝄞 -> surrogate escaping), and a
#: control byte — everything a JSON writer must escape and a reader
#: must recover.
_JSONL_SPECIALS = ' "\\\n\tüé€\U0001d11e\x01'

#: CSV round-trip hazard suffix: comma, RFC-doubled quotes, newline,
#: tab, semicolon, BMP unicode, and EDGE SPACES (the classic CSV
#: reader trim hazard — Spark's read-side ignore*WhiteSpace must be
#: disabled to round-trip).
_CSV_SPECIALS = ' ,"q"\n\t;é€ '


def test_jsonl_roundtrip_duckdb_parses_spark_bytes(spark, tmp_path):
    """Spark writes JSONL with every escaping hazard planted; DuckDB
    parses the SAME file bytes and lands on identical (doc_id, text)
    rows — the cross-engine interchange guarantee for LLM corpora."""
    import glob

    duckdb = pytest.importorskip("duckdb")
    from pyspark.sql import functions as F

    rows = [
        (1, "plain ascii"),
        (2, 'has "quotes" and \\backslash\\'),
        (3, "new\nline and\ttab"),
        (4, "unicode üé€ and astral \U0001d11e"),
        (5, "control \x01 byte"),
        (6, _JSONL_SPECIALS),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "jl")
    df.coalesce(1).write.mode("overwrite").json(path)
    back = {
        r.doc_id: r.text
        for r in spark.read.schema("doc_id long, text string").json(path).collect()
    }
    assert back == dict(rows)  # Spark round-trips its own bytes
    files = sorted(glob.glob(path + "/*.json"))
    assert files
    duck = dict(
        duckdb.connect()
        .execute(
            "SELECT doc_id, text FROM read_json(?, "
            "columns = {doc_id: 'BIGINT', text: 'VARCHAR'})",
            [files],
        )
        .fetchall()
    )
    assert duck == dict(rows)  # DuckDB parses the SAME bytes identically


def test_csv_roundtrip_duckdb_parses_spark_bytes(spark, tmp_path):
    """Spark writes RFC-4180 CSV (quote doubling, writer-side trim
    DISABLED — the default silently strips edge spaces) with every CSV
    hazard planted; Spark re-reads its own bytes exactly, and DuckDB
    parses the SAME file bytes onto identical rows."""
    import glob

    duckdb = pytest.importorskip("duckdb")

    rows = [
        (1, "plain ascii"),
        (2, 'has "quotes", commas, and ;semicolons;'),
        (3, "embedded\nnewline and\ttab"),
        (4, " leading and trailing spaces "),
        (5, "unicode üé€"),
        (6, _CSV_SPECIALS),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "cs")
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("quote", '"')
        .option("escape", '"')
        .option("header", "true")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(path)
    )
    back = {
        r.doc_id: r.text
        for r in spark.read.schema("doc_id long, text string")
        .option("header", "true")
        .option("multiLine", "true")
        .option("quote", '"')
        .option("escape", '"')
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(path)
        .collect()
    }
    assert back == dict(rows)  # Spark round-trips its own bytes
    files = sorted(glob.glob(path + "/*.csv"))
    assert files
    duck = dict(
        duckdb.connect()
        .execute(
            "SELECT doc_id, text FROM read_csv(?, header = true, "
            "columns = {doc_id: 'BIGINT', text: 'VARCHAR'}, "
            "quote = '\"', escape = '\"')",
            [files],
        )
        .fetchall()
    )
    assert duck == dict(rows)  # DuckDB parses the SAME bytes identically
