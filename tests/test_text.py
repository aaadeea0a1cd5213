"""Text analysis operators vs independent python oracles."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from extra_ops.text import (
    STOPWORDS,
    fingerprint_udf,
    lang_score,
    quality_features,
    token_count,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog."),
    (2, "der hund und die katze, der vogel ist frei und das ist gut"),
    (3, "le chat et le chien, c'est la vie et c'est tout"),
    (4, ""),
    (5, "word"),
    (6, "  padded   with   spaces  "),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(pd.DataFrame(DOCS, columns=["doc_id", "text"]))


def test_token_count(spark, docs):
    got = {r.doc_id: r.n for r in docs.select("doc_id", token_count(F.col("text")).alias("n")).collect()}
    want = {i: len(t.split()) for i, t in DOCS}
    assert got == want


def test_quality_features(spark, docs):
    got = {r.doc_id: r.asDict() for r in quality_features(docs, "text", "doc_id").collect()}
    assert got[1]["n_tokens"] == 9
    assert got[1]["n_punct"] == 1
    # 'the' appears twice as a bounded word
    padded = " " + DOCS[0][1] + " "
    want_hits = sum(padded.count(f" {w} ") for w in STOPWORDS)
    assert got[1]["stopword_ratio"] == pytest.approx(want_hits / 9)
    assert got[4]["n_tokens"] == 0


def test_lang_score(spark, docs):
    got = {r.doc_id: (r.pred_lang, r.pred_score) for r in lang_score(docs, "text", "doc_id").collect()}
    assert got[1][0] == "en"
    assert got[2][0] == "de"
    assert got[3][0] == "fr"


def test_fingerprint_deterministic(spark, docs):
    fp = fingerprint_udf()
    a = {r.doc_id: r.f for r in docs.select("doc_id", fp(F.col("text")).alias("f")).collect()}
    b = {r.doc_id: r.f for r in docs.select("doc_id", fp(F.col("text")).alias("f")).collect()}
    assert a == b
    assert len({v for k, v in a.items() if k != 4}) == 5  # distinct docs -> distinct prints


def test_dup_trigram_frac(spark):
    from extra_ops.text import dup_trigram_frac

    docs = DOCS + [
        (7, "spam spam spam spam spam spam"),
        (8, "buy now buy now buy now limited offer buy now"),
    ]
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    got = {
        r.doc_id: r.f
        for r in df.select(
            "doc_id", dup_trigram_frac(F.col("text")).alias("f")
        ).collect()
    }

    def ref(t):
        toks = t.strip().split()
        if not t.strip():
            return 0.0
        sh = [" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 3, 0) + 1)]
        return (len(sh) - len(set(sh))) / len(sh)

    for i, t in docs:
        assert got[i] == pytest.approx(ref(t)), (i, t)
    assert got[7] == pytest.approx(0.75)  # all trigrams identical
    assert got[1] == 0.0  # clean prose


def test_dup_trigram_udf_equals_hof(spark):
    from extra_ops.text import (
        dup_trigram_frac,
        dup_trigram_frac_udf,
    )

    docs = DOCS + [
        (7, "spam spam spam spam spam spam"),
        (8, "buy now buy now buy now limited offer buy now"),
    ]
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    hof = {
        r.doc_id: r.f
        for r in df.select(
            "doc_id", dup_trigram_frac(F.col("text")).alias("f")
        ).collect()
    }
    udf = {
        r.doc_id: r.f
        for r in df.select(
            "doc_id", dup_trigram_frac_udf()(F.col("text")).alias("f")
        ).collect()
    }
    assert udf == pytest.approx(hof)


def test_dup_trigram_whitespace_and_null_parity(spark):
    """Review regressions: (a) Java-\\s tokenization — a tab-leading doc
    keeps its leading empty token in ALL spellings; (b) NULL text is
    0.0 in ALL spellings (UDF, HOF Column, DuckDB oracle)."""
    import duckdb

    from extra_ops.text import (
        dup_trigram_frac,
        dup_trigram_frac_udf,
        sql_dup_trigram_frac,
        sql_dup_trigrams,
    )

    docs = [
        (1, "\tx x x x x x"),
        (2, " \t spaced\ttabs \n mixed x x x "),
        (3, None),
        (4, "plain old text with no tricks at all"),
    ]
    df = spark.createDataFrame(docs, "doc_id INT, text STRING")
    hof = {
        r.doc_id: r.f
        for r in df.select(
            "doc_id", dup_trigram_frac(F.col("text")).alias("f")
        ).collect()
    }
    udf = {
        r.doc_id: r.f
        for r in df.select(
            "doc_id", dup_trigram_frac_udf()(F.col("text")).alias("f")
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t(doc_id INT, text VARCHAR)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?)", docs)
    oracle = dict(
        con.sql(
            f"SELECT doc_id, {sql_dup_trigram_frac(sql_dup_trigrams('text'), 'text')} FROM t"
        ).fetchall()
    )
    for i, _ in docs:
        assert udf[i] == pytest.approx(hof[i]), (i, udf[i], hof[i])
        assert udf[i] == pytest.approx(oracle[i]), (i, udf[i], oracle[i])
    assert hof[3] == 0.0


def test_winnow_chunking_with_outlier_doc(spark, monkeypatch):
    """Review regression: one huge document must not blow up the whole
    batch matrix — the kernel chunks by sorted length. Force tiny
    chunks and assert results still match the HOF spelling."""
    from extra_ops import dedup as D

    monkeypatch.setattr(D, "_W_CHUNK_BUDGET", 500)
    texts = ["short one", "tiny", "x" * 2000, "medium sized text here", ""]
    df = spark.createDataFrame(list(enumerate(texts)), "id INT, txt STRING")
    hof = {
        r["id"]: sorted(r["fps"])
        for r in D.with_winnow_fps(df, "txt", "fps").collect()
    }
    # run the chunked kernel driver-side (monkeypatching doesn't reach
    # executor pickles reliably; the kernel is pure-python here)
    import pandas as pd

    got = {}
    for idx, S, keep in D._winnow_chunks(pd.Series(texts), 5, 4):
        for r, i in enumerate(idx):
            got[int(i)] = sorted(S[r, keep[r]].tolist()) if S.shape[1] else []
    for i in range(len(texts)):
        assert got.get(i, []) == hof[i], i


def test_bm25_matches_python_reference(spark):
    """bm25_scores equals a from-scratch python BM25 on a toy corpus;
    docs without any query term produce no row."""
    import math

    from extra_ops.text import bm25_scores

    corpus = [
        (0, "fast scan fast merge table"),
        (1, "slow seq join"),
        (2, "fast fast fast fast"),
        (3, "merge sort merge sort scan"),
        (4, ""),
    ]
    q = ("fast", "merge")
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {r.doc_id: r.bm25 for r in bm25_scores(df, "text", "doc_id", q).collect()}
    assert set(got) == {0, 2, 3}  # 1 and 4 have no query-term hits

    k1, b = 1.2, 0.75
    docs = {i: t.split() for i, t in corpus}
    n = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n
    dft = {t: sum(1 for d in docs.values() if t in d) for t in q}
    for i, toks in docs.items():
        s = 0.0
        for t in q:
            tf = toks.count(t)
            if not tf:
                continue
            idf = math.log((n - dft[t] + 0.5) / (dft[t] + 0.5) + 1.0)
            s += idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * len(toks) / avgdl))
        if i in got:
            assert abs(got[i] - s) < 1e-12, (i, got[i], s)


def test_pii_counts_and_redaction_three_way_parity(spark):
    """The scrub pass's entire risk is regex-dialect divergence: Spark
    (Java regex), DuckDB (RE2) and the python-re reference must agree
    on counts AND on the redacted bytes for adversarial inputs —
    multiple matches, URL userinfo, unicode neighbors, parens/dashes in
    phones, and clean text."""
    import re

    import duckdb

    from extra_ops.text import (
        PII_REDACTION,
        PII_EMAIL,
        PII_PHONE,
        PII_URL,
        pii_count_cols,
        redact_pii,
        sql_pii_counts,
        sql_redact_pii,
    )

    samples = [
        (0, "mail a.b-c_d%x+1@sub-2.example.co.uk and other@ex.io now"),
        (1, "https://user:pw@host.example/path?q=a@b.cd#frag plus http://x.y"),
        (2, "call +44 (0) 20-7946 0958 or (555) 010 4242 done"),
        (3, "unicode café naïve @ not-an-email http:// notaurl 12345"),
        (4, "edge: a@b.cd. end, tel 00000042, url https://e.f/g,h"),
        (5, "completely clean text with no contact details at all"),
    ]
    df = spark.createDataFrame(samples, "id long, t string")
    got = {
        r.id: (r.n_pii_email, r.n_pii_url, r.n_pii_phone, r.red)
        for r in df.select(
            "id", *pii_count_cols(F.col("t")), redact_pii(F.col("t")).alias("red")
        ).collect()
    }
    con = duckdb.connect()
    con.register("s", pd.DataFrame(samples, columns=["id", "t"]))
    duck = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(
            f"SELECT id, {', '.join(sql_pii_counts('t'))}, "
            f"{sql_redact_pii('t')} AS red FROM s"
        ).fetchall()
    }
    assert got == duck
    for i, s in samples:
        red = s
        for pat, tag in PII_REDACTION:
            red = re.sub(pat, tag, red)
        counts = (
            len(re.findall(PII_EMAIL, s)),
            len(re.findall(PII_URL, s)),
            len(re.findall(PII_PHONE, s)),
        )
        assert got[i] == (*counts, red), (i, got[i], counts, red)
    # clean text is untouched; injected text carries no raw address
    assert got[5][3] == samples[5][1]
    assert "@" not in got[0][3].replace("[EMAIL]", "")


def test_dup_line_frac_three_way_parity(spark):
    import duckdb

    from extra_ops.text import (
        dup_line_frac,
        sql_dup_line_frac,
    )

    docs = [
        (1, "single line no newline"),
        (2, "a\nb\nc"),                       # all distinct -> 0.0
        (3, "x\nx\nx\nx"),                    # 4 lines, 1 distinct -> 0.75
        (4, "head\nboiler\nboiler\ntail"),    # 4 lines, 3 distinct -> 0.25
        (5, ""),                              # [''] -> 0.0
        (6, "a\n\n\nb"),                      # duplicate EMPTY lines count
        (7, "trail\n"),                       # trailing empty kept -> 0.0
        (8, None),                            # NULL contract -> 0.0
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: r.f
        for r in df.select("doc_id", dup_line_frac(F.col("text")).alias("f")).collect()
    }

    def ref(t):
        if t is None:
            return 0.0
        lines = t.split("\n")
        return (len(lines) - len(set(lines))) / len(lines)

    for i, t in docs:
        assert got[i] == pytest.approx(ref(t)), (i, t)
    assert got[3] == 0.75 and got[4] == 0.25 and got[6] == 0.25

    con = duckdb.connect()
    vals = ", ".join(
        f"({i}, {'NULL' if t is None else repr(t)})" for i, t in docs
    ).replace("\\n", "' || chr(10) || '")
    duck = {
        i: f
        for i, f in con.execute(
            f"SELECT doc_id, {sql_dup_line_frac('text')} AS f "
            f"FROM (VALUES {vals}) AS t(doc_id, text)"
        ).fetchall()
    }
    assert duck == got


def test_bpe_token_count_three_way_parity(spark):
    import re as _re

    import duckdb

    from extra_ops.text import (
        BPE_SEGMENT_RE,
        bpe_token_count,
        sql_bpe_token_count,
    )

    docs = [
        (1, "Hello world"),
        (2, "it's Bob's, isn't it? they're we've I'm you'll I'd"),
        (3, "price: $1,234.56 (20% off!!) -- order #42"),
        (4, "  leading and   multiple    spaces\tand\ttabs\n\nnewlines  "),
        (5, "CamelCaseRuns and snake_case_mixed123abc"),
        (6, "unicode: café naïve — em-dash … ellipsis 😀 emoji"),
        (7, ""),
        (8, None),
        (9, "'s's's"),           # contraction alternation stress
        (10, "a'x b'11 c'"),     # apostrophe NOT followed by a suffix
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: r.n
        for r in df.select(
            "doc_id", bpe_token_count(F.col("text")).alias("n")
        ).collect()
    }

    # python reference: same pattern string, same semantics
    pat = _re.compile(BPE_SEGMENT_RE)
    for i, t in docs:
        expect = 0 if t is None else len(pat.findall(t))
        assert got[i] == expect, (i, t)

    con = duckdb.connect()

    def lit(t):
        if t is None:
            return "NULL"
        body = t.replace("'", "''").replace("\t", "' || chr(9) || '").replace(
            "\n", "' || chr(10) || '"
        )
        return f"'{body}'"

    vals = ", ".join(f"({i}, {lit(t)})" for i, t in docs)
    duck = {
        i: n
        for i, n in con.execute(
            f"SELECT doc_id, {sql_bpe_token_count('text')} AS n "
            f"FROM (VALUES {vals}) AS t(doc_id, text)"
        ).fetchall()
    }
    assert duck == got
    # sanity anchors: counts include whitespace-run segments
    assert got[1] == 2 and got[7] == 0 and got[8] == 0


def test_bigram_lm_scores_matches_python_and_duckdb(spark):
    import math

    import duckdb

    from extra_ops.text import (
        bigram_lm_scores,
        sql_bigram_lm,
    )

    docs = [
        (1, "the cat sat on the mat"),
        (2, "the the the the"),
        (3, "zzqxj zzqxj"),
        (4, "a"),        # < 2 chars: no row
        (5, ""),         # empty: no row
        (6, "on the mat the cat sat"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in bigram_lm_scores(df).collect()}
    assert set(got) == {1, 2, 3, 6}

    # python reference
    cnt: dict = {}
    for _, t in docs:
        for i in range(len(t) - 1):
            cnt[t[i : i + 2]] = cnt.get(t[i : i + 2], 0) + 1
    tot: dict = {}
    for bg, c in cnt.items():
        tot[bg[0]] = tot.get(bg[0], 0) + c
    v = len({bg[1] for bg in cnt})
    for did, t in docs:
        bgs = [t[i : i + 2] for i in range(len(t) - 1)]
        if not bgs:
            assert did not in got
            continue
        r = got[did]
        assert r.n_bigrams == len(bgs)
        assert r.lm_mass == sum(cnt[b] for b in bgs)
        ref = sum(
            math.log((cnt[b] + 1) / (tot[b[0]] + v)) for b in bgs
        ) / len(bgs)
        assert abs(r.lm_avg_logp - ref) < 1e-12, did

    # duckdb twin over the same rows (as the documents view)
    con = duckdb.connect()
    vals = ", ".join(f"({i}, '{t}')" for i, t in docs)
    con.execute(f"CREATE VIEW documents AS SELECT * FROM (VALUES {vals}) t(doc_id, text)")
    duck = {
        r[0]: r
        for r in con.execute(
            f"WITH {sql_bigram_lm()} SELECT * FROM lm"
        ).fetchall()
    }
    assert set(duck) == set(got)
    for did in got:
        assert duck[did][1] == got[did].n_bigrams
        assert duck[did][2] == got[did].lm_mass
        assert abs(duck[did][3] - got[did].lm_avg_logp) < 1e-12


def _bpe_ref(texts, n_merges):
    """Sequential reference BPE (Sennrich): greedy left-to-right merge
    application, (count DESC, a, b) argmax."""
    from collections import Counter

    wf = Counter(
        w for t in texts for w in t.strip().lower().split() if w
    )
    seg = {w: list(w) for w in wf}
    merges = []
    for _ in range(n_merges):
        pc = Counter()
        for w, syms in seg.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += wf[w]
        if not pc:
            break
        (a, b), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, n))
        for w, syms in seg.items():
            out = [syms[0]] if syms else []
            for x in syms[1:]:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            seg[w] = out
    return merges, seg, wf


def test_bpe_train_matches_reference_and_duckdb(spark):
    import duckdb

    from extra_ops.text import (
        bpe_train,
        sql_bpe_ctes,
    )

    texts = [
        "the cat sat on the mat",
        "the mat that the cat sat on",
        "aaa aaaa banana bandana",
        "x",
        "thethethe",
    ]
    n_merges = 5
    ref_merges, ref_seg, ref_wf = _bpe_ref(texts, n_merges)

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    merges, seg = bpe_train(df, n_merges=n_merges)
    assert merges == ref_merges
    got_seg = {r.w: list(r.syms) for r in seg.collect()}
    assert got_seg == ref_seg
    # greedy non-overlap contract visible in the data: 'aaa' under an
    # ('a','a') merge must become ['aa','a'], never ['aa','aa']
    if ("a", "a") in [(a, b) for a, b, _ in merges[:1]]:
        assert got_seg["aaa"][0] == "aa"

    con = duckdb.connect()
    vals = ", ".join(f"({i}, '{t}')" for i, t in enumerate(texts))
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM (VALUES {vals}) t(doc_id, text)"
    )
    row = con.execute(
        f"WITH {sql_bpe_ctes(n_merges)} SELECT * FROM bpe"
    ).fetchdf().iloc[0]
    for r, (a, b, n) in enumerate(ref_merges):
        assert (row[f"m{r}_a"], row[f"m{r}_b"], row[f"m{r}_n"]) == (a, b, n), r
    assert row["tokens_before"] == sum(len(w) * c for w, c in ref_wf.items())
    assert row["tokens_after"] == sum(
        len(s) * ref_wf[w] for w, s in ref_seg.items()
    )
    got_after = seg.selectExpr("sum(wf * size(syms)) AS t").collect()[0].t
    assert got_after == row["tokens_after"]


def test_soundex_published_vectors(spark):
    from extra_ops.text import soundex_expr

    vectors = [
        ("Robert", "R163"), ("Rupert", "R163"),
        ("Ashcraft", "A261"), ("Ashcroft", "A261"),   # the h/w merge
        ("Tymczak", "T522"), ("Pfister", "P236"),     # first-letter merge
        ("Honeyman", "H555"), ("Jackson", "J250"),
        ("A", "A000"), ("Lee", "L000"), ("Gutierrez", "G362"),
        ("o'Brien", "O165"), ("12 3", None),          # cleanup + empty
    ]
    df = spark.createDataFrame(
        [(w,) for w, _ in vectors], "w string"
    ).select("w", soundex_expr(F.col("w")).alias("sx"))
    got = {r.w: r.sx for r in df.collect()}
    for w, want in vectors:
        assert got[w] == want, (w, got[w], want)


def test_soundex_duckdb_twin_parity(spark):
    duckdb = pytest.importorskip("duckdb")
    from extra_ops.text import (
        soundex_expr,
        sql_soundex,
    )

    words = [
        "Robert", "Rupert", "Ashcraft", "Tymczak", "Pfister", "Honeyman",
        "Wheeler", "Hwang", "Washington", "Wu", "Czarkowska", "Schmidt",
        "lowercase", "MiXeD", "O'Malley-Smith", "Aeiouy", "Hhhh", "",
    ]
    sdf = spark.createDataFrame([(w,) for w in words], "w string")
    srows = {r.w: r.sx for r in sdf.select(
        "w", soundex_expr(F.col("w")).alias("sx")).collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join("('{}')".format(w.replace("'", "''")) for w in words)
        + ") v(w)"
    )
    orows = dict(con.execute(
        f"SELECT w, {sql_soundex('w')} AS sx FROM t"
    ).fetchall())
    for w in words:
        assert srows[w] == orows[w], (w, srows[w], orows[w])


def test_url_canonicalize_vectors(spark):
    from extra_ops.text import url_canonicalize

    vectors = [
        ("HTTP://Example.COM/Path/a?x=1#frag", "http://example.com/Path/a?x=1"),
        ("https://A.B/p?utm_source=x&y=2", "https://a.b/p?y=2"),
        ("https://a.b/p?utm_a=1&utm_b=2", "https://a.b/p"),
        ("https://a.b/p?y=2&utm_c=3", "https://a.b/p?y=2"),
        ("https://a.b/dir/", "https://a.b/dir"),
        ("https://a.b/", "https://a.b"),
        ("https://a.b/CaseKept/Q?Z=1", "https://a.b/CaseKept/Q?Z=1"),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(vectors)], "i long, u string"
    ).select("i", url_canonicalize(F.col("u")).alias("c"))
    got = {r.i: r.c for r in df.collect()}
    for i, (_, want) in enumerate(vectors):
        assert got[i] == want, (i, got[i], want)


def test_url_canonicalize_duckdb_twin_parity(spark):
    duckdb = pytest.importorskip("duckdb")
    from extra_ops.text import (
        sql_url_canonicalize,
        url_canonicalize,
    )

    urls = [
        "HTTP://Example.COM/Path/a?x=1#frag",
        "https://A.B/p?utm_source=x&y=2",
        "https://a.b/p?utm_a=1&utm_b=2&z=9",
        "https://a.b/p?y=2&utm_c=3#x?y",
        "https://a.b/dir/", "https://a.b", "https://a.b/?utm_only=1",
        "http://H.Co:8080/UPPER/path/?utm_x=1&keep=2#f",
    ]
    sdf = spark.createDataFrame([(u,) for u in urls], "u string")
    srows = {r.u: r.c for r in sdf.select(
        "u", url_canonicalize(F.col("u")).alias("c")).collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"('{u}')" for u in urls) + ") v(u)"
    )
    orows = dict(con.execute(
        f"SELECT u, {sql_url_canonicalize('u')} AS c FROM t"
    ).fetchall())
    for u in urls:
        assert srows[u] == orows[u], (u, srows[u], orows[u])


# ---------------------------------------------------------------------------
# character-entropy quality screen (text.char_entropy_cols)
# ---------------------------------------------------------------------------

import math

from extra_ops.text import (  # noqa: E402
    ENTROPY_ALPHABET,
    char_entropy_cols,
    sql_char_entropy,
)


def _entropy_python(t):
    n = len(t)
    counts = [t.count(c) for c in ENTROPY_ALPHABET]
    other = n - sum(counts)
    terms = counts + [other]
    dist = sum(1 for c in terms if c > 0)
    if n == 0:
        return (0, dist, None)
    s = 0.0
    for c in terms:
        if c > 0:
            s = s + float(c) * math.log(float(c))
    return (n, dist, math.log(float(n)) - s / float(n))


def test_char_entropy_hand_and_edges(spark):
    import pyspark.sql.functions as F

    texts = [
        "",                      # empty: h null
        "aaaa",                  # single tracked char: h == 0
        "zzzz",                  # single OTHER char: h == 0
        "the rain in spain",     # mixed
        "ab" * 50,               # two-symbol: h == ln(2) exactly-ish
    ]
    df = spark.createDataFrame([{"i": i, "t": t} for i, t in enumerate(texts)])
    out = {
        r["i"]: (r["ce_n"], r["ce_distinct"], r["ce_h"])
        for r in df.select("i", *char_entropy_cols(F.col("t"))).collect()
    }
    assert out[0] == (0, 0, None)
    assert out[1][2] == 0.0 and out[2][2] == 0.0
    assert abs(out[4][2] - math.log(2)) < 1e-12
    for i, t in enumerate(texts):
        n, d, h = _entropy_python(t)
        assert out[i][0] == n and out[i][1] == d, i
        if h is None:
            assert out[i][2] is None
        else:
            assert abs(out[i][2] - h) < 1e-9, i


def test_char_entropy_duckdb_twin_parity(spark):
    import duckdb
    import pyspark.sql.functions as F

    texts = [
        "", "aaaa", "The quick brown fox!", "  spaces  ",
        "entropy entropy entropy", "??!!~~##", "a", "z",
        "mixed CASE Text With 123 and  double  spaces",
    ]
    df = spark.createDataFrame([{"i": i, "t": t} for i, t in enumerate(texts)])
    got = {
        r["i"]: (r["ce_n"], r["ce_distinct"], r["ce_h"])
        for r in df.select("i", *char_entropy_cols(F.col("t"))).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE tt AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in enumerate(texts))
        + ") v(i, t)"
    )
    sq = sql_char_entropy("t")
    want = con.execute(
        f"SELECT i, {sq['ce_n']} AS n, {sq['ce_distinct']} AS d,"
        f" {sq['ce_h']} AS h FROM tt ORDER BY i"
    ).fetchall()
    for i, n, d, h in want:
        gn, gd, gh = got[i]
        assert (gn, gd) == (n, d), i
        if h is None:
            assert gh is None
        else:
            assert abs(gh - h) < 1e-12, i
