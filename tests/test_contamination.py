"""contamination_scores: benchmark decontamination n-gram overlap."""

import re

import pandas as pd

from extra_ops.contamination import contamination_scores

_WS = re.compile(r"\s+", re.ASCII)


def _shingles(text, n=3):
    """Python reference of the shared shingle contract (clamped tails,
    Java \\s tokenization, leading empties kept)."""
    if text is None:
        return None
    toks = _WS.split(text.strip(" "))
    m = max(len(toks) - n, 0) + 1
    return {" ".join(toks[j : j + n]) for j in range(m)}


def _ref(corpus, bench, n=3, thr=0.5):
    bsh = set()
    for t in bench.values():
        s = _shingles(t, n)
        if s:
            bsh |= s
    out = {}
    for i, t in corpus.items():
        s = _shingles(t, n)
        if s is None:
            out[i] = (0, 0, None, None)
            continue
        hit = len(s & bsh)
        frac = hit / len(s)
        out[i] = (len(s), hit, frac, frac >= thr)
    return out


def _dfs(spark, corpus, bench):
    schema = "doc_id long, text string"
    c = spark.createDataFrame(list(corpus.items()), schema)
    b = spark.createDataFrame(list(bench.items()), schema)
    return c, b


def test_contamination_planted_and_reference_parity(spark):
    bench = {
        100: "the quick brown fox jumps over the lazy dog",
        101: "pack my box with five dozen liquor jugs",
    }
    corpus = {
        1: bench[100],                                     # verbatim leak -> 1.0
        2: "zulu yankee xray whiskey victor uniform tango",  # disjoint -> 0.0
        3: "the quick brown fox sleeps all day long here",   # partial overlap
        4: None,                                            # NULL text
        5: "pack my box with five dozen liquor jugs extra words appended here",
    }
    c, b = _dfs(spark, corpus, bench)
    got = {
        r.doc_id: (r.n_shingles, r.n_contam, r.contam_frac, r.is_contaminated)
        for r in contamination_scores(c, b, "text", "doc_id", n=3, threshold=0.5).collect()
    }
    assert set(got) == set(corpus)
    ref = _ref(corpus, bench, n=3, thr=0.5)
    assert got == ref
    assert got[1][2] == 1.0 and got[1][3] is True
    assert got[2][2] == 0.0 and got[2][3] is False
    assert 0.0 < got[3][2] < 1.0
    assert got[4] == (0, 0, None, None)
    assert got[5][1] > 0


def test_contamination_random_corpus_matches_reference(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    vocab = [f"w{i}" for i in range(40)]
    corpus = {
        i: " ".join(rng.choice(vocab, size=int(rng.integers(1, 25))))
        for i in range(60)
    }
    bench = {i: corpus[i * 9] for i in range(5)}  # overlapping slices
    c, b = _dfs(spark, corpus, bench)
    got = {
        r.doc_id: (r.n_shingles, r.n_contam, r.contam_frac, r.is_contaminated)
        for r in contamination_scores(c, b, "text", "doc_id", n=3, threshold=0.2).collect()
    }
    assert got == _ref(corpus, bench, n=3, thr=0.2)


def test_contamination_empty_benchmark(spark):
    corpus = {1: "some ordinary text with several plain words"}
    c, _ = _dfs(spark, corpus, {0: "x"})
    b = c.filter("doc_id < 0")  # empty benchmark
    rows = contamination_scores(c, b, "text", "doc_id").collect()
    assert rows[0].n_contam == 0 and rows[0].contam_frac == 0.0
