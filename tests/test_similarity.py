"""Similarity search: brute-force cosine vs numpy oracle; LSH ANN recall."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from extra_ops.similarity import (
    ann_lsh_topk,
    cosine_topk_bruteforce,
)

DIM = 16


def make_vecs(n, seed):
    rng = np.random.default_rng(seed)
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    return v


@pytest.fixture(scope="module")
def items(spark):
    v = make_vecs(800, 1)
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(800), "embedding": list(map(list, v))})
    ).persist()


@pytest.fixture(scope="module")
def queries(spark):
    v = make_vecs(10, 2)
    return spark.createDataFrame(
        pd.DataFrame({"query_id": np.arange(10), "embedding": list(map(list, v))})
    ).persist()


def numpy_topk(qv, iv, k):
    qs = qv / np.linalg.norm(qv, axis=1, keepdims=True)
    its = iv / np.linalg.norm(iv, axis=1, keepdims=True)
    sims = qs @ its.T
    out = {}
    for qi in range(len(qv)):
        order = np.lexsort((np.arange(len(iv)), -sims[qi]))[:k]
        out[qi] = list(order)
    return out


def test_bruteforce_vs_numpy(spark, items, queries):
    k = 10
    want = numpy_topk(make_vecs(10, 2), make_vecs(800, 1), k)
    got = {}
    for r in cosine_topk_bruteforce(queries, items, k).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.vec_id))
    got = {q: [v for _, v in sorted(rs)] for q, rs in got.items()}
    assert got == want


def test_ann_recall(spark, items, queries):
    k = 10
    exact = {}
    for r in cosine_topk_bruteforce(queries, items, k).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)
    approx = {}
    for r in ann_lsh_topk(queries, items, k, DIM, n_tables=12, n_bits=6).collect():
        approx.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [
        len(exact[q] & approx.get(q, set())) / k for q in exact
    ]
    assert np.mean(recalls) >= 0.7, recalls  # tunable accuracy/cost knob
    # rank-1 (nearest item) almost always survives multi-table LSH
    top1_exact = {
        r.query_id: r.vec_id
        for r in cosine_topk_bruteforce(queries, items, 1).collect()
    }
    hit = sum(1 for q, v in top1_exact.items() if v in approx.get(q, set()))
    assert hit >= 8


def _pq_ref(items_v, queries_v, cb):
    """numpy reference of pq_topk's encode + ADC ranking."""
    m, ksub, dsub = cb.shape
    iq = np.round(np.asarray(items_v, dtype=np.float64) * 1000).astype(np.int64)
    qq = np.round(np.asarray(queries_v, dtype=np.float64) * 1000).astype(np.int64)
    isub = iq.reshape(len(iq), m, dsub)
    codes = np.argmin(
        ((isub[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(axis=3), axis=2
    )
    qsub = qq.reshape(len(qq), m, dsub)
    qtab = ((qsub[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(axis=3)
    out = {}
    for qi in range(len(qq)):
        d2 = np.array(
            [sum(qtab[qi, j, codes[ii, j]] for j in range(m)) for ii in range(len(iq))]
        )
        order = sorted(range(len(iq)), key=lambda ii: (d2[ii], ii))
        out[qi] = [(ii, int(d2[ii])) for ii in order]
    return out


def test_pq_topk_matches_numpy_and_self_zero(spark):
    from extra_ops.similarity import pq_topk

    m, ksub, dsub = 4, 8, 4
    dim = m * dsub
    rng = np.random.default_rng(21)
    iv = rng.standard_normal((120, dim)).astype(np.float32)
    cb_src = np.round(iv[:ksub].astype(np.float64) * 1000).astype(np.int64)
    cb = np.stack([cb_src[:, j * dsub : (j + 1) * dsub] for j in range(m)])
    qv = iv[:6]  # queries include codebook source vectors

    items = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(120), "embedding": list(map(list, iv))})
    )
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": np.arange(6), "embedding": list(map(list, qv))})
    )
    k = 5
    got = {}
    for r in pq_topk(queries, items, cb, k=k, dim=dim).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.pq_d2))
    ref = _pq_ref(iv, qv, cb)
    for qi in range(6):
        exp = [(rk + 1, ii, d2) for rk, (ii, d2) in enumerate(ref[qi][:k])]
        assert sorted(got[qi]) == exp, qi
    # a codebook-source vector quantizes losslessly: its own ADC
    # distance is exactly 0 and it ranks first (ties -> lowest id)
    for qi in range(6):
        rk1 = min(got[qi])
        assert rk1[2] == 0 and rk1[1] == qi


def test_pq_codebook_validation(spark):
    from extra_ops.similarity import pq_topk

    items = spark.createDataFrame(
        pd.DataFrame({"vec_id": [0], "embedding": [[0.0] * 16]})
    )
    bad = np.zeros((4, 8, 5), dtype=np.int64)  # 4*5 != 16
    with pytest.raises(ValueError):
        pq_topk(items, items.withColumnRenamed("vec_id", "query_id"), bad, k=1, dim=16)


def test_pca_power_top_matches_numpy_and_duckdb(spark):
    import hashlib

    import duckdb
    import numpy as np

    from extra_ops.similarity import (
        _quantize,
        pca_gram,
        pca_power_top,
        sql_pca_ctes,
    )

    rng = np.random.default_rng(3)
    dim, n = 6, 80
    # anisotropic cloud with a clear dominant direction
    base = rng.normal(0, 0.05, (n, dim))
    base[:, 2] += rng.normal(0, 0.9, n)
    base[:, 4] += 0.5 * base[:, 2]
    emb = [(i, [float(x) for x in base[i]]) for i in range(n)]
    df = spark.createDataFrame(emb, "vec_id long, embedding array<float>")

    # Gram agg == numpy outer-product sum over the quantized ints
    q = _quantize(np.array([r[1] for r in emb], dtype=np.float64))
    Gref = q.T.astype(object) @ q.astype(object)
    got_g = {(r.gi, r.gj): int(r.g) for r in pca_gram(df, dim).collect()}
    for i in range(dim):
        for j in range(dim):
            assert got_g[(i, j)] == int(Gref[i, j]), (i, j)

    v, eig, gtrace, it = pca_power_top(df, dim, iters=12)
    assert gtrace == sum(int(Gref[i, i]) for i in range(dim))
    # direction approximates numpy's top eigenvector (cosine ~ 1)
    wn, vn = np.linalg.eigh(np.array(Gref, dtype=np.float64))
    top = vn[:, -1]
    u = np.array(v, dtype=np.float64)
    cos = abs(u @ top) / (np.linalg.norm(u) * np.linalg.norm(top))
    assert cos > 0.9999
    assert abs(eig - wn[-1]) / wn[-1] < 1e-4

    # DuckDB twin: identical iterate (signature), v components, eig
    con = duckdb.connect()
    vals = ", ".join(
        "(" + str(i) + ", [" + ",".join(f"{x}::FLOAT" for x in e) + "])"
        for i, e in emb
    )
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM (VALUES {vals}) t(vec_id, embedding)"
    )
    row = con.execute(
        f"WITH {sql_pca_ctes(dim, iters=12)} SELECT * FROM pca"
    ).fetchone()
    sig = hashlib.md5(
        ",".join(f"{i}:{x}" for i, x in enumerate(v)).encode()
    ).hexdigest()
    assert row[1] == sig
    assert (row[2], row[3], row[4]) == (str(v[0]), str(v[1]), str(v[2]))
    assert abs(row[0] - eig) < 1e-12
    assert row[5] == str(gtrace)


def test_kcenter_greedy_matches_bruteforce(spark):
    """Gonzalez farthest-point selection == a brute python reference
    on a planted 3-cluster layout: the first 3 picks land one per
    cluster, radii are non-increasing."""
    import numpy as np

    from extra_ops.similarity import kcenter_greedy

    rng = np.random.default_rng(97)
    centers = np.array([[0.0] * 8, [10.0] * 8, [-10.0] * 8])
    rows = []
    for i in range(60):
        c = centers[i % 3] + rng.normal(0, 0.05, 8)
        rows.append((i, [float(x) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sel = kcenter_greedy(df, k=4)

    # brute reference over the same quantization
    def q(v):
        import numpy as _np

        x = _np.asarray(v, dtype=_np.float64) * 1000
        r = _np.rint(x)
        half = _np.abs(x - _np.trunc(x)) == 0.5
        return _np.where(half, _np.trunc(x) + _np.sign(x), r).astype(int)

    qs = {i: q([float(np.float32(x)) for x in v]) for i, v in rows}
    chosen = [min(qs)]
    ref = [(chosen[0], None)]
    for _ in range(3):
        best = None
        for i in sorted(qs):
            d2 = min(int(((qs[i] - qs[c]) ** 2).sum()) for c in chosen)
            if best is None or d2 > best[1]:
                best = (i, d2)
        chosen.append(best[0])
        ref.append(best)
    assert sel == ref
    # one pick per planted cluster among the first three
    assert {i % 3 for i, _ in sel[:3]} == {0, 1, 2}
    radii = [r for _, r in sel[1:]]
    assert radii == sorted(radii, reverse=True)
    # k validation
    import pytest as _pytest

    with _pytest.raises(ValueError):
        kcenter_greedy(df, k=0)


# ---------------------------------------------------------------------------
# multi-probe LSH (similarity.ann_lsh_topk multiprobe=True)
# ---------------------------------------------------------------------------


def test_multiprobe_improves_recall_and_twin_matches(spark):
    import duckdb
    import numpy as np
    import pyspark.sql.functions as F

    from extra_ops.similarity import (
        _emb_matrix,
        _hyperplanes,
        _quantize,
        ann_lsh_topk,
        lsh_probe_bucket_udf,
        sql_lsh_probe_buckets,
        sql_quantized,
    )

    path = "/root/testdata/sf0.01/embeddings.parquet"
    emb = spark.read.parquet(path)
    q = emb.filter(F.col("vec_id") < 10).withColumnRenamed("vec_id", "query_id")

    def recall(mp):
        out = ann_lsh_topk(
            q, emb, k=5, dim=64, n_tables=8, n_bits=8,
            rank_by="dot_q", multiprobe=mp,
        ).collect()
        got = {}
        for r in out:
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        # exact truth by quantized dot
        import pandas as pd

        pdf = emb.orderBy("vec_id").toPandas()
        vq = _quantize(_emb_matrix(pdf["embedding"]))
        ids = pdf["vec_id"].to_numpy()
        dots = vq[:10] @ vq.T
        tot = 0
        for qi in range(10):
            order = sorted(range(len(ids)), key=lambda i: (-dots[qi, i], ids[i]))
            tot += len(got.get(qi, set()) & {int(ids[i]) for i in order[:5]})
        return tot

    r0, r1 = recall(False), recall(True)
    assert r1 > r0, (r0, r1)  # measured 20 -> 29 of 50 on this fixture
    # probe-bucket parity: Spark UDF vs DuckDB twin on 50 vectors
    sub = emb.filter(F.col("vec_id") < 50)
    pudf = lsh_probe_bucket_udf(spark, 64, 8, 8)
    got = {
        r["vec_id"]: [p[1] for p in r["pb"]]
        for r in sub.select("vec_id", pudf(F.col("embedding")).alias("pb")).collect()
    }
    con = duckdb.connect()
    probes = sql_lsh_probe_buckets(64, 8, 8, vec="v")
    rows = con.execute(
        f"SELECT vec_id, {', '.join(probes)} FROM "
        f"(SELECT vec_id, {sql_quantized('embedding')} AS v "
        f"FROM read_parquet('{path}') WHERE vec_id < 50)"
    ).fetchall()
    for row in rows:
        assert got[row[0]] == list(row[1:]), row[0]


# ---------------------------------------------------------------------------
# composed IVF-PQ index (similarity.ivfpq_topk)
# ---------------------------------------------------------------------------


def test_ivfpq_equals_pq_on_probed_lists_and_recall_tunes(spark):
    from extra_ops.similarity import (
        _quantize,
        ivfpq_topk,
        pq_topk,
    )

    m, ksub, dsub = 4, 8, 4
    dim = m * dsub
    rng = np.random.default_rng(23)
    iv = rng.standard_normal((200, dim)).astype(np.float32)
    cb_src = np.round(iv[:ksub].astype(np.float64) * 1000).astype(np.int64)
    cb = np.stack([cb_src[:, j * dsub : (j + 1) * dsub] for j in range(m)])
    # coarse quantizer: 8 data vectors as centroids (quantized space)
    cents_q = _quantize(iv[10:18].astype(np.float64))
    qv = iv[:6]
    items = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(200), "embedding": list(map(list, iv))})
    )
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": np.arange(6), "embedding": list(map(list, qv))})
    )
    k = 5

    def run(nprobe):
        out = {}
        for r in ivfpq_topk(
            queries, items, cb, k=k, dim=dim, nprobe=nprobe,
            centroids_q=cents_q,
        ).collect():
            out.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.pq_d2))
        return out

    # nprobe = ALL lists == plain PQ over everything
    full = run(8)
    want = {}
    for r in pq_topk(queries, items, cb, k=k, dim=dim).collect():
        want.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.pq_d2))
    assert {q: sorted(v) for q, v in full.items()} == {
        q: sorted(v) for q, v in want.items()
    }
    # candidate reference: python routing of items + queries
    iq = np.round(iv.astype(np.float64) * 1000).astype(np.int64)
    qq = np.round(qv.astype(np.float64) * 1000).astype(np.int64)

    def nearest_lists(v, n):
        d = ((cents_q[None, :, :] - v[:, None, :]) ** 2).sum(axis=2)
        return np.argsort(d + np.arange(len(cents_q))[None, :] * 0, kind="stable")[:, :n]

    assign = nearest_lists(iq, 1)[:, 0]
    small = run(2)
    for qi in range(6):
        probed = set(nearest_lists(qq[qi:qi+1], 2)[0])
        for _, vid, _ in small.get(qi, []):
            assert assign[vid] in probed, (qi, vid)
    # recall vs the full-PQ ranking tunes UP with nprobe
    def hits(res):
        return sum(
            len({v for _, v, _ in res.get(q, [])}
                & {v for _, v, _ in want.get(q, [])})
            for q in range(6)
        )
    assert hits(run(2)) <= hits(run(4)) <= hits(full) == 30
