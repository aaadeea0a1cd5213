"""IVF ANN + embedding near-dup pairs."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from extra_ops.similarity import (
    cosine_topk_bruteforce,
    embedding_near_dup_pairs,
    ivf_topk,
)

DIM = 16


@pytest.fixture(scope="module")
def clustered_items(spark):
    """Items with cluster structure (IVF's sweet spot) + planted near-dups."""
    rng = np.random.default_rng(9)
    centers = rng.standard_normal((8, DIM)) * 4
    rows, ids = [], []
    for i in range(600):
        c = centers[i % 8]
        rows.append((c + rng.standard_normal(DIM)).astype(np.float32))
        ids.append(i)
    # planted near-duplicates of items 0..4 (tiny noise)
    for j in range(5):
        rows.append((np.asarray(rows[j]) + rng.standard_normal(DIM) * 1e-3).astype(np.float32))
        ids.append(1000 + j)
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": ids, "embedding": list(map(list, rows))})
    ).persist()


def test_ivf_recall(spark, clustered_items):
    items = clustered_items
    queries = items.filter(F.col("vec_id") < 10).withColumnRenamed("vec_id", "query_id")
    k = 10
    exact = {}
    for r in cosine_topk_bruteforce(queries, items, k).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)
    approx = {}
    for r in ivf_topk(queries, items, k, DIM, n_centroids=8, nprobe=3).collect():
        approx.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [len(exact[q] & approx.get(q, set())) / k for q in exact]
    assert np.mean(recalls) >= 0.8, recalls


def test_embedding_near_dup(spark, clustered_items):
    got = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(clustered_items, 0.999, DIM).collect()
    }
    for j in range(5):
        assert (j, 1000 + j) in got, (j, got)
    # exactness: every reported pair really is >= threshold (no false pos)
    brute = clustered_items.toPandas()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in brute.itertuples(index=False, name="R")}
    for a, b in got:
        va, vb = vecs[a], vecs[b]
        cos = va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))
        assert cos >= 0.999 - 1e-9


def test_time_travel(spark, tmp_path):
    import pandas as pd

    from osm_replication_rust_spark.operators.merge import TableStore

    base = spark.createDataFrame(pd.DataFrame({"image_id": ["a"], "caption": ["c0"], "phash": [1]}))
    store = TableStore(spark, str(tmp_path / "t"))
    store.init(base)
    ch = spark.createDataFrame(
        pd.DataFrame({"image_id": ["a"], "action": ["modify"], "seq": [0], "new_caption": ["c1"], "new_phash": [None]}).astype({"new_phash": "object"})
    )
    store.apply_batch(3, ch)
    assert store.as_of(0).collect()[0].caption == "c0"
    assert store.as_of(2).collect()[0].caption == "c0"  # newest <= 2 is v0
    assert store.as_of(3).collect()[0].caption == "c1"
    assert store.as_of(99).collect()[0].caption == "c1"
    with pytest.raises(ValueError):
        store.as_of(-1)


def test_lloyd_refine_matches_numpy_and_improves_cost(spark, clustered_items):
    """Distributed exact-integer Lloyd: must equal a from-scratch numpy
    reference (assignment by exact int L2, floor-divided integer means,
    empty clusters keep their seed), and must not increase quantization
    cost on the clustered fixture (Lloyd's monotonicity)."""
    from extra_ops.similarity import (
        _emb_matrix,
        _quantize,
        lloyd_refine_centroids,
    )

    pdf = clustered_items.orderBy("vec_id").toPandas()
    mat = _emb_matrix(pdf["embedding"])
    vq = _quantize(mat)
    seeds = vq[:6].copy()
    # plant an empty cluster: a far-away centroid nothing assigns to
    seeds[5] = 10_000_000

    got = lloyd_refine_centroids(clustered_items, seeds, iters=1)

    # numpy reference
    d = ((vq[:, None, :] - seeds[None, :, :]) ** 2).sum(axis=2)
    a = np.argmin(d, axis=1)
    ref = seeds.copy()
    for j in range(6):
        m = a == j
        if m.any():
            s = vq[m].sum(axis=0)
            n = int(m.sum())
            ref[j] = np.floor_divide(s, n)
    assert (got == ref).all()
    assert (got[5] == seeds[5]).all()  # empty cluster untouched

    def cost(cents):
        dd = ((vq[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        return dd.min(axis=1).sum()

    assert cost(got) <= cost(seeds)

    # a second iteration keeps improving (or plateaus), and the loop
    # form produces the same result as two chained single iterations
    two = lloyd_refine_centroids(clustered_items, seeds, iters=2)
    chained = lloyd_refine_centroids(clustered_items, got, iters=1)
    assert (two == chained).all()
    assert cost(two) <= cost(got)
    with pytest.raises(ValueError, match=">= 1"):
        lloyd_refine_centroids(clustered_items, seeds, iters=0)
