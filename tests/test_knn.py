"""kNN: cell-ring expansion must agree exactly with brute force."""

import pandas as pd
import numpy as np
import pytest

from extra_ops.knn import knn_bruteforce, knn_cell_ring

M = 1_000_000


@pytest.fixture(scope="module")
def pts(spark):
    rng = np.random.default_rng(5)
    n = 3000
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "point_id": np.arange(n),
                "lat": rng.integers(-15 * M, 15 * M, n),
                "lon": rng.integers(-15 * M, 15 * M, n),
            }
        )
    ).persist()


@pytest.fixture(scope="module")
def qry(spark):
    rng = np.random.default_rng(6)
    n = 40
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": np.arange(n),
                # includes queries near the data edge (sparse rings force
                # expansion and the brute-force fallback)
                "lat": rng.integers(-20 * M, 20 * M, n),
                "lon": rng.integers(-20 * M, 20 * M, n),
            }
        )
    ).persist()


def test_cell_ring_equals_bruteforce(spark, pts, qry):
    k = 5
    want = {
        (r.query_id, r.rank): (r.point_id, r.dist2)
        for r in knn_bruteforce(qry, pts, k).collect()
    }
    got = {
        (r.query_id, r.rank): (r.point_id, r.dist2)
        for r in knn_cell_ring(qry, pts, k).collect()
    }
    assert got == want
    assert len({q for q, _ in got}) == 40  # every query answered
    assert all((q, r) in got for q in range(40) for r in range(1, k + 1))


def test_knn_more_than_available(spark, qry):
    tiny = spark.createDataFrame(
        pd.DataFrame({"point_id": [1, 2], "lat": [0, M], "lon": [0, M]})
    )
    got = knn_cell_ring(qry.limit(3), tiny, 5).collect()
    # only 2 points exist -> 2 ranks per query, via the fallback
    per_q = {}
    for r in got:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2] for v in per_q.values())


def test_knn_join_scale_shape(spark, pts):
    """kNN JOIN: the query side is the point table itself (every point
    finds its k nearest neighbours) — the shape a 100 TB all-pairs
    neighbour assignment runs. knn_cell_ring's ring certification must
    answer it exactly (vs brute force) with no reliance on the
    broadcast fallback for the bulk: assert most queries certify in
    the ring rounds."""
    k = 3
    q = pts.selectExpr("point_id AS query_id", "lat", "lon").filter(
        "query_id < 400"
    )
    want = {
        (r.query_id, r.rank): (r.point_id, r.dist2)
        for r in knn_bruteforce(q, pts, k).collect()
    }
    got = {
        (r.query_id, r.rank): (r.point_id, r.dist2)
        for r in knn_cell_ring(q, pts, k).collect()
    }
    assert got == want
    assert len({qid for qid, _ in got}) == 400


def _brute_counts(qdf, pdf, eps):
    q = qdf.toPandas()
    p = pdf.toPandas()
    out = {}
    for _, r in q.iterrows():
        d2 = (p.lat - r.lat) ** 2 + (p.lon - r.lon) ** 2
        out[int(r.query_id)] = int((d2 <= eps * eps).sum())
    return out


@pytest.mark.parametrize("eps,res", [
    (500_000, 20),    # eps < edge: 3x3 disk
    (3_000_000, 20),  # eps ~ 3 edges: 7x7 disk, multi-cell cover
    (3_000_000, 23),  # same eps, coarser grid: 3x3 disk
])
def test_eps_counts_match_bruteforce(spark, pts, qry, eps, res):
    from extra_ops.knn import eps_neighbor_counts

    got = {
        int(r.query_id): r.n_eps
        for r in eps_neighbor_counts(qry, pts, eps=eps, res=res).collect()
    }
    assert got == _brute_counts(qry, pts, eps)


def test_eps_counts_zero_and_boundary(spark):
    from extra_ops.knn import eps_neighbor_counts

    p = spark.createDataFrame(
        [(1, 0, 0), (2, 0, 1000), (3, 700, 700)],
        "point_id long, lat long, lon long",
    )
    q = spark.createDataFrame(
        [(10, 0, 0), (11, 50 * M, 50 * M)], "query_id long, lat long, lon long"
    )
    got = {r.query_id: r.n_eps for r in
           eps_neighbor_counts(q, p, eps=1000, res=20).collect()}
    # boundary inclusive: point 2 is at EXACTLY eps; diagonal point 3 is
    # at sqrt(2)*700 ~ 990 < eps; isolated query counts 0 (left join)
    assert got == {10: 3, 11: 0}


def test_eps_counts_fanout_guard(spark, pts, qry):
    from extra_ops.knn import eps_neighbor_counts

    with pytest.raises(ValueError):
        eps_neighbor_counts(qry, pts, eps=100 * M, res=10)
    with pytest.raises(ValueError):
        eps_neighbor_counts(qry, pts, eps=0)


def test_eps_counts_overflow_guard(spark, pts, qry):
    from extra_ops.knn import eps_neighbor_counts

    # passes the fan-out guard (s=6 -> 169 cells) but a joined pair can
    # be 7 cells ~ 3.7e9 apart per axis: dist2 would wrap int64
    with pytest.raises(ValueError, match="overflow"):
        eps_neighbor_counts(qry, pts, eps=3_000_000_000, res=29)


def test_idw_matches_integer_reference(spark):
    """IDW == the quantized-weight reference (exact integer recompute);
    exact-hit queries dominated by the co-located sample."""
    import numpy as np
    from fractions import Fraction

    from extra_ops.knn import IDW_SCALE_K, idw_interpolate

    rng = np.random.default_rng(5)
    pts = [
        (int(la), int(lo), int(v))
        for la, lo, v in zip(
            rng.integers(-2_000_000, 2_000_000, 60),
            rng.integers(-2_000_000, 2_000_000, 60),
            rng.integers(1, 98, 60),
        )
    ]
    qs = [(i, int(la), int(lo)) for i, (la, lo) in enumerate(
        zip(rng.integers(-2_000_000, 2_000_000, 8),
            rng.integers(-2_000_000, 2_000_000, 8)))]
    qs.append((99, pts[0][0], pts[0][1]))  # exact hit on a sample
    p = spark.createDataFrame(pts, "lat long, lon long, v long")
    q = spark.createDataFrame(qs, "query_id long, lat long, lon long")
    eps = 3_000_000
    out = {r.query_id: r for r in
           idw_interpolate(q, p, eps=eps, res=21, v="v").collect()}

    for qid, qla, qlo in qs:
        num = den = 0
        n = 0
        for la, lo, v in pts:
            d2 = (qla - la) ** 2 + (qlo - lo) ** 2
            if d2 <= eps * eps:
                n += 1
                wq = IDW_SCALE_K // max(d2, 1)
                num += v * wq
                den += wq
        r = out[qid]
        assert r.n_idw == n, qid
        assert r.idw_den_str == str(den), qid
        if den == 0:
            assert r.idw is None
        else:
            ref = float(Fraction(num, den))
            assert abs(r.idw - ref) < 1e-9 * max(1.0, abs(ref)), qid
    # the exact-hit query is dominated by its co-located sample
    assert abs(out[99].idw - pts[0][2]) < 1e-6


def test_idw_empty_disk_null(spark):
    from extra_ops.knn import idw_interpolate

    p = spark.createDataFrame([(0, 0, 7)], "lat long, lon long, v long")
    q = spark.createDataFrame([(1, 40_000_000, 40_000_000)],
                              "query_id long, lat long, lon long")
    r = idw_interpolate(q, p, eps=1_000_000, res=21, v="v").collect()[0]
    assert r.idw is None and r.n_idw == 0 and r.idw_den_str == "0"


def _ref_dbscan(pts, eps, min_pts):
    """Reference DBSCAN with the operator's deterministic rules."""
    import itertools

    ids = sorted(pts)
    e2 = eps * eps
    nbrs = {i: {i} for i in ids}  # self included (operator contract)
    for i, j in itertools.combinations(ids, 2):
        (a1, o1), (a2, o2) = pts[i], pts[j]
        if (a1 - a2) ** 2 + (o1 - o2) ** 2 <= e2:
            nbrs[i].add(j)
            nbrs[j].add(i)
    core = {i for i in ids if len(nbrs[i]) >= min_pts}
    parent = {i: i for i in core}

    def find(u):
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for i in core:
        for j in nbrs[i]:
            if j in core and j != i:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    roots = {}
    for i in core:
        roots.setdefault(find(i), []).append(i)
    lab = {}
    for members in roots.values():
        m = min(members)
        for i in members:
            lab[i] = m
    out = {}
    for i in ids:
        if i in core:
            out[i] = (True, lab[i])
        else:
            cn = [lab[j] for j in nbrs[i] if j in core and j != i]
            out[i] = (False, min(cn) if cn else None)
    return out


def test_dbscan_matches_reference_across_regimes(spark):
    import numpy as np

    from extra_ops.knn import dbscan

    rng = np.random.default_rng(17)
    # clustered blobs + scattered noise
    pts = {}
    k = 0
    for cx, cy in ((0, 0), (3_000_000, 500_000), (-2_500_000, -2_000_000)):
        for _ in range(25):
            pts[k] = (cy + int(rng.integers(-300_000, 300_000)),
                      cx + int(rng.integers(-300_000, 300_000)))
            k += 1
    for _ in range(30):
        pts[k] = (int(rng.integers(-20_000_000, 20_000_000)),
                  int(rng.integers(-20_000_000, 20_000_000)))
        k += 1
    df = spark.createDataFrame(
        [(i, la, lo) for i, (la, lo) in pts.items()],
        "point_id long, lat long, lon long",
    )
    for eps, mp in ((700_000, 3), (1_500_000, 5), (300_000, 2)):
        got = {
            r.point_id: (r.is_core, r.cluster)
            for r in dbscan(df, eps=eps, min_pts=mp, res=21).collect()
        }
        assert got == _ref_dbscan(pts, eps, mp), (eps, mp)


def test_dbscan_all_noise_and_validation(spark):
    from extra_ops.knn import dbscan

    df = spark.createDataFrame(
        [(1, 0, 0), (2, 20_000_000, 20_000_000)],
        "point_id long, lat long, lon long",
    )
    got = {r.point_id: (r.is_core, r.cluster)
           for r in dbscan(df, eps=1_000_000, min_pts=2, res=21).collect()}
    assert got == {1: (False, None), 2: (False, None)}

    with pytest.raises(ValueError, match="min_pts"):
        dbscan(df, eps=1_000_000, min_pts=0)


def test_ripley_k_matches_bruteforce(spark):
    import numpy as np

    from extra_ops.knn import ripley_k

    rng = np.random.default_rng(7)
    pts = [
        (i, int(rng.integers(-9_000_000, 9_000_000)),
         int(rng.integers(-9_000_000, 9_000_000)))
        for i in range(200)
    ]
    pts.append((200, pts[0][1], pts[0][2]))  # co-located distinct pair counts
    radii = [1_000_000, 3_000_000, 6_000_000]
    df = spark.createDataFrame(pts, "point_id long, lat long, lon long")
    row = ripley_k(df, radii, res=23, area=2.0).collect()[0]
    n = len(pts)
    assert row.n == n
    for i, r in enumerate(radii):
        ref = sum(
            1
            for a in pts
            for b in pts
            if a[0] != b[0]
            and (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2 <= r * r
        )
        assert row[f"rip_n_{i}"] == ref, r
        assert row[f"rip_k_{i}"] == 2.0 * ref / (n * (n - 1))

    with pytest.raises(ValueError, match="ascending"):
        ripley_k(df, [3, 1])


def test_semivariogram_matches_bruteforce(spark):
    import numpy as np

    from extra_ops.knn import semivariogram

    rng = np.random.default_rng(11)
    pts = [
        (i, int(rng.integers(-9_000_000, 9_000_000)),
         int(rng.integers(-9_000_000, 9_000_000)), int(i * i % 53))
        for i in range(200)
    ]
    lag_w, nbins = 2_000_000, 4
    df = spark.createDataFrame(pts, "point_id long, lat long, lon long, v long")
    row = semivariogram(df, lag_w=lag_w, nbins=nbins, res=23).collect()[0]
    for b in range(nbins):
        lo, hi = (b * lag_w) ** 2, ((b + 1) * lag_w) ** 2
        sel = [
            (a[3] - c[3]) ** 2
            for a in pts
            for c in pts
            if a[0] != c[0]
            and lo <= (a[1] - c[1]) ** 2 + (a[2] - c[2]) ** 2 < hi
        ]
        assert row[f"vg_n_{b}"] == len(sel), b
        assert row[f"vg_num_{b}"] == sum(sel), b
        if sel:
            assert row[f"vg_g_{b}"] == sum(sel) / (2.0 * len(sel))
        else:
            assert row[f"vg_g_{b}"] is None

    with pytest.raises(ValueError, match="positive"):
        semivariogram(df, lag_w=0, nbins=4)
