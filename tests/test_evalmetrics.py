"""Exact ROC-AUC (Mann-Whitney midrank form) and 2x2 chi-square."""

import math
from fractions import Fraction

import pytest

from extra_ops.evalmetrics import chi2_2x2, roc_auc


def _ref_auc(pairs):
    """Brute-force AUC = P(s_pos > s_neg) + 0.5 * P(s_pos = s_neg),
    exact rational."""
    pos = [s for s, y in pairs if y]
    neg = [s for s, y in pairs if not y]
    if not pos or not neg:
        return None
    num = 0
    for p in pos:
        for n in neg:
            num += 2 if p > n else (1 if p == n else 0)
    return Fraction(num, 2 * len(pos) * len(neg))


def _lcg(seed):
    x = seed
    while True:
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        yield x


def test_auc_matches_bruteforce_with_ties(spark):
    g = _lcg(7)
    # scores drawn from a tiny domain so midrank ties are heavy
    pairs = [((next(g) >> 5) % 9, (next(g) >> 7) % 3 == 0) for _ in range(400)]
    df = spark.createDataFrame(pairs, "s long, y boolean")
    row = roc_auc(df, "s", "y").collect()[0]
    ref = _ref_auc(pairs)
    got = Fraction(int(row["auc_num_str"]), int(row["auc_den_str"]))
    assert got == ref
    assert row["auc"] == pytest.approx(float(ref), abs=0, rel=0)
    assert row["auc_n_pos"] == sum(1 for _, y in pairs if y)
    assert row["auc_n_neg"] == sum(1 for _, y in pairs if not y)


def test_auc_grouped_and_null_labels(spark):
    g = _lcg(11)
    rows = []
    for i in range(300):
        grp = i % 3
        s = (next(g) >> 9) % 20
        y = None if i % 17 == 0 else (next(g) >> 3) % 2 == 0
        rows.append((grp, s, y))
    df = spark.createDataFrame(rows, "grp int, s long, y boolean")
    out = {r["grp"]: r for r in roc_auc(df, "s", "y", group_cols=["grp"]).collect()}
    for grp in range(3):
        ref = _ref_auc([(s, y) for g2, s, y in rows if g2 == grp and y is not None])
        got = Fraction(int(out[grp]["auc_num_str"]), int(out[grp]["auc_den_str"]))
        assert got == ref, grp


def test_auc_perfect_worst_and_single_class(spark):
    perfect = [(i, i >= 5) for i in range(10)]
    df = spark.createDataFrame(perfect, "s long, y boolean")
    assert roc_auc(df, "s", "y").collect()[0]["auc"] == 1.0
    worst = [(i, i < 5) for i in range(10)]
    df = spark.createDataFrame(worst, "s long, y boolean")
    r = roc_auc(df, "s", "y").collect()[0]
    assert r["auc"] == 0.0
    assert r["auc_num_str"] == "0"
    onecls = [(i, True) for i in range(5)]
    df = spark.createDataFrame(onecls, "s long, y boolean")
    r = roc_auc(df, "s", "y").collect()[0]
    assert r["auc"] is None and r["auc_den_str"] == "0"


def _ref_chi2(a, b, c, d):
    n = a + b + c + d
    m = (a + b) * (c + d) * (a + c) * (b + d)
    if m == 0:
        return None
    return n * (a * d - b * c) ** 2 / m


def test_chi2_matches_closed_form(spark):
    g = _lcg(3)
    rows = [
        ((next(g) >> 4) % 3 == 0, (next(g) >> 6) % 4 == 0) for _ in range(500)
    ]
    # plant association: flip some labels to follow pred
    rows = [(p, (y or p) if i % 5 == 0 else y) for i, (p, y) in enumerate(rows)]
    df = spark.createDataFrame(rows, "p boolean, y boolean")
    r = chi2_2x2(df, "p", "y").collect()[0]
    a = sum(1 for p, y in rows if p and y)
    b = sum(1 for p, y in rows if p and not y)
    c = sum(1 for p, y in rows if not p and y)
    d = sum(1 for p, y in rows if not p and not y)
    assert (r["chi2_a"], r["chi2_b"], r["chi2_c"], r["chi2_d"]) == (a, b, c, d)
    assert r["chi2"] == pytest.approx(_ref_chi2(a, b, c, d), rel=1e-12)
    assert r["chi2_n"] == 500


def test_chi2_zero_margin_and_nulls(spark):
    rows = [(True, True), (True, False), (True, True), (None, True), (True, None)]
    df = spark.createDataFrame(rows, "p boolean, y boolean")
    r = chi2_2x2(df, "p", "y").collect()[0]
    assert r["chi2"] is None  # no pred=False rows -> zero margin
    assert r["chi2_n"] == 3  # NULL rows excluded
    ind = [(i % 2 == 0, i % 3 == 0) for i in range(60)]
    df = spark.createDataFrame(ind, "p boolean, y boolean")
    r = chi2_2x2(df, "p", "y").collect()[0]
    assert r["chi2"] == pytest.approx(0.0, abs=1e-12)  # exactly independent


def test_auc_duckdb_twin_parity(spark):
    """The generated CTE chain must be valid DuckDB and bit-match the
    Spark columns (digit strings AND the float)."""
    duckdb = pytest.importorskip("duckdb")
    from extra_ops.evalmetrics import (
        sql_chi2_2x2,
        sql_roc_auc_ctes,
    )

    g = _lcg(23)
    rows = [
        (
            (next(g) >> 8) % 13,
            None if i % 19 == 0 else (next(g) >> 2) % 3 == 0,
            (next(g) >> 5) % 2 == 0,
        )
        for i in range(350)
    ]
    df = spark.createDataFrame(rows, "s long, y boolean, p boolean")
    srow = (
        roc_auc(df, "s", "y")
        .crossJoin(chi2_2x2(df, "p", "y"))
        .collect()[0]
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({s}, {'NULL' if y is None else y}, {p})" for s, y, p in rows
        )
        + ") v(s, y, p)"
    )
    q = (
        "WITH "
        + sql_roc_auc_ctes("t", "s", "y")
        + ","
        + sql_chi2_2x2("t", "p", "y")
        + " SELECT * FROM auc CROSS JOIN chi2"
    )
    orow = con.execute(q).fetchdf().iloc[0]
    assert srow["auc_num_str"] == orow["auc_num_str"]
    assert srow["auc_den_str"] == orow["auc_den_str"]
    assert srow["auc"] == orow["auc"]  # bit-identical, not approx
    assert math.isclose(srow["chi2"], orow["chi2"], rel_tol=0, abs_tol=0)
    for k in ("chi2_a", "chi2_b", "chi2_c", "chi2_d", "chi2_n"):
        assert srow[k] == orow[k]


def _ref_ks(pairs):
    """Brute exact KS as a Fraction: pairs = (value, in_a)."""
    a = sorted(v for v, t in pairs if t)
    b = sorted(v for v, t in pairs if not t)
    if not a or not b:
        return None, len(a), len(b)
    num = 0
    for x in sorted({*a, *b}):
        ca = sum(1 for v in a if v <= x)
        cb = sum(1 for v in b if v <= x)
        num = max(num, abs(ca * len(b) - cb * len(a)))
    return Fraction(num, len(a) * len(b)), len(a), len(b)


def test_ks_matches_bruteforce(spark):
    from extra_ops.evalmetrics import ks_2samp
    from pyspark.sql import functions as F

    g = _lcg(31)
    # shifted discrete distributions with heavy ties
    pairs = []
    for i in range(500):
        t = (next(g) >> 3) % 2 == 0
        v = (next(g) >> 7) % 15 + (3 if t else 0)
        pairs.append((v, t))
    df = spark.createDataFrame(pairs, "v long, t boolean")
    r = ks_2samp(df, "v", F.col("t")).collect()[0]
    ref, na, nb = _ref_ks(pairs)
    assert Fraction(int(r["ks_num_str"]), int(r["ks_den_str"])) == ref
    assert (r["ks_n_a"], r["ks_n_b"]) == (na, nb)
    assert ref > 0 and r["ks"] == pytest.approx(float(ref), rel=0, abs=0)


def test_ks_identical_and_disjoint_and_empty(spark):
    from extra_ops.evalmetrics import ks_2samp
    from pyspark.sql import functions as F

    same = [(v % 7, t == 1) for v in range(70) for t in (0, 1)]
    df = spark.createDataFrame(same, "v long, t boolean")
    r = ks_2samp(df, "v", F.col("t")).collect()[0]
    assert r["ks"] == 0.0 and r["ks_num_str"] == "0"
    disj = [(1, True)] * 5 + [(9, False)] * 7
    df = spark.createDataFrame(disj, "v long, t boolean")
    r = ks_2samp(df, "v", F.col("t")).collect()[0]
    assert r["ks"] == 1.0
    onecls = [(1, True), (2, True), (3, None)]
    df = spark.createDataFrame(onecls, "v long, t boolean")
    r = ks_2samp(df, "v", F.col("t")).collect()[0]
    assert r["ks"] is None and r["ks_n_b"] == 0 and r["ks_n_a"] == 2


def test_ks_duckdb_twin_parity(spark):
    duckdb = pytest.importorskip("duckdb")
    from extra_ops.evalmetrics import (
        ks_2samp,
        sql_ks_2samp_ctes,
    )
    from pyspark.sql import functions as F

    g = _lcg(37)
    pairs = [
        ((next(g) >> 6) % 11, None if i % 23 == 0 else (next(g) >> 2) % 2 == 0)
        for i in range(300)
    ]
    df = spark.createDataFrame(pairs, "v long, t boolean")
    srow = ks_2samp(df, "v", F.col("t")).collect()[0]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"({v}, {'NULL' if t is None else t})" for v, t in pairs)
        + ") x(v, t)"
    )
    orow = (
        con.execute("WITH " + sql_ks_2samp_ctes("t", "v", "t") + " SELECT * FROM ks")
        .fetchdf().iloc[0]
    )
    assert srow["ks_num_str"] == orow["ks_num_str"]
    assert srow["ks_den_str"] == orow["ks_den_str"]
    assert srow["ks"] == orow["ks"]
    assert srow["ks_n_a"] == orow["ks_n_a"] and srow["ks_n_b"] == orow["ks_n_b"]


def test_first_digit_screen_matches_reference(spark):
    """Counting reference over random magnitudes spanning 1..10^6 (so
    every digit bucket is hit), exact chi-square numerator, and the
    non-positive/sub-unit exclusion rule."""
    from collections import Counter

    import numpy as np

    from extra_ops.evalmetrics import (
        first_digit_screen,
    )

    rng = np.random.default_rng(11)
    vals = [int(v) for v in rng.integers(-50, 10**6, 400)]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    r = first_digit_screen(df, "x", prefix="fd").collect()[0]
    pop = [v for v in vals if v >= 1]
    want = Counter(int(str(v)[0]) for v in pop)
    n = len(pop)
    assert r.fd_n == n
    for k in range(1, 10):
        assert r[f"fd_c{k}"] == want.get(k, 0)
    num = sum((9 * want.get(k, 0) - n) ** 2 for k in range(1, 10))
    assert r.fd_chi2u_num_str == str(num)
    assert abs(r.fd_chi2u - num / (9 * n)) < 1e-12


def test_first_digit_screen_contracts(spark):
    """A perfectly digit-uniform population scores exactly 0; a
    single-digit pile scores the closed form; an empty population
    gives NULL chi-square and zero counts."""
    from extra_ops.evalmetrics import (
        first_digit_screen,
    )

    uni = [(d * 10 + 3,) for d in range(1, 10)]  # one value per digit
    df = spark.createDataFrame(uni, "x long")
    r = first_digit_screen(df, "x").collect()[0]
    assert r.fd_chi2u == 0.0 and r.fd_n == 9
    pile = spark.createDataFrame([(7,)] * 5, "x long")
    rp = first_digit_screen(pile, "x").collect()[0]
    # c7 = 5, others 0: num = (45-5)^2 + 8*25 = 1800, chi2 = 1800/45
    assert rp.fd_chi2u_num_str == "1800" and rp.fd_chi2u == 40.0
    empty = spark.createDataFrame([(0,), (-3,)], "x long")
    re_ = first_digit_screen(empty, "x").collect()[0]
    assert re_.fd_n == 0 and re_.fd_chi2u is None
    assert all(re_[f"fd_c{k}"] == 0 for k in range(1, 10))


def _ref_spearman(pairs):
    """Exact-rational Spearman via midranks: returns (num, dx, dy) as
    ints over the CENTERED DOUBLED midranks (mean n+1 subtracted)."""
    n = len(pairs)

    def cranks(vals):
        out = []
        for v in vals:
            cl = sum(1 for u in vals if u < v)
            c = sum(1 for u in vals if u == v)
            out.append(2 * cl + c - n)  # (2*cl + c + 1) - (n + 1)
        return out

    cx = cranks([p[0] for p in pairs])
    cy = cranks([p[1] for p in pairs])
    num = sum(a * b for a, b in zip(cx, cy))
    dx = sum(a * a for a in cx)
    dy = sum(b * b for b in cy)
    return num, dx, dy


def test_spearman_matches_bruteforce_with_ties(spark):
    from extra_ops.evalmetrics import spearman

    g = _lcg(31)
    # tiny domains so midrank ties are heavy on both sides
    pairs = [((next(g) >> 5) % 7, (next(g) >> 9) % 5) for _ in range(300)]
    # couple y to x on a third of rows so rho is far from 0
    pairs = [
        (x, x % 5 if i % 3 == 0 else y) for i, (x, y) in enumerate(pairs)
    ]
    df = spark.createDataFrame(pairs, "x long, y long")
    row = spearman(df, "x", "y").collect()[0]
    num, dx, dy = _ref_spearman(pairs)
    assert int(row["rho_num_str"]) == num
    assert int(row["rho_dx_str"]) == dx
    assert int(row["rho_dy_str"]) == dy
    assert row["rho_n"] == len(pairs)
    assert row["rho"] == num / math.sqrt(float(dx) * float(dy))


def test_spearman_contracts(spark):
    from extra_ops.evalmetrics import spearman

    # perfect monotone (with ties broken consistently) => rho = 1
    inc = [(i, i * i) for i in range(50)]
    df = spark.createDataFrame(inc, "x long, y long")
    assert spearman(df, "x", "y").collect()[0]["rho"] == 1.0
    # perfect anti-monotone => rho = -1
    dec = [(i, -3 * i) for i in range(50)]
    df = spark.createDataFrame(dec, "x long, y long")
    assert spearman(df, "x", "y").collect()[0]["rho"] == -1.0
    # constant column => dx = 0 => NULL rho, pins still exact
    const = [(7, i % 4) for i in range(20)]
    df = spark.createDataFrame(const, "x long, y long")
    r = spearman(df, "x", "y").collect()[0]
    assert r["rho"] is None and r["rho_dx_str"] == "0"
    # NULLs excluded pairwise
    rows = [(1, 10), (2, None), (None, 3), (4, 40), (5, 50)]
    df = spark.createDataFrame(rows, "x long, y long")
    r = spearman(df, "x", "y").collect()[0]
    assert r["rho_n"] == 3 and r["rho"] == 1.0


def test_spearman_grouped(spark):
    from extra_ops.evalmetrics import spearman

    g = _lcg(37)
    rows = []
    for i in range(240):
        grp = i % 3
        x = (next(g) >> 7) % 9
        y = x % 4 if i % 2 == 0 else (next(g) >> 3) % 6
        rows.append((grp, x, y))
    df = spark.createDataFrame(rows, "grp int, x long, y long")
    out = {
        r["grp"]: r
        for r in spearman(df, "x", "y", group_cols=["grp"]).collect()
    }
    for grp in range(3):
        sub = [(x, y) for g2, x, y in rows if g2 == grp]
        num, dx, dy = _ref_spearman(sub)
        assert int(out[grp]["rho_num_str"]) == num, grp
        assert int(out[grp]["rho_dx_str"]) == dx, grp
        assert int(out[grp]["rho_dy_str"]) == dy, grp


def test_spearman_duckdb_twin_parity(spark):
    duckdb = pytest.importorskip("duckdb")
    from extra_ops.evalmetrics import (
        spearman,
        sql_spearman_ctes,
    )

    g = _lcg(41)
    rows = [
        (
            (next(g) >> 8) % 11,
            None if i % 23 == 0 else (next(g) >> 4) % 8,
        )
        for i in range(320)
    ]
    df = spark.createDataFrame(rows, "x long, y long")
    srow = spearman(df, "x", "y").collect()[0]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({x}, {'NULL' if y is None else y})" for x, y in rows
        )
        + ") v(x, y)"
    )
    orow = (
        con.execute(
            "WITH " + sql_spearman_ctes("t", "x", "y") + " SELECT * FROM rho"
        )
        .fetchdf()
        .iloc[0]
    )
    for k in ("rho_num_str", "rho_dx_str", "rho_dy_str", "rho_n"):
        assert str(srow[k]) == str(orow[k]), k
    assert srow["rho"] == orow["rho"]  # bit-identical, not approx


# ---------------------------------------------------------------------------
# detection average precision (evalmetrics.average_precision)
# ---------------------------------------------------------------------------

from fractions import Fraction

from extra_ops.evalmetrics import average_precision


def _ap_python(gts, dets, thr_num=1, thr_den=2):
    dets = sorted(((-s, i, b) for i, s, b in dets))
    taken = set()
    ap = Fraction(0)
    tp = 0
    for k, (_, _, (dx0, dy0, dx1, dy1)) in enumerate(dets, start=1):
        da = (dx1 - dx0) * (dy1 - dy0)
        best = None
        for gid, (gx0, gy0, gx1, gy1) in gts:
            if gid in taken:
                continue
            iw = min(dx1, gx1) - max(dx0, gx0)
            ih = min(dy1, gy1) - max(dy0, gy0)
            inter = iw * ih if iw > 0 and ih > 0 else 0
            union = da + (gx1 - gx0) * (gy1 - gy0) - inter
            if union <= 0 or inter * thr_den < thr_num * union:
                continue
            key = (-(inter / union), gid)
            if best is None or key < best[0]:
                best = (key, gid)
        if best is not None:
            taken.add(best[1])
            tp += 1
            ap += Fraction(tp, k)
    n_gt = len(gts)
    if n_gt == 0:
        return (0, len(dets), tp, None, None)
    a = ap / n_gt
    return (n_gt, len(dets), tp, str(a.numerator), str(a.denominator))


def _run_ap(spark, cases):
    grows, drows = [], []
    for img, (gts, dets) in cases.items():
        for gid, (x0, y0, x1, y1) in gts:
            grows.append({"image_id": img, "gt_id": gid, "x0": x0, "y0": y0,
                          "x1": x1, "y1": y1})
        for did, s, (x0, y0, x1, y1) in dets:
            drows.append({"image_id": img, "det_id": did, "score": s,
                          "x0": x0, "y0": y0, "x1": x1, "y1": y1})
    gdf = spark.createDataFrame(
        grows or [],
        "image_id string, gt_id long, x0 long, y0 long, x1 long, y1 long",
    )
    ddf = spark.createDataFrame(
        drows,
        "image_id string, det_id long, score long, "
        "x0 long, y0 long, x1 long, y1 long",
    )
    out = average_precision(gdf, ddf).collect()
    return {
        r["image_id"]: (r["ap_n_gt"], r["ap_n_det"], r["ap_tp"],
                        r["ap_num_str"], r["ap_den_str"])
        for r in out
    }


def test_ap_hand_cases(spark):
    g = [(0, (0, 0, 10, 10)), (1, (100, 100, 110, 110))]
    cases = {
        # perfect: two exact-match dets in score order -> AP = 1
        "perfect": (g, [(0, 9, (0, 0, 10, 10)), (1, 8, (100, 100, 110, 110))]),
        # fp first: FP at rank 1, then both TP -> (1/2 + 2/3)/2 = 7/12
        "fp_first": (g, [
            (9, 10, (500, 500, 510, 510)),
            (0, 9, (0, 0, 10, 10)),
            (1, 8, (100, 100, 110, 110)),
        ]),
        # duplicate det on one GT: second is FP (GT taken)
        "dupdet": ([(0, (0, 0, 10, 10))], [
            (0, 9, (0, 0, 10, 10)),
            (1, 8, (0, 0, 10, 10)),
        ]),
        # IoU exactly at threshold counts (>=): shifted half overlap
        # inter 50, union 150 -> 1/3 < 1/2 FP; but thr passes at 5x10
        "no_match": ([(0, (0, 0, 10, 10))], [(0, 9, (5, 0, 15, 10))]),
    }
    got = _run_ap(spark, cases)
    assert got["perfect"] == (2, 2, 2, "1", "1")
    assert got["fp_first"] == (2, 3, 2, "7", "12")
    assert got["dupdet"] == (1, 2, 1, "1", "1")
    assert got["no_match"] == (1, 1, 0, "0", "1")
    for img, (gts, dets) in cases.items():
        assert got[img] == _ap_python(gts, dets), img


def test_ap_random_matches_python(spark):
    import numpy as np

    rng = np.random.default_rng(113)
    cases = {}
    for i in range(25):
        n_gt = int(rng.integers(0, 5))
        gts = []
        for j in range(n_gt):
            x0, y0 = int(rng.integers(0, 150)), int(rng.integers(0, 150))
            gts.append((j, (x0, y0, x0 + int(rng.integers(8, 40)),
                            y0 + int(rng.integers(8, 40)))))
        n_det = int(rng.integers(1, 7))
        dets = []
        for j in range(n_det):
            x0, y0 = int(rng.integers(0, 150)), int(rng.integers(0, 150))
            dets.append((j, int(rng.integers(0, 100)),
                         (x0, y0, x0 + int(rng.integers(8, 40)),
                          y0 + int(rng.integers(8, 40)))))
        cases[f"i{i}"] = (gts, dets)
    got = _run_ap(spark, cases)
    for img, (gts, dets) in cases.items():
        assert got[img] == _ap_python(gts, dets), img


# ---------------------------------------------------------------------------
# expected calibration error (evalmetrics.ece_quantized)
# ---------------------------------------------------------------------------

from extra_ops.evalmetrics import (
    ece_quantized,
    sql_ece_ctes,
)


def _ece_python(pairs, bin_w=10, scale=100):
    from collections import defaultdict

    bins = defaultdict(lambda: [0, 0, 0])
    for s, y in pairs:
        b = s // bin_w
        bins[b][0] += 1
        bins[b][1] += y
        bins[b][2] += s
    num = sum(abs(scale * pos - ssum) for _, pos, ssum in bins.values())
    den = scale * sum(n for n, _, _ in bins.values())
    return (len(bins), num, den, num / den if den else None)


def test_ece_hand_and_duckdb_twin(spark):
    import duckdb

    pairs = (
        # perfectly calibrated bin: conf 50, half positive
        [(50, 1), (50, 0)] * 5
        # overconfident bin: conf 90, rarely positive
        + [(90, 0)] * 8 + [(90, 1)] * 2
        # underconfident: conf 10, mostly positive
        + [(10, 1)] * 7 + [(10, 0)] * 3
        + [(0, 0), (100, 1)]
    )
    df = spark.createDataFrame(pairs, "s long, y long")
    r = ece_quantized(df, "s", "y").collect()[0]
    nb, num, den, e = _ece_python(pairs)
    assert (r["ece_bins"], r["ece_num"], r["ece_den"]) == (nb, num, den)
    assert abs(r["ece"] - e) < 1e-15
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"({s}, {y})" for s, y in pairs)
        + ") v(s, y)"
    )
    want = con.execute(
        f"WITH {sql_ece_ctes('t', 's', 'y')} SELECT * FROM ece"
    ).fetchone()
    assert want == (r["ece_bins"], r["ece_num"], r["ece_den"], r["ece"])


def test_ece_random_matches_python(spark):
    import numpy as np

    rng = np.random.default_rng(131)
    pairs = [
        (int(s), int(rng.random() < s / 100.0) if s != 50 else int(rng.integers(0, 2)))
        for s in rng.integers(0, 101, 400)
    ]
    df = spark.createDataFrame(pairs, "s long, y long")
    r = ece_quantized(df, "s", "y").collect()[0]
    nb, num, den, e = _ece_python(pairs)
    assert (r["ece_bins"], r["ece_num"], r["ece_den"]) == (nb, num, den)
    # a roughly calibrated sampler lands at small-but-nonzero ECE
    assert 0 < r["ece"] < 0.2
