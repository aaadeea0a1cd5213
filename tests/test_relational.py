"""as-of join + sessionization vs hand-computed expectations."""

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from extra_ops.relational import asof_join, sessionize


def ts(m):
    return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m)


def test_asof_backward(spark):
    left = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 1, 2], "ts": [ts(5), ts(10), ts(1), ts(7)], "lv": list("abcd")})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 2], "ts": [ts(3), ts(10), ts(9)], "rv": [30, 100, 90]})
    )
    out = {
        (r.k, r.ts.minute): r.right_rv
        for r in asof_join(left, right, "k", "ts", ["rv"]).collect()
    }
    assert out[(1, 5)] == 30     # latest at-or-before 0:05 is 0:03
    assert out[(1, 10)] == 100   # exact-ts right row matches
    assert out[(1, 1)] is None   # nothing before 0:01
    assert out[(2, 7)] is None   # right row is after


def test_sessionize(spark):
    ev = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [1] * 5 + [2] * 2,
                "ts": [ts(0), ts(1), ts(40), ts(41), ts(100), ts(0), ts(59)],
                "eid": range(7),
            }
        )
    )
    out = {r.eid: r.session_id for r in sessionize(ev, "k", "ts", gap_seconds=1800).collect()}
    assert [out[i] for i in range(5)] == [1, 1, 2, 2, 3]
    assert out[5] == 1 and out[6] == 2  # 59-min gap for key 2


# ---------------------------------------------------------------------------
# range_join (bucketized interval-overlap join)
# ---------------------------------------------------------------------------


def _brute_pairs(ldf, rdf, key=None):
    """Reference: cross-join + overlap filter, as (l_id, r_id) set."""
    pairs = set()
    lrows = ldf if isinstance(ldf, list) else ldf
    for a in lrows:
        for b in rdf:
            if key is not None and a[key] != b[key]:
                continue
            if a["s"] <= b["e"] and b["s"] <= a["e"]:
                pairs.add((a["id"], b["id"]))
    return pairs


def _mk(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows))


def test_range_join_matches_bruteforce(spark):
    import random

    from extra_ops.relational import range_join

    rng = random.Random(7)
    lrows = [
        {"id": i, "k": rng.randrange(3), "s": rng.randrange(-50, 200)}
        for i in range(60)
    ]
    for r in lrows:
        r["e"] = r["s"] + rng.randrange(0, 40)  # incl. zero-length points
    rrows = [
        {"id": 1000 + i, "k": rng.randrange(3), "s": rng.randrange(-50, 200)}
        for i in range(50)
    ]
    for r in rrows:
        r["e"] = r["s"] + rng.randrange(0, 90)  # some spans >> bucket width
    for width in (1, 7, 64, 1000):  # width << spans, ~spans, >> spans
        got = range_join(
            _mk(spark, lrows), _mk(spark, rrows),
            "s", "e", "s", "e", bucket_width=width, key="k",
            right_cols=["id"],
        ).collect()
        gotpairs = [(r.id, r.right_id) for r in got]
        # exactly-once: no duplicates even when a pair shares many buckets
        assert len(gotpairs) == len(set(gotpairs))
        assert set(gotpairs) == _brute_pairs(lrows, rrows, key="k")


def test_range_join_boundary_and_keyless(spark):
    from extra_ops.relational import range_join

    l = [{"id": 0, "s": 0, "e": 10}, {"id": 1, "s": 20, "e": 20}]
    r = [
        {"id": 10, "s": 10, "e": 15},   # touches l0 at exactly 10
        {"id": 11, "s": -5, "e": -1},   # just misses l0
        {"id": 12, "s": 20, "e": 20},   # point-point exact match with l1
        {"id": 13, "s": 11, "e": 19},   # strictly between: no match
    ]
    got = {
        (row.id, row.right_id)
        for row in range_join(
            _mk(spark, l), _mk(spark, r), "s", "e", "s", "e",
            bucket_width=4, right_cols=["id"],
        ).collect()
    }
    assert got == {(0, 10), (1, 12)}
    assert got == _brute_pairs(l, r)


def test_range_join_validation(spark):
    from extra_ops.relational import range_join

    with pytest.raises(ValueError):
        range_join(
            spark.range(1), spark.range(1), "id", "id", "id", "id",
            bucket_width=0,
        )


def test_range_join_plan_no_cartesian(spark):
    """The physical plan must be ONE equi-join (hash/sort-merge), never
    BroadcastNestedLoop/Cartesian — the whole point of the bucket
    fan-out."""
    from extra_ops.relational import range_join

    l = _mk(spark, [{"id": 0, "k": 0, "s": 0, "e": 10}])
    r = _mk(spark, [{"id": 1, "k": 0, "s": 5, "e": 6}])
    plan = range_join(
        l, r, "s", "e", "s", "e", bucket_width=8, key="k", right_cols=["id"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_group_trend_matches_fraction_reference(spark):
    from fractions import Fraction

    import numpy as np

    from extra_ops.relational import group_trend

    rng = np.random.default_rng(3)
    rows = []
    for g in ("a", "b"):
        for x in range(20):
            rows.append((g, x, int(3 * x + 7 + rng.integers(-4, 5))))
    rows.append(("const_x", 5, 10))
    rows.append(("const_x", 5, 20))  # constant x -> den 0 -> NULL
    rows.append(("single", 1, 1))    # n=1 -> NULL
    df = spark.createDataFrame(rows, "g string, x long, y long")
    got = {r.g: r for r in group_trend(df, ["g"], "x", "y").collect()}

    for g in ("a", "b"):
        pts = [(x, y) for gg, x, y in rows if gg == g]
        n = len(pts)
        sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
        sxx = sum(x * x for x, _ in pts); sxy = sum(x * y for x, y in pts)
        den = n * sxx - sx * sx
        slope = float(Fraction(n * sxy - sx * sy, den))
        intercept = float(Fraction(sy * sxx - sx * sxy, den))
        r = got[g]
        assert abs(r.slope - slope) < 1e-9 * max(1, abs(slope))
        assert abs(r.intercept - intercept) < 1e-9 * max(1, abs(intercept))
        assert r.trend_den_str == str(den) and r.n_obs == n
    assert got["const_x"].slope is None and got["single"].slope is None


def test_trajectory_segments_reference(spark):
    from extra_ops.relational import trajectory_segments

    # user u: 3 tight points (stay), jump, 2 tight points; user v: 1 point
    rows = [
        ("u", 100, 0, 0, 1),
        ("u", 200, 50, 50, 2),
        ("u", 300, -50, 20, 3),
        ("u", 400, 10_000_000, 0, 4),     # jump > eps -> new segment
        ("u", 500, 10_000_100, 100, 5),
        ("v", 100, 0, 0, 6),
    ]
    df = spark.createDataFrame(rows, "u string, t long, lat long, lon long, eid long")
    out = trajectory_segments(
        df.withColumn("ts", F.col("t").cast("timestamp")),
        key="u", ts="ts", step_eps=1000, min_stay_s=150,
        order_cols=["ts", "eid"],
    ).collect()
    got = {r.eid: (r.seg_id, r.seg_n, r.seg_duration_s, r.seg_stay) for r in out}
    assert got[1] == (1, 3, 200, 1)
    assert got[2] == (1, 3, 200, 1)
    assert got[3] == (1, 3, 200, 1)
    assert got[4] == (2, 2, 100, 0)   # 100 s < min_stay 150
    assert got[5] == (2, 2, 100, 0)
    assert got[6] == (1, 1, 0, 0)


def test_scd2_intervals_reference(spark):
    from extra_ops.relational import scd2_intervals

    # key a: three revisions (one at a tied timestamp — eid breaks the
    # tie); key b: a single revision (current from birth)
    rows = [
        ("a", 100, 1),
        ("a", 250, 2),
        ("a", 250, 3),   # tied ts — ordering falls to eid
        ("a", 900, 4),
        ("b", 42, 5),
    ]
    df = spark.createDataFrame(rows, "k string, t long, eid long")
    out = scd2_intervals(
        df.withColumn("ts", F.col("t").cast("timestamp")),
        key_cols=["k"],
        ts="ts",
        order_cols=["ts", "eid"],
    ).collect()
    got = {r.eid: r for r in out}
    # versions are 1-based in (ts, eid) order
    assert [got[e].scd_version for e in (1, 2, 3, 4)] == [1, 2, 3, 4]
    assert got[5].scd_version == 1
    # intervals tile: valid_to == next valid_from, half-open
    assert (got[1].valid_from_s, got[1].valid_to_s) == (100, 250)
    assert (got[2].valid_from_s, got[2].valid_to_s) == (250, 250)  # tie => degenerate
    assert (got[3].valid_from_s, got[3].valid_to_s) == (250, 900)
    assert (got[4].valid_from_s, got[4].valid_to_s) == (900, None)
    assert (got[5].valid_from_s, got[5].valid_to_s) == (42, None)
    # exactly one current per key, and it is the last version
    assert [r.eid for r in out if r.is_current == 1] in ([4, 5], [5, 4])
    assert all(r.is_current in (0, 1) for r in out)
    # point-in-time read at t=300 sees exactly one version of 'a': eid 3
    live = [
        r.eid
        for r in out
        if r.k == "a"
        and r.valid_from_s <= 300
        and (r.valid_to_s is None or 300 < r.valid_to_s)
    ]
    assert live == [3]


def _funnel_ref(rows, steps, horizon_s):
    """Brute-force reference: deepest k with an in-order chain of the
    step types within horizon of the chain's first event, ordering by
    (ts, id)."""
    H = horizon_s * 1_000_000
    by_user = {}
    for uid, t_us, eid, et in rows:
        by_user.setdefault(uid, []).append((t_us, eid, et))
    out = {}
    for uid, evs in by_user.items():
        evs.sort()
        best = 0
        # chains = list of (start, level) reachable states, brute DFS
        def extend(level, start, pos):
            nonlocal best
            best = max(best, level)
            if level == len(steps):
                return
            for i in range(pos, len(evs)):
                t, eid, et = evs[i]
                if et == steps[level] and t - start <= H:
                    extend(level + 1, start, i + 1)
        for i, (t, eid, et) in enumerate(evs):
            if et == steps[0]:
                extend(1, t, i + 1)
        out[uid] = best
    return out


def _funnel_run(spark, rows, steps, horizon_s):
    import datetime as dt

    from extra_ops.relational import funnel_levels

    data = [
        {
            "user_id": uid,
            "ts": dt.datetime(2024, 1, 1) + dt.timedelta(microseconds=t_us),
            "event_id": eid,
            "event_type": et,
        }
        for uid, t_us, eid, et in rows
    ]
    df = spark.createDataFrame(data)
    return {
        r.user: (r.funnel_level, r.funnel_start_us)
        for r in funnel_levels(df, steps, horizon_s).collect()
    }


def test_funnel_planted(spark):
    S = ["view", "click", "purchase"]
    s = 1_000_000
    rows = [
        # A: full chain inside horizon
        (1, 0, 1, "view"), (1, 10 * s, 2, "click"), (1, 20 * s, 3, "purchase"),
        # B: click outside horizon
        (2, 0, 4, "view"), (2, 100 * s, 5, "click"),
        # C: out of order (purchase before click)
        (3, 0, 6, "view"), (3, 5 * s, 7, "purchase"), (3, 10 * s, 8, "click"),
        # D: max-start DP — only the LATER view completes within horizon
        (4, 0, 9, "view"), (4, 50 * s, 10, "view"),
        (4, 55 * s, 11, "click"), (4, 120 * s, 12, "purchase"),
        # E: no step-1 at all
        (5, 0, 13, "click"), (5, 1 * s, 14, "purchase"),
    ]
    got = _funnel_run(spark, rows, S, 60)
    base = 1704067200 * s  # 2024-01-01 epoch micros
    assert got[1] == (3, base + 0)
    assert got[2][0] == 1
    assert got[3][0] == 2  # view -> click ok, purchase came too early
    assert got[4][0] == 2  # at H=60 neither view's chain completes
    assert got[5] == (0, None)  # step events but no step-1 -> level 0
    ref = _funnel_ref(rows, S, 60)
    for uid, (lvl, _) in got.items():
        assert lvl == ref[uid]
    # max-start DP: at H=80 ONLY the later view's chain completes
    # (120 - 50 = 70 <= 80 but 120 - 0 > 80), pinning that acc keeps
    # the LATEST chain start per level
    got80 = _funnel_run(spark, rows, S, 80)
    assert got80[4] == (3, base + 50 * s)
    assert _funnel_ref(rows, S, 80)[4] == 3


def test_funnel_equal_timestamp_tiebreak(spark):
    S = ["view", "click"]
    # same ts: click id AFTER view id counts; BEFORE does not
    got = _funnel_run(spark, [(1, 0, 1, "view"), (1, 0, 2, "click")], S, 60)
    assert got[1][0] == 2
    got = _funnel_run(spark, [(1, 0, 2, "view"), (1, 0, 1, "click")], S, 60)
    assert got[1][0] == 1


def test_funnel_random_matches_reference(spark):
    import random

    rng = random.Random(11)
    S = ["view", "click", "purchase"]
    types = S + ["error", "signup"]
    rows = []
    eid = 0
    for uid in range(25):
        for _ in range(rng.randint(0, 12)):
            rows.append(
                (uid, rng.randrange(0, 300) * 1_000_000, eid, rng.choice(types))
            )
            eid += 1
    got = _funnel_run(spark, rows, S, 100)
    ref = _funnel_ref(rows, S, 100)
    for uid, lvl in ref.items():
        if any(et == S[0] for u, t, e, et in rows if u == uid) or any(
            et in S for u, t, e, et in rows if u == uid
        ):
            if uid in got:
                assert got[uid][0] == lvl, uid
            else:
                assert lvl == 0


def test_funnel_guards(spark):
    from extra_ops.relational import funnel_levels

    df = spark.createDataFrame([], "user_id long, ts timestamp, event_id long, event_type string")
    with pytest.raises(ValueError):
        funnel_levels(df, ["a", "a"], 60)
    with pytest.raises(ValueError):
        funnel_levels(df, ["a"], 60)
    with pytest.raises(ValueError):
        funnel_levels(df, ["a", "b"], 0)


def _retention_run(spark, rows, period_s):
    import datetime as dt

    from extra_ops.relational import cohort_retention

    data = [
        {"user_id": u, "ts": dt.datetime(2024, 1, 1) + dt.timedelta(seconds=t)}
        for u, t in rows
    ]
    return {
        (r.cohort_p, r.offset_p): r.n_users
        for r in cohort_retention(spark.createDataFrame(data), period_s).collect()
    }


def test_cohort_retention_planted(spark):
    P = 100
    base = 1704067200 // P  # 2024-01-01 period index
    rows = [
        (1, 0), (1, 150), (1, 410),   # user 1: cohort base, offsets 0,1,4
        (2, 50), (2, 160),            # user 2: cohort base, offsets 0,1
        (3, 250), (3, 260),           # user 3: cohort base+2, offset 0 (dup period)
    ]
    got = _retention_run(spark, rows, P)
    assert got == {
        (base, 0): 2, (base, 1): 2, (base, 4): 1,
        (base + 2, 0): 1,
    }


def test_cohort_retention_random_matches_reference(spark):
    import random

    rng = random.Random(5)
    P = 60
    rows = [
        (u, rng.randrange(0, 4000)) for u in range(30) for _ in range(rng.randint(1, 10))
    ]
    got = _retention_run(spark, rows, P)
    ref = {}
    first = {}
    for u, t in sorted(rows, key=lambda r: r[1]):
        p = (1704067200 + t) // P
        first.setdefault(u, p)
    seen = set()
    for u, t in rows:
        p = (1704067200 + t) // P
        key = (first[u], p - first[u])
        if (u, p) not in seen:
            seen.add((u, p))
            ref[key] = ref.get(key, 0) + 1
    assert got == ref


def test_cohort_retention_guard(spark):
    from extra_ops.relational import cohort_retention

    df = spark.createDataFrame([], "user_id long, ts timestamp")
    with pytest.raises(ValueError):
        cohort_retention(df, 0)


def _sky_ref(pts):
    out = []
    for px, py in pts:
        dom = any(
            qx <= px and qy <= py and (qx < px or qy < py) for qx, qy in pts
        )
        out.append(0 if dom else 1)
    return out


def test_pareto_frontier_matches_bruteforce(spark):
    import random

    from extra_ops.relational import pareto_frontier

    rng = random.Random(13)
    pts = [(rng.randrange(-500, 500), rng.randrange(-500, 500)) for _ in range(300)]
    pts += pts[:5]  # exact duplicates: tied frontier points both keep the flag
    df = spark.createDataFrame(
        [{"i": i, "x": a, "y": b} for i, (a, b) in enumerate(pts)]
    )
    ref = _sky_ref(pts)
    for width in (1, 7, 64, 100000):  # incl. one-bucket and single-x buckets
        got = {r.i: r.sky for r in pareto_frontier(df, "x", "y", width).collect()}
        assert [got[i] for i in range(len(pts))] == ref, width


def test_pareto_frontier_shapes(spark):
    from extra_ops.relational import pareto_frontier

    # anti-diagonal: every point is on the frontier
    diag = [{"i": i, "x": i, "y": 10 - i} for i in range(11)]
    got = pareto_frontier(spark.createDataFrame(diag), "x", "y", 4).collect()
    assert all(r.sky == 1 for r in got)
    # one global minimum dominates everything else
    pts = [{"i": 0, "x": 0, "y": 0}] + [
        {"i": i, "x": i, "y": i} for i in range(1, 6)
    ]
    got = {r.i: r.sky for r in pareto_frontier(
        spark.createDataFrame(pts), "x", "y", 2).collect()}
    assert got == {0: 1, 1: 0, 2: 0, 3: 0, 4: 0, 5: 0}
    with pytest.raises(ValueError):
        pareto_frontier(spark.createDataFrame(pts), "x", "y", 0)


def _mk_ref(series):
    """series: list of (ts, id, v) — brute reference."""
    import math

    s = sorted(series)
    vals = [x[2] for x in s]
    n = len(vals)
    S = sum(
        (vals[j] > vals[i]) - (vals[j] < vals[i])
        for i in range(n)
        for j in range(i + 1, n)
    )
    from collections import Counter

    tie = sum(
        t * (t - 1) * (2 * t + 5) for t in Counter(vals).values() if t > 1
    )
    var18 = n * (n - 1) * (2 * n + 5) - tie
    if var18 == 0:
        z = None
    elif S > 0:
        z = (S - 1) / math.sqrt(var18 / 18.0)
    elif S < 0:
        z = (S + 1) / math.sqrt(var18 / 18.0)
    else:
        z = 0.0
    return n, S, var18, z


def test_mann_kendall_matches_bruteforce(spark):
    import random

    from extra_ops.relational import mann_kendall

    rng = random.Random(23)
    rows = []
    series = {}
    for u in range(6):
        n = rng.choice([1, 2, 5, 40])
        for i in range(n):
            val = rng.randrange(0, 8)  # narrow domain -> plenty of ties
            rows.append((u, i * 10 + rng.randrange(3), i, val))
            series.setdefault(u, []).append(rows[-1][1:])
    # a strictly increasing and a strictly decreasing user
    for u, sgn in ((10, 1), (11, -1)):
        for i in range(12):
            rows.append((u, i, i, 100 + sgn * i))
            series.setdefault(u, []).append(rows[-1][1:])
    df = spark.createDataFrame(rows, "user_id long, ts long, event_id long, v long")
    got = {r.user_id: r for r in mann_kendall(df).collect()}
    assert set(got) == set(series)
    for u, ser in series.items():
        n, S, var18, z = _mk_ref(ser)
        r = got[u]
        assert (r.mk_n, r.mk_s, r.mk_var18_str) == (n, S, str(var18)), u
        if z is None:
            assert r.mk_z is None
        else:
            assert abs(r.mk_z - z) < 1e-12, u
    assert got[10].mk_s == 66 and got[11].mk_s == -66


def test_robust_outliers_matches_reference(spark):
    """Exact-integer reference: per-group sorted median / MAD midranks
    and the cross-multiplied Hampel test, on a heavy-tailed fixture
    with ties, singletons, and an even-sized group."""
    import numpy as np

    from extra_ops.relational import robust_outliers

    rng = np.random.default_rng(7)
    rows = []
    for g in range(6):
        for i in range(rng.integers(1, 12)):
            v = int(1 << rng.integers(0, 16)) if g % 2 else int(rng.integers(0, 9))
            rows.append((f"g{g}", len(rows), v))
    df = spark.createDataFrame(rows, "key string, rid long, v long")
    got = {
        r.rid: r
        for r in robust_outliers(df, "key", "v", k=3, tiebreak="rid").collect()
    }
    from collections import defaultdict

    by = defaultdict(list)
    for key, rid, v in rows:
        by[key].append(v)
    for key, rid, v in rows:
        xs = sorted(by[key])
        n = len(xs)
        med2 = xs[(n + 1) // 2 - 1] + xs[n // 2]
        d2s = sorted(abs(2 * x - med2) for x in xs)
        mad22 = d2s[(n + 1) // 2 - 1] + d2s[n // 2]
        r = got[rid]
        assert (r.rz_med2, r.rz_mad22) == (med2, mad22), (key, rid)
        assert r.rz_d2 == abs(2 * v - med2)
        assert r.rz_out == int(2 * abs(2 * v - med2) > 3 * mad22)


def test_robust_outliers_contracts(spark):
    """Singleton group never flags; a planted spike in a tight group
    flags exactly the spike; constant group (MAD 0) flags only
    off-median values; k validation."""
    import pytest

    from extra_ops.relational import robust_outliers

    rows = [
        ("s", 0, 7),
        ("t", 1, 10), ("t", 2, 11), ("t", 3, 10), ("t", 4, 12), ("t", 5, 9000),
        ("c", 6, 4), ("c", 7, 4), ("c", 8, 4),
    ]
    df = spark.createDataFrame(rows, "key string, rid long, v long")
    got = {r.rid: r for r in robust_outliers(df, "key", "v", k=3).collect()}
    assert got[0].rz_out == 0 and got[0].rz_mad22 == 0
    assert [got[i].rz_out for i in (1, 2, 3, 4, 5)] == [0, 0, 0, 0, 1]
    assert all(got[i].rz_out == 0 for i in (6, 7, 8))
    with pytest.raises(ValueError):
        robust_outliers(df, "key", "v", k=-1)


def _ref_pava_fitq(y):
    """Textbook minimax characterization (a DIFFERENT algorithm from
    the operator's stack PAVA): fitq_i = max_{j<=i} min_{k>=i}
    floor(S*sum/len), exact ints."""
    n = len(y)
    S = 2 * n * n
    ps = [0]
    for v in y:
        ps.append(ps[-1] + v)
    out = []
    for i in range(n):
        best = None
        for j in range(i + 1):
            mn = min(
                (S * (ps[k + 1] - ps[j])) // (k - j + 1) for k in range(i, n)
            )
            best = mn if best is None else max(best, mn)
        out.append(best)
    return out


def test_isotonic_matches_minimax_reference(spark):
    from extra_ops.relational import isotonic_fit

    rng = __import__("numpy").random.default_rng(71)
    rows = []
    series = {}
    for u in range(6):
        n = int(rng.integers(1, 13))
        ys = [int(x) for x in rng.integers(0, 100, n)]
        series[u] = ys
        for i, y in enumerate(ys):
            rows.append((u, i, u * 1000 + i, y))
    df = spark.createDataFrame(rows, "user_id long, ts long, event_id long, v long")
    got = isotonic_fit(df, max_n=12).collect()
    by_user = {}
    for r in got:
        by_user.setdefault(r.user_id, {})[r.event_id] = (r.iso_fitq, r.iso_n)
    for u, ys in series.items():
        ref = _ref_pava_fitq(ys)
        assert len(by_user[u]) == len(ys)
        for i in range(len(ys)):
            fq, n = by_user[u][u * 1000 + i]
            assert n == len(ys)
            assert fq == ref[i], (u, i, fq, ref[i])


def test_isotonic_contracts(spark):
    from extra_ops.relational import isotonic_fit

    # already monotone: fit == 2n²·y exactly; fit is non-decreasing
    rows = [(1, i, i, v) for i, v in enumerate([1, 3, 3, 7])]
    df = spark.createDataFrame(rows, "user_id long, ts long, event_id long, v long")
    got = sorted(isotonic_fit(df).collect(), key=lambda r: r.event_id)
    S = 2 * 16
    assert [r.iso_fitq for r in got] == [S * 1, S * 3, S * 3, S * 7]
    # strictly decreasing input pools into ONE block = the global mean
    rows = [(1, i, i, v) for i, v in enumerate([9, 5, 1])]
    df = spark.createDataFrame(rows, "user_id long, ts long, event_id long, v long")
    got = sorted(isotonic_fit(df).collect(), key=lambda r: r.event_id)
    assert len({r.iso_fitq for r in got}) == 1
    assert got[0].iso_fitq == (2 * 9 * 15) // 3  # floor(S * mean)
    # max_n truncation: only the first max_n rows come back
    rows = [(1, i, i, i % 3) for i in range(20)]
    df = spark.createDataFrame(rows, "user_id long, ts long, event_id long, v long")
    got = isotonic_fit(df, max_n=5).collect()
    assert sorted(r.event_id for r in got) == [0, 1, 2, 3, 4]
    assert all(r.iso_n == 5 for r in got)


def _ref_allen(ivals):
    """Brute reference: ivals = {item: (s, e)}; returns the 7-census."""
    import itertools

    cnt = dict.fromkeys(
        ["al_prec", "al_meets", "al_over", "al_starts", "al_during",
         "al_fin", "al_eq"], 0
    )
    for x, y in itertools.combinations(sorted(ivals), 2):
        A, B = sorted([ivals[x], ivals[y]])
        (sa, ea), (sb, eb) = A, B
        if sa == sb and ea == eb:
            r = "al_eq"
        elif sa == sb:
            r = "al_starts"
        elif ea < sb:
            r = "al_prec"
        elif ea == sb:
            r = "al_meets"
        elif eb < ea:
            r = "al_during"
        elif eb == ea:
            r = "al_fin"
        else:
            r = "al_over"
        cnt[r] += 1
    return cnt


def test_allen_census_all_seven_relations(spark):
    from extra_ops.relational import (
        ALLEN_COLS,
        allen_census,
    )

    # one key exercising every relation at least once
    ivals = {
        "a": (0, 10), "b": (0, 10),     # equals with a
        "c": (0, 5),                    # starts (vs a, b)
        "d": (20, 30),                  # precedes (vs everything early)
        "e": (10, 20),                  # meets a/b, finishes? no — meets d
        "f": (2, 4),                    # during a/b/c
        "g": (3, 5),                    # finishes c, overlaps f
    }
    rows = [(1, k, s, e) for k, (s, e) in ivals.items()]
    df = spark.createDataFrame(rows, "k long, item string, s long, e long")
    got = allen_census(df, ["k"], "item").collect()[0].asDict()
    ref = _ref_allen(ivals)
    for c in ALLEN_COLS:
        assert got[c] == ref[c], (c, got[c], ref[c])
    assert sum(ref.values()) == 21  # all pairs classified exactly once


def test_allen_census_random_parity(spark):
    import numpy as np

    from extra_ops.relational import (
        ALLEN_COLS,
        allen_census,
    )

    rng = np.random.default_rng(107)
    rows, refs = [], {}
    for k in range(8):
        ivals = {}
        for j in range(int(rng.integers(2, 7))):
            s = int(rng.integers(0, 20))
            e = s + int(rng.integers(0, 10))
            ivals[f"t{j}"] = (s, e)
        refs[k] = _ref_allen(ivals)
        rows += [(k, it, s, e) for it, (s, e) in ivals.items()]
    df = spark.createDataFrame(rows, "k long, item string, s long, e long")
    got = {r.k: r.asDict() for r in allen_census(df, ["k"], "item").collect()}
    for k, ref in refs.items():
        for c in ALLEN_COLS:
            assert got[k][c] == ref[c], (k, c)


# ---------------------------------------------------------------------------
# CUSUM changepoint screen (relational.cusum_changepoint)
# ---------------------------------------------------------------------------

from extra_ops.relational import (  # noqa: E402
    cusum_changepoint,
)


def _cusum_python(vals):
    n = len(vals)
    if n < 2:
        return (n, 0, None, 0)
    sn = sum(vals)
    best = None
    sk = 0
    for k in range(1, n):
        sk += vals[k - 1]
        d = n * sk - k * sn
        key = (abs(d), -k)
        if best is None or key > best[0]:
            sg = 0 if d == 0 else (1 if d > 0 else -1)
            best = (key, k, abs(d), sg)
    return (n, best[2], best[1], best[3])


def _run_cusum(spark, series):
    rows = [
        {"k": key, "i": i, "v": v}
        for key, vals in series.items()
        for i, v in enumerate(vals)
    ]
    out = cusum_changepoint(
        spark.createDataFrame(rows), ["k"], ["i"], "v"
    ).collect()
    return {
        r["k"]: (r["cp_n"], r["cp_stat"], r["cp_pos"], r["cp_sign"]) for r in out
    }


def test_cusum_level_shift_and_edges(spark):
    series = {
        "shift": [0, 0, 0, 0, 10, 10, 10, 10],  # clean mean shift at k=4
        "const": [5, 5, 5, 5],                  # no change: stat 0, pos 1
        "single": [42],                          # n<2: stat 0, pos null
        "down": [9, 9, 9, 1, 1, 1],              # downward shift, sign +
    }
    got = _run_cusum(spark, series)
    n, stat, pos, sg = got["shift"]
    assert (n, pos) == (8, 4) and stat == 8 * 0 * 0 + abs(8 * 0 - 4 * 40)
    assert sg == -1  # prefix below the global mean
    assert got["const"] == (4, 0, 1, 0)
    assert got["single"] == (1, 0, None, 0)
    assert got["down"][2] == 3 and got["down"][3] == 1
    for k, vals in series.items():
        assert got[k] == _cusum_python(vals), k


def test_cusum_random_matches_python(spark):
    import numpy as np

    rng = np.random.default_rng(31)
    series = {}
    for i in range(25):
        n = int(rng.integers(1, 40))
        vals = [int(x) for x in rng.integers(-50, 50, n)]
        series[f"s{i}"] = vals
    got = _run_cusum(spark, series)
    for k, vals in series.items():
        assert got[k] == _cusum_python(vals), k


# ---------------------------------------------------------------------------
# trajectory speed screen (relational.speed_screen)
# ---------------------------------------------------------------------------

from extra_ops.relational import speed_screen  # noqa: E402
import datetime as _dt  # noqa: E402


def _ts(s):
    return _dt.datetime(2026, 1, 1) + _dt.timedelta(seconds=s)


def _speed_python(pts, vmax):
    steps = viol = 0
    ex = 0
    for (t0, x0, y0), (t1, x1, y1) in zip(pts, pts[1:]):
        steps += 1
        d2 = (x1 - x0) ** 2 + (y1 - y0) ** 2
        b2 = vmax * vmax * (t1 - t0) ** 2
        if d2 > b2:
            viol += 1
            ex += d2 - b2
    return steps, viol, str(ex)


def test_speed_screen_basic(spark):
    vmax = 10
    pts = {
        # 3 steps: ok (d=5, dt=1), teleport (dt=0, d>0), too fast (d=100, dt=1)
        "a": [(0, 0, 0), (1, 3, 4), (1, 3, 104), (2, 103, 104)],
        "b": [(0, 7, 7)],                      # single fix: 0 steps
        "c": [(0, 0, 0), (10, 0, 100)],        # exactly at bound: no viol
    }
    rows = [
        {"k": k, "ts": _ts(t), "lat": y, "lon": x, "i": j}
        for k, seq in pts.items()
        for j, (t, x, y) in enumerate(seq)
    ]
    out = {
        r["k"]: (r["sp_steps"], r["sp_viol"], r["sp_ex_str"])
        for r in speed_screen(
            spark.createDataFrame(rows), "k", "ts", vmax=vmax,
            order_cols=["ts", "i"],
        ).collect()
    }
    # a: teleport ex 100²-0, then (3,104)->(103,104) ex 100²-10²
    assert out["a"] == (3, 2, str(10_000 + 9_900))
    assert out["b"] == (1 - 1, 0, "0")
    assert out["c"] == (1, 0, "0")
    for k, seq in pts.items():
        assert out[k] == _speed_python([(t, x, y) for t, x, y in seq], vmax), k


def test_speed_screen_bigint_overflow_range(spark):
    # dx ~ 3.6e9 -> d² ~ 1.3e19 > int64 max: the decimal carry must hold
    rows = [
        {"k": "w", "ts": _ts(0), "lat": -900_000_000, "lon": -1_800_000_000},
        {"k": "w", "ts": _ts(1), "lat": 900_000_000, "lon": 1_800_000_000},
    ]
    out = speed_screen(spark.createDataFrame(rows), "k", "ts", vmax=1).collect()[0]
    d2 = 3_600_000_000**2 + 1_800_000_000**2
    assert (out["sp_steps"], out["sp_viol"]) == (1, 1)
    assert out["sp_ex_str"] == str(d2 - 1)


def test_speed_screen_random_matches_python(spark):
    import numpy as np

    rng = np.random.default_rng(41)
    vmax = 1000
    series = {}
    for i in range(15):
        n = int(rng.integers(1, 25))
        t = np.cumsum(rng.integers(0, 5, n)).tolist()
        xs = rng.integers(-100_000, 100_000, n).tolist()
        ys = rng.integers(-100_000, 100_000, n).tolist()
        series[f"s{i}"] = list(zip(map(int, t), map(int, xs), map(int, ys)))
    rows = [
        {"k": k, "ts": _ts(t), "lat": y, "lon": x, "i": j}
        for k, seq in series.items()
        for j, (t, x, y) in enumerate(seq)
    ]
    out = {
        r["k"]: (r["sp_steps"], r["sp_viol"], r["sp_ex_str"])
        for r in speed_screen(
            spark.createDataFrame(rows), "k", "ts", vmax=vmax,
            order_cols=["ts", "i"],
        ).collect()
    }
    for k, seq in series.items():
        assert out[k] == _speed_python(seq, vmax), k


# ---------------------------------------------------------------------------
# Theil-Sen robust slope (relational.theil_sen)
# ---------------------------------------------------------------------------

from extra_ops.relational import theil_sen  # noqa: E402


def _ts_python(pts, max_n=12):
    from fractions import Fraction

    pts = pts[:max_n]
    slopes = []
    for a in range(len(pts)):
        for b in range(a + 1, len(pts)):
            dx = pts[b][0] - pts[a][0]
            if dx != 0:
                slopes.append(Fraction(pts[b][1] - pts[a][1], dx))
    if not slopes:
        return (0, None, None)
    slopes.sort()
    m = len(slopes)
    med = slopes[m // 2] if m % 2 else (slopes[m // 2 - 1] + slopes[m // 2]) / 2
    return (m, str(med.numerator), str(med.denominator))


def _run_ts(spark, series, max_n=12):
    rows = [
        {"k": k, "i": i, "x": x, "y": y}
        for k, pts in series.items()
        for i, (x, y) in enumerate(pts)
    ]
    out = theil_sen(
        spark.createDataFrame(rows), "k", "x", "y", ["i"], max_n=max_n
    ).collect()
    return {r["k"]: (r["ts_m"], r["ts_num_str"], r["ts_den_str"]) for r in out}


def test_theil_sen_hand_cases(spark):
    series = {
        # perfect line y = 2x: every slope 2/1
        "line": [(0, 0), (1, 2), (2, 4), (3, 6)],
        # one wild outlier: median slope stays 1 (robustness)
        "outlier": [(0, 0), (1, 1), (2, 2), (3, 3), (4, 1000)],
        # even pair count averaging: slopes 1/1 and 3/1 -> 2/1... build:
        "even": [(0, 0), (1, 1), (2, 4)],  # slopes 1, 3, 2 -> median 2
        "single": [(5, 5)],
        "vertical": [(1, 1), (1, 5)],  # only a dx=0 pair: m=0
        "halves": [(0, 0), (2, 1), (4, 2)],  # all slopes 1/2
    }
    got = _run_ts(spark, series)
    assert got["line"] == (6, "2", "1")
    m, n, d = got["outlier"]
    assert (n, d) == ("1", "1")
    assert got["even"] == (3, "2", "1")
    assert got["single"] == (0, None, None)
    assert got["vertical"] == (0, None, None)
    assert got["halves"] == (3, "1", "2")
    for k, pts in series.items():
        assert got[k] == _ts_python(pts), k


def test_theil_sen_random_and_cap(spark):
    import numpy as np

    rng = np.random.default_rng(61)
    series = {}
    for i in range(20):
        n = int(rng.integers(1, 16))
        xs = sorted(int(v) for v in rng.integers(0, 1000, n))
        ys = [int(v) for v in rng.integers(-50, 50, n)]
        series[f"s{i}"] = list(zip(xs, ys))
    got = _run_ts(spark, series, max_n=12)
    for k, pts in series.items():
        assert got[k] == _ts_python(pts, max_n=12), k


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity census (relational.k_anonymity_census)
# ---------------------------------------------------------------------------

from extra_ops.relational import (  # noqa: E402
    k_anonymity_census,
)


def test_k_anonymity_census(spark):
    rows = [
        # class (a,1): 3 rows, 2 distinct users
        {"q1": "a", "q2": 1, "u": 10}, {"q1": "a", "q2": 1, "u": 10},
        {"q1": "a", "q2": 1, "u": 11},
        # class (a,2): 1 row (below threshold, suppressed; l = 1)
        {"q1": "a", "q2": 2, "u": 12},
        # class (b,1): 5 rows, 5 distinct (at threshold, kept)
        *[{"q1": "b", "q2": 1, "u": 20 + i} for i in range(5)],
    ]
    out = k_anonymity_census(
        spark.createDataFrame(rows), ["q1", "q2"], "u", k_threshold=5
    ).collect()[0]
    assert out["ka_classes"] == 3
    assert out["ka_min"] == 1
    assert out["ka_sup"] == 3 + 1  # both classes under 5 suppress
    assert out["ka_sum2_str"] == str(9 + 1 + 25)
    assert out["ld_min"] == 1


def test_k_anonymity_census_random_matches_python(spark):
    import numpy as np
    from collections import Counter, defaultdict

    rng = np.random.default_rng(71)
    rows = [
        {"q1": int(rng.integers(0, 4)), "q2": int(rng.integers(0, 3)),
         "u": int(rng.integers(0, 9))}
        for _ in range(200)
    ]
    out = k_anonymity_census(
        spark.createDataFrame(rows), ["q1", "q2"], "u", k_threshold=10
    ).collect()[0]
    cnt = Counter((r["q1"], r["q2"]) for r in rows)
    usr = defaultdict(set)
    for r in rows:
        usr[(r["q1"], r["q2"])].add(r["u"])
    assert out["ka_classes"] == len(cnt)
    assert out["ka_min"] == min(cnt.values())
    assert out["ka_sup"] == sum(n for n in cnt.values() if n < 10)
    assert out["ka_sum2_str"] == str(sum(n * n for n in cnt.values()))
    assert out["ld_min"] == min(len(s) for s in usr.values())


# ---------------------------------------------------------------------------
# classical seasonal decomposition (relational.seasonal_decompose)
# ---------------------------------------------------------------------------

from extra_ops.relational import seasonal_decompose


def _decomp_python(vals, p):
    h = p // 2
    n = len(vals)
    trend = [None] * n
    for i in range(h, n - h):
        trend[i] = vals[i - h] + 2 * sum(vals[i - h + 1:i + h]) + vals[i + h]
    seas = {}
    for q in range(p):
        det = [2 * p * vals[i] - trend[i]
               for i in range(n) if trend[i] is not None and i % p == q]
        if det:
            seas[q] = (len(det), sum(det), 2 * p * len(det))
    return trend, seas


def test_seasonal_decompose_pure_wave(spark):
    # v[t] = base + season(t%4), no noise: detrended == season - mean
    p = 4
    season = [10, 0, -4, -6]
    vals = [100 + season[t % p] for t in range(20)]
    df = spark.createDataFrame([{"t": t, "n": v} for t, v in enumerate(vals)])
    tr, se = seasonal_decompose(df, period=p)
    trend, seas = _decomp_python(vals, p)
    got_t = {r["t"]: r["trend_scaled"] for r in tr.collect()}
    for t, want in enumerate(trend):
        assert got_t[t] == want, t
    got_s = {r["phase"]: (r["m"], r["s_num"], r["s_den"]) for r in se.collect()}
    assert got_s == seas
    # a perfectly periodic series has constant trend == 2p * base-mean
    mid = [v for v in trend if v is not None]
    assert len(set(mid)) == 1 and mid[0] == 2 * p * 100
    # seasonal means recover season - mean(season) exactly (den-scaled)
    msum = sum(season)  # mean = msum / p
    for q, (m, num, den) in seas.items():
        from fractions import Fraction

        assert Fraction(num, den) == Fraction(season[q] * p - msum, p)


def test_seasonal_decompose_random_and_guards(spark):
    import numpy as np
    import pytest

    rng = np.random.default_rng(137)
    vals = [int(x) for x in rng.integers(0, 50, 57)]
    p = 6
    df = spark.createDataFrame([{"t": t, "n": v} for t, v in enumerate(vals)])
    tr, se = seasonal_decompose(df, period=p)
    trend, seas = _decomp_python(vals, p)
    got_t = {r["t"]: r["trend_scaled"] for r in tr.collect()}
    assert got_t == {t: trend[t] for t in range(len(vals))}
    got_s = {r["phase"]: (r["m"], r["s_num"], r["s_den"]) for r in se.collect()}
    assert got_s == seas
    with pytest.raises(ValueError, match="even"):
        seasonal_decompose(df, period=5)
