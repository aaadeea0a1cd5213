"""Viterbi HMM map matching: DP vs path enumeration, anti-zigzag
property, candidate correctness, DuckDB twin parity."""

import itertools

import pytest

from extra_ops.mapmatch import (
    hmm_candidates,
    hmm_map_match,
    sql_hmm_ctes,
)

SW, GW = 10**15, 1


def _segs(spark, rows):
    return spark.createDataFrame(
        rows, "group_id string, pos long, x1 long, y1 long, x2 long, y2 long"
    )


def _pts(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, ts long, event_id long, lon long, lat long"
    )


def _enumerate_best(cand_rows, sw=SW, gw=GW):
    """Reference: enumerate every candidate path per trajectory, pick
    min (cost, rank-sequence)."""
    by_traj: dict = {}
    for r in cand_rows:
        by_traj.setdefault(r["traj"], {}).setdefault(r["t"], []).append(r)
    out = {}
    for traj, ts in by_traj.items():
        order = sorted(ts)
        for t in order:
            ts[t].sort(key=lambda r: r["rnk"])
        best = None
        for combo in itertools.product(*(ts[t] for t in order)):
            cost = sum(c["e"] for c in combo)
            for a, b in zip(combo, combo[1:]):
                if a["group_id"] != b["group_id"]:
                    cost += sw
                cost += gw * ((a["mx"] - b["mx"]) ** 2 + (a["my"] - b["my"]) ** 2)
            key = (cost, tuple(c["rnk"] for c in combo))
            if best is None or key < best[0]:
                best = (key, combo)
        switches = sum(
            1
            for a, b in zip(best[1], best[1][1:])
            if a["group_id"] != b["group_id"]
        )
        out[traj] = (best[0][0], best[1], switches)
    return out


def _fixture(spark):
    # two roughly-parallel two-segment ways + one decoy far away
    segs = _segs(
        spark,
        [
            ("wayA", 0, 0, 0, 1000, 0),
            ("wayA", 1, 1000, 0, 2000, 0),
            ("wayB", 0, 0, 90, 1000, 90),
            ("wayB", 1, 1000, 90, 2000, 110),
            ("wayC", 0, 0, 500000, 2000, 500000),
        ],
    )
    # trajectory 1 zigzags between the parallels; 2 is short; 3 has one pt
    pts = _pts(
        spark,
        [
            (1, 10, 100, 100, 40),
            (1, 20, 101, 400, 55),
            (1, 30, 102, 700, 38),
            (1, 40, 103, 1100, 52),
            (1, 50, 104, 1500, 41),
            (2, 10, 200, 50, 85),
            (2, 20, 201, 1900, 120),
            (3, 10, 300, 1000, 499000),
        ],
    )
    return pts, segs


def test_dp_matches_enumeration(spark):
    pts, segs = _fixture(spark)
    cand = [r.asDict() for r in hmm_candidates(pts, segs).collect()]
    ref = _enumerate_best(cand)
    got = hmm_map_match(pts, segs).collect()
    by_traj: dict = {}
    for r in got:
        by_traj.setdefault(
            next(c["traj"] for c in cand if c["pid"] == r["pid"]), []
        ).append(r)
    for traj, rows in by_traj.items():
        cost, combo, switches = ref[traj]
        rows.sort(key=lambda r: r["pid"])
        assert [r["mm_rank"] for r in rows] == [c["rnk"] for c in combo]
        assert [r["mm_way"] for r in rows] == [c["group_id"] for c in combo]
        assert rows[0]["mm_cost"] == cost
        assert rows[0]["mm_switches"] == switches


def test_anti_zigzag_vs_independent_snap(spark):
    """The HMM's whole point: independent snapping zigzags between the
    parallel ways, the joint match stays on one."""
    pts, segs = _fixture(spark)
    cand = hmm_candidates(pts, segs, k=1).collect()
    indep = [r["group_id"] for r in sorted(cand, key=lambda r: r["pid"]) if r["pid"] < 200]
    assert len(set(indep)) > 1  # nearest-segment snap DOES zigzag here
    got = sorted(
        (r for r in hmm_map_match(pts, segs).collect() if r["pid"] < 200),
        key=lambda r: r["pid"],
    )
    assert len({r["mm_way"] for r in got}) == 1  # the matcher does not
    assert got[0]["mm_switches"] == 0


def test_single_point_and_short_trajectories(spark):
    pts, segs = _fixture(spark)
    rows = {r["pid"]: r for r in hmm_map_match(pts, segs).collect()}
    assert rows[300]["mm_way"] == "wayC"
    assert rows[300]["mm_switches"] == 0
    assert rows[300]["mm_cost"] == rows[300]["mm_e"]
    assert rows[200]["mm_way"] == rows[201]["mm_way"] == "wayB"


def test_max_points_truncation_and_validation(spark):
    pts, segs = _fixture(spark)
    got = hmm_map_match(pts, segs, max_points=3).collect()
    assert {r["pid"] for r in got if r["pid"] < 200} == {100, 101, 102}
    with pytest.raises(ValueError):
        hmm_candidates(pts, segs, k=0)


def test_candidates_are_k_nearest(spark):
    pts, segs = _fixture(spark)
    cand = hmm_candidates(pts, segs, k=2).collect()
    seg_rows = segs.collect()

    def d2(px, py, s):
        # brute clamped point-segment distance (float is fine for ranking here)
        dx, dy = s["x2"] - s["x1"], s["y2"] - s["y1"]
        apx, apy = px - s["x1"], py - s["y1"]
        dot, l2 = apx * dx + apy * dy, dx * dx + dy * dy
        if dot <= 0:
            return apx * apx + apy * apy
        if dot >= l2:
            return (px - s["x2"]) ** 2 + (py - s["y2"]) ** 2
        return ((apx * apx + apy * apy) * l2 - dot * dot) / l2

    pts_rows = pts.collect()
    for p in pts_rows:
        want = sorted(
            seg_rows,
            key=lambda s: (d2(p["lon"], p["lat"], s), s["group_id"], s["pos"]),
        )[:2]
        got = sorted(
            (c for c in cand if c["pid"] == p["event_id"]),
            key=lambda c: c["rnk"],
        )
        assert [(c["group_id"], c["pos"]) for c in got] == [
            (s["group_id"], s["pos"]) for s in want
        ]


def test_duckdb_twin_parity(spark):
    duckdb = pytest.importorskip("duckdb")
    pts, segs = _fixture(spark)
    got = {
        r["pid"]: r
        for r in hmm_map_match(pts, segs).collect()
    }
    seg_vals = ", ".join(
        f"('{r['group_id']}', {r['pos']}, {r['x1']}, {r['y1']}, {r['x2']}, {r['y2']})"
        for r in segs.collect()
    )
    pt_vals = ", ".join(
        f"({r['user_id']}, {r['ts']}, {r['event_id']}, {r['lon']}, {r['lat']})"
        for r in pts.collect()
    )
    con = duckdb.connect()
    q = (
        "WITH RECURSIVE pts0 AS (SELECT * FROM (VALUES "
        + pt_vals
        + ") v(user_id, ts, event_id, lon, lat)),"
        + sql_hmm_ctes("pts0", seg_vals)
        + """
        SELECT a.pid, a.mm_way, a.mm_pos, a.mm_rank, a.mm_e, a.mm_cost,
               w.mm_switches
        FROM mmassign a JOIN mmswitch w USING (traj) ORDER BY a.pid
        """
    )
    ref = con.execute(q).fetchall()
    assert len(ref) == len(got)
    for pid, way, pos, rnk, e, cost, sw in ref:
        r = got[pid]
        assert (r["mm_way"], r["mm_pos"], r["mm_rank"], r["mm_e"]) == (
            way, pos, rnk, e,
        )
        assert (r["mm_cost"], r["mm_switches"]) == (cost, sw)


def test_second_best_cost_matches_enumeration(spark):
    """mm_cost2 == the SECOND element of the sorted multiset of ALL
    path costs (the match-confidence alternative) — 2-best DP vs full
    enumeration, a genuinely different algorithm."""
    pts, segs = _fixture(spark)
    cand = [r.asDict() for r in hmm_candidates(pts, segs).collect()]
    by_traj: dict = {}
    for r in cand:
        by_traj.setdefault(r["traj"], {}).setdefault(r["t"], []).append(r)
    ref2 = {}
    for traj, ts in by_traj.items():
        order = sorted(ts)
        costs = []
        for combo in itertools.product(*(ts[t] for t in order)):
            cost = sum(c["e"] for c in combo)
            for a, b in zip(combo, combo[1:]):
                if a["group_id"] != b["group_id"]:
                    cost += SW
                cost += GW * (
                    (a["mx"] - b["mx"]) ** 2 + (a["my"] - b["my"]) ** 2
                )
            costs.append(cost)
        costs.sort()
        ref2[traj] = costs[1] if len(costs) > 1 else None
    got = hmm_map_match(pts, segs).collect()
    pid2traj = {c["pid"]: c["traj"] for c in cand}
    for r in got:
        traj = pid2traj[r["pid"]]
        assert r["mm_cost2"] == ref2[traj], traj
        if ref2[traj] is not None:
            assert r["mm_cost2"] >= r["mm_cost"]
