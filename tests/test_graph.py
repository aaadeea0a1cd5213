"""hop_distances: BFS layers over an undirected edge list."""

from collections import deque

import numpy as np
import pytest

from extra_ops.graph import hop_distances


def _dfs(spark, edges, sources):
    e = spark.createDataFrame(edges, "a string, b string")
    s = spark.createDataFrame([(x,) for x in sources], "node_id string")
    return e, s


def _ref(edges, sources, max_hops):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in sources}
    q = deque(sources)
    while q:
        u = q.popleft()
        if dist[u] >= max_hops:
            continue
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


def test_path_star_cycle_shapes(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "d")]
    e, s = _dfs(spark, edges, ["a"])
    got = {r.node_id: r.hops for r in hop_distances(e, s).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3}

    star = [("hub", f"s{i}") for i in range(6)]
    e, s = _dfs(spark, star, ["hub"])
    got = {r.node_id: r.hops for r in hop_distances(e, s).collect()}
    assert got == {"hub": 0, **{f"s{i}": 1 for i in range(6)}}

    # 6-cycle from one seed: distances wrap both ways, max 3
    cyc = [(f"c{i}", f"c{(i + 1) % 6}") for i in range(6)]
    e, s = _dfs(spark, cyc, ["c0"])
    got = {r.node_id: r.hops for r in hop_distances(e, s).collect()}
    assert got == {"c0": 0, "c1": 1, "c5": 1, "c2": 2, "c4": 2, "c3": 3}


def test_disconnected_duplicates_selfloops_multisource(spark):
    edges = [
        ("a", "b"), ("a", "b"), ("b", "a"),       # duplicates, both dirs
        ("b", "b"),                               # self loop
        ("x", "y"),                               # island (unreached)
        ("b", "c"),
    ]
    e, s = _dfs(spark, edges, ["a"])
    got = {r.node_id: r.hops for r in hop_distances(e, s).collect()}
    assert got == {"a": 0, "b": 1, "c": 2}

    # multi-source: min over sources; island now reached from y
    e, s = _dfs(spark, edges, ["c", "y"])
    got = {r.node_id: r.hops for r in hop_distances(e, s).collect()}
    assert got == {"c": 0, "y": 0, "b": 1, "x": 1, "a": 2}


def test_max_hops_cut_and_guard(spark):
    edges = [(f"n{i}", f"n{i + 1}") for i in range(8)]
    e, s = _dfs(spark, edges, ["n0"])
    got = {r.node_id: r.hops for r in hop_distances(e, s, max_hops=3).collect()}
    assert got == {"n0": 0, "n1": 1, "n2": 2, "n3": 3}
    got0 = {r.node_id: r.hops for r in hop_distances(e, s, max_hops=0).collect()}
    assert got0 == {"n0": 0}
    with pytest.raises(ValueError):
        hop_distances(e, s, max_hops=-1)


def test_random_graph_matches_python_bfs(spark):
    rng = np.random.default_rng(13)
    n, m = 60, 140
    edges = [
        (f"v{int(a)}", f"v{int(b)}")
        for a, b in rng.integers(0, n, (m, 2))
    ]
    sources = ["v0", "v7"]
    for mh in (2, 6, 10):
        e, s = _dfs(spark, edges, sources)
        got = {r.node_id: r.hops for r in hop_distances(e, s, max_hops=mh).collect()}
        assert got == _ref(edges, sources, mh), mh


# ---------------------------------------------------------------------------
# components_pointer_jump
# ---------------------------------------------------------------------------


def _cc_ref(edges, nodes):
    """Union-find reference: node -> min id of its component."""
    parent = {n: n for n in nodes}

    def find(u):
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_pointer_jump_matches_dedup_components_random(spark):
    from extra_ops.dedup import dedup_components
    from extra_ops.graph import components_pointer_jump

    rng = np.random.default_rng(7)
    for trial in range(3):
        n = 60
        edges = [
            (int(a), int(b))
            for a, b in rng.integers(0, n, size=(80, 2))
        ]
        e = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r.id: r.label
            for r in components_pointer_jump(e).collect()
        }
        base = {
            r.id: r.keeper_id for r in dedup_components(e).collect()
        }
        assert got == base
        nodes = {x for ab in edges for x in ab}
        assert got == _cc_ref(edges, nodes)


def test_pointer_jump_long_path_log_rounds(spark):
    """A 200-node path has diameter 199: plain propagation needs ~200
    rounds, pointer jumping must finish well inside 16."""
    from extra_ops.graph import components_pointer_jump

    edges = [(i, i + 1) for i in range(200)]
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.label for r in components_pointer_jump(e, max_iters=16).collect()}
    assert got == {i: 0 for i in range(201)}


def test_pointer_jump_nonconvergence_raises(spark):
    from extra_ops.graph import components_pointer_jump

    edges = [(i, i + 1) for i in range(40)]
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        components_pointer_jump(e, max_iters=2)


# ---------------------------------------------------------------------------
# weighted_distances
# ---------------------------------------------------------------------------


def _dijkstra(edges, sources):
    import heapq

    adj = {}
    for a, b, w in edges:
        adj.setdefault(a, []).append((b, w))
        adj.setdefault(b, []).append((a, w))
    dist = {s: 0 for s in sources}
    pq = [(0, s) for s in sources]
    heapq.heapify(pq)
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, ()):
            nd = d + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    return dist


def test_weighted_distances_shapes(spark):
    from extra_ops.graph import weighted_distances

    # weighted shortcut: a-b-c each weight 1 beats the direct a-c of 5
    edges = [("a", "b", 1), ("b", "c", 1), ("a", "c", 5)]
    e = spark.createDataFrame(edges, "a string, b string, w long")
    s = spark.createDataFrame([("a",)], "node_id string")
    got = {r.node_id: r.dist for r in weighted_distances(e, s).collect()}
    assert got == {"a": 0, "b": 1, "c": 2}

    # multi-source takes the min over sources; islands stay absent
    edges = [("a", "b", 3), ("b", "c", 3), ("x", "y", 1)]
    e = spark.createDataFrame(edges, "a string, b string, w long")
    s = spark.createDataFrame([("a",), ("c",)], "node_id string")
    got = {r.node_id: r.dist for r in weighted_distances(e, s).collect()}
    assert got == {"a": 0, "c": 0, "b": 3}


def test_weighted_distances_random_dijkstra_parity(spark):
    import numpy as np

    from extra_ops.graph import weighted_distances

    rng = np.random.default_rng(11)
    n = 40
    edges = [
        (f"n{int(a)}", f"n{int(b)}", int(w))
        for a, b, w in zip(
            rng.integers(0, n, 70),
            rng.integers(0, n, 70),
            rng.integers(0, 50, 70),  # includes zero-weight edges
        )
    ]
    e = spark.createDataFrame(edges, "a string, b string, w long")
    s = spark.createDataFrame([("n0",)], "node_id string")
    got = {r.node_id: r.dist for r in weighted_distances(e, s).collect()}
    assert got == _dijkstra(edges, ["n0"])


def test_weighted_distances_guards(spark):
    from extra_ops.graph import weighted_distances

    e = spark.createDataFrame([("a", "b", -1)], "a string, b string, w long")
    s = spark.createDataFrame([("a",)], "node_id string")
    with pytest.raises(ValueError, match="non-negative"):
        weighted_distances(e, s)

    e = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}", 1) for i in range(10)], "a string, b string, w long"
    )
    s = spark.createDataFrame([("n0",)], "node_id string")
    with pytest.raises(RuntimeError, match="did not converge"):
        weighted_distances(e, s, max_rounds=3)


def test_weighted_distances_null_weight_raises(spark):
    from extra_ops.graph import weighted_distances

    e = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", None)], "a string, b string, w long"
    )
    s = spark.createDataFrame([("a",)], "node_id string")
    with pytest.raises(ValueError, match="non-NULL"):
        weighted_distances(e, s)


# ---------------------------------------------------------------------------
# minimum_spanning_forest
# ---------------------------------------------------------------------------


def _kruskal(edges):
    """Sequential Kruskal under the (w, a, b) canonical total order —
    the independent reference the Borůvka result must equal exactly."""
    canon = sorted(
        {(min(a, b), max(a, b), w) for a, b, w in edges if a != b},
        key=lambda e: (e[2], e[0], e[1]),
    )
    parent = {}

    def find(u):
        parent.setdefault(u, u)
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    out = set()
    for a, b, w in canon:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
            out.add((a, b, w))
    return out


def test_msf_matches_kruskal_random(spark):
    from extra_ops.graph import minimum_spanning_forest

    rng = np.random.default_rng(23)
    for trial in range(3):
        n = 30
        edges = [
            (f"n{int(a)}", f"n{int(b)}", int(w))
            for a, b, w in zip(
                rng.integers(0, n, 60),
                rng.integers(0, n, 60),
                rng.integers(1, 8, 60),  # small weight range: many ties
            )
        ]
        e = spark.createDataFrame(edges, "a string, b string, w long")
        got = {(r.a, r.b, r.w) for r in minimum_spanning_forest(e).collect()}
        assert got == _kruskal(edges), trial


def test_msf_shapes_and_disconnected(spark):
    from extra_ops.graph import minimum_spanning_forest

    # triangle with a heavy edge + an island pair + self loop + dup edge
    edges = [
        ("a", "b", 1), ("b", "c", 2), ("a", "c", 9),
        ("a", "c", 9),                      # duplicate
        ("x", "y", 4), ("z", "z", 1),       # island + self loop
    ]
    e = spark.createDataFrame(edges, "a string, b string, w long")
    got = {(r.a, r.b, r.w) for r in minimum_spanning_forest(e).collect()}
    assert got == {("a", "b", 1), ("b", "c", 2), ("x", "y", 4)}
    assert got == _kruskal(edges)


# ---------------------------------------------------------------------------
# triangle_counts
# ---------------------------------------------------------------------------


def _tri_ref(edges):
    """Adjacency-set reference: node -> (deg, triangles containing it)
    over the canonical simple graph."""
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = {n: 0 for n in adj}
    seen = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    for a, b in seen:
        for c in adj[a] & adj[b]:
            tri[c] += 1  # counts each triangle once per edge -> /2 per node
    # each node's triangles were counted once per OPPOSITE edge => exact
    # count is common-neighbour pairs: recount properly
    tri = {n: 0 for n in adj}
    for a, b in seen:
        common = adj[a] & adj[b]
        for c in common:
            tri[a] += 1
            tri[b] += 1
            tri[c] += 1
    # every triangle has 3 edges, so each node got its count x3
    return {n: (len(adj[n]), t // 3) for n, t in tri.items()}


def test_triangle_counts_shapes(spark):
    from extra_ops.graph import triangle_counts

    # triangle + pendant + island edge + self loop + duplicate edge
    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),
        ("c", "d"),                      # pendant: deg 1, no triangle
        ("x", "y"),                      # island pair
        ("a", "a"), ("b", "a"),          # self loop + duplicate (reversed)
    ]
    e = spark.createDataFrame(edges, "a string, b string")
    got = {r.id: (r.deg, r.tri) for r in triangle_counts(e).collect()}
    assert got == {
        "a": (2, 1), "b": (2, 1), "c": (3, 1),
        "d": (1, 0), "x": (1, 0), "y": (1, 0),
    }


def test_triangle_counts_k4_and_two_triangles_sharing_edge(spark):
    from extra_ops.graph import triangle_counts

    # K4: every vertex in C(3,2)=3 triangles, 4 triangles total
    k4 = [(a, b) for i, a in enumerate("pqrs") for b in "pqrs"[i + 1:]]
    e = spark.createDataFrame(k4, "a string, b string")
    got = {r.id: (r.deg, r.tri) for r in triangle_counts(e).collect()}
    assert got == {v: (3, 3) for v in "pqrs"}

    # bowtie on a shared edge: a-b shared by triangles abc and abd
    bow = [("a", "b"), ("a", "c"), ("b", "c"), ("a", "d"), ("b", "d")]
    e = spark.createDataFrame(bow, "a string, b string")
    got = {r.id: (r.deg, r.tri) for r in triangle_counts(e).collect()}
    assert got == {"a": (3, 2), "b": (3, 2), "c": (2, 1), "d": (2, 1)}


def test_triangle_counts_random_matches_reference(spark):
    from extra_ops.graph import triangle_counts

    rng = np.random.default_rng(31)
    for trial in range(3):
        n = 40
        edges = [
            (int(a), int(b)) for a, b in rng.integers(0, n, size=(160, 2))
        ]
        e = spark.createDataFrame(edges, "a long, b long")
        got = {r.id: (r.deg, r.tri) for r in triangle_counts(e).collect()}
        assert got == _tri_ref(edges), trial


# ---------------------------------------------------------------------------
# pagerank
# ---------------------------------------------------------------------------


def _pr_ref(edges, iters, scale=10**12, num=85, den=100):
    """Exact integer replica of the pinned recurrence (floor divisions
    on non-negative ints — Python // == Spark DIV == DuckDB //)."""
    de = {(a, b) for a, b in edges if a != b}
    nodes = {x for ab in de for x in ab}
    od = {}
    for a, _ in de:
        od[a] = od.get(a, 0) + 1
    base = ((den - num) * scale) // den
    pr = {v: scale for v in nodes}
    for _ in range(iters):
        s = {v: 0 for v in nodes}
        for a, b in de:
            s[b] += pr[a] // od[a]
        pr = {v: base + (num * s[v]) // den for v in nodes}
    return pr


def test_pagerank_star_sink_and_dangling(spark):
    from extra_ops.graph import pagerank

    # all points into "hub": hub accumulates, spokes keep teleport-only
    edges = [(f"s{i}", "hub") for i in range(5)]
    e = spark.createDataFrame(edges, "a string, b string")
    got = {r.id: r.pr for r in pagerank(e, iters=3).collect()}
    ref = _pr_ref(edges, 3)
    assert got == ref
    assert got["hub"] > got["s0"]
    # dangling hub re-emits nothing: spokes all settle to the same rank
    assert len({got[f"s{i}"] for i in range(5)}) == 1


def test_pagerank_cycle_uniform_and_selfloop_dup(spark):
    from extra_ops.graph import pagerank

    # directed 4-cycle is rank-symmetric: all equal at every iteration
    cyc = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
    e = spark.createDataFrame(cyc, "a string, b string")
    got = {r.id: r.pr for r in pagerank(e, iters=4).collect()}
    assert got == _pr_ref(cyc, 4)
    assert len(set(got.values())) == 1

    # self loops drop, duplicate edges collapse
    edges = cyc + [("a", "a"), ("a", "b")]
    e = spark.createDataFrame(edges, "a string, b string")
    got2 = {r.id: r.pr for r in pagerank(e, iters=4).collect()}
    assert got2 == got


def test_pagerank_random_matches_reference(spark):
    from extra_ops.graph import pagerank

    rng = np.random.default_rng(37)
    for iters in (1, 3):
        edges = [
            (int(a), int(b)) for a, b in rng.integers(0, 30, size=(90, 2))
        ]
        e = spark.createDataFrame(edges, "a long, b long")
        got = {r.id: r.pr for r in pagerank(e, iters=iters).collect()}
        assert got == _pr_ref(edges, iters), iters


def test_pagerank_guards(spark):
    import pytest

    from extra_ops.graph import pagerank

    e = spark.createDataFrame([("a", "b")], "a string, b string")
    with pytest.raises(ValueError, match="iters"):
        pagerank(e, iters=0)
    with pytest.raises(ValueError, match="damp"):
        pagerank(e, damp_num=100, damp_den=100)
    with pytest.raises(ValueError, match="scale"):
        pagerank(e, scale=10)


# ---------------------------------------------------------------------------
# k_core
# ---------------------------------------------------------------------------


def _kcore_ref(edges, k):
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    g = {n: set(s) for n, s in adj.items()}
    while True:
        drop = [n for n, s in g.items() if len(s) < k]
        if not drop:
            return set(g)
        for n in drop:
            for m in g[n]:
                g[m].discard(n)
            del g[n]


def test_k_core_shapes(spark):
    from extra_ops.graph import k_core

    # K4 with a pendant chain: 3-core = the K4, chain peels away
    edges = [(a, b) for i, a in enumerate("pqrs") for b in "pqrs"[i + 1:]]
    edges += [("p", "x"), ("x", "y"), ("y", "z")]
    e = spark.createDataFrame(edges, "a string, b string")
    got = {r.id for r in k_core(e, 3).collect()}
    assert got == set("pqrs")
    # 2-core keeps only cycles: the chain still dies (endpoints deg 1)
    got2 = {r.id for r in k_core(e, 2).collect()}
    assert got2 == set("pqrs")
    # k above max degree: empty
    assert k_core(e, 10).count() == 0
    # self loops and duplicates are dropped
    e2 = spark.createDataFrame(
        edges + [("p", "p"), ("q", "p")], "a string, b string"
    )
    assert {r.id for r in k_core(e2, 3).collect()} == set("pqrs")


def test_k_core_onion_layers_random(spark):
    from extra_ops.graph import k_core

    rng = np.random.default_rng(41)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 50, size=(220, 2))]
    e = spark.createDataFrame(edges, "a long, b long")
    for k in (2, 4, 6, 9):
        got = {r.id for r in k_core(e, k).collect()}
        assert got == _kcore_ref(edges, k), k


def test_k_core_guards(spark):
    from extra_ops.graph import k_core

    e = spark.createDataFrame([("a", "b")], "a string, b string")
    with pytest.raises(ValueError, match="k >= 1"):
        k_core(e, 0)
    # a long peel chain: every round removes exactly one layer ->
    # max_rounds too small raises
    chain = [(i, i + 1) for i in range(12)]
    e = spark.createDataFrame(chain, "a long, b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        k_core(e, 2, max_rounds=2)


# ---------------------------------------------------------------------------
# k_truss
# ---------------------------------------------------------------------------


def _ktruss_ref(edges, k):
    """Simultaneous edge peel: support = |common neighbors|, delete all
    under-supported edges each round."""
    E = set()
    for a, b in edges:
        if a != b:
            E.add((min(a, b), max(a, b)))
    while True:
        adj = {}
        for a, b in E:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        keep = {e for e in E if len(adj[e[0]] & adj[e[1]]) >= k - 2}
        if keep == E:
            return E
        E = keep


def test_k_truss_shapes(spark):
    from extra_ops.graph import k_truss

    # K5: every edge sits in 3 triangles -> survives k <= 5, dies at 6
    k5 = [(a, b) for i, a in enumerate("pqrst") for b in "pqrst"[i + 1:]]
    e = spark.createDataFrame(k5, "a string, b string")
    full = {(min(a, b), max(a, b)) for a, b in k5}
    for k in (3, 4, 5):
        got = {(r.a, r.b) for r in k_truss(e, k).collect()}
        assert got == full, k
    assert k_truss(e, 6).count() == 0

    # K4 + pendant triangle: 4-truss = the K4 (pendant edges support 1)
    k4 = [(a, b) for i, a in enumerate("wxyz") for b in "wxyz"[i + 1:]]
    pend = [("w", "m"), ("w", "n"), ("m", "n")]
    e2 = spark.createDataFrame(k4 + pend, "a string, b string")
    got = {(r.a, r.b) for r in k_truss(e2, 4).collect()}
    assert got == {(min(a, b), max(a, b)) for a, b in k4}
    # the pendant triangle IS in the 3-truss
    got3 = {(r.a, r.b) for r in k_truss(e2, 3).collect()}
    assert got3 == {(min(a, b), max(a, b)) for a, b in k4 + pend}

    # k=2 keeps every canonical edge; duplicates and self-loops drop
    e3 = spark.createDataFrame(
        k4 + [("w", "w"), ("x", "w")], "a string, b string"
    )
    got2 = {(r.a, r.b) for r in k_truss(e3, 2).collect()}
    assert got2 == {(min(a, b), max(a, b)) for a, b in k4}


def test_k_truss_random_matches_reference(spark):
    from extra_ops.graph import k_truss

    rng = np.random.default_rng(47)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 30, size=(160, 2))]
    e = spark.createDataFrame(edges, "a long, b long")
    for k in (3, 4, 5, 6):
        got = {(r.a, r.b) for r in k_truss(e, k).collect()}
        assert got == _ktruss_ref(edges, k), k


def test_k_truss_guards(spark):
    from extra_ops.graph import k_truss

    e = spark.createDataFrame([("a", "b")], "a string, b string")
    with pytest.raises(ValueError, match="k >= 2"):
        k_truss(e, 1)
    # K4 + pendant triangle at k=4 needs 2 rounds (one genuine peel +
    # the fixpoint confirmation) -> max_rounds=1 raises rather than
    # returning the half-peeled set
    k4 = [(a, b) for i, a in enumerate("wxyz") for b in "wxyz"[i + 1:]]
    pend = [("w", "m"), ("w", "n"), ("m", "n")]
    e = spark.createDataFrame(k4 + pend, "a string, b string")
    with pytest.raises(RuntimeError, match="did not converge"):
        k_truss(e, 4, max_rounds=1)


# ---------------------------------------------------------------------------
# assortativity
# ---------------------------------------------------------------------------


def _assort_ref(edges):
    """Fraction-exact Newman r over both orientations of the simple
    graph; (num, den) exact ints."""
    E = set()
    for a, b in edges:
        if a != b:
            E.add((min(a, b), max(a, b)))
    deg = {}
    for a, b in E:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    samples = [(deg[a], deg[b]) for a, b in E] + [(deg[b], deg[a]) for a, b in E]
    M = len(samples)
    sx = sum(dx for dx, _ in samples)
    sxy = sum(dx * dy for dx, dy in samples)
    sxx = sum(dx * dx for dx, _ in samples)
    return M * sxy - sx * sx, M * sxx - sx * sx


def test_assortativity_star_cycle_random(spark):
    from fractions import Fraction

    from extra_ops.graph import assortativity

    # star K1,5: perfectly disassortative, r = -1 exactly
    star = [("hub", f"s{i}") for i in range(5)]
    e = spark.createDataFrame(star, "a string, b string")
    r = assortativity(e).collect()[0]
    num, den = _assort_ref(star)
    assert (r.asr_num_str, r.asr_den_str) == (str(num), str(den))
    assert Fraction(num, den) == -1 and r.assortativity == -1.0

    # cycle: degree-regular -> denominator 0 -> NULL r, exact strings
    cyc = [(f"c{i}", f"c{(i + 1) % 6}") for i in range(6)]
    e = spark.createDataFrame(cyc, "a string, b string")
    r = assortativity(e).collect()[0]
    assert r.asr_den_str == "0" and r.assortativity is None

    # random graphs: exact integer parity + float spelling; self-loops
    # and duplicates drop
    rng = np.random.default_rng(13)
    for trial in range(3):
        edges = [
            (int(a), int(b)) for a, b in rng.integers(0, 40, size=(150, 2))
        ]
        e = spark.createDataFrame(
            edges + edges[:5] + [(3, 3)], "a long, b long"
        )
        num, den = _assort_ref(edges)
        r = assortativity(e).collect()[0]
        assert (r.asr_num_str, r.asr_den_str) == (str(num), str(den)), trial
        if den:
            assert r.assortativity == num / den
    # empty edge set
    e = spark.createDataFrame([("x", "x")], "a string, b string")
    r = assortativity(e).collect()[0]
    assert (r.asr_num_str, r.asr_den_str, r.assortativity) == ("0", "0", None)


def _lp_ref(edges):
    """Reference link prediction: adjacency sets, all non-edge pairs
    with >= 1 common neighbor."""
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    nodes = sorted(adj)
    for i, u in enumerate(nodes):
        for v in nodes[i + 1:]:
            if v in adj[u]:
                continue
            cn = len(adj[u] & adj[v])
            if cn:
                out[(u, v)] = (cn, len(adj[u] | adj[v]))
    return out


def test_link_prediction_shapes(spark):
    from extra_ops.graph import link_prediction

    # path a-b-c: one candidate (a, c) via center b; N(a)=N(c)={b}
    e = spark.createDataFrame([("a", "b"), ("b", "c")], "a string, b string")
    got = {(r.u, r.v): (r.cn, r.un, r.jaccard) for r in link_prediction(e).collect()}
    assert got == {("a", "c"): (1, 1, 1.0)}

    # 4-cycle: both diagonals, cn=2, un=2 (jaccard 1.0 — they share
    # EVERYTHING and still aren't connected: the strongest candidates)
    cyc = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
    e = spark.createDataFrame(cyc, "a string, b string")
    got = {(r.u, r.v): (r.cn, r.un, r.jaccard) for r in link_prediction(e).collect()}
    assert got == {("a", "c"): (2, 2, 1.0), ("b", "d"): (2, 2, 1.0)}

    # triangle: no candidates (every distance-2 pair is already an edge)
    tri = [("x", "y"), ("y", "z"), ("x", "z")]
    e = spark.createDataFrame(tri, "a string, b string")
    assert link_prediction(e).count() == 0

    # duplicates + self-loops are dropped by canonicalization
    e = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "a"), ("b", "c")], "a string, b string"
    )
    got = {(r.u, r.v): r.cn for r in link_prediction(e).collect()}
    assert got == {("a", "c"): 1}


def test_link_prediction_random_matches_reference(spark):
    from extra_ops.graph import link_prediction

    rng = np.random.default_rng(7)
    n, m = 30, 120
    edges = [(f"n{rng.integers(n)}", f"n{rng.integers(n)}") for _ in range(m)]
    e = spark.createDataFrame(edges, "a string, b string")
    got = {(r.u, r.v): (r.cn, r.un) for r in link_prediction(e).collect()}
    assert got == _lp_ref(edges)
    # jaccard is the one shared division of the exact ints
    for r in link_prediction(e).collect():
        assert r.jaccard == r.cn / r.un


def test_link_prediction_max_degree_cap(spark):
    from extra_ops.graph import link_prediction

    # star hub h with leaves l0..l4 plus a path l0-p-l1: uncapped, the
    # hub is a center connecting every leaf pair; capped below the
    # hub's degree only the path center p survives
    edges = [("h", f"l{i}") for i in range(5)] + [("l0", "p"), ("p", "l1")]
    e = spark.createDataFrame(edges, "a string, b string")
    uncapped = {(r.u, r.v) for r in link_prediction(e).collect()}
    assert ("l2", "l3") in uncapped and ("l0", "l1") in uncapped
    capped = {(r.u, r.v): (r.cn, r.un) for r in link_prediction(e, max_degree=2).collect()}
    # only center p (deg 2) emits wedges; (l0, l1) via p: cn counts
    # capped-graph wedges while degrees stay the TRUE graph's, so un
    # = du + dv - capped_cn is an upper bound on the true union
    assert set(capped) == {("l0", "l1"), ("h", "p")}
    assert capped[("l0", "l1")] == (1, 3)  # deg(l0)=2, deg(l1)=2, cn=1
    assert capped[("h", "p")] == (2, 5)    # centers l0, l1 both survive

    with pytest.raises(ValueError):
        link_prediction(e, max_degree=1)


def test_transitivity_known_shapes(spark):
    from fractions import Fraction

    from extra_ops.graph import (
        transitivity_stats,
        triangle_counts,
    )

    def stats(edges):
        e = spark.createDataFrame(edges, "a string, b string")
        return transitivity_stats(triangle_counts(e)).collect()[0]

    # K4: every wedge closed -> C = 1
    k4 = [(a, b) for i, a in enumerate("abcd") for b in "abcd"[i + 1:]]
    r = stats(k4)
    assert r.transitivity == 1.0
    assert Fraction(2 * int(r.trans_num_str), int(r.trans_den_str)) == 1

    # path a-b-c: one open wedge -> C = 0
    r = stats([("a", "b"), ("b", "c")])
    assert r.transitivity == 0.0 and r.trans_num_str == "0"

    # triangle + pendant: networkx transitivity = 3/5
    r = stats([("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")])
    assert Fraction(2 * int(r.trans_num_str), int(r.trans_den_str)) == Fraction(3, 5)
    assert r.transitivity == pytest.approx(0.6)

    # single edge: no wedges -> NULL
    r = stats([("a", "b")])
    assert r.transitivity is None and r.trans_den_str == "0"


def _kosaraju(edges):
    """Reference SCC: iterative Kosaraju, scc id = min member."""
    from collections import defaultdict

    fw, bw = defaultdict(list), defaultdict(list)
    nodes = set()
    for a, b in edges:
        if a == b:
            continue
        fw[a].append(b)
        bw[b].append(a)
        nodes.update((a, b))
    seen, order = set(), []
    for s in sorted(nodes):
        if s in seen:
            continue
        stack = [(s, 0)]
        seen.add(s)
        while stack:
            v, i = stack.pop()
            if i < len(fw[v]):
                stack.append((v, i + 1))
                w = fw[v][i]
                if w not in seen:
                    seen.add(w)
                    stack.append((w, 0))
            else:
                order.append(v)
    comp = {}
    for u in reversed(order):
        if u in comp:
            continue
        stack, members = [u], [u]
        comp[u] = u
        while stack:
            v = stack.pop()
            for w in bw[v]:
                if w not in comp:
                    comp[w] = u
                    members.append(w)
                    stack.append(w)
        m = min(members)
        for v in members:
            comp[v] = m
    return comp


def test_scc_matches_kosaraju_on_random_digraphs(spark):
    import numpy as np

    from extra_ops.graph import scc

    rng = np.random.default_rng(101)
    for n, m in ((30, 45), (40, 90), (25, 20)):
        edges = list(
            {
                (int(rng.integers(0, n)), int(rng.integers(0, n)))
                for _ in range(m)
            }
        )
        df = spark.createDataFrame(edges, "a long, b long")
        got = {r.id: r.scc for r in scc(df).collect()}
        ref = _kosaraju(edges)
        assert got == ref, (n, m)


def test_scc_planted_structures(spark):
    from extra_ops.graph import scc

    # two directed cycles bridged one-way + a tail: SCCs {0,1,2},
    # {10,11}, {20}, {21}
    edges = [
        (0, 1), (1, 2), (2, 0),       # 3-cycle
        (2, 10),                      # one-way bridge
        (10, 11), (11, 10),           # 2-cycle
        (11, 20), (20, 21),           # tail: singletons
    ]
    df = spark.createDataFrame(edges, "a long, b long")
    got = {r.id: r.scc for r in scc(df).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 20: 20, 21: 21}
    # a pure DAG: every node its own SCC
    dag = [(1, 2), (2, 3), (1, 3), (3, 4)]
    got = {r.id: r.scc for r in scc(spark.createDataFrame(dag, "a long, b long")).collect()}
    assert got == {1: 1, 2: 2, 3: 3, 4: 4}
