"""Graph traversal over the way node graph: BFS hop distances.

The road-network half of an OSM engine: ways induce an undirected node
graph (consecutive member nodes are edges); reachability and hop
distance from a seed set answer "which elements are connected to this
network component, and how far" — the substrate of routing, component
QA (detached islands), and service-area queries.

Spark-first shape (the dedup_components / knn-round discipline):

- Frontier BFS: the next frontier is (frontier ⋈ edges) minus settled
  nodes; its count is carried in Python like knn's certification
  aggregate.
- EVERY new frontier is localCheckpoint(eager=True)-truncated. This is
  load-bearing, not hygiene: each hop's plan references the previous
  hop's, so without per-hop truncation the LOGICAL plan doubles every
  hop and Catalyst's re-analysis goes exponential long before the data
  does (measured: a 30-node path at 6 hops took 111 s with persist()
  only, ~1 s/hop truncated — persist caches data, not plans). The
  settled set is then a union of FLAT checkpointed legs (linear plan
  growth), re-flattened every 4 hops.
- The edge list is used as-is (duplicate edges are harmless: the
  frontier join deduplicates targets with a distinct on the NEW
  frontier only — bounded by the frontier, never the edge count).

Scale: each hop shuffles (frontier × mean-degree) narrow rows for the
join plus the anti-join against settled; hub nodes fan out to distinct
targets (no hot reducer). max_hops bounds the loop; the function
reports whether it converged (empty frontier) so callers can tell a
cut traversal from a finished one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hop_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 10,
    src: str = "a",
    dst: str = "b",
    node_col: str = "node_id",
) -> DataFrame:
    """(node_id, hops) for every node reachable from ``sources`` within
    ``max_hops`` over the UNDIRECTED edge list ``edges(a, b)`` —
    classic BFS layers: hops = minimum edge count from any source.
    Sources themselves are hops = 0. Unreached nodes are absent.

    ``edges`` may contain duplicates and self-loops (both harmless);
    direction is symmetrized internally."""
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    und = edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b")).unionByName(
        edges.select(F.col(dst).alias("_a"), F.col(src).alias("_b"))
    ).persist()
    settled = (
        sources.select(F.col(node_col).alias("node_id"))
        .distinct()
        .withColumn("hops", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    frontier = settled.select("node_id")
    n_frontier = frontier.count()
    for h in range(1, max_hops + 1):
        if n_frontier == 0:
            break
        # eager checkpoint = the hop's one job; truncates the plan so
        # the next hop's analysis cost stays flat (see module docstring)
        nxt = (
            frontier.join(und, frontier["node_id"] == und["_a"], "inner")
            .select(F.col("_b").alias("node_id"))
            .distinct()
            .join(settled, "node_id", "left_anti")
            .withColumn("hops", F.lit(h).cast("long"))
            .localCheckpoint(eager=True)
        )
        n_frontier = nxt.count()  # cheap: scans the checkpointed blocks
        settled = settled.unionByName(nxt)
        if h % 4 == 0:
            # re-flatten the (already flat-legged) union chain
            settled = settled.localCheckpoint(eager=True)
        frontier = nxt.select("node_id")
    out = settled.localCheckpoint(eager=True)
    und.unpersist()
    return out


def weighted_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_rounds: int = 40,
    src: str = "a",
    dst: str = "b",
    w: str = "w",
    node_col: str = "node_id",
) -> DataFrame:
    """(node_id, dist) — single/multi-source shortest WEIGHTED
    distances over the UNDIRECTED edge list ``edges(a, b, w)`` with
    non-negative integer weights: the routing substrate on top of
    ``hop_distances``' reachability (hops answer "how many edges",
    this answers "how far"). Sources are dist = 0; unreached nodes are
    absent. Exact int64 arithmetic — no float accumulation order to
    reconcile across engines.

    Frontier Bellman-Ford: only nodes IMPROVED last round relax their
    edges (the delta between Dijkstra's priority queue — inherently
    sequential — and textbook all-edges-every-round Bellman-Ford).
    Each round is ONE plan: frontier ⋈ edges → per-target min →
    full-outer merge with the running distance table, eagerly
    localCheckpoint-ed (the hop_distances discipline: persist() caches
    data, not plans; an untruncated self-referencing loop plan doubles
    per round). The new frontier and the improvement count both read
    the already-checkpointed merge — one action per round.

    Rounds to converge = max edge count over any weighted-shortest
    path (<= component diameter on metric-ish weights); raises past
    ``max_rounds`` rather than returning partially-relaxed distances.
    Negative weights raise (frontier BF would still terminate without
    negative cycles, but the bound above no longer holds).

    Scale: each round shuffles (frontier x mean-degree) narrow rows +
    the distance-table merge; state is one row per REACHED node."""
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    e = edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"), F.col(w).alias("_w"))
    und = e.unionByName(
        e.select(F.col("_b").alias("_a"), F.col("_a").alias("_b"), "_w")
    ).persist()
    if und.filter(F.col("_w").isNull() | (F.col("_w") < 0)).limit(1).count() > 0:
        und.unpersist()
        raise ValueError(
            "weighted_distances requires non-negative, non-NULL weights "
            "(a NULL weight would silently behave as a deleted edge)"
        )
    dist = (
        sources.select(F.col(node_col).alias("node_id"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    frontier = dist
    converged = False
    for _ in range(max_rounds):
        cand = (
            frontier.join(und, frontier["node_id"] == und["_a"], "inner")
            .groupBy(F.col("_b").alias("node_id"))
            .agg(F.min(F.col("dist") + F.col("_w")).alias("_nd"))
        )
        merged = (
            dist.join(cand, "node_id", "full_outer")
            .select(
                "node_id",
                F.least(
                    F.coalesce("dist", F.col("_nd")),
                    F.coalesce("_nd", F.col("dist")),
                ).alias("dist"),
                (
                    F.col("_nd").isNotNull()
                    & (F.col("dist").isNull() | (F.col("_nd") < F.col("dist")))
                ).alias("_imp"),
            )
            .localCheckpoint(eager=True)
        )
        frontier = merged.filter(F.col("_imp")).select("node_id", "dist")
        n_improved = frontier.count()  # cheap: scans checkpointed blocks
        dist = merged.select("node_id", "dist")
        if n_improved == 0:
            converged = True
            break
    und.unpersist()
    if not converged:
        raise RuntimeError(
            f"weighted_distances did not converge in {max_rounds} rounds; "
            "raise max_rounds — a partial answer under-relaxes distances"
        )
    return dist


def minimum_spanning_forest(
    edges: DataFrame,
    max_rounds: int = 20,
    src: str = "a",
    dst: str = "b",
    w: str = "w",
) -> DataFrame:
    """Borůvka's minimum spanning forest — the fourth distributed-graph
    primitive next to BFS reachability, Bellman-Ford distances and
    pointer-jump components (network backbone extraction / clustering
    by tree-edge cuts). Returns the forest edges ``(a, b, w)`` with
    a < b canonical orientation; for a disconnected input this is the
    per-component MST.

    Determinism: edges are totally ordered by ``(w, a, b)`` after
    canonicalization, which makes all weights distinct and therefore
    the MSF UNIQUE — so a sequential Kruskal under the same order
    (the test reference, and the oracle's embedded literals) lands on
    the exact same edge set, not just the same total weight.

    Borůvka rounds: every component picks its minimum incident
    crossing edge (one aggregate over the doubly-oriented crossing
    set), chosen edges join the forest, and components merge by
    running pointer-jump on the CONTRACTED label graph (component
    labels as nodes — shrinks geometrically, so the inner loop is a
    few rounds on a tiny frame). Component count at least halves per
    round: O(log V) rounds; raises past ``max_rounds`` rather than
    returning a partial forest. Self-loops drop; duplicate edges are
    harmless under the total order.

    Scale: the heavy step is the per-round relabel join + min
    aggregate over crossing edges — O(E) narrow rows, halving rounds;
    forest accumulation is a union of flat checkpointed legs."""
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
            F.col(w).alias("w"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    labels = (
        canon.select(F.col("a").alias("id"))
        .unionByName(canon.select(F.col("b").alias("id")))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    forest = None
    converged = False
    for _ in range(max_rounds):
        la = labels.select(F.col("id").alias("a"), F.col("label").alias("_la"))
        lb = labels.select(F.col("id").alias("b"), F.col("label").alias("_lb"))
        cross = (
            canon.join(la, "a").join(lb, "b")
            .filter(F.col("_la") != F.col("_lb"))
        )
        # both endpoint components bid for the edge; min of the total
        # order (w, a, b) per component
        e = F.struct(F.col("w"), F.col("a"), F.col("b"))
        bids = cross.select(F.col("_la").alias("_c"), e.alias("_e")).unionByName(
            cross.select(F.col("_lb").alias("_c"), e.alias("_e"))
        )
        chosen = (
            bids.groupBy("_c")
            .agg(F.min("_e").alias("_e"))
            .select("_e.a", "_e.b", "_e.w")
            .distinct()
            .localCheckpoint(eager=True)
        )
        if chosen.limit(1).count() == 0:
            converged = True
            break
        forest = chosen if forest is None else forest.unionByName(chosen)
        # contract: components over the label graph the chosen edges
        # induce (labels as nodes — geometrically shrinking)
        lg = (
            chosen.join(la, "a").join(lb, "b")
            .select(F.col("_la").alias("id_a"), F.col("_lb").alias("id_b"))
        )
        comp = components_pointer_jump(lg, max_iters=max_rounds + 10)
        newmap = comp.select(
            F.col("id").alias("_old"), F.col("label").alias("_new")
        )
        labels = (
            labels.join(newmap, labels["label"] == F.col("_old"), "left")
            .select(
                "id", F.coalesce(F.col("_new"), F.col("label")).alias("label")
            )
            .localCheckpoint(eager=True)
        )
    canon.unpersist()
    if not converged:
        raise RuntimeError(
            f"minimum_spanning_forest did not converge in {max_rounds} "
            "rounds; raise max_rounds — a partial forest is not spanning"
        )
    if forest is None:
        return canon.limit(0).select("a", "b", "w")
    return forest.select("a", "b", "w")


def triangle_counts(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
) -> DataFrame:
    """Per-node triangle counts over the UNDIRECTED simple graph that
    ``edges(a, b)`` induces — the degree/triangle substrate of local
    clustering coefficients, community pre-screens and near-dup
    cluster QA (a triangle in a similarity pair graph is three
    MUTUALLY similar items, much stronger evidence than two pairs).

    Returns ``(id, deg, tri)`` for every node of the simple graph:
    ``deg`` its degree, ``tri`` how many triangles contain it (0 when
    none). Global triangle count = sum(tri) / 3. The local clustering
    coefficient is the caller's one shared division
    2*tri / (deg*(deg-1)) — left to the caller so this stays all-int.

    Degree-ordered counting (the standard shuffle-efficient MapReduce
    shape, Suri & Vassilvitskii WWW'11): orient every canonical edge
    from the (deg, id)-smaller endpoint to the larger; each triangle
    then has exactly ONE node with two out-edges into the other two
    (its rank-minimum), so wedges (u->v, u->w with rank(v) < rank(w))
    semi-joined against the oriented closure edge (v->w) enumerate
    every triangle exactly once, and out-degrees are bounded by
    O(sqrt(m)) — the wedge fan-out a raw (unoriented) self-join would
    blow up on hub nodes is capped by construction.

    Scale: canonicalize+distinct (one shuffle), degree agg (one), two
    broadcast-or-hash joins to attach ranks, the wedge self-join on u
    (one shuffle of oriented edges), the closure join on (v, w) (one),
    and the per-vertex explode/agg (one) — all narrow int rows, no
    loop, O(m^{3/2}) wedge bound. Duplicate edges and self-loops are
    dropped during canonicalization."""
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        canon.select(F.col("a").alias("id"))
        .unionByName(canon.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    ranked = (
        canon.join(deg.select(F.col("id").alias("a"), F.col("deg").alias("_da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("deg").alias("_db")), "b")
        .withColumn(
            "_ord",
            (F.col("_da") < F.col("_db"))
            | ((F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))),
        )
    )
    o = ranked.select(
        F.when(F.col("_ord"), F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(F.col("_ord"), F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(F.col("_ord"), F.col("_db")).otherwise(F.col("_da")).alias("dv"),
    ).persist()
    o1 = o.select("u", F.col("v").alias("_v1"), F.col("dv").alias("_d1"))
    o2 = o.select("u", F.col("v").alias("_v2"), F.col("dv").alias("_d2"))
    wedges = o1.join(o2, "u").filter(
        (F.col("_d1") < F.col("_d2"))
        | ((F.col("_d1") == F.col("_d2")) & (F.col("_v1") < F.col("_v2")))
    )
    tri = wedges.join(
        o.select(F.col("u").alias("_v1"), F.col("v").alias("_v2")),
        ["_v1", "_v2"],
        "left_semi",
    ).select(F.col("u").alias("x"), F.col("_v1").alias("y"), F.col("_v2").alias("z"))
    per_vertex = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("tri"))
    )
    out = (
        deg.join(per_vertex, "id", "left")
        .select("id", "deg", F.coalesce(F.col("tri"), F.lit(0).cast("long")).alias("tri"))
        .localCheckpoint(eager=True)
    )
    o.unpersist()
    return out


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "a",
    dst: str = "b",
    max_rounds: int = 40,
) -> DataFrame:
    """The k-core of the UNDIRECTED simple graph of ``edges(a, b)`` —
    the maximal subgraph where every node keeps degree >= k (the
    classic density screen: spam-farm / bot-cluster detection in link
    graphs, "well-connected" filtering before community detection).
    Returns the surviving node ids as ``(id)``; possibly empty.

    Simultaneous peeling: every round deletes ALL nodes whose degree
    within the current survivor set is < k at once. The k-core is
    unique and order-independent, so simultaneous rounds land on the
    same fixpoint as any sequential peel — which is what makes the
    result verifiable cross-engine (the oracle unrolls the same
    simultaneous rounds as chained CTEs; extra rounds past the
    fixpoint are no-ops).

    Scale: each round filters the canonical edge list with two
    semi-joins against the survivor set and re-aggregates degrees —
    O(E) narrow rows per round, survivor state one id per node, plans
    truncated per round (the hop_distances discipline). Round count
    is the peel depth (degeneracy ordering depth / max "onion layer"),
    typically small; raises past ``max_rounds`` rather than returning
    a half-peeled set that is NOT the k-core. Duplicate edges and
    self-loops drop during canonicalization."""
    if k < 1:
        raise ValueError("k_core requires k >= 1")
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    both = canon.select(F.col("a").alias("id"), F.col("b").alias("o")).unionByName(
        canon.select(F.col("b").alias("id"), F.col("a").alias("o"))
    )
    alive = (
        both.select("id").distinct().localCheckpoint(eager=True)
    )
    n_alive = alive.count()
    converged = False
    for _ in range(max_rounds):
        surv = (
            both.join(alive, "id", "left_semi")
            .join(alive.select(F.col("id").alias("o")), "o", "left_semi")
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("_deg"))
            .filter(F.col("_deg") >= k)
            .select("id")
            .localCheckpoint(eager=True)
        )
        n_surv = surv.count()
        alive = surv
        if n_surv == n_alive:
            converged = True
            break
        n_alive = n_surv
        if n_surv == 0:
            converged = True
            break
    canon.unpersist()
    if not converged:
        raise RuntimeError(
            f"k_core did not converge in {max_rounds} rounds; raise "
            "max_rounds — a half-peeled set is not the k-core"
        )
    return alive


def k_truss(
    edges: DataFrame,
    k: int,
    src: str = "a",
    dst: str = "b",
    max_rounds: int = 40,
) -> DataFrame:
    """The k-truss of the UNDIRECTED simple graph of ``edges(a, b)`` —
    the maximal subgraph where every EDGE sits in >= k-2 triangles
    (Cohen 2008): the edge-level tightening of :func:`k_core` (a
    k-truss is always inside the (k-1)-core, but demands its density
    through MUTUAL triangles, which is what makes it the standard
    cohesive-community screen on similarity/link graphs — two nodes
    stay connected only while enough common neighbors vouch for the
    edge). Returns the surviving canonical edge set ``(a, b)`` with
    a < b; possibly empty.

    Simultaneous peeling, the :func:`k_core` discipline: every round
    recomputes per-edge support within the CURRENT survivor set and
    deletes ALL under-supported edges at once. The k-truss is unique
    and order-independent, so simultaneous rounds land on the same
    fixpoint at any parallelism — and the oracle can unroll the same
    rounds as chained CTEs (rounds past the fixpoint are no-ops).

    Per-round support is a triangle ENUMERATION, not a wedge count
    per edge: survivors are degree-oriented from the (deg, id)-smaller
    endpoint (the :func:`triangle_counts` Suri-Vassilvitskii shape, so
    wedge fan-out is O(sqrt(m))-bounded), each triangle found once,
    then scattered to its three canonical edges and hash-aggregated —
    O(m^{3/2}) per round instead of the O(m * d_max) a naive
    adjacency-intersection join costs on hub edges. Each round's
    survivor frame is eagerly localCheckpoint-truncated; raises past
    ``max_rounds`` (a half-peeled set is NOT the k-truss). Round count
    is the truss peel depth, typically small. Duplicate edges and
    self-loops drop during canonicalization. k = 2 keeps every edge
    of the simple graph (support >= 0 is vacuous)."""
    if k < 2:
        raise ValueError("k_truss requires k >= 2")
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    sup_min = k - 2
    cur = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_cur = cur.count()
    if sup_min == 0 or n_cur == 0:
        return cur
    converged = False
    for _ in range(max_rounds):
        deg = (
            cur.select(F.col("a").alias("id"))
            .unionByName(cur.select(F.col("b").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        ranked = (
            cur.join(deg.select(F.col("id").alias("a"), F.col("deg").alias("_da")), "a")
            .join(deg.select(F.col("id").alias("b"), F.col("deg").alias("_db")), "b")
            .withColumn(
                "_ord",
                (F.col("_da") < F.col("_db"))
                | ((F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))),
            )
        )
        o = ranked.select(
            F.when(F.col("_ord"), F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(F.col("_ord"), F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(F.col("_ord"), F.col("_db")).otherwise(F.col("_da")).alias("dv"),
        ).persist()
        o1 = o.select("u", F.col("v").alias("_v1"), F.col("dv").alias("_d1"))
        o2 = o.select("u", F.col("v").alias("_v2"), F.col("dv").alias("_d2"))
        wedges = o1.join(o2, "u").filter(
            (F.col("_d1") < F.col("_d2"))
            | ((F.col("_d1") == F.col("_d2")) & (F.col("_v1") < F.col("_v2")))
        )
        tri = wedges.join(
            o.select(F.col("u").alias("_v1"), F.col("v").alias("_v2")),
            ["_v1", "_v2"],
            "left_semi",
        ).select(F.col("u").alias("x"), F.col("_v1").alias("y"), F.col("_v2").alias("z"))
        pair = lambda p, q: F.struct(  # noqa: E731 — canonical edge of a triangle side
            F.least(p, q).alias("a"), F.greatest(p, q).alias("b")
        )
        sup = (
            tri.select(
                F.explode(
                    F.array(
                        pair(F.col("x"), F.col("y")),
                        pair(F.col("x"), F.col("z")),
                        pair(F.col("y"), F.col("z")),
                    )
                ).alias("e")
            )
            .select(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("_sup"))
        )
        nxt = (
            cur.join(sup, ["a", "b"], "left")
            .filter(F.coalesce(F.col("_sup"), F.lit(0)) >= sup_min)
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        n_nxt = nxt.count()
        o.unpersist()
        prev = n_cur
        cur, n_cur = nxt, n_nxt
        if n_nxt == prev or n_nxt == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"k_truss did not converge in {max_rounds} rounds; raise "
            "max_rounds — a half-peeled set is not the k-truss"
        )
    return cur


def assortativity(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
) -> DataFrame:
    """Degree assortativity coefficient of the UNDIRECTED simple graph
    of ``edges(a, b)`` — Newman's r: the Pearson correlation of the
    degrees at the two ends of every edge, sampled over BOTH
    orientations (so the statistic is symmetric without a covariance
    correction). Positive = hubs link hubs (social nets), negative =
    hubs link leaves (star-ish infrastructure / spam farms) — the
    one-number structure screen pipelines run before deciding whether
    community detection is even meaningful.

    Exact-integer discipline: with M = 2m samples and the degree
    moments Sx = Σdx, Sxy = Σdx·dy, Sxx = Σdx² (Sy = Sx, Syy = Sxx by
    the two-orientation symmetry),

        r = (M·Sxy − Sx²) / (M·Sxx − Sx²)

    — numerator and denominator accumulated in decimal(38,0) with
    casts BEFORE the products (DuckDB HUGEINT twin), the coefficient
    ONE shared IEEE division, so the doubles are bit-identical
    cross-engine. Returns one row ``(asr_num_str, asr_den_str,
    assortativity)`` with the exact integers carried as digit strings
    behind the float; NULL r on a degree-regular graph (denominator
    0 — every cycle, every complete graph) or an empty edge set.

    Scale: ONE aggregation over the degree-joined symmetrized edge
    list — canonicalize+distinct, degree agg, two hash joins, one
    global agg; no loop, no driver rounds. Duplicate edges and
    self-loops drop during canonicalization."""
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        canon.select(F.col("a").alias("id"))
        .unionByName(canon.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    sym = canon.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        canon.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    samp = sym.join(
        deg.select(F.col("id").alias("u"), F.col("deg").alias("dx")), "u"
    ).join(deg.select(F.col("id").alias("v"), F.col("deg").alias("dy")), "v")
    dec = "decimal(38,0)"
    agg = samp.agg(
        F.count(F.lit(1)).cast(dec).alias("_m"),
        F.sum(F.col("dx").cast(dec)).alias("_sx"),
        F.sum(F.col("dx").cast(dec) * F.col("dy").cast(dec)).alias("_sxy"),
        F.sum(F.col("dx").cast(dec) * F.col("dx").cast(dec)).alias("_sxx"),
    )
    num = F.col("_m") * F.col("_sxy") - F.col("_sx") * F.col("_sx")
    den = F.col("_m") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    return agg.select(
        F.coalesce(num.cast("string"), F.lit("0")).alias("asr_num_str"),
        F.coalesce(den.cast("string"), F.lit("0")).alias("asr_den_str"),
        F.when(
            den.isNotNull() & (den != 0),
            num.cast("double") / den.cast("double"),
        ).alias("assortativity"),
    )


#: fixed-point PageRank mass scale: each node starts with SCALE units.
#: Exactness bound: every intermediate (per-node rank, contribution
#: sum, 100x the damped sum) stays under N * SCALE * damp_den, so the
#: default keeps int64 exact to N ~ 9e5 nodes; larger graphs pass a
#: smaller scale (ranking is scale-invariant down to ~1e6, where the
#: floor-division quantum starts to matter).
PAGERANK_SCALE = 10**12


def pagerank(
    edges: DataFrame,
    iters: int = 4,
    scale: int = PAGERANK_SCALE,
    damp_num: int = 85,
    damp_den: int = 100,
    src: str = "a",
    dst: str = "b",
) -> DataFrame:
    """Fixed-point integer PageRank over the DIRECTED simple graph of
    ``edges(a, b)`` — the canonical "importance by incoming links"
    ranking, in the engine's exact-integer cross-engine discipline: no
    float accumulation order to reconcile, every engine (and every
    retry) lands on bit-identical ranks.

    Recurrence (all non-negative int64 / decimal(38,0), floor
    divisions — numpy ``//`` == Spark ``DIV`` == DuckDB ``//`` on
    non-negative operands)::

        pr_0(v)     = scale
        share_t(u)  = pr_t(u) DIV outdeg(u)
        pr_{t+1}(v) = base + (damp_num * SUM_{u->v} share_t(u)) DIV damp_den
        base        = ((damp_den - damp_num) * scale) DIV damp_den

    This is textbook PageRank with uniform teleport mass ``(1-d) *
    scale`` per node (the usual (1-d)/N on ranks that sum to 1, scaled
    by N * scale) and damping d = damp_num/damp_den. Spec choices,
    pinned: duplicate edges collapse (simple graph), self-loops drop,
    dangling nodes RETAIN rank but re-emit nothing (their outflow
    leaves the system rather than teleporting — the "lost mass"
    variant; rankings are unaffected for the usual d), and each
    iteration floors twice (share, then damped sum), so ranks are
    exact integers with quantization error <= outdeg per node per
    round — invisible at the default scale.

    Returns ``(id, pr)`` after exactly ``iters`` rounds (fixed
    iteration count, not a convergence test: the oracle unrolls the
    same rounds). Contribution sums are carried as decimal(38,0)
    through the damp_num product (DuckDB HUGEINT twin), cast back to
    int64 after the final division.

    Scale: outdeg is computed once; each round is one hash join
    (ranks onto edge sources — narrow int rows) + one sum agg + one
    left join back onto the node set, plan-truncated with eager
    localCheckpoint (the hop_distances discipline). Hub fan-in is a
    plain hash-agg combine; no per-node state beyond (id, pr)."""
    if iters < 1:
        raise ValueError("pagerank requires iters >= 1")
    if not (0 < damp_num < damp_den):
        raise ValueError("pagerank requires 0 < damp_num < damp_den")
    if scale < damp_den:
        raise ValueError("scale must be >= damp_den (the teleport base would floor to 0)")
    de = (
        edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
        .persist()
    )
    nodes = (
        de.select(F.col("_a").alias("id"))
        .unionByName(de.select(F.col("_b").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    outdeg = de.groupBy(F.col("_a").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("_od")
    ).localCheckpoint(eager=True)
    base = ((damp_den - damp_num) * scale) // damp_den
    pr = nodes.withColumn("pr", F.lit(scale).cast("long"))
    for _ in range(iters):
        shares = pr.join(outdeg, "id").select(
            F.col("id").alias("_a"),
            F.expr("pr div _od").alias("_share"),
        )
        sums = (
            de.join(shares, "_a")
            .groupBy(F.col("_b").alias("id"))
            .agg(F.sum(F.col("_share").cast("decimal(38,0)")).alias("_s"))
        )
        pr = (
            nodes.join(sums, "id", "left")
            .select(
                "id",
                (
                    F.lit(base)
                    + F.expr(
                        f"CAST((CAST({damp_num} AS DECIMAL(38,0)) * coalesce(_s, CAST(0 AS DECIMAL(38,0)))) "
                        f"DIV {damp_den} AS BIGINT)"
                    )
                ).cast("long").alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
    de.unpersist()
    return pr


def components_pointer_jump(
    pairs: DataFrame,
    max_iters: int = 40,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Connected components in O(log diameter) rounds — the
    pointer-doubling sibling of ``dedup.dedup_components``.

    Plain min-label propagation needs O(component diameter) rounds: a
    label travels one edge per round. Near-dup graphs are shallow
    cliques so that is fine there, but geometric graphs (pixel blobs,
    road chains) have diameter ~ component size — measured 144 rounds
    on the sf0.01 event-raster blob graph. Adding the classic pointer
    jump (each node also takes its LABEL'S label each round —
    Shiloach-Vishkin style path halving) makes label distance-to-root
    halve per round on top of the one-edge hop, so the same graph
    converges in 10 rounds.

    Semantics are identical to ``dedup_components``: every node of the
    symmetrized edge list gets ``label`` = min node id of its component
    (tested equal on random graphs). Invariants that make the jump a
    plain self-join: labels start as node ids and every update picks an
    existing node's id (a neighbour's label or a label's label), so
    ``label`` is always a valid join key into the label table.
    Convergence is the EXACT per-round changed-label count (carried as
    a flag inside the round's checkpointed frame — no extra join, no
    numeric-signature assumption, so ids may be strings, as the MSF's
    contracted label graphs are).

    Scale: each round is two hash joins + one aggregate over (node,
    label) rows — O(E) shuffle per round, O(log d) rounds, per-round
    plans truncated with eager localCheckpoint (the dedup_components /
    hop_distances discipline). Raises if ``max_iters`` rounds pass
    without convergence rather than returning a silently split
    component."""
    edges = pairs.select(F.col(src).alias("id_a"), F.col(dst).alias("id_b"))
    und = edges.unionByName(
        edges.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).persist()
    labels = (
        und.select(F.col("id_a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iters):
        nbr_min = (
            und.join(
                labels.select(F.col("id").alias("id_b"), F.col("label").alias("_nl")),
                "id_b",
            )
            .groupBy(F.col("id_a").alias("id"))
            .agg(F.min("_nl").alias("_nl"))
        )
        jump = labels.select(
            F.col("id").alias("label"), F.col("label").alias("_jl")
        )
        upd = (
            labels.join(nbr_min, "id", "left")
            .join(jump, "label", "left")
            .select(
                "id",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("_nl"), F.col("label")),
                    F.coalesce(F.col("_jl"), F.col("label")),
                ).alias("_new"),
                F.col("label").alias("_old"),
            )
            .select(
                "id",
                F.col("_new").alias("label"),
                (F.col("_new") != F.col("_old")).alias("_chg"),
            )
        ).localCheckpoint(eager=True)
        n_changed = upd.filter(F.col("_chg")).count()
        labels = upd.select("id", "label")
        if n_changed == 0:
            converged = True
            break
    und.unpersist()
    if not converged:
        raise RuntimeError(
            f"components_pointer_jump did not converge in {max_iters} "
            "rounds; raise max_iters — a partial answer would split one "
            "true component across several labels"
        )
    return labels.select("id", "label")


def link_prediction(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_degree: int | None = None,
) -> DataFrame:
    """Common-neighbor link prediction — the classic "who should be
    connected next" primitive (friend/item recommendation, similarity-
    graph densification, knowledge-graph completion): for every
    unordered NON-edge pair (u, v) at distance exactly 2 in the
    undirected simple graph ``edges(a, b)`` induces, the evidence
    counts

    - ``cn``   = |N(u) ∩ N(v)|  (common neighbors — Newman's score),
    - ``un``   = |N(u) ∪ N(v)|  = deg(u) + deg(v) - cn (NON-edge, so
                 neither endpoint is in the other's neighborhood),
    - ``jaccard`` = cn / un as ONE shared IEEE division per row — the
      exact integers ride beside it, so rankings can compare
      cn1*un2 vs cn2*un1 cross-multiplied when floats won't do.

    Returns ``(u, v, cn, un, jaccard)`` with u < v. Pairs with no
    common neighbor (distance > 2) are absent — at web scale the
    distance-2 candidate set IS the standard search space (everything
    further scores 0 under neighborhood measures).

    Shape: one wedge self-join on the shared center (each center of
    degree d emits C(d, 2) candidate pairs), one hash agg per (u, v),
    one anti-join against the canonical edge set, two degree joins —
    no loop, no driver action. The wedge fan-out is Σ C(deg, 2); pass
    ``max_degree`` to drop hub CENTERS above it (the standard
    web-scale mitigation: a 10^6-degree hub contributes 5·10^11
    wedges but near-zero Jaccard evidence — documented cap, logged
    nowhere silently since dropped centers change no kept pair's
    correctness claim: scores become "w.r.t. the degree-capped
    graph", which is how production recommenders state it)."""
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        canon.select(F.col("a").alias("id"))
        .unionByName(canon.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    both = canon.select(F.col("a").alias("c"), F.col("b").alias("n")).unionByName(
        canon.select(F.col("b").alias("c"), F.col("a").alias("n"))
    )
    if max_degree is not None:
        if max_degree < 2:
            raise ValueError(f"max_degree must be >= 2: {max_degree}")
        both = both.join(
            deg.filter(F.col("deg") <= max_degree).select(F.col("id").alias("c")),
            "c",
            "left_semi",
        )
    w1 = both.select(F.col("c"), F.col("n").alias("u"))
    w2 = both.select(F.col("c"), F.col("n").alias("v"))
    cand = (
        w1.join(w2, "c")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
        .join(
            canon.select(F.col("a").alias("u"), F.col("b").alias("v")),
            ["u", "v"],
            "left_anti",
        )
    )
    un = F.col("_du") + F.col("_dv") - F.col("cn")
    return (
        cand.join(deg.select(F.col("id").alias("u"), F.col("deg").alias("_du")), "u")
        .join(deg.select(F.col("id").alias("v"), F.col("deg").alias("_dv")), "v")
        .select(
            "u",
            "v",
            "cn",
            un.alias("un"),
            (F.col("cn").cast("double") / un.cast("double")).alias("jaccard"),
        )
    )


def transitivity_stats(tc: DataFrame) -> DataFrame:
    """Global transitivity (the graph clustering coefficient) from a
    ``triangle_counts`` frame ``(id, deg, tri)`` — the one-number
    "how clique-ish is this graph" health statistic link-graph and
    similarity-graph pipelines track over time (a near-dup pair graph
    whose transitivity collapses is producing chains, not clusters).

    C = closed wedges / all wedges = Σ tri_i / Σ C(deg_i, 2)
      = 2·Σ tri_i / Σ deg_i·(deg_i − 1)

    in the exact-integer discipline: both sums accumulate in
    decimal(38,0) with the cast BEFORE the product (a 10^10-degree
    hub wraps ``deg*(deg-1)`` in int64), the unhalved denominator and
    the numerator travel as digit strings, and the float is ONE
    shared division ``2 * (num / den)`` (the doubling is exact in
    IEEE, so it commutes with the rounding of the division). NULL
    when the graph has no wedges (every component an edge or a
    point). One single-row aggregate — no extra shuffle beyond the
    ``triangle_counts`` output it folds.

    Returns one row ``(trans_num_str, trans_den_str, transitivity)``.
    """
    num = F.expr("sum(CAST(tri AS DECIMAL(38,0)))")
    den = F.expr("sum(CAST(deg AS DECIMAL(38,0)) * (deg - 1))")
    return tc.agg(
        num.cast("string").alias("trans_num_str"),
        den.cast("string").alias("trans_den_str"),
        F.when(
            den == F.lit(0),
            F.lit(None).cast("double"),
        )
        .otherwise(F.lit(2.0) * (num.cast("double") / den.cast("double")))
        .alias("transitivity"),
    )


def scc(
    edges: DataFrame,
    max_phases: int = 30,
    max_prop_rounds: int = 60,
    src: str = "a",
    dst: str = "b",
) -> DataFrame:
    """Strongly connected components of a DIRECTED edge list — the
    coloring / FW-BW decomposition (Orzan '04, Slota et al. '14; the
    practical distributed SCC family).  Per phase over the UNASSIGNED
    subgraph:

    1. color(v) = min id that REACHES v — forward min-label
       propagation with pointer jumping (the components_pointer_jump
       hybrid, directed: labels flow src -> dst only).  Each color
       class is closed under reverse reachability and its pivot
       (the node equal to its own color) reaches every member.
    2. within each color class, BACKWARD reachability from the pivot
       (edges reversed, class-restricted): those members also reach
       the pivot, so they are EXACTLY SCC(pivot) — assign and remove.

    Every phase retires at least each class's pivot SCC; random and
    real digraphs finish in a handful of phases (the classic FW-BW
    expectation), and each inner round is two hash joins over the
    remaining edges — O(E) shuffle per round, driver-action bounded
    like the other iterative graph ops (NON-benched gate rows only,
    the DBSCAN relocation lesson).  Returns (id, scc) with scc = the
    component's minimum node id; raises rather than returning a
    partial labeling."""
    e0 = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
        F.col("u") != F.col("v")
    ).distinct().persist()
    nodes = (
        e0.select(F.col("u").alias("id"))
        .unionByName(e0.select(F.col("v").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    assigned = None
    remaining = nodes
    # e0 is scanned by every phase; release it on ALL exits —
    # the non-convergence raises otherwise leak the cached frame
    # for the session's lifetime (r6, ADVICE item)
    try:
        for _ in range(max_phases):
            if remaining.isEmpty():
                break
            er = (
                e0.join(remaining.select(F.col("id").alias("u")), "u", "left_semi")
                .join(remaining.select(F.col("id").alias("v")), "v", "left_semi")
                .localCheckpoint(eager=True)
            )
            # 1. forward min-label (directed) with pointer jumping
            labels = remaining.withColumn("label", F.col("id")).localCheckpoint(
                eager=True
            )
            ok = False
            for _r in range(max_prop_rounds):
                nbr = (
                    er.join(
                        labels.select(
                            F.col("id").alias("u"), F.col("label").alias("_nl")
                        ),
                        "u",
                    )
                    .groupBy(F.col("v").alias("id"))
                    .agg(F.min("_nl").alias("_nl"))
                )
                jump = labels.select(
                    F.col("id").alias("label"), F.col("label").alias("_jl")
                )
                upd = (
                    labels.join(nbr, "id", "left")
                    .join(jump, "label", "left")
                    .select(
                        "id",
                        F.least(
                            F.col("label"),
                            F.coalesce(F.col("_nl"), F.col("label")),
                            F.coalesce(F.col("_jl"), F.col("label")),
                        ).alias("label"),
                        (
                            F.least(
                                F.col("label"),
                                F.coalesce(F.col("_nl"), F.col("label")),
                                F.coalesce(F.col("_jl"), F.col("label")),
                            )
                            != F.col("label")
                        ).alias("_chg"),
                    )
                    .localCheckpoint(eager=True)
                )
                changed = upd.filter(F.col("_chg")).count()
                labels = upd.select("id", "label")
                if changed == 0:
                    ok = True
                    break
            if not ok:
                raise RuntimeError(
                    f"scc color propagation did not converge in "
                    f"{max_prop_rounds} rounds"
                )
            # 2. backward reach from each pivot within its color class
            lab_u = labels.select(F.col("id").alias("u"), F.col("label").alias("_lu"))
            lab_v = labels.select(F.col("id").alias("v"), F.col("label").alias("_lv"))
            ec = (
                er.join(lab_u, "u")
                .join(lab_v, "v")
                .filter(F.col("_lu") == F.col("_lv"))
                .select("u", "v", F.col("_lu").alias("c"))
                .localCheckpoint(eager=True)
            )
            reach = labels.filter(F.col("id") == F.col("label")).select(
                F.col("id"), F.col("label").alias("c")
            ).localCheckpoint(eager=True)
            ok = False
            for _r in range(max_prop_rounds):
                grow = (
                    ec.join(
                        reach.select(F.col("id").alias("v"), F.col("c").alias("_rc")),
                        "v",
                    )
                    .filter(F.col("c") == F.col("_rc"))
                    .select(F.col("u").alias("id"), "c")
                    .distinct()
                )
                new = grow.join(reach, ["id", "c"], "left_anti").localCheckpoint(
                    eager=True
                )
                n_new = new.count()
                if n_new == 0:
                    ok = True
                    break
                reach = reach.unionByName(new).localCheckpoint(eager=True)
            if not ok:
                raise RuntimeError(
                    f"scc backward reach did not converge in {max_prop_rounds} "
                    "rounds"
                )
            found = reach.select("id", F.col("c").alias("scc"))
            assigned = (
                found if assigned is None else assigned.unionByName(found)
            )
            assigned = assigned.localCheckpoint(eager=True)
            remaining = remaining.join(
                found.select("id"), "id", "left_anti"
            ).localCheckpoint(eager=True)
        else:
            raise RuntimeError(f"scc did not finish in {max_phases} phases")
    finally:
        e0.unpersist()
    return assigned if assigned is not None else nodes.select(
        "id", F.col("id").alias("scc")
    )
