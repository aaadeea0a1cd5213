"""kNN via cell-ring expansion (SURVEY.md J6 — the north_star addition;
not in the reference, which has no neighbor queries).

Scheme: both sides carry grid cell ids (functions/coords.cell_id).
Starting at disk radius r=0, each query joins to points whose cell lies
in its Chebyshev r-disk; a query is *certified* once its k-th best
candidate is within ``r * cell_edge`` — any unscanned point is at least
one full cell away, i.e. strictly farther. Radius doubles until every
query certifies (or the cap is hit, when an exact brute-force fallback
finishes the stragglers — correctness never depends on density).

The disk join is an equi-join: candidate cell = query cell + offset,
with the offset list exploded from a literal array (pure JVM). Top-k is
a window over (query, distance). Distances are exact int64 squared
Euclidean in decimicro space.

Scale: each round shuffles only the *remaining* queries (shrinking
fast); the points side is re-used as a persisted frame keyed by cell.
Skewed mega-cells are handled by AQE skew-join splitting; at extreme
densities drop to a finer res so disks hold fewer points.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm_replication_rust_spark.functions.coords import DEFAULT_RES, Y_STRIDE, cell_edge, cell_id


def _dist2(qlat, qlon, plat, plon):
    dl = qlat - plat
    dn = qlon - plon
    return dl * dl + dn * dn


def knn_bruteforce(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    q_id: str = "query_id",
    p_id: str = "point_id",
) -> DataFrame:
    """Exact baseline: cross join + window top-k. O(Q*P) — the oracle for
    tests and the fallback for uncertified queries. Ties broken by point
    id for determinism. The query side is BROADCAST: the cross join is a
    map-side scan of the points table (no points shuffle), which is the
    best possible plan for the sparse-region stragglers that reach the
    fallback."""
    q = F.broadcast(
        queries.select(
            F.col(q_id), F.col("lat").alias("_qlat"), F.col("lon").alias("_qlon")
        )
    )
    p = points.select(
        F.col(p_id), F.col("lat").alias("_plat"), F.col("lon").alias("_plon")
    )
    d = q.crossJoin(p).withColumn(
        "dist2",
        _dist2(F.col("_qlat"), F.col("_qlon"), F.col("_plat"), F.col("_plon")),
    )
    w = Window.partitionBy(q_id).orderBy("dist2", p_id)
    return (
        d.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, p_id, "dist2", "rank")
    )


def _eps_disk_candidates(
    queries: DataFrame,
    points: DataFrame,
    eps: int,
    res: int,
    q_id: str,
    p_cols: list | None = None,
    q_cols: list | None = None,
):
    """Shared eps-disk candidate join (the eps_neighbor_counts /
    idw_interpolate common core): validates the (eps, res) guards,
    buckets points by grid cell, explodes each query to the literal
    offsets covering its disk, and returns (cand, hit) where ``cand``
    is the left-joined candidate frame (carrying ``p_cols`` from the
    point side and ``q_cols`` from the query side) and ``hit`` the
    exact int64 in-disk predicate."""
    if eps <= 0:
        raise ValueError("eps must be a positive decimicro radius")
    edge = cell_edge(res)
    s = -(-eps // edge)  # ceil(eps/edge)
    if (2 * s + 1) ** 2 > 1024:
        raise ValueError(
            f"eps={eps} spans {(2 * s + 1) ** 2} cells at res={res}; "
            "use a coarser res (larger cell edge)"
        )
    max_delta = (s + 1) * edge  # per-axis bound for any joined pair
    if 2 * max_delta * max_delta >= 1 << 63:
        raise ValueError(
            f"(eps={eps}, res={res}) admits per-axis deltas up to "
            f"{max_delta}, whose squared distance overflows int64; "
            "use a finer res (smaller cell edge)"
        )
    offs = [
        dy * Y_STRIDE + dx
        for dy in range(-s, s + 1)
        for dx in range(-s, s + 1)
    ]
    p = points.select(
        F.col("lat").alias("_plat"),
        F.col("lon").alias("_plon"),
        cell_id(F.col("lon"), F.col("lat"), res).alias("_pcell"),
        *(p_cols or []),
    )
    q = queries.select(
        F.col(q_id),
        F.col("lat").alias("_qlat"),
        F.col("lon").alias("_qlon"),
        cell_id(F.col("lon"), F.col("lat"), res).alias("_qcell"),
        *(q_cols or []),
    )
    cand = (
        q.withColumn("_off", F.explode(F.array(*[F.lit(o) for o in offs])))
        .withColumn("_cell", F.col("_qcell") + F.col("_off"))
        .join(p, F.col("_cell") == F.col("_pcell"), "left")
    )
    hit = _dist2(
        F.col("_qlat"), F.col("_qlon"), F.col("_plat"), F.col("_plon")
    ) <= F.lit(int(eps) * int(eps))
    return cand, hit


def eps_neighbor_counts(
    queries: DataFrame,
    points: DataFrame,
    eps: int,
    res: int = DEFAULT_RES,
    q_id: str = "query_id",
) -> DataFrame:
    """Fixed-radius near-neighbor counts — DBSCAN's |N_eps(q)| core-point
    primitive / the density half of a fixed-radius join: for every query
    row, how many points lie within exact squared decimicro distance
    ``eps**2`` (inclusive; a co-located point — including the query
    itself when queries ⊆ points — counts).

    Plan: points bucketed once by grid cell; each query explodes to the
    (2s+1)² cell offsets that cover its eps-disk (s = ceil(eps/edge),
    a literal array — pure JVM), ONE hash equi-join on the cell id, and
    ONE aggregation back to the query key. Distances are exact int64
    (joined pairs are cell-bounded, so the squares never overflow).
    Queries with an empty disk survive via the left join (count 0).

    Scale: the only shuffles are the cell equi-join and the per-query
    agg (partial combine collapses each partition to one counter per
    query). Fan-out is the fixed offset list, not data-dependent; a
    mega-cell is an AQE skew-join split, same as the kNN ring join.
    Pick ``res`` so the disk spans a handful of cells — the guards
    below reject a fan-out over 1024 cells AND any (eps, res) whose
    joined pairs could overflow the exact int64 distance: a joined
    pair is at most (s+1) cells apart per axis, so the overflow bound
    is 2·((s+1)·edge)² < 2⁶³ (a coarse grid with a huge eps fails
    loudly instead of wrapping dist² negative and over-counting)."""
    cand, hit = _eps_disk_candidates(queries, points, eps, res, q_id)
    return cand.groupBy(q_id).agg(
        F.coalesce(F.sum(F.when(hit, 1)), F.lit(0)).cast("long").alias("n_eps")
    )


#: IDW weight quantization: wq = IDW_SCALE_K div max(dist², 1). 2^52
#: keeps single terms v·wq below 2^63 for values up to ~2000 while
#: resolving weights down to dist ≈ 0.67 · 10⁻¹ degree (wq >= 1 for
#: dist² <= 2^52).
IDW_SCALE_K = 1 << 52


def idw_interpolate(
    queries: DataFrame,
    points: DataFrame,
    eps: int,
    res: int = DEFAULT_RES,
    v: str = "v",
    q_id: str = "query_id",
    scale_k: int = IDW_SCALE_K,
) -> DataFrame:
    """Inverse-distance-weighted interpolation (IDW, power p = 2) of a
    sample surface at each query point — the classic scattered-data
    gridding step (sensor fields, elevation, density smoothing), with
    the neighborhood bounded by the same eps-disk the DBSCAN primitive
    uses.

    Cross-engine exactness: true IDW sums floats whose ADDITION ORDER
    is engine-dependent, so weights are QUANTIZED to exact integers —
    wq = scale_k div max(dist², 1) (the max handles a query sitting
    exactly on a sample; dist² is already exact int64) — and the
    estimate is ONE shared division of two decimal(38,0) sums:

        idw = Σ v·wq / Σ wq      over in-disk samples

    Σwq = 0 (no in-disk sample, or all weights quantize to zero) is
    NULL. The quantization error is bounded by 1/scale_k per weight —
    far below any physical meaning in the samples — and in exchange
    the result is bit-reproducible everywhere (ordering, retries,
    engines). Emits idw (double), n_idw (in-disk sample count) and
    idw_den_str (the exact Σwq as digits — the integer pin behind the
    9-digit float compare).

    Plan: identical to eps_neighbor_counts — one cell equi-join + one
    per-query aggregate; decimal sums make per-query weight mass
    unbounded-safe at any density."""
    if scale_k <= 0:
        raise ValueError("scale_k must be positive")
    dec = "decimal(38,0)"
    cand, hit = _eps_disk_candidates(
        queries, points, eps, res, q_id, p_cols=[F.col(v).alias("_pv")]
    )
    d2 = _dist2(
        F.col("_qlat"), F.col("_qlon"), F.col("_plat"), F.col("_plon")
    )
    cand = cand.withColumn("_d2", d2).withColumn(
        "_wq",
        F.expr(
            f"CAST({int(scale_k)} AS BIGINT) DIV greatest(_d2, CAST(1 AS BIGINT))"
        ),
    )
    num = F.sum(
        F.when(hit, F.col("_pv").cast(dec) * F.col("_wq").cast(dec))
    )
    den = F.sum(F.when(hit, F.col("_wq").cast(dec)))
    n = F.coalesce(F.sum(F.when(hit, 1)), F.lit(0)).cast("long")
    return cand.groupBy(q_id).agg(
        num.alias("_num"), den.alias("_den"), n.alias("n_idw")
    ).select(
        q_id,
        F.when(
            F.col("_den").isNotNull() & (F.col("_den") != 0),
            F.col("_num").cast("double") / F.col("_den").cast("double"),
        ).alias("idw"),
        "n_idw",
        F.coalesce(F.col("_den"), F.lit(0).cast(dec))
        .cast("string")
        .alias("idw_den_str"),
    )


def dbscan(
    points: DataFrame,
    eps: int,
    min_pts: int,
    res: int = DEFAULT_RES,
    id_col: str = "point_id",
    max_iters: int = 40,
) -> DataFrame:
    """Distributed DBSCAN — density-based clustering with noise, built
    entirely from the engine's own primitives: the eps-disk candidate
    join (one cell equi-join, exact int64 distances) and pointer-
    doubling connected components (O(log diameter) rounds). Every rule
    is deterministic so the labeling reproduces bit-for-bit in SQL:

    - core(p): |N_eps(p)| >= min_pts (inclusive boundary, self counts —
      the eps_neighbor_counts contract);
    - clusters: connected components over core-core pairs within eps;
      cluster label = MIN core id of the component;
    - border (non-core with >= 1 core neighbor): joins the cluster of
      its MINIMUM-LABELED core neighbor (the textbook "any reachable
      cluster" ambiguity resolved to a total order);
    - noise: cluster NULL, is_core false.

    Returns ``points`` + (is_core boolean, cluster long|NULL).

    Scale: the pair list is |N_eps|-bounded per point (never O(n²) —
    a mega-dense region is an AQE skew split like the kNN ring join),
    the component loop is O(log cluster-diameter) rounds, and the
    border/noise resolution is one more aggregate + left join. The
    pair list is eagerly localCheckpoint-ed once and feeds the count,
    component and border legs from executor storage."""
    if min_pts < 1:
        raise ValueError("min_pts must be >= 1")
    q = points.select(
        F.col(id_col).alias("query_id"), F.col("lat"), F.col("lon")
    )
    cand, hit = _eps_disk_candidates(
        q, points, eps, res, "query_id", p_cols=[F.col(id_col).alias("_pid")]
    )
    pairs = (
        cand.filter(hit)
        .select(F.col("query_id").alias("_a"), F.col("_pid").alias("_b"))
        .localCheckpoint(eager=True)
    )
    counts = pairs.groupBy("_a").agg(F.count(F.lit(1)).alias("_n"))
    core = counts.filter(F.col("_n") >= min_pts).select("_a")
    core_pairs = (
        pairs.join(core, "_a", "left_semi")
        .join(core.select(F.col("_a").alias("_b")), "_b", "left_semi")
        .select(F.col("_a").alias("id_a"), F.col("_b").alias("id_b"))
    )
    from .graph import components_pointer_jump

    comp = components_pointer_jump(core_pairs, max_iters=max_iters)
    core_lab = comp.select(
        F.col("id").alias(id_col),
        F.lit(True).alias("is_core"),
        F.col("label").alias("cluster"),
    )
    border_lab = (
        pairs.join(core.select(F.col("_a").alias("_skip")),
                   pairs["_a"] == F.col("_skip"), "left_anti")
        .join(
            comp.select(F.col("id").alias("_b"), F.col("label").alias("_bl")),
            "_b",
            "inner",
        )
        .groupBy(F.col("_a").alias(id_col))
        .agg(F.min("_bl").alias("cluster"))
        .select(id_col, F.lit(False).alias("is_core"), "cluster")
    )
    lab = core_lab.unionByName(border_lab)
    return points.join(lab, id_col, "left").select(
        *points.columns,
        F.coalesce(F.col("is_core"), F.lit(False)).alias("is_core"),
        "cluster",
    )


def knn_cell_ring(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    res: int = DEFAULT_RES,
    q_id: str = "query_id",
    p_id: str = "point_id",
    max_rounds: int = 4,
    release_caches: bool = True,
) -> DataFrame:
    """Exact kNN via expanding cell disks; see module docstring.

    ``release_caches=True`` (default) eagerly materializes the small
    result via localCheckpoint and unpersists every per-round cache
    before returning — the right discipline for a long-lived session.
    Pass False when the caller will consume the result immediately and
    tears the session down anyway (saves the checkpoint job)."""
    spark = queries.sparkSession
    edge = cell_edge(res)

    p = points.select(
        F.col(p_id),
        F.col("lat").alias("_plat"),
        F.col("lon").alias("_plon"),
        cell_id(F.col("lon"), F.col("lat"), res).alias("_pcell"),
    ).persist()
    remaining = queries.select(
        F.col(q_id),
        F.col("lat").alias("_qlat"),
        F.col("lon").alias("_qlon"),
        cell_id(F.col("lon"), F.col("lat"), res).alias("_qcell"),
    ).persist()

    results: list[DataFrame] = []
    cached: list[DataFrame] = [p, remaining]  # released before return
    best: DataFrame | None = None  # carried top-k rows of uncertified queries
    r = 1
    prev_r = -1
    # remaining-query count carried in Python: the certification
    # aggregate below is the round's ONE action — no separate per-round
    # isEmpty() pass over the plan
    n_remaining = remaining.count()
    for _ in range(max_rounds):
        if n_remaining == 0:
            break
        # NEW cells only: the ring band prev_r < radius <= r (cells in
        # the previous disk were already scanned; their best candidates
        # ride along in `best`, so no work is repeated across rounds)
        offs = [
            dy * Y_STRIDE + dx
            for dy in range(-r, r + 1)
            for dx in range(-r, r + 1)
            if max(abs(dx), abs(dy)) > prev_r
        ]
        cand = (
            remaining.withColumn("_off", F.explode(F.array(*[F.lit(o) for o in offs])))
            .withColumn("_cell", F.col("_qcell") + F.col("_off"))
            .join(p, F.col("_cell") == F.col("_pcell"), "inner")
            .withColumn(
                "dist2",
                _dist2(F.col("_qlat"), F.col("_qlon"), F.col("_plat"), F.col("_plon")),
            )
            .select(q_id, p_id, "dist2")
        )
        if best is not None:
            cand = cand.unionByName(best)
        w = Window.partitionBy(q_id).orderBy("dist2", p_id)
        topk = (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .persist()
        )
        # certification: k-th neighbor within r*edge means no unscanned
        # point can beat it (unscanned => >= (r)*edge away from the query)
        cert_bound = (r * edge) ** 2
        done = (
            topk.groupBy(q_id)
            .agg(F.count(F.lit(1)).alias("_n"), F.max("dist2").alias("_worst"))
            .filter((F.col("_n") == k) & (F.col("_worst") <= cert_bound))
            .select(q_id)
            .persist()
        )
        n_done = done.count()  # materializes topk; the round's one action
        results.append(
            topk.join(done, q_id, "left_semi").select(q_id, p_id, "dist2", "rank")
        )
        remaining = remaining.join(done, q_id, "left_anti").persist()
        best = topk.join(done, q_id, "left_anti").select(q_id, p_id, "dist2").persist()
        cached.extend((topk, done, remaining, best))
        n_remaining -= n_done
        prev_r = r
        r *= 2

    if n_remaining > 0:
        results.append(
            knn_bruteforce(
                remaining.select(
                    q_id, F.col("_qlat").alias("lat"), F.col("_qlon").alias("lon")
                ),
                points,
                k,
                q_id,
                p_id,
            )
        )
    out = results[0]
    for rdf in results[1:]:
        out = out.unionByName(rdf)
    # Materialize the (small: <= |queries| x k rows) result eagerly and
    # cut lineage, then release every per-round cache — a long-lived
    # session calling knn per batch must not pin block-manager storage.
    if release_caches:
        out = out.localCheckpoint(eager=True)
        for df in cached:
            df.unpersist()
    return out


def ripley_k(
    points: DataFrame,
    radii: list,
    res: int = DEFAULT_RES,
    id_col: str = "point_id",
    area: float = 1.0,
) -> DataFrame:
    """Ripley's K function — the canonical point-pattern statistic
    (clustered vs dispersed vs Poisson at each scale r): for every
    radius in ``radii``, the ORDERED i≠j pair count within exact
    distance r, and K̂(r) = area · pairs / (n·(n−1)). (The reference
    has no point-pattern analytics; this extends its spatial-join
    family the way dbscan/idw do — SURVEY.md J6 siblings.)

    Returns ONE row: n (long), then per radius index i
    ``rip_n_{i}`` (exact long ordered-pair count, d ≤ r inclusive,
    co-located distinct points count) and ``rip_k_{i}`` (double,
    a single multiply/divide over exact ints — bit-reproducible).

    Plan: ONE eps-disk candidate join at max(radii) (cell equi-join,
    literal offset fan-out, exact int64 distances — the
    eps_neighbor_counts core) + ONE global aggregate with a
    conditional counter per radius (partial map-side combine collapses
    each partition to len(radii)+1 counters). No per-radius rescans,
    no O(n²): the candidate list is disk-bounded per point; a
    mega-cell is an AQE skew split like the kNN ring join."""
    if not radii or sorted(radii) != list(radii):
        raise ValueError("radii must be a non-empty ascending list")
    q = points.select(F.col(id_col).alias("_rq"), "lat", "lon")
    cand, hit = _eps_disk_candidates(
        q, points, int(max(radii)), res, "_rq",
        p_cols=[F.col(id_col).alias("_rp")],
    )
    d2 = _dist2(F.col("_qlat"), F.col("_qlon"), F.col("_plat"), F.col("_plon"))
    pair = F.col("_rp").isNotNull() & (F.col("_rp") != F.col("_rq"))
    aggs = [F.countDistinct("_rq").alias("n")]
    for i, r in enumerate(radii):
        aggs.append(
            F.coalesce(
                F.sum(F.when(pair & (d2 <= F.lit(int(r) * int(r))), 1)),
                F.lit(0),
            ).cast("long").alias(f"rip_n_{i}")
        )
    row = cand.agg(*aggs)
    k_cols = [
        (
            F.lit(float(area)) * F.col(f"rip_n_{i}").cast("double")
            / (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
        ).alias(f"rip_k_{i}")
        for i in range(len(radii))
    ]
    return row.select("n", *[F.col(f"rip_n_{i}") for i in range(len(radii))], *k_cols)


def semivariogram(
    points: DataFrame,
    lag_w: int,
    nbins: int,
    v: str = "v",
    res: int = DEFAULT_RES,
    id_col: str = "point_id",
) -> DataFrame:
    """Empirical semivariogram — kriging's first stage (how does a
    sample surface decorrelate with distance): over ORDERED i≠j pairs
    within max lag L = nbins·lag_w, bin b holds pairs with distance in
    [b·lag_w, (b+1)·lag_w), membership decided on EXACT int64 squared
    thresholds ((b·w)² ≤ d² < ((b+1)·w)² — no sqrt, no float binning),
    and γ(b) = Σ(zᵢ−zⱼ)² / (2·count) — one division of two exact int64
    sums, so the estimate reproduces bit-for-bit across engines
    (ordered vs unordered pairing cancels in the ratio).

    Returns ONE row: per bin b ``vg_n_{b}`` (long ordered-pair count),
    ``vg_num_{b}`` (long exact Σ(zᵢ−zⱼ)²) and ``vg_g_{b}`` (double γ,
    NULL for an empty bin).

    Plan: same single-join shape as ripley_k — ONE cell equi-join at
    the max lag + ONE global aggregate carrying 3 conditional counters
    per bin; the CASE ladder over squared thresholds is pure JVM
    codegen."""
    if lag_w <= 0 or nbins <= 0:
        raise ValueError("lag_w and nbins must be positive")
    cand, hit = _eps_disk_candidates(
        points.select(F.col(id_col).alias("_vq"), "lat", "lon", F.col(v).alias("_vz")),
        points,
        int(lag_w) * int(nbins),
        res,
        "_vq",
        p_cols=[F.col(id_col).alias("_vp"), F.col(v).alias("_pz")],
        q_cols=[F.col("_vz")],
    )
    d2 = _dist2(F.col("_qlat"), F.col("_qlon"), F.col("_plat"), F.col("_plon"))
    dz2 = (F.col("_vz") - F.col("_pz")) * (F.col("_vz") - F.col("_pz"))
    pair = F.col("_vp").isNotNull() & (F.col("_vp") != F.col("_vq"))
    aggs = []
    for b in range(nbins):
        lo, hi = (b * lag_w) ** 2, ((b + 1) * lag_w) ** 2
        inbin = pair & (d2 >= F.lit(int(lo))) & (d2 < F.lit(int(hi)))
        aggs.append(
            F.coalesce(F.sum(F.when(inbin, 1)), F.lit(0))
            .cast("long").alias(f"vg_n_{b}")
        )
        aggs.append(
            F.coalesce(F.sum(F.when(inbin, dz2)), F.lit(0))
            .cast("long").alias(f"vg_num_{b}")
        )
    row = cand.agg(*aggs)
    g_cols = [
        F.when(
            F.col(f"vg_n_{b}") > 0,
            F.col(f"vg_num_{b}").cast("double")
            / (F.lit(2.0) * F.col(f"vg_n_{b}").cast("double")),
        ).alias(f"vg_g_{b}")
        for b in range(nbins)
    ]
    return row.select(
        *[F.col(c) for b in range(nbins) for c in (f"vg_n_{b}", f"vg_num_{b}")],
        *g_cols,
    )
