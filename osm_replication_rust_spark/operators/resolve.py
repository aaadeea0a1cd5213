"""Closure resolution: way_full / relation_full as set-based joins, and
the one member-closure primitive every relation walk is built on.

Reference: ``read_way_full`` resolves a way's node list to coordinates
(/root/reference/src/osm.rs:203-214); ``read_relation_full`` resolves
members recursively with a cycle guard (/root/reference/src/osm.rs:219-246).

Spark shape (SURVEY.md S9/S10):
  way_full      posexplode(members) -> join the point table -> collect
                ordered by member position (order preserved exactly);
  closure       :func:`member_closure`, the one relation walk;
                relation_full, group bboxes and group region flags are
                closure ⋈ point refs (:func:`closure_points`) ⋈ per-point
                value -> one aggregate.
Missing refs resolve to nothing (tolerated, like the bbox/filter paths).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def member_edges(groups: DataFrame) -> DataFrame:
    """(group_id, kind, ref, ref_type) — the exploded membership edge list
    (way node-refs and relation members,
    reference src/osm.rs:49-114)."""
    return groups.select(
        "group_id", "kind", F.explode("members").alias("m")
    ).select(
        "group_id",
        "kind",
        F.col("m.ref").alias("ref"),
        F.col("m.type").alias("ref_type"),
    )


def member_closure(groups: DataFrame, roots: DataFrame | None = None) -> DataFrame:
    """(root_id, group_id, depth) — for each root, every group of
    ``groups`` reachable through group-typed member refs, at its BFS
    (minimum) depth, ``(root, root, 0)`` included. ``roots`` is a frame
    with a ``group_id`` column (default: every group); roots and refs
    absent from ``groups`` reach nothing. The reference's
    ``RelationFull`` recursion with its cycle guard
    (reference src/osm.rs:219-246) as one set-based loop.

    Each level is one aggregate over the previous one: every visited
    pair takes a self hop (step 0), the newest pairs also take one
    member hop (step 1), and ``min(depth)`` keeps the first visit, so a
    visited pair never rejoins the frontier (the anti-join against the
    visited set that stops cycles) and the loop ends at the first level
    that adds no pair (the set is finite).

    One action per level. The hop list (so ``groups`` is computed once,
    not once per level) and the latest level are persisted while the
    loop runs and released before returning. The result is lazy: a
    linear chain of one join + aggregate per level, each reading only
    the one before, so evaluating it after the release costs one more
    pass per level, never a blow-up."""
    hops = (
        member_edges(groups)
        .filter(F.col("ref_type") == "group")
        .select(F.col("group_id").alias("node"), "ref", F.lit(1).alias("step"))
        .unionByName(
            groups.select(
                F.col("group_id").alias("node"),
                F.col("group_id").alias("ref"),
                F.lit(0).alias("step"),
            )
        )
        .persist()
    )
    level = prev = (
        (groups if roots is None else roots)
        .select("group_id")
        .distinct()
        .select(F.col("group_id").alias("root_id"), "group_id", F.lit(0).alias("depth"))
    )
    depth = 0
    try:
        while True:
            prev, level = level, (
                level.join(
                    hops,
                    (F.col("group_id") == F.col("node"))
                    & ((F.col("step") == 0) | (F.col("depth") == depth)),
                )
                .groupBy("root_id", F.col("ref").alias("group_id"))
                .agg(F.min(F.col("depth") + F.col("step")).alias("depth"))
                .persist()
            )
            depth += 1
            reached = level.filter(F.col("depth") == depth).count()
            prev.unpersist()  # level k+1 is materialized: k is spent
            if reached == 0:
                return level
    finally:
        for df in (hops, prev, level):
            df.unpersist()


def closure_points(groups: DataFrame, roots: DataFrame | None = None) -> DataFrame:
    """(root_id, ref, depth) — every point-typed member ref of every
    group in each root's :func:`member_closure`; ``depth`` is the
    closure depth of the group holding the ref."""
    pts = member_edges(groups).filter(F.col("ref_type") == "image")
    return member_closure(groups, roots).join(
        pts.select("group_id", "ref"), "group_id"
    ).select("root_id", "ref", "depth")


def resolve_way_full(
    groups: DataFrame,
    points: DataFrame,
    point_id: str = "image_id",
    keep_pos: bool = False,
) -> DataFrame:
    """(group_id, coords) with coords = ordered array<struct<lat,lon>>
    of resolved member points (ways only). Order = member position.
    ``keep_pos=True`` keeps the original member position in each
    element (struct<pos,lat,lon>) so downstream operators can refer
    back to source members even when missing refs drop out."""
    edges = (
        groups.filter(F.col("kind") == "way")
        .select("group_id", F.posexplode("members").alias("pos", "m"))
        .filter(F.col("m.type") == "image")
        .select("group_id", "pos", F.col("m.ref").alias("ref"))
    )
    pts = points.select(
        F.col(point_id).alias("ref"),
        F.struct(
            F.col("lat").cast("long").alias("lat"),
            F.col("lon").cast("long").alias("lon"),
        ).alias("pt"),
    )
    joined = edges.join(pts, "ref", "inner")
    # one hash-agg instead of two window passes: collect (pos, pt)
    # pairs, sort by position, strip the position — order preserved,
    # one shuffle, map-side partial agg applies
    elem = (
        (lambda s: F.struct(s["pos"].alias("pos"), s["pt"]["lat"].alias("lat"), s["pt"]["lon"].alias("lon")))
        if keep_pos
        else (lambda s: s["pt"])
    )
    return joined.groupBy("group_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "pt"))),
            elem,
        ).alias("coords")
    )


def resolve_relation_members(
    groups: DataFrame,
    points: DataFrame,
    point_id: str = "image_id",
    roots: DataFrame | None = None,
) -> DataFrame:
    """Transitive closure: (group_id, member_id, depth) — every point
    reachable from each relation through way/relation edges, cycle-safe,
    depth = 1 + the closure depth of the group holding the point (a
    relation's own point members are depth 1). The set-based analog of
    relation_full. ``roots`` (a ``group_id`` frame) restricts the
    relations resolved; default every relation."""
    rels = groups.filter(F.col("kind") == "relation").select("group_id")
    if roots is not None:
        rels = rels.join(roots.select("group_id"), "group_id", "left_semi")
    return (
        closure_points(groups, rels)
        .join(points.select(F.col(point_id).alias("ref")), "ref", "left_semi")
        .groupBy(F.col("root_id").alias("group_id"), F.col("ref").alias("member_id"))
        .agg((F.min("depth") + 1).alias("depth"))
    )


def _dp_keep_mask(x: np.ndarray, y: np.ndarray, eps2: float) -> np.ndarray:
    """Douglas-Peucker keep mask over one polyline (doubles).

    Segment distance (projection clamped to the segment, degenerate
    segments fall back to point distance), squared throughout — no
    sqrt, and every expression is written as plain IEEE mul/add in the
    SAME order as the SQL twin, so the keep decision is bit-identical
    across engines. Ties on the max distance break to the LOWEST index
    (np.argmax first-hit == the twin's ORDER BY d2 DESC, pos ASC)."""
    n = len(x)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j - i < 2:
            continue
        x1, y1, x2, y2 = x[i], y[i], x[j], y[j]
        dx, dy = x2 - x1, y2 - y1
        len2 = dx * dx + dy * dy
        px, py = x[i + 1 : j], y[i + 1 : j]
        if len2 == 0.0:
            ex, ey = px - x1, py - y1
            d2 = ex * ex + ey * ey
        else:
            t = ((px - x1) * dx + (py - y1) * dy) / len2
            tc = np.clip(t, 0.0, 1.0)
            ex, ey = px - (x1 + tc * dx), py - (y1 + tc * dy)
            d2 = ex * ex + ey * ey
        k = int(np.argmax(d2))
        if d2[k] > eps2:
            kk = i + 1 + k
            keep[kk] = True
            stack.append((i, kk))
            stack.append((kk, j))
    return keep


def simplify_ways(
    groups: DataFrame,
    points: DataFrame,
    eps: float,
    point_id: str = "image_id",
) -> DataFrame:
    """Douglas-Peucker simplification of every way's resolved chain:
    ``(group_id, pos, lat, lon)`` rows for the KEPT vertices, ``pos`` =
    the ORIGINAL member position (stable even when missing refs drop
    out of the chain). Endpoints always survive; an interior vertex
    survives iff its clamped squared segment distance exceeds
    ``eps**2`` at some recursion level (classic DP).

    Scale shape: the only shuffle is resolve_way_full's closure agg;
    the kernel is a mapInPandas stage whose per-row state is O(way
    length) with the distance math numpy-vectorized per split — the
    same bounded-way-size argument as the closure itself (OSM caps
    ways at 2k nodes). Geometry parity with the DuckDB twin is
    bit-exact (see _dp_keep_mask)."""
    ways = resolve_way_full(groups, points, point_id, keep_pos=True)
    eps2 = float(eps) * float(eps)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            gs: list[str] = []
            ps: list[int] = []
            las: list[int] = []
            los: list[int] = []
            for gid, coords in zip(pdf["group_id"], pdf["coords"]):
                m = len(coords)
                if m == 0:
                    continue
                pos = np.fromiter((c["pos"] for c in coords), np.int64, count=m)
                lat = np.fromiter((c["lat"] for c in coords), np.int64, count=m)
                lon = np.fromiter((c["lon"] for c in coords), np.int64, count=m)
                if m <= 2:
                    kept = np.arange(m)
                else:
                    mask = _dp_keep_mask(
                        lon.astype(np.float64), lat.astype(np.float64), eps2
                    )
                    kept = np.nonzero(mask)[0]
                gs.extend([gid] * len(kept))
                ps.extend(int(p) for p in pos[kept])
                las.extend(int(v) for v in lat[kept])
                los.extend(int(v) for v in lon[kept])
            yield pd.DataFrame(
                {"group_id": gs, "pos": ps, "lat": las, "lon": los}
            )

    return ways.mapInPandas(kernel, "group_id string, pos int, lat long, lon long")


def way_geometry(
    groups: DataFrame, points: DataFrame, point_id: str = "image_id"
) -> DataFrame:
    """Per-way geometry products over the resolved coordinate chain:
    ``(group_id, n_pts, is_closed, area2, cx, cy, length)``.

    - ``is_closed`` — first vertex == last vertex (the reference's ring
      test for polygon-forming ways);
    - ``area2`` — twice the signed shoelace area in decimicro², with
      the ring implicitly closed; EXACT: vertices are translated to the
      first vertex (shoelace is translation-invariant) and the terms
      accumulate in decimal(38,0), so no global-extent polygon can
      overflow int64 products;
    - ``cx, cy`` — vertex-mean centroid (doubles);
    - ``acx, acy`` — AREA-WEIGHTED centroid (ST_Centroid for the
      implicitly-closed ring): Σ(x'ᵢ + x'ᵢ₊₁)·crossᵢ / (3·Σcrossᵢ) in
      first-vertex-translated coordinates, numerators exact in
      decimal(38,0) (|terms| ≤ ~1.4e10·1e20 per vertex — no overflow
      for any global-extent way), then ONE shared division; NULL when
      the signed area is zero (degenerate/collinear rings, where the
      formula is undefined). The big-decimal→double casts feeding the
      division are correctly rounded to ≤1 ulp in both engines, which
      the gate's 9-significant-digit float compare absorbs (the exact
      invariant is carried by ``area2``'s decimal string next to it);
    - ``length`` — open polyline length (closing edge NOT added; check
      ``is_closed`` to decide whether to add it).

    Scale shape: everything below is higher-order array functions on
    ``resolve_way_full``'s output — the one shuffle is the closure agg
    itself; geometry is map-side, per-way state stays O(way length),
    no Python anywhere.
    """
    ways = resolve_way_full(groups, points, point_id)
    c = F.col("coords")
    n = F.size(c)
    first = F.element_at(c, 1)
    last = F.element_at(c, -1)
    dec = "decimal(38,0)"

    def at(i):
        return F.element_at(c, i)

    def nxt(i):  # successor index, ring-closed
        return F.element_at(c, (i % n) + 1)

    def cross(i):
        # THE shoelace cross product (single definition: area2 and the
        # area-weighted centroid must never diverge on a spelling fix)
        return (
            (at(i)["lon"] - first["lon"]).cast(dec)
            * (nxt(i)["lat"] - first["lat"]).cast(dec)
            - (nxt(i)["lon"] - first["lon"]).cast(dec)
            * (at(i)["lat"] - first["lat"]).cast(dec)
        ).cast(dec)

    terms = F.transform(F.sequence(F.lit(1), n), cross)
    area2 = F.aggregate(
        terms, F.lit(0).cast(dec), lambda a, t: (a + t).cast(dec)
    )

    def wsum(axis):
        ts = F.transform(
            F.sequence(F.lit(1), n),
            lambda i: (
                (
                    (at(i)[axis] - first[axis]) + (nxt(i)[axis] - first[axis])
                ).cast(dec)
                * cross(i)
            ).cast(dec),
        )
        return F.aggregate(ts, F.lit(0).cast(dec), lambda a, t: (a + t).cast(dec))

    den = (F.lit(3).cast(dec) * area2).cast(dec).cast("double")

    def acent(axis):
        return F.when(
            area2 != F.lit(0).cast(dec),
            first[axis].cast("double") + wsum(axis).cast("double") / den,
        )
    def edge_len(i):
        # square in DOUBLE: a raw decimicro diff can reach 3.6e9 and
        # its int64 square would overflow; doubles also match the
        # DuckDB twin's arithmetic exactly (plain products, no pow)
        dx = (at(i + 1)["lon"] - at(i)["lon"]).cast("double")
        dy = (at(i + 1)["lat"] - at(i)["lat"]).cast("double")
        return F.sqrt(dx * dx + dy * dy)

    edges = F.transform(F.sequence(F.lit(1), n - 1), edge_len)
    length = F.when(n > 1, F.aggregate(edges, F.lit(0.0), lambda a, e: a + e)).otherwise(
        F.lit(0.0)
    )
    s_lat = F.aggregate(c, F.lit(0.0), lambda a, p: a + p["lat"])
    s_lon = F.aggregate(c, F.lit(0.0), lambda a, p: a + p["lon"])
    return ways.select(
        "group_id",
        n.cast("long").alias("n_pts"),
        ((first["lat"] == last["lat"]) & (first["lon"] == last["lon"])).alias(
            "is_closed"
        ),
        area2.cast("string").alias("area2"),
        (s_lon / n).alias("cx"),
        (s_lat / n).alias("cy"),
        acent("lon").alias("acx"),
        acent("lat").alias("acy"),
        length.alias("length"),
    )


def way_geom_signature(
    groups: DataFrame, points: DataFrame, point_id: str = "image_id"
) -> DataFrame:
    """(group_id, geom_sig) — a direction-invariant signature of each
    way's resolved coordinate chain: md5 of the lexicographically
    smaller of the forward and reversed serializations.  Two ways trace
    the same polyline (the classic OSM duplicate-way QA case — same
    nodes entered in opposite directions) iff their signatures match;
    rotation of closed rings is deliberately NOT normalized (a rotated
    ring is a different edit history, and full rotation canonicalization
    is O(n) candidates — out of contract, documented).

    Scale shape: pure higher-order array expressions on the closure
    output — serialization, reversal, least() and md5 are all map-side
    JVM; grouping duplicates afterwards is one hash shuffle on the
    16-byte signature, which is uniform by construction."""
    ways = resolve_way_full(groups, points, point_id)

    def ser(col):
        return F.concat_ws(
            ";",
            F.transform(
                col,
                lambda p: F.concat_ws(
                    ",", p["lon"].cast("string"), p["lat"].cast("string")
                ),
            ),
        )

    fwd = ser(F.col("coords"))
    rev = ser(F.reverse(F.col("coords")))
    return ways.select(
        "group_id", F.md5(F.least(fwd, rev)).alias("geom_sig")
    )


def line_interpolate(
    groups: DataFrame,
    points: DataFrame,
    t: float,
    point_id: str = "image_id",
) -> DataFrame:
    """ST_LineInterpolatePoint's core (linear referencing): the point at
    arc-length fraction ``t`` (0..1) along each resolved way chain —
    ``(group_id, ix, iy)``; NULL for chains with fewer than 2 vertices.

    Cross-engine determinism with floats: every edge length is one
    correctly-rounded sqrt, the total and every prefix length are
    STRICT LEFT-TO-RIGHT folds (``F.aggregate`` over the ordered edge
    array — never a windowed SUM, whose segment-tree addition order is
    engine-specific), and the target ``d = t*L``, the in-segment
    parameter ``u = (d - cum[k-1]) / e[k]`` and the interpolation
    ``x_k + u*(x_{k+1} - x_k)`` are shared single-rounding spellings.
    The DuckDB twin recomputes each prefix as a fresh left-to-right
    ``list_sum(list_slice(...))`` — the same additions in the same
    order, so the doubles agree bit-for-bit.

    The segment pick is the FIRST k with ``cum[k] >= d`` (k always
    exists: t <= 1 keeps d <= L under round-to-nearest); a zero-length
    picked edge degenerates to u = 0 (its start vertex) instead of
    dividing 0/0.

    Scale shape: pure higher-order array expressions on the closure
    output — map-side, no shuffle beyond the closure agg, O(len²)
    arithmetic per way from the prefix recomputation (ways are short;
    a cumulative spelling would be O(len) but engine-divergent).
    """
    if not (0.0 <= t <= 1.0):
        raise ValueError(f"t must be in [0, 1], got {t}")
    ways = resolve_way_full(groups, points, point_id)
    c = F.col("coords")
    n = F.size(c)

    def at(i):
        return F.element_at(c, i)

    def edge_len(i):
        dx = (at(i + 1)["lon"] - at(i)["lon"]).cast("double")
        dy = (at(i + 1)["lat"] - at(i)["lat"]).cast("double")
        return F.sqrt(dx * dx + dy * dy)

    edges = F.transform(F.sequence(F.lit(1), n - 1), edge_len)

    def prefix(i):
        # fresh left-to-right fold of edges[1..i] — the determinism
        # contract shared with the SQL twin (see docstring)
        return F.aggregate(
            F.slice(edges, 1, i), F.lit(0.0), lambda a, e: a + e
        )

    total = prefix(n - 1)
    d = F.lit(float(t)) * total
    ks = F.filter(
        F.sequence(F.lit(1), n - 1), lambda i: prefix(i) >= d
    )
    k = F.coalesce(F.element_at(ks, 1), n - 1)
    e_k = F.element_at(edges, k)
    u = F.when(e_k > 0.0, (d - prefix(k - 1)) / e_k).otherwise(F.lit(0.0))
    ix = at(k)["lon"].cast("double") + u * (
        at(k + 1)["lon"] - at(k)["lon"]
    ).cast("double")
    iy = at(k)["lat"].cast("double") + u * (
        at(k + 1)["lat"] - at(k)["lat"]
    ).cast("double")
    return ways.select(
        "group_id",
        F.when(n >= 2, ix).alias("ix"),
        F.when(n >= 2, iy).alias("iy"),
    )
