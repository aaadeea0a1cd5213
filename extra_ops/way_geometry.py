"""Way geometry over resolved coordinate chains: Douglas-Peucker
simplification, per-way area/centroid/length, a direction-invariant
duplicate-way signature and linear referencing.

Every function resolves ways with the engine's
:func:`osm_replication_rust_spark.operators.resolve.resolve_way_full`
and works on its ordered ``coords`` array; none is on the engine's tile
or update path.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_replication_rust_spark.operators.resolve import resolve_way_full


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
