"""Integer-exact planar geometry kernels (numpy, vectorized).

Re-expresses the reference's predicates on decimicro-degree integer
coordinates:

- point-in-multipolygon with boundary-counts-as-inside, matching
  ``geo::Intersects`` semantics (reference /root/reference/src/osmxml/filter.rs:118-131
  and the degenerate-bbox tests /root/reference/src/osmgeom.rs:139-221);
- `.poly`-style multipolygons with ``!``-prefixed hole rings
  (reference /root/reference/src/osmgeom.rs:15-62) — even-odd counting over all
  rings gives subtract-hole semantics;
- buffered membership: instead of materializing ``GEOS buffer(0.1°, 8 segs)``
  (reference /root/reference/src/osmxml/filter.rs:44-56) we test
  ``distance(point, polygon) <= 0.1°`` — the exact limit the 8-segment arc
  approximation converges to, and deterministic without a GEOS dependency.

All predicate arithmetic is int64-exact; the distance test (used only for
the soft buffer zone) is float64. Kernels are vectorized over point arrays
so they slot directly into Arrow-batched pandas UDFs.

Coordinates are decimicro degrees: int = degrees * 1e7
(reference /root/reference/src/osm.rs:137-143).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

#: 0.1 degrees in decimicro units — the reference's buffer width
#: (/root/reference/src/osmxml/filter.rs:47).
BUFFER_DECIMICRO = 1_000_000

#: Max supported multipolygon extent (20 degrees). Keeps every int64
#: product in the kernels below under 2**62. Planet-scale region trees
#: (continents) would be split into sub-polygons before hitting this.
_MAX_EXTENT = 200_000_000


@dataclass(frozen=True)
class Ring:
    """A closed ring of decimicro int coords, optionally a hole.

    ``coords`` is an (k, 2) int64 array of (lon, lat); first point does
    not need to repeat at the end (we close implicitly).
    """

    coords: np.ndarray
    hole: bool = False

    def closed(self) -> np.ndarray:
        c = self.coords
        if len(c) and (c[0] != c[-1]).any():
            c = np.vstack([c, c[:1]])
        return c


@dataclass
class MultiPolygon:
    """A named multipolygon region (analog of one parsed `.poly` file)."""

    region_id: str
    rings: list[Ring]
    parent_id: str | None = None
    _bbox: tuple[int, int, int, int] | None = field(default=None, repr=False)

    @property
    def bbox(self) -> tuple[int, int, int, int]:
        """(minlon, minlat, maxlon, maxlat) over all rings."""
        if self._bbox is None:
            allc = np.vstack([r.coords for r in self.rings])
            self._bbox = (
                int(allc[:, 0].min()),
                int(allc[:, 1].min()),
                int(allc[:, 0].max()),
                int(allc[:, 1].max()),
            )
            w = self._bbox[2] - self._bbox[0]
            h = self._bbox[3] - self._bbox[1]
            if max(w, h) > _MAX_EXTENT:
                raise ValueError(
                    f"region {self.region_id} extent {max(w, h)} exceeds "
                    f"{_MAX_EXTENT} decimicro; split it first"
                )
        return self._bbox

    def edges(self) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        """Concatenated closed edges over all rings: (x1, y1, x2, y2)."""
        x1s, y1s, x2s, y2s = [], [], [], []
        for r in self.rings:
            c = r.closed()
            x1s.append(c[:-1, 0])
            y1s.append(c[:-1, 1])
            x2s.append(c[1:, 0])
            y2s.append(c[1:, 1])
        return (
            np.concatenate(x1s),
            np.concatenate(y1s),
            np.concatenate(x2s),
            np.concatenate(y2s),
        )


#: rows per kernel chunk: keeps the (chunk x edges) int64 temporaries of
#: the vectorized predicates L2-resident (4096 rows x ~10 edges x 8 B x
#: a few temporaries ≈ 1-2 MB) instead of streaming tens of MB of
#: temporaries through DRAM per Arrow batch — memory bandwidth, not
#: arithmetic, was the multi-core ceiling of the unchunked kernels.
_CHUNK = 4096


def _pip_chunk(px: np.ndarray, py: np.ndarray, mp: MultiPolygon) -> np.ndarray:
    """Even-odd + boundary membership for one pre-filtered chunk."""
    px = px[:, None]
    py = py[:, None]
    x1, y1, x2, y2 = (a[None, :] for a in mp.edges())

    # crossing count (half-open rule on y; xi > px decided by exact sign test)
    straddle = (y1 > py) != (y2 > py)
    num = (x1 - px) * (y2 - y1) + (py - y1) * (x2 - x1)
    crossed = straddle & np.where(y2 > y1, num > 0, num < 0)
    inside = crossed.sum(axis=1) % 2 == 1

    # boundary: colinear and within the segment's bbox
    cross0 = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
    on_seg = (
        (cross0 == 0)
        & (px >= np.minimum(x1, x2))
        & (px <= np.maximum(x1, x2))
        & (py >= np.minimum(y1, y2))
        & (py <= np.maximum(y1, y2))
    )
    return inside | on_seg.any(axis=1)


def points_in_polygon(
    lon: np.ndarray, lat: np.ndarray, mp: MultiPolygon
) -> np.ndarray:
    """Vectorized even-odd point-in-multipolygon, boundary counts inside.

    int64-exact: no point/edge combination within the bbox prefilter can
    overflow (extent-bounded products, see _MAX_EXTENT). Evaluated in
    L2-sized chunks (see _CHUNK).
    """
    lon = np.asarray(lon, dtype=np.int64)
    lat = np.asarray(lat, dtype=np.int64)
    out = np.zeros(lon.shape[0], dtype=bool)
    minx, miny, maxx, maxy = mp.bbox
    cand = (lon >= minx) & (lon <= maxx) & (lat >= miny) & (lat <= maxy)
    if not cand.any():
        return out
    px = lon[cand]
    py = lat[cand]
    res = np.empty(px.shape[0], dtype=bool)
    for s in range(0, px.shape[0], _CHUNK):
        e = s + _CHUNK
        res[s:e] = _pip_chunk(px[s:e], py[s:e], mp)
    out[cand] = res
    return out


def distance_to_boundary(
    lon: np.ndarray, lat: np.ndarray, mp: MultiPolygon
) -> np.ndarray:
    """Float64 Euclidean distance (decimicro units) from each point to the
    nearest ring segment. 0 distance for points exactly on a boundary;
    points *inside* still get their distance to the nearest edge — callers
    combine with :func:`points_in_polygon` for set distance."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x1, y1, x2, y2 = (a.astype(np.float64)[None, :] for a in mp.edges())
    dx = x2 - x1
    dy = y2 - y1
    seg_len2 = dx * dx + dy * dy
    safe_len2 = np.where(seg_len2 > 0, seg_len2, 1.0)
    out = np.empty(lon.shape[0], dtype=np.float64)
    for s in range(0, lon.shape[0], _CHUNK):
        e = s + _CHUNK
        px = lon[s:e][:, None]
        py = lat[s:e][:, None]
        # projection parameter clamped to [0, 1]; guard zero-length edges
        t = np.where(
            seg_len2 > 0,
            ((px - x1) * dx + (py - y1) * dy) / safe_len2,
            0.0,
        )
        t = np.clip(t, 0.0, 1.0)
        cx = x1 + t * dx
        cy = y1 + t * dy
        d2 = (px - cx) ** 2 + (py - cy) ** 2
        out[s:e] = np.sqrt(d2.min(axis=1))
    return out


def points_in_buffered_polygon(
    lon: np.ndarray,
    lat: np.ndarray,
    mp: MultiPolygon,
    buffer: int = BUFFER_DECIMICRO,
    inside: np.ndarray | None = None,
) -> np.ndarray:
    """Membership in buffer(polygon, buffer): inside, or within ``buffer``
    of any ring segment (covers points in holes near the hole boundary and
    points just outside the outer ring). ``inside``: the caller's
    ``points_in_polygon`` of the same points, which is then not
    computed again."""
    lon = np.asarray(lon, dtype=np.int64)
    lat = np.asarray(lat, dtype=np.int64)
    out = points_in_polygon(lon, lat, mp) if inside is None else inside.copy()
    minx, miny, maxx, maxy = mp.bbox
    near = (
        (lon >= minx - buffer)
        & (lon <= maxx + buffer)
        & (lat >= miny - buffer)
        & (lat <= maxy + buffer)
        & ~out
    )
    if near.any():
        d = distance_to_boundary(lon[near], lat[near], mp)
        out[near] = d <= float(buffer)
    return out


def _in_edge_bands(
    lon: np.ndarray, lat: np.ndarray, mp: MultiPolygon, buffer: float
) -> np.ndarray:
    """Within perpendicular distance ``buffer`` of an edge INTERIOR
    (projection parameter t in [0, 1]) — the exact offset-rectangle part
    of a round-join buffer, with no vertex rounding."""
    x1, y1, x2, y2 = (a.astype(np.float64)[None, :] for a in mp.edges())
    dx = x2 - x1
    dy = y2 - y1
    seg_len2 = dx * dx + dy * dy
    safe_len2 = np.where(seg_len2 > 0, seg_len2, 1.0)
    out = np.zeros(lon.shape[0], dtype=bool)
    b2 = float(buffer) * float(buffer)
    for s in range(0, lon.shape[0], _CHUNK):
        e = s + _CHUNK
        px = lon[s:e].astype(np.float64)[:, None]
        py = lat[s:e].astype(np.float64)[:, None]
        t = ((px - x1) * dx + (py - y1) * dy) / safe_len2
        on_band = (seg_len2 > 0) & (t >= 0.0) & (t <= 1.0)
        cx = x1 + np.clip(t, 0.0, 1.0) * dx
        cy = y1 + np.clip(t, 0.0, 1.0) * dy
        d2 = (px - cx) ** 2 + (py - cy) ** 2
        out[s:e] = (on_band & (d2 <= b2)).any(axis=1)
    return out


def _in_vertex_fans(
    lon: np.ndarray,
    lat: np.ndarray,
    mp: MultiPolygon,
    buffer: float,
    quad_segs: int,
) -> np.ndarray:
    """Within the INSCRIBED (4*quad_segs)-gon of radius ``buffer``
    centered at some ring vertex — the chord-approximated round join.
    Radius at angle phi: R(phi) = d*cos(delta/2)/cos(phi_hat) with
    delta = 2*pi/(4*quad_segs) and phi_hat the offset from the nearest
    chord midpoint; chord endpoints touch the true circle, midpoints sit
    at d*cos(delta/2) (the sagitta shrink)."""
    verts = np.vstack([r.coords for r in mp.rings]).astype(np.float64)
    vx = verts[:, 0][None, :]
    vy = verts[:, 1][None, :]
    delta = 2.0 * np.pi / (4 * quad_segs)
    half = delta / 2.0
    rad_mid = float(buffer) * np.cos(half)
    out = np.zeros(lon.shape[0], dtype=bool)
    for s in range(0, lon.shape[0], _CHUNK):
        e = s + _CHUNK
        px = lon[s:e].astype(np.float64)[:, None]
        py = lat[s:e].astype(np.float64)[:, None]
        ddx = px - vx
        ddy = py - vy
        r2 = ddx * ddx + ddy * ddy
        phi = np.arctan2(ddy, ddx)
        phi_hat = np.abs(((phi + half) % delta) - half)
        R = rad_mid / np.cos(phi_hat)
        out[s:e] = (r2 <= R * R).any(axis=1)
    return out


def points_in_buffered_polygon_8seg(
    lon: np.ndarray,
    lat: np.ndarray,
    mp: MultiPolygon,
    buffer: int = BUFFER_DECIMICRO,
    quad_segs: int = 8,
    inside: np.ndarray | None = None,
) -> np.ndarray:
    """GEOS-style ``buffer(d, quad_segs)`` membership (the reference's
    exact construction, /root/reference/src/osmxml/filter.rs:44-56):
    inside ∪ edge offset bands ∪ inscribed vertex fans.

    The union decomposition IS the round-join buffer region: edge bands
    are exact; each vertex's round join is the chord-approximated
    (inscribed) circle, so the buffer is slightly SMALLER than the true
    distance-``d`` set near convex corners — by at most the chord
    sagitta (1 - cos(pi/(4*quad_segs))) * d ≈ 0.48% of d at
    quad_segs=8. Our fan is the full inscribed polygon rather than
    GEOS's directed fillet over the convex gap only; the extra area lies
    inside the polygon or the adjacent edge bands, so membership differs
    from GEOS only by chord PHASE within the same sagitta band.
    :func:`buffer_sliver_mask` enumerates exactly the points where this
    mode and the exact-distance mode can disagree. ``inside``: as in
    :func:`points_in_buffered_polygon`."""
    lon = np.asarray(lon, dtype=np.int64)
    lat = np.asarray(lat, dtype=np.int64)
    out = points_in_polygon(lon, lat, mp) if inside is None else inside.copy()
    minx, miny, maxx, maxy = mp.bbox
    near = (
        (lon >= minx - buffer)
        & (lon <= maxx + buffer)
        & (lat >= miny - buffer)
        & (lat <= maxy + buffer)
        & ~out
    )
    if near.any():
        nl, nt = lon[near], lat[near]
        hit = _in_edge_bands(nl, nt, mp, float(buffer))
        miss = ~hit
        if miss.any():
            hit[miss] = _in_vertex_fans(
                nl[miss], nt[miss], mp, float(buffer), quad_segs
            )
        out[near] = hit
    return out


def buffer_sliver_mask(
    lon: np.ndarray,
    lat: np.ndarray,
    mp: MultiPolygon,
    buffer: int = BUFFER_DECIMICRO,
    quad_segs: int = 8,
) -> np.ndarray:
    """True where exact-distance membership (points_in_buffered_polygon)
    and the GEOS-style 8-segment mode DISAGREE — the corner sliver the
    round-2 review asked to quantify. Sliver points necessarily sit
    outside every edge band, within (d*cos(pi/(4*qs)), d] of a ring
    vertex: kept-as-delete under the exact rule, dropped under the
    chord-approximated rule."""
    exact = points_in_buffered_polygon(lon, lat, mp, buffer)
    seg8 = points_in_buffered_polygon_8seg(lon, lat, mp, buffer, quad_segs)
    return exact != seg8


def bbox_intersects_polygon(
    minlon: np.ndarray,
    minlat: np.ndarray,
    maxlon: np.ndarray,
    maxlat: np.ndarray,
    mp: MultiPolygon,
    buffer: int = 0,
) -> np.ndarray:
    """Vectorized rectangle-vs-multipolygon intersects (the reference's
    cheap prefilter, /root/reference/src/osmxml/filter.rs:238-244 via
    /root/reference/src/osmgeom.rs:65-73).

    A rect intersects the (optionally buffered) polygon iff:
    - any rect corner is in the (buffered) polygon, or
    - any polygon vertex is inside the rect (expanded by buffer), or
    - any polygon edge crosses a rect edge (conservatively: edge passes
      within ``buffer`` of the rect).
    """
    minlon = np.asarray(minlon, dtype=np.int64)
    minlat = np.asarray(minlat, dtype=np.int64)
    maxlon = np.asarray(maxlon, dtype=np.int64)
    maxlat = np.asarray(maxlat, dtype=np.int64)
    n = minlon.shape[0]
    out = np.zeros(n, dtype=bool)

    # quick reject on overall bbox
    bx0, by0, bx1, by1 = mp.bbox
    cand = ~(
        (maxlon < bx0 - buffer)
        | (minlon > bx1 + buffer)
        | (maxlat < by0 - buffer)
        | (minlat > by1 + buffer)
    )
    if not cand.any():
        return out
    idx = np.nonzero(cand)[0]
    lo_x, lo_y, hi_x, hi_y = minlon[idx], minlat[idx], maxlon[idx], maxlat[idx]

    # (a) any corner inside the buffered polygon
    corner_in = np.zeros(idx.shape[0], dtype=bool)
    for cx, cy in ((lo_x, lo_y), (lo_x, hi_y), (hi_x, lo_y), (hi_x, hi_y)):
        if buffer:
            corner_in |= points_in_buffered_polygon(cx, cy, mp, buffer)
        else:
            corner_in |= points_in_polygon(cx, cy, mp)

    # (b) any polygon vertex inside the rect (+buffer)
    verts = np.vstack([r.coords for r in mp.rings])
    vx = verts[:, 0][None, :]
    vy = verts[:, 1][None, :]
    vert_in = (
        (vx >= (lo_x - buffer)[:, None])
        & (vx <= (hi_x + buffer)[:, None])
        & (vy >= (lo_y - buffer)[:, None])
        & (vy <= (hi_y + buffer)[:, None])
    ).any(axis=1)

    # (c) any polygon edge within `buffer` of the rect: distance from the
    # rect to the segment <= buffer. Exact segment-rect distance via
    # clamped projection of rect-nearest point; conservative and cheap:
    # test distance from segment to rect center clamped by rect half-extents.
    x1, y1, x2, y2 = (a.astype(np.float64)[None, :] for a in mp.edges())
    cx = ((lo_x + hi_x) / 2.0)[:, None]
    cy = ((lo_y + hi_y) / 2.0)[:, None]
    hx = ((hi_x - lo_x) / 2.0)[:, None]
    hy = ((hi_y - lo_y) / 2.0)[:, None]
    # sample the segment at its projection of the rect center, then measure
    # the axis-wise overshoot beyond the half extents
    dx = x2 - x1
    dy = y2 - y1
    seg_len2 = dx * dx + dy * dy
    t = np.where(
        seg_len2 > 0,
        ((cx - x1) * dx + (cy - y1) * dy) / np.where(seg_len2 > 0, seg_len2, 1.0),
        0.0,
    )
    t = np.clip(t, 0.0, 1.0)
    sx = x1 + t * dx
    sy = y1 + t * dy
    ox = np.maximum(np.abs(sx - cx) - hx, 0.0)
    oy = np.maximum(np.abs(sy - cy) - hy, 0.0)
    edge_near = (ox * ox + oy * oy <= float(buffer) * float(buffer)).any(axis=1)

    out[idx] = corner_in | vert_in | edge_near
    return out


# ---------------------------------------------------------------------------
# geodesic distance (haversine) as one fixed IEEE expression tree
# (explicit pi/180 literal, half-angle sines squared by
# self-multiplication, sqrt clamped into asin's domain).
# ---------------------------------------------------------------------------

EARTH_RADIUS_KM = 6371.0088  # IUGG mean Earth radius
_DECIMICRO_TO_RAD = 0.017453292519943295e-7  # (pi/180) / 1e7, one multiply


def haversine_km(lat1, lon1, lat2, lon2):
    """Great-circle distance in km between decimicro coordinate Columns.

    d = 2R·asin(min(1, sqrt(sin²(Δφ/2) + cosφ1·cosφ2·sin²(Δλ/2))))

    The reference stores decimicro ints and works planar (its 0.1°
    buffer, src/osmgeom.rs); this is the geodesic refinement a global
    tiling engine needs for true distance predicates — pure JVM math
    functions, whole-stage codegen, no Python."""
    from pyspark.sql import functions as F

    p1 = lat1 * _DECIMICRO_TO_RAD
    p2 = lat2 * _DECIMICRO_TO_RAD
    sdp = F.sin((p2 - p1) * 0.5)
    sdl = F.sin((lon2 - lon1) * _DECIMICRO_TO_RAD * 0.5)
    a = sdp * sdp + F.cos(p1) * F.cos(p2) * (sdl * sdl)
    return (2.0 * EARTH_RADIUS_KM) * F.asin(F.least(F.lit(1.0), F.sqrt(a)))
