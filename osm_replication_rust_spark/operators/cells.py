"""Region -> covering-cells computation (the discretization half of the
cell-prefilter spatial join).

The reference tests every element against every region polygon in a
nested loop, one full diff pass per region
(/root/reference/src/diffs.rs:113-131). At 10^12 rows that is a
non-starter; we discretize each region into grid cells ONCE on the
driver (regions are small: a `.poly` hierarchy is tens-to-thousands of
polygons) and broadcast the (region_id, cell, class) table, turning the
spatial join into a single equi-join + exact refine of boundary cells.

Cell classes, exact per cell of side ``edge = 2**res``:
- ``FULL``        — the whole cell lies inside the polygon: in_poly and
                    in_buffer, decided by the join alone (for a large
                    region almost all covered cells are full).
- ``BUFFER_ONLY`` — the whole cell lies outside the polygon and within
                    the buffer: in_poly=False, in_buffer=True, decided by
                    the join alone.
- ``STRADDLING``  — the cell may meet a ring or the buffer's outer edge:
                    its points go through the exact int64
                    point-in-polygon refine (an Arrow-batched numpy
                    kernel). The only class that reaches Python.
- ``ABSENT``      — the whole cell lies outside the buffer; it is left
                    out of the cover, so non-matching points never leave
                    the hash join (partition-pruning analog).

The classifier (:func:`classify_cells`): every point of a cell lies
within the half-diagonal ``h = edge·√2/2`` of the cell centre ``c``. If
``d = distance_to_boundary(c) > h + eps`` no ring meets the cell, so the
whole cell is inside or outside the polygon as its centre is
(``points_in_polygon``), and an outside cell's points lie between
``d - h`` and ``d + h`` from the polygon: ``d + h + eps <= buffer``
makes it buffer-only and ``d - h - eps > buffer`` absent. ``eps`` covers
the float64 rounding of the distance (well under one decimicro).

Probe resolution (:func:`build_cover`): a finer grid straddles less area
but has more cells. The cover is built coarse to fine from ``res``; a
child of a settled (full or buffer-only) cell inherits its class, so
only the straddling cells of one level are split and classified at the
next. ``assign_regions`` probes the finest level down to
``PROBE_FINEST_RES`` whose cover has at most ``PROBE_MAX_ROWS`` rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..functions.coords import (
    DEFAULT_RES,
    LAT_OFFSET,
    LON_OFFSET,
    Y_STRIDE,
    cell_edge,
)
from ..functions.geometry import MultiPolygon, distance_to_boundary, points_in_polygon

ABSENT, FULL, BUFFER_ONLY, STRADDLING = 0, 1, 2, 3

#: margin (decimicro) for the float64 rounding of distance_to_boundary
_EPS = 1.0

#: finest probe level: cell ids need cell_x < Y_STRIDE (functions/coords)
PROBE_FINEST_RES = 16

#: row budget of the probe cover, the broadcast hash table every task
#: probes. The fixture hierarchy fits at res 17 (44,476 rows).
PROBE_MAX_ROWS = 65_536

_QUAD_X = np.array([0, 1, 0, 1], dtype=np.int64)
_QUAD_Y = np.array([0, 0, 1, 1], dtype=np.int64)


def classify_cells(
    mp: MultiPolygon, cx: np.ndarray, cy: np.ndarray, res: int, buffer: int
) -> np.ndarray:
    """Exact class (ABSENT / FULL / BUFFER_ONLY / STRADDLING, int8) of
    each grid cell ``(cx, cy)`` at ``res`` against ``buffer(mp, buffer)``
    — see the module docstring."""
    edge = cell_edge(res)
    ctr_lon = (cx << res) + edge // 2 - LON_OFFSET
    ctr_lat = (cy << res) + edge // 2 - LAT_OFFSET
    h = edge * np.sqrt(0.5) + _EPS
    d = distance_to_boundary(ctr_lon, ctr_lat, mp)
    out = np.full(cx.shape, STRADDLING, dtype=np.int8)
    clear = np.nonzero(d > h)[0]
    inside = points_in_polygon(ctr_lon[clear], ctr_lat[clear], mp)
    dc = d[clear]
    out[clear[inside]] = FULL
    out[clear[~inside & (dc + h <= buffer)]] = BUFFER_ONLY
    out[clear[~inside & (dc - h > buffer)]] = ABSENT
    return out


def _grid_bounds(mp: MultiPolygon, res: int, buffer: int) -> tuple[int, int, int, int]:
    """Inclusive cell range ``(cx0, cx1, cy0, cy1)`` at ``res`` of the
    buffered bbox of ``mp``: cells outside it are absent."""
    minx, miny, maxx, maxy = mp.bbox
    return (
        (minx - buffer + LON_OFFSET) >> res,
        (maxx + buffer + LON_OFFSET) >> res,
        (miny - buffer + LAT_OFFSET) >> res,
        (maxy + buffer + LAT_OFFSET) >> res,
    )


class _RegionCover:
    """One region's cover while it is refined coarse to fine: the cells
    settled so far, each at the level it was classified, and the
    straddling cells of the current level ``res``."""

    def __init__(self, mp: MultiPolygon, res: int, buffer: int, settled: list, cx, cy):
        """Classify the cells ``(cx, cy)`` at ``res`` that meet the
        buffered bbox; ``settled`` holds the coarser cells decided so far."""
        self.mp, self.res, self.buffer = mp, res, buffer
        cx0, cx1, cy0, cy1 = _grid_bounds(mp, res, buffer)
        keep = (cx >= cx0) & (cx <= cx1) & (cy >= cy0) & (cy <= cy1)
        cx, cy = cx[keep], cy[keep]
        cls = classify_cells(mp, cx, cy, res, buffer)
        done = (cls == FULL) | (cls == BUFFER_ONLY)
        self.settled = settled + [(res, cx[done], cy[done], cls[done])]
        self.open_x, self.open_y = cx[cls == STRADDLING], cy[cls == STRADDLING]

    @classmethod
    def top(cls, mp: MultiPolygon, res: int, buffer: int) -> _RegionCover:
        """Every cell at ``res`` of the buffered bbox, classified."""
        cx0, cx1, cy0, cy1 = _grid_bounds(mp, res, buffer)
        gy, gx = np.mgrid[cy0 : cy1 + 1, cx0 : cx1 + 1]
        return cls(mp, res, buffer, [], gx.ravel().astype(np.int64), gy.ravel().astype(np.int64))

    def split(self) -> _RegionCover:
        """The same cover one level finer: the straddling cells' children
        classified, the settled cells kept."""
        return _RegionCover(
            self.mp,
            self.res - 1,
            self.buffer,
            self.settled,
            ((self.open_x << 1)[:, None] + _QUAD_X).ravel(),
            ((self.open_y << 1)[:, None] + _QUAD_Y).ravel(),
        )

    def n_rows(self) -> int:
        n = sum(len(cx) << (2 * (lvl - self.res)) for lvl, cx, _, _ in self.settled)
        return n + len(self.open_x)

    def cells(self) -> tuple[np.ndarray, np.ndarray]:
        """(cell id, class) of every non-absent cell at this level."""
        ids, classes = [], []
        for lvl, cx, cy, cls in self.settled:
            k = lvl - self.res
            off = np.arange(1 << k, dtype=np.int64)
            ex = (cx << k)[:, None, None] + off[None, None, :]
            ey = (cy << k)[:, None, None] + off[None, :, None]
            ids.append((ey * Y_STRIDE + ex).ravel())
            classes.append(np.repeat(cls, 1 << (2 * k)))
        ids.append(self.open_y * Y_STRIDE + self.open_x)
        classes.append(np.full(len(self.open_x), STRADDLING, dtype=np.int8))
        return np.concatenate(ids), np.concatenate(classes)


def build_cover(
    regions: list[MultiPolygon],
    res: int = DEFAULT_RES,
    buffer: int = 0,
    finest: int | None = None,
) -> tuple[int, pd.DataFrame]:
    """Cover of every region at the finest level from ``res`` down to
    ``finest`` (default: ``res`` only) whose rows fit ``PROBE_MAX_ROWS``;
    ``res`` itself when no finer level fits. Returns ``(level, frame)``
    with one frame row per (region, non-absent cell):
    ``region_id, region_idx`` (dense index into ``regions``), ``cell``,
    ``full`` (decided by the join alone: FULL or BUFFER_ONLY) and
    ``in_poly`` (FULL)."""
    covers = [_RegionCover.top(mp, res, buffer) for mp in regions]
    level = res
    while level > (res if finest is None else finest):
        finer = [c.split() for c in covers]
        if sum(c.n_rows() for c in finer) > PROBE_MAX_ROWS:
            break
        covers, level = finer, level - 1
    parts = []
    for i, c in enumerate(covers):
        cell, cls = c.cells()
        parts.append(
            pd.DataFrame(
                {
                    "region_id": c.mp.region_id,
                    "region_idx": np.full(len(cell), i, dtype=np.int32),
                    "cell": cell,
                    "full": cls != STRADDLING,
                    "in_poly": cls == FULL,
                }
            )
        )
    cols = ["region_id", "region_idx", "cell", "full", "in_poly"]
    frame = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(columns=cols)
    return level, frame


def cover_cells(
    mp: MultiPolygon, res: int = DEFAULT_RES, buffer: int = 0
) -> list[tuple[int, bool]]:
    """Covering cells of ``buffer(mp, buffer)`` at ``res``.

    Returns ``[(cell_id, full)]`` where ``full=True`` means the cell is
    entirely inside the *unbuffered* polygon (class FULL)."""
    cell, cls = _RegionCover.top(mp, res, buffer).cells()
    return list(zip(cell.tolist(), (cls == FULL).tolist()))


def cover_rows(
    regions: list[MultiPolygon], res: int = DEFAULT_RES, buffer: int = 0
) -> list[dict]:
    """Rows of :func:`build_cover` at ``res``, as dicts."""
    return build_cover(regions, res, buffer)[1].to_dict("records")


def hex_bin(df, x: str = "lon", y: str = "lat", a: int = 1_000_000, b: int = 866_025):
    """Hexagonal binning (the H3-flavored aggregation cell): every
    point is assigned to the Voronoi cell of an INTEGER offset lattice
    — centers at ``(q·a + (r odd ? a/2 : 0), r·b)`` — whose cells are
    hexagons (near-regular at b ≈ a·√3/2; an EXACTLY regular hex grid
    has irrational centers on the decimicro grid, the same
    impossibility as the 22.5°-offset aspect rose, so near-regular +
    exact beats regular + floaty).  Assignment is EXACT integer
    geometry: the nearest center provably lies among the 4 candidates
    (r ∈ {⌊y/b⌋, +1} × q ∈ {⌊(x−off)/a⌋, +1}) because the third row is
    ≥ b away while any candidate is ≤ √((a/2)² + (b/2)²) < b away
    (holds whenever b > a/√3, true at the default near-regular pitch);
    ties break to the smallest (d², r, q) struct order.

    ``a`` must be even (the odd-row offset is a/2).  Adds ``hq, hr``
    (offset coordinates of the owning hex).  Pure codegen expressions
    — floor divisions use the euclidean spelling shared with DuckDB's
    ``//``, and the negative-safe parity is ((r % 2) + 2) % 2 in both
    engines."""
    from pyspark.sql import functions as F

    if a % 2 != 0:
        raise ValueError(f"hex pitch a must be even, got {a}")
    if 3 * b * b <= a * a:
        raise ValueError(
            f"b must exceed a/sqrt(3) for the 4-candidate bound: a={a} b={b}"
        )

    def _fdiv(col, n):
        s = col.cast("long")
        nn = F.lit(int(n)).cast("long")
        return F.call_function("div", s - (((s % nn) + nn) % nn), nn)

    px, py = F.col(x).cast("long"), F.col(y).cast("long")
    ry = _fdiv(py, b)
    cands = []
    for dr in (0, 1):
        r = ry + F.lit(dr)
        rm = ((r % 2) + 2) % 2
        off = rm * (a // 2)
        qf = _fdiv(px - off, a)
        for dq in (0, 1):
            q = qf + F.lit(dq)
            cx = q * a + off
            cy = r * b
            d2 = (px - cx) * (px - cx) + (py - cy) * (py - cy)
            cands.append(
                F.struct(d2.alias("d2"), r.alias("r"), q.alias("q"))
            )
    best = F.array_min(F.array(*cands))
    return df.withColumn("hq", best["q"]).withColumn("hr", best["r"])


def sql_hex_bin(x: str, y: str, a: int = 1_000_000, b: int = 866_025) -> str:
    """DuckDB twin of ``hex_bin`` as a scalar struct expression
    ``{q:..., r:...}``: the same 4 candidates via list comprehension +
    list_min under the same (d2, r, q) struct order.  DuckDB's integer
    ``//`` TRUNCATES toward zero on negatives (unlike its float ``//``)
    — every division here uses the euclidean spelling, which makes the
    numerator exactly divisible so truncation == floor."""

    def fdiv(s: str, n: int) -> str:
        return f"((({s}) - (((({s}) % {n}) + {n}) % {n})) // {n})"

    half = a // 2
    items = []
    for dr in (0, 1):
        r = f"({fdiv(y, b)} + {dr})"
        rm = f"((({r} % 2) + 2) % 2)"
        off = f"({rm} * {half})"
        qf = fdiv(f"({x}) - {off}", a)
        for dq in (0, 1):
            q = f"({qf} + {dq})"
            cx = f"({q} * {a} + {off})"
            cy = f"({r} * {b})"
            d2 = (
                f"((({x}) - {cx}) * (({x}) - {cx})"
                f" + (({y}) - {cy}) * (({y}) - {cy}))"
            )
            items.append(f"{{'d2': {d2}, 'r': {r}, 'q': {q}}}")
    return f"list_min([{', '.join(items)}])"
