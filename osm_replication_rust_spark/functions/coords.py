"""Coordinate / cell / footprint scalar functions.

Every function here exists in TWO forms generated from one definition:

- a PySpark ``Column`` expression (JVM-side, whole-stage-codegen'd — no
  Python in the hot path), and
- an ANSI-SQL string fragment (run by the DuckDB oracle in
  ``__spark_entry__.py``),

so the correctness gate compares literally the same arithmetic.

Concepts re-expressed from the reference:
- decimicro fixed-point coords (/root/reference/src/osm.rs:137-143)
- the 9-digit 3/3/3 shard path (/root/reference/src/osmbin.rs:227-245)
- the synthetic geo footprint packed into ``phash`` (our engine's analog
  of the reference Node coords, per FIXTURES.md §1).

Cell scheme: a flat equirectangular grid at power-of-two resolution.
``res`` is log2 of the cell edge in decimicro units (res=20 → edge
2**20 ≈ 1,048,576 decimicro ≈ 0.105°, close to the reference's 0.1°
buffer scale). Cell ids are ``cell_y * Y_STRIDE + cell_x`` — a single
int64 equi-join key, the same role H3/S2 indexes play; neighbors are
±1 / ±Y_STRIDE, which makes k-ring expansion pure integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DECIMICRO = 10_000_000
LAT_OFFSET = 900_000_000  # shifts lat into [0, 1.8e9]
LON_OFFSET = 1_800_000_000  # shifts lon into [0, 3.6e9]
PHASH_LON_BASE = 4_294_967_296  # 2**32
Y_STRIDE = 100_000  # max cell_x at res>=16 is 3.6e9/65536 < 55000 < Y_STRIDE
DEFAULT_RES = 20


# ---------------------------------------------------------------------------
# decimicro <-> degrees
# ---------------------------------------------------------------------------

def coord_to_decimicro(col: Column) -> Column:
    """degrees (double) -> decimicro int; round-half-away like the
    reference's `.round()` (/root/reference/src/osm.rs:137-139)."""
    return F.round(col * DECIMICRO).cast("long")


def coord_to_decimicro_py(x: float) -> int:
    """Driver-side twin of coord_to_decimicro for the text parsers:
    exact half-away-from-zero on the binary double (Rust f64::round
    semantics). Python's round() is half-to-even and diverges on exact
    .5 decimicro boundaries; floor(v+0.5) misrounds values one ulp
    below a half."""
    import math

    v = x * DECIMICRO
    f = math.floor(v)
    frac = v - f
    if frac > 0.5:
        return f + 1
    if frac < 0.5:
        return f
    return f + 1 if v >= 0 else f


# ---------------------------------------------------------------------------
# phash <-> footprint (lat, lon)
# ---------------------------------------------------------------------------

def pack_footprint(lat: Column, lon: Column) -> Column:
    """(lat, lon) decimicro -> single int64 'phash' footprint."""
    return (lat + LAT_OFFSET) * PHASH_LON_BASE + (lon + LON_OFFSET)


def unpack_lat(phash: Column) -> Column:
    # phash can exceed 2**53, so float division would lose the floor;
    # phash >= 0 makes an arithmetic shift an exact integer division.
    return F.shiftright(phash, 32) - LAT_OFFSET


def unpack_lon(phash: Column) -> Column:
    return phash % PHASH_LON_BASE - LON_OFFSET


def sql_unpack_lat(phash: str) -> str:
    return f"(({phash}) // {PHASH_LON_BASE} - {LAT_OFFSET})"


# ---------------------------------------------------------------------------
# derived footprints from arbitrary int keys (for oracle-checkable queries
# over the driver star schema: deterministic LCG-style spread into a ±1°
# band around the origin, where the fixture regions live)
# ---------------------------------------------------------------------------

LAT_SPAN = 44_000_001  # ±2.2° band
LON_SPAN = 44_000_001
_LAT_MULT = 48_271
_LON_MULT = 69_621


def derived_lat(key: Column) -> Column:
    return (key * _LAT_MULT) % LAT_SPAN - (LAT_SPAN - 1) // 2


def derived_lon(key: Column) -> Column:
    return (key * _LON_MULT) % LON_SPAN - (LON_SPAN - 1) // 2


def sql_derived_lat(key: str) -> str:
    return f"(({key}) * {_LAT_MULT}) % {LAT_SPAN} - {(LAT_SPAN - 1) // 2}"


def sql_derived_lon(key: str) -> str:
    return f"(({key}) * {_LON_MULT}) % {LON_SPAN} - {(LON_SPAN - 1) // 2}"


# ---------------------------------------------------------------------------
# cells
# ---------------------------------------------------------------------------

def cell_edge(res: int = DEFAULT_RES) -> int:
    return 1 << res


def cell_xy(lon: int, lat: int, res: int = DEFAULT_RES) -> tuple[int, int]:
    """Driver-side cell coords for ints (floor division; offsets keep the
    dividend non-negative so //, div and % agree everywhere)."""
    return (lon + LON_OFFSET) >> res, (lat + LAT_OFFSET) >> res


def cell_id_from_xy(cx: int, cy: int) -> int:
    return cy * Y_STRIDE + cx


def cell_id(lon: Column, lat: Column, res: int = DEFAULT_RES) -> Column:
    """JVM-side cell id: pure integer arithmetic, codegen-friendly."""
    cx = F.shiftright(lon + LON_OFFSET, res)
    cy = F.shiftright(lat + LAT_OFFSET, res)
    return cy * Y_STRIDE + cx


def sql_cell_id(lon: str, lat: str, res: int = DEFAULT_RES) -> str:
    edge = cell_edge(res)
    return (
        f"((({lat}) + {LAT_OFFSET}) // {edge}) * {Y_STRIDE}"
        f" + ((({lon}) + {LON_OFFSET}) // {edge})"
    )


def cell_ring_offsets(k: int) -> list[int]:
    """Cell-id offsets of the square ring at Chebyshev radius exactly k."""
    if k == 0:
        return [0]
    offs = []
    for dy in range(-k, k + 1):
        for dx in range(-k, k + 1):
            if max(abs(dx), abs(dy)) == k:
                offs.append(dy * Y_STRIDE + dx)
    return offs


def cell_disk_offsets(k: int) -> list[int]:
    """All offsets with Chebyshev radius <= k (the k-disk)."""
    return [
        dy * Y_STRIDE + dx
        for dy in range(-k, k + 1)
        for dx in range(-k, k + 1)
    ]


# ---------------------------------------------------------------------------
# shard path (reference /root/reference/src/osmbin.rs:227-245: 9-digit id
# split 3/3/3 into a directory path; also used for diff state numbers,
# /root/reference/src/update.rs:76-81)
# ---------------------------------------------------------------------------

def shard_path(id_col: Column) -> Column:
    return F.format_string(
        "%03d/%03d/%03d",
        ((id_col / 1_000_000).cast("long") % 1000).cast("int"),
        ((id_col / 1_000).cast("long") % 1000).cast("int"),
        (id_col % 1_000).cast("int"),
    )


def sql_shard_path(id_expr: str) -> str:
    return (
        f"printf('%03d/%03d/%03d', (({id_expr}) // 1000000) % 1000, "
        f"(({id_expr}) // 1000) % 1000, ({id_expr}) % 1000)"
    )


# ---------------------------------------------------------------------------
# quadkey: interleaved-bit tile name (the Bing-maps / slippy interop id
# for a cell — one string per (cx, cy) at a resolution; digit i from the
# MSB is bit i of cx + 2*bit i of cy, so prefix(k) IS the ancestor tile
# at k levels, the property tile servers key on)
# ---------------------------------------------------------------------------

QUADKEY_LEVELS = 12  # 2^12 x 2^12 tiles cover the global grid at res >= 20


def _check_quadkey_domain(res: int, levels: int) -> None:
    """`levels` digits can name at most 2^levels tiles per axis; a
    coarser-than-expected res silently drops high bits and collides
    distinct cells onto one quadkey, so refuse it loudly."""
    if (3_600_000_000 >> res) >= (1 << levels):
        raise ValueError(
            f"quadkey: res={res} yields {3_600_000_000 >> res} tiles per "
            f"axis but levels={levels} digits only address {1 << levels}; "
            f"raise res or levels"
        )


def quadkey(lon: Column, lat: Column, res: int = DEFAULT_RES, levels: int = QUADKEY_LEVELS) -> Column:
    _check_quadkey_domain(res, levels)
    cx = F.shiftright(lon + LON_OFFSET, res)
    cy = F.shiftright(lat + LAT_OFFSET, res)
    digits = [
        (
            F.shiftright(cx, b).bitwiseAND(F.lit(1))
            + F.shiftright(cy, b).bitwiseAND(F.lit(1)) * 2
        ).cast("string")
        for b in range(levels - 1, -1, -1)
    ]
    return F.concat(*digits)


def sql_quadkey(lon: str, lat: str, res: int = DEFAULT_RES, levels: int = QUADKEY_LEVELS) -> str:
    _check_quadkey_domain(res, levels)
    edge = cell_edge(res)
    cx = f"((({lon}) + {LON_OFFSET}) // {edge})"
    cy = f"((({lat}) + {LAT_OFFSET}) // {edge})"
    digits = " || ".join(
        f"CAST((({cx} >> {b}) & 1) + (({cy} >> {b}) & 1) * 2 AS VARCHAR)"
        for b in range(levels - 1, -1, -1)
    )
    return f"({digits})"


# ---------------------------------------------------------------------------
# geohash: the base32 bisection interop id (the third tile-naming
# surface next to the 3/3/3 shard path and the quadkey — what external
# geo systems most commonly key on). Computed EXACTLY over decimicro
# ints: bit i (MSB-first) of an axis with span R is
# floor(x * 2^(i+1) / R) mod 2, which is the real-number bisection of
# the decimicro rational — no float in either engine, so the Spark and
# DuckDB spellings agree bit-for-bit (and with the published test
# vectors, e.g. (57.64911, 10.40744) -> 'u4pruydq').
# ---------------------------------------------------------------------------

GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"
GEOHASH_CHARS = 8  # 40 bits: 20 lon + 20 lat, ~19 m cell at the equator

_LON_SPAN = 2 * LON_OFFSET  # 3.6e9 decimicro degrees
_LAT_SPAN = 2 * LAT_OFFSET


def _axis_bits(chars: int) -> tuple[int, int]:
    """(lon_bits, lat_bits): geohash interleaves lon first, so lon gets
    the extra bit when 5*chars is odd."""
    n = 5 * chars
    return (n + 1) // 2, n // 2


def geohash(lon: Column, lat: Column, chars: int = GEOHASH_CHARS) -> Column:
    """Base32 geohash of a decimicro (lon, lat), whole-stage-codegen
    expressions only. ONE multiply+divide per axis: y = floor(x * 2^nb
    / span) holds every bisection bit at once (floor-division nesting:
    (y >> (nb-1-i)) & 1 == floor(x * 2^(i+1) / span) mod 2), so the
    per-character work is pure shift/and arithmetic — measured 3.6x
    cheaper than the naive 40-divisions spelling on the codec row.
    +180 / +90 clamp to the last cell (standard encoders wrap the open
    upper bound the same way)."""
    nb_lon, nb_lat = _axis_bits(chars)
    xl = F.least(lon.cast("long") + LON_OFFSET, F.lit(_LON_SPAN - 1))
    xa = F.least(lat.cast("long") + LAT_OFFSET, F.lit(_LAT_SPAN - 1))
    ylon = (F.shiftleft(xl, nb_lon) / _LON_SPAN).cast("long")
    ylat = (F.shiftleft(xa, nb_lat) / _LAT_SPAN).cast("long")

    def bit(t: int) -> Column:
        y, nb = (ylon, nb_lon) if t % 2 == 0 else (ylat, nb_lat)
        return F.shiftright(y, nb - 1 - t // 2).bitwiseAND(F.lit(1))

    alpha = F.lit(GEOHASH_ALPHABET)
    out = []
    for c in range(chars):
        idx = sum(
            (bit(5 * c + u) * (1 << (4 - u)) for u in range(5)),
            F.lit(0).cast("long"),
        )
        # substring on the literal alphabet: no per-row array
        # construction (element_at over a 32-element CreateArray
        # measured ~20x this cost on the codec row)
        out.append(F.substring(alpha, (idx + 1).cast("int"), F.lit(1)))
    return F.concat(*out)


def sql_geohash(lon: str, lat: str, chars: int = GEOHASH_CHARS) -> str:
    """DuckDB twin of the single-division spelling (the repeated y
    subexpression is CSE'd by the engine; oracle-side cost is moot)."""
    nb_lon, nb_lat = _axis_bits(chars)
    xl = f"least(CAST(({lon}) AS BIGINT) + {LON_OFFSET}, {_LON_SPAN - 1})"
    xa = f"least(CAST(({lat}) AS BIGINT) + {LAT_OFFSET}, {_LAT_SPAN - 1})"
    ylon = f"(({xl} * {1 << nb_lon}) // {_LON_SPAN})"
    ylat = f"(({xa} * {1 << nb_lat}) // {_LAT_SPAN})"

    def bit(t: int) -> str:
        y, nb = (ylon, nb_lon) if t % 2 == 0 else (ylat, nb_lat)
        return f"(({y} >> {nb - 1 - t // 2}) & 1)"

    out = []
    for c in range(chars):
        idx = " + ".join(f"{bit(5 * c + u)} * {1 << (4 - u)}" for u in range(5))
        out.append(
            f"substr('{GEOHASH_ALPHABET}', CAST(({idx}) AS INTEGER) + 1, 1)"
        )
    return "(" + " || ".join(out) + ")"


def py_geohash(lon: int, lat: int, chars: int = GEOHASH_CHARS) -> str:
    """Driver-side twin over decimicro ints (tests / fixtures)."""
    xl = min(lon + LON_OFFSET, _LON_SPAN - 1)
    xa = min(lat + LAT_OFFSET, _LAT_SPAN - 1)
    s = ""
    for c in range(chars):
        idx = 0
        for u in range(5):
            t = 5 * c + u
            x, span = (xl, _LON_SPAN) if t % 2 == 0 else (xa, _LAT_SPAN)
            idx = idx * 2 + ((x << (t // 2 + 1)) // span) % 2
        s += GEOHASH_ALPHABET[idx]
    return s


# ---------------------------------------------------------------------------
# hilbert: the space-filling-curve cell index (the curve S2 keys on —
# our fourth tile-naming surface next to shard path / quadkey /
# geohash). Unlike the quadkey's Z-order, consecutive Hilbert ids are
# ALWAYS 4-adjacent cells, so range-partitioning a 100 TB table on this
# id gives each executor a spatially compact patch: a k-ring probe (kNN,
# spatial join) touches O(1) partitions instead of the O(k) stripes
# Z-order jumps across. Computed by the standard MSB-first automaton:
# the per-level rotation group of the Hilbert construction is the Klein
# four-group {identity, swap, complement, swap+complement}, so the whole
# carried state is two 0/1 flags composed by XOR. Everything is spelled
# with bitwise ^ & << >> on non-negative ints, where Spark and DuckDB
# semantics coincide exactly (measured: the bitwise spelling compiles to
# ~45% less generated code than the a+b-2ab arithmetic-xor spelling —
# 0.7 s vs 1.25 s fixed plan cost). The Spark form chains one small
# Project per level
# (withColumns); each level's aliases are non-trivial expressions
# consumed several times, which Catalyst's CollapseProject refuses to
# inline, keeping the optimized plan LINEAR in `levels` (a single
# nested Column expression would blow up ~3^levels at optimization
# time). Verified equal to the classic xy2d rotate/swap loop on
# arbitrary inputs by property test (tests/test_codec_property.py).
# ---------------------------------------------------------------------------

HILBERT_LEVELS = 12  # 2^12 x 2^12 curve covers the global grid at res >= 20


def _check_hilbert_domain(res: int, levels: int) -> None:
    """A 2^levels-per-axis curve addresses cells only up to 2^levels; a
    coarser-than-expected res would silently alias distinct cells onto
    one id, so refuse it loudly (same contract as the quadkey)."""
    if (3_600_000_000 >> res) >= (1 << levels):
        raise ValueError(
            f"hilbert: res={res} yields {3_600_000_000 >> res} cells per "
            f"axis but levels={levels} addresses only {1 << levels}; "
            f"raise res or levels"
        )


def py_hilbert(lon: int, lat: int, res: int = DEFAULT_RES, levels: int = HILBERT_LEVELS) -> int:
    """Driver-side twin over decimicro ints (tests / fixtures) — the
    IDENTICAL automaton arithmetic as the Spark and SQL spellings."""
    _check_hilbert_domain(res, levels)
    cx, cy = cell_xy(lon, lat, res)
    sw = cp = 0
    d = 0
    for b in range(levels - 1, -1, -1):
        bx = (cx >> b) & 1
        by = (cy >> b) & 1
        rx = (bx ^ (sw & (bx ^ by))) ^ cp  # swap axes iff sw, then flip iff cp
        ry = (by ^ (sw & (bx ^ by))) ^ cp
        d = (d << 2) + rx * 2 + (rx ^ ry)  # digit = (3*rx) xor ry
        nry = ry ^ 1
        sw = sw ^ nry  # sw ^= (ry == 0)
        cp = cp ^ (nry & rx)  # cp ^= (ry == 0 and rx == 1)
    return d


_H_COLS = ("__h_cx", "__h_cy", "__h_sw", "__h_cp", "__h_d", "__h_rx", "__h_ry")


def with_hilbert(
    df,
    lon: Column,
    lat: Column,
    out: str = "hil",
    res: int = DEFAULT_RES,
    levels: int = HILBERT_LEVELS,
):
    """Append a Hilbert-curve cell id column computed from decimicro
    (lon, lat) Columns. Pure JVM integer arithmetic, whole-stage
    codegen; adds 2*levels narrow chained Projects (see module comment
    on why a chain, not one nested expression)."""
    _check_hilbert_domain(res, levels)
    cxn, cyn, swn, cpn, dn, rxn, ryn = _H_COLS
    df = df.withColumns(
        {
            cxn: F.shiftright(lon + LON_OFFSET, res),
            cyn: F.shiftright(lat + LAT_OFFSET, res),
            swn: F.lit(0).cast("long"),
            cpn: F.lit(0).cast("long"),
            dn: F.lit(0).cast("long"),
        }
    )
    one = F.lit(1)
    # ONE withColumns per level (rx/ry inlined), not two: every
    # DataFrame transformation pays an eager JVM analysis of the whole
    # chain, so call count is driver-side build latency — 32 calls
    # measured 1.24 s of pure plan construction per query build, 16
    # calls halve it. The inlining triples the per-level bit ops
    # (rx/ry are each referenced 3x downstream), which is noise next
    # to the string codecs sharing the stage. Arithmetic is unchanged
    # — same rx/ry/d/sw/cp recurrence, bit-identical ids.
    for b in range(levels - 1, -1, -1):
        bx = F.shiftright(F.col(cxn), b).bitwiseAND(one)
        by = F.shiftright(F.col(cyn), b).bitwiseAND(one)
        sw, cp = F.col(swn), F.col(cpn)
        bxy = bx.bitwiseXOR(by)
        rx = bx.bitwiseXOR(sw.bitwiseAND(bxy)).bitwiseXOR(cp)
        ry = by.bitwiseXOR(sw.bitwiseAND(bxy)).bitwiseXOR(cp)
        nry = ry.bitwiseXOR(one)
        df = df.withColumns(
            {
                dn: F.shiftleft(F.col(dn), 2) + rx * 2 + rx.bitwiseXOR(ry),
                swn: sw.bitwiseXOR(nry),
                cpn: cp.bitwiseXOR(nry.bitwiseAND(rx)),
            }
        )
    return df.withColumn(out, F.col(dn)).drop(*_H_COLS)


def sql_hilbert_wrap(
    inner_sql: str,
    passthrough: list[str],
    lon: str,
    lat: str,
    out: str = "hil",
    res: int = DEFAULT_RES,
    levels: int = HILBERT_LEVELS,
) -> str:
    """DuckDB twin: wrap ``inner_sql`` (a SELECT producing the
    ``passthrough`` columns plus decimicro columns named ``lon``/
    ``lat``) in one nested subquery pair per level — the same linear
    plan shape as the Spark Project chain, the same arithmetic."""
    _check_hilbert_domain(res, levels)
    cols = ", ".join(passthrough)
    edge = 1 << res
    q = (
        f"SELECT {cols}, (({lon}) + {LON_OFFSET}) // {edge} AS h_cx, "
        f"(({lat}) + {LAT_OFFSET}) // {edge} AS h_cy, "
        f"0 AS h_sw, 0 AS h_cp, CAST(0 AS BIGINT) AS h_d FROM ({inner_sql})"
    )
    for b in range(levels - 1, -1, -1):
        bx = f"((h_cx >> {b}) & 1)"
        by = f"((h_cy >> {b}) & 1)"
        rx = f"xor(xor({bx}, h_sw & xor({bx}, {by})), h_cp)"
        ry = f"xor(xor({by}, h_sw & xor({bx}, {by})), h_cp)"
        q = (
            f"SELECT {cols}, h_cx, h_cy, h_sw, h_cp, h_d, "
            f"{rx} AS h_rx, {ry} AS h_ry FROM ({q})"
        )
        q = (
            f"SELECT {cols}, h_cx, h_cy, "
            f"xor(h_sw, xor(h_ry, 1)) AS h_sw, "
            f"xor(h_cp, xor(h_ry, 1) & h_rx) AS h_cp, "
            f"(h_d << 2) + h_rx * 2 + xor(h_rx, h_ry) AS h_d FROM ({q})"
        )
    return f"SELECT {cols}, h_d AS {out} FROM ({q})"


def hilbert_ranges(
    minlon: int,
    minlat: int,
    maxlon: int,
    maxlat: int,
    res: int = DEFAULT_RES,
    levels: int = HILBERT_LEVELS,
    max_ranges: int = 64,
) -> list[tuple[int, int]]:
    """S2-style range cover: the sorted, merged list of [lo, hi]
    (inclusive) Hilbert-id intervals whose cells exactly cover the
    decimicro bbox. Recursive quadtree descent running the SAME
    automaton inverse as the encoder: a node fully inside the bbox
    emits its whole 4^k id block, a disjoint node is dropped, a
    straddling node recurses into its four children IN CURVE ORDER
    (digit q -> child bits via the inverted swap/complement state).
    ``max_ranges`` bounds the predicate size the way S2 coverings do:
    when exceeded, adjacent ranges with the smallest gaps are merged —
    the cover stays a superset (false-positive cells, never missed
    ones), callers re-verify with the exact bbox test. Driver-side,
    O(perimeter) nodes; the output is a pushdown-able OR-of-BETWEENs."""
    _check_hilbert_domain(res, levels)
    # bbox corners -> cell coords (inclusive)
    x0, y0 = cell_xy(minlon, minlat, res)
    x1, y1 = cell_xy(maxlon, maxlat, res)
    out: list[tuple[int, int]] = []

    def rec(cx0: int, cy0: int, size: int, sw: int, cp: int, d0: int) -> None:
        # node square [cx0, cx0+size) x [cy0, cy0+size)
        if cx0 > x1 or cy0 > y1 or cx0 + size - 1 < x0 or cy0 + size - 1 < y0:
            return
        if cx0 >= x0 and cy0 >= y0 and cx0 + size - 1 <= x1 and cy0 + size - 1 <= y1:
            out.append((d0, d0 + size * size - 1))
            return
        half = size // 2
        for q in range(4):
            rx, ry = (0, 0) if q == 0 else (0, 1) if q == 1 else (1, 1) if q == 2 else (1, 0)
            tx, ty = rx ^ cp, ry ^ cp
            bx, by = (ty, tx) if sw else (tx, ty)
            nry = ry ^ 1
            rec(
                cx0 + bx * half,
                cy0 + by * half,
                half,
                sw ^ nry,
                cp ^ (nry & rx),
                d0 + q * half * half,
            )

    rec(0, 0, 1 << levels, 0, 0, 0)
    out.sort()
    # merge adjacent/overlapping
    merged: list[list[int]] = []
    for lo, hi in out:
        if merged and lo <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    # S2-style budget: close the smallest gaps until under max_ranges
    while len(merged) > max_ranges:
        gaps = [
            (merged[i + 1][0] - merged[i][1], i) for i in range(len(merged) - 1)
        ]
        _, i = min(gaps)
        merged[i][1] = merged[i + 1][1]
        del merged[i + 1]
    return [(lo, hi) for lo, hi in merged]


def hilbert_range_predicate(col: Column, ranges: list[tuple[int, int]]) -> Column:
    """OR-of-BETWEENs over a Hilbert id column — plain comparisons, so
    Catalyst pushes the whole disjunction into the parquet scan
    (row-group min/max pruning on a hilbert-sorted table)."""
    pred = None
    for lo, hi in ranges:
        term = col.between(F.lit(lo), F.lit(hi))
        pred = term if pred is None else pred | term
    return pred if pred is not None else F.lit(False)


def hilbert_range_predicate_bound(
    col: Column, ranges: list[tuple[int, int]]
) -> Column:
    """Same boolean as ``hilbert_range_predicate``, but with ``col``
    BOUND ONCE before the comparisons: ``exists(array(col), h -> OR of
    h BETWEEN lo AND hi)``. Use this when ``col`` is a DERIVED
    expression (e.g. the freshly computed Hilbert id): project
    collapsing otherwise substitutes the full expression into every
    comparison — 2 copies per range, measured 2.1 s vs 0.76 s for the
    16-range cover over 1M rows. Keep the plain form for scan columns,
    where simple comparisons are what pushes into the parquet scan."""
    if not ranges:
        return F.lit(False)

    def _chain(h: Column) -> Column:
        pred = None
        for lo, hi in ranges:
            term = h.between(F.lit(lo), F.lit(hi))
            pred = term if pred is None else pred | term
        return pred

    return F.exists(F.array(col), _chain)


def sql_hilbert_range_predicate(expr: str, ranges: list[tuple[int, int]]) -> str:
    if not ranges:
        return "FALSE"
    return "(" + " OR ".join(
        f"({expr} BETWEEN {lo} AND {hi})" for lo, hi in ranges
    ) + ")"


# ---------------------------------------------------------------------------
# hexagonal cell binning (the H3-style axial hex id on the flat grid —
# the uniform-neighborhood cell family mobility analytics bins by,
# next to the square cell / quadkey / geohash / hilbert ids).
# Pointy-top hexagons of circumradius `size` coordinate units; a point
# maps to the axial (hq, hr) of the NEAREST hex center via fractional
# axial coords + cube rounding.  The conversion constants are
# irrational, so this is the repo's shared-IEEE-tree discipline (the
# haversine/Liang-Barsky precedent), NOT exact integers: both engines
# evaluate the literally identical double expression, so the ids are
# bit-reproducible cross-engine.  Rounding is the EXPLICIT contract
# round(x) = floor(x + 0.5) — spelled the same in both engines, never
# the engines' own round() (whose half-away/half-even tie rules
# differ).
# ---------------------------------------------------------------------------

_HEX_SQRT3_3 = 0.5773502691896258  # sqrt(3)/3, 17 significant digits
_HEX_1_3 = 0.3333333333333333
_HEX_2_3 = 0.6666666666666666


def hex_cell(lon: Column, lat: Column, size: float) -> Column:
    """struct(hq, hr) — axial hex id of the nearest pointy-top hex
    center at circumradius ``size``.  Cube rounding: round each
    fractional cube coordinate with floor(x + 0.5), then re-derive the
    component with the largest rounding error from the other two so
    hq + hy + hr == 0 holds exactly."""
    s = float(size)
    if s <= 0:
        raise ValueError(f"hex size must be positive: {size}")
    x, y = lon.cast("double"), lat.cast("double")
    qf = (x * _HEX_SQRT3_3 - y * _HEX_1_3) / s
    rf = (y * _HEX_2_3) / s
    yf = -qf - rf
    rq = F.floor(qf + 0.5)
    ry = F.floor(yf + 0.5)
    rr = F.floor(rf + 0.5)
    dq = F.abs(rq.cast("double") - qf)
    dy = F.abs(ry.cast("double") - yf)
    dr = F.abs(rr.cast("double") - rf)
    fix_q = (dq > dy) & (dq > dr)
    fix_r = (~fix_q) & (dr > dy)
    hq = F.when(fix_q, -ry - rr).otherwise(rq)
    hr = F.when(fix_r, -rq - ry).otherwise(rr)
    return F.struct(hq.cast("long").alias("hq"), hr.cast("long").alias("hr"))


def sql_hex_cell(lon: str, lat: str, size: float) -> tuple[str, str]:
    """DuckDB twin (hq_expr, hr_expr) — the literally identical double
    tree and the same floor(x + 0.5) rounding contract."""
    s = float(size)
    qf = f"((CAST({lon} AS DOUBLE) * {_HEX_SQRT3_3!r} - CAST({lat} AS DOUBLE) * {_HEX_1_3!r}) / {s!r})"
    rf = f"((CAST({lat} AS DOUBLE) * {_HEX_2_3!r}) / {s!r})"
    yf = f"(-{qf} - {rf})"
    rq = f"CAST(FLOOR({qf} + 0.5) AS BIGINT)"
    ry = f"CAST(FLOOR({yf} + 0.5) AS BIGINT)"
    rr = f"CAST(FLOOR({rf} + 0.5) AS BIGINT)"
    dq = f"ABS(CAST({rq} AS DOUBLE) - {qf})"
    dy = f"ABS(CAST({ry} AS DOUBLE) - {yf})"
    dr = f"ABS(CAST({rr} AS DOUBLE) - {rf})"
    fix_q = f"({dq} > {dy} AND {dq} > {dr})"
    fix_r = f"(NOT {fix_q} AND {dr} > {dy})"
    hq = f"(CASE WHEN {fix_q} THEN -{ry} - {rr} ELSE {rq} END)"
    hr = f"(CASE WHEN {fix_r} THEN -{rq} - {ry} ELSE {rr} END)"
    return hq, hr
