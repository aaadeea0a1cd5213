"""Raster <-> vector conversion over the decimicro grid.

The north rule names four index primitives — H3/S2 cells, point-in-
polygon, kNN, and raster<->vector.  The first three live in
``operators/cells.py`` / ``spatial_join.py`` / ``knn.py``; this module
closes the loop:

- vector -> raster: burn points (``rasterize_points``) or a region
  multipolygon (``rasterize_polygon``) into dense per-tile pixel
  rasters.  The reference works purely in vector space (bbox extents,
  ``.poly`` rings — /root/reference/src/osm.rs, poly.rs); the raster
  form is the engine-side analog of its region *coverage* products,
  discretized on the same grid the cell-prefilter join uses.
- raster -> vector: ``vectorize_raster`` converts a mask raster back
  into maximal pixel-aligned rectangles (gaps-and-islands in both
  axes), i.e. a coarse polygonization whose union is exactly the mask.

Grid scheme (shared with ``functions/coords.py``): pixels are grid
cells at ``px_res`` (edge ``2**px_res`` decimicro); tiles are grid
cells at ``tile_res > px_res`` and carry the standard ``cell_id``
(``cy * Y_STRIDE + cx``), so a raster tile and a cover/join cell with
the same id describe the same square.  Each tile's raster is a dense
row-major ``array<long>`` of ``npx*npx`` pixels, ``npx =
2**(tile_res-px_res)``, pixel (0,0) at the tile's south-west corner.

Scale notes (100 TB): rasterize is two hash aggregations with map-side
combine — sparse (tile, idx) partial counts, then one
``map_from_entries`` densify per tile; nothing shuffles pixel rows
twice and no Python runs anywhere (whole-stage codegen throughout).
``npx`` bounds per-tile state at ``8 * npx**2`` bytes, independent of
input size.  vectorize partitions by pixel row then by run extent —
both keys are high-cardinality, skew-free, and the output is rectangle
rows, never a driver-side bitmap.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from osm_replication_rust_spark.functions.coords import LAT_OFFSET, LON_OFFSET, Y_STRIDE
from osm_replication_rust_spark.functions.geo_expr import raycast_expr
from osm_replication_rust_spark.functions.geometry import MultiPolygon


def _check_res(tile_res: int, px_res: int) -> int:
    if not (0 < px_res < tile_res):
        raise ValueError(f"need 0 < px_res < tile_res, got {px_res} >= {tile_res}")
    if tile_res < 16:
        raise ValueError("tile_res < 16 overflows Y_STRIDE cell packing")
    return 1 << (tile_res - px_res)


def _densify(sparse: DataFrame, npx: int) -> DataFrame:
    """(tile, idx, n) sparse pixel rows -> (tile, raster array<long>)."""
    m = F.map_from_entries(
        F.collect_list(F.struct(F.col("idx").alias("k"), F.col("n").alias("v")))
    )
    return (
        sparse.groupBy("tile")
        .agg(m.alias("_m"))
        .select(
            "tile",
            F.transform(
                F.sequence(F.lit(0), F.lit(npx * npx - 1)),
                lambda i: F.coalesce(F.element_at(F.col("_m"), i), F.lit(0).cast("long")),
            ).alias("raster"),
        )
    )


def point_pixel_counts(
    df: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    px_res: int = 19,
) -> DataFrame:
    """(gx, gy, n) sparse global pixel counts of a point table — the
    ONE heavy aggregation (map-side combine) every raster consumer
    shares: rasterize_points tiles it, focal_sum convolves it."""
    gx = F.shiftright(F.col(lon) + LON_OFFSET, px_res)
    gy = F.shiftright(F.col(lat) + LAT_OFFSET, px_res)
    return (
        df.select(gx.alias("gx"), gy.alias("gy"))
        .groupBy("gx", "gy")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def pixels_to_tiles(
    pix: DataFrame, tile_res: int = 23, px_res: int = 19
) -> DataFrame:
    """Sparse global pixels (gx, gy, n) -> dense per-tile rasters
    ``(tile, raster)``. The (tile, idx) key is a bijection of (gx, gy),
    so this is a map-side re-key + the densify agg — no extra pixel
    aggregation."""
    npx = _check_res(tile_res, px_res)
    shift = tile_res - px_res
    mask = npx - 1
    gx, gy = F.col("gx"), F.col("gy")
    sparse = pix.select(
        (F.shiftright(gy, shift) * Y_STRIDE + F.shiftright(gx, shift)).alias("tile"),
        (gy.bitwiseAND(F.lit(mask)) * npx + gx.bitwiseAND(F.lit(mask))).alias("idx"),
        "n",
    )
    return _densify(sparse, npx)


def rasterize_points(
    df: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    tile_res: int = 23,
    px_res: int = 19,
) -> DataFrame:
    """Vector -> raster: per-tile density raster of a point table.

    Returns ``(tile, raster)`` where ``raster[py*npx+px]`` counts the
    input points falling in that pixel.  Pure integer arithmetic into
    two hash aggs; the heavy first agg combines map-side."""
    _check_res(tile_res, px_res)
    return pixels_to_tiles(
        point_pixel_counts(df, lon, lat, px_res), tile_res, px_res
    )


def rasterize_polygon(
    spark: SparkSession,
    mp: MultiPolygon,
    tile_res: int = 23,
    px_res: int = 19,
) -> DataFrame:
    """Vector -> raster: binary mask of ``mp`` over its bbox grid.

    Pixel value 1 iff the pixel's *center* is inside the multipolygon
    (even-odd, boundary-inside — the engine's standard PIP semantics).
    The pixel grid is generated distributedly with ``spark.range`` and
    tested with the compiled ray-cast expression (no Python, no UDF);
    tiles wholly outside stay absent, matching ``cover_cells``.
    """
    npx = _check_res(tile_res, px_res)
    shift = tile_res - px_res
    mask = npx - 1
    half = 1 << (px_res - 1)
    minx, miny, maxx, maxy = mp.bbox
    x0 = (minx + LON_OFFSET) >> px_res
    x1 = (maxx + LON_OFFSET) >> px_res
    y0 = (miny + LAT_OFFSET) >> px_res
    y1 = (maxy + LAT_OFFSET) >> px_res
    nx = x1 - x0 + 1
    ny = y1 - y0 + 1

    grid = spark.range(nx * ny).select(
        (F.lit(x0) + F.col("id") % nx).alias("gx"),
        (F.lit(y0) + F.floor(F.col("id") / nx).cast("long")).alias("gy"),
    )
    ctr_lon = F.shiftleft(F.col("gx"), px_res) + half - LON_OFFSET
    ctr_lat = F.shiftleft(F.col("gy"), px_res) + half - LAT_OFFSET
    sparse = grid.filter(raycast_expr(mp, ctr_lon, ctr_lat)).select(
        (
            F.shiftright(F.col("gy"), shift) * Y_STRIDE
            + F.shiftright(F.col("gx"), shift)
        ).alias("tile"),
        (
            F.col("gy").bitwiseAND(F.lit(mask)) * npx
            + F.col("gx").bitwiseAND(F.lit(mask))
        ).alias("idx"),
        F.lit(1).cast("long").alias("n"),
    )
    return _densify(sparse, npx)


def vectorize_raster(
    raster_df: DataFrame,
    tile_res: int = 23,
    px_res: int = 19,
    threshold: int = 1,
) -> DataFrame:
    """Raster -> vector: maximal pixel-aligned rectangles of the mask
    ``raster >= threshold``.

    Two gaps-and-islands passes: horizontal runs per global pixel row
    (``gx - row_number`` keys a maximal run), then vertical merge of
    runs with identical ``[x0, x1]`` extent in consecutive rows.  The
    union of the returned rectangles is exactly the thresholded mask,
    with no overlaps.  Output coords are decimicro outer edges
    (``min_lon/min_lat`` inclusive SW pixel edge, ``max_lon/max_lat``
    exclusive NE pixel edge) plus the rectangle's pixel count.
    """
    npx = _check_res(tile_res, px_res)
    shift = tile_res - px_res

    px = raster_df.select(
        "tile", F.posexplode("raster").alias("idx", "v")
    ).filter(F.col("v") >= threshold)
    tx = F.col("tile") % Y_STRIDE
    ty = F.floor(F.col("tile") / Y_STRIDE).cast("long")
    px = px.select(
        (F.shiftleft(tx, shift) + F.col("idx") % npx).alias("gx"),
        (F.shiftleft(ty, shift) + F.floor(F.col("idx") / npx).cast("long")).alias("gy"),
    )

    w_run = Window.partitionBy("gy").orderBy("gx")
    runs = (
        px.withColumn("_rk", F.col("gx") - F.row_number().over(w_run))
        .groupBy("gy", "_rk")
        .agg(F.min("gx").alias("x0"), F.max("gx").alias("x1"))
    )
    w_rect = Window.partitionBy("x0", "x1").orderBy("gy")
    rects = (
        runs.withColumn("_ck", F.col("gy") - F.row_number().over(w_rect))
        .groupBy("x0", "x1", "_ck")
        .agg(F.min("gy").alias("y0"), F.max("gy").alias("y1"))
    )
    return rects.select(
        (F.shiftleft(F.col("x0"), px_res) - LON_OFFSET).alias("min_lon"),
        (F.shiftleft(F.col("y0"), px_res) - LAT_OFFSET).alias("min_lat"),
        (F.shiftleft(F.col("x1") + 1, px_res) - LON_OFFSET).alias("max_lon"),
        (F.shiftleft(F.col("y1") + 1, px_res) - LAT_OFFSET).alias("max_lat"),
        ((F.col("x1") - F.col("x0") + 1) * (F.col("y1") - F.col("y0") + 1)).alias(
            "n_pixels"
        ),
    )


def zonal_stats(
    raster_df: DataFrame,
    regions: list["MultiPolygon"],
    tile_res: int = 23,
    px_res: int = 19,
    buffer: int = 0,
) -> DataFrame:
    """Raster x vector zonal statistics: per-region aggregates of a
    density raster — the composition of the two index primitives (the
    raster grid and the cell-prefilter spatial join).

    Occupied pixels become points at their centers (zero-count pixels
    never leave the posexplode filter), flow through the standard
    ``assign_regions`` broadcast cover join + exact refine, and
    aggregate per region: occupied-pixel count, value total, and the
    pixel bbox.  One shuffle beyond the spatial join (the final
    per-region agg, ~|regions| groups).
    """
    from osm_replication_rust_spark.operators.spatial_join import assign_regions

    npx = _check_res(tile_res, px_res)
    shift = tile_res - px_res
    half = 1 << (px_res - 1)

    px = raster_df.select(
        "tile", F.posexplode("raster").alias("idx", "v")
    ).filter(F.col("v") > 0)
    tx = F.col("tile") % Y_STRIDE
    ty = F.floor(F.col("tile") / Y_STRIDE).cast("long")
    gx = F.shiftleft(tx, shift) + F.col("idx") % npx
    gy = F.shiftleft(ty, shift) + F.floor(F.col("idx") / npx).cast("long")
    pts = px.select(
        (F.shiftleft(gx, px_res) + half - LON_OFFSET).alias("lon"),
        (F.shiftleft(gy, px_res) + half - LAT_OFFSET).alias("lat"),
        F.col("v").alias("v"),
    )
    assigned = assign_regions(
        pts, regions, keep_cols=["lon", "lat", "v"], buffer=buffer
    ).filter(F.col("in_poly"))
    return assigned.groupBy("region_id").agg(
        F.count(F.lit(1)).alias("n_pixels"),
        F.sum("v").alias("total"),
        F.min("lon").alias("min_lon"),
        F.min("lat").alias("min_lat"),
        F.max("lon").alias("max_lon"),
        F.max("lat").alias("max_lat"),
    )


def tile_pyramid(
    df: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    base_res: int = 20,
    levels: int = 5,
    weight: str | None = None,
) -> DataFrame:
    """Multi-resolution tile-density pyramid: ``(res, cell, n)`` for
    every non-empty cell at ``base_res .. base_res+levels-1`` — the
    tile-server zoom pyramid (slippy ``z/x/y``; each quadkey digit
    dropped is one level climbed) expressed as relational rollup.

    Two hash aggregations, both with map-side combine:

    1. base level — the only shuffle whose width scales with input
       ROWS (one (cell, count) agg over the fact table);
    2. ancestor rollup — each base cell row explodes into its
       ``levels`` ancestors (``cx>>k, cy>>k``; parenthood is pure
       integer arithmetic on the packed id) and one (res, cell) agg
       sums the counts.  Its shuffle is ``levels × |distinct base
       cells|`` rows of three ints — cells, not points, so at 100 TB
       it is noise next to shuffle #1.  A naive per-level re-scan of
       the fact table would instead pay shuffle #1 ``levels`` times.
    ``weight``: optional signed per-row weight column — the DELTA form
    (inserts +1, deletes -1) for incremental maintenance; ``n`` becomes
    the weight sum and zero-sum cells are KEPT (merge_pyramids drops
    them after the combine, where zero means "cancelled out").
    """
    if levels < 1:
        raise ValueError(f"levels must be >= 1, got {levels}")
    if base_res < 16:
        raise ValueError("base_res < 16 overflows Y_STRIDE cell packing")
    cx = F.shiftright(F.col(lon) + LON_OFFSET, base_res)
    cy = F.shiftright(F.col(lat) + LAT_OFFSET, base_res)
    measure = (
        F.count(F.lit(1)) if weight is None else F.sum(F.col(weight))
    ).cast("long").alias("n")
    cols = [(cy * Y_STRIDE + cx).alias("cell")]
    if weight is not None:
        cols.append(F.col(weight))
    base = df.select(*cols).groupBy("cell").agg(measure)
    return pyramid_rollup(base, base_res=base_res, levels=levels)


def pyramid_rollup(
    base: DataFrame, base_res: int, levels: int
) -> DataFrame:
    """Shuffle #2 of ``tile_pyramid`` on its own: roll a base-level
    ``(cell, n)`` table up into the full ``(res, cell, n)`` pyramid
    (ancestor explode + one agg). Exposed so callers that already hold
    several base-level counter sets from ONE fact-table pass (e.g. the
    direct/base/delta triple of an IVM check) can pyramid each without
    re-scanning rows — the base agg is the only shuffle that scales
    with input rows, so sharing it is the whole game."""
    if levels < 1:
        raise ValueError(f"levels must be >= 1, got {levels}")
    if base_res < 16:
        raise ValueError("base_res < 16 overflows Y_STRIDE cell packing")
    return (
        base.select(_ancestor_explode(base_res, levels).alias("a"), "n")
        .groupBy(F.col("a.res").alias("res"), F.col("a.cell").alias("cell"))
        .agg(F.sum("n").alias("n"))
    )


@functools.lru_cache(maxsize=None)
def _ancestor_explode(base_res: int, levels: int):
    """The ancestor-explode Column of pyramid_rollup, built once per
    (base_res, levels): a pure expression tree over the fixed "cell"
    column name whose construction costs ~levels x 6 py4j round-trips
    — measurable build latency when several pyramids share a query."""
    bcx = F.col("cell") % Y_STRIDE
    bcy = F.floor(F.col("cell") / Y_STRIDE).cast("long")
    return F.explode(
        F.array(*[
            F.struct(
                F.lit(base_res + k).alias("res"),
                (F.shiftright(bcy, k) * Y_STRIDE + F.shiftright(bcx, k)).alias("cell"),
            )
            for k in range(levels)
        ])
    )


def focal_sum(
    pixels: DataFrame,
    radius: int = 1,
    x: str = "gx",
    y: str = "gy",
    v: str = "n",
) -> DataFrame:
    """Focal (moving-window) statistics over a SPARSE raster — the GIS
    convolution primitive (focal sum / density smoothing) and, via
    ``n_nbrs``, binary morphology: a pixel with a fully-occupied
    (2r+1)² window is an erosion survivor; dilation is the scatter set
    itself. Input: occupied pixels ``(x, y, v)`` in global pixel
    coordinates; output: every occupied pixel with ``focal`` = Σ v over
    its (2r+1)² neighborhood (absent pixels contribute 0) and
    ``n_nbrs`` = occupied cells in the window (self included).

    Plan: each occupied pixel SCATTERS its value to the (2r+1)² target
    pixels it contributes to (map-side literal-offset explode, the
    adjoint of a gather — no dense grid ever materializes), ONE hash
    agg on the target pixel key, then a semi-filtering inner join back
    to the occupied set, which reuses the agg's partitioning on one
    side. Exact integer sums throughout — order-free, engine-identical.

    Scale: shuffle volume is (2r+1)² × nnz narrow rows — proportional
    to OCCUPIED pixels only, never the grid; skewed dense areas spread
    over distinct target keys by construction (no hot reducer)."""
    if radius < 1 or (2 * radius + 1) ** 2 > 1024:
        raise ValueError(f"radius must be in [1, 15], got {radius}")
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dy in range(-radius, radius + 1)
            for dx in range(-radius, radius + 1)
        ]
    )
    scat = (
        pixels.select(F.col(x), F.col(y), F.col(v), F.explode(offs).alias("_o"))
        .select(
            (F.col(x) + F.col("_o.dx")).alias("_tx"),
            (F.col(y) + F.col("_o.dy")).alias("_ty"),
            F.col(v),
        )
        .groupBy("_tx", "_ty")
        .agg(
            F.sum(v).cast("long").alias("focal"),
            F.count(F.lit(1)).cast("long").alias("n_nbrs"),
        )
    )
    return pixels.join(
        scat,
        (F.col(x) == F.col("_tx")) & (F.col(y) == F.col("_ty")),
        "inner",
    ).select(x, y, v, "focal", "n_nbrs")


def merge_pyramids(a: DataFrame, b: DataFrame, check_levels: bool = True) -> DataFrame:
    """Combine two (res, cell, n) pyramids additively, dropping
    cancelled (zero-sum) cells — the APPLY half of incremental view
    maintenance: ``merge_pyramids(pyramid(base), pyramid(diff,
    weight='w'))`` equals ``pyramid(base with the diff applied)`` at
    delta-proportional cost (the diff rollup touches diff rows only;
    the merge is one (res, cell)-keyed outer join of CELL rows, never
    facts).

    ``check_levels`` (default True) verifies the two sides cover the
    same resolution set — pyramids built with different base_res /
    levels would otherwise join cells computed on DIFFERENT grids
    (colliding packed ids) and pass non-overlapping levels through
    untouched, silently. The check is two level-width aggregates (at
    most ``levels`` rows each); pass False only when the caller
    guarantees matching parameters and must avoid the extra action
    (a delta batch with empty levels is legitimate: the delta's res
    set may be a SUBSET of the base's)."""
    if check_levels:
        ra = {r.res for r in a.select("res").distinct().collect()}
        rb = {r.res for r in b.select("res").distinct().collect()}
        if not (rb <= ra or ra <= rb):
            raise ValueError(
                f"pyramid level sets are incompatible: {sorted(ra)} vs "
                f"{sorted(rb)} (different base_res/levels?)"
            )
    an = a.select("res", "cell", F.col("n").alias("_na"))
    bn = b.select("res", "cell", F.col("n").alias("_nb"))
    return (
        an.join(bn, ["res", "cell"], "full_outer")
        .select(
            "res",
            "cell",
            (
                F.coalesce("_na", F.lit(0).cast("long"))
                + F.coalesce("_nb", F.lit(0).cast("long"))
            ).alias("n"),
        )
        .filter(F.col("n") != 0)
    )


def _rook_pairs(base: DataFrame) -> DataFrame:
    """Ordered within-tile rook-adjacent pairs over a sparse raster
    frame (tile, _px, _py, _pv): one map-side 4-offset scatter + one
    hash equi-join on the neighbour coordinate (~4·nnz narrow rows),
    same-tile filtered — the shared adjacency core of morans_i /
    geary_join_stats / local_moran. Carries (tile, _sx, _sy, _va, _vb)
    per ordered pair (source coords so per-pixel lags can group)."""
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1))
        ]
    )
    scat = base.select(
        "tile",
        F.col("_pv").alias("_va"),
        F.explode(offs).alias("_o"),
        "_px",
        "_py",
    ).select(
        "tile",
        "_va",
        F.col("_px").alias("_sx"),
        F.col("_py").alias("_sy"),
        (F.col("_px") + F.col("_o.dx")).alias("_tx"),
        (F.col("_py") + F.col("_o.dy")).alias("_ty"),
    )
    return scat.join(
        base.select(
            F.col("tile").alias("_tb"),
            F.col("_px").alias("_tx"),
            F.col("_py").alias("_ty"),
            F.col("_pv").alias("_vb"),
        ),
        ["_tx", "_ty"],
        "inner",
    ).filter(F.col("tile") == F.col("_tb"))


def morans_i(
    pixels: DataFrame,
    tile_res: int = 23,
    px_res: int = 19,
    x: str = "gx",
    y: str = "gy",
    v: str = "n",
) -> DataFrame:
    """Per-tile global Moran's I — THE spatial-autocorrelation
    statistic (is density clustered, dispersed, or random inside each
    tile?) — over a sparse raster, with rook (4-neighbour) binary
    weights restricted to WITHIN-tile pairs (each tile is its own
    study area; the tile grid is the engine's partition unit, so the
    statistic needs no cross-partition adjacency).

    I = (n/W) * Σ_ij w_ij (x_i-x̄)(x_j-x̄) / Σ_i (x_i-x̄)², computed
    in the exact-integer discipline: with S=Σx, Q=Σx², and over
    ordered adjacent pairs W=count, P=Σ x_i·x_j, R=Σ(x_i+x_j),

        n²·num = n²P − n·S·R + W·S²      n²·den = n²Q − n·S²
        I = (n·n²num) / (W·n²den)

    — every term accumulates in decimal(38,0) (HUGEINT in the oracle;
    global-scale counts cannot overflow), then ONE shared division of
    the two big integers, so both engines emit the same double to
    ≤1 ulp (absorbed by the gate's 9-significant-digit compare).
    Tiles with W=0 (no adjacent occupied pair) or den=0 (constant
    values) return NULL.

    Plan: one map-side 4-offset scatter + one hash equi-join on the
    neighbour coordinate (pairs ~ 4·nnz narrow rows) + two per-tile
    aggregates joined on tile — no dense grid, no Python."""
    _check_res(tile_res, px_res)
    shift = tile_res - px_res
    dec = "decimal(38,0)"

    def _tile(cx, cy):
        return F.shiftright(cy, shift) * Y_STRIDE + F.shiftright(cx, shift)

    base = pixels.select(
        _tile(F.col(x), F.col(y)).alias("tile"),
        F.col(x).alias("_px"),
        F.col(y).alias("_py"),
        F.col(v).cast("long").alias("_pv"),
    )
    pairs = _rook_pairs(base)
    pagg = pairs.groupBy("tile").agg(
        F.count(F.lit(1)).cast(dec).alias("_W"),
        F.sum(F.col("_va").cast(dec) * F.col("_vb").cast(dec)).alias("_P"),
        F.sum(F.col("_va").cast(dec) + F.col("_vb").cast(dec)).alias("_R"),
    )
    xagg = base.groupBy("tile").agg(
        F.count(F.lit(1)).cast(dec).alias("_n"),
        F.sum(F.col("_pv").cast(dec)).alias("_S"),
        F.sum(F.col("_pv").cast(dec) * F.col("_pv").cast(dec)).alias("_Q"),
    )
    n, S, Q = F.col("_n"), F.col("_S"), F.col("_Q")
    W, P, R = F.col("_W"), F.col("_P"), F.col("_R")
    num = n * n * P - n * S * R + W * S * S
    den = n * n * Q - n * S * S
    return (
        xagg.join(pagg, "tile", "left")
        .select(
            "tile",
            F.col("_n").cast("long").alias("mi_n"),
            F.coalesce(F.col("_W").cast("long"), F.lit(0).cast("long")).alias(
                "mi_w"
            ),
            F.when(
                W.isNotNull() & (W != 0) & (den != 0),
                (n * num).cast("double") / (W * den).cast("double"),
            ).alias("moran_i"),
        )
    )


def geary_join_stats(
    pixels: DataFrame,
    tile_res: int = 23,
    px_res: int = 19,
    x: str = "gx",
    y: str = "gy",
    v: str = "n",
) -> DataFrame:
    """Geary's C + join-count statistics per tile — the remaining two
    members of the classic ESDA quartet next to morans_i and gi_star
    (C is I's pair-difference dual, sensitive to LOCAL dissimilarity;
    join counts are the lattice statistic for BINARY marks), over the
    same within-tile rook adjacency and exact-integer discipline:

        C = (n−1)/(2W) · Σ_ij w_ij (xᵢ−xⱼ)² / Σᵢ(xᵢ−x̄)²
          = n·(n−1)·D / (2·W·(n·Q − S²))      D = Σ ordered (xᵢ−xⱼ)²

    — every term decimal(38,0) (HUGEINT in the oracle), ONE shared
    division; NULL on W=0 / constant tiles. Join counts bin each
    ordered adjacent pair by the parity mark m = x mod 2: jc_bb (both
    odd), jc_ww (both even), jc_bw (mixed) — exact longs (ordered
    pairs, so symmetric pairs count twice, uniformly).

    Plan: the SAME one scatter + one equi-join + two per-tile
    aggregates as morans_i (shared _rook_pairs core) — no dense grid,
    no Python, no extra shuffle class."""
    _check_res(tile_res, px_res)
    shift = tile_res - px_res
    dec = "decimal(38,0)"

    def _tile(cx, cy):
        return F.shiftright(cy, shift) * Y_STRIDE + F.shiftright(cx, shift)

    base = pixels.select(
        _tile(F.col(x), F.col(y)).alias("tile"),
        F.col(x).alias("_px"),
        F.col(y).alias("_py"),
        F.col(v).cast("long").alias("_pv"),
    )
    pairs = _rook_pairs(base)
    d = (F.col("_va") - F.col("_vb")).cast(dec)
    ma = F.col("_va") % 2
    mb = F.col("_vb") % 2
    pagg = pairs.groupBy("tile").agg(
        F.count(F.lit(1)).cast(dec).alias("_W"),
        F.sum(d * d).alias("_D"),
        F.sum(F.when((ma == 1) & (mb == 1), 1)).cast("long").alias("_bb"),
        F.sum(F.when((ma == 0) & (mb == 0), 1)).cast("long").alias("_ww"),
        F.sum(F.when(ma != mb, 1)).cast("long").alias("_bw"),
    )
    xagg = base.groupBy("tile").agg(
        F.count(F.lit(1)).cast(dec).alias("_n"),
        F.sum(F.col("_pv").cast(dec)).alias("_S"),
        F.sum(F.col("_pv").cast(dec) * F.col("_pv").cast(dec)).alias("_Q"),
    )
    n, S, Q = F.col("_n"), F.col("_S"), F.col("_Q")
    W, D = F.col("_W"), F.col("_D")
    den = n * Q - S * S
    return xagg.join(pagg, "tile", "left").select(
        "tile",
        F.col("_n").cast("long").alias("gc_n"),
        F.coalesce(F.col("_W").cast("long"), F.lit(0).cast("long")).alias("gc_w"),
        F.when(
            W.isNotNull() & (W != 0) & (den != 0),
            (n * (n - 1) * D).cast("double")
            / (F.lit(2).cast(dec) * W * den).cast("double"),
        ).alias("geary_c"),
        F.coalesce(F.col("_bb"), F.lit(0).cast("long")).alias("jc_bb"),
        F.coalesce(F.col("_ww"), F.lit(0).cast("long")).alias("jc_ww"),
        F.coalesce(F.col("_bw"), F.lit(0).cast("long")).alias("jc_bw"),
    )


def local_moran(
    pixels: DataFrame,
    tile_res: int = 23,
    px_res: int = 19,
    x: str = "gx",
    y: str = "gy",
    v: str = "n",
) -> DataFrame:
    """Local Moran's I — the LISA cluster map (Anselin '95), the
    per-cell decomposition of morans_i that names WHICH cells form the
    hotspots/coldspots/outliers — reduced to its exact-integer
    Moran-scatterplot quadrant census per tile over the SAME
    within-tile rook adjacency (shared _rook_pairs core):

    with per-tile n, S = Σv the scaled deviation of pixel i is
    d_i = n·v_i − S (exact; sign(d_i) = sign(v_i − mean)) and its
    scaled spatial lag is L_i = n·Σ_{j~i} v_j − deg_i·S, so quadrant
    membership — HH (high amid high), LL, HL (high outlier amid low),
    LH — is a pure integer sign pair, and Σ_i d_i·L_i is the exact
    global LISA numerator (= n²·Σ_ij w_ij (v_i−x̄)(v_j−x̄), the
    integer behind morans_i's numerator — carried as digits, the
    idw_den_str discipline).

    Emits per tile: lq_hh / lq_ll / lq_hl / lq_lh (strict-sign
    quadrant counts; boundary pixels with d=0 or L=0 belong to none),
    lq_iso (occupied pixels with NO occupied rook neighbour —
    unclassifiable islands), lq_n, and lisa_num_str (NULL when the
    tile has no adjacent pair, both engines).

    Plan: ONE extra per-(tile, source-pixel) aggregate over the shared
    scatter-join pairs + the per-tile moment aggregate morans_i
    already makes — no dense grid, no Python, no new shuffle class."""
    _check_res(tile_res, px_res)
    shift = tile_res - px_res
    dec = "decimal(38,0)"

    def _tile(cx, cy):
        return F.shiftright(cy, shift) * Y_STRIDE + F.shiftright(cx, shift)

    base = pixels.select(
        _tile(F.col(x), F.col(y)).alias("tile"),
        F.col(x).alias("_px"),
        F.col(y).alias("_py"),
        F.col(v).cast("long").alias("_pv"),
    )
    pairs = _rook_pairs(base)
    lnb = pairs.groupBy("tile", "_sx", "_sy", "_va").agg(
        F.count(F.lit(1)).cast(dec).alias("_deg"),
        F.sum(F.col("_vb").cast(dec)).alias("_nbs"),
    )
    xagg = base.groupBy("tile").agg(
        F.count(F.lit(1)).cast(dec).alias("_n"),
        F.sum(F.col("_pv").cast(dec)).alias("_S"),
    )
    n, S = F.col("_n"), F.col("_S")
    d = n * F.col("_va").cast(dec) - S
    lag = n * F.col("_nbs") - F.col("_deg") * S
    per = lnb.join(xagg, "tile").select(
        "tile", d.alias("_d"), lag.alias("_lag")
    )
    dd, ll = F.col("_d"), F.col("_lag")
    qagg = per.groupBy("tile").agg(
        F.sum(F.when((dd > 0) & (ll > 0), 1)).cast("long").alias("_hh"),
        F.sum(F.when((dd < 0) & (ll < 0), 1)).cast("long").alias("_ll"),
        F.sum(F.when((dd > 0) & (ll < 0), 1)).cast("long").alias("_hl"),
        F.sum(F.when((dd < 0) & (ll > 0), 1)).cast("long").alias("_lh"),
        F.sum(dd * ll).alias("_num"),
        F.count(F.lit(1)).cast("long").alias("_npix"),
    )
    zero = F.lit(0).cast("long")
    return xagg.join(qagg, "tile", "left").select(
        "tile",
        F.col("_n").cast("long").alias("lq_n"),
        F.coalesce(F.col("_hh"), zero).alias("lq_hh"),
        F.coalesce(F.col("_ll"), zero).alias("lq_ll"),
        F.coalesce(F.col("_hl"), zero).alias("lq_hl"),
        F.coalesce(F.col("_lh"), zero).alias("lq_lh"),
        (F.col("_n").cast("long") - F.coalesce(F.col("_npix"), zero)).alias(
            "lq_iso"
        ),
        F.col("_num").cast("string").alias("lisa_num_str"),
    )


#: forced-positive offset for the line-cell rounding division: Spark's
#: integer DIV truncates toward zero while DuckDB's // floors, so the
#: numerator is shifted positive (|2k*d| < 2*dM*_LOS_OFF for any
#: in-tile geometry) and the two rules coincide
_LOS_OFF = 64


def viewshed(
    pixels: DataFrame,
    tile_res: int = 23,
    px_res: int = 19,
    x: str = "gx",
    y: str = "gy",
    v: str = "n",
    tower: int = 2,
) -> DataFrame:
    """Per-tile viewshed — line-of-sight visibility (GRASS r.viewshed /
    ST_Viewshed) reduced to exact integers over the sparse raster: the
    tile's value surface is the elevation model (empty cells = 0), the
    observer is the tile's MAXIMUM-value pixel (ties -> smallest
    (py, px)) raised by ``tower``, and target t (at step distance dM)
    is visible iff every intermediate sightline cell c (at step k)
    satisfies

        (elev_c - h_o) * dM  <  (elev_t - h_o) * k

    — the cross-multiplied tangent compare (the step index along the
    dominant axis is a uniform-sampling distance proxy), so no
    division, no floats, no engine drift; a grazing tie BLOCKS
    (strict <).  Sightline cells are the midpoint-rounded lattice
    c(k) = o + round(k*d / dM) per axis, spelled as the forced-positive
    floor division (2k*d + dM + 2*dM*OFF) DIV (2*dM) - OFF so Spark's
    truncating DIV and DuckDB's flooring // agree on negative deltas.

    Emits per tile: vs_opx / vs_opy (observer, pins the argmax),
    vs_n (visible occupied pixels, observer included), vs_mass
    (sum of value over visible pixels), vs_ntot (occupied pixels).

    Plan: one per-tile argmax window + ONE <=(dM-1)-fan explode of the
    occupied pixels (dM < npx, a constant) + a hash join back to the
    pixel frame for intermediate elevations + two aggs — tile = study
    area = partition unit (the morans_i convention), fully
    declarative, no Python."""
    _check_res(tile_res, px_res)
    shift = tile_res - px_res
    from pyspark.sql import Window as W

    def _tile(cx, cy):
        return F.shiftright(cy, shift) * Y_STRIDE + F.shiftright(cx, shift)

    mask = (1 << shift) - 1
    base = pixels.select(
        _tile(F.col(x), F.col(y)).alias("tile"),
        F.col(x).bitwiseAND(F.lit(mask)).alias("_px"),
        F.col(y).bitwiseAND(F.lit(mask)).alias("_py"),
        F.col(v).cast("long").alias("_pv"),
    )
    w = W.partitionBy("tile").orderBy(
        F.col("_pv").desc(), F.col("_py"), F.col("_px")
    )
    obs = (
        base.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "tile",
            F.col("_px").alias("_opx"),
            F.col("_py").alias("_opy"),
            (F.col("_pv") + tower).alias("_ho"),
        )
    )
    t = base.join(obs, "tile").select(
        "tile", "_px", "_py", "_pv", "_opx", "_opy", "_ho",
        (F.col("_px") - F.col("_opx")).alias("_dx"),
        (F.col("_py") - F.col("_opy")).alias("_dy"),
        F.greatest(
            F.abs(F.col("_px") - F.col("_opx")),
            F.abs(F.col("_py") - F.col("_opy")),
        ).alias("_dm"),
    )
    steps = F.when(
        F.col("_dm") >= 2, F.sequence(F.lit(1), (F.col("_dm") - 1).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    ex = t.select("*", F.explode_outer(steps).alias("_k")).select(
        "tile", "_px", "_py", "_pv", "_ho", "_dm", "_k",
        (
            F.col("_opx")
            + F.expr(f"(2 * _k * _dx + _dm + 2 * _dm * {_LOS_OFF}) DIV (2 * _dm)")
            - F.lit(_LOS_OFF)
        ).alias("_cx"),
        (
            F.col("_opy")
            + F.expr(f"(2 * _k * _dy + _dm + 2 * _dm * {_LOS_OFF}) DIV (2 * _dm)")
            - F.lit(_LOS_OFF)
        ).alias("_cy"),
    )
    elev = base.select(
        "tile",
        F.col("_px").alias("_cx"),
        F.col("_py").alias("_cy"),
        F.col("_pv").alias("_ce"),
    )
    ex = ex.join(elev, ["tile", "_cx", "_cy"], "left")
    e = F.coalesce(F.col("_ce"), F.lit(0))
    blocked = F.col("_k").isNotNull() & (
        (e - F.col("_ho")) * F.col("_dm")
        >= (F.col("_pv") - F.col("_ho")) * F.col("_k")
    )
    per = ex.groupBy("tile", "_px", "_py", "_pv").agg(
        F.max(F.when(blocked, 1).otherwise(0)).alias("_blk")
    )
    agg = per.groupBy("tile").agg(
        F.count(F.lit(1)).cast("long").alias("vs_ntot"),
        F.sum(F.when(F.col("_blk") == 0, 1).otherwise(0))
        .cast("long")
        .alias("vs_n"),
        F.sum(F.when(F.col("_blk") == 0, F.col("_pv")).otherwise(0))
        .cast("long")
        .alias("vs_mass"),
    )
    return agg.join(obs, "tile").select(
        "tile",
        F.col("_opx").cast("long").alias("vs_opx"),
        F.col("_opy").cast("long").alias("vs_opy"),
        "vs_ntot",
        "vs_n",
        "vs_mass",
    )


def gini_tile(
    pixels: DataFrame,
    tile_res: int = 23,
    px_res: int = 19,
    x: str = "gx",
    y: str = "gy",
    v: str = "n",
) -> DataFrame:
    """Gini coefficient of the value mass across each tile's occupied
    pixels — the inequality statistic behind the north rule's skew
    handling (a tile whose events pile into a few mega-pixels needs
    salting / AQE splitting; a tile with G ≈ 0 does not). Classic
    rank formulation over the ascending-sorted values x_(1..n):

        G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx)

    Every moment is exact decimal(38,0) (HUGEINT in the oracle) and G
    is ONE shared division — and because equal values occupy a
    CONSECUTIVE rank block, Σ i·x_(i) is invariant to tie order, so
    any engine's stable sort lands on the identical integer moments
    (the row_number tie-break on (value, y, x) is belt-and-braces, not
    load-bearing). G = 0 for constant tiles (incl. single-pixel), → 1
    as one pixel holds all mass. NULL only on zero total mass.

    Plan: one row_number window + one hash aggregate, both keyed on
    the tile — the same single narrow shuffle class as morans_i /
    geary_join_stats over the shared pixel frame."""
    _check_res(tile_res, px_res)
    shift = tile_res - px_res
    dec = "decimal(38,0)"
    base = pixels.select(
        (
            F.shiftright(F.col(y), shift) * Y_STRIDE + F.shiftright(F.col(x), shift)
        ).alias("tile"),
        F.col(x).alias("_px"),
        F.col(y).alias("_py"),
        F.col(v).cast("long").alias("_pv"),
    )
    w = Window.partitionBy("tile").orderBy("_pv", "_py", "_px")
    ranked = base.withColumn("_rk", F.row_number().over(w))
    n, S, RW = F.col("_n"), F.col("_S"), F.col("_RW")
    return (
        ranked.groupBy("tile")
        .agg(
            F.count(F.lit(1)).cast(dec).alias("_n"),
            F.sum(F.col("_pv").cast(dec)).alias("_S"),
            F.sum(F.col("_rk").cast(dec) * F.col("_pv").cast(dec)).alias("_RW"),
        )
        .select(
            "tile",
            S.cast("long").alias("gini_mass"),
            F.when(
                n * S != 0,
                (2 * RW - (n + 1) * S).cast("double") / (n * S).cast("double"),
            ).alias("gini"),
        )
    )


def gi_star(
    pixels: DataFrame,
    radius: int = 1,
    x: str = "gx",
    y: str = "gy",
    v: str = "n",
    foc: DataFrame | None = None,
) -> DataFrame:
    """Getis-Ord Gi* hotspot z-score per occupied pixel — the standard
    GIS hotspot-detection statistic over the engine's sparse raster,
    with binary weights over the (2r+1)² window restricted to OCCUPIED
    pixels (the same neighbourhood ``focal_sum`` computes; zero pixels
    are not part of the occupied-cell population).

    Gi* = (Σ_j w_ij x_j − x̄ W_i) / (s·sqrt((n·W_i − W_i²)/(n−1)))
    with W_i = occupied window cells (self included), n/x̄/s GLOBAL
    over occupied pixels. Multiplying through by n gives the
    exact-integer form used here (decimal(38,0) / HUGEINT):

        num = n·focal_i − S·W_i
        A   = n·Q − S²           B = n·W_i − W_i²
        z   = num / sqrt((A/(n−1)) · B)

    where every integer is exact and the float tree (two casts, one
    divide, one multiply, one sqrt, one divide) is spelled identically
    in the SQL twin — bit-identical to ≤1 ulp from the decimal casts.
    NULL when n < 2, A = 0 (constant raster) or B = 0 (W_i = n).

    Plan: one ``focal_sum`` (scatter + agg + join) plus a broadcast of
    the 1-row global aggregate — O(nnz·(2r+1)²) narrow rows, no dense
    grid, no Python. Pass ``foc`` (a ``focal_sum(pixels, radius)``
    frame) to share an already-built focal subplan instead of
    recomputing it."""
    dec = "decimal(38,0)"
    if foc is None:
        foc = focal_sum(pixels, radius=radius, x=x, y=y, v=v)
    glob = pixels.agg(
        F.count(F.lit(1)).cast(dec).alias("_gn"),
        F.sum(F.col(v).cast(dec)).alias("_gs"),
        F.sum(F.col(v).cast(dec) * F.col(v).cast(dec)).alias("_gq"),
    )
    j = foc.crossJoin(F.broadcast(glob))
    n, S, Q = F.col("_gn"), F.col("_gs"), F.col("_gq")
    w = F.col("n_nbrs").cast(dec)
    num = n * F.col("focal").cast(dec) - S * w
    A = n * Q - S * S
    B = n * w - w * w
    z = F.when(
        (n > 1) & (A != 0) & (B != 0),
        num.cast("double")
        / F.sqrt(
            (A.cast("double") / (n - 1).cast("double")) * B.cast("double")
        ),
    )
    return j.select(x, y, v, "focal", "n_nbrs", z.alias("gi_z"))


def quadtree_leaves(
    pyr: DataFrame,
    cap: int,
    base_res: int,
    levels: int,
    check_levels: bool = True,
) -> DataFrame:
    """Adaptive quadtree tiling — the explicit mega-cell split the
    north rule calls for: from a ``tile_pyramid`` output, mark the
    unique LEAF tiling in which every tile holds at most ``cap``
    points (descending from the coarsest level, a cell splits while
    its count exceeds ``cap``; base-level cells are forced leaves).
    The leaf set partitions the occupied space: every base cell has
    exactly ONE leaf among itself and its ancestors — counts are
    non-increasing down the chain, so the first (coarsest) cell with
    n <= cap is it (the base is the fallback). Writing extracts by
    leaf id yields balanced partitions whatever the skew.

    Fully declarative — NO iteration: a cell is a leaf iff

        (res == coarsest  OR  min over strict ancestors' n > cap)
        AND (n <= cap  OR  res == base_res)

    computed as one variable-length ancestor explode (pure integer
    parenthood arithmetic on the packed id), one hash join back to the
    pyramid, and one min-aggregate. Returns ``pyr`` + ``qt_leaf``
    (BIGINT 0/1 — the gate dtype rule).

    Scale: everything here is cells-width (never facts); the explode
    fans each cell to < ``levels`` rows of two ints.

    ``check_levels`` (default True, the merge_pyramids precedent)
    verifies the pyramid's resolution set is covered by
    ``base_res .. base_res+levels-1``: a pyramid built with MORE
    levels would make the declared coarsest level wrong, and cells
    above it would fail the leaf rule as plain 0s — a silently broken
    one-leaf-per-chain partition instead of an error. Pass False only
    when the caller built the pyramid with these exact parameters and
    must avoid the extra action."""
    if levels < 1:
        raise ValueError(f"levels must be >= 1, got {levels}")
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    res_max = base_res + levels - 1
    if check_levels:
        got = {r.res for r in pyr.select("res").distinct().collect()}
        want = set(range(base_res, res_max + 1))
        if not got <= want:
            raise ValueError(
                f"pyramid level set {sorted(got)} is not covered by "
                f"base_res={base_res}, levels={levels} "
                "(built with different parameters?)"
            )
    bcx = F.col("cell") % Y_STRIDE
    bcy = F.floor(F.col("cell") / Y_STRIDE).cast("long")
    # sequence(1, 0) would yield [1, 0] (negative step), so guard the
    # coarsest level with an empty array; explode_outer keeps its rows
    ks = F.when(
        F.col("res") < res_max,
        F.sequence(F.lit(1), F.lit(res_max) - F.col("res")),
    ).otherwise(F.array().cast("array<int>"))
    anc = pyr.select(
        "res",
        "cell",
        F.explode_outer(ks).alias("_k"),
        bcx.alias("_cx"),
        bcy.alias("_cy"),
    ).select(
        "res",
        "cell",
        (F.col("res") + F.col("_k")).alias("_ares"),
        # shiftright() in the DSL takes a literal shift; the per-row
        # ancestor distance needs the SQL form
        F.expr(
            f"shiftright(_cy, _k) * CAST({Y_STRIDE} AS BIGINT)"
            " + shiftright(_cx, _k)"
        ).alias("_acell"),
    )
    amin = (
        anc.join(
            pyr.select(
                F.col("res").alias("_ares"),
                F.col("cell").alias("_acell"),
                F.col("n").alias("_an"),
            ),
            ["_ares", "_acell"],
            "left",
        )
        .groupBy("res", "cell")
        .agg(F.min("_an").alias("_amin"))
    )
    leaf = (
        (F.col("res") == res_max) | (F.col("_amin") > cap)
    ) & ((F.col("n") <= cap) | (F.col("res") == base_res))
    return (
        pyr.join(amin, ["res", "cell"])
        .select(
            *pyr.columns,
            F.when(leaf, 1).otherwise(0).cast("long").alias("qt_leaf"),
        )
    )


def distance_transform_l1(
    pixels: DataFrame,
    tile_res: int = 23,
    px_res: int = 19,
    x: str = "gx",
    y: str = "gy",
) -> DataFrame:
    """Exact L1 (Manhattan) distance transform over the sparse raster
    — the proximity-raster primitive behind "distance to nearest road
    / POI / occupied cell" layers, buffer masks, and skeletonization
    pre-passes. For EVERY pixel of every occupied tile's dense
    ``npx × npx`` grid, the distance to the nearest occupied pixel
    within the SAME tile (the tile is the study area AND the
    partition unit — the ``morans_i`` convention, so no cross-
    partition adjacency is ever needed; occupied pixels get 0).

    The classic two-pass separable algorithm (Rosenfeld–Pfaltz),
    re-expressed so each pass is a pure RUNNING window aggregate
    instead of a sequential scan: the min-plus convolution with the
    slope-1 cone factors as

        min_{x' <= x} (g(x') + (x - x')) = x + cummin(g(x') - x')
        min_{x' >= x} (g(x') + (x' - x)) = -x + cummin_rev(g(x') + x')

    so the whole transform is FOUR ``min() OVER (... ROWS UNBOUNDED
    PRECEDING)`` scans (row pass forward/backward on the occupied
    seed, then column pass forward/backward on the row minima) — O(1)
    incremental state per row in Spark's UnboundedPreceding frame,
    zero joins beyond the occupied-mask left join, all exact int64,
    and the identical spelling runs in any SQL engine. The BIG
    sentinel stands in for +inf: a tile holds >= 1 occupied pixel, so
    every final distance is < 2·npx and the sentinel can never leak.

    Input: occupied pixels ``(x, y)`` in global pixel coordinates
    (duplicates fine). Output: ``(tile, px, py, dt)`` with px/py the
    within-tile pixel coords, one row per grid pixel of each occupied
    tile.

    Scale: per-tile dense grid is ``npx²`` rows (bounded by tile_res −
    px_res, never by data); the two window passes shuffle on
    (tile, py) then (tile, px) — high-cardinality, skew-free keys; no
    Python, no loop, no driver action."""
    npx = _check_res(tile_res, px_res)
    shift = tile_res - px_res
    mask = npx - 1
    big = 1 << 40
    occ = pixels.select(
        (
            F.shiftright(F.col(y), shift) * Y_STRIDE + F.shiftright(F.col(x), shift)
        ).alias("tile"),
        F.col(x).bitwiseAND(F.lit(mask)).alias("px"),
        F.col(y).bitwiseAND(F.lit(mask)).alias("py"),
        F.lit(True).alias("_occ"),
    ).distinct()
    grid = (
        occ.select("tile")
        .distinct()
        .select(
            "tile",
            F.explode(F.sequence(F.lit(0), F.lit(npx * npx - 1))).alias("_i"),
        )
        .select(
            "tile",
            F.col("_i").bitwiseAND(F.lit(mask)).alias("px"),
            F.shiftright(F.col("_i"), shift).alias("py"),
        )
    )
    g = grid.join(occ, ["tile", "px", "py"], "left")
    seed = F.when(F.col("_occ"), F.lit(0)).otherwise(F.lit(big))
    w_fwd = (
        Window.partitionBy("tile", "py")
        .orderBy("px")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_bwd = (
        Window.partitionBy("tile", "py")
        .orderBy(F.desc("px"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rowmin = F.least(
        F.col("px") + F.min(seed - F.col("px")).over(w_fwd),
        -F.col("px") + F.min(seed + F.col("px")).over(w_bwd),
    )
    rows = g.select("tile", "px", "py", rowmin.alias("_rm"))
    w_up = (
        Window.partitionBy("tile", "px")
        .orderBy("py")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_dn = (
        Window.partitionBy("tile", "px")
        .orderBy(F.desc("py"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dt = F.least(
        F.col("py") + F.min(F.col("_rm") - F.col("py")).over(w_up),
        -F.col("py") + F.min(F.col("_rm") + F.col("py")).over(w_dn),
    )
    return rows.select("tile", "px", "py", dt.cast("long").alias("dt"))


def blob_labels(
    pixels: DataFrame,
    x: str = "gx",
    y: str = "gy",
    max_iters: int = 40,
) -> DataFrame:
    """Connected-component labeling (blob detection) over a SPARSE
    raster: every occupied pixel gets ``blob`` = the minimum pixel key
    (``gy * Y_STRIDE + gx``) of its 4-connected component — the image
    segmentation primitive (contiguous built-up areas, connected
    water bodies, cloud masks) expressed as a graph problem on the
    occupied set, never a dense bitmap.

    Plan: each occupied pixel scatters to its east and north neighbour
    coordinates (map-side, 2 rows per pixel); an inner hash join back
    to the occupied set yields each adjacent pair exactly once; the
    components come from ``graph.components_pointer_jump`` (O(log
    blob-diameter) rounds — raster blobs are snakes, so plain
    propagation's O(diameter) is 14x more rounds, measured). Isolated
    pixels never enter the edge list and keep their own key via the
    final left join.

    Scale: the edge list is <= 2 x nnz narrow rows; every round
    shuffles O(nnz); nothing depends on the grid extent.

    The pixel key packs as ``gy * Y_STRIDE + gx``, which is injective
    only for 0 <= gx < Y_STRIDE (global pixels at px_res >= 16 — the
    same bound the tile packing guards with ``tile_res < 16``). A
    finer grid would silently collide keys and merge blobs, so the
    range is CHECKED (one extra cells-width aggregate before the
    loop's many actions) rather than documented away."""
    rng = pixels.agg(
        F.min(F.col(x)).alias("_lo"), F.max(F.col(x)).alias("_hi")
    ).collect()[0]
    if rng["_lo"] is not None and (rng["_lo"] < 0 or rng["_hi"] >= Y_STRIDE):
        raise ValueError(
            f"blob_labels: gx range [{rng['_lo']}, {rng['_hi']}] breaks the "
            f"gy*{Y_STRIDE}+gx key packing (needs 0 <= gx < {Y_STRIDE}; "
            "use px_res >= 16)"
        )
    key = (F.col(y) * Y_STRIDE + F.col(x)).alias("k")
    pix = pixels.select(F.col(x), F.col(y), key)
    offs = F.array(
        F.struct(F.lit(1).alias("dx"), F.lit(0).alias("dy")),
        F.struct(F.lit(0).alias("dx"), F.lit(1).alias("dy")),
    )
    nbr = pix.select(
        F.col("k").alias("id_a"), F.explode(offs).alias("_o"), F.col(x), F.col(y)
    ).select(
        "id_a",
        ((F.col(y) + F.col("_o.dy")) * Y_STRIDE + (F.col(x) + F.col("_o.dx"))).alias(
            "id_b"
        ),
    )
    edges = nbr.join(
        pix.select(F.col("k").alias("id_b")), "id_b", "inner"
    ).select("id_a", "id_b")

    from .graph import components_pointer_jump

    comps = components_pointer_jump(edges, max_iters=max_iters)
    return (
        pixels.join(
            comps.withColumnRenamed("id", "k"),
            pixels[y] * Y_STRIDE + pixels[x] == F.col("k"),
            "left",
        )
        .drop("k")
        .withColumn(
            "blob",
            F.coalesce(F.col("label"), F.col(y) * Y_STRIDE + F.col(x)),
        )
        .drop("label")
    )


def rasterize_line(segs: DataFrame, px_res: int = 19) -> DataFrame:
    """Vector -> raster, LINE leg (next to ``rasterize_points`` and
    ``rasterize_polygon``): the rounded-DDA pixel trace of every
    segment — the distributed ST_AsRaster(line) / Bresenham step a
    burn-in or viewshed pipeline runs over a road layer.

    ``segs`` is the clip.way_segments shape (group_id, pos, x1, y1,
    x2, y2, decimicro ints).  Each segment's endpoints drop onto the
    ``px_res`` pixel grid and the trace is the CLOSED FORM rounded
    linear interpolation over n = max(|dpx|, |dpy|) steps:

        px(j) = px1 + sgn(dpx) * ((2*j*|dpx| + n) // (2*n)),  j = 0..n

    (and the same for y) — round-half-up on the absolute delta with the
    sign applied outside, every operand NON-NEGATIVE so Spark's `div`
    (truncating) and DuckDB's `//` (flooring) agree, making the trace
    bit-reproducible cross-engine with no iterative error accumulator
    (classic Bresenham's running error term is sequential state; the
    closed form is embarrassingly parallel).  Contract: 8-connected
    (the dominant axis advances exactly 1 per step, the other 0 or 1),
    endpoints exact, n+1 pixels per segment with NO within-segment
    duplicates; consecutive segments re-emit their shared vertex pixel
    (callers distinct per group when burning).

    Returns (group_id, pos, j, px, py).  Pure map-side codegen explode
    — output-proportional fan-out, zero shuffle, no Python."""
    if not 0 <= px_res < 32:
        raise ValueError(f"px_res out of range: {px_res}")
    px1 = F.shiftright(F.col("x1") + LON_OFFSET, px_res)
    px2 = F.shiftright(F.col("x2") + LON_OFFSET, px_res)
    py1 = F.shiftright(F.col("y1") + LAT_OFFSET, px_res)
    py2 = F.shiftright(F.col("y2") + LAT_OFFSET, px_res)
    base = segs.select(
        "group_id",
        "pos",
        px1.alias("_px1"),
        py1.alias("_py1"),
        (px2 - px1).alias("_dx"),
        (py2 - py1).alias("_dy"),
    ).withColumn("_n", F.greatest(F.abs("_dx"), F.abs("_dy")))
    stepped = base.select(
        "group_id",
        "pos",
        "_px1",
        "_py1",
        "_dx",
        "_dy",
        "_n",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("_n"))).alias("j"),
    )

    def axis(p1: str, d: str):
        sgn = F.when(F.col(d) >= 0, F.lit(1)).otherwise(F.lit(-1))
        off = F.when(
            F.col("_n") > 0,
            F.expr(f"(2 * j * abs({d}) + _n) div (2 * _n)"),
        ).otherwise(F.lit(0))
        return F.col(p1) + sgn * off

    return stepped.select(
        "group_id",
        "pos",
        "j",
        axis("_px1", "_dx").alias("px"),
        axis("_py1", "_dy").alias("py"),
    )


# D8 direction codes, counterclockwise from east: d -> (dx, dy).
D8_OFFSETS = (
    (1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (-1, -1), (0, -1), (1, -1),
)


def d8_flow(
    pixels: DataFrame,
    tile_res: int = 23,
    px_res: int = 19,
    x: str = "gx",
    y: str = "gy",
    v: str = "n",
    max_rounds: int = 64,
) -> DataFrame:
    """D8 flow direction + flow accumulation — the raster-hydrology
    primitive pair (GRASS r.watershed / ArcGIS FlowDirection +
    FlowAccumulation) over the sparse density raster, exact-integer
    throughout.  The tile's value surface is the elevation model
    (``v``, empty cells absent); each occupied pixel flows to its
    steepest strictly-DOWNHILL occupied 8-neighbour within the SAME
    tile (the tile is the study area and the partition unit — the
    ``morans_i`` / ``viewshed`` convention).  D8's drop/distance
    steepness compare (diagonal distance √2) is cross-multiplied into
    integers: for positive drops, ``drop_c / 1 > drop_d / √2  ⇔
    2·drop_c² > drop_d²``, so the argmax key is ``w·drop²`` with w=2
    for cardinal and w=1 for diagonal neighbours — no floats, no
    engine drift.  Ties break to the smallest direction code (E, NE,
    N, NW, W, SW, S, SE = 0..7).  Pixels with no occupied lower
    neighbour are pits (``d8_dir`` null).

    Flow accumulation is the classic "number of cells draining
    through" (self included): the flow edges form a functional forest
    (strict descent ⇒ acyclic), and ``acc`` is computed by the
    monotone in-tree fixpoint ``acc ← 1 + Σ acc(upstream)``, which
    after k rounds counts ancestors within k hops and converges in
    longest-flow-path rounds.  Convergence is certified by the global
    Σacc (strictly increasing until fixed); ONE count action per
    round, every frontier localCheckpoint-truncated (the
    ``dedup_components`` discipline), RuntimeError past
    ``max_rounds`` rather than returning a partial accumulation.

    Output: one row per occupied pixel — ``(tile, px, py, elev,
    d8_dir, acc)`` with px/py the within-tile coords.

    Scale: the neighbour argmax is one 8-offset map-side scatter + one
    hash equi-join + one max(struct) agg (~8·nnz narrow rows, the
    ``focal_sum`` shape); each accumulation round shuffles only edge
    rows.  Rounds = longest flow path, bounded by the per-tile
    distinct-elevation count (strict descent) and in practice by the
    tile diagonal — independent of the NUMBER of tiles, which scale
    out embarrassingly."""
    base, flow, edges = _d8_frames(pixels, tile_res, px_res, x, y, v)
    acc = base.select(
        "tile", "px", "py", F.lit(1).cast("long").alias("acc")
    ).localCheckpoint(eager=True)
    prev_total = acc.count()  # sum of acc at round 0 (all ones)
    for _ in range(max_rounds):
        contrib = (
            edges.join(
                acc.select(
                    "tile",
                    F.col("px").alias("_ux"),
                    F.col("py").alias("_uy"),
                    F.col("acc").alias("_ua"),
                ),
                ["tile", "_ux", "_uy"],
                "inner",
            )
            .groupBy("tile", F.col("_vx").alias("px"), F.col("_vy").alias("py"))
            .agg(F.sum("_ua").alias("_in"))
        )
        acc = (
            base.select("tile", "px", "py")
            .join(contrib, ["tile", "px", "py"], "left")
            .select(
                "tile",
                "px",
                "py",
                (F.lit(1) + F.coalesce(F.col("_in"), F.lit(0)))
                .cast("long")
                .alias("acc"),
            )
            .localCheckpoint(eager=True)
        )
        total = acc.agg(F.sum("acc").alias("s")).first()["s"]
        if total == prev_total:
            break
        prev_total = total
    else:
        raise RuntimeError(
            f"d8_flow accumulation did not converge in {max_rounds} rounds"
        )
    return flow.join(acc, ["tile", "px", "py"]).select(
        "tile", "px", "py", "elev", "d8_dir", "acc"
    )


def _d8_frames(
    pixels: DataFrame, tile_res: int, px_res: int, x: str, y: str, v: str
):
    """Shared D8 core: within-tile pixel frame ``base`` (tile, px, py,
    elev), ``flow`` = base + the argmax ``d8_dir`` (null = pit), and
    the checkpointed downstream edge frame ``edges`` (tile, _ux, _uy,
    _vx, _vy) — reused by ``d8_flow`` (accumulation) and
    ``d8_basins`` (watershed labeling)."""
    npx = _check_res(tile_res, px_res)
    shift = tile_res - px_res
    mask = npx - 1
    base = pixels.select(
        (
            F.shiftright(F.col(y), shift) * Y_STRIDE + F.shiftright(F.col(x), shift)
        ).alias("tile"),
        F.col(x).bitwiseAND(F.lit(mask)).alias("px"),
        F.col(y).bitwiseAND(F.lit(mask)).alias("py"),
        F.col(v).cast("long").alias("elev"),
    )
    offs = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                F.lit(dx).alias("dx"),
                F.lit(dy).alias("dy"),
                F.lit(2 if dx == 0 or dy == 0 else 1).alias("w"),
            )
            for d, (dx, dy) in enumerate(D8_OFFSETS)
        ]
    )
    cand = (
        base.select("tile", "px", "py", "elev", F.explode(offs).alias("_o"))
        .select(
            "tile",
            "px",
            "py",
            "elev",
            F.col("_o.d").alias("_d"),
            F.col("_o.w").alias("_w"),
            (F.col("px") + F.col("_o.dx")).alias("_tx"),
            (F.col("py") + F.col("_o.dy")).alias("_ty"),
        )
        .join(
            base.select(
                F.col("tile").alias("_tb"),
                F.col("px").alias("_tx"),
                F.col("py").alias("_ty"),
                F.col("elev").alias("_ne"),
            ),
            ["_tx", "_ty"],
            "inner",
        )
        .filter((F.col("tile") == F.col("_tb")) & (F.col("_ne") < F.col("elev")))
    )
    drop = F.col("elev") - F.col("_ne")
    best = (
        cand.select(
            "tile",
            "px",
            "py",
            F.struct(
                (F.col("_w") * drop * drop).alias("k"),
                (F.lit(7) - F.col("_d")).alias("nd"),
            ).alias("_c"),
        )
        .groupBy("tile", "px", "py")
        .agg(F.max("_c").alias("_m"))
        .select("tile", "px", "py", (F.lit(7) - F.col("_m.nd")).alias("d8_dir"))
    )
    flow = base.join(best, ["tile", "px", "py"], "left")
    dxe = F.element_at(
        F.array(*[F.lit(dx) for dx, _ in D8_OFFSETS]), F.col("d8_dir").cast("int") + 1
    )
    dye = F.element_at(
        F.array(*[F.lit(dy) for _, dy in D8_OFFSETS]), F.col("d8_dir").cast("int") + 1
    )
    edges = (
        flow.filter(F.col("d8_dir").isNotNull())
        .select(
            "tile",
            F.col("px").alias("_ux"),
            F.col("py").alias("_uy"),
            (F.col("px") + dxe).alias("_vx"),
            (F.col("py") + dye).alias("_vy"),
        )
        .localCheckpoint(eager=True)
    )
    return base, flow, edges


def d8_basins(
    pixels: DataFrame,
    tile_res: int = 23,
    px_res: int = 19,
    x: str = "gx",
    y: str = "gy",
    v: str = "n",
    max_rounds: int = 20,
) -> DataFrame:
    """Watershed basin labeling over the D8 flow graph (the basins
    half of GRASS r.watershed): every occupied pixel is labeled by the
    PIT its flow path terminates in — ``basin`` = the terminal pixel's
    within-tile key ``py·npx + px``, so a pit's label is its own key
    and the basin count per tile equals the pit count.  Shares the
    exact D8 direction semantics of ``d8_flow`` (``_d8_frames``).

    The flow graph is a functional forest (strict descent), so root
    labels are computed by POINTER DOUBLING: every pixel starts
    pointing at its next cell (pits at themselves), and each round
    replaces the pointer with the pointer's pointer — after k rounds a
    pixel points 2^k steps downstream, so convergence takes
    ⌈log₂(longest path)⌉ rounds (vs the linear rounds of the
    accumulation fixpoint, which cannot pointer-double because it
    aggregates over PATH PREFIXES, not endpoints).  One self-join +
    one changed-count action per round, localCheckpoint-truncated;
    RuntimeError past ``max_rounds`` (2^20 steps).

    Output: ``(tile, px, py, basin)``, one row per occupied pixel.

    Scale: state is one pointer row per occupied pixel; each round is
    one self equi-join on the (tile, pointer) key — O(log path) rounds
    of O(nnz) narrow shuffles; tiles independent."""
    npx = _check_res(tile_res, px_res)
    base, _flow, edges = _d8_frames(pixels, tile_res, px_res, x, y, v)
    ptr = (
        base.select("tile", "px", "py")
        .join(
            edges.select(
                "tile",
                F.col("_ux").alias("px"),
                F.col("_uy").alias("py"),
                "_vx",
                "_vy",
            ),
            ["tile", "px", "py"],
            "left",
        )
        .select(
            "tile",
            "px",
            "py",
            F.coalesce(F.col("_vx"), F.col("px")).alias("tx"),
            F.coalesce(F.col("_vy"), F.col("py")).alias("ty"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        hop = ptr.select(
            F.col("tile").alias("_jt"),
            F.col("px").alias("_jx"),
            F.col("py").alias("_jy"),
            F.col("tx").alias("_ntx"),
            F.col("ty").alias("_nty"),
        )
        nxt = ptr.join(
            hop,
            (F.col("tile") == F.col("_jt"))
            & (F.col("tx") == F.col("_jx"))
            & (F.col("ty") == F.col("_jy")),
            "inner",
        ).select(
            "tile", "px", "py", "tx", "ty", "_ntx", "_nty"
        ).localCheckpoint(eager=True)
        changed = nxt.filter(
            (F.col("_ntx") != F.col("tx")) | (F.col("_nty") != F.col("ty"))
        ).count()
        ptr = nxt.select(
            "tile",
            "px",
            "py",
            F.col("_ntx").alias("tx"),
            F.col("_nty").alias("ty"),
        )
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"d8_basins pointer doubling did not converge in {max_rounds} rounds"
        )
    return ptr.select(
        "tile",
        "px",
        "py",
        (F.col("ty") * npx + F.col("tx")).cast("long").alias("basin"),
    )


#: marching-squares segment count per 4-bit corner case, bit layout
#: b0=SW(0,0) b1=SE(1,0) b2=NW(0,1) b3=NE(1,1): empty/full 0, the two
#: diagonal saddles (b0+b3=9, b1+b2=6) 2, every other mixed case 1.
MS_SEGMENTS = tuple(
    0 if c in (0, 15) else 2 if c in (6, 9) else 1 for c in range(16)
)


def marching_squares(
    pixels: DataFrame,
    tile_res: int = 23,
    px_res: int = 19,
    thr: int = 1,
    x: str = "gx",
    y: str = "gy",
    v: str = "n",
) -> DataFrame:
    """Marching-squares contour census over the sparse raster — the
    iso-line extraction primitive (GDAL contour / skimage
    find_contours) reduced to its exact-integer combinatorial core.
    Every 2×2 pixel window fully inside a tile whose corners are not
    all below ``thr`` gets its 4-bit case (bit set ⇔ corner value ≥
    thr; bit layout b0=SW b1=SE b2=NW b3=NE) and the contour-segment
    count the case emits: 0 for empty/full, 2 for the two diagonal
    saddles (cases 6 and 9 in this layout — resolved unambiguously as
    two segments, the census convention), 1 otherwise.  All-below-thr
    windows are excluded (the sparse complement; their count is
    derivable as (npx−1)² − emitted per tile).

    Output: one row per emitted window — ``(tile, wx, wy, mcase,
    segs)`` with (wx, wy) the window's SW corner in within-tile
    coords, 0 ≤ wx, wy ≤ npx−2.

    Plan: each occupied pixel scatters to the ≤4 windows it corners
    (map-side literal-offset explode, the ``focal_sum`` adjoint
    shape), one hash agg summing the bit contributions — ~4·nnz
    narrow rows, no dense grid, no Python, exact int64.  Scale: per
    occupied pixel, never per grid cell; tiles independent."""
    npx = _check_res(tile_res, px_res)
    shift = tile_res - px_res
    mask = npx - 1
    base = pixels.select(
        (
            F.shiftright(F.col(y), shift) * Y_STRIDE + F.shiftright(F.col(x), shift)
        ).alias("tile"),
        F.col(x).bitwiseAND(F.lit(mask)).alias("px"),
        F.col(y).bitwiseAND(F.lit(mask)).alias("py"),
        F.col(v).cast("long").alias("_pv"),
    )
    # corner offset (cx, cy) of the pixel within window (px-cx, py-cy)
    corners = F.array(
        *[
            F.struct(F.lit(cx).alias("cx"), F.lit(cy).alias("cy"))
            for cy in (0, 1)
            for cx in (0, 1)
        ]
    )
    scat = (
        base.select("tile", "px", "py", "_pv", F.explode(corners).alias("_c"))
        .select(
            "tile",
            (F.col("px") - F.col("_c.cx")).alias("wx"),
            (F.col("py") - F.col("_c.cy")).alias("wy"),
            F.when(
                F.col("_pv") >= thr,
                F.element_at(
                    F.array(F.lit(1), F.lit(2), F.lit(4), F.lit(8)),
                    (F.col("_c.cx") + 2 * F.col("_c.cy")).cast("int") + 1,
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("_bit"),
        )
        .filter(
            (F.col("wx") >= 0)
            & (F.col("wy") >= 0)
            & (F.col("wx") <= npx - 2)
            & (F.col("wy") <= npx - 2)
        )
    )
    segs = F.element_at(
        F.array(*[F.lit(s) for s in MS_SEGMENTS]), F.col("mcase").cast("int") + 1
    )
    return (
        scat.groupBy("tile", "wx", "wy")
        .agg(F.sum("_bit").alias("mcase"))
        .filter(F.col("mcase") > 0)
        .select("tile", "wx", "wy", "mcase", segs.cast("long").alias("segs"))
    )


#: Horn 3x3 kernel weights: contribution of the neighbour at offset o
#: (relative to the TARGET pixel) to the target's (sx, sy) gradient
#: numerators — sx = (NE + 2E + SE) - (NW + 2W + SW), sy = (NW + 2N +
#: NE) - (SW + 2S + SE); the center pixel has weight 0 in both.
HORN_WEIGHTS = (
    ((1, 0), 2, 0), ((1, 1), 1, 1), ((1, -1), 1, -1),
    ((-1, 0), -2, 0), ((-1, 1), -1, 1), ((-1, -1), -1, -1),
    ((0, 1), 0, 2), ((0, -1), 0, -2),
)


def slope_aspect(
    pixels: DataFrame,
    tile_res: int = 23,
    px_res: int = 19,
    x: str = "gx",
    y: str = "gy",
    v: str = "n",
) -> DataFrame:
    """Horn slope/aspect (gdaldem slope/aspect, Horn '81) over the
    sparse raster, reduced to exact integers: for every INTERIOR pixel
    of an occupied tile's dense grid (1 ≤ px, py ≤ npx−2; border
    pixels have no full 3×3 window) with at least one occupied
    8-neighbour, the Horn gradient NUMERATORS

        sx = (NE + 2·E + SE) − (NW + 2·W + SW)
        sy = (NW + 2·N + NE) − (SW + 2·S + SE)

    (absent pixels contribute 0; the /8·cellsize slope denominator is
    a global constant, so ``slope2`` = sx² + sy² carries the exact
    squared-slope ordering).  ``oct`` is the gradient-direction octant
    k = ⌊atan2(sy, sx) / 45°⌋ ∈ 0..7, decided by PURE SIGN AND
    MAGNITUDE COMPARES (half-open [k·45°, (k+1)·45°) sectors anchored
    at east — the 45°-grid convention, NOT the 22.5°-offset
    cartographic rose, whose boundaries are irrational in the grid);
    null when sx = sy = 0 (flat).  Verified by the exact rotation
    property: (sx, sy) → (sx−sy, sx+sy) rotates by +45° and must map
    k → k+1 (mod 8).

    Output: one row per interior pixel RECEIVING ≥1 contribution —
    ``(tile, px, py, sx, sy, slope2, oct)``; interior pixels with a
    fully-empty neighbourhood are flat by definition and derivable as
    (npx−2)² − emitted per tile (the sparse complement).

    Plan: one 8-offset weighted scatter (the ``focal_sum`` adjoint) +
    ONE hash agg on the target key + the interior filter — ~8·nnz
    narrow rows, no dense grid, no Python; tiles independent."""
    npx = _check_res(tile_res, px_res)
    shift = tile_res - px_res
    mask = npx - 1
    base = pixels.select(
        (
            F.shiftright(F.col(y), shift) * Y_STRIDE + F.shiftright(F.col(x), shift)
        ).alias("tile"),
        F.col(x).bitwiseAND(F.lit(mask)).alias("px"),
        F.col(y).bitwiseAND(F.lit(mask)).alias("py"),
        F.col(v).cast("long").alias("_pv"),
    )
    offs = F.array(
        *[
            F.struct(
                F.lit(ox).alias("ox"),
                F.lit(oy).alias("oy"),
                F.lit(wx).alias("wx"),
                F.lit(wy).alias("wy"),
            )
            for (ox, oy), wx, wy in HORN_WEIGHTS
        ]
    )
    grad = (
        base.select("tile", "px", "py", "_pv", F.explode(offs).alias("_o"))
        .select(
            "tile",
            (F.col("px") - F.col("_o.ox")).alias("px"),
            (F.col("py") - F.col("_o.oy")).alias("py"),
            (F.col("_pv") * F.col("_o.wx")).alias("_cx"),
            (F.col("_pv") * F.col("_o.wy")).alias("_cy"),
        )
        .filter(
            (F.col("px") >= 1)
            & (F.col("py") >= 1)
            & (F.col("px") <= npx - 2)
            & (F.col("py") <= npx - 2)
        )
        .groupBy("tile", "px", "py")
        .agg(
            F.sum("_cx").cast("long").alias("sx"),
            F.sum("_cy").cast("long").alias("sy"),
        )
    )
    sx, sy = F.col("sx"), F.col("sy")
    oct_ = (
        F.when((sx == 0) & (sy == 0), F.lit(None).cast("long"))
        .when((sx > 0) & (sy >= 0) & (sy < sx), F.lit(0))
        .when((sy > 0) & (sx > 0), F.lit(1))
        .when((sy > 0) & (sx <= 0) & (-sx < sy), F.lit(2))
        .when((sy > 0), F.lit(3))
        .when((sy <= 0) & (sx < 0) & (-sy < -sx), F.lit(4))
        .when((sy < 0) & (sx < 0), F.lit(5))
        .when((sy < 0) & (sx >= 0) & (sx < -sy), F.lit(6))
        .otherwise(F.lit(7))
        .cast("long")
    )
    return grad.select(
        "tile",
        "px",
        "py",
        "sx",
        "sy",
        (sx * sx + sy * sy).cast("long").alias("slope2"),
        oct_.alias("oct"),
    )
