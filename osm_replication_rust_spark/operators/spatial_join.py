"""Cell-prefilter spatial join: points x region multipolygons.

This is the engine's flagship operator — the set-based re-expression of
the reference's per-element polygon filter
(/root/reference/src/osmxml/filter.rs:118-192, driven per-region by
/root/reference/src/diffs.rs:113-131). Shape:

1. drop points outside the union of the regions' buffered bboxes (a
   range filter, which a parquet scan can push down) and encode each
   remaining point's cell id at the probe level — pure JVM integer
   arithmetic (functions/coords.cell_id), stays in whole-stage codegen;
2. equi-join against the broadcast (region_id, region_idx, cell, full,
   in_poly) cover table (operators/cells.py) — a broadcast hash join, NO
   shuffle of the big side; points in absent cells are eliminated inside
   the join;
3. rows landing in ``full`` or ``buffer_only`` cells are decided by the
   join alone (``in_poly`` from the cover, ``in_buffer`` true);
4. rows landing in ``straddling`` cells are refined with exact int64
   point-in-polygon and buffered membership per region. With
   strategy='udf' every joined row goes through ONE Arrow-native numpy
   kernel: decided rows carry region index -1, which the kernel skips,
   so the points are scanned and probed once and only straddling rows
   pay for geometry. With strategy='expr' the straddling rows take
   compiled JVM expressions on a second branch of a union, which
   scans the points a second time.

Probe level: ``assign_regions`` joins at the finest level from ``res``
down to ``cells.PROBE_FINEST_RES`` whose cover fits
``cells.PROBE_MAX_ROWS`` rows. The output does not depend on the level;
the refined rows do: on the fixture hierarchy with the 0.1° buffer the
probe is res 17 (44,476 cover rows), whose straddling cells cover about
6.5x less area than res 20's.

Cache: the cover (pandas, per regions content, res and buffer) and the
membership UDF with its geometry broadcast (per SparkContext as well)
are built once and reused by every later call — see ``_JoinCache``.

Scale notes (100 TB / 1000 executors):
- the big side is never shuffled: cell encode is a map, the join is
  broadcast, the refine is a map. The whole operator is one stage
  (with strategy='udf' also one scan of the points).
- region skew is irrelevant (broadcast side); *point* skew (mega-cells)
  doesn't matter either because there is no shuffle by cell — cells are
  only a join key into the broadcast table.
- the broadcast cover table grows with region count x resolution; the
  probe's row budget keeps it bounded, trading refine rows for
  broadcast size.
"""

from __future__ import annotations

import hashlib
import threading
from collections import OrderedDict

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.coords import DEFAULT_RES, cell_id
from ..functions.geometry import (
    BUFFER_DECIMICRO,
    MultiPolygon,
    points_in_buffered_polygon,
    points_in_buffered_polygon_8seg,
    points_in_polygon,
)
from .cells import PROBE_FINEST_RES, build_cover

_COVER_SCHEMA = T.StructType(
    [
        T.StructField("region_id", T.StringType(), False),
        T.StructField("region_idx", T.IntegerType(), False),
        T.StructField("cell", T.LongType(), False),
        T.StructField("full", T.BooleanType(), False),
        T.StructField("in_poly", T.BooleanType(), False),
    ]
)


def _regions_key(regions: list[MultiPolygon]) -> bytes:
    """Digest of the regions' ids and ring coordinates: equal regions
    built by different callers share one cache entry."""
    h = hashlib.blake2b(digest_size=16)
    for mp in regions:
        h.update(mp.region_id.encode() + b"\0")
        for ring in mp.rings:
            coords = np.ascontiguousarray(ring.coords, dtype=np.int64)
            h.update(b"h" if ring.hole else b"r")
            h.update(len(coords).to_bytes(8, "little") + coords.tobytes())
    return h.digest()


class _JoinCache:
    """What ``assign_regions`` derives from the regions alone, kept
    across calls so a long-lived process (repeated in-process
    ``update`` calls, a benchmark loop) builds it once:

    - covers as pandas frames, keyed by (regions, res, buffer) — plain
      data, valid for any session;
    - per SparkContext: the membership UDF with its geometry broadcast,
      keyed by (regions, buffer, buffer_mode), and each session's cover
      DataFrame made from the pandas frame. A new context (the session
      was stopped and started again) drops them all.

    Each table keeps the ``CAPACITY`` most recently used entries. An
    evicted broadcast is dropped, not destroyed, since a plan built
    earlier may still run it; it is freed with its SparkContext."""

    CAPACITY = 32

    def __init__(self):
        self._lock = threading.Lock()
        self._covers: OrderedDict = OrderedDict()
        self._live: OrderedDict = OrderedDict()
        self._sc: SparkContext | None = None

    def _lookup(self, table: OrderedDict, key, build):
        if key in table:
            table.move_to_end(key)
            return table[key]
        value = table[key] = build()
        if len(table) > self.CAPACITY:
            table.popitem(last=False)
        return value

    def _cover(self, regions: list[MultiPolygon], res: int, buffer: int) -> pd.DataFrame:
        key = ("cover", _regions_key(regions), res, buffer)
        return self._lookup(self._covers, key, lambda: build_cover(regions, res, buffer)[1])

    def _live_lookup(self, spark: SparkSession, key, build):
        if spark.sparkContext is not self._sc:
            self._live.clear()
            self._sc = spark.sparkContext
        return self._lookup(self._live, key, build)

    def probe_res(self, regions: list[MultiPolygon], res: int, buffer: int) -> int:
        """The probe level of ``build_cover`` from ``res`` down to
        PROBE_FINEST_RES; its frame is kept as the cover at that level."""
        rkey = _regions_key(regions)

        def build():
            level, frame = build_cover(regions, res, buffer, PROBE_FINEST_RES)
            self._lookup(self._covers, ("cover", rkey, level, buffer), lambda: frame)
            return level

        with self._lock:
            return self._lookup(self._covers, ("probe", rkey, res, buffer), build)

    def cover_df(
        self, spark: SparkSession, regions: list[MultiPolygon], res: int, buffer: int
    ) -> DataFrame:
        # via pandas -> Arrow: a columnar local relation, not a Python RDD
        with self._lock:
            return self._live_lookup(
                spark,
                ("cover_df", spark, _regions_key(regions), res, buffer),
                lambda: spark.createDataFrame(
                    self._cover(regions, res, buffer), schema=_COVER_SCHEMA
                ),
            )

    def membership_udf(
        self, spark: SparkSession, regions: list[MultiPolygon], buffer: int, buffer_mode: str
    ):
        sc = spark.sparkContext
        with self._lock:
            return self._live_lookup(
                spark,
                ("udf", _regions_key(regions), buffer, buffer_mode),
                lambda: _membership_udf(sc.broadcast(list(regions)), buffer, buffer_mode),
            )


_CACHE = _JoinCache()


def cover_df(
    spark: SparkSession,
    regions: list[MultiPolygon],
    res: int = DEFAULT_RES,
    buffer: int = 0,
) -> DataFrame:
    """Covering cells of every region at ``res`` (``cells.build_cover``),
    with a dense integer region index: the refine kernel keys on the int
    (vectorized batch grouping), the string region_id rides along only
    for the final output. ``full`` marks the cells decided by the join
    alone, ``in_poly`` those inside the polygon."""
    return _CACHE.cover_df(spark, regions, res, buffer)


def _membership_udf(geo_bc, buffer: int, buffer_mode: str = "exact"):
    """Arrow-native membership kernel (``pyarrow`` arrays in, a
    ``pa.StructArray`` of (in_poly, in_buffer) out; no pandas). The
    region geometries ride the Spark broadcast ``geo_bc`` (pickled once
    per executor, not per task); the batch is grouped by the dense
    integer region index (numpy sort-based grouping — no python string
    comparisons in the hot path).

    Rows whose region index is ``-1`` were decided by the cover join:
    the kernel skips them and returns (False, False), which the caller
    ignores, so only straddling rows pay for the geometry tests.

    ``buffer_mode``: 'exact' tests distance <= buffer (the default);
    '8seg' reproduces the reference's GEOS buffer(d, quad_segs=8)
    chord-approximated region (functions.geometry.
    points_in_buffered_polygon_8seg) — see buffer_sliver_mask for the
    quantified difference."""
    if buffer_mode not in ("exact", "8seg"):
        raise ValueError(f"buffer_mode must be exact|8seg, got {buffer_mode!r}")
    buffered_fn = (
        points_in_buffered_polygon
        if buffer_mode == "exact"
        else points_in_buffered_polygon_8seg
    )
    out_type = pa.struct(
        [pa.field("in_poly", pa.bool_(), False), pa.field("in_buffer", pa.bool_(), False)]
    )

    @F.arrow_udf("in_poly boolean not null, in_buffer boolean not null")
    def member(region_idx: pa.Array, lon: pa.Array, lat: pa.Array) -> pa.Array:
        ridx = region_idx.to_numpy()
        out_poly = np.zeros(len(ridx), dtype=bool)
        out_buf = np.zeros(len(ridx), dtype=bool)
        live = np.flatnonzero(ridx >= 0)
        if len(live):
            geos = geo_bc.value
            lon_np = lon.to_numpy()[live]
            lat_np = lat.to_numpy()[live]
            live_ridx = ridx[live]
            for rix in np.unique(live_ridx):
                mp = geos[rix]
                jj = np.flatnonzero(live_ridx == rix)
                x, y = lon_np[jj], lat_np[jj]
                inp = points_in_polygon(x, y, mp)
                ii = live[jj]
                out_poly[ii] = inp
                out_buf[ii] = buffered_fn(x, y, mp, buffer, inside=inp) if buffer else inp
        return pa.StructArray.from_arrays(
            [pa.array(out_poly), pa.array(out_buf)], fields=list(out_type)
        )

    # deterministic in truth, but marked nondeterministic ON PURPOSE:
    # otherwise Catalyst substitutes the UDF into every expression that
    # references the struct (filter + projection), producing TWO chained
    # ArrowEvalPython stages — measured 20x slower on the refine path.
    # Nondeterministic expressions are never duplicated or pushed into.
    return member.asNondeterministic()


def _auto_strategy(spark: SparkSession) -> str:
    """Default refine strategy by deployment topology: Arrow numpy
    kernel in a single JVM (``local[N]`` — fastest measured there,
    no multi-executor scaling question), compiled JVM expressions on
    every multi-executor master (the certified-scaling configuration,
    BENCH.md round-3 iso-load decomposition: 0.96 engine-attributable
    N->4N efficiency)."""
    return _auto_strategy_for_master(spark.conf.get("spark.master", ""))


def _auto_strategy_for_master(master: str) -> str:
    # "local" / "local[N]" / "local[*]" are one JVM; "local-cluster[...]",
    # "spark://", "yarn", "k8s://" all run separate executor processes
    is_single_jvm = master == "local" or (
        master.startswith("local[") and not master.startswith("local-cluster")
    )
    return "udf" if is_single_jvm else "expr"


def assign_regions(
    points: DataFrame,
    regions: list[MultiPolygon],
    lon_col: str | Column = "lon",
    lat_col: str | Column = "lat",
    res: int = DEFAULT_RES,
    buffer: int = BUFFER_DECIMICRO,
    keep_cols: list[str] | None = None,
    strategy: str = "auto",
    buffer_mode: str = "exact",
) -> DataFrame:
    """Assign every point to every region whose buffered polygon contains
    it. Output: ``keep_cols + (region_id, in_poly, in_buffer)`` with one
    row per (point, matching region); points matching nothing produce no
    rows (they were 'dropped' in reference terms).

    ``res``: the coarsest cell level probed; the join runs at the finest
    level from ``res`` down to 16 whose cover fits the row budget (see
    the module docstring). The output is the same at every level.

    ``strategy``: how boundary-cell rows are refined —
    - 'udf'  : Arrow-batched numpy kernel (vectorized over the batch)
    - 'expr' : geometry compiled to Catalyst expressions (pure JVM;
               raycast unrolled, buffer distance via F.exists HOF so
               the stage stays under the JVM 64 KB method limit)
    - 'auto' : resolved BY MASTER so the default config always runs
               the configuration whose scaling story is certified:
               * single-JVM ``local[N]`` masters -> 'udf' — MEASURED
                 faster there, not assumed: at 32 threads / 30M rows /
                 quiet host the numpy refine ran 26.3M rows/s vs
                 11.0M for the compiled expressions (the HOF buffer
                 loop is CodegenFallback; numpy amortizes per Arrow
                 batch). One process, no cross-executor scaling
                 question exists.
               * multi-executor masters (local-cluster, standalone,
                 yarn, k8s) -> 'expr' — the iso-load decomposition
                 (tools/bench_isoload.py, BENCH.md round 3) certifies
                 its engine-attributable N->4N scaling at 0.96>=0.8;
                 the Arrow path's multi-executor scaling could not be
                 certified on this host (bimodal independent-jobs arm)
                 and additionally shares each core budget between JVM
                 task threads, Arrow writers, and python workers.
               Pass an explicit strategy to override either choice.

    ``buffer_mode`` ('udf' strategy only): 'exact' = distance <= buffer;
    '8seg' = the reference's GEOS chord-approximated buffer (see
    _membership_udf). The 'expr' strategy compiles the exact rule.
    """
    from ..functions.geo_expr import membership_exprs

    spark = points.sparkSession
    lon = F.col(lon_col) if isinstance(lon_col, str) else lon_col
    lat = F.col(lat_col) if isinstance(lat_col, str) else lat_col
    keep_cols = keep_cols or [c for c in points.columns]
    if strategy == "auto":
        strategy = _auto_strategy(spark)

    probe = _CACHE.probe_res(regions, res, buffer)
    if regions:
        # a point outside the regions' buffered bbox matches no cover
        # cell: four comparisons drop it before the hash probe
        bboxes = [mp.bbox for mp in regions]
        minx, miny = (min(b[i] for b in bboxes) - buffer for i in (0, 1))
        maxx, maxy = (max(b[i] for b in bboxes) + buffer for i in (2, 3))
        points = points.filter(lon.between(minx, maxx) & lat.between(miny, maxy))
    pts = points.withColumn("_cell", cell_id(lon, lat, probe)).withColumn(
        "_lon", lon.cast("long")
    ).withColumn("_lat", lat.cast("long"))

    cov = cover_df(spark, regions, probe, buffer)
    joined = pts.join(F.broadcast(cov), pts["_cell"] == cov["cell"], "inner")

    # the 8seg buffer is a little smaller than the exact one near convex
    # corners, so under it buffer-only cells still go through refine
    decided = F.col("full") if buffer_mode == "exact" else F.col("in_poly")
    if strategy == "expr" and buffer_mode != "exact":
        raise ValueError("buffer_mode='8seg' requires the 'udf' strategy")
    if strategy == "expr":
        full = joined.filter(decided).select(
            *keep_cols,
            F.col("region_id"),
            F.col("in_poly"),
            F.lit(True).alias("in_buffer"),
        )
        in_poly, in_buf = membership_exprs(
            regions, F.col("region_idx"), F.col("_lon"), F.col("_lat"), buffer
        )
        partial = (
            joined.filter(~decided)
            .withColumn("in_poly", in_poly)
            .withColumn("in_buffer", in_buf)
            .filter(F.col("in_buffer"))
            .select(*keep_cols, F.col("region_id"), "in_poly", "in_buffer")
        )
        return full.unionByName(partial)

    # one pipeline over every joined row: decided rows reach the kernel
    # with region index -1 and pass through it untouched
    member = _CACHE.membership_udf(spark, regions, buffer, buffer_mode)
    ridx = F.when(decided, F.lit(-1)).otherwise(F.col("region_idx"))
    return (
        joined.withColumn("_m", member(ridx, F.col("_lon"), F.col("_lat")))
        .filter(decided | F.col("_m.in_buffer"))
        .select(
            *keep_cols,
            F.col("region_id"),
            F.when(decided, F.col("in_poly")).otherwise(F.col("_m.in_poly")).alias("in_poly"),
            F.lit(True).alias("in_buffer"),
        )
    )


def hilbert_region_ranges(
    regions: list[MultiPolygon],
    res: int = DEFAULT_RES,
    buffer: int = 0,
    max_ranges: int = 64,
) -> list[tuple[int, int]]:
    """Union of every region's (buffer-expanded) bbox Hilbert range
    cover, merged and budget-capped once globally — the scan-prune
    companion to ``assign_regions``. Superset by construction: every
    cell the cover join can match lies inside some region's buffered
    bbox, whose cover these ranges contain."""
    from ..functions.coords import hilbert_ranges

    raw: list[tuple[int, int]] = []
    for mp in regions:
        mnx, mny, mxx, mxy = mp.bbox
        raw.extend(
            hilbert_ranges(
                mnx - buffer,
                mny - buffer,
                mxx + buffer,
                mxy + buffer,
                res=res,
                max_ranges=max_ranges,
            )
        )
    raw.sort()
    merged: list[list[int]] = []
    for lo, hi in raw:
        if merged and lo <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    while len(merged) > max_ranges:
        gaps = [(merged[i + 1][0] - merged[i][1], i) for i in range(len(merged) - 1)]
        _, i = min(gaps)
        merged[i][1] = merged[i + 1][1]
        del merged[i + 1]
    return [(lo, hi) for lo, hi in merged]


def hilbert_prefilter(
    points: DataFrame,
    regions: list[MultiPolygon],
    hil_col: str,
    res: int = DEFAULT_RES,
    buffer: int = BUFFER_DECIMICRO,
    max_ranges: int = 64,
) -> DataFrame:
    """Scan-level spatial prune for a table that PERSISTS a Hilbert id
    column (the layout ``functions/coords.with_hilbert`` +
    ``repartitionByRange(hil).sortWithinPartitions(hil)`` writes): keep
    only rows whose id falls in some region's cover range. The
    predicate is an OR-of-BETWEENs on one long column, so Catalyst
    pushes it into the parquet scan and min/max row-group pruning skips
    the data no region can match BEFORE any decode, join or Python —
    on a hilbert-clustered 100 TB table this is the difference between
    scanning the planet and scanning the neighborhoods under the
    regions. Strict superset of the cover join's matches (see
    hilbert_region_ranges), so
    ``assign_regions(hilbert_prefilter(df), ...)`` returns EXACTLY
    ``assign_regions(df, ...)`` — asserted in test_spatial_join."""
    from ..functions.coords import hilbert_range_predicate

    ranges = hilbert_region_ranges(regions, res=res, buffer=buffer, max_ranges=max_ranges)
    return points.filter(hilbert_range_predicate(F.col(hil_col), ranges))
