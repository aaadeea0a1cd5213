"""Discrete Hausdorff distances — the set-to-set geometry distance
(PostGIS ST_HausdorffDistance's discrete semantics): how far apart two
point sets (or a chain and its simplification) are in the worst case,

    directed  H(A -> B) = max over a in A of  min over b in B  d(a, b)
    symmetric H(A, B)   = max(H(A -> B), H(B -> A))

The reference resolves way chains from node coords
(/root/reference/src/osm.rs); Hausdorff is the standard similarity /
error question a consumer asks about two such chains — most concretely
"how much did Douglas-Peucker move my geometry", which pairs each chain
with its own simplification (way_geometry.simplify_ways).

Two variants, two arithmetic disciplines:

- ``directed_hausdorff_d2`` / ``hausdorff_d2``: vertex-set distance in
  EXACT integers — squared deltas as decimal(38,0) products (whole-
  globe decimicro deltas square past 2^63, so int64 would silently
  wrap on Spark while the HUGEINT twin stays exact), min/max over
  exact decimals, cross-engine bit-verifiable as digit strings.
- ``chain_hausdorff_d2``: point set vs POLYLINE (min over segments of
  the clamped point-segment d², then max) — the true simplification
  error, which Douglas-Peucker bounds by eps²: every vertex it drops
  was within eps of the covering segment at prune time, and that
  segment survives into the simplified chain.  Distances reuse
  snap.point_segment_d2, the repo's ONE IEEE spelling, so the doubles
  are bit-identical to the DuckDB twin.

Scale shape: both are per-KEY computations (a way and its
simplification, a trajectory and its reference track) — one hash join
on the key, candidate fan-out |A_k| x |B_k| bounded by the feature
length (OSM caps ways at 2k nodes), then two aggregations that
map-side combine.  Nothing global ever shuffles; a skewed mega-chain
is an AQE skew split.  For CROSS-layer point-set Hausdorff without a
shared key, prefilter candidates with the cell machinery
(knn) first — the max-min form needs every a to find its
true min, so the bucketed variant must ring-expand like kNN; that
composition is deliberately left to the caller.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .snap import point_segment_d2

_DEC = "decimal(38,0)"


def directed_hausdorff_d2(
    a: DataFrame,
    b: DataFrame,
    key: str = "group_id",
    x: str = "lon",
    y: str = "lat",
) -> DataFrame:
    """(key, hd2) — directed discrete Hausdorff SQUARED distance from
    ``a``'s vertex set to ``b``'s, per key: max over a-points of the
    min squared distance to any same-key b-point.  ``hd2`` is an exact
    decimal(38,0) (render ``.cast("string")`` for cross-engine gates).
    Keys present in ``a`` but not ``b`` emit no row (the distance to an
    empty set is undefined — callers left-join if they want NULL).
    Duplicate points collapse (set semantics; a duplicate's min is
    identical, so the max is unchanged)."""
    ax, ay = F.col(x).cast(_DEC), F.col(y).cast(_DEC)
    bs = b.select(
        F.col(key).alias("_hk"),
        F.col(x).alias("_bx"),
        F.col(y).alias("_by"),
    )
    dx = ax - F.col("_bx").cast(_DEC)
    dy = ay - F.col("_by").cast(_DEC)
    mind = (
        a.select(key, x, y)
        .join(bs, F.col(key) == F.col("_hk"))
        .select(key, x, y, (dx * dx + dy * dy).alias("_d2"))
        .groupBy(key, x, y)
        .agg(F.min("_d2").alias("_mind2"))
    )
    return mind.groupBy(key).agg(F.max("_mind2").alias("hd2"))


def hausdorff_d2(
    a: DataFrame,
    b: DataFrame,
    key: str = "group_id",
    x: str = "lon",
    y: str = "lat",
) -> DataFrame:
    """(key, hd2) — symmetric discrete Hausdorff squared distance:
    greatest of the two directed distances.  Keys must appear on both
    sides (inner join of the directed halves)."""
    fwd = directed_hausdorff_d2(a, b, key, x, y)
    rev = directed_hausdorff_d2(b, a, key, x, y).withColumnRenamed(
        "hd2", "_hd2_rev"
    )
    return fwd.join(rev, key).select(
        key, F.greatest("hd2", "_hd2_rev").alias("hd2")
    )


def chain_hausdorff_d2(
    points: DataFrame,
    segments: DataFrame,
    key: str = "group_id",
    x: str = "lon",
    y: str = "lat",
) -> DataFrame:
    """(key, hd2) — directed Hausdorff squared distance from a point
    set to a same-key POLYLINE given as clip.way_segments-shaped rows
    (key, pos, x1, y1, x2, y2): max over points of the min clamped
    point-segment d² (snap.point_segment_d2 — decimal products, ONE
    shared division, bit-identical doubles cross-engine).  Keys with no
    segment rows emit no row.

    This is the Douglas-Peucker error measure: with ``points`` = a
    chain's vertices and ``segments`` = its simplified chain,
    hd2 <= eps² by the DP invariant (tested property)."""
    seg = segments.select(
        F.col(key).alias("_hk"),
        F.col("x1"),
        F.col("y1"),
        F.col("x2"),
        F.col("y2"),
    )
    px, py = F.col(x), F.col(y)
    mind = (
        points.select(key, x, y)
        .join(seg, F.col(key) == F.col("_hk"))
        .select(
            key,
            x,
            y,
            point_segment_d2(
                px, py, F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2")
            ).alias("_d2"),
        )
        .groupBy(key, x, y)
        .agg(F.min("_d2").alias("_mind2"))
    )
    return mind.groupBy(key).agg(F.max("_mind2").alias("hd2"))


def chain_segments(
    vertices: DataFrame,
    key: str = "group_id",
    pos: str = "pos",
    x: str = "lon",
    y: str = "lat",
) -> DataFrame:
    """(key, pos, x1, y1, x2, y2) — consecutive-vertex segments of a
    pos-ordered per-key vertex table (the way_segments shape, but from
    an already-exploded vertex frame such as simplify_ways' output).
    Single-vertex keys emit no segment.  One window shuffle."""
    w = Window.partitionBy(key).orderBy(pos)
    return (
        vertices.select(
            key,
            F.col(pos),
            F.col(x).alias("x1"),
            F.col(y).alias("y1"),
            F.lead(x).over(w).alias("x2"),
            F.lead(y).over(w).alias("y2"),
        )
        .filter(F.col("x2").isNotNull())
    )
