"""Bounding-box IoU matching — the detection / label-matching primitive
of every vision training pipeline (assign predicted boxes to ground
truth, dedup overlapping detections, match annotations across two
labeling runs): every pair of boxes from two layers with
intersection-over-union above a threshold, and each A-box's best match.

Boxes are HALF-OPEN integer rectangles [minx, maxx) x [miny, maxy)
(width = maxx - minx), the pixel-box convention — so areas and
intersections are exact products and "touching" boxes (shared edge)
have intersection 0.  Exact-integer discipline throughout:

- widths/heights stay int64 (< 2^33 for decimicro extents), the area
  products run in decimal(38,0) on Spark / HUGEINT in the DuckDB twin
  (a global box's area passes 2^63);
- the threshold test is the integer cross-multiplication
  ``inter * den >= num * union`` — the IoU cutoff num/den is EXACT, no
  float ever decides membership;
- the reported ``iou`` double is ONE shared division of the two exact
  integers (bit-identical cross-engine), and the argmax match orders
  by that double (identical doubles -> identical order) with the
  (iou DESC, b_id ASC) tie-break.

Scale shape — the same canonical-tile pair join as the overlay screen
(operators/validity.py): each box fans out to the grid tiles its
rectangle covers, pairs hash-join on the tile, and the 2-D
canonical-tile rule (accept only in tile (max(txlo), max(tylo)))
counts every overlapping pair exactly once with no distinct.  IoU > 0
requires overlap, so non-overlapping pairs are never tested.
``res=None`` is the brute cross join (oracle shape; tests and tiny
inputs only).  Dense tiles are AQE skew splits; res trades fan-out
against tile occupancy exactly as in clip_ways_to_tiles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm_replication_rust_spark.functions import coords as C

_DEC = "decimal(38,0)"

_BOX_COLS = ("minx", "miny", "maxx", "maxy")


def _box_side(boxes: DataFrame, tag: str, res: int | None) -> DataFrame:
    cols = [F.col("box_id").alias(f"{tag}_id")] + [
        F.col(c).alias(f"{tag}{c}") for c in _BOX_COLS
    ]
    if res is None:
        return boxes.select(*cols)
    out = boxes.select(
        *cols,
        F.shiftright(F.col("minx") + C.LON_OFFSET, res).alias(f"{tag}txlo"),
        F.shiftright(F.col("maxx") + C.LON_OFFSET, res).alias(f"{tag}txhi"),
        F.shiftright(F.col("miny") + C.LAT_OFFSET, res).alias(f"{tag}tylo"),
        F.shiftright(F.col("maxy") + C.LAT_OFFSET, res).alias(f"{tag}tyhi"),
    )
    return (
        out.withColumn(
            "tx", F.explode(F.sequence(F.col(f"{tag}txlo"), F.col(f"{tag}txhi")))
        )
        .withColumn(
            "ty", F.explode(F.sequence(F.col(f"{tag}tylo"), F.col(f"{tag}tyhi")))
        )
        .drop(f"{tag}txhi", f"{tag}tyhi")
    )


def iou_pairs(
    boxes_a: DataFrame,
    boxes_b: DataFrame,
    min_iou: tuple[int, int] = (1, 10),
    res: int | None = C.DEFAULT_RES,
) -> DataFrame:
    """(a_id, b_id, inter, uni, iou) — every cross-layer box pair with
    IoU >= min_iou (an exact num/den rational; membership is decided by
    integer cross-multiplication, never the double).  ``boxes_*`` carry
    (box_id, minx, miny, maxx, maxy) int columns, half-open convention.
    ``inter`` and ``uni`` are exact decimal(38,0); ``iou`` is their one
    shared division."""
    num, den = min_iou
    if num < 0 or den <= 0:
        raise ValueError(f"min_iou must be a non-negative rational: {min_iou}")
    a = _box_side(boxes_a, "a", res)
    b = _box_side(boxes_b, "b", res)
    if res is None:
        j = a.crossJoin(b)
    else:
        j = a.join(b, ["tx", "ty"]).filter(
            (F.col("tx") == F.greatest("atxlo", "btxlo"))
            & (F.col("ty") == F.greatest("atylo", "btylo"))
        )
    iw = F.greatest(
        F.least("amaxx", "bmaxx") - F.greatest("aminx", "bminx"), F.lit(0)
    )
    ih = F.greatest(
        F.least("amaxy", "bmaxy") - F.greatest("aminy", "bminy"), F.lit(0)
    )
    inter = iw.cast(_DEC) * ih.cast(_DEC)
    area_a = (F.col("amaxx") - F.col("aminx")).cast(_DEC) * (
        F.col("amaxy") - F.col("aminy")
    ).cast(_DEC)
    area_b = (F.col("bmaxx") - F.col("bminx")).cast(_DEC) * (
        F.col("bmaxy") - F.col("bminy")
    ).cast(_DEC)
    uni = area_a + area_b - inter
    return (
        j.withColumn("inter", inter)
        .withColumn("uni", uni)
        .filter(
            (F.col("inter") > 0)
            & (
                F.col("inter") * F.lit(den).cast(_DEC)
                >= F.lit(num).cast(_DEC) * F.col("uni")
            )
        )
        .select(
            "a_id",
            "b_id",
            "inter",
            "uni",
            (F.col("inter").cast("double") / F.col("uni").cast("double")).alias(
                "iou"
            ),
        )
    )


def iou_match(
    boxes_a: DataFrame,
    boxes_b: DataFrame,
    min_iou: tuple[int, int] = (1, 10),
    res: int | None = C.DEFAULT_RES,
) -> DataFrame:
    """(a_id, b_id, inter, uni, iou) — each A-box's BEST B-match among
    the pairs above the threshold: argmax IoU with the deterministic
    (iou DESC, b_id ASC) tie-break (the doubles are bit-identical
    cross-engine, so the order is too).  A-boxes with no qualifying
    pair emit no row (callers left-join).  One window shuffle on a_id
    over the surviving pairs only."""
    w = Window.partitionBy("a_id").orderBy(F.col("iou").desc(), F.col("b_id"))
    return (
        iou_pairs(boxes_a, boxes_b, min_iou, res)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def sql_iou_exprs(
    a: str = "a", b: str = "b"
) -> tuple[str, str, str]:
    """DuckDB twin (inter, uni, iou) over two box relations aliased
    ``a``/``b`` with (minx, miny, maxx, maxy) columns — HUGEINT
    products == Spark's decimal(38,0), ONE shared division."""

    def big(x: str) -> str:
        return f"CAST({x} AS BIGINT)"

    iw = (
        f"GREATEST(LEAST({big(f'{a}.maxx')}, {big(f'{b}.maxx')})"
        f" - GREATEST({big(f'{a}.minx')}, {big(f'{b}.minx')}), 0)"
    )
    ih = (
        f"GREATEST(LEAST({big(f'{a}.maxy')}, {big(f'{b}.maxy')})"
        f" - GREATEST({big(f'{a}.miny')}, {big(f'{b}.miny')}), 0)"
    )
    inter = f"(CAST({iw} AS HUGEINT) * CAST({ih} AS HUGEINT))"
    area_a = (
        f"(CAST({big(f'{a}.maxx')} - {big(f'{a}.minx')} AS HUGEINT)"
        f" * CAST({big(f'{a}.maxy')} - {big(f'{a}.miny')} AS HUGEINT))"
    )
    area_b = (
        f"(CAST({big(f'{b}.maxx')} - {big(f'{b}.minx')} AS HUGEINT)"
        f" * CAST({big(f'{b}.maxy')} - {big(f'{b}.miny')} AS HUGEINT))"
    )
    uni = f"({area_a} + {area_b} - {inter})"
    iou = f"(CAST({inter} AS DOUBLE) / CAST({uni} AS DOUBLE))"
    return inter, uni, iou
