"""Bounding-box IoU matching: brute python parity (pairs + argmax
match), the exact rational threshold (integer cross-multiplication, no
float membership), half-open touch semantics, identical-box IoU = 1,
the 2^63-overflow regime, and bucketed == brute."""

import random
from fractions import Fraction

import pytest

from extra_ops.iou import iou_match, iou_pairs


def _boxes_df(spark, rows):
    return spark.createDataFrame(
        rows, "box_id string, minx long, miny long, maxx long, maxy long"
    )


def _brute(a_rows, b_rows, num, den):
    out = {}
    for aid, ax0, ay0, ax1, ay1 in a_rows:
        for bid, bx0, by0, bx1, by1 in b_rows:
            iw = max(0, min(ax1, bx1) - max(ax0, bx0))
            ih = max(0, min(ay1, by1) - max(ay0, by0))
            inter = iw * ih
            uni = (ax1 - ax0) * (ay1 - ay0) + (bx1 - bx0) * (by1 - by0) - inter
            if inter > 0 and inter * den >= num * uni:
                out[(aid, bid)] = (inter, uni)
    return out


def test_pairs_and_match_vs_bruteforce(spark):
    rng = random.Random(5)

    def boxes(tag, n, span):
        rows = []
        for i in range(n):
            x0 = rng.randint(-span, span)
            y0 = rng.randint(-span, span)
            rows.append(
                (f"{tag}{i}", x0, y0,
                 x0 + rng.randint(1, span), y0 + rng.randint(1, span))
            )
        return rows

    a, b = boxes("a", 15, 500), boxes("b", 15, 500)
    ref = _brute(a, b, 1, 10)
    assert len(ref) > 5
    got = {
        (r.a_id, r.b_id): (int(r.inter), int(r.uni))
        for r in iou_pairs(_boxes_df(spark, a), _boxes_df(spark, b),
                           min_iou=(1, 10), res=None).collect()
    }
    assert got == ref
    # argmax match: highest IoU fraction, ties to lowest b_id
    want_match = {}
    for (aid, bid), (inter, uni) in ref.items():
        cur = want_match.get(aid)
        key = (Fraction(inter, uni), )
        if cur is None or key > cur[0] or (key == cur[0] and bid < cur[1]):
            want_match[aid] = (key, bid)
    got_match = {
        r.a_id: r.b_id
        for r in iou_match(_boxes_df(spark, a), _boxes_df(spark, b),
                           min_iou=(1, 10), res=None).collect()
    }
    assert got_match == {aid: bid for aid, (_, bid) in want_match.items()}


def test_exact_threshold_and_touch_semantics(spark):
    # inter = 1, union = 4 -> IoU exactly 1/4: kept at min_iou = (1, 4),
    # dropped at (26, 100) > 1/4 (the integer cross-multiply decides)
    a = _boxes_df(spark, [("a", 0, 0, 2, 1)])
    b = _boxes_df(spark, [("b", 1, 0, 4, 1),      # IoU = 1/4
                          ("t", 2, 0, 5, 1)])     # shares only an edge
    at_q = iou_pairs(a, b, min_iou=(1, 4), res=None).collect()
    assert [(r.a_id, r.b_id, int(r.inter), int(r.uni), r.iou) for r in at_q] \
        == [("a", "b", 1, 4, 0.25)]
    assert iou_pairs(a, b, min_iou=(26, 100), res=None).count() == 0
    # the half-open touch ("t") never appears even at threshold 0/1
    all_pairs = iou_pairs(a, b, min_iou=(0, 1), res=None).collect()
    assert {r.b_id for r in all_pairs} == {"b"}


def test_identical_and_overflow_regime(spark):
    # whole-globe box: area = 3.6e9 * 3.2e9 > 2^63 — decimal carries it
    big = ("g", -1_800_000_000, -1_600_000_000, 1_800_000_000, 1_600_000_000)
    a = _boxes_df(spark, [big])
    b = _boxes_df(spark, [("h",) + big[1:]])
    rows = iou_pairs(a, b, min_iou=(1, 1), res=None).collect()
    want_area = 3_600_000_000 * 3_200_000_000
    assert want_area > 2**63
    assert len(rows) == 1
    assert int(rows[0].inter) == want_area
    assert int(rows[0].uni) == want_area
    assert rows[0].iou == 1.0


def test_bucketed_equals_brute(spark):
    rng = random.Random(11)

    def boxes(tag, n):
        rows = []
        for i in range(n):
            x0 = rng.randint(-900_000_000, 500_000_000)
            y0 = rng.randint(-900_000_000, 500_000_000)
            rows.append(
                (f"{tag}{i}", x0, y0,
                 x0 + rng.randint(200_000_000, 700_000_000),
                 y0 + rng.randint(200_000_000, 700_000_000))
            )
        return rows

    a, b = boxes("p", 15), boxes("q", 15)
    da, db = _boxes_df(spark, a), _boxes_df(spark, b)
    brute = {
        (r.a_id, r.b_id): (int(r.inter), int(r.uni), r.iou)
        for r in iou_pairs(da, db, min_iou=(1, 50), res=None).collect()
    }
    assert len(brute) > 3
    for res in (27, 29):
        got = {
            (r.a_id, r.b_id): (int(r.inter), int(r.uni), r.iou)
            for r in iou_pairs(da, db, min_iou=(1, 50), res=res).collect()
        }
        assert got == brute, res  # exactly once, exact double equality


def test_min_iou_validation(spark):
    a = _boxes_df(spark, [("a", 0, 0, 1, 1)])
    with pytest.raises(ValueError, match="min_iou"):
        iou_pairs(a, a, min_iou=(1, 0), res=None)
