"""Nearest-segment snapping: exact clamped point-segment distance
(all three branches), deterministic tie-break, max_dist radius."""

import pytest
from pyspark.sql import functions as F

from extra_ops.snap import snap_points_to_segments


@pytest.fixture(scope="module")
def fixture(spark):
    # two ways: way A a horizontal segment y=0 x in [0, 100];
    # way B a vertical segment x=200 y in [0, 100]
    segs = spark.createDataFrame(
        [
            ("A", 0, 0, 0, 100, 0),
            ("B", 0, 200, 0, 200, 100),
        ],
        "group_id string, pos int, x1 long, y1 long, x2 long, y2 long",
    )
    pts = spark.createDataFrame(
        [
            (1, 50, 30),     # perpendicular onto A: d2 = 900
            (2, -40, 30),    # clamps to A's start (0,0): d2 = 1600+900
            (3, 140, -10),   # clamps to A's end (100,0): d2 = 1600+100
            (4, 205, 50),    # perpendicular onto B: d2 = 25
            (5, 150, 0),     # EXACT tie between A-end (d2=2500) and B... not quite
            (6, 10_000, 10_000),  # far from everything
        ],
        "pid long, lon long, lat long",
    )
    return pts, segs


def test_snap_branches_exact(spark, fixture):
    pts, segs = fixture
    got = {
        r.pid: (r.group_id, r.pos, r.d2)
        for r in snap_points_to_segments(pts, segs, point_id="pid").collect()
    }
    assert got[1] == ("A", 0, 900.0)
    assert got[2] == ("A", 0, 1600.0 + 900.0)
    assert got[3] == ("A", 0, 1600.0 + 100.0)
    assert got[4] == ("B", 0, 25.0)
    # point 5: A-end distance 50^2=2500; B distance (200-150)^2=2500 — a
    # true tie; the (group_id, pos) tie-break must pick A deterministically
    assert got[5] == ("A", 0, 2500.0)
    assert got[6][2] == (10_000 - 200) ** 2 + (10_000 - 100) ** 2


def test_snap_max_dist_bounds_and_drops(spark, fixture):
    pts, segs = fixture
    got = {
        r.pid: r.group_id
        for r in snap_points_to_segments(
            pts, segs, point_id="pid", max_dist=100
        ).collect()
    }
    assert 6 not in got            # beyond the radius: no row
    assert set(got) == {1, 2, 3, 4, 5}


def test_snap_interpolated_branch_matches_float_reference(spark):
    """Non-axis-aligned segment: the decimal-exact numerator path must
    agree with a float reference to double precision."""
    segs = spark.createDataFrame(
        [("W", 3, 10, 20, 70, 95)],
        "group_id string, pos int, x1 long, y1 long, x2 long, y2 long",
    )
    pts = spark.createDataFrame(
        [(i, 13 * i % 120, (7 * i * i) % 140) for i in range(40)],
        "pid long, lon long, lat long",
    )
    got = {r.pid: r.d2 for r in snap_points_to_segments(pts, segs, "pid").collect()}
    for i in range(40):
        px, py = 13 * i % 120, (7 * i * i) % 140
        ax, ay, bx, by = 10, 20, 70, 95
        dx, dy = bx - ax, by - ay
        l2 = dx * dx + dy * dy
        dot = (px - ax) * dx + (py - ay) * dy
        if dot <= 0:
            ref = float((px - ax) ** 2 + (py - ay) ** 2)
        elif dot >= l2:
            ref = float((px - bx) ** 2 + (py - by) ** 2)
        else:
            ref = float(((px - ax) ** 2 + (py - ay) ** 2) * l2 - dot * dot) / l2
        assert got[i] == pytest.approx(ref, rel=1e-12), i
