"""Deterministic synthetic fixtures (seeded; no external data).

Mirrors the reference's test fixtures (/root/reference/tests/resources/:
base pbf + raw .osc diff + .poly region hierarchy) and the input-table
contract in BASELINE.json input_hint:
images(image_id, bytes, w, h, fmt, caption, phash).

The geo footprint is packed INTO phash (invertible, see
functions/coords.py), the analog of the reference Node coords
(/root/reference/src/osm.rs:16-35).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..functions.coords import LAT_OFFSET, LON_OFFSET, PHASH_LON_BASE
from ..functions.geometry import MultiPolygon, Ring

M = 1_000_000  # 0.1 degree in decimicro


def _rect(x0: int, y0: int, x1: int, y1: int, hole: bool = False) -> Ring:
    return Ring(
        coords=np.array(
            [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=np.int64
        ),
        hole=hole,
    )


def fixture_regions() -> list[MultiPolygon]:
    """3-level hierarchy, >=2 siblings per level, one region with a hole,
    one with two rings, children contained in parents — the shape of
    /root/reference/tests/resources/polygons/ (africa/spain/canarias/...).
    """
    pentagon = Ring(
        coords=np.array(
            [
                [12 * M, 0],
                [15 * M, 4 * M],
                [20 * M, 2 * M],
                [19 * M, -3 * M],
                [14 * M, -4 * M],
                [12 * M, 0],
            ],
            dtype=np.int64,
        )
    )
    return [
        # root A: big square with a hole
        MultiPolygon(
            "A",
            [_rect(-10 * M, -10 * M, 10 * M, 10 * M), _rect(2 * M, 2 * M, 4 * M, 4 * M, hole=True)],
        ),
        MultiPolygon("A/B", [_rect(-8 * M, -8 * M, -2 * M, -2 * M)], parent_id="A"),
        MultiPolygon("A/B/C", [_rect(-7 * M, -7 * M, -4 * M, -5 * M)], parent_id="A/B"),
        MultiPolygon("A/B/G", [_rect(-6 * M, -4 * M, -3 * M, -3 * M)], parent_id="A/B"),
        # A/D: two disjoint rings (multipolygon)
        MultiPolygon(
            "A/D",
            [_rect(5 * M, -9 * M, 9 * M, -5 * M), _rect(5 * M, 5 * M, 9 * M, 9 * M)],
            parent_id="A",
        ),
        # root E: pentagon (non-rectilinear edges), disjoint from A
        MultiPolygon("E", [pentagon]),
        MultiPolygon("E/F", [_rect(15 * M, -2 * M, 18 * M, 1 * M)], parent_id="E"),
    ]


_WORDS = (
    "harbor meadow granite lantern orchid falcon timber velvet casket ember "
    "prairie copper willow summit garnet breeze mosaic tundra saffron quartz"
).split()


def gen_images(n: int, seed: int = 42) -> pd.DataFrame:
    """Deterministic images table. Footprints spread over [-2.2°, 2.2°]²
    so that every fixture region, buffer zone, and the outside all get
    hits. bytes are seeded pseudo-pixels (decoder is stubbed; plumbing and
    PSNR harness operate on these deterministic arrays)."""
    rng = np.random.default_rng(seed)
    ids = np.arange(n, dtype=np.int64)
    lat = rng.integers(-22 * M, 22 * M + 1, size=n, dtype=np.int64)
    lon = rng.integers(-22 * M, 22 * M + 1, size=n, dtype=np.int64)
    phash = (lat + LAT_OFFSET) * PHASH_LON_BASE + (lon + LON_OFFSET)
    w = rng.choice([16, 32], size=n).astype(np.int32)
    h = rng.choice([16, 32], size=n).astype(np.int32)
    fmt = np.where(ids % 3 == 0, "jpeg", "png")
    caption = [
        f"caption img{i:08d} {_WORDS[i % len(_WORDS)]} {_WORDS[(i * 7 + 3) % len(_WORDS)]}"
        for i in ids
    ]
    # deterministic per-image pixel bytes: a tiny LCG keyed by the id
    payload = []
    for i, wi, hi in zip(ids, w, h):
        size = int(wi) * int(hi)
        x = (np.arange(size, dtype=np.uint64) * 1103515245 + np.uint64(i) * 12345 + 7) % 251
        payload.append(x.astype(np.uint8).tobytes())
    return pd.DataFrame(
        {
            "image_id": [f"img{i:08d}" for i in ids],
            "bytes": payload,
            "w": w,
            "h": h,
            "fmt": fmt,
            "caption": caption,
            "phash": phash,
        }
    )


def gen_diffs(images: pd.DataFrame, n_batches: int = 3, seed: int = 43) -> pd.DataFrame:
    """Change batches per FIXTURES.md §3: creates inside leaves, modifies
    that cross region boundaries, deletes, buffer-zone landings, and
    fully-outside rows (to be dropped)."""
    rng = np.random.default_rng(seed)
    rows = []
    n = len(images)
    next_new = n
    for state in range(1, n_batches + 1):
        seq = 0
        # creates: a few brand-new ids at hand-picked interesting spots
        spots = [
            (-6 * M, -6 * M),       # inside A/B/C (deep leaf)
            (3 * M, 3 * M),         # inside A's hole -> NOT in A
            (10 * M + M // 2, 0),   # buffer-only zone of A (0.05° outside)
            (21 * M, 21 * M),       # far outside everything
            (16 * M, 0),            # inside E/F
        ]
        for k, (lon, lat) in enumerate(spots):
            iid = f"img{next_new:08d}"
            next_new += 1
            rows.append(
                dict(
                    state=state,
                    seq=seq,
                    action="create",
                    image_id=iid,
                    new_lat=lat + state * 1000 + k,
                    new_lon=lon + state * 1000,
                    new_caption=f"created {iid} s{state}",
                    new_phash=None,
                )
            )
            seq += 1
        # modifies: move existing images (some across boundaries)
        pick = rng.choice(n, size=min(8, n), replace=False)
        for j, p in enumerate(pick):
            iid = images.image_id.iloc[p]
            if j % 2 == 0:
                # teleport into A/B
                new_lat, new_lon = -5 * M + j * 1000, -5 * M + j * 1000
            else:
                # nudge in place
                ph = int(images.phash.iloc[p])
                new_lat = (ph >> 32) - LAT_OFFSET + 5000
                new_lon = ph % PHASH_LON_BASE - LON_OFFSET + 5000
            rows.append(
                dict(
                    state=state,
                    seq=seq,
                    action="modify",
                    image_id=iid,
                    new_lat=int(new_lat),
                    new_lon=int(new_lon),
                    new_caption=f"moved {iid} s{state}",
                    new_phash=None,
                )
            )
            seq += 1
        # deletes
        pick = rng.choice(n, size=min(4, n), replace=False)
        for p in pick:
            rows.append(
                dict(
                    state=state,
                    seq=seq,
                    action="delete",
                    image_id=images.image_id.iloc[p],
                    new_lat=None,
                    new_lon=None,
                    new_caption=None,
                    new_phash=None,
                )
            )
            seq += 1
    df = pd.DataFrame(rows)
    # nullable Int64, NOT float64: phash exceeds 2^53 and float coercion
    # silently destroys the low bits
    df["new_phash"] = pd.array(
        [
            None
            if pd.isna(la)
            else (int(la) + LAT_OFFSET) * PHASH_LON_BASE + (int(lo) + LON_OFFSET)
            for la, lo in zip(df.new_lat, df.new_lon)
        ],
        dtype="Int64",
    )
    df["new_lat"] = df["new_lat"].astype("Int64")
    df["new_lon"] = df["new_lon"].astype("Int64")
    return df


def gen_group_diffs(
    groups: pd.DataFrame, n_batches: int = 3, seed: int = 45
) -> pd.DataFrame:
    """Change batches for composite elements (the way/relation rows of
    an OsmChange): per state a deterministic mix of modifies and deletes
    over the stored groups (membership unchanged — the classifier reads
    stored members, exactly the reference's store-lookup path)."""
    rng = np.random.default_rng(seed)
    ids = list(groups.group_id)
    rows = []
    for state in range(1, n_batches + 1):
        pick = rng.choice(len(ids), size=min(8, len(ids)), replace=False)
        for seq, p in enumerate(pick):
            rows.append(
                dict(
                    state=state,
                    seq=seq,
                    group_id=ids[int(p)],
                    action="delete" if seq % 4 == 3 else "modify",
                )
            )
    return pd.DataFrame(rows)


def gen_groups(images: pd.DataFrame, n_ways: int = 20, n_relations: int = 8, seed: int = 44) -> pd.DataFrame:
    """Composite elements per FIXTURES.md §4: 'way' groups of image members
    and 'relation' groups whose members mix images, ways and relations —
    including one 2-cycle pair (analog of relations 7801⇄7802 in
    /root/reference/src/osmxml/bbox.rs:222-246) and one missing ref
    (tolerated, /root/reference/src/osmbin.rs:427-430)."""
    rng = np.random.default_rng(seed)
    n = len(images)
    rows = []
    for wi in range(n_ways):
        k = int(rng.integers(2, 8))
        members = [
            {"ref": images.image_id.iloc[int(p)], "type": "image", "role": ""}
            for p in rng.choice(n, size=k, replace=False)
        ]
        rows.append({"group_id": f"way{wi:05d}", "kind": "way", "members": members})
    for ri in range(n_relations):
        members = [
            {"ref": f"way{int(rng.integers(0, n_ways)):05d}", "type": "group", "role": "outer"},
            {
                "ref": images.image_id.iloc[int(rng.integers(0, n))],
                "type": "image",
                "role": "admin_centre",
            },
        ]
        if ri >= 2:  # relation -> relation edges (resolvable chain)
            members.append({"ref": f"rel{ri - 1:05d}", "type": "group", "role": "sub"})
        rows.append({"group_id": f"rel{ri:05d}", "kind": "relation", "members": members})
    # 2-cycle pair
    rows.append(
        {
            "group_id": "rel90001",
            "kind": "relation",
            "members": [
                {"ref": "rel90002", "type": "group", "role": "loop"},
                {"ref": images.image_id.iloc[0], "type": "image", "role": ""},
            ],
        }
    )
    rows.append(
        {
            "group_id": "rel90002",
            "kind": "relation",
            "members": [{"ref": "rel90001", "type": "group", "role": "loop"}],
        }
    )
    # missing ref (tolerated by bbox/filter, error only in check_database)
    rows.append(
        {
            "group_id": "way99999",
            "kind": "way",
            "members": [
                {"ref": "img99999999", "type": "image", "role": ""},
                {"ref": images.image_id.iloc[1], "type": "image", "role": ""},
            ],
        }
    )
    return pd.DataFrame(rows)


#: per-frame pixel shifts for the deterministic video fixture: frame j's
#: pixel k of video i is (k*1103515245 + i*12345 + 7 + VIDEO_SHIFTS[j]) % 251.
#: Consecutive shifts 0->2 and 91->93 are small (mean |diff| ~ 4), the
#: 2->91 transition is a SCENE CUT (mean |diff| ~ 115) — every video has
#: exactly one cut at a mean-abs-diff >= 20 threshold, with per-video
#: SAD variation from the pixel-dependent mod-251 wraps.
VIDEO_SHIFTS = (0, 2, 91, 93)


def gen_videos(n: int, seed: int = 42) -> pd.DataFrame:
    """Deterministic videos: gen_images' frames stacked with per-frame
    shifts (codec stubbed as everywhere; payload = n_frames concatenated
    w*h raw frames, the frame_sample/scene_cut contract). The oracle
    recomputes every frame's pixels from the formula above — no byte
    reads."""
    imgs = gen_images(n, seed=seed)
    payloads = []
    for i, w, h in zip(range(n), imgs.w, imgs.h):
        size = int(w) * int(h)
        base = (
            np.arange(size, dtype=np.uint64) * 1103515245 + np.uint64(i) * 12345 + 7
        )
        frames = [((base + s) % 251).astype(np.uint8).tobytes() for s in VIDEO_SHIFTS]
        payloads.append(b"".join(frames))
    return pd.DataFrame(
        {
            "image_id": imgs.image_id,
            "bytes": payloads,
            "w": imgs.w,
            "h": imgs.h,
        }
    )
