"""Multimodal plumbing: binary columns through mapInPandas, resize
arithmetic, PSNR harness; the real codec is a clearly-marked stub."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from extra_ops.multimodal import (
    decode_image,
    decode_stats,
    fake_decode,
    psnr,
    psnr_check,
    resize_stage,
)


def test_codec_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x00", "jpeg")


def test_fake_decode_shape():
    px = fake_decode(bytes(range(32)), 8, 4)
    assert px.shape == (4, 8)
    assert px[0, 0] == 0 and px[3, 7] == 31


@pytest.fixture(scope="module")
def imgs(spark, images_pdf):
    return spark.createDataFrame(images_pdf.iloc[:200]).persist()


def test_decode_stats(spark, imgs):
    out = decode_stats(imgs)
    rows = out.limit(50).collect()
    assert all(0 <= r.pix_min <= r.pix_max <= 255 for r in rows)
    # deterministic synth pixels are mod-251 -> max < 251
    assert all(r.pix_max < 251 for r in rows)
    assert set(out.columns) >= {"image_id", "bytes", "pix_mean", "pix_max", "pix_min"}


def test_resize_roundtrip(spark, imgs):
    small = resize_stage(imgs, 8, 8)
    rows = small.limit(20).collect()
    assert all(len(r.bytes) == 64 and r.w == 8 and r.h == 8 for r in rows)
    # nearest-neighbor from numpy oracle for one image
    src = imgs.limit(1).collect()[0]
    got = fake_decode(rows[0].bytes, 8, 8) if rows[0].image_id == src.image_id else None
    if got is not None:
        px = fake_decode(src.bytes, src.w, src.h)
        yi = (np.arange(8) * src.h // 8).astype(int)
        xi = (np.arange(8) * src.w // 8).astype(int)
        assert (got == px[np.ix_(yi, xi)]).all()


def test_psnr_check(spark, imgs):
    # identical payloads -> infinite PSNR (clamped), all ok
    res = psnr_check(imgs, imgs)
    rows = res.collect()
    assert all(r.ok for r in rows)
    # perturbed payloads: flip one byte by +2 -> finite but high PSNR
    def perturb(pdf_iter):
        for pdf in pdf_iter:
            pdf = pdf.copy()
            pdf["bytes"] = [bytes([min(255, b[0] + 2)]) + b[1:] for b in pdf["bytes"]]
            yield pdf

    noisy = imgs.mapInPandas(perturb, ", ".join(f"{c} {t}" for c, t in imgs.dtypes))
    res2 = psnr_check(imgs, noisy).collect()
    assert all(r.ok for r in res2)  # tiny perturbation stays >= 40 dB
    assert any(np.isfinite(r.psnr_db) and r.psnr_db < 1e9 for r in res2)


def test_psnr_math():
    a = np.zeros((4, 4)); b = np.zeros((4, 4)); b[0, 0] = 255
    assert psnr(a, a) == float("inf")
    # mse = 255^2/16 -> psnr = 10*log10(16)
    assert psnr(a, b) == pytest.approx(10 * np.log10(16))


def test_frame_sample(spark):
    """Uniform temporal frame sampling: payload = concatenated w*h
    frames; sampled frames must be byte-exact slices at the expected
    offsets."""
    import numpy as np
    import pandas as pd

    from extra_ops.multimodal import frame_sample

    w, h, n_frames = 4, 2, 10
    fsize = w * h
    payload = bytes(np.arange(n_frames * fsize, dtype=np.uint8) % 251)
    df = spark.createDataFrame(
        pd.DataFrame(
            {"image_id": ["v1"], "bytes": [payload], "w": [w], "h": [h]}
        )
    )
    got = {r.frame_idx: r for r in frame_sample(df, n_samples=4).collect()}
    assert sorted(got) == [0, 2, 5, 7]  # uniform offsets k*10//4
    for k, r in got.items():
        assert r.n_frames == n_frames
        assert bytes(r.bytes) == payload[k * fsize : (k + 1) * fsize]
    # more samples than frames -> each frame at most once
    few = frame_sample(df, n_samples=25).collect()
    assert len(few) == len({r.frame_idx for r in few}) <= n_frames


def test_shape_grouped_decode_equals_per_row(spark):
    """The equal-shape vectorized decode path (one numpy stack per
    (len, w, h) group) must be row-for-row identical to per-row
    fake_decode on a RAGGED batch — mixed shapes, payloads shorter and
    longer than w*h (cycling), and repeated shapes."""
    import numpy as np
    import pandas as pd

    from extra_ops.multimodal import (
        decode_stats,
        fake_decode,
        resize_stage,
    )

    rng = np.random.default_rng(11)
    rows = []
    for i in range(60):
        w = int(rng.choice([3, 4, 7]))
        h = int(rng.choice([2, 5]))
        plen = int(rng.choice([max(w * h - 3, 1), w * h, w * h + 9]))
        rows.append(
            {
                "image_id": f"i{i:03d}",
                "bytes": bytes(rng.integers(0, 256, plen, dtype=np.uint8)),
                "w": w,
                "h": h,
                "fmt": "fake",
            }
        )
    pdf = pd.DataFrame(rows)
    df = spark.createDataFrame(pdf)
    got = {r.image_id: r for r in decode_stats(df).collect()}
    for r in rows:
        px = fake_decode(r["bytes"], r["w"], r["h"])
        g = got[r["image_id"]]
        assert g.pix_mean == pytest.approx(float(px.mean()))
        assert (g.pix_max, g.pix_min) == (int(px.max()), int(px.min()))
    out = {r.image_id: r for r in resize_stage(df, 3, 3).collect()}
    for r in rows:
        px = fake_decode(r["bytes"], r["w"], r["h"])
        yi = (np.arange(3) * r["h"] // 3).astype(int)
        xi = (np.arange(3) * r["w"] // 3).astype(int)
        assert bytes(out[r["image_id"]].bytes) == px[np.ix_(yi, xi)].tobytes()


def test_ahash_resize_invariant(spark, imgs):
    """aHash samples with the same nearest-neighbor formula as
    resize_stage, so hash(resize(img, 16, 16)) == hash(img) exactly."""
    from extra_ops.multimodal import ahash_stage, resize_stage

    orig = {
        r.image_id: r.ahash
        for r in ahash_stage(imgs).select("image_id", "ahash").collect()
    }
    resized = {
        r.image_id: r.ahash
        for r in ahash_stage(resize_stage(imgs, 16, 16))
        .select("image_id", "ahash")
        .collect()
    }
    assert orig == resized
    assert len(orig) > 0


def test_image_dedup_chain(spark, imgs):
    """End-to-end image dedup: decode -> aHash -> banded hamming pairs
    finds every original<->resized-copy pair at distance 0."""
    from pyspark.sql import functions as F

    from extra_ops.dedup import hamming_near_pairs
    from extra_ops.multimodal import ahash_stage, resize_stage

    copies = resize_stage(imgs, 16, 16).withColumn(
        "image_id", F.concat(F.col("image_id"), F.lit("_copy"))
    )
    u = ahash_stage(imgs.select("image_id", "bytes", "w", "h")).select(
        "image_id", "ahash"
    ).unionByName(
        ahash_stage(copies.select("image_id", "bytes", "w", "h")).select(
            "image_id", "ahash"
        )
    )
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming_near_pairs(u, "ahash", "image_id", max_hamming=0).collect()
    }
    ids = [r.image_id for r in imgs.select("image_id").collect()]
    for i in ids:
        assert pairs.get((i, f"{i}_copy")) == 0, i


def test_dhash_matches_reference_and_resize_invariant(spark, imgs):
    """dHash == a straight per-image numpy reference, and is exactly
    invariant under the engine's own resize to (18, 16) (sampling
    composes: floor(c*18/9)=2c -> floor(2c*w/18)=floor(c*w/9))."""
    from extra_ops.multimodal import (
        dhash_stage,
        fake_decode,
        resize_stage,
    )

    rows = {r["image_id"]: r for r in imgs.limit(30).toPandas().to_dict("records")}
    got = {
        r.image_id: r.dhash
        for r in dhash_stage(imgs).select("image_id", "dhash").collect()
    }
    for iid, r in rows.items():
        px = fake_decode(r["bytes"], r["w"], r["h"]).reshape(-1)
        w, h = r["w"], r["h"]
        acc = 0
        for b in range(64):
            rr, cc = b // 8, b % 8
            k1 = (rr * h) // 8 * w + (cc * w) // 9
            k2 = (rr * h) // 8 * w + ((cc + 1) * w) // 9
            if int(px[k1]) > int(px[k2]):
                acc |= 1 << b
        expect = acc - (1 << 64) if acc >= (1 << 63) else acc
        assert got[iid] == expect, iid

    resized = {
        r.image_id: r.dhash
        for r in dhash_stage(resize_stage(imgs, 18, 16))
        .select("image_id", "dhash")
        .collect()
    }
    assert resized == got and len(got) > 0


def test_patchify_matches_numpy_reference(spark, imgs):
    """Every patch row's bytes, position and stats equal the direct
    numpy tiling of the fake-decoded image."""
    from extra_ops.multimodal import patchify_stage

    sample = imgs.select("image_id", "bytes", "w", "h").limit(40)
    meta = {r.image_id: (bytes(r.bytes), r.w, r.h) for r in sample.collect()}
    got = {}
    for r in patchify_stage(sample, patch=8).collect():
        got[(r.image_id, r.patch_row, r.patch_col)] = (
            bytes(r.patch_bytes),
            r.p_sum,
            r.p_min,
            r.p_max,
        )

    p = 8
    expect_keys = set()
    for iid, (payload, w, h) in meta.items():
        px = fake_decode(payload, w, h)
        for pr in range(h // p):
            for pc in range(w // p):
                tile = px[pr * p : (pr + 1) * p, pc * p : (pc + 1) * p]
                expect_keys.add((iid, pr, pc))
                b, s, lo, hi = got[(iid, pr, pc)]
                assert b == tile.tobytes(), (iid, pr, pc)
                assert s == int(tile.sum(dtype=np.int64))
                assert lo == int(tile.min()) and hi == int(tile.max())
    assert set(got) == expect_keys


def test_patchify_crops_and_reassembles(spark):
    """Non-divisible dims crop to the largest patch multiple; stitching
    the patches back in (patch_row, patch_col) order reproduces exactly
    the cropped image. Images smaller than one patch emit no rows."""
    from extra_ops.multimodal import patchify_stage

    rows = [
        ("a", bytes(range(11 * 7)), 11, 7),   # crops to 8x4 with p=4
        ("b", bytes(range(4 * 4)), 4, 4),     # exactly one patch
        ("c", bytes(range(3 * 3)), 3, 3),     # smaller than a patch: none
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    out = patchify_stage(df, patch=4).collect()
    by_img = {}
    for r in out:
        by_img.setdefault(r.image_id, {})[(r.patch_row, r.patch_col)] = bytes(
            r.patch_bytes
        )
    assert "c" not in by_img
    assert set(by_img["b"]) == {(0, 0)}
    assert by_img["b"][(0, 0)] == bytes(range(16))

    px = fake_decode(bytes(range(11 * 7)), 11, 7)
    assert set(by_img["a"]) == {(0, 0), (0, 1)}
    stitched = np.zeros((4, 8), dtype=np.uint8)
    for (pr, pc), b in by_img["a"].items():
        stitched[pr * 4 : (pr + 1) * 4, pc * 4 : (pc + 1) * 4] = np.frombuffer(
            b, dtype=np.uint8
        ).reshape(4, 4)
    assert (stitched == px[:4, :8]).all()


def test_sharpness_matches_numpy_reference(spark):
    from extra_ops.multimodal import (
        fake_decode,
        sharpness_stage,
    )

    rows = [
        ("a", bytes([(k * 37 + 11) % 256 for k in range(16 * 16)]), 16, 16),
        ("b", bytes([5] * (8 * 12)), 8, 12),       # constant: lap == 0
        ("c", bytes(range(2 * 9)), 2, 9),          # no interior (w < 3)
        ("d", bytes([(k * k) % 251 for k in range(32 * 16)]), 32, 16),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    got = {r.image_id: r for r in sharpness_stage(df).collect()}
    for image_id, payload, w, h in rows:
        px = fake_decode(payload, w, h).astype(np.int64)
        if w < 3 or h < 3:
            ref_n, ref_s, ref_q = 0, 0, 0
        else:
            lap = (
                4 * px[1:-1, 1:-1]
                - px[:-2, 1:-1]
                - px[2:, 1:-1]
                - px[1:-1, :-2]
                - px[1:-1, 2:]
            )
            ref_n, ref_s, ref_q = lap.size, int(lap.sum()), int((lap * lap).sum())
        r = got[image_id]
        assert (r.n_interior, r.lap_sum, r.lap_sq_sum) == (ref_n, ref_s, ref_q), image_id
    # constant image: zero Laplacian everywhere
    assert got["b"].lap_sum == 0 and got["b"].lap_sq_sum == 0


def test_sharpness_detects_blur(spark):
    """The statistic must DISCRIMINATE: a box-blurred copy of a noisy
    image scores strictly lower variance-of-Laplacian — the property a
    pipeline's blur filter relies on."""
    from extra_ops.multimodal import sharpness_stage

    rng = np.random.default_rng(3)
    sharp_px = rng.integers(0, 251, size=(24, 24)).astype(np.float64)
    k = np.ones((5, 5)) / 25.0
    blurred = sharp_px.copy()
    # separable box blur via cumulative sums would be overkill: direct conv
    from numpy.lib.stride_tricks import sliding_window_view

    win = sliding_window_view(np.pad(sharp_px, 2, mode="edge"), (5, 5))
    blurred = (win * k).sum(axis=(2, 3))
    rows = [
        ("sharp", sharp_px.astype(np.uint8).tobytes(), 24, 24),
        ("blur", blurred.astype(np.uint8).tobytes(), 24, 24),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    out = {r.image_id: r for r in sharpness_stage(df).collect()}

    def var_of(r):
        return (r.n_interior * r.lap_sq_sum - r.lap_sum**2) / r.n_interior**2

    assert var_of(out["blur"]) < var_of(out["sharp"]) * 0.25


def test_scene_cut_matches_numpy_and_contract(spark):
    from extra_ops.multimodal import scene_cut_stage

    rng = np.random.default_rng(7)
    w, h = 6, 4
    fs = w * h
    f0 = rng.integers(0, 251, fs).astype(np.uint8)
    f1 = (f0 + rng.integers(0, 3, fs)).astype(np.uint8)       # tiny drift
    f2 = rng.integers(0, 251, fs).astype(np.uint8)            # hard cut
    trailing = bytes([9] * 5)                                 # partial frame: ignored
    rows = [
        ("v0", f0.tobytes() + f1.tobytes() + f2.tobytes() + trailing, w, h),
        ("v1", f0.tobytes(), w, h),                           # single frame: no rows
        ("v2", f0.tobytes() + f0.tobytes(), w, h),            # identical: sad 0
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    out = scene_cut_stage(df, threshold_millis=20_000).collect()
    got = {(r.image_id, r.frame_idx): (r.sad, r.is_cut, r.n_px) for r in out}
    assert not any(k[0] == "v1" for k in got)
    s01 = int(np.abs(f1.astype(np.int64) - f0.astype(np.int64)).sum())
    s12 = int(np.abs(f2.astype(np.int64) - f1.astype(np.int64)).sum())
    assert got[("v0", 1)] == (s01, s01 * 1000 >= 20_000 * fs, fs)
    assert got[("v0", 2)] == (s12, s12 * 1000 >= 20_000 * fs, fs)
    assert got[("v0", 2)][1] and not got[("v0", 1)][1]  # the cut is the cut
    assert got[("v2", 1)] == (0, False, fs)


def test_gen_videos_have_exactly_one_cut_at_frame_two(spark):
    """The fixture's planted scene change: shifts (0,2,91,93) -> every
    video's only cut is the 2->91 transition (frame_idx 2)."""
    from osm_replication_rust_spark.datagen.synth import gen_videos
    from extra_ops.multimodal import scene_cut_stage

    vids = spark.createDataFrame(gen_videos(60, seed=42))
    out = scene_cut_stage(vids, threshold_millis=20_000)
    agg = out.groupBy("image_id").agg(
        F.count(F.lit(1)).alias("n_tr"),
        F.sum(F.col("is_cut").cast("int")).alias("n_cuts"),
        F.min(F.when(F.col("is_cut"), F.col("frame_idx"))).alias("cut_at"),
    )
    rows = agg.collect()
    assert len(rows) == 60
    assert all(r.n_tr == 3 and r.n_cuts == 1 and r.cut_at == 2 for r in rows)


def test_audio_stats_matches_numpy_and_silence_trim(spark):
    from extra_ops.multimodal import audio_stats_stage

    loud = bytes([128, 129, 200, 128, 50, 128, 127, 130])  # loud at 2 and 4
    silent = bytes([128, 127, 129, 120, 136, 128])          # all |s-128| < 16
    empty = b""
    rows = [
        ("a", loud, 8, 1),
        ("b", silent, 6, 1),
        ("c", empty, 0, 0),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    got = {r.image_id: r for r in audio_stats_stage(df, silence_amp=16).collect()}
    a = got["a"]
    samples = np.frombuffer(loud, np.uint8).astype(np.int64) - 128
    assert a.n_samples == 8
    assert a.peak == int(np.abs(samples).max())
    assert a.energy == int((samples * samples).sum())
    assert (a.trim_start, a.trim_end) == (2, 4)  # the slice with dead air cut
    b = got["b"]
    assert (b.trim_start, b.trim_end) == (None, None)  # wholly silent clip
    assert b.peak == 8 and b.n_samples == 6
    c = got["c"]
    assert (c.n_samples, c.peak, c.energy) == (0, 0, 0)


def test_sobel_matches_numpy_reference(spark):
    from extra_ops.multimodal import (
        fake_decode,
        sobel_stage,
    )

    rows = [
        ("a", bytes([(k * 37 + 11) % 256 for k in range(16 * 16)]), 16, 16),
        ("b", bytes([5] * (8 * 12)), 8, 12),   # constant: all gradients 0
        ("c", bytes(range(2 * 9)), 2, 9),      # no interior (w < 3)
        ("d", bytes([(k * k) % 251 for k in range(32 * 16)]), 32, 16),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    thr = 50_000
    got = {r.image_id: r for r in sobel_stage(df, edge_sq_min=thr).collect()}
    for image_id, payload, w, h in rows:
        px = fake_decode(payload, w, h).astype(np.int64)
        if w < 3 or h < 3:
            ref = (0, 0, 0, 0)
        else:
            gx = np.zeros((h - 2, w - 2), dtype=np.int64)
            gy = np.zeros((h - 2, w - 2), dtype=np.int64)
            for r_ in range(1, h - 1):
                for c_ in range(1, w - 1):
                    gx[r_ - 1, c_ - 1] = (
                        px[r_ - 1, c_ + 1] + 2 * px[r_, c_ + 1] + px[r_ + 1, c_ + 1]
                        - px[r_ - 1, c_ - 1] - 2 * px[r_, c_ - 1] - px[r_ + 1, c_ - 1]
                    )
                    gy[r_ - 1, c_ - 1] = (
                        px[r_ + 1, c_ - 1] + 2 * px[r_ + 1, c_] + px[r_ + 1, c_ + 1]
                        - px[r_ - 1, c_ - 1] - 2 * px[r_ - 1, c_] - px[r_ - 1, c_ + 1]
                    )
            sq = gx * gx + gy * gy
            ref = (
                int(np.abs(gx).sum()),
                int(np.abs(gy).sum()),
                int(sq.sum()),
                int((sq >= thr).sum()),
            )
        r = got[image_id]
        assert (r.gx_abs_sum, r.gy_abs_sum, r.g_sq_sum, r.n_edge) == ref, image_id
    assert got["b"].g_sq_sum == 0 and got["b"].n_edge == 0


def test_sobel_detects_edge_orientation(spark):
    """A pure horizontal step edge must be all-gy (gx == 0), a vertical
    step all-gx — the axis separation the two kernels exist for."""
    from extra_ops.multimodal import sobel_stage

    horiz = np.zeros((16, 16), dtype=np.uint8)
    horiz[8:, :] = 200  # step across rows -> vertical gradient (gy)
    vert = np.zeros((16, 16), dtype=np.uint8)
    vert[:, 8:] = 200   # step across cols -> horizontal gradient (gx)
    df = spark.createDataFrame(
        [("h", horiz.tobytes(), 16, 16), ("v", vert.tobytes(), 16, 16)],
        "image_id string, bytes binary, w int, h int",
    )
    got = {r.image_id: r for r in sobel_stage(df).collect()}
    assert got["h"].gx_abs_sum == 0 and got["h"].gy_abs_sum > 0
    assert got["v"].gy_abs_sum == 0 and got["v"].gx_abs_sum > 0


def test_otsu_matches_reference_and_contract(spark):
    """Kernel == brute-force shared-double reference on mixed shapes;
    constant image -> NULL triple; bimodal image separates exactly."""
    from extra_ops.multimodal import (
        fake_decode,
        otsu_stage,
    )

    bimodal = np.zeros((16, 16), dtype=np.uint8)
    bimodal[8:, :] = 200
    rows = [
        ("a", bytes([(k * 37 + 11) % 256 for k in range(16 * 16)]), 16, 16),
        ("b", bytes([5] * (8 * 12)), 8, 12),  # constant: no valid threshold
        ("c", bimodal.tobytes(), 16, 16),
        ("d", bytes([(k * k) % 251 for k in range(32 * 16)]), 32, 16),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    got = {r.image_id: r for r in otsu_stage(df).collect()}

    def ref(px):
        N = px.size
        hist = np.bincount(px.ravel(), minlength=256).astype(np.int64)
        cw = hist.cumsum()
        cs = (hist * np.arange(256, dtype=np.int64)).cumsum()
        S = int(cs[255])
        best = None
        for t in range(255):
            den = int(cw[t]) * (N - int(cw[t]))
            if den <= 0:
                continue
            numf = float(int(cw[t]) * S - N * int(cs[t]))
            sigma = (numf * numf) / float(den)
            if best is None or sigma > best[2]:
                best = (t, N - int(cw[t]), sigma)
        return best

    for image_id, payload, w, h in rows:
        px = fake_decode(payload, w, h)
        expect = ref(px)
        r = got[image_id]
        if expect is None:
            assert r.otsu_t is None and r.otsu_fg is None and r.otsu_sigma is None
        else:
            assert (r.otsu_t, r.otsu_fg) == expect[:2], image_id
            assert r.otsu_sigma == expect[2], image_id  # bit-exact, same IEEE ops
    # bimodal: threshold separates the two modes exactly (plateau start 0)
    assert got["c"].otsu_t == 0 and got["c"].otsu_fg == 128


def test_otsu_pixel_guard(spark):
    """Images past the float-exactness bound must raise, not silently
    break the shared-double contract."""
    from extra_ops.multimodal import (
        OTSU_MAX_PIXELS,
        otsu_stage,
    )

    assert 255 * OTSU_MAX_PIXELS * OTSU_MAX_PIXELS < 2**53
    side = 2049  # 2049^2 = 4_198_401 > 2^22
    big = spark.createDataFrame(
        [("x", bytes(64), side, side)],
        "image_id string, bytes binary, w int, h int",
    )
    with pytest.raises(Exception, match="OTSU_MAX_PIXELS"):
        otsu_stage(big).collect()


def test_hist_eq_matches_reference_and_contract(spark):
    """Kernel == per-image integer reference on mixed shapes; constant
    and empty images NULL; uniform ramp equalizes to ~identity."""
    from extra_ops.multimodal import (
        fake_decode,
        hist_eq_stage,
    )

    skewed = bytes([min(50 + (k % 30), 255) for k in range(16 * 16)])
    rows = [
        ("a", bytes([(k * 37 + 11) % 256 for k in range(16 * 16)]), 16, 16),
        ("b", bytes([5] * (8 * 12)), 8, 12),       # constant -> NULL
        ("c", skewed, 16, 16),                      # narrow dynamic range
        ("d", bytes([(k * k) % 251 for k in range(32 * 16)]), 32, 16),
        ("e", bytes(range(256)), 16, 16),           # exact ramp
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    got = {r.image_id: (r.eq_sum, r.eq_dark) for r in hist_eq_stage(df).collect()}

    def ref(px):
        n = px.size
        hist = np.bincount(px.ravel(), minlength=256).astype(np.int64)
        cw = hist.cumsum()
        cmin = int(cw[np.nonzero(hist)[0][0]])
        if cmin == n:
            return (None, None)
        ev = ((cw - cmin) * 255) // (n - cmin)
        return (int((hist * ev).sum()), int((hist * (ev < 64)).sum()))

    for rid, payload, w, h in rows:
        px = fake_decode(payload, w, h)
        assert got[rid] == ref(px), rid
    assert got["b"] == (None, None)
    # exact ramp: eq(v) == v up to floor, so dark mass == 64 pixels
    assert got["e"][1] == 64


def test_bilinear_resize_exact_reference_and_identity(spark):
    from extra_ops.multimodal import (
        bilinear_resize_stage,
        fake_decode,
    )

    rows = [
        ("a", bytes([(k * 37 + 11) % 256 for k in range(16 * 12)]), 16, 12),
        ("b", bytes([(k * k) % 251 for k in range(7 * 9)]), 7, 9),  # up+down mix
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    out_w, out_h = 8, 8
    got = {
        r.image_id: (np.frombuffer(bytes(r.bytes), dtype=np.uint8), r.bl_sum, r.bl_wsum)
        for r in bilinear_resize_stage(
            df, out_w, out_h, with_checksums=True
        ).collect()
    }

    def ref(px, w, h):
        dx, dy = 2 * out_w, 2 * out_h
        out = np.zeros((out_h, out_w), dtype=np.int64)
        for j in range(out_h):
            ny = min(max((2 * j + 1) * h - out_h, 0), (h - 1) * dy)
            y0, fy = ny // dy, ny % dy
            y1 = min(y0 + 1, h - 1)
            for i in range(out_w):
                nx = min(max((2 * i + 1) * w - out_w, 0), (w - 1) * dx)
                x0, fx = nx // dx, nx % dx
                x1 = min(x0 + 1, w - 1)
                out[j, i] = (
                    int(px[y0, x0]) * (dx - fx) * (dy - fy)
                    + int(px[y0, x1]) * fx * (dy - fy)
                    + int(px[y1, x0]) * (dx - fx) * fy
                    + int(px[y1, x1]) * fx * fy
                ) // (dx * dy)
        return out

    for rid, payload, w, h in rows:
        px = fake_decode(payload, w, h).astype(np.int64)
        want = ref(px, w, h).ravel()
        gb, gs, gw = got[rid]
        assert np.array_equal(gb.astype(np.int64), want), rid
        assert gs == int(want.sum())
        assert gw == int((want * (np.arange(want.size) + 1)).sum())

    # same-size bilinear resize is the exact identity
    ident = bilinear_resize_stage(
        spark.createDataFrame(rows[:1], "image_id string, bytes binary, w int, h int"),
        16, 12,
    ).collect()[0]
    assert bytes(ident.bytes) == rows[0][1]


def test_template_match_matches_numpy_reference(spark):
    from extra_ops.multimodal import (
        fake_decode,
        template_match_stage,
    )

    tpl = np.array(
        [[(r * 4 + c) * 37 % 251 for c in range(4)] for r in range(4)]
    )
    rows = [
        ("a", bytes([(k * 37 + 11) % 256 for k in range(16 * 16)]), 16, 16),
        ("b", bytes([5] * (8 * 12)), 8, 12),
        ("c", bytes(range(2 * 9)), 2, 9),      # smaller than the template
        ("d", bytes([(k * k) % 251 for k in range(32 * 16)]), 32, 16),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    got = {r.image_id: r for r in template_match_stage(df, tpl).collect()}
    for image_id, payload, w, h in rows:
        r = got[image_id]
        if h < 4 or w < 4:
            assert (r.n_pos, r.best_ssd, r.best_y, r.best_x) == (0, None, None, None)
            continue
        px = fake_decode(payload, w, h).astype(np.int64)
        best = None
        for oy in range(h - 3):
            for ox in range(w - 3):
                d = px[oy : oy + 4, ox : ox + 4] - tpl
                s = int((d * d).sum())
                if best is None or s < best[0]:
                    best = (s, oy, ox)
        assert r.n_pos == (h - 3) * (w - 3)
        assert (r.best_ssd, r.best_y, r.best_x) == best, image_id


def test_template_match_planted_exact_and_ties(spark):
    from extra_ops.multimodal import (
        template_match_stage,
    )

    # plant the template verbatim at (3, 5): best_ssd must be 0 there
    rng = np.random.default_rng(5)
    img = rng.integers(0, 251, size=(12, 10), dtype=np.int64)
    tpl = img[3:7, 5:9].copy()
    # ensure no OTHER window equals the template (random 4x4 over 251
    # values: collision odds are negligible, but assert to be sure)
    n_zero = sum(
        (img[y : y + 4, x : x + 4] == tpl).all()
        for y in range(9)
        for x in range(7)
    )
    assert n_zero == 1
    rows = [("p", bytes(img.astype(np.uint8).flatten().tolist()), 10, 12)]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    r = template_match_stage(df, tpl).collect()[0]
    assert (r.best_ssd, r.best_y, r.best_x) == (0, 3, 5)

    # constant image + constant template: every offset ties at 0 ->
    # smallest y then x wins
    const = [("t", bytes([7] * 48), 8, 6)]
    df = spark.createDataFrame(const, "image_id string, bytes binary, w int, h int")
    r = template_match_stage(df, np.full((2, 2), 7)).collect()[0]
    assert (r.n_pos, r.best_ssd, r.best_y, r.best_x) == (35, 0, 0, 0)


def test_template_match_guards(spark):
    import pytest

    from extra_ops.multimodal import (
        template_match_stage,
    )

    df = spark.createDataFrame(
        [("a", bytes(16), 4, 4)], "image_id string, bytes binary, w int, h int"
    )
    with pytest.raises(ValueError, match="2-D"):
        template_match_stage(df, np.array([1, 2, 3]))
    with pytest.raises(ValueError, match="uint8-range"):
        template_match_stage(df, np.array([[300]]))


def test_orientation_hist_matches_reference(spark):
    import math

    from extra_ops.multimodal import (
        fake_decode,
        orientation_hist_stage,
    )

    rows = [
        ("a", bytes([(k * 37 + 11) % 256 for k in range(16 * 16)]), 16, 16),
        ("b", bytes([5] * (8 * 12)), 8, 12),   # constant: all flat
        ("c", bytes(range(2 * 9)), 2, 9),      # no interior
        ("d", bytes([(k * k) % 251 for k in range(32 * 16)]), 32, 16),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    got = {r.image_id: r for r in orientation_hist_stage(df).collect()}
    for image_id, payload, w, h in rows:
        r = got[image_id]
        if w < 3 or h < 3:
            assert all(
                getattr(r, c) == 0
                for c in ["og_flat"]
                + [f"og_n{b}" for b in range(4)]
                + [f"og_e{b}" for b in range(4)]
            )
            continue
        px = fake_decode(payload, w, h).astype(np.int64)
        ref_n = [0, 0, 0, 0]
        ref_e = [0, 0, 0, 0]
        flat = 0
        for y in range(1, h - 1):
            for x in range(1, w - 1):
                gx = int(
                    px[y - 1, x + 1] + 2 * px[y, x + 1] + px[y + 1, x + 1]
                    - px[y - 1, x - 1] - 2 * px[y, x - 1] - px[y + 1, x - 1]
                )
                gy = int(
                    px[y + 1, x - 1] + 2 * px[y + 1, x] + px[y + 1, x + 1]
                    - px[y - 1, x - 1] - 2 * px[y - 1, x] - px[y - 1, x + 1]
                )
                if gx == 0 and gy == 0:
                    flat += 1
                    continue
                # independent angle-based binning: the undirected
                # gradient angle in [0, 180) at 45-degree sectors
                theta = math.degrees(math.atan2(gy, gx)) % 180.0
                b = int(theta // 45.0) % 4
                ref_n[b] += 1
                ref_e[b] += gx * gx + gy * gy
        assert r.og_flat == flat, image_id
        assert [getattr(r, f"og_n{b}") for b in range(4)] == ref_n, image_id
        assert [getattr(r, f"og_e{b}") for b in range(4)] == ref_e, image_id


def test_orientation_hist_pure_directions(spark):
    """Vertical / horizontal / diagonal ramps land ALL their non-flat
    energy in the expected single sector, boundary angles included."""
    from extra_ops.multimodal import (
        orientation_hist_stage,
    )

    w = h = 8
    # horizontal ramp: gradient points along +x -> theta 0 -> bin 0
    horiz = bytes([(5 * x) % 256 for y in range(h) for x in range(w)])
    # vertical ramp: gradient +y -> theta 90 -> bin 2 (boundary goes ccw)
    vert = bytes([(5 * y) % 256 for y in range(h) for x in range(w)])
    # diagonal ramp x+y: theta 45 -> bin 1
    diag = bytes([(5 * (x + y)) % 256 for y in range(h) for x in range(w)])
    rows = [("hz", horiz, w, h), ("vt", vert, w, h), ("dg", diag, w, h)]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    got = {r.image_id: r for r in orientation_hist_stage(df).collect()}
    n_int = (w - 2) * (h - 2)
    for image_id, b in (("hz", 0), ("vt", 2), ("dg", 1)):
        r = got[image_id]
        assert getattr(r, f"og_n{b}") == n_int, image_id
        assert r.og_flat == 0
        assert sum(getattr(r, f"og_n{k}") for k in range(4)) == n_int


def test_harris_matches_numpy_reference(spark):
    """Kernel == brute per-pixel structure-tensor reference on mixed
    shapes; undersized images get the NULL/zero contract."""
    from extra_ops.multimodal import (
        fake_decode,
        harris_stage,
    )

    rows = [
        ("a", bytes([(k * 37 + 11) % 256 for k in range(16 * 16)]), 16, 16),
        ("b", bytes([5] * (8 * 12)), 8, 12),    # constant: R20 == 0 everywhere
        ("c", bytes(range(4 * 9)), 4, 9),       # w < 5: no full window
        ("d", bytes([(k * k) % 251 for k in range(32 * 16)]), 32, 16),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    thr = 1_000_000_000
    got = {r.image_id: r for r in harris_stage(df, corner_min=thr).collect()}
    for image_id, payload, w, h in rows:
        r = got[image_id]
        if w < 5 or h < 5:
            assert (r.hc_n, r.hc_max, r.hc_min, r.hc_wpos) == (0, None, None, 0)
            continue
        px = fake_decode(payload, w, h).astype(np.int64)
        gx = np.zeros((h, w), dtype=np.int64)
        gy = np.zeros((h, w), dtype=np.int64)
        for y in range(1, h - 1):
            for x in range(1, w - 1):
                gx[y, x] = (
                    px[y - 1, x + 1] + 2 * px[y, x + 1] + px[y + 1, x + 1]
                    - px[y - 1, x - 1] - 2 * px[y, x - 1] - px[y + 1, x - 1]
                )
                gy[y, x] = (
                    px[y + 1, x - 1] + 2 * px[y + 1, x] + px[y + 1, x + 1]
                    - px[y - 1, x - 1] - 2 * px[y - 1, x] - px[y - 1, x + 1]
                )
        n = mx = mn = wp = None
        vals = []
        for y in range(2, h - 2):
            for x in range(2, w - 2):
                A = B = C = 0
                for dy in (-1, 0, 1):
                    for dx in (-1, 0, 1):
                        A += gx[y + dy, x + dx] ** 2
                        B += gy[y + dy, x + dx] ** 2
                        C += gx[y + dy, x + dx] * gy[y + dy, x + dx]
                r20 = 20 * (A * B - C * C) - (A + B) * (A + B)
                vals.append((r20, y * w + x))
        n = sum(1 for v, _ in vals if v > thr)
        wp = sum(k for v, k in vals if v > thr)
        mx = max(v for v, _ in vals)
        mn = min(v for v, _ in vals)
        assert (r.hc_n, r.hc_max, r.hc_min, r.hc_wpos) == (n, mx, mn, wp), image_id
    assert got["b"].hc_max == 0 and got["b"].hc_n == 0


def test_harris_detects_planted_corner(spark):
    """A single bright rectangle corner in a flat field: the max
    response must sit within 1 px of the rectangle's corner, and a
    pure straight edge must score far lower than the corner (the
    det-vs-trace discrimination Harris exists for)."""
    from extra_ops.multimodal import harris_stage

    corner = np.zeros((24, 24), dtype=np.uint8)
    corner[12:, 12:] = 200          # one L-corner at (12, 12)
    edge = np.zeros((24, 24), dtype=np.uint8)
    edge[:, 12:] = 200              # pure vertical edge: det(M) == 0
    df = spark.createDataFrame(
        [("c", corner.tobytes(), 24, 24), ("e", edge.tobytes(), 24, 24)],
        "image_id string, bytes binary, w int, h int",
    )
    got = {r.image_id: r for r in harris_stage(df, corner_min=10**12).collect()}
    assert got["c"].hc_n >= 1
    # locate max via a second pass with threshold just under the max
    got2 = {
        r.image_id: r
        for r in harris_stage(df, corner_min=got["c"].hc_max - 1).collect()
    }
    k = got2["c"].hc_wpos // got2["c"].hc_n
    y, x = divmod(int(k), 24)
    assert abs(y - 12) <= 1 and abs(x - 12) <= 1
    # straight edge: every response far below the corner's peak
    assert got["e"].hc_max < got["c"].hc_max
    assert got["e"].hc_n == 0


def test_median_filter_matches_numpy_reference(spark):
    from extra_ops.multimodal import (
        fake_decode,
        median_filter_stage,
    )

    rows = [
        ("a", bytes([(k * 37 + 11) % 256 for k in range(16 * 16)]), 16, 16),
        ("b", bytes([5] * (8 * 12)), 8, 12),
        ("c", bytes(range(2 * 9)), 2, 9),      # no interior
        ("d", bytes([(k * k) % 251 for k in range(32 * 16)]), 32, 16),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    got = {r.image_id: r for r in median_filter_stage(df).collect()}
    for image_id, payload, w, h in rows:
        r = got[image_id]
        if w < 3 or h < 3:
            assert (r.med_sum, r.med_absdiff) == (0, 0)
            continue
        px = fake_decode(payload, w, h).astype(np.int64)
        ms = md = 0
        for y in range(1, h - 1):
            for x in range(1, w - 1):
                window = sorted(
                    int(px[y + dy, x + dx])
                    for dy in (-1, 0, 1)
                    for dx in (-1, 0, 1)
                )
                med = window[4]
                ms += med
                md += abs(med - int(px[y, x]))
        assert (r.med_sum, r.med_absdiff) == (ms, md), image_id


def test_median_filter_kills_impulse_noise(spark):
    """Salt-and-pepper: isolated impulses vanish from the median field
    (med_sum equals the clean image's) and the impulse mass counts
    exactly the planted outliers."""
    from extra_ops.multimodal import median_filter_stage

    clean = np.full((16, 16), 100, dtype=np.uint8)
    noisy = clean.copy()
    # isolated impulses, no two adjacent: medians stay 100 everywhere
    for y, x, v in [(3, 3, 255), (3, 8, 0), (9, 5, 255), (12, 12, 0)]:
        noisy[y, x] = v
    df = spark.createDataFrame(
        [("clean", clean.tobytes(), 16, 16), ("noisy", noisy.tobytes(), 16, 16)],
        "image_id string, bytes binary, w int, h int",
    )
    got = {r.image_id: r for r in median_filter_stage(df).collect()}
    assert got["noisy"].med_sum == got["clean"].med_sum == 100 * 14 * 14
    assert got["clean"].med_absdiff == 0
    assert got["noisy"].med_absdiff == (255 - 100) + 100 + 155 + 100


def test_morphology_matches_numpy_reference(spark):
    from extra_ops.multimodal import (
        fake_decode,
        morphology_stage,
    )

    rows = [
        ("a", bytes([(k * 37 + 11) % 256 for k in range(16 * 16)]), 16, 16),
        ("b", bytes([5] * (8 * 12)), 8, 12),
        ("c", bytes(range(2 * 9)), 2, 9),      # no interior
        ("d", bytes([(k * k) % 251 for k in range(32 * 16)]), 32, 16),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    got = {r.image_id: r for r in morphology_stage(df).collect()}
    for image_id, payload, w, h in rows:
        r = got[image_id]
        if w < 3 or h < 3:
            assert (r.ero_sum, r.dil_sum, r.mg_nz) == (0, 0, 0)
            continue
        px = fake_decode(payload, w, h).astype(np.int64)
        es = ds = mg = raw = 0
        for y in range(1, h - 1):
            for x in range(1, w - 1):
                window = [
                    int(px[y + dy, x + dx])
                    for dy in (-1, 0, 1)
                    for dx in (-1, 0, 1)
                ]
                es += min(window)
                ds += max(window)
                mg += 1 if max(window) > min(window) else 0
                raw += int(px[y, x])
        assert (r.ero_sum, r.dil_sum, r.mg_nz) == (es, ds, mg), image_id
        # the morphology sandwich: erosion <= raw <= dilation
        assert r.ero_sum <= raw <= r.dil_sum


def test_morphology_flat_and_impulse(spark):
    """Constant image: erosion == dilation everywhere (mg_nz == 0).
    One isolated impulse dilates to its full 3x3 neighborhood and
    erodes away entirely."""
    from extra_ops.multimodal import morphology_stage

    flat = np.full((10, 10), 7, dtype=np.uint8)
    imp = flat.copy()
    imp[5, 5] = 200
    df = spark.createDataFrame(
        [("flat", flat.tobytes(), 10, 10), ("imp", imp.tobytes(), 10, 10)],
        "image_id string, bytes binary, w int, h int",
    )
    got = {r.image_id: r for r in morphology_stage(df).collect()}
    n_int = 8 * 8
    assert got["flat"].ero_sum == got["flat"].dil_sum == 7 * n_int
    assert got["flat"].mg_nz == 0
    # dilation: the impulse wins the max in its 9 surrounding windows
    assert got["imp"].dil_sum == 7 * (n_int - 9) + 200 * 9
    # erosion: the impulse's own window min is still 7 -> erosion unchanged
    assert got["imp"].ero_sum == 7 * n_int
    assert got["imp"].mg_nz == 9


def test_lbp_matches_loop_reference(spark):
    from extra_ops.multimodal import (
        LBP_RING,
        fake_decode,
        lbp_stage,
    )

    rows = [
        ("a", bytes([(k * 37 + 11) % 256 for k in range(16 * 16)]), 16, 16),
        ("b", bytes([(k * 7 + 3) % 251 for k in range(12 * 20)]), 12, 20),
        ("c", bytes(range(9 * 2)), 9, 2),      # no interior
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    got = {r.image_id: r for r in lbp_stage(df).collect()}
    for image_id, payload, w, h in rows:
        r = got[image_id]
        if w < 3 or h < 3:
            assert (r.lbp_sum, r.lbp_uni) == (0, 0)
            continue
        px = fake_decode(payload, w, h).astype(np.int64)
        ls = lu = 0
        for y in range(1, h - 1):
            for x in range(1, w - 1):
                bits = [
                    1 if px[y + dy, x + dx] >= px[y, x] else 0
                    for dy, dx in LBP_RING
                ]
                ls += sum(b << i for i, b in enumerate(bits))
                trans = sum(bits[i] != bits[(i + 1) % 8] for i in range(8))
                lu += 1 if trans <= 2 else 0
        assert (r.lbp_sum, r.lbp_uni) == (ls, lu), image_id


def test_lbp_flat_edge_and_saw(spark):
    """Constant image: every ring comparison ties inside -> code 255,
    zero transitions, all uniform. A vertical step edge: interior codes
    are uniform (one contiguous >= arc). A 1px checkerboard: every PEAK
    pixel's ring alternates (8 transitions, non-uniform) while every
    valley ties with its whole ring (code 255, uniform) — so exactly
    the 25 valleys of the 7x7 interior count."""
    from extra_ops.multimodal import lbp_stage

    flat = np.full((8, 8), 9, dtype=np.uint8)
    edge = np.zeros((8, 8), dtype=np.uint8)
    edge[:, 4:] = 100
    saw = np.fromfunction(lambda y, x: ((x + y) % 2) * 100, (9, 9)).astype(np.uint8)
    df = spark.createDataFrame(
        [
            ("flat", flat.tobytes(), 8, 8),
            ("edge", edge.tobytes(), 8, 8),
            ("saw", saw.tobytes(), 9, 9),
        ],
        "image_id string, bytes binary, w int, h int",
    )
    got = {r.image_id: r for r in lbp_stage(df).collect()}
    assert got["flat"].lbp_sum == 255 * 36
    assert got["flat"].lbp_uni == 36
    assert got["edge"].lbp_uni == 36      # step edges are uniform patterns
    # checkerboard peaks: ring alternates 1,0,1,0,... -> 8 transitions,
    # non-uniform; valleys: all-ties code 255 -> uniform. 25 valleys.
    assert got["saw"].lbp_uni == 25


def test_glcm_matches_loop_reference(spark):
    from extra_ops.multimodal import (
        GLCM_HOMOG_K,
        fake_decode,
        glcm_stage,
    )

    rows = [
        ("a", bytes([(k * 37 + 11) % 256 for k in range(16 * 16)]), 16, 16),
        ("b", bytes([(k * 7 + 3) % 251 for k in range(12 * 20)]), 12, 20),
        ("c", bytes(range(7)), 1, 7),          # w < 2: no pairs
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    got = {r.image_id: r for r in glcm_stage(df).collect()}
    for image_id, payload, w, h in rows:
        r = got[image_id]
        if w < 2:
            assert (
                r.glcm_n, r.glcm_contrast, r.glcm_energy, r.glcm_homog, r.glcm_nz
            ) == (0, 0, 0, 0, 0)
            continue
        px = fake_decode(payload, w, h).astype(np.int64)
        counts = {}
        for y in range(h):
            for x in range(w - 1):
                key = (px[y, x] >> 4, px[y, x + 1] >> 4)
                counts[key] = counts.get(key, 0) + 1
        want_n = (w - 1) * h
        want_c = sum(n * (i - j) ** 2 for (i, j), n in counts.items())
        want_e = sum(n * n for n in counts.values())
        want_h = sum(
            n * (GLCM_HOMOG_K // (1 + abs(i - j)))
            for (i, j), n in counts.items()
        )
        assert (
            r.glcm_n, r.glcm_contrast, r.glcm_energy, r.glcm_homog, r.glcm_nz
        ) == (want_n, want_c, want_e, want_h, len(counts)), image_id


def test_glcm_constant_ramp_and_checker(spark):
    """Constant image: one occupied cell (i, i) -> contrast 0, energy
    n^2, homogeneity n*K. A horizontal two-level step: the single
    cross-level pair per row sits at |i-j| = 5. A 1px vertical-stripe
    checkerboard between levels 0 and 15: EVERY horizontal pair crosses
    15 levels -> maximal contrast 225 per pair, two occupied cells."""
    from extra_ops.multimodal import (
        GLCM_HOMOG_K,
        glcm_stage,
    )

    flat = np.full((6, 6), 40, dtype=np.uint8)           # level 2
    step = np.zeros((4, 8), dtype=np.uint8)              # levels 0 | 5
    step[:, 4:] = 80
    stripes = np.zeros((5, 8), dtype=np.uint8)           # levels 0 | 15
    stripes[:, 1::2] = 249                               # 249 >> 4 = 15
    rows = [
        ("flat", flat.tobytes(), 6, 6),
        ("step", step.tobytes(), 8, 4),
        ("stripes", stripes.tobytes(), 8, 5),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    # bypass the LCG: these payloads ARE the pixels (fake_decode is
    # identity when len == w*h)
    got = {r.image_id: r for r in glcm_stage(df).collect()}
    f = got["flat"]
    n = 5 * 6
    assert (f.glcm_n, f.glcm_contrast, f.glcm_energy, f.glcm_homog, f.glcm_nz) == (
        n, 0, n * n, n * GLCM_HOMOG_K, 1
    )
    s = got["step"]
    assert s.glcm_n == 7 * 4
    # per row: three (0,0) pairs, one (0,5) crossing, three (5,5) pairs
    assert s.glcm_contrast == 4 * 25
    assert s.glcm_energy == 12 * 12 + 4 * 4 + 12 * 12
    assert s.glcm_nz == 3
    st = got["stripes"]
    assert st.glcm_n == 7 * 5
    assert st.glcm_contrast == 35 * 225
    assert st.glcm_nz == 2            # (0,15) and (15,0)
    # homogeneity: every pair at |i-j| = 15 -> weight K // 16
    assert st.glcm_homog == 35 * (GLCM_HOMOG_K // 16)


def test_moments_matches_loop_reference(spark):
    from extra_ops.multimodal import (
        fake_decode,
        moments_stage,
    )

    rows = [
        ("a", bytes([(k * 37 + 11) % 256 for k in range(16 * 16)]), 16, 16),
        ("b", bytes([(k * 7 + 3) % 251 for k in range(12 * 20)]), 12, 20),
        ("c", bytes([5]), 1, 1),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    got = {r.image_id: r for r in moments_stage(df).collect()}
    for image_id, payload, w, h in rows:
        px = fake_decode(payload, w, h).astype(object)  # python ints, no wrap
        m = {k: 0 for k in ("m00", "m10", "m01", "m20", "m02", "m11")}
        for y in range(h):
            for x in range(w):
                v = int(px[y, x])
                m["m00"] += v
                m["m10"] += x * v
                m["m01"] += y * v
                m["m20"] += x * x * v
                m["m02"] += y * y * v
                m["m11"] += x * y * v
        r = got[image_id]
        for k, want in m.items():
            assert getattr(r, f"im_{k}") == want, (image_id, k)


def test_moments_orientation_and_symmetry_contracts(spark):
    """A single bright pixel at (x0, y0): m10/m00 = x0, m01/m00 = y0 and
    every central numerator is exactly 0. A horizontal bar: mu20n > 0
    while mu02n = 0 (no vertical spread) and mu11n = 0. A diagonal
    line y = x: mu11n > 0 (positive principal-axis correlation)."""
    from extra_ops.multimodal import moments_stage

    dot = np.zeros((8, 8), dtype=np.uint8)
    dot[3, 5] = 200
    bar = np.zeros((8, 8), dtype=np.uint8)
    bar[4, 1:7] = 10
    diag = np.zeros((8, 8), dtype=np.uint8)
    np.fill_diagonal(diag, 10)
    rows = [
        ("dot", dot.tobytes(), 8, 8),
        ("bar", bar.tobytes(), 8, 8),
        ("diag", diag.tobytes(), 8, 8),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    got = {r.image_id: r for r in moments_stage(df).collect()}

    def mu(r):
        mu20 = r.im_m00 * r.im_m20 - r.im_m10 * r.im_m10
        mu02 = r.im_m00 * r.im_m02 - r.im_m01 * r.im_m01
        mu11 = r.im_m00 * r.im_m11 - r.im_m10 * r.im_m01
        return mu20, mu02, mu11

    d = got["dot"]
    assert (d.im_m00, d.im_m10 / d.im_m00, d.im_m01 / d.im_m00) == (200, 5, 3)
    assert mu(d) == (0, 0, 0)
    b20, b02, b11 = mu(got["bar"])
    assert b20 > 0 and b02 == 0 and b11 == 0
    g20, g02, g11 = mu(got["diag"])
    assert g11 > 0 and g20 == g02  # y = x symmetry


def test_moments_dim_guard(spark):
    from extra_ops.multimodal import (
        MOMENTS_MAX_DIM,
        moments_stage,
    )

    df = spark.createDataFrame(
        [("big", bytes(2 * (MOMENTS_MAX_DIM + 1)), MOMENTS_MAX_DIM + 1, 2)],
        "image_id string, bytes binary, w int, h int",
    )
    with pytest.raises(Exception, match="MOMENTS_MAX_DIM"):
        moments_stage(df).collect()


def _ref_nms(px, thr):
    """Brute loop reference of the exact-integer NMS contract."""
    h, w = px.shape
    px = px.astype(int)
    sq = {}
    g = {}
    for r in range(1, h - 1):
        for c in range(1, w - 1):
            gx = (px[r-1, c+1] + 2*px[r, c+1] + px[r+1, c+1]
                  - px[r-1, c-1] - 2*px[r, c-1] - px[r+1, c-1])
            gy = (px[r+1, c-1] + 2*px[r+1, c] + px[r+1, c+1]
                  - px[r-1, c-1] - 2*px[r-1, c] - px[r-1, c+1])
            sq[(r, c)] = gx*gx + gy*gy
            g[(r, c)] = (gx, gy)
    nn = ns = nw = 0
    for (r, c), s in sq.items():
        gx, gy = g[(r, c)]
        ax, ay = abs(gx), abs(gy)
        s2 = (ax + ay) ** 2
        if s2 <= 2 * gx * gx:
            offs = ((0, -1), (0, 1))
        elif s2 <= 2 * gy * gy:
            offs = ((-1, 0), (1, 0))
        elif gx * gy > 0:
            offs = ((-1, -1), (1, 1))
        else:
            offs = ((-1, 1), (1, -1))
        n1 = sq.get((r + offs[0][0], c + offs[0][1]), 0)
        n2 = sq.get((r + offs[1][0], c + offs[1][1]), 0)
        if s >= thr and s >= n1 and s >= n2:
            nn += 1
            ns += s
            nw += r * 4096 + c + 1
    return nn, ns, nw


def test_nms_matches_loop_reference(spark):
    from extra_ops.multimodal import (
        fake_decode,
        nms_stage,
    )

    rows = [
        ("a", bytes([(k * 37 + 11) % 256 for k in range(16 * 16)]), 16, 16),
        ("b", bytes([(k * 7 + 3) % 251 for k in range(12 * 20)]), 12, 20),
        ("c", bytes(range(9 * 2)), 9, 2),      # no interior
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    thr = 1000
    got = {r.image_id: r for r in nms_stage(df, edge_sq_min=thr).collect()}
    for image_id, payload, w, h in rows:
        r = got[image_id]
        if w < 3 or h < 3:
            assert (r.nms_n, r.nms_sq_sum, r.nms_wpos) == (0, 0, 0)
            continue
        want = _ref_nms(fake_decode(payload, w, h), thr)
        assert (r.nms_n, r.nms_sq_sum, r.nms_wpos) == want, image_id


def test_nms_thins_a_soft_vertical_edge(spark):
    """A horizontal intensity ramp concentrated over two columns: the
    gradient is horizontal everywhere, and NMS keeps exactly the
    single column where |gx| peaks — the classic thinning contract."""
    from extra_ops.multimodal import nms_stage

    img = np.zeros((8, 10), dtype=np.uint8)
    img[:, 5] = 60          # soft shoulder
    img[:, 6:] = 200        # plateau
    df = spark.createDataFrame(
        [("e", img.tobytes(), 10, 8)],
        "image_id string, bytes binary, w int, h int",
    )
    r = nms_stage(df, edge_sq_min=100).collect()[0]
    # peak |gx| is at column 5 (0 -> 60 -> 200 spans it); NMS must keep
    # one column of the 6 interior rows, not the 2-3 column thick band
    assert r.nms_n == 6
    # all kept pixels share one column: the wpos sum over rows 1..6
    # with a fixed column must reconstruct exactly
    want_col = None
    for c in range(1, 9):
        if sum(rr * 4096 + c + 1 for rr in range(1, 7)) == r.nms_wpos:
            want_col = c
    assert want_col == 5


def _ref_euler(px, thr):
    """Brute quad census + an INDEPENDENT BFS component/hole counter."""
    h, w = px.shape
    b = np.zeros((h + 2, w + 2), dtype=int)
    b[1:-1, 1:-1] = (px.astype(int) >= thr)
    q1 = q3 = qd = 0
    for r in range(h + 1):
        for c in range(w + 1):
            win = (b[r, c], b[r, c + 1], b[r + 1, c], b[r + 1, c + 1])
            s = sum(win)
            if s == 1:
                q1 += 1
            elif s == 3:
                q3 += 1
            elif s == 2 and win[0] == win[3] and win[1] == win[2]:
                qd += 1
    return q1, q3, qd, (q1 - q3 + 2 * qd) // 4, (q1 - q3 - 2 * qd) // 4


def _count_components(mask, conn8=False):
    """BFS component count over a boolean mask."""
    from collections import deque

    h, w = mask.shape
    seen = np.zeros_like(mask, dtype=bool)
    offs = [(-1, 0), (1, 0), (0, -1), (0, 1)]
    if conn8:
        offs += [(-1, -1), (-1, 1), (1, -1), (1, 1)]
    n = 0
    for r in range(h):
        for c in range(w):
            if mask[r, c] and not seen[r, c]:
                n += 1
                dq = deque([(r, c)])
                seen[r, c] = True
                while dq:
                    y, x = dq.popleft()
                    for dy, dx in offs:
                        yy, xx = y + dy, x + dx
                        if 0 <= yy < h and 0 <= xx < w and mask[yy, xx] \
                                and not seen[yy, xx]:
                            seen[yy, xx] = True
                            dq.append((yy, xx))
    return n


def test_euler_matches_census_and_topology(spark):
    from extra_ops.multimodal import (
        euler_stage,
        fake_decode,
    )

    rows = [
        ("a", bytes([(k * 37 + 11) % 256 for k in range(16 * 16)]), 16, 16),
        ("b", bytes([(k * 7 + 3) % 251 for k in range(12 * 20)]), 12, 20),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    got = {r.image_id: r for r in euler_stage(df).collect()}
    for image_id, payload, w, h in rows:
        px = fake_decode(payload, w, h)
        want = _ref_euler(px, 128)
        r = got[image_id]
        assert (r.eu_q1, r.eu_q3, r.eu_qd, r.eu_chi4, r.eu_chi8) == want
        # chi_4 = 4-connected components - 8-connected holes (and dual)
        mask = px.astype(int) >= 128
        inv = ~mask
        # holes = background components not touching the border
        padded_inv = np.zeros((h + 2, w + 2), dtype=bool)
        padded_inv[1:-1, 1:-1] = inv
        padded_inv[0, :] = padded_inv[-1, :] = True
        padded_inv[:, 0] = padded_inv[:, -1] = True
        holes8 = _count_components(padded_inv, conn8=True) - 1
        holes4 = _count_components(padded_inv, conn8=False) - 1
        assert r.eu_chi4 == _count_components(mask, conn8=False) - holes8
        assert r.eu_chi8 == _count_components(mask, conn8=True) - holes4


def test_euler_planted_shapes(spark):
    from extra_ops.multimodal import euler_stage

    disk = np.zeros((9, 9), dtype=np.uint8)
    disk[2:7, 2:7] = 200                      # one solid blob: chi = 1
    ring = disk.copy()
    ring[4, 4] = 0                            # punch a hole: chi = 0
    two = np.zeros((9, 9), dtype=np.uint8)
    two[1:3, 1:3] = 200
    two[6:8, 6:8] = 200                       # two blobs: chi = 2
    diag = np.zeros((4, 4), dtype=np.uint8)
    diag[1, 1] = diag[2, 2] = 200             # corner-touching pair:
    rows = [("disk", disk.tobytes(), 9, 9),   # 2 under 4-conn, 1 under 8
            ("ring", ring.tobytes(), 9, 9),
            ("two", two.tobytes(), 9, 9),
            ("diag", diag.tobytes(), 4, 4)]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    got = {r.image_id: (r.eu_chi4, r.eu_chi8) for r in euler_stage(df).collect()}
    assert got["disk"] == (1, 1)
    assert got["ring"] == (0, 0)
    assert got["two"] == (2, 2)
    assert got["diag"] == (2, 1)


def test_phash_dct_reference_parity(spark, imgs):
    """Brute triple-loop DCT reference over the fake-codec pixels."""
    import numpy as np

    from extra_ops.multimodal import (
        dct_basis,
        fake_decode,
        phash_dct_stage,
    )

    got = {
        r.image_id: r.phash_dct
        for r in phash_dct_stage(imgs).select("image_id", "phash_dct").collect()
    }
    C = dct_basis()
    pdf = imgs.select("image_id", "bytes", "w", "h").limit(12).toPandas()
    for _, row in pdf.iterrows():
        px = fake_decode(bytes(row["bytes"]), int(row["w"]), int(row["h"]))
        w, h = int(row["w"]), int(row["h"])
        smp = [
            [int(px.ravel()[(r * h) // 32 * w + (c * w) // 32]) for c in range(32)]
            for r in range(32)
        ]
        d = [
            [
                sum(
                    C[k][i] * smp[i][j] * C[l][j]
                    for i in range(32)
                    for j in range(32)
                )
                for l in range(8)
            ]
            for k in range(8)
        ]
        vals = [d[k][l] for k in range(8) for l in range(8)][1:]
        med = sorted(vals)[31]
        packed = 0
        for b, v in enumerate(vals, start=1):
            if v > med:
                packed |= 1 << b
        if packed >= 1 << 63:
            packed -= 1 << 64
        assert got[row["image_id"]] == packed, row["image_id"]


def test_phash_dct_resize_invariant_and_degenerate(spark, imgs):
    from extra_ops.multimodal import (
        phash_dct_stage,
        resize_stage,
    )

    base = {
        r.image_id: r.phash_dct
        for r in phash_dct_stage(imgs).select("image_id", "phash_dct").collect()
    }
    rs = {
        r.image_id: r.phash_dct
        for r in phash_dct_stage(resize_stage(imgs, 64, 96))
        .select("image_id", "phash_dct")
        .collect()
    }
    assert rs == base  # exact invariance under (32a, 32b) resize
    zero = spark.createDataFrame(
        [("z", b"", 0, 0)], "image_id string, bytes binary, w int, h int"
    )
    r = phash_dct_stage(zero).collect()[0]
    assert r["phash_dct"] == 0
    # identical payloads -> identical (and non-trivial) hashes
    pay = bytes((i * 37 + (i * i) % 17) % 251 for i in range(600))
    dup = spark.createDataFrame(
        [("a", pay, 30, 20), ("b", pay, 30, 20)],
        "image_id string, bytes binary, w int, h int",
    )
    rows = {r.image_id: r.phash_dct for r in phash_dct_stage(dup).collect()}
    assert rows["a"] == rows["b"] != 0


def test_hough_matches_loop_reference(spark):
    """Brute-force Python vote accumulator on mixed shapes: every edge
    pixel votes at four orientations, winner by (votes DESC, theta,
    rho) — exactly the kernel's C-order argmax contract."""
    from extra_ops.multimodal import (
        fake_decode,
        hough_stage,
    )

    rows = [
        ("a", bytes([(k * 37 + 11) % 256 for k in range(16 * 16)]), 16, 16),
        ("b", bytes([(k * k) % 251 for k in range(32 * 16)]), 32, 16),
        ("c", bytes(range(2 * 9)), 2, 9),  # no interior
        ("d", bytes([(k * 97 + 3) % 251 for k in range(24 * 24)]), 24, 24),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    thr = 60_000
    got = {r.image_id: r for r in hough_stage(df, edge_sq_min=thr).collect()}
    for image_id, payload, w, h in rows:
        r = got[image_id]
        if w < 3 or h < 3:
            assert (r.hl_votes, r.hl_theta, r.hl_rho) == (0, None, None)
            continue
        px = fake_decode(payload, w, h).astype(np.int64)
        acc: dict = {}
        for y in range(1, h - 1):
            for x in range(1, w - 1):
                gx = (
                    px[y - 1, x + 1] + 2 * px[y, x + 1] + px[y + 1, x + 1]
                    - px[y - 1, x - 1] - 2 * px[y, x - 1] - px[y + 1, x - 1]
                )
                gy = (
                    px[y + 1, x - 1] + 2 * px[y + 1, x] + px[y + 1, x + 1]
                    - px[y - 1, x - 1] - 2 * px[y - 1, x] - px[y - 1, x + 1]
                )
                if gx * gx + gy * gy < thr:
                    continue
                for t, rho in ((0, x), (1, x + y), (2, y), (3, y - x)):
                    acc[(t, rho)] = acc.get((t, rho), 0) + 1
        if not acc:
            assert (r.hl_votes, r.hl_theta, r.hl_rho) == (0, None, None)
            continue
        best = min(acc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        assert (r.hl_votes, r.hl_theta, r.hl_rho) == (
            best[1], best[0][0], best[0][1],
        ), image_id


def test_hough_planted_lines_and_flat(spark):
    """A vertical stripe wins at theta 0 with the full column of votes
    (tie among its four gradient columns breaks to the smallest rho);
    a bright main diagonal wins at theta 3 with rho near 0; a constant
    image casts no votes."""
    from extra_ops.multimodal import hough_stage

    h = w = 32
    bg = np.full((h, w), 10, dtype=np.uint8)
    vert = bg.copy()
    vert[:, 10:12] = 240
    diag = bg.copy()
    for i in range(h):
        diag[i, i] = 240
    df = spark.createDataFrame(
        [
            ("vert", vert.tobytes(), w, h),
            ("diag", diag.tobytes(), w, h),
            ("flat", bg.tobytes(), w, h),
        ],
        "image_id string, bytes binary, w int, h int",
    )
    got = {r.image_id: r for r in hough_stage(df).collect()}
    # stripe at columns 10-11: gx fires for c in {9,10,11,12}, each a
    # full interior column of h-2 votes; smallest-rho tie-break -> 9
    assert (got["vert"].hl_theta, got["vert"].hl_rho) == (0, 9)
    assert got["vert"].hl_votes == h - 2
    assert got["diag"].hl_theta == 3 and abs(got["diag"].hl_rho) <= 2
    assert (got["flat"].hl_votes, got["flat"].hl_theta, got["flat"].hl_rho) == (
        0, None, None,
    )


def test_emd_matches_reference_and_contracts(spark):
    """Cross-multiplied EMD vs an independent float reference
    (256*npx*scipy-style CDF-L1), plus the closed-form contracts: a
    constant image transports everything (known closed form), a
    perfectly uniform 0..255 ramp scores 0."""
    from extra_ops.multimodal import (
        emd_stage,
        fake_decode,
    )

    flat = np.full((8, 8), 37, dtype=np.uint8)
    ramp = np.arange(256, dtype=np.uint8).reshape(16, 16)
    rows = [
        ("a", bytes([(k * 37 + 11) % 256 for k in range(16 * 16)]), 16, 16),
        ("b", bytes([(k * k) % 251 for k in range(32 * 16)]), 32, 16),
        ("flat", flat.tobytes(), 8, 8),
        ("ramp", ramp.tobytes(), 16, 16),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    got = {r.image_id: r.emd_uniform for r in emd_stage(df).collect()}
    for image_id, payload, w, h in rows:
        px = fake_decode(payload, w, h).astype(np.int64).ravel()
        npx = w * h
        ch = np.bincount(px, minlength=256).cumsum()
        want = int(np.abs(256 * ch - npx * np.arange(1, 257)).sum())
        assert got[image_id] == want, image_id
    # uniform ramp: CDF == uniform CDF exactly -> zero transport
    assert got["ramp"] == 0
    # constant at value c: sum_v |256*N*[v>=c] - N*(v+1)|
    #   = N * (sum_{v<c}(v+1) + sum_{v>=c}(256-(v+1)))
    c, npx = 37, 64
    want_flat = npx * (
        sum(v + 1 for v in range(c)) + sum(255 - v for v in range(c, 256))
    )
    assert got["flat"] == want_flat > 0


def test_fast_matches_loop_reference(spark):
    """FAST-9 kernel == brute per-pixel segment-test loop on mixed
    shapes; undersized images get the all-zero contract."""
    from extra_ops.multimodal import (
        FAST_OFFSETS,
        fake_decode,
        fast_stage,
    )

    rows = [
        ("a", bytes([(k * 37 + 11) % 256 for k in range(16 * 16)]), 16, 16),
        ("b", bytes([5] * (8 * 12)), 8, 12),    # constant: no corners
        ("c", bytes(range(4 * 9)), 4, 9),       # w < 7: no full circle
        ("d", bytes([(k * k) % 251 for k in range(32 * 16)]), 32, 16),
        ("e", bytes([(k * 193 + 3) % 256 for k in range(20 * 20)]), 20, 20),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    t = 25
    got = {r.image_id: r for r in fast_stage(df, t=t).collect()}
    for image_id, payload, w, h in rows:
        r = got[image_id]
        if w < 7 or h < 7:
            assert (r.fast_n, r.fast_bn, r.fast_wpos) == (0, 0, 0)
            continue
        px = fake_decode(payload, w, h).astype(np.int64)
        n = bn = wp = 0
        for y in range(3, h - 3):
            for x in range(3, w - 3):
                c = px[y, x]
                bits_b = [int(px[y + dy, x + dx] > c + t) for dx, dy in FAST_OFFSETS]
                bits_d = [int(px[y + dy, x + dx] < c - t) for dx, dy in FAST_OFFSETS]

                def run9(bits):
                    ext = bits + bits
                    return any(all(ext[k : k + 9]) for k in range(16))

                isb, isd = run9(bits_b), run9(bits_d)
                if isb or isd:
                    n += 1
                    wp += y * w + x
                    bn += int(isb)
        assert (r.fast_n, r.fast_bn, r.fast_wpos) == (n, bn, wp), image_id
    assert got["b"].fast_n == 0


def test_fast_detects_planted_blob_and_rejects_edge(spark):
    """A bright disc in a flat field fires (boundary pixels see a >=9
    contiguous darker arc); a straight edge's pixels never do (the arc
    through an edge is split 8/8 at best) — the discrimination the
    segment test exists for."""
    from extra_ops.multimodal import fast_stage

    disc = np.zeros((24, 24), dtype=np.uint8)
    yy, xx = np.mgrid[0:24, 0:24]
    disc[(yy - 12) ** 2 + (xx - 12) ** 2 <= 16] = 200
    edge = np.zeros((24, 24), dtype=np.uint8)
    edge[:, 12:] = 200
    df = spark.createDataFrame(
        [("disc", disc.tobytes(), 24, 24), ("edge", edge.tobytes(), 24, 24)],
        "image_id string, bytes binary, w int, h int",
    )
    got = {r.image_id: r for r in fast_stage(df, t=50).collect()}
    assert got["disc"].fast_n >= 1
    # disc on dark field: corners are BRIGHT-kind (center on the disc
    # rim sees a contiguous darker... ) — both kinds occur; just pin
    # the split is internally consistent
    assert 0 <= got["disc"].fast_bn <= got["disc"].fast_n
    assert got["edge"].fast_n == 0


def test_wavelet_matches_loop_reference(spark):
    """2-level Haar energies == brute per-block loop on mixed shapes,
    incl. odd dimensions (cropped) and undersized images."""
    from extra_ops.multimodal import (
        fake_decode,
        wavelet_stage,
    )

    rows = [
        ("a", bytes([(k * 37 + 11) % 256 for k in range(16 * 16)]), 16, 16),
        ("b", bytes([7] * (9 * 13)), 9, 13),    # odd dims: crops; constant
        ("c", bytes(range(1 * 8)), 1, 8),       # w < 2: no blocks at all
        ("d", bytes([(k * k) % 251 for k in range(10 * 6)]), 10, 6),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    got = {r.image_id: r for r in wavelet_stage(df).collect()}

    def haar_level(sm):
        H, W = len(sm) // 2 * 2, len(sm[0]) // 2 * 2
        ll, lh, hl, hh = [], [], [], []
        for y in range(0, H, 2):
            llr, lhr, hlr, hhr = [], [], [], []
            for x in range(0, W, 2):
                a, b2, c, d = sm[y][x], sm[y][x + 1], sm[y + 1][x], sm[y + 1][x + 1]
                llr.append(a + b2 + c + d)
                lhr.append(a - b2 + c - d)
                hlr.append(a + b2 - c - d)
                hhr.append(a - b2 - c + d)
            ll.append(llr); lh.append(lhr); hl.append(hlr); hh.append(hhr)
        return ll, lh, hl, hh

    def e2(m):
        return sum(v * v for row in m for v in row)

    for image_id, payload, w, h in rows:
        r = got[image_id]
        if w < 2 or h < 2:
            assert r.wv_n1 == 0 and r.wv_e_lh1 == 0 and r.wv_ll2_sum == 0
            continue
        px = fake_decode(payload, w, h).astype(np.int64).tolist()
        ll1, lh1, hl1, hh1 = haar_level(px)
        assert (r.wv_e_lh1, r.wv_e_hl1, r.wv_e_hh1) == (e2(lh1), e2(hl1), e2(hh1)), image_id
        assert r.wv_n1 == len(ll1) * len(ll1[0])
        if len(ll1) >= 2 and len(ll1[0]) >= 2:
            ll2, lh2, hl2, hh2 = haar_level(ll1)
            assert (r.wv_e_lh2, r.wv_e_hl2, r.wv_e_hh2) == (e2(lh2), e2(hl2), e2(hh2))
            assert r.wv_ll2_sum == sum(v for row in ll2 for v in row)
            assert r.wv_n2 == len(ll2) * len(ll2[0])
        else:
            assert r.wv_n2 == 0
    # constant image: ALL detail energy is zero, smooth band carries mass
    b = got["b"]
    assert b.wv_e_lh1 == b.wv_e_hh1 == b.wv_e_lh2 == 0
    assert b.wv_ll2_sum == 7 * 16 * (13 // 4) * (9 // 4)


def test_wavelet_band_selectivity(spark):
    """A vertical-stripe texture puts its level-1 energy in LH
    (horizontal detail) and NOTHING in HL/HH; a horizontal-stripe
    texture mirrors into HL — the orientation selectivity subband
    coding exists for."""
    from extra_ops.multimodal import wavelet_stage

    v = np.zeros((16, 16), dtype=np.uint8)
    v[:, 0::2] = 100                        # width-1 vertical stripes
    hst = np.zeros((16, 16), dtype=np.uint8)
    hst[0::2, :] = 100                      # width-1 horizontal stripes
    df = spark.createDataFrame(
        [("v", v.tobytes(), 16, 16), ("h", hst.tobytes(), 16, 16)],
        "image_id string, bytes binary, w int, h int",
    )
    got = {r.image_id: r for r in wavelet_stage(df).collect()}
    assert got["v"].wv_e_lh1 > 0 and got["v"].wv_e_hl1 == 0 and got["v"].wv_e_hh1 == 0
    assert got["h"].wv_e_hl1 > 0 and got["h"].wv_e_lh1 == 0 and got["h"].wv_e_hh1 == 0
    # in-phase 2x2 blocks at level 1 => the stripe is invisible to level 2
    assert got["v"].wv_e_lh2 == 0 and got["h"].wv_e_hl2 == 0


def _ref_motion(frames, B=8, R=2):
    """Brute per-block loop: returns the 7 mv_* pins."""
    import itertools

    nf = len(frames)
    h, w = frames[0].shape
    nbr, nbc = h // B, w // B
    out = dict.fromkeys(
        ["mv_blocks", "mv_sad_sum", "mv_nz", "mv_dx_sum", "mv_dy_sum",
         "mv_dxw", "mv_dyw"], 0
    )
    for j in range(nf - 1):
        prev, cur = frames[j].astype(int), frames[j + 1].astype(int)
        for bR in range(nbr):
            for bC in range(nbc):
                best = None
                for dy, dx in itertools.product(range(-R, R + 1), repeat=2):
                    r0, c0 = bR * B + dy, bC * B + dx
                    if r0 < 0 or c0 < 0 or r0 + B > h or c0 + B > w:
                        continue
                    sad = int(
                        abs(
                            prev[r0 : r0 + B, c0 : c0 + B]
                            - cur[bR * B : bR * B + B, bC * B : bC * B + B]
                        ).sum()
                    )
                    if best is None or sad < best[0]:
                        best = (sad, dy, dx)
                sad, dy, dx = best
                wgt = (j + 1) * 4096 + bR * 64 + bC + 1
                out["mv_blocks"] += 1
                out["mv_sad_sum"] += sad
                out["mv_nz"] += int(dy != 0 or dx != 0)
                out["mv_dx_sum"] += dx
                out["mv_dy_sum"] += dy
                out["mv_dxw"] += wgt * dx
                out["mv_dyw"] += wgt * dy
    return out


def test_motion_matches_loop_reference(spark):
    from extra_ops.multimodal import motion_stage

    rng = np.random.default_rng(59)
    rows, refs = [], {}
    for vid, (nf, w, h) in enumerate(
        [(2, 16, 16), (4, 24, 16), (3, 8, 8), (1, 16, 16), (2, 6, 6)]
    ):
        frames = [
            rng.integers(0, 251, (h, w)).astype(np.uint8) for _ in range(nf)
        ]
        payload = b"".join(f.tobytes() for f in frames)
        rows.append((f"v{vid}", payload, w, h))
        if nf >= 2 and w >= 8 and h >= 8:
            refs[f"v{vid}"] = _ref_motion(frames)
        else:
            refs[f"v{vid}"] = dict.fromkeys(
                ["mv_blocks", "mv_sad_sum", "mv_nz", "mv_dx_sum",
                 "mv_dy_sum", "mv_dxw", "mv_dyw"], 0
            )
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    got = {r.image_id: r for r in motion_stage(df).collect()}
    for vid, want in refs.items():
        for k, v in want.items():
            assert got[vid][k] == v, (vid, k, got[vid][k], v)


def test_motion_recovers_planted_shift(spark):
    """cur = prev shifted by (dy0, dx0): every interior block's best
    vector is exactly (dy0, dx0) with ZERO residual."""
    from extra_ops.multimodal import motion_stage

    rng = np.random.default_rng(61)
    h = w = 24
    prev = rng.integers(0, 251, (h + 4, w + 4)).astype(np.uint8)
    dy0, dx0 = 1, -2
    f1 = prev[2 : 2 + h, 2 : 2 + w]
    f2 = prev[2 - dy0 : 2 - dy0 + h, 2 - dx0 : 2 - dx0 + w]
    # f2(r, c) = prev-grid(r + 2 - dy0, ...) => source block of f1 at
    # (r + dy0... ) wait: f1(r+dy0, c+dx0) = prev(2+r+dy0, 2+c+dx0)?
    # No: choose the identity the operator tests: f1(bR*B+dy0+p) ==
    # f2(bR*B+p) for all p -> f2(x) = f1(x + dy0) per axis.
    f2 = np.roll(np.roll(f1, -dy0, axis=0), -dx0, axis=1)
    payload = f1.tobytes() + f2.tobytes()
    df = spark.createDataFrame(
        [("v", payload, w, h)], "image_id string, bytes binary, w int, h int"
    )
    r = motion_stage(df).collect()[0]
    # the center block (1,1) is interior for the roll: its SAD-0 match
    # is the planted vector; border blocks may see wrapped pixels
    assert r.mv_blocks == 9
    assert r.mv_nz >= 1
    # net motion points the planted way
    assert r.mv_dy_sum > 0 and r.mv_dx_sum < 0


def test_wht_matches_popcount_reference(spark):
    """Butterfly == direct popcount-sign sum (two different algorithms),
    plus the Parseval identity sum c² == N · sum s²."""
    from extra_ops.multimodal import (
        WHT_N,
        audio_wht_stage,
    )

    rng = np.random.default_rng(67)
    pcm = rng.integers(0, 251, 16 * 16).astype(np.uint8)
    rows = [
        ("a", pcm.tobytes(), 16, 16),
        ("tiny", bytes(range(100)), 10, 10),    # < 256 samples: NULLs
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    got = {r.image_id: r for r in audio_wht_stage(df).collect()}
    s = pcm[:WHT_N].astype(int) - 128
    c = [
        sum(int(s[k]) * (1 - 2 * (bin(b & k).count("1") % 2)) for k in range(WHT_N))
        for b in range(WHT_N)
    ]
    e = [x * x for x in c]
    pcs = [bin(b).count("1") for b in range(WHT_N)]
    r = got["a"]
    assert r.wht_dc == c[0]
    assert r.wht_e_low == sum(x for x, p in zip(e, pcs) if 1 <= p <= 2)
    assert r.wht_e_mid == sum(x for x, p in zip(e, pcs) if 3 <= p <= 5)
    assert r.wht_e_high == sum(x for x, p in zip(e, pcs) if p >= 6)
    assert r.wht_e_total == sum(e) == WHT_N * sum(int(x) * int(x) for x in s)
    t = got["tiny"]
    assert t.wht_dc is None and t.wht_e_total is None


def test_wht_impulse_and_constant(spark):
    from extra_ops.multimodal import (
        WHT_N,
        audio_wht_stage,
    )

    # constant clip: every centered sample = 9 -> ONLY the DC survives
    const = bytes([137] * WHT_N)
    # impulse at k=3: flat spectrum, every band's energy = count * s0²
    imp = bytearray([128] * WHT_N)
    imp[3] = 128 + 50
    df = spark.createDataFrame(
        [("const", const, 16, 16), ("imp", bytes(imp), 16, 16)],
        "image_id string, bytes binary, w int, h int",
    )
    got = {r.image_id: r for r in audio_wht_stage(df).collect()}
    r = got["const"]
    assert r.wht_dc == 9 * WHT_N
    assert r.wht_e_low == r.wht_e_mid == r.wht_e_high == 0
    assert r.wht_e_total == r.wht_dc * r.wht_dc
    r = got["imp"]
    pcs = [bin(b).count("1") for b in range(WHT_N)]
    assert r.wht_dc == 50
    assert r.wht_e_total == WHT_N * 50 * 50
    assert r.wht_e_low == sum(1 for p in pcs if 1 <= p <= 2) * 2500
    assert r.wht_e_high == sum(1 for p in pcs if p >= 6) * 2500


def test_bitplane_matches_loop_reference(spark):
    from extra_ops.multimodal import (
        bitplane_stage,
        fake_decode,
    )

    rows = [
        ("a", bytes([(k * 37 + 11) % 256 for k in range(16 * 16)]), 16, 16),
        ("b", bytes([255] * 24), 24, 1),   # all-ones: n = w*h, t = 0
        ("c", bytes([0b01010101, 0b10101010] * 8), 4, 4),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    got = {r.image_id: r for r in bitplane_stage(df).collect()}
    for image_id, payload, w, h in rows:
        px = fake_decode(payload, w, h).astype(int)
        r = got[image_id]
        for b in (0, 1, 6, 7):
            pl = (px >> b) & 1
            assert r[f"bp{b}_n"] == int(pl.sum()), (image_id, b)
            t = int((pl[:, 1:] ^ pl[:, :-1]).sum())
            assert r[f"bp{b}_t"] == t, (image_id, b)
    assert got["b"].bp7_n == 24 and got["b"].bp7_t == 0
    # alternating LSB: every horizontal adjacency is a transition
    assert got["c"].bp0_t == 4 * 3


def test_seam_matches_loop_reference(spark):
    from extra_ops.multimodal import (
        fake_decode,
        seam_stage,
    )

    rows = [
        ("a", bytes([(k * 37 + 11) % 256 for k in range(16 * 16)]), 16, 16),
        ("b", bytes([5] * (8 * 12)), 8, 12),    # constant: zero energy
        ("c", bytes(range(4 * 2)), 4, 2),       # h < 3: NULLs
        ("d", bytes([(k * k) % 251 for k in range(20 * 12)]), 20, 12),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    got = {r.image_id: r for r in seam_stage(df).collect()}
    for image_id, payload, w, h in rows:
        r = got[image_id]
        if h < 3 or w < 3:
            assert r.sc_cost is None and r.sc_end is None and r.sc_top is None
            continue
        px = fake_decode(payload, w, h).astype(int)
        E = [
            [0] * (w - 2)
            for _ in range(h - 2)
        ]
        for y in range(1, h - 1):
            for x in range(1, w - 1):
                gx = (
                    px[y - 1][x + 1] + 2 * px[y][x + 1] + px[y + 1][x + 1]
                    - px[y - 1][x - 1] - 2 * px[y][x - 1] - px[y + 1][x - 1]
                )
                gy = (
                    px[y + 1][x - 1] + 2 * px[y + 1][x] + px[y + 1][x + 1]
                    - px[y - 1][x - 1] - 2 * px[y - 1][x] - px[y - 1][x + 1]
                )
                E[y - 1][x - 1] = gx * gx + gy * gy
        cum = E[0][:]
        top = min(cum)
        for rr in range(1, h - 2):
            cum = [
                E[rr][c]
                + min(
                    cum[max(c - 1, 0) : min(c + 2, w - 2)]
                )
                for c in range(w - 2)
            ]
        assert r.sc_top == top, image_id
        assert r.sc_cost == min(cum), image_id
        assert r.sc_end == cum.index(min(cum)), image_id
    assert got["b"].sc_cost == 0  # constant image: a free seam exists


def test_acf_matches_loop_reference(spark):
    from extra_ops.multimodal import (
        ACF_LAGS,
        audio_acf_stage,
        fake_decode,
    )

    rng = np.random.default_rng(103)
    pcm = rng.integers(0, 251, 16 * 16).astype(np.uint8)
    rows = [
        ("a", pcm.tobytes(), 16, 16),
        ("short", bytes(range(10)), 10, 1),   # lags 16 unsupported
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    got = {r.image_id: r for r in audio_acf_stage(df).collect()}
    for image_id, payload, w, h in rows:
        s = [int(b) - 128 for b in payload]
        r = got[image_id]
        assert r.acf0 == sum(x * x for x in s)
        for lg in ACF_LAGS:
            want = (
                sum(s[k] * s[k + lg] for k in range(len(s) - lg))
                if len(s) > lg
                else None
            )
            assert r[f"acf{lg}"] == want, (image_id, lg)


def test_acf_periodicity_contract(spark):
    """A pure period-4 square wave: acf4 == acf0 (perfect positive),
    acf2 == -acf0 (anti-phase), acf8/acf16 == acf0."""
    from extra_ops.multimodal import audio_acf_stage

    wave = bytes([128 + 50, 128 + 50, 128 - 50, 128 - 50] * 64)
    df = spark.createDataFrame(
        [("sq", wave, 16, 16)], "image_id string, bytes binary, w int, h int"
    )
    r = audio_acf_stage(df).collect()[0]
    n = 256
    assert r.acf0 == n * 2500
    assert r.acf4 == (n - 4) * 2500
    assert r.acf2 == -(n - 2) * 2500
    assert r.acf8 == (n - 8) * 2500


def test_dither_matches_loop_reference(spark):
    import numpy as np

    from extra_ops.multimodal import (
        BAYER4,
        dither_stage,
        fake_decode,
    )

    # BAYER4 equals its recursive 2x2 construction (the oracle formula)
    b2 = np.array([[0, 2], [3, 1]])
    for y in range(4):
        for x in range(4):
            assert BAYER4[y, x] == 4 * b2[y % 2, x % 2] + b2[y // 2, x // 2]

    rows = [
        ("a", bytes([(k * 37 + 11) % 256 for k in range(16 * 16)]), 16, 16),
        ("b", bytes([255] * 24), 24, 1),   # all-bright: every pixel lit
        ("d", bytes([0] * 24), 6, 4),      # all-dark: nothing lit
        ("e", bytes([128] * 64), 8, 8),    # mid-gray: the Bayer pattern
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    got = {r.image_id: r for r in dither_stage(df).collect()}
    for image_id, payload, w, h in rows:
        px = fake_decode(payload, w, h).astype(int)
        bit = np.zeros((h, w), dtype=int)
        for y in range(h):
            for x in range(w):
                bit[y, x] = 1 if px[y, x] > BAYER4[y % 4, x % 4] * 16 + 8 else 0
        r = got[image_id]
        assert r.dth_n == int(bit.sum()), image_id
        assert r.dth_t == int((bit[:, 1:] ^ bit[:, :-1]).sum()), image_id
        kk = np.arange(h)[:, None] * w + np.arange(w)[None, :] + 1
        assert r.dth_wsum == int((bit * kk).sum()), image_id
    assert got["b"].dth_n == 24 and got["d"].dth_n == 0
    # mid-gray lights exactly the cells with threshold < 128:
    # B4*16+8 < 128  <=>  B4 <= 7  => 8 of 16 cells per 4x4 block
    assert got["e"].dth_n == 32


def test_segmetrics_matches_loop_reference(spark):
    from fractions import Fraction

    from extra_ops.multimodal import (
        fake_decode,
        segmetrics_stage,
    )

    rows = [
        ("a", bytes([(k * 37 + 11) % 256 for k in range(16 * 16)]), 16, 16),
        ("b", bytes([255] * 24), 24, 1),   # all-fg: tn=0 -> bg IoU = 1
        ("d", bytes([0] * 24), 6, 4),      # all-bg: fg union 0 -> IoU 1
        ("e", bytes([119, 120, 127, 128] * 4), 4, 4),  # the fp band
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    got = {r.image_id: r for r in segmetrics_stage(df).collect()}
    got7 = {r.image_id: r for r in segmetrics_stage(df, pred_mul=7, pred_mod=251).collect()}
    for image_id, payload, w, h in rows:
        px = fake_decode(payload, w, h).astype(int)
        g = px >= 128
        p7 = (px * 7) % 251 >= 120  # fold config: mul 7 mod 251
        r7 = got7[image_id]
        assert (r7.sg_tp, r7.sg_fp, r7.sg_fn) == (
            int((g & p7).sum()), int((~g & p7).sum()), int((g & ~p7).sum())
        ), image_id
        p = px >= 120
        tp = int((g & p).sum()); fp = int((~g & p).sum())
        fn = int((g & ~p).sum()); tn = w * h - tp - fp - fn
        r = got[image_id]
        assert (r.sg_tp, r.sg_fp, r.sg_fn) == (tp, fp, fn), image_id
        ufg, ubg = tp + fp + fn, tn + fp + fn
        m = ((Fraction(tp, ufg) if ufg else Fraction(1))
             + (Fraction(tn, ubg) if ubg else Fraction(1))) / 2
        assert r.sg_miou_num == str(m.numerator), image_id
        assert r.sg_miou_den == str(m.denominator), image_id
    # the band image: values 120..127 are exactly the fp pixels
    assert got["e"].sg_fp == 8 and got["e"].sg_tp == 4
    # the scrambled predictor misses in BOTH directions on image a
    assert got7["a"].sg_fp > 0 and got7["a"].sg_fn > 0


def test_ssim_stage_and_shared_tree(spark):
    import duckdb
    import numpy as np
    import pyspark.sql.functions as F

    from extra_ops.multimodal import (
        fake_decode,
        sql_ssim_expr,
        ssim_expr,
        ssim_stage,
    )

    rows = [
        ("a", bytes([(k * 37 + 11) % 256 for k in range(16 * 16)]), 16, 16),
        ("b", bytes([77] * (8 * 8)), 8, 8),        # constant: SSIM == 1
        ("c", bytes(([77] * 12 + [255] + [77] * 51))[:64], 8, 8),  # impulse
        ("d", bytes(range(8)), 4, 2),               # thinner than 3: n=0
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int")
    st = ssim_stage(df)
    out = {
        r["image_id"]: r
        for r in st.select(
            "*",
            ssim_expr(
                F.col("ssim_n"), F.col("ssim_sx"), F.col("ssim_sy"),
                F.col("ssim_sx2"), F.col("ssim_sy2"), F.col("ssim_sxy"),
            ).alias("ssim"),
        ).collect()
    }
    for image_id, payload, w, h in rows:
        px = fake_decode(payload, w, h).astype(int)
        r = out[image_id]
        if h < 3 or w < 3:
            assert r["ssim_n"] == 0 and r["ssim"] is None
            continue
        med = np.zeros((h - 2, w - 2), dtype=int)
        for y in range(1, h - 1):
            for x in range(1, w - 1):
                med[y - 1, x - 1] = int(np.median(px[y - 1:y + 2, x - 1:x + 2]))
        ctr = px[1:-1, 1:-1]
        assert r["ssim_n"] == ctr.size and r["ssim_sxy"] == int((ctr * med).sum())
        assert r["ssim_sy2"] == int((med * med).sum()), image_id
    assert abs(out["b"]["ssim"] - 1.0) < 1e-15     # constant image
    assert out["c"]["ssim"] < out["b"]["ssim"]     # impulse noise drops it
    # DuckDB twin computes the identical double from the same moments
    con = duckdb.connect()
    for image_id in ("a", "b", "c"):
        r = out[image_id]
        e = sql_ssim_expr(
            str(r["ssim_n"]), str(r["ssim_sx"]), str(r["ssim_sy"]),
            str(r["ssim_sx2"]), str(r["ssim_sy2"]), str(r["ssim_sxy"]),
        )
        (want,) = con.execute(f"SELECT {e}").fetchone()
        assert want == r["ssim"], image_id


def test_psnr_check_caption_equality(spark, imgs):
    import pyspark.sql.functions as F

    from extra_ops.multimodal import psnr_check

    # the full BASELINE invariant: pixels allclose AND caption equal
    res = {
        r.image_id: r
        for r in psnr_check(imgs, imgs, caption_col="caption").collect()
    }
    assert all(r.ok and r.caption_ok for r in res.values())
    # a flipped caption fails caption_ok (and ok) but not the PSNR
    bad = imgs.withColumn(
        "caption",
        F.when(
            F.col("image_id") == F.first_value("image_id").over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy("image_id")
            ),
            F.lit("tampered"),
        ).otherwise(F.col("caption")),
    )
    res2 = {
        r.image_id: r
        for r in psnr_check(imgs, bad, caption_col="caption").collect()
    }
    flipped = [r for r in res2.values() if not r.caption_ok]
    assert len(flipped) == 1 and flipped[0].psnr_db >= 40.0
    assert not flipped[0].ok
