"""Multimodal (image/audio/video) column plumbing.

Payloads are opaque ``binary`` columns with typed metadata (w, h, fmt),
per the input_hint table shape. The Spark-side machinery — schemas,
Arrow batch shapes, mapInPandas iterators, partition sizing — is real
and tested; the actual codec is STUBBED (no PIL/libjpeg in this image):

- ``decode_image``     -> NotImplementedError (clearly-marked stub)
- ``fake_decode``      -> deterministic pixel array from (bytes, w, h),
                          the test codec: byte k of the payload is pixel
                          k's value, cycled — matches datagen.synth

PSNR verification (BASELINE.json: decoded-pixel allclose, PSNR >= 40 dB
for lossy) runs vectorized over numpy arrays inside mapInPandas.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def decode_image(payload: bytes, fmt: str) -> np.ndarray:
    """Real codec entry point — STUB. A deployment wires PIL/turbojpeg
    here; the container image has no codec libs."""
    raise NotImplementedError(
        "image codecs not available in this environment; use fake_decode "
        "for the deterministic test path"
    )


def fake_decode(payload: bytes, w: int, h: int) -> np.ndarray:
    """Deterministic stand-in codec: payload bytes cycled into (h, w)."""
    b = np.frombuffer(payload, dtype=np.uint8)
    need = w * h
    if len(b) < need:
        b = np.resize(b, need)
    return b[:need].reshape(h, w)


def psnr(a: np.ndarray, b: np.ndarray, peak: float = 255.0) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(peak * peak / mse)


def _shape_groups(pdf: pd.DataFrame, bytes_col: str):
    """Group a batch's row indices by identical (payload_len, w, h) so
    equal-shape rows decode as ONE numpy stack (the common case in a
    real corpus: one resolution dominates). Yields
    (row_indices, payload_len, w, h). Variable-size rows degrade
    gracefully to groups of 1 — the per-row Python walk the round-2
    review flagged only survives for genuinely ragged batches."""
    n = len(pdf)
    ws = pdf["w"].to_numpy(np.int64)
    hs = pdf["h"].to_numpy(np.int64)
    lens = np.fromiter((len(b) for b in pdf[bytes_col]), dtype=np.int64, count=n)
    order = np.lexsort((lens, hs, ws))
    sw, sh, sl = ws[order], hs[order], lens[order]
    boundary = np.nonzero((np.diff(sw) != 0) | (np.diff(sh) != 0) | (np.diff(sl) != 0))[0] + 1
    starts = np.concatenate([[0], boundary])
    ends = np.concatenate([boundary, [n]])
    for s, e in zip(starts, ends):
        ii = order[s:e]
        yield ii, int(sl[s]), int(sw[s]), int(sh[s])


def _decode_stack(payloads, L: int, w: int, h: int) -> np.ndarray:
    """fake_decode over an equal-shape group as one (n, w*h) matrix:
    concatenated buffer -> reshape -> cycled index gather (byte k of the
    payload is pixel k, cycled — identical to np.resize semantics)."""
    need = w * h
    n = len(payloads)
    if L == 0 or need == 0:
        return np.zeros((n, need), dtype=np.uint8)
    buf = np.frombuffer(b"".join(payloads), dtype=np.uint8).reshape(n, L)
    if L == need:
        return buf
    idx = np.arange(need, dtype=np.int64) % L
    return buf[:, idx]


def decode_stats(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """mapInPandas pipeline stage: decode (fake codec) + per-image pixel
    stats. Demonstrates the real batch shape: binary in, struct out.
    Equal-shape rows within each Arrow batch decode as one numpy stack
    (measured 5x per-row throughput on uniform 256x256 batches,
    BENCH.md); ragged rows fall back to per-row groups."""
    fields = [f"{c} {t}" for c, t in df.dtypes]
    out_schema = ", ".join(fields + ["pix_mean double", "pix_max int", "pix_min int"])

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            means = np.zeros(n, dtype=np.float64)
            maxs = np.zeros(n, dtype=np.int64)
            mins = np.zeros(n, dtype=np.int64)
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                px = _decode_stack(list(payloads[ii]), L, w, h)
                means[ii] = px.mean(axis=1)
                maxs[ii] = px.max(axis=1)
                mins[ii] = px.min(axis=1)
            yield pdf.assign(pix_mean=means, pix_max=maxs, pix_min=mins)

    return df.mapInPandas(stage, out_schema)


def resize_stage(df: DataFrame, out_w: int, out_h: int, bytes_col: str = "bytes") -> DataFrame:
    """Nearest-neighbor resize as a mapInPandas stage: bytes -> bytes,
    metadata columns updated. (The arithmetic is a real resample; only
    the codec is fake.)"""
    keep = [c for c in df.columns if c not in (bytes_col, "w", "h")]
    out_schema = ", ".join(
        [f"{c} {t}" for c, t in df.dtypes if c in keep]
        + [f"{bytes_col} binary", "w int", "h int"]
    )

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            payloads_in = pdf[bytes_col].to_numpy(dtype=object)
            payloads = [b""] * n
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                px = _decode_stack(list(payloads_in[ii]), L, w, h).reshape(
                    len(ii), h, w
                )
                yi = (np.arange(out_h) * h // out_h).astype(int)
                xi = (np.arange(out_w) * w // out_w).astype(int)
                res = px[:, yi[:, None], xi[None, :]]  # (n, out_h, out_w)
                flat = np.ascontiguousarray(res).reshape(len(ii), -1)
                for k, row in zip(ii, flat):
                    payloads[int(k)] = row.tobytes()
            out = pdf[keep].copy()
            out[bytes_col] = payloads
            out["w"] = out_w
            out["h"] = out_h
            yield out

    return df.mapInPandas(stage, out_schema)


def bilinear_resize_stage(
    df: DataFrame,
    out_w: int,
    out_h: int,
    bytes_col: str = "bytes",
    with_checksums: bool = False,
) -> DataFrame:
    """Bilinear resize — the real-world default interpolation (the
    nearest-neighbor ``resize_stage`` is the hash-invariance tool; this
    is what a training pipeline actually ships) — in EXACT fixed-point
    integer arithmetic, so every output pixel reproduces bit-for-bit
    in SQL:

    half-pixel source coordinate sx = (2j+1)·w/(2·out_w) − 1/2, scaled
    by Dx = 2·out_w into the integer ``num = (2j+1)·w − out_w``,
    clamped to [0, (w−1)·Dx]; then x0 = num // Dx, fx = num % Dx,
    x1 = min(x0+1, w−1), same for y, and

        out = (v00·(Dx−fx)·(Dy−fy) + v10·fx·(Dy−fy)
             + v01·(Dx−fx)·fy + v11·fx·fy) // (Dx·Dy)

    — floor division of non-negative ints (identical in numpy and
    DuckDB), magnitudes ≤ 255·Dx·Dy (no overflow at any sane output
    size). Same-size resize is the exact identity (num = 2jw ⇒ fx=0).

    ``with_checksums`` additionally emits ``bl_sum`` (Σ output pixels)
    and ``bl_wsum`` (Σ (k+1)·out_k, position-weighted — a transposed
    or shifted output breaks it even when the multiset is right),
    computed in the same kernel so the gate needs no second Python
    stage. Vectorized per equal-shape Arrow group; map-only."""
    if out_w < 1 or out_h < 1:
        raise ValueError(f"output size must be positive, got {out_w}x{out_h}")
    keep = [c for c in df.columns if c not in (bytes_col, "w", "h")]
    cols = (
        [f"{c} {t}" for c, t in df.dtypes if c in keep]
        + [f"{bytes_col} binary", "w int", "h int"]
    )
    if with_checksums:
        cols += ["bl_sum bigint", "bl_wsum bigint"]
    out_schema = ", ".join(cols)
    dx = 2 * out_w
    dy = 2 * out_h
    wk = (np.arange(out_w * out_h, dtype=np.int64) + 1)

    def _axis(n_in: int, n_out: int, d: int):
        num = (2 * np.arange(n_out, dtype=np.int64) + 1) * n_in - n_out
        num = np.clip(num, 0, (n_in - 1) * d)
        i0 = num // d
        f = num % d
        i1 = np.minimum(i0 + 1, n_in - 1)
        return i0, i1, f

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            payloads_in = pdf[bytes_col].to_numpy(dtype=object)
            payloads = [b""] * n
            sums = np.zeros(n, dtype=np.int64)
            wsums = np.zeros(n, dtype=np.int64)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                if w * h == 0:
                    continue
                px = _decode_stack(list(payloads_in[ii]), L, w, h).reshape(
                    len(ii), h, w
                ).astype(np.int64)
                x0, x1, fx = _axis(w, out_w, dx)
                y0, y1, fy = _axis(h, out_h, dy)
                v00 = px[:, y0[:, None], x0[None, :]]
                v10 = px[:, y0[:, None], x1[None, :]]
                v01 = px[:, y1[:, None], x0[None, :]]
                v11 = px[:, y1[:, None], x1[None, :]]
                gx, gxc = fx[None, :], (dx - fx)[None, :]
                gy, gyc = fy[:, None], (dy - fy)[:, None]
                res = (
                    v00 * gxc * gyc + v10 * gx * gyc
                    + v01 * gxc * gy + v11 * gx * gy
                ) // (dx * dy)
                flat = np.ascontiguousarray(res).reshape(len(ii), -1)
                sums[ii] = flat.sum(axis=1)
                wsums[ii] = (flat * wk[None, :]).sum(axis=1)
                by = flat.astype(np.uint8)
                for k, row in zip(ii, by):
                    payloads[int(k)] = row.tobytes()
            out = pdf[keep].copy()
            out[bytes_col] = payloads
            out["w"] = out_w
            out["h"] = out_h
            if with_checksums:
                out["bl_sum"] = sums
                out["bl_wsum"] = wsums
            yield out

    return df.mapInPandas(stage, out_schema)


def frame_sample(
    df: DataFrame,
    n_samples: int,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Video frame sampling as a mapInPandas stage: the binary payload is
    treated as n_frames concatenated w*h frames; ``n_samples`` frames are
    taken at uniform temporal offsets (the standard pretraining sampling
    strategy), one output ROW per sampled frame. Codec stubbed as
    elsewhere (raw frames); the plumbing — batch iteration, per-row
    explode into multiple rows, binary slicing — is the real shape."""
    out_schema = f"{id_col} string, frame_idx int, n_frames int, {bytes_col} binary, w int, h int"

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fidx, nfr, frames, ws, hs = [], [], [], [], [], []
            for rid, payload, w, h in zip(
                pdf[id_col], pdf[bytes_col], pdf["w"], pdf["h"]
            ):
                fsize = int(w) * int(h)
                n_frames = max(len(payload) // fsize, 1) if fsize else 1
                take = np.unique(
                    (np.arange(n_samples) * n_frames) // max(n_samples, 1)
                )
                take = take[take < n_frames]
                for k in take:
                    ids.append(rid)
                    fidx.append(int(k))
                    nfr.append(int(n_frames))
                    frames.append(bytes(payload[k * fsize : (k + 1) * fsize]))
                    ws.append(int(w))
                    hs.append(int(h))
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "frame_idx": fidx,
                    "n_frames": nfr,
                    bytes_col: frames,
                    "w": ws,
                    "h": hs,
                }
            )

    return df.mapInPandas(stage, out_schema)


def psnr_check(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    min_db: float = 40.0,
    caption_col: str | None = None,
) -> DataFrame:
    """Per-row decoded-pixel comparison (the BASELINE.json invariant):
    join the two tables on id and compute PSNR inside mapInPandas.
    Returns (id, psnr_db, ok).  With ``caption_col`` set, the OTHER
    half of the invariant — per-row caption EQUALITY (null-safe) —
    rides the same join: adds ``caption_ok`` and folds it into ``ok``,
    so one frame answers "pixels allclose AND caption identical"."""
    lcols = [F.col(id_col), F.col(bytes_col).alias("_lb"), "w", "h"]
    rcols = [F.col(id_col), F.col(bytes_col).alias("_rb")]
    if caption_col is not None:
        lcols.append(F.col(caption_col).alias("_lc"))
        rcols.append(F.col(caption_col).alias("_rc"))
    j = left.select(*lcols).join(right.select(*rcols), id_col, "inner")

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals, oks = [], []
            for lb, rb, w, h in zip(pdf["_lb"], pdf["_rb"], pdf["w"], pdf["h"]):
                p = psnr(fake_decode(lb, int(w), int(h)), fake_decode(rb, int(w), int(h)))
                vals.append(p if np.isfinite(p) else 1e9)
                oks.append(bool(p >= min_db))
            out = {id_col: pdf[id_col], "psnr_db": vals, "ok": oks}
            if caption_col is not None:
                ceq = [
                    (a == b) or (a is None and b is None)
                    for a, b in zip(pdf["_lc"], pdf["_rc"])
                ]
                out["caption_ok"] = ceq
                out["ok"] = [o and c for o, c in zip(oks, ceq)]
            yield pd.DataFrame(out)

    schema = f"{id_col} string, psnr_db double, ok boolean"
    if caption_col is not None:
        schema = f"{id_col} string, psnr_db double, ok boolean, caption_ok boolean"
    return j.mapInPandas(stage, schema)


def ahash_stage(df: DataFrame, bytes_col: str = "bytes", out_col: str = "ahash") -> DataFrame:
    """8x8 average-hash (aHash) per image as a mapInPandas stage:
    decode (fake codec) -> sample an 8x8 grid (src index
    ``floor(r*h/8)*w + floor(c*w/8)`` — the same nearest-neighbor
    formula resize_stage uses, so aHash is EXACTLY invariant under the
    engine's own resize) -> threshold each sample against the strict
    integer mean (``64*px > sum``) -> pack 64 sign bits into int64.

    The perceptual-hash producer for the image-dedup chain: feed the
    output to dedup.hamming_near_pairs for banded near-duplicate pairs.
    Vectorized per equal-shape group like every stage here; all-integer
    so the DuckDB oracle reproduces the hash bit-for-bit."""
    fields = [f"{c} {t}" for c, t in df.dtypes]
    out_schema = ", ".join(fields + [f"{out_col} bigint"])

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            out = np.zeros(n, dtype=np.int64)
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                if w * h == 0:
                    # zero-area metadata: hash 0 instead of indexing a
                    # 0-column pixel matrix (decode_stats survives the
                    # same rows; this stage must too)
                    out[ii] = 0
                    continue
                px = _decode_stack(list(payloads[ii]), L, w, h)
                b = np.arange(64)
                k = ((b // 8) * h) // 8 * w + ((b % 8) * w) // 8
                smp = px[:, k].astype(np.int64)  # (n, 64)
                tot = smp.sum(axis=1, keepdims=True)
                bits = (smp * 64 > tot).astype(np.uint64)
                packed = (bits << np.arange(64, dtype=np.uint64)).sum(
                    axis=1, dtype=np.uint64
                )
                out[ii] = packed.view(np.int64)
            yield pdf.assign(**{out_col: out})

    return df.mapInPandas(stage, out_schema)


def dhash_stage(df: DataFrame, bytes_col: str = "bytes", out_col: str = "dhash") -> DataFrame:
    """9x8 difference-hash (dHash) per image as a mapInPandas stage:
    decode (fake codec) -> sample a 9-column x 8-row grid (src index
    ``floor(r*h/8)*w + floor(c*w/9)``, the resize_stage nearest-neighbor
    formula, so dHash is EXACTLY invariant under the engine's resize to
    any (9k, 8m) shape) -> bit b = sample(r, c) > sample(r, c+1) with
    r=b//8, c=b%8 -> pack 64 sign bits into int64.

    dHash keys on horizontal gradients where aHash keys on global
    brightness; near-dup pipelines band BOTH through
    dedup.hamming_near_pairs and intersect. All-integer sampling +
    strict compare, so the DuckDB twin reproduces it bit-for-bit."""
    fields = [f"{c} {t}" for c, t in df.dtypes]
    out_schema = ", ".join(fields + [f"{out_col} bigint"])

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            out = np.zeros(n, dtype=np.int64)
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                if w * h == 0:
                    out[ii] = 0
                    continue
                px = _decode_stack(list(payloads[ii]), L, w, h)
                b = np.arange(64)
                r, c = b // 8, b % 8
                row0 = (r * h) // 8 * w
                k1 = row0 + (c * w) // 9
                k2 = row0 + ((c + 1) * w) // 9
                bits = (px[:, k1] > px[:, k2]).astype(np.uint64)
                packed = (bits << np.arange(64, dtype=np.uint64)).sum(
                    axis=1, dtype=np.uint64
                )
                out[ii] = packed.view(np.int64)
            yield pdf.assign(**{out_col: out})

    return df.mapInPandas(stage, out_schema)


def patchify_stage(
    df: DataFrame,
    patch: int = 8,
    bytes_col: str = "bytes",
    id_col: str = "image_id",
) -> DataFrame:
    """ViT-style non-overlapping patch extraction: one output row per
    ``patch x patch`` pixel tile of every image — (id, patch_row,
    patch_col, patch_bytes, p_sum, p_min, p_max). Images are cropped to
    the largest multiple of ``patch`` on each axis (the standard
    patchify contract; resize_stage first if you need cover-all).

    Map-only (no shuffle): each Arrow batch explodes in place, so a
    1000-executor run patchifies 100 TB with zero data movement and the
    output is already partitioned like the input. Only ``id_col`` is
    carried through — a patch row that duplicated the caption and
    metadata of its parent would multiply the corpus by the patch
    count; join back on the id when a downstream stage needs them.
    Per equal-shape group the whole batch reshapes as ONE numpy
    (n, rows, cols, patch, patch) view — no per-pixel Python; the
    integer stats travel with each patch so downstream filters (blank /
    saturated tile drops) run JVM-side without re-decoding."""
    if patch <= 0:
        raise ValueError(f"patch must be positive, got {patch}")
    id_type = dict(df.dtypes)[id_col]
    out_schema = (
        f"{id_col} {id_type}, patch_row int, patch_col int, "
        "patch_bytes binary, p_sum bigint, p_min int, p_max int"
    )
    p = patch

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=object)
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            parts: list[pd.DataFrame] = []
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                rows, cols = h // p, w // p
                if rows == 0 or cols == 0:
                    continue  # image smaller than one patch: no tiles
                px = _decode_stack(list(payloads[ii]), L, w, h)
                n = len(ii)
                # crop to (rows*p, cols*p), then tile: the reshape/
                # transpose pair is the standard ViT patchify einop
                tiles = (
                    px.reshape(n, h, w)[:, : rows * p, : cols * p]
                    .reshape(n, rows, p, cols, p)
                    .transpose(0, 1, 3, 2, 4)
                    .reshape(n, rows * cols, p * p)
                )
                s = tiles.sum(axis=2, dtype=np.int64)
                lo = tiles.min(axis=2)
                hi = tiles.max(axis=2)
                flat = tiles.reshape(n * rows * cols, p * p)
                parts.append(
                    pd.DataFrame(
                        {
                            id_col: np.repeat(ids[ii], rows * cols),
                            "patch_row": np.tile(
                                np.repeat(np.arange(rows, dtype=np.int32), cols), n
                            ),
                            "patch_col": np.tile(
                                np.arange(cols, dtype=np.int32), rows * n
                            ),
                            "patch_bytes": [r.tobytes() for r in flat],
                            "p_sum": s.reshape(-1),
                            "p_min": lo.reshape(-1).astype(np.int32),
                            "p_max": hi.reshape(-1).astype(np.int32),
                        }
                    )
                )
            if parts:
                yield pd.concat(parts, ignore_index=True)

    return df.mapInPandas(stage, out_schema)


def sharpness_stage(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Variance-of-Laplacian sharpness — the classic blur filter a
    pretraining image pipeline runs (blurry crawl images score near 0;
    OpenCV's cv2.Laplacian(...).var() is this same statistic). The
    4-neighbor Laplacian L = 4v - up - down - left - right is computed
    over INTERIOR pixels on the equal-shape numpy stacks (same
    map-only batch shape as decode_stats), and the stage emits EXACT
    integer moments (n_interior, lap_sum, lap_sq_sum) — the variance
    itself, (n*Σx² - (Σx)²)/n², is left to ONE shared IEEE division in
    the gate so Spark and the DuckDB oracle produce bit-identical
    doubles (the HLL estimator rule). Images thinner than 3px have no
    interior: moments 0, variance NULL downstream."""
    fields = [f"{c} {t}" for c, t in df.dtypes]
    out_schema = ", ".join(
        fields + ["n_interior bigint", "lap_sum bigint", "lap_sq_sum bigint"]
    )

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            ni = np.zeros(n, dtype=np.int64)
            ls = np.zeros(n, dtype=np.int64)
            lq = np.zeros(n, dtype=np.int64)
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                if h < 3 or w < 3:
                    continue
                px = (
                    _decode_stack(list(payloads[ii]), L, w, h)
                    .astype(np.int64)
                    .reshape(len(ii), h, w)
                )
                c = px[:, 1:-1, 1:-1]
                lap = (
                    4 * c
                    - px[:, :-2, 1:-1]
                    - px[:, 2:, 1:-1]
                    - px[:, 1:-1, :-2]
                    - px[:, 1:-1, 2:]
                )
                ni[ii] = (h - 2) * (w - 2)
                ls[ii] = lap.sum(axis=(1, 2))
                lq[ii] = (lap * lap).sum(axis=(1, 2))
            yield pdf.assign(n_interior=ni, lap_sum=ls, lap_sq_sum=lq)

    return df.mapInPandas(stage, out_schema)


def sobel_stage(df: DataFrame, edge_sq_min: int = 200_000, bytes_col: str = "bytes") -> DataFrame:
    """Sobel gradient statistics — the edge-energy screen an image
    pretraining pipeline runs next to variance-of-Laplacian (flat or
    synthetically-uniform images carry no edges; OpenCV's
    cv2.Sobel + magnitude reduction is this statistic). Per interior
    pixel the 3x3 Sobel pair

        gx = (p[r-1,c+1] + 2 p[r,c+1] + p[r+1,c+1])
           - (p[r-1,c-1] + 2 p[r,c-1] + p[r+1,c-1])
        gy = (p[r+1,c-1] + 2 p[r+1,c] + p[r+1,c+1])
           - (p[r-1,c-1] + 2 p[r-1,c] + p[r-1,c+1])

    is EXACT int64 (|g| <= 4*255; the squared-magnitude sum over even a
    4-megapixel image stays < 2^63), and the stage emits only exact
    integers — gx_abs_sum, gy_abs_sum, g_sq_sum and n_edge (count of
    interior pixels with gx^2 + gy^2 >= edge_sq_min) — so the DuckDB
    oracle recomputes every column from the fake-codec pixel formula
    with no FP anywhere. Images thinner than 3px have no interior:
    all zeros. Vectorized per equal-shape Arrow group; map-only."""
    fields = [f"{c} {t}" for c, t in df.dtypes]
    out_schema = ", ".join(
        fields
        + ["gx_abs_sum bigint", "gy_abs_sum bigint", "g_sq_sum bigint", "n_edge bigint"]
    )
    thr = int(edge_sq_min)

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            gxs = np.zeros(n, dtype=np.int64)
            gys = np.zeros(n, dtype=np.int64)
            gsq = np.zeros(n, dtype=np.int64)
            ne = np.zeros(n, dtype=np.int64)
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                if h < 3 or w < 3:
                    continue
                px = (
                    _decode_stack(list(payloads[ii]), L, w, h)
                    .astype(np.int64)
                    .reshape(len(ii), h, w)
                )
                tl, tc, tr = px[:, :-2, :-2], px[:, :-2, 1:-1], px[:, :-2, 2:]
                ml, mr = px[:, 1:-1, :-2], px[:, 1:-1, 2:]
                bl, bc, br = px[:, 2:, :-2], px[:, 2:, 1:-1], px[:, 2:, 2:]
                gx = (tr + 2 * mr + br) - (tl + 2 * ml + bl)
                gy = (bl + 2 * bc + br) - (tl + 2 * tc + tr)
                sq = gx * gx + gy * gy
                gxs[ii] = np.abs(gx).sum(axis=(1, 2))
                gys[ii] = np.abs(gy).sum(axis=(1, 2))
                gsq[ii] = sq.sum(axis=(1, 2))
                ne[ii] = (sq >= thr).sum(axis=(1, 2))
            yield pdf.assign(
                gx_abs_sum=gxs, gy_abs_sum=gys, g_sq_sum=gsq, n_edge=ne
            )

    return df.mapInPandas(stage, out_schema)


def orientation_hist_stage(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Gradient-orientation histogram — HOG's pooling statistic reduced
    to one cell per image (the texture/orientation signature an image
    pipeline uses to separate line art, text renders and natural
    photos). Per interior pixel the Sobel pair (gx, gy) (exact ints,
    sobel_stage's kernel) is binned into FOUR orientation sectors of
    the undirected gradient angle in [0°, 180°):

        bin 0 = [0°, 45°)    bin 1 = [45°, 90°)
        bin 2 = [90°, 135°)  bin 3 = [135°, 180°)

    The classic HOG uses sectors anchored at arbitrary angles, whose
    tan() boundaries are irrational — unverifiable cross-engine. At
    45° multiples every boundary is an EXACT integer test: normalize
    to the upper half-plane ((gx, gy) -> (-gx, -gy) when gy < 0 or
    (gy = 0 and gx < 0)), then bin 0 is nx > ny, bin 1 is nx > 0 and
    ny >= nx, bin 2 is nx <= 0 and ny > -nx, bin 3 is nx < 0 and
    ny <= -nx (disjoint and exhaustive for non-zero gradients; each
    boundary angle lands in the counter-clockwise bin). Zero
    gradients are 'flat' and counted separately.

    Emits og_flat, og_n0..og_n3 (pixel counts) and og_e0..og_e3
    (gx²+gy² edge energy per sector) — all exact int64, so the DuckDB
    oracle reproduces every column from the pixel formula. Images
    thinner than 3 px have no interior: all zeros. Map-only."""
    fields = [f"{c} {t}" for c, t in df.dtypes]
    out_schema = ", ".join(
        fields
        + ["og_flat bigint"]
        + [f"og_n{b} bigint" for b in range(4)]
        + [f"og_e{b} bigint" for b in range(4)]
    )

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            cols = {
                k: np.zeros(n, dtype=np.int64)
                for k in ["og_flat"]
                + [f"og_n{b}" for b in range(4)]
                + [f"og_e{b}" for b in range(4)]
            }
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                if h < 3 or w < 3:
                    continue
                px = (
                    _decode_stack(list(payloads[ii]), L, w, h)
                    .astype(np.int64)
                    .reshape(len(ii), h, w)
                )
                tl, tc, tr = px[:, :-2, :-2], px[:, :-2, 1:-1], px[:, :-2, 2:]
                ml, mr = px[:, 1:-1, :-2], px[:, 1:-1, 2:]
                bl, bc, br = px[:, 2:, :-2], px[:, 2:, 1:-1], px[:, 2:, 2:]
                gx = (tr + 2 * mr + br) - (tl + 2 * ml + bl)
                gy = (bl + 2 * bc + br) - (tl + 2 * tc + tr)
                sq = gx * gx + gy * gy
                neg = (gy < 0) | ((gy == 0) & (gx < 0))
                nx = np.where(neg, -gx, gx)
                ny = np.where(neg, -gy, gy)
                nz = sq > 0
                bins = [
                    nz & (nx > ny),
                    nz & (nx > 0) & (ny >= nx),
                    nz & (nx <= 0) & (ny > -nx),
                    nz & (nx < 0) & (ny <= -nx),
                ]
                cols["og_flat"][ii] = (~nz).sum(axis=(1, 2))
                for b, m in enumerate(bins):
                    cols[f"og_n{b}"][ii] = m.sum(axis=(1, 2))
                    cols[f"og_e{b}"][ii] = np.where(m, sq, 0).sum(axis=(1, 2))
            yield pdf.assign(**cols)

    return df.mapInPandas(stage, out_schema)


def hough_stage(
    df: DataFrame, edge_sq_min: int = 200_000, bytes_col: str = "bytes"
) -> DataFrame:
    """Hough line transform — the dominant-line detector behind road /
    horizon / document-skew estimation (OpenCV's cv2.HoughLines
    restricted to the 45°-family orientations, where the accumulator
    is EXACT): every edge pixel (Sobel gx²+gy² >= ``edge_sq_min``,
    sobel_stage's kernel and threshold, so the edge set is the same
    set n_edge counts) votes for the line through it at each of four
    orientations, indexed by the integer normal form

        theta 0 (vertical line,   normal →):  rho = c
        theta 1 (diagonal ↘,      normal ↗):  rho = c + r
        theta 2 (horizontal line, normal ↑):  rho = r
        theta 3 (diagonal ↗,      normal ↖):  rho = r - c

    The classic transform quantizes rho = x·cosθ + y·sinθ over
    irrational trig values — unverifiable cross-engine; at 45°
    multiples the (unnormalized) normal components are 0/±1, so every
    accumulator key is an exact integer and the DuckDB oracle rebuilds
    the whole vote table from the pixel formula. Emits the winning
    accumulator cell per image: ``hl_votes`` (max votes), ``hl_theta``,
    ``hl_rho`` — ties break to the smallest (theta, rho), pinned by
    tests, so the argmax is deterministic. Images with no edge pixels
    (or no interior) report 0 votes and NULL theta/rho.

    Scale: map-only mapInPandas over equal-shape batch stacks, vote
    tensor chunk-bounded (64 images) like template_match_stage, zero
    shuffle; the accumulator is one bincount of length 4·(h+w) per
    image — executor memory independent of partition size."""
    fields = [f"{c} {t}" for c, t in df.dtypes]
    out_schema = ", ".join(
        fields + ["hl_votes bigint", "hl_theta bigint", "hl_rho bigint"]
    )
    thr = int(edge_sq_min)

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            votes = np.zeros(n, dtype=np.int64)
            bt = np.full(n, np.nan)
            brh = np.full(n, np.nan)
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                if h < 3 or w < 3:
                    continue
                px = (
                    _decode_stack(list(payloads[ii]), L, w, h)
                    .astype(np.int64)
                    .reshape(len(ii), h, w)
                )
                tl, tc, tr = px[:, :-2, :-2], px[:, :-2, 1:-1], px[:, :-2, 2:]
                ml, mr = px[:, 1:-1, :-2], px[:, 1:-1, 2:]
                bl, bc, br = px[:, 2:, :-2], px[:, 2:, 1:-1], px[:, 2:, 2:]
                gx = (tr + 2 * mr + br) - (tl + 2 * ml + bl)
                gy = (bl + 2 * bc + br) - (tl + 2 * tc + tr)
                mask = gx * gx + gy * gy >= thr
                rr, cc = np.mgrid[1 : h - 1, 1 : w - 1]
                # offset theta-3's rho (min 3-w) into [1, h+w-5]; all
                # offsetted rhos < R, so theta*R + rho is collision-free
                R = h + w
                offs = np.array([0, 0, 0, w - 2], dtype=np.int64)
                rhos = np.stack([cc, cc + rr, rr, rr - cc + (w - 2)])
                keys = (np.arange(4, dtype=np.int64) * R)[:, None, None] + rhos
                for lo in range(0, len(ii), 64):
                    sel = ii[lo : lo + 64]
                    m = len(sel)
                    sub = mask[lo : lo + 64]
                    base = (np.arange(m, dtype=np.int64) * (4 * R))[
                        :, None, None, None
                    ]
                    full = base + keys[None]
                    picked = full[np.broadcast_to(sub[:, None], full.shape)]
                    counts = np.bincount(picked, minlength=m * 4 * R).reshape(
                        m, 4 * R
                    )
                    # first max in flat (theta, offsetted-rho) order ==
                    # smallest (theta, rho): offsets are constant per theta
                    win = counts.argmax(axis=1)
                    v = counts[np.arange(m), win]
                    votes[sel] = v
                    t_idx = win // R
                    rho = win % R - offs[t_idx]
                    ok = v > 0
                    bt[sel[ok]] = t_idx[ok]
                    brh[sel[ok]] = rho[ok]
            yield pdf.assign(
                hl_votes=votes,
                hl_theta=pd.array(
                    [None if np.isnan(x) else int(x) for x in bt], dtype="Int64"
                ),
                hl_rho=pd.array(
                    [None if np.isnan(x) else int(x) for x in brh], dtype="Int64"
                ),
            )

    return df.mapInPandas(stage, out_schema)


def emd_stage(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth mover's) distance between each
    image's pixel-value histogram and the uniform distribution over
    [0, 256) — the distribution-drift / synthetic-content screen next
    to the two-sample KS test (1-D EMD is the L1 norm of the CDF
    difference; scipy.stats.wasserstein_distance computes the same
    quantity in floats). Cross-multiplied to stay EXACT:

        emd_uniform = Σ_{v=0}^{255} |256·cumhist(v) − npx·(v+1)|

    i.e. 256·npx times the mean-per-pixel transport cost in value
    units — an integer, so the DuckDB oracle reproduces it bit-for-bit
    from the pixel formula (histogram GROUP BY, one cumulative-sum
    window over the dense value series, one abs-difference sum). The
    top bin term is identically zero (both CDFs reach total mass), a
    contract the tests pin. Near-uniform noise scores low; flat or
    strongly structured images score high.

    Scale: map-only mapInPandas over equal-shape batch stacks; the
    accumulator is one bincount of 256 bins per image — zero shuffle,
    executor memory independent of partition size."""
    fields = [f"{c} {t}" for c, t in df.dtypes]
    out_schema = ", ".join(fields + ["emd_uniform bigint"])

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            emd = np.zeros(n, dtype=np.int64)
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            vplus = np.arange(1, 257, dtype=np.int64)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                npx = w * h
                if npx == 0:
                    continue
                px = (
                    _decode_stack(list(payloads[ii]), L, w, h)
                    .astype(np.int64)
                    .reshape(len(ii), npx)
                )
                m = len(ii)
                base = (np.arange(m, dtype=np.int64) * 256)[:, None]
                counts = np.bincount(
                    (px + base).ravel(), minlength=m * 256
                ).reshape(m, 256)
                ch = counts.cumsum(axis=1)
                emd[ii] = np.abs(256 * ch - npx * vplus).sum(axis=1)
            yield pdf.assign(emd_uniform=emd)

    return df.mapInPandas(stage, out_schema)


def harris_stage(
    df: DataFrame, corner_min: int = 2_000_000_000_000, bytes_col: str = "bytes"
) -> DataFrame:
    """Harris corner response — the interest-point screen behind
    keypoint extraction and perceptual registration (OpenCV's
    cv2.cornerHarris with a box window). Per pixel the structure
    tensor M = Σ_window [gx², gxgy; gxgy, gy²] over the 3x3 box of
    Sobel gradients (sobel_stage's exact kernel), and the response

        R20 = 20·det(M) − trace(M)²
            = 20·(A·B − C²) − (A + B)²     (k = 1/20, scaled by 20)

    — classic Harris with k = 0.05 multiplied through by 20 so the
    response is EXACT int64 (A, B ≤ 9·(4·255)² ≈ 9.4e6; 20·A·B ≤
    1.8e15): no float k, no engine-order drift. The Gaussian window of
    textbook Harris is irrational; the box window is the standard fast
    variant and the one that verifies cross-engine.

    Emits per image: hc_n (count of response pixels with R20 >
    corner_min), hc_max / hc_min (extreme responses, NULL when the
    image has no full window), and hc_wpos (sum of the linear pixel
    index k = r·w + c over above-threshold pixels — pins WHERE the
    corners sit, so a shifted response map breaks the gate even when
    the count is right; exact while n_px·max_k < 2^63, i.e. any
    realistic image). Response pixels are those with a full 3x3
    gradient window: r, c in [2, h-3] x [2, w-3]; images thinner than
    5 px have none. Map-only, equal-shape Arrow batch stacks."""
    fields = [f"{c} {t}" for c, t in df.dtypes]
    out_schema = ", ".join(
        fields + ["hc_n bigint", "hc_max bigint", "hc_min bigint", "hc_wpos bigint"]
    )
    thr = int(corner_min)

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            hn = np.zeros(n, dtype=np.int64)
            hmx = np.full(n, np.nan, dtype=object)
            hmn = np.full(n, np.nan, dtype=object)
            hwp = np.zeros(n, dtype=np.int64)
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                if h < 5 or w < 5:
                    continue
                px = (
                    _decode_stack(list(payloads[ii]), L, w, h)
                    .astype(np.int64)
                    .reshape(len(ii), h, w)
                )
                tl, tc, tr = px[:, :-2, :-2], px[:, :-2, 1:-1], px[:, :-2, 2:]
                ml, mr = px[:, 1:-1, :-2], px[:, 1:-1, 2:]
                bl, bc, br = px[:, 2:, :-2], px[:, 2:, 1:-1], px[:, 2:, 2:]
                gx = (tr + 2 * mr + br) - (tl + 2 * ml + bl)
                gy = (bl + 2 * bc + br) - (tl + 2 * tc + tr)

                def win(a: np.ndarray) -> np.ndarray:
                    H, W = a.shape[1], a.shape[2]
                    return sum(
                        a[:, dy : H - 2 + dy, dx : W - 2 + dx]
                        for dy in range(3)
                        for dx in range(3)
                    )

                A = win(gx * gx)
                B = win(gy * gy)
                C = win(gx * gy)
                r20 = 20 * (A * B - C * C) - (A + B) * (A + B)
                m = r20 > thr
                hn[ii] = m.sum(axis=(1, 2))
                hmx[ii] = r20.max(axis=(1, 2))
                hmn[ii] = r20.min(axis=(1, 2))
                # linear index of the response pixel's CENTER in the
                # full image grid: r = ry + 2, c = cx + 2
                ry = np.arange(h - 4).reshape(1, -1, 1) + 2
                cx = np.arange(w - 4).reshape(1, 1, -1) + 2
                kidx = ry * w + cx
                hwp[ii] = np.where(m, kidx, 0).sum(axis=(1, 2))
            yield pdf.assign(
                hc_n=hn,
                hc_max=pd.array(hmx, dtype="Int64"),
                hc_min=pd.array(hmn, dtype="Int64"),
                hc_wpos=hwp,
            )

    return df.mapInPandas(stage, out_schema)


#: FAST circle: the 16 (dx, dy) taps of the radius-3 Bresenham circle,
#: clockwise from the top (OpenCV's FAST_9_16 ordering)
FAST_OFFSETS: tuple[tuple[int, int], ...] = (
    (0, -3), (1, -3), (2, -2), (3, -1), (3, 0), (3, 1), (2, 2), (1, 3),
    (0, 3), (-1, 3), (-2, 2), (-3, 1), (-3, 0), (-3, -1), (-2, -2), (-1, -3),
)


def fast_stage(
    df: DataFrame, t: int = 30, bytes_col: str = "bytes"
) -> DataFrame:
    """FAST-9 corner detection (Rosten & Drummond '06, the segment
    test behind ORB keypoints; cv2.FastFeatureDetector without
    non-max suppression): a pixel p is a corner iff some arc of >= 9
    CONTIGUOUS pixels on its radius-3 Bresenham circle (16 taps) is
    entirely brighter than v(p) + t (bright corner) or entirely darker
    than v(p) - t (dark corner).  Pure integer compares — nothing to
    round, so it verifies cross-engine bit-for-bit.

    The cyclic >= 9-run test is branch-free bit logic: pack the 16
    compares into a mask m < 2^16, double it cyclically as
    m2 = m | (m << 16) = m * 65537 (disjoint bit ranges), and the run
    exists iff ((m2 >> k) & 0x1FF) == 0x1FF for some k in [0, 16) —
    the same 16-term test the DuckDB twin spells, so the arc semantics
    can't drift between engines.  A pixel can never be both kinds
    (two disjoint 9-runs need 18 > 16 taps).

    Emits per image: fast_n (corner count), fast_bn (bright-kind
    corners), fast_wpos (sum of linear index k = r*w + c over corners —
    pins WHERE they sit, the hc_wpos discipline).  Centers need the
    full circle in-bounds: r, c in [3, h-4] x [3, w-4]; images thinner
    than 7 px have none.  Map-only, equal-shape Arrow batch stacks."""
    fields = [f"{c} {ty}" for c, ty in df.dtypes]
    out_schema = ", ".join(
        fields + ["fast_n bigint", "fast_bn bigint", "fast_wpos bigint"]
    )
    thr = int(t)

    def _run9(m: np.ndarray) -> np.ndarray:
        m2 = m.astype(np.uint64) * np.uint64(65537)
        out = np.zeros(m.shape, dtype=bool)
        for k in range(16):
            out |= ((m2 >> np.uint64(k)) & np.uint64(0x1FF)) == np.uint64(0x1FF)
        return out

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            fn = np.zeros(n, dtype=np.int64)
            fb = np.zeros(n, dtype=np.int64)
            fw = np.zeros(n, dtype=np.int64)
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                if h < 7 or w < 7:
                    continue
                px = (
                    _decode_stack(list(payloads[ii]), L, w, h)
                    .astype(np.int64)
                    .reshape(len(ii), h, w)
                )
                ctr = px[:, 3 : h - 3, 3 : w - 3]
                mb = np.zeros(ctr.shape, dtype=np.uint32)
                md = np.zeros(ctr.shape, dtype=np.uint32)
                for j, (dx, dy) in enumerate(FAST_OFFSETS):
                    tap = px[:, 3 + dy : h - 3 + dy, 3 + dx : w - 3 + dx]
                    mb |= (tap > ctr + thr).astype(np.uint32) << np.uint32(j)
                    md |= (tap < ctr - thr).astype(np.uint32) << np.uint32(j)
                isb = _run9(mb)
                isd = _run9(md)
                corner = isb | isd
                fn[ii] = corner.sum(axis=(1, 2))
                fb[ii] = isb.sum(axis=(1, 2))
                ry = np.arange(h - 6).reshape(1, -1, 1) + 3
                cx = np.arange(w - 6).reshape(1, 1, -1) + 3
                kidx = ry * w + cx
                fw[ii] = np.where(corner, kidx, 0).sum(axis=(1, 2))
            yield pdf.assign(fast_n=fn, fast_bn=fb, fast_wpos=fw)

    return df.mapInPandas(stage, out_schema)


def wavelet_stage(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """2-level unnormalized 2-D Haar transform — subband energy
    signature (the texture / compression-artifact screen; the front
    end of wavelet hashing and JPEG2000-style analysis).  The Haar
    lifting step is pure integer adds/subtracts, so every subband
    coefficient — and therefore every energy — is EXACT int64 and
    verifies cross-engine bit-for-bit (the irrational 1/sqrt(2)
    normalization of textbook Haar is a per-level constant scale and
    carries no information; dropping it is the standard integer
    wavelet move).

    Per 2x2 block (a=TL, b=TR, c=BL, d=BR) of the level's smooth band:

        LL = a+b+c+d    LH = a-b+c-d  (horizontal detail)
        HL = a+b-c-d    HH = a-b-c+d  (diagonal kills both)

    Level 1 runs on pixels over the even-cropped (h//2*2, w//2*2)
    region; level 2 runs on the level-1 LL grid over complete 4x4
    pixel blocks (h//4*4, w//4*4).  Emits per image the detail-band
    energies wv_e_lh1/hl1/hh1/lh2/hl2/hh2 (sum of squared
    coefficients), wv_ll2_sum (the level-2 smooth mass — pins the
    cascade), and wv_n1/wv_n2 (block counts).  Images thinner than
    2 px at a level have zero blocks there.  Map-only, equal-shape
    Arrow batch stacks, zero shuffle."""
    fields = [f"{c} {ty}" for c, ty in df.dtypes]
    out_schema = ", ".join(
        fields
        + [
            "wv_e_lh1 bigint", "wv_e_hl1 bigint", "wv_e_hh1 bigint",
            "wv_e_lh2 bigint", "wv_e_hl2 bigint", "wv_e_hh2 bigint",
            "wv_ll2_sum bigint", "wv_n1 bigint", "wv_n2 bigint",
        ]
    )

    def _haar(sm: np.ndarray):
        """One Haar level over the smooth band: (LL, LH, HL, HH) on
        complete 2x2 blocks (odd trailing row/col cropped)."""
        H, W = sm.shape[1] // 2 * 2, sm.shape[2] // 2 * 2
        a = sm[:, 0:H:2, 0:W:2]
        b = sm[:, 0:H:2, 1:W:2]
        c = sm[:, 1:H:2, 0:W:2]
        d = sm[:, 1:H:2, 1:W:2]
        return a + b + c + d, a - b + c - d, a + b - c - d, a - b - c + d

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            cols = {k: np.zeros(n, dtype=np.int64) for k in (
                "wv_e_lh1", "wv_e_hl1", "wv_e_hh1",
                "wv_e_lh2", "wv_e_hl2", "wv_e_hh2",
                "wv_ll2_sum", "wv_n1", "wv_n2",
            )}
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                if w < 2 or h < 2:
                    continue
                px = (
                    _decode_stack(list(payloads[ii]), L, w, h)
                    .astype(np.int64)
                    .reshape(len(ii), h, w)
                )
                ll1, lh1, hl1, hh1 = _haar(px)
                cols["wv_e_lh1"][ii] = (lh1 * lh1).sum(axis=(1, 2))
                cols["wv_e_hl1"][ii] = (hl1 * hl1).sum(axis=(1, 2))
                cols["wv_e_hh1"][ii] = (hh1 * hh1).sum(axis=(1, 2))
                cols["wv_n1"][ii] = ll1.shape[1] * ll1.shape[2]
                if ll1.shape[1] >= 2 and ll1.shape[2] >= 2:
                    ll2, lh2, hl2, hh2 = _haar(ll1)
                    cols["wv_e_lh2"][ii] = (lh2 * lh2).sum(axis=(1, 2))
                    cols["wv_e_hl2"][ii] = (hl2 * hl2).sum(axis=(1, 2))
                    cols["wv_e_hh2"][ii] = (hh2 * hh2).sum(axis=(1, 2))
                    cols["wv_ll2_sum"][ii] = ll2.sum(axis=(1, 2))
                    cols["wv_n2"][ii] = ll2.shape[1] * ll2.shape[2]
            yield pdf.assign(**cols)

    return df.mapInPandas(stage, out_schema)


def median_filter_stage(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """3x3 median filter statistics — the classic impulse-noise
    (salt-and-pepper) screen (cv2.medianBlur): per interior pixel the
    median of its 3x3 neighborhood, which for 9 integers is the exact
    5th order statistic — no interpolation, no floats, so the filtered
    field reproduces bit-for-bit in SQL (DuckDB's median over an odd
    count is the same order statistic).

    Emits per image: med_sum (Σ median over interior pixels) and
    med_absdiff (Σ |median − center|, the impulse-noise mass: large
    when isolated pixels disagree with their neighborhood — ~0 on
    smooth natural images, high on noise/dithering). Both exact int64
    at any image size (≤ 255 per pixel). Images thinner than 3 px
    have no interior: zeros. Map-only, equal-shape batch stacks; the
    per-window sort is a fixed 9-element axis sort on the
    [chunk, h-2, w-2, 9] tensor."""
    fields = [f"{c} {t}" for c, t in df.dtypes]
    out_schema = ", ".join(fields + ["med_sum bigint", "med_absdiff bigint"])

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            ms = np.zeros(n, dtype=np.int64)
            md = np.zeros(n, dtype=np.int64)
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                if h < 3 or w < 3:
                    continue
                px = (
                    _decode_stack(list(payloads[ii]), L, w, h)
                    .astype(np.int64)
                    .reshape(len(ii), h, w)
                )
                # [chunk, h-2, w-2, 9] neighborhood tensor; partition at
                # index 4 = the 5th order statistic (exact int median of 9)
                neigh = np.stack(
                    [
                        px[:, dy : h - 2 + dy, dx : w - 2 + dx]
                        for dy in range(3)
                        for dx in range(3)
                    ],
                    axis=-1,
                )
                med = np.partition(neigh, 4, axis=-1)[..., 4]
                ctr = px[:, 1:-1, 1:-1]
                ms[ii] = med.sum(axis=(1, 2))
                md[ii] = np.abs(med - ctr).sum(axis=(1, 2))
            yield pdf.assign(med_sum=ms, med_absdiff=md)

    return df.mapInPandas(stage, out_schema)


def template_match_stage(
    df: DataFrame,
    template: np.ndarray,
    bytes_col: str = "bytes",
) -> DataFrame:
    """Exact SSD template matching — the localization primitive behind
    logo/watermark detection and patch-level duplicate search
    (OpenCV's cv2.matchTemplate(..., TM_SQDIFF) is this statistic):
    slide ``template`` (a small uint8 t_h x t_w array) over every
    valid offset of each image and report the best (minimum) sum of
    squared differences and WHERE it occurred.

    Emits per image: ``n_pos`` (number of valid offsets,
    (h-t_h+1)*(w-t_w+1)), ``best_ssd``, ``best_y``, ``best_x`` — ties
    break to the smallest y then x (C-order argmin, pinned by tests),
    so the result is deterministic and the DuckDB oracle reproduces
    all four columns from the pixel formula. Everything is exact
    int64 (per-term diff^2 <= 250^2; even a 4-megapixel image times
    that stays far under 2^63) — no correlation-via-FFT float paths,
    bit-identical across engines and retries. Images smaller than the
    template have no valid offset: n_pos 0, best_* NULL.

    Scale: map-only mapInPandas over equal-shape batch stacks (the
    decode_stats discipline); the [chunk, H', W', t_h, t_w] window
    tensor is bounded by a fixed image chunk size, so executor memory
    is independent of partition size. Cost is O(pixels x template)
    per image — the exact-arithmetic price; at 100 TB the win is that
    the stage stays embarrassingly parallel with zero shuffle."""
    tpl = np.asarray(template)
    if tpl.ndim != 2 or tpl.size == 0:
        raise ValueError("template must be a non-empty 2-D array")
    if tpl.min() < 0 or tpl.max() > 255:
        raise ValueError("template values must be uint8-range (0..255)")
    tpl = tpl.astype(np.int64)
    th, tw = tpl.shape
    fields = [f"{c} {t}" for c, t in df.dtypes]
    out_schema = ", ".join(
        fields + ["n_pos bigint", "best_ssd bigint", "best_y bigint", "best_x bigint"]
    )

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in batches:
            n = len(pdf)
            npos = np.zeros(n, dtype=np.int64)
            bssd = np.full(n, np.nan)
            by = np.full(n, np.nan)
            bx = np.full(n, np.nan)
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                if h < th or w < tw:
                    continue
                px = (
                    _decode_stack(list(payloads[ii]), L, w, h)
                    .astype(np.int64)
                    .reshape(len(ii), h, w)
                )
                wo = w - tw + 1
                npos[ii] = (h - th + 1) * wo
                # chunk the window tensor: memory is chunk-bounded,
                # not partition-bounded
                for lo in range(0, len(ii), 64):
                    sub = px[lo : lo + 64]
                    sw = sliding_window_view(sub, (th, tw), axis=(1, 2))
                    d = sw - tpl
                    ssd = np.einsum("lyxab,lyxab->lyx", d, d)
                    flat = ssd.reshape(len(sub), -1)
                    idx = flat.argmin(axis=1)  # first min = smallest (y, x)
                    sel = ii[lo : lo + 64]
                    bssd[sel] = flat[np.arange(len(sub)), idx]
                    by[sel] = idx // wo
                    bx[sel] = idx % wo
            yield pdf.assign(
                n_pos=npos,
                best_ssd=pd.array(
                    [None if np.isnan(v) else int(v) for v in bssd], dtype="Int64"
                ),
                best_y=pd.array(
                    [None if np.isnan(v) else int(v) for v in by], dtype="Int64"
                ),
                best_x=pd.array(
                    [None if np.isnan(v) else int(v) for v in bx], dtype="Int64"
                ),
            )

    return df.mapInPandas(stage, out_schema)


#: Otsu float-exactness bound: the between-class numerator
#: cw*S - N*cs is bounded by 255*N^2, which must stay exactly
#: representable in a double (< 2^53) so Spark's numpy kernel and the
#: DuckDB twin square and divide IDENTICAL inputs -> identical doubles.
OTSU_MAX_PIXELS = 1 << 22  # 255 * (2^22)^2 = 4.5e15 < 2^53


def otsu_stage(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Otsu's global threshold — the classic binarization/document-vs-
    photo screen (scanned-text detection, foreground masking before
    OCR-quality scoring). Per image the 256-bin histogram reduces the
    O(pixels) work to one vectorized bincount; each candidate threshold
    t (class 0 = pixels <= t) scores the between-class variance

        sigma_b(t) = (cw*S - N*cs)^2 / (cw * (N - cw))   [* 1/N^2, a
                     shared positive factor dropped from the argmax]

    with cw/cs the cumulative count/weighted sum, all EXACT int64. The
    only floats are ONE squaring and ONE division of exactly-
    representable doubles (numerator <= 255*N^2 < 2^53, guarded by
    OTSU_MAX_PIXELS), the same two IEEE ops the DuckDB twin spells —
    so sigma and therefore the argmax agree bit-for-bit cross-engine.
    Ties break to the LOWEST t; thresholds with an empty class
    (den = 0) are invalid; a constant image has no valid threshold ->
    otsu_t NULL. Emits otsu_t, otsu_fg (count of pixels > t — the
    foreground mass a downstream filter keys on) and otsu_sigma.
    Vectorized per equal-shape Arrow group; map-only."""
    fields = [f"{c} {t}" for c, t in df.dtypes]
    out_schema = ", ".join(fields + ["otsu_t int", "otsu_fg bigint", "otsu_sigma double"])

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            ts = np.full(n, -1, dtype=np.int64)
            fg = np.zeros(n, dtype=np.int64)
            sig = np.full(n, np.nan, dtype=np.float64)
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                npx = w * h
                if npx == 0:
                    continue
                if npx > OTSU_MAX_PIXELS:
                    raise ValueError(
                        f"otsu_stage: image has {npx} pixels > OTSU_MAX_PIXELS="
                        f"{OTSU_MAX_PIXELS}; the between-class numerator would "
                        "pass 2^53 and the shared-double contract with the SQL "
                        "twin breaks — downsample (resize_stage) first"
                    )
                px = _decode_stack(list(payloads[ii]), L, w, h)
                m = len(ii)
                # one bincount for the whole stack: offset row k's values
                # by k*256 so the flat counts reshape to (m, 256)
                offs = (np.arange(m, dtype=np.int64) * 256)[:, None]
                hist = np.bincount(
                    (px.astype(np.int64) + offs).ravel(), minlength=m * 256
                ).reshape(m, 256)
                cw = hist.cumsum(axis=1)  # (m, 256); cw[:, 255] == npx
                cs = (hist * np.arange(256, dtype=np.int64)).cumsum(axis=1)
                N = np.int64(npx)
                S = cs[:, 255:256]
                num = cw[:, :255] * S - N * cs[:, :255]  # exact int64
                den = cw[:, :255] * (N - cw[:, :255])  # exact int64
                valid = den > 0
                numf = num.astype(np.float64)  # exact: |num| <= 255*N^2 < 2^53
                with np.errstate(divide="ignore", invalid="ignore"):
                    sigma = np.where(
                        valid, (numf * numf) / den.astype(np.float64), -1.0
                    )
                any_valid = valid.any(axis=1)
                best = sigma.argmax(axis=1)  # first max -> lowest t
                rows = np.arange(m)
                ts[ii] = np.where(any_valid, best, -1)
                fg[ii] = np.where(any_valid, N - cw[rows, best], 0)
                sig[ii] = np.where(any_valid, sigma[rows, best], np.nan)
            out = pdf.assign(otsu_t=ts, otsu_fg=fg, otsu_sigma=sig)
            # invalid (constant / empty) images: all three columns NULL,
            # via object dtype so Arrow emits genuine nulls (the
            # trim_start/trim_end pattern)
            bad = out["otsu_t"] < 0
            out["otsu_t"] = out["otsu_t"].astype("object").where(~bad, None)
            out["otsu_fg"] = out["otsu_fg"].astype("object").where(~bad, None)
            out["otsu_sigma"] = out["otsu_sigma"].astype("object").where(~bad, None)
            yield out

    return df.mapInPandas(stage, out_schema)


def hist_eq_stage(df: DataFrame, dark_below: int = 64, bytes_col: str = "bytes") -> DataFrame:
    """Histogram equalization — the classic contrast-normalization pass
    an image pipeline applies before feature extraction (and the
    companion of Otsu: both are per-image 256-bin histogram reductions).
    The standard mapping,

        eq(v) = ((cdf(v) − cdf_min) · 255) // (n − cdf_min)

    with cdf_min the cdf at the lowest OCCUPIED value, is pure integer
    arithmetic (floor division of non-negative int64), so the equalized
    pixel for every grey level reproduces bit-for-bit in SQL with no
    float anywhere. Emits per image:

    - ``eq_sum``  = Σ eq(v) over all pixels (≤ 255·n, exact int64) —
      pins the full cdf and mapping, weighted by the histogram;
    - ``eq_dark`` = pixels with eq(v) < ``dark_below`` (post-
      equalization shadow mass — a constant fraction ~dark_below/256
      for well-spread histograms; a large value flags banding/clipping).

    Constant (single-grey-level) and empty images have no valid mapping
    (n == cdf_min): both columns NULL. Vectorized per equal-shape Arrow
    group (one offset bincount per stack, the otsu_stage kernel);
    map-only."""
    fields = [f"{c} {t}" for c, t in df.dtypes]
    out_schema = ", ".join(fields + ["eq_sum bigint", "eq_dark bigint"])
    dark = int(dark_below)

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_rows = len(pdf)
            esum = np.full(n_rows, -1, dtype=np.int64)
            edark = np.zeros(n_rows, dtype=np.int64)
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                npx = w * h
                if npx == 0:
                    continue
                px = _decode_stack(list(payloads[ii]), L, w, h)
                m = len(ii)
                offs = (np.arange(m, dtype=np.int64) * 256)[:, None]
                hist = np.bincount(
                    (px.astype(np.int64) + offs).ravel(), minlength=m * 256
                ).reshape(m, 256)
                cw = hist.cumsum(axis=1)
                big = np.int64(1) << 62
                cmin = np.where(hist > 0, cw, big).min(axis=1)  # (m,)
                N = np.int64(npx)
                valid = cmin != N
                den = np.where(valid, N - cmin, 1)
                ev = ((cw - cmin[:, None]) * 255) // den[:, None]
                s = (hist * ev).sum(axis=1)
                d = (hist * (ev < dark)).sum(axis=1)
                esum[ii] = np.where(valid, s, -1)
                edark[ii] = np.where(valid, d, 0)
            out = pdf.assign(eq_sum=esum, eq_dark=edark)
            bad = out["eq_sum"] < 0
            out["eq_sum"] = out["eq_sum"].astype("object").where(~bad, None)
            out["eq_dark"] = out["eq_dark"].astype("object").where(~bad, None)
            yield out

    return df.mapInPandas(stage, out_schema)


def scene_cut_stage(
    df: DataFrame,
    threshold_millis: int = 20_000,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Video scene-cut detection — the transition screen a video
    training pipeline runs before frame sampling (sample per SHOT, not
    per uniform offset, or a 2-scene clip yields near-duplicate frames
    from the long scene). The payload is n_frames concatenated w*h raw
    frames (the frame_sample contract); per consecutive-frame pair the
    stage emits the EXACT integer sum of absolute pixel differences
    (sad) and flags a cut via the integer comparison
    sad * 1000 >= threshold_millis * n_px (mean-abs-diff threshold with
    no FP anywhere, so the DuckDB oracle reproduces every flag).
    One output row per transition: (id, frame_idx of the LATER frame,
    n_px, sad, is_cut); single-frame payloads emit nothing. Vectorized
    per equal-shape batch group; map-only."""
    out_schema = (
        f"{id_col} string, frame_idx int, n_px int, sad bigint, is_cut boolean"
    )
    thr = int(threshold_millis)

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fidx, npx, sads, cuts = [], [], [], [], []
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                fsize = w * h
                if fsize == 0 or L < 2 * fsize:
                    continue
                n_frames = L // fsize
                usable = n_frames * fsize
                buf = (
                    np.frombuffer(b"".join(payloads[k] for k in ii), dtype=np.uint8)
                    .reshape(len(ii), L)[:, :usable]
                    .astype(np.int64)
                    .reshape(len(ii), n_frames, fsize)
                )
                sad = np.abs(buf[:, 1:, :] - buf[:, :-1, :]).sum(axis=2)  # (n, f-1)
                for row, vid in enumerate(pdf[id_col].to_numpy(dtype=object)[ii]):
                    for j in range(n_frames - 1):
                        s = int(sad[row, j])
                        ids.append(vid)
                        fidx.append(j + 1)
                        npx.append(fsize)
                        sads.append(s)
                        cuts.append(s * 1000 >= thr * fsize)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "frame_idx": fidx,
                    "n_px": npx,
                    "sad": sads,
                    "is_cut": cuts,
                }
            )

    return df.mapInPandas(stage, out_schema)


def motion_stage(
    df: DataFrame,
    block: int = 8,
    radius: int = 2,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Block-matching motion estimation — the MPEG/H.26x motion-vector
    front end, and the screen that separates a PAN (coherent nonzero
    vectors) from a CUT (high residual SAD) from a STATIC shot (zero
    vectors): for every ``block``x``block`` tile of frame j+1, the
    displacement (dy, dx) in the ±``radius`` window whose
    ``block``² -pixel window of frame j matches best (minimum SAD —
    exact integer), tie-broken to the lexicographically smallest
    (dy, dx) — both engines iterate candidates in that order, so the
    argmin is deterministic.  Candidates whose source window leaves
    the frame are skipped ((0, 0) is always valid, so every complete
    target block scores).

    Payload contract = scene_cut_stage's: n_frames concatenated w*h
    raw frames.  Emits ONE row per video with exact-integer pins:
    mv_blocks (scored block-pair count), mv_sad_sum (total best
    residual), mv_nz (blocks with nonzero best vector),
    mv_dx_sum / mv_dy_sum (net motion), and the position-weighted
    mv_dxw / mv_dyw = Σ (j·4096 + bR·64 + bC + 1)·d — a vector field
    that is right in aggregate but shifted in place breaks the gate.
    Videos shorter than 2 frames or thinner than ``block`` px emit
    zeros.  Vectorized per equal-shape batch group; map-only."""
    fields = [f"{c} {ty}" for c, ty in df.dtypes]
    out_schema = ", ".join(
        fields
        + [
            "mv_blocks bigint", "mv_sad_sum bigint", "mv_nz bigint",
            "mv_dx_sum bigint", "mv_dy_sum bigint",
            "mv_dxw bigint", "mv_dyw bigint",
        ]
    )
    B, R = int(block), int(radius)

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            cols = {k: np.zeros(n, dtype=np.int64) for k in (
                "mv_blocks", "mv_sad_sum", "mv_nz",
                "mv_dx_sum", "mv_dy_sum", "mv_dxw", "mv_dyw",
            )}
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                fsize = w * h
                if fsize == 0 or L < 2 * fsize or h < B or w < B:
                    continue
                n_frames = L // fsize
                buf = (
                    np.frombuffer(b"".join(payloads[k] for k in ii), dtype=np.uint8)
                    .reshape(len(ii), L)[:, : n_frames * fsize]
                    .astype(np.int64)
                    .reshape(len(ii), n_frames, h, w)
                )
                nbr, nbc = h // B, w // B
                m = len(ii)
                for j in range(n_frames - 1):
                    prev = buf[:, j]
                    cur = buf[:, j + 1]
                    tgt = (
                        cur[:, : nbr * B, : nbc * B]
                        .reshape(m, nbr, B, nbc, B)
                        .transpose(0, 1, 3, 2, 4)
                    )  # (m, nbr, nbc, B, B)
                    big = np.int64(1) << 62
                    best_sad = np.full((m, nbr, nbc), big, dtype=np.int64)
                    best_dy = np.zeros((m, nbr, nbc), dtype=np.int64)
                    best_dx = np.zeros((m, nbr, nbc), dtype=np.int64)
                    for dy in range(-R, R + 1):
                        # valid target-block rows for this dy
                        r_lo = 0 if dy >= 0 else (-dy + B - 1) // B
                        r_hi = (h - B - dy) // B  # inclusive
                        r_hi = min(r_hi, nbr - 1)
                        if r_lo > r_hi:
                            continue
                        for dx in range(-R, R + 1):
                            c_lo = 0 if dx >= 0 else (-dx + B - 1) // B
                            c_hi = min((w - B - dx) // B, nbc - 1)
                            if c_lo > c_hi:
                                continue
                            src = prev[
                                :,
                                r_lo * B + dy : (r_hi + 1) * B + dy,
                                c_lo * B + dx : (c_hi + 1) * B + dx,
                            ].reshape(
                                m, r_hi - r_lo + 1, B, c_hi - c_lo + 1, B
                            ).transpose(0, 1, 3, 2, 4)
                            sad = np.abs(
                                src - tgt[:, r_lo : r_hi + 1, c_lo : c_hi + 1]
                            ).sum(axis=(3, 4))
                            view = best_sad[:, r_lo : r_hi + 1, c_lo : c_hi + 1]
                            upd = sad < view  # strict: first (dy,dx) wins ties
                            best_sad[:, r_lo : r_hi + 1, c_lo : c_hi + 1] = (
                                np.where(upd, sad, view)
                            )
                            bdy = best_dy[:, r_lo : r_hi + 1, c_lo : c_hi + 1]
                            best_dy[:, r_lo : r_hi + 1, c_lo : c_hi + 1] = (
                                np.where(upd, dy, bdy)
                            )
                            bdx = best_dx[:, r_lo : r_hi + 1, c_lo : c_hi + 1]
                            best_dx[:, r_lo : r_hi + 1, c_lo : c_hi + 1] = (
                                np.where(upd, dx, bdx)
                            )
                    wgt = (
                        np.int64(j + 1) * 4096
                        + np.arange(nbr, dtype=np.int64).reshape(1, -1, 1) * 64
                        + np.arange(nbc, dtype=np.int64).reshape(1, 1, -1)
                        + 1
                    )
                    cols["mv_blocks"][ii] += nbr * nbc
                    cols["mv_sad_sum"][ii] += best_sad.sum(axis=(1, 2))
                    cols["mv_nz"][ii] += (
                        (best_dy != 0) | (best_dx != 0)
                    ).sum(axis=(1, 2))
                    cols["mv_dx_sum"][ii] += best_dx.sum(axis=(1, 2))
                    cols["mv_dy_sum"][ii] += best_dy.sum(axis=(1, 2))
                    cols["mv_dxw"][ii] += (wgt * best_dx).sum(axis=(1, 2))
                    cols["mv_dyw"][ii] += (wgt * best_dy).sum(axis=(1, 2))
            yield pdf.assign(**cols)

    return df.mapInPandas(stage, out_schema)


def audio_stats_stage(
    df: DataFrame,
    silence_amp: int = 16,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Audio energy + silence-trim analysis — the pre-training pass that
    drops dead air before tokenizing/segmenting a clip. The payload is
    unsigned-8-bit PCM centered at 128 (codec stubbed like every other
    modality: same opaque binary column, different decode contract).
    Per row, all EXACT integers:

    - n_samples, peak = max |s - 128|,
    - energy = sum (s - 128)^2  (rms = sqrt(energy/n) is ONE shared
      sqrt spelling in the gate — IEEE-754 sqrt is correctly rounded,
      so both engines emit the identical double),
    - trim_start / trim_end: first and last sample index with
      |s - 128| >= silence_amp (NULL when the whole clip is silent) —
      the slice [trim_start, trim_end] is the silence-trimmed clip.

    Vectorized over equal-shape batch groups; map-only."""
    out_schema = (
        f"{id_col} string, n_samples int, peak int, energy bigint, "
        f"trim_start int, trim_end int"
    )
    amp = int(silence_amp)

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            ns = np.zeros(n, dtype=np.int64)
            peak = np.zeros(n, dtype=np.int64)
            energy = np.zeros(n, dtype=np.int64)
            t0 = np.full(n, -1, dtype=np.int64)
            t1 = np.full(n, -1, dtype=np.int64)
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, _, _ in _shape_groups(pdf, bytes_col):
                if L == 0:
                    continue
                buf = np.frombuffer(
                    b"".join(payloads[k] for k in ii), dtype=np.uint8
                ).reshape(len(ii), L)
                a = np.abs(buf.astype(np.int64) - 128)
                ns[ii] = L
                peak[ii] = a.max(axis=1)
                energy[ii] = (a * a).sum(axis=1)
                loud = a >= amp
                any_loud = loud.any(axis=1)
                first = np.argmax(loud, axis=1)
                last = L - 1 - np.argmax(loud[:, ::-1], axis=1)
                t0[ii] = np.where(any_loud, first, -1)
                t1[ii] = np.where(any_loud, last, -1)
            out = pdf[[id_col]].assign(
                n_samples=ns, peak=peak, energy=energy, trim_start=t0, trim_end=t1
            )
            out["trim_start"] = out["trim_start"].astype("object").where(out["trim_start"] >= 0, None)
            out["trim_end"] = out["trim_end"].astype("object").where(out["trim_end"] >= 0, None)
            yield out

    return df.mapInPandas(stage, out_schema)


def seam_stage(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Minimum-energy vertical seam (Avidan & Shamir '07 seam carving,
    the content-aware-resize primitive): the cheapest top-to-bottom
    8-connected path through the Sobel energy map — images whose
    minimum seam is CHEAP have removable low-content columns (borders,
    letterboxing, synthetic padding), which makes seam cost a crop /
    padding screen next to the sharpness and entropy statistics.

    Energy = gx² + gy² over the interior (h−2)×(w−2) Sobel grid
    (sobel_stage's exact kernel — shared definition with the oracle's
    sob CTE).  DP: cum[r][c] = e[r][c] + min(cum[r−1][c−1..c+1])
    (column-clamped), all exact int64.  Emits per image:

    - sc_cost  = min over c of cum[last][c]  (the seam's total energy)
    - sc_end   = the argmin column (ties → smallest c; pins WHERE)
    - sc_top   = min over c of cum[first][c] = the cheapest single-row
      energy (the DP's base row — pins the base case separately)
    Images thinner than 3 px have no interior: all NULL.  Map-only,
    equal-shape Arrow batch stacks; the twin runs the SAME recurrence
    as a recursive CTE over per-row energy LISTS — dynamic programming
    in SQL list algebra vs numpy, one exact answer."""
    fields = [f"{c} {ty}" for c, ty in df.dtypes]
    out_schema = ", ".join(
        fields + ["sc_cost bigint", "sc_end bigint", "sc_top bigint"]
    )

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            cols = {
                k: np.full(n, np.nan, dtype=object)
                for k in ("sc_cost", "sc_end", "sc_top")
            }
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                if h < 3 or w < 3:
                    continue
                px = (
                    _decode_stack(list(payloads[ii]), L, w, h)
                    .astype(np.int64)
                    .reshape(len(ii), h, w)
                )
                tl, tc, tr = px[:, :-2, :-2], px[:, :-2, 1:-1], px[:, :-2, 2:]
                ml, mr = px[:, 1:-1, :-2], px[:, 1:-1, 2:]
                bl, bc, br = px[:, 2:, :-2], px[:, 2:, 1:-1], px[:, 2:, 2:]
                gx = (tr + 2 * mr + br) - (tl + 2 * ml + bl)
                gy = (bl + 2 * bc + br) - (tl + 2 * tc + tr)
                e = gx * gx + gy * gy  # (m, h-2, w-2)
                cum = e[:, 0, :].copy()
                cols["sc_top"][ii] = cum.min(axis=1)
                big = np.int64(1) << 62
                for r in range(1, e.shape[1]):
                    left = np.concatenate(
                        [np.full((len(cum), 1), big), cum[:, :-1]], axis=1
                    )
                    right = np.concatenate(
                        [cum[:, 1:], np.full((len(cum), 1), big)], axis=1
                    )
                    cum = e[:, r, :] + np.minimum(
                        np.minimum(left, cum), right
                    )
                cols["sc_cost"][ii] = cum.min(axis=1)
                cols["sc_end"][ii] = cum.argmin(axis=1)  # first min = smallest c
            yield pdf.assign(
                **{k: pd.array(a, dtype="Int64") for k, a in cols.items()}
            )

    return df.mapInPandas(stage, out_schema)


def bitplane_stage(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Bit-plane statistics — the LSB-steganography / synthetic-content
    forensic screen: natural images have strongly structured high bit
    planes and noisy-but-correlated low planes, while embedded payloads
    or generator artifacts push a plane's mass toward 50% and its
    horizontal transition rate toward independence.  Per plane b in
    {0, 1, 6, 7} (the two forensic extremes), all exact int64:

    - bp{b}_n   = popcount of the plane (set-pixel count),
    - bp{b}_t   = horizontal transitions (xor of row-adjacent bits) —
      for an independent fair plane E[t] ≈ half the adjacencies, so
      (n, t) together expose both bias and correlation.

    Map-only, equal-shape Arrow batch stacks, zero shuffle; the twin
    spells (v >> b) & 1 over the same LCG pixels."""
    fields = [f"{c} {ty}" for c, ty in df.dtypes]
    planes = (0, 1, 6, 7)
    out_schema = ", ".join(
        fields
        + [f"bp{b}_{s} bigint" for b in planes for s in ("n", "t")]
    )

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            cols = {
                f"bp{b}_{s}": np.zeros(n, dtype=np.int64)
                for b in planes
                for s in ("n", "t")
            }
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                if w == 0 or h == 0:
                    continue
                px = (
                    _decode_stack(list(payloads[ii]), L, w, h)
                    .astype(np.int64)
                    .reshape(len(ii), h, w)
                )
                for b in planes:
                    pl = (px >> b) & 1
                    cols[f"bp{b}_n"][ii] = pl.sum(axis=(1, 2))
                    if w >= 2:
                        cols[f"bp{b}_t"][ii] = (
                            pl[:, :, 1:] ^ pl[:, :, :-1]
                        ).sum(axis=(1, 2))
            yield pdf.assign(**cols)

    return df.mapInPandas(stage, out_schema)


#: WHT frame length (power of two; every fixture clip has >= 256
#: samples since min image is 16x16)
WHT_N = 256


def audio_wht_stage(
    df: DataFrame, id_col: str = "image_id", bytes_col: str = "bytes"
) -> DataFrame:
    """Walsh-Hadamard sequency spectrum of the clip's first
    ``WHT_N`` = 256 PCM samples — the EXACT-arithmetic stand-in for FFT
    band energy (the WHT's ±1 basis needs no irrational twiddle
    factors, which is why video codecs use Hadamard SATD for
    rate-distortion: all-integer, and here cross-engine bit-exact).
    Natural (Hadamard) order: c_b = Σ_k s_k · (−1)^popcount(b AND k)
    over centered samples s_k = pcm_k − 128, computed by the O(n log n)
    butterfly; the twin spells the popcount sign sum directly — two
    genuinely different algorithms, one answer.

    Emits per clip (all exact int64):
    - wht_dc = c_0 (the DC sum),
    - band energies by sequency proxy popcount(b): wht_e_low (1-2),
      wht_e_mid (3-5), wht_e_high (6-8),
    - wht_e_total = Σ_b c_b², which must equal 256·Σ_k s_k²
      (Parseval — an internal identity the tests assert, and a
      corruption of ANY coefficient breaks it).
    Clips shorter than 256 samples emit NULLs (none in the fixture)."""
    fields = [f"{c} {ty}" for c, ty in df.dtypes]
    out_schema = ", ".join(
        fields
        + [
            "wht_dc bigint", "wht_e_low bigint", "wht_e_mid bigint",
            "wht_e_high bigint", "wht_e_total bigint",
        ]
    )
    pc = np.array([bin(b).count("1") for b in range(WHT_N)], dtype=np.int64)
    lo = (pc >= 1) & (pc <= 2)
    mid = (pc >= 3) & (pc <= 5)
    hi = pc >= 6

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            cols = {
                k: np.full(n, np.nan, dtype=object)
                for k in ("wht_dc", "wht_e_low", "wht_e_mid",
                          "wht_e_high", "wht_e_total")
            }
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                if L < WHT_N:
                    continue
                m = len(ii)
                s = (
                    np.frombuffer(b"".join(payloads[k] for k in ii), dtype=np.uint8)
                    .reshape(m, L)[:, :WHT_N]
                    .astype(np.int64)
                    - 128
                )
                v = s.copy()
                half = 1
                while half < WHT_N:  # the FWHT butterfly
                    v = v.reshape(m, WHT_N // (2 * half), 2, half)
                    v = np.stack(
                        [v[:, :, 0, :] + v[:, :, 1, :],
                         v[:, :, 0, :] - v[:, :, 1, :]],
                        axis=2,
                    ).reshape(m, WHT_N)
                    half *= 2
                e = v * v
                cols["wht_dc"][ii] = v[:, 0]
                cols["wht_e_low"][ii] = e[:, lo].sum(axis=1)
                cols["wht_e_mid"][ii] = e[:, mid].sum(axis=1)
                cols["wht_e_high"][ii] = e[:, hi].sum(axis=1)
                cols["wht_e_total"][ii] = e.sum(axis=1)
            yield pdf.assign(
                **{k: pd.array(a, dtype="Int64") for k, a in cols.items()}
            )

    return df.mapInPandas(stage, out_schema)


#: autocorrelation lags probed by audio_acf_stage (powers of two:
#: short-range correlation through frame-level periodicity)
ACF_LAGS = (1, 2, 4, 8, 16)


def audio_acf_stage(
    df: DataFrame, id_col: str = "image_id", bytes_col: str = "bytes"
) -> DataFrame:
    """Autocorrelation lag products — the periodicity / pitch-presence
    screen next to the WHT spectrum (a voiced or tonal clip has large
    positive ACF at its period's lags; white noise decays to ~0;
    a constant DC clip is removed by centering): for each lag L in
    ACF_LAGS, the EXACT integer lag product

        acf{L} = Σ_k s_k · s_{k+L}    (s = pcm − 128, full clip)

    plus acf0 = Σ s² (the normalizer, = audio_stats' energy — pinning
    the two stages against each other).  Clips shorter than
    max(lag)+1 samples emit NULL for the lags they can't support.
    Map-only, equal-shape Arrow batch stacks; the twin spells the same
    shifted LCG taps."""
    fields = [f"{c} {ty}" for c, ty in df.dtypes]
    out_schema = ", ".join(
        fields + ["acf0 bigint"] + [f"acf{lg} bigint" for lg in ACF_LAGS]
    )

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            cols = {
                k: np.full(n, np.nan, dtype=object)
                for k in ["acf0"] + [f"acf{lg}" for lg in ACF_LAGS]
            }
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                if L == 0:
                    continue
                s = (
                    np.frombuffer(b"".join(payloads[k] for k in ii), dtype=np.uint8)
                    .reshape(len(ii), L)
                    .astype(np.int64)
                    - 128
                )
                cols["acf0"][ii] = (s * s).sum(axis=1)
                for lg in ACF_LAGS:
                    if L > lg:
                        cols[f"acf{lg}"][ii] = (
                            s[:, :-lg] * s[:, lg:]
                        ).sum(axis=1)
            yield pdf.assign(
                **{k: pd.array(a, dtype="Int64") for k, a in cols.items()}
            )

    return df.mapInPandas(stage, out_schema)


def morphology_stage(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """3x3 grayscale morphology — erosion (window min) and dilation
    (window max), the opening/closing building blocks every binary-mask
    and watermark-cleanup pipeline starts from (cv2.erode/cv2.dilate
    with the full 3x3 structuring element). Min/max of 9 ints are exact
    order statistics like the median filter's, so the eroded and
    dilated fields reproduce bit-for-bit in SQL.

    Emits per image:
    - ``ero_sum`` / ``dil_sum``: Σ erosion / Σ dilation over interior
      pixels (ero_sum <= raw interior sum <= dil_sum always);
    - ``mg_nz``: count of interior pixels whose morphological gradient
      (dilation − erosion, the classic edge detector) is non-zero —
      zero exactly on locally-flat windows, so mg_nz is the non-flat
      texture mass.

    Images thinner than 3 px have no interior: zeros. Map-only,
    equal-shape batch stacks; the window extrema are axis reductions
    on the [chunk, h-2, w-2, 9] tensor (median_filter_stage's shape)."""
    fields = [f"{c} {t}" for c, t in df.dtypes]
    out_schema = ", ".join(
        fields + ["ero_sum bigint", "dil_sum bigint", "mg_nz bigint"]
    )

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            es = np.zeros(n, dtype=np.int64)
            ds = np.zeros(n, dtype=np.int64)
            mg = np.zeros(n, dtype=np.int64)
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                if h < 3 or w < 3:
                    continue
                px = (
                    _decode_stack(list(payloads[ii]), L, w, h)
                    .astype(np.int64)
                    .reshape(len(ii), h, w)
                )
                neigh = np.stack(
                    [
                        px[:, dy : h - 2 + dy, dx : w - 2 + dx]
                        for dy in range(3)
                        for dx in range(3)
                    ],
                    axis=-1,
                )
                ero = neigh.min(axis=-1)
                dil = neigh.max(axis=-1)
                es[ii] = ero.sum(axis=(1, 2))
                ds[ii] = dil.sum(axis=(1, 2))
                mg[ii] = (dil > ero).sum(axis=(1, 2))
            yield pdf.assign(ero_sum=es, dil_sum=ds, mg_nz=mg)

    return df.mapInPandas(stage, out_schema)


# LBP neighbor ring, clockwise from the top-left corner: bit i set when
# neighbor i >= center (ties INSIDE, the standard LBP convention). The
# order is part of the operator contract — the uniform-pattern test
# walks consecutive ring positions, so a reordering changes which codes
# count as uniform.
LBP_RING = [(-1, -1), (-1, 0), (-1, 1), (0, 1), (1, 1), (1, 0), (1, -1), (0, -1)]


def lbp_stage(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Local Binary Patterns (Ojala et al.) — the classic texture
    descriptor a quality screen uses to separate natural texture from
    synthetic/flat renders: per interior pixel the 8-bit code
    Σ 2^i · [neighbor_i >= center] over the clockwise ring LBP_RING.
    Pure integer comparisons, so every code reproduces bit-for-bit in
    SQL from the same 8 neighbor taps.

    Emits per image:
    - ``lbp_sum``: Σ code over interior pixels — pins all eight
      comparison planes with position-independent weights 2^i (a
      flipped or rotated ring changes the weighting and breaks it);
    - ``lbp_uni``: count of UNIFORM codes — at most 2 circular 0↔1
      transitions around the ring (the 58 patterns that carry ~90% of
      natural-texture mass; flat, edge, corner and line-end
      micro-shapes). The uniform fraction lbp_uni / interior is the
      texture-quality statistic.

    Images thinner than 3 px have no interior: zeros. Map-only over
    equal-shape batch stacks; the 8 comparison planes are boolean
    tensors on the median-filter window slices."""
    fields = [f"{c} {t}" for c, t in df.dtypes]
    out_schema = ", ".join(fields + ["lbp_sum bigint", "lbp_uni bigint"])

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            ls = np.zeros(n, dtype=np.int64)
            lu = np.zeros(n, dtype=np.int64)
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                if h < 3 or w < 3:
                    continue
                px = (
                    _decode_stack(list(payloads[ii]), L, w, h)
                    .astype(np.int64)
                    .reshape(len(ii), h, w)
                )
                ctr = px[:, 1:-1, 1:-1]
                bits = [
                    px[:, 1 + dy : h - 1 + dy, 1 + dx : w - 1 + dx] >= ctr
                    for dy, dx in LBP_RING
                ]
                code = np.zeros_like(ctr)
                for i, b in enumerate(bits):
                    code += b.astype(np.int64) << i
                trans = np.zeros_like(ctr)
                for i in range(8):
                    trans += (bits[i] != bits[(i + 1) % 8]).astype(np.int64)
                ls[ii] = code.sum(axis=(1, 2))
                lu[ii] = (trans <= 2).sum(axis=(1, 2))
            yield pdf.assign(lbp_sum=ls, lbp_uni=lu)

    return df.mapInPandas(stage, out_schema)


#: LCM(1..16) — the homogeneity denominator 1 + |i - j| for 16 gray
#: levels always divides it, so the quantized homogeneity weight
#: GLCM_HOMOG_K // (1 + |i-j|) is EXACT (no per-cell float division)
GLCM_HOMOG_K = 720_720


def glcm_stage(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Gray-Level Co-occurrence Matrix texture statistics (Haralick) —
    the second-order texture screen next to LBP's micro-patterns: pixel
    values quantize to 16 levels (v >> 4) and every horizontal
    neighbor pair (p, east(p)) increments cell (level(p), level(east))
    of the per-image 16x16 co-occurrence matrix N.  Emits the classic
    Haralick statistics in EXACT integers:

    - ``glcm_n``:        total pairs = (w-1)·h — pins the pair domain;
    - ``glcm_contrast``: Σ N_ij·(i-j)²   — local variation mass;
    - ``glcm_energy``:   Σ N_ij²         — uniformity (angular second
      moment numerator; peaked matrices = synthetic/flat content);
    - ``glcm_homog``:    Σ N_ij·(GLCM_HOMOG_K // (1+|i-j|)) — inverse
      difference moment with the float 1/(1+|i-j|) quantized through
      the exact LCM(1..16) weight, so the statistic is an integer both
      engines agree on bit-for-bit;
    - ``glcm_nz``:       occupied cells — matrix sparsity.

    The unnormalized (count, not probability) forms are deliberate:
    dividing by glcm_n is a consumer-side float; the gate pins the
    integer state behind it.  Images with w < 2 have no pairs: all
    zeros.  Map-only over equal-shape batch stacks, one 256-bin
    offset-bincount per stack (the otsu kernel's trick), zero shuffle."""
    fields = [f"{c} {t}" for c, t in df.dtypes]
    out_schema = ", ".join(
        fields
        + [
            "glcm_n bigint",
            "glcm_contrast bigint",
            "glcm_energy bigint",
            "glcm_homog bigint",
            "glcm_nz bigint",
        ]
    )
    lvl = np.arange(256, dtype=np.int64)
    d = lvl // 16 - lvl % 16
    w_contrast = d * d
    w_homog = GLCM_HOMOG_K // (1 + np.abs(d))

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            gn = np.zeros(n, dtype=np.int64)
            gc = np.zeros(n, dtype=np.int64)
            ge = np.zeros(n, dtype=np.int64)
            gh = np.zeros(n, dtype=np.int64)
            gz = np.zeros(n, dtype=np.int64)
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                if w < 2 or h < 1:
                    continue
                px = (
                    _decode_stack(list(payloads[ii]), L, w, h)
                    .astype(np.int64)
                    .reshape(len(ii), h, w)
                )
                q = px >> 4
                code = q[:, :, :-1] * 16 + q[:, :, 1:]
                flat = (
                    np.arange(len(ii), dtype=np.int64)[:, None, None] * 256
                    + code
                ).ravel()
                counts = np.bincount(flat, minlength=len(ii) * 256).reshape(
                    len(ii), 256
                )
                gn[ii] = counts.sum(axis=1)
                gc[ii] = (counts * w_contrast).sum(axis=1)
                ge[ii] = (counts * counts).sum(axis=1)
                gh[ii] = (counts * w_homog).sum(axis=1)
                gz[ii] = (counts > 0).sum(axis=1)
            yield pdf.assign(
                glcm_n=gn,
                glcm_contrast=gc,
                glcm_energy=ge,
                glcm_homog=gh,
                glcm_nz=gz,
            )

    return df.mapInPandas(stage, out_schema)


#: raw spatial moments stay exact in int64 up to this square size:
#: m20 <= 255 * h * Σ x² < 255 * 4096 * 4096³/3 ≈ 2.4e16 < 2^63
MOMENTS_MAX_DIM = 4096


def moments_stage(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Raw spatial image moments (the Hu-moment / shape-orientation
    front end): per image the six intensity-weighted sums

        m00 = Σ v,    m10 = Σ x·v,   m01 = Σ y·v,
        m20 = Σ x²·v, m02 = Σ y²·v,  m11 = Σ x·y·v

    over pixel value v at column x, row y — the statistics behind the
    intensity centroid (m10/m00, m01/m00), the central second moments
    and the principal-axis orientation a vision pipeline derives from
    them.  All exact int64 (safe through ``MOMENTS_MAX_DIM``-square
    images — a larger side raises rather than silently wrapping).

    DELIBERATELY emits only the raw moments: the central-moment
    products m00·m20 − m10² pass 2^63 even for 256² images, so that
    arithmetic belongs in the engines' exact wide types —
    decimal(38,0) on Spark, HUGEINT in the DuckDB twin — with one
    shared spelling (see the multimodal gate row), not in a numpy
    kernel that would need object dtype.  Map-only over equal-shape
    batch stacks; the coordinate weight planes are computed once per
    stack shape.  Empty images emit all zeros."""
    fields = [f"{c} {t}" for c, t in df.dtypes]
    out_schema = ", ".join(
        fields
        + [f"im_{m} bigint" for m in ("m00", "m10", "m01", "m20", "m02", "m11")]
    )

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            out = {m: np.zeros(n, dtype=np.int64)
                   for m in ("m00", "m10", "m01", "m20", "m02", "m11")}
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                if w > MOMENTS_MAX_DIM or h > MOMENTS_MAX_DIM:
                    raise ValueError(
                        f"moments_stage: {w}x{h} exceeds MOMENTS_MAX_DIM="
                        f"{MOMENTS_MAX_DIM}; raw moments would overflow int64"
                    )
                if w == 0 or h == 0:
                    continue
                px = (
                    _decode_stack(list(payloads[ii]), L, w, h)
                    .astype(np.int64)
                    .reshape(len(ii), h, w)
                )
                xs = np.arange(w, dtype=np.int64)[None, None, :]
                ys = np.arange(h, dtype=np.int64)[None, :, None]
                out["m00"][ii] = px.sum(axis=(1, 2))
                out["m10"][ii] = (px * xs).sum(axis=(1, 2))
                out["m01"][ii] = (px * ys).sum(axis=(1, 2))
                out["m20"][ii] = (px * xs * xs).sum(axis=(1, 2))
                out["m02"][ii] = (px * ys * ys).sum(axis=(1, 2))
                out["m11"][ii] = (px * xs * ys).sum(axis=(1, 2))
            yield pdf.assign(**{f"im_{m}": v for m, v in out.items()})

    return df.mapInPandas(stage, out_schema)


def nms_stage(
    df: DataFrame, edge_sq_min: int = 200_000, bytes_col: str = "bytes"
) -> DataFrame:
    """Gradient non-maximum suppression — Canny's edge-THINNING step
    over the Sobel field: a pixel survives iff its squared magnitude
    clears ``edge_sq_min`` AND is >= both neighbors along the
    quantized gradient direction.  The classic 4-direction binning
    (nearest of 0/45/90/135 deg, boundaries at +-22.5 deg) is EXACT in
    integers via the half-angle identity

        |gy| <= tan(22.5deg)·|gx|  <=>  (|gx| + |gy|)^2 <= 2·gx^2

    (tan 22.5 = sqrt(2) - 1), so no irrational boundary is ever
    evaluated — and since sqrt(2) is irrational, equality is
    impossible for nonzero ints: the binning is TIE-FREE.  The 45-deg
    boundary (|gx| = |gy|) fails both axis tests and lands in the
    diagonal bin, sign(gx·gy) picking which one.  Neighbors outside
    the interior gradient domain count as magnitude 0; the >= keep
    rule makes plateau pixels all survive (documented contract).

    Emits per image: ``nms_n`` (surviving pixels), ``nms_sq_sum``
    (their magnitude mass) and ``nms_wpos`` (position-weighted
    Σ (r·4096 + c + 1) — a shifted edge map breaks the gate even when
    the count is right).  Map-only over equal-shape stacks; all exact
    int64."""
    fields = [f"{c} {t}" for c, t in df.dtypes]
    out_schema = ", ".join(
        fields + ["nms_n bigint", "nms_sq_sum bigint", "nms_wpos bigint"]
    )
    thr = int(edge_sq_min)

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            nn = np.zeros(n, dtype=np.int64)
            ns = np.zeros(n, dtype=np.int64)
            nw = np.zeros(n, dtype=np.int64)
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                if h < 3 or w < 3:
                    continue
                px = (
                    _decode_stack(list(payloads[ii]), L, w, h)
                    .astype(np.int64)
                    .reshape(len(ii), h, w)
                )
                tl, tc, tr = px[:, :-2, :-2], px[:, :-2, 1:-1], px[:, :-2, 2:]
                ml, mr = px[:, 1:-1, :-2], px[:, 1:-1, 2:]
                bl, bc, br = px[:, 2:, :-2], px[:, 2:, 1:-1], px[:, 2:, 2:]
                gx = (tr + 2 * mr + br) - (tl + 2 * ml + bl)
                gy = (bl + 2 * bc + br) - (tl + 2 * tc + tr)
                sq = gx * gx + gy * gy
                # zero-padded magnitude plane: rim neighbors count as 0
                pad = np.zeros((len(ii), h, w), dtype=np.int64)
                pad[:, 1:-1, 1:-1] = sq
                ih, iw = h - 2, w - 2

                def nb(dy, dx):
                    return pad[:, 1 + dy : 1 + dy + ih, 1 + dx : 1 + dx + iw]

                ax, ay = np.abs(gx), np.abs(gy)
                s2 = (ax + ay) * (ax + ay)
                horiz = s2 <= 2 * gx * gx
                vert = (~horiz) & (s2 <= 2 * gy * gy)
                diag1 = (~horiz) & (~vert) & (gx * gy > 0)
                diag2 = (~horiz) & (~vert) & (gx * gy < 0)
                n1 = np.where(
                    horiz, nb(0, -1),
                    np.where(vert, nb(-1, 0),
                             np.where(diag1, nb(-1, -1), nb(-1, 1))),
                )
                n2 = np.where(
                    horiz, nb(0, 1),
                    np.where(vert, nb(1, 0),
                             np.where(diag1, nb(1, 1), nb(1, -1))),
                )
                keep = (sq >= thr) & (sq >= n1) & (sq >= n2)
                rr = np.arange(1, h - 1, dtype=np.int64)[None, :, None]
                cc = np.arange(1, w - 1, dtype=np.int64)[None, None, :]
                wgt = rr * 4096 + cc + 1
                nn[ii] = keep.sum(axis=(1, 2))
                ns[ii] = np.where(keep, sq, 0).sum(axis=(1, 2))
                nw[ii] = np.where(keep, wgt, 0).sum(axis=(1, 2))
            yield pdf.assign(nms_n=nn, nms_sq_sum=ns, nms_wpos=nw)

    return df.mapInPandas(stage, out_schema)


def euler_stage(
    df: DataFrame, fg_min: int = 128, bytes_col: str = "bytes"
) -> DataFrame:
    """Euler characteristic of the thresholded image (Gray 1971) — the
    object-counting screen: chi = #components - #holes, computed
    PURELY LOCALLY from 2x2 window pattern counts over the zero-padded
    foreground mask (pixels >= ``fg_min``), so it needs no labeling,
    no reachability and no iteration:

        Q1 = windows with exactly one fg pixel
        Q3 = windows with exactly three
        Qd = diagonal windows (two fg pixels corner-to-corner)

        chi_4 = (Q1 - Q3 + 2*Qd) / 4     (4-connected objects,
                                          8-connected background)
        chi_8 = (Q1 - Q3 - 2*Qd) / 4     (the dual)

    Both divisions are exact by the padded-border convention (the mask
    is an island in a sea of zeros).  Emits the three raw pattern
    counts (pinning the full quad census) plus both chi values, all
    exact int64; map-only over equal-shape stacks."""
    fields = [f"{c} {t}" for c, t in df.dtypes]
    out_schema = ", ".join(
        fields
        + ["eu_q1 bigint", "eu_q3 bigint", "eu_qd bigint",
           "eu_chi4 bigint", "eu_chi8 bigint"]
    )
    thr = int(fg_min)

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            q1 = np.zeros(n, dtype=np.int64)
            q3 = np.zeros(n, dtype=np.int64)
            qd = np.zeros(n, dtype=np.int64)
            c4 = np.zeros(n, dtype=np.int64)
            c8 = np.zeros(n, dtype=np.int64)
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                if w == 0 or h == 0:
                    continue
                px = (
                    _decode_stack(list(payloads[ii]), L, w, h)
                    .astype(np.int64)
                    .reshape(len(ii), h, w)
                )
                b = np.zeros((len(ii), h + 2, w + 2), dtype=np.int64)
                b[:, 1:-1, 1:-1] = (px >= thr).astype(np.int64)
                tl = b[:, :-1, :-1]
                tr = b[:, :-1, 1:]
                bl = b[:, 1:, :-1]
                br = b[:, 1:, 1:]
                s = tl + tr + bl + br
                q1[ii] = (s == 1).sum(axis=(1, 2))
                q3[ii] = (s == 3).sum(axis=(1, 2))
                diag = (s == 2) & (tl == br) & (tr == bl) & (tl != tr)
                qd[ii] = diag.sum(axis=(1, 2))
                c4[ii] = (q1[ii] - q3[ii] + 2 * qd[ii]) // 4
                c8[ii] = (q1[ii] - q3[ii] - 2 * qd[ii]) // 4
            yield pdf.assign(
                eu_q1=q1, eu_q3=q3, eu_qd=qd, eu_chi4=c4, eu_chi8=c8
            )

    return df.mapInPandas(stage, out_schema)


DCT_SCALE_BITS = 14  # |C| <= 2^14: 32x32 two-sided products stay < 2^47


def dct_basis(n: int = 32, scale_bits: int = DCT_SCALE_BITS) -> list:
    """Fixed-point DCT-II basis C[k][n] = round(cos(pi*(2n+1)k/2N) * 2^s)
    as plain python ints — computed ONCE here and shared by the numpy
    stage AND the SQL twin generator, so both engines work from the
    IDENTICAL integer table (the float cos is rounded exactly once, at
    table build, never per engine)."""
    import math

    s = 1 << scale_bits
    return [
        [int(round(math.cos(math.pi * (2 * j + 1) * k / (2 * n)) * s)) for j in range(n)]
        for k in range(n)
    ]


def phash_dct_stage(
    df: DataFrame, bytes_col: str = "bytes", out_col: str = "phash_dct"
) -> DataFrame:
    """DCT perceptual hash (the classic pHash construction — the
    producer of the input-hint's ``phash:int64`` column) computed FROM
    PIXELS, exact-integer end to end: decode (fake codec) -> 32x32
    nearest-neighbor grid (the resize_stage index formula, so the hash
    is EXACTLY invariant under the engine's own resize) -> fixed-point
    2-D DCT-II  D = C·P·Cᵀ  with the shared integer basis
    (:func:`dct_basis`; products bounded < 2^47, int64-safe) -> the
    8x8 low-frequency block, DC excluded -> strict threshold against
    the LOWER MEDIAN (32nd smallest of the 63 AC coefficients, an
    exact order statistic) -> 64 packed sign bits (DC bit = 0).

    Completes the aHash (brightness) / dHash (gradient) pair with the
    frequency-domain member; all three band through
    dedup.hamming_near_pairs.  Map-only mapInPandas over equal-shape
    batch stacks, zero shuffle, bit-for-bit reproducible in SQL."""
    fields = [f"{c} {t}" for c, t in df.dtypes]
    out_schema = ", ".join(fields + [f"{out_col} bigint"])
    C = np.array(dct_basis(), dtype=np.int64)  # (32, 32)

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            out = np.zeros(n, dtype=np.int64)
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                if w * h == 0:
                    out[ii] = 0
                    continue
                px = _decode_stack(list(payloads[ii]), L, w, h)
                r = np.arange(32)
                k = ((r[:, None] * h) // 32 * w + (r[None, :] * w) // 32).ravel()
                smp = px[:, k].astype(np.int64).reshape(-1, 32, 32)
                d = C[None] @ smp @ C.T[None]  # (m, 32, 32) exact int64
                vals = d[:, :8, :8].reshape(-1, 64)[:, 1:]  # AC, order k*8+l
                med = np.sort(vals, axis=1)[:, 31:32]  # lower median
                bits = (vals > med).astype(np.uint64)
                pos = np.arange(1, 64, dtype=np.uint64)
                packed = (bits << pos).sum(axis=1, dtype=np.uint64)
                out[ii] = packed.view(np.int64)
            yield pdf.assign(**{out_col: out})

    return df.mapInPandas(stage, out_schema)


#: 4x4 Bayer index matrix (row-major, B4[y][x]) — the recursive
#: construction 4*B2[y%2][x%2] + B2[y//2][x//2], B2 = [[0,2],[3,1]].
BAYER4 = np.array(
    [[0, 8, 2, 10], [12, 4, 14, 6], [3, 11, 1, 9], [15, 7, 13, 5]],
    dtype=np.int64,
)


def dither_stage(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Ordered (Bayer 4×4) dithering census — the classic 1-bit
    halftone a thumbnail/e-ink/preview pipeline applies, reduced to
    its exact decision core: pixel (x, y) lights iff

        v > BAYER4[y%4][x%4] * 16 + 8

    (the +8 centers the 16-level thresholds inside the byte range; the
    strict > makes boundary behaviour engine-exact).  Per image:

    - ``dth_n``    = lit pixels (the halftone's ink mass),
    - ``dth_t``    = horizontal transitions of the dithered bitmap
      (halftone granularity — ordered dithering trades banding for
      exactly this high transition rate),
    - ``dth_wsum`` = Σ over lit pixels of (k+1), k = y·w + x — pins
      the exact bitmap, not just its mass.

    Map-only, equal-shape Arrow batch stacks, zero shuffle; the twin
    rebuilds BAYER4 arithmetically from the recursive 2×2 formula over
    the same LCG pixels."""
    fields = [f"{c} {ty}" for c, ty in df.dtypes]
    out_schema = ", ".join(
        fields + ["dth_n bigint", "dth_t bigint", "dth_wsum bigint"]
    )

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            dn = np.zeros(n, dtype=np.int64)
            dt = np.zeros(n, dtype=np.int64)
            dw = np.zeros(n, dtype=np.int64)
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                if w == 0 or h == 0:
                    continue
                px = (
                    _decode_stack(list(payloads[ii]), L, w, h)
                    .astype(np.int64)
                    .reshape(len(ii), h, w)
                )
                thr = (
                    BAYER4[np.arange(h)[:, None] % 4, np.arange(w)[None, :] % 4]
                    * 16
                    + 8
                )
                bit = (px > thr[None, :, :]).astype(np.int64)
                dn[ii] = bit.sum(axis=(1, 2))
                if w >= 2:
                    dt[ii] = (bit[:, :, 1:] ^ bit[:, :, :-1]).sum(axis=(1, 2))
                kk = (
                    np.arange(h)[:, None] * w + np.arange(w)[None, :] + 1
                ).astype(np.int64)
                dw[ii] = (bit * kk[None, :, :]).sum(axis=(1, 2))
            yield pdf.assign(dth_n=dn, dth_t=dt, dth_wsum=dw)

    return df.mapInPandas(stage, out_schema)


def segmetrics_stage(
    df: DataFrame,
    bytes_col: str = "bytes",
    gt_thr: int = 128,
    pred_thr: int = 120,
    pred_mul: int = 1,
    pred_mod: int = 256,
) -> DataFrame:
    """Binary-segmentation evaluation census — the mask-quality
    metrics (pixel confusion matrix + mean IoU) a segmentation
    pipeline computes per image, over the deterministic decoded
    pixels: GT mask = px >= ``gt_thr``, predicted mask =
    (px · ``pred_mul``) % ``pred_mod`` >= ``pred_thr`` (default mod 256
    = identity on byte pixels) — with
    pred_mul = 1 the band between the thresholds is a pure
    false-positive boundary disagreement; with a scrambling multiplier
    (e.g. 7) the predictor is imperfect in BOTH directions and every
    confusion cell populates.  Emits exact int64
    ``sg_tp, sg_fp, sg_fn`` (tn = w·h − the rest) and the mean IoU as
    CANONICAL reduced digits ``sg_miou_num/sg_miou_den``:

        mIoU = (tp/(tp+fp+fn) + tn/(tn+fn+fp)) / 2

    — exact rational (Fraction), engine-identical; an image with an
    empty union on either class uses the convention IoU = 1 for that
    class (nothing to segment, nothing wrong).

    Map-only, equal-shape Arrow batch stacks, zero shuffle; the twin
    recomputes the confusion cells from the LCG formula and reduces
    the same fraction with gcd."""
    from fractions import Fraction

    fields = [f"{c} {ty}" for c, ty in df.dtypes]
    out_schema = ", ".join(
        fields
        + ["sg_tp bigint", "sg_fp bigint", "sg_fn bigint",
           "sg_miou_num string", "sg_miou_den string"]
    )

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            tp = np.zeros(n, dtype=np.int64)
            fp = np.zeros(n, dtype=np.int64)
            fn = np.zeros(n, dtype=np.int64)
            nums = np.empty(n, dtype=object)
            dens = np.empty(n, dtype=object)
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                if w == 0 or h == 0:
                    continue
                px = _decode_stack(list(payloads[ii]), L, w, h).astype(np.int64)
                g = px >= gt_thr
                p = (px * pred_mul) % pred_mod >= pred_thr
                tp[ii] = (g & p).sum(axis=1)
                fp[ii] = (~g & p).sum(axis=1)
                fn[ii] = (g & ~p).sum(axis=1)
            total = (
                pdf["w"].to_numpy(dtype=np.int64)
                * pdf["h"].to_numpy(dtype=np.int64)
            )
            for r in range(n):
                tn = int(total[r]) - int(tp[r]) - int(fp[r]) - int(fn[r])
                ufg = int(tp[r]) + int(fp[r]) + int(fn[r])
                ubg = tn + int(fp[r]) + int(fn[r])
                ifg = Fraction(int(tp[r]), ufg) if ufg else Fraction(1)
                ibg = Fraction(tn, ubg) if ubg else Fraction(1)
                m = (ifg + ibg) / 2
                nums[r] = str(m.numerator)
                dens[r] = str(m.denominator)
            yield pdf.assign(
                sg_tp=tp, sg_fp=fp, sg_fn=fn,
                sg_miou_num=nums, sg_miou_den=dens,
            )

    return df.mapInPandas(stage, out_schema)


def ssim_stage(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Global SSIM moments vs the 3×3-median denoise — the structural
    image-quality metric next to PSNR (Wang '04), in the repo's
    exact-integer discipline: the stage emits ONLY the integer moment
    sums over interior pixels (x = center, y = its exact 3×3 median)

        ssim_n, ssim_sx, ssim_sy, ssim_sx2, ssim_sy2, ssim_sxy

    and the query layer computes the (single-window, global) SSIM

        ((2μxμy + c1)(2cov + c2)) / ((μx² + μy² + c1)(σx² + σy² + c2))

    with the SAME spelled float tree on both engines (the lap_var
    precedent) — c1 = (0.01·255)², c2 = (0.03·255)².  An image whose
    median equals itself everywhere (smooth) scores 1; impulse noise
    drops cov and the score.  Images thinner than 3 px emit zeros
    (n = 0 ⇒ SSIM null at the query layer).

    Map-only, equal-shape Arrow batch stacks, zero shuffle."""
    fields = [f"{c} {t}" for c, t in df.dtypes]
    cols = ["ssim_n", "ssim_sx", "ssim_sy", "ssim_sx2", "ssim_sy2", "ssim_sxy"]
    out_schema = ", ".join(fields + [f"{c} bigint" for c in cols])

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            acc = {c: np.zeros(n, dtype=np.int64) for c in cols}
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for ii, L, w, h in _shape_groups(pdf, bytes_col):
                if h < 3 or w < 3:
                    continue
                px = (
                    _decode_stack(list(payloads[ii]), L, w, h)
                    .astype(np.int64)
                    .reshape(len(ii), h, w)
                )
                neigh = np.stack(
                    [
                        px[:, dy : h - 2 + dy, dx : w - 2 + dx]
                        for dy in range(3)
                        for dx in range(3)
                    ],
                    axis=-1,
                )
                med = np.partition(neigh, 4, axis=-1)[..., 4]
                ctr = px[:, 1:-1, 1:-1]
                acc["ssim_n"][ii] = ctr.shape[1] * ctr.shape[2]
                acc["ssim_sx"][ii] = ctr.sum(axis=(1, 2))
                acc["ssim_sy"][ii] = med.sum(axis=(1, 2))
                acc["ssim_sx2"][ii] = (ctr * ctr).sum(axis=(1, 2))
                acc["ssim_sy2"][ii] = (med * med).sum(axis=(1, 2))
                acc["ssim_sxy"][ii] = (ctr * med).sum(axis=(1, 2))
            yield pdf.assign(**acc)

    return df.mapInPandas(stage, out_schema)


def ssim_expr(n, sx, sy, sx2, sy2, sxy):
    """The shared SSIM float tree over the integer moments — spelled
    ONCE for Spark; ``sql_ssim_expr`` is the character-identical
    DuckDB twin.  Population statistics, single global window."""
    from pyspark.sql import functions as F

    nn = n.cast("double")
    mx = sx.cast("double") / nn
    my = sy.cast("double") / nn
    vx = sx2.cast("double") / nn - mx * mx
    vy = sy2.cast("double") / nn - my * my
    cv = sxy.cast("double") / nn - mx * my
    c1, c2 = 6.5025, 58.5225
    num = (2.0 * mx * my + F.lit(c1)) * (2.0 * cv + F.lit(c2))
    den = (mx * mx + my * my + F.lit(c1)) * (vx + vy + F.lit(c2))
    return F.when(n > 0, num / den)


def sql_ssim_expr(n: str, sx: str, sy: str, sx2: str, sy2: str, sxy: str) -> str:
    return (
        f"CASE WHEN {n} > 0 THEN "
        f"((2.0 * (CAST({sx} AS DOUBLE) / CAST({n} AS DOUBLE))"
        f" * (CAST({sy} AS DOUBLE) / CAST({n} AS DOUBLE)) + 6.5025)"
        f" * (2.0 * (CAST({sxy} AS DOUBLE) / CAST({n} AS DOUBLE)"
        f" - (CAST({sx} AS DOUBLE) / CAST({n} AS DOUBLE))"
        f" * (CAST({sy} AS DOUBLE) / CAST({n} AS DOUBLE))) + 58.5225))"
        f" / (((CAST({sx} AS DOUBLE) / CAST({n} AS DOUBLE))"
        f" * (CAST({sx} AS DOUBLE) / CAST({n} AS DOUBLE))"
        f" + (CAST({sy} AS DOUBLE) / CAST({n} AS DOUBLE))"
        f" * (CAST({sy} AS DOUBLE) / CAST({n} AS DOUBLE)) + 6.5025)"
        f" * ((CAST({sx2} AS DOUBLE) / CAST({n} AS DOUBLE)"
        f" - (CAST({sx} AS DOUBLE) / CAST({n} AS DOUBLE))"
        f" * (CAST({sx} AS DOUBLE) / CAST({n} AS DOUBLE)))"
        f" + (CAST({sy2} AS DOUBLE) / CAST({n} AS DOUBLE)"
        f" - (CAST({sy} AS DOUBLE) / CAST({n} AS DOUBLE))"
        f" * (CAST({sy} AS DOUBLE) / CAST({n} AS DOUBLE))) + 58.5225)) END"
    )
