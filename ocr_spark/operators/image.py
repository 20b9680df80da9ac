"""Image preprocessing / noise operators (SURVEY.md §2.8 I1–I10) as
Arrow-batched UDFs over binary image columns.

The reference runs OpenCV per document (ocr_service.py:237-288,
noise_handler.py:81-360). Here every operator is a vectorized
``mapInPandas`` stage over a `binary` image column carrying raw grayscale
bytes + (width, height) metadata — the canonical multimodal-column shape.
The math is pure numpy (this container has no cv2/PIL):

- I1  decode            bytes → HxW uint8 array (shape from metadata;
                        bad/truncated bytes → white 100x100 stub,
                        ocr_service.py:230-235 behavior)
- I2  preprocess        contrast-scale (α=1.2, β=10, saturating — cv2
                        convertScaleAbs) → 3x3 Gaussian blur → Otsu
                        threshold → invert-if-dark (ocr_service.py:237-288)
- I7  noise_level       std(gray)/255 clamped to 1 (noise_handler.py:186-211)
- I8  noise_stats       level, mean, contrast=std/mean, shape, pixels
                        (noise_handler.py:327-360)
- I9  sharpen           3x3 kernel [[0,-1,0],[-1,5,-1],[0,-1,0]]
                        (noise_handler.py:288-305)

True codec decode (JPEG/PNG) needs PIL/cv2 and is stubbed behind
``real_decode_stub`` in operators/media.py; everything downstream of the
decoded array — schema, batching, partitioning — is real and tested.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

GAUSS_3X3 = np.array([[1, 2, 1], [2, 4, 2], [1, 2, 1]], dtype=np.float64) / 16.0
SHARPEN_3X3 = np.array([[0, -1, 0], [-1, 5, -1], [0, -1, 0]], dtype=np.float64)

STATS_SCHEMA = (
    "image_id long, noise_level double, mean_intensity double, contrast double, "
    "height int, width int, pixel_count long"
)
PROCESSED_SCHEMA = "image_id long, data binary, width int, height int"


# --- decode (I1) ------------------------------------------------------------


def decode_gray(data: bytes | None, width: int, height: int) -> np.ndarray:
    """bytes → HxW uint8; failure → 100x100 white stub (ocr_service.py:230)."""
    if data is None or width <= 0 or height <= 0 or len(data) != width * height:
        return np.full((100, 100), 255, dtype=np.uint8)
    return np.frombuffer(data, dtype=np.uint8).reshape(height, width)


# --- kernels ----------------------------------------------------------------


def conv2d_replicate(img: np.ndarray, kernel: np.ndarray) -> np.ndarray:
    """3x3 convolution with edge replication (cv2 BORDER_REPLICATE)."""
    p = np.pad(img.astype(np.float64), 1, mode="edge")
    out = np.zeros_like(img, dtype=np.float64)
    for dy in range(3):
        for dx in range(3):
            out += kernel[dy, dx] * p[dy : dy + img.shape[0], dx : dx + img.shape[1]]
    return out


def contrast_scale(img: np.ndarray, alpha: float = 1.2, beta: float = 10.0) -> np.ndarray:
    """cv2.convertScaleAbs: saturating |α·x + β| rounded half-away."""
    v = np.abs(alpha * img.astype(np.float64) + beta)
    return np.clip(np.floor(v + 0.5), 0, 255).astype(np.uint8)


def otsu_threshold(img: np.ndarray) -> int:
    """Classic Otsu over the 256-bin histogram; returns the threshold."""
    hist = np.bincount(img.ravel(), minlength=256).astype(np.float64)
    total = img.size
    sum_all = (np.arange(256) * hist).sum()
    sum_b = 0.0
    w_b = 0.0
    best, best_t = -1.0, 0
    for t in range(256):
        w_b += hist[t]
        if w_b == 0:
            continue
        w_f = total - w_b
        if w_f == 0:
            break
        sum_b += t * hist[t]
        m_b = sum_b / w_b
        m_f = (sum_all - sum_b) / w_f
        var = w_b * w_f * (m_b - m_f) ** 2
        if var > best:
            best, best_t = var, t
    return best_t


def _lanczos_weights(dst_len: int, src_len: int, a: int = 4):
    """Separable Lanczos-a tap indices/weights, cv2 pixel-center mapping
    (src = (dst + 0.5) * src/dst - 0.5, taps clamped at the border)."""
    scale = src_len / dst_len
    xs = (np.arange(dst_len, dtype=np.float64) + 0.5) * scale - 0.5
    i0 = np.floor(xs).astype(np.int64)
    offs = np.arange(-a + 1, a + 1)
    idx = i0[:, None] + offs[None, :]
    x = xs[:, None] - idx
    w = np.sinc(x) * np.sinc(x / a)
    w[np.abs(x) >= a] = 0.0
    w /= w.sum(axis=1, keepdims=True)
    return np.clip(idx, 0, src_len - 1), w


def lanczos_resize(img: np.ndarray, new_h: int, new_w: int) -> np.ndarray:
    """cv2.resize(..., INTER_LANCZOS4) analog (a=4, separable, float64).
    cv2 is absent in this environment, so this numpy form is the engine's
    definition of the resample — deterministic, pytest-goldened."""
    iy, wy = _lanczos_weights(new_h, img.shape[0])
    ix, wx = _lanczos_weights(new_w, img.shape[1])
    tmp = (img.astype(np.float64)[iy, :] * wy[:, :, None]).sum(axis=1)
    out = (tmp[:, ix] * wx[None, :, :]).sum(axis=2)
    return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8)


def upscale_floor(img: np.ndarray, floor: int = 3000) -> np.ndarray:
    """ocr_service.py:256-262: if either side < floor, Lanczos-upscale by
    max(floor/h, floor/w) so the SMALLER side reaches the floor."""
    h, w = img.shape
    if h >= floor and w >= floor:
        return img
    scale = max(floor / h, floor / w)
    return lanczos_resize(img, int(h * scale), int(w * scale))


def preprocess_array(img: np.ndarray, floor: int = 3000) -> np.ndarray:
    """I2 full chain (ocr_service.py:238-285 order): upscale-to-floor →
    contrast(1.2,10) → Gaussian(3x3) → CLAHE(2.0, 16x16) → Otsu binarize →
    invert-if-dark → morphological close (2x2, 1 iter; the 2x2 ELLIPSE
    element is all-ones, same as RECT).

    ``floor`` defaults to the reference's literal 3000px; driver/bench
    probes pass a smaller floor so the 48x32 synthetic fixtures don't blow
    up to 4500x3000 per image (the resize PATH is still exercised)."""
    x = upscale_floor(img, floor)
    x = contrast_scale(x)
    x = np.clip(np.floor(conv2d_replicate(x, GAUSS_3X3) + 0.5), 0, 255).astype(np.uint8)
    x = clahe(x, clip_limit=2.0, tiles=16)
    t = otsu_threshold(x)
    b = np.where(x > t, np.uint8(255), np.uint8(0))
    if b.mean() < 127:  # mostly dark → invert (ocr_service.py:276-280)
        b = 255 - b
    # close = dilate then erode (2x2)
    b = _minmax2(b, np.max)
    b = _minmax2(b, np.min)
    return b


def sharpen_array(img: np.ndarray) -> np.ndarray:
    """I9: 3x3 sharpen with saturation."""
    return np.clip(np.floor(conv2d_replicate(img, SHARPEN_3X3) + 0.5), 0, 255).astype(np.uint8)


def remove_artifacts_array(img: np.ndarray, min_size: int = 10) -> np.ndarray:
    """I9 artifact filter (noise_handler.py:307-325): 8-connected components
    of the nonzero mask; components with area < min_size are dropped; kept
    pixels are emitted as 255 (the reference rebuilds a clean 0/255 image).

    Run-length two-pass union-find — row runs are vectorized via diff, the
    Python loop touches RUNS (strokes), not pixels, so a 3000px page costs
    thousands of iterations, not millions."""
    h, w = img.shape
    fg = img > 0
    parent: list[int] = []

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    run_rows: list[list[tuple[int, int, int]]] = []
    prev: list[tuple[int, int, int]] = []
    for y in range(h):
        row = fg[y]
        if not row.any():
            prev = []
            run_rows.append([])
            continue
        d = np.diff(row.astype(np.int8))
        starts = np.flatnonzero(d == 1) + 1
        ends = np.flatnonzero(d == -1) + 1
        if row[0]:
            starts = np.concatenate(([0], starts))
        if row[-1]:
            ends = np.concatenate((ends, [w]))
        cur = []
        for s, e in zip(starts.tolist(), ends.tolist()):
            rid = len(parent)
            parent.append(rid)
            cur.append((s, e, rid))
            for ps, pe, prid in prev:  # 8-conn: ranges may touch diagonally
                if ps <= e and pe >= s:
                    union(rid, prid)
        prev = cur
        run_rows.append(cur)

    comp_size: dict[int, int] = {}
    for runs in run_rows:
        for s, e, rid in runs:
            r = find(rid)
            comp_size[r] = comp_size.get(r, 0) + (e - s)
    out = np.zeros_like(img)
    for y, runs in enumerate(run_rows):
        for s, e, rid in runs:
            if comp_size[find(rid)] >= min_size:
                out[y, s:e] = 255
    return out


def enhance_text_quality_array(img: np.ndarray) -> np.ndarray:
    """I9 full chain (noise_handler.py:249-287): sharpen → CLAHE(2.0, 8x8)
    → adaptive Gaussian binarization (11, 2) → artifact removal."""
    x = sharpen_array(img)
    x = clahe(x, clip_limit=2.0, tiles=8)
    x = adaptive_gaussian_threshold(x, block=11, c=2.0)
    return remove_artifacts_array(x, min_size=10)


# --- denoise pipeline (I6, noise_handler.py:81-184) -------------------------


def median3(img: np.ndarray) -> np.ndarray:
    """3x3 median filter with edge replication (cv2.medianBlur(3) analog)."""
    p = np.pad(img, 1, mode="edge")
    stack = np.stack(
        [p[dy : dy + img.shape[0], dx : dx + img.shape[1]] for dy in range(3) for dx in range(3)]
    )
    return np.median(stack, axis=0).astype(np.uint8)


def clahe(img: np.ndarray, clip_limit: float = 2.0, tiles: int = 8) -> np.ndarray:
    """Contrast-limited adaptive histogram equalization, tile-based with
    per-pixel bilinear blend of the four surrounding tile mappings (the
    standard CLAHE construction; clip semantics follow the usual
    redistribute-excess rule). cv2 is absent, so this numpy form IS the
    engine's definition — deterministic and covered by its pytest twin."""
    h, w = img.shape
    th, tw = max(h // tiles, 1), max(w // tiles, 1)
    ny, nx = (h + th - 1) // th, (w + tw - 1) // tw
    # per-tile clipped-equalization lookup tables
    luts = np.zeros((ny, nx, 256), dtype=np.float64)
    for ty in range(ny):
        for tx in range(nx):
            tile = img[ty * th : min((ty + 1) * th, h), tx * tw : min((tx + 1) * tw, w)]
            hist = np.bincount(tile.ravel(), minlength=256).astype(np.float64)
            limit = clip_limit * tile.size / 256.0
            excess = np.maximum(hist - limit, 0).sum()
            hist = np.minimum(hist, limit) + excess / 256.0
            cdf = hist.cumsum()
            luts[ty, tx] = 255.0 * cdf / max(cdf[-1], 1.0)
    # bilinear blend of tile LUTs at every pixel
    yy, xx = np.mgrid[0:h, 0:w]
    fy = (yy + 0.5) / th - 0.5
    fx = (xx + 0.5) / tw - 0.5
    y0 = np.clip(np.floor(fy).astype(int), 0, ny - 1)
    x0 = np.clip(np.floor(fx).astype(int), 0, nx - 1)
    y1, x1 = np.minimum(y0 + 1, ny - 1), np.minimum(x0 + 1, nx - 1)
    wy = np.clip(fy - y0, 0.0, 1.0)
    wx = np.clip(fx - x0, 0.0, 1.0)
    v = img
    out = (
        luts[y0, x0, v] * (1 - wy) * (1 - wx)
        + luts[y1, x0, v] * wy * (1 - wx)
        + luts[y0, x1, v] * (1 - wy) * wx
        + luts[y1, x1, v] * wy * wx
    )
    return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8)


def _minmax2(img: np.ndarray, op) -> np.ndarray:
    """2x2 structuring-element morphology step (anchor top-left)."""
    p = np.pad(img, ((0, 1), (0, 1)), mode="edge")
    return op(
        np.stack([p[dy : dy + img.shape[0], dx : dx + img.shape[1]] for dy in range(2) for dx in range(2)]),
        axis=0,
    ).astype(np.uint8)


def morph_close_open(img: np.ndarray) -> np.ndarray:
    """close (dilate→erode) then open (erode→dilate), 2x2 rect."""
    x = _minmax2(img, np.max)
    x = _minmax2(x, np.min)
    x = _minmax2(x, np.min)
    return _minmax2(x, np.max)


def _gauss_kernel_1d(ksize: int) -> np.ndarray:
    """cv2.getGaussianKernel: sigma = 0.3*((ksize-1)*0.5 - 1) + 0.8."""
    sigma = 0.3 * ((ksize - 1) * 0.5 - 1) + 0.8
    x = np.arange(ksize, dtype=np.float64) - (ksize - 1) / 2.0
    k = np.exp(-(x**2) / (2 * sigma**2))
    return k / k.sum()


def adaptive_gaussian_threshold(img: np.ndarray, block: int = 11, c: float = 2.0) -> np.ndarray:
    """cv2.adaptiveThreshold(ADAPTIVE_THRESH_GAUSSIAN_C, BINARY, block, C)."""
    k = _gauss_kernel_1d(block)
    p = np.pad(img.astype(np.float64), block // 2, mode="edge")
    tmp = np.apply_along_axis(lambda r: np.convolve(r, k, mode="valid"), 1, p)
    local = np.apply_along_axis(lambda col: np.convolve(col, k, mode="valid"), 0, tmp)
    return np.where(img.astype(np.float64) > local - c, np.uint8(255), np.uint8(0))


def adaptive_mean_threshold(img: np.ndarray, block: int = 15, c: float = 10.0) -> np.ndarray:
    """cv2.adaptiveThreshold(ADAPTIVE_THRESH_MEAN_C, BINARY, block, C) —
    the I3 candidate-variant binarization (ocr_service.py:71-79)."""
    p = np.pad(img.astype(np.float64), block // 2, mode="edge")
    k = np.ones(block, dtype=np.float64) / block
    tmp = np.apply_along_axis(lambda r: np.convolve(r, k, mode="valid"), 1, p)
    local = np.apply_along_axis(lambda col: np.convolve(col, k, mode="valid"), 0, tmp)
    return np.where(img.astype(np.float64) > local - c, np.uint8(255), np.uint8(0))


def denoise_array(img: np.ndarray, noise_type: str = "auto") -> np.ndarray:
    """I6 + I10 dispatch (noise_handler.py:213-247):
    'gaussian' → blur-dominant path; 'salt_pepper' → median-dominant path;
    'auto' → the full cleaning chain."""
    if noise_type == "gaussian":
        x = np.clip(np.floor(conv2d_replicate(img, GAUSS_3X3) + 0.5), 0, 255).astype(np.uint8)
        return clahe(x)
    if noise_type == "salt_pepper":
        return morph_close_open(median3(img))
    x = median3(img)
    x = np.clip(np.floor(conv2d_replicate(x, GAUSS_3X3) + 0.5), 0, 255).astype(np.uint8)
    x = clahe(x)
    x = morph_close_open(x)
    return adaptive_gaussian_threshold(x)


def denoise(images: DataFrame, noise_type: str = "auto") -> DataFrame:
    """I6/I10 as a mapInPandas stage."""
    return images.mapInPandas(
        _map_images(lambda i, img: _encode(i, denoise_array(img, noise_type))),
        PROCESSED_SCHEMA,
    )


# --- rotation sweep (I4, ocr_service.py:84-113) -----------------------------


def rotation_candidates(img: np.ndarray) -> list[tuple[int, np.ndarray]]:
    """Exact right-angle sweep {0, 90, 180, 270} (np.rot90 — lossless)."""
    return [(a, np.rot90(img, k)) for k, a in enumerate((0, 90, 180, 270))]


def rotate_arbitrary(img: np.ndarray, angle_deg: float) -> np.ndarray:
    """Arbitrary-angle rotation about the integer center, same output
    dims — the cv2.warpAffine(getRotationMatrix2D(center, angle, 1.0),
    BORDER_REPLICATE) analog (ocr_service.py:98-105). Bilinear sampling
    (the reference uses INTER_CUBIC; cv2 is absent, so this numpy form is
    the engine's definition — deterministic, pytest-goldened)."""
    if angle_deg % 360 == 0:
        return img
    h, w = img.shape
    cx, cy = w // 2, h // 2  # cv2's integer center convention
    th = np.deg2rad(angle_deg)
    c, s = np.cos(th), np.sin(th)
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    # inverse mapping: rotate destination coords by -angle around center
    xs = c * (xx - cx) - s * (yy - cy) + cx
    ys = s * (xx - cx) + c * (yy - cy) + cy
    # replicate border
    xs = np.clip(xs, 0, w - 1)
    ys = np.clip(ys, 0, h - 1)
    x0 = np.floor(xs).astype(np.int64)
    y0 = np.floor(ys).astype(np.int64)
    x1 = np.minimum(x0 + 1, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    fx = xs - x0
    fy = ys - y0
    v = (
        img[y0, x0] * (1 - fy) * (1 - fx)
        + img[y0, x1] * (1 - fy) * fx
        + img[y1, x0] * fy * (1 - fx)
        + img[y1, x1] * fy * fx
    )
    return np.clip(np.floor(v + 0.5), 0, 255).astype(np.uint8)


def detect_skew_angle(img: np.ndarray, max_angle: int = 10, step: int = 1) -> int:
    """OSD analog (the reference shells to pytesseract.image_to_osd,
    ocr_service.py:88-97): projection-profile skew detection. Horizontal
    text maximizes the variance of row sums; sweep candidate corrections
    and return the angle whose rotation yields the sharpest row profile
    (0 when the page is already aligned — ties prefer the smaller |angle|)."""
    best_angle, best_score = 0, -1.0
    angles = sorted(range(-max_angle, max_angle + 1, step), key=lambda a: (abs(a), a))
    for a in angles:
        rot = rotate_arbitrary(img, a) if a else img
        rows = rot.astype(np.float64).mean(axis=1)
        score = float(((rows - rows.mean()) ** 2).mean())
        if score > best_score + 1e-9:
            best_angle, best_score = a, score
    return best_angle


# --- Spark surface ----------------------------------------------------------


def _map_images(fn):
    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            # zip over raw column values — iterrows() materializes a Series
            # per row and is 5-20x slower once real codecs make this hot
            for image_id, data, w, h in zip(
                pdf["image_id"].tolist(), pdf["data"].tolist(),
                pdf["width"].tolist(), pdf["height"].tolist(),
            ):
                img = decode_gray(data, w, h)
                out.append(fn(int(image_id), img))
            yield pd.DataFrame(out)

    return process


def noise_stats(images: DataFrame) -> DataFrame:
    """I7+I8 over (image_id, data, width, height)."""

    def one(image_id: int, img: np.ndarray) -> dict:
        # exact integer sums → float only at the final division/sqrt, so the
        # DuckDB oracle reproduces every bit (np.mean/np.std use pairwise
        # float summation and would drift in the last ulp)
        n = int(img.size)
        sx = int(img.astype(np.int64).sum())
        sxx = int((img.astype(np.int64) ** 2).sum())
        mean = sx / n
        std = float(np.sqrt((n * sxx - sx * sx) / (float(n) * n)))
        return {
            "image_id": image_id,
            "noise_level": min(std / 255.0, 1.0),
            "mean_intensity": mean,
            "contrast": std / mean if mean > 0 else 0.0,
            "height": img.shape[0],
            "width": img.shape[1],
            "pixel_count": n,
        }

    return images.mapInPandas(_map_images(one), STATS_SCHEMA)


def _encode(image_id: int, img: np.ndarray) -> dict:
    return {
        "image_id": image_id,
        "data": img.tobytes(),
        "width": img.shape[1],
        "height": img.shape[0],
    }


def preprocess(images: DataFrame, floor: int = 3000) -> DataFrame:
    """I2 as a mapInPandas stage (binary in → binary out)."""
    return images.mapInPandas(
        _map_images(lambda i, img: _encode(i, preprocess_array(img, floor))), PROCESSED_SCHEMA
    )


def sharpen(images: DataFrame) -> DataFrame:
    """I9 sharpen-only as a mapInPandas stage."""
    return images.mapInPandas(
        _map_images(lambda i, img: _encode(i, sharpen_array(img))), PROCESSED_SCHEMA
    )


def enhance_text(images: DataFrame) -> DataFrame:
    """I9 full enhance chain (sharpen→CLAHE→binarize→artifact removal)."""
    return images.mapInPandas(
        _map_images(lambda i, img: _encode(i, enhance_text_quality_array(img))),
        PROCESSED_SCHEMA,
    )


# --- resize / feature-extract (multimodal pipeline ops) ---------------------

FEATURES_SCHEMA = "image_id long, " + ", ".join(f"h{b} long" for b in range(16)) + (
    ", mean_intensity double, pixel_count long"
)


def resize_nearest_array(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize (pure numpy; deterministic; the codec-free
    analog of the reference's LANCZOS upscale floor, ocr_service.py:255-261)."""
    h, w = img.shape
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return img[np.ix_(ys, xs)]


def resize(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Resize stage over binary image columns (mapInPandas)."""
    return images.mapInPandas(
        _map_images(lambda i, img: _encode(i, resize_nearest_array(img, out_w, out_h))),
        PROCESSED_SCHEMA,
    )


def extract_features(images: DataFrame) -> DataFrame:
    """16-bin intensity histogram + exact-integer mean — the minimal
    'embedding' a training pipeline derives per image. All counts/sums are
    integers, so the DuckDB oracle reproduces every value exactly."""

    def one(image_id: int, img: np.ndarray) -> dict:
        hist = np.bincount((img // 16).ravel(), minlength=16)
        out = {"image_id": image_id}
        for b in range(16):
            out[f"h{b}"] = int(hist[b])
        out["mean_intensity"] = int(img.astype(np.int64).sum()) / img.size
        out["pixel_count"] = int(img.size)
        return out

    return images.mapInPandas(_map_images(one), FEATURES_SCHEMA)


# --- deterministic synthetic image source -----------------------------------


def synth_images(spark: SparkSession, n: int = 64, width: int = 48, height: int = 32) -> DataFrame:
    """Seeded grayscale 'scans': per-image LCG noise + horizontal dark text
    bands — enough structure for Otsu/noise ops to behave like real scans.
    Deterministic (no RNG state), so tests and oracles can re-derive it.
    """
    rows = []
    for i in range(n):
        img = synth_image_array(i, width, height)
        rows.append((i, bytearray(img.tobytes()), width, height))
    return spark.createDataFrame(rows, "image_id long, data binary, width int, height int")


def synth_image_array(seed: int, width: int = 48, height: int = 32) -> np.ndarray:
    idx = np.arange(width * height, dtype=np.int64)
    lcg = (seed * 1103515245 + idx * 12345 + 6789) % 251  # 0..250 noise
    img = (200 + (lcg % 40) - 20).astype(np.int64)  # light background ±20
    img = img.reshape(height, width)
    for band in range(2 + seed % 3):  # dark "text lines"
        y0 = (3 + band * (height // 4)) % max(height - 3, 1)
        img[y0 : y0 + 2, 2 : width - 2] = 30 + (seed % 50)
    return np.clip(img, 0, 255).astype(np.uint8)


# --- perceptual hash (pHash) near-duplicate detection ------------------------

PHASH_SIDE = 32  # DCT input side; the classic pHash shape
PHASH_LOW = 8    # low-frequency block whose signs form the hash


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis (float64).  Same numpy evaluates on the
    driver (golden generation) and on every executor, so the hash is
    bit-reproducible across partitionings."""
    k = np.arange(n, dtype=np.float64)
    m = np.cos(np.pi * (2.0 * k[None, :] + 1.0) * k[:, None] / (2.0 * n))
    m[0, :] *= 1.0 / np.sqrt(2.0)
    return m * np.sqrt(2.0 / n)


def phash_array(img: np.ndarray) -> int:
    """64-bit-class perceptual hash, masked to 63 bits so it rides int64
    columns (same discipline as the 60-bit simhash): area-mean resize to
    32×32 → 2-D DCT-II → 8×8 low-frequency block → sign vs the median
    (DC term excluded from the median, classic pHash).  Robust to small
    pixel perturbations, brightness-preserving edits, and re-encoding —
    the near-dup signal exact byte hashes cannot give."""
    h, w = img.shape
    side = PHASH_SIDE
    ys = (np.arange(side + 1) * h) // side
    xs = (np.arange(side + 1) * w) // side
    small = np.empty((side, side), dtype=np.float64)
    ii = np.zeros((h + 1, w + 1), dtype=np.float64)
    ii[1:, 1:] = np.cumsum(np.cumsum(img.astype(np.float64), axis=0), axis=1)
    for y in range(side):
        y0, y1 = ys[y], max(ys[y + 1], ys[y] + 1)
        for x in range(side):
            x0, x1 = xs[x], max(xs[x + 1], xs[x] + 1)
            area = (y1 - y0) * (x1 - x0)
            small[y, x] = (
                ii[y1, x1] - ii[y0, x1] - ii[y1, x0] + ii[y0, x0]
            ) / area
    m = _dct_matrix(side)
    freq = m @ small @ m.T
    low = freq[:PHASH_LOW, :PHASH_LOW].ravel()
    med = np.median(low[1:])  # exclude the DC coefficient
    bits = low > med
    out = 0
    for i, b in enumerate(bits[:63]):  # 63 bits: stay positive in int64
        if b:
            out |= 1 << i
    return out


def phash(images: DataFrame) -> DataFrame:
    """(image_id, phash) via one Arrow-batched pass (no shuffle)."""
    def one(image_id: int, img: np.ndarray) -> dict:
        return {"image_id": image_id, "phash": phash_array(img)}

    return images.mapInPandas(_map_images(one), "image_id long, phash long")


def dedup_phash_pairs(images: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Near-duplicate image pairs by pHash hamming distance ≤
    ``max_hamming`` — banded exactly like the simhash text tier: the 63
    hash bits split into ``max_hamming + 1`` bands, so any qualifying
    pair shares at least one identical band (pigeonhole — EXACT recall,
    not probabilistic), candidates meet in a band-keyed equi-join (never
    all-pairs), and an exact bit_count(xor) post-filter removes false
    candidates.  At crawl scale the shuffle carries (bands × corpus)
    rows, not corpus²."""
    n_bands = max_hamming + 1
    width = 63 // n_bands
    ph = phash(images).persist()
    bands = ph.select(
        "image_id",
        "phash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftrightunsigned(F.col("phash"), b * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("key"),
                )
                for b in range(n_bands)
            ])
        ).alias("bk"),
    ).select("image_id", "phash", "bk.band", "bk.key")
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.image_id") < F.col("b.image_id")),
        )
        .select(
            F.col("a.image_id").alias("id_a"),
            F.col("b.image_id").alias("id_b"),
            F.bit_count(
                F.col("a.phash").bitwiseXOR(F.col("b.phash"))
            ).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


def synth_near_dup_images(
    spark: SparkSession, n: int = 60, n_base: int = 20,
    width: int = 48, height: int = 32,
) -> DataFrame:
    """Deterministic near-dup corpus: images ``i < n_base`` are distinct
    bases; every later image re-renders base ``i % n_base`` with a small
    deterministic perturbation (a few brightened pixels) — visually the
    same scan, byte-distinct, so exact hashing misses it and pHash must
    catch it."""
    rows = [
        (i, bytearray(synth_near_dup_array(i, n_base, width, height).tobytes()),
         width, height)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "image_id long, data binary, width int, height int"
    )


def synth_near_dup_array(
    i: int, n_base: int = 20, width: int = 48, height: int = 32
) -> np.ndarray:
    """Pure-array twin of synth_near_dup_images — the golden generator
    derives oracle phashes from the exact same pixels."""
    img = synth_image_array(i % n_base, width, height).astype(np.int64)
    gen = i // n_base
    if gen:
        for p in range(3):
            y = (7 * gen + 11 * p) % height
            x = (13 * gen + 5 * p) % width
            img[y, x] = min(255, img[y, x] + 9)
    return img.astype(np.uint8)
