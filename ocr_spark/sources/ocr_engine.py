"""OCR engine scan (SURVEY.md §2.1 S6–S7, §2.8 I3–I5) with the
executor-singleton model pattern.

The reference loads one EasyOCR reader per service process (main.py:32,
ocr_service.py:21-36) — but then re-creates it per PDF call
(pdf_processor.py:101-102), a ~60s-per-call bug this module exists to NOT
copy: the model handle is a lazy module-global, initialized at most once
per executor process and shared by every Arrow batch that lands there.

Engines (selected by the ``OCR_SPARK_ENGINE`` env var, or per call):

- ``fake``       (default) deterministic band reader over the synthetic
                 corpus — no dependencies, bit-reproducible; the sandbox
                 default and the driver/bench engine
- ``easyocr``    easyocr.Reader(['ru','en'], gpu=False).readtext — the
                 reference's primary engine (ocr_service.py:115-123);
                 import-gated, exercised by a skipif test when installed
- ``tesseract``  pytesseract image_to_data, --psm 6, lang rus+eng — the
                 reference's S7 variant (ocr_service.py:131-142); same gate

The ensemble/argmax control flow (I5), preprocessing variants (I3), and
box schema are identical across engines; only _load_model/_recognize swap.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DataType, StructField, StructType

from ocr_spark.operators.image import (
    adaptive_mean_threshold,
    decode_gray,
    detect_skew_angle,
    preprocess_array,
    rotate_arbitrary,
    rotation_candidates,
)

_BOX = "array<struct<text:string, conf:double, cx:double, cy:double>>"
BOXES_SCHEMA = f"image_id long, boxes {_BOX}, engine string"
PAGE_BOXES = f"array<struct<page_number:int, boxes:{_BOX}>>"

DEFAULT_ENGINE = "fake"

# --- executor-level lazy singleton (ocr_service.py:21-36, done right) -------

_MODEL: dict | None = None
_MODEL_INITS = 0  # observable by tests: must stay at 1 per process


# ISO 639-1 → tesseract codes for the languages the reference serves plus
# common additions; unknown codes pass through unchanged.
_TESS_LANG = {"ru": "rus", "en": "eng", "de": "deu", "fr": "fra", "es": "spa", "uk": "ukr"}


def _load_model(engine: str | None = None, langs: tuple[str, ...] | None = None) -> dict:
    """Executor-singleton model registry. ``langs`` is the set_languages
    analog (ocr_service.py:668-677): a new language tuple re-initializes
    the model — same behavior, but keyed functionally (env
    OCR_SPARK_LANGS="ru,en" or per-call) instead of mutated in place."""
    global _MODEL, _MODEL_INITS
    engine = engine or os.environ.get("OCR_SPARK_ENGINE", DEFAULT_ENGINE)
    if langs is None:
        langs = tuple(
            x for x in os.environ.get("OCR_SPARK_LANGS", "ru,en").split(",") if x
        )
    key = (engine, langs)
    if _MODEL is None or _MODEL["engine_key"] != key:
        _MODEL_INITS += 1
        if engine == "easyocr":
            import easyocr  # noqa: F401 — import-gated extra

            # ~60s init — exactly why this happens once per executor
            reader = easyocr.Reader(list(langs), gpu=False)
            _MODEL = {"engine_key": key, "engine": "easyocr", "reader": reader}
        elif engine == "tesseract":
            import pytesseract  # noqa: F401 — import-gated extra

            _MODEL = {
                "engine_key": key,
                "engine": "tesseract",
                "pytesseract": pytesseract,
                "config": "--psm 6",
                "lang": "+".join(_TESS_LANG.get(x, x) for x in langs),
            }
        else:
            _MODEL = {"engine_key": key, "engine": "fake-deterministic", "langs": list(langs)}
    return _MODEL


def _recognize(model: dict, img: np.ndarray) -> list[tuple[str, float, float, float]]:
    """Engine dispatch → list of (text, conf, cx, cy) boxes."""
    if model["engine"] == "easyocr":
        # reader.readtext → [(4-point bbox, text, conf)] (ocr_service.py:115)
        boxes = []
        for bbox, text, conf in model["reader"].readtext(img):
            xs = [p[0] for p in bbox]
            ys = [p[1] for p in bbox]
            boxes.append((text, float(conf), sum(xs) / 4.0, sum(ys) / 4.0))
        return boxes
    if model["engine"] == "tesseract":
        # image_to_data --psm 6 rus+eng (ocr_service.py:131-142): word rows
        # with pixel boxes; conf is 0-100 (-1 for non-word rows)
        d = model["pytesseract"].image_to_data(
            img,
            config=model["config"],
            lang=model["lang"],
            output_type=model["pytesseract"].Output.DICT,
        )
        boxes = []
        for i, text in enumerate(d["text"]):
            conf = float(d["conf"][i])
            if not text.strip() or conf < 0:
                continue
            cx = d["left"][i] + d["width"][i] / 2.0
            cy = d["top"][i] + d["height"][i] / 2.0
            boxes.append((text, conf / 100.0, cx, cy))
        return boxes
    return _recognize_fake(img)


def _recognize_fake(img: np.ndarray) -> list[tuple[str, float, float, float]]:
    """Deterministic stand-in for reader.readtext: one box per dark band
    (the synthetic corpus draws text as dark horizontal bands)."""
    h, w = img.shape
    boxes = []
    row_means = img.mean(axis=1)
    y = 0
    while y < h:
        if row_means[y] < 100:  # dark band start
            y2 = y
            while y2 + 1 < h and row_means[y2 + 1] < 100:
                y2 += 1
            band = img[y : y2 + 1]
            conf = float(1.0 - band.mean() / 255.0)
            boxes.append((f"line-{len(boxes)}", round(conf, 6), w / 2.0, (y + y2) / 2.0))
            y = y2 + 1
        else:
            y += 1
    return boxes


def _score(boxes: list[tuple[str, float, float, float]]) -> float:
    """I5 candidate score analog: prefer more boxes, then higher mean conf."""
    if not boxes:
        return 0.0
    return len(boxes) + sum(b[1] for b in boxes) / len(boxes)


def _best_boxes(
    model: dict,
    img: np.ndarray,
    include_preprocess: bool,
    detect_skew: bool | None,
) -> list[dict]:
    """I3+I5 for one image: try the bounded candidate set and keep the
    argmax by score, with box coordinates divided back to input scale."""
    real = model["engine"] != "fake-deterministic"
    # I3 preprocess variants × I4 rotation sweep — a bounded candidate set
    # evaluated inside the batch (never exploded to extra rows; batch
    # locality wins, SURVEY §4). include_preprocess=False restricts to
    # raw+rotations for callers needing oracle-predictable candidates (the
    # rasterized-PDF scan).
    # per-variant (sx, sy): int() truncation in upscale_floor makes the
    # effective x and y factors differ by up to ~1px equivalent — dividing
    # cx by the y-derived factor would skew x coordinates into the
    # gap-based column splitter
    variants = [(img, 1.0, 1.0)]
    if include_preprocess:
        pre = preprocess_array(img, floor=3000 if real else 1)
        psx = pre.shape[1] / img.shape[1]
        psy = pre.shape[0] / img.shape[0]
        variants.append((pre, psx, psy))
        if real:
            # the reference's full candidate set (ocr_service.py:57-81):
            # inverted base + adaptive MEAN threshold(15,10) on the gray
            # input. Only meaningful for real readers — the deterministic
            # band engine would "read" an inverted page as all-bands.
            variants.append((255 - pre, psx, psy))
            variants.append((adaptive_mean_threshold(img), 1.0, 1.0))
    # a 90°/270° rotation swaps the axes, so the rotated image's x
    # coordinates carry the variant's y scale (and vice versa)
    candidates = [
        (rot, (sy, sx) if a % 180 == 90 else (sx, sy))
        for v, sx, sy in variants
        for a, rot in rotation_candidates(v)
    ]
    # OSD analog (ocr_service.py:88-97): if the projection profile finds a
    # non-right skew, add the corrected image to the sweep — right angles
    # are already covered above. Gated to real engines by default: the
    # deterministic band rasters are axis-aligned by construction, and the
    # 21-angle full-image sweep dominated the fake/bench path cost.
    if real if detect_skew is None else detect_skew:
        skew = detect_skew_angle(img)
        if skew % 90 != 0:
            candidates.extend((rotate_arbitrary(v, skew), (sx, sy)) for v, sx, sy in variants)
    scored = [(_recognize(model, c), sc) for c, sc in candidates]
    best, (sx, sy) = max(scored, key=lambda r: _score(r[0]))
    return [{"text": t, "conf": c, "cx": cx / sx, "cy": cy / sy} for (t, c, cx, cy) in best]


def scan_images(
    images: DataFrame,
    engine: str | None = None,
    include_preprocess: bool = True,
    detect_skew: bool | None = None,
    langs: tuple[str, ...] | None = None,
) -> DataFrame:
    """S6/S7: OCR scan over (image_id, data, width, height) → box arrays.

    I3+I5 inside the batch loop: each image is tried raw and preprocessed
    (bounded candidate set, NOT exploded to extra rows — batch locality
    wins, SURVEY §4) and the argmax by score is kept.

    Real engines preprocess with the reference's 3000px upscale floor and
    box coordinates are divided back by per-axis scale factors; the fake
    engine skips the upscale (floor=1) so its deterministic geometry stays
    in input coordinates.

    ``detect_skew`` controls the arbitrary-angle OSD sweep (I4's
    projection-profile analog): None (default) runs it for real engines
    only — the synthetic band rasters are axis-aligned by construction and
    the sweep was pure overhead on the fake/bench path; pass True to force
    it (e.g. skew-recovery tests on the fake engine).
    """

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = _load_model(engine, langs)  # once per executor; cheap no-op afterwards
        for pdf in batches:
            out = {"image_id": [], "boxes": [], "engine": []}
            for image_id, data, w, h in zip(
                pdf["image_id"].tolist(), pdf["data"].tolist(),
                pdf["width"].tolist(), pdf["height"].tolist(),
            ):
                img = decode_gray(data, w, h)
                out["image_id"].append(int(image_id))
                out["boxes"].append(_best_boxes(model, img, include_preprocess, detect_skew))
                out["engine"].append(model["engine"])
            yield pd.DataFrame(out)

    return images.mapInPandas(process, BOXES_SCHEMA)


def scan_pages(docs: DataFrame, render: Callable[[str], np.ndarray]) -> DataFrame:
    """Rasterise + OCR scan fused, one row per document: ``docs`` holds
    ``pages`` array<struct<page_number, text>>, and each row comes back
    with ``pages`` as array<struct<page_number, boxes>>, one element per
    input page in the same order. Other columns pass through.

    ``render`` turns a page's text into its grayscale raster (e.g.
    ``sources.pdf.render_page_array``); the page is rendered and scanned
    in the same batch loop, so the raster never leaves the Python worker.
    Same candidate set as ``scan_images(include_preprocess=False)`` on the
    rasterised pages: raw + right-angle rotations."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = _load_model()

        def scan(pages):
            return None if pages is None else [
                {
                    "page_number": p["page_number"],
                    "boxes": _best_boxes(
                        model, render(p["text"]), include_preprocess=False, detect_skew=None
                    ),
                }
                for p in pages
            ]

        for pdf in batches:
            pdf["pages"] = [scan(pages) for pages in pdf["pages"].tolist()]
            yield pdf

    boxed = StructField("pages", DataType.fromDDL(PAGE_BOXES))
    schema = StructType([boxed if f.name == "pages" else f for f in docs.schema])
    return docs.mapInPandas(process, schema)


def model_init_count() -> int:
    return _MODEL_INITS
