"""Raster layout segmentation as a DataFrame operator (L1-L4 on Spark).

The geometry library (``stages/layout.py``) is pure numpy; this wires it to
DataFrames for corpora whose page payload is an encoded scan rather than
HTML — the reference's native input. The in-tree codecs (``stages/png.py``,
``stages/jpeg.py``, ``stages/tiff.py``, ``stages/pdf.py``) decode the
payload inside the UDF, picked by its magic bytes, so only compressed bytes
cross the Arrow boundary in and the small geometry struct out.

Output is the ``blocks`` struct-array row the SURVEY data model specifies:
one row per page with boundaries, per-column body tops, the title box, and
column crop boxes — the contents of the reference's ``detection_info.txt``
(``engines/_columns.py:383-418``) as queryable columns (S8 debug sink).
Two operators produce it: :func:`segment_image_pages` (one payload = one
page) and :func:`segment_issues` (one multi-page PDF or TIFF issue = one
row per page).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, BinaryType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from ..stages.layout import split_columns_geometry

BOX_TYPE = StructType([
    StructField("x0", IntegerType(), False),
    StructField("y0", IntegerType(), False),
    StructField("x1", IntegerType(), False),
    StructField("y1", IntegerType(), False),
])

LAYOUT_SCHEMA = StructType([
    StructField("page_id", StringType(), False),
    StructField("boundaries", ArrayType(IntegerType()), False),
    StructField("body_top", ArrayType(IntegerType()), False),
    StructField("title_box", BOX_TYPE, True),
    StructField("column_boxes", ArrayType(BOX_TYPE), False),
])

# the geometry columns as the operators emit them: null on a quarantine row,
# which carries the error instead
_GEOMETRY_FIELDS = (
    [StructField(f.name, f.dataType, True) for f in LAYOUT_SCHEMA[1:]]
    + [StructField("decode_error", StringType(), True)])


def _box(t):
    if t is None:
        return None
    return {"x0": int(t[0]), "y0": int(t[1]), "x1": int(t[2]), "y1": int(t[3])}


def _quarantine_row(exc: Exception) -> dict:
    return {"boundaries": None, "body_top": None, "title_box": None,
            "column_boxes": None,
            "decode_error": f"{type(exc).__name__}: {exc}"}


def _page_row(decode, debug_overlay: bool = False) -> dict:
    """The geometry columns of one page: ``decode()`` → (H, W) uint8 →
    L1-L4 geometry, or a quarantine row carrying the error when decoding
    or segmentation raises (the task never fails on one page)."""
    try:
        gray = decode()
        geo = split_columns_geometry(gray)
        row = {"boundaries": [int(x) for x in geo["boundaries"]],
               "body_top": [int(x) for x in geo["body_top"]],
               "title_box": _box(geo["title_box"]),
               "column_boxes": [_box(b) for b in geo["column_boxes"]],
               "decode_error": None}
        if debug_overlay:
            row["debug_png"] = render_debug_overlay(gray, geo)
    except Exception as exc:  # noqa: BLE001 - quarantine row
        row = _quarantine_row(exc)
        if debug_overlay:
            row["debug_png"] = None
    return row


def _sniff(data: bytes) -> str:
    """The codec of an encoded payload by its magic bytes: ``jpeg``,
    ``tiff``, ``pdf``, or ``png`` for anything else."""
    if data.startswith(b"\xff\xd8\xff"):
        return "jpeg"
    if data.startswith((b"II*\x00", b"MM\x00*")):
        return "tiff"
    if data.startswith(b"%PDF-"):
        return "pdf"
    return "png"


def decode_payload_gray(data: bytes):
    """Sniff-dispatch image decode: baseline JPEG, baseline TIFF, PDF
    scan (first page's largest image XObject — the reference's primary
    input, ``ocr.py:25``), or PNG payload → (H, W) uint8 luma. Shared by
    the raster segmentation and vision-prep operators; raises ValueError
    on anything undecodable (quarantine contract)."""
    from ..stages.jpeg import decode_jpeg_gray
    from ..stages.pdf import decode_pdf_page_image
    from ..stages.png import decode_png, to_grayscale
    from ..stages.tiff import decode_tiff_gray

    codec = _sniff(data)
    if codec == "jpeg":
        return decode_jpeg_gray(data)
    if codec == "tiff":
        return decode_tiff_gray(data)
    if codec == "pdf":
        return decode_pdf_page_image(data)
    return to_grayscale(decode_png(data))


def render_debug_overlay(gray, geo) -> bytes:
    """Annotated debug raster (the reference's S8 debug artifacts,
    ``engines/_columns.py:294-418``, as a queryable column): the grayscale
    page as RGB with column boundaries in red, the title box outlined in
    blue, column crop boxes in green, and per-column body-top ticks in
    orange. Returns PNG bytes."""
    import numpy as np

    from ..stages.png import encode_png

    h, w = gray.shape
    rgb = np.repeat(gray[:, :, None], 3, axis=2).copy()

    def vline(x, color):
        x = max(0, min(w - 1, int(x)))
        rgb[:, max(0, x - 1):min(w, x + 2)] = color

    def rect(box, color):
        x0, y0, x1, y1 = (int(v) for v in box)
        x0, x1 = max(0, x0), min(w, x1)
        y0, y1 = max(0, y0), min(h, y1)
        if x1 <= x0 or y1 <= y0:
            return
        rgb[y0:min(h, y0 + 2), x0:x1] = color
        rgb[max(0, y1 - 2):y1, x0:x1] = color
        rgb[y0:y1, x0:min(w, x0 + 2)] = color
        rgb[y0:y1, max(0, x1 - 2):x1] = color

    for x in geo["boundaries"][1:-1]:
        vline(x, (255, 0, 0))
    for box in geo["column_boxes"]:
        rect(box, (0, 200, 0))
    if geo["title_box"] is not None:
        rect(geo["title_box"], (0, 0, 255))
    bounds = geo["boundaries"]
    for c, top in enumerate(geo["body_top"]):
        if c + 1 < len(bounds):
            y = max(0, min(h - 2, int(top)))
            rgb[y:y + 2, int(bounds[c]):int(bounds[c + 1])] = (255, 160, 0)
    return encode_png(rgb)


def segment_image_pages(df: DataFrame, id_col: str = "page_id",
                        png_col: str = "png",
                        debug_overlay: bool = False) -> DataFrame:
    """Encoded page payloads (PNG, baseline/progressive JPEG, TIFF, or a
    scan PDF's first page — dispatched on magic bytes by
    :func:`decode_payload_gray`) → layout geometry rows (the reference's
    input class: encoded raster in, geometry out,
    ``tesseract_engine.py:143-144``).

    Decode, grayscale conversion, and L1-L4 segmentation are fused into one
    Arrow-batched stage — raw pixels never cross an Arrow boundary, only
    the compressed payload in and the small geometry struct out. Map-only,
    no shuffle; undecodable payloads yield a null geometry row with
    ``decode_error`` set (quarantine semantics) instead of failing the task.

    ``debug_overlay=True`` adds a ``debug_png`` binary column: the page
    re-encoded with boundary/title/column/body-top annotations drawn in
    (:func:`render_debug_overlay`) — the reference's S8 debug artifacts as
    a queryable column. Costs one PNG encode per page; leave off in
    production scans.
    """
    schema = StructType(
        [LAYOUT_SCHEMA[0]] + _GEOMETRY_FIELDS
        + ([StructField("debug_png", BinaryType(), True)]
           if debug_overlay else []))

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame([
                {"page_id": pid,
                 **_page_row(lambda: decode_payload_gray(bytes(data)),
                             debug_overlay)}
                for pid, data in zip(pdf[id_col], pdf[png_col])])

    return df.mapInPandas(fn, schema=schema)


def _issue_pages(data: bytes) -> list:
    """One decoder per page of a multi-page scan issue, the codec picked
    by magic bytes: PDF (:func:`stages.pdf.pdf_pages`) or multi-IFD TIFF
    (:func:`stages.tiff.tiff_pages`). Raises ``ValueError`` when the
    container is malformed or is neither."""
    from ..stages.pdf import pdf_pages
    from ..stages.tiff import tiff_pages

    codec = _sniff(data)
    if codec == "pdf":
        return pdf_pages(data)
    if codec == "tiff":
        return tiff_pages(data)
    raise ValueError("issue payload is neither a PDF nor a TIFF")


def segment_issues(df: DataFrame, id_col: str = "issue_id",
                   payload_col: str = "payload") -> DataFrame:
    """Multi-page scan issues (PDF or multi-IFD TIFF, see
    :func:`_issue_pages`) → one layout-geometry row per page (1→N
    expansion): the reference's issue shape — ``ocr.py`` hands each file
    to the engine, which rasterizes and processes EVERY page
    (``engines/tesseract_engine.py:133-142`` iterates poppler's per-page
    output). Pages are decoded lazily, one at a time, and segmented in the
    same Arrow-batched stage. A malformed issue yields a single quarantine
    row (``page_index`` -1) instead of failing the task, and a page that
    cannot be decoded quarantines only that page."""
    schema = StructType(
        [StructField("issue_id", StringType(), True),
         StructField("page_index", LongType(), True)] + _GEOMETRY_FIELDS)

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for iid, data in zip(pdf[id_col], pdf[payload_col]):
                try:
                    pages = _issue_pages(bytes(data))
                except Exception as exc:  # noqa: BLE001 - quarantine issue
                    rows.append({"issue_id": iid, "page_index": -1,
                                 **_quarantine_row(exc)})
                    continue
                rows.extend({"issue_id": iid, "page_index": idx,
                             **_page_row(page)}
                            for idx, page in enumerate(pages))
            yield pd.DataFrame(rows)

    return df.mapInPandas(fn, schema=schema)
