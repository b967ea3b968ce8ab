"""Spark wiring of the raster layout path (L1-L4) and multimodal plumbing."""

import struct

import numpy as np
import pytest

from norsk_historisk_avis_ocr_spark.operators.multimodal import (
    MEDIA_FEATURE_DIM, media_features, sniff_media_type,
)
from norsk_historisk_avis_ocr_spark.operators.raster import (
    segment_image_pages, segment_issues,
)
from norsk_historisk_avis_ocr_spark.sources.rasters import synth_page_array
from norsk_historisk_avis_ocr_spark.stages.layout import (
    split_columns_geometry,
)
from norsk_historisk_avis_ocr_spark.stages.pdf import encode_pdf_pages
from norsk_historisk_avis_ocr_spark.stages.png import encode_png
from norsk_historisk_avis_ocr_spark.stages.tiff import encode_tiff_multi


def _page_png():
    img = np.full((1200, 2000), 255, dtype=np.uint8)
    img[:, 712:715] = 0
    img[:, 1440:1443] = 0
    img[0:1200:2, 10:700] = 0
    img[0:1200:2, 730:1430] = 0
    img[0:1200:2, 1460:1990] = 0
    return encode_png(img)


def test_segment_image_pages_geometry(spark):
    df = spark.createDataFrame(
        [("p1", bytearray(_page_png()))], "page_id string, png binary")
    got = segment_image_pages(df).collect()
    assert len(got) == 1
    r = got[0]
    assert r.decode_error is None
    assert r.boundaries == [0, 713, 1441, 2000]
    assert [b.x0 for b in r.column_boxes] == [0, 693, 1421]
    assert r.title_box is None


def _corrupt_pdf_page(issue: bytes, k: int) -> bytes:
    """Give page ``k``'s image an unknown filter name of the same length,
    so every offset stays valid: the issue opens, only that page fails."""
    at = -1
    for _ in range(k + 1):
        at = issue.index(b"/Filter /FlateDecode", at + 1)
    return issue[:at] + b"/Filter /BogusDecode" + issue[at + 20:]


def _corrupt_tiff_page(issue: bytes, k: int) -> bytes:
    """Set page ``k``'s Compression tag (259) to 7, JPEG-in-TIFF, which
    the decoder rejects; the IFD chain itself stays intact."""
    data = bytearray(issue)
    (ifd,) = struct.unpack_from("<I", data, 4)
    for _ in range(k):
        (n,) = struct.unpack_from("<H", data, ifd)
        (ifd,) = struct.unpack_from("<I", data, ifd + 2 + 12 * n)
    (n,) = struct.unpack_from("<H", data, ifd)
    for entry in range(ifd + 2, ifd + 2 + 12 * n, 12):
        if struct.unpack_from("<H", data, entry)[0] == 259:
            struct.pack_into("<I", data, entry + 8, 7)
    return bytes(data)


def _geometry(r):
    """A result row's geometry as plain ints and (x0, y0, x1, y1) tuples."""
    def box(b):
        return None if b is None else (b.x0, b.y0, b.x1, b.y1)
    return (r.boundaries, r.body_top, box(r.title_box),
            [box(b) for b in r.column_boxes])


def _expected(geo):
    """``split_columns_geometry`` output in the shape of ``_geometry``."""
    def box(b):
        return None if b is None else tuple(int(v) for v in b)
    return ([int(x) for x in geo["boundaries"]],
            [int(x) for x in geo["body_top"]], box(geo["title_box"]),
            [box(b) for b in geo["column_boxes"]])


@pytest.mark.parametrize("codec", ["pdf", "tiff"])
def test_segment_issues_quarantines_one_page(spark, codec):
    """A 3-page issue whose page 1 cannot be decoded: pages 0 and 2 still
    get their geometry, and only page 1 carries the decode error."""
    pages = [synth_page_array(f"{codec}-{k}", width=300, height=260)
             for k in range(3)]
    if codec == "pdf":
        issue = _corrupt_pdf_page(encode_pdf_pages(pages, codec="flate"), 1)
    else:
        issue = _corrupt_tiff_page(encode_tiff_multi(pages), 1)
    df = spark.createDataFrame([("issue", bytearray(issue))],
                               "issue_id string, payload binary")
    rows = sorted(segment_issues(df).collect(), key=lambda r: r.page_index)
    assert [r.page_index for r in rows] == [0, 1, 2]
    for k in (0, 2):
        assert rows[k].decode_error is None
        assert _geometry(rows[k]) == _expected(
            split_columns_geometry(pages[k]))
    assert rows[1].decode_error.startswith("ValueError"), rows[1]
    assert rows[1].boundaries is None and rows[1].column_boxes is None


def test_sniff_media_type():
    assert sniff_media_type(b"\x89PNG\r\n") == "image/png"
    assert sniff_media_type(b"\xff\xd8\xffdata") == "image/jpeg"
    assert sniff_media_type(b"%PDF-1.4") == "application/pdf"
    assert sniff_media_type(b"whatever") == "application/octet-stream"


def test_media_features_plumbing(spark):
    df = spark.createDataFrame(
        [("u1", bytearray(b"\x89PNGabc")), ("u2", bytearray(b"%PDFxyz"))],
        "url string, html binary")
    got = {r.url: r for r in media_features(df).collect()}
    assert got["u1"].media_type == "image/png"
    assert got["u2"].media_type == "application/pdf"
    for r in got.values():
        assert len(r.features) == MEDIA_FEATURE_DIM
        norm = sum(v * v for v in r.features) ** 0.5
        assert norm == pytest.approx(1.0, abs=1e-3)
        assert r.width >= 256 and r.n_frames >= 1


def test_media_features_deterministic(spark):
    df = spark.createDataFrame([("a", bytearray(b"same-bytes")),
                                ("b", bytearray(b"same-bytes"))],
                               "url string, html binary")
    rows = media_features(df).collect()
    feats = {r.url: tuple(r.features) for r in rows}
    assert feats["a"] == feats["b"]


def test_frame_samples_one_to_many(spark):
    from norsk_historisk_avis_ocr_spark.operators.multimodal import (
        frame_samples,
    )
    df = spark.createDataFrame(
        [("v1", bytearray(b"\x1aE\xdf\xa3 webm-ish")),
         ("v2", bytearray(b"other payload"))],
        "url string, html binary")
    rows = frame_samples(df, every_ms=500).collect()
    by_url = {}
    for r in rows:
        by_url.setdefault(r.url, []).append(r)
    for u, frames in by_url.items():
        assert [f.frame_idx for f in sorted(frames, key=lambda x: x.frame_idx)] \
            == list(range(len(frames)))
        assert all(f.t_offset_ms == f.frame_idx * 500 for f in frames)
        assert len({f.frame for f in frames}) == len(frames)


def test_resize_media_clamps_aspect(spark):
    from norsk_historisk_avis_ocr_spark.operators.multimodal import (
        decode_media, resize_media,
    )
    df = spark.createDataFrame([("m1", bytearray(b"payload-bytes"))],
                               "url string, html binary")
    r = resize_media(df, max_side=512).first()
    meta = decode_media(b"payload-bytes")
    scale = min(1.0, 512 / max(meta["width"], meta["height"]))
    assert r.width == int(meta["width"] * scale)
    assert r.height == int(meta["height"] * scale)
    assert max(r.width, r.height) <= 512
