"""Minimal PDF page-image extractor: roundtrips through both payload
arms, xref/object-graph correctness, largest-image selection, and the
loud-failure quarantine contract (the reference's primary input format,
``ocr.py:25``; poppler decode at ``engines/tesseract_engine.py:133-142``)."""

import os
import zlib

import numpy as np
import pytest

from norsk_historisk_avis_ocr_spark.stages.jpeg import (
    decode_jpeg_gray, encode_jpeg_gray,
)
from norsk_historisk_avis_ocr_spark.stages.pdf import (
    decode_pdf_page_image, encode_pdf_gray, encode_pdf_pages,
    pdf_page_count, pdf_pages,
)


def _gradient(h, w):
    y = np.arange(h).reshape(-1, 1)
    x = np.arange(w).reshape(1, -1)
    return ((y * 3 + x * 5) % 256).astype(np.uint8)


def _rebuild_xref(body: bytes) -> bytes:
    """Append a fresh classic xref table + trailer for a rewritten body
    (used by tests that shift object offsets)."""
    import re
    offsets = {int(m.group(1)): m.start()
               for m in re.finditer(rb"(\d+) 0 obj\n", body)}
    n = max(offsets) + 1
    out = bytearray(body) + b"xref\n0 " + str(n).encode() + b"\n"
    out += b"0000000000 65535 f \n"
    for num in range(1, n):
        out += f"{offsets[num]:010d} 00000 n \n".encode()
    out += (b"trailer\n<< /Size " + str(n).encode()
            + b" /Root 1 0 R >>\nstartxref\n"
            + str(len(body)).encode() + b"\n%%EOF\n")
    return bytes(out)


def test_flate_predictor_roundtrip_exact():
    img = _gradient(96, 128)
    assert (decode_pdf_page_image(encode_pdf_gray(img, codec="flate"))
            == img).all()


def test_flate_raw_roundtrip_exact():
    img = _gradient(64, 64)
    out = decode_pdf_page_image(
        encode_pdf_gray(img, codec="flate", predictor=False))
    assert (out == img).all()


def test_dct_arm_matches_in_tree_jpeg_decoder():
    """The DCTDecode arm must yield exactly what the in-tree JPEG decoder
    yields for the identical embedded stream — no extra processing."""
    img = _gradient(72, 96)
    want = decode_jpeg_gray(encode_jpeg_gray(img, quality=95))
    got = decode_pdf_page_image(encode_pdf_gray(img, codec="jpeg",
                                                quality=95))
    assert (got == want).all()


def test_largest_image_wins_over_thumbnail():
    """A scan PDF often carries a page thumbnail too — the page image is
    the largest XObject, and that is the one that must be decoded."""
    img = _gradient(96, 128)
    thumb = img[::8, ::8].copy()
    pdf = encode_pdf_gray(img, codec="flate", thumb=thumb)
    assert (decode_pdf_page_image(pdf) == img).all()


def test_png_predicted_rows_with_real_filters():
    """The FlateDecode arm must run the real PNG defilter: hand-build a
    stream using Sub(1) and Up(2) row filters and require exact pixels."""
    img = _gradient(8, 16)
    h, w = img.shape
    rows = bytearray()
    prior = np.zeros(w, dtype=np.uint8)
    for y in range(h):
        if y % 2 == 0:  # Sub
            row = img[y].astype(np.int16)
            enc = np.diff(np.concatenate([[0], row])) % 256
            rows += bytes([1]) + enc.astype(np.uint8).tobytes()
        else:  # Up
            enc = (img[y].astype(np.int16) - prior) % 256
            rows += bytes([2]) + enc.astype(np.uint8).tobytes()
        prior = img[y]
    payload = zlib.compress(bytes(rows))
    base = encode_pdf_gray(img, codec="flate")
    # swap the image object's stream for the hand-filtered one, then
    # rebuild the xref (offsets after object 4 shift)
    start = base.index(b"4 0 obj")
    stream_at = base.index(b"stream\n", start) + len(b"stream\n")
    end = base.index(b"\nendstream", start)
    old_len = end - stream_at
    body = (base[:start]
            + base[start:end + len(b"\nendstream")]
            .replace(base[stream_at:end], payload)
            .replace(b"/Length " + str(old_len).encode(),
                     b"/Length " + str(len(payload)).encode())
            + base[end + len(b"\nendstream"):base.index(b"xref\n0 ")])
    pdf = _rebuild_xref(body)
    assert (decode_pdf_page_image(pdf) == img).all()


def test_inherited_resources_from_pages_node():
    """/Resources may live on the /Pages ancestor, not the leaf /Page —
    inheritance must be honored (PDF 1.7 §7.7.3.4)."""
    img = _gradient(32, 48)
    pdf = encode_pdf_gray(img, codec="flate")
    # move the Resources dict from the page (obj 3) to the pages node
    # (obj 2) — offsets shift, so rebuild the xref by re-deriving it
    body = pdf[:pdf.index(b"xref\n")]
    res_at = body.index(b"/Resources")
    res_end = body.index(b"/Contents", res_at)
    res = body[res_at:res_end]
    body = body.replace(res, b"", 1)
    body = body.replace(b"/Kids [3 0 R] /Count 1",
                        b"/Kids [3 0 R] /Count 1 " + res.rstrip(), 1)
    assert (decode_pdf_page_image(_rebuild_xref(body)) == img).all()


def test_corrupt_pdfs_raise_valueerror():
    img = _gradient(32, 32)
    pdf = encode_pdf_gray(img, codec="flate")
    cases = {
        "not a pdf": b"plain text, no pdf here",
        "truncated": pdf[:120],
        "no startxref": pdf.replace(b"startxref", b"startxrfX"),
        "xref stream": pdf.replace(b"xref\n0 ", b"7 0 obj\n", 1),
        "bad length": pdf.replace(b"/Length ", b"/Length 9", 1),
    }
    for desc, broken in cases.items():
        with pytest.raises(ValueError):
            decode_pdf_page_image(broken)


def test_corrupt_flate_payload_is_loud():
    img = _gradient(32, 32)
    pdf = bytearray(encode_pdf_gray(img, codec="flate"))
    at = bytes(pdf).index(b"stream\n", bytes(pdf).index(b"4 0 obj"))
    pdf[at + 20] ^= 0xFF  # corrupt the zlib payload
    with pytest.raises((ValueError, zlib.error)):
        decode_pdf_page_image(bytes(pdf))


def test_nesting_bomb_is_valueerror_not_recursion():
    deep = b"[" * 200 + b"]" * 200
    pdf = (b"%PDF-1.4\n1 0 obj\n" + deep + b"\nendobj\n")
    xref_at = len(pdf)
    pdf += (b"xref\n0 2\n0000000000 65535 f \n"
            + b"0000000009 00000 n \n"
            + b"trailer\n<< /Size 2 /Root 1 0 R >>\nstartxref\n"
            + str(xref_at).encode() + b"\n%%EOF\n")
    with pytest.raises(ValueError, match="nesting|name"):
        decode_pdf_page_image(pdf)


def test_decode_media_real_pdf_metadata():
    """decode_media on a real scan PDF now reports REAL page dims (the
    application/pdf branch), not the digest stub."""
    from norsk_historisk_avis_ocr_spark.operators.multimodal import (
        decode_media, sniff_media_type,
    )
    img = _gradient(96, 128)
    pdf = encode_pdf_gray(img, codec="flate")
    assert sniff_media_type(pdf) == "application/pdf"
    meta = decode_media(pdf)
    assert (meta["width"], meta["height"]) == (128, 96)
    # malformed PDF degrades to the stub, never raises
    broken = pdf[:100]
    meta2 = decode_media(broken)
    assert meta2["width"] is not None


def test_pdf_pages_segment_end_to_end(spark):
    """pdf_pages_df → segment_image_pages: both payload arms decode with
    zero errors and produce full geometry (the contract-leg plumbing)."""
    from norsk_historisk_avis_ocr_spark.operators.raster import (
        segment_image_pages,
    )
    from norsk_historisk_avis_ocr_spark.sources.rasters import pdf_pages_df
    pages = pdf_pages_df(spark, "/root/testdata/sf0.001", limit=4,
                         partitions=2)
    rows = segment_image_pages(pages).collect()
    assert len(rows) == 4
    assert all(r.decode_error is None for r in rows)
    assert all(r.column_boxes for r in rows)


def test_multipage_pdf_roundtrip_and_count():
    pages = [_gradient(24 + 8 * i, 40) for i in range(3)]
    pdf = encode_pdf_pages(pages, codec="flate")
    assert pdf_page_count(pdf) == 3
    for i, img in enumerate(pages):
        assert (decode_pdf_page_image(pdf, page=i) == img).all()
    got = [decode() for decode in pdf_pages(pdf)]
    assert len(got) == 3
    assert all((a == b).all() for a, b in zip(got, pages))
    with pytest.raises(ValueError, match="no page 5"):
        decode_pdf_page_image(pdf, page=5)


def test_segment_issues_explodes_pdf_pages(spark):
    """1→N issue explosion: every page of a multi-page scan PDF becomes
    a geometry row; a corrupt issue quarantines as one page_index=-1 row
    without failing the task."""
    from norsk_historisk_avis_ocr_spark.operators.raster import (
        segment_issues,
    )
    from norsk_historisk_avis_ocr_spark.sources.rasters import (
        synth_page_array,
    )
    from norsk_historisk_avis_ocr_spark.stages.pdf import encode_pdf_pages
    issue = encode_pdf_pages(
        [synth_page_array(f"page-{i}", width=700, height=520)
         for i in range(2)], codec="flate")
    df = spark.createDataFrame(
        [("issue-1", bytearray(issue)),
         ("issue-bad", bytearray(b"%PDF-1.4 garbage no xref")),
         ("issue-null", None)],
        "issue_id string, payload binary")
    rows = {(r.issue_id, r.page_index): r
            for r in segment_issues(df).collect()}
    assert set(rows) == {("issue-1", 0), ("issue-1", 1), ("issue-bad", -1),
                         ("issue-null", -1)}
    assert rows[("issue-null", -1)].decode_error.startswith("TypeError")
    assert rows[("issue-null", -1)].boundaries is None
    assert rows[("issue-1", 0)].decode_error is None
    assert rows[("issue-1", 0)].column_boxes
    assert rows[("issue-1", 1)].decode_error is None
    assert "ValueError" in rows[("issue-bad", -1)].decode_error


def test_malformed_object_graphs_are_valueerror():
    """Untyped PDF values (a /Prev reference, a name-valued /Predictor,
    a non-dict trailer) must surface as ValueError — the quarantine
    contract — not TypeError/AttributeError escaping decode_media
    (code-review r4 finding)."""
    img = _gradient(16, 16)
    base = encode_pdf_gray(img, codec="flate")
    cases = [
        base.replace(b"/Root 1 0 R >>", b"/Root 1 0 R /Prev 1 0 R >>"),
        base.replace(b"/Predictor 15", b"/Predictor /Up"),
        base.replace(b"trailer\n<< /Size", b"trailer\n(junk) << /Size"),
    ]
    for broken in cases:
        with pytest.raises(ValueError):
            decode_pdf_page_image(broken)
    # and decode_media degrades to the stub (never raises)
    from norsk_historisk_avis_ocr_spark.operators.multimodal import (
        decode_media,
    )
    for broken in cases:
        assert decode_media(broken)["width"] is not None


def test_segment_scans_job_resumes(spark, tmp_path):
    """The generic-resume raster backfill: first run commits all pages,
    a re-run commits zero (done-marker semantics on page_id), lineage
    rows ride the commit — the reference's resume behavior applied to
    its raster input class."""
    import jobs.segment_scans as job
    out = str(tmp_path / "geo")
    lin = str(tmp_path / "lin")
    n1 = job.main(["--synthesize", "/root/testdata/sf0.001",
                   "--format", "png", "--limit", "12",
                   "--partitions", "4", "--output", out,
                   "--lineage", lin])
    assert n1 == 12
    n2 = job.main(["--synthesize", "/root/testdata/sf0.001",
                   "--format", "png", "--limit", "12",
                   "--partitions", "4", "--output", out,
                   "--lineage", lin])
    assert n2 == 0
    geo = spark.read.parquet(out)
    assert geo.count() == 12
    assert geo.filter("decode_error is not null").count() == 0
    assert {r.page_id for r in geo.select("page_id").collect()} == \
        {f"page-{i}" for i in range(12)}
    lineage = spark.read.parquet(lin)
    assert lineage.agg({"n_urls": "sum"}).first()[0] == 12
    # one lineage file per committing pass (the re-run committed nothing)
    assert len([f for f in os.listdir(lin) if f.endswith(".parquet")]) == 1


def _splice_image_dict(pdf: bytes, extra: bytes) -> bytes:
    """Insert ``extra`` into the page-image XObject's dict (object 4)
    and rebuild the xref (offsets shift)."""
    body = pdf[:pdf.index(b"xref\n0 ")]
    at = body.index(b"/Subtype /Image")
    body = body[:at] + extra + b" " + body[at:]
    return _rebuild_xref(body)


def test_decode_array_and_masks_quarantine():
    """/Decode [1 0] would silently invert polarity, /ImageMask is a
    stencil, /SMask drops alpha — all must raise, not mis-decode
    (ADVICE r4). The DEFAULT /Decode [0 1] must still decode."""
    img = _gradient(24, 40)
    pdf = encode_pdf_gray(img, codec="flate")
    with pytest.raises(ValueError, match="/Decode"):
        decode_pdf_page_image(_splice_image_dict(pdf, b"/Decode [1 0]"))
    with pytest.raises(ValueError, match="ImageMask"):
        decode_pdf_page_image(_splice_image_dict(pdf, b"/ImageMask true"))
    with pytest.raises(ValueError, match="SMask"):
        decode_pdf_page_image(_splice_image_dict(pdf, b"/SMask 9 0 R"))
    # explicit default Decode is fine (and floats compare equal to ints)
    ok = _splice_image_dict(pdf, b"/Decode [0.0 1.0]")
    assert (decode_pdf_page_image(ok) == img).all()
    # DCT arm enforces the same contract
    pdfj = encode_pdf_gray(img, codec="jpeg")
    with pytest.raises(ValueError, match="/Decode"):
        decode_pdf_page_image(_splice_image_dict(pdfj, b"/Decode [1 0]"))


def test_incremental_update_frees_object():
    """An incremental-update xref section that marks an object free must
    shadow the older section's 'n' entry — the freed object stays
    deleted instead of being resurrected from its stale offset
    (ADVICE r4)."""
    img = _gradient(24, 40)
    pdf = encode_pdf_gray(img, codec="flate")
    assert (decode_pdf_page_image(pdf) == img).all()
    orig_xref_at = pdf.index(b"xref\n0 ")
    upd = (pdf + b"xref\n4 1\n0000000000 65535 f \n"
           + b"trailer\n<< /Size 6 /Root 1 0 R /Prev "
           + str(orig_xref_at).encode() + b" >>\nstartxref\n"
           + str(len(pdf)).encode() + b"\n%%EOF\n")
    with pytest.raises(ValueError):
        decode_pdf_page_image(upd)


def test_xref_stream_roundtrips():
    """PDF 1.5 cross-reference streams — the post-2005 layout poppler
    reads for the reference (tesseract_engine.py:133-142) — decode
    byte-exactly: plain, PNG-Up-predicted, and /ObjStm-packed (type-2
    entries), single- and multi-page."""
    img = _gradient(60, 90)
    img2 = _gradient(44, 90)
    for kw in ({"xref": "stream"},
               {"xref": "stream", "xref_predictor": True},
               {"xref": "stream", "objstm": True},
               {"xref": "stream", "objstm": True, "xref_predictor": True}):
        pdf = encode_pdf_pages([img, img2], **kw)
        assert pdf_page_count(pdf) == 2, kw
        pages = [decode() for decode in pdf_pages(pdf)]
        assert (pages[0] == img).all() and (pages[1] == img2).all(), kw
    # DCT arm through an ObjStm-packed graph
    pdfj = encode_pdf_gray(img, codec="jpeg", xref="stream", objstm=True)
    want = decode_jpeg_gray(encode_jpeg_gray(img, quality=97))
    assert (decode_pdf_page_image(pdfj) == want).all()


def test_xref_stream_index_subsections():
    """/Index may split the entry space into subsections; same entries,
    same body order, explicit starts."""
    img = _gradient(24, 40)
    pdf = encode_pdf_gray(img, xref="stream", objstm=True)
    # the encoder's default covers [0, Size); splitting it into two
    # contiguous subsections keeps the identical body valid
    at = pdf.index(b"/W [1 4 2]")
    import re as _re
    m = _re.search(rb"/Size (\d+)", pdf)
    n = int(m.group(1))
    patched = (pdf[:at] + b"/Index [0 3 3 " + str(n - 3).encode() + b"] "
               + pdf[at:])
    assert (decode_pdf_page_image(patched) == img).all()


def test_hybrid_xrefstm():
    """Hybrid files: a classic table whose trailer /XRefStm points at
    the stream twin holding the ObjStm (type-2) entries — both chains
    must be consulted, stream after the classic section."""
    img = _gradient(24, 40)
    pdf = encode_pdf_gray(img, xref="stream", objstm=True)
    stream_xref_at = int(pdf[pdf.rindex(b"startxref\n") + 10:
                             pdf.rindex(b"\n%%EOF")].strip())
    import re as _re
    n = int(_re.search(rb"/Size (\d+)", pdf).group(1))
    body = pdf[:pdf.rindex(b"startxref\n")]
    classic_at = len(body)
    hybrid = (body + b"xref\n0 1\n0000000000 65535 f \n"
              + b"trailer\n<< /Size " + str(n).encode()
              + b" /Root 1 0 R /XRefStm " + str(stream_xref_at).encode()
              + b" >>\nstartxref\n" + str(classic_at).encode()
              + b"\n%%EOF\n")
    assert (decode_pdf_page_image(hybrid) == img).all()


def test_xref_stream_free_entry_shadows():
    """A newer xref-stream section's type-0 (free) entry must shadow the
    older section's in-use entry — same deletion semantics as classic
    incremental updates."""
    import zlib as _z
    img = _gradient(24, 40)
    pdf = encode_pdf_gray(img, xref="stream")
    old_xref_at = int(pdf[pdf.rindex(b"startxref\n") + 10:
                          pdf.rindex(b"\n%%EOF")].strip())
    import re as _re
    n = int(_re.search(rb"/Size (\d+)", pdf).group(1))
    # new section: object 4 (the image) freed
    rows = bytes([0, 0, 0, 0, 0, 0xFF, 0xFF])
    content = _z.compress(rows)
    upd_at = len(pdf)
    upd = (str(n).encode() + b" 0 obj\n<< /Type /XRef /Size "
           + str(n + 1).encode() + b" /W [1 4 2] /Index [4 1] /Root 1 0 R"
           + b" /Prev " + str(old_xref_at).encode()
           + b" /Filter /FlateDecode /Length "
           + str(len(content)).encode() + b" >>\nstream\n" + content
           + b"\nendstream\nendobj\n")
    full = (pdf + upd + b"startxref\n" + str(upd_at).encode()
            + b"\n%%EOF\n")
    with pytest.raises(ValueError):
        decode_pdf_page_image(full)


def test_xref_stream_malformed_is_loud():
    img = _gradient(16, 16)
    pdf = encode_pdf_gray(img, xref="stream")
    # bad /W widths
    with pytest.raises(ValueError, match="/W"):
        decode_pdf_page_image(pdf.replace(b"/W [1 4 2]", b"/W [1 4 9]"))
    # truncated stream payload: shorten Length -> zlib/short-body error
    with pytest.raises(ValueError):
        decode_pdf_page_image(pdf.replace(b"/W [1 4 2]",
                                          b"/W [1 4 2] /Index [0 999]"))
    # encrypted documents quarantine loudly
    enc = encode_pdf_gray(img)
    body = enc[:enc.index(b"xref\n0 ")]
    with pytest.raises(ValueError, match="encrypted"):
        decode_pdf_page_image(_rebuild_xref(body).replace(
            b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R"))


def test_multi_filter_chains_roundtrip():
    """/Filter arrays ([/ASCIIHexDecode|/ASCII85Decode, /FlateDecode|
    /DCTDecode]) — older scan-export armor — decode exactly; aligned
    /DecodeParms arrays (null for the armor layer) honored."""
    img = _gradient(40, 60)
    want_jpeg = decode_jpeg_gray(encode_jpeg_gray(img, quality=97))
    for codec in ("flate", "jpeg"):
        for armor in ("hex", "a85"):
            for pred in (True, False):
                pdf = encode_pdf_gray(img, codec=codec, predictor=pred,
                                      armor=armor)
                out = decode_pdf_page_image(pdf)
                want = img if codec == "flate" else want_jpeg
                assert (out == want).all(), (codec, armor, pred)
    # whitespace inside the armor body is ignored (streams wrap lines)
    pdf = encode_pdf_gray(img, codec="flate", predictor=False,
                          armor="hex")
    at = pdf.index(b"stream\n", pdf.index(b"/ASCIIHexDecode"))
    insert = at + len(b"stream\n") + 10
    spaced = pdf[:insert] + b"\n \t" + pdf[insert:]
    # Length now disagrees -> rebuild with the patched stream length
    spaced = spaced.replace(
        b"/Length " + str(pdf.index(b"\nendstream", at) - at
                          - len(b"stream\n")).encode(),
        b"/Length " + str(pdf.index(b"\nendstream", at) - at
                          - len(b"stream\n") + 3).encode())
    body = spaced[:spaced.index(b"xref\n0 ")]
    assert (decode_pdf_page_image(_rebuild_xref(body)) == img).all()


def test_unknown_filter_chain_is_loud():
    img = _gradient(16, 16)
    pdf = encode_pdf_gray(img, codec="flate", predictor=False,
                          armor="hex")
    bad = pdf.replace(b"/ASCIIHexDecode", b"/RunLengthDecode")
    with pytest.raises(ValueError, match="filter"):
        decode_pdf_page_image(bad)
    # corrupt armor bodies quarantine
    bad85 = encode_pdf_gray(img, codec="flate", predictor=False,
                            armor="a85")
    at = bad85.index(b"stream\n", bad85.index(b"/ASCII85Decode")) + 7
    glitched = bad85[:at] + b"\xff\xff" + bad85[at + 2:]
    with pytest.raises(ValueError):
        decode_pdf_page_image(glitched)


def _ccitt_pdf(img01, *, k, eol=False, align=False, black1=False,
               payload=None):
    """Minimal one-page PDF whose image XObject is CCITTFaxDecode data
    built with the test-local T.4/T.6 encoders from test_tiff."""
    from test_tiff import (
        _encode_1d_row, _g3_encode, _g4_encode, _pack_bitstring,
    )
    h, w = img01.shape
    if payload is None:
        if k < 0:
            payload = _g4_encode(img01, w)
        elif k == 0 and eol:
            payload = _g3_encode(img01, w)
        elif k == 0 and align:
            bits = []
            for row in img01:
                n = sum(len(b) for b in bits)
                bits.append("0" * ((-n) % 8))
                _encode_1d_row(bits, row, w)
            payload = _pack_bitstring("".join(bits))
        elif k == 0:
            bits = []
            for row in img01:
                _encode_1d_row(bits, row, w)
            payload = _pack_bitstring("".join(bits))
        else:
            payload = _g3_encode(img01, w, two_dim=True)
    parms = (b"<< /K " + str(k).encode() + b" /Columns " + str(w).encode()
             + b" /Rows " + str(h).encode()
             + (b" /EndOfLine true" if eol else b"")
             + (b" /EncodedByteAlign true" if align else b"")
             + (b" /BlackIs1 true" if black1 else b"") + b" >>")
    base = encode_pdf_gray(np.zeros((h, w), dtype=np.uint8))
    start = base.index(b"4 0 obj")
    end = base.index(b"endobj", start) + len(b"endobj\n")
    newobj = (b"4 0 obj\n<< /Type /XObject /Subtype /Image /Width "
              + str(w).encode() + b" /Height " + str(h).encode()
              + b" /ColorSpace /DeviceGray /BitsPerComponent 1"
              + b" /Filter /CCITTFaxDecode /DecodeParms " + parms
              + b" /Length " + str(len(payload)).encode()
              + b" >>\nstream\n" + payload + b"\nendstream\nendobj\n")
    body = base[:start] + newobj + base[end:base.index(b"xref\n0 ")]
    return _rebuild_xref(body)


def test_ccitt_fax_decode_all_codings():
    """CCITTFaxDecode — the scanned-archive bilevel filter (PDF 7.4.6) —
    decodes via the shared TIFF CCITT machinery: G4 (K<0), G3 1-D with
    EOLs, byte-aligned MH, continuous MH (the K=0 default), and G3 2-D;
    BlackIs1 flips the sample space faithfully."""
    rng = np.random.default_rng(21)
    img01 = rng.integers(0, 2, size=(12, 70)).astype(np.uint8)
    want = (1 - img01) * 255  # BlackIs1 false: black run -> sample 0
    cases = [dict(k=-1), dict(k=0, eol=True), dict(k=0, align=True),
             dict(k=0), dict(k=4, eol=True)]
    for kw in cases:
        out = decode_pdf_page_image(_ccitt_pdf(img01, **kw))
        assert (out == want).all(), kw
    # BlackIs1 true: black runs are 1 samples -> DeviceGray 255
    out = decode_pdf_page_image(_ccitt_pdf(img01, k=-1, black1=True))
    assert (out == img01 * 255).all()


def test_ccitt_fax_decode_loud_cases():
    img01 = np.ones((6, 40), dtype=np.uint8)
    # 2-D without EOL framing is unsupported -> loud
    from test_tiff import _g3_encode
    payload = _g3_encode(img01, 40, two_dim=True)
    with pytest.raises(ValueError, match="EOL framing"):
        decode_pdf_page_image(_ccitt_pdf(img01, k=4, payload=payload))
    # Columns/Rows disagreement is loud
    bad = _ccitt_pdf(img01, k=-1).replace(b"/Columns 40", b"/Columns 48")
    with pytest.raises(ValueError):
        decode_pdf_page_image(bad)
    # truncated payload is loud
    with pytest.raises(ValueError):
        decode_pdf_page_image(_ccitt_pdf(img01, k=-1, payload=b"\x01\x02"))


def test_lzw_and_runlength_filters_roundtrip():
    """LZWDecode (the TIFF LZW decoder reused — same MSB-first
    early-change coding) and RunLengthDecode image streams decode
    exactly, with and without PNG predictors; repeat runs and loud
    truncation covered."""
    img = _gradient(40, 60)
    for codec in ("lzw", "rle"):
        for pred in (True, False):
            pdf = encode_pdf_gray(img, codec=codec, predictor=pred)
            assert (decode_pdf_page_image(pdf) == img).all(), (codec, pred)
    # repeat-run RLE: a constant image hand-encoded with 257-l runs
    const = np.full((8, 16), 0x5A, dtype=np.uint8)
    n = const.size
    payload = bytearray()
    left = n
    while left:
        take = min(left, 128)
        payload += bytes([257 - take, 0x5A])
        left -= take
    payload.append(128)
    from norsk_historisk_avis_ocr_spark.stages.pdf import _runlength_decode
    assert _runlength_decode(bytes(payload)) == const.tobytes()
    base = encode_pdf_gray(const, codec="rle", predictor=False)
    old = base[base.index(b"stream\n", base.index(b"4 0 obj"))
               + 7:base.index(b"\nendstream", base.index(b"4 0 obj"))]
    body = base[:base.index(b"xref\n0 ")] \
        .replace(old, bytes(payload)) \
        .replace(b"/Length " + str(len(old)).encode(),
                 b"/Length " + str(len(payload)).encode())
    assert (decode_pdf_page_image(_rebuild_xref(body)) == const).all()
    # truncation is loud
    with pytest.raises(ValueError):
        _runlength_decode(b"\x05ab")
    with pytest.raises(ValueError):
        _runlength_decode(b"\x81")
    # LZW EarlyChange=0 quarantines
    pdfl = encode_pdf_gray(img, codec="lzw", predictor=True)
    spliced = pdfl.replace(b"/Predictor 15",
                           b"/EarlyChange 0 /Predictor 15")
    bad = _rebuild_xref(spliced[:spliced.index(b"xref\n0 ")])
    with pytest.raises(ValueError, match="EarlyChange"):
        decode_pdf_page_image(bad)


def test_objstm_cycle_is_valueerror():
    """A type-2 xref entry pointing an ObjStm at itself must be the
    quarantine ValueError, not a RecursionError escaping the task
    (review r5)."""
    import zlib as _z
    img = _gradient(16, 16)
    pdf = encode_pdf_gray(img, xref="stream", objstm=True)
    # rewrite the xref stream: map object 1 as type-2 into ObjStm 1
    import re as _re
    n = int(_re.search(rb"/Size (\d+)", pdf).group(1))
    rows = bytearray()
    rows += bytes([0, 0, 0, 0, 0, 0xFF, 0xFF])          # obj 0 free
    rows += bytes([2]) + (1).to_bytes(4, "big") + (0).to_bytes(2, "big")
    for _ in range(2, n):
        rows += bytes([0, 0, 0, 0, 0, 0, 0])
    content = _z.compress(bytes(rows))
    xref_at = len(pdf)
    obj = (str(n).encode() + b" 0 obj\n<< /Type /XRef /Size "
           + str(n + 1).encode() + b" /W [1 4 2] /Root 1 0 R"
           + b" /Filter /FlateDecode /Length "
           + str(len(content)).encode() + b" >>\nstream\n" + content
           + b"\nendstream\nendobj\n")
    evil = pdf + obj + b"startxref\n" + str(xref_at).encode() + b"\n%%EOF\n"
    with pytest.raises(ValueError):
        decode_pdf_page_image(evil)


def test_ccitt_g4_byte_align_is_loud():
    """/K -1 with /EncodedByteAlign is framing we do not model — loud,
    like the K>0 branch (review r5)."""
    img01 = np.ones((4, 24), dtype=np.uint8)
    pdf = _ccitt_pdf(img01, k=-1, align=True)
    with pytest.raises(ValueError, match="EncodedByteAlign"):
        decode_pdf_page_image(pdf)


def test_armor_with_non_armorable_codec_is_valueerror():
    img = _gradient(8, 8)
    for codec in ("lzw", "rle", "ccitt"):
        with pytest.raises(ValueError, match="armor"):
            encode_pdf_gray(img, codec=codec, armor="hex")


def test_quarantine_contract_under_corruption():
    """Hypothesis fuzz of the ValueError-only quarantine contract:
    arbitrary byte corruptions of valid PDFs (every xref layout and
    codec arm) must either decode or raise ValueError — never any other
    exception class (a RecursionError/struct.error/IndexError escaping
    here would fail a whole Spark task on one bad document)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    img = _gradient(24, 32)
    bases = [
        encode_pdf_gray(img),
        encode_pdf_gray(img, codec="jpeg", xref="stream", objstm=True),
        encode_pdf_gray(img, codec="lzw", xref="stream",
                        xref_predictor=True),
        encode_pdf_gray(img, codec="ccitt"),
        encode_pdf_gray(img, codec="flate", armor="a85"),
    ]

    @settings(max_examples=120, deadline=None)
    @given(base=st.integers(0, len(bases) - 1),
           edits=st.lists(st.tuples(st.integers(0, 10**9),
                                    st.integers(0, 255)),
                          min_size=1, max_size=8))
    def corrupt(base, edits):
        data = bytearray(bases[base])
        for pos, val in edits:
            data[pos % len(data)] = val
        try:
            out = decode_pdf_page_image(bytes(data))
            assert out.ndim == 2
        except ValueError:
            pass  # the quarantine contract

    corrupt()
