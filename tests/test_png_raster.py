"""Stdlib PNG codec + PNG→geometry raster path + deterministic raster
source (the reference's native input class: encoded page in, geometry out,
``engines/tesseract_engine.py:133-144``)."""

import struct
import zlib

import numpy as np
import pytest

from norsk_historisk_avis_ocr_spark.stages.png import (
    _SIGNATURE, _chunk, decode_png, encode_png, to_grayscale,
)


def test_png_roundtrip_gray_and_rgb():
    rng = np.random.default_rng(7)
    g = rng.integers(0, 256, size=(23, 17), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(g)), g)
    c = rng.integers(0, 256, size=(11, 9, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(c)), c)


def _filter_scanlines(img, ch, ftypes):
    """Apply PNG scanline filters (the encoder side our writer skips) so
    the decoder's defilter paths 1-4 get exercised against ground truth."""
    h = img.shape[0]
    stride = img.reshape(h, -1).shape[1]
    flat = img.reshape(h, stride).astype(np.int16)
    out = bytearray()
    prior = np.zeros(stride, dtype=np.int16)
    for y, f in zip(range(h), ftypes):
        row = flat[y]
        enc = np.zeros(stride, dtype=np.int16)
        for x in range(stride):
            a = int(row[x - ch]) if x >= ch else 0
            b = int(prior[x])
            c = int(prior[x - ch]) if x >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else \
                    (b if pb <= pc else c)
            enc[x] = (row[x] - pred) % 256
        out.append(f)
        out.extend(enc.astype(np.uint8).tobytes())
        prior = row
    return bytes(out)


@pytest.mark.parametrize("shape,ctype,ch", [((9, 7), 0, 1), ((8, 6, 3), 2, 3)])
def test_png_decode_all_filter_types(shape, ctype, ch):
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=shape, dtype=np.uint8)
    ftypes = [0, 1, 2, 3, 4, 0, 3, 4, 1][:shape[0]]
    raw = _filter_scanlines(img, ch, ftypes)
    ihdr = struct.pack(">IIBBBBB", shape[1], shape[0], 8, ctype, 0, 0, 0)
    png = (_SIGNATURE + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b""))
    assert np.array_equal(decode_png(png), img)


def test_png_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(st.integers(1, 40), st.integers(1, 40), st.booleans(),
           st.integers(0, 2**32 - 1))
    def roundtrip(h, w, rgb, seed):
        rng = np.random.default_rng(seed)
        shape = (h, w, 3) if rgb else (h, w)
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(img)), img)

    roundtrip()


def test_png_rejects_unsupported():
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"not a png at all")
    ihdr = struct.pack(">IIBBBBB", 4, 4, 4, 2, 0, 0, 0)  # sub-byte RGB
    png = _SIGNATURE + _chunk(b"IHDR", ihdr) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="unsupported"):
        decode_png(png)
    ihdr16p = struct.pack(">IIBBBBB", 4, 4, 16, 3, 0, 0, 0)  # 16-bit palette
    png = _SIGNATURE + _chunk(b"IHDR", ihdr16p) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="unsupported"):
        decode_png(png)
    # a supported header with a corrupt/empty IDAT stream must still be
    # the quarantine ValueError, not a zlib.error escaping the contract
    ihdr1 = struct.pack(">IIBBBBB", 4, 4, 1, 0, 0, 0, 0)
    png = _SIGNATURE + _chunk(b"IHDR", ihdr1) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="corrupt PNG"):
        decode_png(png)


def test_grayscale_matches_pil_luma_formula():
    rng = np.random.default_rng(3)
    rgb = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
    r, g, b = (rgb[..., i].astype(int) for i in range(3))
    expect = ((19595 * r + 38470 * g + 7471 * b + 0x8000) >> 16)
    assert np.array_equal(to_grayscale(rgb), expect.astype(np.uint8))
    gray = rng.integers(0, 256, size=(5, 4), dtype=np.uint8)
    assert to_grayscale(gray) is gray


def test_decode_media_corrupt_png_degrades_to_stub():
    from norsk_historisk_avis_ocr_spark.operators.multimodal import (
        decode_media,
    )
    good = encode_png(np.zeros((8, 8), dtype=np.uint8))
    # corrupt the IDAT payload (zlib.error) and truncate the IHDR
    # (struct.error): both must fall through to the stub, not raise
    corrupt_idat = good[:40] + b"\x00" * 20 + good[60:]
    truncated = good[:20]
    for bad in (corrupt_idat, truncated):
        meta = decode_media(bad)
        assert len(meta["features"]) == 16 and meta["width"] >= 256


def test_decode_media_real_png_dimensions_and_histogram():
    from norsk_historisk_avis_ocr_spark.operators.multimodal import (
        decode_media,
    )
    img = np.full((40, 60), 255, dtype=np.uint8)
    img[:20] = 10  # half dark, half light
    meta = decode_media(encode_png(img))
    assert (meta["width"], meta["height"], meta["n_frames"]) == (60, 40, 1)
    feats = np.array(meta["features"])
    assert len(feats) == 16
    assert np.isclose(np.sqrt((feats ** 2).sum()), 1.0)
    # mass sits in bins 0 (value 10) and 15 (value 255), equally
    assert feats[0] == pytest.approx(feats[15])
    assert feats[0] > 0.7 and feats[1:15].sum() == 0


def test_segment_image_pages_matches_local(spark):
    from norsk_historisk_avis_ocr_spark.operators.raster import (
        segment_image_pages,
    )
    from norsk_historisk_avis_ocr_spark.sources.rasters import (
        synth_page_array,
    )
    from norsk_historisk_avis_ocr_spark.stages.layout import (
        split_columns_geometry,
    )
    pids = [f"png-{i}" for i in range(4)]
    rows = [(p, bytearray(encode_png(synth_page_array(p)))) for p in pids]
    df = spark.createDataFrame(rows, "page_id string, png binary")
    got = {r.page_id: r for r in segment_image_pages(df).collect()}
    for p in pids:
        local = split_columns_geometry(synth_page_array(p))
        assert got[p].decode_error is None
        assert got[p].boundaries == local["boundaries"]
        assert got[p].body_top == local["body_top"]


def test_segment_image_pages_quarantines_bad_payload(spark):
    from norsk_historisk_avis_ocr_spark.operators.raster import (
        segment_image_pages,
    )
    df = spark.createDataFrame(
        [("bad", bytearray(b"\x89PNG\r\n\x1a\nGARBAGE")), ("null", None)],
        "page_id string, png binary")
    rows = {r.page_id: r for r in segment_image_pages(df).collect()}
    assert set(rows) == {"bad", "null"}
    for r in rows.values():
        assert r.decode_error is not None
        assert r.boundaries is None and r.body_top is None
        assert r.title_box is None and r.column_boxes is None
    assert rows["null"].decode_error.startswith("TypeError")


def test_raster_pages_df_deterministic(spark, sf_dir):
    from norsk_historisk_avis_ocr_spark.sources.rasters import (
        raster_pages_df,
    )
    a = {r.page_id: bytes(r.png)
         for r in raster_pages_df(spark, sf_dir, limit=6).collect()}
    b = {r.page_id: bytes(r.png)
         for r in raster_pages_df(spark, sf_dir, limit=6, partitions=3)
         .collect()}
    assert a == b and len(a) == 6
    arr = decode_png(next(iter(a.values())))
    assert arr.shape == (1100, 1460)


def _gradient(h, w):
    y = np.arange(h).reshape(-1, 1)
    x = np.arange(w).reshape(1, -1)
    return ((y * 7 + x * 3) % 256).astype(np.uint8)


_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _encode_interlaced(arr, color_type, plte=None):
    """Hand-build an Adam7-interlaced PNG (filter-0 rows per pass)."""
    import struct
    import zlib
    h, w = arr.shape[:2]
    ch = 1 if arr.ndim == 2 else arr.shape[2]
    a3 = arr.reshape(h, w, ch)
    raw = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        sub = a3[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        for row in sub:
            raw += b"\x00" + row.tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 1)
    out = b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
    if plte is not None:
        out += _chunk(b"PLTE", plte.tobytes())
    return out + _chunk(b"IDAT", zlib.compress(bytes(raw))) \
        + _chunk(b"IEND", b"")


@pytest.mark.parametrize("shape", [(32, 48), (7, 5), (1, 1), (9, 16)])
def test_adam7_interlaced_gray_roundtrip(shape):
    """Adam7 passes defilter independently and scatter back exactly —
    odd dims exercise empty passes (which carry NO bytes at all)."""
    img = _gradient(*shape)
    assert (decode_png(_encode_interlaced(img, 0)) == img).all()


def test_adam7_interlaced_rgb_roundtrip():
    h, w = 21, 13
    g = _gradient(h, w)
    rgb = np.stack([g, (g + 50) % 256, 255 - g], axis=-1).astype(np.uint8)
    assert (decode_png(_encode_interlaced(rgb, 2)) == rgb).all()


def test_palette_png_decodes_to_rgb():
    """color_type 3: indices map through PLTE to RGB (common web PNGs)."""
    import struct
    import zlib
    plte = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 128],
                     [200, 200, 200]], dtype=np.uint8)
    idx = (np.indices((10, 12)).sum(axis=0) % 4).astype(np.uint8)
    raw = b"".join(b"\x00" + row.tobytes() for row in idx)
    data = (b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", 12, 10, 8, 3, 0, 0, 0))
            + _chunk(b"PLTE", plte.tobytes())
            + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b""))
    out = decode_png(data)
    assert out.shape == (10, 12, 3)
    assert (out == plte[idx]).all()
    # interlaced palette combo
    out2 = decode_png(_encode_interlaced(idx, 3, plte=plte))
    assert (out2 == plte[idx]).all()
    # grayscale conversion path works on the palette output
    from norsk_historisk_avis_ocr_spark.stages.png import to_grayscale
    assert to_grayscale(out).shape == (10, 12)


def test_palette_png_malformed_is_loud():
    import struct
    import zlib
    plte = np.array([[1, 2, 3]], dtype=np.uint8)
    idx = np.full((4, 4), 3, dtype=np.uint8)  # index beyond the palette
    raw = b"".join(b"\x00" + row.tobytes() for row in idx)
    base = (b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 3, 0, 0, 0)))
    with pytest.raises(ValueError, match="palette index"):
        decode_png(base + _chunk(b"PLTE", plte.tobytes())
                   + _chunk(b"IDAT", zlib.compress(raw))
                   + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="missing PLTE"):
        decode_png(base + _chunk(b"IDAT", zlib.compress(raw))
                   + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(base + _chunk(b"PLTE", b"\x01\x02")  # not a multiple of 3
                   + _chunk(b"IDAT", zlib.compress(raw))
                   + _chunk(b"IEND", b""))


def test_16bit_gray_high_byte():
    """16-bit gray decodes via the high byte (PIL's I;16 → L view);
    works interlaced too."""
    import zlib
    hi = _gradient(9, 7)
    # numpy ops drop explicit byte order — cast back to big-endian LAST
    samples = ((hi.astype(np.uint16) << 8) | 0x42).astype(">u2")
    raw = b"".join(b"\x00" + row.tobytes() for row in samples)
    ihdr = struct.pack(">IIBBBBB", 7, 9, 16, 0, 0, 0, 0)
    data = (_SIGNATURE + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b""))
    assert (decode_png(data) == hi).all()


def _subbyte_png(samples, depth, color_type=0, plte=None, up_filter=False):
    """Hand-build a 1/2/4-bit PNG: pack MSB-first fields per row, filter
    0 (or Up on the byte grid) scanlines."""
    import struct
    import zlib as _z
    h, w = samples.shape
    rb = (w * depth + 7) // 8
    k = 8 // depth
    padded = np.zeros((h, rb * k), dtype=np.uint8)
    padded[:, :w] = samples
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    bits = ((padded.reshape(h, rb * k, 1)
             >> (depth - 1 - np.arange(depth))) & 1).astype(np.uint8)
    packed = np.packbits(bits.reshape(h, rb * 8), axis=1)
    raw = bytearray()
    prior = np.zeros(rb, dtype=np.int16)
    for y in range(h):
        if up_filter and y % 2:
            raw += bytes([2]) + ((packed[y].astype(np.int16) - prior)
                                 % 256).astype(np.uint8).tobytes()
        else:
            raw += bytes([0]) + packed[y].tobytes()
        prior = packed[y].astype(np.int16)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, 0)
    out = _SIGNATURE + _chunk(b"IHDR", ihdr)
    if plte is not None:
        out += _chunk(b"PLTE", plte.astype(np.uint8).tobytes())
    out += _chunk(b"IDAT", _z.compress(bytes(raw), 6)) + _chunk(b"IEND", b"")
    return out


def test_subbyte_gray_and_palette_pngs():
    """1/2/4-bit PNGs (the bilevel archive-scan shape): MSB-first field
    unpack per defiltered row; gray scales to the PIL 0-255 view,
    palette indexes PLTE; Up-filtered byte rows and non-multiple widths
    covered."""
    rng = np.random.default_rng(31)
    for depth in (1, 2, 4):
        maxv = (1 << depth) - 1
        for w in (13, 16, 37):  # non-multiples exercise row padding
            img = rng.integers(0, maxv + 1, size=(9, w)).astype(np.uint8)
            png = _subbyte_png(img, depth)
            assert (decode_png(png) == img * (255 // maxv)).all(), (depth, w)
            png_up = _subbyte_png(img, depth, up_filter=True)
            assert (decode_png(png_up) == img * (255 // maxv)).all()
        # palette at this depth
        plte = rng.integers(0, 256, size=(maxv + 1, 3)).astype(np.uint8)
        idx = rng.integers(0, maxv + 1, size=(7, 19)).astype(np.uint8)
        png_p = _subbyte_png(idx, depth, color_type=3, plte=plte)
        assert (decode_png(png_p) == plte[idx]).all(), depth
    # out-of-range palette index is loud
    short_plte = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
    idx = np.full((4, 8), 3, dtype=np.uint8)
    with pytest.raises(ValueError, match="palette index"):
        decode_png(_subbyte_png(idx, 2, color_type=3, plte=short_plte))
    # sub-byte RGB stays unsupported -> loud
    with pytest.raises(ValueError, match="unsupported PNG"):
        decode_png(_subbyte_png(idx, 2, color_type=2, plte=None))
