"""Progressive (SOF2) JPEG — grayscale AND 3-component color: every
scan kind exercised and pinned EXACT against the baseline decoders on
identically-quantized coefficients (the reference gets progressive free
from PIL/libjpeg; ``stages/jpeg_progressive.py`` decodes both classes
for real)."""

import numpy as np
import pytest

from norsk_historisk_avis_ocr_spark.stages.jpeg import (
    decode_jpeg_gray, encode_jpeg_gray,
)
from norsk_historisk_avis_ocr_spark.stages.jpeg_progressive import (
    encode_jpeg_progressive,
)


def _gradient(h, w):
    y = np.arange(h).reshape(-1, 1)
    x = np.arange(w).reshape(1, -1)
    return ((y * 3 + x * 5) % 256).astype(np.uint8)


_SINGLE = ((0, 0, 0, 0), (1, 63, 0, 0))
_DEEP = ((0, 0, 0, 2), (1, 5, 0, 3), (6, 63, 0, 3), (1, 63, 3, 2),
         (1, 63, 2, 1), (1, 63, 1, 0), (0, 0, 2, 1), (0, 0, 1, 0))


@pytest.mark.parametrize("quality", [95, 75, 40])
@pytest.mark.parametrize("script", [None, _SINGLE, _DEEP],
                         ids=["default", "single-band", "deep-ssa"])
def test_progressive_equals_baseline_exact(quality, script):
    """Same quantized coefficients → progressive decode must equal the
    baseline decode byte-for-byte, for every scan script."""
    rng = np.random.default_rng(3)
    imgs = [
        _gradient(64, 96), _gradient(33, 41),
        rng.integers(0, 256, size=(56, 72)).astype(np.uint8),   # dense
        np.full((64, 64), 200, dtype=np.uint8),                 # EOB runs
        np.pad(np.full((8, 8), 255, np.uint8), ((28, 28), (28, 28))),
    ]
    kw = {} if script is None else {"script": script}
    for img in imgs:
        want = decode_jpeg_gray(encode_jpeg_gray(img, quality=quality))
        got = decode_jpeg_gray(
            encode_jpeg_progressive(img, quality=quality, **kw))
        assert np.array_equal(got, want)


def test_progressive_through_baseline_entry_point():
    """decode_jpeg_gray must dispatch SOF2 streams to the progressive
    decoder (no caller-visible difference)."""
    img = _gradient(48, 64)
    data = encode_jpeg_progressive(img, quality=90)
    assert b"\xff\xc2" in data
    want = decode_jpeg_gray(encode_jpeg_gray(img, quality=90))
    assert np.array_equal(decode_jpeg_gray(data), want)


def test_progressive_through_raster_dispatch():
    """decode_payload_gray (the segment/vision path) now handles
    progressive page payloads."""
    from norsk_historisk_avis_ocr_spark.operators.raster import (
        decode_payload_gray,
    )
    img = _gradient(48, 64)
    got = decode_payload_gray(encode_jpeg_progressive(img, quality=90))
    assert got.shape == (48, 64)


def _rgb_gradient(h, w):
    y = np.arange(h).reshape(-1, 1)
    x = np.arange(w).reshape(1, -1)
    return np.stack([(y * 3 + x * 5) % 256, (y * 2 + x * 7) % 256,
                     (y * 5 + x * 2) % 256], axis=-1).astype(np.uint8)


@pytest.mark.parametrize("sampling", [(1, 1), (2, 2), (2, 1), (1, 2)])
def test_progressive_color_equals_baseline_color(sampling):
    """Progressive 3-component decode must equal the baseline color
    decode byte-for-byte: shared forward pipeline, interleaved DC scans,
    per-component AC scans over each component's own (unpadded) block
    grid — odd dims exercise the padded-vs-component grid mapping."""
    from norsk_historisk_avis_ocr_spark.stages.jpeg import (
        decode_jpeg_rgb, encode_jpeg_color,
    )
    from norsk_historisk_avis_ocr_spark.stages.jpeg_progressive import (
        encode_jpeg_progressive_color,
    )
    for shape in [(64, 96), (33, 41)]:
        rgb = _rgb_gradient(*shape)
        want = decode_jpeg_rgb(encode_jpeg_color(rgb, quality=85,
                                                 sampling=sampling))
        data = encode_jpeg_progressive_color(rgb, quality=85,
                                             sampling=sampling)
        assert np.array_equal(decode_jpeg_rgb(data), want)
        # gray entry = PIL-exact luma of the same RGB
        from norsk_historisk_avis_ocr_spark.stages.png import to_grayscale
        assert np.array_equal(decode_jpeg_gray(data), to_grayscale(want))


def test_relabeled_baseline_color_stream_is_loud():
    """A baseline color stream relabeled SOF2 is malformed progressive
    (its SOS is interleaved full-band) — must raise, not mis-decode."""
    from norsk_historisk_avis_ocr_spark.stages.jpeg import (
        decode_jpeg_rgb, encode_jpeg_color,
    )
    rgb = np.dstack([_gradient(16, 16)] * 3)
    data = bytearray(encode_jpeg_color(rgb, quality=90))
    sof = bytes(data).index(b"\xff\xc0")
    data[sof + 1] = 0xC2
    with pytest.raises(ValueError):
        decode_jpeg_gray(bytes(data))
    with pytest.raises(ValueError):
        decode_jpeg_rgb(bytes(data))


def test_progressive_truncation_and_bitflips_quarantine():
    """Corrupt progressive streams raise a quarantinable error or decode
    to the right shape — never a foreign exception (same contract as the
    baseline fuzz)."""
    from hypothesis import given, settings, strategies as st

    base = encode_jpeg_progressive(_gradient(32, 32), quality=80)

    @settings(max_examples=80, deadline=None)
    @given(st.integers(2, len(base) - 1), st.integers(0, 7), st.booleans())
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
            pass

    prop()


def test_progressive_missing_scan_is_loud():
    """Dropping the final scan must not crash — partial decode is the
    progressive contract (earlier scans render a coarser image), but a
    stream cut mid-scan raises."""
    data = encode_jpeg_progressive(_gradient(32, 32), quality=90)
    # cut inside the last scan's entropy data (before EOI)
    cut = data[: len(data) - 40] + b"\xff\xd9"
    with pytest.raises(ValueError):
        decode_jpeg_gray(cut)


def test_headers_without_scans_raise():
    """Headers + EOI but zero SOS scans must raise, not silently decode
    to a uniform gray plane (code-review r4 finding)."""
    data = encode_jpeg_progressive(_gradient(24, 24), quality=90)
    sos = data.index(b"\xff\xda")
    with pytest.raises(ValueError, match="no SOS"):
        decode_jpeg_gray(data[:sos] + b"\xff\xd9")
