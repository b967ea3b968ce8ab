"""Pure-stdlib+numpy JPEG codec (baseline and progressive decode).

The reference's input class is scanned newspaper pages; its engines decode
them with PIL and re-encode to JPEG for the vision API
(``engines/tesseract_engine.py:143-144``,
``engines/claude_vision_engine.py:107-127``). This container has no image
libraries, so — like ``stages/png.py`` — the raster path ships its own
minimal codec:

- :func:`decode_jpeg_gray` — baseline sequential (SOF0/1) or progressive
  (SOF2) DCT → (H, W) uint8 grayscale. Single-component streams decode
  the plane directly; 3-component YCbCr streams (the common color-scan
  shape) decode chroma too — per-component quant tables, integer-ratio
  pixel-replication upsample (4:2:0 / 4:2:2 / 4:4:4) — and convert
  through RGB with the PIL-exact integer luma. Restart markers and
  16-bit quant tables are handled.
- :func:`decode_jpeg_rgb` — the same color path returning (H, W, 3) RGB.
- :func:`encode_jpeg_gray` / :func:`encode_jpeg_color` — baseline
  encoders (test/bench input generators): level shift → 8×8 orthonormal
  DCT → quantize → run-length + Huffman with the JPEG Annex-K-style
  tables written into the file (the decoder always reads tables from the
  stream, so files are self-describing). The color encoder writes
  interleaved YCbCr MCUs with selectable luma sampling (4:2:0 default)
  and the Annex K.2 chroma quant table.

Both codings share one frame reader (:func:`_decode_planes`: the marker
walk and the DQT/DHT/SOF/DRI/SOS parsers, each checking its segment's
length before indexing it) and one plane assembler
(:func:`_assemble_plane`). Only the scan decoders differ: the baseline
one below, and the progressive one in ``stages/jpeg_progressive.py``
(interleaved DC scans, per-component AC spectral-selection scans,
successive approximation, EOB-run coding). Everything else (arithmetic
coding, 12-bit, lossless, hierarchical) raises ``ValueError`` so callers
can quarantine rather than mis-decode — the same loud-failure contract as
the PNG codec, and the only exception a malformed stream raises.

Performance shape: dequant + IDCT run as one batched matmul over every
block. Baseline Huffman decode has three paths. Streams with at least
``_VECTOR_MIN_LANES`` restart segments (standard scanner output) take a
numpy LOCKSTEP decoder — every segment is an independent lane and all
lanes advance one symbol per vectorized step (4-8× the scalar loop,
bit-exact, see ``_decode_mcus_vector``). Other streams decode segment by
segment over a 2^16 peek-table (O(1) per symbol): segments of at least
``_WORDS_MIN_BYTES`` take the 32-bit word-peek loop, smaller ones (short
restart intervals) the scalar bit-cursor loop, which is faster there.
"""

from __future__ import annotations

import struct

import numpy as np

# --- shared constants ------------------------------------------------------

# zigzag scan order as (row, col) pairs, generated (not transcribed):
# anti-diagonals r+c = s, odd diagonals walk r ascending, even descending
ZIGZAG: list[tuple[int, int]] = [
    (r, s - r)
    for s in range(15)
    for r in (range(max(0, s - 7), min(8, s + 1)) if s % 2
              else reversed(range(max(0, s - 7), min(8, s + 1))))
]
_ZZ_ROWS = np.array([r for r, _ in ZIGZAG])
_ZZ_COLS = np.array([c for _, c in ZIGZAG])

# orthonormal 8-point DCT-II matrix (JPEG's normalization)
_K = np.arange(8).reshape(8, 1)
_N = np.arange(8).reshape(1, 8)
_DCT = np.cos((2 * _N + 1) * _K * np.pi / 16) * \
    np.where(_K == 0, np.sqrt(1 / 8), np.sqrt(2 / 8))

# base luminance quantization table (JPEG spec Annex K.1), natural order
_QUANT_BASE = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.int32)

# Huffman table specs (bits-per-length counts + symbol order). DC is the
# Annex K luminance DC table; AC uses the same (run,size) symbol alphabet
# with a generated canonical length assignment — the tables are WRITTEN
# INTO the DHT segment, so any consistent assignment decodes identically.
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))


def _ac_table_spec() -> tuple[list[int], list[int]]:
    """Canonical AC table over the full baseline symbol alphabet: EOB, ZRL
    and every (run 0-15, size 1-10) pair. Short codes go to the
    statistically common symbols (EOB, low-run/low-size); all code lengths
    ≤ 16 and the table is left prefix-incomplete (all-ones reserved)."""
    syms = [0x00]  # EOB first (most common)
    for size in range(1, 11):
        for run in range(16):
            syms.append((run << 4) | size)
    syms.insert(10, 0xF0)  # ZRL among the early symbols
    # lengths: first 2 symbols 4 bits, then grow; ensures Kraft sum < 1
    bits = [0] * 16
    lengths = []
    for i in range(len(syms)):
        if i < 2:
            ln = 4
        elif i < 6:
            ln = 6
        elif i < 14:
            ln = 8
        elif i < 30:
            ln = 10
        elif i < 62:
            ln = 12
        elif i < 126:
            ln = 14
        else:
            ln = 16
        lengths.append(ln)
    for ln in lengths:
        bits[ln - 1] += 1
    return bits, syms


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) canonical Huffman assignment."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _kraft_ok(bits: list[int]) -> bool:
    total = 0
    for length in range(1, 17):
        total += bits[length - 1] << (16 - length)
    return total <= (1 << 16)


class _PeekTable:
    """2^16-entry decode table: 16-bit peek → symbol*32 + code length,
    one plain-list lookup per symbol (list indexing beats numpy scalar
    indexing ~5× in the per-symbol loop)."""

    def __init__(self, bits: list[int], vals: list[int]):
        if sum(bits) != len(vals) or not _kraft_ok(bits):
            raise ValueError("invalid Huffman table")
        entry = np.zeros(1 << 16, dtype=np.int32) - 32  # invalid: sym -1
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                lo = code << (16 - length)
                hi = lo + (1 << (16 - length))
                entry[lo:hi] = vals[k] * 32 + length
                code += 1
                k += 1
            code <<= 1
        self.entry_np = entry  # numpy form for the lockstep vector decoder
        self.entry = entry.tolist()


_ZZ_FLAT = [r * 8 + c for r, c in ZIGZAG]  # zigzag pos → flat block index
_ZZ_NATURAL = np.argsort(_ZZ_FLAT)  # flat block index → zigzag pos


def _idct_blocks(coefs: np.ndarray) -> np.ndarray:
    """(n, 8, 8) dequantized coefficients → (n, 8, 8) uint8 samples.
    X = Tᵀ·C·T as two broadcast matmuls (batched BLAS — ~40× faster than
    the einsum/tensordot formulation on 25k-block pages)."""
    spatial = _DCT.T @ (coefs.astype(np.float64) @ _DCT)
    return np.clip(np.round(spatial) + 128, 0, 255).astype(np.uint8)


# --- decoder -----------------------------------------------------------------

def _destuff(data: bytes, start: int) -> tuple[list[bytes], int]:
    """Entropy-coded bytes from ``start`` → segments split at restart
    markers, with 0xFF00 stuffing removed. Returns (segments, end_pos).
    Chunks between 0xFF sentinels are copied by slice (one iteration per
    0xFF occurrence, not per byte — ~1/170 bytes in a stuffed stream)."""
    segments: list[bytes] = []
    out = bytearray()
    i = start
    n = len(data)
    while i < n:
        j = data.find(0xFF, i)
        if j < 0:
            out += data[i:]
            i = n
            break
        out += data[i:j]
        nxt = data[j + 1] if j + 1 < n else 0xD9
        if nxt == 0x00:
            out.append(0xFF)
            i = j + 2
        elif nxt == 0xFF:  # spec-legal fill byte before a marker: skip it
            i = j + 1
        elif 0xD0 <= nxt <= 0xD7:  # restart marker
            segments.append(bytes(out))
            out = bytearray()
            i = j + 2
        else:  # any other marker ends the scan
            i = j
            break
    segments.append(bytes(out))
    return segments, i


def _ycc_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    """JFIF YCbCr → RGB (the standard matrix), rounded and clipped per
    channel. Float matrix + np.round — deterministic, but not bit-identical
    to libjpeg's fixed-point path; the raster contract executes the
    reference's geometry code on THESE pixels, so parity is by
    construction, not by matching another decoder's rounding."""
    y = y.astype(np.float64)
    cb = cb.astype(np.float64) - 128.0
    cr = cr.astype(np.float64) - 128.0
    rgb = np.stack([
        y + 1.402 * cr,
        y - 0.344136 * cb - 0.714136 * cr,
        y + 1.772 * cb,
    ], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def decode_jpeg_gray(data: bytes) -> np.ndarray:
    """JPEG bytes (baseline or progressive) → (H, W) uint8 grayscale.
    3-component YCbCr streams convert through RGB with the PIL-exact
    integer luma (``stages/png.py:to_grayscale``) — the reference's
    ``Image.convert("L")`` pipeline (``engines/_columns.py:442``); any
    other stream returns its first component's plane."""
    planes = _decode_planes(data)
    if len(planes) == 3:
        from .png import to_grayscale
        return to_grayscale(_ycc_to_rgb(*planes))
    return planes[0]


def decode_jpeg_rgb(data: bytes) -> np.ndarray:
    """3-component YCbCr JPEG bytes (baseline or progressive) →
    (H, W, 3) uint8 RGB. Chroma planes are pixel-replication upsampled
    to full resolution (integer sampling ratios only). Raises ValueError
    for streams that are not 3-component color."""
    planes = _decode_planes(data)
    if len(planes) != 3:
        raise ValueError("not a 3-component color JPEG")
    return _ycc_to_rgb(*planes)


# SOF markers of the codings this decoder does not implement (lossless,
# hierarchical, arithmetic); 0xC4/0xC8/0xCC are DHT/JPG/DAC, not frames
_UNSUPPORTED_SOF = (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE,
                    0xCF)


def _decode_planes(data: bytes) -> list[np.ndarray]:
    """The frame reader shared by both entry points: one marker walk
    over SOI, DQT, DHT, SOF0/1/2, DRI and SOS. A baseline frame's single
    scan goes to :func:`_decode_scan`; each scan of a progressive frame
    goes to ``jpeg_progressive._decode_scan_progressive``, which
    accumulates into one coefficient store. Either way the coefficient
    blocks (natural order, MCU order) then go through
    :func:`_assemble_plane`. Returns [Y, Cb, Cr] for 3-component
    streams, else the first component's plane alone."""
    if not data.startswith(b"\xff\xd8"):
        raise ValueError("not a JPEG (bad SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], _PeekTable] = {}  # (class, id)
    frame = None
    restart_interval = 0
    blocks = None  # per-plane coefficient blocks
    scanned = False
    n = len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        seg_end = pos + 2 + ((data[pos + 2] << 8) | data[pos + 3])
        if not pos + 4 <= seg_end <= n:
            raise ValueError("truncated JPEG segment")
        body = data[pos + 4:seg_end]
        if marker == 0xDB:
            _read_dqt(body, qtables)
        elif marker == 0xC4:
            _read_dht(body, htables)
        elif marker in (0xC0, 0xC1, 0xC2):
            progressive = marker == 0xC2
            if frame is not None and frame["progressive"] != progressive:
                raise ValueError("baseline and progressive SOF in one "
                                 "stream")
            frame = _read_sof(body, progressive)
            if progressive:
                # zigzag-order store every scan refines in place
                blocks = [np.zeros((frame["mcuy"] * c["v"] * frame["mcux"]
                                    * c["h"], 64), dtype=np.int32)
                          for c in frame["comps"]]
        elif marker in _UNSUPPORTED_SOF:
            raise ValueError(
                f"unsupported JPEG coding (SOF{marker - 0xC0}); "
                "baseline sequential and progressive only")
        elif marker == 0xDD:  # DRI
            if len(body) < 2:
                raise ValueError("truncated DRI segment")
            restart_interval = (body[0] << 8) | body[1]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            scan = _read_sos(body)
            segments, pos = _destuff(data, seg_end)
            scanned = True
            if not frame["progressive"]:
                blocks = _decode_scan(segments, scan, frame, htables,
                                      restart_interval)
                break
            from .jpeg_progressive import _decode_scan_progressive
            _decode_scan_progressive(segments, scan, frame, htables,
                                     restart_interval, blocks)
            continue
        pos = seg_end
    if not scanned:
        # headers alone would "decode" to a uniform gray plane
        raise ValueError("no SOS marker (no image data)")
    if frame["progressive"]:
        blocks = [c[:, _ZZ_NATURAL] for c in blocks]
    return [_assemble_plane(frame, frame["comps"][ci], blocks[ci], qtables)
            for ci in range(frame["planes"])]


def _read_dqt(body: bytes, qtables: dict) -> None:
    j = 0
    while j < len(body):
        pq, tq = body[j] >> 4, body[j] & 15
        size = 64 if pq == 0 else 128
        if j + 1 + size > len(body):
            raise ValueError("truncated DQT segment")
        vals = np.frombuffer(body[j + 1:j + 1 + size],
                             dtype=np.uint8 if pq == 0 else ">u2")
        j += 1 + size
        t = np.zeros((8, 8), dtype=np.int64)
        t[_ZZ_ROWS, _ZZ_COLS] = vals
        qtables[tq] = t


def _read_dht(body: bytes, htables: dict) -> None:
    j = 0
    while j < len(body):
        if j + 17 > len(body):
            raise ValueError("truncated DHT segment")
        tc, th = body[j] >> 4, body[j] & 15
        bits = list(body[j + 1:j + 17])
        nv = sum(bits)
        if j + 17 + nv > len(body):
            raise ValueError("truncated DHT segment")
        htables[(tc, th)] = _PeekTable(bits, list(body[j + 17:j + 17 + nv]))
        j += 17 + nv


def _read_sof(body: bytes, progressive: bool) -> dict:
    """SOF0/1/2 body → frame dict. Baseline frames take any component
    count (a non-3-component stream yields its first plane); progressive
    frames only 1 or 3."""
    if len(body) < 6:
        raise ValueError("truncated SOF segment")
    if body[0] != 8:
        raise ValueError(f"unsupported JPEG precision {body[0]}")
    h, w, ncomp = (body[1] << 8) | body[2], (body[3] << 8) | body[4], body[5]
    if len(body) < 6 + 3 * ncomp:
        raise ValueError("truncated SOF segment")
    if progressive and ncomp not in (1, 3):
        raise ValueError(f"unsupported progressive component count {ncomp}")
    if w == 0 or h == 0 or ncomp == 0:
        raise ValueError("empty JPEG frame")
    comps = []
    for c in range(ncomp):
        cid, hv, tq = body[6 + 3 * c:9 + 3 * c]
        ch, cv = hv >> 4, hv & 15
        if not (1 <= ch <= 4 and 1 <= cv <= 4):
            # spec range; 0 would divide-by-zero the MCU grid
            raise ValueError(f"bad sampling factors {ch}x{cv}")
        comps.append({"id": cid, "h": ch, "v": cv, "tq": tq})
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if comps[0]["h"] != hmax or comps[0]["v"] != vmax:
        # the plane assembly assumes the first (luma) component is
        # sampled at the max rate; a stream where chroma out-samples luma
        # would otherwise yield a silently wrong-sized image
        raise ValueError("first component is not max-sampled")
    return {"w": w, "h": h, "comps": comps, "hmax": hmax, "vmax": vmax,
            "mcux": -(-w // (8 * hmax)), "mcuy": -(-h // (8 * vmax)),
            "progressive": progressive, "planes": 3 if ncomp == 3 else 1}


def _read_sos(body: bytes):
    """SOS body → ([(component id, DC table, AC table)], Ss, Se, Ah, Al)."""
    if not body or len(body) < 4 + 2 * body[0]:
        raise ValueError("truncated SOS segment")
    ns = body[0]
    sel = [(body[1 + 2 * i], body[2 + 2 * i] >> 4, body[2 + 2 * i] & 15)
           for i in range(ns)]
    ss, se, a = body[1 + 2 * ns:4 + 2 * ns]
    return sel, ss, se, a >> 4, a & 15


def _decode_scan(segments, scan, frame, htables, restart_interval):
    """Baseline (single interleaved) scan → per-plane lists of natural-
    order coefficient blocks in MCU order. Components past
    ``frame["planes"]`` are entropy-decoded for stream sync and
    discarded."""
    comps = frame["comps"]
    if len(scan[0]) != len(comps):
        raise ValueError("non-interleaved multi-scan JPEG not supported")
    sel = {cs: (td, ta) for cs, td, ta in scan[0]}
    for comp in comps:
        if comp["id"] not in sel:  # corrupt header: must quarantine as
            raise ValueError(      # ValueError, not escape as KeyError
                f"SOS selector missing frame component {comp['id']}")
    n_mcu = frame["mcux"] * frame["mcuy"]
    # per-component decode plan: (dc entry list, ac entry list, blocks/MCU,
    # output list or None) — resolved once so the inner loop is pure
    # local-variable work
    plan = []
    outs: list[list | None] = []
    tables = []
    for ci, comp in enumerate(comps):
        dc_t = htables.get((0, sel[comp["id"]][0]))
        ac_t = htables.get((1, sel[comp["id"]][1]))
        if dc_t is None or ac_t is None:
            raise ValueError("missing Huffman table")
        out: list | None = [] if ci < frame["planes"] else None
        outs.append(out)
        tables.append((dc_t, ac_t))
        plan.append((dc_t.entry, ac_t.entry, comp["v"] * comp["h"], out))

    n_lanes = -(-n_mcu // restart_interval) if restart_interval else 1
    if restart_interval and n_lanes >= _VECTOR_MIN_LANES \
            and len(segments) >= n_lanes:
        # many restart segments → numpy lockstep decode across them (one
        # vector step per symbol position, all lanes at once)
        plan_np = [(t[0].entry_np, t[1].entry_np, comp["v"] * comp["h"],
                    outs[ci] is not None)
                   for ci, (t, comp) in enumerate(zip(tables, comps))]
        arrays = _decode_mcus_vector(segments, plan_np, restart_interval,
                                     n_mcu)
        for ci, arr in arrays.items():
            outs[ci] = arr
    else:
        mcu = 0
        for seg in segments:
            limit = (min(mcu + restart_interval, n_mcu)
                     if restart_interval else n_mcu)
            mcu = _decode_mcus(seg, plan, mcu, limit)
            if mcu >= n_mcu:
                break
        if mcu < n_mcu:
            raise ValueError("JPEG entropy data truncated (missing MCUs)")
    return outs


def _assemble_plane(frame, comp, blocks, qtables) -> np.ndarray:
    """One component's natural-order coefficient blocks, in MCU order →
    its plane at frame resolution: dequant + IDCT, MCU-grid assembly,
    crop to the component's own dims (ceil(dim·sampling/max)), then
    integer-ratio pixel-replication upsample to (h, w)."""
    q = qtables.get(comp["tq"])
    if q is None:
        raise ValueError("missing quantization table")
    pix = _idct_blocks(np.asarray(blocks, dtype=np.int64).reshape(-1, 8, 8)
                       * q)
    w, h, hmax, vmax = frame["w"], frame["h"], frame["hmax"], frame["vmax"]
    mcux, mcuy = frame["mcux"], frame["mcuy"]
    cv, ch = comp["v"], comp["h"]
    plane = pix.reshape(mcuy, mcux, cv, ch, 8, 8) \
        .transpose(0, 2, 4, 1, 3, 5) \
        .reshape(mcuy * cv * 8, mcux * ch * 8)
    plane = plane[:-(-h * cv // vmax), :-(-w * ch // hmax)]
    ry, rx = vmax // cv, hmax // ch
    if ry * cv != vmax or rx * ch != hmax:
        raise ValueError(
            f"non-integer chroma sampling ratio {cv}x{ch} vs "
            f"{vmax}x{hmax}")
    if ry > 1 or rx > 1:
        plane = plane.repeat(ry, axis=0).repeat(rx, axis=1)
    return np.ascontiguousarray(plane[:h, :w])


# Minimum restart-segment lane count for the numpy lockstep decoder: the
# per-step numpy kernel overhead (~2 µs/op regardless of width) amortizes
# over the lanes, so the vector path only wins when enough segments run
# in parallel. Measured crossover on this host class is ~150 lanes;
# 192 leaves margin. Streams without (enough) restart markers decode
# segment by segment (``_decode_mcus``).
_VECTOR_MIN_LANES = 192


def _segment_word_matrix(segments: list[bytes]):
    """Segments → ((S, stride) uint64 matrix of big-endian 32-bit words,
    per-lane bit lengths). Rows are zero-padded to a common stride; the
    lockstep peek clamps its word index to the stride, so overfetch past
    a lane's data reads zeros — the same zero-fill semantics as the
    scalar paths. One bytes build + one frombuffer: no per-lane numpy
    allocations (multi-MB first-touch is pathological on this host
    class; the whole matrix stays small and pooled)."""
    stride = (max(len(s) for s in segments) + 3) // 4 + 4
    buf = bytearray(len(segments) * stride * 4)
    pos = 0
    for seg in segments:
        buf[pos:pos + len(seg)] = seg
        pos += stride * 4
    w = np.frombuffer(bytes(buf), dtype=">u4").astype(np.uint64)
    w = w.reshape(len(segments), stride)
    # fuse adjacent words once: peek() then needs ONE gather per symbol
    # ((w64 >> shift) & mask) instead of two word gathers + a shift-or
    w64 = (w[:, :-1] << np.uint64(32)) | w[:, 1:]
    return w64, \
        np.array([len(s) << 3 for s in segments], dtype=np.int64)


def _decode_mcus_vector(segments: list[bytes], plan_np,
                        restart_interval: int, n_mcu: int) -> dict:
    """Lockstep entropy decode across restart segments: every lane (one
    segment = ``restart_interval`` MCUs with its own reset DC predictor)
    advances one Huffman symbol per numpy step, so the per-symbol work is
    a handful of vectorized kernels over all lanes instead of a Python
    loop iteration per symbol — measured 5-8× over the scalar word-peek
    loop on dense newspaper scans, bit-exact by construction (equality
    asserted in tests against the scalar path).

    ``plan_np``: per component (dc entry int32 array, ac entry array,
    blocks/MCU, keep flag). Returns {ci: (n_blocks, 64) int64 natural-
    order coefficient rows} for kept components. Same loud-failure
    contract as the scalar loops: bad codes, DC size overflow, AC run
    overflow, and any lane consuming past its segment end all raise
    ValueError."""
    ri = restart_interval
    n_lanes = -(-n_mcu // ri)
    segs = segments[:n_lanes]
    W64, n8 = _segment_word_matrix(segs)
    S = W64.shape[0]
    lane_idx = np.arange(S)
    # MCUs this lane must decode (the tail lane may have fewer)
    limits = np.minimum((lane_idx + 1) * ri, n_mcu) - lane_idx * ri
    i = np.zeros(S, dtype=np.int64)
    zz_np = np.array(_ZZ_FLAT, dtype=np.int64)
    c32, c31 = np.uint64(32), np.uint64(31)
    jmax = W64.shape[1] - 1
    W64_flat = W64.reshape(-1)
    row_base = lane_idx * W64.shape[1]
    mask32 = np.uint64(0xFFFFFFFF)

    preds = [np.zeros(S, dtype=np.int64) for _ in plan_np]
    stores = {ci: np.zeros((S, ri * nb, 64), dtype=np.int64)
              for ci, (_, _, nb, keep) in enumerate(plan_np) if keep}

    def peek():
        # 32-bit peek at each lane's bit cursor; clamping the word index
        # into the zero pad reproduces the scalar zero-fill overfetch.
        # One flat gather from the pre-fused 64-bit word matrix.
        j = np.minimum(i >> 5, jmax)
        pk = (W64_flat[row_base + j]
              >> (c32 - (i.astype(np.uint64) & c31))) & mask32
        return pk.astype(np.int64)

    for m in range(ri):
        act_mcu = m < limits
        if not act_mcu.any():
            break
        for ci, (dce, ace, nb, keep) in enumerate(plan_np):
            pred = preds[ci]
            for b in range(nb):
                pk = peek()
                e = dce[pk >> 16]
                if (e[act_mcu] < 0).any():
                    raise ValueError("bad Huffman code (DC)")
                length = e & 31
                size = e >> 5
                if (size[act_mcu] > 11).any():
                    raise ValueError("bad DC size")
                v = (pk >> np.maximum(32 - length - size, 0)) \
                    & ((1 << size) - 1)
                half = 1 << np.maximum(size - 1, 0)
                diff = np.where(size > 0,
                                np.where(v < half, v - (1 << size) + 1, v),
                                0)
                pred[:] = np.where(act_mcu, pred + diff, pred)
                i[:] = np.where(act_mcu, i + length + size, i)
                if keep:
                    stores[ci][act_mcu, m * nb + b, 0] = pred[act_mcu]
                k = np.ones(S, dtype=np.int64)
                done = ~act_mcu
                while not done.all():
                    live = ~done
                    pk = peek()
                    e = ace[pk >> 16]
                    if (e[live] < 0).any():
                        raise ValueError("bad Huffman code (AC)")
                    length = e & 31
                    sym = e >> 5
                    eob = live & (sym == 0)
                    zrl = live & (sym == 0xF0)
                    normal = live & ~eob & ~zrl
                    i[:] = np.where(live, i + length, i)
                    k[:] = np.where(zrl, k + 16, k)
                    size = np.where(normal, sym & 15, 0)
                    k[:] = np.where(normal, k + (sym >> 4), k)
                    if (k[normal] > 63).any():
                        raise ValueError("AC run overflows block")
                    v = (pk >> np.maximum(32 - length - size, 0)) \
                        & ((1 << size) - 1)
                    half = 1 << np.maximum(size - 1, 0)
                    val = np.where(v < half, v - (1 << size) + 1, v)
                    if keep:
                        nz = np.nonzero(normal)[0]
                        if nz.size:
                            stores[ci][nz, m * nb + b, zz_np[k[nz]]] = val[nz]
                    i[:] = np.where(normal, i + size, i)
                    k[:] = np.where(normal, k + 1, k)
                    done = done | eob | (k >= 64)
        # same loud-failure contract as the scalar loops: any lane that
        # CONSUMED bits past its segment end decoded garbage
        if ((i > n8) & act_mcu).any():
            raise ValueError("JPEG entropy data truncated")

    valid = np.arange(ri)[None, :] < limits[:, None]  # (S, ri)
    out = {}
    for ci, arr in stores.items():
        nb = plan_np[ci][2]
        out[ci] = arr.reshape(S, ri, nb, 64)[valid].reshape(-1, 64)
    return out


# Segments below this use the scalar bit-cursor loop (also the semantics
# reference); everything bigger takes the word-peek loop.
_WORDS_MIN_BYTES = 1024
# Zero padding past the segment end for the word array. Must cover one
# worst-case MCU of overrun before the per-MCU truncation check fires:
# ≤48 blocks/MCU (3 comps × 4×4 sampling) × ~1.7 Kbit/block ≈ 10 KiB;
# 16 KiB gives slack, and an IndexError backstop catches the rest.
_PAD_BYTES = 16384


def _segment_words(seg: bytes) -> tuple[int, ...]:
    """``seg`` + zero padding as big-endian 32-bit words (one C-speed
    ``struct.unpack``, no large numpy temporaries — big-array first-touch
    is pathologically slow on some hosts). A 32-bit peek at any bit offset
    ``i`` is two word reads: ``(w[i>>5]<<32 | w[(i>>5)+1]) >> (32-(i&31))``
    — zero-fill-past-end semantics identical to the scalar refill loop."""
    pad = _PAD_BYTES + (-len(seg)) % 4 + 8
    padded = seg + b"\x00" * pad
    return struct.unpack(f">{len(padded) // 4}I", padded)


def _decode_mcus(seg: bytes, plan, mcu: int, limit: int) -> int:
    """Entropy-decode MCUs ``mcu..limit`` of one restart segment. Dispatch:
    big segments take the word-peek loop (no per-symbol refill state),
    tiny ones the scalar bit-cursor loop — both produce identical blocks
    (equality- and bitstream-exact-tested)."""
    if len(seg) >= _WORDS_MIN_BYTES:
        return _decode_mcus_words(seg, plan, mcu, limit)
    return _decode_mcus_scalar(seg, plan, mcu, limit)


def _decode_mcus_words(seg: bytes, plan, mcu: int, limit: int) -> int:
    """Word-peek entropy decode: the 32-bit peek needed by any symbol
    (≤16 code bits + ≤15 magnitude bits) is assembled from two words of
    :func:`_segment_words` at the current bit offset — the (buf, nbits)
    cursor and its three per-symbol refill loops disappear."""
    zz = _ZZ_FLAT
    w = _segment_words(seg)
    n8 = len(seg) << 3
    i = 0
    preds = [0] * len(plan)
    try:
        while mcu < limit:
            for ci, (dce, ace, nb, keep) in enumerate(plan):
                for _b in range(nb):
                    coef = [0] * 64
                    j = i >> 5
                    pk = (((w[j] << 32) | w[j + 1])
                          >> (32 - (i & 31))) & 0xFFFFFFFF
                    e = dce[pk >> 16]
                    if e < 0:
                        raise ValueError("bad Huffman code (DC)")
                    length = e & 31
                    size = e >> 5
                    if size > 11:
                        raise ValueError("bad DC size")
                    if size:
                        v = ((pk >> (32 - length - size))
                             & ((1 << size) - 1))
                        preds[ci] += (v - (1 << size) + 1
                                      if v < (1 << (size - 1)) else v)
                    i += length + size
                    coef[0] = preds[ci]
                    k = 1
                    while k < 64:
                        j = i >> 5
                        pk = (((w[j] << 32) | w[j + 1])
                              >> (32 - (i & 31))) & 0xFFFFFFFF
                        e = ace[pk >> 16]
                        if e < 0:
                            raise ValueError("bad Huffman code (AC)")
                        length = e & 31
                        sym = e >> 5
                        if sym == 0x00:  # EOB
                            i += length
                            break
                        if sym == 0xF0:  # ZRL
                            i += length
                            k += 16
                            continue
                        k += sym >> 4
                        size = sym & 15
                        if k > 63:
                            raise ValueError("AC run overflows block")
                        v = ((pk >> (32 - length - size))
                             & ((1 << size) - 1))
                        coef[zz[k]] = (v - (1 << size) + 1
                                       if v < (1 << (size - 1)) else v)
                        i += length + size
                        k += 1
                    if keep is not None:
                        keep.append(coef)
            mcu += 1
            # same loud-failure contract as the scalar path: consuming any
            # zero-fill bit past the stream end means truncated data
            if i > n8:
                raise ValueError("JPEG entropy data truncated")
    except IndexError:
        raise ValueError("JPEG entropy data truncated") from None
    return mcu


def _decode_mcus_scalar(seg: bytes, plan, mcu: int, limit: int) -> int:
    """Scalar bit-cursor loop (the semantics reference for the vector
    path). The bit cursor lives in local ints (no per-symbol method calls);
    each component's coefficient blocks (flat 64-lists in natural order)
    are appended to its plan output list; components with a None output
    are decoded for stream sync and discarded."""
    zz = _ZZ_FLAT
    n = len(seg)
    buf = nbits = pos = 0
    preds = [0] * len(plan)
    while mcu < limit:
        for ci, (dce, ace, nb, keep) in enumerate(plan):
            for _b in range(nb):
                coef = [0] * 64
                while nbits < 16:
                    buf = ((buf << 8)
                           | (seg[pos] if pos < n else 0)) & 0xFFFFFFFFFF
                    pos += 1
                    nbits += 8
                e = dce[(buf >> (nbits - 16)) & 0xFFFF]
                if e < 0:
                    raise ValueError("bad Huffman code (DC)")
                nbits -= e & 31
                size = e >> 5
                if size > 11:
                    raise ValueError("bad DC size")
                if size:
                    while nbits < size:
                        buf = ((buf << 8)
                               | (seg[pos] if pos < n else 0)) & 0xFFFFFFFFFF
                        pos += 1
                        nbits += 8
                    v = (buf >> (nbits - size)) & ((1 << size) - 1)
                    nbits -= size
                    preds[ci] += (v - (1 << size) + 1
                                  if v < (1 << (size - 1)) else v)
                coef[0] = preds[ci]
                k = 1
                while k < 64:
                    while nbits < 16:
                        buf = ((buf << 8)
                               | (seg[pos] if pos < n else 0)) & 0xFFFFFFFFFF
                        pos += 1
                        nbits += 8
                    e = ace[(buf >> (nbits - 16)) & 0xFFFF]
                    if e < 0:
                        raise ValueError("bad Huffman code (AC)")
                    nbits -= e & 31
                    sym = e >> 5
                    if sym == 0x00:  # EOB
                        break
                    if sym == 0xF0:  # ZRL
                        k += 16
                        continue
                    k += sym >> 4
                    size = sym & 15
                    if k > 63:
                        raise ValueError("AC run overflows block")
                    while nbits < size:
                        buf = ((buf << 8)
                               | (seg[pos] if pos < n else 0)) & 0xFFFFFFFFFF
                        pos += 1
                        nbits += 8
                    v = (buf >> (nbits - size)) & ((1 << size) - 1)
                    nbits -= size
                    coef[zz[k]] = (v - (1 << size) + 1
                                   if v < (1 << (size - 1)) else v)
                    k += 1
                if keep is not None:
                    keep.append(coef)
        mcu += 1
        # exact loud-failure guard: consumed bits = pos*8 − nbits. The
        # peek may OVERFETCH past the stream end (zero fill), but if any
        # zero-fill bit was actually CONSUMED as data, the stream was
        # truncated and the block just decoded is garbage — raise instead
        # of returning silently wrong pixels (same contract as PNG CRCs).
        if (pos << 3) - nbits > (n << 3):
            raise ValueError("JPEG entropy data truncated")
    return mcu


# --- encoder (grayscale, test/bench input generator) -----------------------


def _quant_table(quality: int) -> np.ndarray:
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    t = (_QUANT_BASE * scale + 50) // 100
    return np.clip(t, 1, 255).astype(np.int64)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.buf = (self.buf << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.buf >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # stuffing
            self.nbits -= 8
        self.buf &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill to byte boundary
        return bytes(self.out)


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


# chrominance quantization base table (JPEG spec Annex K.2), natural order
_QUANT_BASE_C = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.int32)


def _quant_table_c(quality: int) -> np.ndarray:
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    t = (_QUANT_BASE_C * scale + 50) // 100
    return np.clip(t, 1, 255).astype(np.int64)


def _write_block(bw: "_BitWriter", row: np.ndarray, pred: int,
                 dc_codes: dict, ac_codes: dict) -> int:
    """Entropy-code one zigzag-ordered quantized block; returns the new
    DC predictor. Shared by the gray and color encoders."""
    diff = int(row[0]) - pred
    pred = int(row[0])
    size = diff.bit_length() if diff else 0
    code, ln = dc_codes[size]
    bw.write(code, ln)
    if size:
        v = diff if diff > 0 else diff + (1 << size) - 1
        bw.write(v, size)
    # AC run-length coding
    nz = np.nonzero(row[1:])[0]
    k_prev = 0
    for idx in nz:
        run = int(idx) - k_prev
        k_prev = int(idx) + 1
        while run > 15:
            code, ln = ac_codes[0xF0]
            bw.write(code, ln)
            run -= 16
        v = int(row[1 + idx])
        size = abs(v).bit_length()
        code, ln = ac_codes[(run << 4) | size]
        bw.write(code, ln)
        vv = v if v > 0 else v + (1 << size) - 1
        bw.write(vv, size)
    if k_prev < 63:
        code, ln = ac_codes[0x00]  # EOB
        bw.write(code, ln)
    return pred


def encode_jpeg_gray(arr: np.ndarray, quality: int = 95,
                     restart_interval: int = 0) -> bytes:
    """(H, W) uint8 → baseline single-component JPEG bytes.

    ``restart_interval`` > 0 writes a DRI segment and emits RST markers
    every that many MCUs (resetting the DC predictor) — real-world scans
    use restart intervals for error resilience, and this exercises the
    decoder's restart path."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim != 2:
        raise ValueError("encode_jpeg_gray takes a 2-D grayscale array")
    h, w = arr.shape
    q = _quant_table(quality)
    by, bx = -(-h // 8), -(-w // 8)
    zz = _quantized_zigzag(_pad_edge(arr, by * 8, bx * 8), by, bx, q)

    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_bits, ac_vals = _ac_table_spec()
    ac_codes = _canonical_codes(ac_bits, ac_vals)

    bw = _BitWriter()
    entropy_parts: list[bytes] = []
    pred = 0
    for n in range(zz.shape[0]):
        if restart_interval and n and n % restart_interval == 0:
            entropy_parts.append(bw.flush())
            entropy_parts.append(bytes([0xFF, 0xD0 + ((n // restart_interval
                                                       - 1) % 8)]))
            bw = _BitWriter()
            pred = 0
        pred = _write_block(bw, zz[n], pred, dc_codes, ac_codes)
    entropy_parts.append(bw.flush())
    entropy = b"".join(entropy_parts)

    dqt = bytes([0x00]) + _zigzag_table_bytes(q)
    sof = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    dht_dc = bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)
    dht_ac = bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals)
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    dri = (_seg(0xDD, struct.pack(">H", restart_interval))
           if restart_interval else b"")
    return (b"\xff\xd8" + _seg(0xDB, dqt) + _seg(0xC0, sof) + dri
            + _seg(0xC4, dht_dc) + _seg(0xC4, dht_ac) + _seg(0xDA, sos)
            + entropy + b"\xff\xd9")


def _rgb_to_ycc(rgb: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """RGB → JFIF YCbCr planes (rounded, clipped uint8)."""
    r = rgb[:, :, 0].astype(np.float64)
    g = rgb[:, :, 1].astype(np.float64)
    b = rgb[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    clip = lambda p: np.clip(np.round(p), 0, 255).astype(np.uint8)  # noqa: E731
    return clip(y), clip(cb), clip(cr)


def _pad_edge(plane: np.ndarray, ph: int, pw: int) -> np.ndarray:
    """Edge-replicate pad a plane up to (ph, pw)."""
    h, w = plane.shape
    out = np.empty((ph, pw), dtype=np.uint8)
    out[:h, :w] = plane
    if ph > h:
        out[h:, :w] = plane[h - 1:h, :]
    if pw > w:
        out[:, w:] = out[:, w - 1:w]
    return out


def _quantized_zigzag(plane: np.ndarray, by: int, bx: int,
                      q: np.ndarray) -> np.ndarray:
    """Plane (already padded to (by*8, bx*8)) → (by*bx, 64) zigzag
    quantized coefficient rows in block-raster order."""
    blocks = plane.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3) \
        .reshape(by * bx, 8, 8).astype(np.float64) - 128.0
    coefs = _DCT @ blocks @ _DCT.T  # C = T·X·Tᵀ, batched matmul
    qcoef = np.round(coefs / q).astype(np.int64)
    return qcoef[:, _ZZ_ROWS, _ZZ_COLS]


def _zigzag_table_bytes(q: np.ndarray) -> bytes:
    """Quant table → its 64 zigzag-ordered bytes for a DQT segment
    (shared by the baseline and progressive encoders — the two must
    serialize tables identically or the shared-pipeline exactness
    invariant breaks)."""
    out = np.zeros(64, dtype=np.int64)
    out[:] = q[_ZZ_ROWS, _ZZ_COLS]
    return bytes(int(x) for x in out)


def _color_zigzag_planes(rgb: np.ndarray, quality: int,
                         sampling: tuple[int, int]):
    """Shared forward pipeline for the baseline AND progressive color
    encoders: RGB → YCbCr, box-mean chroma downsample, edge pad, DCT,
    quantize, zigzag. Both encoders MUST produce identical quantized
    coefficients (the progressive exactness oracle depends on it).
    Returns (zz_y, [zz_cb, zz_cr], mcuy, mcux, q_luma, q_chroma)."""
    rgb = np.asarray(rgb, dtype=np.uint8)
    if rgb.ndim != 3 or rgb.shape[2] != 3:
        raise ValueError("color encoder takes an (H, W, 3) RGB array")
    lv, lh = sampling
    if not (1 <= lv <= 2 and 1 <= lh <= 2):
        raise ValueError(f"unsupported luma sampling {lv}x{lh}")
    h, w = rgb.shape[:2]
    y, cb, cr = _rgb_to_ycc(rgb)
    mcuy = -(-h // (8 * lv))
    mcux = -(-w // (8 * lh))
    q_l, q_c = _quant_table(quality), _quant_table_c(quality)
    # luma: pad to the MCU grid and zigzag-quantize in block-raster order
    ypad = _pad_edge(y, mcuy * 8 * lv, mcux * 8 * lh)
    zz_y = _quantized_zigzag(ypad, mcuy * lv, mcux * lh, q_l)
    # chroma: box-mean downsample by (lv, lh) over the edge-padded plane,
    # then pad to its own (mcuy*8, mcux*8) grid
    zz_c = []
    for plane in (cb, cr):
        if lv > 1 or lh > 1:
            ph, pw = -(-h // lv) * lv, -(-w // lh) * lh
            p = _pad_edge(plane, ph, pw).astype(np.float64)
            p = p.reshape(ph // lv, lv, pw // lh, lh).mean(axis=(1, 3))
            plane = np.clip(np.round(p), 0, 255).astype(np.uint8)
        cpad = _pad_edge(plane, mcuy * 8, mcux * 8)
        zz_c.append(_quantized_zigzag(cpad, mcuy, mcux, q_c))
    return zz_y, zz_c, mcuy, mcux, q_l, q_c


def encode_jpeg_color(rgb: np.ndarray, quality: int = 95,
                      sampling: tuple[int, int] = (2, 2),
                      restart_interval: int = 0) -> bytes:
    """(H, W, 3) uint8 RGB → baseline 3-component YCbCr JPEG
    (test/bench input generator for the color decode path).

    ``sampling`` is the luma (v, h) factor pair — (2, 2) is 4:2:0 (the
    common scan shape), (1, 1) is 4:4:4; chroma is always 1×1. Chroma
    planes are box-mean downsampled. Two quant tables are written (Annex
    K.1 luma as table 0, K.2 chroma as table 1); all components share the
    same Huffman tables (legal — selectors all point at table 0)."""
    rgb = np.asarray(rgb, dtype=np.uint8)
    zz_y, zz_c, mcuy, mcux, q_l, q_c = _color_zigzag_planes(
        rgb, quality, sampling)
    lv, lh = sampling
    h, w = rgb.shape[:2]

    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_bits, ac_vals = _ac_table_spec()
    ac_codes = _canonical_codes(ac_bits, ac_vals)

    bw = _BitWriter()
    entropy_parts: list[bytes] = []
    preds = [0, 0, 0]
    nblk_row = mcux * lh  # luma blocks per block-row
    n_mcu = mcuy * mcux
    for n in range(n_mcu):
        if restart_interval and n and n % restart_interval == 0:
            entropy_parts.append(bw.flush())
            entropy_parts.append(bytes([0xFF, 0xD0 + ((n // restart_interval
                                                       - 1) % 8)]))
            bw = _BitWriter()
            preds = [0, 0, 0]
        my, mx = divmod(n, mcux)
        for iy in range(lv):
            for ix in range(lh):
                bi = (my * lv + iy) * nblk_row + mx * lh + ix
                preds[0] = _write_block(bw, zz_y[bi], preds[0],
                                        dc_codes, ac_codes)
        for ci, zz in enumerate(zz_c):
            preds[ci + 1] = _write_block(bw, zz[my * mcux + mx],
                                         preds[ci + 1], dc_codes, ac_codes)
    entropy_parts.append(bw.flush())
    entropy = b"".join(entropy_parts)

    dqt = (bytes([0x00]) + _zigzag_table_bytes(q_l)
           + bytes([0x01]) + _zigzag_table_bytes(q_c))
    sof = struct.pack(">BHHB", 8, h, w, 3) + bytes(
        [1, (lh << 4) | lv, 0, 2, 0x11, 1, 3, 0x11, 1])
    dht_dc = bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)
    dht_ac = bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals)
    sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
    dri = (_seg(0xDD, struct.pack(">H", restart_interval))
           if restart_interval else b"")
    return (b"\xff\xd8" + _seg(0xDB, dqt) + _seg(0xC0, sof) + dri
            + _seg(0xC4, dht_dc) + _seg(0xC4, dht_ac) + _seg(0xDA, sos)
            + entropy + b"\xff\xd9")
