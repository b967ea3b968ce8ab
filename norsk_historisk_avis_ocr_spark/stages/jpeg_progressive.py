"""Progressive (SOF2) JPEG — scan decoder and encoder test generators.

Web images and library-digitized scans are routinely progressive; the
reference gets them free from PIL/libjpeg. The frame reader in
``stages/jpeg.py`` parses the headers of both codings and hands every
scan of a progressive frame to :func:`_decode_scan_progressive`, which
refines one coefficient store per component. Grayscale and
3-component YCbCr color are decoded for real:

- DC scans — interleaved (MCU order, per-component predictors) or
  non-interleaved — first pass (diff-coded, scaled by the
  successive-approximation shift ``Al``) and refinement passes (one
  correction bit per block);
- AC scans (always single-component per T.81 B.2.3) over a spectral
  band ``Ss..Se``, traversing that component's OWN unpadded block grid
  (mapped into the MCU-order coefficient store by :func:`_mcu_rows`):
  first pass with EOB-run coding, refinement passes with the §G.1.2.3
  correction-bit protocol (newly-significant coefficients interleaved
  with history-coefficient refinements);
- restart markers (DC predictors and the EOB run reset per interval).

The store holds blocks in the baseline scan decoder's order, so both
codings share one plane assembler (dequant, IDCT, chroma upsample) and
one RGB/luma conversion in ``stages/jpeg.py``. 2- and 4-component
progressive frames are rejected loudly.

Exactness: the companion encoders (:func:`encode_jpeg_progressive`,
:func:`encode_jpeg_progressive_color`) emit multi-scan scripts from the
SAME quantized coefficients the baseline encoders produce (shared
forward pipeline) — so tests assert progressive decode ≡ baseline
decode byte-for-byte, and every scan kind is exercised.
"""

from __future__ import annotations

import struct

import numpy as np

from .jpeg import (
    _DC_BITS, _DC_VALS, _ac_table_spec, _BitWriter, _canonical_codes,
    _pad_edge, _quant_table, _quantized_zigzag, _seg,
)


def _ac_table_spec_prog() -> tuple[list[int], list[int]]:
    """Baseline AC alphabet + the EOBn symbols (run 1-14, size 0)
    progressive scans need for EOB-run coding (T.81 §G.1.2.2). Appended
    at code length 16 — suboptimal but valid; the table is written into
    the DHT segment so the decoder needs no agreement beyond the file."""
    bits, syms = _ac_table_spec()
    extra = [r << 4 for r in range(1, 15)]
    bits = list(bits)
    bits[15] += len(extra)
    return bits, list(syms) + extra


def _fused_ac_first(t) -> list[int]:
    """Fused AC-first decode table: 16-bit peek → the FULLY decoded
    symbol when the (run,size) code AND its magnitude bits fit in the
    window (code len + size ≤ 16, the overwhelmingly common case) —
    packed ``((extend(v,sz) + 16384) << 11) | (run << 7) | total_bits``,
    else -1 (fall through to the two-step path: EOBn, ZRL, long codes).
    One list lookup replaces lookup + second refill-check + magnitude
    extract + sign-extend per coefficient. Built vectorized from the
    peek table and cached on the table object. The frame reader builds a
    new ``_PeekTable`` for every DHT segment of every page, so the cache
    serves the AC-first scans of one page only, not the pages of a
    corpus; a cross-page table cache would save the table builds
    (~2.5 ms per DC+AC table pair on a 4-core x86 host)."""
    f = getattr(t, "_fused_prog", None)
    if f is None:
        e = np.asarray(t.entry, dtype=np.int64)
        ln = e & 31
        sym = e >> 5
        r = (sym >> 4) & 15
        sz = sym & 15
        tot = ln + sz
        valid = (e >= 0) & (sz > 0) & (sz <= 14) & (tot <= 16)
        idx = np.arange(1 << 16, dtype=np.int64)
        sh = np.where(valid, 16 - tot, 0)
        v = (idx >> sh) & ((1 << np.where(valid, sz, 1)) - 1)
        half = np.where(valid, sz - 1, 0)
        ext = np.where(v >> half > 0, v, v - (1 << np.where(valid, sz, 1))
                       + 1)
        f = np.where(valid,
                     ((ext + 16384) << 11) | (r << 7) | tot,
                     -1).tolist()
        t._fused_prog = f
    return f


def _comp_block_order(w: int, h: int, cv: int, ch: int, vmax: int,
                      hmax: int, mcux: int) -> list[int]:
    """Non-interleaved traversal order: the component's OWN block grid
    (ceil of its scaled dims — NOT padded to sampling multiples), mapped
    into the MCU-padded coefficient store (T.81 A.2.2). Shared by the
    decoder and the color encoder so the two cannot disagree."""
    comp_w = -(-w * ch // hmax)
    comp_h = -(-h * cv // vmax)
    cbx, cby = -(-comp_w // 8), -(-comp_h // 8)
    pwb = mcux * ch
    return [r * pwb + c for r in range(cby) for c in range(cbx)]


def _mcu_rows(cv: int, ch: int, mcuy: int, mcux: int) -> np.ndarray:
    """Index table of one component: raster index ``by * mcux*ch + bx``
    on its MCU-padded block grid → that block's row in MCU order (MCUs
    in raster order, the component's cv×ch blocks inside each), the order
    in which the baseline scan decoder emits blocks and the plane
    assembler reads them."""
    by = np.arange(mcuy * cv)[:, None]
    bx = np.arange(mcux * ch)[None, :]
    return (((by // cv) * mcux + bx // ch) * (cv * ch)
            + (by % cv) * ch + bx % ch).ravel()


def _write_dc_diff(bw: "_BitWriter", diff: int, dc_codes: dict) -> None:
    """Entropy-code one DC difference (shared by both progressive
    encoders' DC-first scans)."""
    size = abs(diff).bit_length()
    code, ln = dc_codes[size]
    bw.write(code, ln)
    if size:
        bw.write(diff if diff > 0 else diff + (1 << size) - 1, size)


def _decode_scan_progressive(segments, scan, frame, htables,
                             restart_interval, coefs) -> None:
    """One progressive scan (``segments`` destuffed, ``scan`` as parsed
    by ``jpeg._read_sos``) refined into ``coefs``: per component, zigzag-
    order rows in MCU order — the block order the baseline scan decoder
    emits, so both feed ``jpeg._assemble_plane`` unchanged."""
    comps = frame["comps"]
    sel, ss, se, ah, al = scan
    ns = len(sel)
    if not 1 <= ns <= len(comps):
        raise ValueError("bad progressive scan component count")
    scan_comps = []
    for cs, dsel, asel in sel:
        ci = next((j for j, c in enumerate(comps) if c["id"] == cs), None)
        if ci is None:
            raise ValueError("SOS selector missing frame component")
        scan_comps.append((ci, dsel, asel))
    if not (0 <= ss <= se <= 63):
        raise ValueError("bad spectral selection")
    if ss == 0 and se != 0:
        raise ValueError("DC scan with Se != 0")
    if ss > 0 and ns != 1:
        raise ValueError("interleaved AC scan is illegal (T.81 B.2.3)")

    mcux, mcuy = frame["mcux"], frame["mcuy"]
    if ss == 0 and ns > 1:
        # interleaved DC scan: MCU units, each component's v*h blocks in
        # turn — consecutive rows of the MCU-order store
        nbs = [(ci, comps[ci]["v"] * comps[ci]["h"])
               for ci, _, _ in scan_comps]
        units = [[(ci, m * nb + b) for ci, nb in nbs for b in range(nb)]
                 for m in range(mcux * mcuy)]
    else:
        # the component's own block grid, in raster order, addressed
        # into the MCU-order store through the index table
        ci0 = scan_comps[0][0]
        comp = comps[ci0]
        order = _comp_block_order(frame["w"], frame["h"], comp["v"],
                                  comp["h"], frame["vmax"], frame["hmax"],
                                  mcux)
        rows = _mcu_rows(comp["v"], comp["h"], mcuy, mcux)[order]
        units = [[(ci0, row)] for row in rows.tolist()]
    n_units = len(units)

    dc_tables = {}
    ac_table = None
    if ss == 0:
        for ci, dsel, _ in scan_comps:
            if ah == 0:
                t = htables.get((0, dsel))
                if t is None:
                    raise ValueError("missing Huffman table")
                dc_tables[ci] = t.entry
    else:
        t = htables.get((1, scan_comps[0][2]))
        if t is None:
            raise ValueError("missing Huffman table")
        ac_table = t.entry
        ac_fused = _fused_ac_first(t) if ah == 0 else None

    ac_rows = ([u[0][1] for u in units] if ss > 0 else None)
    ifb = int.from_bytes
    unit = 0
    for seg in segments:
        limit = (min(unit + restart_interval, n_units)
                 if restart_interval else n_units)
        # inline bit cursor (locals, no per-symbol method calls — the
        # same lesson as the baseline scalar loop: attribute access and
        # call overhead dominate per-symbol cost), MSB-first, refilled 48
        # bits at a time from a zero-padded copy — the read pointer clamps
        # into the pad so past-end reads yield zero bits (the baseline
        # lockstep decoder's clamp trick), and a single `if` replaces the
        # per-byte fill loop (max deficit 16 < refill 48). The
        # per-segment truncation check at the bottom stays exact:
        # nbits tracks every unconsumed refill bit. Rows are mutated as
        # plain Python lists and written back per block (numpy scalar
        # indexing is ~5× slower in per-symbol loops).
        sn = len(seg)
        segp = seg + b"\x00" * 8
        buf = nbits = posb = 0
        if ss == 0:
            if ah == 0:
                preds = {ci: 0 for ci, _, _ in scan_comps}
                while unit < limit:
                    for ci, row in units[unit]:
                        if nbits < 16:
                            rp = posb if posb < sn else sn
                            buf = ((buf << 48) | ifb(segp[rp:rp + 6],
                                                     "big")) \
                                & 0xFFFFFFFFFFFFFFFF
                            posb += 6
                            nbits += 48
                        e = dc_tables[ci][(buf >> (nbits - 16)) & 0xFFFF]
                        if e < 0:
                            raise ValueError(
                                "bad Huffman code (progressive)")
                        nbits -= e & 31
                        sym = e >> 5
                        if sym > 11:
                            raise ValueError("bad DC size")
                        if sym:
                            if nbits < sym:
                                rp = posb if posb < sn else sn
                                buf = ((buf << 48) | ifb(segp[rp:rp + 6],
                                                         "big")) \
                                    & 0xFFFFFFFFFFFFFFFF
                                posb += 6
                                nbits += 48
                            v = (buf >> (nbits - sym)) & ((1 << sym) - 1)
                            nbits -= sym
                            preds[ci] += (v if v >> (sym - 1)
                                          else v - (1 << sym) + 1)
                        coefs[ci][row, 0] = preds[ci] << al
                    unit += 1
            else:
                bit = 1 << al
                while unit < limit:  # DC refinement: one bit per block
                    for ci, row in units[unit]:
                        if nbits < 1:
                            rp = posb if posb < sn else sn
                            buf = ((buf << 48) | ifb(segp[rp:rp + 6],
                                                     "big")) \
                                & 0xFFFFFFFFFFFFFFFF
                            posb += 6
                            nbits += 48
                        nbits -= 1
                        if (buf >> nbits) & 1:
                            coefs[ci][row, 0] |= bit
                    unit += 1
        elif ah == 0:
            eobrun = 0
            coef = coefs[scan_comps[0][0]]
            rows = ac_rows  # AC scans are single-block (hoisted)
            while unit < limit:
                if eobrun > 0:
                    # EOB runs cover whole blocks with no bits to read —
                    # skip them in one arithmetic step, not per unit
                    skip = eobrun if eobrun < limit - unit \
                        else limit - unit
                    eobrun -= skip
                    unit += skip
                    continue
                ri = rows[unit]
                lst = None  # fetched lazily: EOB-only blocks never write
                k = ss
                while k <= se:
                    if nbits < 16:
                        rp = posb if posb < sn else sn
                        buf = ((buf << 48) | ifb(segp[rp:rp + 6],
                                                 "big")) \
                            & 0xFFFFFFFFFFFFFFFF
                        posb += 6
                        nbits += 48
                    fe = ac_fused[(buf >> (nbits - 16)) & 0xFFFF]
                    if fe >= 0:  # code + magnitude fused in one peek
                        nbits -= fe & 31
                        k += (fe >> 7) & 15
                        if k > se:
                            raise ValueError("AC run overflows band")
                        if lst is None:
                            lst = coef[ri].tolist()
                        lst[k] = ((fe >> 11) - 16384) << al
                        k += 1
                        continue
                    e = ac_table[(buf >> (nbits - 16)) & 0xFFFF]
                    if e < 0:
                        raise ValueError("bad Huffman code (progressive)")
                    nbits -= e & 31
                    sym = e >> 5
                    r = sym >> 4
                    sz = sym & 15
                    if sz == 0:
                        if r < 15:
                            if r:
                                if nbits < r:
                                    rp = posb if posb < sn else sn
                                    buf = ((buf << 48)
                                           | ifb(segp[rp:rp + 6],
                                                 "big")) \
                                        & 0xFFFFFFFFFFFFFFFF
                                    posb += 6
                                    nbits += 48
                                ext = (buf >> (nbits - r)) & ((1 << r) - 1)
                                nbits -= r
                            else:
                                ext = 0
                            eobrun = (1 << r) - 1 + ext
                            break
                        k += 16  # ZRL
                    else:
                        k += r
                        if k > se:
                            raise ValueError("AC run overflows band")
                        if nbits < sz:
                            rp = posb if posb < sn else sn
                            buf = ((buf << 48) | ifb(segp[rp:rp + 6],
                                                     "big")) \
                                & 0xFFFFFFFFFFFFFFFF
                            posb += 6
                            nbits += 48
                        v = (buf >> (nbits - sz)) & ((1 << sz) - 1)
                        nbits -= sz
                        if lst is None:
                            lst = coef[ri].tolist()
                        lst[k] = (v if v >> (sz - 1)
                                  else v - (1 << sz) + 1) << al
                        k += 1
                if lst is not None:
                    coef[ri] = lst
                unit += 1
        else:
            eobrun = 0
            p1, m1 = 1 << al, -1 << al
            coef = coefs[scan_comps[0][0]]
            rows = ac_rows  # AC scans are single-block (hoisted)
            band = np.arange(ss, se + 1)
            while unit < limit:
                if eobrun > 0:
                    # EOB-covered blocks consume exactly one correction
                    # bit per nonzero-history coefficient — a fixed,
                    # data-independent schedule, so a whole run is
                    # applied VECTORIZED: pull the run's band rows,
                    # count nonzeros, take that many bits from the
                    # cursor in one arbitrary-precision grab, unpack
                    # with numpy (row-major order == stream order), and
                    # apply the increment rule columnless. ~73% of
                    # refinement blocks on a text page ride this path.
                    run = eobrun if eobrun < limit - unit \
                        else limit - unit
                    blocki = np.asarray(rows[unit:unit + run])
                    sub = coef[blocki[:, None], band[None, :]]
                    nz = sub != 0
                    total = int(nz.sum())
                    if total:
                        # the scalar cursor leaves garbage above nbits
                        # (its reads always mask); the batch grab needs
                        # buf clean above nbits — mask once per run
                        buf &= (1 << nbits) - 1
                        need = total - nbits
                        if need > 0:
                            nby = (need + 7) >> 3
                            rp = posb if posb < sn else sn
                            chunk = segp[rp:rp + nby]
                            if len(chunk) < nby:
                                chunk = chunk \
                                    + b"\x00" * (nby - len(chunk))
                            buf = (buf << (nby << 3)) | ifb(chunk, "big")
                            posb += nby
                            nbits += nby << 3
                        ba = np.unpackbits(np.frombuffer(
                            (buf >> (nbits - total)).to_bytes(
                                (total + 7) >> 3, "big"),
                            dtype=np.uint8))
                        nbits -= total
                        buf &= (1 << nbits) - 1
                        bitsv = ba[len(ba) - total:].astype(bool)
                        vals = sub[nz]
                        upd = bitsv & ((vals & p1) == 0)
                        sub[nz] = np.where(
                            upd, vals + np.where(vals >= 0, p1, m1),
                            vals)
                        coef[blocki[:, None], band[None, :]] = sub
                    eobrun -= run
                    unit += run
                    continue
                ri = rows[unit]
                lst = coef[ri].tolist()
                k = ss
                if eobrun == 0:
                    while k <= se:
                        if nbits < 16:
                            rp = posb if posb < sn else sn
                            buf = ((buf << 48) | ifb(segp[rp:rp + 6],
                                                     "big")) \
                                & 0xFFFFFFFFFFFFFFFF
                            posb += 6
                            nbits += 48
                        e = ac_table[(buf >> (nbits - 16)) & 0xFFFF]
                        if e < 0:
                            raise ValueError(
                                "bad Huffman code (progressive)")
                        nbits -= e & 31
                        sym = e >> 5
                        r = sym >> 4
                        sz = sym & 15
                        if sz == 0:
                            if r < 15:
                                if r:
                                    if nbits < r:
                                        rp = posb if posb < sn else sn
                                        buf = ((buf << 48)
                                               | ifb(segp[rp:rp + 6],
                                                     "big")) \
                                            & 0xFFFFFFFFFFFFFFFF
                                        posb += 6
                                        nbits += 48
                                    ext = (buf >> (nbits - r)) \
                                        & ((1 << r) - 1)
                                    nbits -= r
                                else:
                                    ext = 0
                                eobrun = (1 << r) + ext
                                break
                            # ZRL: skip 16 zero-history positions,
                            # refining nonzeros passed over
                        elif sz == 1:
                            if nbits < 1:
                                rp = posb if posb < sn else sn
                                buf = ((buf << 48) | ifb(segp[rp:rp + 6],
                                                         "big")) \
                                    & 0xFFFFFFFFFFFFFFFF
                                posb += 6
                                nbits += 48
                            nbits -= 1
                            newval = p1 if (buf >> nbits) & 1 else m1
                        else:
                            raise ValueError(
                                "bad refinement magnitude (must be ±1)")
                        while k <= se:
                            cv = lst[k]
                            if cv != 0:
                                if nbits < 1:
                                    rp = posb if posb < sn else sn
                                    buf = ((buf << 48)
                                           | ifb(segp[rp:rp + 6],
                                                 "big")) \
                                        & 0xFFFFFFFFFFFFFFFF
                                    posb += 6
                                    nbits += 48
                                nbits -= 1
                                if ((buf >> nbits) & 1) and (cv & p1) == 0:
                                    lst[k] = cv + (p1 if cv >= 0 else m1)
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if sz == 1:
                            if k > se:
                                raise ValueError("AC run overflows band")
                            lst[k] = newval
                        k += 1
                if eobrun > 0:
                    # refine every remaining nonzero in the band
                    while k <= se:
                        cv = lst[k]
                        if cv != 0:
                            if nbits < 1:
                                rp = posb if posb < sn else sn
                                buf = ((buf << 48) | ifb(segp[rp:rp + 6],
                                                         "big")) \
                                    & 0xFFFFFFFFFFFFFFFF
                                posb += 6
                                nbits += 48
                            nbits -= 1
                            if ((buf >> nbits) & 1) and (cv & p1) == 0:
                                lst[k] = cv + (p1 if cv >= 0 else m1)
                        k += 1
                    eobrun -= 1
                coef[ri] = lst
                unit += 1
        if (posb << 3) - nbits > (sn << 3):
            raise ValueError("JPEG entropy data truncated (progressive)")
        if unit >= n_units:
            break
    if unit < n_units:
        raise ValueError("progressive scan ended early")


# --- encoder (test generator) ----------------------------------------------

_DEFAULT_SCRIPT = (
    # (Ss, Se, Ah, Al) — libjpeg-style script: DC first at Al=1, two AC
    # bands at Al=2, AC refinements down to Al=0, DC refinement last
    (0, 0, 0, 1),
    (1, 5, 0, 2),
    (6, 63, 0, 2),
    (1, 63, 2, 1),
    (1, 63, 1, 0),
    (0, 0, 1, 0),
)


def encode_jpeg_progressive(arr: np.ndarray, quality: int = 95,
                            script=_DEFAULT_SCRIPT) -> bytes:
    """(H, W) uint8 → progressive (SOF2) grayscale JPEG whose quantized
    coefficients are IDENTICAL to :func:`~.jpeg.encode_jpeg_gray` at the
    same quality — so progressive decode must reproduce the baseline
    decode byte-for-byte (the exactness oracle the tests assert)."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim != 2:
        raise ValueError("encode_jpeg_progressive takes a 2-D array")
    h, w = arr.shape
    q = _quant_table(quality)
    by, bx = -(-h // 8), -(-w // 8)
    # same pad + DCT + quantize + zigzag pipeline as the baseline/color
    # encoders (shared helpers — both encoders MUST produce identical
    # quantized coefficients; the test exactness oracle depends on it)
    zz = _quantized_zigzag(_pad_edge(arr, by * 8, bx * 8), by, bx, q)

    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_bits, ac_vals = _ac_table_spec_prog()
    ac_codes = _canonical_codes(ac_bits, ac_vals)

    scans = []
    for ss, se, ahh, all_ in script:
        bw = _BitWriter()
        if ss == 0 and ahh == 0:
            pred = 0
            for b in range(zz.shape[0]):
                v = int(zz[b, 0]) >> all_
                _write_dc_diff(bw, v - pred, dc_codes)
                pred = v
        elif ss == 0:
            for b in range(zz.shape[0]):
                bw.write((int(zz[b, 0]) >> all_) & 1, 1)
        elif ahh == 0:
            _encode_ac_first(bw, zz, ss, se, all_, ac_codes)
        else:
            _encode_ac_refine(bw, zz, ss, se, ahh, all_, ac_codes)
        scans.append((ss, se, ahh, all_, bw.flush()))

    from .jpeg import _zigzag_table_bytes
    dqt = bytes([0x00]) + _zigzag_table_bytes(q)
    sof = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    dht_dc = bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)
    dht_ac = bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals)
    out = (b"\xff\xd8" + _seg(0xDB, dqt) + _seg(0xC2, sof)
           + _seg(0xC4, dht_dc) + _seg(0xC4, dht_ac))
    for ss, se, ahh, all_, entropy in scans:
        sos = bytes([1, 1, 0x00, ss, se, (ahh << 4) | all_])
        out += _seg(0xDA, sos) + entropy
    return out + b"\xff\xd9"


def _encode_ac_first(bw, zz, ss, se, al, ac_codes):
    """AC first pass with EOB-run coding (T.81 §G.1.2.2)."""
    eobrun = 0

    def flush_eob():
        # one EOBn symbol covers the whole run: r = floor(log2(run)),
        # extension bits encode run - 2^r (run < 2^15 by the 0x7FFF cap)
        nonlocal eobrun
        if eobrun > 0:
            r = min(eobrun.bit_length() - 1, 14)
            code, ln = ac_codes[r << 4]
            bw.write(code, ln)
            if r:
                bw.write(eobrun - (1 << r), r)
            eobrun = 0

    for b in range(zz.shape[0]):
        band = [int(zz[b, k]) >> al if zz[b, k] >= 0
                else -(int(-zz[b, k]) >> al) for k in range(ss, se + 1)]
        nz = [i for i, v in enumerate(band) if v != 0]
        if not nz:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
                eobrun = 0
            continue
        flush_eob()
        eobrun = 0
        run = 0
        for i, v in enumerate(band):
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[0xF0]
                bw.write(code, ln)
                run -= 16
            size = abs(v).bit_length()
            code, ln = ac_codes[(run << 4) | size]
            bw.write(code, ln)
            vv = v if v > 0 else v + (1 << size) - 1
            bw.write(vv, size)
            run = 0
        if nz[-1] < len(band) - 1:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
                eobrun = 0
    flush_eob()


def _encode_ac_refine(bw, zz, ss, se, ah, al, ac_codes):
    """AC refinement pass (T.81 §G.1.2.3): newly-significant coefficients
    (value >> al == ±1) are coded as run/1 symbols over ZERO-history
    positions; already-significant coefficients are transparent to the
    run and emit one buffered correction bit each. ZRL folding must
    happen at EVERY nonzero current-level position (not just at new
    coefficients): the decoder reads correction bits positionally while
    walking a symbol's zero run, so deferring a fold past a transparent
    coefficient would put its bit on the wrong side of the ZRL symbol.
    Runs after the last new coefficient fold into the EOB run, whose
    buffered bits (current block's trailing + each EOB block's band) are
    emitted right after the EOBn symbol — the order the decoder's
    refine-remainder walks consume them."""
    eobrun = 0
    pending: list[int] = []  # correction bits owed to the next EOBn

    def flush_eob():
        nonlocal eobrun
        if eobrun > 0:
            r = min(eobrun.bit_length() - 1, 14)
            code, ln = ac_codes[r << 4]
            bw.write(code, ln)
            if r:
                bw.write(eobrun - (1 << r), r)
            for bit in pending:
                bw.write(bit, 1)
            pending.clear()
            eobrun = 0

    for b in range(zz.shape[0]):
        hist = [int(zz[b, k]) >> (al + 1) if zz[b, k] >= 0
                else -(int(-zz[b, k]) >> (al + 1))
                for k in range(ss, se + 1)]
        now = [int(zz[b, k]) >> al if zz[b, k] >= 0
               else -(int(-zz[b, k]) >> al) for k in range(ss, se + 1)]
        newly = [i for i in range(len(now))
                 if hist[i] == 0 and now[i] != 0]
        if not newly:  # whole block folds into the EOB run
            pending.extend(abs(now[i]) & 1
                           for i in range(len(now)) if hist[i] != 0)
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
            continue
        flush_eob()
        last_new = newly[-1]
        run = 0
        corr: list[int] = []
        for i in range(last_new + 1):
            if now[i] == 0:
                run += 1
                continue
            while run > 15:  # fold before handling ANY nonzero position
                code, ln = ac_codes[0xF0]
                bw.write(code, ln)
                run -= 16
                for bit in corr:
                    bw.write(bit, 1)
                corr = []
            if hist[i] != 0:  # transparent: buffer its correction bit
                corr.append(abs(now[i]) & 1)
                continue
            code, ln = ac_codes[(run << 4) | 1]
            bw.write(code, ln)
            bw.write(1 if now[i] > 0 else 0, 1)
            for bit in corr:
                bw.write(bit, 1)
            corr = []
            run = 0
        if last_new < len(now) - 1:
            # trailing positions: correction bits ride the next EOBn
            pending.extend(abs(now[i]) & 1
                           for i in range(last_new + 1, len(now))
                           if hist[i] != 0)
            eobrun += 1
    flush_eob()


def encode_jpeg_progressive_color(rgb: np.ndarray, quality: int = 95,
                                  sampling: tuple[int, int] = (2, 2),
                                  script=_DEFAULT_SCRIPT) -> bytes:
    """(H, W, 3) uint8 RGB → progressive (SOF2) 3-component YCbCr JPEG
    whose quantized coefficients are IDENTICAL to
    :func:`~.jpeg.encode_jpeg_color` at the same quality/sampling (shared
    forward pipeline) — so progressive color decode must reproduce the
    baseline color decode byte-for-byte.

    Script expansion per T.81: each DC entry becomes ONE interleaved scan
    (MCU order, all three components); each AC entry becomes THREE
    non-interleaved scans (one per component, traversing that component's
    own unpadded block grid)."""
    from .jpeg import _color_zigzag_planes

    rgb = np.asarray(rgb, dtype=np.uint8)
    zz_y, zz_c, mcuy, mcux, q_l, q_c = _color_zigzag_planes(
        rgb, quality, sampling)
    lv, lh = sampling
    h, w = rgb.shape[:2]
    zz_all = [zz_y] + zz_c
    samp = [(lv, lh), (1, 1), (1, 1)]

    def comp_order(ci: int) -> list[int]:
        cv, ch = samp[ci]
        return _comp_block_order(w, h, cv, ch, lv, lh, mcux)

    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_bits, ac_vals = _ac_table_spec_prog()
    ac_codes = _canonical_codes(ac_bits, ac_vals)

    scans = []  # (sos_body, entropy)
    for ss, se, ahh, all_ in script:
        if ss == 0:
            # interleaved DC scan over MCUs
            bw = _BitWriter()
            if ahh == 0:
                preds = [0, 0, 0]
                for my in range(mcuy):
                    for mx in range(mcux):
                        for ci in range(3):
                            cv, ch = samp[ci]
                            pwb = mcux * ch
                            for iy in range(cv):
                                for ix in range(ch):
                                    row = (my * cv + iy) * pwb + mx * ch + ix
                                    v = int(zz_all[ci][row, 0]) >> all_
                                    _write_dc_diff(bw, v - preds[ci],
                                                   dc_codes)
                                    preds[ci] = v
            else:
                for my in range(mcuy):
                    for mx in range(mcux):
                        for ci in range(3):
                            cv, ch = samp[ci]
                            pwb = mcux * ch
                            for iy in range(cv):
                                for ix in range(ch):
                                    row = (my * cv + iy) * pwb + mx * ch + ix
                                    bw.write(
                                        (int(zz_all[ci][row, 0]) >> all_)
                                        & 1, 1)
            sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00,
                         ss, se, (ahh << 4) | all_])
            scans.append((sos, bw.flush()))
        else:
            # one non-interleaved scan per component, comp-grid order
            for ci in range(3):
                bw = _BitWriter()
                ordered = zz_all[ci][np.array(comp_order(ci))]
                if ahh == 0:
                    _encode_ac_first(bw, ordered, ss, se, all_, ac_codes)
                else:
                    _encode_ac_refine(bw, ordered, ss, se, ahh, all_,
                                      ac_codes)
                sos = bytes([1, ci + 1, 0x00, ss, se, (ahh << 4) | all_])
                scans.append((sos, bw.flush()))

    from .jpeg import _zigzag_table_bytes
    dqt = (bytes([0x00]) + _zigzag_table_bytes(q_l)
           + bytes([0x01]) + _zigzag_table_bytes(q_c))
    sof = struct.pack(">BHHB", 8, h, w, 3) + bytes(
        [1, (lh << 4) | lv, 0, 2, 0x11, 1, 3, 0x11, 1])
    dht_dc = bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)
    dht_ac = bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals)
    out = (b"\xff\xd8" + _seg(0xDB, dqt) + _seg(0xC2, sof)
           + _seg(0xC4, dht_dc) + _seg(0xC4, dht_ac))
    for sos, entropy in scans:
        out += _seg(0xDA, sos) + entropy
    return out + b"\xff\xd9"
