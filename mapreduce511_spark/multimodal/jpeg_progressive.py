"""Progressive JPEG (SOF2) encoder — stdlib + numpy only.

Spectral selection + successive approximation per ITU-T T.81 Annex G,
mirroring the libjpeg default scan script: DC first at Al=1 then a
1-bit DC refinement; luma AC split into a 1..5 band and a 6..63 band
at Al=2 refined twice (Ah=2→Al=1, Ah=1→Al=0); chroma AC in one 1..63
band at Al=1 refined once. After all scans every coefficient is
reconstructed EXACTLY, so a progressive encode decodes to the same
pixels as the baseline encode of the same input — the invariant the
round-trip tests and the SQL oracle rely on.

Entropy details worth naming (they are where progressive differs from
baseline and where implementations historically disagree):
- DC uses the ARITHMETIC shift (value >> Al, floor) with prediction in
  the shifted domain; AC uses the MAGNITUDE shift (sign * (|v| >> Al))
  — T.81's point transform is defined per-direction and mixing them
  corrupts refinement.
- EOB runs span blocks within a scan: EOBn symbols (n<<4, extra n raw
  bits) encode runs up to 0x7FFF. The Annex K AC table only defines
  EOB0/ZRL, so the encoder emits its OWN canonical AC table with every
  (run, size) byte 0x00..0xFA at uniform 9-bit length (251 codes,
  Kraft 251/512, all-ones code unused as the spec requires).
- AC refinement buffers correction bits: already-nonzero coefficients
  passed during a run contribute one bit each, flushed after the next
  emitted symbol (ZRL, (r,1), or EOBn) in exactly the order the
  decoder re-consumes them.

Decoding lives in ``jpeg.py`` (``_decode_progressive_scan``): one
decoder handles SOF0 and SOF2 so ``decode_jpeg``/``decode_real`` need
no mode flag from the caller.

Reference basis: extension tier — multimodal decode family; ITU-T
T.81 Annex G; scan script shape per the public libjpeg
jcparam.c/jcphuff.c description (no code consulted — the algorithm is
fully specified in T.81 G.1/G.2).
"""

from __future__ import annotations

import struct

import numpy as np

from mapreduce511_spark.multimodal.bitio import JpegWriter
from mapreduce511_spark.multimodal.jpeg import (
    DC_BITS,
    DC_VALS,
    QTABLE_LUM,
    _ZZ,
    _build_codes,
    _magnitude,
    _to_planes,
    block_coefficients,
)

# Uniform 9-bit canonical AC table covering every (run, size) symbol
# 0x00..0xFA — includes all EOBn (n <= 14) and ZRL. 251 codes at
# length 9: Kraft 251/512 <= 1 and the all-1s code (511) stays unused.
PROG_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 0, 251, 0, 0, 0, 0, 0, 0, 0]
PROG_AC_VALS = list(range(0xFB))

# (component indices, Ss, Se, Ah, Al) — the libjpeg-shaped script.
_SCRIPT_3 = [
    ((0, 1, 2), 0, 0, 0, 1),  # DC first, interleaved
    ((0,), 1, 5, 0, 2),       # luma AC low band
    ((2,), 1, 63, 0, 1),      # chroma AC full band
    ((1,), 1, 63, 0, 1),
    ((0,), 6, 63, 0, 2),      # luma AC high band
    ((0,), 1, 63, 2, 1),      # luma AC refine 2 -> 1
    ((0, 1, 2), 0, 0, 1, 0),  # DC refine
    ((2,), 1, 63, 1, 0),      # chroma AC refine
    ((1,), 1, 63, 1, 0),
    ((0,), 1, 63, 1, 0),      # luma AC refine 1 -> 0
]
_SCRIPT_1 = [
    ((0,), 0, 0, 0, 1),
    ((0,), 1, 5, 0, 2),
    ((0,), 6, 63, 0, 2),
    ((0,), 0, 0, 1, 0),
    ((0,), 1, 63, 2, 1),
    ((0,), 1, 63, 1, 0),
]


class _ScanWriter:
    """Per-scan entropy state: bit writer + EOB-run accumulator.
    ``run_bits`` holds the correction bits owed by already-ended
    blocks inside the current EOB run — the decoder re-consumes them
    right after the EOBn symbol, in block order. Bits of the block
    currently being encoded are NOT here; they flush after that
    block's next emitted symbol (see ``_ac_refine``) because that is
    where the decoder's advance loop reads them."""

    def __init__(self, ac_codes) -> None:
        self.w = JpegWriter()
        self.ac_codes = ac_codes
        self.eobrun = 0
        self.run_bits: list[int] = []

    def sym(self, s: int) -> None:
        self.w.write(*self.ac_codes[s])

    def emit_eobrun(self) -> None:
        if self.eobrun > 0:
            nbits = self.eobrun.bit_length() - 1
            self.sym(nbits << 4)
            if nbits:
                self.w.write(self.eobrun, nbits)
            self.eobrun = 0
            for b in self.run_bits:
                self.w.write(b, 1)
            self.run_bits = []

    def end_scan(self) -> bytes:
        self.emit_eobrun()
        return self.w.getvalue()


def _dc_first(sw: _ScanWriter, dc_codes, blk, preds, idx, al) -> None:
    v = int(blk[0, 0]) >> al  # arithmetic shift (T.81 G.1.2.1)
    diff = v - preds[idx]
    preds[idx] = v
    s, code = _magnitude(diff)
    hc, hl = dc_codes[s]
    sw.w.write(hc, hl)
    if s:
        sw.w.write(code, s)


def _dc_refine(sw: _ScanWriter, blk, al) -> None:
    sw.w.write((int(blk[0, 0]) >> al) & 1, 1)


def _ac_first(sw: _ScanWriter, blk, ss, se, al) -> None:
    run = 0
    for k in range(ss, se + 1):
        i, j = _ZZ[k]
        t = int(blk[i, j])
        t = (t >> al) if t >= 0 else -((-t) >> al)  # magnitude shift
        if t == 0:
            run += 1
            continue
        sw.emit_eobrun()
        while run > 15:
            sw.sym(0xF0)
            run -= 16
        s, code = _magnitude(t)
        sw.sym((run << 4) | s)
        sw.w.write(code, s)
        run = 0
    if run > 0:
        sw.eobrun += 1
        if sw.eobrun == 0x7FFF:
            sw.emit_eobrun()


def _ac_refine(sw: _ScanWriter, blk, ss, se, al) -> None:
    absv = {}
    eob_pos = ss - 1  # position of the last NEWLY-nonzero coefficient
    for k in range(ss, se + 1):
        i, j = _ZZ[k]
        absv[k] = abs(int(blk[i, j])) >> al
        if absv[k] == 1:
            eob_pos = k
    run = 0
    blk_bits: list[int] = []  # this block's bits since last flush
    for k in range(ss, se + 1):
        t = absv[k]
        if t == 0:
            run += 1
            continue
        # ZRLs only when another newly-nonzero coefficient follows;
        # trailing zeros fold into the EOB run instead
        while run > 15 and k <= eob_pos:
            sw.emit_eobrun()
            sw.sym(0xF0)
            run -= 16
            for b in blk_bits:
                sw.w.write(b, 1)
            blk_bits = []
        if t > 1:  # history coefficient: one buffered correction bit
            blk_bits.append(t & 1)
            continue
        sw.emit_eobrun()
        sw.sym((run << 4) | 1)
        i, j = _ZZ[k]
        sw.w.write(1 if int(blk[i, j]) >= 0 else 0, 1)
        for b in blk_bits:
            sw.w.write(b, 1)
        blk_bits = []
        run = 0
    if run > 0 or blk_bits:
        sw.eobrun += 1
        sw.run_bits.extend(blk_bits)
        if sw.eobrun == 0x7FFF:
            sw.emit_eobrun()


def encode_jpeg_progressive(
    pixels: np.ndarray,
    q: np.ndarray = QTABLE_LUM,
    subsampling: str = "444",
    scans: list[tuple] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Encode (h, w) grayscale or (h, w, 3) RGB uint8 as progressive
    JPEG (SOF2). Same quantization and plane preparation as
    ``encode_jpeg`` — only the entropy layer differs — so both decode
    to identical pixels. ``scans`` overrides the default script with
    (component-index tuple, Ss, Se, Ah, Al) entries; DC scans may
    interleave components, AC scans must be single-component.
    ``restart_interval`` > 0 emits RSTn every that many MCUs (blocks,
    in non-interleaved scans) — EOB runs and their buffered
    correction bits flush before each marker, DC prediction resets
    after it."""
    channels, samps = _to_planes(pixels, subsampling)
    h, w = channels[0].shape
    h_max = max(s[0] for s in samps)
    v_max = max(s[1] for s in samps)
    if h % (8 * v_max) or w % (8 * h_max):
        raise ValueError("dimensions must be multiples of the MCU size")
    nc = len(channels)
    if scans is None:
        scans = _SCRIPT_3 if nc == 3 else _SCRIPT_1

    out = bytearray()
    out += b"\xff\xd8"
    zz_q = bytes(int(q[i, j]) for i, j in _ZZ)
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + zz_q
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        hi, vi = samps[ci]
        sof += struct.pack(">BBB", ci + 1, (hi << 4) | vi, 0)
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof  # SOF2
    dc_payload = bytes([0x00] + DC_BITS + DC_VALS)
    ac_payload = bytes([0x10] + PROG_AC_BITS + PROG_AC_VALS)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dc_payload)) + dc_payload
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(ac_payload)) + ac_payload
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    dc_codes = _build_codes(DC_BITS, DC_VALS)
    ac_codes = _build_codes(PROG_AC_BITS, PROG_AC_VALS)
    coeffs = [
        block_coefficients(np.asarray(ch, dtype=np.float64), q)
        for ch in channels
    ]
    mcu_y, mcu_x = h // (8 * v_max), w // (8 * h_max)

    for scomps, ss, se, ah, al in scans:
        sos = bytes([len(scomps)]) + b"".join(
            bytes([ci + 1, 0x00]) for ci in scomps
        ) + bytes([ss, se, (ah << 4) | al])
        out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
        sw = _ScanWriter(ac_codes)
        n_unit = 0

        def at_restart(sw=sw):
            """Interval boundary: flush the EOB run (and its buffered
            correction bits), realign, emit the next RSTn."""
            sw.emit_eobrun()
            sw.w.marker(0xD0 + (n_unit // restart_interval - 1) % 8)

        if ss == 0:
            if se != 0:
                raise ValueError("DC scan must have Se = 0")
            preds = [0] * len(scomps)
            if len(scomps) == 1:
                grid = coeffs[scomps[0]]
                for r in range(grid.shape[0]):
                    for c in range(grid.shape[1]):
                        if restart_interval and n_unit \
                                and n_unit % restart_interval == 0:
                            at_restart()
                            preds = [0] * len(scomps)
                        n_unit += 1
                        if ah == 0:
                            _dc_first(sw, dc_codes, grid[r, c], preds, 0, al)
                        else:
                            _dc_refine(sw, grid[r, c], al)
            else:
                for my in range(mcu_y):
                    for mx in range(mcu_x):
                        if restart_interval and n_unit \
                                and n_unit % restart_interval == 0:
                            at_restart()
                            preds = [0] * len(scomps)
                        n_unit += 1
                        for idx, ci in enumerate(scomps):
                            hi, vi = samps[ci]
                            for byi in range(vi):
                                for bxi in range(hi):
                                    blk = coeffs[ci][
                                        my * vi + byi, mx * hi + bxi
                                    ]
                                    if ah == 0:
                                        _dc_first(
                                            sw, dc_codes, blk, preds, idx, al
                                        )
                                    else:
                                        _dc_refine(sw, blk, al)
        else:
            if len(scomps) != 1:
                raise ValueError("AC scans must be single-component")
            grid = coeffs[scomps[0]]
            for r in range(grid.shape[0]):
                for c in range(grid.shape[1]):
                    if restart_interval and n_unit \
                            and n_unit % restart_interval == 0:
                        at_restart()
                    n_unit += 1
                    if ah == 0:
                        _ac_first(sw, grid[r, c], ss, se, al)
                    else:
                        _ac_refine(sw, grid[r, c], ss, se, al)
        out += sw.end_scan()
    out += b"\xff\xd9"
    return bytes(out)
