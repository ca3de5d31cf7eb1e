"""JPEG codec (baseline SOF0 + progressive SOF2) — stdlib + numpy.

Scope (honest): baseline DCT (SOF0) and progressive DCT (SOF2,
spectral selection + successive approximation — decode here, encoder
in ``jpeg_progressive.py``), 8-bit samples, Huffman entropy coding,
1-component grayscale or 3-component with sampling factors in {1, 2}
— 4:4:4, 4:2:0 (2x2 luma MCUs + replication upsampling, the dominant
real-corpus JPEG class, added r6 per the r5 VERDICT) and 4:2:2;
restart markers (DRI/RSTn with modulo-8 sequence checking) in both
modes; whole-MCU dimensions only; no hierarchical/lossless modes
(sequential ARITHMETIC coding lives in ``jpeg_arith.py`` since r8). Anything else raises ``ValueError`` loudly (the honest-gate
discipline of ``codecs.decode_real``).
Chroma upsampling is sample REPLICATION (each chroma sample covers
its 2x2 or 2x1 pixel footprint) — the deterministic choice a SQL
oracle can restate, equivalent to libjpeg's -nosmooth path.

Determinism discipline: the only float stages are the DCT/IDCT;
coefficients and reconstructed samples are SNAPPED to exact integers
when within 1e-6 (a constant block's DC is exactly 8*(v-128) in real
arithmetic — snapping removes the 1-ulp float noise that could flip
a rounding boundary), and all rounding is explicit floor(x + 0.5),
restatable in SQL. This is what lets ``multimodal_jpeg_stats`` put a
DC-only fixture corpus under the exact DuckDB oracle gate while the
AC/Huffman layer is proven lossless by coefficient-exact round-trip
tests (tests/test_jpeg.py).

Reference basis: extension tier — multimodal decode family (r4
VERDICT item 10); ITU-T T.81 baseline process, Annex K tables.
"""

from __future__ import annotations

import struct

import numpy as np

from mapreduce511_spark.multimodal.bitio import JpegReader, JpegWriter

JPEG_FMT = "image/jpeg"

# ITU-T T.81 Annex K.1 — luminance quantization table (quality 50),
# in natural (row-major) order.
QTABLE_LUM = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int64,
)

# zigzag scan order: _ZIGZAG[k] = (row, col) of the k-th coefficient
_ZZ = [
    (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
    (2, 1), (3, 0), (4, 0), (3, 1), (2, 2), (1, 3), (0, 4), (0, 5),
    (1, 4), (2, 3), (3, 2), (4, 1), (5, 0), (6, 0), (5, 1), (4, 2),
    (3, 3), (2, 4), (1, 5), (0, 6), (0, 7), (1, 6), (2, 5), (3, 4),
    (4, 3), (5, 2), (6, 1), (7, 0), (7, 1), (6, 2), (5, 3), (4, 4),
    (3, 5), (2, 6), (1, 7), (2, 7), (3, 6), (4, 5), (5, 4), (6, 3),
    (7, 2), (7, 3), (6, 4), (5, 5), (4, 6), (3, 7), (4, 7), (5, 6),
    (6, 5), (7, 4), (7, 5), (6, 6), (5, 7), (6, 7), (7, 6), (7, 7),
]

# Annex K.3: standard DC luminance Huffman spec (BITS, HUFFVAL)
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))
# Annex K.5: standard AC luminance Huffman spec
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _dct_matrix() -> np.ndarray:
    m = np.zeros((8, 8))
    for u in range(8):
        c = (1.0 / np.sqrt(2.0)) if u == 0 else 1.0
        for i in range(8):
            m[u, i] = 0.5 * c * np.cos((2 * i + 1) * u * np.pi / 16.0)
    return m


_DCT = _dct_matrix()


def _snap(a: np.ndarray, eps: float = 1e-6) -> np.ndarray:
    """Snap float values within eps of an integer to that integer —
    kills the 1-ulp DCT noise that could flip a floor(x+0.5) boundary
    (the determinism contract the SQL oracle relies on)."""
    r = np.rint(a)
    return np.where(np.abs(a - r) < eps, r, a)


def _round_half_up(a: np.ndarray) -> np.ndarray:
    return np.floor(a + 0.5)


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), canonical Huffman per T.81 C.2."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _build_decoder(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol."""
    return {
        (ln, code): sym for sym, (code, ln) in _build_codes(bits, vals).items()
    }


def _magnitude(v: int) -> tuple[int, int]:
    """(category s, s-bit code) for a coefficient value (T.81 F.1.2)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    s = a.bit_length()
    code = v if v > 0 else v + (1 << s) - 1
    return s, code


def _extend(code: int, s: int) -> int:
    if s == 0:
        return 0
    if code < (1 << (s - 1)):
        return code - (1 << s) + 1
    return code


def block_coefficients(pixels: np.ndarray, q: np.ndarray = QTABLE_LUM) -> np.ndarray:
    """Forward path up to quantized coefficients: (n_blocks_y,
    n_blocks_x, 8, 8) int array for one channel — exposed so tests
    can prove the entropy layer is exactly lossless."""
    h, w = pixels.shape
    if h % 8 or w % 8:
        raise ValueError("channel dimensions must be multiples of 8")
    shifted = pixels.astype(np.float64) - 128.0
    by, bx = h // 8, w // 8
    out = np.zeros((by, bx, 8, 8), dtype=np.int64)
    for r in range(by):
        for c in range(bx):
            blk = shifted[r * 8:(r + 1) * 8, c * 8:(c + 1) * 8]
            coef = _snap(_DCT @ blk @ _DCT.T)
            out[r, c] = _round_half_up(coef / q).astype(np.int64)
    return out


def _encode_channel_coeffs(
    coeffs: np.ndarray, writer: JpegWriter, dc_codes, ac_codes, pred: int
) -> int:
    by, bx = coeffs.shape[:2]
    for r in range(by):
        for c in range(bx):
            zz = np.array([coeffs[r, c][i, j] for i, j in _ZZ], dtype=np.int64)
            diff = int(zz[0]) - pred
            pred = int(zz[0])
            s, code = _magnitude(diff)
            hc, hl = dc_codes[s]
            writer.write(hc, hl)
            if s:
                writer.write(code, s)
            run = 0
            last_nz = 0
            for k in range(63, 0, -1):
                if zz[k]:
                    last_nz = k
                    break
            for k in range(1, last_nz + 1):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    hc, hl = ac_codes[0xF0]  # ZRL
                    writer.write(hc, hl)
                    run -= 16
                s, code = _magnitude(v)
                hc, hl = ac_codes[(run << 4) | s]
                writer.write(hc, hl)
                writer.write(code, s)
                run = 0
            if last_nz < 63:
                hc, hl = ac_codes[0x00]  # EOB
                writer.write(hc, hl)
    return pred


def _downsample2(ch: np.ndarray) -> np.ndarray:
    """2x2 box downsample with explicit deterministic arithmetic:
    mean of the 4 covered samples, snapped and half-up rounded (the
    inputs are whole numbers, so the mean is an exact multiple of
    0.25 and the rounding is boundary-stable)."""
    h, w = ch.shape
    m = ch.reshape(h // 2, 2, w // 2, 2).sum(axis=(1, 3)) / 4.0
    return np.clip(_round_half_up(_snap(m)), 0, 255)


def _downsample2h(ch: np.ndarray) -> np.ndarray:
    """Horizontal-only 2x1 box downsample (4:2:2): mean of each
    horizontal pair, exact multiple of 0.5, same snap + half-up
    rounding discipline as the 2x2 variant."""
    h, w = ch.shape
    m = ch.reshape(h, w // 2, 2).sum(axis=2) / 2.0
    return np.clip(_round_half_up(_snap(m)), 0, 255)


def _to_planes(
    pixels: np.ndarray, subsampling: str
) -> tuple[list[np.ndarray], list[tuple[int, int]]]:
    """(channels, sampling factors) for a (h, w) grayscale or
    (h, w, 3) RGB input: JFIF YCbCr conversion (BT.601, half-up
    rounding) and optional 4:2:0 chroma downsampling — the shared
    front half of the baseline and progressive encoders."""
    if pixels.ndim == 2:
        channels = [pixels.astype(np.float64)]
        samps = [(1, 1)]
        if subsampling != "444":
            raise ValueError("grayscale has no chroma to subsample")
    elif pixels.ndim == 3 and pixels.shape[2] == 3:
        # JFIF YCbCr (BT.601), explicit half-up rounding
        rgb = pixels.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        y, cb, cr = (
            np.clip(_round_half_up(_snap(ch)), 0, 255) for ch in (y, cb, cr)
        )
        if subsampling == "444":
            channels = [y, cb, cr]
            samps = [(1, 1), (1, 1), (1, 1)]
        elif subsampling == "420":
            if pixels.shape[0] % 16 or pixels.shape[1] % 16:
                raise ValueError("4:2:0 needs dimensions multiple of 16")
            channels = [y, _downsample2(cb), _downsample2(cr)]
            samps = [(2, 2), (1, 1), (1, 1)]
        elif subsampling == "422":
            if pixels.shape[0] % 8 or pixels.shape[1] % 16:
                raise ValueError(
                    "4:2:2 needs height multiple of 8, width of 16"
                )
            channels = [y, _downsample2h(cb), _downsample2h(cr)]
            samps = [(2, 1), (1, 1), (1, 1)]
        else:
            raise ValueError(f"unsupported subsampling {subsampling!r}")
    else:
        raise ValueError("pixels must be (h, w) or (h, w, 3)")
    return channels, samps


def encode_jpeg(
    pixels: np.ndarray,
    q: np.ndarray = QTABLE_LUM,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Encode (h, w) grayscale or (h, w, 3) RGB uint8 as baseline
    JPEG with one shared quant + Huffman table set (the Annex K
    luminance tables), interleaved single scan. ``subsampling``:
    "444" (all 1x1 — h, w multiples of 8) or "420" (2x2 luma MCUs,
    2x2-box-downsampled chroma — h, w multiples of 16).
    ``restart_interval`` > 0 emits a DRI segment and an RSTn marker
    every that many MCUs (byte-aligned, DC prediction reset — what
    camera JPEGs ship for error resilience)."""
    channels, samps = _to_planes(pixels, subsampling)
    h, w = channels[0].shape
    h_max = max(s[0] for s in samps)
    v_max = max(s[1] for s in samps)
    if h % (8 * v_max) or w % (8 * h_max):
        # the real requirement is the MCU size (16 px on the
        # subsampled axes for 4:2:0/4:2:2, 8 px for 4:4:4)
        raise ValueError(
            f"dimensions must be multiples of the MCU size "
            f"({8 * v_max}x{8 * h_max} for {subsampling})"
        )
    nc = len(channels)

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    # DQT (table 0, natural order written in zigzag per spec)
    zz_q = bytes(int(q[i, j]) for i, j in _ZZ)
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + zz_q
    # SOF0
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        hi, vi = samps[ci]
        sof += struct.pack(">BBB", ci + 1, (hi << 4) | vi, 0)
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    # DHT: DC table 0, AC table 0
    dc_payload = bytes([0x00] + DC_BITS + DC_VALS)
    ac_payload = bytes([0x10] + AC_BITS + AC_VALS)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dc_payload)) + dc_payload
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(ac_payload)) + ac_payload
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # SOS
    sos = bytes([nc]) + b"".join(
        bytes([ci + 1, 0x00]) for ci in range(nc)
    ) + bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    dc_codes = _build_codes(DC_BITS, DC_VALS)
    ac_codes = _build_codes(AC_BITS, AC_VALS)
    writer = JpegWriter()
    coeffs = [
        block_coefficients(np.asarray(ch, dtype=np.float64), q)
        for ch in channels
    ]
    preds = [0] * nc
    mcu_y, mcu_x = h // (8 * v_max), w // (8 * h_max)
    n_mcu = 0
    # interleaved MCU: vi x hi blocks per component, row-major
    for my in range(mcu_y):
        for mx in range(mcu_x):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                writer.marker(0xD0 + (n_mcu // restart_interval - 1) % 8)
                preds = [0] * nc
            n_mcu += 1
            for ci in range(nc):
                hi, vi = samps[ci]
                for byi in range(vi):
                    for bxi in range(hi):
                        r, c = my * vi + byi, mx * hi + bxi
                        preds[ci] = _encode_channel_coeffs(
                            coeffs[ci][r:r + 1, c:c + 1],
                            writer,
                            dc_codes,
                            ac_codes,
                            preds[ci],
                        )
    out += writer.getvalue()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _walk_segments(payload: bytes):
    """Yield (marker, body, entropy) in stream order — ``entropy`` is
    the byte-stuffed coded data following an SOS body (scan ends at
    the first 0xFF followed by anything other than a stuffing 0x00 or
    a bare RSTn), ``None`` for every other marker. Multi-SOS aware:
    progressive JPEGs carry one SOS per scan, and DHT/DQT segments may
    legally appear between scans."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    saw_sos = False
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            if not saw_sos:
                break
            return
        if 0xD0 <= marker <= 0xD7:  # RSTn — bare
            continue
        (ln,) = struct.unpack(">H", payload[pos:pos + 2])
        body = payload[pos + 2:pos + ln]
        pos += ln
        if marker == 0xDA:  # SOS: entropy-coded data follows
            saw_sos = True
            start = pos
            while pos < len(payload) - 1:
                if (
                    payload[pos] == 0xFF
                    and payload[pos + 1] != 0x00
                    and not (0xD0 <= payload[pos + 1] <= 0xD7)
                ):
                    break
                pos += 1
            yield marker, body, payload[start:pos]
        else:
            yield marker, body, None
    raise ValueError("JPEG has no SOS segment" if not saw_sos
                     else "JPEG missing EOI")


def decode_jpeg_coeffs(payload: bytes):
    """Decode through the LOSSLESS layers only: returns (w, h,
    [per-component quantized coefficient arrays], [quant tables]) —
    the entropy-exact surface the round-trip tests compare. Each
    component's array is at ITS OWN block grid (a 4:2:0 chroma plane
    has 1/4 the luma blocks)."""
    w, h, _comps, coeffs, qlist = _decode_coeffs_full(payload)
    return w, h, coeffs, qlist


def _decode_coeffs_full(payload: bytes):
    """(w, h, comps, coeffs, qlist) with comps = [(cid, hi, vi, tq)]
    — the general interleaved-MCU decode for sampling factors in
    {1, 2} (4:4:4 is the Hmax = Vmax = 1 special case). Handles both
    baseline (SOF0, single interleaved scan) and progressive (SOF2,
    spectral-selection + successive-approximation scans per T.81
    Annex G — the coefficient arrays accumulate across scans)."""
    qtables: dict[int, np.ndarray] = {}
    dc_dec: dict[int, dict] = {}
    ac_dec: dict[int, dict] = {}
    comps = None
    h = w = None
    progressive = False
    coeffs = None
    restart_interval = 0
    for marker, body, entropy in _walk_segments(payload):
        if marker == 0xDB:  # DQT — may hold several tables
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                tbl = np.zeros((8, 8), dtype=np.int64)
                for k, (i, j) in enumerate(_ZZ):
                    tbl[i, j] = body[p + 1 + k]
                qtables[tq] = tbl
                p += 65
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError("only 8-bit samples supported")
            comps = []
            for ci in range(nc):
                cid, samp, tq = body[6 + 3 * ci:9 + 3 * ci]
                hi, vi = samp >> 4, samp & 0xF
                if hi not in (1, 2) or vi not in (1, 2):
                    raise ValueError(
                        f"sampling factors {hi}x{vi} unsupported"
                        " (1 and 2 only: 4:4:4 / 4:2:2 / 4:2:0)"
                    )
                comps.append((cid, hi, vi, tq))
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG process (SOF marker 0xFF{marker:02X});"
                " baseline SOF0 and progressive SOF2 are implemented"
            )
        elif marker == 0xC4:  # DHT — may hold several tables
            p = 0
            while p < len(body):
                tc, th = body[p] >> 4, body[p] & 0xF
                bits = list(body[p + 1:p + 17])
                nvals = sum(bits)
                vals = list(body[p + 17:p + 17 + nvals])
                dec = _build_decoder(bits, vals)
                if tc == 0:
                    dc_dec[th] = dec
                else:
                    ac_dec[th] = dec
                p += 17 + nvals
        elif marker == 0xDD:  # DRI — restart every N MCUs
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:
            if comps is None or h is None:
                raise ValueError("JPEG SOS before SOF")
            h_max = max(c[1] for c in comps)
            v_max = max(c[2] for c in comps)
            if h % (8 * v_max) or w % (8 * h_max):
                raise ValueError(
                    "non-whole-MCU dimensions unsupported "
                    f"({w}x{h} with {h_max}x{v_max} max sampling)"
                )
            mcu_y, mcu_x = h // (8 * v_max), w // (8 * h_max)
            if coeffs is None:
                coeffs = [
                    np.zeros((mcu_y * vi, mcu_x * hi, 8, 8), dtype=np.int64)
                    for _cid, hi, vi, _tq in comps
                ]
            if progressive:
                _decode_progressive_scan(
                    body, entropy, comps, coeffs, dc_dec, ac_dec,
                    mcu_y, mcu_x, restart_interval,
                )
            else:
                _decode_baseline_scan(
                    body, entropy, comps, coeffs, dc_dec, ac_dec,
                    mcu_y, mcu_x, restart_interval,
                )
    if comps is None or h is None:
        raise ValueError("JPEG missing SOF")
    if coeffs is None:
        raise ValueError("JPEG has no scan")
    qlist = [qtables[tq] for _cid, _hi, _vi, tq in comps]
    return w, h, comps, coeffs, qlist


def _decode_baseline_scan(
    sos, data, comps, coeffs, dc_dec, ac_dec, mcu_y, mcu_x, dri=0
):
    """The single fully-interleaved baseline scan (ns == nc), with
    RSTn handling every ``dri`` MCUs (byte realign + DC reset)."""
    nc = len(comps)
    ns = sos[0]
    if ns != nc:
        raise ValueError("partial baseline scans unsupported")
    tabsel = {}
    for si in range(ns):
        cs, tt = sos[1 + 2 * si], sos[2 + 2 * si]
        tabsel[cs] = (tt >> 4, tt & 0xF)
    reader = JpegReader(data)
    preds = [0] * nc
    n_mcu = 0
    for my in range(mcu_y):
        for mx in range(mcu_x):
            if dri and n_mcu and n_mcu % dri == 0:
                reader.restart(n_mcu // dri - 1)
                preds = [0] * nc
            n_mcu += 1
            for ci, (cid, hi, vi, _tq) in enumerate(comps):
                td, ta = tabsel[cid]
                for byi in range(vi):
                    for bxi in range(hi):
                        s = reader.read_symbol(dc_dec[td])
                        diff = _extend(reader.read(s), s) if s else 0
                        preds[ci] += diff
                        zz = np.zeros(64, dtype=np.int64)
                        zz[0] = preds[ci]
                        k = 1
                        while k < 64:
                            sym = reader.read_symbol(ac_dec[ta])
                            if sym == 0x00:  # EOB
                                break
                            if sym == 0xF0:  # ZRL
                                k += 16
                                continue
                            run, size = sym >> 4, sym & 0xF
                            k += run
                            if k > 63:
                                raise ValueError("AC run overflows block")
                            zz[k] = _extend(reader.read(size), size)
                            k += 1
                        blk = np.zeros((8, 8), dtype=np.int64)
                        for kk, (i, j) in enumerate(_ZZ):
                            blk[i, j] = zz[kk]
                        coeffs[ci][my * vi + byi, mx * hi + bxi] = blk


def _refine_nonzero(blk, i, j, reader, p1, m1):
    """One AC-refinement correction bit for an already-nonzero
    coefficient (T.81 G.2 / the jdphuff algorithm): a 1-bit moves the
    value one quantum AWAY from zero iff the p1 bit is not already
    set; two's-complement += works for both signs."""
    if reader.read(1) and (blk[i, j] & p1) == 0:
        blk[i, j] += p1 if blk[i, j] >= 0 else m1


def _decode_progressive_scan(
    sos, data, comps, coeffs, dc_dec, ac_dec, mcu_y, mcu_x, dri=0
):
    """One progressive scan (T.81 Annex G.2): DC scans (Ss = 0) may
    interleave components; AC scans are single-component over that
    component's own block grid. Ah = 0 scans establish coefficients
    at point-transform precision Al; Ah > 0 scans refine one bit
    (Al = Ah - 1). EOB runs span blocks within a scan but never a
    restart: every ``dri`` MCUs (blocks, for non-interleaved scans)
    an RSTn realigns the reader and resets DC prediction/EOB run."""
    ns = sos[0]
    scomps = []
    for si in range(ns):
        cs, tt = sos[1 + 2 * si], sos[2 + 2 * si]
        ci = next(
            i for i, (cid, *_r) in enumerate(comps) if cid == cs
        )
        scomps.append((ci, tt >> 4, tt & 0xF))
    ss, se, ahal = sos[1 + 2 * ns], sos[2 + 2 * ns], sos[3 + 2 * ns]
    ah, al = ahal >> 4, ahal & 0xF
    if se > 63 or ss > se:
        raise ValueError(f"bad spectral selection {ss}..{se}")
    reader = JpegReader(data)
    if ss == 0:
        if se != 0:
            raise ValueError("progressive DC scan must have Se = 0")
        preds = [0] * len(scomps)
        n_unit = 0
        if ns == 1:
            # non-interleaved: the component's own block grid
            ci, td, _ta = scomps[0]
            grid = coeffs[ci]
            for r in range(grid.shape[0]):
                for c in range(grid.shape[1]):
                    if dri and n_unit and n_unit % dri == 0:
                        reader.restart(n_unit // dri - 1)
                        preds = [0] * len(scomps)
                    n_unit += 1
                    _dc_one(grid, r, c, reader, dc_dec.get(td),
                            preds, 0, ah, al)
        else:
            for my in range(mcu_y):
                for mx in range(mcu_x):
                    if dri and n_unit and n_unit % dri == 0:
                        reader.restart(n_unit // dri - 1)
                        preds = [0] * len(scomps)
                    n_unit += 1
                    for idx, (ci, td, _ta) in enumerate(scomps):
                        _cid, hi, vi, _tq = comps[ci]
                        for byi in range(vi):
                            for bxi in range(hi):
                                _dc_one(
                                    coeffs[ci], my * vi + byi,
                                    mx * hi + bxi, reader,
                                    dc_dec.get(td), preds, idx, ah, al,
                                )
        return
    if ns != 1:
        raise ValueError("progressive AC scans are single-component")
    ci, _td, ta = scomps[0]
    grid = coeffs[ci]
    table = ac_dec[ta]
    p1, m1 = 1 << al, (-1) << al
    eobrun = 0
    n_unit = 0
    for r in range(grid.shape[0]):
        for c in range(grid.shape[1]):
            if dri and n_unit and n_unit % dri == 0:
                if eobrun:
                    raise ValueError("EOB run crosses a restart marker")
                reader.restart(n_unit // dri - 1)
            n_unit += 1
            blk = grid[r, c]
            if ah == 0:
                eobrun = _ac_first_block(
                    blk, reader, table, ss, se, al, eobrun
                )
            else:
                eobrun = _ac_refine_block(
                    blk, reader, table, ss, se, p1, m1, eobrun
                )


def _dc_one(grid, r, c, reader, dc_table, preds, idx, ah, al):
    if ah == 0:  # first DC scan: baseline diff coding at >> Al
        s = reader.read_symbol(dc_table)
        diff = _extend(reader.read(s), s) if s else 0
        preds[idx] += diff
        grid[r, c][0, 0] = preds[idx] << al
    else:  # refinement: one raw bit per block
        grid[r, c][0, 0] |= reader.read(1) << al


def _ac_first_block(blk, reader, table, ss, se, al, eobrun):
    """First AC scan for one block (G.2.2: run-length + EOB runs;
    values arrive at magnitude-shifted precision << Al)."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = reader.read_symbol(table)
        run, size = sym >> 4, sym & 0xF
        if size == 0:
            if run == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << run) - 1  # this block consumes one
            if run:
                eobrun += reader.read(run)
            return eobrun
        k += run
        if k > se:
            raise ValueError("AC run overflows spectral band")
        i, j = _ZZ[k]
        blk[i, j] = _extend(reader.read(size), size) << al
        k += 1
    return 0


def _ac_refine_block(blk, reader, table, ss, se, p1, m1, eobrun):
    """AC refinement for one block (G.2.3 / jdphuff
    decode_mcu_AC_refine): newly-nonzero coefficients arrive as
    (run, 1) symbols with a sign bit; every already-nonzero
    coefficient passed — including during ZRL skips and EOB runs —
    consumes one correction bit."""
    k = ss
    if eobrun == 0:
        while k <= se:
            sym = reader.read_symbol(table)
            run, size = sym >> 4, sym & 0xF
            newval = 0
            if size:
                if size != 1:
                    raise ValueError(
                        "AC refinement symbol with size > 1"
                    )
                newval = p1 if reader.read(1) else m1
            elif run != 15:
                eobrun = 1 << run  # current block handled below
                if run:
                    eobrun += reader.read(run)
                break
            # advance over `run` zero-history coefficients, emitting
            # correction bits for nonzero-history ones along the way
            while k <= se:
                i, j = _ZZ[k]
                if blk[i, j] != 0:
                    _refine_nonzero(blk, i, j, reader, p1, m1)
                else:
                    if run == 0:
                        break
                    run -= 1
                k += 1
            if newval and k <= se:
                i, j = _ZZ[k]
                blk[i, j] = newval
            k += 1
    if eobrun > 0:
        while k <= se:
            i, j = _ZZ[k]
            if blk[i, j] != 0:
                _refine_nonzero(blk, i, j, reader, p1, m1)
            k += 1
        eobrun -= 1
    return eobrun


def decode_jpeg(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Full decode: (w, h, pixels) with pixels (h, w) uint8 for
    grayscale or (h, w, 3) uint8 RGB for 3-component 4:4:4 / 4:2:2 /
    4:2:0 (subsampled chroma upsampled by replication)."""
    w, h, comps, coeffs, qlist = _decode_coeffs_full(payload)
    nc = len(coeffs)
    h_max = max(c[1] for c in comps)
    v_max = max(c[2] for c in comps)
    planes = []
    for ci in range(nc):
        _cid, hi, vi, _tq = comps[ci]
        by, bx = coeffs[ci].shape[:2]
        plane = np.zeros((by * 8, bx * 8))
        q = qlist[ci]
        for r in range(by):
            for c in range(bx):
                deq = coeffs[ci][r, c] * q
                blk = _snap(_DCT.T @ deq.astype(np.float64) @ _DCT)
                plane[r * 8:(r + 1) * 8, c * 8:(c + 1) * 8] = blk
        full = np.clip(_round_half_up(plane) + 128.0, 0, 255)
        # replication upsampling to the luma grid (deterministic,
        # SQL-restatable: each chroma sample covers its footprint)
        if vi != v_max:
            full = np.repeat(full, v_max // vi, axis=0)
        if hi != h_max:
            full = np.repeat(full, h_max // hi, axis=1)
        planes.append(full)
    if nc == 1:
        return w, h, planes[0].astype(np.uint8)
    if nc == 3:
        y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
        r = y + 1.402 * cr
        g = y - 0.344136 * cb - 0.714136 * cr
        b = y + 1.772 * cb
        rgb = np.stack(
            [np.clip(_round_half_up(_snap(ch)), 0, 255) for ch in (r, g, b)],
            axis=-1,
        )
        return w, h, rgb.astype(np.uint8)
    raise ValueError(f"{nc}-component JPEG unsupported (1 or 3 only)")
