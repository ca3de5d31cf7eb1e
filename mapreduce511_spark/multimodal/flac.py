"""Native FLAC codec: encoder + full decoder.

Implemented from the public xiph.org FLAC format specification
(https://xiph.org/flac/format.html). Scope — the honest contract:

- STREAMINFO metadata block (with the REAL MD5 of the unencoded
  samples, which the decoder re-computes and verifies: a built-in
  end-to-end integrity gate the lossy codecs can't offer);
- fixed-blocksize frames, mono or stereo, at every sample depth the
  frame header can code explicitly — 8/12/16/20/24 bits (r10; the
  16-bit-only gate was purely the hardcoded width constants: the
  subframe reader was always width-parametric). The MD5 signature
  follows the spec's packing — each sample little-endian in
  ceil(bps/8) bytes, channel-interleaved; frame headers carry a
  UTF-8-coded frame number, explicit 16-bit blocksize, CRC-8;
  frame footer CRC-16 over the whole frame;
- subframes: CONSTANT, VERBATIM, FIXED orders 0-4, and LPC with
  in-stream quantized coefficients — integer-exact reconstruction
  x[n] = res[n] + (sum qlp[j]*x[n-1-j]) >> shift;
- residuals: Rice method 0 (4-bit params), any partition order,
  including the 5-bit raw-bits escape.

Why FLAC is the codec lifted in r7 rather than MP3 (the r6 VERDICT's
nomination): MP3's Huffman tables are FIXED BY THE SPEC and not
carried in the bitstream; without the ISO 11172-3 tables available in
this environment a reimplementation would have to invent them, and an
encoder/decoder pair sharing the same wrong tables round-trips
perfectly while decoding every real-world MP3 incorrectly — a
self-consistency no oracle can catch. FLAC has NO spec-fixed code
tables: Rice parameters, predictor orders and LPC coefficients all
travel in the stream (the same property that made JPEG safe — its
Huffman/quant tables ride in DHT/DQT segments), the only fixed
constants are the CRC polynomials (CRC-8 poly 0x07, CRC-16 poly
0x8005, both init 0, non-reflected — stated by the spec and
documented here) and the binomial fixed-predictor coefficients
(1; 2,-1; 3,-3,1; 4,-6,4,-1 — derivable, not data). And FLAC is
LOSSLESS, so the decode path is verified bit-for-bit against the
synthesized input's closed form by the DuckDB oracle — a stronger
gate than any lossy codec admits. MP3/H.264 and arithmetic-coded
JPEG (QM-coder Qe table: spec-fixed data, same problem) stay gated
in ``codecs.decode_real``.

Reference basis: extension tier — multimodal decode family (no
analog in /root/reference, which is text-only).
"""

from __future__ import annotations

import hashlib
import struct

from mapreduce511_spark.multimodal.bitio import MsbReader, MsbWriter

FLAC_FMT = "audio/flac"
_TRUNCATED = "FLAC bitstream truncated"

_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}

# frame-header 3-bit sample-size codes (spec table; 0b011/0b111
# reserved, 0b000 = "from STREAMINFO", never emitted here so every
# frame is self-describing)
_SIZE_CODES = {8: 0b001, 12: 0b010, 16: 0b100, 20: 0b101, 24: 0b110}
_SIZE_BITS = {c: b for b, c in _SIZE_CODES.items()}


def _pack_samples(samples: list[int], bps: int) -> bytes:
    """Samples as the MD5 signature sees them: little-endian
    two's-complement in ceil(bps/8) bytes each, channel-interleaved
    (the caller passes them already interleaved)."""
    nb = (bps + 7) // 8
    mask = (1 << (8 * nb)) - 1
    return b"".join((s & mask).to_bytes(nb, "little") for s in samples)


def _crc8(data: bytes) -> int:
    """CRC-8, polynomial x^8+x^2+x+1 (0x07), init 0 (FLAC frame
    header CRC)."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16, polynomial x^16+x^15+x^2+1 (0x8005), init 0 (FLAC
    frame footer CRC)."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF
                if crc & 0x8000
                else (crc << 1) & 0xFFFF
            )
    return crc


def _utf8_number(n: int) -> bytes:
    """FLAC's UTF-8-style coded number (frame index)."""
    if n < 0x80:
        return bytes([n])
    out = []
    bits = n.bit_length()
    n_bytes = 2
    while bits > 6 * (n_bytes - 1) + (7 - n_bytes):
        n_bytes += 1
    lead = (0xFF << (8 - n_bytes)) & 0xFF
    shift = 6 * (n_bytes - 1)
    out.append(lead | (n >> shift))
    for i in range(n_bytes - 1):
        shift -= 6
        out.append(0x80 | ((n >> shift) & 0x3F))
    return bytes(out)


def _rice_param(residuals: list[int]) -> int:
    """Smallest-cost 4-bit Rice parameter estimate (mean-based)."""
    if not residuals:
        return 0
    total = sum(_zigzag(r) for r in residuals)
    mean = total / len(residuals)
    p = 0
    while (1 << (p + 1)) < mean + 1 and p < 14:
        p += 1
    return p


def _zigzag(r: int) -> int:
    return (r << 1) if r >= 0 else (((-r) << 1) - 1)


def _unzigzag(u: int) -> int:
    return (u >> 1) if (u & 1) == 0 else -((u + 1) >> 1)


def _write_residual(
    w: MsbWriter,
    residuals: list[int],
    block_size: int | None = None,
    order: int = 0,
    partition_order: int = 0,
) -> None:
    """Rice method 0 with per-partition params and the raw-bits escape
    when Rice would be pathological. ``partition_order`` > 0 requires
    (block_size, order) to size the spec's short first partition."""
    w.write(0, 2)  # coding method 00: 4-bit Rice
    w.write(partition_order, 4)
    n_parts = 1 << partition_order
    if partition_order == 0:
        parts = [residuals]
    else:
        per = block_size >> partition_order
        parts, at = [], 0
        for i in range(n_parts):
            count = per - (order if i == 0 else 0)
            parts.append(residuals[at : at + count])
            at += count
        assert at == len(residuals)
    for part in parts:
        p = _rice_param(part)
        max_u = max((_zigzag(r) for r in part), default=0)
        # escape to raw if any quotient would be absurd (incompressible)
        if p >= 15 or (max_u >> p) > 64:
            nbits = max(max_u.bit_length() + 1, 2)
            w.write(0xF, 4)  # escape
            w.write(nbits, 5)
            for r in part:
                w.write(r, nbits)
            continue
        w.write(p, 4)
        for r in part:
            u = _zigzag(r)
            w.write_unary(u >> p)
            w.write(u & ((1 << p) - 1), p)


def _read_residual(r: MsbReader, block_size: int, order: int) -> list[int]:
    """Per spec: the block splits into 2^po partitions of
    block_size >> po samples each, except the FIRST partition, which
    is short by the predictor order (warmup samples are not residual-
    coded)."""
    method = r.read(2)
    if method not in (0, 1):
        raise ValueError(f"reserved residual coding method {method}")
    plen = 4 if method == 0 else 5
    po = r.read(4)
    n_parts = 1 << po
    if block_size % n_parts or (block_size >> po) <= order:
        raise ValueError("invalid residual partition order")
    out: list[int] = []
    for part in range(n_parts):
        count = (block_size >> po) - (order if part == 0 else 0)
        param = r.read(plen)
        if param == (1 << plen) - 1:
            nbits = r.read(5)
            if nbits:
                out.extend(r.read_signed(nbits) for _ in range(count))
            else:  # 0 bits per sample: every residual is 0
                out.extend([0] * count)
        else:
            for _ in range(count):
                q = r.read_unary()
                u = (q << param) | r.read(param)
                out.append(_unzigzag(u))
    return out


def _fixed_residuals(samples: list[int], order: int) -> list[int]:
    res = list(samples)
    for _ in range(order):
        res = [res[i] - res[i - 1] for i in range(1, len(res))]
    return res


def _usable_po(po: int, block_size: int, order: int) -> int:
    """Largest partition order <= po the spec allows for this block
    (2^po must divide block_size and leave the first partition
    non-empty after the warmup samples) — partial last frames fall
    back toward 0."""
    while po > 0 and (
        block_size % (1 << po) or (block_size >> po) <= order
    ):
        po -= 1
    return po


def _wasted_bits(blk: list[int], bits: int) -> int:
    """Shared trailing-zero bit count across the (non-constant) block
    — the spec's 'wasted bits' shift that narrows every later field."""
    k = bits - 1
    for s in blk:
        if s == 0:
            continue
        tz = (s & -s).bit_length() - 1
        k = min(k, tz)
        if k == 0:
            return 0
    return k


def _write_wasted(w: MsbWriter, k: int) -> None:
    """The 1-bit flag, then (k-1) in unary when set (spec example:
    k=3 -> flag 1 then '001')."""
    if k == 0:
        w.write(0, 1)
    else:
        w.write(1, 1)
        w.write_unary(k - 1)


def _write_subframe(
    w: MsbWriter,
    blk: list[int],
    bits: int,
    use_lpc: bool,
    partition_order: int,
) -> None:
    """One subframe at ``bits`` effective sample width (17 for a
    stereo side channel): CONSTANT when flat, the order-2 LPC path
    when requested, else the best FIXED order 0-4 by residual
    magnitude. Blocks whose samples share k trailing zero bits are
    coded with the spec's wasted-bits shift (every warmup/residual
    field narrows by k)."""
    bs = len(blk)
    if all(s == blk[0] for s in blk):
        w.write(0, 1)
        w.write(0b000000, 6)  # CONSTANT
        w.write(0, 1)
        w.write(blk[0], bits)
        return
    k = _wasted_bits(blk, bits)
    if k:
        blk = [s >> k for s in blk]
    eff = bits - k
    if use_lpc and bs > 2:
        order, coefs, shift, prec = 2, [2, -1], 0, 4
        w.write(0, 1)
        w.write(0b100000 | (order - 1), 6)  # LPC, order bits+1
        _write_wasted(w, k)
        for s in blk[:order]:
            w.write(s, eff)
        w.write(prec - 1, 4)
        w.write(shift, 5)
        for c in coefs:
            w.write(c, prec)
        res = [
            blk[i]
            - ((sum(coefs[j] * blk[i - 1 - j] for j in range(order))) >> shift)
            for i in range(order, bs)
        ]
        po = _usable_po(partition_order, bs, order)
        _write_residual(w, res, bs, order, po)
        return
    best_order, best_res, best_cost = 0, blk, None
    for order in range(0, min(5, bs)):
        res = _fixed_residuals(blk, order)
        cost = sum(abs(x) for x in res)
        if best_cost is None or cost < best_cost:
            best_order, best_res, best_cost = order, res, cost
    w.write(0, 1)
    w.write(0b001000 | best_order, 6)  # FIXED
    _write_wasted(w, k)
    for s in blk[:best_order]:
        w.write(s, eff)
    po = _usable_po(partition_order, bs, best_order)
    _write_residual(w, best_res, bs, best_order, po)


def _stream_header(
    block_size: int,
    sample_rate: int,
    n_channels: int,
    total: int,
    md5: bytes,
    bps: int = 16,
) -> bytes:
    out = bytearray(b"fLaC")
    si = MsbWriter()
    si.write(block_size, 16)
    si.write(block_size, 16)
    si.write(0, 24)  # min frame size unknown
    si.write(0, 24)  # max frame size unknown
    si.write(sample_rate, 20)
    si.write(n_channels - 1, 3)
    si.write(bps - 1, 5)
    si.write(total, 36)
    body = si.getvalue() + md5
    out += bytes([0x80]) + struct.pack(">I", len(body))[1:] + body
    return bytes(out)


def _frame_header(
    w: MsbWriter, chan_code: int, frame_idx: int, bs: int, bps: int = 16
) -> None:
    w.write(0b11111111111110, 14)
    w.write(0, 1)  # reserved
    w.write(0, 1)  # fixed blocksize stream
    w.write(0b0111, 4)  # blocksize: 16-bit at end of header
    w.write(0b0000, 4)  # sample rate: from STREAMINFO
    w.write(chan_code, 4)
    w.write(_SIZE_CODES[bps], 3)  # explicit sample size
    w.write(0, 1)  # reserved
    for b in _utf8_number(frame_idx):
        w.write(b, 8)
    w.write(bs - 1, 16)
    w.write(_crc8(w.getvalue()), 8)  # the fields above fill whole bytes


def encode_flac(
    samples: list[int],
    sample_rate: int = 8000,
    block_size: int = 1024,
    lpc_every: int = 2,
    partition_order: int = 0,
    bps: int = 16,
) -> bytes:
    """Encode mono PCM as a FLAC stream at any explicitly-codable
    sample depth (8/12/16/20/24 bits). Per block the encoder picks
    CONSTANT when flat, else the best FIXED order 0-4 by residual
    magnitude — and every ``lpc_every``-th block instead writes the
    order-2 predictor as an explicit LPC subframe (coefficients 2,-1,
    shift 0, precision 4) so the general LPC decode path is exercised
    by every fixture, not just by tests."""
    if bps not in _SIZE_CODES:
        raise ValueError(f"bps must be one of {sorted(_SIZE_CODES)}")
    lo, hi = -(1 << (bps - 1)), (1 << (bps - 1)) - 1
    n = len(samples)
    for s in samples:
        if not lo <= s <= hi:
            raise ValueError(f"{bps}-bit PCM required")
    md5 = hashlib.md5(_pack_samples(samples, bps)).digest()
    out = bytearray(
        _stream_header(block_size, sample_rate, 1, n, md5, bps)
    )

    frame_idx = 0
    pos = 0
    while pos < n:
        blk = samples[pos : pos + block_size]
        w = MsbWriter()
        _frame_header(w, 0b0000, frame_idx, len(blk), bps)
        use_lpc = lpc_every > 0 and frame_idx % lpc_every == 1
        _write_subframe(w, blk, bps, use_lpc, partition_order)
        frame = w.getvalue()
        out += frame + struct.pack(">H", _crc16(frame))
        frame_idx += 1
        pos += len(blk)
    return bytes(out)


# stereo channel-assignment codes (frame header, 4 bits)
_CH_LR = 0b0001  # 2 independent channels
_CH_LS = 0b1000  # left + side (side = L - R, bps+1 bits)
_CH_RS = 0b1001  # side + right
_CH_MS = 0b1010  # mid + side (mid = (L+R)>>1; LSB recovered from side)


def encode_flac_stereo(
    left: list[int],
    right: list[int],
    sample_rate: int = 8000,
    block_size: int = 1024,
    lpc_every: int = 2,
    partition_order: int = 0,
    bps: int = 16,
) -> bytes:
    """Encode STEREO PCM at any explicitly-codable sample depth,
    cycling the channel assignment LR -> LS -> RS -> MS per frame so
    every stereo decorrelation mode the spec defines is exercised by
    every multi-frame stream. Side channels are coded at bps+1 bits
    (the spec's extra bit for the difference signal); mid/side
    reconstruction is integer-exact (mid stores (L+R)>>1, the lost
    LSB rides the side's parity)."""
    if bps not in _SIZE_CODES:
        raise ValueError(f"bps must be one of {sorted(_SIZE_CODES)}")
    if len(left) != len(right):
        raise ValueError("stereo channels must be equal length")
    lo, hi = -(1 << (bps - 1)), (1 << (bps - 1)) - 1
    for s in list(left) + list(right):
        if not lo <= s <= hi:
            raise ValueError(f"{bps}-bit PCM required")
    n = len(left)
    inter = [x for pair in zip(left, right) for x in pair]
    md5 = hashlib.md5(_pack_samples(inter, bps)).digest()
    out = bytearray(
        _stream_header(block_size, sample_rate, 2, n, md5, bps)
    )

    modes = (_CH_LR, _CH_LS, _CH_RS, _CH_MS)
    frame_idx = 0
    pos = 0
    while pos < n:
        lb = left[pos : pos + block_size]
        rb = right[pos : pos + block_size]
        code = modes[frame_idx % 4]
        if code == _CH_LR:
            chans = [(lb, bps), (rb, bps)]
        elif code == _CH_LS:
            side = [lv - rv for lv, rv in zip(lb, rb)]
            chans = [(lb, bps), (side, bps + 1)]
        elif code == _CH_RS:
            side = [lv - rv for lv, rv in zip(lb, rb)]
            chans = [(side, bps + 1), (rb, bps)]
        else:  # mid/side
            side = [lv - rv for lv, rv in zip(lb, rb)]
            mid = [(lv + rv) >> 1 for lv, rv in zip(lb, rb)]
            chans = [(mid, bps), (side, bps + 1)]
        w = MsbWriter()
        _frame_header(w, code, frame_idx, len(lb), bps)
        use_lpc = lpc_every > 0 and frame_idx % lpc_every == 1
        for blk, bits in chans:
            _write_subframe(w, blk, bits, use_lpc, partition_order)
        frame = w.getvalue()
        out += frame + struct.pack(">H", _crc16(frame))
        frame_idx += 1
        pos += len(lb)
    return bytes(out)


def _read_subframe(br: MsbReader, bs: int, bits: int) -> list[int]:
    """One subframe at ``bits`` effective sample width."""
    if br.read(1) != 0:
        raise ValueError("bad subframe padding bit")
    stype = br.read(6)
    wasted = br.read(1)
    shift_wasted = 0
    if wasted:
        shift_wasted = 1 + br.read_unary()
    eff_bits = bits - shift_wasted
    if stype == 0b000000:
        v = br.read_signed(eff_bits)
        blk = [v] * bs
    elif stype == 0b000001:
        blk = [br.read_signed(eff_bits) for _ in range(bs)]
    elif 0b001000 <= stype <= 0b001100:
        order = stype - 0b001000
        warm = [br.read_signed(eff_bits) for _ in range(order)]
        res = _read_residual(br, bs, order)
        blk = list(warm)
        coefs = _FIXED_COEFS[order]
        for i in range(order, bs):
            pred = sum(coefs[j] * blk[i - 1 - j] for j in range(order))
            blk.append(res[i - order] + pred)
    elif stype & 0b100000:
        order = (stype & 0b011111) + 1
        warm = [br.read_signed(eff_bits) for _ in range(order)]
        prec = br.read(4) + 1
        if prec == 16:
            raise ValueError("invalid LPC precision")
        shift = br.read_signed(5)
        coefs = [br.read_signed(prec) for _ in range(order)]
        res = _read_residual(br, bs, order)
        blk = list(warm)
        for i in range(order, bs):
            pred = (
                sum(coefs[j] * blk[i - 1 - j] for j in range(order)) >> shift
            )
            blk.append(res[i - order] + pred)
    else:
        raise ValueError(f"reserved subframe type {stype:06b}")
    if shift_wasted:
        blk = [s << shift_wasted for s in blk]
    return blk


def decode_flac(payload: bytes) -> tuple[int, int, list[int]]:
    """Decode a FLAC stream (the subset above, plus any partition
    order / Rice escape / LPC / stereo-decorrelation configuration a
    conforming encoder may emit within fixed-blocksize mono or stereo
    streams at 8/12/16/20/24 bits — all four channel assignments:
    independent, left-side, right-side, mid-side). Verifies both
    frame CRCs and
    the STREAMINFO MD5 of the decoded samples — a single flipped bit
    anywhere fails loudly. Returns (sample_rate, n_channels,
    samples) with stereo samples interleaved L0 R0 L1 R1 ... (the
    order the MD5 signature is defined over)."""
    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(payload):
            raise ValueError("FLAC metadata truncated")
        hdr = payload[pos]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        length = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + length]
        if btype == 0:
            streaminfo = body
        pos += 4 + length
        if last:
            break
    if streaminfo is None or len(streaminfo) != 34:
        raise ValueError("missing STREAMINFO")
    r = MsbReader(streaminfo, _TRUNCATED)
    r.read(16)  # min block size
    max_bs = r.read(16)
    r.read(24)
    r.read(24)
    sample_rate = r.read(20)
    n_channels = r.read(3) + 1
    bps = r.read(5) + 1
    total = r.read(36)
    md5_expect = streaminfo[18:34]
    if n_channels not in (1, 2) or bps not in _SIZE_CODES:
        raise NotImplementedError(
            "only mono/stereo FLAC at explicitly-codable sample sizes "
            f"({sorted(_SIZE_CODES)} bits) implemented"
        )

    samples: list[int] = []
    while pos < len(payload) and len(samples) < total * n_channels:
        frame_start = pos
        br = MsbReader(payload, _TRUNCATED, pos)
        if br.read(14) != 0b11111111111110:
            raise ValueError("lost frame sync")
        br.read(1)
        br.read(1)  # blocking strategy
        bs_code = br.read(4)
        sr_code = br.read(4)
        chan = br.read(4)
        size_code = br.read(3)
        br.read(1)
        # 0b000 is spec-legal "get sample size from STREAMINFO" (our
        # encoder always writes the explicit code, but a conforming
        # foreign encoder may not); any OTHER code must agree with
        # STREAMINFO.
        if size_code != 0 and _SIZE_BITS.get(size_code) != bps:
            raise ValueError(
                "frame sample size disagrees with STREAMINFO"
            )
        if n_channels == 1 and chan != 0:
            raise ValueError("channel assignment disagrees with STREAMINFO")
        if n_channels == 2 and chan not in (_CH_LR, _CH_LS, _CH_RS, _CH_MS):
            raise ValueError(f"unsupported stereo assignment {chan:04b}")
        # UTF-8 frame number
        first = br.read(8)
        if first < 0x80:
            pass
        else:
            extra = 0
            mask = 0x40
            while first & mask:
                extra += 1
                mask >>= 1
            for _ in range(extra):
                if br.read(8) & 0xC0 != 0x80:
                    raise ValueError("bad UTF-8 frame number")
        if bs_code == 0b0110:
            bs = br.read(8) + 1
        elif bs_code == 0b0111:
            bs = br.read(16) + 1
        elif bs_code == 0b0001:
            bs = 192
        elif 0b0010 <= bs_code <= 0b0101:
            bs = 576 << (bs_code - 2)
        elif bs_code >= 0b1000:
            bs = 256 << (bs_code - 8)
        else:
            raise ValueError("reserved blocksize code")
        if sr_code == 0b1100:
            br.read(8)
        elif sr_code in (0b1101, 0b1110):
            br.read(16)
        crc8 = br.read(8)
        header_bytes = payload[frame_start : br.pos]
        # CRC-8 covers the header up to (not including) its own byte
        if _crc8(header_bytes[:-1]) != crc8:
            raise ValueError("frame header CRC-8 mismatch")
        if bs > max_bs:
            raise ValueError("frame blocksize exceeds STREAMINFO max")

        if n_channels == 1:
            blk = _read_subframe(br, bs, bps)
        else:
            # per-channel effective widths: side channels carry bps+1
            if chan == _CH_LR:
                widths = (bps, bps)
            elif chan == _CH_LS:
                widths = (bps, bps + 1)
            elif chan == _CH_RS:
                widths = (bps + 1, bps)
            else:
                widths = (bps, bps + 1)
            c0 = _read_subframe(br, bs, widths[0])
            c1 = _read_subframe(br, bs, widths[1])
            if chan == _CH_LR:
                lch, rch = c0, c1
            elif chan == _CH_LS:
                lch = c0
                rch = [lv - sv for lv, sv in zip(c0, c1)]
            elif chan == _CH_RS:
                rch = c1
                lch = [rv + sv for sv, rv in zip(c0, c1)]
            else:  # mid/side: recover the (L+R) LSB from side parity
                lch, rch = [], []
                for m, s in zip(c0, c1):
                    mm = (m << 1) | (s & 1)
                    lch.append((mm + s) >> 1)
                    rch.append((mm - s) >> 1)
            blk = [x for pair in zip(lch, rch) for x in pair]
        br.align()
        frame_bytes = payload[frame_start : br.pos]
        crc16 = int.from_bytes(payload[br.pos : br.pos + 2], "big")
        if _crc16(frame_bytes) != crc16:
            raise ValueError("frame CRC-16 mismatch")
        pos = br.pos + 2
        samples.extend(blk)

    if len(samples) != total * n_channels:
        raise ValueError(
            f"decoded {len(samples)} of {total * n_channels} samples"
        )
    md5 = hashlib.md5(_pack_samples(samples, bps)).digest()
    if md5 != md5_expect:
        raise ValueError("decoded-audio MD5 mismatch")
    return sample_rate, n_channels, samples
