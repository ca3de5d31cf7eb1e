"""Native DEFLATE (RFC 1951) encoder — dependency-free LZ77 + Huffman.

The decode side of the PNG codec inflates with stdlib zlib (an
INDEPENDENT implementation); this module supplies the encode side
natively, completing the engine's table-free compressed-format story
(FLAC and GIF/LZW encode+decode natively; DEFLATE now encodes
natively and is verified against the independent stdlib inflater —
a self-consistent wrong encoding cannot pass, unlike a same-module
round trip). Everything here is carried by the public spec: the
fixed-Huffman tables are RFC 1951 §3.2.6, the length/distance extra
bit tables §3.2.5, the dynamic-block code-length alphabet (16/17/18
RLE, HCLEN permutation) §3.2.7, and the zlib wrapper RFC 1950 with a
natively computed Adler-32.

Supports:
- stored blocks (BTYPE=00) for incompressible tails,
- fixed-Huffman blocks (BTYPE=01),
- dynamic-Huffman blocks (BTYPE=10) with canonical length-limited
  codes (15-bit cap enforced by the standard overflow adjustment).

LZ77: greedy hash-chain matcher, 32 KiB window, match length 3..258.

Reference basis: extension tier — multimodal codec family (no analog
in /root/reference, which is text-only).
"""

from __future__ import annotations

from bisect import bisect_right

from mapreduce511_spark.multimodal.bitio import LsbWriter

# --- RFC 1951 §3.2.5 tables -------------------------------------------------

# length code: (code, extra_bits, base) for match lengths 3..258
_LENGTH_TABLE: list[tuple[int, int, int]] = []


def _build_length_table() -> None:
    spec = [
        (257, 0, 3), (258, 0, 4), (259, 0, 5), (260, 0, 6), (261, 0, 7),
        (262, 0, 8), (263, 0, 9), (264, 0, 10), (265, 1, 11), (266, 1, 13),
        (267, 1, 15), (268, 1, 17), (269, 2, 19), (270, 2, 23), (271, 2, 27),
        (272, 2, 31), (273, 3, 35), (274, 3, 43), (275, 3, 51), (276, 3, 59),
        (277, 4, 67), (278, 4, 83), (279, 4, 99), (280, 4, 115),
        (281, 5, 131), (282, 5, 163), (283, 5, 195), (284, 5, 227),
        (285, 0, 258),
    ]
    table = [None] * 259
    for code, extra, base in spec:
        top = 258 if code == 285 else base + (1 << extra) - 1
        for ln in range(base, min(top, 258) + 1):
            if code == 284 and ln == 258:
                continue  # 258 belongs to code 285
            table[ln] = (code, extra, ln - base)
    table[258] = (285, 0, 0)
    _LENGTH_TABLE.extend(table)  # index = match length


_build_length_table()

# distance code: (code, extra_bits, base) for distances 1..32768
_DIST_SPEC = [
    (0, 0, 1), (1, 0, 2), (2, 0, 3), (3, 0, 4), (4, 1, 5), (5, 1, 7),
    (6, 2, 9), (7, 2, 13), (8, 3, 17), (9, 3, 25), (10, 4, 33), (11, 4, 49),
    (12, 5, 65), (13, 5, 97), (14, 6, 129), (15, 6, 193), (16, 7, 257),
    (17, 7, 385), (18, 8, 513), (19, 8, 769), (20, 9, 1025), (21, 9, 1537),
    (22, 10, 2049), (23, 10, 3073), (24, 11, 4097), (25, 11, 6145),
    (26, 12, 8193), (27, 12, 12289), (28, 13, 16385), (29, 13, 24577),
]


_DIST_BASES = [base for _, _, base in _DIST_SPEC]


def _dist_code(d: int, _bisect_right=bisect_right) -> tuple[int, int, int]:
    """(code, extra_bits, extra_value) for a match distance — binary
    search over the §3.2.5 base table (r12: the reversed linear scan
    ran per match token; bisect returns the identical entry). r13
    (ADVICE): the import is module-scope and bound as a default arg —
    the old in-function import paid a sys.modules lookup + attribute
    fetch per match token on the encoder's hot path."""
    idx = _bisect_right(_DIST_BASES, d) - 1
    if idx < 0:
        raise ValueError(f"bad distance {d}")
    code, extra, base = _DIST_SPEC[idx]
    return code, extra, d - base


# HCLEN permutation order of the code-length alphabet (§3.2.7)
_CLCL_ORDER = (16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1,
               15)


def _rev_bits(code: int, n: int) -> int:
    """Bit-reverse the low ``n`` bits of ``code`` (Huffman codes are
    emitted MSB-first, RFC 1951 §3.1.1). Table-free closed form over
    Python ints; callers on hot paths pre-reverse whole code tables
    once per block instead of calling this per symbol."""
    rev = 0
    for _ in range(n):
        rev = (rev << 1) | (code & 1)
        code >>= 1
    return rev


def _lz77(data: bytes, max_chain: int = 64) -> list[tuple]:
    """Greedy hash-chain LZ77: yields ('lit', byte) and
    ('match', length, distance) tokens; window 32 KiB, match 3..258.

    r12 match-extension rewrite (same tokens, ~C-speed compares): the
    periodic test ``data[j + (k % d)] == data[i + k]`` is equivalent
    to the PLAIN pointwise test ``data[j + k] == data[i + k]`` —
    induction on k: while every position below k matches,
    data[j+k] = data[i+k-d] = data[j+k-d] = ... = data[j + (k % d)],
    so the first mismatch position is identical too (zlib relies on
    the same identity to extend overlapping matches with memcmp). The
    scan therefore runs as 16-byte slice equality checks with a
    bytewise tail instead of a per-byte Python loop with a modulo.
    The 3-byte hash keys for every position are precomputed in one
    vectorized numpy pass (identical integers to the inline ORs)."""
    n = len(data)
    tokens: list[tuple] = []
    if n >= 3:
        import numpy as np

        arr = np.frombuffer(data, dtype=np.uint8).astype(np.int32)
        keys = (arr[:-2] | (arr[1:-1] << 8) | (arr[2:] << 16)).tolist()
    else:
        keys = []
    nk = len(keys)  # == max(n - 2, 0): positions with a full 3-byte key
    head: dict[int, list[int]] = {}
    head_get = head.get
    i = 0
    while i < n:
        best_len = 0
        best_dist = 0
        if i < nk:
            chain = head_get(keys[i])
            if chain:
                tried = 0
                maxl = min(258, n - i)
                for j in reversed(chain):
                    if i - j > 32768:
                        break
                    tried += 1
                    if tried > max_chain:
                        break
                    # zlib's win-filter: a candidate longer than
                    # best_len must match AT position best_len, so one
                    # indexed compare skips candidates that cannot
                    # improve the best — the skipped ones have
                    # ln <= best_len and would never update it, so the
                    # chosen (length, distance) is unchanged.
                    if best_len and data[j + best_len] != data[i + best_len]:
                        continue
                    # pointwise common prefix of data[j:] vs data[i:]
                    # (== the periodic match length, see docstring)
                    ln = 0
                    while maxl - ln >= 16 and (
                        data[j + ln : j + ln + 16]
                        == data[i + ln : i + ln + 16]
                    ):
                        ln += 16
                    end = ln + 16 if maxl - ln > 16 else maxl
                    while ln < end and data[j + ln] == data[i + ln]:
                        ln += 1
                    if ln > best_len:
                        best_len, best_dist = ln, i - j
                        if ln == maxl:
                            break
        if best_len >= 3:
            tokens.append(("match", best_len, best_dist))
            end = i + best_len
            while i < end:
                if i < nk:
                    key = keys[i]
                    c = head_get(key)
                    if c is None:
                        head[key] = [i]
                    else:
                        c.append(i)
                i += 1
        else:
            tokens.append(("lit", data[i]))
            if i < nk:
                key = keys[i]
                c = head_get(key)
                if c is None:
                    head[key] = [i]
                else:
                    c.append(i)
            i += 1
    return tokens


# --- fixed-Huffman block ------------------------------------------------------


def _fixed_litlen_code(sym: int) -> tuple[int, int]:
    """(code, nbits) for literal/length symbol under §3.2.6."""
    if sym <= 143:
        return 0x30 + sym, 8
    if sym <= 255:
        return 0x190 + (sym - 144), 9
    if sym <= 279:
        return sym - 256, 7
    return 0xC0 + (sym - 280), 8


def _rev_table(codes) -> dict:
    """(code, nbits) table -> its LSB-first pre-reversed form."""
    return {s: (_rev_bits(c, nb), nb) for s, (c, nb) in codes.items()}


def _emit_tokens(w: LsbWriter, tokens: list[tuple],
                 rlit, rdst) -> None:
    """Emit the token stream under PRE-REVERSED (code, nbits) lookups.

    r12: the per-symbol MSB-first bit reversal is hoisted out of the
    loop — both code tables are pre-reversed and every symbol goes
    through the plain LSB-first ``write`` (a Huffman code is
    ``write(_rev_bits(code, n), n)``). r13 (ADVICE):
    callers pass already-reversed tables, so the static §3.2.6 fixed
    tables are reversed ONCE at module init instead of per block
    (dynamic-Huffman tables legitimately stay per-block)."""
    write = w.write
    for t in tokens:
        if t[0] == "lit":
            rev, nb = rlit[t[1]]
            write(rev, nb)
        else:
            _, ln, dist = t
            lcode, lextra, lebits = _LENGTH_TABLE[ln]
            rev, nb = rlit[lcode]
            write(rev, nb)
            if lextra:
                write(lebits, lextra)
            dcode, dextra, debits = _dist_code(dist)
            rev, nb = rdst[dcode]
            write(rev, nb)
            if dextra:
                write(debits, dextra)
    rev, nb = rlit[256]  # end of block
    write(rev, nb)


# static §3.2.6 code tables in the dict form _emit_tokens consumes,
# pre-reversed once at module init (r13 ADVICE — they are constant)
_FIXED_LIT_CODES = {s: _fixed_litlen_code(s) for s in range(288)}
_FIXED_DIST_CODES = {c: (c, 5) for c in range(30)}
_FIXED_RLIT = _rev_table(_FIXED_LIT_CODES)
_FIXED_RDST = _rev_table(_FIXED_DIST_CODES)


def deflate_fixed(data: bytes) -> bytes:
    """One fixed-Huffman block (BTYPE=01) holding all of ``data``."""
    w = LsbWriter()
    w.write(1, 1)  # BFINAL
    w.write(1, 2)  # BTYPE=01
    _emit_tokens(w, _lz77(data), _FIXED_RLIT, _FIXED_RDST)
    return w.getvalue()


# --- dynamic-Huffman block ----------------------------------------------------


def _code_lengths(freqs: dict[int, int], max_len: int) -> dict[int, int]:
    """Canonical Huffman code lengths, capped at ``max_len`` by zlib's
    standard overflow adjustment (tr_gen_bitlen): clamp the per-depth
    leaf histogram, then repeatedly move one leaf down a level to make
    room for one overflow leaf as its sibling — Kraft-valid by
    construction — and reassign lengths deepest-first over symbols in
    ascending frequency (deterministic tie-break on symbol id)."""
    import heapq

    syms = [s for s, f in freqs.items() if f > 0]
    if not syms:
        return {}
    if len(syms) == 1:
        return {syms[0]: 1}
    heap = [(freqs[s], s, (s,)) for s in syms]
    heapq.heapify(heap)
    lengths = dict.fromkeys(syms, 0)
    while len(heap) > 1:
        f1, t1, g1 = heapq.heappop(heap)
        f2, t2, g2 = heapq.heappop(heap)
        for s in g1 + g2:
            lengths[s] += 1
        heapq.heappush(heap, (f1 + f2, min(t1, t2), g1 + g2))
    if max(lengths.values()) <= max_len:
        return lengths
    bl_count = [0] * (max_len + 2)
    for d in lengths.values():
        bl_count[min(d, max_len)] += 1
    # Kraft sum in units of 2^-max_len — exact integer accounting
    # (zlib's `overflow -= 2` bookkeeping assumes its own tree layout;
    # counting the Kraft mass directly is correct for ANY depth set):
    # each move (leaf bits -> bits+1, adopting one max-level leaf as
    # its sibling) subtracts exactly one unit, and clamped-Huffman
    # oversubscription is < bl_count[max_len] units, so the loop
    # terminates at exactly-complete with bl_count[max_len] >= 0.
    kraft = sum(bl_count[d] << (max_len - d) for d in range(1, max_len + 1))
    full = 1 << max_len
    while kraft > full:
        bits = max_len - 1
        while bl_count[bits] == 0:
            bits -= 1
        bl_count[bits] -= 1
        bl_count[bits + 1] += 2
        bl_count[max_len] -= 1
        kraft -= 1
    if kraft != full or bl_count[max_len] < 0:  # pragma: no cover
        raise AssertionError("length-limiting produced an invalid code")
    # deepest-first reassignment: rarest symbols get the longest codes
    order = sorted(syms, key=lambda s: (freqs[s], s))
    out: dict[int, int] = {}
    idx = 0
    for bits in range(max_len, 0, -1):
        for _ in range(bl_count[bits]):
            out[order[idx]] = bits
            idx += 1
    return out


def _canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """RFC 1951 §3.2.2 canonical code assignment from lengths."""
    bl_count: dict[int, int] = {}
    for ln in lengths.values():
        bl_count[ln] = bl_count.get(ln, 0) + 1
    code = 0
    next_code = {}
    for bits in range(1, max(bl_count) + 1):
        code = (code + bl_count.get(bits - 1, 0)) << 1
        next_code[bits] = code
    out = {}
    for sym in sorted(lengths):
        ln = lengths[sym]
        out[sym] = (next_code[ln], ln)
        next_code[ln] += 1
    return out


def _rle_code_lengths(lens: list[int]) -> list[tuple[int, int, int]]:
    """§3.2.7 RLE over the HLIT+HDIST length vector:
    (symbol, extra_bits, extra_value) triples using 16/17/18."""
    out: list[tuple[int, int, int]] = []
    i = 0
    n = len(lens)
    while i < n:
        v = lens[i]
        j = i
        while j < n and lens[j] == v:
            j += 1
        run = j - i
        if v == 0:
            while run >= 11:
                r = min(run, 138)
                out.append((18, 7, r - 11))
                run -= r
            if run >= 3:
                out.append((17, 3, run - 3))
                run = 0
            out.extend([(0, 0, 0)] * run)
        else:
            out.append((v, 0, 0))
            run -= 1
            while run >= 3:
                r = min(run, 6)
                out.append((16, 2, r - 3))
                run -= r
            out.extend([(v, 0, 0)] * run)
        i = j
    return out


def deflate_dynamic(data: bytes) -> bytes:
    """One dynamic-Huffman block (BTYPE=10) holding all of ``data``.
    A degenerate alphabet (no back-references, so no used distance
    codes) never falls back to fixed coding: RFC 1951 §3.2.7 permits
    declaring one distance code of length 1 that the stream never
    uses, so the encoder emits the single zero-used ``{0: 1}``
    distance code — verified against stdlib's independent inflater
    (docstring corrected per r9 ADVICE; the code always did this)."""
    tokens = _lz77(data)
    lfreq: dict[int, int] = {256: 1}
    dfreq: dict[int, int] = {}
    for t in tokens:
        if t[0] == "lit":
            lfreq[t[1]] = lfreq.get(t[1], 0) + 1
        else:
            _, ln, dist = t
            lcode = _LENGTH_TABLE[ln][0]
            lfreq[lcode] = lfreq.get(lcode, 0) + 1
            dcode = _dist_code(dist)[0]
            dfreq[dcode] = dfreq.get(dcode, 0) + 1
    llen = _code_lengths(lfreq, 15)
    dlen = _code_lengths(dfreq, 15)
    if not dlen:
        # RFC: one distance code of zero bits means none used; encode
        # a single code of length 1 (permitted and what zlib emits)
        dlen = {0: 1}
    lcodes = _canonical_codes(llen)
    dcodes = _canonical_codes(dlen)
    hlit = max(max(llen) + 1, 257)
    hdist = max(max(dlen) + 1, 1)
    lens = [llen.get(s, 0) for s in range(hlit)] + [
        dlen.get(s, 0) for s in range(hdist)
    ]
    rle = _rle_code_lengths(lens)
    clfreq: dict[int, int] = {}
    for sym, _, _ in rle:
        clfreq[sym] = clfreq.get(sym, 0) + 1
    cllen = _code_lengths(clfreq, 7)
    if len(cllen) == 1:
        (only,) = cllen
        cllen = {only: 1}
    clcodes = _canonical_codes(cllen)
    hclen_syms = list(_CLCL_ORDER)
    while len(hclen_syms) > 4 and cllen.get(hclen_syms[-1], 0) == 0:
        hclen_syms.pop()
    w = LsbWriter()
    w.write(1, 1)  # BFINAL
    w.write(2, 2)  # BTYPE=10
    w.write(hlit - 257, 5)
    w.write(hdist - 1, 5)
    w.write(len(hclen_syms) - 4, 4)
    for s in hclen_syms:
        w.write(cllen.get(s, 0), 3)
    for sym, extra, val in rle:
        code, nb = clcodes[sym]
        w.write(_rev_bits(code, nb), nb)
        if extra:
            w.write(val, extra)

    _emit_tokens(w, tokens, _rev_table(lcodes), _rev_table(dcodes))
    return w.getvalue()


def deflate_stored(data: bytes) -> bytes:
    """Stored blocks (BTYPE=00) — the incompressible fallback."""
    out = bytearray()
    for i in range(0, max(len(data), 1), 65535):
        chunk = data[i : i + 65535]
        # BFINAL, BTYPE=00 and the padding to the byte boundary
        out.append(1 if i + 65535 >= len(data) else 0)
        ln = len(chunk)
        out += bytes(
            (ln & 0xFF, ln >> 8, (~ln) & 0xFF, ((~ln) >> 8) & 0xFF)
        )
        out += chunk
    return bytes(out)


def adler32(data: bytes) -> int:
    """RFC 1950 Adler-32, computed natively (no stdlib zlib)."""
    a, b = 1, 0
    for i in range(0, len(data), 5552):  # max block before mod needed
        chunk = data[i : i + 5552]
        for byte in chunk:
            a += byte
            b += a
        a %= 65521
        b %= 65521
    return (b << 16) | a


def zlib_compress_native(data: bytes, mode: str = "dynamic") -> bytes:
    """RFC 1950 zlib stream around a native DEFLATE body. ``mode`` is
    'fixed', 'dynamic' or 'stored'."""
    body = {
        "fixed": deflate_fixed,
        "dynamic": deflate_dynamic,
        "stored": deflate_stored,
    }[mode](data)
    header = bytes((0x78, 0x01))  # CM=8 CINFO=7, FCHECK makes %31==0
    chk = adler32(data)
    return header + body + bytes(
        ((chk >> 24) & 0xFF, (chk >> 16) & 0xFF, (chk >> 8) & 0xFF,
         chk & 0xFF)
    )
