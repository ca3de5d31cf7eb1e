"""FLAC codec: lossless round-trip, integrity, and spec-path tests.

FLAC's correctness story is stronger than the lossy codecs': the
round trip must be EXACT for arbitrary 16-bit PCM, the decoder
verifies CRC-8/CRC-16 per frame and the STREAMINFO MD5 over the whole
stream, and every coding tool (subframe types, Rice partitions, the
raw-bits escape, UTF-8 frame numbers) is reachable from the public
encoder surface — no handcrafted bitstreams needed."""

from __future__ import annotations

import math
import random

import pytest

from mapreduce511_spark.multimodal.flac import (
    _crc8,
    _crc16,
    _utf8_number,
    decode_flac,
    encode_flac,
)


def _roundtrip(pcm, **kw):
    enc = encode_flac(pcm, **kw)
    rate, ch, dec = decode_flac(enc)
    assert ch == 1
    assert dec == list(pcm)
    return enc


@pytest.mark.parametrize(
    "name,pcm",
    [
        ("constant", [1234] * 3000),
        ("silence", [0] * 100),
        ("sawtooth", [((i * 7) % 4096) - 2048 for i in range(5000)]),
        ("sine", [int(20000 * math.sin(i / 13)) for i in range(4096)]),
        ("tiny", [5, -3]),
        ("one", [-32768]),
        ("empty", []),
        ("extremes", [32767, -32768] * 600),
    ],
)
def test_roundtrip_exact(name, pcm):
    _roundtrip(pcm, block_size=1024)


def test_roundtrip_random_pcm_exercises_escape():
    """Full-range random PCM is Rice-incompressible, forcing the
    5-bit raw-bits escape path; the round trip must still be exact."""
    rng = random.Random(7)
    pcm = [rng.randint(-32768, 32767) for _ in range(2500)]
    _roundtrip(pcm, block_size=512)


@pytest.mark.parametrize(
    "nbits,residuals", [(0, [0] * 7), (4, [3, -8, 7, 0, -1, 2, -5])]
)
def test_escaped_partition_decodes(nbits, residuals):
    """A hand-built order-1 fixed subframe whose one Rice partition
    uses the raw-bits escape: ``nbits`` per residual, including the
    0-bit case a conforming encoder may emit for an all-zero
    partition (libFLAC decodes it as zeros)."""
    from mapreduce511_spark.multimodal import flac as m
    from mapreduce511_spark.multimodal.bitio import MsbReader, MsbWriter

    w = MsbWriter()
    w.write(0, 1)  # padding bit
    w.write(0b001001, 6)  # FIXED, order 1
    w.write(0, 1)  # no wasted bits
    w.write(100, 16)  # warmup sample
    w.write(0, 2)  # Rice, 4-bit parameters
    w.write(0, 4)  # partition order 0
    w.write(0b1111, 4)  # escape code
    w.write(nbits, 5)
    for r in residuals:
        w.write(r, nbits)
    w.align()
    want = [100]
    for r in residuals:
        want.append(want[-1] + r)
    got = m._read_subframe(MsbReader(w.getvalue(), "cut"), len(want), 16)
    assert got == want


@pytest.mark.parametrize("po", [0, 1, 2, 3])
def test_partition_orders_roundtrip(po):
    """Rice partition orders 0-3 (per-partition params, short first
    partition after the predictor warmup) all decode exactly,
    including on partial last frames where the encoder legally falls
    back toward order 0."""
    rng = random.Random(11)
    pcm = [rng.randint(-3000, 3000) + (i % 97) for i in range(2777)]
    _roundtrip(pcm, block_size=256, partition_order=po)


def test_utf8_frame_numbers_beyond_one_byte():
    """>= 128 frames pushes the frame number into multi-byte UTF-8
    coding; the decoder must track it (and the MD5 catches any
    frame-ordering bug)."""
    pcm = [((i * 3) % 512) - 256 for i in range(200 * 192)]
    _roundtrip(pcm, block_size=192)
    assert _utf8_number(5) == b"\x05"
    assert _utf8_number(200) == bytes([0xC0 | (200 >> 6), 0x80 | (200 & 0x3F)])


def test_lpc_subframes_present_and_exact():
    """Every second frame is an explicit LPC subframe (in-stream
    coefficients, precision 4, shift 0) — assert the type bits
    actually occur so the path can't silently vanish, and that decode
    is integer-exact."""
    pcm = [((i * 13) % 2048) - 1024 for i in range(4 * 256)]
    enc = encode_flac(pcm, block_size=256, lpc_every=2)
    assert decode_flac(enc)[2] == pcm
    no_lpc = encode_flac(pcm, block_size=256, lpc_every=0)
    assert decode_flac(no_lpc)[2] == pcm
    # LPC streams differ from fixed-only streams (the subframe layer
    # changed) while both decode to the same PCM
    assert enc != no_lpc


def test_corruption_detected_everywhere():
    """A single flipped bit anywhere in the stream must fail loudly:
    header CRC-8, frame CRC-16, or the stream MD5 — never a silent
    wrong decode."""
    pcm = [i % 100 for i in range(3000)]
    enc = bytearray(encode_flac(pcm, block_size=1024))
    for off in (len(enc) // 3, len(enc) // 2, len(enc) - 3):
        bad = bytearray(enc)
        bad[off] ^= 0x10
        with pytest.raises((ValueError, NotImplementedError)):
            decode_flac(bytes(bad))


def test_md5_integrity_is_real():
    """The STREAMINFO MD5 is the md5 of the little-endian sample
    bytes; tamper with it and an otherwise-valid stream must be
    rejected."""
    pcm = [42] * 500
    enc = bytearray(encode_flac(pcm))
    # STREAMINFO body starts at offset 8; md5 is its bytes 18..34
    enc[8 + 18] ^= 0xFF
    with pytest.raises(ValueError, match="MD5"):
        decode_flac(bytes(enc))


def test_rejects_non_flac():
    with pytest.raises(ValueError):
        decode_flac(b"RIFFxxxxWAVE")
    with pytest.raises(ValueError):
        decode_flac(b"fLaC")  # truncated metadata


def test_crc_polynomials_match_spec_properties():
    """Pin the CRC definitions: poly 0x07 / 0x8005, init 0,
    non-reflected. Known properties: CRC of empty input is 0, CRC of
    a message concatenated with its own CRC is 0 (self-checking
    property of unreflected CRCs with init 0)."""
    assert _crc8(b"") == 0
    assert _crc16(b"") == 0
    msg = b"123456789"
    c8 = _crc8(msg)
    assert _crc8(msg + bytes([c8])) == 0
    c16 = _crc16(msg)
    assert _crc16(msg + c16.to_bytes(2, "big")) == 0
    # published check values for these exact polynomials over
    # "123456789": CRC-8/ITU-family poly 0x07 init 0 -> 0xF4;
    # CRC-16/BUYPASS (poly 0x8005, init 0, unreflected) -> 0xFEE8
    assert c8 == 0xF4
    assert c16 == 0xFEE8


def test_16bit_range_enforced():
    with pytest.raises(ValueError):
        encode_flac([40000])


def test_compression_actually_compresses_smooth_signals():
    """Not just correct — the fixed predictors + Rice must beat raw
    PCM materially on smooth content (the point of the codec)."""
    pcm = [int(20000 * math.sin(i / 50)) for i in range(8192)]
    enc = encode_flac(pcm, block_size=1024)
    assert len(enc) < 0.5 * 2 * len(pcm), len(enc)


def test_foreign_metadata_blocks_skipped():
    """Real-world FLAC files carry PADDING/VORBIS_COMMENT blocks
    between STREAMINFO and the frames; the decoder must walk past any
    metadata block type."""
    pcm = [((i * 9) % 1000) - 500 for i in range(1500)]
    enc = bytearray(encode_flac(pcm))
    assert enc[4] == 0x80  # STREAMINFO marked last
    enc[4] = 0x00  # ...no longer last
    pad = bytes([0x81]) + (10).to_bytes(3, "big") + b"\x00" * 10
    si_end = 4 + 4 + 34
    spliced = bytes(enc[:si_end]) + pad + bytes(enc[si_end:])
    assert decode_flac(spliced)[2] == pcm


# --- stereo ----------------------------------------------------------

from mapreduce511_spark.multimodal.flac import encode_flac_stereo  # noqa: E402


def _stereo_roundtrip(L, R, **kw):
    enc = encode_flac_stereo(L, R, **kw)
    rate, ch, dec = decode_flac(enc)
    assert ch == 2
    assert dec == [x for p in zip(L, R) for x in p]
    return enc


def test_stereo_all_assignments_roundtrip():
    """The fixture encoder cycles LR / left-side / right-side /
    mid-side per frame; >= 8 frames guarantees every mode occurs
    twice. Correlated channels must also compress materially better
    than raw (the point of decorrelation)."""
    import math as m

    L = [int(15000 * m.sin(i / 17)) for i in range(8 * 256)]
    R = [v + ((i * 13) % 81) - 40 for i, v in enumerate(L)]
    enc = _stereo_roundtrip(L, R, block_size=256)
    assert len(enc) < 0.7 * 4 * len(L), len(enc)


def test_stereo_extremes_and_independent():
    """Side channel needs 17 bits exactly at the +-32767/-32768
    extremes (|L-R| up to 65535); independent full-range noise must
    still round-trip via the escape path."""
    _stereo_roundtrip([32767, -32768] * 500, [-32768, 32767] * 500)
    rng = random.Random(5)
    _stereo_roundtrip(
        [rng.randint(-32768, 32767) for _ in range(1200)],
        [rng.randint(-32768, 32767) for _ in range(1200)],
        block_size=512,
    )


def test_stereo_mid_side_lsb_recovery():
    """mid/side stores (L+R)>>1 — odd sums lose a bit that must come
    back from the side's parity. Force the MS frame (index 3 of the
    cycle) onto odd-sum content."""
    L = [2 * i + 1 for i in range(4 * 64)]  # L+R odd everywhere
    R = [-2 * i for i in range(4 * 64)]
    _stereo_roundtrip([v % 3000 for v in L], [v % 3000 for v in R], block_size=64)


def test_stereo_corruption_detected():
    enc = bytearray(
        encode_flac_stereo(
            [i % 50 for i in range(2000)], [(-i) % 60 for i in range(2000)]
        )
    )
    enc[len(enc) // 2] ^= 4
    with pytest.raises((ValueError, NotImplementedError)):
        decode_flac(bytes(enc))


def test_stereo_unequal_lengths_rejected():
    with pytest.raises(ValueError):
        encode_flac_stereo([1, 2], [1])


def test_wasted_bits_roundtrip_and_actually_save():
    """Samples sharing k trailing zero bits take the wasted-bits
    shift: the stream must round-trip exactly AND be materially
    smaller than the same content offset by 1 (which kills the shared
    zeros) — proving the path is live, not decorative."""
    pcm = [8 * (((i * 7) % 512) - 256) for i in range(3000)]
    enc = encode_flac(pcm, block_size=512)
    assert decode_flac(enc)[2] == pcm
    plain = encode_flac([v + 1 for v in pcm], block_size=512)
    assert len(enc) < 0.8 * len(plain), (len(enc), len(plain))
    # stereo: per-channel wasted bits (left 4 bits, right 2 bits)
    L = [16 * (i % 100) for i in range(2048)]
    R = [4 * ((i * 3) % 200 - 100) for i in range(2048)]
    dec = decode_flac(encode_flac_stereo(L, R, block_size=256))[2]
    assert dec == [x for t in zip(L, R) for x in t]


def test_roundtrip_hypothesis_mono_and_stereo():
    """Property test: ANY 16-bit PCM list round-trips exactly, at
    several block sizes, mono and stereo (hypothesis drives the
    search toward boundary values)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    pcm_lists = st.lists(
        st.integers(min_value=-32768, max_value=32767), max_size=700
    )

    @settings(max_examples=40, deadline=None)
    @given(pcm=pcm_lists, bs=st.sampled_from([64, 192, 256]))
    def check(pcm, bs):
        assert decode_flac(encode_flac(pcm, block_size=bs))[2] == pcm
        n = len(pcm) // 2
        L, R = pcm[:n], pcm[n : 2 * n]
        dec = decode_flac(encode_flac_stereo(L, R, block_size=bs))[2]
        assert dec == [x for p in zip(L, R) for x in p]

    check()


# --- bit depths beyond 16 (r10 gate lift) ---------------------------


@pytest.mark.parametrize("bps", [8, 12, 16, 20, 24])
def test_depth_roundtrip_full_range(bps):
    """Every explicitly-codable sample depth round-trips exactly,
    including rail values and random full-range PCM (the Rice
    escape at 24-bit step sizes)."""
    from mapreduce511_spark.multimodal.flac import encode_flac_stereo

    lo, hi = -(1 << (bps - 1)), (1 << (bps - 1)) - 1
    rng = random.Random(bps)
    pcm = [hi, lo, 0] + [rng.randint(lo, hi) for _ in range(1500)]
    _roundtrip(pcm, block_size=300, bps=bps)
    smooth = [
        max(lo, min(hi, int(hi * 0.6 * math.sin(i / 9))))
        for i in range(1200)
    ]
    _roundtrip(smooth, block_size=256, bps=bps)
    # stereo at depth: all four channel assignments cycle
    left = smooth[:900]
    right = [max(lo, min(hi, v // 3 + 5)) for v in left]
    enc = encode_flac_stereo(left, right, block_size=200, bps=bps)
    rate, ch, dec = decode_flac(enc)
    assert ch == 2
    assert dec == [x for p in zip(left, right) for x in p]


@pytest.mark.parametrize("bps", [8, 12, 20, 24])
def test_depth_range_enforced(bps):
    with pytest.raises(ValueError, match="PCM required"):
        encode_flac([1 << (bps - 1)], bps=bps)
    with pytest.raises(ValueError, match="PCM required"):
        encode_flac([-(1 << (bps - 1)) - 1], bps=bps)


def test_unsupported_depth_rejected_by_encoder():
    with pytest.raises(ValueError, match="bps must be one of"):
        encode_flac([0], bps=32)


def test_md5_packing_is_bytewidth_correct():
    """The MD5 signature packs each sample in ceil(bps/8) bytes
    little-endian: a 24-bit stream's signature differs from the same
    values packed at 16-bit width (regression guard on the packing
    helper), and the decoder verifies it per depth."""
    import hashlib

    from mapreduce511_spark.multimodal.flac import _pack_samples

    vals = [0, 1, -1, 70000, -70000]
    assert _pack_samples(vals[:3], 16) == b"\x00\x00\x01\x00\xff\xff"
    p24 = _pack_samples(vals, 24)
    assert len(p24) == 15
    assert p24[9:12] == (70000).to_bytes(3, "little")
    assert p24[12:15] == ((-70000) & 0xFFFFFF).to_bytes(3, "little")
    assert hashlib.md5(p24).digest() != hashlib.md5(
        _pack_samples(vals[:3], 16)
    ).digest()


def test_frame_size_code_must_match_streaminfo():
    """A frame whose 3-bit sample-size code disagrees with STREAMINFO
    fails loudly (the decoder trusts neither silently)."""
    enc = bytearray(encode_flac([i % 100 for i in range(500)], bps=16))
    # STREAMINFO bps-1 field: 5 bits spanning byte 20 bit 4 of the
    # 34-byte block at offset 8 (4 magic + 4 header). Flip it to 8-bit
    # (bps-1 = 7) without touching the frames.
    # layout: bytes 8+12..: 16+16+24+24 bits = 10 bytes; sample rate
    # 20 bits; channels 3 bits; then bps-1 (5 bits).
    b = enc[8 + 12]  # byte containing last 4 sr bits + 3 chan + 1 bps
    b2 = enc[8 + 13]  # remaining 4 bps bits + top of total
    # bps-1 = ((b & 1) << 4) | (b2 >> 4) == 15 for 16-bit
    assert ((b & 1) << 4) | (b2 >> 4) == 15
    enc[8 + 12] = b & ~1  # high bit of bps-1 -> 0
    enc[8 + 13] = (b2 & 0x0F) | (7 << 4)  # bps-1 = 7
    with pytest.raises(ValueError, match="disagrees with STREAMINFO"):
        decode_flac(bytes(enc))


def test_size_code_zero_defers_to_streaminfo():
    """A conforming foreign encoder may write frame sample-size code
    0b000 ('get from STREAMINFO'); the decoder must accept it (r10
    review — it previously raised a bogus 'disagrees' error).

    The code-0 frames are forged by patching the 3 sample-size bits
    in each emitted frame header and recomputing CRC-8/CRC-16 — pure
    byte surgery on the encoder's output, no shared module state
    (r10 ADVICE: mutating flac._SIZE_CODES coupled this test to
    encoder internals and raced parallel encodes)."""
    import struct

    from mapreduce511_spark.multimodal import flac as m
    from mapreduce511_spark.multimodal.bitio import MsbWriter

    pcm = [((i * 7) % 4096) - 2048 for i in range(900)]
    bs = 256
    enc = bytearray(encode_flac(pcm, block_size=bs))
    off = 4 + 4 + 34  # fLaC magic + metadata block header + STREAMINFO
    frame_idx, pos = 0, 0
    while pos < len(pcm):
        blk = pcm[pos : pos + bs]
        # re-derive this frame's bytes (the encoder is deterministic)
        # to learn its length, then patch the ORIGINAL stream in place
        w = MsbWriter()
        m._frame_header(w, 0b0000, frame_idx, len(blk), 16)
        use_lpc = frame_idx % 2 == 1  # encode_flac default lpc_every=2
        m._write_subframe(w, blk, 16, use_lpc, 0)
        w.align()
        n_frame = len(w.getvalue())
        frame = bytearray(enc[off : off + n_frame])
        assert frame == w.getvalue()  # offsets derived correctly
        # header byte 3 = chan(4) | size_code(3) | reserved(1):
        # clear the size bits -> 0b000 ("get from STREAMINFO")
        assert (frame[3] >> 1) & 0x07 == 0b100  # 16-bit explicit code
        frame[3] &= ~0x0E
        hdr_len = 4 + len(m._utf8_number(frame_idx)) + 2
        frame[hdr_len] = m._crc8(bytes(frame[:hdr_len]))
        enc[off : off + n_frame] = frame
        enc[off + n_frame : off + n_frame + 2] = struct.pack(
            ">H", m._crc16(bytes(frame))
        )
        off += n_frame + 2
        frame_idx += 1
        pos += len(blk)
    assert off == len(enc)  # every frame visited
    rate, ch, dec = decode_flac(bytes(enc))
    assert dec == pcm


def test_depth_fixture_constants_are_non_degenerate():
    """Every depth's fixture step must be >= 1 and the closed form
    must span a wide value range (r10 review: divisor 353 floored the
    8-bit step to 0, degenerating that depth to a constant signal the
    shared oracle could never notice)."""
    from mapreduce511_spark.multimodal import (
        FLAC_DEPTH_STEP_DIV,
        FLAC_DEPTHS,
        FLAC_N_BASE,
        FLAC_PX_A,
    )

    for bits in FLAC_DEPTHS:
        step = (1 << bits) // FLAC_DEPTH_STEP_DIV
        assert step >= 1, bits
        half = 1 << (bits - 1)
        pcm = [
            ((0 * FLAC_PX_A + i * step) % (1 << bits)) - half
            for i in range(FLAC_N_BASE)
        ]
        assert len(set(pcm)) > 100, bits
        # the signal must actually use the depth's range, not hide
        # inside a narrower one
        assert max(pcm) > half // 2 and min(pcm) < -half // 2, bits
