"""Bit I/O of the pure-Python codecs (multimodal/bitio.py): the readers
fail loudly on cut or corrupt streams, and every writer/reader pair
round-trips arbitrary (value, nbits) sequences in its bit order."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mapreduce511_spark.multimodal import jpeg as J
from mapreduce511_spark.multimodal.flac import decode_flac, encode_flac


def _gray_jpeg() -> bytes:
    px = np.random.RandomState(3).randint(0, 256, (32, 32)).astype(np.uint8)
    return J.encode_jpeg(px)


def _scan(payload: bytes) -> tuple[bytes, bytes]:
    """(SOS body, entropy-coded data) of a baseline JPEG's one scan."""
    return next((b, e) for m, b, e in J._walk_segments(payload) if m == 0xDA)


def _decode_gray_scan(entropy: bytes) -> None:
    """Run the baseline scan decoder of a 32x32 grayscale JPEG over
    ``entropy`` (Annex K tables, as ``encode_jpeg`` writes them)."""
    sos, _ = _scan(_gray_jpeg())
    J._decode_baseline_scan(
        sos, entropy, [(1, 1, 1, 0)], [np.zeros((4, 4, 8, 8), np.int64)],
        {0: J._build_decoder(J.DC_BITS, J.DC_VALS)},
        {0: J._build_decoder(J.AC_BITS, J.AC_VALS)}, 4, 4,
    )


def _mid(data: bytes) -> int:
    """A byte boundary near the middle of ``data``, not inside a stuffed pair."""
    i = len(data) // 2
    while data[i - 1] == 0xFF:
        i += 1
    return i


def _splice(data: bytes, insert: bytes) -> bytes:
    return data[: _mid(data)] + insert + data[_mid(data):]


def _jpeg_cut_in_entropy():
    payload = _gray_jpeg()
    J.decode_jpeg(payload[: len(payload) - len(_scan(payload)[1]) // 2])


def _jpeg_cut_after_ff():
    entropy = _scan(_gray_jpeg())[1]
    _decode_gray_scan(entropy[: _mid(entropy)] + b"\xff")


def _jpeg_marker_in_entropy():
    _decode_gray_scan(_splice(_scan(_gray_jpeg())[1], b"\xff\xc4"))


def _jpeg_rst_without_dri():
    payload = _gray_jpeg()
    entropy = _scan(payload)[1]
    J.decode_jpeg(payload.replace(entropy, _splice(entropy, b"\xff\xd3")))


def _flac_cut_mid_frame():
    pcm = [int(v) for v in np.random.RandomState(5).randint(-3000, 3000, 2048)]
    payload = encode_flac(pcm, block_size=1024)
    decode_flac(payload[: len(payload) - 700])


FAIL_LOUD = {
    "jpeg_cut_in_entropy": (_jpeg_cut_in_entropy, "JPEG entropy stream truncated"),
    "jpeg_cut_after_ff": (_jpeg_cut_after_ff, "JPEG entropy stream truncated at 0xFF"),
    "jpeg_marker_in_entropy": (
        _jpeg_marker_in_entropy, "unexpected marker 0xFFC4 in entropy data"
    ),
    "jpeg_rst_without_dri": (_jpeg_rst_without_dri, "unexpected marker 0xFFD3"),
    "flac_cut_mid_frame": (_flac_cut_mid_frame, "FLAC bitstream truncated"),
}


@pytest.mark.parametrize("case", sorted(FAIL_LOUD))
def test_reader_fails_loud(case):
    run, message = FAIL_LOUD[case]
    with pytest.raises(ValueError, match=message):
        run()


_FIELDS = st.lists(
    st.integers(0, 32).flatmap(
        lambda n: st.tuples(st.integers(0, (1 << n) - 1), st.just(n))
    ),
    max_size=120,
)


@settings(max_examples=80, deadline=None)
@given(fields=_FIELDS)
def test_lsb_round_trip(fields):
    from mapreduce511_spark.multimodal.bitio import LsbReader, LsbWriter

    w = LsbWriter()
    for v, n in fields:
        w.write(v, n)
    data = w.getvalue()
    assert len(data) == (sum(n for _, n in fields) + 7) // 8
    r = LsbReader(data, "cut")
    assert [r.read(n) for _, n in fields] == [v for v, _ in fields]
    assert r.read(r.nbits) == 0  # 0-fill


@settings(max_examples=80, deadline=None)
@given(fields=_FIELDS, unary=st.lists(st.integers(0, 100), max_size=120))
def test_msb_round_trip(fields, unary):
    from mapreduce511_spark.multimodal.bitio import MsbReader, MsbWriter

    w = MsbWriter()
    for (v, n), q in zip(fields, unary):
        w.write(v, n)
        w.write_unary(q)
    data = w.getvalue()
    r = MsbReader(data, "cut")
    for (v, n), q in zip(fields, unary):
        assert (r.read(n), r.read_unary()) == (v, q)
    assert r.read(r.nbits) == 0  # 0-fill
    assert r.pos == len(data)


@settings(max_examples=80, deadline=None)
@given(segments=st.lists(_FIELDS, min_size=1, max_size=12))
def test_jpeg_round_trip_stuffs_entropy_not_markers(segments):
    from mapreduce511_spark.multimodal.bitio import JpegReader, JpegWriter

    w = JpegWriter()
    for i, seg in enumerate(segments):
        if i:
            w.marker(0xD0 + (i - 1) % 8)
        for v, n in seg:
            w.write(v, n)
    data = w.getvalue()
    markers, i = [], 0
    while i < len(data):
        if data[i] == 0xFF:
            if data[i + 1]:
                markers.append(data[i + 1])
            i += 1
        i += 1
    # every 0xFF is stuffed except the markers' own
    assert markers == [0xD0 + k % 8 for k in range(len(segments) - 1)]
    r = JpegReader(data)
    for i, seg in enumerate(segments):
        if i:
            r.restart(i - 1)
        assert [r.read(n) for _, n in seg] == [v for v, _ in seg]
    pad = r.nbits
    assert r.read(pad) == (1 << pad) - 1  # 1-fill
    assert r.pos == len(data)
