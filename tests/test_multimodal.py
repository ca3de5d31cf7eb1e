"""Multimodal plumbing: the Arrow/mapInPandas path must agree with
JVM-side expressions computed over the same binary column."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce511_spark.multimodal import (
    N_HIST_BINS,
    attach_fake_media,
    decode_real,
    extract_features,
    sample_frames,
)
from mapreduce511_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def media(spark):
    return attach_fake_media(load_table(spark, SF_SMOKE, "documents")).cache()


def test_decode_real_gates_compressed_formats_only():
    """BMP/WAV/PNG/baseline-JPEG decode natively; the remaining
    compressed formats stay honestly stubbed. A JPEG payload that
    is not actually a JPEG fails loudly, not silently."""
    with pytest.raises(NotImplementedError):
        decode_real(b"\x00", "fake/raw")
    with pytest.raises(NotImplementedError):
        decode_real(b"\x00", "audio/mp3")
    with pytest.raises(ValueError):
        decode_real(b"\x00\x01", "image/jpeg")


def test_feature_bytes_match_jvm_length(spark, media):
    feats = extract_features(media)
    jvm = media.select("doc_id", F.length("content").cast("long").alias("jvm_bytes"))
    diff = (
        feats.join(jvm, "doc_id")
        .filter(F.col("n_bytes") != F.col("jvm_bytes"))
        .count()
    )
    assert diff == 0
    assert feats.count() == media.count()


def test_histogram_sums_to_n_bytes(spark, media):
    feats = extract_features(media)
    bad = feats.filter(
        F.aggregate("histogram", F.lit(0).cast("long"), lambda a, x: a + x)
        != F.col("n_bytes")
    ).count()
    assert bad == 0
    assert feats.select(F.max(F.size("histogram"))).first()[0] == N_HIST_BINS


def test_frame_sampling_shape(spark, media):
    frames = sample_frames(media, every_n=4)
    # every asset yields at least one frame; frame indexes step by 4
    assert frames.select("doc_id").distinct().count() == media.count()
    assert frames.filter(F.col("frame_idx") % 4 != 0).count() == 0
    assert frames.filter(F.length("frame") > 64).count() == 0


def test_resize_halves_bytes_and_dims(spark, media):
    from mapreduce511_spark.multimodal import resize_assets

    small = resize_assets(media, factor=2)
    j = (
        media.select("doc_id", F.length("content").alias("n0"),
                     F.col("media.width").alias("w0"))
        .join(
            small.select("doc_id", F.length("content").alias("n1"),
                         F.col("media.width").alias("w1")),
            "doc_id",
        )
    )
    # ceil(n0/2) bytes after [::2]
    assert j.filter(F.col("n1") != F.ceil(F.col("n0") / 2)).count() == 0
    assert j.filter(
        (F.col("w1") != F.greatest(F.floor(F.col("w0") / 2), F.lit(1)))
    ).count() == 0


class TestNativeCodecs:
    """multimodal/codecs.py — real struct-level BMP/WAV parsing."""

    def test_bmp_round_trip_all_padding_widths(self):
        import numpy as np

        from mapreduce511_spark.multimodal import codecs

        for w in (8, 9, 10, 11):  # strides hit every 4-byte pad case
            px = (np.arange(w * 12 * 3, dtype=np.int64) * 13 % 256).astype(
                np.uint8
            ).reshape(12, w, 3)
            w2, h2, out = codecs.decode_bmp(codecs.encode_bmp(px))
            assert (w2, h2) == (w, 12)
            assert np.array_equal(out, px)

    def test_bmp_rejects_garbage_and_unsupported(self):
        import numpy as np

        from mapreduce511_spark.multimodal import codecs

        with pytest.raises(ValueError, match="magic"):
            codecs.decode_bmp(b"XX" + b"\x00" * 60)
        # flip bpp to 8 in a valid header
        good = bytearray(
            codecs.encode_bmp(np.zeros((4, 4, 3), dtype=np.uint8))
        )
        good[28] = 8
        with pytest.raises(ValueError, match="24-bit"):
            codecs.decode_bmp(bytes(good))

    def test_wav_round_trip_and_chunk_walk(self):
        import struct

        import numpy as np

        from mapreduce511_spark.multimodal import codecs

        s = ((np.arange(777, dtype=np.int64) * 91) % 4096 - 2048).astype(np.int16)
        payload = codecs.encode_wav(s, sample_rate=16000)
        rate, ch, out = codecs.decode_wav(payload)
        assert (rate, ch) == (16000, 1)
        assert np.array_equal(out, s)
        # insert a LIST chunk between fmt and data: walker must skip it
        fmt_end = 12 + 8 + 16
        extra = b"LIST" + struct.pack("<I", 6) + b"INFOab"
        padded = payload[:fmt_end] + extra + payload[fmt_end:]
        rate2, _, out2 = codecs.decode_wav(padded)
        assert rate2 == 16000 and np.array_equal(out2, s)

    def test_wav_rejects_non_pcm(self):
        import struct

        import numpy as np

        from mapreduce511_spark.multimodal import codecs

        payload = bytearray(codecs.encode_wav(np.zeros(4, dtype=np.int16)))
        struct.pack_into("<H", payload, 20, 3)  # fmt tag -> IEEE float
        with pytest.raises(ValueError, match="PCM"):
            codecs.decode_wav(bytes(payload))

    def test_decoded_features_match_formulas(self, spark):
        """End-to-end through Spark: synth -> encode -> decode -> stats
        equals the closed-form values (the oracle's own arithmetic)."""
        import numpy as np

        from mapreduce511_spark.multimodal import (
            extract_decoded_features,
            synth_codec_media,
        )

        docs = load_table(spark, SF_SMOKE, "documents")
        stats = {
            r.doc_id: r
            for r in extract_decoded_features(synth_codec_media(docs)).collect()
        }
        assert len(stats) == 400
        for doc_id in (0, 9, 42, 399):
            r = stats[doc_id]
            if doc_id % 2 == 0:
                w, h = 8 + doc_id % 9, 8 + (doc_id * 3) % 9
                vals = (doc_id * 31 + np.arange(w * h * 3, dtype=np.int64) * 7) % 256
                assert (r.kind, r.width, r.height) == ("image", w, h)
                bins = vals >> 4
            else:
                n = 256 + doc_id % 64
                vals = ((doc_id * 13 + np.arange(n, dtype=np.int64) * 5) % 4096) - 2048
                assert (r.kind, r.width, r.height) == ("audio", 0, 0)
                bins = (vals + 2048) >> 8
            assert r.n_vals == len(vals)
            assert r.sum_val == int(vals.sum())
            assert (r.min_val, r.max_val) == (int(vals.min()), int(vals.max()))
            assert r.hist_sum == int((bins + 1).sum())


def test_real_bmp_resize_through_spark(spark):
    """resize_assets on real BMP payloads: decode the output and check
    it is exactly the nearest-neighbor downsample of the input pixels,
    with metadata matching the true output geometry."""
    import numpy as np

    from mapreduce511_spark.multimodal import codecs, resize_assets, synth_codec_media

    docs = load_table(spark, SF_SMOKE, "documents")
    media = synth_codec_media(docs).filter("fmt = 'image/bmp'").limit(20)
    with_meta = media.select(
        "doc_id",
        "content",
        F.struct(
            F.lit("image").alias("kind"),
            F.col("fmt").alias("fmt"),
            F.lit(0).alias("width"),
            F.lit(0).alias("height"),
            F.lit(1).alias("n_frames"),
        ).alias("media"),
    )
    resized = {r.doc_id: r for r in resize_assets(with_meta, factor=2).collect()}
    originals = {r.doc_id: bytes(r.content) for r in media.collect()}
    assert resized
    for doc_id, r in resized.items():
        _w0, _h0, px0 = codecs.decode_bmp(originals[doc_id])
        w2, h2, px2 = codecs.decode_bmp(bytes(r.content))
        expect = px0[::2, ::2]
        assert (h2, w2) == expect.shape[:2]
        assert (r.media["width"], r.media["height"]) == (w2, h2)
        assert np.array_equal(px2, expect)


class TestPngCodec:
    """multimodal/codecs.py — non-interlaced RGB8 PNG with stdlib
    zlib: CRC-checked chunk walk, inflate, all five row unfilters."""

    def test_round_trip_every_filter_type_and_shape(self):
        import numpy as np

        from mapreduce511_spark.multimodal import codecs

        rng = np.random.default_rng(42)
        for h, w in ((1, 1), (2, 3), (7, 5), (12, 11)):
            px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            for rf in (0, 1, 2, 3, 4, lambda r: r % 5):
                w2, h2, out = codecs.decode_png(codecs.encode_png(px, rf))
                assert (w2, h2) == (w, h)
                assert np.array_equal(out, px), (h, w, rf)

    def test_crc_corruption_detected(self):
        import numpy as np

        from mapreduce511_spark.multimodal import codecs

        payload = bytearray(
            codecs.encode_png(np.zeros((4, 4, 3), dtype=np.uint8))
        )
        # flip one byte inside the IDAT body (after sig+IHDR chunk)
        idat_at = bytes(payload).index(b"IDAT")
        payload[idat_at + 6] ^= 0xFF
        with pytest.raises(ValueError, match="CRC"):
            codecs.decode_png(bytes(payload))

    def test_rejects_non_rgb8_and_garbage(self):
        import numpy as np

        from mapreduce511_spark.multimodal import codecs

        with pytest.raises(ValueError, match="signature"):
            codecs.decode_png(b"not a png at all")
        # rewrite IHDR to claim RGBA (color type 6), re-CRC it
        import struct
        import zlib

        good = codecs.encode_png(np.zeros((4, 4, 3), dtype=np.uint8))
        sig = good[:8]
        ihdr_body = bytearray(good[16:29])
        ihdr_body[9] = 6
        bad_ihdr = (
            struct.pack(">I", 13)
            + b"IHDR"
            + bytes(ihdr_body)
            + struct.pack(">I", zlib.crc32(b"IHDR" + bytes(ihdr_body)))
        )
        with pytest.raises(ValueError, match="RGB"):
            codecs.decode_png(sig + bad_ihdr + good[33:])

    def test_decode_real_dispatches_png(self):
        import numpy as np

        from mapreduce511_spark.multimodal import codecs, decode_real

        px = (np.arange(36, dtype=np.int64) % 256).astype(np.uint8).reshape(
            3, 4, 3
        )
        w, h, out = decode_real(codecs.encode_png(px, 4), codecs.PNG_FMT)
        assert (w, h) == (4, 3) and np.array_equal(out, px)


def test_resize_png_real_roundtrip():
    import numpy as np

    from mapreduce511_spark.multimodal import codecs

    px = (np.arange(10 * 8 * 3, dtype=np.int64) * 29 % 256).astype(
        np.uint8
    ).reshape(10, 8, 3)
    out = codecs.resize_png(codecs.encode_png(px, lambda r: r % 5), 2)
    w, h, small = codecs.decode_png(out)
    assert (w, h) == (4, 5)
    assert np.array_equal(small, px[::2, ::2])


def test_dhash_spark_matches_closed_form(spark):
    """extract_dhash over REAL decoded BMP fixtures must equal the
    pure closed form (the oracle's view) bit for bit — this is the
    decode + box-average + gradient-sign path, not aggregate parity."""
    import numpy as np

    from mapreduce511_spark.multimodal import (
        _dhash_cells,
        extract_dhash,
        synth_dhash_media,
    )
    from mapreduce511_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    got = {
        r.doc_id: (r.h_lo, r.h_hi)
        for r in extract_dhash(synth_dhash_media(docs)).collect()
    }
    assert got  # fixtures exist
    w = (1 << np.arange(32, dtype=np.int64))
    for d, (lo, hi) in got.items():
        cells = _dhash_cells(d)
        bits = (cells[:, 1:9] > cells[:, 0:8]).astype(np.int64)
        assert lo == int((bits[:4].reshape(-1) * w).sum())
        assert hi == int((bits[4:].reshape(-1) * w).sum())
        assert 0 <= lo < (1 << 32) and 0 <= hi < (1 << 32)


def test_dhash_banding_recall_is_exact(spark):
    """Pigeonhole exactness: the banded candidate join must surface
    EVERY pair within Hamming t=3 (compare against the brute-force
    pair set on the extracted hashes)."""
    from itertools import combinations

    from mapreduce511_spark import queries as suite
    from mapreduce511_spark.multimodal import (
        DHASH_T,
        extract_dhash,
        synth_dhash_media,
    )
    from mapreduce511_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    hs = {
        r.doc_id: (r.h_lo, r.h_hi)
        for r in extract_dhash(synth_dhash_media(docs)).collect()
    }
    brute = {
        (a, b)
        for a, b in combinations(sorted(hs), 2)
        if bin(hs[a][0] ^ hs[b][0]).count("1")
        + bin(hs[a][1] ^ hs[b][1]).count("1")
        <= DHASH_T
    }
    got = {
        (r.doc_a, r.doc_b)
        for r in suite.all_queries()["image_dhash_near_dup"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == brute and brute  # exact recall AND precision


def test_audio_fingerprint_gain_invariance_and_recall(spark):
    """r9 (VERDICT r8 item 4): the audio fingerprint must (a) be
    bit-IDENTICAL under the planted pure-volume variant (v=1, 3x
    gain), (b) surface every planted edit pair within Hamming t via
    the banded join (pigeonhole exactness vs brute force), and (c)
    keep all admitted pairs intra-class on this fixture (cross-class
    fingerprints are far apart)."""
    from itertools import combinations

    from mapreduce511_spark import queries as suite
    from mapreduce511_spark.multimodal import (
        AFP_CLASS,
        AFP_T,
        extract_audio_fingerprint,
        synth_audio_fp_media,
    )
    from mapreduce511_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    hs = {
        r.doc_id: (r.h_lo, r.h_hi)
        for r in extract_audio_fingerprint(
            synth_audio_fp_media(docs)
        ).collect()
    }
    # (a) volume twin: v=1 is the 3x-gain copy of v=0 — identical
    bases = {d // AFP_CLASS for d in hs}
    for b in bases:
        assert hs[b * AFP_CLASS] == hs[b * AFP_CLASS + 1]
    # (b) exact recall AND precision vs brute force at t
    brute = {
        (a, b)
        for a, b in combinations(sorted(hs), 2)
        if bin(hs[a][0] ^ hs[b][0]).count("1")
        + bin(hs[a][1] ^ hs[b][1]).count("1")
        <= AFP_T
    }
    rows = suite.all_queries()["audio_fingerprint_near_dup"](
        spark, SF_SMOKE
    ).collect()
    got = {(r.doc_a, r.doc_b) for r in rows}
    assert got == brute and brute
    # (c) this fixture's admitted pairs are all planted pairs
    assert all(r.same_class == 1 for r in rows)
    # and the gain twin is admitted for every class (hamming 0)
    zero = {(r.doc_a, r.doc_b) for r in rows if r.hamming == 0}
    assert {(b * AFP_CLASS, b * AFP_CLASS + 1) for b in bases} <= zero


def test_video_near_dup_variant_classes(spark):
    """r9 (VERDICT r8 item 5): the frame-sampled video near-dup must
    admit every planted variant at its exact Jaccard — re-encode
    (6/6), head-trim (5/6), trim+splice vs base (5/7) — with no
    cross-class pair (fixture frames are class-disjoint), and the
    shared-frame candidate join must equal brute force over frame
    sets (exact recall for any positive threshold)."""
    from itertools import combinations

    from mapreduce511_spark import queries as suite
    from mapreduce511_spark.multimodal import (
        VID_CLASS,
        extract_video_frame_hashes,
        synth_video_media,
    )
    from mapreduce511_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    sets: dict[int, set] = {}
    for r in extract_video_frame_hashes(synth_video_media(docs)).collect():
        sets.setdefault(r.doc_id, set()).add((r.h_lo, r.h_hi))
    rows = suite.all_queries()["video_dhash_near_dup"](
        spark, SF_SMOKE
    ).collect()
    got = {(r.doc_a, r.doc_b): r for r in rows}
    brute = {
        (a, b)
        for a, b in combinations(sorted(sets), 2)
        if 2 * len(sets[a] & sets[b]) >= len(sets[a] | sets[b])
    }
    assert set(got) == brute and brute
    assert all(r.same_class == 1 for r in rows)
    # exact planted Jaccards, per class: (v0,v1) 6/6, (v0,v2) 5/6,
    # (v0,v3) 5/7, (v2,v3) 5/6
    for b in {d // VID_CLASS for d in sets}:
        d0 = b * VID_CLASS
        assert (got[(d0, d0 + 1)].n_common, got[(d0, d0 + 1)].n_union) == (6, 6)
        assert (got[(d0, d0 + 2)].n_common, got[(d0, d0 + 2)].n_union) == (5, 6)
        assert (got[(d0, d0 + 3)].n_common, got[(d0, d0 + 3)].n_union) == (5, 7)
        assert (got[(d0 + 2, d0 + 3)].n_common, got[(d0 + 2, d0 + 3)].n_union) == (5, 6)


# (rows, sha256 of the sorted "doc_id\tsha256(content)\tfmt" lines) per
# generator over SF_SMOKE's 500 docs, so the 400/128 limits cut rows.
# The oracles restate only the decoded closed forms; these pin the
# encoded bytes themselves.
SYNTH_DIGESTS = {
    "synth_audio_fp_media": (400, "bcea3fcaf94330cfa7a43e8a40401047b4b7f3419d5198b6292f4d69724ca6fc"),
    "synth_codec_media": (400, "6b3bcca0cfb7bf2915d06c78ccf038930f1e9a530cc6fd3c73a2b52e4a9ae0a9"),
    "synth_dhash_media": (400, "1ce8a34a9256381822382d325c0fa228d92f22b5da5a86c137f03e79b2be2c2d"),
    "synth_flac_depth_media": (400, "f37380c0b7ece394d5992fcc82e2b67b7ec6bcfcb05ca1e9b4c8e108c7fab7e0"),
    "synth_flac_media": (400, "b4d8660b094907e1cc9c4bf1c1d3e099a7b41cfb7de842259f7d113974f6fddd"),
    "synth_flac_stereo_media": (400, "743443ca564c8b08d153ea0e060a15af95947d8ebf1a476e93650b345ffefff5"),
    "synth_gif_anim_media": (400, "bd427a8b4a9ab31d5ceecac2d8c5fde8ee910328439c0ca5f5cfb6e24f87b2f6"),
    "synth_gif_media": (400, "28f5b695dc48638850c3c6a84dca465f528c3846e382aa4b0bbe43a9de7ad0c4"),
    "synth_jpeg420_media": (400, "e37254aaf0d1acc524e338f30d0f368b65a51e3b71c0dbca8341eb8f42bc9d80"),
    "synth_jpeg_arith_media": (400, "0a3cfc49713c3f513ee5754af5843c60673c14f155703e2d9e7419957df28a0d"),
    "synth_jpeg_media": (400, "98b2c4d33025e6bd806e8d3c84d5d5a9b224cbb449823e594efc53efa9cc2944"),
    "synth_jpeg_progressive_media": (400, "491b37034df72a74af51904c75671880488fe5e0b6789a81340829a0b6bf8d62"),
    "synth_png_media": (400, "07b2710068a58990e6da3fd28fbdf3439887c7723a9e480e06ecc24ca2393fa8"),
    "synth_png_native_deflate_media": (400, "f3c45fa042438894a072ee76fcb41a5ab8e1786fb7e491996e847ad4243bb8a4"),
    "synth_tiff_media": (400, "d876223d71983bbb213d2fb54fad50b497d534633e5ad2f54bfa7c0e65ce20a7"),
    "synth_video_media": (128, "344c42dfc40ab9bc490e2250f499c1b71b758d5c53ba8843ece251432a76904a"),
}


def test_synth_digests_cover_every_generator():
    from mapreduce511_spark import multimodal as mm

    gens = {n for n in dir(mm) if n.startswith("synth_") and n.endswith("_media")}
    assert gens == set(SYNTH_DIGESTS)


@pytest.mark.parametrize("name", sorted(SYNTH_DIGESTS))
def test_synth_media_bytes_pinned(spark, name):
    """Every generator's rows and payload bytes are pinned: same ids,
    same fmt, same sha256 of every content blob."""
    import hashlib

    from mapreduce511_spark import multimodal as mm

    docs = load_table(spark, SF_SMOKE, "documents")
    rows = sorted(
        (r.doc_id, r.h, r.fmt)
        for r in getattr(mm, name)(docs)
        .select("doc_id", F.sha2("content", 256).alias("h"), "fmt")
        .collect()
    )
    text = "\n".join(f"{d}\t{h}\t{f}" for d, h, f in rows)
    assert (len(rows), hashlib.sha256(text.encode()).hexdigest()) == SYNTH_DIGESTS[
        name
    ]


@pytest.mark.parametrize("name", sorted(SYNTH_DIGESTS))
def test_synth_media_filters_in_jvm_and_keeps_callers_spread(spark, name):
    """The doc_id limit is a JVM Filter below the MapInPandas (ids at
    or above it never reach Python), and the generator adds no
    Repartition: the only exchange is the caller's ``spread_scan``."""
    import re

    from mapreduce511_spark import multimodal as mm
    from mapreduce511_spark.sources.tables import spread_scan

    limit = mm.VID_DOC_LIMIT if name == "synth_video_media" else mm.SYNTH_DOC_LIMIT
    docs = spread_scan(load_table(spark, SF_SMOKE, "documents"), min_parts=3)
    plan = getattr(mm, name)(docs)._jdf.queryExecution().optimizedPlan().toString()
    below = plan.split("MapInPandas", 1)[1]
    assert re.search(rf"Filter .*doc_id#\d+L < {limit}\)", below), plan
    assert re.findall(r"Repartition.*", plan) == ["Repartition 3, true"], plan
