"""Multimodal codec + Spark plumbing tests (all decode paths real)."""

import pytest
from pyspark.sql import functions as F

from duckdb_graphar_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def media(spark):
    """Real 24-bpp BMP payloads: doc i is a flat (2+i%3)×(1+i%2) image
    of channel value 10·i."""
    import numpy as np

    rows = [
        (
            i,
            M.encode_bmp(
                np.full((1 + i % 2, 2 + i % 3, 3), 10 * i, dtype=np.uint8)
            ),
        )
        for i in range(10)
    ]
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def test_extract_image_features(media):
    out = M.extract_image_features(media)
    rows = out.orderBy("doc_id").collect()
    assert len(rows) == 10
    for r in rows:
        assert r.width == 2 + r.doc_id % 3 and r.height == 1 + r.doc_id % 2
        assert r.mean_intensity == 10.0 * r.doc_id
        assert r.phash == 0  # flat image: no sample exceeds the mean
    # determinism
    again = M.extract_image_features(media).orderBy("doc_id").collect()
    assert rows == again


def test_real_decode_raises():
    with pytest.raises(NotImplementedError):
        M.decode_image(b"xx")


def test_sample_frames_raw_stream(spark):
    """Non-RIFF payloads take the documented raw-byte windower."""
    rows = [(i, bytes([i % 256]) * (100 + i)) for i in range(10)]
    media = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = M.sample_frames(media).collect()
    assert all(r.ts_ms == r.frame_idx * 1000 for r in out)
    assert {r.doc_id for r in out} == set(range(10))
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, frames in by_doc.items():
        assert len(frames) == 1 + (100 + i) % 5


def test_sample_frames_riff_real_walk(spark):
    """RIFF AVI payloads yield the ACTUAL embedded JPEG frames."""
    import numpy as np

    f0 = M.encode_gray_jpeg(np.full((8, 8), 50, np.uint8))
    f1 = M.encode_gray_jpeg(np.full((8, 8), 200, np.uint8))
    avi = M.encode_mjpeg_avi([f0, f1], width=8, height=8)
    media = spark.createDataFrame([(7, avi)], "doc_id long, payload binary")
    out = sorted(M.sample_frames(media).collect(), key=lambda r: r.frame_idx)
    assert len(out) == 2
    assert bytes(out[0].frame_payload) == f0
    assert bytes(out[1].frame_payload) == f1


# --- real dependency-free codecs: BMP / PPM ---


def test_bmp_roundtrip_with_padding():
    import numpy as np

    # w=2 → row 6 bytes padded to 8; values chosen per-channel distinct
    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(3, 2, 3)
    payload = M.encode_bmp(px)
    d = M.decode_bmp(payload)
    assert d["width"] == 2 and d["height"] == 3
    assert (d["pixels"] == px.reshape(-1)).all()


def test_bmp_header_validation():
    import numpy as np

    with pytest.raises(ValueError, match="magic"):
        M.decode_bmp(b"PNG" + b"\0" * 60)
    with pytest.raises(ValueError, match="truncated"):
        M.decode_bmp(b"BM" + b"\0" * 10)
    good = M.encode_bmp(np.zeros((2, 2, 3), dtype=np.uint8))
    with pytest.raises(ValueError, match="truncated"):
        M.decode_bmp(good[:-4])


def test_ppm_decode_with_comment():
    import numpy as np

    px = bytes(range(12))  # 2x2 RGB
    payload = b"P6\n# a comment\n2 2\n255\n" + px
    d = M.decode_ppm(payload)
    assert d["width"] == 2 and d["height"] == 2
    assert (d["pixels"] == np.frombuffer(px, np.uint8)).all()


def test_decode_image_real_path_stats():
    import numpy as np

    px = np.zeros((4, 4, 3), dtype=np.uint8)
    px[:, :, 0] = 10  # B plane
    px[:, :, 1] = 20
    px[:, :, 2] = 60
    feats = M.decode_image(M.encode_bmp(px))
    assert feats["width"] == 4 and feats["height"] == 4
    assert feats["mean_intensity"] == 30.0
    # uniform image: all blocks equal the mean → no bit set
    assert feats["phash"] == 0


def test_average_hash_gradient_nonzero():
    import numpy as np

    g = np.tile(np.arange(16, dtype=np.uint8).repeat(3), 16).reshape(16, 16, 3)
    h = M.average_hash(16, 16, g.reshape(-1))
    assert h != 0  # right half brighter than mean


def test_encode_text_bmp_channel_stats(spark):
    rows = [(0, "the quick"), (25, "a" * 17)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in M.bmp_channel_stats(M.encode_text_bmp(df)).collect()
    }
    # doc 0: L=9 → w=10, h=1; doc 25: L=17 → w=2, h=1+25%12=2
    assert out[0].width == 10 and out[0].height == 1
    assert out[25].width == 2 and out[25].height == 2
    # doc 25 is all 'a' (97): every channel mean is exactly 97
    assert out[25].mean_b == 97.0 and out[25].mean_g == 97.0 and out[25].mean_r == 97.0


def test_pcm_roundtrip_features(spark):
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_pcm,
        pcm_energy_stats,
    )

    df = spark.createDataFrame(
        [(0, "aA"), (1, " "), (2, "abc def")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in pcm_energy_stats(encode_text_pcm(df)).collect()}
    # doc 0: bytes 97, 65 → samples (97-80)*256=4352, (65-80)*256=-3840
    assert got[0].n_samples == 2
    assert got[0].total_energy == 4352 * 4352 + 3840 * 3840
    assert got[0].n_zero_cross == 1 and got[0].peak == 4352
    # doc 1: single sample (32-80)*256 = -12288
    assert got[1].n_samples == 1 and got[1].n_zero_cross == 0
    assert got[1].peak == 12288
    # doc 2: 'abc def' — space flips sign twice
    assert got[2].n_zero_cross == 2


def test_pcm_energy_stats_rejects_odd_payload(spark):
    from duckdb_graphar_spark.operators.multimodal import pcm_energy_stats

    df = spark.createDataFrame([(0, bytearray(b"abc"))], "doc_id long, payload binary")
    import pytest as _pt

    with _pt.raises(Exception, match="odd PCM"):
        pcm_energy_stats(df).collect()


# ---------------------------------------------------------------------------
# baseline JPEG codec
# ---------------------------------------------------------------------------


def test_jpeg_flat_blocks_roundtrip_exact():
    """Flat 8×8 blocks survive the full lossy pipeline bit-exactly
    with the all-ones quant table — the property the m07 oracle uses."""
    import numpy as np

    from duckdb_graphar_spark.operators.multimodal import (
        decode_jpeg_gray,
        encode_gray_jpeg,
    )

    rng = np.random.default_rng(5)
    vals = rng.integers(0, 256, size=(3, 4)).astype(np.uint8)
    px = np.kron(vals, np.ones((8, 8), dtype=np.uint8))
    d = decode_jpeg_gray(encode_gray_jpeg(px))
    assert (d["width"], d["height"]) == (32, 24)
    assert np.array_equal(d["pixels"].reshape(24, 32), px)


def test_jpeg_arbitrary_content_near_lossless():
    """General content through the real DCT/Huffman path: with q=1 the
    only loss is coefficient rounding — max pixel error ≤ 2."""
    import numpy as np

    from duckdb_graphar_spark.operators.multimodal import (
        decode_jpeg_gray,
        encode_gray_jpeg,
    )

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(16, 24)).astype(np.uint8)
    d = decode_jpeg_gray(encode_gray_jpeg(px))
    err = np.abs(d["pixels"].reshape(16, 24).astype(int) - px.astype(int)).max()
    assert err <= 2
    # gradient rows exercise long AC runs / ZRL
    g = np.tile((np.arange(64, dtype=np.uint16) * 4 % 256).astype(np.uint8), (8, 1))
    d2 = decode_jpeg_gray(encode_gray_jpeg(g))
    assert np.abs(d2["pixels"].reshape(8, 64).astype(int) - g.astype(int)).max() <= 2


def test_jpeg_rejects_malformed():
    import numpy as np
    import pytest as _pt

    from duckdb_graphar_spark.operators.multimodal import (
        decode_jpeg_gray,
        encode_gray_jpeg,
    )

    with _pt.raises(ValueError, match="SOI"):
        decode_jpeg_gray(b"\x89PNG....")
    with _pt.raises(ValueError, match="multiple-of-8"):
        encode_gray_jpeg(np.zeros((10, 16), dtype=np.uint8))
    buf = bytearray(encode_gray_jpeg(np.full((8, 8), 7, dtype=np.uint8)))
    # flip SOF0 marker to SOF2: the stream now claims progressive but
    # carries a baseline SOS (Ss=0, Se=63 — an illegal DC-scan band).
    # Round 8 retired the blanket SOF2 guard (progressive decodes for
    # real now), so this mutant must fail STRUCTURALLY, not mis-decode.
    sof = bytes(buf).find(b"\xff\xc0")
    buf[sof + 1] = 0xC2
    with _pt.raises(ValueError, match="DC scan must have Se = 0"):
        decode_jpeg_gray(bytes(buf))
    # SOF1 (extended sequential) stays an honest scope guard
    buf[sof + 1] = 0xC1
    with _pt.raises(NotImplementedError, match="SOF0"):
        decode_jpeg_gray(bytes(buf))


def test_decode_image_handles_jpeg_magic():
    import numpy as np

    from duckdb_graphar_spark.operators.multimodal import (
        decode_image,
        encode_gray_jpeg,
    )

    px = np.full((8, 16), 200, dtype=np.uint8)
    d = decode_image(encode_gray_jpeg(px))
    assert (d["width"], d["height"]) == (16, 8)
    assert d["mean_intensity"] == 200.0


def test_jpeg_spark_stats_match_numpy(spark):
    """m07's two mapInPandas stages against a driver-side recompute."""
    import numpy as np

    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_jpeg,
        jpeg_gray_stats,
    )

    docs = [(0, "hello world"), (1, "abc"), (2, "The quick brown fox!")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in jpeg_gray_stats(encode_text_jpeg(df)).collect()}
    for did, text in docs:
        tb = np.frombuffer(text.encode(), dtype=np.uint8)
        wb, hb = 1 + len(tb) % 4, 1 + did % 3
        vals = tb[np.arange(wb * hb) % len(tb)]
        r = got[did]
        assert (r.width, r.height) == (8 * wb, 8 * hb)
        assert (r.min_gray, r.max_gray) == (int(vals.min()), int(vals.max()))
        assert abs(r.mean_gray - vals.mean()) < 1e-6


# ---------------------------------------------------------------------------
# Motion-JPEG AVI container
# ---------------------------------------------------------------------------


def test_mjpeg_avi_roundtrip_exact():
    import numpy as np

    from duckdb_graphar_spark.operators.multimodal import (
        decode_jpeg_gray,
        decode_mjpeg_avi,
        encode_gray_jpeg,
        encode_mjpeg_avi,
    )

    rng = np.random.default_rng(3)
    frames_px = [
        np.kron(rng.integers(0, 256, size=(2, 3)).astype(np.uint8),
                np.ones((8, 8), np.uint8))
        for _ in range(3)
    ]
    avi = encode_mjpeg_avi(
        [encode_gray_jpeg(p) for p in frames_px], width=24, height=16
    )
    back = decode_mjpeg_avi(avi)
    assert len(back) == 3
    for fb, px in zip(back, frames_px):
        assert np.array_equal(decode_jpeg_gray(fb)["pixels"].reshape(16, 24), px)


def test_mjpeg_avi_rejects_malformed():
    import numpy as np
    import pytest as _pt

    from duckdb_graphar_spark.operators.multimodal import (
        decode_mjpeg_avi,
        encode_gray_jpeg,
        encode_mjpeg_avi,
    )

    avi = encode_mjpeg_avi(
        [encode_gray_jpeg(np.full((8, 8), 9, np.uint8))], width=8, height=8
    )
    with _pt.raises(ValueError, match="RIFF"):
        decode_mjpeg_avi(b"JUNK" + avi[4:])
    with _pt.raises(ValueError, match="exceeds|overruns"):
        decode_mjpeg_avi(avi[:40])
    with _pt.raises(ValueError):
        encode_mjpeg_avi([], width=8, height=8)


def test_mjpeg_spark_stats_match_numpy(spark):
    """m08's frame-shifted pattern against a driver-side recompute."""
    import numpy as np

    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_mjpeg,
        mjpeg_frame_stats,
    )

    docs = [(1, "hello world"), (3, "abc")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_id, r.frame_idx): r
        for r in mjpeg_frame_stats(encode_text_mjpeg(df)).collect()
    }
    for did, text in docs:
        tb = np.frombuffer(text.encode(), dtype=np.uint8)
        wb, hb = 1 + len(tb) % 4, 1 + did % 3
        for f in range(1 + did % 4):
            vals = tb[(np.arange(wb * hb) + f) % len(tb)]
            r = got[(did, f)]
            assert (r.width, r.height, r.ts_ms) == (8 * wb, 8 * hb, f * 100)
            assert abs(r.mean_gray - vals.mean()) < 1e-6
    assert len(got) == sum(1 + did % 4 for did, _ in docs)


# ---------------------------------------------------------------------------
# PNG codec
# ---------------------------------------------------------------------------


def test_png_roundtrip_exact_all_shapes():
    import numpy as np

    from duckdb_graphar_spark.operators.multimodal import (
        decode_png_gray,
        encode_gray_png,
    )

    rng = np.random.default_rng(9)
    for shape in [(1, 1), (3, 24), (10, 7), (5, 1)]:
        px = rng.integers(0, 256, size=shape).astype(np.uint8)
        d = decode_png_gray(encode_gray_png(px))
        assert (d["height"], d["width"]) == shape
        assert np.array_equal(d["pixels"].reshape(shape), px)


def test_png_decoder_reconstructs_all_filter_types():
    """Hand-write a PNG using None/Up/Average/Paeth scanline filters
    (the encoder only emits Sub) — the general decoder must reconstruct
    all of them exactly."""
    import struct
    import zlib

    import numpy as np

    from duckdb_graphar_spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
        decode_png_gray,
    )

    rng = np.random.default_rng(4)
    w, h = 4, 4
    src = rng.integers(0, 256, size=(h, w)).astype(np.int32)
    raw = bytearray()
    prev = np.zeros(w, dtype=np.int32)
    for y, f in enumerate([0, 2, 3, 4]):
        row = src[y]
        if f == 0:
            enc = row % 256
        elif f == 2:
            enc = (row - prev) % 256
        elif f == 3:
            enc = np.empty(w, dtype=np.int32)
            for x in range(w):
                left = row[x - 1] if x else 0
                enc[x] = (row[x] - (left + prev[x]) // 2) % 256
        else:
            enc = np.empty(w, dtype=np.int32)
            for x in range(w):
                left = int(row[x - 1]) if x else 0
                up = int(prev[x])
                ul = int(src[y - 1][x - 1]) if x and y else 0
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
                enc[x] = (row[x] - pred) % 256
        raw.append(f)
        raw += enc.astype(np.uint8).tobytes()
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    png = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )
    d = decode_png_gray(png)
    assert np.array_equal(d["pixels"].reshape(h, w), src.astype(np.uint8))


def test_png_rejects_malformed():
    import numpy as np
    import pytest as _pt

    from duckdb_graphar_spark.operators.multimodal import (
        decode_image,
        decode_png_gray,
        encode_gray_png,
    )

    png = encode_gray_png(np.full((2, 3), 7, np.uint8))
    with _pt.raises(ValueError, match="signature"):
        decode_png_gray(b"NOTPNG" + png[6:])
    with _pt.raises(ValueError, match="CRC"):
        decode_png_gray(png[:30] + bytes([png[30] ^ 0xFF]) + png[31:])
    # decode_image magic dispatch
    d = decode_image(png)
    assert (d["width"], d["height"]) == (3, 2) and d["mean_intensity"] == 7.0


def test_corrupt_payloads_surface_as_valueerror():
    """The documented contract is ValueError on structural corruption —
    truncation and undefined-table references must not leak
    struct.error/KeyError to mapInPandas callers."""
    import numpy as np
    import pytest as _pt

    from duckdb_graphar_spark.operators.multimodal import (
        decode_jpeg_gray,
        decode_png_gray,
        encode_gray_jpeg,
        encode_gray_png,
    )

    png = encode_gray_png(np.full((2, 3), 7, np.uint8))
    # truncated mid-IDAT (chunk header readable, data+CRC cut):
    # previously struct.error from the CRC unpack
    idat = png.find(b"IDAT")
    assert idat > 0
    with _pt.raises(ValueError, match="truncated"):
        decode_png_gray(png[: idat + 7])

    jpg = encode_gray_jpeg(np.full((8, 8), 100, np.uint8))
    # truncated segment header
    with _pt.raises(ValueError):
        decode_jpeg_gray(jpg[:3])
    # scan referencing an undefined quant table id: previously KeyError.
    # SOF0's component quant-table id byte lives right after the 0xFFC0
    # marker: [len_hi len_lo prec h h w w ncomp comp_id sampling qtab_id]
    sof = jpg.find(b"\xff\xc0")
    assert sof > 0
    qid_off = sof + 2 + 10  # last byte of the 1-component SOF0 payload
    bad = jpg[:qid_off] + b"\x03" + jpg[qid_off + 1 :]
    with _pt.raises(ValueError, match="undefined quant/Huffman"):
        decode_jpeg_gray(bad)


def test_text_encoders_reject_non_ascii(spark):
    """The three text-to-image encoders share encode_text_pcm's ASCII
    guard: byte-derived dims would silently diverge from the
    character-semantics oracles on multibyte UTF-8."""
    import pytest as _pt

    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_jpeg,
        encode_text_mjpeg,
        encode_text_png,
    )

    df = spark.createDataFrame([(1, "café")], "doc_id long, text string")
    for enc in (encode_text_jpeg, encode_text_png, encode_text_mjpeg):
        with _pt.raises(Exception, match="ASCII"):
            enc(df).collect()


# ---------------------------------------------------------------------------
# codec property tests (hypothesis, pure numpy — no Spark)
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings, strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:

    @settings(max_examples=25, deadline=None)
    @given(
        wb=st.integers(1, 4),
        hb=st.integers(1, 3),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_jpeg_flat_block_roundtrip_property(wb, hb, seed):
        """ANY flat-block image round-trips bit-exactly — the m07
        oracle's foundation, for arbitrary shapes and pixel values."""
        import numpy as np

        from duckdb_graphar_spark.operators.multimodal import (
            decode_jpeg_gray,
            encode_gray_jpeg,
        )

        rng = np.random.default_rng(seed)
        vals = rng.integers(0, 256, size=(hb, wb)).astype(np.uint8)
        px = np.kron(vals, np.ones((8, 8), dtype=np.uint8))
        d = decode_jpeg_gray(encode_gray_jpeg(px))
        assert np.array_equal(d["pixels"].reshape(px.shape), px)

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 40),
        h=st.integers(1, 12),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_png_roundtrip_property(w, h, seed):
        """PNG is lossless for ANY image shape/content."""
        import numpy as np

        from duckdb_graphar_spark.operators.multimodal import (
            decode_png_gray,
            encode_gray_png,
        )

        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(h, w)).astype(np.uint8)
        d = decode_png_gray(encode_gray_png(px))
        assert np.array_equal(d["pixels"].reshape(h, w), px)

    @settings(max_examples=15, deadline=None)
    @given(
        w8=st.integers(1, 4),
        h8=st.integers(1, 3),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_jpeg_arbitrary_content_bounded_error_property(w8, h8, seed):
        """With the all-ones quant table, ANY content decodes within
        ±2 of the source (coefficient rounding is the only loss)."""
        import numpy as np

        from duckdb_graphar_spark.operators.multimodal import (
            decode_jpeg_gray,
            encode_gray_jpeg,
        )

        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(h8 * 8, w8 * 8)).astype(np.uint8)
        d = decode_jpeg_gray(encode_gray_jpeg(px))
        err = np.abs(d["pixels"].reshape(px.shape).astype(int) - px.astype(int)).max()
        assert err <= 2


def test_color_jpeg_flat_mcu_roundtrip_exact():
    """A flat-MCU color image decodes to EXACTLY the fixed-point BT.601
    round-trip of the source colors (the m10 oracle foundation)."""
    import numpy as np

    from duckdb_graphar_spark.operators.multimodal import (
        decode_color_jpeg,
        encode_color_jpeg,
        rgb_to_ycbcr_fixed,
        ycbcr_to_rgb_fixed,
    )

    rng = np.random.default_rng(11)
    for _ in range(10):
        hm, wm = int(rng.integers(1, 4)), int(rng.integers(1, 4))
        cols = rng.integers(0, 256, size=(hm, wm, 3))
        img = np.repeat(np.repeat(cols, 16, axis=0), 16, axis=1).astype(np.uint8)
        d = decode_color_jpeg(encode_color_jpeg(img))
        assert (d["width"], d["height"]) == (16 * wm, 16 * hm)
        got = d["pixels"].reshape(16 * hm, 16 * wm, 3)
        y, cb, cr = rgb_to_ycbcr_fixed(cols[..., 0], cols[..., 1], cols[..., 2])
        r, g, b = ycbcr_to_rgb_fixed(y, cb, cr)
        pred = np.repeat(
            np.repeat(np.stack([r, g, b], axis=-1), 16, axis=0), 16, axis=1
        )
        assert np.array_equal(got, pred)


def test_color_jpeg_gray_input_is_lossless():
    """Gray content (r=g=b) maps to (v, 128, 128) in the fixed-point
    forward transform and back to v exactly — so a flat-MCU gray image
    round-trips with zero error through the COLOR pipeline."""
    import numpy as np

    from duckdb_graphar_spark.operators.multimodal import (
        decode_color_jpeg,
        encode_color_jpeg,
    )

    vals = np.array([[0, 77], [128, 255]])
    img = np.repeat(
        np.repeat(np.stack([vals] * 3, axis=-1), 16, axis=0), 16, axis=1
    ).astype(np.uint8)
    d = decode_color_jpeg(encode_color_jpeg(img))
    assert np.array_equal(d["pixels"].reshape(32, 32, 3), img)


def test_color_jpeg_luma_bounded_error_on_gray_noise():
    """Arbitrary GRAY content (r=g=b per pixel, so chroma is flat 128
    and 4:2:0 averaging is exact) exercises the full-resolution luma
    path with non-flat blocks: the only loss is DCT coefficient
    rounding, so every channel stays within a couple counts of the
    source — the color twin of the gray ±2 bound."""
    import numpy as np

    from duckdb_graphar_spark.operators.multimodal import (
        decode_color_jpeg,
        encode_color_jpeg,
    )

    rng = np.random.default_rng(5)
    g = rng.integers(0, 256, size=(32, 48)).astype(np.uint8)
    img = np.stack([g] * 3, axis=-1)
    d = decode_color_jpeg(encode_color_jpeg(img))
    got = d["pixels"].reshape(32, 48, 3).astype(np.int64)
    assert np.abs(got - img.astype(np.int64)).max() <= 3


def test_color_jpeg_rejects_bad_shapes():
    import numpy as np
    import pytest as _pt

    from duckdb_graphar_spark.operators.multimodal import (
        decode_color_jpeg,
        encode_color_jpeg,
        encode_gray_jpeg,
    )

    with _pt.raises(ValueError, match="multiple-of-16"):
        encode_color_jpeg(np.zeros((8, 8, 3), np.uint8))
    with _pt.raises(ValueError, match="RGB"):
        encode_color_jpeg(np.zeros((16, 16, 4), np.uint8))
    # a grayscale stream is not a 3-component stream
    with _pt.raises(NotImplementedError, match="3 components"):
        decode_color_jpeg(encode_gray_jpeg(np.zeros((8, 8), np.uint8)))
    with _pt.raises(ValueError, match="SOI"):
        decode_color_jpeg(b"nope")


if _HYP:

    @settings(max_examples=20, deadline=None)
    @given(
        wm=st.integers(1, 3),
        hm=st.integers(1, 3),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_color_jpeg_flat_mcu_roundtrip_property(wm, hm, seed):
        """Universal property: ANY flat-MCU color image decodes to the
        fixed-point round-trip prediction, for arbitrary MCU grids and
        colors — the m10 oracle as a property, not a fixture sample."""
        import numpy as np

        from duckdb_graphar_spark.operators.multimodal import (
            decode_color_jpeg,
            encode_color_jpeg,
            rgb_to_ycbcr_fixed,
            ycbcr_to_rgb_fixed,
        )

        rng = np.random.default_rng(seed)
        cols = rng.integers(0, 256, size=(hm, wm, 3))
        img = np.repeat(np.repeat(cols, 16, axis=0), 16, axis=1).astype(np.uint8)
        got = decode_color_jpeg(encode_color_jpeg(img))["pixels"].reshape(
            16 * hm, 16 * wm, 3
        )
        y, cb, cr = rgb_to_ycbcr_fixed(cols[..., 0], cols[..., 1], cols[..., 2])
        r, g, b = ycbcr_to_rgb_fixed(y, cb, cr)
        pred = np.repeat(
            np.repeat(np.stack([r, g, b], axis=-1), 16, axis=0), 16, axis=1
        )
        assert np.array_equal(got, pred)


def test_box_downsample_2x_exact_arithmetic():
    """Known cells: round-half-up means, odd trailing row/col clamped
    (edge-replication equivalence)."""
    import numpy as np

    from duckdb_graphar_spark.operators.multimodal import box_downsample_2x

    # 2x2 single cell: (1+2+3+4+2)//4 = 3
    a = np.array([[[1], [2]], [[3], [4]]], dtype=np.uint8).repeat(3, axis=2)
    assert box_downsample_2x(a).tolist() == [[[3, 3, 3]]]
    # odd width: second output col covers the clamped 1-wide cell
    b = np.array([[[10], [20], [7]], [[30], [40], [9]]], dtype=np.uint8).repeat(3, axis=2)
    out = box_downsample_2x(b)
    assert out.shape == (1, 2, 3)
    assert out[0, 0, 0] == (10 + 20 + 30 + 40 + 2) // 4 == 25
    assert out[0, 1, 0] == (7 + 9 + 1) // 2 == 8
    # 1x1: identity
    c = np.full((1, 1, 3), 77, np.uint8)
    assert box_downsample_2x(c).tolist() == [[[77, 77, 77]]]
    # flat image stays flat at any odd/even shape
    for shape in ((5, 7), (4, 4), (1, 9)):
        f = np.full(shape + (3,), 123, np.uint8)
        assert (box_downsample_2x(f) == 123).all()


def test_average_hash_integer_threshold_ties():
    """Exact-tie samples (64*tri == total) must NOT set a bit — the
    integer threshold makes ties deterministic (the float version was
    rounding-crumb dependent)."""
    import numpy as np

    from duckdb_graphar_spark.operators.multimodal import average_hash

    # all pixels equal: every sample ties with the mean -> hash 0
    px = np.full((16, 16, 3), 200, np.uint8).reshape(-1)
    assert average_hash(16, 16, px) == 0


def test_rgb_png_roundtrip_exact_and_all_filters():
    """Truecolor PNG is lossless; the bpp=3 reconstruction must handle
    all five filter types (hand-built IDAT, not this module's
    encoder)."""
    import struct
    import zlib

    import numpy as np

    from duckdb_graphar_spark.operators.multimodal import (
        _png_chunk,
        _PNG_SIG,
        decode_png_rgb,
        encode_rgb_png,
    )

    rng = np.random.default_rng(9)
    px = rng.integers(0, 256, size=(5, 4, 3)).astype(np.uint8)
    d = decode_png_rgb(encode_rgb_png(px))
    assert (d["width"], d["height"]) == (4, 5)
    assert np.array_equal(d["pixels"].reshape(5, 4, 3), px)

    # hand-built stream: one row per filter type (None/Sub/Up/Avg/Paeth)
    src = rng.integers(0, 256, size=(5, 2, 3)).astype(np.int32)
    raw = bytearray()
    prev = np.zeros(6, dtype=np.int32)
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        row = src[y].reshape(-1)
        line = np.empty(6, dtype=np.int32)
        for x in range(6):
            left = row[x - 3] if x >= 3 else 0
            up = prev[x]
            ul = prev[x - 3] if x >= 3 else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = left
            elif ftype == 2:
                pred = up
            elif ftype == 3:
                pred = (left + up) // 2
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
            line[x] = (row[x] - pred) % 256
        raw.append(ftype)
        raw += line.astype(np.uint8).tobytes()
        prev = row
    ihdr = struct.pack(">IIBBBBB", 2, 5, 8, 2, 0, 0, 0)
    payload = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )
    d2 = decode_png_rgb(payload)
    assert np.array_equal(d2["pixels"].reshape(5, 2, 3), src.astype(np.uint8))


def test_rgb_png_rejects_gray_and_vice_versa():
    import numpy as np
    import pytest as _pt

    from duckdb_graphar_spark.operators.multimodal import (
        decode_image,
        decode_png_gray,
        decode_png_rgb,
        encode_gray_png,
        encode_rgb_png,
    )

    gray = encode_gray_png(np.full((2, 2), 9, np.uint8))
    rgb = encode_rgb_png(np.full((2, 2, 3), 9, np.uint8))
    with _pt.raises(NotImplementedError, match="truecolor"):
        decode_png_rgb(gray)
    with _pt.raises(NotImplementedError, match="grayscale"):
        decode_png_gray(rgb)
    # decode_image routes by IHDR color type
    d = decode_image(rgb)
    assert d["mean_intensity"] == 9.0


if _HYP:

    @settings(max_examples=15, deadline=None)
    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 8),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_rgb_png_roundtrip_property(w, h, seed):
        import numpy as np

        from duckdb_graphar_spark.operators.multimodal import (
            decode_png_rgb,
            encode_rgb_png,
        )

        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
        d = decode_png_rgb(encode_rgb_png(px))
        assert np.array_equal(d["pixels"].reshape(h, w, 3), px)


def test_wav_roundtrip_and_malformed():
    import struct

    import numpy as np
    import pytest as _pt

    from duckdb_graphar_spark.operators.multimodal import decode_wav, encode_wav

    s = np.array([100, -200, 32767, -32768, 0], dtype=np.int32)
    wav = encode_wav(s, sample_rate=16000)
    d = decode_wav(wav)
    assert d["sample_rate"] == 16000
    assert np.array_equal(d["samples"], s)
    # unknown chunk between fmt and data is SKIPPED, not fatal
    from duckdb_graphar_spark.operators.multimodal import _riff_chunk

    body = (
        b"WAVE"
        + _riff_chunk(b"fmt ", struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16))
        + _riff_chunk(b"LIST", b"INFOjunk")
        + _riff_chunk(b"data", np.array([7], dtype="<i2").tobytes())
    )
    tolerant = b"RIFF" + struct.pack("<I", len(body)) + body
    assert decode_wav(tolerant)["samples"].tolist() == [7]
    with _pt.raises(ValueError, match="RIFF WAVE"):
        decode_wav(b"RIFFxxxxAVI " + b"\0" * 16)
    with _pt.raises(ValueError, match="exceeds"):
        decode_wav(wav[:4] + struct.pack("<I", 10**6) + wav[8:])
    # stereo now DECODES (scope residual closed in round 6): one frame
    # per two int16 words, de-interleaved
    body2 = b"WAVE" + _riff_chunk(
        b"fmt ", struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    ) + _riff_chunk(b"data", b"\x01\0\x02\0")
    d2 = decode_wav(b"RIFF" + struct.pack("<I", len(body2)) + body2)
    assert d2["n_channels"] == 2 and d2["samples"].tolist() == [[1, 2]]


def test_sample_frames_riff_wave_takes_raw_windower(spark):
    """A RIFF/WAVE payload must route to the raw windower, not the AVI
    frame walk (which would raise 'not a RIFF AVI')."""
    import numpy as np

    from duckdb_graphar_spark.operators.multimodal import encode_wav, sample_frames

    wav = encode_wav(np.array([1, 2, 3], dtype=np.int32))
    media = spark.createDataFrame([(1, wav)], "doc_id long, payload binary")
    out = sample_frames(media).collect()
    assert len(out) == 1 + len(wav) % 5


def test_color_jpeg_444_near_lossless_on_arbitrary_content():
    """4:4:4 keeps full-resolution chroma, so ARBITRARY content decodes
    within a few counts of the fixed-point color round-trip (DCT
    rounding is the only extra loss) — the bound 4:2:0 can't offer."""
    import numpy as np

    from duckdb_graphar_spark.operators.multimodal import (
        decode_color_jpeg,
        encode_color_jpeg,
        rgb_to_ycbcr_fixed,
        ycbcr_to_rgb_fixed,
    )

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(16, 24, 3)).astype(np.uint8)
    got = decode_color_jpeg(encode_color_jpeg(img, subsampling="444"))[
        "pixels"
    ].reshape(16, 24, 3).astype(np.int64)
    y, cb, cr = rgb_to_ycbcr_fixed(
        img[..., 0].astype(np.int64), img[..., 1], img[..., 2]
    )
    pred = np.stack(ycbcr_to_rgb_fixed(y, cb, cr), axis=-1)
    assert np.abs(got - pred).max() <= 4


def test_color_jpeg_444_flat_blocks_exact_and_guards():
    import numpy as np
    import pytest as _pt

    from duckdb_graphar_spark.operators.multimodal import (
        decode_color_jpeg,
        encode_color_jpeg,
        rgb_to_ycbcr_fixed,
        ycbcr_to_rgb_fixed,
    )

    # flat 8x8 blocks (the 4:4:4 MCU) round-trip to the fixed-point
    # prediction exactly
    cols = np.array([[[10, 200, 30], [250, 5, 120]]])
    img = np.repeat(np.repeat(cols, 8, axis=0), 8, axis=1).astype(np.uint8)
    got = decode_color_jpeg(encode_color_jpeg(img, subsampling="444"))[
        "pixels"
    ].reshape(8, 16, 3)
    y, cb, cr = rgb_to_ycbcr_fixed(cols[..., 0], cols[..., 1], cols[..., 2])
    pred = np.repeat(
        np.repeat(np.stack(ycbcr_to_rgb_fixed(y, cb, cr), axis=-1), 8, axis=0),
        8,
        axis=1,
    )
    assert np.array_equal(got, pred)
    with _pt.raises(ValueError, match="multiple-of-8"):
        encode_color_jpeg(np.zeros((4, 8, 3), np.uint8), subsampling="444")
    with _pt.raises(ValueError, match="unknown subsampling"):
        encode_color_jpeg(np.zeros((16, 16, 3), np.uint8), subsampling="422")


def test_palette_png_roundtrip_and_hand_built_stream():
    """Indexed PNG round-trips exactly; a hand-built stream (not this
    module's encoder) with mixed filter types and an explicit PLTE
    exercises the general decode path."""
    import struct
    import zlib

    import numpy as np

    from duckdb_graphar_spark.operators.multimodal import (
        _png_chunk,
        _PNG_SIG,
        decode_png_palette,
        encode_palette_png,
    )

    rng = np.random.default_rng(7)
    pal = rng.integers(0, 256, size=(16, 3)).astype(np.uint8)
    idx = rng.integers(0, 16, size=(6, 5)).astype(np.uint8)
    d = decode_png_palette(encode_palette_png(idx, pal))
    assert (d["width"], d["height"], d["palette_size"]) == (5, 6, 16)
    assert np.array_equal(d["pixels"].reshape(6, 5, 3), pal[idx])

    # hand-built: 3-entry palette, rows filtered None/Up/Paeth at bpp=1
    pal3 = np.array([[1, 2, 3], [40, 50, 60], [200, 210, 220]], np.uint8)
    src = np.array([[0, 1, 2], [2, 0, 1], [1, 2, 0]], np.int32)
    raw = bytearray()
    prev = np.zeros(3, dtype=np.int32)
    for y, ftype in enumerate([0, 2, 4]):
        row = src[y]
        line = np.empty(3, dtype=np.int32)
        for x in range(3):
            left = row[x - 1] if x >= 1 else 0
            up = prev[x]
            ul = prev[x - 1] if x >= 1 else 0
            if ftype == 0:
                pred = 0
            elif ftype == 2:
                pred = up
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
            line[x] = (row[x] - pred) % 256
        raw.append(ftype)
        raw += line.astype(np.uint8).tobytes()
        prev = row
    ihdr = struct.pack(">IIBBBBB", 3, 3, 8, 3, 0, 0, 0)
    payload = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", pal3.tobytes())
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )
    d2 = decode_png_palette(payload)
    assert np.array_equal(d2["pixels"].reshape(3, 3, 3), pal3[src])


def test_palette_png_guards():
    import struct
    import zlib

    import numpy as np
    import pytest as _pt

    from duckdb_graphar_spark.operators.multimodal import (
        _png_chunk,
        _PNG_SIG,
        decode_image,
        decode_png_palette,
        encode_gray_png,
        encode_palette_png,
    )

    pal = np.array([[0, 0, 0], [255, 255, 255]], np.uint8)
    idx = np.zeros((2, 2), np.uint8)
    ok = encode_palette_png(idx, pal)

    # wrong color type routes to the type-3 guard
    with _pt.raises(NotImplementedError, match="indexed"):
        decode_png_palette(encode_gray_png(np.zeros((2, 2), np.uint8)))
    # encoder-side index range check
    with _pt.raises(ValueError, match="index out of range"):
        encode_palette_png(np.full((1, 1), 7, np.uint8), pal)
    # missing PLTE: strip the chunk (IDAT arrives first)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    raw = b"\x00\x00\x00" * 2  # 2 rows: filter 0 + 2 index bytes
    no_plte = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    with _pt.raises(ValueError, match="PLTE"):
        decode_png_palette(no_plte)
    # index beyond PLTE size in the decoded stream
    small_pal = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", b"\x01\x02\x03")  # 1 entry
        + _png_chunk(b"IDAT", zlib.compress(b"\x00\x00\x01" * 2))  # idx 1
        + _png_chunk(b"IEND", b"")
    )
    with _pt.raises(ValueError, match="beyond PLTE"):
        decode_png_palette(small_pal)
    # tRNS (guard retired in round 7): a 1-entry table over a 2-entry
    # palette gives alpha 0 for index 0 and the opaque-255 default for
    # index 1 — prefix semantics, not an error
    trns = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", pal.tobytes())
        + _png_chunk(b"tRNS", b"\x00")
        + _png_chunk(b"IDAT", zlib.compress(b"\x00\x00\x01" * 2))  # rows 0,1
        + _png_chunk(b"IEND", b"")
    )
    dt = decode_png_palette(trns)
    assert dt["trns_size"] == 1
    assert list(dt["alpha"]) == [0, 255, 0, 255]
    # tRNS longer than the palette is corruption, not scope
    bad_trns = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", pal.tobytes())
        + _png_chunk(b"tRNS", b"\x00\x01\x02")  # 3 entries, 2-entry PLTE
        + _png_chunk(b"IDAT", zlib.compress(b"\x00\x00\x00" * 2))
        + _png_chunk(b"IEND", b"")
    )
    with _pt.raises(ValueError, match="tRNS"):
        decode_png_palette(bad_trns)
    # tRNS before PLTE violates the spec's chunk ordering
    trns_first = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"tRNS", b"\x00")
        + _png_chunk(b"PLTE", pal.tobytes())
        + _png_chunk(b"IDAT", zlib.compress(b"\x00\x00\x00" * 2))
        + _png_chunk(b"IEND", b"")
    )
    with _pt.raises(ValueError, match="tRNS before PLTE"):
        decode_png_palette(trns_first)
    # without tRNS: all-opaque alpha lane, size 0
    d0 = decode_png_palette(ok)
    assert d0["trns_size"] == 0 and set(d0["alpha"]) == {255}
    # decode_image routes color type 3 natively
    assert decode_image(ok)["mean_intensity"] == 0.0


if _HYP:

    @settings(max_examples=15, deadline=None)
    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 8),
        p=st.integers(1, 256),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_palette_png_roundtrip_property(w, h, p, seed):
        import numpy as np

        from duckdb_graphar_spark.operators.multimodal import (
            decode_png_palette,
            encode_palette_png,
        )

        rng = np.random.default_rng(seed)
        pal = rng.integers(0, 256, size=(p, 3)).astype(np.uint8)
        idx = rng.integers(0, p, size=(h, w)).astype(np.uint8)
        d = decode_png_palette(encode_palette_png(idx, pal))
        assert d["palette_size"] == p
        assert np.array_equal(d["pixels"].reshape(h, w, 3), pal[idx])

    @settings(max_examples=20, deadline=None)
    @given(
        w=st.integers(1, 20),
        h=st.integers(1, 8),
        depth=st.sampled_from([1, 2, 4, 8]),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_palette_subbyte_png_roundtrip_property(w, h, depth, seed):
        """Sub-byte packed scanlines (MSB-first, zero-padded tails,
        Sub filter over packed bytes) round-trip at every depth and
        non-multiple-of-per widths."""
        import numpy as np

        from duckdb_graphar_spark.operators.multimodal import (
            decode_png_palette,
            encode_palette_png,
        )

        rng = np.random.default_rng(seed)
        p = int(rng.integers(1, (1 << depth) + 1))
        pal = rng.integers(0, 256, size=(p, 3)).astype(np.uint8)
        idx = rng.integers(0, p, size=(h, w)).astype(np.uint8)
        d = decode_png_palette(encode_palette_png(idx, pal, depth=depth))
        assert d["bit_depth"] == depth and d["palette_size"] == p
        assert np.array_equal(d["pixels"].reshape(h, w, 3), pal[idx])

    @settings(max_examples=15, deadline=None)
    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 8),
        p=st.integers(1, 256),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_palette_trns_png_roundtrip_property(w, h, p, seed):
        import numpy as np

        from duckdb_graphar_spark.operators.multimodal import (
            decode_png_palette,
            encode_palette_png,
        )

        rng = np.random.default_rng(seed)
        pal = rng.integers(0, 256, size=(p, 3)).astype(np.uint8)
        idx = rng.integers(0, p, size=(h, w)).astype(np.uint8)
        t = int(rng.integers(1, p + 1))
        trns = rng.integers(0, 256, size=t).astype(np.uint8)
        d = decode_png_palette(encode_palette_png(idx, pal, trns))
        assert d["trns_size"] == t
        alpha_tab = np.full(p, 255, np.uint8)
        alpha_tab[:t] = trns
        assert np.array_equal(d["alpha"].reshape(h, w), alpha_tab[idx])
        assert np.array_equal(d["pixels"].reshape(h, w, 3), pal[idx])


def test_stereo_wav_roundtrip_and_guards():
    import numpy as np
    import pytest as _pt

    from duckdb_graphar_spark.operators.multimodal import decode_wav, encode_wav

    rng = np.random.default_rng(11)
    st = rng.integers(-32768, 32768, size=(7, 2)).astype(np.int32)
    d = decode_wav(encode_wav(st, sample_rate=44100))
    assert d["sample_rate"] == 44100 and d["n_channels"] == 2
    assert np.array_equal(d["samples"], st)
    # mono path unchanged
    mono = rng.integers(-32768, 32768, size=9).astype(np.int32)
    dm = decode_wav(encode_wav(mono))
    assert dm["n_channels"] == 1 and np.array_equal(dm["samples"], mono)
    # 3-channel fmt DECODES now (m33 retired the channel guard); the
    # remaining scope guard is non-PCM sample formats (ADPCM = tag 2)
    import struct

    from duckdb_graphar_spark.operators.multimodal import _riff_chunk

    fmt = struct.pack("<HHIIHH", 1, 3, 8000, 8000 * 6, 6, 16)
    body = b"WAVE" + _riff_chunk(b"fmt ", fmt) + _riff_chunk(b"data", b"\x00" * 6)
    d3 = decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert d3["n_channels"] == 3 and d3["samples"].shape == (1, 3)
    fmt = struct.pack("<HHIIHH", 2, 1, 8000, 8000 * 2, 2, 16)  # ADPCM
    body = b"WAVE" + _riff_chunk(b"fmt ", fmt) + _riff_chunk(b"data", b"\x00" * 4)
    with _pt.raises(NotImplementedError, match="PCM"):
        decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    # bad-shape encoder input
    with _pt.raises(ValueError, match="channels"):
        encode_wav(np.zeros((4, 3, 2), np.int32))


def test_interlaced_png_roundtrip_gray_rgb_palette():
    """Adam7: pass-ordered sub-images reassemble exactly — including
    dimensions where several passes are EMPTY (w or h < stride)."""
    import numpy as np

    from duckdb_graphar_spark.operators.multimodal import (
        _png_chunk,
        _PNG_SIG,
        decode_png_gray,
        decode_png_palette,
        decode_png_rgb,
        encode_gray_png,
        encode_rgb_png,
    )

    rng = np.random.default_rng(21)
    for h, w in [(1, 1), (2, 3), (7, 5), (8, 8), (16, 9), (3, 17)]:
        g = rng.integers(0, 256, size=(h, w)).astype(np.uint8)
        d = decode_png_gray(encode_gray_png(g, interlace=True))
        assert np.array_equal(d["pixels"].reshape(h, w), g), (h, w)
        c = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
        dc = decode_png_rgb(encode_rgb_png(c, interlace=True))
        assert np.array_equal(dc["pixels"].reshape(h, w, 3), c), (h, w)
    # interlaced palette stream: hand-build (IHDR interlace=1 + PLTE +
    # pass-serialized index scanlines)
    import struct
    import zlib

    from duckdb_graphar_spark.operators.multimodal import _interlace_passes

    pal = rng.integers(0, 256, size=(5, 3)).astype(np.uint8)
    idx = rng.integers(0, 5, size=(9, 10)).astype(np.uint8)
    ihdr = struct.pack(">IIBBBBB", 10, 9, 8, 3, 0, 0, 1)
    raw = _interlace_passes(idx, 10, 9, 1)
    payload = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", pal.tobytes())
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    dp = decode_png_palette(payload)
    assert np.array_equal(dp["pixels"].reshape(9, 10, 3), pal[idx])


if _HYP:

    @settings(max_examples=15, deadline=None)
    @given(
        w=st.integers(1, 20),
        h=st.integers(1, 20),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_interlaced_gray_roundtrip_property(w, h, seed):
        import numpy as np

        from duckdb_graphar_spark.operators.multimodal import (
            decode_png_gray,
            encode_gray_png,
        )

        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(h, w)).astype(np.uint8)
        d = decode_png_gray(encode_gray_png(px, interlace=True))
        assert np.array_equal(d["pixels"].reshape(h, w), px)


def test_gif_lzw_roundtrip_and_structure():
    """Real LZW: round-trips across code-width growth boundaries, the
    dictionary-reset path, and the KwKwK corner; container walk skips
    89a extension blocks; guards raise."""
    import struct

    import numpy as np
    import pytest as _pt

    from duckdb_graphar_spark.operators.multimodal import (
        _lzw_decode_gif,
        _lzw_encode_gif,
        decode_gif,
        encode_gif,
    )

    rng = np.random.default_rng(31)
    # width-growth: 16-entry palette, long random stream builds >2^5 codes
    pal16 = rng.integers(0, 256, size=(16, 3)).astype(np.uint8)
    idx = rng.integers(0, 16, size=(40, 50)).astype(np.uint8)
    d = decode_gif(encode_gif(idx, pal16))
    assert (d["width"], d["height"], d["palette_size"]) == (50, 40, 16)
    assert np.array_equal(d["pixels"].reshape(40, 50, 3), pal16[idx])
    # dictionary reset: enough random symbols to exceed 4096 codes
    big = rng.integers(0, 16, size=20000).astype(np.uint8)
    got = _lzw_decode_gif(_lzw_encode_gif(big, 4), 4, 20000)
    assert np.array_equal(got, big)
    # KwKwK: 'aaaa...' forces the code-one-past-table case immediately
    run = np.zeros(64, dtype=np.uint8)
    got = _lzw_decode_gif(_lzw_encode_gif(run, 2), 2, 64)
    assert np.array_equal(got, run)
    # palette padded to power of two; indices still map exactly
    pal5 = rng.integers(0, 256, size=(5, 3)).astype(np.uint8)
    idx5 = rng.integers(0, 5, size=(3, 4)).astype(np.uint8)
    d5 = decode_gif(encode_gif(idx5, pal5))
    assert d5["palette_size"] == 8  # 5 -> next pow2
    assert np.array_equal(d5["pixels"].reshape(3, 4, 3), pal5[idx5])
    # 89a extension blocks are skipped by the walk
    g = encode_gif(idx5, pal5)
    ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # graphic control + terminator
    g89 = b"GIF89a" + g[6:13] + g[13 : 13 + 8 * 3] + ext + g[13 + 8 * 3 :]
    d89 = decode_gif(g89)
    assert np.array_equal(d89["pixels"], d5["pixels"])
    # guards
    with _pt.raises(ValueError, match="signature"):
        decode_gif(b"NOTAGIF" + bytes(20))
    with _pt.raises(ValueError, match="index out of range"):
        encode_gif(np.full((1, 1), 9, np.uint8), pal5)
    # interlace flag raises
    bad = bytearray(encode_gif(idx5, pal5))
    desc_at = 13 + 8 * 3
    assert bad[desc_at] == 0x2C
    bad[desc_at + 9] |= 0x40
    with _pt.raises(NotImplementedError, match="interlaced"):
        decode_gif(bytes(bad))
    # truncated sub-block raises
    with _pt.raises(ValueError):
        decode_gif(bytes(encode_gif(idx5, pal5))[:-4])


if _HYP:

    @settings(max_examples=15, deadline=None)
    @given(
        w=st.integers(1, 16),
        h=st.integers(1, 10),
        p=st.integers(1, 256),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_gif_roundtrip_property(w, h, p, seed):
        import numpy as np

        from duckdb_graphar_spark.operators.multimodal import decode_gif, encode_gif

        rng = np.random.default_rng(seed)
        pal = rng.integers(0, 256, size=(p, 3)).astype(np.uint8)
        idx = rng.integers(0, p, size=(h, w)).astype(np.uint8)
        d = decode_gif(encode_gif(idx, pal))
        assert np.array_equal(d["pixels"].reshape(h, w, 3), pal[idx])

    @settings(max_examples=15, deadline=None)
    @given(
        w=st.integers(1, 16),
        h=st.integers(1, 10),
        p=st.integers(1, 256),
        q=st.integers(1, 256),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_gif_local_palette_roundtrip_property(w, h, p, q, seed):
        """Pixels resolve through the LOCAL table; the global table
        (different random colors, possibly different size) stays in the
        stream and must NOT leak into the output."""
        import numpy as np

        from duckdb_graphar_spark.operators.multimodal import decode_gif, encode_gif

        rng = np.random.default_rng(seed)
        gpal = rng.integers(0, 256, size=(p, 3)).astype(np.uint8)
        lpal = rng.integers(0, 256, size=(q, 3)).astype(np.uint8)
        idx = rng.integers(0, q, size=(h, w)).astype(np.uint8)
        d = decode_gif(encode_gif(idx, gpal, lpal))
        assert d["local_palette"] is True
        assert np.array_equal(d["pixels"].reshape(h, w, 3), lpal[idx])


def test_animated_gif_roundtrip_delays_and_guards():
    """Three frames with distinct content and delays round-trip exactly;
    a frame with no preceding GCE reports delay 0 (spec default); a
    partial-frame descriptor raises NotImplementedError; mismatched
    frame shapes raise ValueError."""
    import numpy as np
    import struct

    from duckdb_graphar_spark.operators.multimodal import (
        decode_animated_gif,
        encode_animated_gif,
    )

    pal = np.array([[10, 20, 30], [200, 100, 50], [0, 255, 0]], dtype=np.uint8)
    frames = [
        np.array([[0, 1], [2, 0], [1, 2]], dtype=np.uint8),
        np.array([[2, 2], [1, 1], [0, 0]], dtype=np.uint8),
        np.array([[1, 0], [1, 0], [1, 0]], dtype=np.uint8),
    ]
    payload = encode_animated_gif(frames, pal, [4, 10, 250])
    d = decode_animated_gif(payload)
    assert (d["n_frames"], d["width"], d["height"]) == (3, 2, 3)
    assert d["delays_cs"] == [4, 10, 250]
    assert d["palette_size"] == 4  # padded to the next power of two
    for fr, want in zip(d["frames"], frames):
        assert (fr.reshape(3, 2, 3) == pal[want]).all()

    # strip the first GCE (8 bytes starting with 21 f9) -> delay 0
    i = payload.index(b"\x21\xf9")
    stripped = payload[:i] + payload[i + 8 :]
    assert decode_animated_gif(stripped)["delays_cs"][0] == 0

    # partial-frame descriptor: rewrite first descriptor's width
    j = payload.index(b"\x2c")
    bad = bytearray(payload)
    bad[j + 5 : j + 7] = struct.pack("<H", 1)
    try:
        decode_animated_gif(bytes(bad))
        assert False, "expected NotImplementedError"
    except NotImplementedError:
        pass

    try:
        encode_animated_gif(
            [frames[0], frames[0][:2]], pal, [1, 1]
        )
        assert False, "expected ValueError"
    except ValueError:
        pass


def test_animated_gif_single_frame_matches_still_decoder():
    """A 1-frame animation's pixels equal decode_gif on an equivalent
    still GIF (shared LZW + palette machinery)."""
    import numpy as np

    from duckdb_graphar_spark.operators.multimodal import (
        decode_animated_gif,
        decode_gif,
        encode_animated_gif,
        encode_gif,
    )

    rng = np.random.default_rng(7)
    idx = rng.integers(0, 5, size=(4, 7)).astype(np.uint8)
    pal = rng.integers(0, 256, size=(5, 3)).astype(np.uint8)
    anim = decode_animated_gif(encode_animated_gif([idx], pal, [12]))
    still = decode_gif(encode_gif(idx, pal))
    assert (anim["frames"][0] == still["pixels"]).all()
    assert anim["delays_cs"] == [12]


def test_float_wav_roundtrip_and_guards():
    """Float samples round-trip bit-exactly through the tag-3 fmt path;
    PCM decode still works (format_tag 1); a tag-3 file with 16 bits
    raises; stereo float de-interleaves."""
    import numpy as np
    import struct

    from duckdb_graphar_spark.operators.multimodal import (
        decode_wav,
        encode_float_wav,
        encode_wav,
    )

    s = np.array([0.5, -0.25, 0.125, 0.0], dtype=np.float32)
    d = decode_wav(encode_float_wav(s, sample_rate=44100))
    assert d["format_tag"] == 3 and d["sample_rate"] == 44100
    assert d["samples"].dtype == np.float32 and (d["samples"] == s).all()

    st = np.array([[0.5, -0.5], [0.25, -0.25]], dtype=np.float32)
    d2 = decode_wav(encode_float_wav(st))
    assert d2["n_channels"] == 2 and (d2["samples"] == st).all()

    pcm = decode_wav(encode_wav(np.array([100, -200], dtype=np.int16)))
    assert pcm["format_tag"] == 1 and pcm["samples"].tolist() == [100, -200]

    bad = bytearray(encode_float_wav(s))
    i = bad.index(b"fmt ")
    # corrupt bits field (offset: fourcc+size+14 bytes into fmt data)
    bad[i + 8 + 14 : i + 8 + 16] = struct.pack("<H", 16)
    try:
        decode_wav(bytes(bad))
        assert False, "expected NotImplementedError"
    except NotImplementedError:
        pass


def test_gray16_png_roundtrip_all_filters_and_guards():
    """16-bit values (incl. >255 and byte-order-sensitive patterns)
    round-trip exactly; a HAND-BUILT stream with filter types 0-4 at
    bpp=2 decodes correctly (not this module's encoder); 8-bit files
    are refused by the 16-bit decoder and vice versa."""
    import struct as _s
    import zlib as _z

    import numpy as np

    from duckdb_graphar_spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
        decode_png_gray,
        decode_png_gray16,
        encode_gray16_png,
        encode_gray_png,
    )

    px = np.array(
        [[0, 255, 256, 65535], [513, 1, 65280, 32768]], dtype=np.uint16
    )
    d = decode_png_gray16(encode_gray16_png(px))
    assert (d["width"], d["height"]) == (4, 2)
    assert d["pixels"].tolist() == px.reshape(-1).tolist()

    # hand-built 2x2 image exercising None/Up filters at bpp=2
    w, h = 2, 2
    row0 = np.array([0x0102, 0x0304], dtype=">u2").tobytes()
    raw = b"\x00" + row0 + b"\x02" + b"\x00\x01\x00\x01"  # Up: +1 low bytes
    ihdr = _s.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0)
    payload = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _z.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    got = decode_png_gray16(payload)["pixels"].tolist()
    assert got == [0x0102, 0x0304, 0x0103, 0x0305]

    try:
        decode_png_gray16(encode_gray_png(np.zeros((2, 2), dtype=np.uint8)))
        assert False
    except NotImplementedError:
        pass
    try:
        decode_png_gray(encode_gray16_png(px))
        assert False
    except NotImplementedError:
        pass


def test_pgm_decode_with_comment_and_guards():
    import numpy as np

    from duckdb_graphar_spark.operators.multimodal import decode_pgm

    px = bytes(range(6))  # 3x2 gray
    d = decode_pgm(b"P5\n# c\n3 2\n255\n" + px)
    assert d["width"] == 3 and d["height"] == 2
    assert (d["pixels"] == np.frombuffer(px, np.uint8)).all()
    try:
        decode_pgm(b"P6\n1 1\n255\n\x00")
        assert False
    except ValueError:
        pass
    try:
        decode_pgm(b"P5\n2 2\n65535\n" + bytes(8))
        assert False
    except NotImplementedError:
        pass
    try:
        decode_pgm(b"P5\n3 2\n255\n" + px[:4])
        assert False
    except ValueError:
        pass


def test_jpeg_quant16_wire_format():
    """A 16-bit DQT (Pq=1) file decodes identically to its 8-bit twin;
    the header really is Pq=1 with a 129-byte table; a corrupt
    precision nibble raises ValueError (not a silent misparse);
    non-trivial 16-bit table VALUES (> 255) dequantize correctly."""
    import struct
    import numpy as np

    from duckdb_graphar_spark.operators.multimodal import (
        decode_jpeg_gray,
        encode_gray_jpeg,
    )

    rng = np.random.default_rng(9)
    vals = rng.integers(0, 256, size=(2, 3)).astype(np.uint8)
    px = np.kron(vals, np.ones((8, 8), dtype=np.uint8))
    p8 = encode_gray_jpeg(px)
    p16 = encode_gray_jpeg(px, quant16=True)
    assert p16[p16.index(b"\xff\xdb") + 4] == 0x10  # Pq=1, Tq=0
    a = decode_jpeg_gray(p8)
    b = decode_jpeg_gray(p16)
    assert (a["pixels"] == b["pixels"]).all()

    bad = bytearray(p16)
    bad[bad.index(b"\xff\xdb") + 4] = 0x20  # precision 2: invalid
    try:
        decode_jpeg_gray(bytes(bad))
        assert False, "expected ValueError"
    except ValueError:
        pass

    # 16-bit table with values > 255: dequantization must use them.
    # Patch table slot to 300s; DC (value v-128 scaled by quant) shifts.
    wide = bytearray(p16)
    i = wide.index(b"\xff\xdb") + 5
    wide[i : i + 128] = struct.pack(">64H", *([300] * 64))
    d = decode_jpeg_gray(bytes(wide))
    assert not (d["pixels"] == b["pixels"]).all()


def test_bmp32_roundtrip_and_channel_guards():
    """BGRA values round-trip exactly (no padding at stride 4, bottom-up
    un-reversed); 24-bpp files still decode 3-channel; the 3-channel
    consumers reject 4-channel payloads instead of misreshaping."""
    import numpy as np

    from duckdb_graphar_spark.operators.multimodal import (
        decode_bmp,
        decode_image,
        encode_bmp,
        encode_bmp32,
    )

    px = np.arange(3 * 2 * 4, dtype=np.uint8).reshape(3, 2, 4)
    d = decode_bmp(encode_bmp32(px))
    assert (d["width"], d["height"], d["n_channels"]) == (2, 3, 4)
    assert (d["pixels"] == px.reshape(-1)).all()

    d24 = decode_bmp(encode_bmp(np.zeros((2, 2, 3), dtype=np.uint8)))
    assert d24["n_channels"] == 3

    try:
        decode_image(encode_bmp32(px))
        assert False, "expected NotImplementedError"
    except NotImplementedError:
        pass


def test_jpeg_restart_markers_roundtrip_and_guards():
    """DRI + RSTn: flat blocks round-trip exactly at several intervals;
    restart vs no-restart decode identically on noisy content (DC reset
    + byte alignment are the bits under test); a wrong sequence number
    and a truncated marker raise; interval 0 emits no DRI."""
    import numpy as np
    import pytest as _pt

    from duckdb_graphar_spark.operators.multimodal import (
        decode_jpeg_gray,
        encode_gray_jpeg,
    )

    rng = np.random.default_rng(3)
    vals = rng.integers(0, 256, size=(3, 4)).astype(np.uint8)
    px = np.kron(vals, np.ones((8, 8), dtype=np.uint8))
    for ri in (1, 2, 5, 100):
        d = decode_jpeg_gray(encode_gray_jpeg(px, restart_interval=ri))
        assert d["restart_interval"] == ri
        assert np.array_equal(d["pixels"].reshape(px.shape), px)
    assert decode_jpeg_gray(encode_gray_jpeg(px))["restart_interval"] == 0
    assert b"\xff\xdd" not in encode_gray_jpeg(px)

    noisy = rng.integers(0, 256, size=(24, 32)).astype(np.uint8)
    d0 = decode_jpeg_gray(encode_gray_jpeg(noisy))
    d2 = decode_jpeg_gray(encode_gray_jpeg(noisy, restart_interval=2))
    assert np.array_equal(d0["pixels"], d2["pixels"])

    buf = bytearray(encode_gray_jpeg(px, restart_interval=2))
    i = buf.find(b"\xff\xd0")
    assert i > 0
    buf[i + 1] = 0xD3
    with _pt.raises(ValueError, match="restart sequence"):
        decode_jpeg_gray(bytes(buf))
    with _pt.raises(ValueError, match="restart_interval"):
        encode_gray_jpeg(px, restart_interval=-1)


def test_tiff_roundtrip_strips_and_guards():
    """Both byte orders round-trip at several strip layouts; guards:
    bad magic, unknown byte order, compressed/multi-sample raise
    NotImplementedError, strip-count mismatch raises ValueError."""
    import struct

    import numpy as np
    import pytest as _pt

    from duckdb_graphar_spark.operators.multimodal import (
        decode_gray_tiff,
        encode_gray_tiff,
    )

    rng = np.random.default_rng(17)
    for be in (False, True):
        for w, h, rps in ((1, 1, 3), (5, 7, 3), (9, 2, 1), (4, 12, 5)):
            px = rng.integers(0, 256, size=(h, w)).astype(np.uint8)
            d = decode_gray_tiff(
                encode_gray_tiff(px, rows_per_strip=rps, big_endian=be)
            )
            assert np.array_equal(d["pixels"].reshape(h, w), px)
            assert d["n_strips"] == (h + rps - 1) // rps

    px = rng.integers(0, 256, size=(4, 4)).astype(np.uint8)
    ok = bytearray(encode_gray_tiff(px))
    with _pt.raises(ValueError, match="byte order"):
        decode_gray_tiff(b"XX" + bytes(ok[2:]))
    bad_magic = bytearray(ok)
    bad_magic[2:4] = struct.pack("<H", 43)
    with _pt.raises(ValueError, match="magic"):
        decode_gray_tiff(bytes(bad_magic))
    # flip Compression (tag 259) to 2 (CCITT G3): honest scope guard
    # (PackBits and LZW were retired as guards by m30/m31 — they
    # decode for real now)
    comp = bytearray(ok)
    # IFD starts at 8; entry i at 10 + 12*i; tag 259 is the 4th entry
    for i in range(9):
        off = 10 + 12 * i
        if struct.unpack("<H", comp[off : off + 2])[0] == 259:
            comp[off + 8 : off + 10] = struct.pack("<H", 2)
    with _pt.raises(NotImplementedError, match="compressed"):
        decode_gray_tiff(bytes(comp))


if _HYP:

    @settings(max_examples=15, deadline=None)
    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 10),
        rps=st.integers(1, 6),
        be=st.booleans(),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_tiff_roundtrip_property(w, h, rps, be, seed):
        import numpy as np

        from duckdb_graphar_spark.operators.multimodal import (
            decode_gray_tiff,
            encode_gray_tiff,
        )

        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(h, w)).astype(np.uint8)
        d = decode_gray_tiff(
            encode_gray_tiff(px, rows_per_strip=rps, big_endian=be)
        )
        assert np.array_equal(d["pixels"].reshape(h, w), px)


def test_progressive_jpeg_equals_baseline_decode():
    """The 6-scan progressive stream (DC first + two spectral AC bands
    at Al=1, then DC/AC refinement to Al=0) decodes to EXACTLY the
    pixels the baseline stream decodes to — one coefficient array, two
    wire formats — including with restart markers in every scan."""
    import numpy as np

    from duckdb_graphar_spark.operators.multimodal import (
        decode_jpeg_gray,
        encode_gray_jpeg,
        encode_gray_jpeg_progressive,
    )

    rng = np.random.default_rng(7)
    for (h, w), ri in [((8, 8), 0), ((24, 32), 0), ((24, 32), 2), ((16, 40), 3)]:
        px = rng.integers(0, 256, size=(h, w)).astype(np.uint8)
        base = decode_jpeg_gray(encode_gray_jpeg(px))
        prog = decode_jpeg_gray(encode_gray_jpeg_progressive(px, restart_interval=ri))
        assert (prog["width"], prog["height"]) == (base["width"], base["height"])
        assert np.array_equal(prog["pixels"], base["pixels"])
        assert prog["restart_interval"] == ri


def test_progressive_jpeg_eob_runs_and_structure():
    """A mostly-flat image forces cross-block EOBn>1 runs in the AC
    first scans (all-zero AC bands over consecutive blocks) — the
    decoder's general EOB-run path, not just per-block EOB — and the
    stream really is SOF2 with six SOS segments."""
    import numpy as np

    from duckdb_graphar_spark.operators.multimodal import (
        decode_jpeg_gray,
        encode_gray_jpeg_progressive,
    )

    vals = (np.arange(24, dtype=np.uint8).reshape(4, 6) * 10 + 5)
    px = np.kron(vals, np.ones((8, 8), dtype=np.uint8))  # flat 48x32 blocks
    payload = encode_gray_jpeg_progressive(px)
    assert b"\xff\xc2" in payload and b"\xff\xc0" not in payload
    assert payload.count(b"\xff\xda") == 6
    d = decode_jpeg_gray(payload)
    assert np.array_equal(d["pixels"].reshape(px.shape), px)


def test_progressive_jpeg_restart_sequence_verified():
    """Corrupting an RSTm sequence number inside a progressive scan is
    detected (same modulo-8 verification as the baseline decoder)."""
    import numpy as np
    import pytest as _pt

    from duckdb_graphar_spark.operators.multimodal import (
        decode_jpeg_gray,
        encode_gray_jpeg_progressive,
    )

    px = np.arange(32 * 32, dtype=np.uint8).reshape(32, 32)
    buf = bytearray(encode_gray_jpeg_progressive(px, restart_interval=2))
    # first RST0 in the stream -> RST5: sequence break
    for i in range(2, len(buf) - 1):
        if buf[i] == 0xFF and buf[i + 1] == 0xD0:
            buf[i + 1] = 0xD5
            break
    with _pt.raises(ValueError, match="restart sequence"):
        decode_jpeg_gray(bytes(buf))


if _HYP:

    @settings(max_examples=20, deadline=None)
    @given(
        w8=st.integers(1, 4),
        h8=st.integers(1, 3),
        seed=st.integers(0, 2**31 - 1),
        ri=st.integers(0, 3),
    )
    def test_progressive_jpeg_matches_baseline_property(w8, h8, seed, ri):
        """For ANY content/shape/restart interval, progressive and
        baseline streams of the same pixels decode identically (both
        carry the same rounded DCT coefficients; the progressive
        refinement completes full precision)."""
        import numpy as np

        from duckdb_graphar_spark.operators.multimodal import (
            decode_jpeg_gray,
            encode_gray_jpeg,
            encode_gray_jpeg_progressive,
        )

        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(h8 * 8, w8 * 8)).astype(np.uint8)
        base = decode_jpeg_gray(encode_gray_jpeg(px))
        prog = decode_jpeg_gray(
            encode_gray_jpeg_progressive(px, restart_interval=ri)
        )
        assert np.array_equal(prog["pixels"], base["pixels"])


def test_tiff_packbits_roundtrip_and_guards():
    """PackBits TIFF: noise / flat / mixed content round-trips exactly
    through both byte orders and strip layouts; compressed byte counts
    are genuinely smaller on runs; truncated RLE streams are detected;
    LZW stays an honest guard."""
    import struct

    import numpy as np
    import pytest as _pt

    from duckdb_graphar_spark.operators.multimodal import (
        decode_gray_tiff,
        encode_gray_tiff,
    )

    rng = np.random.default_rng(17)
    flat = np.full((7, 200), 42, np.uint8)
    noise = rng.integers(0, 256, (5, 33)).astype(np.uint8)
    for px in (flat, noise):
        for be in (False, True):
            d = decode_gray_tiff(
                encode_gray_tiff(px, rows_per_strip=3, big_endian=be, packbits=True)
            )
            assert np.array_equal(d["pixels"].reshape(px.shape), px)
    # runs compress: the flat image's payload is far smaller than raw
    assert len(encode_gray_tiff(flat, packbits=True)) < len(
        encode_gray_tiff(flat)
    ) - 1000
    # truncated run: chop the last strip bytes
    buf = encode_gray_tiff(flat, rows_per_strip=3, packbits=True)
    with _pt.raises(ValueError):
        decode_gray_tiff(buf[:-3])
    # CCITT G3 (Compression=2) stays a scope guard (LZW was retired
    # as a guard by m31 — it decodes for real now)
    buf2 = bytearray(encode_gray_tiff(noise))
    # II header: find the Compression entry (tag 259) and set value 2
    n = struct.unpack("<H", buf2[8:10])[0]
    for k in range(n):
        off = 10 + k * 12
        if struct.unpack("<H", buf2[off : off + 2])[0] == 259:
            buf2[off + 8 : off + 10] = struct.pack("<H", 2)
    with _pt.raises(NotImplementedError, match="PackBits"):
        decode_gray_tiff(bytes(buf2))


if _HYP:

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 40),
        h=st.integers(1, 10),
        seed=st.integers(0, 2**31 - 1),
        be=st.booleans(),
        rps=st.integers(1, 4),
    )
    def test_tiff_packbits_roundtrip_property(w, h, seed, be, rps):
        """ANY content/shape/byte-order/strip-layout round-trips
        losslessly through the PackBits path."""
        import numpy as np

        from duckdb_graphar_spark.operators.multimodal import (
            decode_gray_tiff,
            encode_gray_tiff,
        )

        rng = np.random.default_rng(seed)
        # mix runs and noise so both RLE branches execute
        px = rng.integers(0, 4, (h, w)).astype(np.uint8) * 80
        d = decode_gray_tiff(
            encode_gray_tiff(px, rows_per_strip=rps, big_endian=be, packbits=True)
        )
        assert np.array_equal(d["pixels"].reshape(h, w), px)
        assert d["n_strips"] == (h + rps - 1) // rps


def test_tiff_lzw_roundtrip_and_wire_choices():
    """TIFF LZW: round-trips through both byte orders; the stream is
    genuinely MSB-first early-change (flipping the compression tag to
    GIF-style decode is impossible here, but the two variants' encoders
    produce different bytes for the same input — pinned); truncation is
    detected; width-boundary content (256 distinct bytes) survives."""
    import numpy as np
    import pytest as _pt

    from duckdb_graphar_spark.operators.multimodal import (
        _lzw_encode_gif,
        _lzw_encode_tiff,
        decode_gray_tiff,
        encode_gray_tiff,
    )

    rng = np.random.default_rng(29)
    ramp = np.arange(256, dtype=np.uint8).reshape(8, 32)  # forces 9->10 bits
    noise = rng.integers(0, 256, (7, 41)).astype(np.uint8)
    flat = np.full((6, 500), 3, np.uint8)  # long KwKwK runs
    for px in (ramp, noise, flat):
        for be in (False, True):
            d = decode_gray_tiff(
                encode_gray_tiff(px, rows_per_strip=3, big_endian=be, lzw=True)
            )
            assert np.array_equal(d["pixels"].reshape(px.shape), px)
    # the two LZW wire variants disagree on bytes for identical input
    raw = ramp.reshape(-1)
    assert _lzw_encode_tiff(raw.tobytes()) != _lzw_encode_gif(raw, 8)
    # truncated stream detected
    buf = encode_gray_tiff(noise, lzw=True)
    with _pt.raises(ValueError):
        decode_gray_tiff(buf[:-4])
    with _pt.raises(ValueError, match="at most one"):
        encode_gray_tiff(noise, lzw=True, packbits=True)


if _HYP:

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 40),
        h=st.integers(1, 10),
        seed=st.integers(0, 2**31 - 1),
        be=st.booleans(),
        rps=st.integers(1, 4),
        alphabet=st.integers(2, 256),
    )
    def test_tiff_lzw_roundtrip_property(w, h, seed, be, rps, alphabet):
        """ANY content/shape/byte-order/strip-layout/alphabet-size
        round-trips losslessly through the TIFF LZW path."""
        import numpy as np

        from duckdb_graphar_spark.operators.multimodal import (
            decode_gray_tiff,
            encode_gray_tiff,
        )

        rng = np.random.default_rng(seed)
        px = rng.integers(0, alphabet, (h, w)).astype(np.uint8)
        d = decode_gray_tiff(
            encode_gray_tiff(px, rows_per_strip=rps, big_endian=be, lzw=True)
        )
        assert np.array_equal(d["pixels"].reshape(h, w), px)


def test_progressive_color_jpeg_equals_baseline_444():
    """Progressive 4:4:4 color decode equals baseline 4:4:4 decode for
    arbitrary content (same coefficient planes, eight-scan wire), the
    stream really is SOF2 with 8 SOS segments, and subsampled
    progressive stays an honest guard."""
    import numpy as np
    import pytest as _pt

    from duckdb_graphar_spark.operators.multimodal import (
        decode_color_jpeg,
        encode_color_jpeg,
        encode_color_jpeg_progressive,
    )

    rng = np.random.default_rng(13)
    for h, w in [(8, 8), (16, 24), (24, 16)]:
        px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        base = decode_color_jpeg(encode_color_jpeg(px, subsampling="444"))
        buf = encode_color_jpeg_progressive(px)
        assert b"\xff\xc2" in buf and buf.count(b"\xff\xda") == 8
        prog = decode_color_jpeg(buf)
        assert np.array_equal(prog["pixels"], base["pixels"])
    with _pt.raises(ValueError, match="multiple-of-8"):
        encode_color_jpeg_progressive(np.zeros((12, 16, 3), np.uint8))
    # a 4:2:0 SOF0 stream flipped to SOF2 must hit the sampling guard
    px = rng.integers(0, 256, (16, 16, 3)).astype(np.uint8)
    mut = bytearray(encode_color_jpeg(px))
    sof = bytes(mut).find(b"\xff\xc0")
    mut[sof + 1] = 0xC2
    with _pt.raises(NotImplementedError, match="4:4:4"):
        decode_color_jpeg(bytes(mut))


if _HYP:

    @settings(max_examples=15, deadline=None)
    @given(
        w8=st.integers(1, 3),
        h8=st.integers(1, 3),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_progressive_color_matches_baseline_property(w8, h8, seed):
        """ANY content/shape: progressive and baseline 4:4:4 streams of
        the same pixels decode identically."""
        import numpy as np

        from duckdb_graphar_spark.operators.multimodal import (
            decode_color_jpeg,
            encode_color_jpeg,
            encode_color_jpeg_progressive,
        )

        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, (h8 * 8, w8 * 8, 3)).astype(np.uint8)
        base = decode_color_jpeg(encode_color_jpeg(px, subsampling="444"))
        prog = decode_color_jpeg(encode_color_jpeg_progressive(px))
        assert np.array_equal(prog["pixels"], base["pixels"])


def test_multichannel_wav_roundtrip_and_guards():
    """ANY channel count round-trips through encode_wav/decode_wav with
    exact de-interleaving; mono/stereo callers are unchanged; a
    non-multiple data chunk is structural corruption."""
    import numpy as np
    import pytest as _pt

    from duckdb_graphar_spark.operators.multimodal import decode_wav, encode_wav

    rng = np.random.default_rng(41)
    for ch in (1, 2, 3, 4, 6, 8):
        n = int(rng.integers(1, 400))
        x = (
            rng.integers(-32768, 32768, (n, ch)).astype(np.int32)
            if ch > 1
            else rng.integers(-32768, 32768, n).astype(np.int32)
        )
        d = decode_wav(encode_wav(x))
        assert d["n_channels"] == ch and np.array_equal(d["samples"], x)
    # 3-channel file with a sample count not divisible by 3
    buf = bytearray(encode_wav(np.zeros((4, 3), np.int32)))
    # shrink the data chunk by one int16 sample: patch RIFF size and
    # the data chunk size, drop the last 2 bytes
    import struct

    dpos = bytes(buf).find(b"data")
    dsize = struct.unpack("<I", buf[dpos + 4 : dpos + 8])[0]
    buf[dpos + 4 : dpos + 8] = struct.pack("<I", dsize - 2)
    buf[4:8] = struct.pack("<I", struct.unpack("<I", buf[4:8])[0] - 2)
    with _pt.raises(ValueError, match="non-multiple"):
        decode_wav(bytes(buf[:-2]))


def test_color_jpeg_restart_markers_roundtrip():
    """DRI restart markers in COLOR streams — both paths the r8 advice
    named: baseline 4:4:4 / 4:2:0 MCU loops and every progressive scan
    kind (interleaved DC, per-component AC, refinements) reset
    predictors/EOB runs at byte-aligned RSTm boundaries and decode to
    the exact pixels of the DRI-free stream; a flipped sequence number
    is detected as corruption."""
    import numpy as np

    from duckdb_graphar_spark.operators.multimodal import (
        decode_color_jpeg,
        encode_color_jpeg,
        encode_color_jpeg_progressive,
    )

    rng = np.random.default_rng(907)
    px = rng.integers(0, 256, (24, 32, 3), dtype=np.uint8)
    ref_prog = decode_color_jpeg(encode_color_jpeg_progressive(px))["pixels"]
    for ri in (1, 3, 5):
        got = decode_color_jpeg(
            encode_color_jpeg_progressive(px, restart_interval=ri)
        )["pixels"]
        assert np.array_equal(np.asarray(got), np.asarray(ref_prog)), ri
    ref_444 = decode_color_jpeg(encode_color_jpeg(px, subsampling="444"))["pixels"]
    for ri in (2, 7):
        got = decode_color_jpeg(
            encode_color_jpeg(px, subsampling="444", restart_interval=ri)
        )["pixels"]
        assert np.array_equal(np.asarray(got), np.asarray(ref_444)), ri
    px2 = rng.integers(0, 256, (32, 48, 3), dtype=np.uint8)
    ref_420 = decode_color_jpeg(encode_color_jpeg(px2))["pixels"]
    got = decode_color_jpeg(
        encode_color_jpeg(px2, restart_interval=1)
    )["pixels"]
    assert np.array_equal(np.asarray(got), np.asarray(ref_420))

    # a wrong RSTm sequence number is structural corruption
    import pytest as _pt

    buf = bytearray(encode_color_jpeg(px, subsampling="444", restart_interval=2))
    i = buf.find(b"\xff\xd0")
    assert i != -1
    buf[i + 1] = 0xD7
    with _pt.raises(ValueError, match="restart sequence"):
        decode_color_jpeg(bytes(buf))

    with _pt.raises(ValueError, match="restart_interval"):
        encode_color_jpeg_progressive(px, restart_interval=-1)
    with _pt.raises(ValueError, match="restart_interval"):
        encode_color_jpeg(px, restart_interval=70000)


# ---------------------------------------------------------------------------
# payload byte identity: every text encoder (and the thumbnail map) pinned
# to SHA-256 digests of its output on one fixed documents frame — the
# stats oracles decode payloads, so they cannot see a changed byte that
# still decodes to the same pixels/samples
# ---------------------------------------------------------------------------

_DIGEST_TEXT = "the quick brown fox jumps over the lazy dog 0123456789 ,.;!?"


def _digest_docs(spark):
    """28 ASCII documents: ids cover every encoder's id-mod geometry plus
    two large ids; text lengths 1..47 cover every length-mod width."""
    ids = list(range(26)) + [10**9 + 1, 2**40 + 5]
    pool = _DIGEST_TEXT * 3
    rows = []
    for i, did in enumerate(ids):
        start = (i * 7) % len(_DIGEST_TEXT)
        rows.append((did, pool[start : start + 1 + (i * 13) % 47]))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _rows_digest(df) -> str:
    import hashlib
    import struct

    h = hashlib.sha256()
    for r in sorted(df.select("doc_id", "payload").collect()):
        p = bytes(r.payload)
        h.update(struct.pack("<qI", r.doc_id, len(p)) + p)
    return h.hexdigest()


def _encoded(spark, name, kwargs):
    if name == "downsample_images_2x":
        return M.downsample_images_2x(M.encode_text_bmp(_digest_docs(spark)))
    return getattr(M, name)(_digest_docs(spark), **kwargs)


# recorded from the hand-written per-wrapper mapInPandas closures at commit
# 377707a, before the wrappers moved onto the shared `_row_map` helper
_PAYLOAD_DIGESTS = [
    ("encode_text_bmp", {}, "e408acbf461dcd7165b648796669ca0acf5778e3e62b33754ad12febf79cf2e2"),
    ("encode_text_ppm", {}, "892ca5d3a2ed72d007307a8154464f340e44f0e506884a908746e81eddd7519c"),
    ("encode_text_jpeg", {}, "1355bbe0cecfe7211c7ff83e7e5acfbf5014007d3e17cc1b42b00179c9a9137e"),
    ("encode_text_jpeg", {"quant16": True}, "19ecd81d894ecad6350fc981300d7a29207944024cd28112cc7f1319b49cddc5"),
    ("encode_text_jpeg", {"restart_interval": 2}, "0e4ccda265d7bca51fd0285a6edd2b5c51ff59c66ae580e4bc64f1acfb93bb35"),
    ("encode_text_jpeg", {"progressive": True}, "35796000130c108d475b52f895dd71d886ebaa35aa73f59ec413a07c52f4cb18"),
    ("encode_text_jpeg", {"progressive": True, "restart_interval": 1}, "8519e5b88b58641757910a11b0d5099444d23782326b224e536eff524e183248"),
    ("encode_text_rgb_png", {}, "fcf55c051afbab87820ea2d6aced352833d7ea0071897cbdd7c4efcfc57e43db"),
    ("encode_text_color_jpeg", {}, "e1ff8b768751b68f4767c1912698fc162fb92ffd301812bc31582d8da70e2942"),
    ("encode_text_color_jpeg", {"progressive": True}, "292e35be003ab620c0c2ab9c762619f80ef52d6eb90d8c082bd75e281d252190"),
    ("encode_text_gif", {}, "dd492c3329c03c4e461e24cc353b01e6f36a7f3a04bb5c29b890096c7047ff10"),
    ("encode_text_local_gif", {}, "00d69e01582589e1a00cdac6531e287be47cd8613eaeaad5e8e9b995a22e030d"),
    ("encode_text_palette_png", {}, "2623226e22539d7f1d629e33bcdab685bbfc719ff0bd81f631fe8dda35ee14eb"),
    ("encode_text_palette_png", {"depth": 4}, "cdf124b3de87bede369f251939d6de85b8f413e2a92ad455eda40dbcdb2b5505"),
    ("encode_text_palette_trns_png", {}, "b334c4f9d3da3b0ed009bdf1a6287d262e23bcdbf73fc2988fb17a5d17024eeb"),
    ("encode_text_png", {}, "5a65bd263d6cd0958f0eb8ed65508b21a55587a90104ea30494076a4de3a02f4"),
    ("encode_text_png", {"interlace": True}, "9722ba1a9846b0784c93135a2dadf7df867d657e542d4bde60b0be02c023747f"),
    ("encode_text_mjpeg", {}, "d113c74e42e90fbc5740fba96ed01474c96fb63dd64f680501c40f18a7c24989"),
    ("encode_text_pcm", {}, "f5dab5ffa3d6a5f6294d2bb4afc656c9a668969d647bb2ada3e3fb140b86da89"),
    ("encode_text_wav", {}, "8f42fd460bfbd032e1cbbe21d4296bac6bd3a0ff6f8ec4942e64583a8c39dc02"),
    ("encode_text_stereo_wav", {}, "993f0aa74b02ff0f9b5f4423aabc5f155e68e164b826d869204b69cd16002dea"),
    ("encode_text_quad_wav", {}, "bbdb6eabd8b166bb22561f12638545dde1d708c1f59818e432ae988fea44f86e"),
    ("encode_text_animated_gif", {}, "b199634693d0f2ad8cf47d5dc9edefa89b686a415bffcd9ab16730c954657a47"),
    ("encode_text_float_wav", {}, "781522a475a7ee5247c79f4d540d8a6dd453ef310237dc01616b79e1d4a31a58"),
    ("encode_text_gray16_png", {}, "fd803994c4a302d7d7a65ba6e8e1df66071c36f365f84faf62a3e5dc95a09a5a"),
    ("encode_text_pgm", {}, "058a0fb52d894e307210636092a4848c5cb39559339e08c81207c76d6ade3cb5"),
    ("encode_text_bmp32", {}, "baf05ab97d4b8e80a85d78b14a771f3a2bf2c7d1bcbef430e7eda74c2d9a1d85"),
    ("encode_text_tiff", {}, "1cb90344e1d5a582b9131e83e16d2f78f2767a7706c2d9c6901f9abec9553be9"),
    ("encode_text_tiff", {"packbits": True}, "5ab4cdcd027f1dab72bf3c70360f3e12fe8b50e057690ed316e985eb3d8d5e4d"),
    ("encode_text_tiff", {"lzw": True}, "9e5942cfd928bdcef66b7d97b8e7033b109973778f6a235691ef34e65c19b3e5"),
    ("downsample_images_2x", {}, "3783ecc0843a5e90234abdc2b216ece47e817a12db3f55da0294059be75bb435"),
]


@pytest.mark.parametrize(
    "name,kwargs,digest",
    _PAYLOAD_DIGESTS,
    ids=[n + "".join(f",{k}={v}" for k, v in kw.items()) for n, kw, _ in _PAYLOAD_DIGESTS],
)
def test_payload_bytes_pinned(spark, name, kwargs, digest):
    assert _rows_digest(_encoded(spark, name, kwargs)) == digest


def test_one_spark_row_map_in_module():
    """Every DataFrame wrapper goes through the one `_row_map` helper:
    the module holds a single mapInPandas call and no hand-written
    per-wrapper batch loop."""
    import inspect

    src = inspect.getsource(M)
    assert src.count("mapInPandas(") == 1
    assert "def batches" not in src
