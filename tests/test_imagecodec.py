"""Stdlib image codec: round-trips, filter coverage, error paths,
and the real-decode Spark queries (VERDICT r5 task #3)."""

import struct
import zlib

import pytest
import struct

from connectors_spark.ops import imagecodec as ic


def _pixels(n, seed=7):
    return bytes((seed * 31 + i) % 256 for i in range(n))


@pytest.mark.parametrize("channels", [1, 3, 4])
@pytest.mark.parametrize("mode", ["mixed", "none"])
def test_png_roundtrip(channels, mode):
    w, h = 11, 9
    px = _pixels(w * h * channels)
    blob = ic.encode_png(w, h, px, channels, filter_mode=mode)
    rw, rh, rc, rpx = ic.decode_png(blob)
    assert (rw, rh, rc) == (w, h, channels)
    assert rpx == px


def test_png_every_filter_type_exercised():
    # 'mixed' uses filter y % 5: with h >= 5 all five branches run.
    w, h, c = 7, 10, 3
    px = _pixels(w * h * c, seed=13)
    blob = ic.encode_png(w, h, px, c, filter_mode="mixed")
    pos, idat = 8, b""
    while pos < len(blob):
        (ln,) = struct.unpack(">I", blob[pos:pos + 4])
        if blob[pos + 4:pos + 8] == b"IDAT":
            idat += blob[pos + 8:pos + 8 + ln]
        pos += 12 + ln
    raw = zlib.decompress(idat)
    fts = {raw[y * (w * c + 1)] for y in range(h)}
    assert fts == {0, 1, 2, 3, 4}
    assert ic.decode_png(blob)[3] == px


def test_png_crc_verified():
    blob = bytearray(ic.encode_png(4, 4, _pixels(16), 1))
    blob[40] ^= 0xFF  # corrupt a byte inside IDAT
    with pytest.raises(ValueError, match="CRC"):
        ic.decode_png(bytes(blob))


def test_png_palette_expands_to_rgb():
    # Hand-build a 2x2 paletted PNG (color type 3).
    plte = bytes((255, 0, 0, 0, 255, 0, 0, 0, 255))
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    raw = bytes((0, 0, 1, 0, 2, 0))  # filter 0 rows, indices 0,1 / 2,0
    blob = (ic.PNG_SIG + ic._chunk(b"IHDR", ihdr)
            + ic._chunk(b"PLTE", plte)
            + ic._chunk(b"IDAT", zlib.compress(raw))
            + ic._chunk(b"IEND", b""))
    w, h, c, px = ic.decode_png(blob)
    assert (w, h, c) == (2, 2, 3)
    assert px == bytes((255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 0, 0))


@pytest.mark.parametrize("channels", [1, 3, 4])
@pytest.mark.parametrize("w,h", [(1, 1), (7, 5), (8, 8), (9, 10),
                                 (16, 3), (3, 16)])
def test_png_adam7_roundtrip(channels, w, h):
    # Sizes straddle the 8x8 Adam7 grid: single-pixel (pass 1 only),
    # sub-8 (several passes empty), exact tile, and >8 both ways.
    px = _pixels(w * h * channels, seed=11)
    blob = ic.encode_png(w, h, px, channels, filter_mode="mixed",
                         interlace=True)
    rw, rh, rc, rpx = ic.decode_png(blob)
    assert (rw, rh, rc) == (w, h, channels)
    assert rpx == px


def test_png_adam7_layout_differs_and_size_checked():
    px = _pixels(9 * 9 * 3, seed=3)
    il = ic.encode_png(9, 9, px, 3, interlace=True)
    seq = ic.encode_png(9, 9, px, 3)
    assert il != seq and ic.decode_png(il)[3] == ic.decode_png(seq)[3]
    # a truncated interlaced IDAT fails loudly, not with garbage pixels
    import zlib as _z
    pos, idat = 8, b""
    while pos < len(il):
        (ln,) = struct.unpack(">I", il[pos:pos + 4])
        if il[pos + 4:pos + 8] == b"IDAT":
            idat = il[pos + 8:pos + 8 + ln]
        pos += 12 + ln
    raw = _z.decompress(idat)[:-5]
    bad = (ic.PNG_SIG
           + ic._chunk(b"IHDR", struct.pack(">IIBBBBB", 9, 9, 8, 2,
                                            0, 0, 1))
           + ic._chunk(b"IDAT", _z.compress(raw))
           + ic._chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="IDAT size"):
        ic.decode_png(bad)


@pytest.mark.parametrize("w,h", [(3, 2), (4, 4), (5, 3)])
def test_bmp_roundtrip_incl_padding(w, h):
    # w=3 exercises nonzero 4-byte row padding (stride 9 -> pad 3).
    px = _pixels(w * h * 3, seed=5)
    blob = ic.encode_bmp(w, h, px)
    rw, rh, rc, rpx = ic.decode_bmp(blob)
    assert (rw, rh, rc) == (w, h, 3)
    assert rpx == px


def test_decode_any_sniffs_and_guards():
    png = ic.encode_png(3, 3, _pixels(9), 1)
    bmp = ic.encode_bmp(3, 3, _pixels(27))
    assert ic.decode_any(png)[0] == "png"
    assert ic.decode_any(bmp)[0] == "bmp"
    # jpeg magic now DISPATCHES (stdlib baseline codec); a truncated
    # stream is a parse error, not a missing-codec guard
    with pytest.raises((ValueError, IndexError, struct.error)):
        ic.decode_any(b"\xff\xd8\xff\xe0JFIF....")
    # gif magic now DISPATCHES (stdlib LZW codec); a truncated stream
    # is a parse error, not a missing-codec guard
    with pytest.raises((ValueError, IndexError, struct.error)):
        ic.decode_any(b"GIF89a......")
    # tiff magic now DISPATCHES (stdlib TIFF 6.0 codec); a truncated
    # stream is a parse error, not a missing-codec guard
    with pytest.raises((ValueError, IndexError, struct.error)):
        ic.decode_any(b"II*\x00........")
    # genuinely unknown formats still guard loudly
    with pytest.raises(NotImplementedError, match="native"):
        ic.decode_any(b"RIFFxxxxWEBP....")


def test_resize_nearest_mapping():
    # 4x2 gray -> 2x1: picks source (0*4//2, 0*2//1)=(0,0) and (2,0).
    px = bytes(range(8))
    out = ic.resize_nearest(px, 4, 2, 1, 2, 1)
    assert out == bytes((0, 2))


def test_spark_real_decode_matches_rule(spark, sf_dir):
    from connectors_spark.ops import multimodal as mm
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter("doc_id < 40"))
    out = mm.decode_image(mm.synth_image_media(docs)).collect()
    assert len(out) == 40
    for r in out:
        did = r.doc_id
        w, h = 4 + did % 13, 3 + did % 7
        c = 3 if (did % 5 == 0 or did % 2 == 1) else 1
        n = w * h * c
        vals = [(did * 31 + i) % 256 for i in range(n)]
        assert (r.width, r.height, r.channels) == (w, h, c)
        assert r.fmt == ("bmp" if did % 5 == 0 else "png")
        assert r.pix_sum == sum(vals)
        assert r.pix_xsum == sum((i + 1) * v for i, v in enumerate(vals))


def test_spark_thumbnails_double_roundtrip(spark, sf_dir):
    from connectors_spark.ops import multimodal as mm
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter("doc_id < 20"))
    out = mm.image_thumbnails(mm.synth_image_media(docs),
                              tw=5, th=4).collect()
    assert len(out) == 20
    for r in out:
        did = r.doc_id
        w, h = 4 + did % 13, 3 + did % 7
        c = 3 if (did % 5 == 0 or did % 2 == 1) else 1
        exp = []
        for y in range(4):
            for x in range(5):
                so = ((y * h // 4) * w + (x * w // 5)) * c
                exp.extend((did * 31 + so + ch) % 256 for ch in range(c))
        assert (r.tw, r.th) == (5, 4)
        assert r.thumb_sum == sum(exp)
        assert r.thumb_xsum == sum((i + 1) * v for i, v in enumerate(exp))


# ---------------------------------------------------------------- WAV codec

def test_wav_roundtrip_mono_and_stereo():
    from connectors_spark.ops import audiocodec as ac
    s = [0, 1000, -1000, 32767, -32768, 5]
    for ch in (1, 2):
        rate, rch, out = ac.decode_wav(ac.encode_wav(s, 22050, ch))
        assert (rate, rch, out) == (22050, ch, s)


def test_wav_skips_unknown_chunks():
    import struct
    from connectors_spark.ops import audiocodec as ac
    blob = bytearray(ac.encode_wav([1, 2, 3], 8000))
    # splice a LIST chunk (odd length -> word-alignment padding)
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\0"
    out = blob[:12] + extra + blob[12:]
    out[4:8] = struct.pack("<I", len(out) - 8)
    rate, ch, samples = ac.decode_wav(bytes(out))
    assert (rate, ch, samples) == (8000, 1, [1, 2, 3])


def test_wav_guards_non_pcm():
    import struct
    import pytest as pt
    from connectors_spark.ops import audiocodec as ac
    blob = bytearray(ac.encode_wav([1], 8000))
    blob[20:22] = struct.pack("<H", 85)  # mp3 format tag
    with pt.raises(NotImplementedError, match="PCM"):
        ac.decode_wav(bytes(blob))


def test_spark_real_wav_decode_matches_rule(spark, sf_dir):
    from connectors_spark.ops import multimodal as mm
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter("doc_id < 30"))
    out = mm.decode_audio(mm.synth_wav_media(docs)).collect()
    assert len(out) == 30
    for r in out:
        did = r.doc_id
        n = 64 + did % 129
        vals = [(did * 7919 + i * i) % 4001 - 2000 for i in range(n)]
        assert r.sample_rate == 8000 + (did % 3) * 4000
        assert r.n_samples == n
        assert r.amp_sum == sum(vals)
        assert r.amp_sq_sum == sum(v * v for v in vals)
        assert r.amp_xsum == sum((i + 1) * v for i, v in enumerate(vals))


# ---------------------------------------------------------------- AVI codec

def test_avi_roundtrip_shapes():
    from connectors_spark.ops import videocodec as vc
    for (w, h, nf) in [(5, 3, 4), (4, 2, 1), (1, 1, 2), (7, 5, 3)]:
        frames = [bytes(((f * 977 + i) % 256) for i in range(w * h * 3))
                  for f in range(nf)]
        assert vc.decode_avi(vc.encode_avi(w, h, frames)) \
            == (w, h, frames)


def test_avi_guards_compressed_codecs():
    import pytest as pt
    from connectors_spark.ops import videocodec as vc
    blob = bytearray(vc.encode_avi(2, 2, [bytes(12)]))
    i = blob.find(b"vids") + 4
    blob[i:i + 4] = b"h264"
    with pt.raises(NotImplementedError, match="DIB"):
        vc.decode_avi(bytes(blob))


def test_spark_real_video_frames_match_rule(spark, sf_dir):
    from connectors_spark.ops import multimodal as mm
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter("doc_id < 20"))
    out = mm.frame_sample_real(mm.synth_avi_media(docs),
                               every_n=2).collect()
    for r in out:
        did, f = r.doc_id, r.frame_idx
        w, h = 4 + did % 5, 2 + did % 3
        vals = [(did * 131 + f * 977 + i) % 256 for i in range(w * h * 3)]
        assert (r.width, r.height) == (w, h)
        assert f % 2 == 0
        assert r.pix_sum == sum(vals)
        assert r.pix_xsum == sum((i + 1) * v for i, v in enumerate(vals))
    n_expected = sum((2 + did % 4 + 1) // 2 for did in range(20))
    assert len(out) == n_expected


def test_wav_truncated_data_raises():
    import pytest as pt
    from connectors_spark.ops import audiocodec as ac
    blob = ac.encode_wav([1, 2, 3, 4], 8000)
    with pt.raises(ValueError, match="truncated|RIFF"):
        ac.decode_wav(blob[:-3])


# ---------------------------------------------------------------------------
# Baseline JPEG (ops/jpegcodec.py)
# ---------------------------------------------------------------------------

def test_jpeg_block_constant_roundtrip_exact():
    import numpy as np
    from connectors_spark.ops.jpegcodec import (decode_jpeg,
                                                encode_jpeg_gray)
    for did in (0, 3, 17, 42):
        w, h = 8 * (1 + did % 3), 8 * (1 + did % 2)
        px = bytearray(w * h)
        for y in range(h):
            for x in range(w):
                b = (y // 8) * (w // 8) + (x // 8)
                px[y * w + x] = 128 + 2 * (((did * 7 + b * 13) % 64) - 32)
        w2, h2, c2, out = decode_jpeg(encode_jpeg_gray(w, h, bytes(px)))
        assert (w2, h2, c2) == (w, h, 1)
        assert out == bytes(px)  # exact by quantizer construction


def test_jpeg_lossy_roundtrip_and_ac_paths():
    import numpy as np
    from connectors_spark.ops.jpegcodec import (decode_jpeg,
                                                encode_jpeg_gray)
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(16, 24), dtype=np.uint8)
    _, _, _, out = decode_jpeg(
        encode_jpeg_gray(24, 16, img.tobytes(), quant=4))
    arr = np.frombuffer(out, dtype=np.uint8).reshape(16, 24).astype(int)
    assert np.abs(arr - img.astype(int)).max() <= 8  # lossy, bounded
    # a horizontal gradient has long zero runs -> exercises ZRL/EOB
    gy = np.tile(np.arange(16, dtype=np.uint8) * 8, (16, 1))
    _, _, _, out2 = decode_jpeg(
        encode_jpeg_gray(16, 16, gy.tobytes(), quant=2))
    a2 = np.frombuffer(out2, dtype=np.uint8).reshape(16, 16).astype(int)
    assert np.abs(a2 - gy.astype(int)).max() == 0


def test_jpeg_rejects_out_of_scope_streams():
    import pytest
    import struct
    from connectors_spark.ops.jpegcodec import (decode_jpeg,
                                                encode_jpeg_gray)
    data = bytearray(encode_jpeg_gray(8, 8, bytes(range(64, 128))))
    # flip SOF0 -> SOF9 (arithmetic coding) and expect a loud refusal
    i = bytes(data).find(b"\xff\xc0")
    arith = data[:i] + b"\xff\xc9" + data[i + 2:]
    with pytest.raises(NotImplementedError, match="SOF"):
        decode_jpeg(bytes(arith))
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x00\x01\x02")


def test_decode_any_dispatches_jpeg():
    from connectors_spark.ops.imagecodec import decode_any
    from connectors_spark.ops.jpegcodec import encode_jpeg_gray
    px = bytes([130] * 64)
    fmt, w, h, c, out = decode_any(encode_jpeg_gray(8, 8, px))
    assert (fmt, w, h, c) == ("jpeg", 8, 8, 1)
    assert out == px


def test_jpeg_color_roundtrips():
    import numpy as np
    from connectors_spark.ops.jpegcodec import (decode_jpeg,
                                                encode_jpeg_color)
    # gray RGB, block-constant: chroma planes quantize to zero and
    # the DC survives exactly -> bit-exact roundtrip per 8x8 block
    rgb = bytearray()
    for y in range(8):
        for x in range(16):
            v = 130 if x < 8 else 92     # two blocks, two values
            rgb += bytes((v, v, v))
    w, h, c, out = decode_jpeg(encode_jpeg_color(16, 8, bytes(rgb)))
    assert (w, h, c) == (16, 8, 3)
    assert out == bytes(rgb)
    # arbitrary color: lossy within tolerance, exercises all 3
    # interleaved component decoders + YCbCr->RGB
    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(16, 8, 3), dtype=np.uint8)
    w, h, c, out2 = decode_jpeg(
        encode_jpeg_color(8, 16, img.tobytes(), quant=2))
    assert (w, h, c) == (8, 16, 3)
    arr = np.frombuffer(out2, dtype=np.uint8).reshape(16, 8, 3)
    assert np.abs(arr.astype(int) - img.astype(int)).max() <= 8


def test_jpeg_420_roundtrips():
    import numpy as np
    from connectors_spark.ops.jpegcodec import (decode_jpeg,
                                                encode_jpeg_color_420)
    # block-constant gray RGB: exact through subsample + replicate
    W = H = 16
    rgb = bytearray(W * H * 3)
    for y in range(H):
        for x in range(W):
            b = (y // 8) * (W // 8) + (x // 8)
            v = 128 + 2 * (((11 * 7 + b * 13) % 64) - 32)
            o = (y * W + x) * 3
            rgb[o] = rgb[o + 1] = rgb[o + 2] = v
    w, h, c, out = decode_jpeg(encode_jpeg_color_420(W, H, bytes(rgb)))
    assert (w, h, c) == (W, H, 3)
    assert out == bytes(rgb)
    # smooth gradients: 4:2:0 chroma loss stays small
    img = np.zeros((16, 32, 3), dtype=np.uint8)
    for y in range(16):
        for x in range(32):
            img[y, x] = (x * 255 // 31, y * 255 // 15,
                         (x + y) * 255 // 46)
    w, h, c, out2 = decode_jpeg(
        encode_jpeg_color_420(32, 16, img.tobytes(), quant=2))
    arr = np.frombuffer(out2, dtype=np.uint8).reshape(16, 32, 3)
    assert np.abs(arr.astype(int) - img.astype(int)).max() <= 16
    import pytest
    with pytest.raises(ValueError, match="16"):
        encode_jpeg_color_420(8, 8, bytes(8 * 8 * 3))


def test_jpeg_422_roundtrips():
    import numpy as np
    from connectors_spark.ops.jpegcodec import (decode_jpeg,
                                                encode_jpeg_color_422)
    # block-constant gray RGB: exact through 1x2 subsample + replicate
    W, H = 16, 8
    rgb = bytearray(W * H * 3)
    for y in range(H):
        for x in range(W):
            b = (y // 8) * (W // 8) + (x // 8)
            v = 128 + 2 * (((13 * 7 + b * 13) % 64) - 32)
            o = (y * W + x) * 3
            rgb[o] = rgb[o + 1] = rgb[o + 2] = v
    w, h, c, out = decode_jpeg(encode_jpeg_color_422(W, H, bytes(rgb)))
    assert (w, h, c) == (W, H, 3)
    assert out == bytes(rgb)
    # smooth gradients: 4:2:2 chroma loss stays small
    img = np.zeros((16, 32, 3), dtype=np.uint8)
    for y in range(16):
        for x in range(32):
            img[y, x] = (x * 255 // 31, y * 255 // 15,
                         (x + y) * 255 // 46)
    w, h, c, out2 = decode_jpeg(
        encode_jpeg_color_422(32, 16, img.tobytes(), quant=2))
    arr = np.frombuffer(out2, dtype=np.uint8).reshape(16, 32, 3)
    assert np.abs(arr.astype(int) - img.astype(int)).max() <= 16
    import pytest
    with pytest.raises(ValueError, match="16"):
        encode_jpeg_color_422(8, 8, bytes(8 * 8 * 3))


def test_jpeg_progressive_roundtrips():
    """SOF2 progressive: DC Al=1 + refinement, spectral-selection AC
    bands with EOBn runs, AC refinement correction bits — decodes
    BIT-IDENTICAL to the sequential encoder's output for the same
    pixels (the scans refine to the same quantized coefficients)."""
    import numpy as np
    import pytest
    from connectors_spark.ops.jpegcodec import (decode_jpeg,
                                                encode_jpeg_gray,
                                                encode_jpeg_color,
                                                encode_jpeg_progressive)
    # block-constant gray: exact closed form through the multi-scan path
    w, h = 24, 16
    px = bytearray(w * h)
    for y in range(h):
        for x in range(w):
            b = (y // 8) * (w // 8) + (x // 8)
            px[y * w + x] = 128 + 2 * (((9 * 7 + b * 13) % 64) - 32)
    assert decode_jpeg(encode_jpeg_progressive(w, h, bytes(px))) \
        == (w, h, 1, bytes(px))
    # arbitrary images: progressive == sequential, gray and color
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, size=(16, 32), dtype=np.uint8)
    assert decode_jpeg(encode_jpeg_progressive(32, 16, img.tobytes(),
                                               1, quant=4)) \
        == decode_jpeg(encode_jpeg_gray(32, 16, img.tobytes(), quant=4))
    rgb = rng.randint(0, 256, size=(16, 16, 3), dtype=np.uint8)
    assert decode_jpeg(encode_jpeg_progressive(16, 16, rgb.tobytes(),
                                               3, quant=4)) \
        == decode_jpeg(encode_jpeg_color(16, 16, rgb.tobytes(), quant=4))
    # mostly-flat image: long EOB runs spanning many blocks
    flat = np.full((32, 32), 200, dtype=np.uint8)
    flat[:4, :4] = rng.randint(0, 256, size=(4, 4))
    assert decode_jpeg(encode_jpeg_progressive(32, 32, flat.tobytes())) \
        == decode_jpeg(encode_jpeg_gray(32, 32, flat.tobytes()))
    with pytest.raises(ValueError, match="multiple-of-8"):
        encode_jpeg_progressive(7, 8, bytes(56))


def test_jpeg_restart_intervals():
    import pytest
    from connectors_spark.ops.jpegcodec import (decode_jpeg,
                                                encode_jpeg_gray)
    px = bytes([130] * 64 + [92] * 64 + [150] * 64 + [100] * 64)
    for ri in (1, 2, 3):
        data = encode_jpeg_gray(8, 32, px, restart_interval=ri)
        assert any(bytes((0xFF, 0xD0 + i)) in data for i in range(8))
        w, h, c, out = decode_jpeg(data)
        assert (w, h, c, out) == (8, 32, 1, px)
    # interleaved MCUs restart every ri MCUs, not every ri blocks
    import numpy as np
    from connectors_spark.ops.jpegcodec import _encode_baseline
    rgb = np.random.RandomState(3).randint(
        0, 256, size=(32, 48, 3), dtype=np.uint8).tobytes()
    for hv in ((1, 1), (2, 1), (2, 2)):
        plain = decode_jpeg(_encode_baseline(48, 32, rgb, 3, hv, 4))
        for ri in (1, 2, 5):
            data = _encode_baseline(48, 32, rgb, 3, hv, 4, ri)
            assert bytes((0xFF, 0xD0)) in data
            assert decode_jpeg(data) == plain
    # an out-of-sequence restart marker must fail loudly
    data = bytearray(encode_jpeg_gray(8, 32, px, restart_interval=1))
    i = bytes(data).find(bytes((0xFF, 0xD0)))
    data[i + 1] = 0xD5
    with pytest.raises(ValueError, match="restart"):
        decode_jpeg(bytes(data))


def test_gif_lzw_roundtrip_and_dict_reset():
    import random
    rng = random.Random(11)
    for mcs in (2, 3, 5, 8):
        for n in (0, 1, 255, 256, 5000):
            data = bytes(rng.randrange(1 << mcs) for _ in range(n))
            assert ic._lzw_decompress(ic._lzw_compress(data, mcs),
                                      mcs) == data
    # low-entropy stream: dictionary grows to 4096 and resets (clear
    # code mid-stream), plus the KwKwK decoder case
    data = b"\x00\x01\x02\x03" * 3000 + b"\x00" * 64
    assert ic._lzw_decompress(ic._lzw_compress(data, 2), 2) == data


def test_gif_roundtrip_incl_interlace_and_palette():
    for did in (0, 1, 5, 12, 254, 255, 256, 511):
        w, h = 1 + did % 19, 1 + did % 13
        ncol = 2 + did % 255
        pal = bytes(b for i in range(ncol)
                    for b in ((i * 7 + did) % 256,
                              (i * 11 + 3 * did) % 256,
                              (i * 13 + 5 * did) % 256))
        idx = bytes((did * 3 + p * 5) % ncol for p in range(w * h))
        blob = ic.encode_gif(w, h, idx, pal, interlace=bool(did % 2))
        fmt, rw, rh, rc, px = ic.decode_any(blob)
        assert (fmt, rw, rh, rc) == ("gif", w, h, 3)
        exp = bytes(v for i in idx for v in ((i * 7 + did) % 256,
                                             (i * 11 + 3 * did) % 256,
                                             (i * 13 + 5 * did) % 256))
        assert px == exp


def test_gif_skips_extensions_and_guards():
    pal = bytes(range(6))
    blob = bytearray(ic.encode_gif(2, 2, bytes([0, 1, 1, 0]), pal))
    # splice a graphic-control extension before the image descriptor
    i = blob.index(0x2C)
    ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    blob = bytes(blob[:i]) + ext + bytes(blob[i:])
    fmt, w, h, c, px = ic.decode_any(blob)
    assert (fmt, w, h, c) == ("gif", 2, 2, 3)
    assert px == bytes((0, 1, 2, 3, 4, 5, 3, 4, 5, 0, 1, 2))
    with pytest.raises(ValueError, match="not a GIF"):
        ic.decode_gif(b"NOTGIF" + bytes(20))
    with pytest.raises(ValueError, match="palette"):
        ic.encode_gif(1, 1, b"\x00", b"")


def test_spark_real_gif_decode_matches_rule(spark, sf_dir):
    from tests.harness import compare
    ok, msg = compare(spark, str(sf_dir), "mm_gif_decode_real")
    assert ok, msg


# ---------------------------------------------------------------- MJPEG

def test_avi_mjpeg_roundtrip_and_guards():
    import numpy as np
    from connectors_spark.ops import videocodec as vc
    rng = np.random.RandomState(5)
    # block-constant frames round-trip bit-exact through the real
    # per-frame JPEG codec
    w, h, nf = 16, 8, 3
    frames = []
    for f in range(nf):
        fr = np.zeros((h, w, 3), dtype=np.uint8)
        for by in range(h // 8):
            for bx in range(w // 8):
                p = 128 + 2 * int(rng.randint(-32, 32))
                fr[by*8:(by+1)*8, bx*8:(bx+1)*8, :] = p
        frames.append(fr.tobytes())
    blob = vc.encode_avi_mjpeg(w, h, frames)
    assert b"MJPG" in blob and b"00dc" in blob
    rw, rh, out = vc.decode_avi(blob)
    assert (rw, rh) == (w, h) and out == frames
    # arbitrary (non-block-constant) frames still decode to the same
    # pixels the plain JPEG decoder yields — container adds nothing
    from connectors_spark.ops.jpegcodec import (decode_jpeg,
                                                encode_jpeg_color)
    px = rng.randint(0, 256, size=(8, 8, 3), dtype=np.uint8).tobytes()
    _, _, fs = vc.decode_avi(vc.encode_avi_mjpeg(8, 8, [px]))
    assert fs[0] == decode_jpeg(encode_jpeg_color(8, 8, px))[3]
    # unknown inter-frame codecs still guard loudly
    bad = blob.replace(b"vidsMJPG", b"vidsH264")
    import pytest as pt
    with pt.raises(NotImplementedError, match="MJPG"):
        vc.decode_avi(bad)


def test_spark_real_mjpeg_frames_match_rule(spark, sf_dir):
    from tests.harness import compare
    ok, msg = compare(spark, str(sf_dir), "mm_mjpeg_frames_real")
    assert ok, msg


# ---------------------------------------------------------------- G.711

def test_g711_matches_audioop_exhaustively():
    # CPython's audioop ships the public CCITT reference; every int16
    # sample must encode identically, every byte decode identically.
    audioop = pytest.importorskip("audioop")
    import struct as st
    from connectors_spark.ops import audiocodec as ac
    for s in range(-32768, 32768, 7):      # stride keeps it subsecond
        pk = st.pack("<h", s)
        assert ac.ulaw_encode_sample(s) == audioop.lin2ulaw(pk, 2)[0]
        assert ac.alaw_encode_sample(s) == audioop.lin2alaw(pk, 2)[0]
    for b in range(256):
        assert ac.ulaw_decode_sample(b) == st.unpack(
            "<h", audioop.ulaw2lin(bytes([b]), 2))[0]
        assert ac.alaw_decode_sample(b) == st.unpack(
            "<h", audioop.alaw2lin(bytes([b]), 2))[0]


def test_g711_wav_roundtrip_and_guards():
    from connectors_spark.ops import audiocodec as ac
    samples = [0, 1, -1, 7, -8, 1000, -1000, 32767, -32768]
    for law in ("ulaw", "alaw"):
        blob = ac.encode_wav_g711(samples, 8000, 1, law)
        rate, ch, out = ac.decode_wav(blob)
        assert (rate, ch) == (8000, 1)
        dec = (ac.ulaw_decode_sample if law == "ulaw"
               else ac.alaw_decode_sample)
        enc = (ac.ulaw_encode_sample if law == "ulaw"
               else ac.alaw_encode_sample)
        assert out == [dec(enc(s)) for s in samples]
        # companding idempotence: re-encoding a decoded sample yields
        # the same byte (codebook values are fixed points)
        assert all(enc(d) == enc(dec(enc(d))) for d in out)
    with pytest.raises(ValueError, match="law"):
        ac.encode_wav_g711(samples, 8000, 1, "mp3")


def test_spark_real_g711_decode_matches_rule(spark, sf_dir):
    from tests.harness import compare
    ok, msg = compare(spark, str(sf_dir), "mm_g711_decode_real")
    assert ok, msg


def test_jpeg_sof1_decodes_like_sof0():
    """An 8-bit extended-sequential stream (SOF1) is bit-identical
    entropy data to baseline; the decoder must accept it and produce
    the same pixels (T.81 B.2.2). Lossless/arithmetic still raise."""
    import pytest

    from connectors_spark.ops import jpegcodec as jc

    px = bytes((i * 7 + j * 3) % 255 & 0xF0
               for i in range(16) for j in range(16))
    blob = jc.encode_jpeg_gray(16, 16, px, quant=16)
    i = blob.index(b"\xff\xc0")
    sof1 = blob[:i] + b"\xff\xc1" + blob[i + 2:]
    assert jc.decode_jpeg(sof1) == jc.decode_jpeg(blob)
    for bad in (b"\xff\xc3", b"\xff\xc9", b"\xff\xca"):
        with pytest.raises(NotImplementedError):
            jc.decode_jpeg(blob[:i] + bad + blob[i + 2:])


def test_adpcm_step_matches_audioop_exhaustive():
    """The IMA decode step must be bit-exact vs CPython's audioop DVI
    implementation: every (code, step index) with predictor spot-
    sweeps, plus random multi-byte streams driven through both."""
    import random
    import struct

    import pytest

    audioop = pytest.importorskip("audioop")
    from connectors_spark.ops import audiocodec as ac

    for idx in range(89):
        for code in range(16):
            for pred in (-32768, -1000, -1, 0, 1, 1000, 32767):
                out, (p2, i2) = audioop.adpcm2lin(
                    bytes([code << 4]), 2, (pred, idx))
                s1 = struct.unpack("<hh", out)[0]
                p1, i1 = ac.adpcm_step(code, pred, idx)
                assert (s1, p2 if False else s1) == (p1, p1)
                # audioop consumes TWO nibbles per byte (second is 0);
                # compare the full two-step chain too
                pa, ia = ac.adpcm_step(0, p1, i1)
                assert struct.unpack("<hh", out)[1] == pa
                assert (p2, i2) == (pa, ia)
    random.seed(5)
    for _ in range(50):
        pred = random.randrange(-32768, 32768)
        idx = random.randrange(89)
        stream = bytes(random.randrange(256) for _ in range(64))
        out, _ = audioop.adpcm2lin(stream, 2, (pred, idx))
        mine = []
        p, i = pred, idx
        for byte in stream:
            for code in (byte >> 4, byte & 0x0F):   # audioop: high 1st
                p, i = ac.adpcm_step(code, p, i)
                mine.append(p)
        assert list(struct.unpack(f"<{len(mine)}h", out)) == mine


def test_adpcm_wav_roundtrip_mono_stereo_padding():
    """encode_wav_ima_adpcm → decode_wav: exact length recovery across
    block boundaries and final-block padding (fact-chunk trim), exact
    first-sample-per-block storage, bounded reconstruction error on a
    smooth signal, mono and stereo."""
    import math

    from connectors_spark.ops import audiocodec as ac

    for channels in (1, 2):
        for frames in (1, 16, 17, 100, 121):
            samples = [int(8000 * math.sin(i * 0.05))
                       for i in range(frames * channels)]
            blob = ac.encode_wav_ima_adpcm(samples, 8000, channels,
                                           block_align=16 * channels)
            rate, ch, dec = ac.decode_wav(blob)
            assert (rate, ch) == (8000, channels)
            assert len(dec) == len(samples)
            spb = (16 * channels - 4 * channels) * 2 // channels + 1
            for f0 in range(0, frames, spb):        # block firsts exact
                for c in range(channels):
                    assert dec[f0 * channels + c] == \
                        samples[f0 * channels + c]
            # slope-overload transient while the step size adapts from
            # index 0 is inherent to IMA; bound the worst case and pin
            # that the adapted tail tracks tightly
            errs = [abs(a - b) for a, b in zip(samples, dec)]
            assert max(errs) < 4100, (channels, frames, max(errs))
            if frames >= 100:
                tail = errs[len(errs) // 2:]
                assert sum(tail) / len(tail) < 300, (channels, frames)


def test_adpcm_decoder_guards():
    import struct

    import pytest

    from connectors_spark.ops import audiocodec as ac

    blob = ac.encode_wav_ima_adpcm([0] * 20, 8000, 1, block_align=16)
    # corrupt the step index header past 88
    data = bytearray(blob)
    off = blob.index(b"data") + 8
    data[off + 2] = 90
    with pytest.raises(ValueError, match="step index"):
        ac.decode_wav(bytes(data))
    # 4-bit requirement pinned in fmt parsing
    bad = bytearray(blob)
    fmt_off = blob.index(b"fmt ") + 8
    struct.pack_into("<H", bad, fmt_off + 14, 8)    # bits = 8
    with pytest.raises(ValueError, match="4-bit"):
        ac.decode_wav(bytes(bad))


def test_tiff_round_trip_matrix():
    """TIFF 6.0: both byte orders x {none, LZW, PackBits} x
    {gray, RGB} x strip layouts — byte-exact round trips through the
    real IFD writer/parser. The LZW early-change width rule and the
    decoder's one-entry table lag are exactly what random data pins
    (a bump one code late desyncs the stream past table size 510)."""
    import random

    from connectors_spark.ops.imagecodec import (decode_any, decode_tiff,
                                                 encode_tiff)
    for w, h in ((1, 1), (4, 3), (13, 7)):
        for c in (1, 3):
            px = bytes((i * 31 + 7) % 256 for i in range(w * h * c))
            for comp in (1, 5, 32773):
                for be in (False, True):
                    for rps in (h, 3, 1):
                        data = encode_tiff(w, h, px, channels=c,
                                           compression=comp,
                                           rows_per_strip=rps,
                                           big_endian=be)
                        assert decode_tiff(data) == (w, h, c, px)
                        fmt, *rest = decode_any(data)
                        assert fmt == "tiff" and tuple(rest) == (w, h, c, px)


def test_tiff_lzw_width_bumps_and_clear():
    """Random payloads push the code table past 510/1022 (width bumps)
    and past 4094 (encoder-emitted Clear + table reset)."""
    import random

    from connectors_spark.ops.imagecodec import (_tiff_lzw_compress,
                                                 _tiff_lzw_decompress)
    rng = random.Random(7)
    for n in (0, 1, 300, 800, 9000):
        d = bytes(rng.randrange(256) for _ in range(n))
        assert _tiff_lzw_decompress(_tiff_lzw_compress(d)) == d
    rep = bytes((i // 9) % 4 for i in range(5000))
    assert _tiff_lzw_decompress(_tiff_lzw_compress(rep)) == rep


def test_tiff_rejects_out_of_scope():
    import pytest

    from connectors_spark.ops.imagecodec import decode_tiff, encode_tiff
    with pytest.raises(ValueError, match="byte-order"):
        decode_tiff(b"XX\x2a\x00garbage")
    data = bytearray(encode_tiff(4, 3, bytes(12), channels=1,
                                 compression=1))
    # flip the compression SHORT (tag 259) to an unsupported scheme
    idx = data.find((259).to_bytes(2, "little"))
    data[idx + 8] = 7  # JPEG-in-TIFF
    with pytest.raises(NotImplementedError, match="compression"):
        decode_tiff(bytes(data))


def test_tiff_word_alignment_odd_strips():
    """TIFF 6.0 §2: the IFD and every out-of-line value must start on a
    word boundary — grayscale multi-strip images with ODD strip byte
    counts (e.g. 3-wide rows) are the regression case (ADVICE r10)."""
    import struct

    from connectors_spark.ops.imagecodec import decode_tiff, encode_tiff

    # 3x5 grayscale, rows_per_strip=1 → five 3-byte (odd) strips
    px = bytes(range(15))
    data = encode_tiff(3, 5, px, channels=1, rows_per_strip=1)
    e = "<" if data[:2] == b"II" else ">"
    ifd_off = struct.unpack(e + "I", data[4:8])[0]
    assert ifd_off % 2 == 0, "IFD starts at an odd offset"
    # walk the IFD: every LONG-array value offset must be even
    n = struct.unpack(e + "H", data[ifd_off:ifd_off + 2])[0]
    for i in range(n):
        base = ifd_off + 2 + 12 * i
        tag, typ, cnt = struct.unpack(e + "HHI", data[base:base + 8])
        if typ == 4 and cnt > 1:        # out-of-line LONG array
            voff = struct.unpack(e + "I", data[base + 8:base + 12])[0]
            assert voff % 2 == 0, f"tag {tag} array at odd offset"
    # the padded layout still round-trips
    w, h, c, out = decode_tiff(data)
    assert (w, h, c, out) == (3, 5, 1, px)
    # RGB with odd strips keeps the BPS array aligned too
    px3 = bytes((i * 7) % 256 for i in range(3 * 3 * 3))
    data3 = encode_tiff(3, 3, px3, channels=3, rows_per_strip=1)
    assert struct.unpack(
        ("<" if data3[:2] == b"II" else ">") + "I", data3[4:8])[0] % 2 == 0
    assert decode_tiff(data3)[3] == px3


def test_jpeg_progressive_420_matches_baseline_420():
    """Progressive (SOF2) 4:2:0: same scan script as 4:4:4 but the DC
    scan walks interleaved MCUs with 2x2 Y sampling and the AC scans
    walk each component's OWN block grid — pixels must equal the
    baseline 4:2:0 encoder's bit-for-bit (identical quantized
    coefficients, identical IDCT/upsample path)."""
    import numpy as np

    from connectors_spark.ops.jpegcodec import (decode_jpeg,
                                                encode_jpeg_color_420,
                                                encode_jpeg_progressive)

    rng = np.random.RandomState(11)
    for (w, h) in [(16, 16), (32, 16), (16, 32), (48, 32)]:
        rgb = rng.randint(0, 256, size=(h, w, 3),
                          dtype=np.uint8).tobytes()
        prog = decode_jpeg(encode_jpeg_progressive(
            w, h, rgb, channels=3, subsampling="420"))
        base = decode_jpeg(encode_jpeg_color_420(w, h, rgb))
        assert prog == base
    # dims must be multiple-of-16 at 4:2:0
    import pytest as _pytest
    with _pytest.raises(ValueError):
        encode_jpeg_progressive(8, 8, bytes(8 * 8 * 3), channels=3,
                                subsampling="420")


# ---------------------------------------------------------------------------
# Byte pins for the JPEG codec: every encoder's stream and every decode's
# pixels, as SHA-256 prefixes. A change to the transform, the headers or
# the MCU walk that alters one byte or one pixel fails here.
# ---------------------------------------------------------------------------

def _corpus_px(did, w, h, c):
    """The closed-form block rule the multimodal.synth_jpeg_* corpora
    draw: block b (raster) is 128 + 2·(((did·7 + b·13) % 64) − 32)."""
    px = bytearray(w * h * c)
    for y in range(h):
        for x in range(w):
            b = (y // 8) * (w // 8) + (x // 8)
            px[(y * w + x) * c:(y * w + x + 1) * c] = \
                bytes([128 + 2 * (((did * 7 + b * 13) % 64) - 32)]) * c
    return bytes(px)


def _jpeg_pin_streams():
    import numpy as np

    from connectors_spark.ops import jpegcodec as jc

    rng = np.random.RandomState(2024)
    noise_g = rng.randint(0, 256, size=(24, 32), dtype=np.uint8).tobytes()
    noise_c = rng.randint(0, 256, size=(32, 32, 3),
                          dtype=np.uint8).tobytes()
    yy, xx = np.mgrid[0:32, 0:32]
    smooth = np.stack([(4 * xx + 3 * yy) % 256, (7 * yy) % 256,
                       (255 - 5 * xx) % 256], -1).astype(np.uint8)
    out = {}
    for ri in range(4):
        out[f"gray_ri{ri}"] = jc.encode_jpeg_gray(32, 24, noise_g,
                                                  restart_interval=ri)
    out["gray_q4"] = jc.encode_jpeg_gray(32, 24, noise_g, quant=4)
    for tag, rgb in (("noise", noise_c), ("smooth", smooth.tobytes())):
        out[f"c444_{tag}"] = jc.encode_jpeg_color(32, 32, rgb, quant=4)
        out[f"c422_{tag}"] = jc.encode_jpeg_color_422(32, 32, rgb, quant=4)
        out[f"c420_{tag}"] = jc.encode_jpeg_color_420(32, 32, rgb, quant=4)
        out[f"p444_{tag}"] = jc.encode_jpeg_progressive(32, 32, rgb, 3,
                                                        quant=4)
        out[f"p420_{tag}"] = jc.encode_jpeg_progressive(
            32, 32, rgb, 3, quant=4, subsampling="420")
    out["pgray_noise"] = jc.encode_jpeg_progressive(32, 24, noise_g,
                                                    quant=4)
    # smooth rows whose quant-50 reconstruction has exact .5 pixels:
    # the IDCT's float order decides which way they round
    walk = np.random.RandomState(8).normal(128, 40, size=(32, 32))
    ties = np.clip(walk.cumsum(axis=1) / np.arange(1, 33), 0, 255) \
        .astype(np.uint8).tobytes()
    out["gray_ties_q50"] = jc.encode_jpeg_gray(32, 32, ties, quant=50)
    out["pgray_ties_q50"] = jc.encode_jpeg_progressive(32, 32, ties,
                                                       quant=50)
    # multimodal.synth_jpeg_media layouts
    for did in range(8):
        if did % 4 == 3:
            w = h = 16
        elif did % 8 == 5:
            w, h = 16, 8
        else:
            w, h = 8 * (1 + did % 3), 8 * (1 + did % 2)
        c = 3 if did % 2 else 1
        px = _corpus_px(did, w, h, c)
        if did % 8 in (1, 6):
            out[f"media_{did}"] = jc.encode_jpeg_progressive(w, h, px, c)
        else:
            enc = (jc.encode_jpeg_color_420 if did % 4 == 3
                   else jc.encode_jpeg_color_422 if did % 8 == 5
                   else jc.encode_jpeg_color if c == 3
                   else jc.encode_jpeg_gray)
            out[f"media_{did}"] = enc(w, h, px)
    # multimodal.synth_jpeg_progressive_media layouts
    for did in range(4):
        if did % 2:
            w, h, c, sub = (16 if did % 4 == 1 else 32), 16, 3, "420"
        else:
            w, h, c, sub = 8 * (1 + did % 3), 8 * (1 + did % 2), 1, "444"
        out[f"prog_{did}"] = jc.encode_jpeg_progressive(
            w, h, _corpus_px(did, w, h, c), channels=c, subsampling=sub)
    # multimodal.synth_jpeg_scaled_media: one group at all three sizes
    g = 7
    cells = np.array([[128 + 2 * ((((g + 3) * (ci * 5 + cj * 11 + 7)
                                    + g * g) % 64) - 32)
                       for cj in range(4)] for ci in range(4)],
                     dtype=np.uint8)
    for size in (32, 64, 128):
        cs = size // 4
        px = np.repeat(np.repeat(cells, cs, axis=0), cs, axis=1)
        out[f"scaled_{size}"] = jc.encode_jpeg_gray(size, size,
                                                    px.tobytes())
    blob = out["gray_ri0"]
    i = blob.index(b"\xff\xc0")
    out["sof1"] = blob[:i] + b"\xff\xc1" + blob[i + 2:]
    return out


# name -> (stream digest, decoded-pixel digest); captured before the
# transform stage was shared between the encoders and decoder paths
_JPEG_PINS = {
    "gray_ri0": ("884faab076af3a8db25dbaa8", "eedd060f200881f7583dcfe1"),
    "gray_ri1": ("0bbe4b94be3cc05c09144eb6", "eedd060f200881f7583dcfe1"),
    "gray_ri2": ("3a280c5d167de321c717d4fa", "eedd060f200881f7583dcfe1"),
    "gray_ri3": ("2dc3a7f39be4f853445464fa", "eedd060f200881f7583dcfe1"),
    "gray_q4": ("1ad23197d793658eec8b81a6", "206c8178b26b2730d97aa6ee"),
    "c444_noise": ("e7a618be955c895654c9a34e", "02d962f2f82e945944e43e3a"),
    "c422_noise": ("88a2a2ec3b8229d77546f3c3", "948d6dfb0b8754d1376a4da1"),
    "c420_noise": ("fb997e61ffb421eac5d40c7c", "a9433fe4c2425db0693ed4f3"),
    "p444_noise": ("da1dcc4541f82f571f5ca29b", "02d962f2f82e945944e43e3a"),
    "p420_noise": ("b69b39741cf864bb8aa591ad", "a9433fe4c2425db0693ed4f3"),
    "c444_smooth": ("e6150b95c41ffe9af58c4cc0", "7ebb23a636debc3dc8d78e82"),
    "c422_smooth": ("08b7bea59e30163d916f7eb3", "9f80674bcba82be634ce454c"),
    "c420_smooth": ("8d2ac6e93636dd88d3ea0cd8", "67ebbef240167b7b36e588f0"),
    "p444_smooth": ("13019853a4aaf4dc1eb1ce65", "7ebb23a636debc3dc8d78e82"),
    "p420_smooth": ("4b6369131fa67468ce40fe2b", "67ebbef240167b7b36e588f0"),
    "pgray_noise": ("6091f0667bc7aece18d7ae87", "206c8178b26b2730d97aa6ee"),
    "gray_ties_q50": ("26722549fc0e63556ad9509e", "46e11ea14cc60d644a6bc8e9"),
    "pgray_ties_q50": ("51aa1a298a19de87fa604af3", "46e11ea14cc60d644a6bc8e9"),
    "media_0": ("4b51d76b044653c5dea0d859", "127a7d2fda27f8b3d44aafa6"),
    "media_1": ("6d70bb0ed299339365669915", "81fe8844102b88d3ced96467"),
    "media_2": ("25ca4666cf89a37064ff7905", "8036ff2feeb7f90584f6555e"),
    "media_3": ("b7823fce22fd7db343a65385", "522f0fcaf79679f9cffe2d31"),
    "media_4": ("56f25bf7af7e723180b2e83a", "a3804976974b00737723ee2b"),
    "media_5": ("c538cdd1bb195aa6895e3f6a", "40e82a55220bb71a28403947"),
    "media_6": ("ef0ffc173f298901b58f081c", "08fc8b578c9c7663d6ee12ab"),
    "media_7": ("e4efd093bcc9e5eaac4b67e4", "eeb1c5b005a0d3c002ff168d"),
    "prog_0": ("014b3122feac30e2cdb28f5b", "127a7d2fda27f8b3d44aafa6"),
    "prog_1": ("14436ec084eb2464b296a466", "81fe8844102b88d3ced96467"),
    "prog_2": ("930122c5ffb2136fc6eb8dbe", "8036ff2feeb7f90584f6555e"),
    "prog_3": ("60774515d1fb9be52af7ee13", "a21bbc6d5f2f4b0fca3111ab"),
    "scaled_32": ("fe05be84710323b6961ea911", "5dbac79b48929f4056962fb1"),
    "scaled_64": ("669ccbb06aaa81c1f61fd14f", "07da680847df1104b3fdb711"),
    "scaled_128": ("01760ad08a88bdcf1b84fb7c", "74a8a2e4988ccda5a4b8ad62"),
    "sof1": ("0a4ddae8c4783cf202d916b8", "eedd060f200881f7583dcfe1"),
}


def test_jpeg_streams_and_pixels_match_pins():
    import hashlib

    from connectors_spark.ops.jpegcodec import decode_jpeg

    def h(b):
        return hashlib.sha256(b).hexdigest()[:24]

    got = {}
    for name, blob in _jpeg_pin_streams().items():
        w, hh, c, px = decode_jpeg(blob)
        got[name] = (h(blob), h(b"%d,%d,%d:" % (w, hh, c) + px))
    assert got == _JPEG_PINS


def test_jpeg_sequential_non_interleaved_scans():
    """A sequential stream may code each component in its own scan
    (ITU-T.81 §A.2.2): the decoder fills each component's coefficients
    scan by scan and inverts them after the last. For gray RGB the
    chroma planes quantize to zero, so the three scans are the entropy
    data of gray streams of Y and of two flat 128 planes, and the
    result must equal the interleaved 4:4:4 stream's pixels."""
    import numpy as np

    from connectors_spark.ops import jpegcodec as jc

    w, h = 24, 16
    luma = _corpus_px(5, w, h, 1)
    flat = bytes([128]) * (w * h)

    def entropy(blob):
        i = blob.index(b"\xff\xda")
        return blob[i + 2 + int.from_bytes(blob[i + 2:i + 4], "big"):-2]

    q = np.full((8, 8), 16.0)
    blob = bytes(jc._frame_header(0xFFC0, w, h, q, [(1, 1)] * 3,
                                  jc._AC_BITS, jc._AC_VALS))
    for cid, px in ((1, luma), (2, flat), (3, flat)):
        blob += jc._sos([cid], 0, 63, 0, 0)
        blob += entropy(jc.encode_jpeg_gray(w, h, px))
    blob += b"\xff\xd9"
    rgb = bytes(v for v in luma for _ in range(3))
    assert jc.decode_jpeg(blob) == jc.decode_jpeg(
        jc.encode_jpeg_color(w, h, rgb))
    assert jc.decode_jpeg(blob)[3] == rgb
