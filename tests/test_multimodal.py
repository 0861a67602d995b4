"""Multimodal binary-column plumbing vs numpy oracles. Payloads are
deterministic RAW8 images / PCM16 audio built in-test (no codec libs
in this environment; the Spark-side schema/UDF/batch plumbing is
real)."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, IntegerType, LongType,
                               StringType, StructField, StructType)

from detanalysis_spark.llm import multimodal as M


@pytest.fixture(scope="module")
def images(spark):
    rng = np.random.default_rng(13)
    rows, raw = [], {}
    for i in range(12):
        w, h, c = 8 + i % 3, 6 + i % 2, 3
        img = rng.random((h, w, c))
        img = np.round(img * 255) / 255.0          # exact RAW8 round-trip
        raw[i] = img
        rows.append((i, bytearray(M.encode_raw8(img)), w, h, c, "RAW8"))
    schema = StructType([StructField("img_id", LongType()),
                         StructField("payload", BinaryType()),
                         StructField("width", IntegerType()),
                         StructField("height", IntegerType()),
                         StructField("channels", IntegerType()),
                         StructField("format", StringType())])
    return spark.createDataFrame(rows, schema), raw


def test_raw8_roundtrip():
    img = np.round(np.random.default_rng(0).random((4, 5, 3)) * 255) / 255
    got = M.decode_raw8(M.encode_raw8(img), 5, 4, 3)
    np.testing.assert_allclose(got, img, atol=1e-12)
    short = M.decode_raw8(b"\xff", 2, 2, 1)        # zero-padded
    assert short.shape == (2, 2, 1) and short[0, 0, 0] == 1.0


def test_resize_bilinear_identity_and_mean():
    img = np.random.default_rng(1).random((6, 8, 3))
    same = M.resize_bilinear(img, 8, 6)
    np.testing.assert_allclose(same, img, atol=1e-12)  # identity resize
    one = M.resize_bilinear(img, 1, 1)
    # 1×1 bilinear sample hits the image center region
    assert abs(one.mean() - img.mean()) < 0.2


def test_image_features_vs_numpy(images):
    df, raw = images
    got = {r.img_id: r for r in
           M.image_features(df, "img_id", out_w=4, out_h=4).collect()}
    assert len(got) == 12
    for i, img in raw.items():
        lum = img.mean(axis=2)
        assert got[i].mean_lum == pytest.approx(lum.mean(), rel=1e-9)
        assert got[i].std_lum == pytest.approx(lum.std(), rel=1e-9)
        want = M.resize_bilinear(img, 4, 4).mean(axis=2).ravel()
        np.testing.assert_allclose(got[i].resized, want, rtol=1e-9)


def test_unknown_format_raises(spark, images):
    df, _ = images
    bad = df.withColumn("format", F.lit("TIFF"))
    with pytest.raises(Exception, match="no image codec|TIFF"):
        M.image_features(bad, "img_id").collect()


@pytest.fixture(scope="module")
def audio(spark):
    rng = np.random.default_rng(17)
    rows, raw = [], {}
    for i in range(6):
        n = 1000 + 130 * i                         # not a frame multiple
        x = (rng.standard_normal(n) * 3000).astype("<i2")
        raw[i] = x
        rows.append((i, bytearray(x.tobytes()), 16000, n, "PCM16"))
    schema = StructType([StructField("audio_id", LongType()),
                         StructField("payload", BinaryType()),
                         StructField("sample_rate", IntegerType()),
                         StructField("n_samples", LongType()),
                         StructField("format", StringType())])
    return spark.createDataFrame(rows, schema), raw


def test_audio_features_vs_numpy(audio):
    df, raw = audio
    got = {r.audio_id: r for r in
           M.audio_features(df, "audio_id", frame_samples=256).collect()}
    for i, xi in raw.items():
        x = xi / 32768.0
        assert got[i].rms == pytest.approx(np.sqrt((x ** 2).mean()),
                                           rel=1e-9)
        zcr = np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))
        assert got[i].zcr == pytest.approx(zcr, rel=1e-9)
        nf = x.size // 256
        want = (x[:nf * 256].reshape(nf, 256) ** 2).sum(axis=1)
        np.testing.assert_allclose(got[i].frame_energy, want, rtol=1e-9)


def test_frame_sampling(spark):
    frame_bytes = 16
    payload = bytes(range(16)) * 7 + b"\x01\x02"   # 7 frames + partial
    df = spark.createDataFrame([(0, bytearray(payload))], ["vid", "payload"])
    got = df.select(M.frame_sample_udf(frame_bytes, 3)(
        F.col("payload")).alias("frames")).first().frames
    assert len(got) == 3                           # frames 0, 3, 6
    assert all(bytes(f) == bytes(range(16)) for f in got)
    assert M.sample_frames(b"", frame_bytes, 2) == []


# ----------------------------------------------------------------------
# stdlib codecs: PNG (zlib + scanline unfiltering) and WAV (wave)
# ----------------------------------------------------------------------
def test_png_roundtrip_all_filters():
    rng = np.random.default_rng(3)
    img = rng.random((9, 7, 3))
    q = np.round(np.clip(img, 0, 1) * 255) / 255.0   # 8-bit grid
    for ft in (0, 1, 2):
        data = M.encode_png(img, filter_type=ft)
        dec = M.decode_png(data)
        assert dec.shape == (9, 7, 3)
        assert np.allclose(dec, q, atol=1e-12), f"filter {ft}"


def test_png_paeth_average_reference_decoder():
    # hand-build Average(3)- and Paeth(4)-filtered scanlines and check
    # against a scalar reference implementation of the spec recurrences
    import struct
    import zlib
    rng = np.random.default_rng(4)
    w, h, c = 5, 4, 2
    truth = rng.integers(0, 256, size=(h, w * c), dtype=np.uint8)

    def ref_filter(ftype, line, prev):
        out = []
        for i, b in enumerate(line.astype(int)):
            left = out[i - c] if i >= c else 0
            up = int(prev[i])
            ul = int(prev[i - c]) if i >= c else 0
            if ftype == 3:
                out.append((b - (left + up) // 2) % 256)
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else \
                    up if pb <= pc else ul
                out.append((b - pred) % 256)
            out[i] = out[i]
        return bytes(out)

    # NOTE: filtering references the RECONSTRUCTED previous row, which
    # for a known truth image is just the truth row above
    raw = b""
    for y in range(h):
        prev = truth[y - 1] if y else np.zeros(w * c, dtype=np.uint8)
        ft = 3 if y % 2 == 0 else 4
        # invert the spec recurrence left-to-right against recon values
        line, out = truth[y], []
        for i, b in enumerate(line.astype(int)):
            left = int(line[i - c]) if i >= c else 0
            up = int(prev[i])
            ul = int(prev[i - c]) if i >= c else 0
            if ft == 3:
                out.append((b - (left + up) // 2) % 256)
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else \
                    up if pb <= pc else ul
                out.append((b - pred) % 256)
        raw += bytes([ft]) + bytes(out)

    def chunk(typ, body):
        return (struct.pack(">I", len(body)) + typ + body
                + struct.pack(">I", zlib.crc32(typ + body)))

    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 4, 0, 0, 0)  # gray+alpha
    png = (sig + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    dec = (M.decode_png(png) * 255).round().astype(np.uint8)
    assert np.array_equal(dec.reshape(h, w * c), truth)


def test_png_rejects_unsupported():
    with pytest.raises(ValueError, match="signature"):
        M.decode_png(b"JUNK" * 4)


def test_wav_roundtrip_and_features(spark):
    rng = np.random.default_rng(5)
    x = rng.uniform(-0.5, 0.5, size=(1000, 2))
    data = M.encode_wav(x, 8000)
    dec, rate = M.decode_wav(data)
    assert rate == 8000 and dec.shape == (1000, 2)
    # encode scales by 32767, decode divides by 32768 -> ~2 LSB slack
    assert np.allclose(dec, x, atol=2.5 / 32768)

    df = spark.createDataFrame([(1, bytearray(data))], ["sid", "payload"])
    out = M.audio_features(df, "sid", frame_samples=100,
                           payload_format="WAV").collect()[0]
    mono = dec.mean(axis=1)
    assert out["rms"] == pytest.approx(
        float(np.sqrt(np.mean(mono ** 2))), rel=1e-6)
    assert len(out["frame_energy"]) == 10


def test_image_features_png_format(spark):
    rng = np.random.default_rng(6)
    img = rng.random((8, 8, 3))
    payload = M.encode_png(img, filter_type=1)
    df = spark.createDataFrame(
        [(7, bytearray(payload), 8, 8, 3, "PNG")],
        ["img_id", "payload", "width", "height", "channels", "format"])
    out = M.image_features(df, "img_id", out_w=2, out_h=2).collect()[0]
    q = np.round(np.clip(img, 0, 1) * 255) / 255.0
    assert out["mean_lum"] == pytest.approx(
        float(q.mean(axis=2).mean()), abs=1e-9)
    assert len(out["resized"]) == 4


# ----------------------------------------------------------------------
# baseline JPEG codec (llm/jpeg.py)
# ----------------------------------------------------------------------
def _smooth_rgb(h, w, seed=0, noise=0.02):
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack([xx / w, yy / h, (xx + yy) / (w + h)], axis=2)
    return np.clip(img + rng.normal(0, noise, img.shape), 0, 1)


def test_jpeg_roundtrip_444_and_420():
    from detanalysis_spark.llm.jpeg import decode_jpeg, encode_jpeg
    img = _smooth_rgb(24, 33, seed=7, noise=0.01)
    for q, tol in ((95, 0.02), (75, 0.03)):
        for sub in (False, True):
            out = decode_jpeg(encode_jpeg(img, quality=q, subsample=sub))
            assert out.shape == img.shape
            rmse = float(np.sqrt(np.mean((out - img) ** 2)))
            # quantization-error scale, NOT a self-consistency check:
            # a zigzag/huffman/IDCT bug shows up as rmse >> tol
            assert rmse < tol + (0.01 if sub else 0.0), (q, sub, rmse)


def test_jpeg_grayscale_and_odd_dims():
    from detanalysis_spark.llm.jpeg import decode_jpeg, encode_jpeg
    rng = np.random.default_rng(1)
    g = np.clip(np.outer(np.linspace(0, 1, 17),
                         np.ones(13))[:, :, None]
                + rng.normal(0, 0.01, (17, 13, 1)), 0, 1)
    out = decode_jpeg(encode_jpeg(g, quality=90))
    assert out.shape == (17, 13, 1)
    assert float(np.sqrt(np.mean((out - g) ** 2))) < 0.02


def test_jpeg_restart_markers():
    from detanalysis_spark.llm.jpeg import decode_jpeg, encode_jpeg
    img = _smooth_rgb(40, 56, seed=3)
    d = encode_jpeg(img, quality=85, restart_interval=4)
    assert b"\xff\xdd" in d and b"\xff\xd0" in d   # DRI + RST0 present
    out = decode_jpeg(d)
    assert float(np.sqrt(np.mean((out - img) ** 2))) < 0.03
    out2 = decode_jpeg(encode_jpeg(img, quality=85, subsample=True,
                                   restart_interval=3))
    assert float(np.sqrt(np.mean((out2 - img) ** 2))) < 0.035


def test_jpeg_constant_blocks_exact_at_q100():
    # quality 100 -> all-ones quant tables; constant 8x8 blocks are
    # DC-only with integer DC, so the decode is exact to float eps —
    # the analytic ground truth behind the multimodal_jpeg_stats oracle
    from detanalysis_spark.llm.jpeg import decode_jpeg, encode_jpeg
    img = np.zeros((8, 16, 1))
    img[:, :8, 0] = 37 / 255.0
    img[:, 8:, 0] = 201 / 255.0
    out = decode_jpeg(encode_jpeg(img, quality=100, restart_interval=1))
    np.testing.assert_allclose(out, img, atol=1e-12)


def test_jpeg_rejects_unsupported():
    from detanalysis_spark.llm.jpeg import decode_jpeg, encode_jpeg
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"NOPE")
    d = bytearray(encode_jpeg(_smooth_rgb(8, 8)))
    i = d.find(b"\xff\xc0")
    # SOF3 (lossless): genuinely unsupported
    d[i + 1] = 0xC3
    with pytest.raises(NotImplementedError, match="SOF"):
        decode_jpeg(bytes(d))
    # SOF0 flipped to SOF2 makes the full-band scan an INVALID
    # progressive DC scan — must refuse, not garble
    d[i + 1] = 0xC2
    with pytest.raises(ValueError, match="Se=0"):
        decode_jpeg(bytes(d))


def test_jpeg_vs_pil_reference():
    PIL = pytest.importorskip("PIL.Image")
    import io
    from detanalysis_spark.llm.jpeg import decode_jpeg
    img = (_smooth_rgb(32, 32, seed=9) * 255).astype(np.uint8)
    buf = io.BytesIO()
    PIL.fromarray(img).save(buf, format="JPEG", quality=90)
    ours = decode_jpeg(buf.getvalue())
    ref = np.asarray(PIL.open(io.BytesIO(buf.getvalue())),
                     dtype=np.float64) / 255.0
    # same bitstream, two decoders: differences are IDCT rounding only
    assert float(np.abs(ours - ref).max()) < 0.02


def test_decode_prefers_pil_and_matches_stdlib():
    # Production preference: _decode routes JPEG through PIL/libjpeg
    # when importable (the ~100x-faster C path); the stdlib decoder is
    # the hermetic fallback. Both must agree pixel-for-pixel up to
    # IDCT rounding on the same bitstream.
    PIL = pytest.importorskip("PIL.Image")
    from detanalysis_spark.llm.jpeg import decode_jpeg, encode_jpeg
    img = _smooth_rgb(24, 24, seed=21)
    for kw in ({"quality": 90}, {"quality": 85, "subsample": True},
               {"quality": 90, "progressive": True}):
        payload = encode_jpeg(img, **kw)
        via_pref = M._decode(payload, 24, 24, 3, "JPEG")
        via_stdlib = decode_jpeg(payload)
        assert via_pref.shape == via_stdlib.shape == (24, 24, 3)
        assert float(np.abs(via_pref - via_stdlib).max()) < 0.02


def test_decode_jpeg_stdlib_fallback_without_pil(monkeypatch):
    # With PIL unimportable, _decode falls back to the stdlib codec
    # (the path this hermetic container always takes).
    import builtins
    real_import = builtins.__import__

    def no_pil(name, *a, **k):
        if name == "PIL" or name.startswith("PIL."):
            raise ImportError("PIL blocked for test")
        return real_import(name, *a, **k)

    monkeypatch.setattr(builtins, "__import__", no_pil)
    from detanalysis_spark.llm.jpeg import decode_jpeg, encode_jpeg
    img = _smooth_rgb(16, 16, seed=22)
    payload = encode_jpeg(img, quality=95)
    out = M._decode(payload, 16, 16, 3, "JPEG")
    np.testing.assert_allclose(out, decode_jpeg(payload), atol=1e-12)


def test_image_features_jpeg_format(spark):
    from detanalysis_spark.llm.jpeg import encode_jpeg
    img = np.zeros((8, 16, 1))
    img[:, :8, 0] = 100 / 255.0
    img[:, 8:, 0] = 50 / 255.0
    payload = encode_jpeg(img, quality=100)
    df = spark.createDataFrame(
        [(3, bytearray(payload), 16, 8, 1, "JPEG")],
        ["img_id", "payload", "width", "height", "channels", "format"])
    out = M.image_features(df, "img_id", out_w=2, out_h=2).collect()[0]
    assert out["mean_lum"] == pytest.approx(150 / 2 / 255.0, abs=1e-9)


# ----------------------------------------------------------------------
# FLAC codec (llm/flac.py)
# ----------------------------------------------------------------------
def _sine(n, seed=5):
    rng = np.random.default_rng(seed)
    t = np.linspace(0, 1, n)
    return 0.5 * np.sin(2 * np.pi * 440 * t) \
        + 0.01 * rng.standard_normal(n)


def test_flac_roundtrip_lossless_16bit():
    from detanalysis_spark.llm.flac import decode_flac, encode_flac
    mono = _sine(5000)
    q = np.clip(np.round(mono * 32768) / 32768.0, -1, 32767 / 32768)
    for mode in ("verbatim", "fixed"):
        x, rate = decode_flac(encode_flac(mono, 16000, mode=mode))
        assert rate == 16000 and x.shape == (5000, 1)
        # FLAC is lossless: only the 16-bit quantization remains
        np.testing.assert_allclose(x[:, 0], q, atol=1e-12), mode
    # fixed-predictor residual coding must actually compress the sine
    assert len(encode_flac(mono, 16000, mode="fixed")) < \
        len(encode_flac(mono, 16000, mode="verbatim"))


def test_flac_stereo_and_mid_side():
    from detanalysis_spark.llm.flac import decode_flac, encode_flac
    mono = _sine(3000, seed=7)
    st = np.stack([mono, 0.8 * np.roll(mono, 3)], axis=1)
    q = np.clip(np.round(st * 32768) / 32768.0, -1, 32767 / 32768)
    for ms in (False, True):
        x, _ = decode_flac(encode_flac(st, 44100, mid_side=ms))
        np.testing.assert_allclose(x, q, atol=1e-12), ms


def test_flac_constant_and_empty():
    from detanalysis_spark.llm.flac import decode_flac, encode_flac
    x, _ = decode_flac(encode_flac(np.full(4096, 0.25), 8000))
    assert np.all(x == np.round(0.25 * 32768) / 32768.0)
    e, rate = decode_flac(encode_flac(np.zeros(0), 16000))
    assert e.shape[0] == 0 and rate == 16000


def test_flac_crc_rejects_corruption():
    from detanalysis_spark.llm.flac import decode_flac, encode_flac
    d = bytearray(encode_flac(_sine(1000), 16000))
    with pytest.raises(ValueError, match="FLAC|fLaC"):
        decode_flac(b"nope")
    d[-10] ^= 0x40                  # flip a bit inside the last frame
    with pytest.raises(ValueError, match="CRC"):
        decode_flac(bytes(d))


def test_flac_reserved_codes_raise_valueerror():
    # reserved blocksize code 0 / sample-size code 3 must surface as the
    # documented ValueError, not a raw KeyError / silent STREAMINFO remap
    from detanalysis_spark.llm.flac import decode_flac, encode_flac
    d = bytearray(encode_flac(_sine(512), 16000))
    # frame header starts right after the 4-byte magic + 4-byte metadata
    # block header + 34-byte STREAMINFO = offset 42; byte 2 of the frame
    # header packs bs_code(4) | sr_code(4)
    hdr = 42
    assert d[hdr] == 0xFF and (d[hdr + 1] >> 2) == 0x3E  # sync check
    orig = d[hdr + 2]
    d[hdr + 2] = (0 << 4) | (orig & 0x0F)        # bs_code = 0 (reserved)
    d[hdr + 5] = _recrc8(bytes(d[hdr:hdr + 5]))
    with pytest.raises(ValueError, match="reserved blocksize"):
        decode_flac(bytes(d))
    d[hdr + 2] = orig
    orig3 = d[hdr + 3]
    d[hdr + 3] = (orig3 & 0xF0) | (3 << 1) | (orig3 & 1)  # ss_code = 3
    # bs_code is 7 here (16-bit blocksize follows), so the header is 7
    # bytes and the CRC-8 sits at hdr+7 — recompute it so the reserved
    # sample-size check (which runs after CRC verification) is reached
    d[hdr + 7] = _recrc8(bytes(d[hdr:hdr + 7]))
    with pytest.raises(ValueError, match="reserved sample-size"):
        decode_flac(bytes(d))


def _recrc8(hdr_bytes):
    from detanalysis_spark.llm.flac import _crc8
    return _crc8(hdr_bytes)


def test_flac_lpc_subframe_decode():
    # the test encoder never emits LPC; hand-assemble an LPC subframe
    # (order 2, shift 1, coefs [3, -1]) and check _read_subframe against
    # the spec recurrence a[i] = ((3*a[i-1] - a[i-2]) >> 1) + res[i]
    from detanalysis_spark.llm import flac as FL
    rng = np.random.default_rng(3)
    bps, n, order, shift = 16, 64, 2, 1
    coef = [3, -1]
    warm = [100, 120]
    res = rng.integers(-40, 40, size=n - order)
    w = FL._BitWriter()
    w.write(0, 1)                        # padding
    w.write(32 + order - 1, 6)           # LPC, order 2
    w.write(0, 1)                        # no wasted bits
    for v in warm:
        w.write(v, bps)
    w.write(15 - 1, 4)                   # precision 15
    w.write(shift, 5)
    for c in coef:
        w.write(c, 15)
    w.write(0, 2)                        # rice 4-bit
    w.write(0, 4)                        # partition order 0
    w.write(6, 4)                        # rice parameter
    for v in res:
        z = (int(v) << 1) ^ (int(v) >> 63)
        w.unary(z >> 6)
        w.write(z & 63, 6)
    w.align()
    out = FL._read_subframe(FL._BitReader(bytes(w.out)), n, bps)
    want = np.empty(n, dtype=np.int64)
    want[:order] = warm
    for i in range(order, n):
        want[i] = ((3 * want[i - 1] - want[i - 2]) >> shift) \
            + res[i - order]
    np.testing.assert_array_equal(out, want)


def test_audio_features_flac_format(spark):
    from detanalysis_spark.llm.flac import encode_flac
    mono = _sine(2048, seed=9)
    q = np.round(np.clip(mono, -1, 1) * 32768)
    q = np.clip(q, -32768, 32767) / 32768.0
    payload = encode_flac(mono, 16000, mode="fixed")
    df = spark.createDataFrame([(4, bytearray(payload))],
                               ["audio_id", "payload"])
    out = M.audio_features(df, "audio_id", frame_samples=256,
                           payload_format="FLAC").collect()[0]
    assert out["rms"] == pytest.approx(
        float(np.sqrt(np.mean(q ** 2))), rel=1e-9)
    assert len(out["frame_energy"]) == 8


def test_jpeg_progressive_decode_equals_baseline():
    # both encoder paths quantize identically, so the progressive
    # multi-scan decode (DC SA + spectral bands + AC refinement) must
    # reproduce the baseline decode BIT-FOR-BIT; checked across
    # subsampling, restart markers, dense-AC noise, and odd dims
    from detanalysis_spark.llm.jpeg import decode_jpeg, encode_jpeg
    rng = np.random.default_rng(11)
    cases = [
        (_smooth_rgb(40, 56, seed=3), dict(quality=85)),
        (_smooth_rgb(40, 56, seed=3), dict(quality=85, subsample=True)),
        (_smooth_rgb(40, 56, seed=3), dict(quality=85,
                                           restart_interval=3)),
        (rng.random((37, 29, 3)), dict(quality=50)),   # dense AC
        (rng.random((17, 13, 1)), dict(quality=75)),   # grayscale
        (rng.random((24, 24, 3)), dict(quality=100)),  # unit quant
    ]
    for img, kw in cases:
        base = decode_jpeg(encode_jpeg(img, **kw))
        prog = decode_jpeg(encode_jpeg(img, progressive=True, **kw))
        assert np.array_equal(base, prog), kw
    d = encode_jpeg(cases[0][0], progressive=True, quality=85)
    assert b"\xff\xc2" in d                 # really SOF2 multi-scan
    assert d.count(b"\xff\xda") > 2         # multiple SOS segments


def test_jpeg_progressive_constant_blocks_exact():
    from detanalysis_spark.llm.jpeg import decode_jpeg, encode_jpeg
    img = np.zeros((8, 16, 1))
    img[:, :8, 0] = 37 / 255.0
    img[:, 8:, 0] = 201 / 255.0
    out = decode_jpeg(encode_jpeg(img, quality=100, progressive=True))
    np.testing.assert_allclose(out, img, atol=1e-12)


def test_jpeg_progressive_vs_pil_reference():
    PIL = pytest.importorskip("PIL.Image")
    import io
    from detanalysis_spark.llm.jpeg import decode_jpeg
    img = (_smooth_rgb(32, 32, seed=9) * 255).astype(np.uint8)
    buf = io.BytesIO()
    PIL.fromarray(img).save(buf, format="JPEG", quality=90,
                            progressive=True)
    ours = decode_jpeg(buf.getvalue())
    ref = np.asarray(PIL.open(io.BytesIO(buf.getvalue())),
                     dtype=np.float64) / 255.0
    assert float(np.abs(ours - ref).max()) < 0.02


def test_png_adam7_interlaced_roundtrip():
    # Adam7: seven independently-filtered passes scattered back onto
    # the pixel grid; shapes chosen to exercise empty and 1-wide passes
    rng = np.random.default_rng(8)
    for (h, w, c) in ((9, 7, 3), (16, 16, 1), (5, 3, 4), (1, 1, 1)):
        img = np.round(rng.random((h, w, c)) * 255) / 255.0
        for ft in (0, 1, 2):
            data = M.encode_png(img, filter_type=ft, interlace=True)
            dec = M.decode_png(data)
            assert dec.shape == (h, w, c)
            assert np.allclose(dec, img, atol=1e-12), (h, w, c, ft)


def test_png_adam7_vs_pil_reference():
    PIL = pytest.importorskip("PIL.Image")
    import io
    rng = np.random.default_rng(12)
    img = (rng.random((13, 11, 3)) * 255).astype(np.uint8)
    data = M.encode_png(img / 255.0, filter_type=1, interlace=True)
    ref = np.asarray(PIL.open(io.BytesIO(data)), dtype=np.float64) / 255.0
    ours = M.decode_png(data)
    np.testing.assert_allclose(ours, ref, atol=1e-12)


def test_png_16bit_roundtrip():
    # 16-bit samples: filters reference the previous PIXEL (2c bytes
    # back), and samples reassemble big-endian — exact on the u16 grid
    rng = np.random.default_rng(9)
    for (h, w, c) in ((9, 7, 3), (5, 3, 1)):
        img = np.round(rng.random((h, w, c)) * 65535) / 65535.0
        for ft in (0, 1, 2):
            for il in (False, True):
                dec = M.decode_png(M.encode_png(
                    img, filter_type=ft, interlace=il, depth=16))
                assert dec.shape == (h, w, c)
                assert np.allclose(dec, img, atol=1e-12), (ft, il)


def test_png_16bit_vs_pil_reference():
    PIL = pytest.importorskip("PIL.Image")
    import io
    rng = np.random.default_rng(14)
    img = np.round(rng.random((11, 13, 1)) * 65535) / 65535.0
    data = M.encode_png(img, filter_type=2, depth=16)
    ref = np.asarray(PIL.open(io.BytesIO(data)),
                     dtype=np.float64)[:, :, None] / 65535.0
    np.testing.assert_allclose(M.decode_png(data), ref, atol=1e-12)


def test_wav_24bit_decode():
    import io
    import wave
    rng = np.random.default_rng(15)
    vals = rng.integers(-(1 << 23), 1 << 23, size=500, dtype=np.int64)
    pcm = b"".join(int(v & 0xFFFFFF).to_bytes(3, "little") for v in vals)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(3)
        wf.setframerate(48000)
        wf.writeframes(pcm)
    x, rate = M.decode_wav(buf.getvalue())
    assert rate == 48000 and x.shape == (500, 1)
    np.testing.assert_allclose(x[:, 0], vals / 8388608.0, atol=1e-12)


# ----------------------------------------------------------------------
# perceptual image hashing (aHash/dHash) + banded near-dup screen
# ----------------------------------------------------------------------
def _raw8_df(spark, images):
    from detanalysis_spark.llm.multimodal import encode_raw8
    rows = [(i, bytearray(encode_raw8(img)), img.shape[1], img.shape[0],
             img.shape[2], "RAW8") for i, img in enumerate(images)]
    return spark.createDataFrame(
        rows, "img_id long, payload binary, width int, height int, "
              "channels int, format string")


def test_image_phash_matches_python_replay(spark):
    # image convention throughout multimodal.py: float in [0, 1];
    # the replay applies the encode->decode uint8 quantization first
    from detanalysis_spark.llm.multimodal import (ahash_array, dhash_array,
                                                  image_phash,
                                                  resize_bilinear)
    rng = np.random.default_rng(11)
    imgs = [rng.random((8, 8, 1)) for _ in range(6)]
    q = [(np.clip(im, 0, 1) * 255).astype(np.uint8) / 255.0
         for im in imgs]   # encode_raw8 TRUNCATES (astype), not rounds
    df = _raw8_df(spark, imgs)
    got = {r.img_id: r.phash
           for r in image_phash(df, "img_id").collect()}
    for i, img in enumerate(q):
        assert got[i] == ahash_array(img.mean(axis=2))
    # dHash path resizes 8x8 -> 8x9 then takes gradient signs; replay
    # through the same resize helper
    got_d = {r.img_id: r.phash
             for r in image_phash(df, "img_id", method="dhash").collect()}
    for i, img in enumerate(q):
        lum9 = resize_bilinear(img, 9, 8).mean(axis=2)
        assert got_d[i] == dhash_array(lum9)


def test_image_near_dup_pairs_planted(spark):
    from detanalysis_spark.llm.multimodal import image_near_dup_pairs
    rng = np.random.default_rng(23)
    base = rng.uniform(0.15, 0.85, (16, 16, 1))
    near = base.copy()
    near[3, 4, 0] += 0.02                   # tiny luminance nudge
    others = [rng.random((16, 16, 1)) for _ in range(8)]
    df = _raw8_df(spark, [base, near] + others)
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in image_near_dup_pairs(
                 df.withColumnRenamed("img_id", "id"), "id",
                 max_hamming=6).collect()}
    assert (0, 1) in pairs                  # planted near-dup collides
    assert pairs[(0, 1)] <= 6
    assert all(a == 0 and b == 1 for (a, b) in pairs), pairs


def test_hash_bands_reassemble_and_hamming_kernel(spark):
    # the 8 band buckets reassemble into the original hash — pins the
    # shiftrightunsigned/mask arithmetic incl. the sign bit
    from detanalysis_spark.llm.dedup import (_hamming_band_pairs,
                                             hash_band_explode)
    vals = [0, -1, 2**63 - 1, -2**63, 0x923456789ABCDEF0 - 2**64]
    hashes = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, phash long")
    rows = hash_band_explode(hashes, "id", "phash", 8).collect()
    back = {}
    for r in rows:
        back[r.id] = back.get(r.id, 0) | (r.bucket << (r.band * 8))
    for i, v in enumerate(vals):
        assert back[i] & (2**64 - 1) == v & (2**64 - 1)
    with pytest.raises(ValueError, match="divide 64"):
        hash_band_explode(hashes, "id", "phash", 5)

    # the shared hamming kernel equals brute force over every row pair
    # with id_a < id_b below the band count (pigeonhole), including a
    # duplicated id (each of its rows pairs) and a NULL id (never pairs)
    planted = list(enumerate(vals)) + [
        (5, 1), (6, 0b111), (6, -2), (7, 2**40), (8, -1), (None, 0),
        (None, 1)]
    hdf = spark.createDataFrame(planted, "id long, phash long")

    def ham(x, y):
        return bin((x ^ y) & (2**64 - 1)).count("1")

    for h in (0, 3, 7):
        got = sorted(tuple(r) for r in
                     _hamming_band_pairs(hdf, "id", "phash", 8, h)
                     .collect())
        want = sorted((a, b, ham(x, y))
                      for a, x in planted for b, y in planted
                      if a is not None and b is not None and a < b
                      and ham(x, y) <= h)
        assert got == want, h


# ----------------------------------------------------------------------
# audio fingerprinting (Haitsma-Kalker-style spectral-sign bits)
# ----------------------------------------------------------------------
def _pcm16_df(spark, signals):
    rows = [(i, bytearray((np.clip(x, -1, 1) * 32767)
                          .astype("<i2").tobytes()))
            for i, x in enumerate(signals)]
    return spark.createDataFrame(rows, "clip_id long, payload binary")


def _tone_mix(seed, n=8192):
    rng = np.random.default_rng(seed)
    t = np.arange(n) / 16000.0
    x = np.zeros(n)
    for _ in range(4):
        f = rng.uniform(100, 6000)
        x += rng.uniform(0.1, 0.3) * np.sin(2 * np.pi * f * t)
    return x


def test_audio_fingerprint_matches_python_replay(spark):
    from detanalysis_spark.llm.multimodal import (audio_fingerprint,
                                                  audio_fingerprint_array)
    sigs = [_tone_mix(s) for s in range(5)] + [np.zeros(100)]
    df = _pcm16_df(spark, sigs)
    got = {r.clip_id: r.fingerprint
           for r in audio_fingerprint(df, "clip_id").collect()}
    for i, x in enumerate(sigs):
        q = np.frombuffer((np.clip(x, -1, 1) * 32767)
                          .astype("<i2").tobytes(), dtype="<i2") / 32768.0
        assert got[i] == audio_fingerprint_array(q.astype(np.float64))
    assert got[5] == 0                       # too short -> sentinel 0


def test_audio_fingerprint_robust_to_volume_and_noise(spark):
    from detanalysis_spark.llm.multimodal import (audio_fingerprint_array,
                                                  audio_near_dup_pairs)
    base = _tone_mix(99)
    quiet = 0.5 * base                       # volume change
    rng = np.random.default_rng(7)
    noisy = base + 0.002 * rng.standard_normal(base.size)
    others = [_tone_mix(200 + s) for s in range(6)]
    # volume scaling preserves every energy-delta SIGN -> identical bits
    f0 = audio_fingerprint_array(base)
    assert audio_fingerprint_array(quiet) == f0
    df = _pcm16_df(spark, [base, noisy] + others)
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in audio_near_dup_pairs(df, "clip_id",
                                           max_hamming=8).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] <= 8
    assert all(a == 0 and b == 1 for (a, b) in pairs), pairs


def test_audio_fingerprint_constructible_bits_exact():
    # the suite's audio_fingerprint_pairs oracle rests on this claim:
    # a clip built as 9 frames of 9 exact-bin sinusoids whose band
    # energies are the 2D prefix-sum of a designed ±1 grid fingerprints
    # to EXACTLY the designed 64 bits (zero leakage at integer-period
    # bins; the ±0.5 energy margin dwarfs int16 quantization). Full
    # replay of the suite construction for a spread of ids, including
    # a planted 0.7x-volume copy (offset 1: bit 5 flipped).
    from detanalysis_spark.llm.multimodal import audio_fingerprint_array
    kbins = [1, 2, 3, 5, 9, 15, 25, 44, 75]
    n = np.arange(256)

    def designed_bits(d):
        off = d % 50
        k = d - off if off <= 1 else d
        b = np.array([((k * 167 + i * 97 + k * i * 59) % 311) < 124
                      for i in range(64)])
        if off == 1:
            b[5] = ~b[5]
        return b

    for d in (0, 1, 2, 50, 51, 137, 146, 225, 299):
        bits = designed_bits(d)
        V = np.where(bits.reshape(8, 8), 1.0, -1.0)
        P = np.zeros((9, 9))
        P[1:, 1:] = V.cumsum(0).cumsum(1)
        A = np.sqrt(0.5 * (P + 100.0) / 16384.0)
        x = np.concatenate(
            [sum(A[t, b] * np.sin(2 * np.pi * kbins[b] * n / 256.0)
                 for b in range(9)) for t in range(9)])
        if d % 50 == 1:
            x = 0.7 * x
        pcm = np.frombuffer((x * 32767).astype("<i2").tobytes(),
                            dtype="<i2") / 32768.0
        fp = audio_fingerprint_array(pcm.astype(np.float64))
        want = int((bits.astype(np.uint64)
                    << np.arange(64, dtype=np.uint64)).sum()
                   .astype(np.uint64).view(np.int64))
        assert fp == want, f"id {d}: designed bits not reproduced"
    # the planted pair is hamming-1 by construction
    assert (designed_bits(0) != designed_bits(1)).sum() == 1


def test_audio_fingerprint_tiny_frame_guard():
    # regression (round-6 review): frame_samples too small for the
    # band count must raise a clear ValueError, not IndexError inside
    # np.add.reduceat on every Spark task
    from detanalysis_spark.llm.multimodal import audio_fingerprint_array
    x = np.sin(np.arange(4096) / 10.0)
    with pytest.raises(ValueError, match="frame_samples"):
        audio_fingerprint_array(x, frame_samples=16)
    # smallest legal frame still fingerprints
    assert isinstance(audio_fingerprint_array(x, frame_samples=20), int)


def test_audio_fingerprint_driver_side_config_guard(spark):
    # the frame_samples config error must surface at plan-BUILD time
    # on the driver, not as retried task failures at action time
    from detanalysis_spark.llm.multimodal import (audio_fingerprint,
                                                  audio_near_dup_pairs)
    df = _pcm16_df(spark, [np.zeros(64)])
    with pytest.raises(ValueError, match="frame_samples"):
        audio_fingerprint(df, "clip_id", frame_samples=16)
    with pytest.raises(ValueError, match="frame_samples"):
        audio_near_dup_pairs(df, "clip_id", frame_samples=16)


# ----------------------------------------------------------------------
# corrupt-payload quarantine (VERDICT r10 #1): one bad payload among
# good ones must not fail the job in quarantine mode, and the default
# raise mode must keep its fail-stop semantics.
# ----------------------------------------------------------------------
def _mixed_jpeg_df(spark):
    """4 good baseline JPEGs + 1 truncated + 1 arithmetic-coded (SOF9)."""
    from detanalysis_spark.llm.jpeg import encode_jpeg
    rng = np.random.default_rng(7)
    good = [encode_jpeg(rng.random((8, 8, 1)), quality=90)
            for _ in range(4)]
    truncated = good[0][:12]                 # dies in marker/entropy parse
    sof9 = good[1].replace(b"\xff\xc0", b"\xff\xc9", 1)  # arithmetic SOF
    rows = [(i, bytearray(p), 8, 8, 1, "JPEG")
            for i, p in enumerate(good + [truncated, sof9])]
    return spark.createDataFrame(
        rows, "img_id long, payload binary, width int, height int, "
              "channels int, format string")


def test_image_quarantine_survives_corrupt_payloads(spark):
    from detanalysis_spark.llm.multimodal import (image_features,
                                                  image_near_dup_pairs,
                                                  image_phash)
    df = _mixed_jpeg_df(spark)

    # default mode is fail-stop (curated-fixture semantics preserved)
    with pytest.raises(Exception):
        image_features(df, "img_id").collect()
    with pytest.raises(ValueError, match="on_error"):
        image_features(df, "img_id", on_error="skip")

    feats = image_features(df, "img_id", on_error="quarantine").collect()
    assert len(feats) == 6
    by_id = {r.img_id: r for r in feats}
    for i in range(4):
        assert by_id[i].corrupt_reason is None
        assert by_id[i].mean_lum is not None and by_id[i].resized
    assert by_id[4].mean_lum is None and by_id[4].resized is None
    assert "JPEG" in by_id[4].corrupt_reason        # truncated stream
    assert "SOF9" in by_id[5].corrupt_reason        # arithmetic-coded
    assert by_id[5].mean_lum is None

    hashes = image_phash(df, "img_id", on_error="quarantine").collect()
    assert sorted(r.img_id for r in hashes
                  if r.corrupt_reason is not None) == [4, 5]
    assert all(r.phash is not None for r in hashes
               if r.corrupt_reason is None)

    # pair search completes, corrupt rows just can't pair
    pairs = image_near_dup_pairs(df, "img_id", on_error="quarantine") \
        .collect()
    assert all(r.id_a < 4 and r.id_b < 4 for r in pairs)


def test_audio_quarantine_survives_corrupt_payloads(spark):
    from detanalysis_spark.llm.multimodal import (audio_features,
                                                  audio_fingerprint,
                                                  encode_wav)
    rng = np.random.default_rng(9)
    good = [encode_wav(rng.uniform(-0.5, 0.5, 2048), 8000)
            for _ in range(3)]
    bad = good[0][:20]                       # truncated WAV header/body
    rows = [(i, bytearray(p)) for i, p in enumerate(good + [bad])]
    df = spark.createDataFrame(rows, "clip_id long, payload binary")

    with pytest.raises(Exception):
        audio_features(df, "clip_id", payload_format="WAV").collect()

    feats = audio_features(df, "clip_id", payload_format="WAV",
                           on_error="quarantine").collect()
    assert len(feats) == 4
    by_id = {r.clip_id: r for r in feats}
    assert by_id[3].rms is None and by_id[3].corrupt_reason
    assert all(by_id[i].corrupt_reason is None and by_id[i].rms is not None
               for i in range(3))

    fps = audio_fingerprint(df, "clip_id", payload_format="WAV",
                            on_error="quarantine").collect()
    assert sorted(r.clip_id for r in fps
                  if r.corrupt_reason is not None) == [3]


def test_quarantine_kernel_ids_classes_and_reason_length(spark, tmp_path):
    """The one row-map kernel behind every decode operator: the id
    column passes through under any name (pandas renames ``_id`` and
    ``doc-id`` on itertuples rows), raise mode surfaces the row
    function's own exception class, and a quarantine reason is cut to
    exactly 300 chars — from a multimodal operator and a shard reader
    alike."""
    import gzip

    from detanalysis_spark.sources.textio import read_wet_quarantine

    rng = np.random.default_rng(21)
    ids = [7, 11, 42]
    rows = [(i, bytearray(M.encode_png(rng.random((8, 8, 3)))),
             bytearray((rng.uniform(-0.5, 0.5, 1024) * 32767)
                       .astype("<i2").tobytes()),
             8, 8, 3, "PNG") for i in ids]
    for id_col in ("_id", "doc-id"):
        df = spark.createDataFrame(rows, StructType([
            StructField(id_col, LongType()),
            StructField("payload", BinaryType()),
            StructField("audio", BinaryType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
            StructField("channels", IntegerType()),
            StructField("format", StringType())]))
        ops = {
            "image_header_info": lambda m: M.image_header_info(
                df, id_col, on_error=m),
            "image_features": lambda m: M.image_features(
                df, id_col, on_error=m),
            "image_phash": lambda m: M.image_phash(
                df, id_col, on_error=m),
            "audio_features": lambda m: M.audio_features(
                df, id_col, payload_col="audio", on_error=m),
            "audio_fingerprint": lambda m: M.audio_fingerprint(
                df, id_col, payload_col="audio", on_error=m),
        }
        for name, op in ops.items():
            for mode in ("raise", "quarantine"):
                out = op(mode)
                assert out.columns[0] == id_col, (name, mode)
                got = out.collect()
                assert sorted(r[0] for r in got) == ids, (name, mode)
                assert ("corrupt_reason" in out.columns) == (
                    mode == "quarantine"), (name, mode)
                if mode == "quarantine":
                    assert all(r.corrupt_reason is None for r in got)

    # a format no codec handles: NotImplementedError naming the format
    odd = spark.createDataFrame(
        [(1, bytearray(b"\x00" * 16), 4, 4, 1, "Z" * 400)],
        "img_id long, payload binary, width int, height int, "
        "channels int, format string")
    with pytest.raises(Exception, match="NotImplementedError: format"):
        M.image_features(odd, "img_id", on_error="raise").collect()
    (r,) = M.image_features(odd, "img_id", on_error="quarantine").collect()
    assert r.mean_lum is None
    assert r.corrupt_reason.startswith("NotImplementedError: format 'ZZ")
    assert len(r.corrupt_reason) == 300

    # a shard reader: an over-cap bomb whose long path overruns the cut
    # (the reason still names max_shard_bytes, which the path follows)
    p = tmp_path / "wetq"
    p.mkdir()
    (p / ("b" * 200 + ".txt.gz")).write_bytes(gzip.compress(b"A" * 4096))
    recs, bad = read_wet_quarantine(spark, str(p), max_shard_bytes=1024)
    assert recs.count() == 0
    (b,) = bad.collect()
    assert b.corrupt_reason.startswith(
        "ValueError: read_wet_quarantine: shard decompresses past "
        "max_shard_bytes=1024")
    assert len(b.corrupt_reason) == 300


def test_quarantine_keeps_64bit_hashes_exact(spark):
    """A NULL-output row must not turn a batch's 64-bit hashes into
    float64: quarantine-mode phashes of the good images equal the
    raise-mode ones bit for bit."""
    rng = np.random.default_rng(5)
    good = [(i, bytearray(M.encode_raw8(rng.random((8, 8, 1)))),
             8, 8, 1, "RAW8") for i in range(8)]
    bad = [(99, bytearray(b"\x00" * 4), 8, 8, 1, "WEBP")]
    ddl = ("img_id long, payload binary, width int, height int, "
           "channels int, format string")
    want = {r.img_id: r.phash for r in M.image_phash(
        spark.createDataFrame(good, ddl).coalesce(1), "img_id").collect()}
    assert any(abs(h) > 2 ** 53 for h in want.values())
    got = {r.img_id: r.phash for r in M.image_phash(
        spark.createDataFrame(good + bad, ddl).coalesce(1), "img_id",
        on_error="quarantine").collect()}
    assert got.pop(99) is None
    assert got == want


def test_sniff_image_header_all_formats(spark):
    """Header-only metadata sniff (round 11): real PNG/JPEG encoder
    output plus spec-built GIF/BMP headers all report (format, w, h)
    without any pixel decode; corrupt/unknown payloads quarantine."""
    import struct

    from detanalysis_spark.llm.jpeg import encode_jpeg
    from detanalysis_spark.llm.multimodal import (encode_png,
                                                  image_header_info,
                                                  sniff_image_header)

    png = encode_png(np.ones((7, 5, 3)) * 0.5)
    jp = encode_jpeg(np.ones((8, 16, 1)) * 0.3, quality=90)
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 6
    bmp = b"BM" + b"\x00" * 12 + struct.pack("<I", 40) \
        + struct.pack("<ii", 640, -480) + b"\x00" * 8
    assert sniff_image_header(png) == ("PNG", 5, 7)
    assert sniff_image_header(jp) == ("JPEG", 16, 8)
    assert sniff_image_header(gif) == ("GIF", 320, 200)
    assert sniff_image_header(bmp) == ("BMP", 640, 480)
    with pytest.raises(ValueError):
        sniff_image_header(jp[:10])            # no SOF reached
    with pytest.raises(ValueError, match="unknown image magic"):
        sniff_image_header(b"\x00\x01\x02\x03")

    rows = [(0, bytearray(png)), (1, bytearray(jp)),
            (2, bytearray(gif)), (3, bytearray(bmp)),
            (4, bytearray(b"garbage!"))]
    df = spark.createDataFrame(rows, "img_id long, payload binary")
    got = {r.img_id: r for r in
           image_header_info(df, "img_id").collect()}
    assert (got[0].format, got[0].width, got[0].height) == ("PNG", 5, 7)
    assert (got[1].format, got[1].width, got[1].height) == ("JPEG", 16, 8)
    assert got[4].format is None and got[4].corrupt_reason
    with pytest.raises(Exception):
        image_header_info(df, "img_id", on_error="raise").collect()


def test_sniff_image_header_rare_valid_classes():
    """VERDICT r11 #2: valid-but-rare classes a 100 TB crawl contains —
    legacy BITMAPCOREHEADER BMPs (12-byte DIB, uint16 dims) must parse
    correctly (not return int32 garbage silently), and spec-legal JPEG
    0xFF fill bytes between segments must not desync the marker scan;
    the scan stops at SOS/EOI instead of wandering into entropy data."""
    import struct

    from detanalysis_spark.llm.jpeg import encode_jpeg
    from detanalysis_spark.llm.multimodal import sniff_image_header

    # legacy BITMAPCOREHEADER: uint16 dims at offsets 18/20
    core = b"BM" + b"\x00" * 12 + struct.pack("<I", 12) \
        + struct.pack("<HH", 123, 45) + b"\x00" * 8
    assert sniff_image_header(core) == ("BMP", 123, 45)

    # under the old int32-at-18 read this payload decoded to garbage;
    # make sure the core branch is actually taken: dims where the
    # int32 interpretation would differ
    core2 = b"BM" + b"\x00" * 12 + struct.pack("<I", 12) \
        + struct.pack("<HH", 1, 1) + b"\x00" * 8
    assert sniff_image_header(core2) == ("BMP", 1, 1)

    # BITMAPV4/V5 header sizes parse through the INFOHEADER branch
    v5 = b"BM" + b"\x00" * 12 + struct.pack("<I", 124) \
        + struct.pack("<ii", 77, 88) + b"\x00" * 8
    assert sniff_image_header(v5) == ("BMP", 77, 88)

    # unknown DIB size / non-positive width raise instead of garbage
    with pytest.raises(ValueError, match="DIB header size"):
        sniff_image_header(b"BM" + b"\x00" * 12 + struct.pack("<I", 7)
                           + b"\x00" * 16)
    with pytest.raises(ValueError, match="non-positive"):
        sniff_image_header(b"BM" + b"\x00" * 12 + struct.pack("<I", 40)
                           + struct.pack("<ii", -5, 10) + b"\x00" * 8)

    # JPEG fill bytes: extra 0xFF padding before markers is spec-legal
    jp = encode_jpeg(np.ones((8, 16, 1)) * 0.3, quality=90)
    padded = jp[:2] + b"\xff\xff\xff" + jp[2:]
    assert sniff_image_header(padded) == ("JPEG", 16, 8)

    # scan must stop at EOI (no SOF seen -> clean error, no desync):
    # SOI + padding + EOI only
    with pytest.raises(ValueError, match="no SOF"):
        sniff_image_header(b"\xff\xd8\xff\xff\xff\xd9")
    # and at SOS: SOI + DQT-like segment + SOS then entropy bytes that
    # would desync a naive scanner
    sos_first = (b"\xff\xd8"
                 + b"\xff\xdb" + struct.pack(">H", 4) + b"\x00\x00"
                 + b"\xff\xda" + struct.pack(">H", 4) + b"\x00\x00"
                 + b"\x12\x34\x56\x78")      # entropy data, no 0xFF
    with pytest.raises(ValueError, match="no SOF"):
        sniff_image_header(sos_first)
