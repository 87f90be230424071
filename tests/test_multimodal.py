"""Multimodal codecs and operators: decode parity, determinism, edge inputs."""

import numpy as np
import pytest

from webdq import multimodal

_TRUNCATED_P6 = b"P6\n4 2\n255\n" + bytes([200] * 6)


def test_ppm_real_decode_roundtrip(spark):
    """The pure-numpy PPM parser decodes a known image exactly."""
    w, h = 5, 3
    body = bytes(range(w * h * 3))
    payload = b"P6\n" + f"{w} {h}\n255\n".encode() + body
    w2, h2, ch, mean, hist = multimodal._image_features(payload)
    assert (w2, h2, ch) == (w, h, 3)
    assert abs(mean - np.mean(np.frombuffer(body, dtype=np.uint8))) < 1e-12
    assert abs(sum(hist) - 1.0) < 1e-6
    # comment lines in the header are PPM-legal
    payload_c = b"P6\n# a comment\n" + f"{w} {h}\n255\n".encode() + body
    assert multimodal._image_features(payload_c)[:2] == (w, h)


def test_ppm_media_from_documents(spark):
    m = multimodal.ppm_media_from_documents(spark, "/root/testdata/sf0.001")
    out = multimodal.decode_image_features(m).collect()
    assert len(out) == m.count()
    for r in out:
        assert 4 <= r["width"] <= 16 and 4 <= r["height"] <= 14 and r["channels"] == 3
        assert 0.0 <= r["mean_byte"] <= 255.0
        h = np.array(r["byte_hist"])
        assert len(h) == 16 and abs(h.sum() - 1.0) < 1e-5


def test_wav_decode_matches_stdlib(spark):
    """The numpy WAV parser agrees with python's stdlib wave module."""
    import io
    import wave

    m = multimodal.wav_media_from_documents(spark, "/root/testdata/sf0.001")
    feats = {r["media_id"]: r for r in multimodal.decode_audio_features(m).collect()}
    rows = m.collect()
    assert rows and len(feats) == len(rows)
    for row in rows:
        payload = bytes(row["payload"])
        r = feats[row["media_id"]]
        with wave.open(io.BytesIO(payload)) as wf:
            assert r["sample_rate"] == wf.getframerate()
            assert r["n_channels"] == wf.getnchannels()
            assert r["n_samples"] == wf.getnframes()
            pcm = np.frombuffer(wf.readframes(wf.getnframes()), dtype="<i2") / 32768.0
        assert abs(r["duration_s"] - r["n_samples"] / r["sample_rate"]) < 1e-12
        np.testing.assert_allclose(r["rms"], np.sqrt((pcm**2).mean()), rtol=1e-12)


def test_compressed_codecs_fail_loudly_on_malformed(spark):
    """P6, JPEG and PNG decode for real; malformed streams must fail
    loudly (decode errors), never silently zero out or return plausible
    wrong values."""
    import pytest as _pytest

    from webdq.jpegcodec import JpegDecodeError
    from webdq.pngcodec import PngDecodeError

    with _pytest.raises(JpegDecodeError):
        multimodal._image_features(b"\xff\xd8\xff\xe0" + b"\x00" * 32)
    with _pytest.raises(PngDecodeError):
        multimodal._image_features(b"\x89PNG\r\n\x1a\n" + b"\x00" * 32)
    # a 4x2 P6 carrying 6 of its 24 body bytes
    with _pytest.raises(ValueError):
        multimodal._image_features(_TRUNCATED_P6)


def test_png_roundtrip_lossless_and_thirdparty():
    import os

    import pytest as _pytest

    from webdq.pngcodec import decode_png, encode_png

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(21, 33, 3), dtype=np.uint8)
    np.testing.assert_array_equal(decode_png(encode_png(img)), img)
    gray = rng.randint(0, 256, size=(7, 9), dtype=np.uint8)
    np.testing.assert_array_equal(decode_png(encode_png(gray))[:, :, 0], gray)

    base = "/mnt/sandboxing/model_tools_env/v1/python/install"
    candidates = [
        (f"{base}/lib/python3.11/site-packages/IPython/core/tests/2x2.png", (2, 2)),
        (f"{base}/lib/python3.11/idlelib/Icons/idle_16.png", (16, 16)),
        (f"{base}/share/jupyter/kernels/python3/logo-32x32.png", (32, 32)),
    ]
    found = [(p, d) for p, d in candidates if os.path.exists(p)]
    if not found:
        _pytest.skip("no third-party PNG assets in this container")
    for path, (h, w) in found:
        im = decode_png(open(path, "rb").read())
        assert im.shape == (h, w, 3)


def test_png_media_decode_matches_formula(spark):
    media = multimodal.png_media_from_documents(spark, "/root/testdata/sf0.001")
    got = multimodal.decode_image_features(media).toPandas().set_index("media_id").sort_index()
    for did in got.index[:50]:
        r = got.loc[did]
        w, h = 5 + did % 8, 4 + (did // 8) % 6
        assert (r["width"], r["height"], r["channels"]) == (w, h, 3)
        exp = float(((did * 31 + np.arange(h * w * 3, dtype=np.int64)) % 256).mean())
        np.testing.assert_allclose(r["mean_byte"], exp, rtol=0, atol=1e-12)


def test_avi_writer_layout_fixed_offsets(spark):
    """Writer byte-layout checked independently of the parser: RIFF
    magic, avih fields and the first '00db' chunk located by manual
    offset arithmetic (so a symmetric writer+parser bug cannot hide)."""
    import struct

    p = bytes(
        multimodal.synth_avi_media(spark, 3, partitions=1)
        .filter("media_id = 2")
        .collect()[0]["payload"]
    )
    mid = 2
    w, h, nf = 8 + mid % 8, 6 + mid % 5, 2 + mid % 7
    row_bytes = (w * 3 + 3) // 4 * 4
    frame_sz = row_bytes * h
    assert p[:4] == b"RIFF" and p[8:12] == b"AVI "
    # hdrl LIST starts at 12; avih chunk at 12+12; its 40-byte body at +8
    assert p[12:16] == b"LIST" and p[20:24] == b"hdrl"
    assert p[24:28] == b"avih"
    avih = struct.unpack("<10I", p[32:72])
    assert (avih[4], avih[8], avih[9]) == (nf, w, h)
    # movi LIST: after hdrl (12 + 8 + hdrl_size); first frame chunk follows 'movi'
    hdrl_size = struct.unpack("<I", p[16:20])[0]
    movi_at = 12 + 8 + hdrl_size + (hdrl_size % 2)
    assert p[movi_at : movi_at + 4] == b"LIST" and p[movi_at + 8 : movi_at + 12] == b"movi"
    f0_at = movi_at + 12
    assert p[f0_at : f0_at + 4] == b"00db"
    assert struct.unpack("<I", p[f0_at + 4 : f0_at + 8])[0] == frame_sz
    got = np.frombuffer(p[f0_at + 8 : f0_at + 8 + frame_sz], dtype=np.uint8)
    np.testing.assert_array_equal(got, multimodal._avi_frame_bytes(mid, 0, w, h))


def test_avi_sample_frames_real(spark):
    """Chunk-walk frame sampling over the real AVI container: every
    2nd frame, exact bytes per the deterministic pixel rule."""
    media = multimodal.synth_avi_media(spark, 12, partitions=3)
    out = multimodal.sample_frames_avi(media, every=2).toPandas()
    for mid in range(12):
        w, h, nf = 8 + mid % 8, 6 + mid % 5, 2 + mid % 7
        sub = out[out["media_id"] == mid].sort_values("frame_no")
        assert list(sub["frame_no"]) == list(range(0, nf, 2))
        for _, r in sub.iterrows():
            np.testing.assert_array_equal(
                np.frombuffer(r["frame"], dtype=np.uint8),
                multimodal._avi_frame_bytes(mid, int(r["frame_no"]), w, h),
            )


def test_avi_parser_rejects_non_avi(spark):
    assert multimodal._parse_avi(b"RIFFxxxxWAVE") is None
    assert multimodal._parse_avi(b"\xff\xd8junk") is None
    assert multimodal._parse_avi(None) is None


def test_jpeg_roundtrip_gradient():
    """Full encode→decode through DCT/quant/huffman on a smooth
    gradient: max per-pixel error ≤ 2 at quality 95."""
    from webdq.jpegcodec import decode_jpeg, encode_jpeg

    h, w = 40, 56
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.dstack(
        [(xx * 255 / w), (yy * 255 / h), ((xx + yy) * 255 / (w + h))]
    ).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(img, quality=95))
    assert dec.shape == (h, w, 3)
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 2


def test_jpeg_flat_colors_byte_exact():
    """Flat interior colors at quality 98 survive the lossy roundtrip
    BYTE-EXACTLY (DC quant step 1) — the property the q48 oracle
    stands on. Swept over colors and non-8-multiple dims."""
    from webdq.jpegcodec import decode_jpeg, encode_jpeg

    for seed in range(12):
        rgb = np.array(
            [seed * 19 % 224 + 16, seed * 37 % 224 + 16, seed * 53 % 224 + 16], dtype=np.uint8
        )
        h, w = 8 + seed % 7, 9 + seed % 9
        img = np.broadcast_to(rgb, (h, w, 3))
        dec = decode_jpeg(encode_jpeg(img, quality=98))
        assert dec.shape == (h, w, 3)
        np.testing.assert_array_equal(dec, img)


def test_jpeg_decodes_thirdparty_files():
    """Independent validation: baseline JPEGs produced by other
    encoders (CPython test-suite assets) must parse and decode with
    sane dimensions. Skipped if the assets are absent."""
    import os

    from webdq.jpegcodec import decode_jpeg

    base = "/mnt/sandboxing/model_tools_env/v1/python/install/lib/python3.11"
    candidates = [
        (f"{base}/test/imghdrdata/python.jpg", (16, 16)),
        (f"{base}/site-packages/IPython/core/tests/2x2.jpg", (2, 2)),
    ]
    found = [(p, d) for p, d in candidates if os.path.exists(p)]
    if not found:
        pytest.skip("no third-party JPEG assets in this container")
    for path, (h, w) in found:
        img = decode_jpeg(open(path, "rb").read())
        assert img.shape == (h, w, 3)
        assert 0.0 < float(img.mean()) < 255.0


def test_jpeg_media_decode_matches_formula(spark):
    """Distributed end-to-end: encode per-doc flat JPEGs, decode via
    mapInPandas, compare every field to the doc_id arithmetic the q48
    DuckDB oracle uses."""
    media = multimodal.jpeg_media_from_documents(spark, "/root/testdata/sf0.001")
    got = multimodal.decode_image_features(media).toPandas().set_index("media_id").sort_index()
    for did in got.index[:50]:
        r = got.loc[did]
        rgb = (did % 224 + 16, (did * 7) % 224 + 16, (did * 13) % 224 + 16)
        assert (r["width"], r["height"], r["channels"]) == (8 + did % 9, 8 + (did // 9) % 7, 3)
        np.testing.assert_allclose(r["mean_byte"], sum(rgb) / 3.0, rtol=0, atol=1e-12)




# ---- resize ----

def _ppm(img):
    import numpy as np

    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(img, dtype=np.uint8).tobytes()


def test_resize_nearest_matches_numpy(spark):
    import numpy as np

    rng = np.random.RandomState(3)
    imgs = {i: rng.randint(0, 256, size=(5 + i, 7 + 2 * i, 3), dtype=np.uint8) for i in range(4)}
    df = spark.createDataFrame(
        [(i, bytearray(_ppm(img))) for i, img in imgs.items()],
        "media_id long, payload binary",
    )
    out = {r["media_id"]: r for r in multimodal.resize_images(df, 6, 4).collect()}
    for i, img in imgs.items():
        h, w = img.shape[:2]
        ys = (np.arange(4) * h) // 4
        xs = (np.arange(6) * w) // 6
        exp = img[ys][:, xs]
        got = multimodal._decode_rgb(bytes(out[i]["payload"]))
        assert out[i]["width"] == 6 and out[i]["height"] == 4
        np.testing.assert_array_equal(got, exp, err_msg=f"img {i}")


def test_resize_edges(spark):
    import numpy as np
    import pytest

    img = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    df = spark.createDataFrame([(0, bytearray(_ppm(img)))], "media_id long, payload binary")
    # constant image stays constant, up- or down-sampled
    flat = np.full((5, 3, 3), 77, dtype=np.uint8)
    df2 = spark.createDataFrame([(1, bytearray(_ppm(flat)))], "media_id long, payload binary")
    got2 = multimodal._decode_rgb(
        bytes(multimodal.resize_images(df2, 9, 2).collect()[0]["payload"])
    )
    assert (got2 == 77).all()
    # undecodable payload -> total row, no task failure
    bad = spark.createDataFrame([(2, bytearray(b"not-an-image-at-all"))], "media_id long, payload binary")
    r = multimodal.resize_images(bad, 4, 4).collect()[0]
    assert r["payload"] is None and r["width"] == 0 and r["height"] == 0
    with pytest.raises(ValueError):
        multimodal.resize_images(df, 0, 4)


# ---- audio resample ----

def test_resample_audio_matches_numpy_and_stdlib(spark):
    import io
    import wave

    import numpy as np

    rng = np.random.RandomState(9)
    pcms = {i: rng.randint(-32768, 32768, size=300 + 40 * i).astype("<i2") for i in range(3)}
    df = spark.createDataFrame(
        [(i, bytearray(multimodal._encode_wav(p, 8000))) for i, p in pcms.items()],
        "media_id long, payload binary",
    )
    out = {r["media_id"]: r for r in multimodal.resample_audio(df, 6000).collect()}
    for i, pcm in pcms.items():
        n_out = (len(pcm) * 6000) // 8000
        idx = (np.arange(n_out) * 8000) // 6000
        got = multimodal._wav_pcm(bytes(out[i]["payload"]))
        assert got[0] == 6000
        np.testing.assert_array_equal(got[1], pcm[idx], err_msg=f"wav {i}")
        # the re-encoded container is a byte-valid WAV per the stdlib
        with wave.open(io.BytesIO(bytes(out[i]["payload"]))) as wf:
            assert wf.getframerate() == 6000
            assert wf.getnchannels() == 1
            assert wf.getnframes() == n_out


def test_resample_audio_edges(spark):
    import numpy as np
    import pytest

    # upsampling: 4000 -> 9000 repeats nearest samples
    pcm = np.arange(-5, 5, dtype="<i2")
    df = spark.createDataFrame(
        [(0, bytearray(multimodal._encode_wav(pcm, 4000))),
         (1, bytearray(b"garbage-not-a-riff-wave"))],
        "media_id long, payload binary",
    )
    out = {r["media_id"]: r for r in multimodal.resample_audio(df, 9000).collect()}
    got = multimodal._wav_pcm(bytes(out[0]["payload"]))
    n_out = (10 * 9000) // 4000
    np.testing.assert_array_equal(got[1], pcm[(np.arange(n_out) * 4000) // 9000])
    assert out[1]["payload"] is None and out[1]["sample_rate"] == 0
    with pytest.raises(ValueError):
        multimodal.resample_audio(df, 0)


def test_frame_features_matches_numpy(spark):
    import numpy as np

    media = multimodal.synth_avi_media(spark, 6, partitions=2)
    out = multimodal.frame_features(multimodal.sample_frames_avi(media, every=2)).collect()
    assert len(out) > 0
    for r in out:
        mid = r["media_id"]
        w, h = 8 + mid % 8, 6 + mid % 5
        fbytes = ((w * 3 + 3) // 4) * 4 * h
        exp = multimodal._avi_frame_bytes(mid, r["frame_no"], w, h)
        assert r["n_bytes"] == fbytes
        assert abs(r["mean_byte"] - float(np.frombuffer(exp, dtype=np.uint8).mean())) < 1e-12
        assert r["frame_no"] % 2 == 0


def test_corrupt_but_magic_matching_payloads_are_total(spark):
    """ADVICE r5: payloads whose MAGIC matches but whose body is
    truncated/unsupported must take the documented (NULL, 0) path, not
    kill the Spark task — truncated JPEG/PNG through resize_images,
    truncated-fmt / odd-length-data WAV through resample_audio and
    decode_audio_features."""
    import numpy as np

    from webdq.jpegcodec import encode_jpeg
    from webdq.pngcodec import encode_png

    img = np.full((4, 4, 3), 50, dtype=np.uint8)
    good_jpeg = encode_jpeg(img, quality=90)
    pcm = np.arange(-8, 8, dtype="<i2")
    good_wav = multimodal._encode_wav(pcm, 8000)

    bad_images = [
        good_jpeg[: len(good_jpeg) // 2],        # truncated JPEG body
        b"\xff\xd8\xff\xe0trash",                # JPEG magic, garbage
        encode_png(img)[:20],                    # truncated PNG
        b"\x89PNG\r\n\x1a\n\x00\x00",            # PNG magic, no chunks
        _TRUNCATED_P6,                           # P6 body 6 of 24 bytes
    ]
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(bad_images)],
        "media_id long, payload binary",
    )
    for r in multimodal.resize_images(df, 3, 3).collect():
        assert r["payload"] is None and r["width"] == 0 and r["height"] == 0

    import struct

    # fmt chunk TRUNCATED by the payload end (a junk chunk pushes it to
    # the tail): the old parser raised struct.error here
    w_trunc_fmt = (
        b"RIFF" + struct.pack("<I", 42) + b"WAVE"
        + b"JUNK" + struct.pack("<I", 20) + b"\x00" * 20
        + b"fmt " + struct.pack("<I", 16) + b"\x01\x00"
    )
    assert len(w_trunc_fmt) >= 44
    # odd-length data tail: the old parser raised ValueError in
    # np.frombuffer; now the even prefix (here empty) decodes
    w_odd = good_wav[:44] + b"\x01"
    dfw = spark.createDataFrame(
        [(0, bytearray(w_trunc_fmt)), (1, bytearray(w_odd))],
        "media_id long, payload binary",
    )
    out = {r["media_id"]: r for r in multimodal.resample_audio(dfw, 4000).collect()}
    assert out[0]["payload"] is None and out[0]["sample_rate"] == 0
    assert out[1]["payload"] is not None and out[1]["sample_rate"] == 4000
    assert multimodal._wav_pcm(bytes(out[1]["payload"]))[1].size == 0
    feats = {r["media_id"]: r for r in multimodal.decode_audio_features(
        dfw.select("media_id", "payload")).collect()}
    assert feats[0]["sample_rate"] == 0 and feats[0]["n_samples"] == 0
    assert feats[1]["sample_rate"] == 8000 and feats[1]["n_samples"] == 0
