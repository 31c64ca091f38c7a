"""Multimodal plumbing: image codecs and features, video frame
sampling (uniform stride policy, short clips), audio windows."""

from __future__ import annotations

import pytest


def test_frame_sampling_uniform_and_short_clips(spark):
    from leader_graph_spark.operators.multimodal import sample_video_frames

    # clip 1: 10 frames of 4 bytes; clip 2: shorter than n_frames
    rows = [(1, bytes(range(40))), (2, b"abcd" * 2)]
    df = spark.createDataFrame(rows, "vid long, payload binary")
    out = sample_video_frames(
        df, id_col="vid", n_frames=4, fps=25, frame_bytes=4
    ).collect()
    by_vid = {}
    for r in out:
        by_vid.setdefault(r.vid, []).append((r.frame_idx, r.ts_ms))
    # uniform stride over 10 frames → indices 0,2,5,7
    assert [i for i, _ in sorted(by_vid[1])] == [0, 2, 5, 7]
    # timestamps follow the frame rate (40ms per frame at 25fps)
    assert dict(by_vid[1])[5] == 200
    # short clip: every frame it has, exactly once
    assert [i for i, _ in sorted(by_vid[2])] == [0, 1]
    # fingerprints differ across distinct frames
    hashes = {r.frame_phash for r in out if r.vid == 1}
    assert len(hashes) == 4


def test_png_codec_roundtrip_all_filters():
    """decode(encode(x, filter=f)) must reproduce the exact pixels for
    every PNG filter type (0-4) and channel count — the five decoder
    branches the spec defines."""
    from leader_graph_spark.operators.pngcodec import decode_png, encode_png

    w, h = 7, 5
    for ch in (1, 3, 4):
        px = bytes((x * 37 + 11) % 256 for x in range(w * h * ch))
        for ft in range(5):
            payload = encode_png(w, h, px, channels=ch, filter_type=ft)
            gw, gh, gch, gpx = decode_png(payload)
            assert (gw, gh, gch) == (w, h, ch)
            assert gpx == px, f"filter {ft} channels {ch}"


def test_png_nearest_resize_exact():
    from leader_graph_spark.operators.pngcodec import resize_nearest

    # 2x2 RGB checkerboard upscaled 2x: each source pixel becomes 2x2
    blk, wht = b"\x00\x00\x00", b"\xff\xff\xff"
    src = blk + wht + wht + blk
    out = resize_nearest(src, 2, 2, 3, 4, 4)
    rows = [out[i * 12 : (i + 1) * 12] for i in range(4)]
    assert rows[0] == blk * 2 + wht * 2
    assert rows[1] == blk * 2 + wht * 2
    assert rows[2] == wht * 2 + blk * 2
    assert rows[3] == wht * 2 + blk * 2


def test_extract_features_real_png_payloads(spark):
    """Real PNG payloads take the REAL decode path: true mean pixel and
    a real average-hash, not the md5 fake."""
    from leader_graph_spark.operators.multimodal import extract_image_features
    from leader_graph_spark.operators.pngcodec import encode_png

    solid_gray = encode_png(4, 4, bytes([100]) * 48, channels=3)
    solid_white = encode_png(4, 4, bytes([255]) * 48, channels=3)
    df = spark.createDataFrame(
        [(1, bytearray(solid_gray)), (2, bytearray(solid_white))],
        "img_id long, payload binary",
    )
    got = {r.img_id: r for r in extract_image_features(df, id_col="img_id").collect()}
    assert abs(got[1].mean_pixel - 100 / 255) < 1e-9
    assert abs(got[2].mean_pixel - 1.0) < 1e-9
    # flat images have no above-mean pixels: average-hash all zeros
    assert got[1].phash == "0" * 16
    assert got[2].phash == "0" * 16


def test_png_decoder_rejects_malformed_payloads():
    import pytest as _pytest

    from leader_graph_spark.operators.pngcodec import PNG_MAGIC, decode_png, encode_png

    with _pytest.raises(ValueError, match="bad signature"):
        decode_png(b"GIF89a not a png")
    # right magic, garbage body
    with _pytest.raises(Exception):
        decode_png(PNG_MAGIC + b"\x00" * 32)
    # truncated after a valid header: IDAT missing
    good = encode_png(4, 4, bytes(48), channels=3)
    with _pytest.raises(Exception):
        decode_png(good[:40])
    # size mismatch: IHDR claims bigger image than the data carries
    import struct, zlib

    ihdr = struct.pack(">IIBBBBB", 10, 10, 8, 2, 0, 0, 0)
    def chunk(tag, body):
        return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    fake = PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(b"\x00" * 13)) + chunk(b"IEND", b"")
    with _pytest.raises(ValueError, match="size mismatch"):
        decode_png(fake)


def test_real_jpeg_decode_and_resize(spark):
    """Real-JPEG lane, hermetic since round 9: a baseline JPEG encoded
    by the vendored T.81 codec (jpegcodec.py) flows through
    extract_image_features (real decode: true mean pixel, real
    pixel-derived phash), and its decoded pixels resample
    (``pngcodec.resize_nearest``) and re-encode to a 4x4 JPEG. When
    Pillow IS installed (the [multimodal] extra), the same fixture is
    additionally cross-checked against PIL's independent decoder."""
    import numpy as np

    from leader_graph_spark.operators.jpegcodec import decode_jpeg, encode_jpeg
    from leader_graph_spark.operators.multimodal import extract_image_features
    from leader_graph_spark.operators.pngcodec import resize_nearest

    # 8x6 gradient JPEG, quality 95 (deterministic encode)
    rgb = bytes(
        b for y in range(6) for x in range(8) for b in ((x * 30) % 256, (y * 40) % 256, 128)
    )
    payload = encode_jpeg(8, 6, rgb, channels=3, quality=95)
    assert payload[:2] == b"\xff\xd8"  # a real JPEG, not a stand-in

    df = spark.createDataFrame(
        [(1, bytearray(payload), {"format": "jpeg", "width": 8, "height": 6})],
        "id long, payload binary, meta struct<format:string,width:int,height:int>",
    )
    feats = extract_image_features(df, id_col="id").collect()[0]
    # real decode: mean pixel of the actual JPEG content (not the md5
    # fake, whose mean is digest[0]/255 — independent of pixel content);
    # q95 on a smooth gradient stays within ~2/255 of the source mean
    src_mean = sum(rgb) / len(rgb) / 255.0
    assert abs(feats.mean_pixel - src_mean) < 2 / 255
    assert feats.n_bytes == len(payload)

    w, h, ch, px = decode_jpeg(payload)
    small = encode_jpeg(4, 4, resize_nearest(px, w, h, ch, 4, 4), channels=ch, quality=95)
    assert decode_jpeg(small)[:3] == (4, 4, 3)

    try:  # independent-decoder cross-check when the extra is installed
        import io

        from PIL import Image
    except ImportError:
        return
    ref = np.frombuffer(
        Image.open(io.BytesIO(payload)).convert("RGB").tobytes(), dtype=np.uint8
    ).astype(int)
    ours = np.frombuffer(decode_jpeg(payload)[3], dtype=np.uint8).astype(int)
    assert np.abs(ref - ours).max() <= 2  # rounding differences only


def test_jpegcodec_roundtrip_and_errors():
    """The hermetic T.81 codec itself: smooth images round-trip
    near-losslessly at q95, odd sizes pad/crop exactly, grayscale
    works, and malformed streams raise instead of garbling."""
    import numpy as np
    import pytest as _pytest

    from leader_graph_spark.operators.jpegcodec import decode_jpeg, encode_jpeg

    w, h = 37, 23  # non-multiple-of-8 exercises padding + crop
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    smooth = np.stack([(xx * 3) % 256, (yy * 5) % 256, ((xx + yy) * 2) % 256], -1).astype(np.uint8)
    enc = encode_jpeg(w, h, smooth.tobytes(), channels=3, quality=95)
    W, H, ch, px = decode_jpeg(enc)
    assert (W, H, ch) == (w, h, 3)
    got = np.frombuffer(px, dtype=np.uint8).reshape(h, w, 3).astype(int)
    err = np.abs(smooth.astype(int) - got)
    assert err.max() <= 4 and err.mean() < 1.0

    gray = ((xx * 7) % 256).astype(np.uint8)
    encg = encode_jpeg(w, h, gray.tobytes(), channels=1, quality=92)
    Wg, Hg, chg, pxg = decode_jpeg(encg)
    assert (Wg, Hg, chg) == (w, h, 1)
    assert np.abs(
        gray.astype(int) - np.frombuffer(pxg, dtype=np.uint8).reshape(h, w).astype(int)
    ).max() <= 2

    # lower quality -> smaller file (quant scaling is live)
    assert len(encode_jpeg(w, h, smooth.tobytes(), channels=3, quality=30)) < len(enc)

    with _pytest.raises(ValueError, match="bad signature"):
        decode_jpeg(b"\x89PNG not a jpeg")
    with _pytest.raises(ValueError):
        decode_jpeg(enc[:40])  # truncated before the scan
    with _pytest.raises(ValueError):
        decode_jpeg(enc[:-30])  # truncated inside the entropy stream
    # progressive is explicitly rejected, not misdecoded: flip SOF0->SOF2
    prog = bytearray(enc)
    sof = prog.find(b"\xff\xc0")
    prog[sof + 1] = 0xC2
    with _pytest.raises(ValueError, match="progressive"):
        decode_jpeg(bytes(prog))


def test_jpegcodec_dct_matrix_is_orthonormal():
    """The shared DCT matrix must be an exact orthonormal transform —
    encoder and decoder both depend on M.T @ (M @ X @ M.T) @ M == X."""
    import numpy as np

    from leader_graph_spark.operators.jpegcodec import _DCT_M

    assert np.allclose(_DCT_M @ _DCT_M.T, np.eye(8), atol=1e-12)
    rng = np.random.default_rng(3)
    x = rng.normal(size=(8, 8))
    assert np.allclose(_DCT_M.T @ (_DCT_M @ x @ _DCT_M.T) @ _DCT_M, x, atol=1e-9)


def test_jpegcodec_dri_truncation_never_indexerrors():
    """Round-10 ADVICE fix: a stream truncated at (or anywhere near) a
    restart boundary must raise the codec's clean ValueError, never
    IndexError. Splice a DRI segment (interval=1) into a valid stream
    so the restart-consume path runs, then try EVERY truncation
    point — each must decode or raise ValueError."""
    import numpy as np

    from leader_graph_spark.operators.jpegcodec import decode_jpeg, encode_jpeg

    xx = np.tile(np.arange(16, dtype=np.uint8) * 11, (8, 1))
    enc = encode_jpeg(16, 8, xx.tobytes(), channels=1, quality=90)
    sos = enc.find(b"\xff\xda")
    stream = enc[:sos] + b"\xff\xdd\x00\x04\x00\x01" + enc[sos:]
    for cut in range(len(stream) + 1):
        try:
            decode_jpeg(stream[:cut])
        except ValueError:
            pass


def test_corrupt_jpeg_payload_falls_back_to_fake(spark):
    """Round-10 ADVICE fix: a JPEG-magic payload the hermetic codec
    rejects (no SOS) must yield deterministic fake features, not fail
    the Spark task."""
    import hashlib

    from leader_graph_spark.operators.multimodal import extract_image_features

    bad = b"\xff\xd8\xff\xe0 corrupt, no scan"
    df = spark.createDataFrame([(1, bad)], "id long, payload binary")
    rows = extract_image_features(df, id_col="id").collect()
    assert len(rows) == 1
    digest = hashlib.md5(bad).digest()
    assert rows[0].phash == digest.hex()[:16]
    assert rows[0].n_bytes == len(bad)


def test_audio_window_stats_partial_window_and_values(spark):
    import numpy as np

    from leader_graph_spark.operators.multimodal import audio_window_stats

    # 5 samples (window=4): one full window + a partial 1-sample window;
    # offset-binary big-endian: value v stored as v+32768
    vals = [100, -200, 300, -400, 500]
    raw = b"".join(int(v + 32768).to_bytes(2, "big") for v in vals)
    df = spark.createDataFrame([(1, raw)], "id long, payload binary")
    rows = {r.window_idx: r for r in
            audio_window_stats(df, id_col="id", window_samples=4).collect()}
    assert set(rows) == {0, 1}
    w = np.array(vals[:4], dtype=np.int64)
    assert rows[0].sum_sq == int((w * w).sum())
    assert rows[0].peak == 400
    assert rows[0].zero_crossings == 3  # every adjacent pair flips sign
    assert rows[1].sum_sq == 500 * 500 and rows[1].peak == 500
    assert rows[1].zero_crossings == 0  # crossings never span windows
