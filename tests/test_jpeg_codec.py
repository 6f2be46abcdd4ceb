"""Pure-numpy baseline JPEG codec (functions/_jpeg.py).

The decode gate is CROSS-IMPLEMENTATION: Spark's built-in `image`
source decodes JPEG on the JVM via ImageIO (an independent
libjpeg-derived implementation), so agreement at IDCT-rounding level
on real-world 4:2:0 files is evidence of correctness, not
self-consistency."""

from __future__ import annotations

import glob

import numpy as np
import pytest

from datasketches_java_spark.functions._jpeg import decode_jpeg, encode_jpeg

MLLIB = "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin"
GOLDENS = sorted(
    glob.glob(f"{MLLIB}/kittens/*.jpg")
    + glob.glob(f"{MLLIB}/multi-channel/chr*.jpg"))


def _imageio_decode(spark, path):
    row = spark.read.format("image").load(path).select("image.*").first()
    return np.frombuffer(bytes(row.data), np.uint8).reshape(
        row.height, row.width, row.nChannels)[:, :, ::-1]  # BGR→RGB


def test_self_roundtrip_smooth_image():
    x = np.linspace(0, 4 * np.pi, 64)
    img = ((np.sin(x)[None, :] * np.cos(x)[:, None] * 0.5 + 0.5) * 255)
    img = np.stack([img, img[::-1], img.T], axis=2).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(img, quality=95))
    d = np.abs(dec.astype(int) - img.astype(int))
    assert d.mean() < 2.0 and d.max() <= 16


def test_self_roundtrip_odd_dims_and_gray():
    rng = np.random.default_rng(4)
    img = rng.integers(100, 140, (13, 21, 3), dtype=np.uint8)  # low contrast
    dec = decode_jpeg(encode_jpeg(img, quality=90))
    assert dec.shape == (13, 21, 3)
    assert np.abs(dec.astype(int) - img.astype(int)).mean() < 6.0


@pytest.mark.skipif(not GOLDENS, reason="spark mllib sample images absent")
def test_decode_matches_jvm_imageio_on_real_jpegs(spark):
    """Real libjpeg-encoded 4:2:0 photographs: our decoder vs the
    JVM's — mean |diff| at rounding level, no structural drift."""
    for p in GOLDENS[:3]:
        mine = decode_jpeg(open(p, "rb").read())
        ref = _imageio_decode(spark, p)
        assert mine.shape == ref.shape, p
        d = np.abs(mine.astype(int) - ref.astype(int))
        assert d.mean() < 1.0, (p, d.mean())
        assert np.percentile(d, 99) <= 4, (p, np.percentile(d, 99))


@pytest.mark.skipif(not GOLDENS, reason="spark mllib sample images absent")
def test_our_encode_decodable_by_jvm_imageio(spark, tmp_path):
    """Interop the other way: bytes WE encode must decode in the JVM's
    ImageIO to the same image (both compared to the source)."""
    rng = np.random.default_rng(9)
    base = rng.integers(0, 256, (4, 4, 3), dtype=np.uint8)
    img = np.repeat(np.repeat(base, 12, axis=0), 12, axis=1)  # 48x48 blocks
    buf = encode_jpeg(img, quality=95)
    p = tmp_path / "ours.jpg"
    p.write_bytes(buf)
    ref = _imageio_decode(spark, str(p))
    assert ref.shape == img.shape
    d_jvm = np.abs(ref.astype(int) - img.astype(int)).mean()
    d_ours = np.abs(decode_jpeg(buf).astype(int) - img.astype(int)).mean()
    assert d_jvm < 6.0 and d_ours < 6.0
    # and the two decoders agree with each other on our bytes
    assert np.abs(ref.astype(int)
                  - decode_jpeg(buf).astype(int)).mean() < 1.0


def test_progressive_rejected_cleanly():
    prog = "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/" \
           "multi-channel/grayscale.jpg"          # SOF2 on this box
    import os
    if not os.path.exists(prog):
        pytest.skip("sample absent")
    with pytest.raises(ValueError, match="baseline"):
        decode_jpeg(open(prog, "rb").read())


def test_truncation_and_garbage_fail_cleanly():
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    buf = encode_jpeg(img)
    for cut in (1, 2, 3, 20, len(buf) // 2):
        with pytest.raises((ValueError, IndexError)):
            decode_jpeg(buf[:cut])
    with pytest.raises(ValueError):
        decode_jpeg(b"\x00" * 64)


def test_decode_image_operator_routes_jpeg(spark):
    from datasketches_java_spark.functions.multimodal import decode_image
    rng = np.random.default_rng(2)
    base = rng.integers(0, 256, (3, 3, 3), dtype=np.uint8)
    img = np.repeat(np.repeat(base, 8, axis=0), 8, axis=1)  # 24x24
    df = spark.createDataFrame(
        [(1, bytearray(encode_jpeg(img, quality=95)))],
        "media_id long, blob binary")
    r = decode_image(df, "blob", "media_id", width=24, height=24,
                     fake=False).collect()[0]
    m = r["meta"]
    assert (m["width"], m["height"], m["format"]) == (24, 24, "jpeg")
    got = np.array(r["pixels"], dtype=np.uint8).reshape(24, 24, 3)
    assert np.abs(got.astype(int) - img.astype(int)).mean() < 6.0


def test_media_binary_source_feeds_decode(spark):
    """sources/images.read_media_binary → decode_image end-to-end over
    the on-box sample JPEGs (file-granular parallel scan, bytes stay
    opaque until the Arrow-batched decode)."""
    from datasketches_java_spark.functions.multimodal import decode_image
    from datasketches_java_spark.sources.images import read_media_binary
    if not GOLDENS:
        pytest.skip("sample images absent")
    media = read_media_binary(spark, f"{MLLIB}/kittens", pattern="*.jpg")
    assert media.count() >= 4
    out = decode_image(media.withColumnRenamed("url", "media_id"),
                       "blob", "media_id", width=16, height=16,
                       fake=False).collect()
    assert all(len(r["pixels"]) == 16 * 16 * 3 for r in out)
    assert all(r["meta"]["format"] == "jpeg" for r in out)


def test_fill_bytes_before_marker_accepted():
    """T.81 B.1.1.2: 0xFF fill bytes before a marker are legal — a
    spec-valid stream with FF FF D9 at the end must still decode."""
    img = np.full((8, 8, 3), 77, dtype=np.uint8)
    buf = encode_jpeg(img)
    assert buf.endswith(b"\xFF\xD9")
    padded = buf[:-2] + b"\xFF" + b"\xFF\xD9"   # fill byte before EOI
    dec = decode_jpeg(padded)
    assert np.abs(dec.astype(int) - img.astype(int)).mean() < 3.0


def _patch_sof(buf: bytes, patch) -> bytes:
    """Apply `patch(bytearray_segment)` to the SOF0 payload."""
    b = bytearray(buf)
    i = 2
    import struct as s
    while i < len(b) - 1:
        if b[i] == 0xFF and b[i + 1] == 0xC0:
            ln = s.unpack_from(">H", b, i + 2)[0]
            seg = b[i + 4:i + 2 + ln]
            patch(seg)
            b[i + 4:i + 2 + ln] = seg
            return bytes(b)
        if b[i] == 0xFF and b[i + 1] not in (0xD8, 0x01):
            i += 2 + s.unpack_from(">H", b, i + 2)[0]
        else:
            i += 1
    raise AssertionError("no SOF0")


def test_cmyk_rejected_cleanly():
    """A 4-component (Adobe CMYK/YCCK) frame header raises right after
    SOF, not later while decoding the first three planes as YCbCr."""
    import struct as s
    comps = b"".join(bytes([cid, 0x11, 0]) for cid in (1, 2, 3, 4))
    sof = bytes([8]) + s.pack(">HH", 8, 8) + bytes([4]) + comps
    sos = bytes([4]) + b"".join(bytes([cid, 0]) for cid in (1, 2, 3, 4)) \
        + bytes([0, 63, 0])
    buf = (b"\xFF\xD8"
           + b"\xFF\xC0" + s.pack(">H", len(sof) + 2) + sof
           + b"\xFF\xDA" + s.pack(">H", len(sos) + 2) + sos
           + b"\x00" * 16 + b"\xFF\xD9")
    with pytest.raises(ValueError, match="4 components"):
        decode_jpeg(buf)


def test_nonpow2_sampling_rejected_cleanly():
    img = np.zeros((16, 16, 3), dtype=np.uint8)

    def make_luma_3x1(seg):
        seg[7] = 0x31     # comp 1 sampling: hs=3, vs=1
    bad = _patch_sof(encode_jpeg(img), make_luma_3x1)
    with pytest.raises(ValueError, match="sampling"):
        decode_jpeg(bad)


def test_multiscan_rejected_cleanly():
    """SOS naming fewer components than SOF (non-interleaved layout)
    raises the documented ValueError, not a KeyError."""
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    buf = bytearray(encode_jpeg(img))
    # SOS payload starts [ns, cid, tabs, ...]; shrink to 1 component
    i = buf.find(b"\xFF\xDA")
    import struct as s
    ln = s.unpack_from(">H", buf, i + 2)[0]
    new_payload = bytes([1]) + bytes(buf[i + 5:i + 7]) + bytes(buf[i + 2 + ln - 3:i + 2 + ln])
    out = bytes(buf[:i + 2]) + s.pack(">H", len(new_payload) + 2) \
        + new_payload + bytes(buf[i + 2 + ln:])
    with pytest.raises(ValueError, match="multi-scan|non-interleaved"):
        decode_jpeg(out)
