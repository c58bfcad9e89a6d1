"""Codec behavior (judge r3 #10 / r4 #10): the decode/resize kernels are
three-tier — PIL when importable (exercised through an injected fake with
the PIL surface the kernels touch), then the PURE-STDLIB PNG/BMP/PPM
decoder (exercised for real here: hand-built files through every PNG
filter type), then the deterministic stubs for bytes nothing decodes. The
stage contract never changes across tiers, and no fixture payload may
spuriously decode (the mm certify oracles assume stub arithmetic)."""

from __future__ import annotations

import hashlib

import pytest

from hadoop_hdfs_spark.pipeline import multimodal


class _FakeImage:
    """The slice of PIL.Image's surface the kernels use."""

    def __init__(self, size=(320, 240)):
        self.size = size

    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False

    def resize(self, size):
        return _FakeImage(size)

    def save(self, buf, format=None):
        assert format == "PNG"
        buf.write(b"PNG" + bytes(self.size))


class _FakeImageModule:
    @staticmethod
    def open(fp):
        data = fp.read()
        if not data.startswith(b"IMG"):
            raise OSError("cannot identify image file")
        return _FakeImage()


def test_stub_path_without_pil(monkeypatch):
    monkeypatch.setattr(multimodal, "_pil_image", lambda: None)
    payload = b"IMG-payload"
    out = multimodal.decode_kernel(payload, "image")
    d = hashlib.md5(payload).hexdigest()
    assert out == {
        "feature_digest": d,
        "width": int(d[:4], 16) % 4096,
        "height": int(d[4:8], 16) % 4096,
    }
    resized = multimodal.resize_kernel(payload, "image", 8, 4)
    assert len(resized) == 32  # stub contract: exactly width*height bytes


def test_real_path_with_injected_pil(monkeypatch):
    monkeypatch.setattr(multimodal, "_pil_image", lambda: _FakeImageModule)
    payload = b"IMG-decodable"
    out = multimodal.decode_kernel(payload, "image")
    assert (out["width"], out["height"]) == (320, 240)  # decoder metadata
    assert out["feature_digest"] == hashlib.md5(payload).hexdigest()
    resized = multimodal.resize_kernel(payload, "image", 16, 16)
    assert resized.startswith(b"PNG")


def test_corrupt_bytes_fall_back_to_stub(monkeypatch):
    monkeypatch.setattr(multimodal, "_pil_image", lambda: _FakeImageModule)
    payload = b"NOT-an-image"
    out = multimodal.decode_kernel(payload, "image")
    d = hashlib.md5(payload).hexdigest()
    assert out["width"] == int(d[:4], 16) % 4096  # quarantined, not crashed
    assert len(multimodal.resize_kernel(payload, "image", 4, 4)) == 16


def test_audio_video_unaffected_by_pil(monkeypatch):
    monkeypatch.setattr(multimodal, "_pil_image", lambda: _FakeImageModule)
    d = hashlib.md5(b"xyz").hexdigest()
    assert multimodal.decode_kernel(b"xyz", "audio")["feature_digest"] == d
    with pytest.raises(NotImplementedError):
        multimodal.decode_kernel(b"xyz", "text")
    with pytest.raises(NotImplementedError):
        multimodal.resize_kernel(b"xyz", "audio", 4, 4)


def _png(w: int, h: int, rgb: bytes, filters: list[int] | None = None) -> bytes:
    """Hand-built 8-bit RGB PNG with a chosen filter byte per scanline —
    an encoder independent of the decoder under test."""
    import struct
    import zlib

    filters = filters or [0] * h
    raw = b""
    prev = bytes(3 * w)
    for y in range(h):
        row = bytearray(rgb[y * 3 * w : (y + 1) * 3 * w])
        f = filters[y]
        enc = bytearray(row)
        if f == 1:  # Sub: stores x - left
            for i in range(3 * w - 1, 2, -1):
                enc[i] = (row[i] - row[i - 3]) & 0xFF
        elif f == 2:  # Up
            for i in range(3 * w):
                enc[i] = (row[i] - prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(3 * w):
                left = row[i - 3] if i >= 3 else 0
                enc[i] = (row[i] - (left + prev[i]) // 2) & 0xFF
        elif f == 4:  # Paeth
            for i in range(3 * w):
                a = row[i - 3] if i >= 3 else 0
                b = prev[i]
                c = prev[i - 3] if i >= 3 else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (row[i] - pr) & 0xFF
        raw += bytes([f]) + bytes(enc)
        prev = row

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _rgb(w: int, h: int) -> bytes:
    return bytes((13 * i + 7) & 0xFF for i in range(3 * w * h))


def test_pure_decoder_decodes_png_all_filters():
    """Real decode with NO dependencies: every PNG filter type round-trips
    through the stdlib decoder (this replaces the old PIL-only skip)."""
    w, h = 5, 8
    rgb = _rgb(w, h)
    for filters in ([0] * h, [1] * h, [2] * h, [3] * h, [4] * h,
                    [0, 1, 2, 3, 4, 3, 2, 1]):
        data = _png(w, h, rgb, filters)
        assert multimodal.decode_image_pure(data) == (w, h, rgb), filters
        out = multimodal.decode_kernel(data, "image")
        assert (out["width"], out["height"]) == (w, h)


def test_pure_decoder_decodes_bmp_and_ppm():
    import struct

    w, h = 4, 3
    rgb = _rgb(w, h)
    ppm = b"P6\n%d %d\n255\n" % (w, h) + rgb
    assert multimodal.decode_image_pure(ppm) == (w, h, rgb)
    # bottom-up 24bpp BMP, BGR pixels, 4-byte row padding
    stride = (3 * w + 3) & ~3
    px = bytearray()
    for y in range(h - 1, -1, -1):
        row = bytearray()
        for x in range(w):
            r, g, b = rgb[3 * (y * w + x) : 3 * (y * w + x) + 3]
            row += bytes((b, g, r))
        px += row + bytes(stride - len(row))
    bmp = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(px), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px), 0, 0, 0, 0)
        + px
    )
    assert multimodal.decode_image_pure(bmp) == (w, h, rgb)
    out = multimodal.decode_kernel(bmp, "image")
    assert (out["width"], out["height"]) == (w, h)


def test_pure_resize_is_real_nearest_neighbor():
    w, h = 4, 4
    rgb = _rgb(w, h)
    out = multimodal.resize_kernel(_png(w, h, rgb), "image", 2, 2)
    # PPM output with genuinely resampled pixels: (0,0),(2,0),(0,2),(2,2)
    want = b"".join(
        rgb[3 * (sy * w + sx) : 3 * (sy * w + sx) + 3]
        for sy in (0, 2)
        for sx in (0, 2)
    )
    assert out == b"P6\n2 2\n255\n" + want


def test_fixture_text_payloads_never_spuriously_decode(sf_dir):
    """mm_feature_certify's oracle assumes the stub arithmetic on the
    fixture payloads — so no fixture text may accidentally parse as an
    image in the pure decoder."""
    import duckdb

    rows = duckdb.sql(
        f"SELECT text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    assert rows
    for (text,) in rows:
        assert multimodal.decode_image_pure(text.encode()) is None


# ------------------------------------------------------------------ audio
def _wav(n_channels=1, rate=8000, samples=None, sampwidth=2):
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(sampwidth)
        w.setframerate(rate)
        import struct

        code = {1: "B", 2: "<h", 4: "<i"}[sampwidth]
        w.writeframes(b"".join(struct.pack(code, s) for s in samples))
    return buf.getvalue()


def test_wav_decode_real_metadata():
    samples = [0, 1000, -1000, 2000, -2000, 0]  # mono, 6 frames
    wav = _wav(samples=samples)
    dec = multimodal.decode_audio_wav(wav)
    assert dec is not None
    nch, sw, rate, nf, pcm = dec
    assert (nch, sw, rate, nf) == (1, 2, 8000, 6)
    assert len(pcm) == 12
    out = multimodal.decode_kernel(wav, "audio")
    # (width, height) carry (n_frames, sample_rate) for decoded audio
    assert (out["width"], out["height"]) == (6, 8000)


def test_wav_window_rms_exact_integer_math():
    import math

    samples = [3, 4, 0, 0, 5, 12]
    wav = _wav(samples=samples)
    _, sw, _, _, pcm = multimodal.decode_audio_wav(wav)
    # windows of 2 frames: isqrt of mean square
    rms = multimodal.audio_window_rms(pcm, sw, 1, 2)
    assert rms == [
        math.isqrt((9 + 16) // 2),
        0,
        math.isqrt((25 + 144) // 2),
    ]


def test_wav_stereo_and_8bit():
    wav = _wav(n_channels=2, samples=[10, 20, 30, 40], rate=44100)
    nch, sw, rate, nf, pcm = multimodal.decode_audio_wav(wav)
    assert (nch, rate, nf) == (2, 44100, 2)  # 4 samples = 2 stereo frames
    # 8-bit unsigned: values centered at 128
    wav8 = _wav(samples=[128, 128, 228, 28], sampwidth=1)
    nch, sw, rate, nf, pcm = multimodal.decode_audio_wav(wav8)
    assert sw == 1 and nf == 4
    assert multimodal.audio_window_rms(pcm, 1, 1, 2) == [0, 100]


def test_wav_strict_validation_rejects_non_wav():
    assert multimodal.decode_audio_wav(b"") is None
    assert multimodal.decode_audio_wav(b"not audio at all") is None
    assert multimodal.decode_audio_wav(b"RIFF\x00\x00\x00\x00AAAA") is None
    # truncated real WAV: header magic present, parser must refuse
    wav = _wav(samples=[1, 2, 3, 4])
    assert multimodal.decode_audio_wav(wav[:16]) is None
    # text payloads (the certify-gate fixture bytes) never decode
    out = multimodal.decode_kernel(b"plain text", "audio")
    assert out["width"] < 4096 and out["height"] < 4096  # stub arithmetic


def test_audio_window_sample_stage(spark):
    wav = _wav(samples=[0, 1000] * 64)  # 128 frames
    assets = spark.createDataFrame(
        [(1, "audio", bytearray(wav)), (2, "audio", bytearray(b"garbage"))],
        "asset_id long, media_type string, payload binary",
    )
    rows = multimodal.audio_window_sample(assets, window_frames=32).collect()
    # asset 2 quarantined (undecodable); asset 1 -> 4 windows of 32 frames
    assert {r.asset_id for r in rows} == {1}
    assert sorted(r.window_idx for r in rows) == [0, 1, 2, 3]
    assert all(r.n_frames == 128 and r.sample_rate == 8000 for r in rows)
    import math

    want = math.isqrt((1000 * 1000 * 16) // 32)
    assert all(r.rms == want for r in rows)


# ------------------------------------------------------------------ GIF (r7)
# The video leg: pure-stdlib animated-GIF decode (gifcodec). Same discipline
# as the PNG/WAV tests — round-trips over every container variant, a decoder
# pin against HAND-ASSEMBLED spec bytes (independent of the encoder), strict
# rejection, and the Spark stage contract with quarantine.

from hadoop_hdfs_spark.pipeline import gifcodec


def test_gif_fixture_roundtrip_pixel_exact():
    """decode(encode(x)) == x for the certify corpus's variants: plain,
    interlaced (a%2==1) and local-palette (a%3==2) assets."""
    pal = gifcodec.fixture_palette()
    for a in range(6):
        dec = gifcodec.decode_gif(gifcodec.fixture_gif_bytes(a))
        assert dec is not None
        w, h, frames = dec
        assert (w, h) == (gifcodec.SCREEN_W, gifcodec.SCREEN_H)
        assert len(frames) == gifcodec.fixture_n_frames(a)
        for f, (delay, rgb) in enumerate(frames):
            assert delay == gifcodec.fixture_delay(a, f)
            want = b"".join(
                bytes(pal[i]) for i in gifcodec.fixture_indices(a, f)
            )
            assert rgb == want, f"pixel mismatch a={a} f={f}"


def test_gif_fixture_bytes_are_pinned():
    """Golden digests: any encoder change (LZW packing, header layout)
    must be deliberate — the driver gate's corpus depends on these bytes."""
    want = {
        0: "b6f9915ba803ca45ac85c08462518786",
        1: "4bee6b5495dcdf5d345cacb8f601a9a7",
        2: "9c3b8c911227e9aecf3218f74d47acd2",
    }
    for a, digest in want.items():
        assert (
            hashlib.md5(gifcodec.fixture_gif_bytes(a)).hexdigest() == digest
        )


def test_gif_lzw_code_growth_and_table_reset():
    """A 200x200 8-color noise frame forces LZW code-size growth through
    every width and past 4096 codes (table reset) — the compressed stream
    is less than half raw size AND still round-trips pixel-exact."""
    import random

    rng = random.Random(7)
    w = h = 200
    idx = bytes(rng.randrange(8) for _ in range(w * h))
    pal = [(i * 31 % 256, i * 7 % 256, i) for i in range(8)]
    data = gifcodec.encode_gif(w, h, pal, [{"indices": idx}])
    assert len(data) < w * h // 2  # compression is real
    dec = gifcodec.decode_gif(data)
    assert dec is not None
    assert dec[2][0][1] == b"".join(bytes(pal[i]) for i in idx)


def test_gif_decoder_against_hand_assembled_spec_bytes():
    """Decoder pin INDEPENDENT of the encoder: a 4x1 image whose LZW codes
    (clear,1,2,1 at 3 bits; 1,end at 4 bits after the 9th table entry
    triggers growth) were computed by hand from the GIF89a spec and packed
    LSB-first by hand: bytes 8C 12 05."""
    gif = (
        b"GIF89a"
        + b"\x04\x00\x01\x00"  # 4x1 screen
        + b"\x91\x00\x00"  # GCT, 4 entries
        + bytes((0, 0, 0, 1, 1, 1, 2, 2, 2, 3, 3, 3))  # palette
        + b"\x2c\x00\x00\x00\x00\x04\x00\x01\x00\x00"  # full-frame descriptor
        + b"\x02"  # min code size
        + b"\x03\x8c\x12\x05"  # one 3-byte sub-block
        + b"\x00\x3b"
    )
    dec = gifcodec.decode_gif(gif)
    assert dec is not None
    w, h, frames = dec
    assert (w, h, len(frames)) == (4, 1, 1)
    assert frames[0][1] == bytes((1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1))


def test_gif_transparency_and_disposal_compositing():
    pal = [(0, 0, 0), (10, 10, 10), (20, 20, 20), (30, 30, 30)]

    def px(c, x, y):
        return c[(y * 4 + x) * 3 : (y * 4 + x) * 3 + 3]

    # disposal 1 (keep) + transparent subrect + disposal 3 (restore prev)
    frames = [
        {"indices": bytes([1]) * 12, "disposal": 1},
        {
            "indices": bytes([2, 0, 2, 0]),
            "left": 1, "top": 1, "width": 2, "height": 2,
            "transparent": 0, "disposal": 3,
        },
        {"indices": bytes([3]) * 12},
    ]
    _, _, out = gifcodec.decode_gif(gifcodec.encode_gif(4, 3, pal, frames))
    c0, c1, c2 = (f[1] for f in out)
    assert c0 == bytes([10, 10, 10] * 12)
    assert px(c1, 1, 1) == bytes([20] * 3)  # drawn
    assert px(c1, 2, 1) == bytes([10] * 3)  # transparent: prior shows
    assert c2 == bytes([30, 30, 30] * 12)  # disposal 3 restored, then drawn

    # disposal 2: rect restored to the background color before next frame
    frames = [
        {"indices": bytes([1]) * 12, "disposal": 2},
        {
            "indices": bytes([2] * 4),
            "left": 0, "top": 0, "width": 2, "height": 2,
        },
    ]
    _, _, out = gifcodec.decode_gif(
        gifcodec.encode_gif(4, 3, [(5, 5, 5)] + pal[1:], frames)
    )
    c1 = out[1][1]
    assert px(c1, 0, 0) == bytes([20] * 3)  # frame 2 drew over restored rect
    assert px(c1, 3, 2) == bytes([5] * 3)  # restored to background


def test_gif_strict_validation_rejects_non_gif():
    good = gifcodec.fixture_gif_bytes(0)
    assert gifcodec.decode_gif(b"") is None
    assert gifcodec.decode_gif(b"plain text, definitely not a gif") is None
    assert gifcodec.decode_gif(good[:-5]) is None  # truncated
    assert gifcodec.decode_gif(good[:13]) is None  # header only
    # an over-palette index must reject, not wrap: craft via a 2-color
    # palette but 4-color pixel stream
    bad = gifcodec.encode_gif(
        2, 1, [(0, 0, 0), (1, 1, 1), (2, 2, 2), (3, 3, 3)],
        [{"indices": bytes([3, 3])}],
    )
    assert gifcodec.decode_gif(bad) is not None  # sanity: valid as built
    # shrink the GCT to 2 entries without re-encoding pixel data: clear
    # the size bits in the logical-screen packed byte (offset 10; 4-color
    # gbits=2 -> 2-color gbits=1 packs to 0x80) and trim the palette from
    # 4*3 to 2*3 bytes. The LZW stream still emits index 3, so decode
    # must hit the max(idx) >= palette-size branch and reject.
    shrunk = bad[:10] + bytes([0x80]) + bad[11:13] + bad[13:19] + bad[25:]
    assert gifcodec.decode_gif(shrunk) is None


def test_video_frame_sample_stage(spark):
    gif = gifcodec.fixture_gif_bytes(1)  # 3 frames, interlaced
    assets = spark.createDataFrame(
        [(1, "video", bytearray(gif)), (2, "video", bytearray(b"garbage"))],
        "asset_id long, media_type string, payload binary",
    )
    rows = multimodal.video_frame_sample(assets).collect()
    assert {r.asset_id for r in rows} == {1}  # garbage quarantined
    assert sorted(r.frame_idx for r in rows) == [0, 1, 2]
    pal = gifcodec.fixture_palette()
    for r in rows:
        assert (r.width, r.height) == (gifcodec.SCREEN_W, gifcodec.SCREEN_H)
        assert r.delay_cs == gifcodec.fixture_delay(1, r.frame_idx)
        want = b"".join(
            bytes(pal[i]) for i in gifcodec.fixture_indices(1, r.frame_idx)
        )
        assert r.frame_md5 == hashlib.md5(
            want.hex().upper().encode()
        ).hexdigest()
    # stride sampling: every 2nd frame
    rows = multimodal.video_frame_sample(assets, every_n_frames=2).collect()
    assert sorted(r.frame_idx for r in rows) == [0, 2]


def test_decode_kernel_video_real_vs_stub():
    gif = gifcodec.fixture_gif_bytes(0)
    out = multimodal.decode_kernel(gif, "video")
    assert (out["width"], out["height"]) == (
        gifcodec.SCREEN_W,
        gifcodec.SCREEN_H,
    )
    # non-GIF video bytes: deterministic digest-derived stub dims
    d = hashlib.md5(b"mp4-ish bytes").hexdigest()
    out = multimodal.decode_kernel(b"mp4-ish bytes", "video")
    assert out["width"] == int(d[:4], 16) % 4096


# ------------------------------------------------- PNG/WAV fixtures (r7)
# The image/audio REAL-decode driver gates read these corpora; the tests
# pin encode->decode exactness and that the PNG writer really exercises
# every filter type.

from hadoop_hdfs_spark.pipeline import mediafixture


def test_png_fixture_roundtrip_pixel_exact_all_filters():
    for a in range(6):
        png = mediafixture.png_fixture_bytes(a)
        dec = multimodal.decode_image_pure(png)
        assert dec is not None
        w, h, rgb = dec
        assert (w, h) == (mediafixture.PNG_W, mediafixture.PNG_H)
        assert rgb == mediafixture.png_rgb(a)
    # the writer genuinely emits every filter type (one per row, y % 5)
    import zlib

    raw = zlib.decompress(
        png[png.index(b"IDAT") + 4 : png.rindex(b"IEND") - 8]
    )
    stride = 3 * mediafixture.PNG_W + 1
    filters = [raw[y * stride] for y in range(mediafixture.PNG_H)]
    assert set(filters) == {0, 1, 2, 3, 4}


def test_png_filter_transforms_invert_unfilter():
    """_apply_filter is the exact inverse of the decoder's unfilter for
    every type, including the Paeth tie-breaks — checked on adversarial
    rows (all-zero prev, saturated bytes, alternating extremes)."""
    rows = [
        bytes([0, 255] * 12),
        bytes(range(24)),
        bytes([255] * 24),
        bytes([1, 2, 250] * 8),
    ]
    prevs = [bytes(24), bytes([128] * 24), bytes(reversed(range(232, 256))) * 1]
    for prev in prevs:
        for row in rows:
            for f in range(5):
                filtered = mediafixture._apply_filter(f, row, prev, 3)
                # decode through the real PNG path: build a 2-row image
                # (prev unfiltered with type 0, then the filtered row)
                png = (
                    b"\x89PNG\r\n\x1a\n"
                    + mediafixture._chunk(
                        b"IHDR",
                        __import__("struct").pack(
                            ">IIBBBBB", 8, 2, 8, 2, 0, 0, 0
                        ),
                    )
                    + mediafixture._chunk(
                        b"IDAT",
                        __import__("zlib").compress(
                            b"\x00" + prev + bytes((f,)) + filtered
                        ),
                    )
                    + mediafixture._chunk(b"IEND", b"")
                )
                dec = multimodal.decode_image_pure(png)
                assert dec is not None, (f, row, prev)
                assert dec[2] == prev + row, f"filter {f} not inverted"


def test_wav_fixture_roundtrip_sample_exact():
    import struct

    for a in range(6):
        wav = mediafixture.wav_fixture_bytes(a)
        d = multimodal.decode_audio_wav(wav)
        assert d is not None
        nch, sw, rate, nf, pcm = d
        assert (nch, sw, rate) == (1, 2, mediafixture.WAV_RATE)
        assert nf == mediafixture.wav_n_frames(a)
        samples = struct.unpack(f"<{nf}h", pcm)
        assert list(samples) == [
            mediafixture.wav_sample(a, i) for i in range(nf)
        ]


def test_media_fixture_dirs_build_atomically(tmp_path, monkeypatch):
    import os

    from hadoop_hdfs_spark.fixtures import MARKER, fixture_n_assets, resolve_corpus

    monkeypatch.setenv("SPARK_GRAFT_PNG_DIR", str(tmp_path / "nope"))
    d, _, n = resolve_corpus("PNG")
    assert n == 0  # env-pointed missing dir: honest zero, no crash
    monkeypatch.delenv("SPARK_GRAFT_PNG_DIR")
    d, _, n = resolve_corpus("PNG")
    assert n == fixture_n_assets(0.01)
    assert os.path.exists(os.path.join(d, MARKER))
