"""Deterministic PNG and WAV corpora for the image/audio REAL-decode
driver gates (the gifcodec fixture pattern, applied to the other two
media legs).

The r6 image decoder and the r7 WAV decoder were certified by pytest
only; the driver-gated mm certify queries exercised the STUB arithmetic
(fixture payloads were UTF-8 text that nothing decodes). These fixtures
close that gap: every file is generated from a pixel/PCM formula that is
restatable in plain SQL, so a driver gate can run the REAL decode on the
Spark side and hash-match against a DuckDB oracle that recomputes the
ground truth from the formula — certifying decode(encode(x)) == x with
the truth independently derived, never decoded (the mm_video_certify
trick).

The PNG writer is a real encoder: it APPLIES scanline filters (types
0-4 cycling per row, the inverse transforms of the decoder's unfilter)
before zlib compression and emits correct chunk CRCs — so the gated
decode path exercises inflate + every filter type on every asset.
The WAV writer is the stdlib ``wave`` module itself.
"""

from __future__ import annotations

import struct
import zlib

from ..fixtures import asset_fixture_dir

# ----------------------------------------------------------------- PNG corpus

PNG_W, PNG_H = 23, 17  # odd sizes: no filter-width coincidences
_PNG_GEN_VERSION = "v1"


def png_pixel(a: int, x: int, y: int) -> tuple[int, int, int]:
    """SQL-restatable RGB formula for asset ``a`` at (x, y)."""
    return (
        (x * 7 + y * 13 + a * 29) % 256,
        (x * 11 + y * 3 + a * 17) % 256,
        (x * 5 + y * 19 + a * 23) % 256,
    )


def png_rgb(a: int) -> bytes:
    return bytes(
        c
        for y in range(PNG_H)
        for x in range(PNG_W)
        for c in png_pixel(a, x, y)
    )


def _apply_filter(ftype: int, row: bytes, prev: bytes, bpp: int) -> bytes:
    """The PNG spec's filter transforms (encoder side — exact inverses of
    the decoder's unfilter), so a gated decode exercises every type."""
    out = bytearray(len(row))
    for i in range(len(row)):
        left = row[i - bpp] if i >= bpp else 0
        up = prev[i]
        ul = prev[i - bpp] if i >= bpp else 0
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = left
        elif ftype == 2:
            pred = up
        elif ftype == 3:
            pred = (left + up) // 2
        else:  # Paeth
            p = left + up - ul
            pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
            pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
        out[i] = (row[i] - pred) & 0xFF
    return bytes(out)


def _chunk(typ: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + typ
        + body
        + struct.pack(">I", zlib.crc32(typ + body))
    )


def png_encode_rgb(w: int, h: int, rgb: bytes) -> bytes:
    """Real 8-bit RGB PNG writer with per-row filter type y % 5."""
    if len(rgb) != 3 * w * h:
        raise ValueError("rgb must be 3*w*h bytes")
    stride = 3 * w
    raw = bytearray()
    prev = bytes(stride)
    for y in range(h):
        row = rgb[y * stride : (y + 1) * stride]
        f = y % 5
        raw += bytes((f,)) + _apply_filter(f, row, prev, 3)
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


def png_fixture_bytes(a: int) -> bytes:
    return png_encode_rgb(PNG_W, PNG_H, png_rgb(a))


# ----------------------------------------------------------------- WAV corpus

WAV_RATE, WAV_WINDOW = 8000, 64  # 16-bit mono PCM; 64-frame windows
_WAV_GEN_VERSION = "v1"


def wav_n_frames(a: int) -> int:
    return 256 + 64 * (a % 4)  # always a whole number of windows


def wav_sample(a: int, i: int) -> int:
    """SQL-restatable signed 16-bit sample formula."""
    return ((31 * i + 7 * a) % 4096) - 2048


def wav_fixture_bytes(a: int) -> bytes:
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(WAV_RATE)
        w.writeframes(
            b"".join(
                struct.pack("<h", wav_sample(a, i))
                for i in range(wav_n_frames(a))
            )
        )
    return buf.getvalue()


# ------------------------------------------------------------ fixture builds


def png_fixture_dir(sf: float) -> str:
    return asset_fixture_dir("pngs", sf, _PNG_GEN_VERSION, "png", png_fixture_bytes)


def wav_fixture_dir(sf: float) -> str:
    return asset_fixture_dir("wavs", sf, _WAV_GEN_VERSION, "wav", wav_fixture_bytes)
