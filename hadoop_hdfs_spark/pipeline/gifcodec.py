"""Pure-stdlib animated-GIF codec: the VIDEO leg of the multimodal surface.

Round 6 made the image leg real (PNG/BMP/PPM, zero dependencies) and this
round's WAV work made the audio leg real; video remained the one honest
stub because no stdlib module decodes H.264. GIF, however, IS a real
multi-frame video container — LZW-compressed indexed frames with per-frame
delays, palettes, interlacing, transparency and disposal compositing — and
it is fully decodable (and encodable) from the public GIF89a specification
with nothing but the standard library. Implementing it closes the last
media stub: image, audio AND video now decode real bytes.

Decoder discipline matches the r6 image codec: STRICT validation (magic,
bounds, palette ranges, exact pixel counts, terminated LZW streams) so
arbitrary text bytes never spuriously decode; any malformed input returns
``None`` rather than guessing.

Serialization note: the decode functions are built by a factory so their
qualified names are not module-importable — cloudpickle therefore ships
them BY VALUE to executor Python workers, so the driver-gated query that
uses them carries zero worker import requirements (the mm_feature_certify
policy, without duplicating 150 lines into a nested kernel).

Reference parity note: the reference (hadoop-hdfs) has no media codecs —
this module belongs to the training-data-pipeline surface the brief adds
beyond the reference (multimodal decode / frame-sample plumbing).
"""

from __future__ import annotations

import hashlib
import struct

from ..fixtures import asset_fixture_dir

# ---------------------------------------------------------------------------
# LZW + container DECODE (factory-built: pickles by value, see module doc)
# ---------------------------------------------------------------------------


def _interlace_rows(height: int) -> list[int]:
    """GIF 4-pass interlace: file row i holds screen row order[i]."""
    order: list[int] = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        order.extend(range(start, height, step))
    return order


def _build_decoder():
    interlace_rows = _interlace_rows  # tiny, close over by value

    def lzw_decode(data: bytes, min_code_size: int, n_pixels: int):
        """Decode a GIF LZW stream to exactly ``n_pixels`` palette indices,
        else None. Full spec behavior: clear/end codes, table growth with
        code-size bumps at 2^cs, the KwKwK (code==next_code) case, frozen
        table at 4096 (deferred clear), 12-bit cap."""
        if not 2 <= min_code_size <= 8:
            return None
        clear = 1 << min_code_size
        end = clear + 1
        base = [bytes((i,)) for i in range(clear)] + [b"", b""]
        table = list(base)
        code_size = min_code_size + 1
        next_code = end + 1
        out = bytearray()
        prev = None
        acc = 0
        nbits = 0
        for byte in data:
            acc |= byte << nbits
            nbits += 8
            while nbits >= code_size:
                code = acc & ((1 << code_size) - 1)
                acc >>= code_size
                nbits -= code_size
                if code == clear:
                    table = list(base)
                    code_size = min_code_size + 1
                    next_code = end + 1
                    prev = None
                    continue
                if code == end:
                    return bytes(out) if len(out) == n_pixels else None
                if prev is None:
                    if code >= clear:  # first code after clear: literal only
                        return None
                    entry = table[code]
                else:
                    if code < next_code and code < len(table):
                        entry = table[code]
                    elif code == next_code:
                        entry = prev + prev[:1]  # KwKwK
                    else:
                        return None
                    if next_code < 4096:
                        table.append(prev + entry[:1])
                        next_code += 1
                        if next_code == (1 << code_size) and code_size < 12:
                            code_size += 1
                out += entry
                if len(out) > n_pixels:
                    return None
                prev = entry
        return None  # stream ended without an end code: reject

    def decode_gif(payload: bytes):
        """(width, height, frames) where frames is a list of
        (delay_cs, rgb_bytes) canvas snapshots — one per image block, taken
        AFTER compositing that frame and BEFORE its disposal — else None.

        Handles: global/local color tables, interlacing, transparency,
        disposal methods 0/1 (keep), 2 (restore background rect),
        3 (restore previous canvas), sub-rectangle frames, 87a/89a.
        Strict: any truncation, out-of-bounds rect, over-palette index or
        unterminated stream rejects the whole payload.
        """
        if (
            not payload
            or len(payload) < 14
            or payload[:6] not in (b"GIF87a", b"GIF89a")
        ):
            return None
        try:
            w, h, packed, bg_idx, _ar = struct.unpack("<HHBBB", payload[6:13])
            if not (0 < w <= 4096 and 0 < h <= 4096):
                return None
            pos = 13
            gct = None
            if packed & 0x80:
                n = 2 << (packed & 7)
                gct = payload[pos : pos + 3 * n]
                if len(gct) < 3 * n:
                    return None
                pos += 3 * n
            if gct is not None and bg_idx < len(gct) // 3:
                bg_rgb = gct[bg_idx * 3 : bg_idx * 3 + 3]
            else:
                bg_rgb = b"\x00\x00\x00"
            canvas = bytearray(bg_rgb * (w * h))
            frames: list[tuple[int, bytes]] = []
            delay, transparent, disposal = 0, None, 0
            while True:
                if pos >= len(payload):
                    return None
                b0 = payload[pos]
                pos += 1
                if b0 == 0x3B:  # trailer
                    break
                if b0 == 0x21:  # extension: label + sub-blocks
                    label = payload[pos]
                    pos += 1
                    subs = bytearray()
                    while True:
                        sz = payload[pos]
                        pos += 1
                        if sz == 0:
                            break
                        chunk = payload[pos : pos + sz]
                        if len(chunk) < sz:
                            return None
                        subs += chunk
                        pos += sz
                    if label == 0xF9 and len(subs) >= 4:
                        gp = subs[0]
                        delay = subs[1] | (subs[2] << 8)
                        disposal = (gp >> 2) & 7
                        transparent = subs[3] if gp & 1 else None
                elif b0 == 0x2C:  # image descriptor
                    left, top, fw, fh, ip = struct.unpack(
                        "<HHHHB", payload[pos : pos + 9]
                    )
                    pos += 9
                    if fw == 0 or fh == 0 or left + fw > w or top + fh > h:
                        return None
                    pal = gct
                    if ip & 0x80:
                        n = 2 << (ip & 7)
                        pal = payload[pos : pos + 3 * n]
                        if len(pal) < 3 * n:
                            return None
                        pos += 3 * n
                    if pal is None:
                        return None
                    mcs = payload[pos]
                    pos += 1
                    data = bytearray()
                    while True:
                        sz = payload[pos]
                        pos += 1
                        if sz == 0:
                            break
                        chunk = payload[pos : pos + sz]
                        if len(chunk) < sz:
                            return None
                        data += chunk
                        pos += sz
                    idx = lzw_decode(bytes(data), mcs, fw * fh)
                    if idx is None or max(idx) >= len(pal) // 3:
                        return None
                    rows = (
                        interlace_rows(fh) if ip & 0x40 else range(fh)
                    )
                    saved = bytes(canvas) if disposal == 3 else None
                    for file_row, y in enumerate(rows):
                        rbase = file_row * fw
                        obase = ((top + y) * w + left) * 3
                        for x in range(fw):
                            v = idx[rbase + x]
                            if transparent is not None and v == transparent:
                                continue
                            o = obase + x * 3
                            canvas[o : o + 3] = pal[v * 3 : v * 3 + 3]
                    frames.append((delay, bytes(canvas)))
                    if disposal == 2:
                        row = bg_rgb * fw
                        for y in range(fh):
                            o = ((top + y) * w + left) * 3
                            canvas[o : o + 3 * fw] = row
                    elif disposal == 3 and saved is not None:
                        canvas = bytearray(saved)
                    delay, transparent, disposal = 0, None, 0
                else:
                    return None
            if not frames:
                return None
            return w, h, frames
        except (struct.error, IndexError):
            return None

    return lzw_decode, decode_gif


lzw_decode, decode_gif = _build_decoder()


# ---------------------------------------------------------------------------
# LZW + container ENCODE (driver/fixture-side only — never pickled)
# ---------------------------------------------------------------------------


def lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """Real GIF LZW compression (not the clear-code-spam shortcut): string
    table with code-size growth in decoder lockstep, clear+reset when the
    table reaches 4096. The decoder above round-trips it exactly."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0
    code_size = min_code_size + 1

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes((i,)): i for i in range(clear)}
    next_code = end + 1
    emit(clear)
    s = b""
    for b in indices:
        t = s + bytes((b,))
        if t in table:
            s = t
            continue
        emit(table[s])
        if next_code < 4096:
            table[t] = next_code
            next_code += 1
            # decoder grows when ITS next_code (one behind ours) hits
            # 2^cs — our post-increment next_code equals 2^cs + 1 then
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
        else:
            emit(clear)
            table = {bytes((i,)): i for i in range(clear)}
            code_size = min_code_size + 1
            next_code = end + 1
        s = bytes((b,))
    if s:
        emit(table[s])
    emit(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif(
    width: int,
    height: int,
    global_palette: list[tuple[int, int, int]],
    frames: list[dict],
) -> bytes:
    """Minimal-but-real GIF89a writer. Each frame dict:

    indices (bytes, row-major fw*fh palette indices — REQUIRED),
    delay_cs (int, default 0), interlace (bool), local_palette
    (list[(r,g,b)] | None), left/top (int), width/height (frame rect,
    default full screen), disposal (0-3), transparent (index | None).
    """
    out = bytearray(b"GIF89a")
    gbits = max((len(global_palette) - 1).bit_length(), 1)
    packed = 0x80 | ((gbits - 1) << 4) | (gbits - 1)
    out += struct.pack("<HHBBB", width, height, packed, 0, 0)
    for r, g, b in global_palette + [(0, 0, 0)] * (
        (1 << gbits) - len(global_palette)
    ):
        out += bytes((r, g, b))
    for fr in frames:
        disp = fr.get("disposal", 0)
        trans = fr.get("transparent")
        gp = ((disp & 7) << 2) | (1 if trans is not None else 0)
        out += bytes((0x21, 0xF9, 4, gp))
        out += struct.pack("<H", fr.get("delay_cs", 0))
        out += bytes((trans if trans is not None else 0, 0))
        left, top = fr.get("left", 0), fr.get("top", 0)
        fw = fr.get("width", width)
        fh = fr.get("height", height)
        lp = fr.get("local_palette")
        ip = 0x40 if fr.get("interlace") else 0
        if lp is not None:
            lbits = max((len(lp) - 1).bit_length(), 1)
            ip |= 0x80 | (lbits - 1)
        out += bytes((0x2C,)) + struct.pack("<HHHH", left, top, fw, fh)
        out += bytes((ip,))
        if lp is not None:
            for r, g, b in lp + [(0, 0, 0)] * ((1 << lbits) - len(lp)):
                out += bytes((r, g, b))
        n_colors = len(lp) if lp is not None else len(global_palette)
        mcs = max((n_colors - 1).bit_length(), 2)
        indices = fr["indices"]
        if len(indices) != fw * fh:
            raise ValueError("frame indices must be fw*fh bytes")
        if fr.get("interlace"):
            order = _interlace_rows(fh)
            indices = b"".join(
                indices[y * fw : (y + 1) * fw] for y in order
            )
        out += bytes((mcs,))
        lzw = lzw_encode(indices, mcs)
        for off in range(0, len(lzw), 255):
            chunk = lzw[off : off + 255]
            out += bytes((len(chunk),)) + chunk
        out += b"\x00"  # sub-block terminator
    out += b"\x3B"
    return bytes(out)


# ---------------------------------------------------------------------------
# Deterministic GIF corpus for the driver gate (fixtures.asset_fixture_dir)
# ---------------------------------------------------------------------------

SCREEN_W, SCREEN_H, N_COLORS = 11, 7, 8  # non-power sizes exercise interlace
_GEN_VERSION = "v1"


def fixture_palette() -> list[tuple[int, int, int]]:
    """SQL-restatable palette: entry i -> the three affine byte channels
    the oracle recomputes with plain modular arithmetic."""
    return [
        ((i * 37 + 11) % 256, (i * 59 + 23) % 256, (i * 83 + 5) % 256)
        for i in range(N_COLORS)
    ]


def fixture_n_frames(a: int) -> int:
    return 2 + a % 3


def fixture_indices(a: int, f: int) -> bytes:
    return bytes(
        (x + 3 * y + 5 * f + 7 * a) % N_COLORS
        for y in range(SCREEN_H)
        for x in range(SCREEN_W)
    )


def fixture_delay(a: int, f: int) -> int:
    return (7 * a + 11 * f) % 100


def fixture_gif_bytes(a: int) -> bytes:
    """Asset ``a``: full-frame opaque frames whose pixels are a pure
    function of (a, f, x, y); odd assets interlaced, every third asset a
    local (identical-valued) palette — the container variants vary while
    the pixel ground truth stays one SQL-restatable formula."""
    pal = fixture_palette()
    frames = [
        {
            "indices": fixture_indices(a, f),
            "delay_cs": fixture_delay(a, f),
            "interlace": a % 2 == 1,
            "local_palette": pal if a % 3 == 2 else None,
        }
        for f in range(fixture_n_frames(a))
    ]
    return encode_gif(SCREEN_W, SCREEN_H, pal, frames)


def gif_fixture_dir(sf: float) -> str:
    """Return (building on first use) the GIF corpus for ``sf``."""
    return asset_fixture_dir("gifs", sf, _GEN_VERSION, "gif", fixture_gif_bytes)


def frame_canvas_md5(rgb: bytes) -> str:
    """The gate's digest convention (a9b): md5 over the UPPERCASE-HEX
    rendering — DuckDB rebuilds the hex string per pixel and md5s it."""
    return hashlib.md5(rgb.hex().upper().encode()).hexdigest()
