"""Pure-numpy image codecs — the real implementation behind the decode seam.

Rounds 1-3 stubbed ``multimodal.decode_media(fake=False)`` with a
NotImplementedError at the exact point where the reference runs
``cv2.imdecode`` (``img_decode``, paddleocr.py:529-547, and
``check_and_read``, ppocr/utils/utility.py:97-128: sniff the container,
decode to an (H, W, C) uint8 ndarray). This module is that seam's real
body for every container decodable with stdlib + numpy alone (no cv2/PIL
in this environment, by design):

* **PPM (P6) / PGM (P5)** — binary netpbm, maxval < 256;
* **BMP** — uncompressed (BI_RGB) 24/32-bit BITMAPINFOHEADER, bottom-up
  or top-down, 4-byte row padding, BGR(A) channel order;
* **PNG** — non-interlaced 8-bit gray / RGB / RGBA via ``zlib``: chunk
  walk, IDAT concatenation, and all five scanline filters (None / Sub /
  Up / Average / Paeth);
* **GIF 87a/89a** — full LZW (variable code width, clear/reset,
  deferred-clear streams), local/global palettes, interlace, GCE
  transparency, MULTI-FRAME compositing — the reference's
  container→frames shape (check_and_read GIF branch takes frame 0;
  decode_frames exposes all frames for the frame_sample / PDF-pages
  path).

Matching encoders exist for every container so the codec is testable as a
roundtrip property (arr → encode → decode == arr) plus hand-packed,
spec-derived golden bytes in tests — never the encoder checking itself
alone. The PNG encoder deliberately cycles the filter type per row
(row % 5) so every decoder filter path is exercised by ordinary data.

Scale note: decode is inherently per-blob CPU work; the Spark side calls
these inside Arrow-batched per-row stages (``operators.grouped.map_rows``)
over content-addressed DISTINCT refs (multimodal.media_features), so
each blob decodes once regardless of how many documents reference it.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np


class ImageDecodeError(ValueError):
    """Unsupported container/feature or corrupt bytes."""


# ---------------------------------------------------------------------------
# netpbm (PPM P6 / PGM P5)
# ---------------------------------------------------------------------------

def _pnm_tokens(buf: bytes, n: int, start: int) -> tuple[list[int], int]:
    """First n whitespace-separated integer tokens after ``start``,
    honoring '#' comments; returns (values, offset past the single
    whitespace byte that terminates the last token — the netpbm rule)."""
    vals: list[int] = []
    i = start
    while len(vals) < n:
        while i < len(buf) and buf[i:i + 1].isspace():
            i += 1
        if i < len(buf) and buf[i] == ord("#"):
            while i < len(buf) and buf[i] != ord("\n"):
                i += 1
            continue
        j = i
        while j < len(buf) and not buf[j:j + 1].isspace():
            j += 1
        if j == i:
            raise ImageDecodeError("truncated netpbm header")
        vals.append(int(buf[i:j]))
        i = j
    return vals, i + 1     # exactly one whitespace after maxval


def decode_pnm(buf: bytes) -> np.ndarray:
    magic = buf[:2]
    if magic not in (b"P5", b"P6"):
        raise ImageDecodeError(f"not binary netpbm: {magic!r}")
    channels = 3 if magic == b"P6" else 1
    (w, h, maxval), off = _pnm_tokens(buf, 3, 2)
    if maxval <= 0 or maxval > 255:
        raise ImageDecodeError(f"unsupported netpbm maxval {maxval}")
    need = w * h * channels
    data = np.frombuffer(buf, dtype=np.uint8, count=need, offset=off)
    return data.reshape(h, w, channels)


def encode_pnm(arr: np.ndarray) -> bytes:
    arr = _as_hwc(arr)
    h, w, c = arr.shape
    if c == 3:
        magic = b"P6"
    elif c == 1:
        magic = b"P5"
    else:
        raise ImageDecodeError(f"netpbm supports 1 or 3 channels, got {c}")
    return magic + b"\n%d %d\n255\n" % (w, h) + arr.tobytes()


# ---------------------------------------------------------------------------
# BMP (uncompressed BITMAPINFOHEADER, 24/32-bit)
# ---------------------------------------------------------------------------

def decode_bmp(buf: bytes) -> np.ndarray:
    if buf[:2] != b"BM":
        raise ImageDecodeError("not a BMP")
    data_off = struct.unpack_from("<I", buf, 10)[0]
    hdr_size = struct.unpack_from("<I", buf, 14)[0]
    if hdr_size < 40:
        raise ImageDecodeError(f"unsupported BMP header size {hdr_size}")
    w, h = struct.unpack_from("<ii", buf, 18)
    bpp = struct.unpack_from("<H", buf, 28)[0]
    compression = struct.unpack_from("<I", buf, 30)[0]
    if compression != 0:
        raise ImageDecodeError(f"unsupported BMP compression {compression}")
    if bpp not in (24, 32):
        raise ImageDecodeError(f"unsupported BMP bpp {bpp}")
    bottom_up = h > 0
    h = abs(h)
    nch = bpp // 8
    stride = (w * nch + 3) & ~3
    rows = np.frombuffer(buf, dtype=np.uint8, count=stride * h,
                         offset=data_off).reshape(h, stride)
    px = rows[:, :w * nch].reshape(h, w, nch)
    if bottom_up:
        px = px[::-1]
    # BGR(A) → RGB(A)
    out = px[..., [2, 1, 0] + ([3] if nch == 4 else [])]
    return np.ascontiguousarray(out)


def encode_bmp(arr: np.ndarray) -> bytes:
    arr = _as_hwc(arr)
    if arr.shape[2] == 1:
        arr = np.repeat(arr, 3, axis=2)      # BMP has no 8-bit-gray path here
    h, w, c = arr.shape
    if c not in (3, 4):
        raise ImageDecodeError(f"BMP encoder supports 3/4 channels, got {c}")
    bgr = arr[..., [2, 1, 0] + ([3] if c == 4 else [])]
    stride = (w * c + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :w * c] = bgr.reshape(h, w * c)
    pix = rows[::-1].tobytes()               # bottom-up
    data_off = 14 + 40
    header = (b"BM" + struct.pack("<IHHI", data_off + len(pix), 0, 0,
                                  data_off)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, c * 8, 0,
                            len(pix), 2835, 2835, 0, 0))
    return header + pix


# ---------------------------------------------------------------------------
# PNG (8-bit gray / RGB / RGBA, non-interlaced)
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}


def decode_png(buf: bytes) -> np.ndarray:
    if buf[:8] != _PNG_SIG:
        raise ImageDecodeError("not a PNG")
    pos = 8
    idat = bytearray()
    w = h = nch = -1
    while pos + 8 <= len(buf):
        length, ctype = struct.unpack_from(">I4s", buf, pos)
        body = buf[pos + 8:pos + 8 + length]
        pos += 12 + length                   # len + type + body + crc
        if ctype == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body)
            if depth != 8:
                raise ImageDecodeError(f"unsupported PNG bit depth {depth}")
            if color not in _PNG_CHANNELS:
                raise ImageDecodeError(f"unsupported PNG color type {color}")
            if interlace != 0:
                raise ImageDecodeError("interlaced PNG unsupported")
            nch = _PNG_CHANNELS[color]
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
    if w < 0 or not idat:
        raise ImageDecodeError("missing IHDR/IDAT")
    raw = zlib.decompress(bytes(idat))
    stride = w * nch
    if len(raw) != h * (stride + 1):
        raise ImageDecodeError("PNG scanline size mismatch")
    raw = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    filters, lines = raw[:, 0], raw[:, 1:]
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        out[y] = _unfilter_row(int(filters[y]), lines[y], prev, nch)
        prev = out[y]
    return out.reshape(h, w, nch)


def _unfilter_row(ft: int, line: np.ndarray, prev: np.ndarray,
                  bpp: int) -> np.ndarray:
    """Reverse one PNG scanline filter (spec §9): uint8 modulo-256 sums;
    Average uses the floor of the INT mean of left and up; Paeth picks
    the closest of left/up/up-left with the spec's tie order."""
    cur = line.astype(np.int16)
    up = prev.astype(np.int16)
    if ft == 0:
        return line.copy()
    if ft == 2:                               # Up — fully vectorized
        return ((cur + up) & 0xFF).astype(np.uint8)
    out = np.zeros_like(line)
    for x in range(len(line)):
        a = int(out[x - bpp]) if x >= bpp else 0           # left
        b = int(prev[x])                                   # up
        if ft == 1:                           # Sub
            v = cur[x] + a
        elif ft == 3:                         # Average
            v = cur[x] + ((a + b) >> 1)
        elif ft == 4:                         # Paeth
            c = int(prev[x - bpp]) if x >= bpp else 0      # up-left
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            v = cur[x] + pred
        else:
            raise ImageDecodeError(f"bad PNG filter type {ft}")
        out[x] = v & 0xFF
    return out


def _filter_row(ft: int, line: np.ndarray, prev: np.ndarray,
                bpp: int) -> np.ndarray:
    """Apply one PNG scanline filter (encoder side; exact inverse of
    :func:`_unfilter_row` — predictors read the RECONSTRUCTED row, which
    for the encoder is the raw input itself)."""
    cur = line.astype(np.int16)
    up = prev.astype(np.int16)
    left = np.zeros_like(cur)
    left[bpp:] = cur[:-bpp]
    if ft == 0:
        return line.copy()
    if ft == 1:
        return ((cur - left) & 0xFF).astype(np.uint8)
    if ft == 2:
        return ((cur - up) & 0xFF).astype(np.uint8)
    if ft == 3:
        return ((cur - ((left + up) >> 1)) & 0xFF).astype(np.uint8)
    if ft == 4:
        upleft = np.zeros_like(up)
        upleft[bpp:] = up[:-bpp]
        p = left + up - upleft
        pa, pb, pc = (np.abs(p - left), np.abs(p - up), np.abs(p - upleft))
        pred = np.where((pa <= pb) & (pa <= pc), left,
                        np.where(pb <= pc, up, upleft))
        return ((cur - pred) & 0xFF).astype(np.uint8)
    raise ImageDecodeError(f"bad PNG filter type {ft}")


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))


def encode_png(arr: np.ndarray, filter_mode: str = "cycle") -> bytes:
    """``filter_mode='cycle'`` uses filter (y % 5) for row y so a decode
    of any image ≥5 rows exercises every filter path; ``'none'`` writes
    filter 0 throughout."""
    arr = _as_hwc(arr)
    h, w, c = arr.shape
    color = {1: 0, 3: 2, 4: 6}.get(c)
    if color is None:
        raise ImageDecodeError(f"PNG encoder supports 1/3/4 ch, got {c}")
    flat = arr.reshape(h, w * c)
    lines = bytearray()
    prev = np.zeros(w * c, dtype=np.uint8)
    for y in range(h):
        ft = (y % 5) if filter_mode == "cycle" else 0
        lines.append(ft)
        lines += _filter_row(ft, flat[y], prev, c).tobytes()
        prev = flat[y]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(lines), 6))
            + _png_chunk(b"IEND", b""))


# ---------------------------------------------------------------------------
# GIF (87a/89a) — LZW, multi-frame
# ---------------------------------------------------------------------------
# The reference reads GIFs frame-wise (check_and_read,
# ppocr/utils/utility.py:97-108: cv2.VideoCapture(...).read() → first
# frame, gray→RGB) and PDFs page-wise (:109-126) — the S2 "container →
# frames/pages" shape. decode_gif returns ALL composited frames so
# frame_sample (multimodal.py) can stride over real containers;
# decode_image takes frame 0, matching the reference's GIF branch.

def _lzw_decode(data: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW: LSB-first bit packing, variable code width
    (min+1 .. 12), CLEAR resets, table frozen at 4096 (deferred-clear
    streams legal)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    width = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    acc = nbits = pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                return bytes(out)  # missing EOI: tolerate, like cv2
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ImageDecodeError(f"LZW code {code} beyond table")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return bytes(out)


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """Inverse of :func:`_lzw_decode`; emits CLEAR up front and again
    whenever the table reaches 4096 so the decoder never needs code
    width 13."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    buf = b""
    for b in indices:
        cand = buf + bytes([b])
        if cand in table:
            buf = cand
            continue
        emit(table[buf], width)
        table[cand] = next_code
        next_code += 1
        # widen AFTER registering: the decoder's table is now next_code
        # entries long and widens when it hits 1<<width
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code == 4097:
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        buf = bytes([b])
    if buf:
        emit(table[buf], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))  # (start, step) passes


def _gif_subblocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def decode_gif(buf: bytes) -> list[np.ndarray]:
    """All frames of a GIF as (H, W, 3) uint8 canvases.

    Composites each image block onto the running canvas (disposal
    "none/keep"; restore-to-background clears to the background index
    after the frame), honors local palettes, interlace, and GCE
    transparency. Frame 0 of the result is exactly what the reference's
    check_and_read GIF branch feeds the pipeline."""
    if buf[:6] not in (b"GIF87a", b"GIF89a"):
        raise ImageDecodeError(f"bad GIF signature {buf[:6]!r}")
    width, height = struct.unpack_from("<HH", buf, 6)
    packed, bg_idx = buf[10], buf[11]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(buf, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    canvas = np.zeros((height, width), dtype=np.uint8)
    if gct is not None:
        canvas[:] = bg_idx
    palette = gct
    frames: list[np.ndarray] = []
    transparent = -1
    disposal = 0
    while pos < len(buf):
        block = buf[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = buf[pos]
            pos += 1
            if label == 0xF9 and buf[pos] >= 4:  # graphic control
                flags, _delay, tidx = struct.unpack_from(
                    "<BHB", buf, pos + 1)
                transparent = tidx if flags & 1 else -1
                disposal = (flags >> 2) & 0x07
            while buf[pos]:  # skip sub-blocks
                pos += 1 + buf[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ImageDecodeError(f"unexpected GIF block 0x{block:02x}")
        left, top, w, h = struct.unpack_from("<HHHH", buf, pos)
        ipacked = buf[pos + 8]
        pos += 9
        pal = palette
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            pal = np.frombuffer(buf, np.uint8, n * 3, pos).reshape(n, 3)
            pos += n * 3
        if pal is None:
            raise ImageDecodeError("GIF image with no color table")
        min_code = buf[pos]
        pos += 1
        data = bytearray()
        while buf[pos]:
            ln = buf[pos]
            data += buf[pos + 1:pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = np.frombuffer(_lzw_decode(bytes(data), min_code),
                            np.uint8, w * h).reshape(h, w)
        if ipacked & 0x40:  # interlaced: rows arrive pass-ordered
            de = np.empty_like(idx)
            rows = [r for start, step in _GIF_INTERLACE
                    for r in range(start, h, step)]
            de[rows] = idx
            idx = de
        region = canvas[top:top + h, left:left + w]
        if transparent >= 0:
            region[:] = np.where(idx == transparent, region, idx)
        else:
            region[:] = idx
        frames.append(pal[np.minimum(canvas, len(pal) - 1)].copy())
        if disposal == 2:  # restore to background
            canvas[top:top + h, left:left + w] = bg_idx
    if not frames:
        raise ImageDecodeError("GIF contains no image blocks")
    return frames


def encode_gif(frames: list[np.ndarray]) -> bytes:
    """Multi-frame grayscale GIF89a: one 256-entry gray global palette
    (pal[i] = (i, i, i)), full-canvas non-interlaced frames, LZW
    min-code-size 8 — so index == gray value and the decoded pixel is
    closed-form predictable."""
    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[:2]
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0xF7, 0, 0])  # GCT present, 256 entries; bg 0
    out += bytes(v for i in range(256) for v in (i, i, i))
    for fr in frames:
        arr = np.asarray(fr, dtype=np.uint8)
        if arr.ndim == 3:
            arr = arr[:, :, 0]
        if arr.shape != (h, w):
            raise ValueError("all frames must share the canvas size")
        out += b"\x21\xf9\x04\x04\x00\x00\x00\x00"  # GCE: disposal=keep
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        out.append(8)  # LZW min code size
        out += _gif_subblocks(_lzw_encode(arr.tobytes(), 8))
    out.append(0x3B)
    return bytes(out)


def decode_frames(buf: bytes) -> list[np.ndarray]:
    """Container → list of (H, W, C) frames: GIFs yield every frame
    (the reference's PDF branch shape, utility.py:109-126); single-image
    containers yield [decode_image(buf)]."""
    if buf[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(buf)
    return [decode_image(buf)]


# ---------------------------------------------------------------------------
# dispatch — the img_decode seam
# ---------------------------------------------------------------------------

def decode_image(buf: bytes) -> np.ndarray:
    """Sniff the container by magic and decode to (H, W, C) uint8 —
    the cv2.imdecode seam (paddleocr.py:529-547) made real. GIFs yield
    their FIRST composited frame, exactly the reference's
    check_and_read GIF branch (utility.py:97-108)."""
    if buf[:8] == _PNG_SIG:
        return decode_png(buf)
    if buf[:2] == b"BM":
        return decode_bmp(buf)
    if buf[:2] in (b"P5", b"P6"):
        return decode_pnm(buf)
    if buf[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(buf)[0]
    raise ImageDecodeError(f"unrecognized image magic {buf[:8]!r}")


def _as_hwc(arr: np.ndarray) -> np.ndarray:
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    if arr.ndim != 3:
        raise ImageDecodeError(f"expected (H, W[, C]) array, got {arr.shape}")
    return np.ascontiguousarray(arr)


# ---------------------------------------------------------------------------
# deterministic test-corpus renderer
# ---------------------------------------------------------------------------

#: Container rotation for the rendered gate corpus (index = md5 byte 6 % 4).
RENDER_FORMATS = ("ppm", "bmp", "png", "png_gray")


def render_ref_image(ref: str) -> tuple[str, bytes]:
    """Deterministically render REAL encoded image bytes for a media ref.

    The synthetic corpus carries content-addressed refs but no blobs; this
    renders the blob a ref "addresses": dims 8..16 from md5 bytes 4/5, the
    container from byte 6, and pixel (y, x, channel c) =
    ``(md5_byte[c] + 7x + 13y) % 256`` (single-channel variant uses c=0).
    The formula is plain integer arithmetic so the DuckDB oracle can
    predict every decoded statistic WITHOUT decoding images — making the
    encode→decode path itself the thing the correctness gate checks.
    """
    import hashlib

    h = hashlib.md5(ref.encode()).digest()
    height, width = 8 + h[4] % 9, 8 + h[5] % 9
    fmt = RENDER_FORMATS[h[6] % 4]
    y = np.arange(height, dtype=np.int32)[:, None]
    x = np.arange(width, dtype=np.int32)[None, :]
    if fmt == "png_gray":
        px = ((h[0] + 7 * x + 13 * y) % 256).astype(np.uint8)[..., None]
        return fmt, encode_png(px)
    px = np.stack([((h[c] + 7 * x + 13 * y) % 256).astype(np.uint8)
                   for c in range(3)], axis=-1)
    if fmt == "ppm":
        return fmt, encode_pnm(px)
    if fmt == "bmp":
        return fmt, encode_bmp(px)
    return fmt, encode_png(px)


def render_ref_gif(ref: str) -> bytes:
    """Deterministically render a MULTI-FRAME grayscale GIF for a ref:
    dims 8..16 from md5 bytes 4/5 (same as render_ref_image), n_frames =
    1 + md5_byte[3] % 4, and frame k pixel (y, x) =
    ``(md5_byte[0] + 7x + 13y + 17k) % 256`` — closed-form so the DuckDB
    twin predicts every per-frame statistic without touching GIF bytes,
    making the LZW encode→decode path itself the thing the gate hashes."""
    import hashlib

    h = hashlib.md5(ref.encode()).digest()
    height, width = 8 + h[4] % 9, 8 + h[5] % 9
    n_frames = 1 + h[3] % 4
    y = np.arange(height, dtype=np.int32)[:, None]
    x = np.arange(width, dtype=np.int32)[None, :]
    frames = [((h[0] + 7 * x + 13 * y + 17 * k) % 256).astype(np.uint8)
              for k in range(n_frames)]
    return encode_gif(frames)
