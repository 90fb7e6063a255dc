"""Multimodal (image/audio/video) column plumbing.

Contract: media travel as opaque ``binary`` columns with typed
metadata (``media_type``, ``width``/``height``/``duration_ms``…), and
per-item compute runs as Arrow-batched Pandas functions via
``mapInPandas`` — the only operator family in this engine where Python
touches the hot path, because pixel/sample decoding is genuinely not
expressible in Spark SQL.

Codec libraries (PIL/ffmpeg/torchaudio) are NOT available in this
environment, so the decode kernels come in two flavors:

- ``decoder="fake"`` (default): a deterministic md5-seeded fake that
  produces stable pseudo-features — lets every piece of Spark-side
  plumbing (schema, batching, partitioning, fan-out) run and be tested
  for real.
- ``decoder="real"``: REAL byte-level decoding for the formats the
  Python stdlib can handle — uncompressed 24-bit BMP (struct), 8-bit
  PNG (zlib inflate + the five scanline filters), GIF (full
  variable-width LZW + interlace unweave), baseline AND progressive
  JPEG (SOF0/SOF2 — Huffman + dequant + IDCT + YCbCr, spectral
  selection + successive approximation, ``operators/jpeg.py``), PCM
  WAV (wave), WebP LOSSLESS (VP8L — prefix codes, color cache, LZ77,
  all four transforms, ``operators/webp.py``), and MPEG-1 audio
  Layer I/II incl. independent and intensity stereo
  (``operators/mpeg_audio.py`` — frame syntax + requantization exact,
  pseudo-QMF filterbank) — with NotImplementedError narrowed to the
  remaining compressed codecs (lossy-VP8 WebP/MP3/H.264), which is
  exactly where a PIL/ffmpeg kernel plugs in on a real deployment.

Scale design: mapInPandas streams Arrow batches, so peak memory per
task is one batch of decoded media, not a partition; keep
``spark.sql.execution.arrow.maxRecordsPerBatch`` small (e.g. 64) for
large blobs, and repartition upstream so blobs of similar size
co-locate (size skew = straggler tasks).
"""

from __future__ import annotations

import hashlib
import io
import math
import os
import struct
import wave
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),
        T.StructField("meta_json", T.StringType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


# ---------------------------------------------------------------------
# stdlib codecs: uncompressed 24-bit BMP and PCM WAV. These are REAL
# decoders (byte-exact round-trips, tested), kept dependency-free so
# the "real" kernel path executes end-to-end in this sandbox.
# ---------------------------------------------------------------------


def bmp_encode(rows: list[list[tuple[int, int, int]]]) -> bytes:
    """Top-down (r, g, b) pixel rows -> uncompressed 24-bit BMP bytes."""
    height = len(rows)
    width = len(rows[0]) if rows else 0
    row_size = (3 * width + 3) & ~3
    img = bytearray()
    for row in reversed(rows):  # BMP stores rows bottom-up
        for r, g, b in row:
            img += bytes((b, g, r))
        img += b"\x00" * (row_size - 3 * width)
    header = struct.pack("<2sIHHI", b"BM", 54 + len(img), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(img),
                      2835, 2835, 0, 0)
    return bytes(header + dib + img)


def bmp_decode(b: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """BMP bytes -> (width, height, top-down (r, g, b) rows)."""
    if b[:2] != b"BM":
        raise ValueError("not a BMP payload")
    offset = struct.unpack_from("<I", b, 10)[0]
    width = struct.unpack_from("<i", b, 18)[0]
    height = struct.unpack_from("<i", b, 22)[0]
    bpp = struct.unpack_from("<H", b, 28)[0]
    compression = struct.unpack_from("<I", b, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            "compressed/non-24bpp images need PIL — plug the codec kernel in here"
        )
    row_size = (3 * width + 3) & ~3
    rows = []
    for y in range(height):
        base = offset + (height - 1 - y) * row_size
        rows.append(
            [(b[base + 3 * x + 2], b[base + 3 * x + 1], b[base + 3 * x])
             for x in range(width)]
        )
    return width, height, rows


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def png_encode(
    rows: list[list[tuple[int, int, int]]], compress_level: int = 6
) -> bytes:
    """Top-down (r, g, b) pixel rows -> 8-bit truecolor PNG bytes
    (filter type 0 on every scanline; stdlib zlib deflate)."""
    height = len(rows)
    width = len(rows[0]) if rows else 0

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = bytearray()
    for row in rows:
        raw.append(0)  # filter type None
        for r, g, b in row:
            raw += bytes((r, g, b))
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), compress_level))
        + chunk(b"IEND", b"")
    )


#: Adam7 pass layout: (x_start, x_step, y_start, y_step)
_ADAM7 = [
    (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
    (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
]


def _png_unfilter(
    raw: bytes, pos: int, width: int, height: int, channels: int, depth: int
) -> tuple[list[bytearray], int]:
    """Unfilter ``height`` scanlines of one (sub)image starting at
    ``pos`` in the inflated stream; returns (lines, new pos). The
    filter distance is the byte-per-pixel count, floored at 1 for
    sub-byte depths (the PNG rule)."""
    bpp = max(1, (channels * depth) // 8)
    stride = (width * channels * depth + 7) // 8
    prev = bytearray(stride)
    lines: list[bytearray] = []
    for _y in range(height):
        if pos + 1 + stride > len(raw):
            raise ValueError("PNG data length mismatch")
        ftype = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                c = prev[i - bpp] if i >= bpp else 0
                p = a + prev[i] - c
                pa, pb, pc = abs(p - a), abs(p - prev[i]), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (prev[i] if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown PNG filter type {ftype}")
        prev = line
        lines.append(line)
    return lines, pos


def _png_line_pixels(
    line: bytearray, width: int, channels: int, depth: int,
    palette: list[tuple[int, int, int]] | None,
) -> list[tuple[int, int, int]]:
    """One unfiltered scanline -> (r, g, b) pixels (alpha dropped,
    sub-byte samples unpacked MSB-first, 16-bit reduced to the high
    byte, grayscale scaled to 8-bit, palette indices looked up)."""
    out: list[tuple[int, int, int]] = []
    if palette is not None or (channels == 1 and depth < 8):
        maxv = (1 << depth) - 1
        for px in range(width):
            if depth == 8:
                v = line[px]
            elif depth == 16:
                v = line[2 * px]
            else:
                bitpos = px * depth
                v = (line[bitpos >> 3] >> (8 - depth - (bitpos & 7))) & maxv
            if palette is not None:
                if v >= len(palette):
                    raise ValueError("PNG palette index out of range")
                out.append(palette[v])
            else:
                g = v * 255 // maxv if maxv else 0
                out.append((g, g, g))
        return out
    step = channels * (2 if depth == 16 else 1)
    scale = 2 if depth == 16 else 1
    for px in range(width):
        base = px * step
        if channels <= 2:  # grayscale (+alpha dropped)
            g = line[base]
            out.append((g, g, g))
        else:  # truecolor (+alpha dropped)
            out.append(
                (line[base], line[base + scale], line[base + 2 * scale])
            )
    return out


def png_decode(b: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """PNG bytes -> (width, height, top-down (r, g, b) rows). Pure
    stdlib: chunk walk + zlib inflate + the five scanline filters
    (None/Sub/Up/Average/Paeth). Supports grayscale (1/2/4/8/16-bit),
    palette (PLTE, 1/2/4/8-bit), truecolor and truecolor+alpha
    (8/16-bit, alpha dropped, 16-bit reduced to the high byte), and
    Adam7 INTERLACED images of all of those (r6 — sub-images
    unfiltered per pass and scattered into place)."""
    if b[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, width = 8, 0
    height = bit_depth = color_type = interlace = 0
    idat = bytearray()
    palette: list[tuple[int, int, int]] | None = None
    while pos + 8 <= len(b):
        (length,) = struct.unpack_from(">I", b, pos)
        ctype = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
        elif ctype == b"PLTE":
            palette = [
                (data[i], data[i + 1], data[i + 2])
                for i in range(0, len(data) - 2, 3)
            ]
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if channels is None or interlace not in (0, 1):
        raise NotImplementedError(
            "exotic PNG color type needs PIL — plug the codec kernel in here"
        )
    if color_type == 3:
        if palette is None:
            raise ValueError("palette PNG without PLTE chunk")
        if bit_depth not in (1, 2, 4, 8):
            raise ValueError("palette PNG depth must be 1/2/4/8")
    elif bit_depth not in (8, 16) and not (color_type == 0 and bit_depth in (1, 2, 4)):
        raise NotImplementedError(
            "sub-byte non-gray PNG depth needs PIL — plug the codec kernel in here"
        )
    pal = palette if color_type == 3 else None
    raw = zlib.decompress(bytes(idat))
    rows: list[list[tuple[int, int, int]]]
    if interlace == 0:
        lines, end = _png_unfilter(raw, 0, width, height, channels, bit_depth)
        if end != len(raw):
            raise ValueError("PNG data length mismatch")
        rows = [
            _png_line_pixels(ln, width, channels, bit_depth, pal) for ln in lines
        ]
        return width, height, rows
    # Adam7: seven independently filtered sub-images, scattered back
    rows = [[(0, 0, 0)] * width for _ in range(height)]
    p = 0
    for x0, dx, y0, dy in _ADAM7:
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        lines, p = _png_unfilter(raw, p, pw, ph, channels, bit_depth)
        for j, ln in enumerate(lines):
            px = _png_line_pixels(ln, pw, channels, bit_depth, pal)
            y = y0 + j * dy
            for i, v in enumerate(px):
                rows[y][x0 + i * dx] = v
    if p != len(raw):
        raise ValueError("PNG data length mismatch")
    return width, height, rows


def _gif_interlace_order(height: int) -> list[int]:
    """GIF interlace pass order: rows 0,8,16.. then 4,12.. then 2,6..
    then 1,3,5.. — the list maps storage position -> display row."""
    order = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        order.extend(range(start, height, step))
    return order


class _LZWBitWriter:
    """LSB-first variable-width code packer (GIF byte order)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def done(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def _gif_lzw_encode(indices: list[int], code_size: int) -> bytes:
    """GIF variable-width LZW. The width schedule mirrors the decoder's
    (which widens one code AFTER the entry that crosses 2^width, because
    the decoder adds each entry one code later than the encoder does) —
    tracked here by simulating the decoder's entry counter."""
    cc, eoi = 1 << code_size, (1 << code_size) + 1
    table: dict[tuple[int, int], int] = {}
    next_code = eoi + 1
    width = code_size + 1
    dec_next = eoi + 1  # decoder's table counter (one code behind ours)
    emitted = 0
    bw = _LZWBitWriter()

    def emit(c: int) -> None:
        nonlocal emitted, dec_next, width
        bw.put(c, width)
        emitted += 1
        # decoder adds an entry per data code starting with its 2nd read,
        # then widens when ITS counter crosses — affecting the next code
        if emitted >= 2 and dec_next < 4096:
            dec_next += 1
            if dec_next == (1 << width) and width < 12:
                width += 1

    bw.put(cc, width)
    w: int | None = None
    for k in indices:
        if w is None:
            w = k
            continue
        if (w, k) in table:
            w = table[(w, k)]
        else:
            emit(w)
            if next_code < 4096:
                table[(w, k)] = next_code
                next_code += 1
            w = k
    if w is not None:
        emit(w)
    bw.put(eoi, width)
    return bw.done()


def _gif_lzw_decode(data: bytes, code_size: int) -> list[int]:
    """Canonical GIF LZW decode: variable width, clear/EOI handling,
    KwKwK case, width bump when the table crosses 2^width."""
    cc, eoi = 1 << code_size, (1 << code_size) + 1
    pos = 0  # bit position

    def read(width: int) -> int:
        nonlocal pos
        v = 0
        for i in range(width):
            byte = pos >> 3
            if byte >= len(data):
                return eoi
            v |= ((data[byte] >> (pos & 7)) & 1) << i
            pos += 1
        return v

    out: list[int] = []
    table: list[list[int]] = []

    def reset() -> tuple[int, int]:
        nonlocal table
        table = [[i] for i in range(1 << code_size)] + [[], []]
        return code_size + 1, eoi + 1

    width, next_code = reset()
    prev: list[int] | None = None
    while True:
        c = read(width)
        if c == eoi:
            break
        if c == cc:
            width, next_code = reset()
            prev = None
            continue
        if c < len(table) and (table[c] or c < (1 << code_size)):
            entry = table[c]
        elif c == next_code and prev is not None:
            entry = prev + [prev[0]]  # KwKwK
        else:
            raise ValueError(f"corrupt GIF LZW stream (code {c})")
        out.extend(entry)
        if prev is not None and next_code < 4096:
            table.append(prev + [entry[0]])
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out


def gif_encode(
    rows: list[list[tuple[int, int, int]]], interlace: bool = False
) -> bytes:
    """Top-down (r, g, b) rows -> GIF89a bytes (global palette built
    from the image; real variable-width LZW). Test-grade writer that
    produces fully standard archives — palette must fit 256 colors."""
    height, width = len(rows), len(rows[0]) if rows else 0
    palette: dict[tuple[int, int, int], int] = {}
    for row in rows:
        for px in row:
            palette.setdefault(px, len(palette))
    if len(palette) > 256:
        raise ValueError("GIF palette limited to 256 colors")
    bits = max(1, (len(palette) - 1).bit_length())
    code_size = max(2, bits)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out.append(0x80 | ((bits - 1) & 7))  # global table, 2^bits entries
    out += bytes((0, 0))  # bg color, aspect
    for px, _ in sorted(palette.items(), key=lambda kv: kv[1]):
        out += bytes(px)
    out += b"\x00\x00\x00" * ((1 << bits) - len(palette))
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height)
    out.append(0x40 if interlace else 0)
    row_order = _gif_interlace_order(height) if interlace else range(height)
    indices = [palette[px] for y in row_order for px in rows[y]]
    out.append(code_size)
    stream = _gif_lzw_encode(indices, code_size)
    for i in range(0, len(stream), 255):
        block = stream[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def gif_decode(b: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """GIF bytes -> (width, height, top-down (r, g, b) rows). Pure
    stdlib: logical-screen/extension/descriptor walk, global+local
    palettes, full variable-width LZW, interlace unweave. First frame
    only (animation = repeated image descriptors; sampling frames is
    ``frame_sample_plan``'s job, not the pixel codec's)."""
    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw, sh = struct.unpack_from("<HH", b, 6)
    packed, pos = b[10], 13
    palette: list[tuple[int, int, int]] = []
    if packed & 0x80:
        n = 2 << (packed & 7)
        palette = [tuple(b[pos + 3 * i : pos + 3 * i + 3]) for i in range(n)]
        pos += 3 * n
    while pos < len(b):
        block = b[pos]
        if block == 0x21:  # extension: label + data sub-blocks
            pos += 2
            while b[pos]:
                pos += 1 + b[pos]
            pos += 1
        elif block == 0x2C:
            left, top, width, height = struct.unpack_from("<HHHH", b, pos + 1)
            flags = b[pos + 9]
            pos += 10
            if flags & 0x80:
                n = 2 << (flags & 7)
                palette = [
                    tuple(b[pos + 3 * i : pos + 3 * i + 3]) for i in range(n)
                ]
                pos += 3 * n
            code_size = b[pos]
            pos += 1
            stream = bytearray()
            while b[pos]:
                stream += b[pos + 1 : pos + 1 + b[pos]]
                pos += 1 + b[pos]
            pos += 1
            idx = _gif_lzw_decode(bytes(stream), code_size)
            if len(idx) < width * height:
                raise ValueError("GIF pixel data underrun")
            flat = [palette[i] for i in idx[: width * height]]
            stored = [flat[y * width : (y + 1) * width] for y in range(height)]
            if flags & 0x40:  # interlaced: unweave pass order
                rows = [None] * height  # type: ignore[list-item]
                for stored_pos, display_row in enumerate(
                    _gif_interlace_order(height)
                ):
                    rows[display_row] = stored[stored_pos]
                stored = rows  # type: ignore[assignment]
            return width, height, stored
        elif block == 0x3B:
            break
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    raise ValueError("GIF contained no image descriptor")


def gif_encode_frames(
    frames: list[list[list[tuple[int, int, int]]]],
    delay_ms: int = 100,
    optimize_patches: bool = True,
) -> bytes:
    """Frame list -> animated GIF89a. Frame 0 is written full-size;
    later frames as bounding-box PATCHES of what changed vs the
    previous frame (the standard GIF animation optimization — and it
    exercises the decoder's sub-rectangle compositing path). Global
    palette built over all frames (≤256 colors)."""
    if not frames:
        raise ValueError("need at least one frame")
    height, width = len(frames[0]), len(frames[0][0])
    for i, fr in enumerate(frames):
        if len(fr) != height or any(len(row) != width for row in fr):
            raise ValueError(
                f"frame {i} is not {width}x{height}: all frames must match "
                "frame 0's dimensions"
            )
    palette: dict[tuple[int, int, int], int] = {}
    for fr in frames:
        for row in fr:
            for px in row:
                palette.setdefault(px, len(palette))
    if len(palette) > 256:
        raise ValueError("GIF palette limited to 256 colors")
    bits = max(1, (len(palette) - 1).bit_length())
    code_size = max(2, bits)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out.append(0x80 | ((bits - 1) & 7))
    out += bytes((0, 0))
    for px, _ in sorted(palette.items(), key=lambda kv: kv[1]):
        out += bytes(px)
    out += b"\x00\x00\x00" * ((1 << bits) - len(palette))
    # netscape-free: plain frame loop, per-frame GCE with the delay
    prev = None
    for fr in frames:
        if prev is None or not optimize_patches:
            x0, y0, x1, y1 = 0, 0, width - 1, height - 1
        else:
            changed = [
                (x, y)
                for y in range(height)
                for x in range(width)
                if fr[y][x] != prev[y][x]
            ]
            if changed:
                xs, ys = [c[0] for c in changed], [c[1] for c in changed]
                x0, y0, x1, y1 = min(xs), min(ys), max(xs), max(ys)
            else:
                x0, y0, x1, y1 = 0, 0, 0, 0  # 1x1 no-op patch
        out += bytes([0x21, 0xF9, 0x04, 0x00])  # GCE, disposal=none
        out += struct.pack("<H", max(1, delay_ms // 10))
        out += bytes([0x00, 0x00])  # no transparency; terminator
        pw, ph = x1 - x0 + 1, y1 - y0 + 1
        out += b"\x2c" + struct.pack("<HHHH", x0, y0, pw, ph)
        out.append(0)  # no local table, no interlace
        idx = [palette[fr[y][x]] for y in range(y0, y1 + 1) for x in range(x0, x1 + 1)]
        out.append(code_size)
        stream = _gif_lzw_encode(idx, code_size)
        for i in range(0, len(stream), 255):
            block = stream[i : i + 255]
            out.append(len(block))
            out += block
        out.append(0)
        prev = fr
    out += b"\x3b"
    return bytes(out)


def gif_decode_frames(
    b: bytes, max_frames: int | None = None
) -> tuple[int, int, list[tuple[int, list[list[tuple[int, int, int]]]]]]:
    """Animated GIF -> (width, height, [(delay_ms, full frame), ...]).

    Each image descriptor is COMPOSITED onto the running canvas at its
    (left, top) offset — sub-rectangle patch frames reconstruct to full
    frames — honoring the GCE transparent index (transparent pixels
    leave the canvas untouched). Disposal is treated as 'leave in
    place' (methods 0/1, the overwhelmingly common case for corpus
    GIFs); restore-to-background/previous are approximated by the same.
    """
    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw, sh = struct.unpack_from("<HH", b, 6)
    packed, bg_idx, pos = b[10], b[11], 13
    gpalette: list[tuple[int, int, int]] = []
    if packed & 0x80:
        n = 2 << (packed & 7)
        gpalette = [tuple(b[pos + 3 * i : pos + 3 * i + 3]) for i in range(n)]
        pos += 3 * n
    bg = gpalette[bg_idx] if bg_idx < len(gpalette) else (0, 0, 0)
    canvas = [[bg] * sw for _ in range(sh)]
    frames: list[tuple[int, list[list[tuple[int, int, int]]]]] = []
    delay_ms, transparent = 0, None
    while pos < len(b):
        block = b[pos]
        if block == 0x21:
            label = b[pos + 1]
            pos += 2
            if label == 0xF9 and b[pos] >= 4:  # graphic control extension
                flags = b[pos + 1]
                delay_ms = struct.unpack_from("<H", b, pos + 2)[0] * 10
                transparent = b[pos + 4] if flags & 1 else None
            while b[pos]:
                pos += 1 + b[pos]
            pos += 1
        elif block == 0x2C:
            left, top, width, height = struct.unpack_from("<HHHH", b, pos + 1)
            flags = b[pos + 9]
            pos += 10
            palette = gpalette
            if flags & 0x80:
                n = 2 << (flags & 7)
                palette = [
                    tuple(b[pos + 3 * i : pos + 3 * i + 3]) for i in range(n)
                ]
                pos += 3 * n
            code_size = b[pos]
            pos += 1
            stream = bytearray()
            while b[pos]:
                stream += b[pos + 1 : pos + 1 + b[pos]]
                pos += 1 + b[pos]
            pos += 1
            idx = _gif_lzw_decode(bytes(stream), code_size)
            if len(idx) < width * height:
                raise ValueError("GIF pixel data underrun")
            order = (
                _gif_interlace_order(height) if flags & 0x40 else range(height)
            )
            for stored_pos, disp_row in enumerate(order):
                base = stored_pos * width
                for x in range(width):
                    v = idx[base + x]
                    if v == transparent:
                        continue
                    if v >= len(palette):
                        raise ValueError(
                            f"GIF pixel index {v} outside palette "
                            f"({len(palette)} entries)"
                        )
                    yy, xx = top + disp_row, left + x
                    if yy < sh and xx < sw:
                        canvas[yy][xx] = palette[v]
            frames.append((delay_ms, [row[:] for row in canvas]))
            delay_ms, transparent = 0, None
            if max_frames is not None and len(frames) >= max_frames:
                break
        elif block == 0x3B:
            break
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    return sw, sh, frames


def image_decode(b: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """Dispatch on magic bytes: BMP, PNG, GIF, JPEG (baseline SOF0 +
    progressive SOF2 via `operators/jpeg.py`), lossless WebP/VP8L
    (`operators/webp.py`) and baseline TIFF (`operators/tiff.py` —
    both byte orders, none/PackBits/LZW, predictor, gray/RGB/palette/
    bilevel). Remaining formats (lossy VP8, HEIC, ...) raise at the
    PIL plug point."""
    if b[:2] == b"BM":
        return bmp_decode(b)
    if b[:8] == _PNG_SIG:
        return png_decode(b)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return gif_decode(b)
    if b[:2] == b"\xff\xd8":
        from data_migration_etl_scripts_spark.operators.jpeg import jpeg_decode

        return jpeg_decode(b)
    if b[:4] == b"RIFF" and b[8:12] == b"WEBP":
        from data_migration_etl_scripts_spark.operators.webp import webp_decode

        return webp_decode(b)
    if b[:4] in (b"II*\x00", b"MM\x00*"):
        from data_migration_etl_scripts_spark.operators.tiff import tiff_decode

        return tiff_decode(b)
    raise NotImplementedError(
        "other compressed images need PIL — plug the codec kernel in here"
    )


def _is_mpegts(b: bytes) -> bool:
    """188-byte-packet MPEG transport stream: 0x47 sync repeating at
    the packet stride (two packets checked — one byte can collide)."""
    return len(b) > 188 and b[0] == 0x47 and b[188] == 0x47


def _ts_is_audio_only(b: bytes) -> bool:
    """True when a transport stream declares no AVC video (so its
    media surface is the audio track)."""
    from data_migration_etl_scripts_spark.operators.mpegts import ts_demux

    try:
        out = ts_demux(b)
    except (ValueError, NotImplementedError):
        return False
    return "h264" not in out and ("aac" in out or "mpeg_audio" in out)


def _bmff_is_audio_only(b: bytes) -> bool:
    """True when an ISO-BMFF file has no AVC video track (so the
    media surface is its mp4a audio) — a cheap stsd-entry walk."""
    from data_migration_etl_scripts_spark.operators import mp4 as m4

    try:
        moov = m4._find(b, [b"moov"], 0, len(b))
    except ValueError:
        return False
    has_video = has_audio = False
    for typ, ts, te in m4.mp4_boxes(b, *moov):
        if typ != b"trak":
            continue
        try:
            stsd_s, stsd_e = m4._find(
                b, [b"mdia", b"minf", b"stbl", b"stsd"], ts, te)
        except ValueError:
            continue
        import struct as _s

        n_entries = _s.unpack_from(">I", b, stsd_s + 4)[0]
        pos = stsd_s + 8
        for _ in range(n_entries):
            esize = _s.unpack_from(">I", b, pos)[0]
            etype = b[pos + 4: pos + 8]
            if etype in (b"avc1", b"avc3"):
                has_video = True
            elif etype == b"mp4a":
                has_audio = True
            pos += esize
    return has_audio and not has_video


def payload_format(b: bytes) -> str:
    """Classify a media payload by magic bytes into the codec family
    that will decode it — the label bench.py's per-codec timing
    breakdown groups by (so a kernel regression in one format can't
    hide inside the aggregate multimodal_real_decode wall)."""
    if b[:2] == b"BM":
        return "bmp"
    if b[:8] == _PNG_SIG:
        return "png"
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if b[:2] == b"\xff\xd8":
        return "jpeg"
    if b[:4] == b"RIFF" and b[8:12] == b"WEBP":
        return "webp"
    if b[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if b[:4] == b"fLaC":
        return "flac"
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        ft = _riff_fmt_tag(b)
        tag = ft[0] if ft is not None else 1
        return {0x11: "wav_adpcm", 6: "wav_g711", 7: "wav_g711"}.get(tag, "wav_pcm")
    if len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"AVI ":
        return "avi"
    if len(b) >= 2 and b[0] == 0xFF and (b[1] & 0xF6) == 0xF0:
        return "aac"  # ADTS: 0xFFF sync with layer bits 00 (r9)
    if len(b) >= 2 and b[0] == 0xFF and (b[1] & 0xE0) == 0xE0:
        layer = {0b11: "mpeg_l1", 0b10: "mpeg_l2", 0b01: "mpeg_l3"}.get(
            (b[1] >> 1) & 0b11
        )
        return layer or "mpeg_unknown"
    if b[:4] == b"\x00\x00\x00\x01" or b[:3] == b"\x00\x00\x01":
        return "h264"  # Annex-B byte stream (r8)
    if len(b) >= 12 and b[4:8] in (b"ftyp", b"styp"):
        return "mp4"  # ISO-BMFF container (r8)
    if _is_mpegts(b):
        return "mpegts"  # HLS/broadcast transport stream (r9)
    if b[:4] == b"OggS":
        return "ogg"  # Ogg container (r9: FLAC mapping decodes)
    return "unknown"


def _riff_fmt_tag(b: bytes) -> tuple[int, int] | None:
    """Walk RIFF chunks and return (format tag, sample rate) from the
    real ``fmt `` chunk, or None when the bytes are not RIFF/WAVE or
    carry no fmt chunk. A byte scan (``b.find(b"fmt ")``) is wrong
    here: the four bytes can occur inside an earlier chunk payload
    (LIST/INFO metadata) and misread the format tag, misrouting PCM
    files to the ADPCM/G.711 decoders."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos = 12
    while pos + 8 <= len(b):
        cid = b[pos:pos + 4]
        size = int.from_bytes(b[pos + 4:pos + 8], "little")
        if cid == b"fmt " and size >= 8 and pos + 16 <= len(b):
            tag = int.from_bytes(b[pos + 8:pos + 10], "little")
            rate = int.from_bytes(b[pos + 12:pos + 16], "little")
            return tag, rate
        pos += 8 + size + (size & 1)
    return None


def _wav_parse_float(b: bytes) -> tuple[int, int, int, bytes] | None:
    """Minimal RIFF walk for IEEE-float WAVs (fmt code 3, 32/64-bit),
    which the stdlib ``wave`` module rejects. Returns
    (nch, bits, rate, data) or None when the file is not format 3."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos:pos + 4]
        size = int.from_bytes(b[pos + 4:pos + 8], "little")
        body = b[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if fmt is None or data is None or len(fmt) < 16:
        return None
    code, nch, rate = struct.unpack_from("<HHI", fmt)
    bits = struct.unpack_from("<H", fmt, 14)[0]
    if code != 3 or bits not in (32, 64):
        return None
    return nch, bits, rate, data


def wav_decode(b: bytes) -> tuple[int, list[float]]:
    """PCM WAV bytes -> (duration_ms, mono samples in [-1, 1]).
    All integer PCM widths decode (r6): 8-bit unsigned, 16-bit,
    24-bit packed, and 32-bit (signed little-endian) — plus IEEE
    float32/float64 WAVs (format 3) through a minimal RIFF walk and
    IMA-ADPCM WAVs (format 0x11, operators/adpcm.py), both of which
    stdlib ``wave`` rejects."""
    f = _wav_parse_float(b)
    if f is not None:
        nch, bits, rate, data = f
        width = bits // 8
        n = len(data) // width
        vals = struct.unpack(f"<{n}{'f' if bits == 32 else 'd'}", data[:n * width])
        mono = [sum(vals[i:i + nch]) / nch for i in range(0, n, nch)]
        return int(len(mono) * 1000 / rate), mono
    # compressed WAV formats stdlib wave rejects: IMA ADPCM (0x11),
    # G.711 A-law (6) and mu-law (7)
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        ft = _riff_fmt_tag(b)
        tag = ft[0] if ft is not None else 0
        if tag == 0x11:
            from data_migration_etl_scripts_spark.operators.adpcm import (
                adpcm_wav_decode,
            )

            rate, _nch, mono = adpcm_wav_decode(b)
            return int(len(mono) * 1000 / rate), mono
        if tag in (6, 7):
            from data_migration_etl_scripts_spark.operators.adpcm import (
                g711_wav_decode,
            )

            rate, _nch, mono = g711_wav_decode(b)
            return int(len(mono) * 1000 / rate), mono
    with wave.open(io.BytesIO(b)) as w:
        nch, sampwidth, rate, nframes = (
            w.getnchannels(), w.getsampwidth(), w.getframerate(), w.getnframes()
        )
        raw = w.readframes(nframes)
    if sampwidth == 1:  # unsigned, midpoint 128
        ints = [v - 128 for v in raw]
        full = 128.0
    elif sampwidth == 2:
        ints = list(struct.unpack(f"<{len(raw) // 2}h", raw))
        full = 32768.0
    elif sampwidth == 3:  # packed 24-bit signed LE
        ints = []
        for i in range(0, len(raw), 3):
            v = raw[i] | (raw[i + 1] << 8) | (raw[i + 2] << 16)
            ints.append(v - (1 << 24) if v & 0x800000 else v)
        full = float(1 << 23)
    elif sampwidth == 4:
        ints = list(struct.unpack(f"<{len(raw) // 4}i", raw))
        full = float(1 << 31)
    else:
        raise NotImplementedError(
            f"{8 * sampwidth}-bit PCM needs ffmpeg/soundfile — plug the "
            "codec kernel in here"
        )
    mono = [sum(ints[i:i + nch]) / (nch * full) for i in range(0, len(ints), nch)]
    return int(nframes * 1000 / rate), mono


def _strip_id3(b: bytes) -> bytes:
    """Strip leading ID3v2 tag(s) (10-byte header with a synchsafe
    28-bit size, +10 when the footer flag is set) and a trailing
    128-byte ID3v1 'TAG' block — pure container structure, so crawled
    tagged MP3/AAC files reach the codec sync bytes."""
    while b[:3] == b"ID3" and len(b) >= 10:
        if any(v & 0x80 for v in b[6:10]):
            break  # not a synchsafe size: leave as-is
        size = ((b[6] << 21) | (b[7] << 14) | (b[8] << 7) | b[9]) + 10
        if b[5] & 0x10:  # footer present
            size += 10
        if size >= len(b):
            break
        b = b[size:]
    if len(b) > 128 and b[-128:-125] == b"TAG":
        b = b[:-128]
    return b


def audio_decode_rate(b: bytes) -> tuple[int, list[float]]:
    """Dispatch on magic bytes: PCM WAV (RIFF, stdlib wave), FLAC
    (b"fLaC", `operators/flac.py` — bit-exact lossless decode, CRC +
    MD5 verified), ADTS AAC-LC (0xFFF sync + layer 00,
    `operators/aac.py` — r9), MP4/ISO-BMFF audio (ftyp/moov,
    `operators/mp4.py` mp4a demux -> AAC), and MPEG-1 audio Layer
    I/II/III (0xFFEx sync, `operators/mpeg_audio.py` +
    `operators/mpeg_layer3.py` — header walk, requantization, bit
    reservoir, IMDCT, pseudo-QMF filterbank) decode for real; foreign
    MP3s/AACs selecting Annex-B codebooks and other compressed codecs
    raise at the documented plug point inside the respective decoder.

    Returns (sample_rate, mono samples in [-1, 1]). MPEG streams are
    downmixed to mono and the polyphase filterbank's leading delay
    (``PQMF_DELAY`` samples) is trimmed so sample 0 aligns with the
    encoder's sample 0.

    Crawled MP3/AAC files almost always carry metadata tags: a
    leading ID3v2 container (synchsafe-sized, structural) and/or a
    trailing 128-byte ID3v1 ``TAG`` block are stripped before
    dispatch (r9)."""
    b = _strip_id3(b)
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        f = _wav_parse_float(b)
        if f is not None:
            rate = f[2]
        else:
            ft = _riff_fmt_tag(b)
            tag = ft[0] if ft is not None else 0
            if tag == 0x11:  # IMA ADPCM — stdlib wave rejects it
                from data_migration_etl_scripts_spark.operators.adpcm import (
                    adpcm_wav_decode,
                )

                rate, _nch, mono = adpcm_wav_decode(b)
                return rate, mono
            if tag in (6, 7):  # G.711 A-law / mu-law
                from data_migration_etl_scripts_spark.operators.adpcm import (
                    g711_wav_decode,
                )

                rate, _nch, mono = g711_wav_decode(b)
                return rate, mono
            with wave.open(io.BytesIO(b)) as w:
                rate = w.getframerate()
        _dur, mono = wav_decode(b)
        return rate, mono
    if b[:4] == b"fLaC":
        from data_migration_etl_scripts_spark.operators.flac import flac_decode

        rate, nch, bps, channels = flac_decode(b)
        full = float(1 << (bps - 1))
        n = len(channels[0])
        mono = [
            sum(channels[ch][i] for ch in range(nch)) / (nch * full)
            for i in range(n)
        ]
        return rate, mono
    if b[:4] == b"OggS":
        # Ogg container: the FLAC mapping decodes end to end (r9,
        # operators/ogg.py -> operators/flac.py, bit-exact); Vorbis
        # routes to operators/vorbis.py (r10 — full header/setup
        # parse + the silence operating point; nonzero floors raise
        # at its documented synthesis plug); Opus raises
        from data_migration_etl_scripts_spark.operators.ogg import (
            ogg_extract_flac,
            ogg_stream_kinds,
        )

        kinds = set(ogg_stream_kinds(b).values())
        if "vorbis" in kinds and "flac" not in kinds:
            from data_migration_etl_scripts_spark.operators.vorbis \
                import vorbis_decode

            rate, nch, channels = vorbis_decode(b)
            n = len(channels[0])
            mono = [sum(channels[ch][i] for ch in range(nch)) / nch
                    for i in range(n)]
            return rate, mono
        if "opus" in kinds and "flac" not in kinds:
            # r12: Ogg-Opus routes to operators/opus.py (TOC/packing
            # + range coder + the CELT-silence operating point;
            # non-silent CELT is seam-gated, SILK raises namefully)
            from data_migration_etl_scripts_spark.operators.opus \
                import opus_decode

            rate, nch, channels = opus_decode(b)
            n = len(channels[0])
            mono = [sum(channels[ch][i] for ch in range(nch)) / nch
                    for i in range(n)]
            return rate, mono
        from data_migration_etl_scripts_spark.operators.flac import (
            flac_decode,
        )

        rate, nch, bps, channels = flac_decode(ogg_extract_flac(b))
        full = float(1 << (bps - 1))
        n = len(channels[0])
        mono = [
            sum(channels[ch][i] for ch in range(nch)) / (nch * full)
            for i in range(n)
        ]
        return rate, mono
    if len(b) >= 2 and b[0] == 0xFF and (b[1] & 0xF6) == 0xF0:
        # ADTS AAC: 0xFFF sync with LAYER BITS 00 (reserved in MPEG
        # audio — exactly what distinguishes the two syncs); engine
        # silence streams decode seam-free, foreign content needs
        # load_aac_tables (operators/aac.py seam note)
        from data_migration_etl_scripts_spark.operators.aac import aac_decode

        rate, nch, channels = aac_decode(b)
        n = len(channels[0])
        mono = [
            sum(channels[ch][i] for ch in range(nch)) / nch
            for i in range(n)
        ]
        return rate, mono
    if (len(b) >= 12 and b[4:8] in (b"ftyp", b"styp", b"moov")) \
            or _is_mpegts(b):
        # ISO-BMFF / MPEG-TS audio: demux the AAC track, decode
        from data_migration_etl_scripts_spark.operators.aac import aac_decode

        if _is_mpegts(b):
            from data_migration_etl_scripts_spark.operators.mpegts import (
                ts_extract_aac,
            )

            adts = ts_extract_aac(b)
        else:
            from data_migration_etl_scripts_spark.operators.mp4 import (
                mp4_extract_aac,
            )

            adts = mp4_extract_aac(b)
        rate, nch, channels = aac_decode(adts)
        n = len(channels[0])
        mono = [
            sum(channels[ch][i] for ch in range(nch)) / nch
            for i in range(n)
        ]
        return rate, mono
    if len(b) >= 2 and b[0] == 0xFF and (b[1] & 0xE0) == 0xE0:
        from data_migration_etl_scripts_spark.operators.mpeg_audio import (
            PQMF_DELAY,
            mpeg_audio_decode,
        )

        rate, nch, channels = mpeg_audio_decode(b)
        n = len(channels[0])
        mono = [
            sum(channels[ch][i] for ch in range(nch)) / nch
            for i in range(PQMF_DELAY, n)
        ]
        return rate, mono
    raise NotImplementedError(
        "unrecognized audio container needs ffmpeg — plug the codec kernel in here"
    )


def audio_decode(b: bytes) -> tuple[int, list[float]]:
    """(duration_ms, mono) form of :func:`audio_decode_rate` — the
    contract the feature kernels consume."""
    rate, mono = audio_decode_rate(b)
    return int(len(mono) * 1000 / rate), mono


def _real_features(content: bytes | None, dim: int) -> list[float] | None:
    """Decode-and-summarize: per-channel stats for BMP/PNG/GIF/baseline-
    JPEG images, duration + band energies for WAV audio. Remaining
    compressed formats (WebP/MP3) raise — the honest seam where a
    PIL/ffmpeg kernel slots in."""
    if content is None:
        return None
    if (
        content[:2] == b"BM"
        or content[:8] == _PNG_SIG
        or content[:6] in (b"GIF87a", b"GIF89a")
        or content[:2] == b"\xff\xd8"
        or (content[:4] == b"RIFF" and content[8:12] == b"WEBP")
        or content[:4] in (b"II*\x00", b"MM\x00*")
        or content[:4] == b"\x00\x00\x00\x01"
        or content[:3] == b"\x00\x00\x01"
        or (len(content) >= 12 and content[4:8] in (b"ftyp", b"styp")
            and not _bmff_is_audio_only(content))
        or (_is_mpegts(content) and not _ts_is_audio_only(content))
    ):
        if (content[:4] == b"\x00\x00\x00\x01"
                or content[:3] == b"\x00\x00\x01"
                or (len(content) >= 12
                    and content[4:8] in (b"ftyp", b"styp"))
                or _is_mpegts(content)):
            # H.264 Annex B / MP4 (r8) / MPEG-TS (r9): first I-frame
            # as the image surface (operators/h264.py + the mp4.py /
            # mpegts.py demuxers)
            from data_migration_etl_scripts_spark.operators.h264 import (
                decode_iframe,
            )

            if _is_mpegts(content):
                from data_migration_etl_scripts_spark.operators.mpegts import (
                    ts_extract_h264,
                )

                content = ts_extract_h264(content)
            elif content[4:8] in (b"ftyp", b"styp"):
                from data_migration_etl_scripts_spark.operators.mp4 import (
                    mp4_extract_h264,
                )

                content = mp4_extract_h264(content)
            w, h, rows = decode_iframe(content)
        else:
            w, h, rows = image_decode(content)
        n = max(1, w * h)
        sums = [0, 0, 0]
        mx = [0, 0, 0]
        for row in rows:
            for px in row:
                for c in range(3):
                    sums[c] += px[c]
                    mx[c] = max(mx[c], px[c])
        out = [float(w), float(h)]
        out += [s / (255.0 * n) for s in sums]
        out += [m / 255.0 for m in mx]
    elif (
        (content[:4] == b"RIFF" and content[8:12] == b"WAVE")
        or content[:4] == b"fLaC"
        or (
            len(content) >= 2
            and content[0] == 0xFF
            and (content[1] & 0xE0) == 0xE0
        )
        or (len(content) >= 12 and content[4:8] in (b"ftyp", b"styp"))
        or _is_mpegts(content)
        or content[:4] == b"OggS"
    ):
        dur_ms, mono = audio_decode(content)
        n_bands = max(1, dim - 2)
        step = max(1, len(mono) // n_bands)
        bands = [
            math.sqrt(sum(x * x for x in mono[i:i + step]) / max(1, len(mono[i:i + step])))
            for i in range(0, step * n_bands, step)
        ]
        out = [dur_ms / 1000.0, float(len(mono))] + bands
    else:
        raise NotImplementedError(
            "compressed media needs PIL/ffmpeg — plug the codec kernel in here"
        )
    return [float(round(v, 6)) for v in (out + [0.0] * dim)[:dim]]


def _fake_features(content: bytes | None, dim: int) -> list[float] | None:
    """Deterministic pseudo-embedding: md5-chained floats in [0,1).

    The chain runs over ASCII HEX strings (seed_0 = content.hex(),
    seed_{i+1} = md5(seed_i)) rather than raw digest bytes, so an
    engine whose md5 only accepts VARCHAR (DuckDB) can reproduce it
    exactly — that makes the fake kernel SQL-twinnable and gives the
    multimodal plumbing a real hash-matched oracle row.
    """
    if content is None:
        return None
    out: list[float] = []
    seed = content.hex()
    while len(out) < dim:
        seed = hashlib.md5(seed.encode("ascii")).hexdigest()
        out.append(int(seed[:8], 16) / 2**32)
    return out[:dim]


def extract_features(
    df: DataFrame,
    dim: int = 16,
    decoder: str = "fake",
    batch_size: int = 64,
) -> DataFrame:
    """binary content -> fixed-dim feature vector via mapInPandas.

    ``df`` must carry MEDIA_SCHEMA columns. Output: FEATURE_SCHEMA.
    """

    features = _real_features if decoder == "real" else _fake_features

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["content"].map(lambda b: None if b is None else len(b)),
                    "feature": pdf["content"].map(lambda b: features(bytes(b) if b is not None else None, dim)),
                }
            )

    sized = df.sparkSession.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    _ = sized  # documented knob; leave session value in control
    return df.select("media_id", "media_type", "content").mapInPandas(
        kernel, schema=FEATURE_SCHEMA
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("content", T.BinaryType(), True),
    ]
)


def resize_images(
    df: DataFrame, width: int = 224, height: int = 224, decoder: str = "fake"
) -> DataFrame:
    """Image resize kernel: binary -> binary at (width, height).

    ``decoder="real"`` marks the PIL plug-point; the fake produces a
    deterministic content-derived payload of plausible size so batch
    shapes, memory profile, and schema are exercised for real.
    """

    def real_resize(b):
        # nearest-neighbor resample of a BMP/PNG/GIF, re-encoded as BMP;
        # other compressed formats raise inside image_decode
        if b is None:
            return None
        w, h, rows = image_decode(bytes(b))
        out = [
            [rows[min(h - 1, (y * h) // height)][min(w - 1, (x * w) // width)]
             for x in range(width)]
            for y in range(height)
        ]
        return bmp_encode(out)

    def fake_resize(b):
        if b is None:
            return None
        seed = hashlib.md5(bytes(b) + f":{width}x{height}".encode()).digest()
        reps = max(1, (width * height) // (16 * 64))  # ~bytes/64 payload
        return seed * reps

    resize = real_resize if decoder == "real" else fake_resize

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": width,
                    "height": height,
                    "content": pdf["content"].map(resize),
                }
            )

    return df.select("media_id", "content").mapInPandas(kernel, schema=RESIZED_SCHEMA)


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("mfcc", T.ArrayType(T.FloatType()), True),
    ]
)


def audio_features(df: DataFrame, n_mfcc: int = 13, decoder: str = "fake") -> DataFrame:
    """Audio feature kernel: binary -> (duration, mfcc-like vector).

    ``decoder="real"`` marks the torchaudio/librosa plug-point."""

    def real_row(b):
        # PCM WAV (stdlib wave) or MPEG-1 Layer I/II (operators/
        # mpeg_audio.py) via the audio_decode dispatcher: true duration
        # + per-band RMS energies (an MFCC stand-in until librosa/
        # torchaudio plugs in — the band-energy vector is real signal,
        # not a hash)
        if b is None:
            return None, None
        dur_ms, mono = audio_decode(bytes(b))
        step = max(1, len(mono) // n_mfcc)
        bands = [
            float(round(math.sqrt(
                sum(x * x for x in mono[i:i + step]) / max(1, len(mono[i:i + step]))
            ), 6))
            for i in range(0, step * n_mfcc, step)
        ]
        return dur_ms, (bands + [0.0] * n_mfcc)[:n_mfcc]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decoder == "real":
                decoded = pdf["content"].map(real_row)
                yield pd.DataFrame(
                    {
                        "media_id": pdf["media_id"],
                        "duration_ms": decoded.map(lambda t: t[0]),
                        "mfcc": decoded.map(lambda t: t[1]),
                    }
                )
                continue
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "duration_ms": pdf["content"].map(
                        lambda b: None if b is None else len(b) * 8
                    ),
                    "mfcc": pdf["content"].map(lambda b: _fake_features(b, n_mfcc)),
                }
            )

    return df.select("media_id", "content").mapInPandas(
        kernel, schema=AUDIO_FEATURE_SCHEMA
    )


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: explodes per-video sample timestamps
    from metadata (duration_ms in meta_json) WITHOUT decoding — the
    downstream decode kernel receives (media_id, sample_ms) pairs.
    Spark-side: pure JSON + sequence, no Python."""
    duration = F.get_json_object("meta_json", "$.duration_ms").cast("long")
    samples = F.sequence(F.lit(0), F.coalesce(duration, F.lit(0)), F.lit(every_ms))
    return df.select(
        "media_id",
        F.explode(samples).alias("sample_ms"),
    )


def synthetic_media(spark, n: int = 64, dim_hint: int = 0) -> DataFrame:
    """Deterministic fake media table for tests/benches (no codecs).

    Generated entirely JVM-side (range -> md5 -> unhex), never via
    driver createDataFrame: shipping binary rows through Py4J is
    seconds-slow and degrades badly in long-lived sessions. Few
    partitions: mapInPandas pays a Python-worker spinup per task, so a
    tiny table fanned over local[32] costs ~10s of pure startup.
    """
    df = spark.range(n).select(F.col("id").alias("media_id"))
    media_type = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("media_id") % 3).cast("int") + 1,
    )
    seed_hex = F.md5(F.concat(F.lit("media:"), F.col("media_id").cast("string")))
    content = F.unhex(F.expr(
        "repeat(md5(concat('media:', CAST(media_id AS STRING))), CAST(4 + media_id % 5 AS INT))"
    ))
    meta = F.when(
        media_type == "video",
        F.concat(F.lit('{"duration_ms": '), (1000 * (F.col("media_id") % 7)).cast("string"), F.lit("}")),
    ).otherwise(F.lit("{}"))
    _ = seed_hex  # inlined in the SQL repeat above
    return df.select(
        "media_id",
        media_type.alias("media_type"),
        content.alias("content"),
        meta.alias("meta_json"),
    ).coalesce(max(1, n // 64))


def wav_encode(samples: list[float], rate: int = 8000) -> bytes:
    """Mono [-1, 1] samples -> 16-bit PCM WAV bytes (stdlib wave)."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack(
            f"<{len(samples)}h",
            *(max(-32768, min(32767, int(s * 32767))) for s in samples),
        ))
    return buf.getvalue()


def synthetic_real_media_rows(
    n: int = 12, include_mpeg: bool = False
) -> list[tuple]:
    """Memoized per (n, include_mpeg): the payload ENCODES (MP3/FLAC/
    JPEG/...) cost ~0.5 s and at least three consumers rebuild the
    same bytes per process (the Spark fixture, bench's codec
    breakdown, selfcheck's range-assert recompute). Rows are
    deterministic pure functions of the arguments, so the cache is
    semantics-free; callers receive a fresh shallow copy."""
    from data_migration_etl_scripts_spark.operators import (
        vorbis as _vorbis,
    )

    from data_migration_etl_scripts_spark.operators import sbr as _sbr

    # the r10 quantized-Vorbis and r11 SBR rows are
    # environment-gated (env table seams), so the gate states are
    # part of the cache key
    vorb = bool(os.environ.get(_vorbis._TABLES_ENV)
                and _vorbis.seam_available())
    sbr_on = bool(os.environ.get(_sbr._TABLES_ENV)
                  and _sbr.seam_available())
    key = (n, include_mpeg, vorb, sbr_on)
    hit = _REAL_MEDIA_ROWS_CACHE.get(key)
    if hit is None:
        hit = _synthetic_real_media_rows_build(n, include_mpeg)
        _REAL_MEDIA_ROWS_CACHE[key] = hit
    return list(hit)


_REAL_MEDIA_ROWS_CACHE: dict[tuple, list] = {}


def _synthetic_real_media_rows_build(
    n: int = 12, include_mpeg: bool = False
) -> list[tuple]:
    """Deterministic GENUINE media payload rows (pure Python, no
    Spark) — 8x8 gradient BMPs, PNGs, GIFs and baseline JPEGs
    (rotating) and 8 kHz sine WAVs; with ``include_mpeg``, nine extra
    r6 payload rows at ids n..n+8: MPEG-1 audio (Layer II mono,
    Layer I mono, Layer II independent stereo, Layer II grouped-class,
    Layer II INTENSITY stereo), a progressive (SOF2) JPEG, a
    lossless WebP (predictor transform + color cache), a mono FLAC
    (fixed predictors), a stereo mid/side FLAC (LPC order 4), an
    LZW+predictor striped TIFF, a big-endian PackBits gray TIFF,
    IMA-ADPCM and G.711 mu-law WAVs, a Deflate TIFF, and (r7, at
    n+14) an MPEG-1 Layer III stream from the engine encoder
    (operators/mpeg_layer3.py — reservoir + count1 operating point).
    Shared by the Spark fixture
    below and the selfcheck range-assert oracle, which recomputes the
    expected features driver-side from these exact bytes."""
    from data_migration_etl_scripts_spark.operators.jpeg import jpeg_encode

    rows = []
    for i in range(n):
        if i % 2 == 0:
            px = [[((x * 32 + i) % 256, (y * 32) % 256, (x * y + i) % 256)
                   for x in range(8)] for y in range(8)]
            enc = (bmp_encode, png_encode, gif_encode, jpeg_encode)[(i // 2) % 4]
            rows.append((i, "image", bytearray(enc(px)), "{}"))
        else:
            freq = 220.0 * (1 + i % 3)
            samples = [math.sin(2 * math.pi * freq * t / 8000.0)
                       for t in range(800)]  # 100 ms
            rows.append((i, "audio", bytearray(wav_encode(samples)), "{}"))
    if include_mpeg:
        from data_migration_etl_scripts_spark.operators.mpeg_audio import (
            mpeg_audio_encode,
        )

        def tone(freq, length, amp=0.6):
            return [amp * math.sin(2 * math.pi * freq * t / 32000.0)
                    for t in range(length)]

        rows.append((n, "audio",
                     bytearray(mpeg_audio_encode(tone(440.0, 1152), layer=2, bits=10)),
                     "{}"))
        rows.append((n + 1, "audio",
                     bytearray(mpeg_audio_encode(tone(880.0, 384 * 3), layer=1, bits=10)),
                     "{}"))
        rows.append((n + 2, "audio",
                     bytearray(mpeg_audio_encode(
                         tone(440.0, 1152), layer=2, bits=8,
                         right=tone(1000.0, 1152, amp=0.4))),
                     "{}"))
        rows.append((n + 3, "audio",
                     bytearray(mpeg_audio_encode(tone(660.0, 1152), layer=2, bits=2)),
                     "{}"))
        rows.append((n + 4, "audio",
                     bytearray(mpeg_audio_encode(
                         tone(440.0, 1152), layer=2, bits=8,
                         right=tone(440.0, 1152, amp=0.3), joint_bound=4)),
                     "{}"))
        from data_migration_etl_scripts_spark.operators.jpeg import (
            jpeg_encode_progressive,
        )

        px = [[((x * 31 + 5) % 256, (y * 29) % 256, (x * y + 11) % 256)
               for x in range(16)] for y in range(16)]
        rows.append((n + 5, "image",
                     bytearray(jpeg_encode_progressive(px, quality=92)),
                     "{}"))
        from data_migration_etl_scripts_spark.operators.webp import webp_encode

        px2 = [[((x * 13) % 256, (x + y * 9) % 256, (y * 21) % 256)
                for x in range(12)] for y in range(10)]
        rows.append((n + 6, "image",
                     bytearray(webp_encode(px2, predictor_mode=7)),
                     "{}"))
        from data_migration_etl_scripts_spark.operators.flac import flac_encode

        def itone(freq, length, amp=0.6):
            return [int(amp * 32767 * math.sin(2 * math.pi * freq * t / 32000.0))
                    for t in range(length)]

        rows.append((n + 7, "audio",
                     bytearray(flac_encode([itone(440.0, 3200)],
                                           rate=32000, block_size=1024)),
                     "{}"))
        rows.append((n + 8, "audio",
                     bytearray(flac_encode(
                         [itone(440.0, 3200), itone(880.0, 3200, amp=0.3)],
                         rate=32000, block_size=1024,
                         stereo_mode="mid_side", force_lpc=4)),
                     "{}"))
        from data_migration_etl_scripts_spark.operators.tiff import tiff_encode

        px3 = [[((x * 23 + y) % 256, (x + y * 17) % 256, (x * y + 3) % 256)
                for x in range(11)] for y in range(9)]
        rows.append((n + 9, "image",
                     bytearray(tiff_encode(px3, compression="lzw",
                                           predictor=True, rows_per_strip=4)),
                     "{}"))
        px4 = [[((x * 19 + y * 7) % 256,) * 3 for x in range(14)]
               for y in range(6)]
        rows.append((n + 10, "image",
                     bytearray(tiff_encode(px4, compression="packbits",
                                           gray=True, big_endian=True)),
                     "{}"))
        from data_migration_etl_scripts_spark.operators.adpcm import (
            adpcm_wav_encode,
        )

        rows.append((n + 11, "audio",
                     bytearray(adpcm_wav_encode(
                         [itone(550.0, 800)], rate=8000)),
                     "{}"))
        from data_migration_etl_scripts_spark.operators.adpcm import (
            g711_wav_encode,
        )

        rows.append((n + 12, "audio",
                     bytearray(g711_wav_encode(
                         itone(330.0, 800), rate=8000, law="mulaw")),
                     "{}"))
        px5 = [[((x * 11 + y * 3) % 256, (x + y) % 256, (x * 2 + y * 5) % 256)
                for x in range(9)] for y in range(7)]
        rows.append((n + 13, "image",
                     bytearray(tiff_encode(px5, compression="deflate",
                                           predictor=True)),
                     "{}"))
        from data_migration_etl_scripts_spark.operators.mpeg_layer3 import (
            layer3_encode,
        )

        rows.append((n + 14, "audio",
                     bytearray(layer3_encode(
                         tone(995.0, 1152 * 2), rate=32000)),
                     "{}"))
        px6 = [[((x * 5 + y * 13) % 256, (x * 3 + y) % 256, (x + y * 7) % 256)
                for x in range(40)] for y in range(35)]
        rows.append((n + 15, "image",
                     bytearray(tiff_encode(px6, compression="lzw",
                                           predictor=True, tiles=(16, 16))),
                     "{}"))
        rows.append((n + 16, "audio",
                     bytearray(layer3_encode(
                         tone(995.0, 1152 * 2, amp=0.3), rate=32000,
                         right=tone(995.0, 1152 * 2, amp=0.3),
                         intensity=True)),
                     "{}"))
        from data_migration_etl_scripts_spark.operators.jpeg import (
            jpeg_encode_cmyk,
        )

        px7 = [[((x * 9 + y * 5) % 256, (x * 7) % 256, (y * 13) % 256)
                for x in range(18)] for y in range(12)]
        rows.append((n + 17, "image",
                     bytearray(jpeg_encode_cmyk(px7, quality=95)),
                     "{}"))
        rows.append((n + 18, "image",
                     bytearray(jpeg_encode_cmyk(px7, quality=95, ycck=True)),
                     "{}"))
        # r8: an H.264 Annex-B I_PCM stream from the engine encoder
        # (operators/h264.py — table-free path, exact round trip)
        from data_migration_etl_scripts_spark.operators.h264 import (
            encode_ipcm,
        )

        px8 = [[((x * 11 + y * 3) % 256, (x * 2 + y * 9) % 256,
                 (x * y + 17) % 256) for x in range(20)] for y in range(12)]
        rows.append((n + 19, "video", bytearray(encode_ipcm(px8)), "{}"))
        # r8: the same picture inside a minimal MP4 container
        # (operators/mp4.py demux -> h264 decode)
        from data_migration_etl_scripts_spark.operators.mp4 import (
            mp4_wrap_h264,
        )

        rows.append((n + 20, "video",
                     bytearray(mp4_wrap_h264(encode_ipcm(px8), 20, 12)),
                     "{}"))
        # r9: a QUANTIZED H.264 stream from the engine encoder's
        # table-free dense operating point (first MB I_PCM, the rest
        # Intra_16x16 with all-dense CAVLC luma residuals riding the
        # nC>=8 fixed-length branch) — decodes with the CAVLC seam
        # EMPTY in any worker, and exercises the dequant V / luma-DC
        # path end to end (operators/h264.py encode_quantized)
        from data_migration_etl_scripts_spark.operators.h264 import (
            encode_quantized,
        )

        px9 = [[((x * 7 + y * 11) % 256, (x * 3 + y * 5) % 256,
                 (x + y * 13) % 256) for x in range(36)] for y in range(28)]
        rows.append((n + 21, "video",
                     bytearray(encode_quantized(px9, qp=12)), "{}"))
        # r9: the same quantized picture in a FRAGMENTED MP4 (moof/
        # traf/trun — the DASH/streaming-origin container shape;
        # operators/mp4.py fMP4 demux path)
        rows.append((n + 22, "video",
                     bytearray(mp4_wrap_h264(
                         encode_quantized(px9, qp=12), 36, 28,
                         fragmented=True)),
                     "{}"))
        # r9: a MULTI-SLICE quantized picture (2 slices — the error-
        # resilience layout real encoders emit; slice-independent
        # prediction/nC, still table-free)
        from data_migration_etl_scripts_spark.operators.h264 import (
            encode_quantized_yuv,
        )

        ys9, cbs9, crs9 = _rgb_to_420_h264(px9)
        rows.append((n + 23, "video",
                     bytearray(encode_quantized_yuv(
                         ys9, cbs9, crs9, qp=12, slices=2)[0]),
                     "{}"))
        # r9: new-style JPEG-in-TIFF (Compression 7, photometric 6) —
        # the scanned-document layout (operators/tiff.py strips decode
        # through operators/jpeg.py)
        px10 = [[((x * 9 + y * 4) % 256, (x * 2 + y * 7) % 256,
                  (x * 5 + y) % 256) for x in range(24)] for y in range(20)]
        rows.append((n + 24, "image",
                     bytearray(tiff_encode(px10, compression="jpeg",
                                           rows_per_strip=8, quality=92)),
                     "{}"))
        # r9: ADTS AAC-LC from the engine's seam-free operating point
        # (max_sfb = 0 silence — pins the whole ADTS/element/ICS/
        # filterbank container path with zero injected tables;
        # operators/aac.py), bare and inside a minimal MP4 audio
        # track (operators/mp4.py mp4a/esds demux)
        from data_migration_etl_scripts_spark.operators.aac import (
            aac_encode_silence,
        )
        from data_migration_etl_scripts_spark.operators.mp4 import (
            mp4_wrap_aac,
        )

        adts = aac_encode_silence(frames=4, rate_idx=8, channels=1)
        rows.append((n + 25, "audio", bytearray(adts), "{}"))
        rows.append((n + 26, "audio",
                     bytearray(mp4_wrap_aac(
                         aac_encode_silence(frames=3, rate_idx=7,
                                            channels=2))),
                     "{}"))
        # r9: an HLS-shaped MPEG transport stream segment carrying the
        # quantized H.264 picture AND an AAC track (operators/
        # mpegts.py PAT/PMT/PES demux -> both codec layers)
        from data_migration_etl_scripts_spark.operators.mpegts import (
            ts_wrap,
        )

        rows.append((n + 27, "video",
                     bytearray(ts_wrap(
                         h264=encode_quantized(px9, qp=12),
                         aac=aac_encode_silence(frames=2, rate_idx=8))),
                     "{}"))
        # r9: a THREE-frame IPPP clip (I_PCM IDR + all-skip P
        # pictures) — the table-free multi-frame operating point:
        # P slice headers, skip-run machinery and the MC copy path
        # decode with the seam EMPTY (operators/h264.py
        # encode_video_skip), and frame extraction yields >1 frame
        # from an H.264 payload
        from data_migration_etl_scripts_spark.operators.h264 import (
            encode_video_skip,
        )

        px11 = [[((x * 13 + y * 7) % 256, (x * 3 + y * 2) % 256,
                  (x + y * 11) % 256) for x in range(24)]
                for y in range(16)]
        rows.append((n + 28, "video",
                     bytearray(encode_video_skip(px11, 3)), "{}"))
        # r9: an Ogg-FLAC file (operators/ogg.py page/lacing demux ->
        # operators/flac.py bit-exact decode) — 100 ms 440 Hz sine,
        # the same shape as the WAV rows so the generic audio
        # structural asserts apply
        from data_migration_etl_scripts_spark.operators.flac import (
            flac_encode,
        )
        from data_migration_etl_scripts_spark.operators.ogg import (
            ogg_wrap_flac,
        )

        tone16 = [[int(0.6 * 32767 * math.sin(
            2 * math.pi * 440 * t / 8000.0)) for t in range(800)]]
        rows.append((n + 29, "audio",
                     bytearray(ogg_wrap_flac(
                         flac_encode(tone16, rate=8000))),
                     "{}"))
        # r10: a THREE-picture clip with a B picture — I_PCM IDR +
        # all-PCM P reference + a non-reference all-B_Skip picture
        # between them in display order (spatial direct, POC-ordered
        # reference lists, bi-prediction average) — fully TABLE-FREE
        # on both sides (operators/h264.py encode_video_b_skip), and
        # frame extraction yields all 3 frames
        from data_migration_etl_scripts_spark.operators.h264 import (
            encode_video_b_skip,
        )

        rows.append((n + 31, "video",
                     bytearray(encode_video_b_skip(px11)), "{}"))
        # r11: the same table-free B clip under TEMPORAL direct mode
        # (direct_spatial_mv_pred_flag=0) + IMPLICIT weighted
        # bi-prediction (weighted_bipred_idc=2) with an asymmetric
        # POC split — the implicit weights always sum to 64 with zero
        # offsets, so the identity recon pins the weighted path
        # exactly with the seam EMPTY
        rows.append((n + 34, "video",
                     bytearray(encode_video_b_skip(
                         px11, temporal=True, implicit=True,
                         poc_p=8)), "{}"))
        # r10: an Ogg-VORBIS stream from the engine silence encoder
        # (operators/vorbis.py — full header-triad/setup parse +
        # silence operating point, zero tables on either side)
        from data_migration_etl_scripts_spark.operators.vorbis import (
            vorbis_encode_silence,
        )

        rows.append((n + 32, "audio",
                     bytearray(vorbis_encode_silence(
                         frames=4, rate=8000, channels=1)),
                     "{}"))
        # r11: an Ogg-Vorbis stream with a TYPE 0 (LSP) floor —
        # bark map + cosine products are pure formulas, so unlike the
        # floor1 quantized row this one needs NO seam table and rides
        # the DEFAULT board
        from data_migration_etl_scripts_spark.operators.vorbis import (
            vorbis_encode_quantized,
        )

        rows.append((n + 37, "audio",
                     bytearray(vorbis_encode_quantized(
                         frames=4, rate=8000, channels=2,
                         floor0=True)[0]), "{}"))
        # r12: an Ogg-OPUS stream from the engine CELT-silence
        # operating point (operators/opus.py — OpusHead/OpusTags,
        # TOC frame packing, the RFC 6716 range coder, silence flag
        # at logp 15) — fully TABLE-FREE on both sides, so it rides
        # the DEFAULT board; frames_per_packet=2 exercises the
        # code-1 two-frame packing
        from data_migration_etl_scripts_spark.operators.opus import (
            opus_encode_silence,
        )

        rows.append((n + 39, "audio",
                     bytearray(opus_encode_silence(
                         frames=4, config=31, channels=1,
                         frames_per_packet=2, pre_skip=312)),
                     "{}"))
        # r12: a HIGH-PROFILE clip — profile-100 SPS, transform_8x8
        # PPS, Intra_8x8 all-DC macroblocks with CAVLC-interleaved
        # 8x8 residuals (operators/h264.py mb_mode='i8'). Env-gated
        # on the CAVLC seam's cbp_intra map (Table 9-4), which the
        # encoder's me(v) reverse lookup AND every worker's decode
        # both need — with the seam empty this row is simply absent,
        # and the query and its driver-side oracle see the same gate.
        from data_migration_etl_scripts_spark.operators import (
            h264 as _h264,
        )

        _h264._try_env_tables()
        if (os.environ.get(_h264._TABLES_ENV)
                and _h264.CAVLC["cbp_intra"].get("intra")):
            rows.append((n + 38, "video",
                         bytearray(encode_quantized(
                             px9, qp=12, mb_mode="i8")), "{}"))
        # r10: a QUANTIZED Ogg-Vorbis stream (flat floors +
        # pseudorandom residues through real stream codebooks) —
        # env-gated on the floor1 inverse-dB seam, which decode needs
        # in every worker
        from data_migration_etl_scripts_spark.operators import (
            vorbis as _vorbis,
        )

        if (os.environ.get(_vorbis._TABLES_ENV)
                and _vorbis.seam_available()):
            rows.append((n + 33, "audio",
                         bytearray(_vorbis.vorbis_encode_quantized(
                             frames=4, rate=8000, channels=2,
                             coupled=True)[0]),
                         "{}"))
        # r11: an HE-AAC v1 stream (silent LC core + SBR FIL
        # extension; operators/sbr.py full chain, decodes at twice
        # the core rate) — env-gated on the SBR table seam, which
        # every worker needs to run the QMF/huffman layers
        from data_migration_etl_scripts_spark.operators import (
            sbr as _sbr,
        )

        if (os.environ.get(_sbr._TABLES_ENV)
                and _sbr.seam_available()):
            from data_migration_etl_scripts_spark.operators.aac import (
                aac_encode_sbr,
            )

            rows.append((n + 36, "audio",
                         bytearray(aac_encode_sbr(
                             frames=2, rate_idx=8, num_env=2,
                             freq_res=1, env_val=35, noise_val=12,
                             invf_mode=2)), "{}"))
            # r12: an HE-AAC v2 stream (mono core + SBR + Parametric
            # Stereo, constant +10 dB IID -> stereo at 2x rate;
            # operators/ps.py staged reconstruction) — additionally
            # gated on the PS sub-family of the SBR seam
            if _sbr.SBR.get("ps_huff") and _sbr.SBR.get(
                    "ps_iid_quant"):
                rows.append((n + 40, "audio",
                             bytearray(aac_encode_sbr(
                                 frames=2, rate_idx=8, num_env=1,
                                 freq_res=0, env_val=35,
                                 noise_val=12, invf_mode=2,
                                 ps_iid=4)), "{}"))
    return rows


def _rgb_to_420_h264(px_rows):
    from data_migration_etl_scripts_spark.operators.h264 import _rgb_to_420

    return _rgb_to_420(px_rows)


def synthetic_real_media(
    spark, n: int = 12, include_mpeg: bool = False
) -> DataFrame:
    """Small table of GENUINE media payloads (see
    :func:`synthetic_real_media_rows`) for exercising the
    ``decoder="real"`` kernels. Driver-side createDataFrame is fine
    here: this is a test/demo table of a few KB, not a bench input
    (see synthetic_media)."""
    from data_migration_etl_scripts_spark.localdata import local_df

    return local_df(
        spark, synthetic_real_media_rows(n, include_mpeg), MEDIA_SCHEMA
    )


FRAME_SCHEMA = (
    "media_id long, frame_idx int, t_ms long, width int, height int, "
    "frame_bmp binary"
)


def extract_frames(
    df: DataFrame,
    every_n: int = 1,
    max_frames: int = 32,
    decoder: str = "fake",
) -> DataFrame:
    """Video -> sampled frames as rows: (media_id, frame_idx, t_ms,
    width, height, frame_bmp). The REAL row-multiplying half of
    ``frame_sample_plan`` (which only plans timestamps from metadata).

    decoder="real": animated GIF decodes fully in stdlib (patch frames
    composited to full frames) and AVI/MJPEG decodes for real (RIFF
    container walk + per-frame baseline JPEG, `operators/avi.py`);
    other video codecs (H.264 etc.) raise at
    the ffmpeg plug point. decoder="fake": two deterministic md5-seeded
    4x4 frames per item, so the Spark plumbing (fan-out schema,
    batching) runs and benches without codec libs. Frames re-encode as
    BMP — the downstream-friendliest uncompressed handoff.

    Scale: mapInPandas streams Arrow batches; memory = one batch of
    decoded frames, bounded by max_frames; repartition upstream on size
    to avoid straggler tasks on long videos.
    """

    def real_rows(media_id: int, content: bytes):
        if content is None:
            return
        if content[:6] in (b"GIF87a", b"GIF89a"):
            w, h, frames = gif_decode_frames(
                content, max_frames=max_frames * every_n
            )
            t = 0
            for i, (delay, rows) in enumerate(frames):
                t_start = t  # frame i displays during [t, t+delay)
                t += delay
                if i % every_n:
                    continue
                yield (i, t_start, w, h, bmp_encode(rows))
        elif content[:4] == b"RIFF" and content[8:12] == b"AVI ":
            from data_migration_etl_scripts_spark.operators.avi import (
                avi_decode_frames,
            )

            w, h, _fps_milli, frames = avi_decode_frames(
                content, max_frames=max_frames * every_n
            )
            for i, (t_ms, rows) in enumerate(frames):
                if i % every_n:
                    continue
                yield (i, t_ms, w, h, bmp_encode(rows))
        elif (content[:4] == b"\x00\x00\x00\x01"
              or content[:3] == b"\x00\x00\x01"
              or (len(content) >= 12
                  and content[4:8] in (b"ftyp", b"styp"))
              or _is_mpegts(content)):
            # H.264 Annex B / MP4 (r8) / MPEG-TS (r9): the engine
            # decodes the IDR and its following P pictures (r9 motion
            # compensation — IPPP GOPs; mp4.py / mpegts.py demux the
            # containers); B slices remain documented scope
            if _is_mpegts(content):
                from data_migration_etl_scripts_spark.operators.mpegts import (
                    ts_extract_h264,
                )

                content = ts_extract_h264(content)
            elif content[4:8] in (b"ftyp", b"styp"):
                from data_migration_etl_scripts_spark.operators.mp4 import (
                    mp4_extract_h264,
                )

                content = mp4_extract_h264(content)
            from data_migration_etl_scripts_spark.operators.h264 import (
                decode_video,
            )

            w, h, vframes = decode_video(
                content, max_frames=max_frames * every_n)
            for i, rows in enumerate(vframes):
                if i % every_n:
                    continue
                # 25 fps nominal — Annex-B carries no VUI timing here
                yield (i, i * 40, w, h, bmp_encode(rows))
        else:
            raise NotImplementedError(
                "real video codecs need ffmpeg — plug the codec kernel in here"
            )

    def fake_rows(media_id: int, content: bytes):
        if content is None:
            return
        seed = hashlib.md5(content).digest()
        emitted = 0
        for i in range(4):  # same every_n/max_frames contract as real
            if i % every_n or emitted >= max_frames:
                continue
            emitted += 1
            px = [
                [(seed[(i + x) % 16], seed[(i + y) % 16], seed[(x * y + i) % 16])
                 for x in range(4)]
                for y in range(4)
            ]
            yield (i, i * 1000, 4, 4, bmp_encode(px))

    rows_fn = real_rows if decoder == "real" else fake_rows

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                for idx, t_ms, w, h, bmp in rows_fn(
                    int(mid), bytes(content) if content is not None else None
                ):
                    out.append((int(mid), idx, t_ms, w, h, bmp))
            if out:
                yield pd.DataFrame(
                    out,
                    columns=["media_id", "frame_idx", "t_ms", "width",
                             "height", "frame_bmp"],
                )

    return df.select("media_id", "content").mapInPandas(kernel, schema=FRAME_SCHEMA)


def synthetic_video_rows(n: int = 6, include_avi: bool = False,
                         include_h264: bool = False) -> list[tuple]:
    """Deterministic GENUINE video payload rows (pure Python, no
    Spark): animated GIFs (8x8, 4 frames, moving 2x2 block — formulas,
    no RNG) at ids 0..n-1; with ``include_avi``, two AVI/MJPEG rows at
    ids n..n+1 (16x16, 4 frames at 10 fps, moving 4x4 block — RIFF
    container + one baseline JPEG per frame, `operators/avi.py`);
    with ``include_h264`` (r9), one table-free H.264 IPPP clip at id
    n+2 (I_PCM IDR + three all-skip P pictures,
    `operators/h264.py::encode_video_skip` — P slice header, skip
    runs and the MC copy path with the seam empty). Shared by the
    Spark fixture below and the selfcheck range-assert oracle, which
    recomputes expected frames from these exact bytes."""
    rows = []
    for i in range(n):
        frames = []
        base = [[((x * 31 + i) % 256, (y * 53) % 256, 64)
                 for x in range(8)] for y in range(8)]
        for f in range(4):
            fr = [row[:] for row in base]
            bx, by = (f * 2) % 6, (f + i) % 6
            for y in range(by, by + 2):
                for x in range(bx, bx + 2):
                    fr[y][x] = (255, f * 60 % 256, i * 40 % 256)
            frames.append(fr)
        rows.append(
            (i, "video", bytearray(gif_encode_frames(frames, delay_ms=100)),
             '{"duration_ms": 400}')
        )
    if include_avi:
        from data_migration_etl_scripts_spark.operators.avi import (
            avi_encode_mjpeg,
        )

        for i in range(2):
            frames = []
            for f in range(4):
                fr = [[((x * 16 + i * 40) % 256, (y * 16) % 256, 96)
                       for x in range(16)] for y in range(16)]
                bx, by = (f * 4) % 12, (f * 3 + i * 2) % 12
                for y in range(by, by + 4):
                    for x in range(bx, bx + 4):
                        fr[y][x] = (255, (f * 70 + i * 30) % 256, 0)
                frames.append(fr)
            rows.append(
                (n + i, "video",
                 bytearray(avi_encode_mjpeg(frames, fps=10, quality=90)),
                 '{"duration_ms": 400}')
            )
    if include_h264:
        from data_migration_etl_scripts_spark.operators.h264 import (
            encode_video_skip,
        )

        px = [[((x * 9 + y * 5) % 256, (x * 3 + y * 7) % 256,
                (x + y) % 256) for x in range(16)] for y in range(16)]
        rows.append(
            (n + 2, "video", bytearray(encode_video_skip(px, 4)),
             '{"duration_ms": 160}')
        )
    return rows


def synthetic_video_media(
    spark, n: int = 6, include_avi: bool = False,
    include_h264: bool = False
) -> DataFrame:
    """Tiny table of GENUINE video payloads (see
    :func:`synthetic_video_rows`) for the real frame-extraction
    path."""
    from data_migration_etl_scripts_spark.localdata import local_df

    return local_df(
        spark, synthetic_video_rows(n, include_avi, include_h264),
        MEDIA_SCHEMA
    )
