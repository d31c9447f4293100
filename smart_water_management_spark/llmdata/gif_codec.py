"""Vendored pure-Python GIF codec (stdlib only) — the multi-FRAME
companion to ``png_codec``.

PNG gave the engine a real single-image decode path without PIL; GIF
adds a real multi-frame one, so ``sample_frames(use_codec=True)`` can
extract genuine frames from an animated payload instead of byte-slice
stand-ins. Covers the practical subset: GIF87a/GIF89a, global and local
color tables, non-interlaced frames, variable-width LZW decompression.
Extensions (graphic control, comments, application) are skipped
structurally; frame disposal/compositing is NOT applied — each image
descriptor decodes independently, which is exactly what a frame-level
dedup wants. The encoder emits valid multi-frame grayscale GIFs using
the classic "uncompressed LZW" technique (emit literal codes, reset the
table with CLEAR before it can grow past the code width), so roundtrip
tests drive the real decoder bit paths.
"""

from __future__ import annotations

import struct
from functools import lru_cache

GIF_SIGS = (b"GIF87a", b"GIF89a")


def is_gif(data: bytes) -> bool:
    return bytes(data[:6]) in GIF_SIGS


class _BitReader:
    """LSB-first bit reader over the concatenated LZW sub-blocks.

    r12 (guide §1.2 per-task work): reads whole BYTES into an integer
    accumulator and slices codes out with mask/shift — the former
    bit-at-a-time loop was 58% of decode_gif's profile (9 Python
    iterations per 9-bit code). Same LSB-first semantics bit for bit;
    a stream that ends before the requested code still raises the same
    ValueError (bytes are atomic, so "out of bits mid-read" and "out of
    bytes" are the same condition)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        acc, nbits, pos, data = self.acc, self.nbits, self.pos, self.data
        while nbits < n:
            if pos >= len(data):
                raise ValueError("truncated LZW stream")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        self.acc = acc >> n
        self.nbits = nbits - n
        self.pos = pos
        return acc & ((1 << n) - 1)


# The LZW base table is identical for every CLEAR at a given code size;
# rebuilding it per reset was 16% of decode_gif's profile. min_code_size
# <= 8, so at most 9 distinct tables ever exist. Callers mutate the table,
# so each gets a copy of the memoized one.
@lru_cache(maxsize=None)
def _base_table_memo(clear: int) -> tuple:
    return tuple(bytes([i]) for i in range(clear)) + (b"", b"")


def _base_table(clear: int) -> list:
    return list(_base_table_memo(clear))


# Palette -> 8-bit luma translation tables (256 bytes, padded), memoized
# per color table so the per-pixel gray loop becomes one C-speed
# bytes.translate. LRU-bounded at 64 palettes.
@lru_cache(maxsize=64)
def _gray_lut(lct: bytes) -> bytes:
    n = len(lct) // 3
    return bytes(
        (lct[3 * i] * 299 + lct[3 * i + 1] * 587 + lct[3 * i + 2] * 114)
        // 1000
        for i in range(n)
    ) + bytes(256 - n)


def _lzw_decode(min_code_size: int, data: bytes, n_pixels: int) -> bytearray:
    clear = 1 << min_code_size
    end = clear + 1
    br = _BitReader(data)
    out = bytearray()
    table: list[bytes] = []

    def reset():
        nonlocal table, width
        table = _base_table(clear)
        width = min_code_size + 1

    width = min_code_size + 1
    reset()
    prev: bytes | None = None
    while len(out) < n_pixels:
        code = br.read(width)
        if code == clear:
            reset()
            prev = None
            continue
        if code == end:
            break
        if code < len(table) and (code < clear or table[code]):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError(f"bad LZW code {code}")
        out += entry
        if prev is not None:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out[:n_pixels]


def decode_gif(data: bytes) -> list[tuple[int, int, bytes]]:
    """Decode every frame of a GIF. Returns ``[(w, h, gray_pixels)]`` —
    each frame's palette is collapsed to 8-bit luma (ITU-R 601-2 integer,
    matching png_codec.to_gray) at the frame's own size."""
    if not is_gif(data):
        raise ValueError("not a GIF (bad signature)")
    pos = 6
    _sw, _sh, flags, _bg, _ar = struct.unpack("<HHBBB", data[pos : pos + 7])
    pos += 7
    gct = None
    if flags & 0x80:
        n = 2 ** ((flags & 0x07) + 1)
        gct = data[pos : pos + 3 * n]
        pos += 3 * n
    frames: list[tuple[int, int, bytes]] = []
    while pos < len(data):
        b = data[pos]
        pos += 1
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks, skip
            pos += 1
            while data[pos]:
                pos += 1 + data[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
        _x, _y, w, h, iflags = struct.unpack("<HHHHB", data[pos : pos + 9])
        pos += 9
        if iflags & 0x40:
            raise ValueError("interlaced GIF not supported by vendored codec")
        lct = gct
        if iflags & 0x80:
            n = 2 ** ((iflags & 0x07) + 1)
            lct = data[pos : pos + 3 * n]
            pos += 3 * n
        if lct is None:
            raise ValueError("GIF frame without a color table")
        min_code = data[pos]
        pos += 1
        lzw = bytearray()
        while data[pos]:
            ln = data[pos]
            lzw += data[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = _lzw_decode(min_code, bytes(lzw), w * h)
        # r12: palette->luma via one C-speed translate (same ITU-R 601-2
        # integer math, precomputed per palette entry). The max-index
        # probe preserves the old per-pixel loop's IndexError on a
        # malformed frame whose pixel indexes a missing palette entry.
        if idx:
            mx = max(idx)
            _ = (lct[3 * mx], lct[3 * mx + 1], lct[3 * mx + 2])
        frames.append((w, h, bytes(idx).translate(_gray_lut(bytes(lct)))))
    if not frames:
        raise ValueError("GIF contains no image frames")
    return frames


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int):
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)


def _lzw_encode_uncompressed(min_code_size: int, pixels: bytes) -> bytes:
    """Emit every pixel as a literal LZW code, inserting CLEAR before the
    decoder's table would force a width increase — valid (if uncompressed)
    LZW that any conformant decoder accepts."""
    clear = 1 << min_code_size
    end = clear + 1
    width = min_code_size + 1
    bw = _BitWriter()
    bw.write(clear, width)
    # After CLEAR the decoder table holds `end + 1` entries and grows by
    # one per emitted code (after the first); reset before width bumps.
    budget = (1 << width) - end - 2
    count = 0
    for px in pixels:
        if count > budget:
            bw.write(clear, width)
            count = 0
        bw.write(px, width)
        count += 1
    bw.write(end, width)
    return bw.flush()


def encode_gif_gray(frames: list[tuple[int, int, bytes]]) -> bytes:
    """Encode 8-bit grayscale frames as a multi-frame GIF89a with a
    256-entry grayscale global color table (index == luma)."""
    if not frames:
        raise ValueError("no frames")
    w0, h0 = frames[0][0], frames[0][1]
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w0, h0, 0x80 | 0x07, 0, 0)  # GCT, 256 entries
    for i in range(256):
        out += bytes((i, i, i))
    for w, h, pixels in frames:
        if len(pixels) != w * h:
            raise ValueError("frame buffer size mismatch")
        out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)  # image descriptor
        out.append(8)  # min LZW code size
        stream = _lzw_encode_uncompressed(8, bytes(pixels))
        for off in range(0, len(stream), 255):
            chunk = stream[off : off + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)  # block terminator
    out.append(0x3B)  # trailer
    return bytes(out)
