"""Minimal image codecs for the catalog workload: a baseline-TIFF writer
for its input stacks and a PNG reader to check the stored frames.

``tiff_bytes`` writes little-endian, uncompressed, one-strip-per-page grayscale TIFFs
(BitsPerSample 16, PhotometricInterpretation BlackIsZero): the plainest
multi-page stack a microscope exports. It is deliberately independent of
the program's own TIFF code, so a change to that code cannot also change
the benchmark's inputs.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# (tag, field type) for the nine baseline entries each page carries
_SHORT, _LONG = 3, 4


def tiff_bytes(pages: np.ndarray) -> bytes:
    """Encode ``pages`` (n, height, width) uint16 as one multi-page TIFF."""
    if pages.ndim != 3 or pages.dtype != np.uint16:
        raise ValueError("pages must be a (n, h, w) uint16 array")
    n, h, w = pages.shape
    out = bytearray(b"II*\x00\x00\x00\x00\x00")
    next_ifd_ptr = 4  # where the offset of the next IFD gets patched in
    for page in pages:
        data = page.astype("<u2").tobytes()
        strip_at = len(out)
        out += data
        if len(out) % 2:  # IFDs start on a word boundary
            out += b"\x00"
        entries = [
            (256, _SHORT, w),  # ImageWidth
            (257, _SHORT, h),  # ImageLength
            (258, _SHORT, 16),  # BitsPerSample
            (259, _SHORT, 1),  # Compression: none
            (262, _SHORT, 1),  # PhotometricInterpretation: BlackIsZero
            (273, _LONG, strip_at),  # StripOffsets
            (277, _SHORT, 1),  # SamplesPerPixel
            (278, _SHORT, h),  # RowsPerStrip: the whole page
            (279, _LONG, len(data)),  # StripByteCounts
        ]
        struct.pack_into("<I", out, next_ifd_ptr, len(out))
        out += struct.pack("<H", len(entries))
        for tag, typ, value in entries:
            packed = struct.pack("<HH", value, 0) if typ == _SHORT else struct.pack("<I", value)
            out += struct.pack("<HHI", tag, typ, 1) + packed
        next_ifd_ptr = len(out)
        out += b"\x00\x00\x00\x00"
    return bytes(out)


def png_pixels(payload: bytes) -> np.ndarray:
    """Decode a non-interlaced 8- or 16-bit grayscale PNG to (h, w)."""
    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, idat = 8, []
    while pos < len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, color, _, _, interlace = struct.unpack(">IIBBBBB", data)
        elif tag == b"IDAT":
            idat.append(data)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if color != 0 or interlace or depth not in (8, 16):
        raise ValueError(f"unsupported PNG: color {color}, depth {depth}")
    bpp = depth // 8
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), np.uint8).reshape(h, 1 + w * bpp)
    rows = np.zeros((h, w * bpp), np.int32)
    prev = np.zeros(w * bpp, np.int32)
    for y in range(h):
        kind, line = raw[y, 0], raw[y, 1:].astype(np.int32)
        if kind == 0:
            cur = line
        elif kind == 2:
            cur = (line + prev) & 0xFF
        else:  # Sub, Average and Paeth depend on the pixel to the left
            cur = np.zeros_like(line)
            for x in range(line.size):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                if kind == 1:
                    pred = a
                elif kind == 3:
                    pred = (a + b) // 2
                elif kind == 4:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                else:
                    raise ValueError(f"unknown PNG filter {kind}")
                cur[x] = (line[x] + pred) & 0xFF
        rows[y] = prev = cur
    out = rows.astype(np.uint8)
    return out.view(">u2").reshape(h, w) if bpp == 2 else out
