"""GIF89a codec, from scratch in pure python/numpy: real LZW in both
directions (variable-width codes, dictionary growth to 4096, clear/EOI
handling, the KwKwK corner case, LSB-first bit packing, 255-byte sub-block
framing), logical-screen composition of multiple frames with left/top
offsets, local color tables, and Adam-style 4-pass interlacing.

Encoder writes a spec-conformant compressed stream (actual LZW dictionary,
not the fixed-width clear-code trick), so round-trip tests exercise both
directions honestly.

Not used by the near-duplicate engine; it is kept standalone with its
tests (tests/test_gif.py).
"""

from __future__ import annotations

import struct

import numpy as np

_MAX_CODE = 4096  # 12-bit ceiling per spec


# --------------------------------------------------------------------------
# LZW (GIF variant: LSB-first, variable width, clear/EOI codes)
# --------------------------------------------------------------------------

def lzw_compress(data: bytes, min_code_size: int = 8) -> bytes:
    """GIF LZW: emit clear, then dictionary-compressed codes, bumping the
    code width as the table grows; re-clear at the 4096 ceiling."""
    clear = 1 << min_code_size
    eoi = clear + 1

    out = bytearray()
    acc = 0  # bit accumulator, LSB-first
    nbits = 0

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
    prefix = b""
    for b in data:
        cand = prefix + bytes([b])
        if cand in table:
            prefix = cand
            continue
        emit(table[prefix], width)
        if next_code < _MAX_CODE:
            table[cand] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                # the DECODER adds its entry one code behind us, so it bumps
                # when next_code exceeds 2^width — mirror that exactly
                width += 1
        else:
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        prefix = bytes([b])
    if prefix:
        emit(table[prefix], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def lzw_decompress(data: bytes, min_code_size: int = 8) -> bytes:
    """Inverse of lzw_compress, including the KwKwK case (a code referencing
    the entry being defined)."""
    clear = 1 << min_code_size
    eoi = clear + 1

    pos = 0  # bit cursor

    def read(width: int) -> int:
        nonlocal pos
        byte0, bit0 = pos >> 3, pos & 7
        val = 0
        got = 0
        while got < width:
            if byte0 >= len(data):
                return eoi  # truncated stream: treat as end
            take = min(8 - bit0, width - got)
            val |= ((data[byte0] >> bit0) & ((1 << take) - 1)) << got
            got += take
            bit0 = 0
            byte0 += 1
        pos += width
        return val

    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    width = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None

    while True:
        code = read(width)
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("gif: first code after clear out of range")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < _MAX_CODE:  # deferred-clear streams stop adding
                table.append(prev + entry[:1])
        elif code == len(table) and len(table) < _MAX_CODE:  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"gif: code {code} beyond table {len(table)}")
        out += entry
        if prev is not None and len(table) >= (1 << width) and width < 12:
            width += 1
        prev = entry
    return bytes(out)


# --------------------------------------------------------------------------
# container framing
# --------------------------------------------------------------------------

def _sub_blocks(payload: bytes) -> bytes:
    """Split into ≤255-byte length-prefixed sub-blocks + terminator."""
    out = bytearray()
    for i in range(0, len(payload), 255):
        chunk = payload[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))  # (start, step) rows


def _interlaced_row_order(h: int) -> list[int]:
    order = []
    for start, step in _INTERLACE_PASSES:
        order.extend(range(start, h, step))
    return order


def encode_gif(
    frames: list[np.ndarray],
    palette: np.ndarray,
    delay_cs: int = 4,
    interlace: bool = False,
) -> bytes:
    """frames: list of (h, w) uint8 palette-index arrays (all full-canvas
    here; the decoder also handles offset sub-rectangles); palette:
    (n, 3) uint8 RGB, n a power of two ≤ 256 → animated GIF89a bytes."""
    h, w = frames[0].shape
    n_colors = len(palette)
    assert n_colors in (2, 4, 8, 16, 32, 64, 128, 256)
    gct_bits = max(1, (n_colors - 1).bit_length())
    min_code = max(2, gct_bits)

    out = bytearray(b"GIF89a")
    # logical screen descriptor: GCT present, 8 bits/channel color resolution
    out += struct.pack("<HHBBB", w, h, 0x80 | ((8 - 1) << 4) | (gct_bits - 1), 0, 0)
    out += palette.astype(np.uint8).tobytes()
    # netscape looping extension (real-world animated GIFs carry it)
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for frame in frames:
        # graphic control extension: no disposal tricks, no transparency
        out += b"\x21\xf9\x04" + struct.pack("<BHB", 0x00, delay_cs, 0) + b"\x00"
        flags = 0x40 if interlace else 0x00
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, flags)
        rows = frame
        if interlace:
            rows = frame[_interlaced_row_order(h)]
        out.append(min_code)
        out += _sub_blocks(lzw_compress(rows.tobytes(), min_code))
    out += b"\x3b"
    return bytes(out)


def decode_gif(data: bytes) -> tuple[list[np.ndarray], np.ndarray]:
    """GIF bytes → (list of (h, w) uint8 full-canvas index frames, global
    palette (n, 3) uint8). Frames are composed onto the logical screen
    honoring left/top offsets; disposal method 2 (restore-to-background)
    clears the sub-rectangle after its frame; local color tables are
    remapped into the returned frame only when they equal the global one in
    size (indices are returned, so a differing LCT raises — honest limit)."""
    if len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    w, h, flags, bg, _ar = struct.unpack_from("<HHBBB", data, 6)
    pos = 13
    palette = np.zeros((2, 3), np.uint8)
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        palette = np.frombuffer(data, np.uint8, n * 3, pos).reshape(n, 3).copy()
        pos += n * 3

    canvas = np.full((h, w), bg, np.uint8)
    frames: list[np.ndarray] = []
    disposal = 0

    def skip_sub_blocks(p: int) -> int:
        while p < len(data) and data[p]:
            p += 1 + data[p]
        return p + 1

    while pos < len(data):
        marker = data[pos]
        pos += 1
        if marker == 0x3B:  # trailer
            break
        if marker == 0x21:  # extension
            label = data[pos]
            pos += 1
            if label == 0xF9 and data[pos] >= 4:
                disposal = (data[pos + 1] >> 2) & 0x07
            pos = skip_sub_blocks(pos)
            continue
        if marker != 0x2C:
            raise ValueError(f"gif: unexpected block 0x{marker:02x}")
        left, top, fw, fh, iflags = struct.unpack_from("<HHHHB", data, pos)
        pos += 9
        if iflags & 0x80:  # local color table
            n = 2 << (iflags & 0x07)
            lct = np.frombuffer(data, np.uint8, n * 3, pos).reshape(n, 3)
            pos += n * 3
            if n != len(palette) or not np.array_equal(lct, palette):
                raise ValueError("gif: divergent local color table (indices "
                                 "would be ambiguous across frames)")
        min_code = data[pos]
        pos += 1
        payload = bytearray()
        while data[pos]:
            ln = data[pos]
            payload += data[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = np.frombuffer(
            lzw_decompress(bytes(payload), min_code), np.uint8, fw * fh
        ).reshape(fh, fw)
        if iflags & 0x40:  # interlaced: rows arrive in 4-pass order
            un = np.empty_like(idx)
            un[_interlaced_row_order(fh)] = idx
            idx = un
        canvas[top : top + fh, left : left + fw] = idx
        frames.append(canvas.copy())
        if disposal == 2:
            canvas[top : top + fh, left : left + fw] = bg
    return frames, palette
