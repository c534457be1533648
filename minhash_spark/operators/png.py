"""Pure-numpy baseline PNG codec.

Decoder: full PNG path for 8-bit gray / gray+alpha / RGB / RGBA / palette
(color type 3, PLTE-resolved to RGB), plain AND Adam7-interlaced (seven
independently-filtered sub-images scattered onto the pass grid) — chunk
framing + CRC check, zlib container (header + Adler-32), a from-scratch
RFC 1951 inflate (stored, fixed-Huffman and dynamic-Huffman blocks), and
scanline unfiltering (None/Sub/Up/Average/Paeth). Encoder: the same image
types (either interlacing) as
zlib STORED-block streams with filter 0 (palette via encode_png_palette) —
a byte-exact lossless round-trip. The inflate also decodes
externally-produced streams (tests cross-check against stdlib
zlib.compress output at several levels, which exercises the fixed and
dynamic Huffman paths).

Bit depths other than 8 raise NotImplementedError explicitly.

Not used by the near-duplicate engine; it is kept standalone with its
tests (tests/test_png.py).

References: RFC 1950 (zlib), RFC 1951 (DEFLATE), RFC 2083 / W3C PNG spec.
Like the reference repo's sketch constants, the Huffman length/distance
tables below are spec constants (RFC 1951 §3.2.5), not copied code.
"""

from __future__ import annotations

import struct

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"

# samples per pixel by color type; type 3 (palette) carries ONE index
# sample per pixel and resolves to RGB through the PLTE chunk at decode
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# RFC 1951 §3.2.5 — length code 257+i: (extra bits, base length)
_LEN_BASE = [3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23, 27, 31, 35, 43,
             51, 59, 67, 83, 99, 115, 131, 163, 195, 227, 258]
_LEN_EXTRA = [0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3,
              4, 4, 4, 4, 5, 5, 5, 5, 0]
# distance code i: (extra bits, base distance)
_DIST_BASE = [1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65, 97, 129, 193, 257,
              385, 513, 769, 1025, 1537, 2049, 3073, 4097, 6145, 8193, 12289,
              16385, 24577]
_DIST_EXTRA = [0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6, 7, 7, 8, 8,
               9, 9, 10, 10, 11, 11, 12, 12, 13, 13]
# order the code-length code lengths are transmitted in (§3.2.7)
_CLC_ORDER = [16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1, 15]

_MAXBITS = 15


# --------------------------------------------------------------------------
# checksums (RFC 1950 §2.2 / PNG spec §5 — table-driven CRC-32, Adler-32)
# --------------------------------------------------------------------------

def _crc_table() -> np.ndarray:
    t = np.arange(256, dtype=np.uint32)
    for _ in range(8):
        t = np.where(t & 1, np.uint32(0xEDB88320) ^ (t >> 1), t >> 1)
    return t


_CRC_TABLE = _crc_table()


def crc32(data: bytes, crc: int = 0) -> int:
    c = np.uint32(crc ^ 0xFFFFFFFF)
    table = _CRC_TABLE
    for b in data:
        c = table[(int(c) ^ b) & 0xFF] ^ (c >> np.uint32(8))
    return int(c ^ np.uint32(0xFFFFFFFF))


def adler32(data: bytes) -> int:
    arr = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    a, b = 1, 0
    # process in blocks small enough that the uint64 running sums cannot
    # overflow between modulo reductions (5552 is the classic zlib NMAX)
    for i in range(0, arr.size, 5552):
        chunk = arr[i : i + 5552]
        # b accumulates a prefix-sum of a: b += Σ_j (a + partial sums)
        a_new = a + int(chunk.sum())
        b = (b + a * chunk.size + int(np.cumsum(chunk).sum())) % 65521
        a = a_new % 65521
    return (b << 16) | a


# --------------------------------------------------------------------------
# inflate — RFC 1951 from scratch
# --------------------------------------------------------------------------

class _BitReader:
    """LSB-first bit reader over a bytes object (DEFLATE bit order)."""

    __slots__ = ("data", "pos", "bitbuf", "bitcnt")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bitbuf = 0
        self.bitcnt = 0

    def bits(self, n: int) -> int:
        while self.bitcnt < n:
            if self.pos >= len(self.data):
                raise ValueError("inflate: ran out of input")
            self.bitbuf |= self.data[self.pos] << self.bitcnt
            self.pos += 1
            self.bitcnt += 8
        out = self.bitbuf & ((1 << n) - 1)
        self.bitbuf >>= n
        self.bitcnt -= n
        return out

    def align_byte(self) -> None:
        self.bitbuf = 0
        self.bitcnt = 0


class _Huffman:
    """Canonical Huffman decode table from a code-length list (§3.2.2)."""

    def __init__(self, lengths: list[int]):
        counts = [0] * (_MAXBITS + 1)
        for l in lengths:
            counts[l] += 1
        counts[0] = 0
        offs = [0] * (_MAXBITS + 2)
        for l in range(1, _MAXBITS + 1):
            offs[l + 1] = offs[l] + counts[l]
        symbols = [0] * offs[_MAXBITS + 1]
        for sym, l in enumerate(lengths):
            if l:
                symbols[offs[l]] = sym
                offs[l] += 1
        self.counts = counts
        self.symbols = symbols

    def decode(self, r: _BitReader) -> int:
        # Huffman codes pack MSB-first: grow the code one bit at a time and
        # exploit the canonical property (all codes of length L occupy a
        # contiguous value range starting at first_L)
        code = first = index = 0
        for length in range(1, _MAXBITS + 1):
            code |= r.bits(1)
            count = self.counts[length]
            if code - first < count:
                return self.symbols[index + (code - first)]
            index += count
            first = (first + count) << 1
            code <<= 1
        raise ValueError("inflate: invalid Huffman code")


def _fixed_tables() -> tuple[_Huffman, _Huffman]:
    lit = [8] * 144 + [9] * 112 + [7] * 24 + [8] * 8
    dist = [5] * 30
    return _Huffman(lit), _Huffman(dist)


def _dynamic_tables(r: _BitReader) -> tuple[_Huffman, _Huffman]:
    hlit = r.bits(5) + 257
    hdist = r.bits(5) + 1
    hclen = r.bits(4) + 4
    clc_lengths = [0] * 19
    for i in range(hclen):
        clc_lengths[_CLC_ORDER[i]] = r.bits(3)
    clc = _Huffman(clc_lengths)
    lengths: list[int] = []
    while len(lengths) < hlit + hdist:
        sym = clc.decode(r)
        if sym < 16:
            lengths.append(sym)
        elif sym == 16:
            if not lengths:
                raise ValueError("inflate: repeat with no previous length")
            lengths.extend([lengths[-1]] * (3 + r.bits(2)))
        elif sym == 17:
            lengths.extend([0] * (3 + r.bits(3)))
        else:  # 18
            lengths.extend([0] * (11 + r.bits(7)))
    if len(lengths) != hlit + hdist:
        raise ValueError("inflate: code-length overrun")
    return _Huffman(lengths[:hlit]), _Huffman(lengths[hlit:])


def inflate(data: bytes) -> bytes:
    """Raw DEFLATE stream → bytes (RFC 1951: stored, fixed-Huffman and
    dynamic-Huffman blocks)."""
    r = _BitReader(data)
    out = bytearray()
    while True:
        bfinal = r.bits(1)
        btype = r.bits(2)
        if btype == 0:  # stored
            r.align_byte()
            if r.pos + 4 > len(r.data):
                raise ValueError("inflate: truncated stored header")
            ln, nln = struct.unpack_from("<HH", r.data, r.pos)
            if ln != (~nln & 0xFFFF):
                raise ValueError("inflate: stored LEN/NLEN mismatch")
            r.pos += 4
            if r.pos + ln > len(r.data):
                raise ValueError("inflate: truncated stored block")
            out += r.data[r.pos : r.pos + ln]
            r.pos += ln
        elif btype in (1, 2):
            lit, dist = _fixed_tables() if btype == 1 else _dynamic_tables(r)
            while True:
                sym = lit.decode(r)
                if sym < 256:
                    out.append(sym)
                elif sym == 256:
                    break
                else:
                    if sym > 285:
                        raise ValueError(f"inflate: bad length symbol {sym}")
                    i = sym - 257
                    length = _LEN_BASE[i] + r.bits(_LEN_EXTRA[i])
                    dsym = dist.decode(r)
                    if dsym > 29:
                        raise ValueError(f"inflate: bad distance symbol {dsym}")
                    d = _DIST_BASE[dsym] + r.bits(_DIST_EXTRA[dsym])
                    if d > len(out):
                        raise ValueError("inflate: distance beyond output")
                    # LZ77 copies may overlap themselves: copy byte-by-byte
                    start = len(out) - d
                    for j in range(length):
                        out.append(out[start + j])
        else:
            raise ValueError("inflate: reserved block type 3")
        if bfinal:
            return bytes(out)


def zlib_decompress(data: bytes) -> bytes:
    """RFC 1950 container: header check, inflate, Adler-32 verify."""
    if len(data) < 6:
        raise ValueError("zlib: stream too short")
    cmf, flg = data[0], data[1]
    if cmf & 0x0F != 8:
        raise ValueError(f"zlib: unsupported compression method {cmf & 0x0F}")
    if (cmf * 256 + flg) % 31 != 0:
        raise ValueError("zlib: header check failed")
    if flg & 0x20:
        raise ValueError("zlib: preset dictionary unsupported")
    out = inflate(data[2:-4])
    (want,) = struct.unpack(">I", data[-4:])
    got = adler32(out)
    if got != want:
        raise ValueError(f"zlib: Adler-32 mismatch ({got:#x} != {want:#x})")
    return out


def zlib_compress_stored(data: bytes) -> bytes:
    """RFC 1950 container around STORED deflate blocks (≤ 65535 bytes each)
    — uncompressed but fully standard; any zlib reader decodes it."""
    parts = [b"\x78\x01"]  # CMF/FLG: method 8, 32K window, check-valid
    n = len(data)
    pos = 0
    while True:
        chunk = data[pos : pos + 0xFFFF]
        final = 1 if pos + len(chunk) >= n else 0
        parts.append(bytes([final]))
        parts.append(struct.pack("<HH", len(chunk), ~len(chunk) & 0xFFFF))
        parts.append(chunk)
        pos += len(chunk)
        if final:
            break
    parts.append(struct.pack(">I", adler32(data)))
    return b"".join(parts)


# --------------------------------------------------------------------------
# scanline filters (PNG spec §9)
# --------------------------------------------------------------------------

def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _unfilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Filtered scanlines (1 filter byte + stride data bytes per row) →
    (h, stride) uint8 matrix."""
    if len(raw) != h * (stride + 1):
        raise ValueError(
            f"png: decompressed size {len(raw)} != expected {h * (stride + 1)}"
        )
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int64)
        if ftype == 0:  # None
            cur = line
        elif ftype == 1:  # Sub
            cur = line.copy()
            for x in range(bpp, stride):
                cur[x] = (cur[x] + cur[x - bpp]) & 0xFF
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype == 3:  # Average
            cur = line.copy()
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            cur = line.copy()
            for x in range(stride):
                left = int(cur[x - bpp]) if x >= bpp else 0
                ul = int(prev[x - bpp]) if x >= bpp else 0
                cur[x] = (cur[x] + _paeth(left, int(prev[x]), ul)) & 0xFF
        else:
            raise ValueError(f"png: unknown filter type {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out


# --------------------------------------------------------------------------
# PNG container
# --------------------------------------------------------------------------

def _iter_chunks(data: bytes):
    pos = 8
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length or pos + 12 + length > len(data):
            raise ValueError("png: truncated chunk")
        (want_crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if crc32(ctype + body) != want_crc:
            raise ValueError(f"png: CRC mismatch in {ctype!r} chunk")
        yield ctype, body
        pos += 12 + length
        if ctype == b"IEND":
            return
    raise ValueError("png: missing IEND")


# Adam7 pass grid (PNG spec §8.2): (x_off, y_off, x_step, y_step)
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _deinterlace(raw: bytes, w: int, h: int, channels: int) -> np.ndarray:
    """Adam7: the decompressed stream is SEVEN independently-filtered
    sub-images (each with its own scanline filter bytes); unfilter each and
    scatter its samples onto the pass grid → (h, w·channels) uint8."""
    out = np.zeros((h, w, channels), dtype=np.uint8)
    off = 0
    for x_off, y_off, x_step, y_step in _ADAM7:
        pw = (w - x_off + x_step - 1) // x_step
        ph = (h - y_off + y_step - 1) // y_step
        if pw <= 0 or ph <= 0:
            continue  # pass empty for this image size
        n = ph * (pw * channels + 1)
        sub = _unfilter(raw[off : off + n], ph, pw * channels, channels)
        off += n
        out[y_off::y_step, x_off::x_step] = sub.reshape(ph, pw, channels)
    if off != len(raw):
        raise ValueError(f"png: interlaced stream has {len(raw) - off} trailing bytes")
    return out.reshape(h, w * channels)


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes → uint8 array: (h, w) for grayscale, (h, w, c) otherwise."""
    if data[:8] != PNG_SIG:
        raise ValueError("png: bad signature")
    ihdr = None
    idat = bytearray()
    plte = None
    for ctype, body in _iter_chunks(data):
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"PLTE":
            plte = body
    if ihdr is None:
        raise ValueError("png: missing IHDR")
    w, h, depth, ctype_i, comp, filt, interlace = ihdr
    if depth != 8:
        raise NotImplementedError(f"png: bit depth {depth} unsupported (8 only)")
    if ctype_i not in _CHANNELS:
        raise NotImplementedError(f"png: color type {ctype_i} unsupported")
    if comp != 0 or filt != 0:
        raise ValueError("png: unknown compression/filter method")
    if interlace not in (0, 1):
        raise ValueError(f"png: unknown interlace method {interlace}")
    channels = _CHANNELS[ctype_i]
    raw = zlib_decompress(bytes(idat))
    if interlace == 1:
        mat = _deinterlace(raw, w, h, channels)
    else:
        mat = _unfilter(raw, h, w * channels, channels)
    if ctype_i == 3:
        # indexed color (PNG spec §4.1.2/11.2.3): one index sample per
        # pixel, resolved through the PLTE lookup table to RGB
        if plte is None:
            raise ValueError("png: color type 3 requires a PLTE chunk")
        if len(plte) % 3 or not 3 <= len(plte) <= 768:
            raise ValueError(f"png: bad PLTE length {len(plte)}")
        palette = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        if int(mat.max(initial=0)) >= len(palette):
            raise ValueError("png: palette index out of range")
        return palette[mat]
    return mat if channels == 1 else mat.reshape(h, w, channels)


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", crc32(ctype + body))
    )


def _interlaced_raw(arr: np.ndarray) -> bytes:
    """(h, w, channels) → Adam7 pass stream, filter 0 per scanline."""
    h, w = arr.shape[:2]
    parts = bytearray()
    for x_off, y_off, x_step, y_step in _ADAM7:
        sub = arr[y_off::y_step, x_off::x_step]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        for row in sub:
            parts += b"\x00" + row.tobytes()
    return bytes(parts)


def encode_png(img: np.ndarray, interlace: bool = False) -> bytes:
    """uint8 image — (h, w), (h, w, 2), (h, w, 3) or (h, w, 4) — → PNG with
    STORED zlib blocks and filter 0 (byte-exact round-trip); interlace=True
    emits the Adam7 seven-pass layout."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        h, w, channels = img.shape[0], img.shape[1], 1
    elif img.ndim == 3 and img.shape[2] in (2, 3, 4):
        h, w, channels = img.shape
    else:
        raise ValueError(f"png: unsupported image shape {img.shape}")
    ctype_i = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    arr = img.reshape(h, w, channels)
    if interlace:
        raw = _interlaced_raw(arr)
    else:
        flat = arr.reshape(h, w * channels)
        raw = b"".join(b"\x00" + flat[y].tobytes() for y in range(h))
    return (
        PNG_SIG
        + _chunk(
            b"IHDR",
            struct.pack(">IIBBBBB", w, h, 8, ctype_i, 0, 0, int(interlace)),
        )
        + _chunk(b"IDAT", zlib_compress_stored(raw))
        + _chunk(b"IEND", b"")
    )


def encode_png_palette(indices: np.ndarray, palette: np.ndarray) -> bytes:
    """Indexed-color (type 3) PNG: `indices` is (h, w) uint8 into `palette`
    (n ≤ 256, 3) uint8 RGB. Emitted with a PLTE chunk, 8-bit samples,
    STORED zlib blocks and filter 0 — decode_png(encode_png_palette(i, p))
    == p[i] exactly, the palette self-vector for the round-trip oracle."""
    indices = np.asarray(indices, dtype=np.uint8)
    palette = np.asarray(palette, dtype=np.uint8)
    if indices.ndim != 2:
        raise ValueError(f"png: palette indices must be (h, w), got {indices.shape}")
    if palette.ndim != 2 or palette.shape[1] != 3 or not 1 <= len(palette) <= 256:
        raise ValueError(f"png: palette must be (1..256, 3), got {palette.shape}")
    if int(indices.max(initial=0)) >= len(palette):
        raise ValueError("png: palette index out of range")
    h, w = indices.shape
    raw = b"".join(b"\x00" + indices[y].tobytes() for y in range(h))
    return (
        PNG_SIG
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0))
        + _chunk(b"PLTE", palette.tobytes())
        + _chunk(b"IDAT", zlib_compress_stored(raw))
        + _chunk(b"IEND", b"")
    )
