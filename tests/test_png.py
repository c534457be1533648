"""PNG codec: checksum/inflate parity vs stdlib zlib, stored-block
round trips for every channel count, all five scanline filters, palette
and Adam7 images, and error paths."""

import struct
import zlib

import numpy as np
import pytest

from minhash_spark.operators.png import (
    PNG_SIG,
    _chunk,
    adler32,
    crc32,
    decode_png,
    encode_png,
    inflate,
    zlib_compress_stored,
    zlib_decompress,
)

rng = np.random.default_rng(7)


def test_checksums_match_stdlib():
    for n in (0, 1, 100, 6000, 70000):
        b = bytes(rng.integers(0, 256, n, dtype=np.uint8))
        assert adler32(b) == zlib.adler32(b)
        assert crc32(b) == zlib.crc32(b)


def test_inflate_decodes_stdlib_zlib_all_block_types():
    payloads = [
        b"",
        b"a",
        b"abcabcabcabcabc" * 100,  # LZ77 matches, overlap copies
        bytes(rng.integers(0, 256, 50000, dtype=np.uint8)),  # incompressible
        b"the quick brown fox " * 1000,  # dynamic Huffman territory
    ]
    # level 0 → stored blocks, 1 → fixed/short codes, 6/9 → dynamic Huffman
    for lvl in (0, 1, 6, 9):
        for p in payloads:
            assert zlib_decompress(zlib.compress(p, lvl)) == p


def test_stored_stream_is_standard_zlib():
    for p in (b"", b"x" * 10, bytes(rng.integers(0, 256, 200_000, dtype=np.uint8))):
        s = zlib_compress_stored(p)
        assert zlib.decompress(s) == p  # a real zlib reader accepts it
        assert zlib_decompress(s) == p


@pytest.mark.parametrize(
    "shape", [(7, 5), (16, 16), (3, 9, 2), (8, 8, 3), (5, 4, 4), (1, 1), (1, 300, 3)]
)
def test_png_roundtrip_exact(shape):
    img = rng.integers(0, 256, shape, dtype=np.uint8)
    back = decode_png(encode_png(img))
    assert back.shape == img.shape
    assert np.array_equal(back, img)


def _paeth(a, b, c):
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _filter_forward(img: np.ndarray, ftypes: list[int], channels: int) -> bytes:
    """Apply PNG filters FORWARD (encoder side) row by row — the inverse of
    the decoder's _unfilter, used to build externally-shaped test vectors."""
    h, stride = img.shape
    bpp = channels
    out = bytearray()
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        cur = img[y].astype(np.int64)
        ft = ftypes[y % len(ftypes)]
        line = np.zeros(stride, dtype=np.int64)
        for x in range(stride):
            left = cur[x - bpp] if x >= bpp else 0
            up = prev[x]
            ul = prev[x - bpp] if x >= bpp else 0
            if ft == 0:
                line[x] = cur[x]
            elif ft == 1:
                line[x] = cur[x] - left
            elif ft == 2:
                line[x] = cur[x] - up
            elif ft == 3:
                line[x] = cur[x] - ((left + up) >> 1)
            else:
                line[x] = cur[x] - _paeth(int(left), int(up), int(ul))
        out.append(ft)
        out += bytes((line & 0xFF).astype(np.uint8))
        prev = cur
    return bytes(out)


@pytest.mark.parametrize("channels,ctype", [(1, 0), (3, 2), (4, 6)])
def test_decode_all_filter_types(channels, ctype):
    """A hand-built PNG using every filter type (cycling 0..4 across rows)
    and real zlib compression (dynamic Huffman) must decode to the source
    image — the externally-produced-stream path."""
    h, w = 11, 6
    img = rng.integers(0, 256, (h, w * channels), dtype=np.uint8)
    raw = _filter_forward(img, [0, 1, 2, 3, 4], channels)
    data = (
        PNG_SIG
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )
    got = decode_png(data)
    want = img if channels == 1 else img.reshape(h, w, channels)
    assert np.array_equal(got, want)


def test_decoder_error_paths():
    img = rng.integers(0, 256, (4, 4), dtype=np.uint8)
    good = encode_png(img)
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"notapng" + good)
    # corrupt one IDAT byte → chunk CRC must catch it
    idx = good.index(b"IDAT") + 6
    bad = good[:idx] + bytes([good[idx] ^ 0xFF]) + good[idx + 1 :]
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bad)
    # 16-bit depth is an honest capability boundary; interlace methods
    # other than none(0)/Adam7(1) don't exist in the spec
    hdr16 = PNG_SIG + _chunk(
        b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    ) + _chunk(b"IEND", b"")
    with pytest.raises(NotImplementedError, match="bit depth"):
        decode_png(hdr16)
    bad_interlace = PNG_SIG + _chunk(
        b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 2)
    ) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="interlace"):
        decode_png(bad_interlace)
    with pytest.raises(ValueError, match="LEN/NLEN"):
        inflate(b"\x01\x05\x00\x00\x00hello")  # NLEN not complement


def test_png_roundtrip_property():
    """Property: any uint8 image of any supported shape round-trips
    byte-exactly through encode_png/decode_png, and the stored stream
    stays decodable by stdlib zlib."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        h=st.integers(1, 40),
        w=st.integers(1, 40),
        ch=st.sampled_from([1, 2, 3, 4]),
        seed=st.integers(0, 2**32 - 1),
    )
    def check(h, w, ch, seed):
        r = np.random.default_rng(seed)
        shape = (h, w) if ch == 1 else (h, w, ch)
        img = r.integers(0, 256, shape, dtype=np.uint8)
        data = encode_png(img)
        assert np.array_equal(decode_png(data), img)

    check()


def test_png_palette_roundtrip_exact():
    from minhash_spark.operators.png import encode_png_palette

    pal = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    idx = rng.integers(0, 256, (9, 7), dtype=np.uint8)
    data = encode_png_palette(idx, pal)
    assert b"PLTE" in data
    assert np.array_equal(decode_png(data), pal[idx])
    # small palette, indices at the boundary
    pal3 = np.array([[1, 2, 3], [4, 5, 6], [7, 8, 9]], dtype=np.uint8)
    idx3 = np.array([[0, 2], [1, 0]], dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png_palette(idx3, pal3)), pal3[idx3])


def test_png_palette_filtered_scanlines_decode():
    """Palette images use the same filter machinery over 1-byte pixels —
    hand-build an Up-filtered palette IDAT and check the lookup result."""
    pal = np.stack(
        [np.arange(256), (7 * np.arange(256)) % 256, 255 - np.arange(256)],
        axis=1,
    ).astype(np.uint8)
    idx = np.array([[3, 5, 250], [4, 6, 251]], dtype=np.uint8)
    # row0: filter None; row1: filter Up (deltas vs row0)
    raw = bytes([0]) + idx[0].tobytes() + bytes([2]) + (
        (idx[1].astype(np.int64) - idx[0]) % 256
    ).astype(np.uint8).tobytes()
    data = (
        PNG_SIG
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0))
        + _chunk(b"PLTE", pal.tobytes())
        + _chunk(b"IDAT", zlib_compress_stored(raw))
        + _chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(data), pal[idx])


def test_png_palette_error_paths():
    from minhash_spark.operators.png import encode_png_palette

    pal = np.zeros((4, 3), dtype=np.uint8)
    idx = np.zeros((2, 2), dtype=np.uint8)
    # index out of palette range at encode
    with pytest.raises(ValueError, match="index out of range"):
        encode_png_palette(idx + 200, pal)
    # type 3 without PLTE
    good = encode_png_palette(idx, pal)
    s = good.index(b"PLTE") - 4
    e = s + 4 + 4 + 12 + 4  # len + type + 12 palette bytes + crc
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(good[:s] + good[e:])
    # decode-side index range check: 2-entry palette, index 3 in the data
    small = encode_png_palette(np.array([[3]], dtype=np.uint8), pal)
    trimmed = small.replace(
        _chunk(b"PLTE", pal.tobytes()), _chunk(b"PLTE", pal[:2].tobytes())
    )
    with pytest.raises(ValueError, match="index out of range"):
        decode_png(trimmed)


# ---------- Adam7 interlacing ------------------------------------------------


@pytest.mark.parametrize(
    "shape", [(16, 16), (16, 16, 3), (13, 7), (9, 11, 4), (1, 1), (3, 2)]
)
def test_png_adam7_roundtrip_exact(shape):
    rng = np.random.RandomState(23)
    img = rng.randint(0, 256, shape, dtype=np.uint8)
    blob = encode_png(img, interlace=True)
    # IHDR interlace byte really set
    assert blob[8 + 8 + 12] == 1
    assert np.array_equal(decode_png(blob), img)


def test_png_adam7_matches_plain_decode():
    rng = np.random.RandomState(29)
    img = rng.randint(0, 256, (24, 17, 3), dtype=np.uint8)
    plain = decode_png(encode_png(img))
    inter = decode_png(encode_png(img, interlace=True))
    assert np.array_equal(plain, inter)


def test_png_adam7_filtered_subimages_decode():
    # each Adam7 sub-image carries its own filter bytes: re-filter pass rows
    # with Up (2) and check the decoder unfilters per-pass, not globally
    from minhash_spark.operators.png import _ADAM7, _chunk, PNG_SIG
    from minhash_spark.operators.png import zlib_compress_stored

    rng = np.random.RandomState(31)
    h, w = 10, 10
    img = rng.randint(0, 256, (h, w), dtype=np.uint8)
    parts = bytearray()
    for x_off, y_off, x_step, y_step in _ADAM7:
        sub = img[y_off::y_step, x_off::x_step]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        prev = np.zeros(sub.shape[1], dtype=np.int64)
        for row in sub.astype(np.int64):
            parts += b"\x02" + ((row - prev) & 0xFF).astype(np.uint8).tobytes()
            prev = row
    blob = (
        PNG_SIG
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 1))
        + _chunk(b"IDAT", zlib_compress_stored(bytes(parts)))
        + _chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(blob), img)
