"""GIF codec: LZW round-trips (dictionary growth, width bumps, 4096
re-clear, KwKwK), container round-trips (plain + interlaced, multi-frame),
and sub-rectangle composition."""

import struct

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from minhash_spark.operators.gif import (
    _sub_blocks,
    decode_gif,
    encode_gif,
    lzw_compress,
    lzw_decompress,
)


def _palette():
    i = np.arange(256)
    return np.stack([i, (7 * i) % 256, 255 - i], axis=1).astype(np.uint8)


# ---------- LZW --------------------------------------------------------------


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=4000))
def test_lzw_roundtrip_property(data):
    assert lzw_decompress(lzw_compress(data)) == data


def test_lzw_kwkwk_case():
    # "ababab..." produces the code-references-entry-being-defined pattern
    data = b"ab" * 500 + b"a"
    assert lzw_decompress(lzw_compress(data)) == data


def test_lzw_dictionary_ceiling_reclear():
    # enough distinct context to push the table past 4096 and force the
    # in-stream clear/reset path in both directions
    rng = np.random.RandomState(3)
    data = rng.randint(0, 256, 60_000, dtype=np.uint8).tobytes()
    assert lzw_decompress(lzw_compress(data)) == data


def test_lzw_width_bumps_on_repetitive_input():
    data = bytes(np.tile(np.arange(32, dtype=np.uint8), 4000))
    comp = lzw_compress(data)
    assert len(comp) < len(data) // 3  # actually compresses
    assert lzw_decompress(comp) == data


# ---------- container --------------------------------------------------------


@pytest.mark.parametrize("interlace", [False, True])
def test_gif_roundtrip_multiframe(interlace):
    rng = np.random.RandomState(11)
    frames = [rng.randint(0, 256, (16, 16), dtype=np.uint8) for _ in range(4)]
    blob = encode_gif(frames, _palette(), interlace=interlace)
    out, pal = decode_gif(blob)
    assert np.array_equal(pal, _palette())
    assert len(out) == 4
    for a, b in zip(frames, out):
        assert np.array_equal(a, b)


def test_gif_rejects_garbage():
    with pytest.raises(ValueError):
        decode_gif(b"NOTAGIF-----")


def test_gif_subrect_composition():
    # frame 2 paints only a 4x4 patch at (left=5, top=3): the decoder must
    # compose it onto the prior canvas, not return a 4x4 island
    rng = np.random.RandomState(5)
    pal = _palette()
    h, w = 10, 12
    base = rng.randint(0, 256, (h, w), dtype=np.uint8)
    patch = rng.randint(0, 256, (4, 4), dtype=np.uint8)
    raw = bytearray(b"GIF89a")
    raw += struct.pack("<HHBBB", w, h, 0x80 | (7 << 4) | 7, 0, 0) + pal.tobytes()
    for (left, top, fr) in [(0, 0, base), (5, 3, patch)]:
        fh, fw = fr.shape
        raw += b"\x2c" + struct.pack("<HHHHB", left, top, fw, fh, 0)
        raw += bytes([8]) + _sub_blocks(lzw_compress(fr.tobytes(), 8))
    raw += b"\x3b"
    frames, _ = decode_gif(bytes(raw))
    expected = base.copy()
    expected[3:7, 5:9] = patch
    assert np.array_equal(frames[0], base)
    assert np.array_equal(frames[1], expected)


@settings(max_examples=15, deadline=None)
@given(st.binary(min_size=1, max_size=600))
def test_gif_roundtrip_property(payload):
    px = np.resize(np.frombuffer(payload, np.uint8), 2 * 64)
    frames = [px[:64].reshape(8, 8), px[64:].reshape(8, 8)]
    out, _ = decode_gif(encode_gif(frames, _palette(), interlace=True))
    assert np.array_equal(out[0], frames[0])
    assert np.array_equal(out[1], frames[1])
