"""GIF codec exactness: LZW round trips across code-width bumps and the
12-bit dictionary reset, a hand-traced LZW stream pinning the decoder
against spec arithmetic (independent of the encoder), extension-block
skipping, and explicit rejection of unsupported shapes."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from xml_hive_spark.operators.gif import (
    _lzw_compress,
    _lzw_decompress,
    gif_decode,
    gif_encode,
)


def _rng(seed):
    return np.random.default_rng(seed)


def _pal(k):
    return _rng(99).integers(0, 256, (k, 3), dtype=np.uint8)


class TestLzw:
    def test_hand_traced_stream(self):
        """Pixels [1,2,2,0] at min_code_size=2, traced by hand from the
        spec: codes CLEAR(4),1,2,2 at width 3, then 0,END(5) at width 4
        (the bump lands after the table's 8th entry)."""
        bits = _lzw_compress([1, 2, 2, 0], 2)
        # repack expected: width-3 codes 4,1,2,2 then width-4 codes 0,5
        acc = nb = 0
        out = bytearray()

        def emit(c, w):
            nonlocal acc, nb
            acc |= c << nb
            nb += w
            while nb >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nb -= 8

        for c in (4, 1, 2, 2):
            emit(c, 3)
        for c in (0, 5):
            emit(c, 4)
        if nb:
            out.append(acc & 0xFF)
        assert bits == bytes(out)
        assert _lzw_decompress(bits, 2, 4) == [1, 2, 2, 0]

    def test_kwkwk_case(self):
        # aaa...: the second code emitted is the just-created entry
        data = [0] * 9
        assert _lzw_decompress(_lzw_compress(data, 2), 2, 9) == data

    @pytest.mark.parametrize("n", [1, 7, 255, 256, 300, 5000])
    def test_sizes(self, n):
        data = list(_rng(n).integers(0, 4, n))
        assert _lzw_decompress(_lzw_compress(data, 2), 2, n) == data

    def test_dictionary_reset_at_12_bits(self):
        # high-entropy stream long enough to fill 4096 entries and reset
        data = list(_rng(13).integers(0, 16, 30000))
        assert _lzw_decompress(_lzw_compress(data, 4), 4, 30000) == data

    def test_underrun_raises(self):
        bits = _lzw_compress([1, 2, 3], 2)
        with pytest.raises(ValueError, match="underrun|ended early"):
            _lzw_decompress(bits, 2, 10)


class TestRoundTrip:
    @pytest.mark.parametrize("shape,k", [((1, 1), 2), ((5, 7), 4),
                                         ((16, 16), 16), ((31, 9), 256),
                                         ((96, 96), 16)])
    def test_shapes(self, shape, k):
        idx = _rng(3).integers(0, k, shape, dtype=np.uint8)
        pal = _pal(k)
        got_idx, got_pal = gif_decode(gif_encode(idx, pal))
        assert np.array_equal(got_idx, idx)
        assert np.array_equal(got_pal[:k], pal)

    def test_extension_block_skipped(self):
        idx = _rng(5).integers(0, 4, (6, 6), dtype=np.uint8)
        got, _ = gif_decode(gif_encode(idx, _pal(4), loop_ext=True))
        assert np.array_equal(got, idx)

    def test_single_color_image(self):
        idx = np.zeros((40, 40), dtype=np.uint8)
        got, _ = gif_decode(gif_encode(idx, _pal(2)))
        assert np.array_equal(got, idx)

    @settings(max_examples=30, deadline=None)
    @given(data=st.data())
    def test_property(self, data):
        h = data.draw(st.integers(1, 20))
        w = data.draw(st.integers(1, 20))
        k = data.draw(st.sampled_from([2, 3, 4, 16, 200]))
        seed = data.draw(st.integers(0, 2**31))
        idx = _rng(seed).integers(0, k, (h, w), dtype=np.uint8)
        got_idx, _ = gif_decode(gif_encode(idx, _pal(k)))
        assert np.array_equal(got_idx, idx)

    def test_header_parser_agrees(self):
        from xml_hive_spark.operators.multimodal import decode_image_header

        idx = _rng(7).integers(0, 4, (11, 23), dtype=np.uint8)
        meta = decode_image_header(gif_encode(idx, _pal(4)))
        assert (meta["format"], meta["width"], meta["height"]) == \
            ("gif", 23, 11)


class TestRejection:
    def test_bad_signature(self):
        with pytest.raises(ValueError, match="signature"):
            gif_decode(b"NOTAGIF" + b"\x00" * 20)

    def test_interlaced_rejected(self):
        idx = np.zeros((4, 4), dtype=np.uint8)
        p = bytearray(gif_encode(idx, _pal(2)))
        # image descriptor: find 0x2c, flags at +9
        at = p.index(0x2C, 13)
        p[at + 9] |= 0x40
        with pytest.raises(ValueError, match="interlaced"):
            gif_decode(bytes(p))

    def test_palette_overflow_rejected_on_encode(self):
        with pytest.raises(ValueError, match="palette"):
            gif_encode(np.full((2, 2), 5, dtype=np.uint8), _pal(4))

    def test_no_image_data(self):
        p = (b"GIF89a" + struct.pack("<HH", 2, 2)
             + bytes([0x80, 0, 0]) + b"\x00" * 6 + b"\x3b")
        with pytest.raises(ValueError, match="no image data"):
            gif_decode(p)

    def test_truncated_global_table_rejected_by_both_decoders(self):
        from xml_hive_spark.operators.gif import gif_decode_frames

        # GCT flag with 2^(7+1) = 256 entries, but only 2 bytes follow
        p = b"GIF89a" + struct.pack("<HH", 2, 2) + bytes([0x87, 0, 0]) + b"\0\0"
        for decode in (gif_decode, gif_decode_frames):
            with pytest.raises(ValueError, match="truncated global color table"):
                decode(p)

    def test_first_image_decode_ignores_later_bytes(self):
        """gif_decode stops after the first image: a bad block after it
        does not matter, while the all-frames walk reaches and rejects it."""
        from xml_hive_spark.operators.gif import gif_decode_frames

        idx = _rng(3).integers(0, 4, (5, 6), dtype=np.uint8)
        p = gif_encode(idx, _pal(4))[:-1] + b"\x99"  # trailer -> bad block
        first, _ = gif_decode(p)
        assert (first == idx).all()
        with pytest.raises(ValueError, match="unexpected block 0x99"):
            gif_decode_frames(p)


class TestAnimation:
    def test_animation_roundtrip_exact(self):
        """Multi-frame encode → decode_frames must reproduce every
        frame, the palette, and each frame's GCE delay exactly."""
        import numpy as np

        from xml_hive_spark.operators.gif import (
            gif_decode_frames,
            gif_encode_animation,
        )

        rng = np.random.default_rng(7)
        frames = [
            rng.integers(0, 16, size=(9, 11)).astype(np.uint8)
            for _ in range(5)
        ]
        pal = rng.integers(0, 256, size=(16, 3)).astype(np.uint8)
        delays = [4, 9, 0, 65535, 12]
        payload = gif_encode_animation(frames, pal, delays)
        back, back_pal, back_delays = gif_decode_frames(payload)
        assert len(back) == 5
        for a, b in zip(frames, back):
            assert (a == b).all()
        assert (back_pal[:16] == pal).all()
        assert back_delays == delays

    def test_single_frame_decoders_agree(self):
        """gif_decode (first frame) and gif_decode_frames agree on an
        animation's first frame."""
        import numpy as np

        from xml_hive_spark.operators.gif import (
            gif_decode,
            gif_decode_frames,
            gif_encode_animation,
        )

        f0 = (np.arange(64, dtype=np.uint8) % 8).reshape(8, 8)
        f1 = ((np.arange(64, dtype=np.uint8) * 3) % 8).reshape(8, 8)
        pal = np.stack([np.arange(8, dtype=np.uint8) * 30] * 3, axis=1)
        payload = gif_encode_animation([f0, f1], pal, [10, 20])
        first, _ = gif_decode(payload)
        allf, _, _ = gif_decode_frames(payload)
        assert (first == allf[0]).all() and (allf[1] == f1).all()


class TestAnimationProperty:
    @given(data=st.data())
    @settings(max_examples=40, deadline=None)
    def test_random_animation_roundtrip(self, data):
        """Property: any (frames, palette, delays) combination within
        spec round-trips exactly through the animated encoder/decoder —
        frame count 1..6, dims 1..16, palette 2..64 colors, delays
        covering the full u16 range."""
        from xml_hive_spark.operators.gif import (
            gif_decode_frames,
            gif_encode_animation,
        )

        h = data.draw(st.integers(1, 16))
        w = data.draw(st.integers(1, 16))
        k = data.draw(st.integers(2, 64))
        nf = data.draw(st.integers(1, 6))
        rng = np.random.default_rng(data.draw(st.integers(0, 2**31)))
        frames = [
            rng.integers(0, k, size=(h, w)).astype(np.uint8)
            for _ in range(nf)
        ]
        pal = rng.integers(0, 256, size=(k, 3)).astype(np.uint8)
        delays = [data.draw(st.integers(0, 65535)) for _ in range(nf)]
        payload = gif_encode_animation(frames, pal, delays)
        back, back_pal, back_delays = gif_decode_frames(payload)
        assert len(back) == nf and back_delays == delays
        for a, b in zip(frames, back):
            assert (a == b).all()
        assert (back_pal[:k] == pal).all()
