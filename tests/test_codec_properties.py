"""Property-based robustness tests for the from-scratch codecs
(hypothesis): GIF round-trips losslessly on ANY index grid, baseline
JPEG reconstructs within the rounding bound at unit quantization, IMA
ADPCM preserves length/rate and decodes deterministically, and every
codec's decoder either returns or raises ValueError on mutated bytes —
never any other exception (the skip-row contract)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from corpus_lab.kernel.jpegx import (
    decode_jpeg,
    decode_mjpeg,
    encode_jpeg,
    encode_mjpeg,
)
from corpus_lab.operators.multimodal import (
    decode_adpcm_wav,
    decode_gif,
    encode_adpcm_wav,
    encode_gif,
)

_PAL = np.stack([np.arange(256) % 256, (np.arange(256) * 3) % 256,
                 (np.arange(256) * 7) % 256], axis=1).astype(np.uint8)

dims = st.tuples(st.integers(1, 24), st.integers(1, 24))


class TestGifProperties:
    @settings(max_examples=60, deadline=None)
    @given(dims, st.integers(0, 2**32 - 1))
    def test_lossless_on_any_index_grid(self, wh, seed):
        w, h = wh
        idx = np.random.RandomState(seed).randint(
            0, 256, (h, w)).astype(np.uint8)
        got = decode_gif(encode_gif(idx, _PAL))
        assert (got == _PAL[idx]).all()

    @settings(max_examples=80, deadline=None)
    @given(st.integers(0, 2**32 - 1), st.integers(0, 899),
           st.integers(0, 255))
    def test_mutated_bytes_return_or_valueerror(self, seed, pos, val):
        idx = np.random.RandomState(seed).randint(
            0, 256, (6, 8)).astype(np.uint8)
        raw = bytearray(encode_gif(idx, _PAL))
        raw[pos % len(raw)] = val
        try:
            out = decode_gif(bytes(raw))
            assert out.dtype == np.uint8 and out.ndim == 3
        except ValueError:
            pass


class TestJpegProperties:
    @settings(max_examples=40, deadline=None)
    @given(dims, st.integers(0, 2**32 - 1), st.booleans())
    def test_unit_quant_reconstruction_bound(self, wh, seed, color):
        w, h = wh
        rng = np.random.RandomState(seed)
        shape = (h, w, 3) if color else (h, w)
        img = rng.randint(0, 256, shape).astype(np.uint8)
        got = decode_jpeg(encode_jpeg(img))
        assert got.shape == img.shape
        # unit quant table: only coefficient rounding error survives;
        # worst-case per-pixel bound is a few levels
        assert np.abs(got.astype(int) - img.astype(int)).max() <= 6

    @settings(max_examples=80, deadline=None)
    @given(st.integers(0, 2**32 - 1), st.integers(0, 10_000),
           st.integers(0, 255))
    def test_mutated_bytes_return_or_valueerror(self, seed, pos, val):
        img = np.random.RandomState(seed).randint(
            0, 256, (9, 11)).astype(np.uint8)
        raw = bytearray(encode_jpeg(img))
        raw[pos % len(raw)] = val
        try:
            out = decode_jpeg(bytes(raw))
            assert out.dtype == np.uint8
        except ValueError:
            pass


class TestMjpegProperties:
    @settings(max_examples=40, deadline=None)
    @given(st.integers(1, 5), dims, st.integers(0, 2**32 - 1))
    def test_frame_count_and_reconstruction_bound(self, nf, wh, seed):
        w, h = wh
        rng = np.random.RandomState(seed)
        frames = [rng.randint(0, 256, (h, w)).astype(np.uint8)
                  for _ in range(nf)]
        got = decode_mjpeg(encode_mjpeg(frames))
        assert len(got) == nf
        for g, f in zip(got, frames):
            assert g.shape == f.shape
            assert np.abs(g.astype(int) - f.astype(int)).max() <= 6

    @settings(max_examples=80, deadline=None)
    @given(st.integers(0, 2**32 - 1), st.integers(0, 20_000),
           st.integers(0, 255))
    def test_mutated_bytes_return_or_valueerror(self, seed, pos, val):
        rng = np.random.RandomState(seed)
        frames = [rng.randint(0, 256, (9, 11)).astype(np.uint8)
                  for _ in range(3)]
        raw = bytearray(encode_mjpeg(frames))
        raw[pos % len(raw)] = val
        try:
            out = decode_mjpeg(bytes(raw))
            assert all(f.dtype == np.uint8 for f in out)
        except ValueError:
            pass


class TestAdpcmProperties:
    @settings(max_examples=60, deadline=None)
    @given(st.integers(1, 3000), st.integers(0, 2**32 - 1),
           st.sampled_from([8000, 16000, 44100]))
    def test_length_rate_preserved_and_deterministic(self, n, seed, rate):
        s = np.random.RandomState(seed).randint(
            -32768, 32768, n).astype(np.int64)
        payload = encode_adpcm_wav(s, rate)
        a, ra = decode_adpcm_wav(payload)
        b, rb = decode_adpcm_wav(payload)
        assert a.size == n and ra == rate == rb
        assert (a == b).all()
        # the first sample rides the block header verbatim
        assert int(a[0]) == int(s[0])

    @settings(max_examples=80, deadline=None)
    @given(st.integers(0, 2**32 - 1), st.integers(0, 5000),
           st.integers(0, 255))
    def test_mutated_bytes_return_or_valueerror(self, seed, pos, val):
        s = np.random.RandomState(seed).randint(
            -32768, 32768, 400).astype(np.int64)
        raw = bytearray(encode_adpcm_wav(s, 8000))
        raw[pos % len(raw)] = val
        try:
            out, _ = decode_adpcm_wav(bytes(raw))
            assert out.dtype == np.int16
        except ValueError:
            pass


class TestG711Properties:
    """G.711 mu-law/A-law: spec anchors, lattice idempotence, bounded
    quantization error, mutation fuzz (same contract as the other
    codecs: decode returns int16 or raises ValueError, never garbage)."""

    def test_spec_anchor_bytes(self):
        from corpus_lab.operators.multimodal import (
            _ALAW_LUT, _MULAW_LUT)
        # both mu-law zero codes decode to 0; A-law 0xD5/0x55 are +-8
        assert _MULAW_LUT[0xFF] == 0 and _MULAW_LUT[0x7F] == 0
        assert _ALAW_LUT[0xD5] == 8 and _ALAW_LUT[0x55] == -8
        # full-scale magnitudes from the segmented expansion
        assert _MULAW_LUT[0x00] == -32124 and _MULAW_LUT[0x80] == 32124
        assert int(np.abs(_ALAW_LUT).max()) == 32256

    @settings(max_examples=40, deadline=None)
    @given(st.sampled_from(["mulaw", "alaw"]), st.integers(0, 2**32 - 1),
           st.integers(1, 2000))
    def test_lattice_roundtrip_and_error_bound(self, law, seed, n):
        from corpus_lab.operators.multimodal import (
            _ALAW_LUT, _MULAW_LUT, decode_g711_wav, encode_g711_wav)
        lut = _MULAW_LUT if law == "mulaw" else _ALAW_LUT
        lattice = np.unique(lut).astype(np.int64)
        # every lattice point round-trips bit-exactly
        dec, rate = decode_g711_wav(encode_g711_wav(lattice, 8000, law))
        assert rate == 8000 and (dec.astype(np.int64) == lattice).all()
        # arbitrary input: nearest-neighbor quantization error is at most
        # half the largest lattice gap (interior; the rails clip)
        s = np.random.RandomState(seed).randint(-32768, 32768, n)
        d, _ = decode_g711_wav(encode_g711_wav(s, 8000, law))
        gap = int(np.diff(lattice).max())
        inside = (s >= lattice[0]) & (s <= lattice[-1])
        if inside.any():
            err = np.abs(d.astype(np.int64)[inside] - s[inside])
            assert int(err.max()) <= gap // 2

    @settings(max_examples=80, deadline=None)
    @given(st.sampled_from(["mulaw", "alaw"]), st.integers(0, 2**32 - 1),
           st.integers(0, 5000), st.integers(0, 255))
    def test_mutated_bytes_return_or_valueerror(self, law, seed, pos, val):
        from corpus_lab.operators.multimodal import (
            decode_g711_wav, encode_g711_wav)
        s = np.random.RandomState(seed).randint(
            -32768, 32768, 300).astype(np.int64)
        raw = bytearray(encode_g711_wav(s, 8000, law))
        raw[pos % len(raw)] = val
        try:
            out, _ = decode_g711_wav(bytes(raw))
            assert out.dtype == np.int16
        except ValueError:
            pass

    @settings(max_examples=40, deadline=None)
    @given(st.sampled_from(["mulaw", "alaw"]), st.integers(0, 2**32 - 1),
           st.integers(0, 400))
    def test_truncation_return_or_valueerror(self, law, seed, cut):
        from corpus_lab.operators.multimodal import (
            decode_g711_wav, encode_g711_wav)
        s = np.random.RandomState(seed).randint(
            -32768, 32768, 200).astype(np.int64)
        raw = encode_g711_wav(s, 8000, law)
        try:
            out, _ = decode_g711_wav(raw[:cut % len(raw)])
            assert out.dtype == np.int16
        except ValueError:
            pass


class TestPngProperties:
    @settings(max_examples=80, deadline=None)
    @given(st.integers(0, 2**32 - 1), st.integers(0, 899),
           st.integers(0, 255))
    def test_mutated_bytes_return_or_valueerror(self, seed, pos, val):
        from corpus_lab.operators.multimodal import decode_png, encode_png
        rng = np.random.RandomState(seed)
        arr = rng.randint(0, 256, (6, 8, 3 + seed % 2)).astype(np.uint8)
        raw = bytearray(encode_png(arr))
        raw[pos % len(raw)] = val
        try:
            out = decode_png(bytes(raw))
            assert out.dtype == np.uint8 and out.ndim == 3
        except ValueError:
            pass

    @settings(max_examples=40, deadline=None)
    @given(st.integers(0, 2**32 - 1), st.integers(1, 200))
    def test_truncation_return_or_valueerror(self, seed, cut):
        from corpus_lab.operators.multimodal import decode_png, encode_png
        arr = np.random.RandomState(seed).randint(
            0, 256, (5, 7, 3)).astype(np.uint8)
        raw = encode_png(arr)
        try:
            decode_png(raw[: max(0, len(raw) - cut)])
        except ValueError:
            pass


class TestWavProperties:
    @settings(max_examples=80, deadline=None)
    @given(st.integers(0, 2**32 - 1), st.integers(0, 899),
           st.integers(0, 255))
    def test_mutated_bytes_return_or_valueerror(self, seed, pos, val):
        from corpus_lab.operators.multimodal import decode_wav, encode_wav
        rng = np.random.RandomState(seed)
        s = rng.randint(-2048, 2048, 64 + seed % 64).astype(np.int16)
        raw = bytearray(encode_wav(s, 8000))
        raw[pos % len(raw)] = val
        try:
            out, rate = decode_wav(bytes(raw))
            assert out.dtype == np.int16 and rate > 0
        except ValueError:
            pass

    @settings(max_examples=40, deadline=None)
    @given(st.integers(0, 2**32 - 1), st.integers(1, 120))
    def test_truncation_return_or_valueerror(self, seed, cut):
        from corpus_lab.operators.multimodal import decode_wav, encode_wav
        s = np.random.RandomState(seed).randint(
            -2048, 2048, 64).astype(np.int16)
        raw = encode_wav(s, 8000)
        try:
            decode_wav(raw[: max(0, len(raw) - cut)])
        except ValueError:
            pass
