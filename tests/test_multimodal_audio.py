"""Compressed-WAV decode (G.711 A-law / mu-law, IMA ADPCM, IEEE
float, WAVE_FORMAT_EXTENSIBLE): skip-free in any environment — the
RIFF parser in operators/audio needs only ``struct`` + numpy.

G.711 tables are cross-checked bit-for-bit against ``audioop`` where
the interpreter still ships it (removed in 3.13); the IMA ADPCM
decoder is exercised against an independent in-test encoder written
from the IMA reference pseudocode.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from etl_macropulse_br_spark.operators.audio import (
    _ALAW,
    _IMA_INDEX_ADJ,
    _IMA_STEPS,
    _ULAW,
    wav_read,
)

try:  # deprecated, removed in 3.13 — cross-check only where present
    import audioop  # noqa: F401

    HAS_AUDIOOP = True
except ImportError:  # pragma: no cover
    HAS_AUDIOOP = False


def _wav(
    tag: int,
    nch: int,
    rate: int,
    bits: int,
    block_align: int,
    data: bytes,
    fact_frames: int | None = None,
    extensible: bool = False,
) -> bytes:
    if extensible:
        fmt = struct.pack(
            "<HHIIHHHHI",
            0xFFFE,
            nch,
            rate,
            rate * block_align,
            block_align,
            bits,
            22,  # cbSize
            bits,  # valid bits
            0,  # channel mask
        ) + struct.pack("<H", tag) + b"\x00\x00" + b"\x00" * 14
    else:
        fmt = struct.pack(
            "<HHIIHH", tag, nch, rate, rate * block_align, block_align, bits
        )
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if len(fmt) % 2:
        chunks += b"\x00"
    if fact_frames is not None:
        chunks += b"fact" + struct.pack("<II", 4, fact_frames)
    chunks += b"data" + struct.pack("<I", len(data)) + data
    if len(data) % 2:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_g711_tables_roundtrip_independent_encoders():
    """Skip-free replacement for the audioop comparison (audioop is
    removed in Python 3.13): independently implemented G.711
    ENCODERS (segment search from the ITU companding definition —
    the tables' inverse, not a re-derivation of the same decode
    formula) must round-trip encode(decode(b)) == b for every byte.
    The one exception is mu-law 0x7F, the negative-zero alias: it
    decodes to 0 like 0xFF, and any encoder canonicalizes 0 to one
    byte. When the stdlib audioop still exists, also cross-check the
    tables byte-for-byte against it."""

    def enc_ulaw(x: int) -> int:
        sign = 0x80 if x < 0 else 0
        if x < 0:
            x = -x
        x += 0x84  # bias
        if x > 0x7FFF:
            x = 0x7FFF
        exponent = max(0, x.bit_length() - 8)
        mantissa = (x >> (exponent + 3)) & 0x0F
        return ~(sign | (exponent << 4) | mantissa) & 0xFF

    def enc_alaw(x: int) -> int:
        # A-law sign bit (after the 0x55 toggle) set means POSITIVE
        sign = 0x80 if x >= 0 else 0
        if x < 0:
            x = -x
        if x < 256:
            exponent, mantissa = 0, (x >> 4) & 0x0F
        else:
            exponent = min(7, x.bit_length() - 8)
            mantissa = (x >> (exponent + 3)) & 0x0F
        return (sign | (exponent << 4) | mantissa) ^ 0x55

    assert int(_ULAW[0x7F]) == 0 and enc_ulaw(0) == 0xFF
    for b in range(256):
        if b != 0x7F:
            assert enc_ulaw(int(_ULAW[b])) == b, b
        assert enc_alaw(int(_ALAW[b])) == b, b

    if HAS_AUDIOOP:
        import audioop

        allb = bytes(range(256))
        assert _ULAW.tobytes() == audioop.ulaw2lin(allb, 2)
        assert _ALAW.tobytes() == audioop.alaw2lin(allb, 2)


def test_mulaw_wav_decodes():
    data = bytes(range(256)) * 4
    w = _wav(7, 1, 8000, 8, 1, data)
    rate, nch, a, nframes = wav_read(w)
    assert (rate, nch, nframes) == (8000, 1, 1024)
    ref = _ULAW[np.frombuffer(data, dtype=np.uint8)].astype(np.float64)
    assert np.array_equal(a, ref)


def test_alaw_stereo_wav_decodes():
    data = bytes(range(256))
    w = _wav(6, 2, 16000, 8, 2, data)
    rate, nch, a, nframes = wav_read(w)
    assert (rate, nch, nframes) == (16000, 2, 128)
    ref = _ALAW[np.frombuffer(data, dtype=np.uint8)].astype(np.float64)
    assert np.array_equal(a, ref)


def test_float32_and_extensible_pcm16():
    vals = np.array([0.0, 0.5, -0.5, 1.0, -1.0, 0.25], dtype=np.float32)
    w = _wav(3, 1, 44100, 32, 4, vals.tobytes())
    rate, nch, a, nframes = wav_read(w)
    assert nframes == 6 and np.array_equal(a, vals.astype(np.float64))

    pcm = np.array([0, 1000, -1000, 32767, -32768], dtype="<i2")
    w = _wav(1, 1, 22050, 16, 2, pcm.tobytes(), extensible=True)
    rate, nch, a, nframes = wav_read(w)
    assert (rate, nframes) == (22050, 5)
    assert np.array_equal(a, pcm.astype(np.float64))


def _ima_encode_mono(samples: list[int], block_samples: int) -> bytes:
    """Independent reference encoder (IMA ADPCM pseudocode): encodes
    int16 samples in blocks of ``block_samples`` (first sample stored
    verbatim in the block header)."""
    out = bytearray()
    index = 0
    for start in range(0, len(samples), block_samples):
        blk = samples[start : start + block_samples]
        pred = blk[0]
        out += struct.pack("<hBB", pred, index, 0)
        nibbles = []
        for s in blk[1:]:
            step = int(_IMA_STEPS[index])
            diff = s - pred
            nib = 0
            if diff < 0:
                nib = 8
                diff = -diff
            if diff >= step:
                nib |= 4
                diff -= step
            if diff >= step >> 1:
                nib |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                nib |= 1
            # decoder-mirror update
            d = step >> 3
            if nib & 1:
                d += step >> 2
            if nib & 2:
                d += step >> 1
            if nib & 4:
                d += step
            pred = pred - d if nib & 8 else pred + d
            pred = max(-32768, min(32767, pred))
            index += int(_IMA_INDEX_ADJ[nib & 7])
            index = max(0, min(88, index))
            nibbles.append(nib)
        while len(nibbles) % 8:
            nibbles.append(0)  # pad block body to 4-byte groups
        for i in range(0, len(nibbles), 2):
            out.append(nibbles[i] | (nibbles[i + 1] << 4))
    return bytes(out)


def test_ima_adpcm_roundtrip():
    # 9 samples per block: 4-byte header + 4 body bytes (8 nibbles)
    block_samples, block_align = 9, 8
    t = np.arange(45)
    src = (3000 * np.sin(t / 4.0)).astype(np.int16).tolist()
    data = _ima_encode_mono(src, block_samples)
    assert len(data) % block_align == 0
    w = _wav(0x11, 1, 8000, 4, block_align, data, fact_frames=len(src))
    rate, nch, a, nframes = wav_read(w)
    assert (rate, nch, nframes) == (8000, 1, len(src))
    # header samples are verbatim
    for b in range(len(src) // block_samples):
        assert a[b * block_samples] == src[b * block_samples]
    # adaptive-step tracking: the step index starts at 0, so the
    # first block's attack lags (classic ADPCM); after the first
    # block the decoder tracks closely and overall correlation is
    # near-perfect
    err = np.abs(a - np.asarray(src, dtype=np.float64))
    assert err.mean() < 400.0 and err.max() < 3000.0
    tail = err[block_samples:]
    assert tail.mean() < 120.0
    src_f = np.asarray(src, dtype=np.float64)
    assert np.corrcoef(a[block_samples:], src_f[block_samples:])[0, 1] > 0.999


def test_wav_read_unsupported_tag_and_malformed():
    w = _wav(0x55, 1, 8000, 16, 2, b"\x00\x00" * 8)
    with pytest.raises(NotImplementedError):
        wav_read(w)
    # corrupt containers raise ValueError
    trunc = _wav(7, 1, 8000, 8, 1, bytes(64))[:-40]
    with pytest.raises(ValueError):
        wav_read(trunc)
    with pytest.raises(ValueError):
        wav_read(b"RIFFxxxxWAVE")  # no chunks at all
