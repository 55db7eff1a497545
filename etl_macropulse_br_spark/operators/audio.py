"""Compressed-WAV decode on pure stdlib + numpy.

The stdlib ``wave`` module reads only integer PCM. This module
parses the RIFF container directly and decodes the compressed /
non-PCM format tags that real crawl audio actually carries in WAV
containers, without codec libraries (the reference pipeline has no
media at all; no entry point imports this module):

- tag 1      integer PCM (8-bit unsigned / 16 / 24 / 32-bit LE)
- tag 3      IEEE float (32 / 64-bit)
- tag 6      ITU-T G.711 A-law (8-bit log-companded)
- tag 7      ITU-T G.711 mu-law (8-bit log-companded)
- tag 0x11   IMA/DVI ADPCM (4-bit, per-block predictor headers)
- tag 0xFFFE WAVE_FORMAT_EXTENSIBLE (tag taken from the SubFormat)

Contract: corrupt containers raise ``ValueError``;
valid-but-unsupported tags raise ``NotImplementedError``.
G.711 decode is bit-exact to the ITU tables (tests cross-check
against ``audioop`` where the interpreter still ships it).
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# G.711 companding tables (ITU-T G.711; identical to audioop's)


def _ulaw_table() -> np.ndarray:
    out = np.empty(256, dtype=np.int16)
    for u in range(256):
        c = ~u & 0xFF
        sign = c & 0x80
        exponent = (c >> 4) & 0x07
        mantissa = c & 0x0F
        sample = ((mantissa << 3) + 0x84) << exponent
        sample -= 0x84
        out[u] = -sample if sign else sample
    return out


def _alaw_table() -> np.ndarray:
    out = np.empty(256, dtype=np.int16)
    for a in range(256):
        c = a ^ 0x55
        sign = c & 0x80
        exponent = (c >> 4) & 0x07
        mantissa = c & 0x0F
        if exponent == 0:
            sample = (mantissa << 4) + 8
        else:
            sample = ((mantissa << 4) + 0x108) << (exponent - 1)
        # A-law sign bit set (after the 0x55 toggle) means POSITIVE —
        # opposite of mu-law's convention.
        out[a] = sample if sign else -sample
    return out


_ULAW = _ulaw_table()
_ALAW = _alaw_table()

# ---------------------------------------------------------------------------
# IMA/DVI ADPCM (per the IMA ADPCM reference algorithm)

_IMA_STEPS = np.array(
    [
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
        34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
        143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408,
        449, 494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282,
        1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327,
        3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630,
        9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350,
        22385, 24623, 27086, 29794, 32767,
    ],
    dtype=np.int64,
)
_IMA_INDEX_ADJ = np.array(
    [-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int64
)


def _ima_decode_nibbles(
    nibbles, predictor: int, index: int
) -> list[int]:
    """Reference IMA ADPCM inner loop: returns the decoded int16
    samples for one channel of one block (the block header sample is
    NOT included — callers emit it first)."""
    out = []
    for nib in nibbles:
        step = int(_IMA_STEPS[index])
        diff = step >> 3
        if nib & 1:
            diff += step >> 2
        if nib & 2:
            diff += step >> 1
        if nib & 4:
            diff += step
        if nib & 8:
            predictor -= diff
        else:
            predictor += diff
        predictor = max(-32768, min(32767, predictor))
        index += int(_IMA_INDEX_ADJ[nib & 7])
        index = max(0, min(88, index))
        out.append(predictor)
    return out


def _decode_ima_adpcm(
    data: bytes, nch: int, block_align: int, samples_per_block: int
) -> np.ndarray:
    """Decode IMA ADPCM ``data`` chunk → int16 array, channels
    interleaved. WAV block layout: per channel a 4-byte header
    (int16 predictor, uint8 step index, reserved), then the nibble
    stream in 4-byte-per-channel groups, low nibble first."""
    if block_align < 4 * nch:
        raise ValueError("IMA ADPCM block_align smaller than headers")
    frames: list[list[int]] = [[] for _ in range(nch)]
    for off in range(0, len(data) - (len(data) % block_align), block_align):
        block = data[off : off + block_align]
        preds, idxs = [], []
        for c in range(nch):
            pred, idx = struct.unpack_from("<hB", block, c * 4)
            if idx > 88:
                raise ValueError("IMA ADPCM step index out of range")
            preds.append(pred)
            idxs.append(idx)
            frames[c].append(pred)  # header carries sample 0 verbatim
        body = block[4 * nch :]
        # nibble stream: groups of 4 bytes per channel, interleaved
        chan_nibbles: list[list[int]] = [[] for _ in range(nch)]
        for g in range(0, len(body), 4 * nch):
            grp = body[g : g + 4 * nch]
            for c in range(nch):
                for b in grp[c * 4 : (c + 1) * 4]:
                    chan_nibbles[c].append(b & 0x0F)
                    chan_nibbles[c].append((b >> 4) & 0x0F)
        want = max(samples_per_block - 1, 0)
        for c in range(nch):
            frames[c].extend(
                _ima_decode_nibbles(
                    chan_nibbles[c][:want], preds[c], idxs[c]
                )
            )
    n = min(len(f) for f in frames) if frames else 0
    out = np.empty(n * nch, dtype=np.int16)
    for c in range(nch):
        out[c::nch] = np.asarray(frames[c][:n], dtype=np.int16)
    return out


# ---------------------------------------------------------------------------
# RIFF/WAVE container


def wav_read(content: bytes):
    """Parse a RIFF/WAVE payload → (rate, n_channels, float64 samples
    interleaved, n_frames). Handles the format tags listed in the
    module docstring; integer PCM comes back in its native scale
    (the scale stdlib ``wave`` frames carry), G.711/ADPCM in int16
    scale."""
    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    fact_frames = None
    n = len(content)
    while pos + 8 <= n:
        cid = content[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", content, pos + 4)
        body = content[pos + 8 : pos + 8 + clen]
        if len(body) < clen:
            raise ValueError("WAV chunk overruns stream")
        if cid == b"fmt ":
            if clen < 16:
                raise ValueError("WAV fmt chunk too short")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
            if fmt[0] == 0xFFFE:  # extensible: tag from SubFormat GUID
                if clen < 40:
                    raise ValueError("WAV extensible fmt chunk too short")
                (sub_tag,) = struct.unpack_from("<H", body, 24)
                fmt = (sub_tag,) + fmt[1:]
        elif cid == b"data":
            data = body
        elif cid == b"fact" and clen >= 4:
            (fact_frames,) = struct.unpack_from("<I", body, 0)
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    tag, nch, rate, _byterate, block_align, bits = fmt
    if nch == 0 or rate == 0:
        raise ValueError("WAV zero channels or sample rate")

    if tag == 1:  # integer PCM
        if bits == 8:
            a = np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0
        elif bits == 16:
            a = np.frombuffer(
                data[: len(data) - (len(data) % 2)], dtype="<i2"
            ).astype(np.float64)
        elif bits == 24:
            raw = data[: len(data) - (len(data) % 3)]
            b3 = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3)
            a = (
                b3[:, 0].astype(np.int64)
                | (b3[:, 1].astype(np.int64) << 8)
                | (b3[:, 2].astype(np.int64) << 16)
            )
            a = np.where(a >= 1 << 23, a - (1 << 24), a).astype(np.float64)
        elif bits == 32:
            a = np.frombuffer(
                data[: len(data) - (len(data) % 4)], dtype="<i4"
            ).astype(np.float64)
        else:
            raise NotImplementedError(f"unsupported PCM width {bits}")
    elif tag == 3:  # IEEE float
        if bits == 32:
            a = np.frombuffer(
                data[: len(data) - (len(data) % 4)], dtype="<f4"
            ).astype(np.float64)
        elif bits == 64:
            a = np.frombuffer(
                data[: len(data) - (len(data) % 8)], dtype="<f8"
            ).astype(np.float64)
        else:
            raise NotImplementedError(f"unsupported float width {bits}")
    elif tag == 6:  # A-law
        a = _ALAW[np.frombuffer(data, dtype=np.uint8)].astype(np.float64)
    elif tag == 7:  # mu-law
        a = _ULAW[np.frombuffer(data, dtype=np.uint8)].astype(np.float64)
    elif tag == 0x11:  # IMA/DVI ADPCM
        if block_align <= 4 * nch:
            raise ValueError("IMA ADPCM block_align too small")
        # samples per block per channel: header sample + 2 nibbles
        # per body byte shared across channels
        spb = 1 + (block_align - 4 * nch) * 2 // nch
        a = _decode_ima_adpcm(data, nch, block_align, spb).astype(np.float64)
        if fact_frames is not None:
            a = a[: fact_frames * nch]
    else:
        raise NotImplementedError(f"unsupported WAV format tag {tag:#x}")

    nframes = a.size // nch
    a = a[: nframes * nch]
    return rate, nch, a, nframes
