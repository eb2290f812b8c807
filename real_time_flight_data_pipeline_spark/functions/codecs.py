"""Pure-stdlib compressed codecs (PNG; IMA ADPCM below) for the multimodal tier.

PNG is the first COMPRESSED codec this engine decodes for real. The
container blocks PIL/ffmpeg (COVERAGE.md env-blocker table), but nothing
about non-interlaced 8-bit RGB or grayscale PNG needs them: the compression is DEFLATE
(stdlib ``zlib``), the integrity checks are CRC-32 (``zlib.crc32``), and
the five scanline filters (None/Sub/Up/Average/Paeth) are byte arithmetic.
So a complete decode — signature check, chunk walk with per-chunk CRC
verification, IHDR validation, multi-IDAT reassembly, inflate, filter
reversal — is standard library + numpy, and the former "compressed codecs
are env-blocked" line retreats to the codecs that genuinely need external
libraries (JPEG's DCT/entropy coding, real video codecs).

Spec: PNG (ISO/IEC 15948 / RFC 2083). No reference-repo counterpart — this
is [NORTH-STAR] multimodal-column work per the round-1 brief; the Spark
side that drives it lives in ``plans/northstar.py``.

Scale notes: both directions are O(bytes) per image and partition-local —
at corpus scale they run inside Arrow-batched ``mapInPandas`` with zero
shuffle. The decoder is strict (any CRC/structure violation raises), which
is the posture a curation pipeline wants: a corrupt payload must surface
as a dead-letter row, never as silently-wrong pixels.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"
_BPP = 3  # bytes per pixel for 8-bit RGB (color type 2); grayscale is 1


def _chunk(tag: bytes, body: bytes) -> bytes:
    """One PNG chunk: length, tag, body, CRC-32 over tag+body."""
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _paeth_vec(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Vectorized Paeth predictor (PNG spec order: a, then b, then c)."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def png_encode(pixels: np.ndarray, row_filters=None, idat_split: int = 64) -> bytes:
    """Encode an (h, w, 3) RGB or (h, w) grayscale uint8 array as a real
    non-interlaced 8-bit PNG: per-row filtering, one zlib DEFLATE stream, CRC-32 on every chunk.

    ``row_filters`` pins the filter type per scanline (default: ``y % 5``,
    so any image with >= 5 rows exercises all five filter reversals in the
    decoder). Filtering at encode time predicts from RAW neighbor bytes,
    so it vectorizes fully. ``idat_split`` caps bytes per IDAT chunk; the
    default always yields multiple IDAT chunks for non-trivial images, so
    every decode also proves multi-IDAT reassembly.
    """
    if pixels.ndim == 2:
        bpp, color = 1, 0  # 8-bit grayscale (color type 0)
    elif pixels.ndim == 3 and pixels.shape[2] == _BPP:
        bpp, color = _BPP, 2  # 8-bit RGB (color type 2)
    else:
        raise ValueError(
            f"expected (h, w, 3) RGB or (h, w) grayscale, got {pixels.shape}"
        )
    h, w = pixels.shape[0], pixels.shape[1]
    raw = pixels.astype(np.int32).reshape(h, w * bpp)
    zeros = np.zeros(bpp, dtype=np.int32)
    lines = []
    for y in range(h):
        cur = raw[y]
        prior = raw[y - 1] if y else np.zeros(w * bpp, dtype=np.int32)
        f = int(row_filters[y]) if row_filters is not None else y % 5
        a = np.concatenate([zeros, cur[:-bpp]])  # left neighbor, raw
        b = prior                                 # up neighbor, raw
        c = np.concatenate([zeros, prior[:-bpp]])  # up-left, raw
        if f == 0:
            out = cur
        elif f == 1:
            out = cur - a
        elif f == 2:
            out = cur - b
        elif f == 3:
            out = cur - (a + b) // 2
        elif f == 4:
            out = cur - _paeth_vec(a, b, c)
        else:
            raise ValueError(f"invalid filter type {f}")
        lines.append(bytes([f]) + (out % 256).astype(np.uint8).tobytes())
    stream = zlib.compress(b"".join(lines), 6)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    out = [_SIG, _chunk(b"IHDR", ihdr)]
    for i in range(0, len(stream), idat_split):
        out.append(_chunk(b"IDAT", stream[i : i + idat_split]))
    out.append(_chunk(b"IEND", b""))
    return b"".join(out)


def png_decode(data: bytes):
    """Decode a non-interlaced 8-bit RGB (color type 2) or grayscale
    (color type 0) PNG; returns ``(pixels, filters, n_idat)`` where
    ``pixels`` is (h, w, 3) uint8 for RGB and (h, w) for grayscale,
    ``filters`` the per-row filter bytes actually read from the inflated
    stream, and ``n_idat`` the IDAT chunk count reassembled.

    Strict by design: bad signature, truncated chunk, CRC mismatch,
    unsupported IHDR (bit depth != 8, color type not in {0, 2}, interlaced),
    missing IEND, stray post-IEND bytes, unknown filter byte, or a
    filtered-stream length that disagrees with the geometry all raise
    ``ValueError`` — corrupt payloads surface as dead-letter rows, never
    as silently-wrong pixels.
    """
    if data[:8] != _SIG:
        raise ValueError("bad PNG signature")
    pos, ihdr, idat, ended = 8, None, [], False
    while pos < len(data):
        if pos + 8 > len(data):
            raise ValueError("truncated chunk header")
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        if pos + 12 + length > len(data):
            raise ValueError(f"truncated {tag!r} chunk body")
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {tag!r} chunk")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            ended = True
            pos += 12 + length
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("missing IHDR")
    if not ended:
        raise ValueError("missing IEND")
    if pos != len(data):
        raise ValueError("trailing bytes after IEND")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or color not in (0, 2):
        raise ValueError(f"unsupported PNG: bit depth {depth}, color type {color}")
    if comp != 0 or filt != 0:
        raise ValueError("unsupported compression/filter method")
    if interlace != 0:
        raise ValueError("interlaced (Adam7) PNG not supported")
    bpp = _BPP if color == 2 else 1
    stream = zlib.decompress(b"".join(idat))
    stride = 1 + w * bpp
    if len(stream) != h * stride:
        raise ValueError(
            f"filtered stream is {len(stream)} bytes, geometry needs {h * stride}"
        )
    rows, filters = [], []
    prior = np.zeros(w * bpp, dtype=np.int32)
    for y in range(h):
        f = stream[y * stride]
        filters.append(f)
        line = np.frombuffer(
            stream, dtype=np.uint8, count=w * bpp, offset=y * stride + 1
        ).astype(np.int32)
        if f == 0:
            cur = line
        elif f == 2:
            cur = (line + prior) % 256
        elif f == 1:
            # Sub reconstructs cur[i] = line[i] + cur[i-bpp]: neighbors are
            # same-channel, so per channel this is exactly a prefix sum
            # mod 256 — fully vectorized.
            cur = np.empty(w * bpp, dtype=np.int32)
            for c in range(bpp):
                cur[c::bpp] = np.cumsum(line[c::bpp], dtype=np.int64) % 256
        elif f in (3, 4):
            # Average/Paeth reconstruct from DECODED left neighbors —
            # inherently sequential along the row. Channels are
            # independent (left neighbor is i-bpp), so run per-channel
            # scalar chains over Python lists (much cheaper per step than
            # numpy scalar indexing); the parallelism axis at scale is
            # images-per-partition, not bytes-per-row.
            cur = np.empty(w * bpp, dtype=np.int32)
            for c in range(bpp):
                ln = line[c::bpp].tolist()
                pr = prior[c::bpp].tolist()
                out, a = [], 0
                if f == 3:
                    for x in range(w):
                        a = (ln[x] + (a + pr[x]) // 2) % 256
                        out.append(a)
                else:
                    up_left = 0
                    for x in range(w):
                        b = pr[x]
                        # Paeth, inlined (a function call per pixel costs
                        # ~2x in this loop): spec tie-break order a, b, c
                        p = a + b - up_left
                        pa = p - a if p >= a else a - p
                        pb = p - b if p >= b else b - p
                        pc = p - up_left if p >= up_left else up_left - p
                        if pa <= pb and pa <= pc:
                            pred = a
                        elif pb <= pc:
                            pred = b
                        else:
                            pred = up_left
                        a = (ln[x] + pred) % 256
                        out.append(a)
                        up_left = b
                cur[c::bpp] = out
        else:
            raise ValueError(f"unknown scanline filter {f} on row {y}")
        rows.append(cur)
        prior = cur
    shape = (h, w, _BPP) if color == 2 else (h, w)
    pixels = np.stack(rows).astype(np.uint8).reshape(shape)
    return pixels, filters, len(idat)


# ---------------------------------------------------------------------------
# IMA/DVI ADPCM (the WAV format-0x11 codec): 4-bit adaptive differential
# PCM — the compressed-audio counterpart of the PNG tier above. The codec
# is a per-sample state machine (predictor + step index walking the
# 89-entry step table); both tables are IMA spec constants. Pure Python,
# no codec library; the decoder is the ground truth the encoder must
# track bit-exactly (the real codec invariant: decode(encode(x)) equals
# the ENCODER'S OWN reconstruction, not x — ADPCM is lossy toward the
# input but deterministic end-to-end).
# Payload layout: <h predictor, B step_index, H n_samples> header, then
# packed nibbles (low nibble = earlier sample).
# ---------------------------------------------------------------------------
_ADPCM_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_ADPCM_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8]


def _adpcm_step(pred: int, idx: int, nib: int) -> tuple[int, int]:
    """One decoder transition: (predictor, step_index) x nibble -> next."""
    step = _ADPCM_STEPS[idx]
    diff = step >> 3
    if nib & 1:
        diff += step >> 2
    if nib & 2:
        diff += step >> 1
    if nib & 4:
        diff += step
    pred = pred - diff if nib & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + _ADPCM_INDEX[nib]))
    return pred, idx


def adpcm_ima_decode(data: bytes):
    """Decode an IMA ADPCM payload; returns ``(samples, final_predictor,
    final_step_index)`` with ``samples`` an int16 numpy array of length
    ``n_samples`` from the header. Strict: short payloads raise."""
    if len(data) < 5:
        raise ValueError("truncated ADPCM header")
    pred, idx, n = struct.unpack("<hBH", data[:5])
    if idx > 88:
        raise ValueError(f"step index {idx} out of range")
    need = 5 + (n + 1) // 2
    if len(data) != need:
        raise ValueError(f"payload is {len(data)} bytes, {n} samples need {need}")
    body = data[5:]
    out = np.empty(n, dtype=np.int16)
    for j in range(n):
        b = body[j >> 1]
        nib = (b & 0x0F) if j % 2 == 0 else (b >> 4)
        pred, idx = _adpcm_step(pred, idx, nib)
        out[j] = pred
    return out, pred, idx


def adpcm_ima_encode(samples, predictor: int = 0, step_index: int = 0):
    """Encode int16 samples; returns ``(payload, reconstruction)`` where
    ``reconstruction`` is the decoder-exact signal the encoder tracked —
    the bit-exactness contract a decoder is verified against."""
    samples = np.asarray(samples, dtype=np.int64)
    if len(samples) > 65535:
        raise ValueError("n_samples header field is u16; shard longer clips")
    pred, idx = int(predictor), int(step_index)
    nibbles, recon = [], np.empty(len(samples), dtype=np.int16)
    for j, s in enumerate(samples):
        step = _ADPCM_STEPS[idx]
        diff = int(s) - pred
        nib = 8 if diff < 0 else 0
        if diff < 0:
            diff = -diff
        if diff >= step:
            nib |= 4
            diff -= step
        if diff >= step >> 1:
            nib |= 2
            diff -= step >> 1
        if diff >= step >> 2:
            nib |= 1
        pred, idx = _adpcm_step(pred, idx, nib)
        nibbles.append(nib)
        recon[j] = pred
    body = bytearray()
    for j in range(0, len(nibbles), 2):
        lo = nibbles[j]
        hi = nibbles[j + 1] if j + 1 < len(nibbles) else 0
        body.append(lo | (hi << 4))
    payload = struct.pack(
        "<hBH", int(predictor), int(step_index), len(samples)
    ) + bytes(body)
    return payload, recon
