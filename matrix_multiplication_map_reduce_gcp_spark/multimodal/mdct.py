"""Simplified MPEG-1-Layer-I-style perceptual audio codec ("MAU1"),
stdlib + numpy only — the AUDIO side of the ladder's last documented
codec boundary (lossy perceptual modeling), the companion of the MPV1
motion rung (multimodal/mpeg.py) on the video side.

The reference repo contains no codec code at all (it moves JSON
matrices through GCS, reference orchestrator/main.py:54-64). This rung
implements the transform-audio toolchain every perceptual codec is
built on:

* MDCT analysis/synthesis (Princen–Bradley TDAC, the transform of
  AAC/Vorbis/Opus): N=128 coefficients per frame from 2N-sample
  50%-overlapped windows, sine window w[n] = sin(pi/(2N_w)(n+0.5))
  which satisfies the perfect-reconstruction condition
  w[n]^2 + w[n+N]^2 = 1; forward and inverse as explicit cosine-matrix
  products, overlap-add synthesis. A no-quantization round-trip is
  EXACT to float precision (pinned in tests) — every loss below comes
  from quantization alone.
* Per-band SCALEFACTOR quantization, the MPEG-1 Audio Layer I scheme
  (ISO/IEC 11172-3 uses linear quantization with per-subband
  scalefactors and bit allocation — NO entropy coding, so fixed-width
  packing here is spec-faithful, not a simplification): 16 bands x 8
  coefficients, each band carries a float32 scalefactor = its max
  |coefficient| and B(band)-bit two's-complement codes.
* A STATIC bit-allocation curve standing in for the psychoacoustic
  model (12 bits for the 4 lowest bands down to 6 for the top 4 —
  more resolution where hearing is most sensitive). This is the
  documented simplification: the remaining unimplemented codec
  surface is the psychoacoustic MODEL (masking thresholds driving
  DYNAMIC allocation), not any transform/quantization/framing
  machinery.

Frame geometry, sample counts, and the raw first sample ride in the
header (like IMA ADPCM block headers), so they are SQL-exact decode
outputs; reconstruction is lossy and pinned by MAU_TOL.
"""

from __future__ import annotations

import struct
import sys

import numpy as np

# Workers do not have this package on sys.path: ship the codec BY
# VALUE inside pickled closures (same opt-in as jpeg.py / blobs.py).
from pyspark import cloudpickle

cloudpickle.register_pickle_by_value(sys.modules[__name__])

MAGIC = b"MAU1"
N = 128  # MDCT coefficients per frame (window 2N, hop N)
N_BANDS = 16
BAND = N // N_BANDS  # 8 coefficients per band
# Static allocation: bits per band, low -> high frequency.
BITS = (12, 12, 12, 12, 10, 10, 10, 10, 8, 8, 8, 8, 6, 6, 6, 6)

# ------------------------------------------------------------------
# Vectorized fixed-width bit packing (r13, guide §4.2). Layer-I codes
# are FIXED-WIDTH two's-complement fields — no entropy coding — so a
# whole stream of them packs/unpacks as numpy bit matrices instead of
# one Python-level _BitWriter.write/_BitReader.read call per sample
# (the r12 profile put >70% of MAU decode wall in those loops). The
# bit sequences produced/consumed are IDENTICAL to the sequential
# loops (pinned by tests/test_multimodal.py bit-exactness tests).


def _pack_codes(q: np.ndarray, widths: np.ndarray) -> bytes:
    """MSB-first concatenation of two's-complement codes: q[i]'s low
    widths[i] bits, exactly the byte stream `for v, w: bw.write(v, w)`
    + flush (ZERO-padding to a byte boundary, this module's flush)
    produces. Every MAU1/MAU2 section is byte-aligned by construction,
    so the pad is defensive only; np.packbits zero-pads natively."""
    q = np.asarray(q, dtype=np.int64)
    widths = np.asarray(widths, dtype=np.int64)
    total = int(widths.sum())
    code_idx = np.repeat(np.arange(len(q)), widths)
    ends = np.cumsum(widths)
    # Bit slot t of code j has significance ends[j]-1-t (MSB first).
    shift = ends[code_idx] - 1 - np.arange(total)
    bits = ((q[code_idx] >> shift) & 1).astype(np.uint8)
    return np.packbits(bits).tobytes()


def _unpack_codes(body: bytes, widths: np.ndarray, err: str) -> np.ndarray:
    """Inverse of _pack_codes: signed values from MSB-first fixed-width
    two's-complement fields — exactly what the sequential
    `v = br.read(w); if v >= 1 << (w-1): v -= 1 << w` loop yields."""
    widths = np.asarray(widths, dtype=np.int64)
    total = int(widths.sum())
    if total > 8 * len(body):
        raise ValueError(err)
    bits = np.unpackbits(
        np.frombuffer(body, dtype=np.uint8), count=total
    ).astype(np.int64)
    code_idx = np.repeat(np.arange(len(widths)), widths)
    ends = np.cumsum(widths)
    shift = ends[code_idx] - 1 - np.arange(total)
    starts = ends - widths
    vals = np.add.reduceat(bits << shift, starts) if total else np.zeros(0, np.int64)
    return vals - ((vals >= (1 << (widths - 1))).astype(np.int64) << widths)

# Max abs int16-sample reconstruction error with the static allocation
# over the corpus signal family (measured = 8 across all sf0.01 docs;
# the smooth ramps keep their energy in the 12-bit low bands and the
# broadband text term is only +-8, so the 6-bit top-band step stays
# tiny). Pinned at 3x margin; the registered query emits
# within_tolerance = (max_abs_err <= MAU_TOL) and its oracle expects
# TRUE, so a breach is a driver-red hash mismatch — and the bound is
# ALSO enforced at blob generation (ADVICE r10 discipline).
MAU_TOL = 24


def _mdct_matrix() -> np.ndarray:
    """(N, 2N) forward MDCT matrix including the sine window:
    X = M @ x_frame."""
    n = np.arange(2 * N)
    k = np.arange(N)[:, None]
    w = np.sin(np.pi / (2 * N) * (n + 0.5))
    cos = np.cos(np.pi / N * (n + 0.5 + N / 2.0) * (k + 0.5))
    return cos * w


_M = _mdct_matrix()
# Synthesis: y_frame = (2/N) * M.T @ X, then overlap-add.
_MT = (2.0 / N) * _M.T


def mdct_frames(x: np.ndarray) -> np.ndarray:
    """(n_frames, N) MDCT of a 1-D float signal: front-padded with N
    zeros, back-padded with zeros to cover the final samples, frames
    at hop N. n_frames = ceil(len(x)/N) + 1 (TDAC needs one frame of
    lookahead to reconstruct the tail)."""
    n = len(x)
    nf = -(-n // N) + 1
    padded = np.zeros(N + (nf) * N, dtype=np.float64)
    padded[N : N + n] = x
    idx = np.arange(2 * N)[None, :] + N * np.arange(nf)[:, None]
    return padded[idx] @ _M.T


def imdct_overlap_add(coef: np.ndarray, n: int) -> np.ndarray:
    """Inverse of mdct_frames: windowed IMDCT of every frame,
    overlap-add at hop N, drop the N-sample front pad, crop to n."""
    nf = coef.shape[0]
    out = np.zeros(N + nf * N + N, dtype=np.float64)
    frames = coef @ _MT.T  # (nf, 2N), window already inside _MT
    for f in range(nf):
        out[f * N : f * N + 2 * N] += frames[f]
    return out[N : N + n]


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write(0, pad)
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.acc = 0
        self.nb = 0
        self.pos = 0
        self.read_bits = 0

    def read(self, length: int) -> int:
        while self.nb < length:
            if self.pos >= len(self.data):
                raise ValueError("truncated MAU1: bit stream underrun")
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.nb += 8
        self.nb -= length
        self.read_bits += length
        v = (self.acc >> self.nb) & ((1 << length) - 1)
        self.acc &= (1 << self.nb) - 1
        return v


def mau_encode(sample_rate: int, samples) -> bytes:
    """Encode 16-bit mono PCM into a MAU1 stream: header (magic,
    sample rate, n_samples, raw first sample) + per frame, per band: a
    float32 scalefactor and 8 BITS(band)-bit signed codes."""
    x = np.asarray([int(s) for s in samples], dtype=np.float64)
    n = len(x)
    if n == 0:
        raise ValueError("need at least one sample")
    if not (x >= -32768).all() or not (x <= 32767).all():
        raise ValueError("samples must be 16-bit signed PCM")
    coef = mdct_frames(x)
    nf = coef.shape[0]
    # Vectorized quantize + pack (r13): same per-band arithmetic as the
    # old (frame, band, sample) loops — seg / float64(scale) * top,
    # np.round, clip — evaluated as whole (nf, N_BANDS, BAND) arrays,
    # then one _pack_codes call instead of nf*N bw.write calls. Frames
    # are 1152 bits = 144 bytes, so the stream stays byte-aligned and
    # flush-pad-free exactly like the sequential writer.
    seg = coef.reshape(nf, N_BANDS, BAND)
    scales = np.abs(seg).max(axis=2).astype(np.float32)
    tops = (1 << (np.asarray(BITS, dtype=np.int64) - 1)) - 1
    scl = scales.astype(np.float64)[:, :, None]
    safe = np.where(scl > 0, scl, 1.0)
    q = np.clip(
        np.round(seg / safe * tops[None, :, None]),
        -tops[None, :, None],
        tops[None, :, None],
    ).astype(np.int64)
    q[np.broadcast_to(scl == 0, q.shape)] = 0
    widths = np.tile(np.repeat(np.asarray(BITS, dtype=np.int64), BAND), nf)
    body = _pack_codes(q.reshape(-1), widths)
    header = MAGIC + struct.pack(
        ">IIhH", sample_rate, n, int(x[0]), nf
    )
    return header + scales.tobytes() + body


def mau_decode(data: bytes):
    """Decode a MAU1 stream.

    Returns (sample_rate, n_samples, n_frames, first_sample, samples)
    with ``samples`` the reconstructed int16 list (clipped)."""
    if data[:4] != MAGIC:
        raise ValueError("not a MAU1 stream: bad magic")
    if len(data) < 16:
        raise ValueError("truncated MAU1 header")
    sample_rate, n, first, nf = struct.unpack(">IIhH", data[4:16])
    want_nf = -(-n // N) + 1
    if nf != want_nf:
        raise ValueError("corrupt MAU1: frame count mismatch")
    sc_bytes = nf * N_BANDS * 4
    if len(data) < 16 + sc_bytes:
        raise ValueError("truncated MAU1: scalefactors")
    scales = np.frombuffer(
        data[16 : 16 + sc_bytes], dtype=np.float32
    ).reshape(nf, N_BANDS)
    # Vectorized unpack + dequantize (r13): the static allocation makes
    # the whole body one fixed-width layout — one _unpack_codes call
    # replaces nf*N br.read calls, and the v / top * scale arithmetic
    # runs in the same left-to-right order elementwise.
    body = data[16 + sc_bytes :]
    per_code_bits = np.repeat(np.asarray(BITS, dtype=np.int64), BAND)
    widths = np.tile(per_code_bits, nf)
    vals = _unpack_codes(
        body, widths, "truncated MAU1: bit stream underrun"
    ).reshape(nf, N)
    tops = (1 << (per_code_bits - 1)) - 1
    coef = (
        vals / tops[None, :]
        * np.repeat(scales.astype(np.float64), BAND, axis=1)
    )
    y = imdct_overlap_add(coef, n)
    out = np.clip(np.round(y), -32768, 32767).astype(np.int64)
    if n and int(out[0]) != first:
        # The header carries sample 0 raw; a reconstruction that
        # cannot reproduce it within rounding means a desynced stream.
        if abs(int(out[0]) - first) > MAU_TOL:
            raise ValueError("corrupt MAU1: first-sample check failed")
    return sample_rate, n, nf, first, out.tolist()


# --------------------------------------------------------------- MAU2
# Dynamic PSYCHOACOUSTIC bit allocation — the masking-model step MAU1
# documents as its remaining surface. The model is the structure of
# ISO/IEC 11172-3 psychoacoustic model 1, simplified to band
# granularity: per-band energies -> a masking threshold from a
# two-sided spreading function (masking spreads ~-15 dB/band UPWARD in
# frequency and ~-25 dB/band downward — the asymmetric shape every
# perceptual codec exploits) with a -10 dB masking index and an
# absolute threshold floor -> signal-to-mask ratios -> GREEDY
# noise-to-mask-driven allocation under a hard per-frame bit budget
# SMALLER than MAU1's flat spend (1024 vs 1152 bits): the model's
# whole point is reaching equal quality with fewer bits by putting
# them where the ear (threshold) needs them.

MAGIC2 = b"MAU2"
BUDGET2 = 1024  # coded bits per frame (MAU1 static: 1152)
MAX_BITS = 15
ATH_E = 1.0  # absolute-threshold energy floor (coef-energy units)
# dB attenuation per band of masker spreading: up = toward higher
# bands (slow slope), down = toward lower (steep slope), own-band
# masking index.
SPREAD_UP_DB = 15.0
SPREAD_DOWN_DB = 25.0
MASK_INDEX_DB = 10.0

# MAU2's contract is two-sided, reflecting what a PERCEPTUAL codec
# promises: a loose absolute cap (the model deliberately leaves noise
# in MASKED bands, so max-abs error is larger than MAU1's — measured
# 129 over the corpus at 11% fewer bits; pinned 2x) plus an SNR floor
# (measured worst 44.5 dB; floored at 36 with margin) — total noise
# energy, which masking does control, stays small even where peak
# error doesn't.
MAU2_TOL = 256
MAU2_SNR_FLOOR_DB = 36.0


def _mask_thresholds(energies: np.ndarray) -> np.ndarray:
    """(N_BANDS,) masking threshold from per-band energies via the
    asymmetric spreading function + absolute threshold floor."""
    b = np.arange(N_BANDS)
    d = b[None, :] - b[:, None]  # d[masker, maskee] = maskee - masker
    att_db = MASK_INDEX_DB + np.where(
        d >= 0, SPREAD_UP_DB * d, SPREAD_DOWN_DB * (-d)
    )
    spread = 10.0 ** (-att_db / 10.0)
    thr = (energies[:, None] * spread).max(axis=0)
    return np.maximum(thr, ATH_E)


def _allocate_bits(energies: np.ndarray, budget: int = BUDGET2) -> list:
    """Greedy noise-to-mask-ratio allocation: repeatedly grant bits to
    the band whose quantization noise most exceeds its masking
    threshold (each bit quarters noise energy), deterministic ties to
    the lowest band. Bands get 0 or 2..MAX_BITS bits (1-bit signed
    midtread codes carry no magnitude)."""
    import heapq

    thr = _mask_thresholds(energies)
    bits = [0] * N_BANDS
    spent = 0
    # Noise model: unquantized band noise == its energy; b bits leave
    # energies / 4^b. NMR in dB-free form: noise / threshold. Fixed-
    # RATE discipline (what Layer I does at a given bitrate): spend
    # the WHOLE budget, highest noise-to-mask first — the
    # psychoacoustic model sets the PRIORITY ORDER, not an early stop
    # (stopping at NMR<=1 would leave masked-but-large absolute noise,
    # and the ladder's within_tolerance contract is an absolute
    # bound).
    #
    # r13: the original rescan — every grant re-evaluating all 16
    # bands' (energies/4^b)/thr with a Python pow — was 80% of MAU2
    # encode wall. Only the GRANTED band's NMR changes per grant, and
    # a band skipped for budget can never become eligible again (the
    # budget only shrinks and a band's next step never shrinks), so a
    # max-heap with pop-and-discard visits grants in EXACTLY the
    # rescan's order: max NMR first, ties to the lowest band (heap key
    # (-nmr, bnd)), ineligible entries discarded for good. Pinned
    # grant-order-identical to the rescan in tests/test_multimodal.py.
    e = [float(x) for x in energies]
    t = [float(x) for x in thr]
    heap = [(-(e[bnd] / t[bnd]), bnd) for bnd in range(N_BANDS)]
    heapq.heapify(heap)
    while heap:
        _, bnd = heapq.heappop(heap)
        b = bits[bnd]
        step = 2 if b == 0 else 1
        if spent + step * BAND > budget:
            continue  # permanently ineligible — never re-pushed
        b += step
        bits[bnd] = b
        spent += step * BAND
        if b < MAX_BITS:
            heapq.heappush(heap, (-(e[bnd] / (4.0 ** b) / t[bnd]), bnd))
    return bits


def mau2_encode(sample_rate: int, samples) -> bytes:
    """Encode 16-bit mono PCM as MAU2: MAU1's MDCT/scalefactor path
    with per-frame DYNAMIC allocation. Frame layout (unambiguous,
    front-loaded): 8 bytes of 4-bit allocation nibbles, float32
    scalefactors for CODED bands only, u16 code-body length, codes."""
    x = np.asarray([int(s) for s in samples], dtype=np.float64)
    n = len(x)
    if n == 0:
        raise ValueError("need at least one sample")
    if not (x >= -32768).all() or not (x <= 32767).all():
        raise ValueError("samples must be 16-bit signed PCM")
    coef = mdct_frames(x)
    nf = coef.shape[0]
    out = bytearray(
        MAGIC2 + struct.pack(">IIhH", sample_rate, n, int(x[0]), nf)
    )
    four = np.full(N_BANDS, 4, dtype=np.int64)
    for f in range(nf):
        seg = coef[f].reshape(N_BANDS, BAND)
        energies = (seg * seg).mean(axis=1)
        bits = _allocate_bits(energies)
        barr = np.asarray(bits, dtype=np.int64)
        out += _pack_codes(barr, four)  # exactly 8 bytes of nibbles
        # Vectorized quantize + pack over the CODED bands (r13): the
        # same seg / float64(scale) * top, round, clip arithmetic as
        # the old per-band loops; one _pack_codes call per frame
        # replaces up to 8*N_BANDS bw.write calls. Coded widths sum to
        # a multiple of 8, so the body stays byte-aligned, pad-free.
        coded = np.nonzero(barr)[0]
        cseg = seg[coded]
        scales = np.abs(cseg).max(axis=1).astype(np.float32)
        tops = (1 << (barr[coded] - 1)) - 1
        scl = scales.astype(np.float64)[:, None]
        safe = np.where(scl > 0, scl, 1.0)
        q = np.clip(
            np.round(cseg / safe * tops[:, None]),
            -tops[:, None],
            tops[:, None],
        ).astype(np.int64)
        q[np.broadcast_to(scl == 0, q.shape)] = 0
        body = _pack_codes(q.reshape(-1), np.repeat(barr[coded], BAND))
        out += scales.tobytes()
        out += struct.pack(">H", len(body))
        out += body
    return bytes(out)


def mau2_decode(data: bytes):
    """Decode MAU2. Returns (sample_rate, n_samples, n_frames,
    first_sample, samples)."""
    if data[:4] != MAGIC2:
        raise ValueError("not a MAU2 stream: bad magic")
    if len(data) < 16:
        raise ValueError("truncated MAU2 header")
    sample_rate, n, first, nf = struct.unpack(">IIhH", data[4:16])
    if nf != -(-n // N) + 1:
        raise ValueError("corrupt MAU2: frame count mismatch")
    pos = 16
    coef = np.zeros((nf, N), dtype=np.float64)
    for f in range(nf):
        if pos + 8 > len(data):
            raise ValueError("truncated MAU2: allocation table")
        nib = np.unpackbits(
            np.frombuffer(data[pos : pos + 8], dtype=np.uint8)
        ).reshape(N_BANDS, 4)
        barr = nib @ np.array([8, 4, 2, 1], dtype=np.int64)
        bits = barr.tolist()
        if any(b == 1 or b > MAX_BITS for b in bits):
            raise ValueError("corrupt MAU2: invalid allocation")
        pos += 8
        n_scales = sum(1 for b in bits if b > 0)
        if pos + 4 * n_scales + 2 > len(data):
            raise ValueError("truncated MAU2: scalefactors")
        scales = np.frombuffer(
            data[pos : pos + 4 * n_scales], dtype=np.float32
        )
        pos += 4 * n_scales
        (blen,) = struct.unpack(">H", data[pos : pos + 2])
        pos += 2
        body = data[pos : pos + blen]
        if len(body) != blen:
            raise ValueError("truncated MAU2: frame body")
        pos += blen
        # Vectorized unpack + dequantize of the coded bands (r13): one
        # _unpack_codes call per frame replaces up to 8*N_BANDS
        # br.read calls; v / top * scale runs in the same elementwise
        # left-to-right order as the old loop.
        coded = np.nonzero(barr)[0]
        cw = np.repeat(barr[coded], BAND)
        vals = _unpack_codes(
            body, cw, "truncated MAU2: bit stream underrun"
        )
        tops = np.repeat((1 << (barr[coded] - 1)) - 1, BAND)
        cols = (coded[:, None] * BAND + np.arange(BAND)[None, :]).reshape(-1)
        coef[f, cols] = (
            vals / tops * np.repeat(scales.astype(np.float64), BAND)
        )
    if pos != len(data):
        raise ValueError("corrupt MAU2: trailing bytes")
    y = imdct_overlap_add(coef, n)
    out = np.clip(np.round(y), -32768, 32767).astype(np.int64)
    return sample_rate, n, nf, first, out.tolist()
