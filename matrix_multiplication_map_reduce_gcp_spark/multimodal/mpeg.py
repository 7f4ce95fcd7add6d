"""Simplified MPEG-1-style motion-compensated video codec ("MPV1"),
stdlib + numpy only — the rung that crosses the ladder's long-documented
LOSSY MOTION-MODELING boundary (SCALING.md: after r10 the remaining
codec gap was "perceptual/motion modeling only").

The reference repo contains no codec code at all (it moves JSON
matrices through GCS, reference orchestrator/main.py:54-64); this rung
exists for the engine's multimodal north star. It implements the core
MPEG-1 video toolchain (ISO/IEC 11172-2 concepts) in simplified form:

* GOP of one INTRA frame + P-frames (no B-frames).
* I-frame: 8x8 orthonormal FDCT + flat near-lossless quantization +
  zigzag + DC prediction + run/size AC coding — the exact JPEG
  machinery (multimodal/jpeg.py's DCT matrix, zigzag order, Annex-K
  luma Huffman tables), per the "intra frames reuse the JPEG DCT path"
  design MPEG-1 itself follows.
* P-frame: per 16x16 macroblock, FULL-SEARCH block motion estimation
  (+-SEARCH_RANGE integer grid then HALF-PEL refinement over the 8
  sub-pixel neighbors with MPEG-1's integer interpolation rounding —
  ISO 11172-2 half-pel MC, the precision class H.264 extends to
  quarter-pel; SAD metric, closed-loop: the search reference is
  the RECONSTRUCTED previous frame, so encoder and decoder prediction
  states are bit-identical and error never accumulates across frames);
  motion vectors entropy-coded with signed Exp-Golomb (the se(v) code
  of H.264/ITU-T H.264 9.1); the motion-compensated RESIDUAL coded
  through the same DCT/quant/Huffman path as intra blocks.
* Ties in the motion search resolve to the candidate closest to the
  zero vector (then raster order) — deterministic, and uniform content
  yields the zero MV like a real encoder.

Luma-only (single 8-bit plane): motion estimation and compensation in
MPEG-1 operate on Y; chroma adds plumbing, not modeling. Anything the
decoder cannot represent raises ValueError — a documented envelope,
checked, never silently wrong.
"""

from __future__ import annotations

import struct
import sys

import numpy as np

# Workers do not have this package on sys.path: ship the codec BY
# VALUE inside pickled closures (same opt-in as jpeg.py / blobs.py).
from pyspark import cloudpickle

from .jpeg import AC_LUMA, DC_LUMA, ZIGZAG, _A, _csize, _huff_codes, _huff_lut_cached

cloudpickle.register_pickle_by_value(sys.modules[__name__])

MAGIC = b"MPV1"
MB = 16  # macroblock size (4 8x8 DCT blocks, MPEG-1 luma geometry)
SEARCH_RANGE = 4  # full-search window: dy, dx in [-4, 4]

# Reconstruction tolerance with the flat all-ones quant table: the
# closed-loop design bounds per-frame error to one DCT/round trip
# (measured max abs err over the corpus geometry <= 2); pinned with
# margin. The registered query emits within_tolerance =
# (max_abs_err <= MPEG_TOL) and its oracle expects TRUE for every
# frame, so a tolerance breach is a driver-red hash mismatch.
MPEG_TOL = 4


class _BitWriter:
    """MSB-first bit packer WITHOUT JPEG byte stuffing (MPV1 frames
    are length-prefixed, so no marker emulation is needed)."""

    __slots__ = ("out", "acc", "nbits")

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
            self.write((1 << pad) - 1, pad)
        return bytes(self.out)

    def write_many(self, values, widths) -> None:
        """Append a whole (value, width) symbol sequence in one numpy
        pack — bit-identical to `for v, w: self.write(v, w)` (two's
        complement low-w bits, MSB first, continuing from the current
        partial-byte state). r13: the per-coefficient write() calls
        were ~30% of MPV1 encode wall."""
        nb = self.nbits
        total = nb + int(widths.sum())
        bits = np.empty(total, dtype=np.uint8)
        if nb:
            bits[:nb] = (self.acc >> np.arange(nb - 1, -1, -1)) & 1
        code_idx = np.repeat(np.arange(len(values)), widths)
        ends = nb + np.cumsum(widths)
        shift = ends[code_idx] - 1 - np.arange(nb, total)
        bits[nb:] = (values[code_idx] >> shift) & 1
        nbytes = total >> 3
        if nbytes:
            self.out += np.packbits(bits[: nbytes * 8]).tobytes()
        rem = total - nbytes * 8
        acc = 0
        for b in bits[nbytes * 8 :]:  # <= 7 tail bits
            acc = (acc << 1) | int(b)
        self.acc = acc
        self.nbits = rem


class _BitReader:
    """MSB-first reader, word-at-a-time (r13): _fill pulls up to 8
    bytes per step with int.from_bytes instead of one byte per Python
    loop iteration, and consumed high bits are masked once per refill
    instead of on every read/skip — the same bit windows come out of
    the same stream positions (pinned bit-identical against the
    byte-at-a-time form by tests/test_multimodal.py), at roughly a
    quarter of the interpreter ops per symbol. This reader is the
    entropy-decode floor of the mpeg/avc/cavlc rungs, which r12
    profiled at ~50% of decode wall."""

    __slots__ = ("data", "acc", "nb", "pos", "consumed")

    def __init__(self, data: bytes):
        self.data = data
        self.acc = 0
        self.nb = 0
        self.pos = 0
        self.consumed = 0

    def _fill(self, need: int) -> None:
        acc = self.acc & ((1 << self.nb) - 1)
        nb, pos, data = self.nb, self.pos, self.data
        while nb < need:
            chunk = data[pos : pos + 8]
            if chunk:
                k = len(chunk)
                acc = (acc << (8 * k)) | int.from_bytes(chunk, "big")
                pos += k
                nb += 8 * k
            else:
                acc <<= 8  # zero-pad past the end; overrun checked
                nb += 8
        self.acc, self.nb, self.pos = acc, nb, pos

    def read(self, length: int) -> int:
        if length == 0:
            return 0
        if self.nb < length:
            self._fill(length)
        nb = self.nb - length
        self.nb = nb
        self.consumed += length
        return (self.acc >> nb) & ((1 << length) - 1)

    def peek16(self) -> int:
        if self.nb < 16:
            self._fill(16)
        return (self.acc >> (self.nb - 16)) & 0xFFFF

    def skip(self, length: int) -> None:
        self.nb -= length
        self.consumed += length

    def overrun(self) -> bool:
        return self.consumed > 8 * len(self.data)


def unary_zeros(br: _BitReader, limit: int, err: str) -> int:
    """Count (and consume) the zeros before the next 1 bit, plus the 1
    itself — the Exp-Golomb / CAVLC-prefix primitive. One peek16
    resolves up to 16 zero bits at once where the old form paid one
    read(1) call per bit (r13; shared by mpeg se(v), avc ue(v) and the
    cavlc level prefix). Raises `err` exactly when the sequential
    `while br.read(1) == 0` loop would have: more than `limit` zeros,
    or a zeros run past the end of the data."""
    zeros = 0
    while True:
        w = br.peek16()
        if w == 0:
            br.skip(16)
            zeros += 16
            if zeros > limit or br.overrun():
                raise ValueError(err)
            continue
        z = 16 - w.bit_length()
        br.skip(z + 1)
        zeros += z
        # The sequential loop checked overrun after each ZERO bit (the
        # terminating 1 was never checked), hence the -1.
        if zeros > limit or br.consumed - 1 > 8 * len(br.data):
            raise ValueError(err)
        return zeros


def se_encode(bw: _BitWriter, v: int) -> None:
    """Signed Exp-Golomb (H.264 se(v)): v -> codeNum 2|v|-1 if v>0
    else 2|v|; codeNum -> (leading zeros, 1, info bits)."""
    code = 2 * v - 1 if v > 0 else -2 * v
    n = code + 1
    length = n.bit_length()
    bw.write(0, length - 1)
    bw.write(n, length)


def se_decode(br: _BitReader) -> int:
    zeros = unary_zeros(br, 32, "corrupt MPV1: bad Exp-Golomb code")
    n = (1 << zeros) | br.read(zeros)
    code = n - 1
    return (code + 1) // 2 if code % 2 else -(code // 2)


_DC_CODES = _huff_codes(*DC_LUMA)
_AC_CODES = _huff_codes(*AC_LUMA)


def _code_block(bw: _BitWriter, zz: list, pred: int) -> int:
    """One 8x8 block through the JPEG run/size entropy path (DC
    predicted against ``pred``; returns the new predictor)."""
    diff = zz[0] - pred
    size = _csize(diff)
    code, length = _DC_CODES[size]
    bw.write(code, length)
    if size:
        bw.write(diff if diff > 0 else diff + (1 << size) - 1, size)
    run = 0
    for k in range(1, 64):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = _AC_CODES[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        size = _csize(v)
        code, length = _AC_CODES[(run << 4) | size]
        bw.write(code, length)
        bw.write(v if v > 0 else v + (1 << size) - 1, size)
        run = 0
    if run:
        code, length = _AC_CODES[0x00]  # EOB
        bw.write(code, length)
    return zz[0]


def _decode_block(br: _BitReader, pred: int) -> tuple[np.ndarray, int]:
    """Inverse of _code_block: one zigzag coefficient vector."""
    dc_sym, dc_len = _huff_lut_cached(*DC_LUMA)
    ac_sym, ac_len = _huff_lut_cached(*AC_LUMA)
    zz = np.zeros(64, dtype=np.int64)
    idx = br.peek16()
    size, length = dc_sym[idx], dc_len[idx]
    if length == 0:
        raise ValueError("corrupt MPV1: invalid DC Huffman code")
    br.skip(length)
    if size:
        v = br.read(size)
        if v < (1 << (size - 1)):
            v += 1 - (1 << size)
    else:
        v = 0
    pred += v
    zz[0] = pred
    k = 1
    while k < 64:
        idx = br.peek16()
        rs, length = ac_sym[idx], ac_len[idx]
        if length == 0:
            raise ValueError("corrupt MPV1: invalid AC Huffman code")
        br.skip(length)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:  # ZRL
                k += 16
                if k > 64:
                    raise ValueError("corrupt MPV1: AC run overflow")
                continue
            break  # EOB
        k += run
        if k > 63:
            raise ValueError("corrupt MPV1: AC run overflow")
        v = br.read(size)
        if v < (1 << (size - 1)):
            v += 1 - (1 << size)
        zz[k] = v
        k += 1
    if br.overrun():
        raise ValueError("corrupt MPV1: entropy stream truncated")
    return zz, pred


def _blocks_of(plane: np.ndarray) -> np.ndarray:
    """(H/8 * W/8, 8, 8) raster-ordered 8x8 blocks of an 8-multiple
    plane."""
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )


def _plane_of(blocks: np.ndarray, h: int, w: int) -> np.ndarray:
    return (
        blocks.reshape(h // 8, w // 8, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(h, w)
    )


def _quantize(plane: np.ndarray) -> list:
    """FDCT + quantize (flat 1) + zigzag every 8x8 block of ``plane``
    (float64): (n_blocks, 64) int64 zigzag vectors in block raster
    order (r13: ndarray, not a list — the vectorized entropy coder
    consumes it directly)."""
    coef = np.einsum("ij,njk,lk->nil", _A, _blocks_of(plane), _A)
    return np.round(coef.reshape(-1, 64)).astype(np.int64)[:, ZIGZAG]


def _dequant_plane(qzz: list, h: int, w: int) -> np.ndarray:
    """Inverse of _quantize: (h, w) float64 plane from the quantized
    zigzag integers — the EXACT array the decoder computes, so the
    encoder's closed-loop reconstruction is bit-identical to decode."""
    arr = np.asarray(qzz, dtype=np.int64)
    coef = np.zeros((arr.shape[0], 64), dtype=np.float64)
    coef[:, ZIGZAG] = arr
    blocks = np.einsum("ij,njk,kl->nil", _A.T, coef.reshape(-1, 8, 8), _A)
    return _plane_of(blocks, h, w)


# Vectorized entropy-coding tables (r13): the dict-of-tuples Huffman
# tables as flat numpy arrays, a bit_length LUT for the size category,
# and the two special AC symbols.
_DC_CODE_ARR = np.zeros(17, dtype=np.int64)  # every _BITLEN size, 0..16
_DC_LEN_ARR = np.zeros(17, dtype=np.int64)
for _s, (_c, _l) in _DC_CODES.items():
    _DC_CODE_ARR[_s], _DC_LEN_ARR[_s] = _c, _l
_AC_CODE_ARR = np.zeros(256, dtype=np.int64)
_AC_LEN_ARR = np.zeros(256, dtype=np.int64)
for _s, (_c, _l) in _AC_CODES.items():
    _AC_CODE_ARR[_s], _AC_LEN_ARR[_s] = _c, _l
_EOB_CODE, _EOB_LEN = _AC_CODES[0x00]
_ZRL_CODE, _ZRL_LEN = _AC_CODES[0xF0]
# bit_length LUT (the vectorized _csize): covers |v| < 2**16 — flat
# near-lossless quant keeps every DCT coefficient magnitude <= ~2048.
_BITLEN = np.zeros(1 << 16, dtype=np.int64)
for _k in range(1, 17):
    _BITLEN[1 << (_k - 1) : 1 << _k] = _k


def _entropy_code(bw: _BitWriter, qzz, pred: int) -> int:
    """Vectorized form of `for zz in qzz: pred = _code_block(...)`
    (r13): builds the whole plane's (value, width) symbol sequence via
    _entropy_symbols and emits it with one write_many. Bit-identical
    to the sequential reference (pinned by tests/test_multimodal.py
    against _code_block)."""
    V, W, _, pred = _entropy_symbols(qzz, pred)
    bw.write_many(V, W)
    return pred


def _entropy_symbols(qzz, pred: int):
    """(values, widths, block_bounds, new_pred) for a run of zigzag
    blocks: DC size/amplitude with the chained predictor, AC run/size
    symbols with ZRL splits and EOBs — exactly _code_block's emission
    order. block_bounds[i] is the symbol offset where block i starts
    (len n+1), so callers can interleave per-macroblock slices with
    other codes (the P-frame layout) while paying ONE numpy pass per
    frame instead of one per macroblock."""
    zz = np.asarray(qzz, dtype=np.int64).reshape(-1, 64)
    n = zz.shape[0]
    dc = zz[:, 0]
    diffs = dc - np.concatenate(([pred], dc[:-1]))
    dsz = _BITLEN[np.abs(diffs)]
    dc_len = _DC_LEN_ARR[dsz]
    if not dc_len.all():
        # |DC diff| >= 2048 has no DC size category: raise as
        # _code_block's table lookup does, never emit a zero-length code.
        raise KeyError(int(dsz[np.argmin(dc_len)]))
    # AC nonzeros, block-major then position-major (np.nonzero order).
    mask = zz[:, 1:] != 0
    bi, pj = np.nonzero(mask)
    pos = pj + 1
    nz = len(bi)
    vals = zz[bi, pos]
    first = np.empty(nz, dtype=bool)
    if nz:
        first[0] = True
        first[1:] = bi[1:] != bi[:-1]
    prevpos = np.where(first, 0, np.concatenate(([0], pos[:-1]))) if nz \
        else pos
    runs = pos - prevpos - 1
    nzrl = runs >> 4  # ZRL symbols before this coefficient
    asz = _BITLEN[np.abs(vals)] if nz else vals
    ac_sym = ((runs & 15) << 4) | asz
    ac_len = _AC_LEN_ARR[ac_sym]
    if nz and not ac_len.all():
        raise KeyError(int(ac_sym[np.argmin(ac_len)]))  # as _code_block
    # EOB iff trailing zeros remain after the last nonzero (always for
    # an all-zero AC tail).
    last_pos = np.zeros(n, dtype=np.int64)
    if nz:
        lastmask = np.empty(nz, dtype=bool)
        lastmask[:-1] = first[1:]
        lastmask[-1] = True
        last_pos[bi[lastmask]] = pos[lastmask]
    eob = last_pos < 63
    # Symbol layout per block: [DC huff, DC amp] ++ per nonzero
    # [ZRL*nzrl, AC huff, amp] ++ [EOB]? — exactly _code_block's order.
    c = nzrl + 2
    block_c = np.bincount(bi, weights=c, minlength=n).astype(np.int64) \
        if nz else np.zeros(n, dtype=np.int64)
    block_total = 2 + block_c + eob
    block_base = np.concatenate(([0], np.cumsum(block_total)[:-1]))
    total = int(block_total.sum())
    V = np.zeros(total, dtype=np.int64)
    W = np.zeros(total, dtype=np.int64)
    V[block_base] = _DC_CODE_ARR[dsz]
    W[block_base] = dc_len
    V[block_base + 1] = np.where(diffs > 0, diffs, diffs + (1 << dsz) - 1)
    W[block_base + 1] = dsz
    if nz:
        csum_excl = np.cumsum(c) - c
        fidx = np.nonzero(first)[0]
        base_c = np.repeat(
            csum_excl[fidx], np.diff(np.concatenate((fidx, [nz])))
        )
        nstart = block_base[bi] + 2 + (csum_excl - base_c)
        nzrl_total = int(nzrl.sum())
        if nzrl_total:
            zr_idx = np.repeat(nstart, nzrl) + (
                np.arange(nzrl_total)
                - np.repeat(np.cumsum(nzrl) - nzrl, nzrl)
            )
            V[zr_idx] = _ZRL_CODE
            W[zr_idx] = _ZRL_LEN
        V[nstart + nzrl] = _AC_CODE_ARR[ac_sym]
        W[nstart + nzrl] = ac_len
        V[nstart + nzrl + 1] = np.where(
            vals > 0, vals, vals + (1 << asz) - 1
        )
        W[nstart + nzrl + 1] = asz
    if eob.any():
        eidx = (block_base + block_total - 1)[eob]
        V[eidx] = _EOB_CODE
        W[eidx] = _EOB_LEN
    bounds = np.concatenate((block_base, [total]))
    return V, W, bounds, (int(dc[-1]) if n else pred)


def _entropy_code_ref(bw: _BitWriter, qzz, pred: int) -> int:
    """Sequential reference (the r12 form): kept for the bit-identity
    pin in tests/test_multimodal.py."""
    for zz in qzz:
        pred = _code_block(bw, zz, pred)
    return pred


def _transform_decode(
    br: _BitReader, h: int, w: int, pred: int
) -> tuple[np.ndarray, int]:
    """Inverse of _transform_code: (h, w) float64 plane (still
    level-shifted), new DC predictor.

    r13: the per-block _decode_block calls paid ~3.4 s/1000 docs in
    _BitReader METHOD overhead alone (3.5M peek16/skip/read calls), so
    this loop inlines the reader state as locals and absorbs the block
    loop — same LUT walk, same bit windows, coefficients scattered
    into zz_all in one fancy-index assignment at the end. Pinned
    bit-identical to the _decode_block reference in
    tests/test_multimodal.py."""
    n = (h // 8) * (w // 8)
    dc_sym, dc_len = _huff_lut_cached(*DC_LUMA)
    ac_sym, ac_len = _huff_lut_cached(*AC_LUMA)
    data = br.data
    nbits_total = 8 * len(data)
    acc, nb, pos, consumed = br.acc, br.nb, br.pos, br.consumed
    bs: list = []  # block index per nonzero coefficient
    ks: list = []  # zigzag position
    vs: list = []  # value (DC rows carry the PREDICTED value)
    for b in range(n):
        # --- DC
        while nb < 16:
            chunk = data[pos : pos + 8]
            if chunk:
                acc = (
                    (acc & ((1 << nb) - 1)) << (8 * len(chunk))
                ) | int.from_bytes(chunk, "big")
                pos += len(chunk)
                nb += 8 * len(chunk)
            else:
                acc <<= 8
                nb += 8
        idx = (acc >> (nb - 16)) & 0xFFFF
        size, length = dc_sym[idx], dc_len[idx]
        if length == 0:
            raise ValueError("corrupt MPV1: invalid DC Huffman code")
        nb -= length
        consumed += length
        if size:
            while nb < size:
                chunk = data[pos : pos + 8]
                if chunk:
                    acc = (
                        (acc & ((1 << nb) - 1)) << (8 * len(chunk))
                    ) | int.from_bytes(chunk, "big")
                    pos += len(chunk)
                    nb += 8 * len(chunk)
                else:
                    acc <<= 8
                    nb += 8
            nb -= size
            consumed += size
            v = (acc >> nb) & ((1 << size) - 1)
            if v < (1 << (size - 1)):
                v += 1 - (1 << size)
            pred += v
        bs.append(b)
        ks.append(0)
        vs.append(pred)
        # --- AC
        k = 1
        while k < 64:
            while nb < 16:
                chunk = data[pos : pos + 8]
                if chunk:
                    acc = (
                        (acc & ((1 << nb) - 1)) << (8 * len(chunk))
                    ) | int.from_bytes(chunk, "big")
                    pos += len(chunk)
                    nb += 8 * len(chunk)
                else:
                    acc <<= 8
                    nb += 8
            idx = (acc >> (nb - 16)) & 0xFFFF
            rs, length = ac_sym[idx], ac_len[idx]
            if length == 0:
                raise ValueError("corrupt MPV1: invalid AC Huffman code")
            nb -= length
            consumed += length
            run, size = rs >> 4, rs & 0x0F
            if size == 0:
                if run == 15:  # ZRL
                    k += 16
                    if k > 64:
                        raise ValueError("corrupt MPV1: AC run overflow")
                    continue
                break  # EOB
            k += run
            if k > 63:
                raise ValueError("corrupt MPV1: AC run overflow")
            while nb < size:
                chunk = data[pos : pos + 8]
                if chunk:
                    acc = (
                        (acc & ((1 << nb) - 1)) << (8 * len(chunk))
                    ) | int.from_bytes(chunk, "big")
                    pos += len(chunk)
                    nb += 8 * len(chunk)
                else:
                    acc <<= 8
                    nb += 8
            nb -= size
            consumed += size
            v = (acc >> nb) & ((1 << size) - 1)
            if v < (1 << (size - 1)):
                v += 1 - (1 << size)
            bs.append(b)
            ks.append(k)
            vs.append(v)
            k += 1
        if consumed > nbits_total:
            raise ValueError("corrupt MPV1: entropy stream truncated")
    br.acc, br.nb, br.pos, br.consumed = acc, nb, pos, consumed
    coef = np.zeros((n, 64), dtype=np.float64)
    coef[np.asarray(bs, dtype=np.int64),
         np.asarray(ZIGZAG, dtype=np.int64)[np.asarray(ks, dtype=np.int64)]
         ] = np.asarray(vs, dtype=np.float64)
    blocks = np.einsum("ij,njk,kl->nil", _A.T, coef.reshape(-1, 8, 8), _A)
    return _plane_of(blocks, h, w), pred


def _transform_decode_ref(
    br: _BitReader, h: int, w: int, pred: int
) -> tuple[np.ndarray, int]:
    """Sequential per-block reference (the r12 form): kept for the
    bit-identity pin in tests/test_multimodal.py."""
    n = (h // 8) * (w // 8)
    zz_all = np.zeros((n, 64), dtype=np.int64)
    for b in range(n):
        zz_all[b], pred = _decode_block(br, pred)
    coef = np.zeros((n, 64), dtype=np.float64)
    coef[:, ZIGZAG] = zz_all
    blocks = np.einsum("ij,njk,kl->nil", _A.T, coef.reshape(-1, 8, 8), _A)
    return _plane_of(blocks, h, w), pred


def _motion_search(
    ref: np.ndarray, cur: np.ndarray, y0: int, x0: int, r: int
) -> tuple[int, int]:
    """Full-search SAD over dy, dx in [-r, r] (clamped to the frame)
    for the 16x16 block at (y0, x0). Candidates are scanned closest-
    to-zero first ((dy*dy+dx*dx, dy, dx) order) with strict-improvement
    replacement, so ties resolve toward the zero vector and the result
    is deterministic."""
    h, w = ref.shape
    blk = cur[y0 : y0 + MB, x0 : x0 + MB].astype(np.int64)
    cands = sorted(
        (
            (dy * dy + dx * dx, dy, dx)
            for dy in range(-r, r + 1)
            for dx in range(-r, r + 1)
            if 0 <= y0 + dy <= h - MB and 0 <= x0 + dx <= w - MB
        )
    )
    best = None
    best_sad = None
    for _, dy, dx in cands:
        pred = ref[y0 + dy : y0 + dy + MB, x0 + dx : x0 + dx + MB]
        sad = int(np.abs(blk - pred.astype(np.int64)).sum())
        if best_sad is None or sad < best_sad:
            best_sad = sad
            best = (dy, dx)
    return best


def _interp_block(ref: np.ndarray, y0: int, x0: int, dy2: int, dx2: int) -> np.ndarray:
    """Motion-compensated 16x16 prediction at HALF-PEL resolution
    (dy2, dx2 in half-pel units), with MPEG-1's integer interpolation
    rounding (ISO 11172-2 2.4.4.2): one-direction half-pel averages
    two pixels as (a+b+1)>>1, diagonal averages four as (a+b+c+d+2)>>2.
    Integer output, so encoder and decoder predictions are
    bit-identical."""
    iy, fy = divmod(dy2, 2)
    ix, fx = divmod(dx2, 2)
    y, x = y0 + iy, x0 + ix
    a = ref[y : y + MB + (1 if fy else 0), x : x + MB + (1 if fx else 0)].astype(
        np.int64
    )
    if not fy and not fx:
        return a
    if fy and fx:
        return (a[:-1, :-1] + a[:-1, 1:] + a[1:, :-1] + a[1:, 1:] + 2) >> 2
    if fy:
        return (a[:-1, :] + a[1:, :] + 1) >> 1
    return (a[:, :-1] + a[:, 1:] + 1) >> 1


def _halfpel_ok(h: int, w: int, y0: int, x0: int, dy2: int, dx2: int) -> bool:
    """A half-pel MV is representable iff every source pixel of the
    interpolation window lies inside the frame."""
    iy, fy = divmod(dy2, 2)
    ix, fx = divmod(dx2, 2)
    return (
        0 <= y0 + iy
        and y0 + iy + MB + (1 if fy else 0) <= h
        and 0 <= x0 + ix
        and x0 + ix + MB + (1 if fx else 0) <= w
    )


def _refine_halfpel(
    ref: np.ndarray, cur: np.ndarray, y0: int, x0: int, dy: int, dx: int,
    r: int,
) -> tuple[int, int]:
    """Half-pel refinement around the integer full-search winner
    (dy, dx): evaluate the 8 half-pel neighbors, STRICT improvement
    only — an exact-translation corpus keeps its integer vector (the
    interpolated candidates blur), preserving the SQL-exact designed-MV
    contract; genuinely sub-pixel motion wins a half-pel vector."""
    h, w = ref.shape
    blk = cur[y0 : y0 + MB, x0 : x0 + MB].astype(np.int64)
    best = (2 * dy, 2 * dx)
    best_sad = int(
        np.abs(blk - ref[y0 + dy : y0 + dy + MB, x0 + dx : x0 + dx + MB].astype(np.int64)).sum()
    )
    for ddy in (-1, 0, 1):
        for ddx in (-1, 0, 1):
            if ddy == 0 and ddx == 0:
                continue
            dy2, dx2 = 2 * dy + ddy, 2 * dx + ddx
            # Stay inside the CODED range (an integer winner at the
            # search edge must not refine past +-2r — the decoder
            # rejects such vectors).
            if abs(dy2) > 2 * r or abs(dx2) > 2 * r:
                continue
            if not _halfpel_ok(h, w, y0, x0, dy2, dx2):
                continue
            sad = int(np.abs(blk - _interp_block(ref, y0, x0, dy2, dx2)).sum())
            if sad < best_sad:
                best_sad = sad
                best = (dy2, dx2)
    return best


def _motion_search_frame(ref: np.ndarray, cur: np.ndarray, r: int) -> np.ndarray:
    """Vectorized full search for EVERY macroblock of a frame at once:
    per candidate (dy, dx), one shifted-array |diff| over the frame and
    a reshape-sum gives the SAD of all in-bounds macroblocks together
    — 81 numpy ops per frame instead of 81 per macroblock. Semantics
    are pinned equal to _motion_search (same candidate order via
    strict-improvement updates in closest-to-zero-first order).
    Returns (n_mb_y, n_mb_x, 2) int64 of (dy, dx)."""
    h, w = ref.shape
    nby, nbx = h // MB, w // MB
    best_sad = np.full((nby, nbx), np.inf)
    best = np.zeros((nby, nbx, 2), dtype=np.int64)
    cur_i = cur.astype(np.int64)
    ref_i = ref.astype(np.int64)
    cands = sorted(
        (dy * dy + dx * dx, dy, dx)
        for dy in range(-r, r + 1)
        for dx in range(-r, r + 1)
    )
    for _, dy, dx in cands:
        ys, ye = max(0, -dy), min(h, h - dy)
        xs, xe = max(0, -dx), min(w, w - dx)
        by0, by1 = (ys + MB - 1) // MB, ye // MB
        bx0, bx1 = (xs + MB - 1) // MB, xe // MB
        if by0 >= by1 or bx0 >= bx1:
            continue
        diff = np.abs(
            cur_i[by0 * MB : by1 * MB, bx0 * MB : bx1 * MB]
            - ref_i[by0 * MB + dy : by1 * MB + dy, bx0 * MB + dx : bx1 * MB + dx]
        )
        sad = diff.reshape(by1 - by0, MB, bx1 - bx0, MB).sum(axis=(1, 3))
        region = best_sad[by0:by1, bx0:bx1]
        upd = sad < region
        region[upd] = sad[upd]
        best[by0:by1, bx0:bx1][upd] = (dy, dx)
    return best


def mpeg_encode(
    width: int, height: int, fps: int, frames: list, search: int = SEARCH_RANGE
) -> bytes:
    """Encode 8-bit luma planes (list of ``bytes``, each width*height)
    as an MPV1 stream: frame 0 intra, the rest P-frames. Dimensions
    must be multiples of 16 (MPEG-1 coded size is macroblock-aligned;
    this simplified profile requires it instead of padding)."""
    return mpeg_encode_stats(width, height, fps, frames, search)[0]


def mpeg_encode_stats(
    width: int, height: int, fps: int, frames: list, search: int = SEARCH_RANGE
):
    """mpeg_encode plus encoder-side stats: (blob, mvs, errs) with
    ``mvs`` per frame ([] for intra, else macroblock-raster (dy2, dx2)
    in HALF-PEL units — exact translations keep even vectors)
    and ``errs`` the per-frame max abs reconstruction error. The stats
    come from the encoder's CLOSED-LOOP state, which is bit-identical
    to the decoder's by construction (both reconstruct from the same
    quantized integers with the same rounding/clip — pinned by
    tests/test_multimodal.py round-trips), so blob generators can
    enforce corpus contracts without paying a second full decode."""
    if width % MB or height % MB or width < MB or height < MB:
        raise ValueError("MPV1 requires macroblock-aligned dimensions")
    if not 1 <= search <= 15:
        raise ValueError("search range must be 1..15")
    if not frames:
        raise ValueError("need at least one frame")
    out = bytearray(
        MAGIC
        + struct.pack(
            ">HHBBB", width, height, len(frames), fps, search
        )
    )
    recon_prev = None
    mvs = []
    errs = []
    for f, raw in enumerate(frames):
        cur = np.frombuffer(raw, dtype=np.uint8).reshape(height, width)
        bw = _BitWriter()
        if f == 0:
            qzz = _quantize(cur.astype(np.float64) - 128.0)
            _entropy_code(bw, qzz, 0)
            # Closed loop: reconstruct from the SAME quantized ints the
            # decoder will recover (entropy coding is lossless), with
            # the decoder's exact rounding/clip.
            recon = np.clip(
                np.round(_dequant_plane(qzz, height, width) + 128.0), 0, 255
            ).astype(np.uint8)
            ftype = 0
            mvs.append([])
        else:
            # r13: per-macroblock bit emission batched to ONE
            # write_many per frame — the per-MB numpy entropy calls
            # cost as much in fixed overhead as the per-symbol writes
            # they replaced. The math (motion, residual, closed-loop
            # recon) is unchanged; the mv se(v) codes and each MB's
            # residual symbol slice interleave in the exact stream
            # order the sequential writer produced.
            recon = np.empty_like(cur)
            mv_grid = _motion_search_frame(recon_prev, cur, search)
            fmvs = []
            qzz_list = []
            for y0 in range(0, height, MB):
                for x0 in range(0, width, MB):
                    dy, dx = (int(v) for v in mv_grid[y0 // MB, x0 // MB])
                    dy2, dx2 = _refine_halfpel(
                        recon_prev, cur, y0, x0, dy, dx, search)
                    fmvs.append((dy2, dx2))
                    pred = _interp_block(
                        recon_prev, y0, x0, dy2, dx2
                    ).astype(np.float64)
                    resid = (
                        cur[y0 : y0 + MB, x0 : x0 + MB].astype(np.float64)
                        - pred
                    )
                    qzz = _quantize(resid)
                    qzz_list.append(qzz)
                    recon[y0 : y0 + MB, x0 : x0 + MB] = np.clip(
                        np.round(pred + _dequant_plane(qzz, MB, MB)), 0, 255
                    ).astype(np.uint8)
            rv, rw, bounds, _ = _entropy_symbols(
                np.concatenate(qzz_list), 0
            )
            # se(v) symbol pairs for the flat (dy2, dx2) sequence:
            # (0, len-1) zeros then (n, len) — se_encode's exact bits.
            mvflat = np.asarray(
                [v for mv in fmvs for v in mv], dtype=np.int64
            )
            ncode = np.where(mvflat > 0, 2 * mvflat - 1, -2 * mvflat) + 1
            mlen = _BITLEN[ncode]
            parts_v = []
            parts_w = []
            blocks_per_mb = (MB // 8) * (MB // 8)
            for i in range(len(fmvs)):
                parts_v.append(np.array(
                    [0, ncode[2 * i], 0, ncode[2 * i + 1]],
                    dtype=np.int64))
                parts_w.append(np.array(
                    [mlen[2 * i] - 1, mlen[2 * i],
                     mlen[2 * i + 1] - 1, mlen[2 * i + 1]],
                    dtype=np.int64))
                lo = bounds[i * blocks_per_mb]
                hi = bounds[(i + 1) * blocks_per_mb]
                parts_v.append(rv[lo:hi])
                parts_w.append(rw[lo:hi])
            bw.write_many(np.concatenate(parts_v), np.concatenate(parts_w))
            ftype = 1
            mvs.append(fmvs)
        errs.append(
            int(np.abs(recon.astype(np.int64) - cur.astype(np.int64)).max())
        )
        payload = bw.flush()
        out += struct.pack(">BI", ftype, len(payload)) + payload
        recon_prev = recon
    return bytes(out), mvs, errs


def mpeg_decode(data: bytes):
    """Decode an MPV1 stream.

    Returns (width, height, fps, n_frames, frames, mvs): ``frames`` a
    list of reconstructed luma planes (bytes), ``mvs`` a list per
    frame — [] for the intra frame, else [(dy2, dx2), ...] in
    HALF-PEL units, macroblock raster order."""
    if data[:4] != MAGIC:
        raise ValueError("not an MPV1 stream: bad magic")
    if len(data) < 11:
        raise ValueError("truncated MPV1 header")
    width, height, n_frames, fps, search = struct.unpack(">HHBBB", data[4:11])
    if width % MB or height % MB or not n_frames:
        raise ValueError("corrupt MPV1: bad geometry")
    pos = 11
    frames = []
    mvs = []
    recon_prev = None
    for f in range(n_frames):
        if pos + 5 > len(data):
            raise ValueError("truncated MPV1: missing frame header")
        ftype, plen = struct.unpack(">BI", data[pos : pos + 5])
        pos += 5
        if pos + plen > len(data):
            raise ValueError("truncated MPV1: frame payload")
        br = _BitReader(data[pos : pos + plen])
        pos += plen
        if ftype == 0:
            if f != 0:
                raise ValueError("corrupt MPV1: intra frame after frame 0")
            plane, _ = _transform_decode(br, height, width, 0)
            recon = np.clip(np.round(plane + 128.0), 0, 255).astype(np.uint8)
            mvs.append([])
        elif ftype == 1:
            if f == 0:
                raise ValueError("corrupt MPV1: P-frame without reference")
            recon = np.empty((height, width), dtype=np.uint8)
            fmvs = []
            pred_dc = 0
            for y0 in range(0, height, MB):
                for x0 in range(0, width, MB):
                    dy2 = se_decode(br)
                    dx2 = se_decode(br)
                    if (
                        abs(dy2) > 2 * search
                        or abs(dx2) > 2 * search
                        or not _halfpel_ok(height, width, y0, x0, dy2, dx2)
                    ):
                        raise ValueError("corrupt MPV1: motion vector out of range")
                    fmvs.append((dy2, dx2))
                    pred = _interp_block(
                        recon_prev, y0, x0, dy2, dx2
                    ).astype(np.float64)
                    rplane, pred_dc = _transform_decode(br, MB, MB, pred_dc)
                    recon[y0 : y0 + MB, x0 : x0 + MB] = np.clip(
                        np.round(pred + rplane), 0, 255
                    ).astype(np.uint8)
            mvs.append(fmvs)
        else:
            raise ValueError(f"corrupt MPV1: unknown frame type {ftype}")
        frames.append(recon.tobytes())
        recon_prev = recon
    if pos != len(data):
        raise ValueError("corrupt MPV1: trailing bytes")
    return width, height, fps, n_frames, frames, mvs
