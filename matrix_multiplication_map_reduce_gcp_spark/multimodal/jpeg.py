"""REAL baseline JPEG (ITU-T T.81 sequential DCT) encoder + decoder,
stdlib + numpy only — the entropy-coded rung of the multimodal codec
ladder.

The reference repo contains no codec code at all (it moves JSON
matrices through GCS, reference orchestrator/main.py:54-64); this
module exists for the engine's multimodal north star: prove the
binary-column pipeline runs REAL compressed formats end to end. Until
r10 the documented sandbox boundary was "compressed-entropy codecs
(JPEG/MP3/H.264) are import-try gated"; this narrows it by
implementing the JPEG half from the spec:

* forward: RGB -> YCbCr (BT.601), 4:4:4, edge-replicated padding to
  8x8 blocks, level shift, orthonormal FDCT, quantization (flat
  all-ones table by default: every loss beyond float rounding is
  removed, which is what makes a tight reconstruction bound
  testable), zigzag, DC prediction, run/size AC coding, the spec's
  Annex-K Huffman tables, byte-stuffed bitstream, and the full marker
  frame SOI/APP0/DQT/SOF0/DHT/SOS/EOI.
* inverse: marker walk, DQT/DHT/SOF0/SOS parse (arbitrary tables and
  8-bit 4:4:4 frames; anything else raises), stuffed-bit reader,
  Huffman + DC-prediction decode, dequantize, inverse zigzag, IDCT,
  YCbCr -> RGB, crop to the SOF dims.

Both halves are independent enough that a shared bug can't hide: the
decoder consumes only the byte stream (tests also hand it streams the
encoder did not produce: restart-free truncation, bad markers), and
the reconstruction bound (JPEG_TOL) is pinned against the ORIGINAL
pixels, not an encode/decode fixpoint.
"""

from __future__ import annotations

import struct
import sys

import numpy as np

# Captured by mapInPandas closures (the jpeg and mjpeg rungs of
# blobs.RUNGS). Python workers do NOT have this package on
# sys.path, so the codec must ship BY VALUE inside the pickled
# closure instead of by module reference — same opt-in as blobs.py.
from pyspark import cloudpickle

cloudpickle.register_pickle_by_value(sys.modules[__name__])

# Reconstruction tolerance with the flat quant table: measured max
# abs pixel error over the corpus geometry is <=4 (color-transform
# rounding + DCT/IDCT float rounding + coefficient rounding at Q=1);
# pinned with margin. The registered query emits
# within_tolerance = (max_abs_err <= JPEG_TOL) and its oracle expects
# TRUE for every doc, so a tolerance breach is a driver-red hash
# mismatch, not a silent quality drift.
JPEG_TOL = 8

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# ITU-T T.81 Annex K.3 typical Huffman tables: (bits[1..16], huffval).
DC_LUMA = (
    (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
DC_CHROMA = (
    (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
AC_LUMA = (
    (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D),
    (
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ),
)
AC_CHROMA = (
    (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77),
    (
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ),
)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II matrix — equals the T.81 FDCT definition
    (F = 1/4 C(u)C(v) sum-sum f cos cos) arranged as A @ block @ A.T."""
    a = np.zeros((8, 8))
    for u in range(8):
        c = np.sqrt(1.0 / 8.0) if u == 0 else np.sqrt(2.0 / 8.0)
        for x in range(8):
            a[u, x] = c * np.cos((2 * x + 1) * u * np.pi / 16.0)
    return a


_A = _dct_matrix()


def _huff_codes(bits, huffval):
    """T.81 Annex C code assignment: codes of each length in symbol
    order, starting from (prev+1)<<1 at each new length."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[huffval[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _huff_lut(bits, vals):
    """16-bit-prefix lookup tables for one Huffman table: peek the
    next 16 bits, index, get (symbol, code length) in O(1) — replaces
    the bit-at-a-time tree walk that dominated the first cut's decode
    wall (Python-loop entropy decode is the known cost center of any
    from-scratch JPEG; the LUT turns ~10-20 int ops/symbol into ~4).
    Returns (lut_sym bytearray[65536], lut_len bytearray[65536]);
    length 0 marks an invalid prefix."""
    lut_sym = bytearray(65536)
    lut_len = bytearray(65536)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            base = code << (16 - length)
            span = 1 << (16 - length)
            lut_sym[base : base + span] = bytes([vals[k]]) * span
            lut_len[base : base + span] = bytes([length]) * span
            code += 1
            k += 1
        code <<= 1
    return lut_sym, lut_len


_LUT_CACHE: dict = {}


def _huff_lut_cached(bits, vals):
    key = (bits, vals)
    lut = _LUT_CACHE.get(key)
    if lut is None:
        lut = _LUT_CACHE[key] = _huff_lut(bits, vals)
    return lut


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
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                self.out.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits
        return bytes(self.out)


def _csize(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y = ycc[..., 0]
    cb = ycc[..., 1] - 128.0
    cr = ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    out = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def jpeg_encode(
    width: int, height: int, pixels: bytes, quant: np.ndarray | None = None
) -> bytes:
    """Baseline sequential-DCT JFIF encoder, 8-bit RGB 4:4:4.

    ``quant``: 8x8 int table in natural order, shared by all three
    components (default: flat ones — near-lossless so the
    reconstruction bound is tight and testable). Emits Annex-K
    Huffman tables, one DQT, SOF0, one interleaved scan."""
    if quant is None:
        quant = np.ones((8, 8), dtype=np.int64)
    quant = np.asarray(quant, dtype=np.int64)
    if quant.shape != (8, 8) or quant.min() < 1 or quant.max() > 255:
        raise ValueError("quant table must be 8x8 with entries 1..255")
    rgb = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, 3)
    ycc = _rgb_to_ycbcr(rgb)
    ph = (height + 7) // 8 * 8
    pw = (width + 7) // 8 * 8
    padded = np.empty((ph, pw, 3), dtype=np.float64)
    padded[:height, :width] = ycc
    padded[height:, :width] = ycc[-1:, :]  # edge-replicate rows
    padded[:, width:] = padded[:, width - 1 : width]  # then columns

    dc_codes = (_huff_codes(*DC_LUMA), _huff_codes(*DC_CHROMA))
    ac_codes = (_huff_codes(*AC_LUMA), _huff_codes(*AC_CHROMA))
    bw = _BitWriter()
    pred = [0, 0, 0]
    # Batched FDCT: every 8x8 block of every component in ONE einsum
    # (MCU order: block-raster-major, component-minor), then quantize
    # + zigzag vectorized; only the entropy coding below runs as a
    # Python loop over the resulting small ints.
    nby, nbx = ph // 8, pw // 8
    units = (
        padded.reshape(nby, 8, nbx, 8, 3)
        .transpose(0, 2, 4, 1, 3)
        .reshape(nby * nbx * 3, 8, 8)
    ) - 128.0
    coef = np.einsum("ij,njk,lk->nil", _A, units, _A)
    qzz = np.round(coef.reshape(-1, 64) / quant.reshape(-1)).astype(
        np.int64
    )[:, ZIGZAG].tolist()
    for u, zz in enumerate(qzz):
        comp = u % 3
        tsel = 0 if comp == 0 else 1
        diff = zz[0] - pred[comp]
        pred[comp] = zz[0]
        size = _csize(diff)
        code, length = dc_codes[tsel][size]
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
                code, length = ac_codes[tsel][0xF0]  # ZRL
                bw.write(code, length)
                run -= 16
            size = _csize(v)
            code, length = ac_codes[tsel][(run << 4) | size]
            bw.write(code, length)
            bw.write(v if v > 0 else v + (1 << size) - 1, size)
            run = 0
        if run:
            code, length = ac_codes[tsel][0x00]  # EOB
            bw.write(code, length)
    scan = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    def dht(tclass: int, tid: int, table) -> bytes:
        bits, vals = table
        return bytes([(tclass << 4) | tid]) + bytes(bits) + bytes(vals)

    app0 = b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    dqt = bytes([0x00]) + bytes(int(v) for v in quant.reshape(-1)[ZIGZAG])
    sof = bytes([8]) + struct.pack(">HH", height, width) + bytes([3]) + b"".join(
        bytes([cid, 0x11, 0]) for cid in (1, 2, 3)
    )
    dhts = (dht(0, 0, DC_LUMA) + dht(1, 0, AC_LUMA)
            + dht(0, 1, DC_CHROMA) + dht(1, 1, AC_CHROMA))
    sos = bytes([3]) + b"".join(
        bytes([cid, tsel]) for cid, tsel in ((1, 0x00), (2, 0x11), (3, 0x11))
    ) + bytes([0, 63, 0])
    return (b"\xff\xd8" + seg(0xE0, app0) + seg(0xDB, dqt) + seg(0xC0, sof)
            + seg(0xC4, dhts) + seg(0xDA, sos) + scan + b"\xff\xd9")


def jpeg_decode(data: bytes) -> tuple[int, int, int, bytes]:
    """Baseline JFIF decoder for 8-bit 4:4:4 SOF0 frames with
    arbitrary DQT/DHT tables (one interleaved scan, no restart
    markers). Returns (width, height, 3, rgb_bytes). Progressive,
    subsampled, 12-bit, or multi-scan inputs raise ValueError — a
    documented decoder envelope, checked, never silently wrong."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: missing SOI")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    width = height = None
    comps: list[tuple[int, int]] = []  # (component id, qtable id)
    scan_comps: list[tuple[int, int, int]] = []  # (cid, dc tid, ac tid)
    scan_start = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"corrupt JPEG: expected marker at {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        body = data[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 0x0F
                if pq != 0:
                    raise ValueError("unsupported JPEG: 16-bit quant table")
                tab = np.zeros(64, dtype=np.int64)
                tab[ZIGZAG] = np.frombuffer(
                    body[off + 1 : off + 65], dtype=np.uint8
                ).astype(np.int64)
                qtables[tq] = tab
                off += 65
        elif marker == 0xC4:
            off = 0
            while off < len(body):
                tc, th = body[off] >> 4, body[off] & 0x0F
                bits = tuple(body[off + 1 : off + 17])
                n = sum(bits)
                vals = tuple(body[off + 17 : off + 17 + n])
                htables[(tc, th)] = (bits, vals)
                off += 17 + n
        elif marker == 0xC0:
            precision = body[0]
            height, width = struct.unpack(">HH", body[1:5])
            ncomp = body[5]
            if precision != 8 or ncomp != 3:
                raise ValueError("unsupported JPEG: need 8-bit, 3 components")
            for ci in range(ncomp):
                cid, hv, tq = body[6 + 3 * ci : 9 + 3 * ci]
                if hv != 0x11:
                    raise ValueError("unsupported JPEG: need 4:4:4 (h=v=1)")
                comps.append((cid, tq))
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("unsupported JPEG: baseline SOF0 only")
        elif marker == 0xDD:
            raise ValueError("unsupported JPEG: restart intervals")
        elif marker == 0xDA:
            ns = body[0]
            if ns != 3:
                raise ValueError("unsupported JPEG: need one 3-component scan")
            for ci in range(ns):
                cid, tsel = body[1 + 2 * ci : 3 + 2 * ci]
                scan_comps.append((cid, tsel >> 4, tsel & 0x0F))
            scan_start = pos
            break
        # APPn/COM and others: skipped (length-prefixed)
    if width is None or scan_start is None:
        raise ValueError("corrupt JPEG: missing SOF0 or SOS")

    # Entropy decode the single interleaved scan. Destuff once with
    # numpy (every in-scan 0xFF must be followed by a stuffed 0x00 —
    # a non-zero successor is a marker and out of this envelope),
    # then run a Python-int accumulator with the 16-bit-prefix LUTs:
    # the accumulator never grows past ~24 bits, so every step is a
    # handful of small-int ops.
    end = data.rfind(b"\xff\xd9")
    if end < 0:
        raise ValueError("corrupt JPEG: missing EOI")
    raw = np.frombuffer(data[scan_start:end], dtype=np.uint8)
    ffs = np.nonzero(raw == 0xFF)[0]
    if len(ffs):
        if ffs[-1] == len(raw) - 1:
            raise ValueError("corrupt JPEG: dangling 0xFF")
        nxt = raw[ffs + 1]
        if (nxt != 0).any():
            m = int(nxt[nxt != 0][0])
            raise ValueError(
                f"corrupt JPEG: marker 0xFF{m:02X} inside scan"
            )
        keep = np.ones(len(raw), dtype=bool)
        keep[ffs + 1] = False
        raw = raw[keep]
    scan = bytes(raw)
    luts = {}
    for key, tab in htables.items():
        luts[key] = _huff_lut_cached(*tab)
    qt_by_cid = dict(comps)
    for cid, dc_id, ac_id in scan_comps:
        if ((0, dc_id) not in luts or (1, ac_id) not in luts
                or qt_by_cid.get(cid) not in qtables):
            raise ValueError("corrupt JPEG: missing table for scan")
    ph = (height + 7) // 8 * 8
    pw = (width + 7) // 8 * 8
    nby, nbx = ph // 8, pw // 8
    n_units = nby * nbx * 3
    comp_luts = [
        (luts[(0, dc_id)], luts[(1, ac_id)])
        for cid, dc_id, ac_id in scan_comps
    ]
    acc = 0
    nb = 0
    pos = 0
    L = len(scan)
    consumed = 0
    real_bits = 8 * L
    us: list[int] = []
    ks: list[int] = []
    vs: list[int] = []
    pred = [0, 0, 0]
    for u in range(n_units):
        ci = u % 3
        (dc_sym, dc_len), (ac_sym, ac_len) = comp_luts[ci]
        k = 0
        while True:
            # Refills are word-at-a-time (r13): up to 8 bytes per step
            # via int.from_bytes, consumed high bits masked at refill
            # instead of after every symbol — same bit windows from the
            # same stream positions as the old per-byte loops.
            while nb < 16:  # refill; zero-pad past the stream end
                chunk = scan[pos : pos + 8]
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
            if k == 0:
                size, length = dc_sym[idx], dc_len[idx]
                run = 0
            else:
                rs, length = ac_sym[idx], ac_len[idx]
                run, size = rs >> 4, rs & 0x0F
            if length == 0:
                raise ValueError("corrupt JPEG: invalid Huffman code")
            nb -= length
            consumed += length
            if k == 0:
                if size:
                    while nb < size:
                        chunk = scan[pos : pos + 8]
                        if chunk:
                            acc = (
                                (acc & ((1 << nb) - 1))
                                << (8 * len(chunk))
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
                else:
                    v = 0
                pred[ci] += v
                us.append(u)
                ks.append(0)
                vs.append(pred[ci])
                k = 1
                continue
            if size == 0:
                if run == 15:  # ZRL
                    k += 16
                    if k > 64:
                        raise ValueError("corrupt JPEG: AC run overflow")
                    continue
                break  # EOB
            k += run
            if k > 63:
                raise ValueError("corrupt JPEG: AC run overflow")
            while nb < size:
                chunk = scan[pos : pos + 8]
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
            us.append(u)
            ks.append(k)
            vs.append(v)
            k += 1
            if k == 64:
                break
        if consumed > real_bits:
            raise ValueError("corrupt JPEG: entropy stream truncated")

    zz_all = np.zeros((n_units, 64), dtype=np.int64)
    zz_all[us, ks] = vs
    qmat = np.stack(
        [qtables[qt_by_cid[cid]] for cid, _, _ in scan_comps]
    )  # (3, 64) natural order
    coef_nat = np.zeros((n_units, 64), dtype=np.float64)
    coef_nat[:, ZIGZAG] = zz_all
    coef_nat *= np.tile(qmat, (nby * nbx, 1))
    blocks = np.einsum(
        "ij,njk,kl->nil", _A.T, coef_nat.reshape(-1, 8, 8), _A
    ) + 128.0
    planes = (
        blocks.reshape(nby, nbx, 3, 8, 8)
        .transpose(2, 0, 3, 1, 4)
        .reshape(3, ph, pw)
    )
    ycc = np.stack([planes[0], planes[1], planes[2]], axis=-1)
    rgb = _ycbcr_to_rgb(ycc)[:height, :width]
    return width, height, 3, rgb.tobytes()
