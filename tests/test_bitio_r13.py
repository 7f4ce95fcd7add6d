"""r13 codec fast-path pins: every bit-IO/entropy rewrite must stay
bit-identical to its sequential reference.

The r13 optimization round rewrote the hot codec loops (word-at-a-time
bit readers, peek-based unary, vectorized fixed-width pack/unpack, a
vectorized run/size entropy coder, batched inverse transforms, a
heap-based MAU2 bit allocator). Each rewrite was bulk-verified against
the r12 tree over all 5000 sf0.1 documents (identical blob+decode
md5s, OPTIMIZATION_r13.md); these tests pin the same equivalences
against in-repo sequential references so a future edit cannot drift
silently."""

from __future__ import annotations

import numpy as np
import pytest


# ------------------------------------------------------------------
# Sequential reference implementations (the r12 forms, verbatim).


class RefMsbReader:
    """The r12 mpeg._BitReader: byte-at-a-time, masks acc per read."""

    def __init__(self, data: bytes):
        self.data = data
        self.acc = 0
        self.nb = 0
        self.pos = 0
        self.consumed = 0

    def _fill(self, need):
        while self.nb < need:
            if self.pos < len(self.data):
                self.acc = (self.acc << 8) | self.data[self.pos]
                self.pos += 1
            else:
                self.acc <<= 8
            self.nb += 8

    def read(self, length):
        if length == 0:
            return 0
        self._fill(length)
        self.nb -= length
        self.consumed += length
        v = (self.acc >> self.nb) & ((1 << length) - 1)
        self.acc &= (1 << self.nb) - 1
        return v

    def peek16(self):
        self._fill(16)
        return (self.acc >> (self.nb - 16)) & 0xFFFF

    def skip(self, length):
        self.nb -= length
        self.consumed += length
        self.acc &= (1 << self.nb) - 1

    def overrun(self):
        return self.consumed > 8 * len(self.data)


def ref_unary(br, limit, err):
    zeros = 0
    while br.read(1) == 0:
        zeros += 1
        if zeros > limit or br.overrun():
            raise ValueError(err)
    return zeros


def test_mpeg_bitreader_word_fill_matches_byte_fill():
    from matrix_multiplication_map_reduce_gcp_spark.multimodal.mpeg import (
        _BitReader)

    rng = np.random.RandomState(5)
    for trial in range(200):
        data = bytes(rng.randint(0, 256, rng.randint(0, 64)).tolist())
        new, ref = _BitReader(data), RefMsbReader(data)
        ops = rng.randint(0, 3, 120)
        for op in ops:
            if op == 0:
                n = int(rng.randint(0, 17))
                assert new.read(n) == ref.read(n)
            elif op == 1:
                assert new.peek16() == ref.peek16()
            else:
                assert new.peek16() == ref.peek16()
                n = int(rng.randint(1, 17))
                new.skip(n)
                ref.skip(n)
            assert new.consumed == ref.consumed
            assert new.overrun() == ref.overrun()


def test_unary_zeros_matches_sequential_loop():
    from matrix_multiplication_map_reduce_gcp_spark.multimodal.mpeg import (
        _BitReader, unary_zeros)

    rng = np.random.RandomState(6)
    for trial in range(300):
        # streams with long zero runs and a terminating 1
        bits = []
        for _ in range(rng.randint(1, 6)):
            bits += [0] * int(rng.randint(0, 40))
            bits += [1]
            bits += rng.randint(0, 2, rng.randint(0, 8)).tolist()
        pad = (-len(bits)) % 8
        bits += [1] * pad
        data = np.packbits(np.array(bits, dtype=np.uint8)).tobytes()
        for limit in (15, 32):
            new, ref = _BitReader(data), RefMsbReader(data)
            while True:
                try:
                    a = unary_zeros(new, limit, "boom")
                    a_err = None
                except ValueError as exc:
                    a, a_err = None, str(exc)
                try:
                    b = ref_unary(ref, limit, "boom")
                    b_err = None
                except ValueError as exc:
                    b, b_err = None, str(exc)
                assert (a, a_err) == (b, b_err)
                if a_err is not None:
                    break
                assert new.consumed == ref.consumed
                if new.overrun():
                    break


def test_flac_reader_matches_reference_incl_align():
    from matrix_multiplication_map_reduce_gcp_spark.multimodal.flac import (
        _BitReader)

    class RefFlac:
        def __init__(self, data, pos=0):
            self.data = data
            self.pos = pos
            self.buf = 0
            self.cnt = 0

        def read(self, nbits):
            while self.cnt < nbits:
                if self.pos >= len(self.data):
                    raise ValueError("truncated FLAC stream")
                self.buf = (self.buf << 8) | self.data[self.pos]
                self.pos += 1
                self.cnt += 8
            self.cnt -= nbits
            val = (self.buf >> self.cnt) & ((1 << nbits) - 1)
            self.buf &= (1 << self.cnt) - 1
            return val

        def read_unary(self):
            q = 0
            while self.read(1) == 0:
                q += 1
                if q > 1 << 20:
                    raise ValueError("runaway unary code in FLAC residual")
            return q

        def align(self):
            self.buf = 0
            self.cnt = 0

        def byte_pos(self):
            return self.pos - self.cnt // 8

    rng = np.random.RandomState(7)
    for trial in range(200):
        data = bytes(rng.randint(0, 256, rng.randint(1, 48)).tolist())
        new, ref = _BitReader(data), RefFlac(data)
        for op in rng.randint(0, 4, 100):
            try:
                if op == 0:
                    n = int(rng.randint(1, 17))
                    a = ("r", new.read(n))
                elif op == 1:
                    a = ("u", new.read_unary())
                elif op == 2:
                    new.align()
                    a = ("a", new.byte_pos())
                else:
                    a = ("p", new.byte_pos())
            except ValueError as exc:
                a = ("e", str(exc))
            try:
                if op == 0:
                    b = ("r", ref.read(n))
                elif op == 1:
                    b = ("u", ref.read_unary())
                elif op == 2:
                    ref.align()
                    b = ("a", ref.byte_pos())
                else:
                    b = ("p", ref.byte_pos())
            except ValueError as exc:
                b = ("e", str(exc))
            assert a == b, (trial, op, a, b)
            if a[0] == "e":
                break


def test_inflate_bits_word_fill_matches_reference():
    from matrix_multiplication_map_reduce_gcp_spark.multimodal.inflate import (
        _Bits)

    class RefBits:
        def __init__(self, data, pos=0):
            self.data = data
            self.pos = pos
            self.buf = 0
            self.cnt = 0

        def read(self, n):
            while self.cnt < n:
                if self.pos >= len(self.data):
                    raise ValueError("truncated deflate stream")
                self.buf |= self.data[self.pos] << self.cnt
                self.pos += 1
                self.cnt += 8
            val = self.buf & ((1 << n) - 1)
            self.buf >>= n
            self.cnt -= n
            return val

        def align(self):
            drop = self.cnt % 8
            self.buf >>= drop
            self.cnt -= drop

        def byte_pos(self):
            return self.pos - self.cnt // 8

    rng = np.random.RandomState(8)
    for trial in range(200):
        data = bytes(rng.randint(0, 256, rng.randint(1, 48)).tolist())
        new, ref = _Bits(data), RefBits(data)
        for op in rng.randint(0, 3, 100):
            try:
                if op == 0:
                    n = int(rng.randint(1, 17))
                    a = ("r", new.read(n))
                elif op == 1:
                    new.align()
                    a = ("a", new.byte_pos())
                else:
                    a = ("p", new.byte_pos())
            except ValueError as exc:
                a = ("e", str(exc))
            try:
                if op == 0:
                    b = ("r", ref.read(n))
                elif op == 1:
                    ref.align()
                    b = ("a", ref.byte_pos())
                else:
                    b = ("p", ref.byte_pos())
            except ValueError as exc:
                b = ("e", str(exc))
            assert a == b, (trial, op, a, b)
            if a[0] == "e":
                break


def test_mdct_pack_unpack_match_sequential_writer_reader():
    from matrix_multiplication_map_reduce_gcp_spark.multimodal.mdct import (
        _BitReader, _BitWriter, _pack_codes, _unpack_codes)

    rng = np.random.RandomState(9)
    for trial in range(200):
        n = int(rng.randint(0, 200))
        widths = rng.choice([2, 4, 6, 8, 10, 12, 15], n)
        q = np.array(
            [int(rng.randint(-(1 << (w - 1)), 1 << (w - 1))) for w in widths],
            dtype=np.int64,
        )
        packed = _pack_codes(q, widths)
        bw = _BitWriter()
        for v, w in zip(q, widths):
            bw.write(int(v), int(w))
        assert packed == bw.flush()
        vals = _unpack_codes(packed, widths, "boom")
        br = _BitReader(packed)
        ref = []
        for w in widths:
            v = br.read(int(w))
            if v >= 1 << (w - 1):
                v -= 1 << w
            ref.append(v)
        assert vals.tolist() == ref
    # truncation parity
    with pytest.raises(ValueError, match="boom"):
        _unpack_codes(b"\x00", np.array([12], dtype=np.int64), "boom")


def test_mau2_heap_allocator_matches_rescan():
    from matrix_multiplication_map_reduce_gcp_spark.multimodal.mdct import (
        BAND, MAX_BITS, N_BANDS, _allocate_bits, _mask_thresholds)

    def ref_allocate(energies, budget=1024):
        thr = _mask_thresholds(energies)
        bits = [0] * N_BANDS
        spent = 0
        while True:
            best = -1
            best_nmr = -1.0
            for bnd in range(N_BANDS):
                if bits[bnd] >= MAX_BITS:
                    continue
                step = 2 if bits[bnd] == 0 else 1
                if spent + step * BAND > budget:
                    continue
                nmr = (energies[bnd] / (4.0 ** bits[bnd])) / thr[bnd]
                if nmr > best_nmr:
                    best_nmr = nmr
                    best = bnd
            if best < 0:
                break
            step = 2 if bits[best] == 0 else 1
            bits[best] += step
            spent += step * BAND
        return bits

    rng = np.random.RandomState(10)
    for trial in range(500):
        e = np.abs(rng.randn(N_BANDS)) * (10.0 ** rng.uniform(-3, 8))
        if trial % 7 == 0:
            e[rng.randint(0, N_BANDS, 5)] = 0.0
        if trial % 11 == 0:
            e[:] = e[0]  # heavy ties
        assert _allocate_bits(e) == ref_allocate(e), trial


def test_mpeg_entropy_code_matches_code_block_reference():
    from matrix_multiplication_map_reduce_gcp_spark.multimodal.mpeg import (
        _BitWriter, _entropy_code, _entropy_code_ref)

    rng = np.random.RandomState(11)
    for trial in range(200):
        n = int(rng.randint(1, 9))
        zz = np.zeros((n, 64), dtype=np.int64)
        for b in range(n):
            idx = rng.choice(64, rng.randint(0, 30), replace=False)
            zz[b, idx] = rng.randint(-1023, 1024, len(idx))
            if rng.rand() < 0.3:
                zz[b, 1:] = 0  # all-zero AC (EOB immediately)
            if rng.rand() < 0.2:
                zz[b, 63] = int(rng.randint(1, 100))  # no EOB
            zz[b, 0] = int(rng.randint(-1024, 1025))
        pred = int(rng.randint(-1023, 1023))
        bw1, bw2 = _BitWriter(), _BitWriter()
        assert _entropy_code(bw1, zz, pred) == \
            _entropy_code_ref(bw2, zz.tolist(), pred)
        assert bw1.flush() == bw2.flush(), trial


def test_mpeg_entropy_code_rejects_dc_diff_without_size_category():
    """|DC diff| >= 2048 has no DC size category in the luma table:
    the vectorized coder must raise KeyError like the sequential
    _code_block, not emit a zero-length DC code (the AC guard's twin)."""
    from matrix_multiplication_map_reduce_gcp_spark.multimodal.mpeg import (
        _BitWriter, _entropy_code, _entropy_code_ref)

    for diff in (2048, -2048, 4095, 40000):
        zz = np.zeros((2, 64), dtype=np.int64)
        zz[1, 0] = diff  # block 0 codes cleanly, block 1 does not
        for code, blocks in ((_entropy_code, zz), (_entropy_code_ref, zz.tolist())):
            with pytest.raises(KeyError):
                code(_BitWriter(), blocks, 0)
    zz = np.zeros((1, 64), dtype=np.int64)
    zz[0, 0] = 2047  # the largest diff that has a category still codes
    bw1, bw2 = _BitWriter(), _BitWriter()
    assert _entropy_code(bw1, zz, 0) == _entropy_code_ref(bw2, zz.tolist(), 0)
    assert bw1.flush() == bw2.flush()


def test_write_many_continues_partial_byte_state():
    from matrix_multiplication_map_reduce_gcp_spark.multimodal.mpeg import (
        _BitWriter)

    rng = np.random.RandomState(12)
    for trial in range(100):
        bw1, bw2 = _BitWriter(), _BitWriter()
        head = int(rng.randint(0, 8))
        if head:
            v = int(rng.randint(0, 1 << head))
            bw1.write(v, head)
            bw2.write(v, head)
        widths = rng.randint(0, 17, rng.randint(0, 40)).astype(np.int64)
        vals = rng.randint(-(1 << 15), 1 << 15, len(widths)).astype(np.int64)
        bw1.write_many(vals, widths)
        for v, w in zip(vals, widths):
            bw2.write(int(v), int(w))
        bw1.write(1, 3)
        bw2.write(1, 3)
        assert bw1.flush() == bw2.flush(), trial


def test_mpeg_transform_decode_matches_per_block_reference():
    from matrix_multiplication_map_reduce_gcp_spark.multimodal.mpeg import (
        _BitReader, _BitWriter, _entropy_code_ref, _transform_decode,
        _transform_decode_ref)

    rng = np.random.RandomState(13)
    for trial in range(150):
        nby, nbx = int(rng.randint(1, 4)), int(rng.randint(1, 4))
        h, w = nby * 8, nbx * 8
        n = nby * nbx
        zz = np.zeros((n, 64), dtype=np.int64)
        for b in range(n):
            idx = rng.choice(64, rng.randint(0, 25), replace=False)
            zz[b, idx] = rng.randint(-1000, 1001, len(idx))
            zz[b, 0] = int(rng.randint(-900, 901))
        pred0 = int(rng.randint(-500, 500))
        bw = _BitWriter()
        _entropy_code_ref(bw, zz.tolist(), pred0)
        bw.write(7, 5)  # trailing bits: reader state must hand off
        blob = bw.flush()
        br1, br2 = _BitReader(blob), _BitReader(blob)
        pl1, pr1 = _transform_decode(br1, h, w, pred0)
        pl2, pr2 = _transform_decode_ref(br2, h, w, pred0)
        assert pr1 == pr2
        assert np.array_equal(pl1, pl2)
        assert br1.consumed == br2.consumed
        assert br1.read(5) == br2.read(5)


def test_dequant_inverse_transform_batch_matches_per_block():
    from matrix_multiplication_map_reduce_gcp_spark.multimodal.avc import (
        MAX_QP, dequant_inverse_transform, dequant_inverse_transform_batch)

    rng = np.random.RandomState(14)
    for qp in range(MAX_QP + 1):
        zs = rng.randint(-500, 501, (37, 4, 4)).astype(np.int64)
        batch = dequant_inverse_transform_batch(zs, qp)
        for i in range(zs.shape[0]):
            assert np.array_equal(
                batch[i], dequant_inverse_transform(zs[i], qp)
            ), (qp, i)


def test_rangecoder_inline_matches_class_reference():
    """r13: rc_encode/rc_decode inline the coder/model/emitter state as
    loop locals; streams and decisions must stay bit-identical to the
    class-based reference (rc_encode_ref wraps _Model/_Encoder; decode
    is checked by exact roundtrip of streams the reference encoder
    produced, including rescale-boundary content)."""
    from matrix_multiplication_map_reduce_gcp_spark.multimodal.rangecoder import (
        rc_decode, rc_encode, rc_encode_ref)

    rng = np.random.RandomState(15)
    payloads = [
        b"",
        b"\x00" * 300,
        b"\xff" * 300,
        bytes(rng.randint(0, 256, 2000).tolist()),
        bytes((rng.randint(0, 3, 5000) * 100).astype(np.uint8).tolist()),
        b"abcabcabc" * 400,  # skewed: adaptive contexts drift far
    ]
    for k, p in enumerate(payloads):
        ref = rc_encode_ref(p)
        new = rc_encode(p)
        assert new == ref, k
        assert rc_decode(new) == p, k
