"""Matrix operators vs a NumPy oracle on seeded dense + sparse inputs —
the disciplined version of the reference's own VM `np.dot` baseline
(reference vm_mtxmul.py:39-40), which it computed but never compared
(SURVEY.md §5)."""

from __future__ import annotations

import json

import numpy as np
import pytest

from matrix_multiplication_map_reduce_gcp_spark.matrix import (
    CooMatrix,
    shred_json_matrix,
    validate_matmul_dims,
)

RNG = np.random.default_rng(42)


def to_coo(spark, m: np.ndarray) -> CooMatrix:
    rows = [
        (int(i), int(j), float(m[i, j]))
        for i in range(m.shape[0])
        for j in range(m.shape[1])
        if m[i, j] != 0.0
    ]
    df = spark.createDataFrame(rows, "i long, j long, v double")
    return CooMatrix(df, m.shape[0], m.shape[1])


def dense(spark_matrix: CooMatrix) -> np.ndarray:
    return spark_matrix.to_numpy()


def _quadrant(m: CooMatrix, r0: int, c0: int, h: int, w: int) -> CooMatrix:
    """Zero-based (h, w) quadrant of ``m`` at offset (r0, c0)."""
    from pyspark.sql import functions as F

    q = m.df.filter(
        (F.col("i") >= r0) & (F.col("i") < r0 + h)
        & (F.col("j") >= c0) & (F.col("j") < c0 + w)
    ).select((F.col("i") - r0).alias("i"), (F.col("j") - c0).alias("j"), "v")
    return CooMatrix(q, h, w)


@pytest.fixture(scope="module")
def mats(spark):
    # int-valued float matrices like the reference's generator
    # (test/test.py:42-43: uniform ints 0..99 as float)
    a = RNG.integers(0, 100, (13, 17)).astype(float)
    b = RNG.integers(0, 100, (17, 11)).astype(float)
    return a, b, to_coo(spark, a), to_coo(spark, b)


def test_matmul_matches_numpy(mats):
    a, b, A, B = mats
    np.testing.assert_allclose(dense(A.multiply(B)), a @ b, rtol=0)


def test_matmul_nonsquare_shared_dim(mats):
    """Pins the correct shared-dimension semantics (the reference
    iterated rows_A instead of cols_A — reducer/main.py:30)."""
    a, b, A, B = mats
    assert A.multiply(B).shape == (13, 11)


def test_matmul_dim_validation():
    with pytest.raises(ValueError, match="incompatible"):
        validate_matmul_dims(4, 5, 6, 4)


def test_matmul_sparse_implicit_zeros(spark):
    a = np.array([[0.0, 2.0], [3.0, 0.0]])
    b = np.array([[5.0, 0.0], [0.0, 7.0]])
    C = to_coo(spark, a).multiply(to_coo(spark, b))
    np.testing.assert_allclose(dense(C), a @ b, rtol=0)
    # zero cells never materialize
    assert C.nnz() == int((a @ b != 0).sum())


def test_square_50x50_reference_live_shape(spark):
    """The reference's hardcoded live case (orchestrator/main.py:43-48)."""
    a = RNG.integers(0, 100, (50, 50)).astype(float)
    b = RNG.integers(0, 100, (50, 50)).astype(float)
    C = to_coo(spark, a).multiply(to_coo(spark, b))
    np.testing.assert_allclose(dense(C), a @ b, rtol=0)


def test_transpose_add_scale_hadamard(mats, spark):
    a, _, A, _ = mats
    np.testing.assert_allclose(dense(A.transpose()), a.T, rtol=0)
    np.testing.assert_allclose(dense(A.scale(2.5)), a * 2.5, rtol=0)
    a2 = RNG.integers(0, 100, a.shape).astype(float)
    A2 = to_coo(spark, a2)
    np.testing.assert_allclose(dense(A.add(A2, 2.0, -1.0)), 2 * a - a2, rtol=0)
    np.testing.assert_allclose(dense(A.hadamard(A2)), a * a2, rtol=0)
    # one lineage joined to itself
    np.testing.assert_allclose(dense(A.add(A, 2.0, -1.0)), a, rtol=0)
    np.testing.assert_allclose(dense(A.hadamard(A)), a * a, rtol=0)
    s = a[:, :13]
    S = to_coo(spark, s)
    np.testing.assert_allclose(dense(S.multiply(S)), s @ s, rtol=0)


def test_matvec(mats, spark):
    a, _, A, _ = mats
    x = RNG.integers(0, 100, a.shape[1]).astype(float)
    xdf = spark.createDataFrame(
        [(int(j), float(v)) for j, v in enumerate(x)], "j long, v double"
    )
    got = {r["i"]: r["v"] for r in A.matvec(xdf).collect()}
    want = a @ x
    for i in range(a.shape[0]):
        assert got.get(i, 0.0) == pytest.approx(want[i], rel=0)


def test_gram_trace_frobenius(mats):
    a, _, A, _ = mats
    np.testing.assert_allclose(dense(A.gram()), a.T @ a, rtol=0)
    sq = to_coo(A.df.sparkSession, a[:13, :13])
    assert sq.trace().collect()[0]["trace"] == pytest.approx(np.trace(a[:13, :13]), rel=0)
    assert A.frobenius_sq().collect()[0]["fro_sq"] == pytest.approx((a * a).sum(), rel=0)


# Cells a decimal(18,4) sum gets wrong: it rounds away digits below
# 1e-4 and raises at |x| >= 1e14. A shared dimension of 2 leaves
# one order of float64 addition, so NumPy's sums of rounded products
# are the exact expectation (not `@`, whose BLAS may fuse multiply-add).
_FRAC = np.array([[0.12345, 1.5, -2.0], [3.0, -0.12345, 0.5]])
_X = np.array([0.12345, 2.5])


@pytest.mark.parametrize(
    "op, a, want",
    [
        ("multiply", [[1e-5]], [[1.0]]),
        ("trace", [[1e-5]], 1e-5),
        ("frobenius_sq", [[1e15]], 1e30),
        ("matvec", _FRAC.T, (_FRAC.T * _X).sum(axis=1)),
        ("gram", _FRAC, (_FRAC[:, :, None] * _FRAC[:, None, :]).sum(axis=0)),
    ],
)
def test_operators_sum_in_float64(spark, op, a, want):
    A = to_coo(spark, np.array(a))
    if op == "multiply":
        got = A.multiply(to_coo(spark, np.array([[1e5]]))).to_numpy()
    elif op == "matvec":
        x = spark.createDataFrame(list(enumerate(_X.tolist())), "j long, v double")
        got = np.zeros(len(want))
        for r in A.matvec(x).collect():
            got[r["i"]] = r["v"]
    elif op == "gram":
        got = A.gram().to_numpy()
    else:
        got = getattr(A, op)().collect()[0][0]
    np.testing.assert_array_equal(got, want)


def test_dense_json_shred_roundtrip(spark):
    """The reference's wire format: JSON list-of-lists blob
    (orchestrator/main.py:58-64) → COO → ndarray."""
    m = RNG.integers(0, 100, (6, 4)).astype(float)
    coo = shred_json_matrix(spark, json.dumps(m.tolist()))
    np.testing.assert_allclose(CooMatrix(coo, 6, 4).to_numpy(), m, rtol=0)


def test_to_numpy_rejects_null_entries(spark):
    """A null value would scatter as NaN and a null index would fail
    inside NumPy: to_numpy raises naming the cause instead."""
    df = spark.createDataFrame([(0, 0, 1.0), (1, 1, None)], "i long, j long, v double")
    with pytest.raises(ValueError, match="null"):
        CooMatrix(df, 2, 2).to_numpy()


def test_block_multiply_matches_numpy(mats, spark):
    from matrix_multiplication_map_reduce_gcp_spark.matrix.block import block_multiply

    a, b, A, B = mats
    # bs=5 does not divide 13/17/11 → exercises ragged edge blocks
    C = block_multiply(A, B, block_size=5)
    np.testing.assert_allclose(dense(C), a @ b, rtol=0)


def test_block_multiply_float_values(spark):
    from matrix_multiplication_map_reduce_gcp_spark.matrix.block import block_multiply

    rng = np.random.default_rng(11)
    a = rng.normal(size=(9, 7))
    b = rng.normal(size=(7, 5))
    C = block_multiply(to_coo(spark, a), to_coo(spark, b), block_size=4)
    np.testing.assert_allclose(dense(C), a @ b, rtol=1e-12)


def test_mllib_blockmatrix_matches_numpy(mats, spark):
    from matrix_multiplication_map_reduce_gcp_spark.matrix.block import (
        mllib_block_multiply,
    )

    a, b, A, B = mats
    got = np.zeros((13, 11))
    for r in mllib_block_multiply(A, B, block_size=4).collect():
        got[r["i"], r["j"]] = r["v"]
    np.testing.assert_allclose(got, a @ b, rtol=0)


def test_jacobi_sweeps_converge_toward_solution(spark):
    """Two Jacobi sweeps must move x strictly toward the true solution
    of the diagonally dominant system (dominance guarantees the
    iteration contracts): ||x2 - x*||_inf < ||x1 - x*||_inf, with x*
    computed densely by NumPy from the same operands."""
    from matrix_multiplication_map_reduce_gcp_spark.operators.iterative import (
        JAC_CAP,
        JAC_N,
        JAC_Q,
        jacobi_solve_2iter,
    )

    sf = "/root/testdata/sf0.001"
    li = (
        spark.read.parquet(f"{sf}/lineitem.parquet")
        .select("l_orderkey", "l_suppkey")
        .collect()
    )
    import collections

    mcount = collections.Counter(
        (int(r.l_orderkey) % JAC_N, int(r.l_suppkey) % JAC_N) for r in li
    )
    bcount = collections.Counter(int(r.l_orderkey) % JAC_N for r in li)
    idx = sorted(bcount)
    pos = {i: p for p, i in enumerate(idx)}
    n = len(idx)
    R = np.zeros((n, n))
    for (i, j), c in mcount.items():
        if i != j and i in pos and j in pos:
            R[pos[i], pos[j]] = c % JAC_CAP
    d = 2 * R.sum(axis=1) + 1
    b = np.array([bcount[i] % JAC_CAP for i in idx], dtype=float)
    A = R + np.diag(d)
    x_star = np.linalg.solve(A, b)

    x1 = np.floor(JAC_Q * b / d) / JAC_Q  # closed-form first sweep
    got = {int(r.i): r.qx / JAC_Q for r in jacobi_solve_2iter(spark, sf).collect()}
    x2 = np.array([got[i] for i in idx])
    err1 = np.abs(x1 - x_star).max()
    err2 = np.abs(x2 - x_star).max()
    assert err2 < err1


def test_block_multiply_matrixgen_oracle_midscale(spark):
    """NumPy oracle for the SUMMA path at a mid-scale non-trivial
    block grid (400x400, 4x4 blocks of 100) on md5-deterministic
    matrixgen cells — the seeded-generator correctness evidence behind
    the bench's matmul_dense_{1000,4000}_block entries (same kernel,
    same packing, bigger grid)."""
    import numpy as np
    from pyspark.sql import functions as F

    from matrix_multiplication_map_reduce_gcp_spark.matrix.block import block_multiply
    from matrix_multiplication_map_reduce_gcp_spark.matrix.coo import CooMatrix
    from matrix_multiplication_map_reduce_gcp_spark.sources.matrixgen import (
        VAL_MOD,
        gen_value,
    )

    n = 400

    def spark_mat(seed):
        # Spark-side twin of matrixgen's md5 cell formula
        # (sql_gen_value is the DuckDB spelling; Spark spells the
        # hex→int step conv(_, 16, 10)).
        df = spark.range(n * n).select(
            (F.col("id") / n).cast("long").alias("i"),
            (F.col("id") % n).alias("j"),
            F.expr(
                f"CAST(conv(substr(md5(CONCAT('m{seed}|', "
                f"CAST(id / {n} AS BIGINT), '|', id % {n})), 1, 8), "
                f"16, 10) AS BIGINT) % {VAL_MOD}"
            ).cast("double").alias("v"),
        )
        return CooMatrix(df, n, n)

    def np_mat(seed):
        return np.array(
            [[gen_value(seed, i, j) for j in range(n)] for i in range(n)],
            dtype=np.float64,
        )

    C = block_multiply(spark_mat(21), spark_mat(22), block_size=100)
    got = np.zeros((n, n))
    for r in C.df.collect():
        got[r[0], r[1]] = r[2]
    want = np_mat(21) @ np_mat(22)
    assert np.array_equal(got, want)


def test_block_size_int32_offset_guard(spark):
    """block_size past the int32 Arrow ListArray offset cliff must fail
    at planning time with a clear message, not as an opaque pyarrow
    overflow mid-GEMM (r5 ADVICE)."""
    import pytest

    from matrix_multiplication_map_reduce_gcp_spark.matrix.block import block_multiply
    from matrix_multiplication_map_reduce_gcp_spark.matrix.coo import CooMatrix

    n = 2
    df = spark.createDataFrame([(0, 0, 1.0)], "i long, j long, v double")
    m = CooMatrix(df, n, n)
    with pytest.raises(ValueError, match="int32 Arrow ListArray offsets"):
        block_multiply(m, m, block_size=46341)


@pytest.mark.parametrize(
    "n_i, n_j, n_k, bs, tasks",
    [
        (977, 977, 977, 1024, 32),  # 10^6² at bs=1024 on 32 slots
        (20, 20, 20, 500, 4),  # 10k² at bs=500 on 4 slots
        (3000, 2, 5, 64, 8),
        (1, 5000, 1, 256, 4),
        (8, 8, 8, 500, 1),
    ],
)
def test_cuboid_grid_keeps_every_cuboid_under_the_bound(n_i, n_j, n_k, bs, tasks):
    """Panels plus output of the largest cuboid fit CUBOID_MAX_BYTES on
    shapes far past any one task's memory; the grid stays inside the
    block space."""
    from matrix_multiplication_map_reduce_gcp_spark.matrix import block

    p, q, r = block._cuboid_grid(n_i, n_j, n_k, bs, tasks)
    assert 1 <= p <= n_i and 1 <= q <= n_j and 1 <= r <= n_k
    dims = (-(-n_i // p), -(-n_j // q), -(-n_k // r))
    assert block._cuboid_bytes(*dims, bs) <= block.CUBOID_MAX_BYTES


def test_cuboid_grid_splits_shared_dim_before_adding_cuboids(monkeypatch):
    """P·R stays at the slot count while splitting the shared dimension
    makes the cuboids fit; only when the output itself is too big does
    P·R pass it; a block too big for any grid is refused."""
    from matrix_multiplication_map_reduce_gcp_spark.matrix import block

    assert block._cuboid_grid(4, 4, 4, 125, 4) == (2, 1, 2)
    # at P = R = 2 each cuboid is 4×8 by 8×4 blocks (1472 cells' worth)
    monkeypatch.setattr(block, "CUBOID_MAX_BYTES", 1000)
    assert block._cuboid_grid(8, 8, 8, 1, 4) == (2, 2, 2)
    # a 4×4 output (8·16 + 16·4 = 192) and 4×1, 1×4 panels (160) don't
    # fit 300, so P·R goes past 4
    monkeypatch.setattr(block, "CUBOID_MAX_BYTES", 300)
    p, q, r = block._cuboid_grid(8, 8, 8, 1, 4)
    assert p * r > 4
    assert block._cuboid_bytes(-(-8 // p), -(-8 // q), -(-8 // r), 1) <= 300
    monkeypatch.setattr(block, "CUBOID_MAX_BYTES", block._cuboid_bytes(1, 1, 1, 3))
    assert block._cuboid_grid(5, 6, 7, 3, 4) == (5, 6, 7)
    monkeypatch.setattr(block, "CUBOID_MAX_BYTES", block._cuboid_bytes(1, 1, 1, 3) - 1)
    with pytest.raises(ValueError, match="use smaller blocks"):
        block._cuboid_grid(5, 6, 7, 3, 4)


def test_strassen_equals_direct_product_and_numpy(spark):
    """One Strassen level == np.dot on seeded integer matrices (even
    dims), including a designed CANCELLATION: a fully zero output row
    whose Strassen M-terms are individually nonzero must vanish from
    the COO result (the explicit-0.0 filter), not surface as a zero
    cell the direct product would never emit."""
    a = RNG.integers(-4, 5, size=(8, 6)).astype(float)
    b = RNG.integers(-4, 5, size=(6, 10)).astype(float)
    a[3, :] = 0.0  # row 3 of C is exactly zero...
    A, B = to_coo(spark, a), to_coo(spark, b)
    hr, hc, hk = 4, 3, 5
    q = {
        "a11": _quadrant(A, 0, 0, hr, hc), "a12": _quadrant(A, 0, hc, hr, hc),
        "a21": _quadrant(A, hr, 0, hr, hc), "a22": _quadrant(A, hr, hc, hr, hc),
        "b11": _quadrant(B, 0, 0, hc, hk), "b12": _quadrant(B, 0, hk, hc, hk),
        "b21": _quadrant(B, hc, 0, hc, hk), "b22": _quadrant(B, hc, hk, hc, hk),
    }
    m1 = q["a11"].add(q["a22"]).multiply(q["b11"].add(q["b22"]))
    m3 = q["a11"].multiply(q["b12"].add(q["b22"], beta=-1.0))
    m4 = q["a22"].multiply(q["b21"].add(q["b11"], beta=-1.0))
    m5 = q["a11"].add(q["a12"]).multiply(q["b22"])
    m7 = q["a12"].add(q["a22"], beta=-1.0).multiply(q["b21"].add(q["b22"]))
    c11 = m1.add(m4).add(m5, beta=-1.0).add(m7)
    # ...but M1/M4/M5/M7 each carry nonzero cells in that row
    got = {(r.i, r.j): r.v for r in c11.df.collect()}
    expect = a[:hr, :] @ b[:, :hk]
    # row 3 cells cancel to EXACT 0.0 (integer arithmetic)
    assert all(got.get((3, j), 0.0) == 0.0 for j in range(hk))
    for i in range(hr):
        for j in range(hk):
            assert got.get((i, j), 0.0) == expect[i, j]


def test_strassen_registry_query_matches_direct(spark):
    """The registered one-level Strassen product is cell-identical to
    the direct join-agg flagship at the gate SF — same cells, same
    bits, no explicit zeros."""
    from matrix_multiplication_map_reduce_gcp_spark import registry

    qs = registry.load_all()
    sf = "/root/testdata/sf0.001"
    direct = {(r.i, r.j): r.v for r in qs["matmul"].fn(spark, sf).collect()}
    strassen = {
        (r.i, r.j): r.v
        for r in qs["matmul_strassen"].fn(spark, sf).collect()
    }
    assert strassen == direct
    assert all(v != 0.0 for v in strassen.values())
