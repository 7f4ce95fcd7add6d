"""Property-based checks (hypothesis): algebraic laws of the matrix
operators hold for arbitrary shapes/densities — the generalization of
the fixed-seed NumPy tests."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from matrix_multiplication_map_reduce_gcp_spark.matrix import CooMatrix

SLOW = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def to_coo(spark, m):
    rows = [
        (int(i), int(j), float(m[i, j]))
        for i in range(m.shape[0])
        for j in range(m.shape[1])
        if m[i, j] != 0.0
    ]
    df = spark.createDataFrame(rows or [(0, 0, 0.0)], "i long, j long, v double")
    if not rows:
        df = df.filter("v != 0.0")
    return CooMatrix(df, m.shape[0], m.shape[1])


@st.composite
def int_matrix(draw, max_dim=8):
    r = draw(st.integers(1, max_dim))
    c = draw(st.integers(1, max_dim))
    density = draw(st.sampled_from([0.2, 0.6, 1.0]))
    seed = draw(st.integers(0, 2**16))
    rng = np.random.default_rng(seed)
    m = rng.integers(-9, 10, (r, c)).astype(float)
    mask = rng.random((r, c)) < density
    return m * mask


@given(data=st.data())
@settings(**SLOW)
def test_matmul_matches_numpy_any_shape(spark, data):
    a = data.draw(int_matrix())
    b_cols = data.draw(st.integers(1, 8))
    rng = np.random.default_rng(data.draw(st.integers(0, 2**16)))
    b = rng.integers(-9, 10, (a.shape[1], b_cols)).astype(float)
    got = to_coo(spark, a).multiply(to_coo(spark, b)).to_numpy()
    np.testing.assert_allclose(got, a @ b, rtol=0)


@given(data=st.data())
@settings(**SLOW)
def test_transpose_involution_and_add_commutes(spark, data):
    a = data.draw(int_matrix())
    A = to_coo(spark, a)
    np.testing.assert_allclose(A.transpose().transpose().to_numpy(), a, rtol=0)
    b = data.draw(int_matrix(max_dim=8))
    if b.shape != a.shape:
        b = np.resize(b, a.shape)
    B = to_coo(spark, b)
    np.testing.assert_allclose(
        A.add(B).to_numpy(), B.add(A).to_numpy(), rtol=0
    )


@given(data=st.data())
@settings(**SLOW)
def test_distributivity_a_times_b_plus_c(spark, data):
    a = data.draw(int_matrix(max_dim=6))
    rng = np.random.default_rng(data.draw(st.integers(0, 2**16)))
    b = rng.integers(-9, 10, (a.shape[1], 4)).astype(float)
    c = rng.integers(-9, 10, (a.shape[1], 4)).astype(float)
    A, B, C = to_coo(spark, a), to_coo(spark, b), to_coo(spark, c)
    left = A.multiply(B.add(C)).to_numpy()
    right_df = A.multiply(B).add(A.multiply(C))
    np.testing.assert_allclose(left, right_df.to_numpy(), rtol=0)


def to_coo_split(spark, m, rng):
    """COO of ``m`` where about a third of the cells come as two entries
    that must be summed: (v - d, d) for a nonzero v, (d, -d) for a
    zero cell. Integer parts keep every sum exact."""
    rows = []
    for (i, j), v in np.ndenumerate(m):
        d = float(rng.integers(1, 6))
        if rng.random() < 1 / 3:
            rows += [(i, j, v - d), (i, j, d)]
        elif v:
            rows.append((i, j, v))
    rows = [(int(i), int(j), float(v)) for i, j, v in rows if v]
    df = spark.createDataFrame(rows or [(0, 0, 0.0)], "i long, j long, v double")
    return CooMatrix(df if rows else df.filter("v != 0.0"), *m.shape)


@st.composite
def block_case(draw, max_dim=13):
    """(a, b, block_size, seed, split_q): random shapes that are mostly
    not multiples of block_size, densities down to an all-zero
    operand, and an optional all-zero band of A's columns, so some
    blocks are empty."""
    r, c, k = (draw(st.integers(1, max_dim)) for _ in range(3))
    bs = draw(st.integers(1, 5))
    seed = draw(st.integers(0, 2**16))
    rng = np.random.default_rng(seed)
    a, b = (
        rng.integers(-9, 10, shape) * (rng.random(shape) < draw(st.sampled_from([0.0, 0.3, 1.0])))
        for shape in ((r, c), (c, k))
    )
    if draw(st.booleans()):
        a[:, : min(bs, c)] = 0
    return a.astype(float), b.astype(float), bs, seed, draw(st.booleans())


@given(case=block_case())
@example(case=(np.array([[3.0]]), np.array([[-4.0]]), 2, 1, False))
@example(case=(np.zeros((6, 5)), np.ones((5, 7)), 2, 2, False))
@example(case=(np.arange(42.0).reshape(6, 7) - 20, np.arange(35.0).reshape(7, 5), 3, 3, True))
@settings(**SLOW)
def test_block_multiply_matches_numpy(spark, case):
    """The cuboid block product against NumPy, exact: duplicate COO
    entries sum, empty blocks and operands yield no entries, and a
    forced split of the shared dimension (Q > 1, summed partials) gives
    the same product as Q = 1."""
    import matrix_multiplication_map_reduce_gcp_spark.matrix.block as block

    a, b, bs, seed, split_q = case
    rng = np.random.default_rng(seed)
    with pytest.MonkeyPatch.context() as mp:
        if split_q:
            mp.setattr(block, "CUBOID_MAX_BYTES", block._cuboid_bytes(1, 1, 1, bs))
        c = block.block_multiply(to_coo_split(spark, a, rng), to_coo_split(spark, b, rng), bs)
        got = c.to_numpy()
    np.testing.assert_array_equal(got, a @ b)


@st.composite
def json_pair(draw, max_dim=7):
    r, c, k = (draw(st.integers(1, max_dim)) for _ in range(3))
    rng = np.random.default_rng(draw(st.integers(0, 2**16)))
    return rng.integers(-9, 10, (r, c)), rng.integers(-9, 10, (c, k)), draw(st.booleans())


@given(pair=json_pair())
@example(pair=(np.arange(5).reshape(1, 5), np.arange(5).reshape(5, 1), False))
@example(pair=(np.arange(5).reshape(5, 1), np.arange(5).reshape(1, 5), True))
@example(pair=(np.array([[1, 2], [0, 0], [3, -4]]), np.array([[5, 0, -1], [6, 0, 2]]), True))
@example(pair=(np.arange(60).reshape(20, 3) - 30, np.arange(6).reshape(3, 2) - 2, False))
@settings(**SLOW)
def test_multiply_json_matches_numpy(spark, pair):
    """multiply_json against NumPy on random shapes, with int or float
    JSON elements. The examples pin an all-zero row of A and column of
    B (cells absent from the product's COO, so the dense assembly must
    fill them with 0.0) and more rows of A than the test session's
    task slots."""
    import json

    from matrix_multiplication_map_reduce_gcp_spark.matrix.facade import multiply_json

    a, b, as_float = pair
    if as_float:
        a, b = a.astype(float), b.astype(float)
    out = multiply_json(spark, json.dumps(a.tolist()), json.dumps(b.tolist()))
    np.testing.assert_array_equal(np.array(json.loads(out)), a @ b)


@st.composite
def edge_list(draw, max_nodes=30):
    n = draw(st.integers(2, max_nodes))
    n_edges = draw(st.integers(0, min(40, n * 2)))
    edges = [
        tuple(
            sorted(
                (
                    draw(st.integers(1, n)),
                    draw(st.integers(1, n)),
                )
            )
        )
        for _ in range(n_edges)
    ]
    return n, [(a, b) for a, b in edges if a != b]


@given(data=edge_list())
@settings(**SLOW)
def test_connected_components_match_union_find(spark, data):
    """Pointer-jumping min-label propagation must agree with a plain
    union-find on arbitrary graphs (chains, stars, cliques, forests,
    self-contained duplicates) — the generalization of the fixed
    known-graph tests."""
    from matrix_multiplication_map_reduce_gcp_spark.dedup.clusters import (
        connected_components,
    )

    n, edges = data

    parent = list(range(n + 1))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in range(1, n + 1)}

    pairs = spark.createDataFrame(
        edges or [(1, 1)], "doc_a long, doc_b long"
    )
    if not edges:
        pairs = pairs.filter("doc_a != doc_b")
    nodes = spark.createDataFrame(
        [(i,) for i in range(1, n + 1)], "doc_id long"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs, nodes).collect()
    }
    assert got == want
