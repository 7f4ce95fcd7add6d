"""Oracle-checkable matrix queries (the reference's flagship workload).

Each query derives deterministic COO operands from ``lineitem`` (see
matrix/fixtures.py) so the DuckDB oracle computes the identical
matrices, then exercises one linalg operator from matrix/coo.py.

Reference parity: the one computation the reference performs end-to-end
is C = A×B via replicate-map / group-by-key / sum-product-reduce
(reference mapper/main.py:24-41, orchestrator/main.py:118-126,
reducer/main.py:20-32). ``matmul`` here is the same computation as a
single Catalyst-planned join+agg; the rest of the module is the linalg
surface a real engine offers around it.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import load_table
from ..matrix.fixtures import (
    matrix_a,
    matrix_b,
    matrix_fold,
    matrix_sparse,
    sql_matrix_a,
    sql_matrix_b,
    sql_matrix_fold,
    sql_matrix_sparse,
)
from ..registry import query
from ..sources.matrixgen import sql_gen_value

# Shared SQL fragment: the oracle's sum of products, computed in
# decimal so it is exact independently of CooMatrix.multiply's float64
# sums. Both agree bit for bit because every fixture cell is an integer
# and every partial sum stays below 2^53 (matrix/fixtures.py).
_SQL_DOT = (
    "CAST(CAST(SUM(CAST(a.v AS DECIMAL(18,4)) * CAST(b.v AS DECIMAL(18,4))) AS STRING) AS DOUBLE)"
)


@query(
    "matmul",
    oracle=f"""
    WITH a AS ({sql_matrix_a()}), b AS ({sql_matrix_b()})
    SELECT a.i AS i, b.j AS j, {_SQL_DOT} AS v
    FROM a JOIN b ON a.j = b.i
    GROUP BY 1, 2
    """,
)
def matmul(spark, sf_dir):
    """Flagship: C = A(40×60) @ B(60×30) — non-square on purpose, to pin
    the shared-dimension semantics the reference got wrong for
    non-square shapes (SURVEY.md §2.2-2)."""
    return matrix_a(spark, sf_dir).multiply(matrix_b(spark, sf_dir)).df


@query(
    "matmul_sparse",
    oracle=f"""
    WITH a AS ({sql_matrix_sparse()}), b AS ({sql_matrix_b(rows=300, cols=40)})
    SELECT a.i AS i, b.j AS j, {_SQL_DOT} AS v
    FROM a JOIN b ON a.j = b.i
    GROUP BY 1, 2
    """,
)
def matmul_sparse(spark, sf_dir):
    """Sparse × dense: implicit zeros never materialize — inner-join
    semantics exactly as the reference's `if j in A and j in B`
    (reducer/main.py:31, SURVEY.md §2.2-1)."""
    a = matrix_sparse(spark, sf_dir)
    b = matrix_b(spark, sf_dir, rows=300, cols=40)
    return a.multiply(b).df


@query(
    "matmul_blocked",
    oracle=f"""
    WITH a AS ({sql_matrix_a()}), b AS ({sql_matrix_b()})
    SELECT a.i AS i, b.j AS j, {_SQL_DOT} AS v
    FROM a JOIN b ON a.j = b.i
    GROUP BY 1, 2
    """,
)
def matmul_blocked(spark, sf_dir):
    """Cuboid block matmul (matrix/block.py): one NumPy GEMM per
    cuboid in a cogroup applyInArrow — must equal the join-agg plan
    exactly on these integer-valued matrices, hence the same oracle."""
    from ..matrix.block import block_multiply

    return block_multiply(
        matrix_a(spark, sf_dir), matrix_b(spark, sf_dir), block_size=16
    ).df


@query(
    "matmul_mllib_blockmatrix",
    oracle=f"""
    WITH a AS ({sql_matrix_a()}), b AS ({sql_matrix_b()})
    SELECT a.i AS i, b.j AS j, {_SQL_DOT} AS v
    FROM a JOIN b ON a.j = b.i
    GROUP BY 1, 2
    """,
)
def matmul_mllib_blockmatrix(spark, sf_dir):
    """MLlib BlockMatrix.multiply path (distributed Breeze GEMM) —
    third independent implementation of the flagship computation."""
    from ..matrix.block import mllib_block_multiply

    return mllib_block_multiply(
        matrix_a(spark, sf_dir), matrix_b(spark, sf_dir), block_size=16
    )


@query(
    "matrix_transpose",
    oracle=f"""
    WITH a AS ({sql_matrix_a()})
    SELECT j AS i, i AS j, v FROM a
    """,
)
def matrix_transpose(spark, sf_dir):
    return matrix_a(spark, sf_dir).transpose().df


@query(
    "matrix_add",
    oracle=f"""
    WITH a AS ({sql_matrix_a(rows=50, cols=50)}), b AS ({sql_matrix_b(rows=50, cols=50)})
    SELECT COALESCE(a.i, b.i) AS i, COALESCE(a.j, b.j) AS j,
           COALESCE(a.v, 0) * 2.0 + COALESCE(b.v, 0) * 1.0 AS v
    FROM a FULL OUTER JOIN b ON a.i = b.i AND a.j = b.j
    """,
)
def matrix_add(spark, sf_dir):
    """alpha*A + beta*B with sparse full-outer-join semantics (50×50 —
    the reference's hardcoded live shape, orchestrator/main.py:43-48)."""
    a = matrix_a(spark, sf_dir, rows=50, cols=50)
    b = matrix_b(spark, sf_dir, rows=50, cols=50)
    return a.add(b, alpha=2.0, beta=1.0).df


@query(
    "matrix_hadamard",
    oracle=f"""
    WITH a AS ({sql_matrix_a(rows=50, cols=50)}), b AS ({sql_matrix_b(rows=50, cols=50)})
    SELECT a.i AS i, a.j AS j, a.v * b.v AS v
    FROM a JOIN b ON a.i = b.i AND a.j = b.j
    """,
)
def matrix_hadamard(spark, sf_dir):
    a = matrix_a(spark, sf_dir, rows=50, cols=50)
    b = matrix_b(spark, sf_dir, rows=50, cols=50)
    return a.hadamard(b).df


@query(
    "matrix_scale",
    oracle=f"""
    WITH a AS ({sql_matrix_a()})
    SELECT i, j, v * 2.5 AS v FROM a
    """,
)
def matrix_scale(spark, sf_dir):
    return matrix_a(spark, sf_dir).scale(2.5).df


@query(
    "matvec",
    oracle=f"""
    WITH a AS ({sql_matrix_a()}),
    x AS (SELECT p_partkey % 60 AS j, CAST(COUNT(*) AS DOUBLE) AS v
          FROM part GROUP BY 1)
    SELECT a.i AS i,
           CAST(CAST(SUM(CAST(a.v AS DECIMAL(18,4)) * CAST(x.v AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS v
    FROM a JOIN x ON a.j = x.j
    GROUP BY 1
    """,
)
def matvec(spark, sf_dir):
    """A @ x with the vector broadcast (zero shuffle on the matrix side)."""
    a = matrix_a(spark, sf_dir)
    x = (
        load_table(spark, sf_dir, "part")
        .groupBy((F.col("p_partkey") % 60).alias("j"))
        .agg(F.count("*").cast("double").alias("v"))
    )
    return a.matvec(x)


@query(
    "matrix_gram",
    oracle=f"""
    WITH m AS ({sql_matrix_a()})
    SELECT a.j AS i, b.j AS j,
           {_SQL_DOT} AS v
    FROM m a JOIN m b ON a.i = b.i
    GROUP BY 1, 2
    """,
)
def matrix_gram(spark, sf_dir):
    """Gram matrix AᵀA (60×60) via self-join on the row index."""
    return matrix_a(spark, sf_dir).gram().df


@query(
    "matrix_trace",
    oracle=f"""
    WITH a AS ({sql_matrix_a(rows=50, cols=50)})
    SELECT CAST(CAST(SUM(CAST(v AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS trace
    FROM a WHERE i = j
    """,
)
def matrix_trace(spark, sf_dir):
    return matrix_a(spark, sf_dir, rows=50, cols=50).trace()


@query(
    "matrix_frobenius",
    oracle=f"""
    WITH a AS ({sql_matrix_a()})
    SELECT CAST(CAST(SUM(CAST(v AS DECIMAL(18,4)) * CAST(v AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS fro_sq
    FROM a
    """,
)
def matrix_frobenius(spark, sf_dir):
    return matrix_a(spark, sf_dir).frobenius_sq()


# Q'(48x16) @ K(40x16)^T @ V(40x8): entry caps keep every chained
# product exact at any SF (matrix_fold docstring). The shared-inner
# dims are the fold moduli, so both engines derive identical operands.
_CHAIN_Q = ("l_orderkey", "l_partkey", 48, 16, 97)
_CHAIN_K = ("l_suppkey", "l_partkey", 40, 16, 97)
_CHAIN_V = ("l_suppkey", "l_orderkey", 40, 8, 97)


@query(
    "matmul_chain_assoc",
    oracle=f"""
    WITH qm AS ({sql_matrix_fold(*_CHAIN_Q)}),
    km AS ({sql_matrix_fold(*_CHAIN_K)}),
    vm AS ({sql_matrix_fold(*_CHAIN_V)}),
    ktv AS (
      SELECT km.j AS i, vm.j AS j,
             CAST(CAST(SUM(CAST(km.v AS DECIMAL(18,4)) * CAST(vm.v AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS v
      FROM km JOIN vm ON km.i = vm.i
      GROUP BY 1, 2)
    SELECT qm.i AS i, b.j AS j,
           CAST(CAST(SUM(CAST(qm.v AS DECIMAL(18,4)) * CAST(b.v AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS v
    FROM qm JOIN ktv b ON qm.j = b.i
    GROUP BY 1, 2
    """,
)
def matmul_chain_assoc(spark, sf_dir):
    """Matrix-chain evaluation order as a PLANNING decision:
    O = Q' @ Kᵀ @ V computed as Q' @ (Kᵀ @ V) — the small-inner-first
    ordering. Left-to-right would materialize the n_q×n_k score matrix
    (quadratic in the row counts — at corpus scale, the attention-
    matrix blow-up); associating right-first materializes only the
    d×d_v inner product (CONSTANT 16×8 here, independent of n_q/n_k),
    which then broadcasts into the final join — the same associativity
    trick linear-attention kernels use to drop O(n²) to O(n·d·d_v),
    and the linalg twin of join reordering. Exact integer-valued
    entries make the two orderings bit-identical, so the oracle is
    simply the chained product. Chain-order choice is the caller's
    here; CooMatrix.multiply's broadcast threshold turns the tiny
    intermediate into a map-side join automatically."""
    q = matrix_fold(spark, sf_dir, *_CHAIN_Q)
    k = matrix_fold(spark, sf_dir, *_CHAIN_K)
    v = matrix_fold(spark, sf_dir, *_CHAIN_V)
    ktv = k.transpose().multiply(v)
    return q.multiply(ktv).df


@query(
    "matrixgen_source_stats",
    oracle=f"""
    WITH ij AS (
      SELECT a.range AS i, b.range AS j FROM range(60) a, range(60) b),
    vals AS (
      SELECT i, j, {sql_gen_value(7, 'i', 'j')} AS v
      FROM ij)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_entries,
           CAST(SUM(v) AS BIGINT) AS sum_v,
           CAST(SUM(CASE WHEN i = j THEN v ELSE 0 END) AS BIGINT) AS trace,
           CAST(SUM(v * v) AS BIGINT) AS sum_sq
    FROM vals
    """,
)
def matrixgen_source_stats(spark, sf_dir):
    """Custom Python DataSource end-to-end: read a 60x60 matrix from
    the `matrixgen` source (4 partition readers planned by the source
    itself — sources/matrixgen.py) and reduce it to integer-exact
    stats. The oracle regenerates the identical matrix in DuckDB from
    the same md5 cell formula — a full cross-engine check of a source
    that never touches disk. Ignores sf_dir by design: the source IS
    the data (the reference's client-side random generator, inverted
    into a parallel scan)."""
    from ..sources.matrixgen import register_matrixgen

    register_matrixgen(spark)
    m = (
        spark.read.format("matrixgen")
        .option("n", 60)
        .option("seed", 7)
        .option("partitions", 4)
        .load()
    )
    return m.agg(
        F.count("*").alias("n_entries"),
        F.sum("v").alias("sum_v"),
        F.sum(F.when(F.col("i") == F.col("j"), F.col("v")).otherwise(0)).alias(
            "trace"
        ),
        F.sum(F.col("v") * F.col("v")).alias("sum_sq"),
    )


@query(
    "matmul_strassen",
    oracle=f"""
    WITH a AS ({sql_matrix_a()}), b AS ({sql_matrix_b()})
    SELECT a.i AS i, b.j AS j, {_SQL_DOT} AS v
    FROM a JOIN b ON a.j = b.i
    GROUP BY 1, 2
    """,
)
def matmul_strassen(spark, sf_dir):
    """One level of STRASSEN's algorithm over the flagship product,
    planned the Spark-first way: the Strassen tensor IS a replication
    flatMap. Each A cell is tagged with the (term, sign) pairs of the
    left factors it feeds — A11 -> {M1, M3, M5, -M6}, A22 ->
    {M1, M2, M4, -M7}, ... — and each B cell with its right factors,
    so ALL SEVEN half-size products run as ONE equi-join on
    (term, shared-dim) + one hash aggregation; a second tagged explode
    scatters M1..M7 into the C quadrants (C11 = M1+M4-M5+M7, C12 =
    M3+M5, C21 = M2+M4, C22 = M1-M2+M3+M6) and one final groupBy
    assembles C. Pre-aggregating the quadrant sums is unnecessary —
    the product is bilinear, so the join multiplies raw tagged cells
    and the aggregation distributes the sums.

    Cost shape: two scans (operand derivation), a broadcast of the
    ~4x-replicated A side (2400 cells x <= 4 tags), ONE shuffle for
    the seven products' aggregation and one bounded shuffle for
    assembly — versus the naive formulation's 7 separate products +
    12 quadrant-add joins (measured 4.5 s vs ~1 s at sf0.1; lineage
    replay of the operand scans dominated). At 100 TB the recursion
    level trades an eighth of the multiply FLOPs and join volume for
    the x7/4 replication map — the communication-avoiding matmul
    trade, with the replication expressed exactly like the
    reference's mapper (SURVEY O4) but carrying Strassen's signs.
    The fixture matrices are integer-valued, so every reassociation/
    cancellation is exact and the oracle demands bit equality with
    the direct join-agg product; explicit 0.0 cells from Strassen
    cancellations are filtered, which is sound because integer
    arithmetic makes every true zero exactly 0.0 (pinned in
    tests/test_matrix.py)."""
    a = matrix_a(spark, sf_dir)
    b = matrix_b(spark, sf_dir)
    hr, hc, hk = a.n_rows // 2, a.n_cols // 2, b.n_cols // 2
    left_tags = f"""
      CASE
        WHEN i < {hr} AND j < {hc} THEN
          array(struct(1,1), struct(3,1), struct(5,1), struct(6,-1))
        WHEN i < {hr} THEN array(struct(5,1), struct(7,1))
        WHEN j < {hc} THEN array(struct(2,1), struct(6,1))
        ELSE array(struct(1,1), struct(2,1), struct(4,1), struct(7,-1))
      END
    """
    right_tags = f"""
      CASE
        WHEN i < {hc} AND j < {hk} THEN
          array(struct(1,1), struct(2,1), struct(4,-1), struct(6,1))
        WHEN i < {hc} THEN array(struct(3,1), struct(6,1))
        WHEN j < {hk} THEN array(struct(4,1), struct(7,1))
        ELSE array(struct(1,1), struct(3,-1), struct(5,1), struct(7,1))
      END
    """
    lhs = (
        a.df
        .select("i", "j", "v", F.explode(F.expr(left_tags)).alias("tag"))
        .select(
            F.col("tag.col1").alias("t"),
            (F.col("i") % hr).alias("il"),
            (F.col("j") % hc).alias("jl"),
            (F.col("v") * F.col("tag.col2")).alias("va"),
        )
    )
    rhs = (
        b.df
        .select("i", "j", "v", F.explode(F.expr(right_tags)).alias("tag"))
        .select(
            F.col("tag.col1").alias("t"),
            (F.col("i") % hc).alias("jl"),
            (F.col("j") % hk).alias("kl"),
            (F.col("v") * F.col("tag.col2")).alias("vb"),
        )
    )
    products = (
        F.broadcast(lhs)
        .join(rhs, ["t", "jl"])
        .groupBy("t", "il", "kl")
        .agg(F.sum(F.col("va") * F.col("vb")).alias("mv"))
    )
    assemble_tags = """
      CASE t
        WHEN 1 THEN array(struct(0,0,1), struct(1,1,1))
        WHEN 2 THEN array(struct(1,0,1), struct(1,1,-1))
        WHEN 3 THEN array(struct(0,1,1), struct(1,1,1))
        WHEN 4 THEN array(struct(0,0,1), struct(1,0,1))
        WHEN 5 THEN array(struct(0,0,-1), struct(0,1,1))
        WHEN 6 THEN array(struct(1,1,1))
        ELSE array(struct(0,0,1))
      END
    """
    out = (
        products
        .select("il", "kl", "mv", F.explode(F.expr(assemble_tags)).alias("q"))
        .groupBy(
            (F.col("il") + F.col("q.col1") * hr).alias("i"),
            (F.col("kl") + F.col("q.col2") * hk).alias("j"),
        )
        .agg(F.sum(F.col("mv") * F.col("q.col3")).alias("v"))
        .filter(F.col("v") != 0.0)
    )
    return out
