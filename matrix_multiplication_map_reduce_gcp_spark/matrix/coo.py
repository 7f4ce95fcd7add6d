"""COO matrix model + distributed operators.

Canonical form: DataFrame ``(i: long, j: long, v: double)`` with
implicit zeros (sparse-safe). This preserves the reference's
inner-join-on-the-shared-dimension semantics (reference
reducer/main.py:28-32 multiplies only where j exists in both sides —
SURVEY.md §2.2-1) while fixing its shared-dimension bug for
non-square shapes (reducer/main.py:30 iterated rows_A instead of
cols_A — SURVEY.md §2.2-2): here the join key *is* the shared
dimension, so the correct semantics fall out of the plan.

Arithmetic: every operator sums in float64, like the reference's
reducer (reducer/main.py:20-32) and the cuboid GEMM (block.py).
float64 is exact in any summation order while every cell is an
integer and every partial sum stays below 2^53; past that, the last
bits of a sum may depend on the order Spark adds its terms in.

Scale notes
-----------
- ``multiply`` is a plain equi-join on the shared dim + hash agg on
  (i, k). Shuffle volume is O(nnz_A + nnz_B) into the join plus the
  join output into the agg — strictly better than the reference's
  replication mapper, which multiplied volume by the opposite
  dimension (mapper/main.py:24-41, O(n^3) for dense n×n).
- When one operand is small (a vector, a skinny projection matrix) we
  broadcast it — no shuffle at all on the big side.
- For dense-dense at very large n the join-agg output explodes at the
  agg input (one row per (i,j,k) triple). ``matrix/block.py`` provides
  the cuboid block algorithm (one NumPy GEMM per cuboid inside a
  cogroup applyInArrow) that keeps the shuffle at O(blocks) instead.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Broadcast the small side of a multiply when its entry count is below
# this (entries are 24B rows; 2M entries ≈ 50 MB broadcast).
BROADCAST_MAX_ENTRIES = 2_000_000


def validate_matmul_dims(a_rows: int, a_cols: int, b_rows: int, b_cols: int) -> None:
    """Planning-time dimension check (the reference only had this in a
    commented-out variant, orchestrator/main.py:187-188)."""
    if a_cols != b_rows:
        raise ValueError(
            f"incompatible shapes for matmul: ({a_rows}x{a_cols}) @ ({b_rows}x{b_cols})"
        )


@dataclass(frozen=True)
class CooMatrix:
    """A distributed sparse/dense matrix in coordinate form: ``df`` has
    the columns ``(i long, j long, v double)``."""

    df: DataFrame
    n_rows: int
    n_cols: int

    # ---- shape / metadata ------------------------------------------------
    @property
    def shape(self) -> tuple[int, int]:
        return (self.n_rows, self.n_cols)

    def nnz(self) -> int:
        return self.df.count()

    # ---- unary ops -------------------------------------------------------
    def transpose(self) -> "CooMatrix":
        df = self.df.select(F.col("j").alias("i"), F.col("i").alias("j"), "v")
        return CooMatrix(df, self.n_cols, self.n_rows)

    def scale(self, alpha: float) -> "CooMatrix":
        df = self.df.select("i", "j", (F.col("v") * F.lit(alpha)).alias("v"))
        return CooMatrix(df, self.n_rows, self.n_cols)

    def trace(self) -> DataFrame:
        """1-row DataFrame with the trace (diagonal sum)."""
        return self.df.filter(F.col("i") == F.col("j")).agg(F.sum("v").alias("trace"))

    def frobenius_sq(self) -> DataFrame:
        """1-row DataFrame with the squared Frobenius norm."""
        return self.df.agg(F.sum(F.col("v") * F.col("v")).alias("fro_sq"))

    # ---- binary ops ------------------------------------------------------
    def add(self, other: "CooMatrix", alpha: float = 1.0, beta: float = 1.0) -> "CooMatrix":
        """alpha*A + beta*B with sparse (implicit-zero) semantics: a
        full outer join on (i, j) with missing entries as 0."""
        if self.shape != other.shape:
            raise ValueError(f"shape mismatch for add: {self.shape} vs {other.shape}")
        b = other.df.withColumnRenamed("v", "v_b")
        joined = self.df.join(b, ["i", "j"], "full_outer")
        v = F.coalesce(F.col("v"), F.lit(0.0)) * F.lit(alpha) + F.coalesce(
            F.col("v_b"), F.lit(0.0)
        ) * F.lit(beta)
        return CooMatrix(joined.select("i", "j", v.alias("v")), *self.shape)

    def hadamard(self, other: "CooMatrix") -> "CooMatrix":
        """Element-wise product; inner join (zero * anything = zero)."""
        if self.shape != other.shape:
            raise ValueError(f"shape mismatch for hadamard: {self.shape} vs {other.shape}")
        b = other.df.withColumnRenamed("v", "v_b")
        out = self.df.join(b, ["i", "j"]).select("i", "j", (F.col("v") * F.col("v_b")).alias("v"))
        return CooMatrix(out, *self.shape)

    def multiply(self, other: "CooMatrix") -> "CooMatrix":
        """C = A @ B as equi-join on the shared dimension + hash agg.

        Replaces the reference's whole map/shuffle/reduce pipeline
        (mapper replication mapper/main.py:24-41; centralized shuffle
        orchestrator/main.py:118-126; reducer sum-product
        reducer/main.py:20-32) with one Catalyst-planned join-agg.

        Sums in float64, the reference reducer's own arithmetic
        (reducer/main.py:20-32): exact in any summation order while
        every cell is an integer and every partial sum stays below
        2^53."""
        validate_matmul_dims(self.n_rows, self.n_cols, other.n_rows, other.n_cols)
        a = self.df
        b = other.df.select(F.col("i").alias("j"), F.col("j").alias("k"), F.col("v").alias("v_b"))
        if other.n_rows * other.n_cols <= BROADCAST_MAX_ENTRIES:
            b = F.broadcast(b)
        elif self.n_rows * self.n_cols <= BROADCAST_MAX_ENTRIES:
            a = F.broadcast(a)
        out = (
            a.join(b, "j")
            .groupBy("i", "k")
            .agg(F.sum(F.col("v") * F.col("v_b")).alias("v"))
            .select("i", F.col("k").alias("j"), "v")
        )
        return CooMatrix(out, self.n_rows, other.n_cols)

    def matvec(self, vec: DataFrame) -> DataFrame:
        """A @ x for a vector DataFrame ``(j, v)``; returns ``(i, v)``.

        x is multiplied as an n×1 matrix, so it is broadcast: no
        shuffle on the matrix side until the aggregation by i."""
        x = vec.select(F.col("j").alias("i"), F.lit(0).cast("long").alias("j"), "v")
        return self.multiply(CooMatrix(x, self.n_cols, 1)).df.select("i", "v")

    def gram(self) -> "CooMatrix":
        """Aᵀ A: the row index is the shared dimension."""
        return self.transpose().multiply(self)

    # ---- driver-side materialization ------------------------------------
    def to_numpy(self):
        """Dense float64 ndarray, absent entries zero — ONLY for
        matrices that fit the driver. Mirrors the reference's assembly
        step (orchestrator/main.py:22-39) but via one Arrow collect of
        the entries scattered into NumPy, not per-cell blobs."""
        import numpy as np

        t = self.df.toArrow()
        i, j, v = (t.column(c) for c in ("i", "j", "v"))
        if i.null_count or j.null_count or v.null_count:
            raise ValueError("to_numpy: COO entry with a null index or value")
        dense = np.zeros((self.n_rows, self.n_cols))
        dense[i.to_numpy(), j.to_numpy()] = v.to_numpy()
        return dense
