"""COO matrix model + distributed operators.

Canonical form: DataFrame ``(i: long, j: long, v: double)`` with
implicit zeros (sparse-safe). This preserves the reference's
inner-join-on-the-shared-dimension semantics (reference
reducer/main.py:28-32 multiplies only where j exists in both sides —
SURVEY.md §2.2-1) while fixing its shared-dimension bug for
non-square shapes (reducer/main.py:30 iterated rows_A instead of
cols_A — SURVEY.md §2.2-2): here the join key *is* the shared
dimension, so the correct semantics fall out of the plan.

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

# Elements whose product appears in a matmul: keep them exact so the
# result is order-independent (see functions/exact.py). (18,4) × (18,4)
# → (37,8) product stays inside Spark's 38-digit cap with no scale
# reduction, so integer-valued and 2-decimal matrices stay exact.
_DEC = "decimal(18,4)"

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
    """A distributed sparse/dense matrix in coordinate form.

    ``df`` columns: row index, col index, value (names configurable so
    A(i,j) and B(j,k) can share the natural algebra notation).
    """

    df: DataFrame
    n_rows: int
    n_cols: int
    row: str = "i"
    col: str = "j"
    val: str = "v"

    # ---- shape / metadata ------------------------------------------------
    @property
    def shape(self) -> tuple[int, int]:
        return (self.n_rows, self.n_cols)

    def nnz(self) -> int:
        return self.df.count()

    def with_names(self, row: str, col: str, val: str = "v") -> "CooMatrix":
        df = self.df.select(
            F.col(self.row).alias(row), F.col(self.col).alias(col), F.col(self.val).alias(val)
        )
        return CooMatrix(df, self.n_rows, self.n_cols, row, col, val)

    # ---- unary ops -------------------------------------------------------
    def transpose(self) -> "CooMatrix":
        df = self.df.select(
            F.col(self.col).alias("i"), F.col(self.row).alias("j"), F.col(self.val).alias("v")
        )
        return CooMatrix(df, self.n_cols, self.n_rows)

    def scale(self, alpha: float) -> "CooMatrix":
        df = self.df.select(
            F.col(self.row).alias("i"),
            F.col(self.col).alias("j"),
            (F.col(self.val) * F.lit(alpha)).alias("v"),
        )
        return CooMatrix(df, self.n_rows, self.n_cols)

    def trace(self) -> DataFrame:
        """1-row DataFrame with the exact trace (diagonal sum)."""
        return (
            self.df.filter(F.col(self.row) == F.col(self.col))
            .agg(F.sum(F.col(self.val).cast(_DEC)).cast("double").alias("trace"))
        )

    def frobenius_sq(self) -> DataFrame:
        """1-row DataFrame with the exact squared Frobenius norm."""
        sq = F.col(self.val).cast(_DEC) * F.col(self.val).cast(_DEC)
        return self.df.agg(F.sum(sq).cast("double").alias("fro_sq"))

    # ---- binary ops ------------------------------------------------------
    def add(self, other: "CooMatrix", alpha: float = 1.0, beta: float = 1.0) -> "CooMatrix":
        """alpha*A + beta*B with sparse (implicit-zero) semantics: a
        full outer join on (i, j) with missing entries as 0."""
        if self.shape != other.shape:
            raise ValueError(f"shape mismatch for add: {self.shape} vs {other.shape}")
        a = self.with_names("i", "j").df
        b = other.with_names("i", "j").df.withColumnRenamed("v", "v_b")
        joined = a.join(b, ["i", "j"], "full_outer")
        v = F.coalesce(F.col("v"), F.lit(0.0)) * F.lit(alpha) + F.coalesce(
            F.col("v_b"), F.lit(0.0)
        ) * F.lit(beta)
        return CooMatrix(joined.select("i", "j", v.alias("v")), *self.shape)

    def hadamard(self, other: "CooMatrix") -> "CooMatrix":
        """Element-wise product; inner join (zero * anything = zero)."""
        if self.shape != other.shape:
            raise ValueError(f"shape mismatch for hadamard: {self.shape} vs {other.shape}")
        a = self.with_names("i", "j").df
        b = other.with_names("i", "j").df.withColumnRenamed("v", "v_b")
        out = a.join(b, ["i", "j"]).select("i", "j", (F.col("v") * F.col("v_b")).alias("v"))
        return CooMatrix(out, *self.shape)

    def multiply(self, other: "CooMatrix", exact: bool = True) -> "CooMatrix":
        """C = A @ B as equi-join on the shared dimension + hash agg.

        Replaces the reference's whole map/shuffle/reduce pipeline
        (mapper replication mapper/main.py:24-41; centralized shuffle
        orchestrator/main.py:118-126; reducer sum-product
        reducer/main.py:20-32) with one Catalyst-planned join-agg.

        ``exact=True`` casts each cell to decimal(18,4) and sums the
        products in decimal, so the result does not depend on the
        summation order (needed for cross-engine hash checks and
        deterministic under AQE re-planning). It is exact only for
        cells with at most 4 fractional digits and |x| < 10^14:
        smaller digits are rounded away and larger values raise.
        ``exact=False`` sums in float64, the reference's own arithmetic
        (reducer/main.py:20-32); it is exact in any order when every
        cell is an integer and n·max|A|·max|B| ≤ 2^53.
        """
        validate_matmul_dims(self.n_rows, self.n_cols, other.n_rows, other.n_cols)
        a = self.with_names("i", "j").df
        b = other.with_names("j", "k").df.withColumnRenamed("v", "v_b")
        if other.n_rows * other.n_cols <= BROADCAST_MAX_ENTRIES:
            b = F.broadcast(b)
        elif self.n_rows * self.n_cols <= BROADCAST_MAX_ENTRIES:
            a = F.broadcast(a)
        joined = a.join(b, "j")
        if exact:
            prod = F.col("v").cast(_DEC) * F.col("v_b").cast(_DEC)
            agg = F.sum(prod).cast("double").alias("v")
        else:
            agg = F.sum(F.col("v") * F.col("v_b")).alias("v")
        out = (
            joined.groupBy("i", "k")
            .agg(agg)
            .select("i", F.col("k").alias("j"), "v")
        )
        return CooMatrix(out, self.n_rows, other.n_cols)

    def matvec(self, vec: DataFrame, idx: str = "j", val: str = "v") -> DataFrame:
        """A @ x for a vector DataFrame (idx, val); returns (i, v).

        The vector is broadcast — zero shuffle on the matrix side
        until the final (narrow) aggregation by i.
        """
        x = F.broadcast(vec.select(F.col(idx).alias("__vj"), F.col(val).alias("__vx")))
        joined = self.df.join(x, F.col(self.col) == F.col("__vj"))
        prod = F.col(self.val).cast(_DEC) * F.col("__vx").cast(_DEC)
        return (
            joined.groupBy(F.col(self.row).alias("i"))
            .agg(F.sum(prod).cast("double").alias("v"))
        )

    def gram(self) -> "CooMatrix":
        """Aᵀ A via self-join on the row index (shared dim of AᵀA)."""
        left = self.df.select(
            F.col(self.row).alias("r"), F.col(self.col).alias("i"), F.col(self.val).alias("va")
        )
        right = self.df.select(
            F.col(self.row).alias("r"), F.col(self.col).alias("k"), F.col(self.val).alias("vb")
        )
        prod = F.col("va").cast(_DEC) * F.col("vb").cast(_DEC)
        out = (
            left.join(right, "r")
            .groupBy("i", F.col("k").alias("j"))
            .agg(F.sum(prod).cast("double").alias("v"))
            .select("i", "j", "v")
        )
        return CooMatrix(out, self.n_cols, self.n_cols)

    # ---- driver-side materialization ------------------------------------
    def to_numpy(self):
        """Dense float64 ndarray, absent entries zero — ONLY for
        matrices that fit the driver. Mirrors the reference's assembly
        step (orchestrator/main.py:22-39) but via one Arrow collect of
        the entries scattered into NumPy, not per-cell blobs."""
        import numpy as np

        t = self.df.toArrow()
        i, j, v = (t.column(c) for c in (self.row, self.col, self.val))
        if i.null_count or j.null_count or v.null_count:
            raise ValueError("to_numpy: COO entry with a null index or value")
        dense = np.zeros((self.n_rows, self.n_cols))
        dense[i.to_numpy(), j.to_numpy()] = v.to_numpy()
        return dense
