"""Distributed linear algebra on COO (coordinate-form) DataFrames.

This is the reference engine's entire capability surface — dense
matmul via MapReduce over Cloud Functions + GCS (reference
orchestrator/main.py, mapper/main.py, reducer/main.py) — re-expressed
Spark-first: the replication mapper + centralized shuffle + per-cell
reducer collapse into one ``join + groupBy().agg()`` plan (SURVEY.md
§2.2-5), which cuts shuffle volume from O(n^3) to O(n^2) while
preserving semantics exactly. Every operator sums in float64 like the
reference's reducer: exact in any order while every cell is an
integer and every partial sum stays below 2^53.
"""

from .coo import CooMatrix, validate_matmul_dims
from .dense import dense_rows_to_coo, shred_json_matrix

__all__ = [
    "CooMatrix",
    "validate_matmul_dims",
    "dense_rows_to_coo",
    "shred_json_matrix",
]
