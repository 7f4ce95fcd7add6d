"""Reference-parity entry point: multiply two matrices in the
reference's own wire format.

The reference's user interface is an HTTP POST to the orchestrator
with two GCS blob names containing JSON list-of-lists matrices; the
result is another JSON list-of-lists blob (reference
orchestrator/main.py:41-158, test/test.py:59-73). A user switching to
this engine calls :func:`multiply_json` (or the module CLI) with the
same payloads and gets the same answer — computed as one Catalyst
join+agg task instead of ~2,500 HTTP round-trips, summed in float64
like the reference's reducer (reducer/main.py:20-32).

CLI: ``python -m matrix_multiplication_map_reduce_gcp_spark.matrix.facade A.json B.json -o C.json``
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession

from .coo import CooMatrix, validate_matmul_dims
from .dense import shred_json_matrix


def multiply_json(spark: SparkSession, a_json: str, b_json: str) -> str:
    """JSON list-of-lists × JSON list-of-lists → JSON list-of-lists.

    Mirrors the reference's end-to-end semantics, including the
    dimension check its live path skipped (orchestrator/main.py:187-188
    was commented out), and its float64 arithmetic: the product is
    exact in any summation order while every cell is an integer and
    every partial sum stays below 2^53.

    A's entries stay in the one partition of their JSON source, so the
    broadcast join and both (i, k) aggregates run as one task with no
    shuffle. Hash-partitioning A on ``i`` over every slot measured
    faster at n=300 but no faster at n=100, with a higher JVM heap peak
    (SCALING.md, JSON facade)."""
    a_shape = _shape("A", json.loads(a_json))
    b_shape = _shape("B", json.loads(b_json))
    validate_matmul_dims(*a_shape, *b_shape)

    a = CooMatrix(shred_json_matrix(spark, a_json), *a_shape)
    b = CooMatrix(shred_json_matrix(spark, b_json), *b_shape)
    return json.dumps(a.multiply(b).to_numpy().tolist())


def _shape(name: str, rows) -> tuple[int, int]:
    """(rows, cols) of a parsed list-of-lists of numbers. Spark's
    from_json nulls the whole matrix on one non-numeric element and
    the shred drops or zero-fills ragged rows, so either would be a
    silently wrong product: raise ValueError naming the operand, row
    and column instead."""
    if not isinstance(rows, list):
        raise ValueError(f"{name}: expected a list of rows, got {type(rows).__name__}")
    width = len(rows[0]) if rows and isinstance(rows[0], list) else 0
    for r, row in enumerate(rows):
        if not isinstance(row, list):
            raise ValueError(f"{name} row {r}: expected a list, got {type(row).__name__}")
        if len(row) != width:
            raise ValueError(
                f"{name} row {r}, column {min(len(row), width)}: row has "
                f"{len(row)} columns, row 0 has {width}"
            )
        for c, x in enumerate(row):
            if isinstance(x, bool) or not isinstance(x, (int, float)):
                raise ValueError(f"{name} row {r}, column {c}: {x!r} is not a number")
    return len(rows), width


def main(argv: list[str] | None = None) -> None:
    import argparse

    from ..session import get_spark

    p = argparse.ArgumentParser(description="C = A @ B on JSON list-of-lists files")
    p.add_argument("a_path")
    p.add_argument("b_path")
    p.add_argument("-o", "--out", default="-")
    args = p.parse_args(argv)

    spark = get_spark(app_name="matrix_multiplication_map_reduce_gcp_spark-matmul")
    with open(args.a_path) as fa, open(args.b_path) as fb:
        result = multiply_json(spark, fa.read(), fb.read())
    if args.out == "-":
        print(result)
    else:
        with open(args.out, "w") as fo:
            fo.write(result)


if __name__ == "__main__":
    main()
