"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` is a smoke check. Each ``queries()[name]`` runs at
sf=0.01 and is compared against the matching ``oracle_sql()[name]``
via DuckDB (row-count + schema + order-insensitive value-hash), as
``tests/test_registry_oracle.py`` does. Both dicts follow the
registry's canonical order (``registry.load_all()``).

All real logic lives in the ``matrix_multiplication_map_reduce_gcp_spark`` package;
this file only adapts the registry to the driver's shape.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from matrix_multiplication_map_reduce_gcp_spark import registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: COO matmul C = A @ B —
    the reference's one end-to-end computation, as a single Catalyst
    join+agg plan."""
    registry.load_all()
    return registry.QUERIES["matmul"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: qd.fn for name, qd in registry.load_all().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for every SQL-expressible query."""
    return {
        name: qd.oracle
        for name, qd in registry.load_all().items()
        if qd.oracle is not None
    }
