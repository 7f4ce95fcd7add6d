"""Shared fixtures: one tuned SparkSession per test session, plus the
DuckDB differential-comparison harness that mimics the driver's
correctness gate (sort columns by name, order-insensitive row compare,
exact value equality — floats included, since our queries are designed
to be bit-deterministic across engines)."""

from __future__ import annotations

import datetime
import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from matrix_multiplication_map_reduce_gcp_spark.catalog import TABLES
from matrix_multiplication_map_reduce_gcp_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # The package's 48g default heap oversubscribes a small box: on a
    # 16 GB VM the suite's JVM grew to 13 GB and was OOM-killed
    # mid-run. Half the physical memory leaves room for the Python
    # workers; SPARK_GRAFT_DRIVER_MEM still overrides it.
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{min(48 << 10, phys_mb // 2)}m")
    s = get_spark(
        cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")),
        extra_conf={"spark.driver.memory": heap},
    )
    yield s


@pytest.fixture(scope="session")
def duck():
    """DuckDB views at SF_CORRECTNESS — the DRIVER'S gate scale. Never
    downgrade this to sf0.001: order-dependent float bugs (e.g. a
    windowed double SUM) can pass at tiny scale and fail at sf0.01."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF_CORRECTNESS}/{t}.parquet'"
        )
    yield con


def _canon(v):
    """Canonicalize a cell for cross-engine comparison."""
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))
    if isinstance(v, int):
        return ("i", int(v))
    if isinstance(v, datetime.datetime):
        return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("t", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("a", tuple(_canon(x) for x in v))
    if isinstance(v, bytes):
        return ("y", v)
    return ("s", str(v))


def _normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda ix: cols[ix])
    out = [tuple(_canon(r[ix]) for ix in order) for r in rows]
    out.sort()
    return [cols[ix] for ix in order], out


def assert_matches_oracle(spark_df, oracle: str, duck_con, max_show: int = 5):
    """Spark result vs DuckDB oracle: same column names, same multiset
    of rows with exact value equality."""
    s_cols = list(spark_df.columns)
    s_rows = [tuple(r) for r in spark_df.collect()]
    rel = duck_con.sql(oracle)
    d_cols = list(rel.columns)
    d_rows = rel.fetchall()

    assert sorted(s_cols) == sorted(d_cols), (
        f"column mismatch: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    )
    _, s_norm = _normalize(s_cols, s_rows)
    _, d_norm = _normalize(d_cols, d_rows)
    assert len(s_norm) == len(d_norm), (
        f"row count mismatch: spark={len(s_norm)} duckdb={len(d_norm)}"
    )
    if s_norm != d_norm:
        diffs = [
            (a, b) for a, b in zip(s_norm, d_norm) if a != b
        ][:max_show]
        raise AssertionError(f"value mismatch; first diffs (spark, duckdb): {diffs}")
