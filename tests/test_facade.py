"""Reference-parity facade: JSON-in/JSON-out matmul exactly as the
reference's orchestrator consumed and produced it, plus remaining
plan/sink behaviors (big-big matmul join strategy, foreachBatch sink,
range-partitioned sorted writes)."""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from matrix_multiplication_map_reduce_gcp_spark.matrix.facade import multiply_json


def test_multiply_json_reference_wire_format(spark):
    rng = np.random.default_rng(5)
    # float32 ints 0..99 like reference test/test.py:42-43; 50x50 is
    # the live hardcoded shape (orchestrator/main.py:43-48)
    a = rng.integers(0, 100, (50, 50)).astype(float)
    b = rng.integers(0, 100, (50, 50)).astype(float)
    out = json.loads(multiply_json(spark, json.dumps(a.tolist()), json.dumps(b.tolist())))
    np.testing.assert_allclose(np.array(out), a @ b, rtol=0)


def test_multiply_json_rejects_bad_dims(spark):
    with pytest.raises(ValueError, match="incompatible"):
        multiply_json(spark, json.dumps([[1.0, 2.0]]), json.dumps([[1.0], [2.0], [3.0]]))


@pytest.mark.parametrize(
    "a_json, b_json, want",
    [
        ("[[1e-5]]", "[[1e5]]", [[1.0]]),
        ("[[0.12345]]", "[[1]]", [[0.12345]]),
        ("[[1e15]]", "[[1]]", [[1e15]]),
    ],
)
def test_multiply_json_sums_in_float64(spark, a_json, b_json, want):
    """The reference's reducer sums plain Python floats
    (reducer/main.py:20-32). A decimal(18,4) cast of the cells would
    round 1e-5 to 0 and 0.12345 to 0.1235, and overflow on 1e15."""
    assert json.loads(multiply_json(spark, a_json, b_json)) == want


def test_multiply_json_repeats_fractional_output(spark):
    """A float64 sum depends on its order, so the product of
    non-integer cells must come out of one fixed order: two calls on
    the same input return the same string."""
    rng = np.random.default_rng(7)
    a = np.round(rng.uniform(-1, 1, (20, 30)), 3)
    b = np.round(rng.uniform(-1, 1, (30, 9)), 3)
    a_json, b_json = json.dumps(a.tolist()), json.dumps(b.tolist())
    first = multiply_json(spark, a_json, b_json)
    assert multiply_json(spark, a_json, b_json) == first
    np.testing.assert_allclose(np.array(json.loads(first)), a @ b, rtol=1e-12)


@pytest.mark.parametrize(
    "a_json, b_json, where",
    [
        ('[[1, "x"], [3, 4]]', "[[1, 0], [0, 1]]", "A row 0, column 1"),
        ('[[1, 2], [true, 4]]', "[[1, 0], [0, 1]]", "A row 1, column 0"),
        ('[[1, "2"], [3, 4]]', "[[1, 0], [0, 1]]", "A row 0, column 1"),
        ("[[1, 2], [3, null]]", "[[1, 0], [0, 1]]", "A row 1, column 1"),
        ("[[1, 2], [3, 4, 5]]", "[[1, 0], [0, 1]]", "A row 1, column 2"),
        ("[[1, 2], [3]]", "[[1, 0], [0, 1]]", "A row 1, column 1"),
        ("[1, 2]", "[[1, 0], [0, 1]]", "A row 0"),
        ("[[1, 2], [3, 4]]", "[[1, 0], [0, false]]", "B row 1, column 1"),
        ("[[1, 2], [3, 4]]", '{"rows": 2}', "B: expected a list"),
    ],
)
def test_multiply_json_rejects_malformed_operand(spark, a_json, b_json, where):
    """from_json nulls a whole matrix on one non-numeric element and the
    shred drops or zero-fills ragged rows: each would be a silently
    wrong product, so multiply_json must raise, naming the cell."""
    import re

    with pytest.raises(ValueError, match=re.escape(where)):
        multiply_json(spark, a_json, b_json)


def test_big_big_matmul_never_nested_loop(spark):
    """When neither operand fits the broadcast budget the multiply must
    plan a shuffle join (SMJ/SHJ), never a nested-loop/cartesian."""
    from matrix_multiplication_map_reduce_gcp_spark.matrix.coo import (
        BROADCAST_MAX_ENTRIES,
        CooMatrix,
    )

    n = 600
    big = spark.range(n * n).select(
        (F.col("id") / n).cast("long").alias("i"),
        (F.col("id") % n).alias("j"),
        F.lit(1.0).alias("v"),
    )
    assert n * n < BROADCAST_MAX_ENTRIES  # sanity of the local config
    a = CooMatrix(big, n, n)
    # force the "both sides big" path by shrinking the threshold
    import matrix_multiplication_map_reduce_gcp_spark.matrix.coo as coo_mod

    old = coo_mod.BROADCAST_MAX_ENTRIES
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    coo_mod.BROADCAST_MAX_ENTRIES = 10
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        c = a.multiply(a)
        plan = c.df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        coo_mod.BROADCAST_MAX_ENTRIES = old
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)


def test_foreach_batch_exactly_once_shape(spark, tmp_path):
    """foreachBatch sink: batch ids are observed and each batch lands
    once — the idempotent-sink pattern for exactly-once delivery."""
    from matrix_multiplication_map_reduce_gcp_spark.streaming.core import events_stream

    seen: dict[int, int] = {}
    out_dir = str(tmp_path / "sink")

    def sink(df, epoch_id: int):
        # idempotence guard: skip an epoch already committed
        if epoch_id in seen:
            return
        seen[epoch_id] = df.count()
        df.write.mode("append").parquet(out_dir)

    q = (
        events_stream(spark, "/root/testdata/sf0.001")
        .select("event_id", "user_id")
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    total = spark.read.parquet(out_dir).count()
    assert total == sum(seen.values()) == 1000


def test_range_partitioned_sorted_write(spark, tmp_path):
    """repartitionByRange + sortWithinPartitions: globally range-
    partitioned, per-file sorted output — the layout that gives
    downstream scans min/max pruning on the sort key."""
    from matrix_multiplication_map_reduce_gcp_spark.catalog import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    out = str(tmp_path / "sorted")
    (
        orders.repartitionByRange(4, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.parquet(out)
    )
    import glob

    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(files) == 4
    ranges = []
    for f in files:
        pdf = spark.read.parquet(f).agg(
            F.min("o_orderdate"), F.max("o_orderdate")
        ).collect()[0]
        ranges.append((pdf[0], pdf[1]))
    # files cover disjoint, ordered date ranges
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2
