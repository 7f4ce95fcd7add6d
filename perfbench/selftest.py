"""Self-tests of the benchmark's metric readers and output checks on
cases whose answers are known in advance.

    python3 perfbench/selftest.py

Run from the root of a checkout. Exits 0 when every check passes and
1 otherwise, listing the failed checks. Needs one local Spark session
(about two minutes on four cores).
"""

from __future__ import annotations

import os
import shutil
import sys

import run

FAILED: list[str] = []


def check(name: str, cond: bool, detail: str = "") -> None:
    print(f"{'ok  ' if cond else 'FAIL'} {name} {detail}")
    if not cond:
        FAILED.append(name)


def pure_checks() -> None:
    import tracing
    from sparkstats import _union_ms, parse_count, parse_total_bytes

    check("tail: 30 samples -> 20th value, p66.7", run.tail_stat(list(range(30))) == (19, 100.0 * 20 / 30))
    check("tail: under 11 samples -> max", run.tail_stat([3.0, 1.0, 2.0]) == (3.0, 100.0))
    check("union of stage intervals", _union_ms([(0, 10), (5, 20), (30, 40)]) == 30)
    check("size metric parse", parse_total_bytes("total (min, med, max)\n7.5 MiB (1 KiB, 2 KiB, 3 KiB)") == 7.5 * (1 << 20))
    check("count metric parse", parse_count("8,000") == 8000)
    tr = tracing.Tracer("t")
    root = tr.open("root", start=0.0)
    tr.spans[tr.open("a", root, start=1.0)]["end"] = 3.0
    tr.spans[tr.open("b", root, start=2.0)]["end"] = 5.0
    tr.spans[root]["end"] = 10.0
    spans = {s["name"]: s for s in tr.with_self_time()}
    check("span self time = duration - covered children", spans["root"]["self_s"] == 6.0 and spans["a"]["self_s"] == 2.0)


def spark_checks(spark, scratch: str) -> None:
    import json

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    import sparkstats
    import workloads
    from workloads import Steps

    sc = spark.sparkContext
    stats = sparkstats.SparkStats(spark)

    # 1. A tiny shuffle job with exactly one Python operator.
    def ident(batches):
        yield from batches

    steps = Steps(sc, "self-shuffle")
    with steps.step("q"):
        (
            spark.range(0, 20000, numPartitions=4)
            .mapInArrow(ident, "id long")
            .groupBy((F.col("id") % 7).alias("k"))
            .count()
            .write.mode("overwrite")
            .parquet(os.path.join(scratch, "shuffle"))
        )
    g = stats.group_stats(steps.groups["q"], steps.walls["q"])
    check("shuffle job: executor CPU <= run time", 0 < g["executor_cpu_s"] <= g["executor_run_s"] + 0.001 * g["tasks"], f"cpu={g['executor_cpu_s']:.3f} run={g['executor_run_s']:.3f}")
    check("shuffle job: shuffle bytes > 0", g["shuffle_write_bytes"] > 0 and g["shuffle_read_bytes"] > 0, f"{g['shuffle_write_bytes']}")
    n_py = len(sparkstats.python_ops(g["sql"]))
    check("shuffle job: exactly one Python operator", n_py == 1, f"saw {n_py}")
    check("shuffle job: Arrow bytes to Python > 0", sparkstats.arrow_bytes_to_python(g["sql"]) > 0)
    check("shuffle job: driver gap within wall", 0 <= g["driver_gap_s"] <= steps.walls["q"])

    # 2. Scan input bytes match the size of the file read.
    path = os.path.join(scratch, "scan")
    os.makedirs(path)
    pq.write_table(pa.table({"x": np.arange(500_000)}), os.path.join(path, "a.parquet"))
    size = os.path.getsize(os.path.join(path, "a.parquet"))
    steps = Steps(sc, "self-scan")
    with steps.step("q"):
        spark.read.parquet(path).selectExpr("sum(x)").collect()
    g = stats.group_stats(steps.groups["q"], steps.walls["q"])
    check(
        "scan: input bytes = file size, to the printed precision",
        abs(g["input_bytes"] - size) <= 0.02 * size,
        f"{g['input_bytes']} vs {size}",
    )

    # 3. COO join: agg input rows == n^3 for a dense (zero-free) product.
    from matrix_multiplication_map_reduce_gcp_spark.matrix.facade import multiply_json

    n = 8
    dense = np.arange(1, n * n + 1, dtype=np.int64).reshape(n, n)
    steps = Steps(sc, "self-coo")
    with steps.step("mj"):
        out = multiply_json(spark, json.dumps(dense.tolist()), json.dumps(dense.tolist()))
    g = stats.group_stats(steps.groups["mj"], steps.walls["mj"])
    rows = sparkstats.join_output_rows(g["sql"])
    check("coo: agg_input_rows == n^3 when dense", rows == n**3, f"{rows}")
    check("coo: dense product exact", np.array_equal(np.array(json.loads(out)), dense @ dense))

    # 4. The matmul workload at a small size: one GEMM per (row,
    # shared, col) block triple, COO join rows equal to the exact count
    # of nonzero products, and a perturbed output of either interface
    # reported as a failure.
    mm = workloads.Matmul(sizes=(4, 12), n=40, block_size=10)
    mm.make_inputs(5, os.path.join(scratch, "mm"), 2)
    sink = os.path.join(scratch, "mm_sink")
    steps = Steps(sc, "self-matmul")
    mm.job(spark, steps, sink)
    per_step = {
        k: [dict(stats.group_stats(steps.groups[k], steps.walls[k]), wall_s=steps.walls[k], python_cpu_s=0.0)]
        for k in steps.walls
    }
    lay = mm.layers(per_step)
    check(
        "block: gemm_calls == (n/bs)^3",
        lay["matrix.block.gemm_calls"] == 64 == mm.gemm_calls_expected,
        f"{lay['matrix.block.gemm_calls']}",
    )
    check(
        "ladder: agg_input_rows == exact nonzero-product count",
        lay["matrix.coo.agg_input_rows.n12"] == lay["matrix.coo.agg_input_rows_expected.n12"],
        f"{lay['matrix.coo.agg_input_rows.n12']} vs {lay['matrix.coo.agg_input_rows_expected.n12']}",
    )
    check("matmul: correct output verifies", mm.verify(sink) is None)
    path = os.path.join(sink, "c_12.json")
    with open(path) as f:
        c = json.load(f)
    c[3][5] += 1.0
    with open(path, "w") as f:
        json.dump(c, f)
    check("matmul: perturbed multiply_json output is a failure", mm.verify(sink) is not None)
    mm.job(spark, Steps(sc, "self-matmul-2"), sink)
    block_sink = os.path.join(sink, "block")
    t = pq.read_table(block_sink)
    v = t.column("v").to_numpy().copy()
    v[0] += 1.0
    shutil.rmtree(block_sink)
    os.makedirs(block_sink)
    pq.write_table(t.set_column(t.schema.get_field_index("v"), "v", pa.array(v)), os.path.join(block_sink, "p.parquet"))
    check("matmul: perturbed block_multiply output is a failure", mm.verify(sink) is not None)

    # 5. Registry: a codec rung's oracle check passes, then fails on a
    # change to the output.
    reg = workloads.Registry(n_docs=20, row_share=0.02)
    reg.queries = {"multimodal.arith": "multimodal_arith_decode"}
    reg.make_inputs(3, os.path.join(scratch, "reg"), 2)
    sink = os.path.join(scratch, "reg_sink")
    steps = Steps(sc, "self-registry")
    reg.job(spark, steps, sink)
    g = stats.group_stats(steps.groups["multimodal.arith"], steps.walls["multimodal.arith"])
    check("registry: arith rung runs one Python operator", len(sparkstats.python_ops(g["sql"])) == 1)
    check("registry: correct output verifies", reg.verify(sink) is None)
    out = os.path.join(sink, "multimodal.arith")
    t = pq.read_table(out)
    col = t.column("byte_sum").to_numpy().copy()
    col[0] += 1
    shutil.rmtree(out)
    os.makedirs(out)
    pq.write_table(t.set_column(t.schema.get_field_index("byte_sum"), "byte_sum", pa.array(col)), os.path.join(out, "p.parquet"))
    check("registry: perturbed output is a failure", reg.verify(sink) is not None)

    # 6. Heap peak: after a 512 MiB allocation in the JVM it is at
    # least 512 MiB. (It can rise by less than that: the collection the
    # allocation triggers may free other heap first.)
    stats.reset_memory_peaks()
    buf = spark.sparkContext._jvm.java.nio.ByteBuffer.allocate(512 << 20)
    peak = stats.heap_peak_mb()
    del buf
    check("heap peak sees a 512 MiB allocation", peak >= 512, f"{peak:.0f} MB")


def main() -> int:
    pure_checks()
    if not os.path.isdir(os.path.join(run.ROOT, run.PACKAGE)):
        print(f"package {run.PACKAGE!r} not found under {run.ROOT}", file=sys.stderr)
        return 2
    os.environ.update(run.BLAS_ENV)
    sys.path.insert(0, run.ROOT)
    from matrix_multiplication_map_reduce_gcp_spark.session import get_spark

    scratch = os.path.join(run.OUT_DIR, "selftest")
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    box = run.box_settings()
    spark = get_spark(cpus=box["cpus"], extra_conf=run.spark_conf(box, scratch))
    try:
        spark_checks(spark, scratch)
    finally:
        run.stop_spark()
        shutil.rmtree(scratch, ignore_errors=True)
    print(f"{len(FAILED)} failed" + (f": {FAILED}" if FAILED else ""))
    return 1 if FAILED else 0


if __name__ == "__main__":
    sys.exit(main())
