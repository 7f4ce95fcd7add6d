"""The benchmark's workloads.

A workload makes its inputs from the seed, runs jobs on them and
checks each job's output after reading it back from its sink. Each
job is split into named steps; every step runs under its own Spark
job group, so the traced run can read Spark's metrics per step.

Why each workload exists, and which layers it isolates, is in
perfbench/README.md.
"""

from __future__ import annotations

import datetime
import json
import math
import os
import time
from contextlib import contextmanager

import numpy as np
import pyarrow.parquet as pq

import inputs
import procstats
import sparkstats


class Steps:
    """Times the steps of one job, each under its own job group. With
    ``cpu_pid`` (traced jobs) it also reads the Python workers' CPU
    around each step and times those reads, which is the only tracing
    work done inside a timed job."""

    def __init__(self, sc, job_id: str, cpu_pid: int | None = None):
        self.sc = sc
        self.job_id = job_id
        self.cpu_pid = cpu_pid
        self.walls: dict[str, float] = {}
        self.groups: dict[str, str] = {}
        self.python_cpu_s: dict[str, float] = {}
        self.overhead_s = 0.0

    def _python_cpu(self) -> float:
        t0 = time.perf_counter()
        cpu = procstats.tree_cpu_s(self.cpu_pid)["python"]
        self.overhead_s += time.perf_counter() - t0
        return cpu

    @contextmanager
    def step(self, name: str):
        group = f"{self.job_id}/{name}"
        self.sc.setJobGroup(group, name)
        cpu0 = self._python_cpu() if self.cpu_pid else 0.0
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name] = time.perf_counter() - t0
            self.groups[name] = group
            if self.cpu_pid:
                self.python_cpu_s[name] = self._python_cpu() - cpu0
            self.sc.setJobGroup("perfbench-untimed", "untimed")


class Matmul:
    """The repository's two matmul interfaces, one after the other.

    - ``matrix.facade.multiply_json``, the reference's own interface and
      benchmark: dense n×n JSON list-of-lists in, JSON out, over the
      size ladder. Each product is one COO join + aggregation planned
      by Catalyst, JVM only. Results go to the sink as JSON text.
    - ``matrix.block.block_multiply`` on dense COO parquet inputs: an
      (n/bs)³ grid of GEMMs in Python workers between a JVM
      collect_list pack and an applyInArrow block sum. The product is
      written to parquet.

    One job is one ladder pass plus one block product. Each output is
    checked for exact equality with NumPy's product."""

    name = "matmul"
    # Two warm-up jobs of the timed jobs' sizes. The first call costs
    # about three warm jobs whatever the sizes; the second job still
    # spends about twice the JVM CPU (JIT compilation) of a warm one.
    # Small warm-up inputs leave that second, slow job to the timed
    # loop. The block product is 500² at block_size=125: the same 4×4×4
    # grid of 64 GEMMs as 1000² at 250, at about 60% of its time, so a
    # run times several jobs and reports their median.
    warmup_kw: dict = {}
    warmup_jobs = 2

    def __init__(self, sizes=(4, 100), n=500, block_size=125):
        self.sizes, self.n, self.block_size = sizes, n, block_size

    def make_inputs(self, seed: int, work_dir: str, cpus: int) -> None:
        self.rungs = inputs.json_ladder(seed, self.sizes)
        # Exact count of (i, j, k) products the COO join emits: zeros
        # are dropped when the JSON is shredded, so a product exists
        # only where A[i, j] != 0 and B[j, k] != 0.
        self.agg_rows_expected = {
            r["n"]: int((r["a"] != 0).sum(axis=0) @ (r["b"] != 0).sum(axis=1))
            for r in self.rungs
        }
        self.block = inputs.block_inputs(seed, self.n, os.path.join(work_dir, f"block{self.n}"), cpus)
        self.gemm_calls_expected = (self.n // self.block_size) ** 3

    def job(self, spark, steps: Steps, sink: str) -> None:
        from matrix_multiplication_map_reduce_gcp_spark.matrix.block import block_multiply
        from matrix_multiplication_map_reduce_gcp_spark.matrix.coo import CooMatrix
        from matrix_multiplication_map_reduce_gcp_spark.matrix.facade import multiply_json

        os.makedirs(sink, exist_ok=True)
        for r in self.rungs:
            with steps.step(f"n{r['n']}"):
                out = multiply_json(spark, r["a_json"], r["b_json"])
                with open(os.path.join(sink, f"c_{r['n']}.json"), "w") as f:
                    f.write(out)
        with steps.step("block"):
            n = self.n
            a = CooMatrix(spark.read.parquet(self.block["a_path"]), n, n)
            b = CooMatrix(spark.read.parquet(self.block["b_path"]), n, n)
            c = block_multiply(a, b, self.block_size)
            c.df.write.mode("overwrite").parquet(os.path.join(sink, "block"))

    def verify(self, sink: str) -> str | None:
        for r in self.rungs:
            with open(os.path.join(sink, f"c_{r['n']}.json")) as f:
                got = np.array(json.load(f), dtype=np.float64)
            if got.shape != r["expected"].shape or not np.array_equal(got, r["expected"]):
                return f"multiply_json n={r['n']}: product differs from NumPy A @ B"
        expected = self.block["expected"]
        t = pq.read_table(os.path.join(sink, "block"))
        if t.num_rows != np.count_nonzero(expected):
            return f"block_multiply: {t.num_rows} output entries, expected {np.count_nonzero(expected)}"
        got = np.zeros(expected.shape)
        got[t.column("i").to_numpy(), t.column("j").to_numpy()] = t.column("v").to_numpy()
        if not np.array_equal(got, expected):
            return "block_multiply: product differs from NumPy A @ B"
        return None

    def baseline_s(self) -> dict:
        """Single-threaded float64 NumPy on the same products (BLAS
        threads are pinned to 1 before NumPy loads), median of 5."""
        pairs = {
            "ladder": [(r["a"], r["b"]) for r in self.rungs],
            "block": [(self.block["a"], self.block["b"])],
        }
        out = {}
        for key, ps in pairs.items():
            fl = [(a.astype(np.float64), b.astype(np.float64)) for a, b in ps]
            times = []
            for _ in range(5):
                t0 = time.perf_counter()
                for a, b in fl:
                    a @ b
                times.append(time.perf_counter() - t0)
            out[key] = float(np.median(times))
        return out

    def layers(self, per_step: dict[str, list[dict]]) -> dict:
        out = {}
        for r in self.rungs:
            key = f"n{r['n']}"
            recs = per_step[key]
            out[f"matrix.facade.rung_s.{key}"] = median(x["wall_s"] for x in recs)
            out[f"matrix.coo.agg_input_rows.{key}"] = sparkstats.join_output_rows(recs[-1]["sql"])
            out[f"matrix.coo.agg_input_rows_expected.{key}"] = self.agg_rows_expected[r["n"]]
        top = per_step[f"n{self.sizes[-1]}"]
        out["matrix.coo.agg_input_rows"] = sparkstats.join_output_rows(top[-1]["sql"])
        out["matrix.coo.task_skew"] = median(x["task_skew"] for x in top)

        split = {"pack_s": [], "gemm_python_s": [], "sum_python_s": []}
        for x in per_step["block"]:
            part = dict.fromkeys(split, 0.0)
            for sid, run_s in x["stage_run_s"].items():
                names = {nd["name"] for nd in x["sql"] if sid in nd["stages"]}
                if "FlatMapGroupsInArrow" in names:
                    part["sum_python_s"] += run_s
                elif names & {"MapInArrow", "PythonMapInArrow"}:
                    part["gemm_python_s"] += run_s
                elif any("Aggregate" in nm for nm in names):
                    part["pack_s"] += run_s
            for k, v in part.items():
                split[k].append(v)
        last = per_step["block"][-1]["sql"]
        gflop = 2 * self.n**3 / 1e9
        gemm_s = median(split["gemm_python_s"])
        out.update(
            {
                "matrix.block.block_multiply_s": median(x["wall_s"] for x in per_step["block"]),
                "matrix.block.pack_s": median(split["pack_s"]),
                "matrix.block.gemm_python_s": gemm_s,
                "matrix.block.sum_python_s": median(split["sum_python_s"]),
                "matrix.block.gemm_calls": sum(
                    sparkstats.parse_count(nd["metrics"].get("number of output rows", ""))
                    for nd in last
                    if nd["name"] in ("MapInArrow", "PythonMapInArrow")
                ),
                "matrix.block.gemm_calls_expected": self.gemm_calls_expected,
                "matrix.block.gemm_gflop": gflop,
                "matrix.block.gflops": gflop / gemm_s if gemm_s else 0.0,
                "matrix.block.arrow_bytes_to_python": median(
                    sparkstats.arrow_bytes_to_python(x["sql"]) for x in per_step["block"]
                ),
                "matrix.block.python_worker_cpu_s": median(x["python_cpu_s"] for x in per_step["block"]),
            }
        )
        return out


def _canon(v):
    """Cell canonicalisation of the repository's oracle comparison
    (tests/conftest.py::_canon), applied to values read back from
    the sink and to the DuckDB oracle's rows."""
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        return ("f", "nan") if math.isnan(v) else ("f", repr(v))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, datetime.datetime):
        return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("t", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("a", tuple(_canon(x) for x in v))
    if isinstance(v, bytes):
        return ("y", v)
    return ("s", str(v))


def normalize(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, rows canonicalised and sorted: equal
    results give equal values whatever their row order."""
    order = sorted(range(len(cols)), key=lambda ix: cols[ix])
    norm = sorted(tuple(_canon(r[ix]) for ix in order) for r in rows)
    return [cols[ix] for ix in order], norm


class Registry:
    """One job is one pass over registry queries, in an order the seed
    permutes: the four codec-ladder rungs, whose work runs almost all
    in Python workers behind the Arrow boundary, and one JVM query for
    each other module a ROADMAP item touches. Each result is written
    to parquet, read back and checked against the registry's DuckDB
    oracle.

    The tables are the repository's seed-42 fixtures, copied under
    perfbench/fixtures/: the sf0.1 ``documents`` table, of which the
    seed picks ``n_docs`` documents, and the sf0.01 ``lineitem``,
    ``events`` and ``embeddings`` tables. The warm-up job keeps
    ``row_share`` of the ``lineitem`` and ``events`` rows; the timed
    jobs keep all of them."""

    name = "registry"
    # Layer name -> registry query. The layer name is the module that
    # does the query's work, then the query (the rung, for codecs).
    queries = {
        "multimodal.flac": "multimodal_flac_decode",
        "multimodal.deflate": "multimodal_deflate_decode",
        "multimodal.jpeg": "multimodal_jpeg_roundtrip",
        "multimodal.arith": "multimodal_arith_decode",
        "operators.relational.pricing_summary": "pricing_summary",
        "operators.scalar_funcs.json_extraction": "json_extraction",
        "operators.analytics.market_basket_pairs": "market_basket_pairs",
        "operators.pagerank.label_propagation_communities": "label_propagation_communities",
        "dedup.minhash_lsh_pairs": "minhash_lsh_pairs",
        "similarity.ann_pq_rerank_topk": "ann_pq_rerank_topk",
        "matrix.coo.matmul_sparse": "matmul_sparse",
    }
    # The warm-up job runs every query once on small inputs. Its cost is
    # the first call of each query (about 30 s on four cores, against
    # 34 s with 100 documents and 10% of the rows).
    warmup_kw = {"n_docs": 20, "row_share": 0.02}
    warmup_jobs = 1

    def __init__(self, n_docs=500, row_share=1.0):
        self.n_docs, self.row_share = n_docs, row_share

    def make_inputs(self, seed: int, work_dir: str, cpus: int) -> None:
        import duckdb

        from matrix_multiplication_map_reduce_gcp_spark import registry

        self.defs = registry.load_all()
        self.data = inputs.fixture_tables(seed, self.n_docs, self.row_share, os.path.join(work_dir, "tables"))
        order = list(self.queries)
        np.random.default_rng([seed, 4]).shuffle(order)
        self.order = order
        con = duckdb.connect()
        try:
            for t in inputs.FIXTURE_TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            self.expected = {}
            for key, q in self.queries.items():
                rel = con.sql(self.defs[q].oracle)
                self.expected[key] = normalize(list(rel.columns), rel.fetchall())
        finally:
            con.close()

    def job(self, spark, steps: Steps, sink: str) -> None:
        for key in self.order:
            with steps.step(key):
                df = self.defs[self.queries[key]].fn(spark, self.data)
                df.write.mode("overwrite").parquet(os.path.join(sink, key))

    def verify(self, sink: str) -> str | None:
        for key in self.order:
            t = pq.read_table(os.path.join(sink, key))
            got = normalize(t.column_names, [tuple(r.values()) for r in t.to_pylist()])
            exp_cols, exp_rows = self.expected[key]
            if got[0] != exp_cols:
                return f"{key}: columns {got[0]} != oracle {exp_cols}"
            if len(got[1]) != len(exp_rows):
                return f"{key}: {len(got[1])} rows != oracle {len(exp_rows)}"
            if got[1] != exp_rows:
                return f"{key}: values differ from the DuckDB oracle"
        return None

    def baseline_s(self) -> dict:
        return {}

    def layers(self, per_step: dict[str, list[dict]]) -> dict:
        out = {}
        for key in self.queries:
            recs = per_step[key]
            out[f"{key}_s"] = median(x["wall_s"] for x in recs)
            if key.startswith("multimodal."):
                out[f"{key}.python_ops"] = len(sparkstats.python_ops(recs[-1]["sql"]))
                out[f"{key}.arrow_bytes_to_python"] = median(
                    sparkstats.arrow_bytes_to_python(x["sql"]) for x in recs
                )
                out[f"{key}.python_worker_cpu_s"] = median(x["python_cpu_s"] for x in recs)
            else:
                out[f"{key}.shuffle_bytes"] = median(x["shuffle_write_bytes"] for x in recs)
                out[f"{key}.executor_cpu_s"] = median(x["executor_cpu_s"] for x in recs)
        return out


def median(xs) -> float:
    xs = list(xs)
    return float(np.median(xs)) if xs else 0.0


WORKLOADS = {w.name: w for w in (Matmul, Registry)}
