"""Seed-driven inputs for the benchmark workloads.

Every input is a pure function of the seed (and of the fixture tables
under perfbench/fixtures/): the same seed writes the same bytes.
Nothing here calls into the package under test; the program only ever
sees the files these functions write.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Uniform ints 0..99, the reference generator's value range
# (its test/test.py filled both matrices this way).
VAL_HIGH = 100

# The repository's seed-42 fixture tables the registry workload reads,
# copied into the benchmark (the checkout it runs in has no other data).
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
FIXTURE_FILES = {
    "documents": "documents_sf0.1.parquet",
    "lineitem": "lineitem_sf0.01.parquet",
    "events": "events_sf0.01.parquet",
    "embeddings": "embeddings_sf0.01.parquet",
}
FIXTURE_TABLES = tuple(FIXTURE_FILES)
# Tables a smaller input keeps only some rows of. The ANN query needs
# every embedding (its codebook training fails on a few dozen).
ROW_SAMPLED = ("lineitem", "events")


def dense_pair(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Two n×n int64 matrices of uniform ints in [0, VAL_HIGH)."""
    return (
        rng.integers(0, VAL_HIGH, (n, n), dtype=np.int64),
        rng.integers(0, VAL_HIGH, (n, n), dtype=np.int64),
    )


def json_ladder(seed: int, sizes: tuple[int, ...]) -> list[dict]:
    """One rung per size: A and B as JSON list-of-lists text (the
    reference's wire format) plus the exact NumPy product."""
    rng = np.random.default_rng([seed, 1])
    rungs = []
    for n in sizes:
        a, b = dense_pair(rng, n)
        rungs.append(
            {
                "n": n,
                "a_json": json.dumps(a.tolist()),
                "b_json": json.dumps(b.tolist()),
                "a": a,
                "b": b,
                "expected": a @ b,
            }
        )
    return rungs


def write_coo_parquet(m: np.ndarray, out_dir: str, n_files: int) -> None:
    """Dense matrix → COO (i, j, v) parquet, zeros dropped, as
    ``n_files`` row-range files (one per local core, so the scan
    splits evenly)."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, m.shape[0], n_files + 1).astype(int)
    for f, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        ii, jj = np.nonzero(m[lo:hi])
        table = pa.table(
            {
                "i": pa.array(ii + lo, pa.int64()),
                "j": pa.array(jj, pa.int64()),
                "v": pa.array(m[lo:hi][ii, jj].astype(np.float64)),
            }
        )
        pq.write_table(table, os.path.join(out_dir, f"part-{f:05d}.parquet"))


def block_inputs(seed: int, n: int, out_dir: str, n_files: int) -> dict:
    """Dense n×n A and B written as COO parquet; returns paths and
    the exact product (every partial sum of these integer products is
    an integer far below 2**53, so the float64 BLAS product is exact)."""
    rng = np.random.default_rng([seed, 2, n])
    a, b = dense_pair(rng, n)
    write_coo_parquet(a, os.path.join(out_dir, "a"), n_files)
    write_coo_parquet(b, os.path.join(out_dir, "b"), n_files)
    return {
        "n": n,
        "a_path": os.path.join(out_dir, "a"),
        "b_path": os.path.join(out_dir, "b"),
        "a": a,
        "b": b,
        "expected": a.astype(np.float64) @ b.astype(np.float64),
    }


def fixture_tables(seed: int, n_docs: int, row_share: float, out_dir: str) -> str:
    """The fixture tables as one table directory: ``n_docs`` documents
    picked by the seed (kept in doc_id order); of ``lineitem`` and
    ``events``, the rows a seed-drawn mask keeps with probability
    ``row_share`` (every row when it is 1); ``embeddings`` whole."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    for name, fname in FIXTURE_FILES.items():
        src, dst = os.path.join(FIXTURES, fname), os.path.join(out_dir, f"{name}.parquet")
        if name != "documents" and (row_share >= 1.0 or name not in ROW_SAMPLED):
            shutil.copyfile(src, dst)
            continue
        table = pq.read_table(src)
        if name == "documents":
            keep = np.sort(rng.choice(table.num_rows, n_docs, replace=False))
            table = table.take(pa.array(keep))
        else:
            table = table.filter(pa.array(rng.random(table.num_rows) < row_share))
        pq.write_table(table, dst)
    return out_dir
