"""Block (cuboid) distributed matmul with NumPy kernels.

The plain join+agg matmul (coo.py) shuffles one row per (i, j, k)
triple at the aggregation input — fine for sparse, quadratic-ish for
dense. The block algorithm moves PACKED blocks instead:

  1. pack: each operand's entries become one row per bs×bs block,
     combined map-side (JVM collect_list + sort_array);
  2. key: the (i, j, k) block space is cut into a P×Q×R grid of
     cuboids (FuseME, SIGMOD 2022), each small enough for one Python
     worker (CUBOID_MAX_BYTES). Each A block is replicated to the
     R cuboids of its row-block and each B block to the P cuboids of
     its column-block — the reference's element-wise replication
     mapper (mapper/main.py:24-41) at block granularity;
  3. one cogroup per cuboid densifies its A and B panels once and runs
     ONE NumPy GEMM (applyInArrow; the reference's own future-work
     idea, README.md:57);
  4. only when Q > 1 does a groupBy(bi, bk) sum the partial blocks;
  5. the explode back to COO is map-side.

Shuffle volume: |A|·R + |B|·P block rows (plus |C|·Q partial blocks
when Q > 1) instead of the entry-level join's O(flops) agg input.

Exactness note: the GEMM accumulates in float64, like the join+agg
path (coo.py) and the reference's reducer. float64 is exact in any
summation order while every cell is an integer and every partial sum
stays below 2^53, so on such matrices both paths give the same bits
(and are DuckDB-oracle-checkable).
"""

from __future__ import annotations

import bisect

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .coo import CooMatrix, validate_matmul_dims

# Upper bound on the data one cuboid task holds in its Python worker,
# as counted by _cuboid_bytes. _cuboid_grid splits the shared dimension
# (Q > 1), and past that adds cuboids beyond defaultParallelism, until
# every cuboid fits. Measured on a dense 4000² product at bs=500 on a
# 4-core VM: a worker's peak RSS is the count plus 165-195 MB (the
# interpreter, NumPy and pyarrow). At 2 slots the bound picks Q = 2
# over Q = 1 (305 vs 534 MB counted), which cut the worker peak from
# 717-728 to 490-504 MB and the wall from 37-40 to 33-39 s. At 4 slots
# Q = 1, 2 and 4 ran equally fast, and P·R = 16 cuboids ran 13-24%
# slower than P·R = 4.
CUBOID_MAX_BYTES = 1 << 29


def _cuboid_bytes(bi: int, bj: int, bk: int, bs: int) -> int:
    """Peak data bytes of one cuboid task whose A panel is bi × bj and
    whose B panel is bj × bk dense bs×bs blocks: 20 per panel cell (the
    Arrow input's int32 position and float64 value, then the float64
    panel), 8 per output cell (the Arrow output), and 16 per cell of
    the one output block row in flight (the GEMM result and its
    block-major copy)."""
    return bs * bs * (20 * bj * (bi + bk) + 8 * bi * bk + 16 * bk)


def _least(lo: int, hi: int, ok) -> int:
    """The least x in [lo, hi] with ok(x), for ok monotone; hi + 1 if none."""
    return lo + bisect.bisect_left(range(lo, hi + 1), True, key=ok)


def _cuboid_grid(n_i: int, n_j: int, n_k: int, bs: int, tasks: int) -> tuple[int, int, int]:
    """(P, Q, R) for an n_i × n_j × n_k block space whose every cuboid
    fits CUBOID_MAX_BYTES. P·R aims at ``tasks``: the most cuboids
    P·R ≤ tasks, else the fewest above it, ties broken by the least
    block replication |A|·R + |B|·P; Q is then the fewest splits of the
    shared dimension that fit. The cogroup Exchange places cuboid ids
    by Murmur3 hash, not in order, so two cuboids may still share a
    task while a slot idles."""
    n_i, n_j, n_k = max(n_i, 1), max(n_j, 1), max(n_k, 1)
    if _cuboid_bytes(1, 1, 1, bs) > CUBOID_MAX_BYTES:
        raise ValueError(
            f"block_size={bs}: one block each of A, B and C needs "
            f"{_cuboid_bytes(1, 1, 1, bs)} bytes in a task, over "
            f"CUBOID_MAX_BYTES={CUBOID_MAX_BYTES}; use smaller blocks"
        )

    def fits(p: int, q: int, r: int) -> bool:
        dims = (-(-n_i // p), -(-n_j // q), -(-n_k // r))
        return _cuboid_bytes(*dims, bs) <= CUBOID_MAX_BYTES

    grids = []
    for p in range(1, n_i + 1):
        # The least R ≥ tasks // p that fits at Q = n_j; at p = n_i it
        # always exists, since one block each fits (checked above).
        r = _least(max(1, min(n_k, tasks // p)), n_k, lambda r: fits(p, n_j, r))
        if r <= n_k:
            q = _least(1, n_j, lambda q: fits(p, q, r))
            grids.append((p * r > tasks, abs(p * r - tasks), n_i * r + n_k * p, q, p, r))
    *_, q, p, r = min(grids)
    return p, q, r


def block_multiply(a: CooMatrix, b: CooMatrix, block_size: int = 16) -> CooMatrix:
    """Cuboid product over PACKED blocks: every Exchange moves block
    rows keyed on block or cuboid ids, never entry rows:

      pack:   per side, entries → one (br, bc, ps[], vs[]) row per
              block, partial-aggregated map-side;
      key:    A blocks exploded to R cuboids, B blocks to P;
      gemm:   cogroup on the cuboid id — one Arrow call per cuboid
              densifies both panels and emits its (bi, bk, block) rows;
      sum:    only when Q > 1, partial blocks regrouped on (bi, bk);
      out:    explode back to COO, map-side.

    Dense 1000² at bs=250 on 4 task slots (P = R = 2, Q = 1) shuffles
    32 + 64 block rows instead of ~8M entry rows."""
    validate_matmul_dims(a.n_rows, a.n_cols, b.n_rows, b.n_cols)
    bs = block_size
    # Output blocks travel as list<double> rows with int32 ListArray
    # offsets: past bs=46340 ONE block row overflows them, as an opaque
    # pyarrow error deep in the gemm stage (r5 ADVICE). Fail at
    # planning time instead: such matrices want more blocks.
    if bs * bs >= 1 << 31:
        raise ValueError(
            f"block_size={bs} overflows int32 Arrow ListArray offsets "
            f"(block_size**2 must stay < 2**31; use more, smaller blocks)"
        )

    def pack(df):
        """(br, bc, ps[], vs[]) per block, the two arrays projected from
        ONE sorted struct array so they stay aligned. collect_list is
        partial-aggregatable, so entry rows are packed into per-block
        partials MAP-SIDE and every Exchange moves block rows (pinned
        by test_summa_block_plan_shuffles_block_rows_only; the r12
        applyInArrow densify lost ~3× wall at 4000², OPTIMIZATION_r13.md).
        NB: densifying JVM-side via map + element_at is O(bs^4) per
        block — Catalyst maps are scan-on-access."""
        pos = (F.col("i") % bs).cast("int") * bs + (F.col("j") % bs).cast("int")
        grouped = df.groupBy(
            (F.col("i") / bs).cast("long").alias("br"),
            (F.col("j") / bs).cast("long").alias("bc"),
        ).agg(
            F.sort_array(
                F.collect_list(F.struct(pos.alias("p"), F.col("v")))
            ).alias("cells")
        )
        return grouped.select(
            "br", "bc", F.col("cells.p").alias("ps"), F.col("cells.v").alias("vs")
        )

    n_i, n_j, n_k = (-(-n // bs) for n in (a.n_rows, a.n_cols, b.n_cols))
    tasks = a.df.sparkSession.sparkContext.defaultParallelism
    P, Q, R = _cuboid_grid(n_i, n_j, n_k, bs, tasks)

    def keyed(blocks, fan, p, q, r):
        """Cuboid id (p·Q + q)·R + r per block, replicated over the
        ``fan`` cuboids along the dimension the block does not span."""
        fanned = blocks.select("*", F.explode(F.sequence(F.lit(0), F.lit(fan - 1))).alias("x"))
        return fanned.select(((p * Q + q) * R + r).alias("cuboid"), "br", "bc", "ps", "vs")

    br, bc, x = F.col("br"), F.col("bc"), F.col("x")
    a_keyed = keyed(pack(a.df), R, br % P, bc % Q, x)
    b_keyed = keyed(pack(b.df), P, x, br % Q, bc % R)

    block_schema = "bi long, bk long, block array<double>"
    blocks = (
        a_keyed.groupBy("cuboid")
        .cogroup(b_keyed.groupBy("cuboid"))
        .applyInArrow(_make_cuboid_gemm(bs), block_schema)
    )
    if Q > 1:
        blocks = blocks.groupBy("bi", "bk").applyInArrow(
            _make_block_sum(bs), block_schema
        )

    out = (
        blocks.select("bi", "bk", F.posexplode("block").alias("pos", "v"))
        .filter(F.col("v") != 0.0)
        .select(
            (F.col("bi") * bs + (F.col("pos") / bs).cast("long")).alias("i"),
            (F.col("bk") * bs + F.col("pos") % bs).alias("j"),
            "v",
        )
    )
    return CooMatrix(out, a.n_rows, b.n_cols)


def _make_cuboid_gemm(bs: int):
    """GEMM kernel for one cuboid (self-contained, cogroup applyInArrow;
    no package globals, so cloudpickle ships it by value). Block values
    travel Arrow buffer → NumPy → GEMM → ListArray, with no per-element
    Python objects in either direction. The output is built one block
    row at a time, so beside the panels only that row is in flight —
    the memory _cuboid_bytes counts."""

    def cuboid_gemm(a, b):
        import numpy as np
        import pyarrow as pa

        nn = bs * bs
        schema = pa.schema(
            [("bi", pa.int64()), ("bk", pa.int64()), ("block", pa.list_(pa.float64()))]
        )
        if a.num_rows == 0 or b.num_rows == 0:
            return schema.empty_table()
        rows_i = np.unique(a.column("br").to_numpy())
        cols_k = np.unique(b.column("bc").to_numpy())
        shared = np.union1d(a.column("bc").to_numpy(), b.column("br").to_numpy())

        def panel(t, row_ids, col_ids):
            # One np.bincount per block, not fancy-index assignment:
            # duplicate (i, j) entries must SUM (matching the join+agg
            # multiply), not last-write-win, and pack() sorts each
            # block's cells, so every cell sums in the same order under
            # any shuffle. A block arrives once per cuboid and fills its
            # own bs×bs region; per block, no index array spans a panel.
            out = np.zeros((len(row_ids) * bs, len(col_ids) * bs))
            for batch in t.to_batches():
                ps, vs = batch.column("ps"), batch.column("vs")
                cells, vals = ps.values.to_numpy(), vs.values.to_numpy()
                p_off, v_off = ps.offsets.to_numpy(), vs.offsets.to_numpy()
                rs = np.searchsorted(row_ids, batch.column("br").to_numpy()) * bs
                cs = np.searchsorted(col_ids, batch.column("bc").to_numpy()) * bs
                for n in range(batch.num_rows):
                    out[rs[n] : rs[n] + bs, cs[n] : cs[n] + bs] = np.bincount(
                        cells[p_off[n] : p_off[n + 1]],
                        weights=vals[v_off[n] : v_off[n + 1]],
                        minlength=nn,
                    ).reshape(bs, bs)
            return out

        a_panel = panel(a, rows_i, shared)
        b_panel = panel(b, shared, cols_k)
        batches = []
        for n, bi in enumerate(rows_i):
            out = a_panel[n * bs : (n + 1) * bs] @ b_panel
            out = out.reshape(bs, len(cols_k), bs).swapaxes(0, 1).reshape(-1, nn)
            keep = out.any(axis=1)
            out = out[keep]
            # One batch per output block row: its int32 ListArray
            # offsets stay far below 2^31 values, as CUBOID_MAX_BYTES
            # bounds the row.
            la = pa.ListArray.from_arrays(
                pa.array(np.arange(0, out.size + 1, nn), pa.int32()), pa.array(out.ravel())
            )
            batches.append(
                pa.RecordBatch.from_arrays(
                    [pa.array(np.full(len(out), bi)), pa.array(cols_k[keep]), la], schema=schema
                )
            )
        return pa.Table.from_batches(batches, schema)

    return cuboid_gemm


def _make_block_sum(bs: int):
    """Array-sum kernel for partial product blocks (self-contained,
    applyInArrow): flattens each Arrow chunk's list column into one
    contiguous float64 buffer and row-sums it as a (n_partials, bs²)
    matrix — partial order within a group is the shuffle arrival
    order, which is fine because the partials are exact products of
    integer-valued inputs (see module docstring)."""

    def block_sum(key, tbl):
        import numpy as np
        import pyarrow as pa

        nn = bs * bs
        total = np.zeros(nn)
        col = tbl.column("block")
        for chunk in col.chunks if hasattr(col, "chunks") else [col]:
            total += chunk.flatten().to_numpy().reshape(-1, nn).sum(axis=0)
        la = pa.ListArray.from_arrays(
            pa.array([0, nn], pa.int32()), pa.array(total, pa.float64())
        )
        return pa.Table.from_arrays(
            [
                pa.array([key[0]], pa.int64()),
                pa.array([key[1]], pa.int64()),
                la,
            ],
            ["bi", "bk", "block"],
        )

    return block_sum


def mllib_block_multiply(a: CooMatrix, b: CooMatrix, block_size: int = 16) -> DataFrame:
    """Alternate path: Spark MLlib's BlockMatrix.multiply (distributed
    Breeze GEMM) — COO DataFrame → CoordinateMatrix → BlockMatrix →
    multiply → back to a COO DataFrame (i, j, v)."""
    from pyspark.mllib.linalg.distributed import CoordinateMatrix, MatrixEntry

    validate_matmul_dims(a.n_rows, a.n_cols, b.n_rows, b.n_cols)
    spark = a.df.sparkSession

    def to_cm(m: CooMatrix) -> CoordinateMatrix:
        entries = m.df.rdd.map(
            lambda r: MatrixEntry(r["i"], r["j"], r["v"])
        )
        return CoordinateMatrix(entries, m.n_rows, m.n_cols)

    product = (
        to_cm(a)
        .toBlockMatrix(block_size, block_size)
        .multiply(to_cm(b).toBlockMatrix(block_size, block_size))
        .toCoordinateMatrix()
    )
    rows = product.entries.map(lambda e: (e.i, e.j, float(e.value)))
    out = spark.createDataFrame(rows, "i long, j long, v double")
    return out.filter(F.col("v") != 0.0)
