"""PageRank (damped, out-degree normalized) on the supplier
co-occurrence graph derived from lineitem (suppliers appearing in the
same order are linked) — the canonical iterative dataflow, run as a
fixed 3-iteration driver loop so the DuckDB oracle can mirror it with
nested CTEs.

Per iteration: one join (ranks ⋈ edges) + one groupBy(dst) — the
matrix picture is r' = (1-d) + d·Mᵀr, i.e. repeated matvec.

Exactness: the incoming-mass SUM runs over DECIMAL operands (weights
quantized once to 9 decimal places, ranks to 6), so it is associative
and order-independent — a double SUM here would drift in the last ulp
between engines/partitionings and the drift would compound through
iterations. The quantization is part of the operator's defined
semantics, mirrored verbatim in the oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query

DAMPING = 0.85
N_ITER = 3

_SQL_EDGES = """
    pairs AS (
      SELECT a.l_suppkey AS src, b.l_suppkey AS dst, COUNT(*) AS cnt
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey != b.l_suppkey
      GROUP BY 1, 2),
    edges AS (
      SELECT src, dst,
             CAST(ROUND(CAST(cnt AS DOUBLE) / SUM(cnt) OVER (PARTITION BY src), 9)
                  AS DECIMAL(12,9)) AS w
      FROM pairs)
"""

_SQL_STEP = (
    "SELECT e.dst AS node,"
    f" CAST(ROUND({1 - DAMPING} + {DAMPING} * CAST(CAST(SUM(e.w * r.rank) AS STRING) AS DOUBLE), 6)"
    " AS DECIMAL(10,6)) AS rank"
    " FROM edges e JOIN {prev} r ON e.src = r.node GROUP BY e.dst"
)


def _edges(spark, sf_dir):
    """supplier→supplier co-occurrence edges; transition weight
    w = cnt/outdeg quantized to DECIMAL(12,9) (the one double→decimal
    step — identical inputs round identically in both engines)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("dst"))
    cnt = (
        a.join(b, "ok")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("cnt"))
    )
    out = cnt.groupBy("src").agg(F.sum("cnt").alias("outdeg"))
    return cnt.join(out, "src").select(
        "src",
        "dst",
        F.round(F.col("cnt").cast("double") / F.col("outdeg"), 9)
        .cast("decimal(12,9)")
        .alias("w"),
    )


@query(
    "pagerank_3iter",
    oracle=f"""
    WITH {_SQL_EDGES},
    r0 AS (SELECT DISTINCT dst AS node, CAST(1.0 AS DECIMAL(10,6)) AS rank FROM edges),
    r1 AS ({_SQL_STEP.format(prev="r0")}),
    r2 AS ({_SQL_STEP.format(prev="r1")}),
    r3 AS ({_SQL_STEP.format(prev="r2")})
    SELECT node AS supplier, CAST(rank AS DOUBLE) AS rank FROM r3
    """,
)
def pagerank_3iter(spark, sf_dir):
    """3 damped PageRank iterations over the supplier co-occurrence
    graph (driver loop; localCheckpoint flattens lineage per round)."""
    edges = _edges(spark, sf_dir).localCheckpoint(eager=True)
    ranks = (
        edges.select(F.col("dst").alias("node"))
        .distinct()
        .withColumn("rank", F.lit(1.0).cast("decimal(10,6)"))
    )
    for _ in range(N_ITER):
        ranks = (
            edges.join(ranks, edges.src == ranks.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.round(
                    F.lit(1 - DAMPING)
                    + F.lit(DAMPING) * F.sum(F.col("w") * F.col("rank")).cast("double"),
                    6,
                )
                .cast("decimal(10,6)")
                .alias("rank")
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(F.col("node").alias("supplier"), F.col("rank").cast("double").alias("rank"))


@query(
    "triangle_count_suppliers",
    oracle="""
    WITH und AS (
      SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
    deg AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT u AS n FROM und UNION ALL SELECT v FROM und)
      GROUP BY 1),
    oriented AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS lo,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS hi
      FROM und e
      JOIN deg du ON du.n = e.u
      JOIN deg dv ON dv.n = e.v),
    tri AS (
      SELECT p1.lo AS a, p1.hi AS b, p2.hi AS c
      FROM oriented p1
      JOIN oriented p2 ON p2.lo = p1.hi
      JOIN oriented p3 ON p3.lo = p1.lo AND p3.hi = p2.hi),
    participation AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM (SELECT a AS n FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
      GROUP BY 1),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY n_triangles DESC, n) AS rn
      FROM participation)
    SELECT n AS supplier, n_triangles, CAST(rn AS INT) AS rank
    FROM ranked WHERE rn <= 20
    """,
)
def triangle_count_suppliers(spark, sf_dir):
    """Triangle counting on the supplier co-occurrence graph with the
    degree-ordered edge orientation (compact-forward): every edge
    points from the (degree, id)-smaller endpoint to the larger, so
    each triangle is enumerated exactly once and the 2-path fan-out is
    bounded by the OUT-degree under that orientation — O(m^1.5) work
    instead of the naive sum of deg^2 over hub vertices; this is the
    standard trick that makes distributed triangle counting survive
    power-law graphs. Emits the top-20 suppliers by triangle
    participation (the clustering-hub ranking)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return _triangle_top20(li)


def _triangle_top20(li):
    """Degree-oriented exact triangle top-20 over the supplier
    co-occurrence graph derived from the given (l_orderkey, l_suppkey)
    projection — shared by the full query and the sampled-vertex
    variant that verifies the kernel at scale factors where the full
    DuckDB oracle exceeds the verification machine."""
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("v"))
    und = (
        a.join(b, "k")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("n"))
        .unionAll(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    e = (
        und.join(F.broadcast(deg.select(F.col("n").alias("u"), F.col("d").alias("du"))), "u")
        .join(F.broadcast(deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
    )
    # Adjacency-intersection enumeration instead of the wedge join.
    # The two-path self-join (p1 ⋈ p2 on the middle vertex, then a
    # closing join on (a, c)) materializes and SHUFFLES the full wedge
    # set twice — 137M rows at sf0.1 for 453k edges, 2.7e9 at sf1 —
    # which is the O(m^1.5) term paid through the network. Under the
    # degree orientation every out-degree is bounded by ~sqrt(2m), so
    # the out-adjacency array per vertex is compact; joining the two
    # endpoint arrays onto each edge and intersecting them in codegen
    # does the same wedge-closure work CPU-side without ever creating
    # a wedge row. Network cost drops from O(wedges) to O(m + adj) =
    # O(m); the only wide rows after the join feed straight into a
    # projection/explode in the same stage. The explode emits one row
    # per TRIANGLE (intersection members only — strictly fewer than
    # wedges) into a map-side partial agg over ~|V| keys.
    # Repartition to full parallelism BEFORE checkpointing: the edge
    # set is byte-small (16B/row) but the closure stage downstream is
    # CPU-bound, so AQE's byte-based coalescing of the upstream
    # distinct (advisory 64MB) would leave the checkpoint — and with
    # it the whole intersect+explode stage — on a handful of
    # partitions. One trivial shuffle here buys n-way CPU for the
    # expensive stage.
    #
    # Above ~2M input rows the factor rises to 4x (VERDICT r10 #4):
    # per-EDGE closure cost is skewed (hub edges intersect long
    # adjacency arrays), so at exactly n_cores partitions the stage is
    # ONE wave and its wall is the single slowest task — the r10 sf1
    # record showed a (31+1)/32 straggler tail holding the stage for
    # tens of seconds and a 118 s first rep. Four waves of smaller
    # tasks amortize the skew: the r11 probe (SCALING.md) measured sf1
    # first-rep 66.2 -> 42.4 s with the converged rep unchanged
    # (23.6 vs 23.8 s), first/converged 1.78x — inside the 2x bar. At
    # sf0.1 (453k edges) the extra tasks only add scheduling overhead,
    # so the small regime keeps the r10 plan; at 100 TB the same logic
    # says "several waves of modest tasks", never "one task per core"
    # (the count below is a cheap parquet-metadata job).
    par = li.sparkSession.sparkContext.defaultParallelism
    n_part = (4 if li.count() > 2_000_000 else 1) * par
    oriented = oriented.repartition(n_part).localCheckpoint(eager=True)
    adj = oriented.groupBy(F.col("lo").alias("n")).agg(
        F.sort_array(F.collect_list("hi")).alias("nbrs")
    )
    lo_adj = adj.select(F.col("n").alias("lo"), F.col("nbrs").alias("lo_nbrs"))
    hi_adj = adj.select(F.col("n").alias("hi"), F.col("nbrs").alias("hi_nbrs"))
    # Broadcast the adjacency side whenever it fits (total payload is
    # exactly m longs — known for free from the checkpointed edge
    # set). This is not just a network win: the intersect+explode is
    # CPU-heavy on a BYTE-small input, and without the hint AQE sees
    # "a few MB", coalesces the adjacency shuffle to ~1 partition and
    # builds against the edge table — collapsing the whole closure
    # stage onto one task (measured 3.3x slower at sf0.1). With the
    # hint the well-partitioned edge table is the probe side and the
    # stage parallelizes over edges. Past the threshold both sides
    # are genuinely large, AQE keeps natural parallelism, and the
    # shuffle join's network cost is O(m) — still never O(wedges).
    # Gate covers the whole regime where adjacency fits an executor
    # (50M edges ~ 400MB): that is exactly the regime where AQE's
    # byte-based sizing would otherwise under-parallelize a CPU-heavy
    # stage. Past it, data volumes are large enough that the shuffle
    # join keeps natural parallelism on its own.
    if oriented.count() <= 50_000_000:
        lo_adj, hi_adj = F.broadcast(lo_adj), F.broadcast(hi_adj)
    # Inner joins are exact: an edge whose hi-endpoint has no
    # out-neighbors closes no triangle and contributes nothing.
    e2 = oriented.join(lo_adj, "lo").join(hi_adj, "hi")
    tri_e = e2.select(
        "lo", "hi", F.array_intersect("lo_nbrs", "hi_nbrs").alias("cs")
    ).withColumn("c", F.size("cs")).filter(F.col("c") > 0)
    # Each triangle (lo, hi, w) is enumerated exactly once, on its
    # (lo, hi) edge. One flat-long explode emits all three
    # participation contributions — the apexes verbatim, lo and hi
    # repeated once per closed triangle on this edge — so the
    # intersect runs exactly once and the agg sees only bigints
    # (a struct-typed explode here measured ~6x slower than the
    # primitive-array path at sf0.1: 65s vs 5s for the same rows).
    contrib = tri_e.select(
        F.explode(
            F.concat(
                "cs",
                F.array_repeat("lo", F.col("c")),
                F.array_repeat("hi", F.col("c")),
            )
        ).alias("n")
    )
    part = contrib.groupBy("n").agg(F.count("*").alias("n_triangles"))
    from pyspark.sql import Window as W

    # Top-k first (TakeOrderedAndProject — per-partition heaps, no
    # global sort), THEN rank the surviving <=20 rows; a row_number
    # over the full participation table would drag every supplier row
    # into one window partition.
    top = part.orderBy(F.desc("n_triangles"), "n").limit(20)
    w = W.orderBy(F.desc("n_triangles"), "n")
    return top.select(
        F.col("n").alias("supplier"),
        "n_triangles",
        F.row_number().over(w).alias("rank"),
    )


TRI_SAMPLE_MOD = 4  # keep 1-in-4 supplier vertices in the sampled kernel


@query(
    "triangle_count_sampled",
    oracle=f"""
    WITH und AS (
      SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      WHERE a.l_suppkey % {TRI_SAMPLE_MOD} = 0
        AND b.l_suppkey % {TRI_SAMPLE_MOD} = 0),
    deg AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT u AS n FROM und UNION ALL SELECT v FROM und)
      GROUP BY 1),
    oriented AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS lo,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS hi
      FROM und e
      JOIN deg du ON du.n = e.u
      JOIN deg dv ON dv.n = e.v),
    tri AS (
      SELECT p1.lo AS a, p1.hi AS b, p2.hi AS c
      FROM oriented p1
      JOIN oriented p2 ON p2.lo = p1.hi
      JOIN oriented p3 ON p3.lo = p1.lo AND p3.hi = p2.hi),
    participation AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM (SELECT a AS n FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
      GROUP BY 1),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY n_triangles DESC, n) AS rn
      FROM participation)
    SELECT n AS supplier, n_triangles, CAST(rn AS INT) AS rank
    FROM ranked WHERE rn <= 20
    """,
)
def triangle_count_sampled(spark, sf_dir):
    """Exact triangle top-20 restricted to the deterministic 1-in-4
    supplier vertex sample (l_suppkey % 4 == 0) — the SCALE
    verification path for the triangle kernel. The full
    triangle_count_suppliers oracle is the one genuinely
    superlinear DuckDB plan in the registry: at sf1 its 2-path
    intermediate (~2e9 rows off 4.5M edges, avg degree ~900) needs
    >85 GB of out-of-core spill, more than the verification box
    (observed r4/r5). Restricting BOTH engines to the same sampled
    subgraph shrinks the 2-path volume ~64x while exercising the
    identical degree-oriented join-agg pipeline on full-scale input
    data — so the kernel stays oracle-checked at every SF the sweep
    runs, and the full query is checked at the largest SF the oracle
    machine can hold (sf0.5 committed; see SCALING.md)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey") % TRI_SAMPLE_MOD == 0)
        .select("l_orderkey", "l_suppkey")
    )
    return _triangle_top20(li)


def co_supply_weighted(spark, sf_dir):
    """(u, v, w) co-supply edges: suppliers sharing an order, w = the
    number of shared orders. THE single definition every graph query
    builds on. r12 form: ONE collect_set shuffle keyed by order
    (map-side partial aggregation dedupes multi-line suppliers in the
    same pass the r11 `.distinct()` needed its own shuffle for), then
    the ordered pairs of each order's supplier set explode MAP-SIDE
    and one hash aggregate counts them — replacing the r11
    distinct-shuffle + two join-side exchanges with a single
    vocabulary shuffle + one pair aggregate (guide §2.4). Same edge
    multiset by construction (all ordered pairs u != v per order,
    once per shared order); oracles keep the countDistinct self-join
    form and hash-match. The per-order set is basket-sized (suppliers
    per order is bounded small in order data), so the C(k,2) explode
    is map-side linear — the market-basket justification verbatim."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_suppkey").alias("s")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(s, x -> transform("
                "filter(s, y -> y != x), y -> struct(x AS u, y AS v))))"
            )
        ).alias("p")
    ).select("p.u", "p.v")
    return pairs.groupBy("u", "v").agg(F.count("*").alias("w"))



STRONG_TIE_MIN = 5  # co-orders required for an edge to survive


LPA_ROUNDS = 3

_SQL_STRONG_EDGES = f"""
    e0 AS (
      SELECT a.l_suppkey AS u, b.l_suppkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey != b.l_suppkey
      GROUP BY 1, 2
      HAVING COUNT(DISTINCT a.l_orderkey) >= {{strong_min}})
"""

_SQL_LPA_STEP = """
    n{it} AS (
      SELECT e.v AS node, l.label, COUNT(*) AS c
      FROM e0 e JOIN l{prev} l ON e.u = l.node
      GROUP BY 1, 2),
    l{it} AS (
      SELECT node, label FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY node
                                     ORDER BY c DESC, label) AS rn
        FROM n{it}) WHERE rn = 1)"""


@query(
    "label_propagation_communities",
    oracle=f"""
    WITH {_SQL_STRONG_EDGES.format(strong_min=STRONG_TIE_MIN)},
    l0 AS (SELECT DISTINCT u AS node, u AS label FROM e0),
    {','.join(_SQL_LPA_STEP.format(it=i, prev=i - 1) for i in range(1, LPA_ROUNDS + 1))}
    SELECT node AS suppkey, label AS community,
           COUNT(*) OVER (PARTITION BY label) AS community_size
    FROM l{LPA_ROUNDS}
    """,
)
def label_propagation_communities(spark, sf_dir):
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) on the strong-tie co-supply graph: every node starts
    labeled with its own id; each round it adopts the most frequent
    label among its neighbors, ties broken on the smaller label —
    the deterministic variant (classic LPA breaks ties randomly, which
    could never be oracle-checked).

    Scale shape: each round is ONE equi-join of the edge list with the
    n-row label table on the source vertex plus one (node, label)
    count and a per-node argmax — the same join-groupBy-argmax round
    as distributed LPA on any Pregel-style system, cost O(m) per
    round. Labels and edges are localCheckpoint-ed so lineage stays
    flat across the driver loop; the strong-tie sparsification (see
    supplier_two_hop_reach) bounds m on the densifying co-occurrence
    graph. 3 rounds fixed so the DuckDB oracle can unroll the
    recursion into CTEs and hash-check every intermediate decision."""
    e0 = (
        co_supply_weighted(spark, sf_dir)
        .filter(F.col("w") >= STRONG_TIE_MIN)
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    labels = (
        e0.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    from pyspark.sql import Window as W

    for _ in range(LPA_ROUNDS):
        votes = (
            e0.join(labels, e0.u == labels.node)
            .groupBy(F.col("v").alias("vnode"), "label")
            .agg(F.count("*").alias("c"))
        )
        w = W.partitionBy("vnode").orderBy(F.desc("c"), "label")
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("vnode").alias("node"), "label")
            .localCheckpoint(eager=True)
        )
    return labels.select(
        F.col("node").alias("suppkey"),
        F.col("label").alias("community"),
        F.count("*").over(W.partitionBy("label")).alias("community_size"),
    )


@query(
    "supplier_two_hop_reach",
    oracle=f"""
    WITH e0 AS (
      SELECT a.l_suppkey AS u, b.l_suppkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey != b.l_suppkey
      GROUP BY 1, 2
      HAVING COUNT(DISTINCT a.l_orderkey) >= {STRONG_TIE_MIN}),
    two AS (
      SELECT DISTINCT x.u, y.v
      FROM e0 x JOIN e0 y ON x.v = y.u
      WHERE y.v != x.u),
    reach AS (
      SELECT u, v FROM e0 UNION SELECT u, v FROM two)
    SELECT u AS suppkey, COUNT(*) AS n_reach
    FROM reach GROUP BY u
    ORDER BY n_reach DESC, suppkey
    LIMIT 20
    """,
)
def supplier_two_hop_reach(spark, sf_dir):
    """Friend-of-friend reach: distinct suppliers reachable in <=2
    hops on the STRONG-TIE co-supply graph (pairs sharing >=5 orders),
    top-20.

    This is one BFS frontier expansion — the building block of k-hop
    feature extraction. The edge-weight threshold is the load-bearing
    scale lever: the raw co-occurrence graph densifies toward complete
    as the fixture grows (sum deg(m)^2 hit 8e8 at sf0.1), and
    sparsifying to strong ties before expanding is how every
    production k-hop pipeline bounds the frontier. The hop itself is
    an equi-join of the edge list with itself on the middle vertex
    (cost sum deg^2 over the SPARSIFIED graph); reach dedup is a
    hash-aggregate on (u, v), never a global sort; AQE skew-join
    splitting covers residual hub vertices."""
    e0 = (
        co_supply_weighted(spark, sf_dir)
        .filter(F.col("w") >= STRONG_TIE_MIN)
        .select("u", "v")
    )
    # Checkpoint the sparsified edge set (both hop sides reuse it
    # without re-running the lineitem self-join) and co-partition the
    # hop join on the middle vertex at a FIXED count: the edge list is
    # byte-small, so AQE's byte-based coalescing would fold the join
    # inputs to ~1 partition while the join OUTPUT (sum deg² pairs) is
    # where all the work is — the same CPU-heavy/byte-small pitfall as
    # the triangle closure, fixed the same way (user partition counts
    # are exempt from coalescing; both sides share the exchange).
    n_part = spark.sparkContext.defaultParallelism * 4
    e0 = e0.localCheckpoint(eager=True)
    x = e0.select(F.col("u"), F.col("v").alias("m")).repartition(n_part, "m")
    y = e0.select(F.col("u").alias("m"), F.col("v")).repartition(n_part, "m")
    two = (
        x.join(y, "m")
        .filter(F.col("v") != F.col("u"))
        .select("u", "v")
    )
    reach = e0.select("u", "v").union(two).distinct()
    return (
        reach.groupBy(F.col("u").alias("suppkey"))
        .agg(F.count("*").alias("n_reach"))
        .orderBy(F.desc("n_reach"), "suppkey")
        .limit(20)
    )


# ---- k-core decomposition (fixed peeling rounds) --------------------------

KCORE_TOP_M = 20  # strongest ties kept per node before peeling
KCORE_K = 12  # minimum degree to survive a peel
KCORE_ROUNDS = 3  # oracle-able prefix of peel-to-fixpoint

# AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs per
# REFERENCE, and the peel chain references each e{i} three times
# (degree agg + two keep-join sides), so an inlined tree re-evaluates
# e0 — a 9M-row window over the pair self-join at sf1 — 3^rounds
# times. Observed: >49 GB of spill and a wedged sweep at sf1;
# materialized, the oracle runs in seconds. (Spark never parses this
# SQL; localCheckpoint plays the same role in the engine loop.)
_SQL_MUTUAL_TOPM = f"""
    w AS MATERIALIZED (
      SELECT a.l_suppkey AS u, b.l_suppkey AS v,
             COUNT(DISTINCT a.l_orderkey) AS w
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey != b.l_suppkey
      GROUP BY 1, 2),
    ranked AS MATERIALIZED (
      SELECT u, v,
             ROW_NUMBER() OVER (PARTITION BY u ORDER BY w DESC, v) AS rn
      FROM w),
    topm AS MATERIALIZED (SELECT u, v FROM ranked WHERE rn <= {KCORE_TOP_M}),
    e0 AS MATERIALIZED (
      SELECT a.u, a.v
      FROM topm a JOIN topm b ON a.u = b.v AND a.v = b.u)
"""

_SQL_PEEL = f"""
    d{{it}} AS MATERIALIZED (SELECT u, COUNT(*) AS d FROM e{{prev}} GROUP BY u),
    keep{{it}} AS MATERIALIZED (SELECT u FROM d{{it}} WHERE d >= {KCORE_K}),
    e{{it}} AS MATERIALIZED (
      SELECT e.u, e.v FROM e{{prev}} e
      JOIN keep{{it}} x ON e.u = x.u
      JOIN keep{{it}} y ON e.v = y.u)"""


@query(
    "k_core_suppliers",
    oracle=f"""
    WITH {_SQL_MUTUAL_TOPM},
    {','.join(_SQL_PEEL.format(it=i, prev=i - 1) for i in range(1, KCORE_ROUNDS + 1))}
    SELECT u AS suppkey, COUNT(*) AS degree
    FROM e{KCORE_ROUNDS} GROUP BY u
    """,
)
def k_core_suppliers(spark, sf_dir):
    """Dense-subgraph extraction: {KCORE_ROUNDS} k-core peeling rounds
    (k={KCORE_K}) on the MUTUAL-TOP-{KCORE_TOP_M} co-supply graph —
    the spam/bot-farm and community-nucleus detector (a k-core is
    what survives when every node must keep >=k strong partners).

    Two scale decisions:

    - The sparsifier is RELATIVE, not absolute: each node keeps its
      {KCORE_TOP_M} strongest ties (by co-order count, neighbor-id
      tie-break), and an edge survives only if BOTH endpoints keep it
      (mutual-kNN). Absolute weight thresholds break as the corpus
      grows (the raw co-occurrence graph densifies toward complete —
      see supplier_two_hop_reach); mutual-top-m bounds edges to
      n*m at ANY corpus size, and the window that ranks ties is one
      shuffle keyed by node.
    - Peeling runs a FIXED {KCORE_ROUNDS} rounds, not to fixpoint, so
      the DuckDB oracle mirrors it as nested CTEs. Each round is one
      degree aggregate plus two semi-joins of the (checkpointed,
      shrinking) edge list against the survivor set — the survivor
      set is node-bounded and broadcasts. localCheckpoint per round
      keeps lineage flat, exactly like connected components.

    At sf0.001 the 10-node mutual graph has uniform degree 9 < k, so
    the core is legitimately empty; the driver gate (sf0.01) peels
    100 -> 88 -> 84 -> 80 nodes and sf0.1 peels 1000 -> 724 -> 540
    -> 310 — both engines agree round by round."""
    weighted = co_supply_weighted(spark, sf_dir)
    from pyspark.sql import Window as W

    rn = F.row_number().over(W.partitionBy("u").orderBy(F.desc("w"), "v"))
    topm = (
        weighted.withColumn("rn", rn)
        .filter(F.col("rn") <= KCORE_TOP_M)
        .select("u", "v")
    )
    rev = topm.select(F.col("u").alias("v"), F.col("v").alias("u"))
    edges = topm.join(rev, ["u", "v"], "left_semi").localCheckpoint(eager=True)
    for _ in range(KCORE_ROUNDS):
        keep = (
            edges.groupBy("u")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= KCORE_K)
            .select("u")
        )
        edges = (
            edges.join(keep, "u", "left_semi")
            .join(keep.withColumnRenamed("u", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
    return edges.groupBy(F.col("u").alias("suppkey")).agg(
        F.count("*").alias("degree")
    )
