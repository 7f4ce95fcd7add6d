"""Plan-quality audits — the 100 TB discipline, enforced in CI:
pushdown reaches the scan, scans prune columns, dim joins broadcast,
hot paths stay in whole-stage codegen, top-k never full-sorts."""

from __future__ import annotations

import re

import pytest

from matrix_multiplication_map_reduce_gcp_spark import registry
from matrix_multiplication_map_reduce_gcp_spark.multimodal.blobs import RUNGS
from matrix_multiplication_map_reduce_gcp_spark.plans import (
    executed_plan,
    has_broadcast_hash_join,
    has_pushed_filters,
    read_schema_columns,
    whole_stage_codegen_spans,
)

from .conftest import SF_SMOKE

Q = registry.load_all()


def test_filter_pushdown_reaches_parquet(spark):
    df = Q["pricing_summary"].fn(spark, SF_SMOKE)
    assert has_pushed_filters(df, "IsNotNull(l_shipdate)", "LessThanOrEqual(l_shipdate")


def test_column_pruning_on_scan(spark):
    """pricing_summary touches 7 of lineitem's 11 columns — the scan
    must not read the rest."""
    df = Q["pricing_summary"].fn(spark, SF_SMOKE)
    schemas = read_schema_columns(df)
    assert schemas, "no parquet ReadSchema found"
    for cols in schemas:
        assert "l_orderkey" not in cols and "l_partkey" not in cols, cols
        assert len(cols) <= 7


def test_dim_joins_broadcast(spark):
    for name in ("brand_revenue_broadcast", "region_nation_revenue", "shipping_priority"):
        assert has_broadcast_hash_join(Q[name].fn(spark, SF_SMOKE)), name


def test_topk_uses_take_ordered(spark):
    plan = executed_plan(Q["top_orders"].fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_matmul_no_cartesian(spark):
    """The flagship must be an equi-join + hash agg — never a
    cartesian/nested-loop (the reference's replication-mapper shape)."""
    plan = executed_plan(Q["matmul"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "HashAggregate" in plan


def test_hot_paths_have_codegen(spark):
    for name in ("pricing_summary", "matmul", "json_extraction"):
        assert whole_stage_codegen_spans(Q[name].fn(spark, SF_SMOKE)) >= 1, name


def test_r2_operators_no_cartesian(spark):
    """Round-2 additions must keep the banded/broadcast join shape:
    candidate generation never runs an unbroadcast all-pairs product
    that would explode at 100 TB. Two BroadcastNestedLoopJoins are
    intended shapes and allowed by name: hard_negative_mining's theta
    join (label !=) streams the corpus against a broadcast pool, and
    bm25_topk pins a ONE-row corpus-stats scalar to every posting."""
    for name in ("sorted_neighborhood_pairs", "triangle_count_suppliers"):
        plan = executed_plan(Q[name].fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoop" not in plan, name
    for name in ("bm25_topk", "hard_negative_mining"):
        plan = executed_plan(Q[name].fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" in plan, name  # broadcast build side


def test_r2_operators_broadcast_small_sides(spark):
    """The query set (bm25) and the co-occurrence edge list (triangle
    counting) are small by construction — they must ship as broadcast
    hash joins, not shuffle the corpus."""
    for name in ("bm25_topk", "triangle_count_suppliers"):
        assert has_broadcast_hash_join(Q[name].fn(spark, SF_SMOKE)), name


def test_pq_plans_broadcast_only(spark):
    """PQ assignment/ADC plan shape (r12): code assignment is ONE
    map-only Arrow pass (MapInPandas — the codebook rides the task
    closure, trained driver-side on the bounded TRAIN_SAMPLE), so the
    corpus never cross-joins, never shuffles for indexing, and the
    only join anywhere is the ADC stage's broadcast of the per-query
    distance table (BroadcastHashJoin) — pq_codes itself has NO join
    node at all. No row-at-a-time Python anywhere."""
    for name in ("pq_codes", "ann_pq_adc_topk", "ann_pq_rerank_topk",
                 "ann_ivfpq_topk"):
        plan = executed_plan(Q[name].fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name
        if name != "ann_ivfpq_topk":
            # ivfpq's coarse-cell stage crossJoins the broadcast
            # 16-row centroid table (ivf.assign_cells's shape) —
            # a scalar-sized BNLJ build side, not a data product.
            assert "BroadcastNestedLoop" not in plan, name
        assert "MapInPandas" in plan, name
        if name == "pq_codes":
            assert "Join" not in plan, name  # indexing is join-free
        else:
            assert "BroadcastHashJoin" in plan, name
        assert "BatchEvalPython" not in plan, name


def test_ann_recall_report_broadcasts_queries(spark):
    """VERDICT r7 #3: the recall report's exact (ground-truth) side is
    a bounded query set crossJoined against the full corpus — the
    query set must ship as an EXPLICIT broadcast (BroadcastNestedLoop,
    corpus streams, never shuffles), not depend on AQE's row-size
    estimate, and no plain CartesianProduct may appear anywhere in
    the plan. Same shape as ann_brute_force_topk
    (similarity/queries.py:299)."""
    plan = executed_plan(Q["ann_recall_report"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


# Every codec-rung query and the rung it runs (blobs.RUNGS).
CODEC_RUNG_QUERIES = {
    "multimodal_image_meta": "png",
    "multimodal_image_dup_groups": "png_ahash",
    "multimodal_image_decode_filtered": "png_filtered",
    "multimodal_image_decode_adam7": "png_adam7",
    "multimodal_jpeg_roundtrip": "jpeg",
    "multimodal_audio_decode": "wav",
    "multimodal_audio_envelope": "wav_envelope",
    "multimodal_video_decode": "avi",
    "multimodal_video_motion": "avi_motion",
    "multimodal_frame_dup_groups": "avi_frame_ahash",
    "multimodal_gif_decode": "gif",
    "multimodal_adpcm_roundtrip": "adpcm",
    "multimodal_mjpeg_frames": "mjpeg",
    "multimodal_deflate_decode": "deflate",
    "multimodal_flac_decode": "flac",
    "multimodal_arith_decode": "arith",
    "multimodal_mpeg_motion": "mpeg",
    "multimodal_mdct_audio": "mau1",
    "multimodal_psycho_audio": "mau2",
    "multimodal_avc_intra": "avc",
    "multimodal_avc_cavlc": "avcc",
}


def test_media_decode_queries_are_map_only(spark):
    """The codec ladder's scale contract (SCALING.md): every rung query
    runs exactly ONE Arrow-batched mapInPandas — generate, encode,
    decode and summarize fused, so no blob crosses the Arrow boundary
    twice. The header-light PNG/WAV/AVI trilogy has NO Exchange — cost
    scales with corpus bytes alone. Every CPU-bound rung deliberately
    decouples decode parallelism from file layout with exactly ONE
    round-robin repartition of the tiny (doc_id, text) rows (no key,
    no skew) — a single-file corpus would otherwise serialize the
    codec on one core — and nothing else. The two dedup queries add
    only their metadata hash-groupBy shuffle."""
    assert sorted(CODEC_RUNG_QUERIES.values()) == sorted(RUNGS)
    assert {k for k, r in RUNGS.items() if not r.repartition} == {
        "png", "png_ahash", "wav", "wav_envelope",
        "avi", "avi_motion", "avi_frame_ahash",
    }
    groupby_exchanges = {
        "multimodal_frame_dup_groups": 2,  # groupBy with count_distinct
        "multimodal_image_dup_groups": 1,
    }
    for name, rung in CODEC_RUNG_QUERIES.items():
        plan = executed_plan(Q[name].fn(spark, SF_SMOKE))
        assert plan.count("MapInPandas") == 1, name
        rr = int(RUNGS[rung].repartition)
        assert plan.count("RoundRobinPartitioning") == rr, name
        assert plan.count("Exchange") == rr + groupby_exchanges.get(name, 0), name


def test_no_python_udfs_in_relational_paths(spark):
    """Relational + dedup queries must stay JVM-side (Python only in
    the explicitly-Pandas multimodal/block operators)."""
    for name in ("pricing_summary", "minhash_lsh_pairs", "simhash_fingerprints",
                 "ann_brute_force_topk", "lang_id_stopwords"):
        plan = executed_plan(Q[name].fn(spark, SF_SMOKE))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_market_basket_prune_broadcasts(spark):
    """The A-priori frequent-item prune must reach the basket rows as
    a BROADCAST hash join (map-side), and the quadratic pair step must
    be MAP-SIDE (r12: an array transform over the per-order frequent
    baskets — no join at all; the r11 self-join duplicated the whole
    distinct->count->prune chain under both sides, 26 Exchanges) —
    never a cartesian, and the only remaining joins are the broadcast
    prune and the 1-row total rejoin."""
    plan = executed_plan(Q["market_basket_pairs"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan  # the map-side pair explode


def test_incident_interval_join_is_equi(spark):
    """The interval-overlap join must plan as an EQUI-join on the epoch
    bin (+ residual filter) — the theta formulation would be a
    nested-loop over |errors| x |events|."""
    plan = executed_plan(Q["incident_impact_events"].fn(spark, SF_SMOKE))
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Join") >= 2  # bin equi-join + zero-impact left join


def test_forward_asof_single_sort_per_key(spark):
    """The forward as-of must be the union-sort shape: exactly ONE
    window sort over the unioned stream, no join node at all."""
    plan = executed_plan(Q["asof_forward_click_to_purchase"].fn(spark, SF_SMOKE))
    assert "Join" not in plan
    assert plan.count("Window") == 1


def test_lm_scoring_has_no_model_join(spark):
    """The corpus-LM scorer must ride windows, not materialize/join a
    model table: no join node anywhere in the plan."""
    plan = executed_plan(Q["lm_bigram_quality_scores"].fn(spark, SF_SMOKE))
    assert "Join" not in plan
    assert plan.count("Window") == 2  # bigram count + history count


def test_snapshot_diff_shuffles_fingerprints_not_rows(spark):
    """The CDC diff's join must be a key equi-join (SMJ/SHJ after the
    two snapshot projections) and the scan must prune to the key +
    fingerprint columns only."""
    df = Q["snapshot_diff_orders"].fn(spark, SF_SMOKE)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    for cols in read_schema_columns(df):
        assert "o_totalprice" not in cols and "o_orderdate" not in cols, cols


def test_path_trigrams_topk_take_ordered(spark):
    """Path-mining top-k must end in TakeOrderedAndProject (constant
    driver memory), with the trigram build as one shared window."""
    plan = executed_plan(Q["event_path_trigrams_topk"].fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Window") == 1


def test_dsir_model_join_broadcasts(spark):
    """DSIR's per-token scoring join against the B-row log-ratio model
    must be a broadcast hash join — the model travels to the tokens,
    the token stream never shuffles for the join."""
    plan = executed_plan(Q["dsir_importance_weights"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semdedup_pair_join_is_equi(spark):
    """SemDeDup's candidate generation must be an equi-join on the
    cell id (never a cross product), and the drop-list flag join must
    broadcast."""
    plan = executed_plan(Q["semdedup_keep_list"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "BroadcastHashJoin" in plan


def test_histogram_scan_prunes_to_price(spark):
    """Both histogram passes must read ONLY l_extendedprice."""
    df = Q["equi_width_price_histogram"].fn(spark, SF_SMOKE)
    for cols in read_schema_columns(df):
        assert cols == ["l_extendedprice"], cols


def test_attribution_single_window_no_join(spark):
    """Last-touch attribution fuses LOCF into the event stream: one
    window pass, zero joins."""
    plan = executed_plan(Q["attribution_last_touch"].fn(spark, SF_SMOKE))
    assert "Join" not in plan
    assert plan.count("Window") == 1


def test_skew_report_topk_take_ordered(spark):
    """The heavy-key top-10 must be per-partition heaps
    (TakeOrderedAndProject), never a global sort of the key table."""
    plan = executed_plan(Q["shuffle_skew_report"].fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_join_view_ivm_all_equi_joins(spark):
    """All four IVM delta joins must be key equi-joins — no nested
    loop anywhere in the maintained-view plan."""
    plan = executed_plan(Q["join_view_ivm"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_skew_report_measures_fixture_worst_key(spark):
    """The diagnosis leg of the skew machinery: skew_report against
    the fixture's worst natural key (events.user_id) must return a
    well-formed report, and a PLANTED 10%-hot-key distribution must
    move the imbalance factor by orders of magnitude — the measured
    signal that tells an operator to reach for salting/AQE."""
    from matrix_multiplication_map_reduce_gcp_spark.catalog import load_table
    from matrix_multiplication_map_reduce_gcp_spark.operators.skew import skew_report
    from pyspark.sql import functions as F

    ev = load_table(spark, "/root/testdata/sf0.1", "events")
    natural = skew_report(ev, "user_id").collect()
    assert len(natural) == 10
    nat_factor = natural[0]["imbalance_factor"]
    assert nat_factor >= 1.0  # 1.0 == perfectly uniform, by definition

    # Plant a 10%-hot key: every 10th row maps to user_id 0.
    planted = ev.withColumn(
        "user_id",
        F.when(F.col("event_id") % 10 == 0, F.lit(0)).otherwise(
            F.col("user_id")
        ),
    )
    rep = skew_report(planted, "user_id").collect()
    hot = rep[0]
    assert hot["key"] == 0 and hot["rank"] == 1
    # ~10% of all rows on one key out of |keys| keys → factor ≈
    # 0.1 * n_keys; require at least 10x the natural imbalance.
    assert hot["imbalance_factor"] > 10 * nat_factor, (
        hot["imbalance_factor"],
        nat_factor,
    )


def test_aqe_skew_join_splits_planted_hot_key(spark):
    """The mitigation leg: with a planted 10%-hot-key distribution on
    both sides of a sort-merge join at sf0.1, AQE's OptimizeSkewedJoin
    must actually split the straggler partition — the final adaptive
    plan carries the skew marker. This is the audited-default story:
    a hot key that slips past manual salting still cannot produce a
    straggler task on a cluster with these session settings."""
    from matrix_multiplication_map_reduce_gcp_spark.catalog import load_table
    from pyspark.sql import functions as F

    # repartition(16): AQE splits a skewed reduce partition into
    # consecutive MAPPER ranges, so with the fixture's single input
    # split (17 MB parquet = 1 map task) there is nothing to split and
    # OptimizeSkewedJoin reports 0 skewed partitions even when the
    # byte test passes (debug-verified: max 754 KB > 2x median 92 KB).
    # A 100 TB table always has thousands of mappers; 16 reproduces
    # that shape at fixture scale.
    ev = load_table(spark, "/root/testdata/sf0.1", "events").repartition(16)
    # ~10% of rows (10k of 100k) on user_id 0; pad a payload column so
    # the hot shuffle partition dwarfs the median in BYTES (what AQE
    # measures), not just rows.
    # The payload must be (a) REFERENCED downstream, or column pruning
    # deletes it before the shuffle, and (b) incompressible, or lz4
    # shrinks the hot partition back under the byte threshold AQE
    # reads from the map-output stats. md5(event_id) is both.
    skewed = ev.select(
        F.when(F.col("event_id") % 10 == 0, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("uid"),
        F.concat(
            F.md5(F.col("event_id").cast("string")),
            F.md5((F.col("event_id") + 1).cast("string")),
        ).alias("pad"),
    )
    # Right side stays uniform (~67 rows/user): one skewed side is
    # enough for OptimizeSkewedJoin to split-and-replicate, and it
    # keeps the hot key's join fan-out bounded.
    right = ev.select("user_id", "value").withColumnRenamed("user_id", "uid")
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
        )
    }
    try:
        # Scale AQE's skew thresholds down to fixture size (defaults
        # are tuned for 256 MB partitions); factor stays at a real
        # 2x-over-median bar so the test exercises the true trigger.
        # 64 shuffle partitions ≈ 1.4k rows median vs 11k on the hot
        # partition — the contrast AQE's per-partition stats must see.
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.shuffle.partitions", "64")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "32k",
        )
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
        conf.set(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "1k"
        )
        # Downstream of the join: a GLOBAL aggregate only. A groupBy on
        # the join key would require hashpartitioning(uid) above the
        # join, and OptimizeSkewedJoin (correctly) refuses to split a
        # partition the parent stage depends on.
        joined = skewed.join(right, "uid").agg(
            F.count("*").alias("n"),
            F.sum("value").alias("tv"),
            F.sum(F.length("pad")).alias("pb"),
        )
        joined.collect()  # AQE finalizes the plan only on execution
        final = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            conf.set(k, v)
    assert "skew=true" in final or "skewed" in final, final[:2000]


def _block_plan(spark):
    from matrix_multiplication_map_reduce_gcp_spark.matrix.block import block_multiply
    from bench import gen_matrix

    out = block_multiply(
        gen_matrix(spark, 100, seed=1),
        gen_matrix(spark, 100, seed=2),
        block_size=25,
    ).df
    out.write.format("noop").mode("overwrite").save()
    return out._jdf.queryExecution().executedPlan().toString()


def _assert_block_rows_only(plan, n_hash_exchanges):
    """Every hash Exchange is keyed on block or cuboid ids, never on the
    entry columns i/j/k; each pack Exchange sits right above its
    partial_collect_list (map-side packing: entry rows are combined
    into per-block partials before any shuffle); nothing crosses into
    pandas."""
    hash_exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(hash_exchanges) == n_hash_exchanges, hash_exchanges
    for keys in hash_exchanges:
        assert re.search(r"_groupingexpression|cuboid#|bi#", keys), keys
        assert not re.search(r"\b[ijk]#\d+L", keys), keys
    lines = plan.splitlines()
    packs = [
        ix for ix, line in enumerate(lines)
        if "Exchange hashpartitioning(_groupingexpression" in line
    ]
    assert len(packs) == 2, packs
    for ix in packs:
        assert "partial_collect_list" in lines[ix + 1], lines[ix + 1]
    assert plan.count("partial_collect_list") == 2
    assert "Pandas" not in plan


def test_summa_block_plan_shuffles_block_rows_only(spark):
    """The block path's 100 TB contract at Q = 1 (the grid every
    panel-bounded product gets): four hash exchanges — pack-A, pack-B
    and the two sides of the cuboid cogroup — and exactly ONE Python
    operator, the per-cuboid GEMM as FlatMapCoGroupsInArrow: no
    partial-product Exchange, no block-sum FlatMapGroupsInArrow, no
    MapInArrow. This is the audit behind the matmul_dense_4000_block
    bench entry."""
    plan = _block_plan(spark)
    _assert_block_rows_only(plan, n_hash_exchanges=4)
    assert plan.count("FlatMapCoGroupsInArrow") == 1
    assert "FlatMapGroupsInArrow" not in plan
    assert "MapInArrow" not in plan
    assert len(re.findall(r"Python|InArrow|InPandas", plan)) == 1, plan


def test_block_plan_with_split_shared_dim_sums_partials(spark, monkeypatch):
    """When a cuboid would exceed CUBOID_MAX_BYTES the shared dimension
    splits (Q > 1): the partial blocks then go through the (bi, bk)
    FlatMapGroupsInArrow block sum — one more Exchange, still keyed on
    block ids. A bound of one block per panel forces Q = n_j."""
    import matrix_multiplication_map_reduce_gcp_spark.matrix.block as block

    monkeypatch.setattr(block, "CUBOID_MAX_BYTES", block._cuboid_bytes(1, 1, 1, 25))
    plan = _block_plan(spark)
    _assert_block_rows_only(plan, n_hash_exchanges=5)
    assert plan.count("FlatMapCoGroupsInArrow") == 1
    assert plan.count("FlatMapGroupsInArrow") == 1


def test_multiply_json_plan_has_no_python_hop(spark, monkeypatch):
    """multiply_json runs JVM-only: its source is a range, not a
    Python list (createDataFrame of a list plans as Scan ExistingRDD
    over Python-worker tasks), and no operator calls into Python. The
    product is one stage with no shuffle: B's broadcast is the only
    Exchange, and the join feeds the partial and final (i, k)
    aggregates, summed in float64, with no Exchange between."""
    from matrix_multiplication_map_reduce_gcp_spark.matrix import facade
    from matrix_multiplication_map_reduce_gcp_spark.matrix.coo import CooMatrix

    seen = []
    to_numpy = CooMatrix.to_numpy

    def spy(self):
        seen.append(self.df)
        return to_numpy(self)

    monkeypatch.setattr(CooMatrix, "to_numpy", spy)
    facade.multiply_json(spark, "[[1, 2], [3, 4]]", "[[5, 6], [7, 8]]")
    (df,) = seen
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "ExistingRDD" not in plan
    assert not re.search(r"Python|InArrow|InPandas", plan), plan
    final = plan.split("+- == Initial Plan ==")[0].splitlines()
    aggs = [ln for ln in final if "HashAggregate" in ln]
    assert len(aggs) == 2 and not any("decimal" in ln for ln in aggs), plan
    exchanges = [ln for ln in final if "Exchange" in ln]
    assert len(exchanges) == 1 and "BroadcastExchange" in exchanges[0], plan
    top = next(n for n, ln in enumerate(final) if "HashAggregate" in ln)
    join = next(n for n, ln in enumerate(final) if "Join" in ln)
    assert top < join and not any("Exchange" in ln for ln in final[top:join]), plan


@pytest.mark.parametrize(
    "name",
    [
        "matmul",
        "matmul_sparse",
        "matrix_gram",
        "matvec",
        "matmul_chain_assoc",
        "matmul_strassen",
        "power_iteration_2step",
    ],
)
def test_matrix_products_sum_in_float64(spark, name):
    """Every sum of products in a matrix query is a float64 sum, the
    reference reducer's arithmetic. The only decimal aggregate is
    the fixture derivation of B's l_quantity sums (matrix/fixtures.py)."""
    plan = executed_plan(Q[name].fn(spark, SF_SMOKE))
    aggs = [ln for ln in plan.splitlines() if "HashAggregate" in ln]
    assert any(re.search(r"sum\(\(.+ \* ", ln) for ln in aggs), plan
    assert all("l_quantity" in ln for ln in aggs if "decimal" in ln), plan


def test_triangle_closure_is_adjacency_intersect(spark):
    """The triangle kernel's 100 TB contract: wedges are closed by
    array_intersect over per-edge endpoint adjacency arrays, never by
    materializing the wedge set through a self-join (O(wedges) rows
    shuffled twice). Pins (a) the intersect in the plan, (b) the flat
    explode feeding a partial agg (map-side combine before the only
    wide shuffle), and (c) no Sort anywhere in the closure stage — a
    SortMergeJoin on the wedge columns is the regression shape."""
    df = Q["triangle_count_suppliers"].fn(spark, SF_SMOKE)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("+- == Initial Plan ==")[0]
    assert "array_intersect" in final
    assert "explode" in final and "array_repeat" in final
    assert "partial_count" in final
    # Adjacency joins resolved to broadcast at this size: the edge
    # table stays the probe side, keeping the CPU-heavy closure stage
    # at full parallelism (the AQE byte-coalescing pitfall).
    assert "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final


def test_r10_codec_rungs_are_map_only_plus_one_repartition(spark):
    """The r10 entropy rungs (GIF/LZW, IMA ADPCM, MJPEG, from-spec
    DEFLATE, FLAC, adaptive-arithmetic) share the CPU-bound codec contract: Arrow-batched
    mapInPandas stages with EXACTLY the one deliberate round-robin
    Exchange that decouples codec parallelism from file layout —
    nothing else shuffles."""
    for name in (
        "multimodal_gif_decode",
        "multimodal_adpcm_roundtrip",
        "multimodal_mjpeg_frames",
        "multimodal_deflate_decode",
        "multimodal_flac_decode",
        "multimodal_arith_decode",
    ):
        plan = executed_plan(Q[name].fn(spark, SF_SMOKE))
        assert plan.count("Exchange") == 1, f"{name}: one deliberate repartition"
        assert "RoundRobinPartitioning" in plan, name
        assert "MapInPandas" in plan, name


def test_mrl_recall_broadcasts_queries_single_corpus_scan(spark):
    """mrl_truncation_recall scores full-dim AND prefix-dim cosine in
    ONE broadcast crossJoin pass: the bounded query set ships as an
    explicit broadcast (no CartesianProduct), and the embeddings
    corpus is scanned exactly once — scoring the two rankings in
    separate passes would double the dominant cost at 100 TB."""
    plan = executed_plan(Q["mrl_truncation_recall"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    # both scans read embeddings; exactly two scans total (query set +
    # corpus side of the single crossJoin), never four
    assert plan.count("Scan parquet") <= 2, plan.count("Scan parquet")


def test_bpe_trainer_stays_jvm_and_broadcasts_winners(spark):
    """The 3-round BPE trainer (r12 word-frequency form): each
    round's 1-row winner is a TakeOrderedAndProject materialized by a
    localCheckpoint (still a distributed plan — never a collect) and
    rejoins as a BROADCAST; the pair aggregation is a plain
    alphabet^2-bounded hash shuffle; the whole thing stays JVM-side
    (no Python evaluators). The winner selection runs inside the
    per-iteration checkpoint jobs, so the FINAL union plan shows the
    checkpointed 1-row scans plus their broadcast rejoins against the
    token-total scalars."""
    from matrix_multiplication_map_reduce_gcp_spark.plans.explain import (
        formatted_plan,
    )

    df = Q["bpe_train_merges"].fn(spark, SF_SMOKE)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row winner x stats rejoin
    assert "Python" not in plan
    # No driver-side selection anywhere: the winner rows reach the
    # final plan as checkpointed RDD scans (one per merge round).
    assert plan.count("Scan ExistingRDD") >= 3, plan
    # And the trainer's output is still the learned 3 rows.
    assert df.count() == 3
    assert "Python" not in formatted_plan(df)


def test_zorder_plan_is_codegen_single_shuffle(spark):
    """The Morton interleave must be pure JVM bit arithmetic (no
    Python evaluators, inside whole-stage codegen) and the bucket
    stats one partial-aggregated hash shuffle over the 64-bucket key
    space — the map-side-combine class that survives any table size."""
    df = Q["zorder_layout_plan"].fn(spark, SF_SMOKE)
    plan = executed_plan(df)
    assert "Python" not in plan
    assert "HashAggregate" in plan
    assert plan.count("Exchange") <= 2  # one per unioned layout branch
    assert whole_stage_codegen_spans(df) >= 1


def test_strassen_is_one_tagged_join(spark):
    """The Strassen tensor rides ONE equi-join: both operands explode
    into (term, sign)-tagged cells and all seven half-size products
    aggregate out of a single broadcast hash join — never a cartesian,
    never seven separate product joins (the naive formulation's 25
    joins replayed the operand scans, 3x the wall). Exactly two scans
    (one per operand derivation) and JVM-side generators."""
    plan = executed_plan(Q["matmul_strassen"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert plan.count("BroadcastHashJoin") == 1
    # two tagged operand explodes + the C-assembly scatter
    assert plan.count("Generate") == 3
    assert plan.count("Scan parquet") == 2
    assert "HashAggregate" in plan
    assert "Python" not in plan


def test_zorder_execute_reread_pushes_filters(spark, tmp_path):
    """The EXECUTED z-order layout's audit scans must push the
    single-column range predicates down to the rewritten parquet
    files (footer-level skipping is what the files_scanned numbers
    quantify), and each of the 64 buckets must land in exactly one
    data file (the hash-repartition before partitionBy)."""
    import glob

    from matrix_multiplication_map_reduce_gcp_spark.operators.analytics import (
        rewrite_orders_layouts,
    )
    from pyspark.sql import functions as F

    layouts = rewrite_orders_layouts(spark, SF_SMOKE, str(tmp_path))
    z = layouts["zorder"]
    probe = z.filter(F.col("k1").between(F.lit(32), F.lit(47)))
    assert has_pushed_filters(
        probe, "GreaterThanOrEqual(k1,32)", "LessThanOrEqual(k1,47)"
    )
    dirs = glob.glob(str(tmp_path / "layout=*" / "zbucket=*"))
    assert dirs, "r12 single-write layout dirs missing"
    for d in dirs:
        files = glob.glob(f"{d}/*.parquet")
        assert len(files) == 1, d
