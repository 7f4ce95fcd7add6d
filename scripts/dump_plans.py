"""Regenerate PLANS.md: formatted physical plans of representative
queries, annotated with the scale property each one evidences.

Usage: python scripts/dump_plans.py   (writes PLANS.md at repo root)
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from matrix_multiplication_map_reduce_gcp_spark import registry
from matrix_multiplication_map_reduce_gcp_spark.plans import formatted_plan
from matrix_multiplication_map_reduce_gcp_spark.session import get_spark

SF = "/root/testdata/sf0.001"

SHOWCASE = [
    (
        "pricing_summary",
        "Filter pushed to the parquet scan (PushedFilters), 7/11 columns read "
        "(ReadSchema), partial+final HashAggregate around one Exchange.",
    ),
    (
        "matmul",
        "The reference's whole MapReduce pipeline as one plan: two scans -> "
        "equi-join on the shared dim -> partial/final hash agg. No cartesian, "
        "no per-cell anything.",
    ),
    (
        "brand_revenue_broadcast",
        "Dim side broadcast (BroadcastHashJoin/BroadcastExchange): the fact "
        "table never shuffles for the join.",
    ),
    (
        "top_orders",
        "Global top-k via TakeOrderedAndProject: per-partition heaps + driver "
        "merge of k rows per partition — not a total sort.",
    ),
    (
        "asof_last_order_before_event",
        "As-of join as union + single window sort per key — one Exchange for "
        "both inputs, no range-join row blow-up.",
    ),
    (
        "simhash_near_dup_pairs",
        "Exact near-dup pairs without n²: pigeonhole band explode (x4) -> "
        "self equi-join on (band, key) -> bit_count verify -> dedup. "
        "Candidate volume tracks true near-dup density, not corpus².",
    ),
    (
        "minhash_lsh_pairs",
        "Dedup pipeline: explode -> partial-aggregated MIN signatures -> band "
        "explode -> self equi-join on (band, sig). All JVM-side, zero Python "
        "evaluators.",
    ),
    (
        "ngram_jaccard_pairs",
        "Stop-shingle df cap as a COUNT window on the same key the self-join "
        "shuffles on — replaces the naive groupBy + join-back formulation "
        "(two extra shuffle subtrees; measured 2x slower at sf0.1).",
    ),
    (
        "ann_sq8_topk",
        "Quantized ANN: normalize + encode map-side, codes groupBy'd once, "
        "query side broadcast (BroadcastNestedLoop over 5 rows), integer dot "
        "fold in codegen — corpus never shuffles for scoring.",
    ),
    (
        "quality_filter_verdict",
        "Quality filtering is ONE map-only stage: no Exchange anywhere in the "
        "plan — the filter scales with scan bandwidth alone.",
    ),
    (
        "sequence_pack_greedy",
        "Packing = one Exchange on lang + one in-partition running-sum "
        "window; bin assignment is projection arithmetic after the sort.",
    ),
    (
        "kmeans_assignments",
        "Lloyd assignment is map-only with NO join node: the K centroids "
        "ride the plan as an array<struct> literal (MLlib's collect+"
        "broadcast-the-model shape) and the K-candidate argmin is an "
        "array_min fold inside codegen — zero shuffles for assignment.",
    ),
    (
        "cms_heavy_hitters",
        "Count-min: the explode feeds a partial-agged groupBy over <=2048 "
        "cells — shuffle bounded by sketch geometry, not key cardinality; "
        "estimates join the broadcast cell table.",
    ),
    (
        "bloom_join_prune",
        "Probe side never shuffles: three 128-row broadcast bitmap joins + "
        "an AND replace explode/groupBy; only the final per-status agg "
        "exchanges.",
    ),
    (
        "scd2_user_event_history",
        "LAG, running change-count and LEAD all share ONE user_id "
        "sort+shuffle (1 Exchange, 3 Windows) — the floor for any "
        "ordered-run computation.",
    ),
    (
        "domain_balanced_sample",
        "Mixture sampling = two broadcast scalars folded into a map-only "
        "integer-compare filter; the corpus is scanned once and never "
        "shuffled.",
    ),
    (
        "incident_impact_events",
        "Interval-overlap join as a bin EQUI-join: incidents explode to "
        "their <=2 epoch bins, candidates bucket map-side, residual "
        "predicate after the hash join — never |errors| x |events|.",
    ),
    (
        "market_basket_pairs",
        "A-priori first pass: broadcast frequent-item prune BEFORE the "
        "quadratic step, then one co-partitioned self-join on the basket "
        "key; item supports ride the pair rows (no join-back).",
    ),
    (
        "lm_bigram_quality_scores",
        "Corpus-LM scoring with NO model join: both MLE counts are COUNT "
        "windows over the exploded bigram rows (partition by bigram, then "
        "by history token); integer nano-nat terms aggregate per doc.",
    ),
    (
        "dsir_importance_weights",
        "DSIR: the hashed-bucket model is built by one partial-agged count "
        "and rejoins the token stream as a BroadcastHashJoin — two linear "
        "scans, the 'classifier' travels in the task closure.",
    ),
    (
        "semdedup_keep_list",
        "SemDeDup: pair candidates form ONLY inside a k-means cell (equi-"
        "join on cell id after the map-only literal-centroid assignment); "
        "the drop list broadcasts back for the verdict join.",
    ),
    (
        "knn_graph_lsh",
        "All-corpus kNN graph: 9x multi-probe explode, bucket equi-join and "
        "distinct all carry IDS ONLY — vectors join back once per surviving "
        "pair before the per-src top-k window.",
    ),
    (
        "attribution_last_touch",
        "Attribution with NO join: the marketing-touch LOCF rides one "
        "IGNORE-NULLS window over the event stream itself; one Exchange "
        "keyed by user, then a 3-row channel aggregate.",
    ),
    (
        "table_expectations_orders",
        "Six data-contract checks from one conditional-aggregate scan "
        "(single Exchange of six counters) plus a broadcast anti-join for "
        "the FK check — checks never multiply scans.",
    ),
    (
        "ann_recall_report",
        "Recall@k evaluation: the bounded query set ships as an EXPLICIT "
        "broadcast on the exact side (r8, BroadcastNestedLoopJoin — the "
        "corpus streams and never shuffles for the ground truth), the "
        "approx side is the production bucket equi-join, and the hit rate "
        "is a LEFT join + COUNT — no per-query collect anywhere.",
    ),
    (
        "multimodal_mjpeg_frames",
        "Compressed-video rung (r10, per-frame JPEG entropy decode "
        "inside an MJPEG AVI container): the same deliberate "
        "RoundRobinPartitioning Exchange + ONE fused Arrow-batched "
        "MapInPandas (generate, encode, decode, per-frame rows) as every "
        "CPU-bound codec rung — no shuffle after decode, no collect; "
        "the heaviest codec in the ladder stays map-only.",
    ),
    (
        "multimodal_image_decode_filtered",
        "CPU-bound codec (r9, inflate + spec de-filter over ~3 KB "
        "pixels/doc): ONE deliberate RoundRobinPartitioning Exchange of "
        "the tiny (doc_id, text) rows decouples decode parallelism from "
        "file layout (a single-file corpus would serialize the codec on "
        "one core); encode and decode run fused in ONE Arrow-batched "
        "MapInPandas; no other shuffle.",
    ),
    (
        "multimodal_deflate_decode",
        "From-spec entropy decoder rung (r10, RFC 1951/1950 inflate — "
        "canonical Huffman over all three block types + Adler-32): same "
        "one-deliberate-RoundRobin + Arrow-batched MapInPandas codec "
        "contract; the whole decode is map-only.",
    ),
    (
        "mrl_truncation_recall",
        "Matryoshka truncation report (r10): full-dim AND prefix-16-dim "
        "cosine scored in ONE BroadcastNestedLoopJoin pass (corpus "
        "scanned once, never shuffled), both rankings share a single "
        "query_id window Exchange — separate passes would double the "
        "dominant cost at 100 TB.",
    ),
    (
        "multimodal_mpeg_motion",
        "Motion-compensated video rung (r11, MPV1: intra JPEG-DCT frame "
        "+ P-frames with full-search motion vectors and coded "
        "residuals, Exp-Golomb MV coding): the same one deliberate "
        "RoundRobinPartitioning Exchange + ONE fused Arrow-batched "
        "MapInPandas as every CPU-bound codec rung; motion "
        "search, closed-loop reconstruction and bitstream decode are "
        "all per-doc CPU work — map-only at 100 TB.",
    ),
    (
        "multimodal_psycho_audio",
        "Psychoacoustic-model rung (r11, MAU2: MDCT + masking-threshold "
        "driven dynamic bit allocation under a hard per-frame budget): "
        "same single-RoundRobin Arrow-batched MapInPandas codec "
        "contract; the masking model is O(bands^2) per frame, constant "
        "per doc — map-only at 100 TB.",
    ),
    (
        "multimodal_avc_intra",
        "H.264-tooling rung (r11 wave 4, AVC1: Intra_4x4 directional "
        "prediction + the exact integer transform and MF/V quant LUTs "
        "+ MPM mode coding): same single-RoundRobin Arrow-batched "
        "MapInPandas codec contract — map-only at 100 TB.",
    ),
    (
        "bpe_train_merges",
        "Distributed BPE tokenizer training (r11 wave 5): three "
        "count->argmax->rewrite iterations in ONE plan — each winner "
        "is a 1-row TakeOrderedAndProject rejoined as a broadcast "
        "(BroadcastNestedLoopJoin, never a collect), pair-count "
        "shuffles are alphabet^2-bounded, rewrites are map-only; at "
        "100 TB you checkpoint the rewritten corpus between rounds "
        "and the shuffles stay constant-size.",
    ),
    (
        "zorder_layout_plan",
        "OPTIMIZE-ZORDER planning pass (r11 wave 6): Morton interleave "
        "as pure codegen bit arithmetic on the scan, one 64-bucket "
        "map-side-combine shuffle per layout branch — zone-map stats "
        "at scan bandwidth for any table size.",
    ),
    (
        "matmul_strassen",
        "One Strassen level (r11 wave 7): the Strassen tensor as a "
        "(term, sign)-tagged replication flatMap — ALL SEVEN half-size "
        "products out of ONE broadcast equi-join + hash agg, a second "
        "tagged scatter assembles C. One shuffle per recursion level "
        "at 100 TB; 3.1x faster than the naive 25-join formulation it "
        "replaced pre-commit.",
    ),
]


def main(argv: list[str] | None = None) -> None:
    argparse.ArgumentParser(description=__doc__.split("\n\n")[0]).parse_args(argv)
    spark = get_spark(app_name="dump_plans", cpus=4)
    q = registry.load_all()
    out = [
        "# PLANS — representative physical plans (generated by scripts/dump_plans.py)",
        "",
        f"Source fixtures: {SF}; session: AQE on, 64 MB broadcast threshold.",
        "Regenerate after plan-affecting changes: `python scripts/dump_plans.py`.",
        "",
        "**Eager query construction (ADVICE r12, documented boundary):**",
        "a few query FUNCTIONS launch Spark jobs when merely CALLED,",
        "before any action on the returned DataFrame — PQ/SQ8 collect",
        "their bounded training sample / 1-row scale driver-side",
        "(`similarity/pq.py train_codebook_np`, `quantization.py",
        "sq8_scored_arrow`), and the iterative queries (`bpe_*`,",
        "`market_basket_pairs`, `zorder_layout_*`, LPA and the other",
        "graph-loop queries) run `localCheckpoint(eager=True)` per",
        "round. This is deliberate: the collects are sanctioned",
        "small-sample training (faiss posture, hard-bounded) and the",
        "checkpoints are inside-query lineage flattening an iterative",
        "algorithm needs at any scale. Consequence for TOOLING:",
        "building one of these plans is not free — dry-run/plan-capture",
        "helpers run against the small fixtures, and anything that",
        "constructs-but-discards these queries pays the",
        "training/checkpoint jobs. The non-iterative, non-training",
        "queries remain lazy end-to-end.",
        "",
    ]
    for name, note in SHOWCASE:
        plan = formatted_plan(q[name].fn(spark, SF))
        out += [f"## {name}", "", note, "", "```", plan.rstrip(), "```", ""]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(out)} lines)")


if __name__ == "__main__":
    main()
