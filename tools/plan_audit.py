"""Plan-shape audit across the whole query inventory.

Flags plans that would not survive scale: unexpected CartesianProduct,
nested-loop joins outside the known theta/all-pairs verifiers, and
sort-merge joins where a broadcast was expected. Run after adding or
changing operators:

    python tools/plan_audit.py [sf_dir]

An allowlist entry whose query no longer shows the pattern it excuses
(or is no longer registered) prints as ``STALE <name>``; stale entries
are reported only and do not count as flags.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sql_query_engine_spark import get_spark  # noqa: E402
from sql_query_engine_spark.plans.inspect import (  # noqa: E402
    formatted_plan,
    join_strategies,
)
from sql_query_engine_spark.queries import registry  # noqa: E402

# queries whose plans legitimately contain a nested-loop / cartesian /
# sort-merge join, with the reason
EXPECTED = {
    "dedup_substring_span": "corpus x corpus gram self-join pinned to "
    "sort-merge by hint: both sides spill, no in-memory build side — the "
    "broadcast/shuffle-hash alternatives OOM'd the 1M-doc rehearsal",
    "ref_cross_product": "explicit cartesian is the operator",
    "pipeline_classifier_calibration": "crossJoin of a broadcast 1-row "
    "total-count aggregate (lazy-count shape of text_idf)",
    "text_keywords": "crossJoin of a broadcast 1-row n_docs aggregate "
    "(lazy-count shape of text_idf)",
    "catalog_distribution_drift": "crossJoin of a broadcast 1-row "
    "bin-totals aggregate (lazy-count shape of text_idf)",
    "catalog_constraint_check": "five crossJoins of broadcast 1-row "
    "count aggregates (one per constraint row) — the lazy-count shape "
    "of text_idf, never data-sized",
    "ref_theta_join_pure": "pure non-equi join → broadcast NLJ by design",
    "dedup_embedding_cosine": "all-pairs exactness baseline (scale path is LSH)",
    "dedup_simhash_pairs": "all-pairs Hamming verifier (scale path is "
    "dedup_simhash_lsh banding)",
    "text_idf": "crossJoin of a broadcast 1-row corpus-count aggregate — "
    "the lazy replacement for an eager driver-side count()",
    "window_distribution_scale": "crossJoin of a broadcast 1-row total-count "
    "aggregate (same lazy-count shape as text_idf)",
    "window_ntile_scale": "crossJoin of a broadcast 1-row total-count "
    "aggregate (same lazy-count shape as text_idf)",
    "sim_cosine_topk": "broadcast NLJ of tiny query set vs corpus — correct",
    "sim_int8_topk": "BNLJ is the broadcast ≤8-row quantized query set "
    "against one streaming pass of the quantized corpus — the "
    "cosine_topk broadcast-query shape on int8 codes",
    "sim_ann_topk": "BNLJ is the broadcast ≤8-row quantized query set "
    "of the planner-chosen exact int8 strategy (the gate corpora "
    "estimate in the uncertain band) — sim_int8_topk's shape; the "
    "ivf/hamming strategies it can dispatch to are audited under "
    "sim_ivf_int8_topk / sim_hamming_topk",
    "sim_hamming_topk": "BNLJ is the broadcast ≤4-row query-code set "
    "against one streaming pass of the code table — the cosine_topk "
    "broadcast-query shape on 64-bit codes",
    "text_bm25_topk": "two crossJoins of the broadcast 1-row "
    "avgdl/corpus-count aggregate (lazy-count shape of text_idf) — "
    "never data-sized",
    "dedup_winnowing": "fingerprint pair join pinned to sort-merge by "
    "hint: both sides are corpus-derived aggregates whose leaf "
    "estimates can be tiny (the 1M rehearsal caught Catalyst "
    "broadcasting the corpus-sized fingerprint table and OOMing — the "
    "round-4 span-join trap) — REHEARSAL_r05_winnow_1m is the gate",
    "sim_mmr_rerank": "SMJ = the per-round (qs x penalty) joins: both "
    "sides are the same per-candidate table (one row per corpus vector, "
    "checkpointed so Catalyst has no size estimate) — sort-merge on "
    "vec_id is the right strategy for two equal-cardinality sides; the "
    "64-row selected-vector joins ARE broadcast",
    "graph_triangle_count": "BNLJ = crossJoins assembling the THREE "
    "broadcast 1-row stat aggregates into the single output row; SMJ = "
    "the wedge/closing edge-table self-joins — both sides are the same "
    "persisted edge list (capped by the 20-user cell bound), so "
    "sort-merge on vertex keys is the right strategy, not broadcast",
    "join_full_outer": "full outer cannot broadcast; SMJ is the right strategy",
    "join_range_bands": "theta join against a 5-row broadcast band table — "
    "BNLJ here IS the lookup",
    "sim_ivf_topk": "corpus-side joins shuffle (SMJ) by design — sizes are "
    "unknown past the mapInPandas boundary, and at scale the cell join is "
    "a shuffle anyway",
    "tpch_q11_important_stock": "crossJoin of a broadcast 1-row grand-total "
    "aggregate (same lazy-count shape as text_idf)",
    "tpch_q22_global_sales_opportunity": "crossJoin of a broadcast 1-row "
    "average-balance aggregate (same lazy-count shape as text_idf)",
    "pipeline_temperature_mixture": "BNLJs are the 1-row aggregate "
    "(total count + sorted-fold denominator) broadcast against the tiny "
    "per-source rate table — the text_idf shape; corpus-side admission "
    "joins broadcast the rates",
    "text_lm_score": "BNLJ is the 1-row bigram-total aggregate crossJoin "
    "(text_idf shape); the per-doc⋈vocab join broadcasts the tiny "
    "bigram-count table",
    "sim_pq_topk": "BNLJ is the broadcast 16-row pinned codebook / "
    "8-row query-LUT tables against the corpus scan (r10 pinned "
    "variant) — the sim_ivf_int8_topk broadcast-small-set shape; "
    "assignment reduces corpus×16 to one codes row per vector via a "
    "map-side-combinable argmin aggregate before any shuffle",
    "sim_ivfpq_topk": "BNLJ×6 is the 16-row pinned coarse-centroid and "
    "16-row pinned residual-codebook broadcasts crossed against the "
    "corpus scan and the ≤8-row query set (r10 pinned variant; the "
    "corpus-side subtree appears twice because the residual table "
    "feeds both the codebook filter and the code assignment) — every "
    "BNLJ side is a bounded broadcast relation, never data×data; "
    "candidate generation and scoring are the BHJ equi-joins on "
    "cell_id/query_id",
    "sim_ivf_int8_topk": "BNLJ×2 is the broadcast 16-centroid set "
    "crossed once against the corpus (assignment argmin aggregate — "
    "map-side partial, one row per vector before the shuffle) and once "
    "against the 8 query vectors (probe ranking) — no corpus shuffle on "
    "vectors; candidate generation and rescoring are the BHJ equi-joins",
    "sim_hybrid_rrf": "BNLJs are the lazy 1-row corpus-count crossJoin "
    "(text_idf shape) and the broadcast single query vector vs corpus; "
    "the SMJ is the full outer fusion of two ≤50-row ranked lists "
    "(full outer cannot broadcast)",
    "pipeline_semantic_decontaminate": "BNLJ is the broadcast held-out "
    "vector set (tiny by construction — benchmarks vs corpus) scored "
    "against the train scan — the cosine_topk broadcast-query shape; "
    "the corpus embedding column never shuffles",
    "emb_knn_label_transfer": "BNLJ is the broadcast unlabeled batch "
    "(the small side in label transfer) scored against the labeled "
    "corpus scan — same broadcast-query-set shape as cosine_topk",
    "catalog_table_diff": "full outer join of two table SNAPSHOTS on the "
    "primary key — both sides are table-sized, neither can broadcast, "
    "and full outer requires a shuffle join; the shuffle carries only "
    "(key, 32-byte row hash), never row payloads",
    "agg_heavy_hitters": "BNLJ is the lazy 1-row total-token-count "
    "aggregate crossJoin (text_idf shape) against the word-count table",
    "catalog_key_skew_profile": "BNLJ is the lazy 1-row total-count "
    "aggregate crossJoin (text_idf shape) against the per-key counts",
    "catalog_feed_freshness": "BNLJ is the broadcast 1-row corpus-max "
    "aggregate against the tiny per-feed table (text_idf shape)",
    "graph_pagerank": "BNLJ is the lazy 1-row node-count aggregate "
    "crossJoined once into the initial rank table (text_idf shape — "
    "never data-sized). SMJ×5 is each round's rank ⟕ edges join on the "
    "source key: the static plan shuffles both sides, and AQE broadcasts "
    "the edge table at runtime when it fits (every round then reuses the "
    "one broadcast). The rounds unroll into one lazy plan "
    "(operators/iterate.py), so the whole iteration DAG is visible here.",
    "pipeline_source_authority": "BNLJ×6 is the lazy 1-row source-count "
    "aggregate crossJoined into the source table (text_idf shape), which "
    "the initial ranks and every round re-read (AQE runs it once). Per "
    "round, one SMJ is the rank ⟕ weighted-edges join (the LSH-derived "
    "edge table has no small static estimate; AQE broadcasts it at "
    "runtime) and one is the full outer join of the source table with "
    "the per-target sums, which cannot broadcast — both sides are "
    "source-sized, thousands of rows by construction",
    "pipeline_classifier_train": "BNLJ×15 is the broadcast 1-row weight "
    "vector crossed with the feature scan once per GD round in each of "
    "the trajectory's 5 union branches (1+2+3+4+5); AQE reuses each "
    "round's exchanges, so each round runs once",
}

# queries whose physical plan legitimately contains a Window with no
# partition spec (a single-task total order). Anything else with a
# partitionless window is a scale bug: the whole input funnels through
# one task for the sort.
EXPECTED_GLOBAL_WINDOW = {
    "sample_weighted_priority": "global row_number runs over the "
    "TakeOrdered-limited 20-row priority sample, never the corpus",
    "window_ntile": "global quantile rank IS a total order; scale "
    "alternative (approx_percentile bucket edges) documented in queries.py",
    "window_distribution": "global percent_rank/cume_dist IS a total order; "
    "scale alternative documented in queries.py",
    "text_pack_sequences": "two-phase prefix sum: the one global window "
    "runs over shard TOTALS (one row per shard, broadcast-sized by "
    "construction — functions/packing.py)",
    "pipeline_training_data": "same shard-totals window via "
    "packing.pack_chunks — one row per shard",
    "window_distribution_scale": "two-pass range rank (operators/rank.py): "
    "the global window runs over per-partition COUNTS (one row per range "
    "partition), not the data",
    "window_ntile_scale": "same two-pass rank offsets window — one row "
    "per range partition",
    "pipeline_classifier_auc": "two-pass rank offsets window (one row "
    "per range partition); tie-averaging windows on the high-cardinality "
    "score key",
    "pipeline_classifier_calibration": "same two-pass rank offsets "
    "window; the crossJoin is a broadcast 1-row total-count aggregate "
    "(lazy-count shape)",
    "pipeline_source_authority": "one window per PageRank round spreads "
    "the dangling mass over the source-sized rank table (thousands of "
    "sources by construction), never the corpus",
    "sim_hybrid_rrf": "rank windows run AFTER TakeOrdered limits — each "
    "covers at most the 50-row per-modality candidate list / 10-row "
    "fused list, never corpus-sized input",
}


def partitionless_windows(plan: str) -> int:
    """Count physical Window nodes whose spec has no PARTITION BY.

    In `explain("formatted")` a Window node prints
    `Arguments: [funcs], [partitionSpec], [orderSpec]`. With three groups
    it is partitioned; with two, the second group is EITHER a partition
    spec (no ordering direction) or an order spec (`col ASC NULLS FIRST`)
    — only the latter is a global sort; with one group there is neither.
    """
    count = 0
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if not re.match(r"\(\d+\) Window$", line.strip()):
            continue
        for follow in lines[i + 1 : i + 6]:
            follow = follow.strip()
            if not follow.startswith("Arguments:"):
                continue
            groups = follow[len("Arguments:") :].strip().split("], [")
            if len(groups) == 1 or (
                len(groups) == 2 and re.search(r" (ASC|DESC)\b", groups[1])
            ):
                count += 1
            break
    return count


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    flagged = 0
    # allowlist entries whose query showed the excused pattern
    used: set[str] = set()
    used_window: set[str] = set()
    for q in registry():
        try:
            df = q.spark(spark, sf_dir)
            plan = formatted_plan(df)
            js = join_strategies(df)
        except Exception as e:  # noqa: BLE001
            print(f"ERROR {q.name}: {e}")
            flagged += 1
            continue
        problems = []
        if "CartesianProduct" in plan:
            problems.append("CartesianProduct")
        if "BroadcastNestedLoopJoin" in js:
            problems.append(f"BNLJ×{js.count('BroadcastNestedLoopJoin')}")
        if "SortMergeJoin" in js:
            problems.append(f"SMJ×{js.count('SortMergeJoin')}")
        if problems and q.name in EXPECTED:
            used.add(q.name)
            print(f"ok   {q.name}: {problems} — {EXPECTED[q.name]}")
        elif problems:
            print(f"FLAG {q.name}: {problems} joins={js}")
            flagged += 1
        n_global = partitionless_windows(plan)
        if n_global and q.name in EXPECTED_GLOBAL_WINDOW:
            used_window.add(q.name)
            print(
                f"ok   {q.name}: global-window×{n_global} — "
                f"{EXPECTED_GLOBAL_WINDOW[q.name]}"
            )
        elif n_global:
            print(f"FLAG {q.name}: partitionless Window×{n_global} (global sort)")
            flagged += 1
    for name in sorted(set(EXPECTED) - used):
        print(f"STALE {name}: EXPECTED join entry, pattern not in its plan")
    for name in sorted(set(EXPECTED_GLOBAL_WINDOW) - used_window):
        print(f"STALE {name}: EXPECTED_GLOBAL_WINDOW entry, no global window in its plan")
    print(f"\naudited {len(registry())} queries, {flagged} flagged")
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
