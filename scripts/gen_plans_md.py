#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans for the headline queries.

Usage: python scripts/gen_plans_md.py  (from the repo root)

The plans are evidence for the claims in SCALE.md — pushdown/pruning lines,
broadcast vs shuffle joins, partial/final aggregates, TakeOrderedAndProject,
and where the (sanctioned) Python boundaries sit.
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from map_reduce_engine_spark.queries import REGISTRY  # noqa: E402
from map_reduce_engine_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

HEADLINE = [
    ("wordcount", "scan → explode → partial/final hash agg (reference flagship)"),
    ("q1_pricing_summary", "multi-aggregate groupBy with exact-decimal money sums"),
    ("q6_forecast_revenue", "scan-heavy filter: every conjunct in PushedFilters"),
    ("join_customer_revenue", "pre-aggregate on the fact key before the rollup"),
    ("q5_regional_revenue", "6-way join: all dims broadcast, one fact shuffle"),
    ("sql_exists_subquery", "correlated EXISTS decorrelated to a left-semi join"),
    ("window_topk_per_nation", "per-group top-k via ranked window"),
    ("topk_orders", "global top-k plans TakeOrderedAndProject, no global sort"),
    ("minhash_near_dup", "LSH banding: candidate equi-join, no cartesian"),
    ("knn_cosine_topk", "broadcast nested loop against the tiny query side"),
    ("multimodal_features", "Arrow-batched MapInPandas with a pruned scan"),
    ("q17_small_quantity_revenue", "decorrelated per-part avg joined back to the fact"),
    ("q2_min_cost_supplier", "correlated scalar MIN decorrelated to a broadcast join-back"),
    ("q21_waiting_suppliers", "double self-join EXISTS/NOT-EXISTS folded into one per-order agg"),
    ("contamination_check", "map-side-distinct shingles before the overlap join"),
    ("pack_sequences", "running-sum window partitioned by source (bounded state)"),
    ("winnowing_fingerprint", "posexplode → per-doc sliding-min window → distinct"),
    ("corpus_prep_pipeline", "4-stage corpus prep composed into one plan, no joins"),
    ("timeseries_interpolate", "grid union + IGNORE NULLS window scans, per-user state"),
    ("rfm_segmentation", "global ntile only over the per-customer aggregate"),
    ("cms_heavy_hitters", "counter grid bounded at depth*width rows; broadcast sketch probe"),
    ("bm25_doc_scores", "inverted-index probe: term filter under the tf agg, broadcast stats, TakeOrderedAndProject"),
    ("quality_linear_score", "hashing-trick inference: broadcast weight-table join, no Python"),
    ("token_pmi", "skip-gram pairs from array transforms — no positional self-join"),
    ("bpe_train_merges", "iterative merge loop: rounds run off checkpoints, zero parquet re-scans"),
    ("incremental_batch_dedup", "new batch vs historical fingerprint index: one join + one window"),
    ("semantic_dedup", "SemDeDup: Arrow cell assignment, cell-local equi-self-join, min-id survivors"),
    ("hypertable_rollup", "multi-grain rollup off materialized hourly partials — one fact scan total"),
    ("kmv_set_ops", "KMV set algebra: corpus-sized distinct+rank only; sketch rows broadcast after"),
    # remaining bench queries (BENCH q1-q16 all covered from here down)
    ("wordlength", "length histogram: same explode→agg shape as wordcount, tiny key space"),
    ("filter_project", "pushdown + pruning only — zero shuffles, pure scan pipeline"),
    ("dedup_exact_survivors", "exact dedup: one shuffle on the content key, min-id survivor"),
    ("events_sessionization", "30-min gap sessionization: one window + one agg, keyed by user"),
    (
        "pagerank_customer_supplier",
        "iterative: final round's plan only — each round is a co-partitioned "
        "join + one agg off eager localCheckpoints (LogicalRDD leaves = the "
        "lineage-truncation discipline working; loop runs AQE-off, bounded "
        "partitions)",
    ),
    (
        "dedup_components",
        "label propagation to fixpoint: per-round plans truncate to "
        "checkpointed labels; shown is the final component-size aggregate",
    ),
    ("q9_product_profit", "TPC-H Q9: the most join-heavy shape — dims broadcast, one fact shuffle chain"),
    # round-3 scale-relevant additions
    ("jl_distance_preservation", "JL projection: literal-plane dot products, probe-pair join, no Python"),
    ("maxsim_late_interaction", "multi-vector maxsim: broadcast query bag, two aggregates, integer scores"),
    ("join_cardinality_estimate", "coordinated key sample: two filtered aggregates, never the join itself"),
    ("ams_f2_sketch", "AMS F2: one transform over a constant array, posexplode, 128-row group sum"),
    ("zorder_locality", "Morton interleave as pure bit arithmetic feeding one aggregate"),
    ("streaming_chained_windows", "two chained stateful aggregations sharing one watermark lineage"),
    # round-4: the remaining bench sentinels (BENCH q17-q20 all covered)
    (
        "textrank_keywords",
        "TextRank: bigram edge build feeds the pagerank loop; final round off "
        "checkpoints, TakeOrderedAndProject for the top-15",
    ),
    (
        "pareto_frontier_parts",
        "two-phase skyline: partition-local MapInPandas prune, then a real "
        "exchange (repartition(1), NOT coalesce) so phase 1 keeps its "
        "parallelism and only local frontiers move",
    ),
    (
        "spatial_radius_join",
        "grid-bucketed radius join: 3x3 neighbor-cell equi-join prunes the "
        "candidate space before the exact haversine filter — no cartesian",
    ),
    # round-4 scale-relevant additions
    (
        "prefix_filter_simjoin",
        "SSJoin prefix filtering: rarest-first prefixes make the candidate "
        "join an equi-join over tiny posting lists; exact verify on "
        "candidates only",
    ),
    (
        "bloom_join_prefilter",
        "portable Bloom filter: build and probe are bit_or aggregates + a "
        "word_idx equi-join with a bitmask check — no UDF, no driver object",
    ),
    (
        "sorted_neighborhood_pairs",
        "blocked SNM: neighbors via an exploded successor-rank equi-join "
        "(fan-out exactly 3 per row, never block-squared)",
    ),
    (
        "split_leakage_guard",
        "cluster-safe split: one fingerprint shuffle, an equi-join back, a "
        "1-row leak-audit broadcast",
    ),
    # late round-4 scale-relevant additions
    (
        "order_total_reconciliation",
        "ledger-vs-detail reconciliation: one decimal re-aggregate on the "
        "order key, a co-partitioned left join to headers, one audit row",
    ),
    (
        "copurchase_recommendations",
        "item-item CF: basket-capped pair matrix, equi-join scoring on the "
        "owned-part key, anti-join novelty filter, per-customer window top-k",
    ),
    (
        "k_core_parts",
        "k-core peel (final round): survivor filtering is two left-semi "
        "equi-joins per round off eager checkpoints, AQE-off loop scope",
    ),
    (
        "cross_source_dup_matrix",
        "duplicate-flow matrix: the MinHash-LSH candidate equi-join plus two "
        "doc_id hash joins into a |sources|^2-bounded rollup",
    ),
    (
        "phrase_search_positional",
        "positional phrase probe: postings filtered to the two probe tokens "
        "BEFORE the (doc, pos+1) join — term posting lists join, never the "
        "corpus",
    ),
    (
        "golden_record_fields",
        "MDM survivorship: cluster labels off the checkpointed component "
        "loop, per-field majority via (cluster, value) agg + top-1 window",
    ),
    (
        "pca_power_iteration",
        "in-engine PCA: row-local 2080-pair moment expansion to a fixed "
        "grid, then single-row array math off 1-row checkpoints",
    ),
    (
        "naive_bayes_langid",
        "NB classifier: vocabulary-bounded weight-table equi-join on token, "
        "|langs|-row broadcast priors, exact integer score sums",
    ),
    (
        "hits_hubs_authorities",
        "HITS loop: edges pre-partitioned on both join keys, half-step "
        "checkpoints, 1-row 2-norm broadcast",
    ),
    (
        "multiple_regression_order_value",
        "closed-form OLS: one fact shuffle to per-order features, one "
        "aggregate to the 1-row moment statistic, Cramer solve in-plan",
    ),
    (
        "supply_chain_sssp",
        "Bellman-Ford SSSP: per-round join off the src-partitioned "
        "checkpointed edges, min-agg on dst, NULL-infinity least()",
    ),
    (
        "roc_auc_mann_whitney",
        "exact AUC: one corpus aggregate to the 50-value grid, midrank "
        "cumulative window over the grid only",
    ),
    # round-4 continuous: ML-evaluation / data-selection tier
    (
        "isotonic_calibration",
        "ppm-grid isotonic fit: one corpus aggregate to the 50-value grid, "
        "then max-min interval joins bounded by the grid (never the corpus)",
    ),
    (
        "hard_negative_mining",
        "contrastive mining: 50-query broadcast probe against the corpus "
        "(knn shape), per-query window argmax split by label parity",
    ),
    (
        "kcenter_coreset",
        "greedy k-center (final selection): k corpus scans vs driver-held "
        "centers, TakeOrdered(1) per round — shown is the literal result "
        "relation; the per-round scan plan is the dmin least() select",
    ),
    (
        "markov_stationary",
        "Markov steady state: one lag-window pass to the |states|^2 matrix "
        "(collected once under collect_bounded's row bound; the rounds run "
        "on the driver), output is one aggregate + 1-row broadcast",
    ),
    (
        "logistic_regression_newton",
        "Newton GLM training: corpus collapses once to the 550-cell grid "
        "(checkpointed); each round is grid x 1-row-beta with nano-frozen "
        "integer sums; shown is the final eval aggregate",
    ),
    (
        "als_rank1_factorization",
        "rank-1 ALS (final half-step + eval): each half-step is one "
        "equi-join + one keyed aggregate off checkpointed factors — the "
        "canonical alternating shuffle; SSE joins both factor sides back",
    ),
    (
        "gbm_two_round_stumps",
        "boosted stumps: one grid aggregate (checkpointed), split "
        "searches as grid windows, residual moments stay exact integers",
    ),
    (
        "dbscan_grid_clusters",
        "grid DBSCAN: cell aggregate, density-threshold broadcast, "
        "core-cell adjacency join, component loop over CELLS not points",
    ),
    (
        "ipf_raking_weights",
        "IPF raking: one aggregate builds the (brand x flag) cell grid, "
        "collected once under collect_bounded's row bound; the scaling "
        "rounds run on the driver, so the plan is a scan of the driver-built rows",
    ),
    # round-5: single-partition-sort retirements (the plans that replaced
    # Exchange SinglePartition over raw rows — gated by plans.py since r05)
    (
        "conformal_interval_calibration",
        "value-grid rank-select: residuals hash-agg to the distinct-value "
        "grid, cumulative window over the GRID only, 1-row q-hat broadcast",
    ),
    (
        "sprt_early_stopping",
        "sharded prefix sum: per-shard cumsums in parallel, offsets from "
        "the shard-total grid — no single-partition window over the walk",
    ),
    (
        "gpd_peaks_over_threshold",
        "P95 threshold by grid rank-select feeding one filtered moment "
        "aggregate; no raw-row global sort",
    ),
    (
        "quantile_normalize_sources",
        "pooled global rank as value-range shards + offset grid; per-source "
        "windows keyed; equi-join on position",
    ),
    (
        "window_range_frame",
        "RANGE frame over the distinct-balance value grid, equi-joined back "
        "to rows — value-determined frames make this bit-identical",
    ),
    # round-6: the sharded value grid itself + the generation-eval trio
    (
        "trimmed_mean_orders",
        "sharded value-grid rank-select: the grid's cumulative count runs "
        "as per-shard prefixes over 256 value-range shards (scalar-subquery "
        "bounds), only the shard-total grid crosses one task",
    ),
    (
        "rouge2_corpus_eval",
        "clipped n-gram overlap: lag pairing (keyed window), two (doc, "
        "gram) equi-joins, hash aggregates to the |sources| grid — "
        "never all-pairs",
    ),
    # round-7: the exact-substring dedup tier (bench sentinel q22) + the
    # LSH-bucketed reliability scale path
    (
        "substring_dedup_spans",
        "exact-substring dedup (Lee et al. k=50): tile posexplode, map-side-"
        "distinct repeated-tile aggregate (broadcast back), per-DOCUMENT "
        "gaps-and-islands windows — no global window, no cartesian",
    ),
    (
        "embedding_similarity_reliability_lsh",
        "seeded-hyperplane LSH bucket self-equi-join feeding the decile "
        "aggregate — the corpus-scale pair generator (never all-pairs)",
    ),
    (
        "incremental_substring_dedup",
        "batch-vs-corpus probe (round 8): the history reduces to its "
        "distinct tile-hash index (one aggregate — persisted at scale), "
        "batch occurrences equi-join it, per-BATCH-doc island windows; "
        "candidate volume scales with the batch",
    ),
    (
        "unigram_lm_vocab",
        "Kudo prune-to-target EM (round 8): vocabulary-sized min-plus "
        "squaring state off localCheckpoints; the prune's alt-cost DP is "
        "piece-string-sized MIN aggregates; corpus touched once",
    ),
    (
        "incremental_substring_rewrite",
        "the probe's REWRITE leg (round 9 per-span form): batch tile "
        "occurrences equi-join the index, matched starts merge to maximal "
        "per-doc spans, and one in-row filter-by-index excises them — the "
        "token stream is never exploded or shuffled",
    ),
    (
        "unigram_nbest_segmentations",
        "k-best min-plus squaring (round 8): DISTINCT state before each "
        "re-rank, vocabulary-sized throughout; rank-1 pinned equal to "
        "Viterbi",
    ),
    (
        "unigram_sampled_segmentation",
        "the regularization draw (round 8): one conditional-MIN pivot off "
        "the n-best list, micro-unit softmax vs a portable-hash uniform — "
        "no join, no Python, everything vocabulary-sized",
    ),
]


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    text = buf.getvalue()
    # strip volatile bits: absolute plan ids stay, but long file listings trimmed
    text = re.sub(r"Location: \S+", "Location: <fixture parquet>", text)
    return text.strip()


def main() -> None:
    spark = get_spark(app_name="mre-plans")
    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        f"Generated by `scripts/gen_plans_md.py` at sf0.01 on the session factory's",
        "config (AQE on). Read together with SCALE.md: each plan shows the",
        "properties the plan-quality tests assert (pushdown, pruning, broadcast,",
        "partial/final agg, TakeOrderedAndProject, no cartesian products, Python",
        "only at the sanctioned Arrow boundaries).",
        "",
    ]
    for name, blurb in HEADLINE:
        df = REGISTRY[name].fn(spark, SF_DIR)
        out += [f"## {name}", "", blurb, "", "```", plan_of(df), "```", ""]
    Path("PLANS.md").write_text("\n".join(out))
    print(f"wrote PLANS.md ({len(HEADLINE)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
