"""Physical-plan quality gates — the 100 TB posture, asserted.

Correctness tests prove the small-SF answer; these prove the *plan* is the
one that survives a 1000-executor / 100 TB scale-up: filters reach the
parquet scan, scans read only projected columns, small dimensions broadcast
instead of shuffling the fact table, hot paths stay JVM-side (whole-stage
codegen, no Python eval), and nothing degenerates into a cartesian product.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from map_reduce_engine_spark.io import read_table
from map_reduce_engine_spark.operators import ann_topk, cosine_topk, ivf_topk, wordcount
from map_reduce_engine_spark.queries import REGISTRY


def plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


# ------------------------------------------------------------- pushdown


def test_filter_pushed_to_parquet_scan(spark, sf_dir):
    """Q6-shaped scan: every conjunct must reach the parquet reader
    (PushedFilters), not run as a post-scan Filter only."""
    p = plan(REGISTRY["q6_forecast_revenue"].fn(spark, sf_dir))
    assert "PushedFilters:" in p
    pushed = next(line for line in p.splitlines() if "PushedFilters:" in line)
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed


def test_column_pruning_reaches_scan(spark, sf_dir):
    """A 2-column projection must not scan all 16 lineitem columns."""
    p = plan(REGISTRY["filter_project"].fn(spark, sf_dir))
    read_schema = next(line for line in p.splitlines() if "ReadSchema:" in line)
    # only the columns the query touches appear in the scan schema
    assert "l_comment" not in read_schema
    assert "l_partkey" not in read_schema


# ------------------------------------------------------------- joins


def test_dim_join_broadcasts(spark, sf_dir):
    """customer/nation/region are dimension tables — the plan must broadcast
    them, never shuffle the lineitem fact side for them."""
    p = plan(REGISTRY["join_region_rollup"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p


def test_knn_is_broadcast_not_cartesian(spark, sf_dir):
    """Brute-force knn crossJoins a tiny broadcast query set — it must plan
    as a broadcast nested loop, never a shuffled CartesianProduct."""
    emb = read_table(spark, sf_dir, "embeddings")
    df = cosine_topk(emb, emb.where(F.col("vec_id") < 3), "vec_id", "embedding", k=5)
    p = plan(df)
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_ann_join_is_equi_join_on_bucket(spark, sf_dir):
    """The LSH scale path must candidate-join on (table, bucket) — a real
    equi-join (hash/sort-merge/broadcast), never a cross join."""
    emb = read_table(spark, sf_dir, "embeddings")
    df = ann_topk(emb, emb.where(F.col("vec_id") < 3), "vec_id", "embedding", k=5, n_planes=6)
    p = plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert any(j in p for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_ivf_join_is_equi_join_on_cell(spark, sf_dir):
    """IVF candidate generation must equi-join on the cell id; centroid
    assignment is literal-array math, so no Python eval either."""
    emb = read_table(spark, sf_dir, "embeddings")
    df = ivf_topk(emb, emb.where(F.col("vec_id") < 3), "vec_id", "embedding", k=5, n_cells=8, n_probe=2)
    p = plan(df)
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert any(j in p for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


# ------------------------------------------------------------- subqueries


def test_exists_subquery_decorrelates_to_semi_join(spark, sf_dir):
    """Correlated EXISTS must decorrelate to a semi join on the fact key —
    never a per-row subquery re-execution."""
    p = plan(REGISTRY["sql_exists_subquery"].fn(spark, sf_dir))
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p


def test_not_exists_subquery_decorrelates_to_anti_join(spark, sf_dir):
    p = plan(REGISTRY["sql_not_exists_subquery"].fn(spark, sf_dir))
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_q3_plans_broadcast_and_topk(spark, sf_dir):
    """Q3 shape: the filtered customer dim broadcasts; the top-10 plans as
    TakeOrderedAndProject, not a global sort."""
    p = plan(REGISTRY["q3_shipping_priority"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_q5_broadcasts_all_dims(spark, sf_dir):
    """Q5's 6-way join: every dimension (region/nation/supplier/customer)
    broadcasts; only orders⋈lineitem may shuffle."""
    p = plan(REGISTRY["q5_regional_revenue"].fn(spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in p


def test_multimodal_features_prunes_before_python(spark, sf_dir):
    """The multimodal path is the sanctioned Python boundary — it must use
    Arrow-batched MapInPandas (never row-at-a-time BatchEvalPython), and
    only doc_id+text may be scanned (payload pruning)."""
    p = plan(REGISTRY["multimodal_features"].fn(spark, sf_dir))
    assert "MapInPandas" in p
    assert "BatchEvalPython" not in p
    read_schema = next(line for line in p.splitlines() if "ReadSchema:" in line)
    assert "lang" not in read_schema and "source" not in read_schema


# ------------------------------------------------------------- JVM-side


@pytest.mark.parametrize(
    "name",
    [
        "wordcount",
        "wordlength",
        "q1_pricing_summary",
        "join_customer_revenue",
        "events_sessionization",
        "knn_cosine_topk",
        "token_stats",
        "langid",
        "minhash_near_dup",
        "simhash_near_pairs",
        "percentile_stats",
        "array_hof_stats",
        "conditional_agg",
        "q5_regional_revenue",
        "q18_large_orders",
        "events_json_schema_agg",
        "pii_scrub",
        "corpus_split",
        "token_doc_freq",
        "merge_upsert_customers",
        "repetition_stats",
        "contamination_check",
        "pack_sequences",
        "domain_mixture",
        "hash_sample",
        "winnowing_fingerprint",
        "q15_top_supplier",
        "q17_small_quantity_revenue",
        "salted_skew_join",
        "null_safe_join",
        "mode_median_agg",
        "sql_recursive_gapfill",
        "bm25_doc_scores",
        "quality_linear_score",
        "token_pmi",
        "incremental_batch_dedup",
        "bpe_subword_vocab",
        "poisson_bootstrap_ci",
        "mixture_upsample",
        "event_path_trigrams",
        "association_rules",
        "contrastive_negatives",
        "bpe_fertility",
    ],
)
def test_hot_paths_have_no_python_eval(spark, sf_dir, name):
    """Built-in operators are pure JVM expressions: no row-at-a-time Python
    (BatchEvalPython) and no Arrow Python eval in the plan. The map/reduce
    compat surface (MapInArrow) is the only sanctioned Python boundary."""
    p = plan(REGISTRY[name].fn(spark, sf_dir))
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
    assert "FlatMapGroupsInPandas" not in p
    assert "MapInPandas" not in p
    assert "FlatMapGroupsInArrow" not in p
    assert "MapInArrow" not in p


def test_wordcount_wholestage_codegen(spark, sf_dir):
    """The flagship aggregation pipeline runs inside whole-stage codegen.

    Under AQE the codegen spans exist only in the final (executed) plan, so
    run the query, then read the ``*(n)`` codegen-stage markers from the
    materialized simple-mode plan.
    """
    docs = read_table(spark, sf_dir, "documents")
    df = wordcount(docs, "text")
    df.collect()
    p = plan(df, "simple")
    assert "isFinalPlan=true" in p
    assert "*(" in p  # whole-stage-codegen stage markers


# ------------------------------------------------------------- agg shape


def test_partial_final_aggregation(spark, sf_dir):
    """The reference's AddInterface combine (SURVEY.md A11) maps to Spark's
    partial+final hash aggregate — both halves must be present so the
    shuffle carries combined partial states, not raw rows."""
    p = plan(REGISTRY["q1_pricing_summary"].fn(spark, sf_dir))
    assert p.count("HashAggregate") >= 2


def test_topk_plans_take_ordered(spark, sf_dir):
    """orderBy().limit(k) must plan TakeOrderedAndProject — never a global
    sort of the full table feeding a limit."""
    p = plan(REGISTRY["topk_orders"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_contamination_join_is_equi_join(spark, sf_dir):
    """The shingle-overlap join must be a hash/sort-merge equi-join on the
    shingle string with aggregation below it (map-side distinct) — never a
    cartesian and never raw documents through the shuffle."""
    p = plan(REGISTRY["contamination_check"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert any(j in p for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_pack_sequences_window_is_partitioned(spark, sf_dir):
    """The packing window must partition by source — a global (unpartitioned)
    running sum would serialize the corpus through one task at 100 TB."""
    p = plan(REGISTRY["pack_sequences"].fn(spark, sf_dir))
    assert "Window" in p
    # an unpartitioned window plans a SinglePartition exchange — forbidden here
    assert "SinglePartition" not in p


def test_merge_hint_overrides_broadcast(spark, sf_dir):
    """nation is broadcast-sized; the MERGE hint must still force a
    sort-merge join — the manual escape hatch when stats mislead."""
    p = plan(REGISTRY["hinted_join_strategy"].fn(spark, sf_dir))
    assert "SortMergeJoin" in p
    assert "BroadcastHashJoin" not in p


def test_aqe_coalesces_shuffle_partitions(spark, sf_dir):
    """With AQE on (session factory default), a small aggregate's executed
    plan must coalesce the 32 static shuffle partitions down to the data's
    actual size — the runtime re-plan that keeps 100 TB configs from
    drowning small stages in empty tasks."""
    df = REGISTRY["lang_stats"].fn(spark, sf_dir)
    df.collect()
    p = plan(df, "simple")
    assert "isFinalPlan=true" in p
    assert "AQEShuffleRead coalesced" in p


def test_cms_probe_broadcasts_and_topk_has_no_global_window(spark, sf_dir):
    """cms_heavy_hitters: the <=depth*width-row sketch probe must broadcast,
    the global top-20 must plan TakeOrderedAndProject (per-partition heaps),
    and no single-partition global Window may appear."""
    p = plan(REGISTRY["cms_heavy_hitters"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p
    assert "Window" not in p


def test_skew_report_argmax_broadcasts(spark, sf_dir):
    """key_skew_report: the argmax join-back against the 1-row stats side
    must broadcast, never shuffle the key histogram."""
    p = plan(REGISTRY["key_skew_report"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p


def test_pagerank_and_components_plans_stay_bounded(spark, sf_dir):
    """Iterative operators must localCheckpoint each round: the FINAL plan
    of a 10-round PageRank must be round-local (scan of the checkpoint +
    one join + one agg), not a 10-deep nested join tree."""
    df = REGISTRY["pagerank_customer_supplier"].fn(spark, sf_dir)
    p = plan(df, mode="simple")
    # a checkpointed final round references ExistingRDD, and the plan stays
    # small — a nested unrolled plan would repeat the parquet scan 10+ times
    assert "ExistingRDD" in p or "LocalTableScan" in p
    assert p.count("parquet") <= 2


def test_runtime_bloom_filter_join_pruning_available(spark, sf_dir):
    """The session must support runtime bloom-filter semi-join reduction:
    with the size thresholds lowered to fixture scale, a selective-dim ⋈
    fact join must inject a bloom filter into the fact scan side (at
    production thresholds this fires automatically on 100 TB fact joins)."""
    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    old = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1B"
        )
        # disable broadcast so the join is a shuffle join (bloom injection
        # targets the shuffle-join shape; broadcast joins don't need it)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = read_table(spark, sf_dir, "lineitem")
        orders = read_table(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.sum("l_quantity").alias("q"))
        p = plan(joined)
        assert "might_contain" in p or "bloom_filter" in p.lower(), p[:2000]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_pq_plan_two_arrow_passes_and_broadcast(spark, sf_dir):
    """PQ serving: exactly two Arrow boundaries (corpus encode + query
    LUTs), the code scan joins the broadcast LUT side (nested-loop by
    design — the sequential code scan), and nothing degenerates into an
    unbatched cartesian."""
    from map_reduce_engine_spark.operators.similarity import pq_topk

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    p = plan(pq_topk(emb, queries, "vec_id", "embedding", k=10, m=16, n_codes=16), "simple")
    assert p.count("MapInPandas") == 2, p[:1500]
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_ivf_plan_arrow_assignment_and_equi_join(spark, sf_dir):
    """IVF serving: Arrow-batched cell assignment on both sides and the
    candidate join is an EQUI-join on the cell key (hash-joinable), never
    nested-loop/cartesian."""
    from map_reduce_engine_spark.operators.similarity import ivf_topk

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    p = plan(ivf_topk(emb, queries, "vec_id", "embedding", k=10, n_cells=16, n_probe=4), "simple")
    assert p.count("MapInPandas") == 2, p[:1500]
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "cell" in p


def test_repeated_span_plan_no_cartesian_and_partial_aggs(spark, sf_dir):
    """Substring-dedup coverage: every join keys on the gram hash or doc id
    (no all-pairs), and the df count partial-aggregates before its
    shuffle."""
    from map_reduce_engine_spark.operators.dedup import repeated_span_coverage

    docs = read_table(spark, sf_dir, "documents").where(F.trim("text") != "")
    p = plan(repeated_span_coverage(docs, "doc_id", "text", k=8))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "HashAggregate" in p


def test_substring_dedup_plan_shapes(spark, sf_dir):
    """The exact-substring tier (Lee et al. k=50): the tokenize→md5 tile
    pipeline runs ONCE per query (r12 — the former df-aggregate+join-back
    embedded it once per join side, re-scanning the corpus; repeated-tile
    document frequency now rides windows over the tile hash), interval-merge
    windows partition by the DOCUMENT id (no single-partition grid
    anywhere), and the rewrite's reassembly stays JVM-side (zero Python
    eval nodes)."""
    from map_reduce_engine_spark.operators.dedup import (
        substring_dedup_rewrite,
        substring_dedup_spans,
        substring_dedup_survivors,
    )
    from map_reduce_engine_spark.plans import plan_report

    docs = read_table(spark, sf_dir, "documents").where(F.trim("text") != "")
    # (op, expected corpus scans): spans needs only the occurrence pipeline;
    # survivors/rewrite also read the per-doc base (n_tokens / text)
    for op, n_scans in (
        (substring_dedup_spans, 1),
        (substring_dedup_survivors, 2),
        (substring_dedup_rewrite, 2),
    ):
        df = op(docs, "doc_id", "text", k=50)
        p = plan(df)
        assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, op
        # each scan node appears twice in formatted output (tree + detail)
        assert p.count("Scan parquet") == 2 * n_scans, (op, p.count("Scan parquet"))
        r = plan_report(df)
        assert r.single_partition_grid == 0 and r.single_partition_raw == 0, (op, r)
        assert r.row_python_evals == 0 and r.arrow_python_stages == 0, (op, r)


def test_bm25_plan_broadcasts_stats_and_takes_ordered(spark, sf_dir):
    """BM25's df/corpus-stat sides are tiny (|query| rows, 1 row) — they
    must broadcast, the term filter must sit under the tf aggregate (no
    corpus-sized shuffle of non-matching tokens), and the final ranking
    must be TakeOrderedAndProject, not a global sort."""
    p = plan(REGISTRY["bm25_doc_scores"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_quality_linear_score_weight_join_broadcasts(spark, sf_dir):
    """Model inference = feature counts ⋈ 1024-row weight vector: the
    weight side must be a broadcast hash join on the bucket key — the fact
    side never shuffles for the model."""
    p = plan(REGISTRY["quality_linear_score"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_token_pmi_has_no_corpus_side_join(spark, sf_dir):
    """Pair generation must stay inside a projection (transform over the
    token array) — no positional self-join. Every join in the plan must be
    a broadcast (vocabulary-sized sides); a SortMergeJoin/ShuffledHashJoin
    would mean the corpus-sized pair stream is being joined."""
    p = plan(REGISTRY["token_pmi"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in p
    assert "ShuffledHashJoin" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_bpe_plan_stays_bounded_and_jvm_side(spark, sf_dir):
    """6 merge rounds must not nest: each round localCheckpoints, so the
    final merge table is a union of checkpointed 1-row scans — the corpus
    parquet scan must not be re-planned per round, and no Python eval."""
    df = REGISTRY["bpe_train_merges"].fn(spark, sf_dir)
    p = plan(df, mode="simple")
    assert "ExistingRDD" in p or "LocalTableScan" in p
    assert p.count("parquet") == 0  # all rounds run off checkpoints
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_incremental_near_dup_joins_are_equi(spark, sf_dir):
    """The batch→history candidate join must be an equi-join on
    (band, bucket) — never a cartesian or broadcast nested loop — and the
    verification join runs only on candidate ids."""
    p = plan(REGISTRY["incremental_near_dup"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert any(j in p for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_bfs_plan_stays_bounded(spark, sf_dir):
    """4 BFS rounds must not nest: edges materialize once and every round
    localCheckpoints, so the final distance table is checkpoint-scan
    unions — no per-round parquet re-plan."""
    df = REGISTRY["bfs_reach"].fn(spark, sf_dir)
    p = plan(df, mode="simple")
    assert "ExistingRDD" in p or "LocalTableScan" in p
    assert p.count("parquet") == 0


def test_association_rules_broadcast_supports(spark, sf_dir):
    """Both rule-end support joins and the basket total are tiny — they
    must broadcast; the only shuffle joins are the basket self-join."""
    p = plan(REGISTRY["association_rules"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert p.count("BroadcastHashJoin") >= 2 or (
        "BroadcastHashJoin" in p and "BroadcastNestedLoopJoin" in p
    )


def test_spatial_radius_join_single_haversine_eval(spark, sf_dir):
    """ADVICE r11 + VERDICT r11 #4 (adjudicated by idle A/B this round —
    inline wins): `dist_km` is emitted through inline(array(struct(...)))
    so a Generate sits between the cell equi-join and the radius filter —
    the filter references the generator OUTPUT and cannot be pushed into
    the join condition, so the haversine trig runs exactly ONCE per
    candidate. This pins that shape: a Catalyst rule that collapses
    single-element inline (or infers filters through Generate) would
    silently restore the double evaluation; ASIN appearing twice in the
    formatted plan is the regression signature."""
    p = plan(REGISTRY["spatial_radius_join"].fn(spark, sf_dir))
    assert "Generate" in p
    assert p.upper().count("ASIN(") == 1, p.upper().count("ASIN(")
    # and the join itself stays an equi-join on the grid cell
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_semantic_dedup_cell_local_equi_join(spark, sf_dir):
    """SemDeDup: one Arrow-batched assignment pass, and the candidate pair
    space is an EQUI-join on the cell id — never all-pairs."""
    from map_reduce_engine_spark.operators.similarity import semantic_dedup

    emb = read_table(spark, sf_dir, "embeddings")
    p = plan(semantic_dedup(emb, "vec_id", "embedding", n_cells=16, threshold=0.4), "simple")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "cell" in p


def test_hypertable_rollup_scans_fact_table_once(spark, sf_dir):
    """Continuous-aggregate discipline: the day/month levels reaggregate
    the materialized hourly PARTIALS — the events fact table never appears
    in the final plan more than the one (checkpointed) time."""
    p = plan(REGISTRY["hypertable_rollup"].fn(spark, sf_dir), "simple")
    assert "FileScan" not in p and "Scan parquet" not in p  # all grains read checkpoints


def test_kmv_set_ops_windows_only_sketch_rows(spark, sf_dir):
    """KMV set algebra: the only corpus-sized work is the per-side distinct
    + rank; everything downstream (union sketch, rho, estimates) joins
    bounded sketch rows, broadcast from both sides."""
    p = plan(REGISTRY["kmv_set_ops"].fn(spark, sf_dir), "simple")
    assert "BroadcastExchange" in p  # singleton stats broadcast into the verdict row
    assert "CartesianProduct" not in p


# ------------------------------------------------- plan_report public API


def test_plan_report_clean_query(spark, sf_dir):
    """The pre-flight auditor passes the engine's own headline join and
    reports the expected structure (broadcasts present, no scale-killers)."""
    from map_reduce_engine_spark.plans import assert_scalable, plan_report

    df = REGISTRY["join_customer_revenue"].fn(spark, sf_dir)
    df.collect()  # AQE: codegen spans exist only in the final plan
    r = plan_report(df)
    assert r.cartesian_products == 0 and r.row_python_evals == 0
    assert r.broadcast_exchanges >= 1
    assert r.wholestage_codegen_spans >= 1
    assert_scalable(df)  # must not raise


def test_plan_report_flags_scale_killers(spark, sf_dir):
    """A deliberately bad plan (row-Python UDF atop a no-key cross join)
    trips both fatal checks; the sanctioned variants pass with flags."""
    import pytest as _pytest
    from pyspark.sql.types import IntegerType

    from map_reduce_engine_spark.plans import PlanQualityError, assert_scalable, plan_report

    a = spark.range(10).select(F.col("id").alias("x"))
    b = spark.range(10).select(F.col("id").alias("y"))
    slow_udf = F.udf(lambda v: int(v) + 1, IntegerType())
    bad = a.crossJoin(b.hint("shuffle_replicate_nl")).select(slow_udf("x").alias("z"))
    r = plan_report(bad)
    assert r.cartesian_products >= 1 and r.row_python_evals >= 1
    with _pytest.raises(PlanQualityError):
        assert_scalable(bad, allow_row_python=True)  # cartesian is never OK

    knn = REGISTRY["knn_cosine_topk"].fn(spark, sf_dir)
    assert_scalable(knn, allow_nested_loop=True)  # sanctioned probe-set BNL
    with _pytest.raises(PlanQualityError):
        assert_scalable(knn)  # and flagged when not explicitly sanctioned


def test_single_partition_raw_detector(spark, sf_dir):
    """The round-5 gate: an unpartitioned window over raw fact rows is
    flagged; the same window over an aggregate grid, a partitioned window,
    a global aggregate, and repartition(1) behave as documented."""
    import pytest as _pytest
    from pyspark.sql import Window

    from map_reduce_engine_spark.plans import (
        PlanQualityError,
        assert_scalable,
        plan_report,
    )

    li = read_table(spark, sf_dir, "lineitem").select("l_quantity", "l_orderkey")
    bad = li.select(
        "l_quantity", F.row_number().over(Window.orderBy("l_quantity")).alias("rn")
    )
    assert plan_report(bad).single_partition_raw == 1
    with _pytest.raises(PlanQualityError, match="SinglePartition"):
        assert_scalable(bad)
    assert_scalable(bad, allow_single_partition_raw=True)  # sanctioned path

    grid = li.groupBy("l_quantity").agg(F.count("*").alias("c"))
    good = grid.select(
        "l_quantity", F.sum("c").over(Window.orderBy("l_quantity")).alias("cum")
    )
    assert plan_report(good).single_partition_raw == 0

    keyed = li.select(
        F.row_number()
        .over(Window.partitionBy("l_orderkey").orderBy("l_quantity"))
        .alias("rn")
    )
    assert plan_report(keyed).single_partition_raw == 0
    assert plan_report(li.agg(F.sum("l_quantity"))).single_partition_raw == 0
    # repartition(1) funnels raw rows through one task too — flagged
    assert plan_report(li.repartition(1)).single_partition_raw == 1


def test_single_partition_grid_detector(spark, sf_dir):
    """The round-6 tightening: a single-partition window over a KEYED
    aggregate grid is counted (bounded only by the key domain), while the
    engine's own shard-total windows (rankselect two-pass scans), keyless
    1-row aggregates, and raw windows are not."""
    from pyspark.sql import Window

    from map_reduce_engine_spark.operators.rankselect import value_grid_cum
    from map_reduce_engine_spark.plans import plan_report

    li = read_table(spark, sf_dir, "lineitem").select("l_quantity", "l_orderkey")

    # pre-r06 shape: ordered window over a keyed value grid -> counted
    grid = li.groupBy("l_quantity").agg(F.count("*").alias("c"))
    naive = grid.select(
        "l_quantity", F.sum("c").over(Window.orderBy("l_quantity")).alias("cum")
    )
    r = plan_report(naive)
    assert r.single_partition_grid == 1 and r.single_partition_raw == 0

    # the sharded replacement: shard-total window only -> NOT counted
    r = plan_report(value_grid_cum(li, "l_quantity"))
    assert r.single_partition_grid == 0 and r.single_partition_raw == 0

    # keyless (1-row) aggregate below -> not counted
    r = plan_report(li.agg(F.sum("l_quantity").alias("s")))
    assert r.single_partition_grid == 0

    # raw window -> the raw counter, not the grid counter
    bad = li.select(F.row_number().over(Window.orderBy("l_quantity")).alias("rn"))
    r = plan_report(bad)
    assert r.single_partition_grid == 0 and r.single_partition_raw == 1


def test_single_partition_detector_parser_canary(spark, sf_dir):
    """Format-drift canary (ADVICE r05): the raw-detector parses formatted
    explain text (3-chars-per-indent tree lines, '(n) OpName' detail
    headers, 'Arguments: SinglePartition'). If a Spark upgrade changes that
    layout, the gate must fail HERE with empty parser structures — not
    silently return zero findings for every plan and wave scale-killers
    through."""
    from pyspark.sql import Window

    from map_reduce_engine_spark.plans import (
        _single_partition_exchanges,
        _tree_children,
        physical_plan,
    )

    li = read_table(spark, sf_dir, "lineitem").select("l_quantity")
    bad = li.select(
        F.row_number().over(Window.orderBy("l_quantity")).alias("rn")
    )
    p = physical_plan(bad, "formatted")
    children, ops = _tree_children(p)
    assert ops, "tree parser found no operator nodes — explain format drift"
    assert children, "tree parser found no parent/child edges — format drift"
    assert any(o.startswith("Window") for o in ops.values()), ops
    assert any(o.startswith(("Scan", "FileScan", "BatchScan")) for o in ops.values()), ops
    sp = _single_partition_exchanges(p)
    assert sp, (
        "SinglePartition detail parser found nothing in a plan KNOWN to "
        "contain an unpartitioned window — explain format drift"
    )
    # every detected exchange id must exist in the parsed tree (the two
    # parsers must agree on node ids for _reaches_raw_leaf to walk)
    assert all(e in ops for e in sp), (sp, sorted(ops))


def test_kmv_tree_has_no_rank_window(spark, sf_dir):
    """The tree-merged KMV path must contain NO window operator (the whole
    point vs the rank-k formulation) — two hash aggregates only — and its
    sketch must equal the windowed query's bit-for-bit."""
    p = plan(REGISTRY["kmv_distinct_tree"].fn(spark, sf_dir), "simple")
    assert "Window" not in p
    a = {tuple(r) for r in REGISTRY["kmv_distinct_tree"].fn(spark, sf_dir).collect()}
    b = {tuple(r) for r in REGISTRY["kmv_distinct_sketch"].fn(spark, sf_dir).collect()}
    assert a == b


# Queries whose plans legitimately contain a BroadcastNestedLoopJoin: either
# the sanctioned tiny-probe kNN ground-truth path, or a keyless crossJoin of
# a ONE-ROW (or vocabulary-bounded) aggregate — a scalar broadcast, not a
# pair-space explosion. Every name here must state its bounded side.
_SANCTIONED_NESTED_LOOP = {
    # tiny probe set × corpus — the sanctioned exact-kNN ground-truth shape
    "knn_cosine_topk": "probe set is a bounded query sample",
    "rocchio_feedback_rerank": "3-row probe set broadcast through both "
    "cosine passes (initial retrieval + feedback re-rank)",
    "ndcg_retrieval_eval": "5-row probe set broadcast (kNN retrieval shape)",
    "mrr_retrieval_eval": "5-row probe set broadcast (kNN retrieval shape)",
    "query_likelihood_dirichlet": "1-row corpus-stats broadcast (Dirichlet "
    "prior terms)",
    "embedding_similarity_reliability": "bounded 200-vector slice "
    "self-pairs (all-pairs is the oracle-checkable form; LSH-bucketed at "
    "corpus scale, documented pivot)",
    "knn_cosine_int8": "probe set is a bounded query sample",
    "embedding_near_dup": "bounded probe set",
    "binary_hamming_topk": "one-word-per-vector scan against the broadcast query codes",
    "ann_ranking_metrics": "eval over the bounded probe set (binary tier + exact relevance)",
    "ann_recall_report": "exact-kNN ground-truth side of the recall report",
    "ivf_ann_topk": "recall verdict joins the exact ground-truth path",
    "pq_ann_topk": "recall verdict joins the exact ground-truth path",
    "ivfpq_ann_topk": "recall verdict joins the exact ground-truth path",
    "semantic_dedup": "verdict recomputation over the bounded sample",
    "levenshtein_brand_pairs": "brand vocabulary is dimension-bounded",
    # scalar (1-row aggregate) crossJoin folded into every row
    "unigram_lm_vocab": "broadcasts the 1-row vocab totals (add-half "
    "smoothing denominators), once per EM round",
    "unigram_segment_words": "broadcasts the 1-row vocab totals "
    "(smoothing denominators), once per EM round",
    "unigram_fertility": "broadcasts the 1-row vocab totals (smoothing "
    "denominators), once per EM round",
    "unigram_codelength": "broadcasts the 1-row vocab totals (smoothing "
    "denominators), once per EM round",
    "unigram_nbest_segmentations": "broadcasts the 1-row vocab totals "
    "(smoothing denominators), once per EM round",
    "unigram_sampled_segmentation": "broadcasts the 1-row vocab totals "
    "(smoothing denominators), once per EM round",
    "key_skew_report": "broadcasts the 1-row global count",
    "dq_audit": "broadcasts the 1-row audit totals",
    "copurchase_triangles": "broadcasts the 1-row triangle total",
    "association_rules": "broadcasts the 1-row basket count",
    "kmv_set_ops": "broadcasts the 1-row sketch structs",
    "hll_sketch_rollup": "crossJoin of two 1-row aggregates (grand-total row)",
    "token_doc_freq": "broadcasts the 1-row corpus doc count",
    "tfidf_top_terms": "broadcasts the 1-row corpus doc count",
    "tfidf_doc_similarity": "broadcasts the 1-row corpus doc count",
    "source_kl_divergence": "broadcasts the 1-row corpus totals",
    "source_length_deciles": "broadcasts the 1-row corpus count",
    "q22_idle_customers": "broadcasts the 1-row average balance (TPC-H shape)",
    "q11_important_stock": "broadcasts the 1-row value threshold (TPC-H shape)",
    "poisson_bootstrap_ci": "broadcasts the 1-row replicate summary",
    "ntile_quartiles": "rank-interval overlap join against the broadcast"
    " 4-row tile-boundary frame (grid ntile reconstruction)",
    "dsir_importance_weights": "broadcasts the 1-row corpus token totals"
    " onto the 1024-bucket spine",
    "expected_calibration_error": "broadcasts the 1-row ECE/MCE summary"
    " back onto the 10-bin grid",
    "hill_tail_index": "broadcasts the 1-row (n, k) frame onto the value"
    " grid and the 1-row top-k summary",
    "trimmed_mean_orders": "broadcasts the 1-row (n, trim_k) frame onto the"
    " value grid and the 1-row kept-sum summary",
    "domain_mixture": "broadcasts the 1-row corpus totals",
    "unigram_lm_surprisal": "broadcasts the vocabulary-bounded LM table",
    "bigram_lm_quality": "broadcasts the vocabulary-bounded LM table",
    "vocab_coverage": "broadcasts the 1-row corpus token total",
    "mixture_upsample": "broadcasts the bounded per-source weight table",
    "contrastive_negatives": "broadcasts the 1-row corpus count",
    "bm25_doc_scores": "broadcasts the 1-row avgdl aggregate",
    "token_pmi": "broadcasts the 1-row corpus token total",
    "jl_distance_preservation": "pair join over a 20-vector probe set",
    "maxsim_late_interaction": "broadcasts the 2-doc (10-vector) query bag",
    "join_cardinality_estimate": "broadcasts the 1-row exact-side aggregate",
    "ams_f2_sketch": "crossJoin of two 1-row aggregates (sketch + exact side)",
    "psi_drift": "broadcasts the 1-row bucket totals",
    "pii_pseudonymize_join": "broadcasts the 1-row injectivity check",
    "histogram_quantile_rollup": "probe joins over the bin table, bounded by "
    "value-range/width (a few hundred rows at any corpus size)",
    "rrf_fusion_topk": "both first-stage rankers are the sanctioned bounded-"
    "probe exact/binary scans (knn_cosine_topk / binary_hamming_topk)",
    "sql_all_quantified": "broadcasts the 1-row ALL-subquery bound (max aggregate)",
    "davies_bouldin_1d_kmeans": "3x3 cluster-pair inequality join over "
    "the k-row broadcast stats",
    "silhouette_1d_kmeans": "foreign-cluster distances via a 3-row "
    "(k clusters) broadcast inequality join — the 1-D interval identity "
    "needs only (count, sum) per cluster",
    "decision_stump_returnflag": "broadcasts the 1-row class totals over "
    "the bounded quantity grid",
    "ks_two_sample_test": "broadcasts the 1-row sample-count and max-"
    "distance aggregates over the bounded value grid",
    "quantile_normalize_sources": "broadcasts the 1-row corpus count for "
    "the position arithmetic",
    "hits_hubs_authorities": "broadcasts the 1-row 2-norm aggregate each "
    "half-step (the HITS normalizer)",
    "pca_power_iteration": "single-row 64-element matrix/vector state: "
    "1-row crossJoins of the dimension-bounded covariance matrix, count, "
    "and trace aggregates",
    "naive_bayes_langid": "broadcasts the |langs|-row prior/default table "
    "and two 1-row training totals (vocab size, train doc count)",
    "cross_correlation_lags": "broadcasts the 1-row daily-series stats and "
    "1-row denominator aggregates over the calendar-bounded series",
    "feature_mutual_information": "broadcasts the 1-row grand total and the "
    "1-row MI/entropy aggregates over the (types x 24)-cell grid",
    "chi2_independence": "broadcasts the 1-row grand total and 1-row dof aggregates",
    "matryoshka_truncation_eval": "both rankings are the sanctioned bounded-probe "
    "exact-kNN scan (knn_cosine_topk shape)",
    "benford_first_digit": "broadcasts the 1-row digit-count total",
    "revenue_concentration_8020": "broadcasts the 1-row customer-total aggregate",
    "shipping_lag_histogram": "broadcasts the 1-row bucket total",
    "weekday_revenue_profile": "broadcasts the 1-row revenue total",
    "label_balance_audit": "broadcasts the 1-row class-count summary",
    "temperature_mixture_weights": "broadcasts the 1-row corpus total and "
    "1-row normalizer aggregates over the |langs|-row table",
    "split_leakage_guard": "broadcasts the 1-row leak-count audit aggregate",
    "theil_sen_trend": "pairwise slopes over the calendar-bounded daily "
    "aggregate (<=435 pairs at any corpus size) + 1-row day-count broadcast",
    "bloom_join_prefilter": "broadcasts the 1-row filter-width aggregate "
    "into the hash expressions on both build and probe sides",
    "token_js_divergence": "broadcasts the 1-row split-totals aggregate",
    "knn_label_accuracy": "the sanctioned bounded-probe exact-kNN scan "
    "(knn_cosine_topk shape) feeding per-query-bounded vote aggregates",
    "fk_integrity_audit": "six (1-row x 1-row) count crossJoins, one per "
    "foreign-key edge of the star schema",
    "blocking_recall_report": "three 1-row metric-count crossJoins over "
    "the evaluation harness",
    "rare_token_blocking_pairs": "broadcasts the 1-row corpus doc count "
    "into the IDF weight table",
    "exponential_smoothing_forecast": "closed-form weight join over the "
    "calendar-bounded daily aggregate (<=30x30 terms) + 1-row y0 broadcast",
    "revenue_autocorrelation": "1-row moment broadcasts over the "
    "calendar-bounded daily aggregate",
    "traffic_heatmap": "broadcasts the 1-row grand total over the "
    "7x24-bounded grid",
    "basket_size_histogram": "broadcasts the 1-row total over the "
    "bounded basket-size histogram",
    "degree_distribution_fit": "two 1-row graph-totals crossJoins over "
    "the OLS moment aggregate",
    "embedding_drift_report": "crossJoin of the two 1-row per-half mean "
    "vectors (dimension-bounded array math)",
    "cohens_kappa_agreement": "crossJoin of the 1-row diagonal and 1-row "
    "marginal-product aggregates (class-bounded)",
    "fairness_parity_audit": "broadcasts the 1-row pooled-rate aggregate "
    "over the |brands|-row audit grid",
    "ablation_group_impact": "broadcasts the 1-row corpus totals over the "
    "|sources|-row ablation grid",
    "calibration_brier": "broadcasts the 1-row Brier/total aggregate over "
    "the 10-bin reliability grid",
    "mann_kendall_trend": "pairwise sign comparisons over the calendar-"
    "bounded monthly aggregate (<=3160 pairs at any corpus size) + 1-row "
    "S/tie/count broadcasts",
    "isotonic_calibration": "max-min interval joins over the 50-value "
    "quantity grid (<=125k grid-bounded combinations at any corpus size)",
    "benjamini_hochberg_brands": "broadcasts the 1-row pooled totals over "
    "the |brands|-row test grid (bounded window ranks)",
    "mutual_nn_pairs": "the sanctioned bounded-probe exact-kNN scan at "
    "k=1 (200-row slice) + equi-join reciprocity filter",
    "hard_negative_mining": "bounded 50-query probe set broadcast against "
    "the corpus (knn_cosine_topk shape), split by label parity",
    "markov_stationary": "broadcasts the 1-row total over the |states|-row "
    "grid; the |states|^2 transition matrix is bounded driver state",
    "logistic_regression_newton": "single-row Newton state: 1-row beta "
    "crossJoins over the 550-cell feature grid (PCA power-iteration shape)",
    "conformal_interval_calibration": "broadcasts the 1-row conformal "
    "quantile and per-quantity model; the residual rank is the exact-"
    "percentile global window",
    "cumulative_gains_deciles": "1-row totals broadcast into the 10-row "
    "decile table; the overlap join is 50x10 grid-bounded",
    "als_rank1_factorization": "broadcasts the 1-row SSE/fit aggregate "
    "onto the 15-row factor ranking",
    "hdr_histogram_quantiles": "broadcasts the 1-row count and the 3-row "
    "percentile targets; the exact side is the one-off audit rank",
    "dbscan_grid_clusters": "1-row density-threshold broadcast + the "
    "8-neighborhood adjacency join over the grid-bounded CORE-CELL set "
    "(cells, never points)",
    "propensity_strata_ate": "broadcasts the 1-row ATE and naive-diff "
    "aggregates over the 5-stratum grid",
    "logrank_test": "2-row group-grid crossJoin over the calendar-bounded "
    "duration table + 1-row frozen-sum broadcasts",
    "ridge_lambda_path": "4-row lambda grid crossJoins against the 1-row "
    "fold moments; validation joins fits to the 550-cell grid",
    "gbm_two_round_stumps": "1-row split/total broadcasts over the "
    "bounded feature grids (both split searches are grid windows)",
    "ipw_ate_estimators": "1-row estimator aggregates over the 5-stratum "
    "grid",
    "james_stein_brand_rates": "1-row shrinkage-factor broadcasts over "
    "the |brands|-row rate grid",
    "regression_discontinuity": "crossJoin of the two 1-row side fits "
    "(left/right local-linear moments)",
    "oaxaca_blinder_gap": "crossJoin of the two 1-row per-group "
    "beta/mean fits",
    "changepoint_binary_segmentation": "1-row totals broadcast over the "
    "calendar-bounded daily grid (split search is a grid window)",
    "quantile_treatment_effects": "3-row percentile-target probe joined "
    "to the per-arm ranked rows (exact-percentile pick)",
    "offline_policy_ips": "1-row estimator aggregates over the "
    "(strata x actions)-bounded replay grid",
    "cuped_variance_reduction": "crossJoins of the 1-row arm means and "
    "1-row theta/moment aggregates",
    "median_confidence_interval": "3-rank order-statistic probe joined "
    "to the ranked pass (1-row rank-bound broadcast)",
    "runs_test_randomness": "1-row median broadcast over the calendar-"
    "bounded daily grid",
    "ljung_box_test": "1-row per-lag moment crossJoins over the "
    "calendar-bounded daily grid (7 bounded lag joins)",
    "restricted_mean_survival": "1-row area/count crossJoins over the "
    "calendar-bounded KM step table",
    "distribution_fit_mom": "1-row empirical-median broadcast into the "
    "1-row moment aggregate",
    "kendall_tau_b": "cell-pair concordance join over the 550-cell "
    "grid (bounded at any corpus size) + 1-row tie/total crossJoins",
    "t_closeness_audit": "classes x values grid crossJoin (both sides "
    "value-cardinality-bounded) + 1-row total broadcast",
    "dft_periodogram_weekly": "4-row period-literal crossJoin over the "
    "calendar-bounded daily grid + 1-row mean/origin broadcast",
    "cooks_distance_outlier_days": "1-row origin and fit broadcasts over "
    "the calendar-bounded daily grid",
    "neyman_allocation_sources": "1-row total-weight and leftover "
    "broadcasts over the |sources|-bounded stratum grid",
    "durbin_watson_trend_residuals": "1-row origin and fit-moment "
    "broadcasts over the calendar-bounded daily grid",
    "event_pair_sequence_support": "1-row user-count broadcast over the "
    "|event types|^2-bounded precedence grid",
    "theil_index_decomposition": "1-row grand-total broadcast over the "
    "|nations|-bounded decomposition grid",
    "kruskal_wallis_test": "1-row total/H broadcasts over the "
    "|event types|-bounded rank-sum grid",
    "capture_recapture_users": "crossJoins of four 1-row capture-count "
    "aggregates",
    "brown_forsythe_variance_test": "1-row F-statistic broadcast over "
    "the |event types|-bounded deviation grid",
    "cochran_armitage_trend": "1-row trend-statistic broadcast over the "
    "5-bucket dose grid",
    "misra_gries_heavy_hitters": "1-row MG threshold and total broadcasts "
    "over the (partitions x k)-bounded counter grid",
    "tukey_hsd_pairs": "5x5-bounded group-grid pair join + 1-row "
    "MS-within broadcast",
    "friedman_test": "1-row block-count/A2/Q broadcasts over the "
    "|types|-bounded rank-sum grid",
    "power_sample_size_design": "4-row MDE-literal crossJoin with the "
    "1-row baseline-rate aggregate",
    "effect_size_report": "crossJoin of the two 1-row moment/concordance "
    "aggregates",
    "streaming_mg_heavy_hitters": "1-row total broadcast over the "
    "shard-bounded candidate set",
    "bigram_surprisal_scores": "1-row vocabulary-size broadcast over the "
    "bigram-count join",
    "wasserstein_1d_distance": "1-row total-count broadcast over the "
    "price-granularity-bounded value grid",
    "hurst_rs_exponent": "3-row block-size literal crossJoin over the "
    "calendar-bounded daily grid + 1-row slope broadcast",
    "pacf_durbin_levinson": "1-row per-lag moment crossJoins over the "
    "calendar-bounded daily grid (3 bounded lag joins) + 3-row lag grid",
    "granger_causality_daily": "1-row moment aggregate over the "
    "calendar-bounded lag-joined grid",
    "aipw_doubly_robust_ate": "1-row outcome-model fit broadcast over "
    "the frozen AIPW scan",
    "meta_analysis_brand_effects": "1-row pooled/heterogeneity "
    "broadcasts over the |brands|-bounded effect grid",
    "gopher_quality_rules": "6-row rule-literal crossJoin over the "
    "per-doc feature scan",
    "funnel_order_violations": "6-row stage-pair literal crossJoin over "
    "the per-user stage table",
    "rbo_ranking_overlap": "20x20-bounded depth-grid crossJoin of two "
    "top-k lists",
    "newey_west_trend_se": "1-row moment/autocovariance broadcasts over "
    "the calendar-bounded daily grid (3 bounded lag joins)",
    "bland_altman_agreement": "1-row limit-of-agreement broadcast over "
    "the flagged rescan",
    "sprt_early_stopping": "1-row crossing/final broadcasts over the "
    "bounded enrollment-prefix walk",
    "gpd_peaks_over_threshold": "1-row threshold broadcast over the "
    "exceedance scan",
    "dunn_index_segments": "1-row Dunn-ratio broadcast over the 3-row "
    "segment grid",
    "page_trend_test": "1-row L-statistic broadcast over the 5-bucket "
    "rank-sum grid",
}
# The UDTF surface demo is the one sanctioned row-Python plan: Python UDTFs
# have no Arrow path, and demonstrating the lateral-join UDTF API is the
# query's entire purpose.
_SANCTIONED_ROW_PYTHON = {"udtf_sentence_stats", "udtf_polymorphic_ngrams"}

# Queries whose plans legitimately contain an Exchange SinglePartition over
# rows the detector cannot prove bounded (a localCheckpoint / createDataFrame
# leaf hides the upstream aggregation from the plan). Every name must state
# why the single-partition frame is bounded BY CONSTRUCTION; anything sorting
# genuinely raw fact rows through one task must be fixed (value-grid
# rank-select / sharded prefix sums), not added here.
_SANCTIONED_SINGLE_PARTITION = {
    "pareto_frontier_parts": "phase-2 skyline merge: repartition(1) of the"
    " phase-1 per-partition-pruned candidate set (frontier-sized by"
    " construction; the documented two-phase skyline shape)",
}


# Queries whose plans carry an Exchange SinglePartition over a KEYED,
# non-shard aggregate grid (plans.single_partition_grid_nodes) — the round-6
# tightening of the blanket "HashAggregate below excuses the window" rule.
# Such a window is bounded only if the grouping key's DOMAIN is bounded; the
# round-5 weak item was exactly a value grid whose key domain (cents) grows
# to ~5e7 at 100x, and the rankselect sharding removed those nodes from all
# nine call sites.
#
# Each entry is ``name: (budget, bound)`` — the allowed node count plus the
# STATED key-domain bound that justifies it (round-7: the nested-loop
# sanction list already carried per-name justifications; these now do too).
# "Calendar" grids are bounded by the DATA'S DATE SPAN (~3.7k days/decade),
# not corpus size; "dimension" grids grow with a dimension table, not fact
# rows, and name their shard escape hatch. A NEW query exceeding its pinned
# count fails this test and must either shard its walk
# (operators/rankselect.py) or pin itself here with a bounded key.
_GRID_WINDOW_PIN: dict[str, tuple[int, str]] = {
    "actuarial_life_table": (1, "weekly-interval tenure grid (calendar-bounded weeks)"),
    "average_precision_eval": (1, "l_quantity rank grid (TPC-H quantity domain is 1..50)"),
    "benjamini_hochberg_brands": (1, "per-brand p-value grid (|brands| = 25, fixed part attribute)"),
    "changepoint_binary_segmentation": (1, "calendar-day revenue grid"),
    "cross_correlation_lags": (
        2,
        "calendar-day grid twice: the day-index window and the +/-7-lag "
        "pairing both key on days (~3.7k/decade at ANY corpus size)",
    ),
    "cumulative_distinct_users": (1, "calendar-day grid (running count over daily firsts)"),
    "cumulative_gains_deciles": (1, "decile grid (10 rows by construction)"),
    "decision_stump_returnflag": (1, "split-candidate grid over l_quantity (integer 1..50)"),
    "dft_periodogram_weekly": (1, "calendar-day grid (DFT terms per day index)"),
    "durbin_watson_trend_residuals": (1, "calendar-day residual grid"),
    "effect_size_report": (1, "two-group (purchase vs click) summary grid"),
    "event_pair_sequence_support": (1, "ordered event-type pair grid (|event_types|^2; fixture has 5 types)"),
    "exponential_smoothing_forecast": (
        3,
        "calendar-day grid three ways: day-index window, <=30x30 closed-"
        "form term join, final smoothing walk — all keyed on days, "
        "~3.7k/decade regardless of corpus size",
    ),
    "f1_threshold_search": (1, "decision-threshold grid over integer l_quantity scores (1..50)"),
    "geo_cell_density": (1, "spatial cell grid (fixed cell size over bounded lat/lon span)"),
    "hdr_histogram_quantiles": (1, "significant-digit bucket grid (~900 buckets per decade of value range)"),
    "heaps_law_fit": (1, "corpus-prefix sample grid (fixed probe points on the doc axis)"),
    "hill_tail_index": (1, "top-k tail order-statistic grid (k fixed)"),
    "hurst_rs_exponent": (
        6,
        "calendar-day grid through the R/S pipeline: per-(size, block) "
        "windows over DAILY revenue at 3 fixed block sizes (16/32/64 "
        "days) plus the 3-point log-log pivot — every key domain is "
        "days (~3.7k/decade) x 3 sizes",
    ),
    "isotonic_calibration": (
        2,
        "ppm-rate value grid (<=125k distinct rate values by the ppm "
        "freeze) for the PAVA sweep; interval joins are grid-bounded",
    ),
    "jonckheere_terpstra_trend": (1, "ordered-group value grid (3 fixed groups x frozen price grid)"),
    "kaplan_meier_retention": (1, "duration-day grid (event-time span, calendar-bounded)"),
    "ks_two_sample_test": (1, "merged value grid of the two frozen-cents samples (daily aggregates)"),
    "ma_crossover_signals": (1, "calendar-day grid (7d/28d moving averages)"),
    "nelson_aalen_hazard": (1, "duration-day grid (same axis as kaplan_meier_retention)"),
    "neyman_allocation_sources": (1, "per-source stratum grid (|sources| ~ 4 fixture categories)"),
    "peak_concurrent_sessions": (1, "sweep-line event-time grid per day (calendar-bounded)"),
    "poisson_bootstrap_ci": (1, "bootstrap-replicate grid (fixed B replicates)"),
    "restricted_mean_survival": (1, "duration-day grid clamped to the 29-day horizon"),
    "return_rate_by_brand": (1, "per-brand grid (|brands| = 25)"),
    "revenue_autocorrelation": (
        2,
        "calendar-day grid twice: day-index window and the lag-{1,2,3,7} "
        "pairing join — both keyed on days (~3.7k/decade)",
    ),
    "rfm_segmentation": (1, "RFM cell grid (5x5x5 = 125 cells) over per-customer aggregates"),
    "ridge_lambda_path": (1, "lambda grid (fixed regularization path points)"),
    "roc_auc_mann_whitney": (1, "l_quantity value grid (integer 1..50)"),
    "runs_test_randomness": (
        2,
        "calendar-day sign grid: the lag window and the run-boundary "
        "cumulative count both key on days (~3.7k/decade)",
    ),
    "seasonal_decompose_daily": (
        2,
        "calendar-day grid: centered 7-day trend window plus the "
        "weekday-index (7-row) seasonal mean — both day-keyed",
    ),
    "session_path_trigrams": (1, "path-trigram grid (|event_types|^3 = 125 at 5 types)"),
    "share_of_parent_rollup": (1, "nation/region hierarchy grid (25 nations, 5 regions)"),
    "tail_dependence_daily": (1, "calendar-day joint-exceedance grid"),
    "theil_sen_trend": (
        1,
        "day-PAIR slope grid (~n_days^2/2; ~7M pairs per decade of data — "
        "bounded by the DATE SPAN squared, not corpus size; re-shard if "
        "the span exceeds ~30 years)",
    ),
    "vocab_coverage": (1, "token-frequency rank grid (vocabulary-bounded, sub-linear in corpus)"),
    "wasserstein_1d_distance": (1, "merged frozen-value grid of the two compared distributions"),
    "watermark_late_audit": (1, "event-time grid clamped by the 30-minute watermark semantics"),
    "weekly_growth_rate": (1, "calendar-week grid (~520 weeks/decade)"),
    "window_lag_delta": (1, "calendar-month grid (~120 months/decade)"),
    "window_range_frame": (
        1,
        "per-account balance grid — DIMENSION-bounded (demo of the RANGE "
        "frame over |customers| aggregate rows); sharded_running escape "
        "hatch applies if the dimension explodes",
    ),
    "youden_j_cutpoint": (1, "cutpoint grid over integer l_quantity scores (1..50)"),
}


def test_registry_all_scalable(spark, sf_dir):
    """Every registry query's physical plan passes the scale-killer gate
    (plans.py::assert_scalable): no cartesian products anywhere, and nested
    -loop joins / row-Python eval / single-partition exchanges over raw rows
    only where explicitly sanctioned above. A future query landing with an
    unkeyed join, a row-at-a-time Python UDF, or an unpartitioned
    window/sort over a fact table fails here at plan time. Additionally,
    single-partition windows over KEYED aggregate grids are budgeted by
    _GRID_WINDOW_PIN — a new one must state its key-domain bound there or
    shard the walk instead."""
    import threading
    from queue import Empty, SimpleQueue

    from map_reduce_engine_spark.plans import assert_scalable

    failures = []
    grid_excess = {}
    lock = threading.Lock()
    work: SimpleQueue = SimpleQueue()
    for name in REGISTRY:
        work.put(name)

    # 4-way parallel over newSession clones (r12, VERDICT r11 #5: the suite
    # must fit the driver's window — this was a 300 s sequential walk of
    # 483 plans). Planning is driver-side py4j work that releases the GIL;
    # separate SQLConf per worker keeps loop-scoped overrides isolated,
    # exactly the sweep/parity-fixture discipline.
    def worker(session) -> None:
        while True:
            try:
                name = work.get_nowait()
            except Empty:
                return
            q = REGISTRY[name]
            try:
                r = assert_scalable(
                    q.fn(session, sf_dir),
                    allow_nested_loop=name in _SANCTIONED_NESTED_LOOP,
                    allow_row_python=name in _SANCTIONED_ROW_PYTHON,
                    allow_single_partition_raw=name in _SANCTIONED_SINGLE_PARTITION,
                )
                budget, bound = _GRID_WINDOW_PIN.get(name, (0, "UNPINNED"))
                if r.single_partition_grid > budget:
                    with lock:
                        grid_excess[name] = (
                            f"{r.single_partition_grid} grid windows > budget "
                            f"{budget} (pinned bound: {bound})"
                        )
            except Exception as e:  # noqa: BLE001 — collect all, report once
                with lock:
                    failures.append(f"{name}: {str(e)[:100]}")

    threads = [
        threading.Thread(target=worker, args=(spark.newSession(),)) for _ in range(4)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not failures, "\n".join(sorted(failures))
    assert not grid_excess, (
        "unpinned single-partition grid windows (state the key-domain bound "
        f"in _GRID_WINDOW_PIN or shard via operators/rankselect.py): {grid_excess}"
    )


def test_triangle_count_degree_oriented(spark, sf_dir):
    """Degree orientation (VERDICT r02 item 4): the wedge join must run
    over edges oriented toward the higher-(degree, id) endpoint, so a hub
    node's out-degree is bounded and no single key carries the fan-out.
    Count stays orientation-invariant."""
    from map_reduce_engine_spark.operators.graph import orient_by_degree, triangle_count
    from map_reduce_engine_spark.plans import plan_report

    # K4 (4 triangles) + a 6-leaf hub star glued on node 1 (0 triangles).
    k4 = [(i, j) for i in range(1, 5) for j in range(i + 1, 5)]
    star = [(1, h) for h in range(10, 16)]
    edges = spark.createDataFrame(k4 + star, "u bigint, v bigint")
    assert triangle_count(edges).collect()[0].n_triangles == 4

    # The hub (node 1, degree 9) must END UP with out-degree <= its
    # lower-degree neighbor count under id-orientation it would own 9.
    o = orient_by_degree(edges)
    outdeg = {r.a: r.n for r in o.groupBy("a").agg(F.count("*").alias("n")).collect()}
    assert outdeg.get(1, 0) == 0, "max-degree hub must source no wedge edges"

    # Plan gate: the orientation really computes degrees (an aggregate) and
    # attaches them (joins) — not a constant re-labeling.
    r = plan_report(o)
    assert r.shuffle_exchanges >= 1 and "HashAggregate" in plan(o, "simple")

    # Registry query still agrees with its orientation-invariant oracle.
    row = REGISTRY["copurchase_triangles"].fn(spark, sf_dir).collect()[0]
    assert row.n_edges > 0 and row.n_triangles >= 0


def test_ivfpq_join_is_equi_join_on_cell(spark, sf_dir):
    """IVFPQ candidate generation must equi-join on the cell id (the IVF
    property), with the PQ scoring as array lookups — no cartesian, no
    nested loop, no Python beyond the two Arrow encode passes."""
    from map_reduce_engine_spark.operators.similarity import ivfpq_topk

    emb = read_table(spark, sf_dir, "embeddings")
    df = ivfpq_topk(emb, emb.where(F.col("vec_id") < 3), "vec_id", "embedding", k=5)
    p = plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p
    assert any(j in p for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
