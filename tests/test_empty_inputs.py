"""Empty/degenerate-input behavior of core operators.

At 100 TB, empty inputs are not hypothetical — a partition filter that
matches nothing, a day with no events, a source with no documents. Every
operator must return an empty (or correctly-degenerate) result with the
right schema, never throw.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_engine_spark import mapreduce
from map_reduce_engine_spark.operators import dedup as dd
from map_reduce_engine_spark.operators import wordcount
from map_reduce_engine_spark.operators.packing import pack_bins, winnow_fingerprints

import pytest

pytestmark = pytest.mark.quick  # registry-independent: the builder inner loop


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id bigint, text string")


def test_wordcount_empty(spark):
    out = wordcount(_empty_docs(spark), "text")
    assert out.columns == ["word", "cnt"]
    assert out.count() == 0


def test_wordcount_whitespace_only(spark):
    df = spark.createDataFrame([(1, "   "), (2, "")], ["doc_id", "text"])
    assert wordcount(df, "text").count() == 0


def test_mapreduce_empty(spark):
    df = spark.createDataFrame([], "value string")
    out = mapreduce.wordcount_job(df)
    assert out.count() == 0
    assert out.columns == ["key", "value"]


def test_minhash_empty_and_short(spark):
    empty = dd.minhash_signatures(_empty_docs(spark), "doc_id", "text", num_hashes=8)
    assert empty.count() == 0
    # a 1-token doc still gets a full-width signature
    one = spark.createDataFrame([(1, "solo")], ["doc_id", "text"])
    sig = dd.minhash_signatures(one, "doc_id", "text", num_hashes=8).first()
    assert len(sig.sig) == 8


def test_dedup_exact_empty(spark):
    out = dd.dedup_exact(_empty_docs(spark), ["text"], ["doc_id"])
    assert out.count() == 0


def test_pack_bins_empty(spark):
    df = spark.createDataFrame([], "grp string, ord bigint, size bigint")
    assert pack_bins(df, "grp", "ord", "size", budget=100).count() == 0


def test_winnow_empty_and_too_short(spark):
    assert winnow_fingerprints(_empty_docs(spark), "doc_id", "text").count() == 0
    # fewer tokens than k → no grams, no fingerprints, no error
    short = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    assert winnow_fingerprints(short, "doc_id", "text", k=4, w=4).count() == 0


def test_connected_components_empty(spark):
    """Runs to its fixpoint (no round cap) and stops: the changed-label
    count observed on the round's checkpoint reads 0 on no rows, where a
    sum would read NULL and never equal 0."""
    from map_reduce_engine_spark.operators import connected_components

    edges = spark.createDataFrame([], "id1 bigint, id2 bigint")
    assert connected_components(edges).count() == 0


def test_pagerank_empty(spark):
    from map_reduce_engine_spark.operators import pagerank

    edges = spark.createDataFrame([], "src string, dst string")
    assert pagerank(edges, iterations=2).count() == 0


def test_incremental_merge_with_empty_delta(spark):
    from map_reduce_engine_spark.operators.incremental import agg_state, merge_agg_state

    base_rows = spark.createDataFrame([("a", 1.0), ("b", 2.0)], ["k", "v"])
    aggs = {"total": ("sum", "v"), "n": ("count", "v")}
    base = agg_state(base_rows, ["k"], aggs)
    delta = agg_state(spark.createDataFrame([], "k string, v double"), ["k"], aggs)
    merged = {r.k: (r.total, r.n) for r in merge_agg_state(base, delta, ["k"], aggs).collect()}
    assert merged == {"a": (1.0, 1), "b": (2.0, 1)}


def test_cms_sketch_empty(spark):
    from map_reduce_engine_spark.operators.sketch import cms_point_estimates, cms_table

    empty = spark.createDataFrame([], "token string")
    sketch = cms_table(empty, "token")
    assert sketch.count() == 0
    # probing a non-empty set against an empty sketch yields no estimates
    probes = spark.createDataFrame([("x",)], ["token"])
    assert cms_point_estimates(sketch, probes, "token").count() == 0


def test_semantic_dedup_empty_and_singleton(spark):
    from map_reduce_engine_spark.operators.similarity import semantic_dedup

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    out = semantic_dedup(empty, "vec_id", "embedding", n_cells=4, threshold=0.5)
    assert out.columns == ["vec_id", "cell", "is_kept", "keeper_id"]
    assert out.count() == 0

    one = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id bigint, embedding array<float>")
    rows = semantic_dedup(one, "vec_id", "embedding", n_cells=4, threshold=0.5).collect()
    assert len(rows) == 1 and rows[0].is_kept and rows[0].keeper_id is None


def _empty_vecs(spark):
    return spark.createDataFrame([], "vec_id bigint, embedding array<float>")


def test_round3_operators_empty_inputs(spark):
    """Round-3 operators on empty inputs: right schema, zero rows (or the
    correct degenerate value), never a throw."""
    from map_reduce_engine_spark.operators.graph import orient_by_degree, triangle_count
    from map_reduce_engine_spark.operators.similarity import (
        binary_quantize,
        hamming_topk,
        random_projection,
    )
    from map_reduce_engine_spark.operators.sketch import (
        ams_f2_sketch,
        join_size_estimate,
        kmv_tree_sketch,
    )
    from map_reduce_engine_spark.operators.text import token_dropout

    ev = _empty_vecs(spark)
    assert random_projection(ev, "vec_id", "embedding").count() == 0
    assert binary_quantize(ev, "vec_id", "embedding").count() == 0
    assert hamming_topk(ev, ev, "vec_id", "embedding").count() == 0

    ed = _empty_docs(spark)
    assert token_dropout(ed, "doc_id", "text").count() == 0
    assert kmv_tree_sketch(ed, "doc_id", "text").count() == 0

    empty_kv = spark.createDataFrame([], "key bigint, v bigint")
    js = join_size_estimate(empty_kv, empty_kv, "key", "key").collect()[0]
    assert js.est_pairs is None or js.est_pairs == 0  # empty-sum semantics

    # AMS over empty input: sums are empty → single row with empty/na means
    ams = ams_f2_sketch(ed, "text")
    assert ams.count() == 1  # degenerate single row, no throw

    empty_edges = spark.createDataFrame([], "u bigint, v bigint")
    assert orient_by_degree(empty_edges).count() == 0
    assert triangle_count(empty_edges).collect()[0].n_triangles == 0


def test_scd2_build_empty(spark):
    from map_reduce_engine_spark.operators.cdc import scd2_build

    log = spark.createDataFrame([], "k INT, ts INT, id INT")
    out = scd2_build(log, key="k", order_cols=["ts", "id"])
    assert out.count() == 0
    assert {"version_seq", "valid_from", "valid_to", "is_current"} <= set(out.columns)


def test_pareto_frontier_empty_and_singleton(spark):
    from map_reduce_engine_spark.operators.frontier import pareto_frontier_2d

    empty = spark.createDataFrame([], "id BIGINT, price DOUBLE, size INT")
    assert pareto_frontier_2d(empty, "price", "size").count() == 0
    one = spark.createDataFrame([(1, 2.0, 3)], "id BIGINT, price DOUBLE, size INT")
    assert [r.id for r in pareto_frontier_2d(one, "price", "size").collect()] == [1]


def test_grid_radius_pairs_empty(spark):
    from map_reduce_engine_spark.operators.spatial import grid_radius_pairs

    empty = spark.createDataFrame([], "id BIGINT, lat DOUBLE, lon DOUBLE")
    out = grid_radius_pairs(empty, "id", "lat", "lon", radius_km=100.0, cell_deg=1.0)
    assert out.columns == ["id1", "id2", "dist_km"]
    assert out.count() == 0


def test_label_propagation_empty(spark):
    from map_reduce_engine_spark.operators.graph import label_propagation

    edges = spark.createDataFrame([], "id1 BIGINT, id2 BIGINT")
    out = label_propagation(edges, rounds=2)
    assert out.columns == ["node", "community"]
    assert out.count() == 0


def test_rrf_fuse_empty_lists(spark):
    from map_reduce_engine_spark.operators.retrieval import rrf_fuse

    empty = spark.createDataFrame([], "query_id INT, neighbor_id INT, rank INT")
    out = rrf_fuse([empty, empty], k=5)
    assert out.count() == 0
    assert {"rrf_nano", "fused_rank"} <= set(out.columns)


def test_bloom_empty_build_and_probe(spark):
    """An empty key set builds an empty word table, and every probe then
    reports non-membership (bool_and over all-unset words)."""
    from pyspark.sql import functions as F

    from map_reduce_engine_spark.operators.bloom import bloom_probe, bloom_words

    empty = spark.createDataFrame([], "key bigint").withColumn(
        "m_bits", F.lit(63 * 4)
    )
    words = bloom_words(empty, "key", "m_bits")
    assert words.columns == ["word_idx", "word"]
    assert words.count() == 0
    probes = spark.range(5).select(F.col("id").alias("key")).withColumn(
        "m_bits", F.lit(63 * 4)
    )
    got = bloom_probe(probes, "key", words, "m_bits").collect()
    assert len(got) == 5 and not any(r.maybe_member for r in got)


def test_sizing_auto_paths_empty_corpus(spark):
    """n_cells=None / bands=None auto-sizing must not throw on an empty
    corpus (count()=0 clamps to the floor)."""
    from pyspark.sql import functions as F

    from map_reduce_engine_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_signatures,
    )
    from map_reduce_engine_spark.operators.similarity import semantic_dedup

    empty_vecs = spark.createDataFrame([], "id bigint, vec array<double>")
    out = semantic_dedup(empty_vecs, "id", "vec", n_cells=None)
    assert out.count() == 0

    sigs = minhash_signatures(
        spark.createDataFrame([], "doc_id bigint, text string"), "doc_id", "text"
    )
    pairs = minhash_candidate_pairs(sigs, None, None, materialize=False)
    assert pairs.count() == 0


def test_k_core_empty_edges(spark):
    from map_reduce_engine_spark.operators.graph import k_core

    edges = spark.createDataFrame([], "u BIGINT, v BIGINT")
    out = k_core(edges, k=3)
    assert out.columns == ["node", "core_degree"]
    assert out.count() == 0


def test_k_truss_empty_edges(spark):
    """The peel stops on the surviving-edge count observed on each round's
    checkpoint, which reads 0 on an empty edge list."""
    from map_reduce_engine_spark.operators.graph import k_truss

    out = k_truss(spark.createDataFrame([], "u BIGINT, v BIGINT"), k=3)
    assert out.columns == ["u", "v", "n_triangles"]
    assert out.count() == 0


def test_personalized_pagerank_empty_edges(spark):
    from pyspark.sql import functions as F

    from map_reduce_engine_spark.operators.graph import personalized_pagerank

    edges = spark.createDataFrame([], "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "node string")
    out = personalized_pagerank(edges, seeds, iterations=2)
    assert out.count() == 0  # no nodes -> no ranks, no crash


def test_personalized_pagerank_seed_outside_graph(spark):
    from map_reduce_engine_spark.operators.graph import personalized_pagerank

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    seeds = spark.createDataFrame([("zz",)], "node string")
    rows = {r.node: r.rank for r in personalized_pagerank(edges, seeds, iterations=3).collect()}
    # no restart mass anywhere reachable: everything decays to exactly 0
    assert set(rows) == {"a", "b"}
    assert all(v == 0.0 for v in rows.values())


def test_windowed_value_sketch_empty_batch(spark, tmp_path):
    """The sketch stream plans (and drains to zero rows) on an events file
    with no qualifying purchases."""
    from pyspark.sql import functions as F

    from map_reduce_engine_spark.streaming import (
        events_stream,
        run_to_memory,
        windowed_value_sketch,
    )

    p = tmp_path / "ev"
    p.mkdir()
    df = spark.createDataFrame(
        [(1, 0, "click", 0.0, "{}")],
        "event_id long, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    df.select("event_id", "ts", "user_id", "event_type", "value", "props").write.parquet(
        str(p / "events.parquet")
    )
    run_to_memory(
        windowed_value_sketch(events_stream(spark, str(p))),
        "mre_test_qsketch_empty",
        output_mode="complete",
    )
    assert spark.table("mre_test_qsketch_empty").count() == 0


def test_pair_clip_totals_empty_and_disjoint(spark):
    """The generation-eval clip helper (rouge2/bleu2/chrf3): no pairs ->
    empty frame with the right schema; a pair whose documents share no
    grams keeps its totals with a zero match (coalesced, not dropped)."""
    from map_reduce_engine_spark.queries.text import _pair_clip_totals

    empty_pairs = spark.createDataFrame(
        [], "source string, cid bigint, rid bigint"
    )
    empty_gr = spark.createDataFrame([], "doc_id bigint, g string, c bigint")
    out = _pair_clip_totals(empty_pairs, empty_gr)
    assert out.columns == ["source", "n_pairs", "m", "c_tot", "r_tot"]
    assert out.count() == 0

    pairs = spark.createDataFrame(
        [("s", 2, 1)], "source string, cid bigint, rid bigint"
    )
    gr = spark.createDataFrame(
        [(1, "a b", 2), (2, "c d", 3)], "doc_id bigint, g string, c bigint"
    )
    row = _pair_clip_totals(pairs, gr).collect()[0]
    assert (row.n_pairs, row.m, row.c_tot, row.r_tot) == (1, 0, 3, 2)


def test_substring_dedup_empty_and_short(spark):
    """The substring tier on an empty corpus and on a corpus where every
    document is shorter than k: no spans, full-retention ledgers, texts
    pass through the rewrite."""
    empty = _empty_docs(spark)
    assert dd.substring_dedup_spans(empty, "doc_id", "text", k=50).count() == 0
    assert dd.substring_dedup_survivors(empty, "doc_id", "text", k=50).count() == 0
    assert dd.substring_dedup_rewrite(empty, "doc_id", "text", k=50).count() == 0

    short = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], ["doc_id", "text"]
    )  # exact dups, but BELOW the k threshold: the substring tier ignores them
    assert dd.substring_dedup_spans(short, "doc_id", "text", k=50).count() == 0
    surv = {
        r.id: (r.n_tokens, r.removed_tokens, r.kept_tokens)
        for r in dd.substring_dedup_survivors(short, "doc_id", "text", k=50).collect()
    }
    assert surv == {1: (3, 0, 3), 2: (3, 0, 3)}, surv
    rw = {
        r.id: r.text
        for r in dd.substring_dedup_rewrite(short, "doc_id", "text", k=50).collect()
    }
    assert rw == {1: "a b c", 2: "a b c"}, rw


def test_incremental_substring_dedup_empty_sides(spark):
    """The batch-vs-corpus probe with an empty corpus (nothing indexed —
    every batch doc keeps everything) and an empty batch (nothing to
    report): full-retention ledgers and an empty frame respectively."""
    shared = " ".join(f"s{i}" for i in range(60))
    empty = _empty_docs(spark)
    batch = spark.createDataFrame([(10, shared)], ["doc_id", "text"])
    got = {
        r.id: (r.n_tokens, r.removed_tokens, r.kept_tokens, r.removed_bp)
        for r in dd.incremental_substring_dedup(
            empty, batch, "doc_id", "text", k=50
        ).collect()
    }
    assert got == {10: (60, 0, 60, 0)}, got
    corpus = spark.createDataFrame([(1, shared)], ["doc_id", "text"])
    out = dd.incremental_substring_dedup(corpus, empty, "doc_id", "text", k=50)
    assert out.columns == ["id", "n_tokens", "removed_tokens", "kept_tokens", "removed_bp"]
    assert out.count() == 0


def test_unigram_train_empty_dictionary(spark):
    """The prune-EM trainer on an empty dictionary returns an empty vocab
    with the right schema (the bake-off's empty-corpus reject path crosses
    this), and piece_alt_costs on a single-chars-only vocab is empty."""
    from map_reduce_engine_spark.operators import unigram_lm

    empty = spark.createDataFrame([], "word string, wcnt bigint")
    vocab = unigram_lm.unigram_train(empty)
    assert vocab.columns == ["piece", "cnt", "cost"]
    assert vocab.count() == 0
    singles = spark.createDataFrame(
        [("a", 3, 100), ("b", 1, 200)], "piece string, cnt bigint, cost bigint"
    )
    assert unigram_lm.piece_alt_costs(singles).count() == 0


def test_cross_corpus_contamination_empty_sides(spark):
    """Decontamination with an empty train corpus (nothing can contaminate)
    and an empty test corpus (nothing to probe) both yield empty spans with
    the right schema."""
    from map_reduce_engine_spark.operators.dedup import (
        cross_corpus_contamination_spans,
    )

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(20)))], ["doc_id", "text"]
    )
    empty = _empty_docs(spark)
    for test_df, train_df in ((empty, docs), (docs, empty), (empty, empty)):
        out = cross_corpus_contamination_spans(test_df, train_df, "doc_id", "text", k=13)
        assert out.columns == ["id", "span_start", "span_end", "span_tokens"]
        assert out.count() == 0
