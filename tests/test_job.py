"""Job-submission surface tests: the reference's startjob path end-to-end
(SURVEY.md A13 / §3.1) — text dir in, module-resolved map/reduce UDFs,
key\tvalue TSV out."""

from __future__ import annotations

import pytest

from map_reduce_engine_spark.job import Job, load_job_module, startjob
from map_reduce_engine_spark.mapreduce import wordcount_mapper, wordcount_reducer


@pytest.fixture()
def input_dir(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    (d / "a.txt").write_text("the cat the dog\nthe bird\n")
    (d / "b.txt").write_text("cat  dog\n")  # multi-space run: one separator
    return d


def _read_tsv(spark, path):
    return dict(line.value.split("\t") for line in spark.read.text(str(path)).collect())


def test_job_api_end_to_end(spark, input_dir, tmp_path):
    out = tmp_path / "out"
    Job(
        name="wc",
        input_dir=str(input_dir),
        output_dir=str(out),
        map_fn=wordcount_mapper,
        reduce_fn=wordcount_reducer,
        num_reducers=2,
    ).run(spark)
    assert _read_tsv(spark, out) == {"the": "3", "cat": "2", "dog": "2", "bird": "1"}


def test_startjob_resolves_module(spark, input_dir, tmp_path):
    """The reference's jar+reflection discovery as module import."""
    out = tmp_path / "out2"
    startjob(
        spark,
        "wc",
        "map_reduce_engine_spark.examples.wordcount_job",
        str(input_dir),
        str(out),
        num_reducers=1,
    )
    assert _read_tsv(spark, out) == {"the": "3", "cat": "2", "dog": "2", "bird": "1"}


def test_startjob_wordlength_typed_keys(spark, input_dir, tmp_path):
    out = tmp_path / "out3"
    startjob(
        spark,
        "wl",
        "map_reduce_engine_spark.examples.wordlength_job",
        str(input_dir),
        str(out),
    )
    # lengths: the(3)x3, cat(3)x2, dog(3)x2, bird(4)x1 → {3: 7, 4: 1}
    assert _read_tsv(spark, out) == {"3": "7", "4": "1"}


def test_load_job_module_errors_clearly():
    with pytest.raises(AttributeError, match="map_fn and reduce_fn"):
        load_job_module("map_reduce_engine_spark.examples")


def test_startjob_inverted_index(spark, tmp_path):
    """Third example job: doc-id-prefixed lines → posting lists."""
    d = tmp_path / "in_ii"
    d.mkdir()
    (d / "docs.txt").write_text("2\tthe cat\n1\tthe dog\n3\tcat nap\n")
    out = tmp_path / "out_ii"
    startjob(
        spark,
        "ii",
        "map_reduce_engine_spark.examples.invertedindex_job",
        str(d),
        str(out),
    )
    assert _read_tsv(spark, out) == {
        "the": "1,2",
        "cat": "2,3",
        "dog": "1",
        "nap": "3",
    }


def test_cli_list_names_every_registry_query(capsys):
    from map_reduce_engine_spark.__main__ import main
    from map_reduce_engine_spark.queries import REGISTRY

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    listed = {line.split("\t")[0] for line in out.strip().splitlines()}
    assert listed == set(REGISTRY)


def test_cli_query_writes_parquet(spark, sf_dir, tmp_path):
    # main() would create its own session; exercise the query path directly
    # against the shared test session instead (same code the verb runs).
    from map_reduce_engine_spark.queries import REGISTRY

    out = str(tmp_path / "wc")
    REGISTRY["wordcount"].fn(spark, sf_dir).write.mode("overwrite").parquet(out)
    assert spark.read.parquet(out).count() > 0


def test_cli_query_rejects_unknown_name():
    import pytest as _pytest

    from map_reduce_engine_spark.__main__ import main

    with _pytest.raises(SystemExit):
        main(["query", "no_such_query", "/tmp"])


@pytest.mark.quick
def test_cli_job_verbs_share_one_dispatch(monkeypatch):
    """Every job verb runs through main()'s one dispatch path, with
    get_spark and the job module's run() stubbed: the session is named
    mre-<verb>, only the daily-loop verbs take --metastore-dir (and hand it
    to get_spark, not run()), a flag left off never reaches run() (its own
    default applies), renamed flags arrive under run()'s keywords, and the
    session stops even when run() raises."""
    import importlib

    import map_reduce_engine_spark.__main__ as cli

    events = []

    class Session:
        def stop(self):
            events.append(("stop",))

    class Shown:
        def show(self, n, truncate):
            events.append(("show", n, truncate))

    session = Session()

    def get_spark(**kw):
        events.append(("get_spark", kw))
        return session

    def stub(verb, fail=False):
        def run(spark, sf_dir, out_dir, **flags):
            assert spark is session
            events.append(("run", sf_dir, out_dir, flags))
            if fail:
                raise RuntimeError("job failed")
            return Shown()

        mod = importlib.import_module(f"map_reduce_engine_spark.examples.{cli.JOBS[verb]}")
        monkeypatch.setattr(mod, "run", run)

    def dispatch(verb, *flags):
        events.clear()
        assert cli.main([verb, "sf", "out", *flags]) == 0
        return events[:]

    monkeypatch.setattr(cli, "get_spark", get_spark)
    assert len(cli.JOBS) == 16
    daily = {"incremental-ingest", "ann-serve"}
    for verb in cli.JOBS:
        stub(verb)
        rows = 10 if verb == "engagement-report" else 20
        assert dispatch(verb) == [
            ("get_spark", {"app_name": f"mre-{verb}", "metastore_dir": None}),
            ("run", "sf", "out", {}),
            ("show", rows, False),
            ("stop",),
        ], verb
        if verb in daily:
            got = dispatch(verb, "--metastore-dir", "ms")
            assert got[:2] == [
                ("get_spark", {"app_name": f"mre-{verb}", "metastore_dir": "ms"}),
                ("run", "sf", "out", {}),
            ], verb
        else:
            with pytest.raises(SystemExit):
                cli.main([verb, "sf", "out", "--metastore-dir", "ms"])

    got = dispatch("incremental-ingest", "--jaccard", "0.5", "--max-contaminated", "3")
    assert got[1] == (
        "run", "sf", "out", {"jaccard_threshold": 0.5, "max_contaminated_docs": 3}
    )
    got = dispatch("corpus-pipeline", "--jaccard", "0.9")
    assert got[1] == ("run", "sf", "out", {"jaccard_threshold": 0.9})
    got = dispatch("data-selection", "--max-contaminated", "3")
    assert got[1] == ("run", "sf", "out", {"max_contaminated": 3})

    stub("recommend", fail=True)
    events.clear()
    with pytest.raises(RuntimeError, match="job failed"):
        cli.main(["recommend", "sf", "out"])
    assert events[-1] == ("stop",)


def test_job_audit_passes_clean_mapreduce(spark, tmp_path):
    """run(audit=True) submits a clean compat-surface job (its Arrow
    boundaries are sanctioned, not scale-killers)."""
    from map_reduce_engine_spark.job import startjob

    d = tmp_path / "in"
    d.mkdir()
    (d / "t.txt").write_text("a b a\n")
    out = tmp_path / "out"
    from map_reduce_engine_spark.job import Job, load_job_module

    map_fn, reduce_fn, types = load_job_module(
        "map_reduce_engine_spark.examples.wordcount_job"
    )
    job = Job(
        name="wc", input_dir=str(d), output_dir=str(out),
        map_fn=map_fn, reduce_fn=reduce_fn, **types,
    )
    job.run(spark, audit=True)
    got = dict(l.value.split("\t") for l in spark.read.text(str(out)).collect())
    assert got == {"a": "2", "b": "1"}


def test_corpus_pipeline_example_end_to_end(spark, tmp_path):
    """The corpus-prep example job: every stage monotonically shrinks the
    corpus, survivors are unique by text, the split partition is written,
    and the audit accounts for every stage."""
    from map_reduce_engine_spark.examples.corpus_pipeline_job import run

    out = str(tmp_path / "corpus")
    audit = {r.stage: (r.rows_in, r.rows_out) for r in run(
        spark, "/root/testdata/sf0.001", out
    ).collect()}
    assert audit["0_input"][0] > 0
    # monotone shrink through the gates
    assert audit["1_quality_gate"][1] <= audit["1_quality_gate"][0]
    assert audit["2_exact_dedup"][1] <= audit["2_exact_dedup"][0]
    assert audit["3_near_dedup"][1] <= audit["3_near_dedup"][0]
    assert audit["3_near_dedup"][1] > 0
    # substring tier: token ledger is monotone and consistent with the
    # doc-count row (docs only drop if they emptied entirely)
    t_in, t_out = audit["3b_substring_rewrite_tokens"]
    assert 0 < t_out <= t_in
    d_in, d_out = audit["3b_substring_rewrite_docs"]
    assert 0 < d_out <= d_in == audit["3_near_dedup"][1]
    assert audit["4_split_write"][0] == d_out

    from pyspark.sql import functions as F

    written = spark.read.parquet(out)
    assert set(r.split for r in written.select("split").distinct().collect()) <= {
        "train", "val", "test"
    }
    assert written.count() == audit["4_split_write"][1]
    # exact-dedup invariant survives the whole pipeline
    assert written.groupBy("text").count().where(F.col("count") > 1).count() == 0


def test_engagement_report_job(spark, sf_dir, tmp_path):
    """The composed engagement example writes both outputs and the
    per-user profile covers every active user exactly once."""
    from map_reduce_engine_spark.examples.engagement_report_job import run

    out = str(tmp_path / "engage")
    profile = run(spark, sf_dir, out)
    rows = profile.collect()
    users = [r.user_id for r in rows]
    assert len(users) == len(set(users)) > 0
    back = spark.read.parquet(f"{out}/user_profile")
    assert back.count() == len(users)
    cohorts = spark.read.parquet(f"{out}/conversion_cohorts")
    assert {"cohort_day", "n_signups", "conversion_bp"} <= set(cohorts.columns)


def test_training_mix_job(spark, sf_dir, tmp_path):
    """The composed training-mix example writes all four artifacts and the
    sign-off gate approves the clean fixture (0 leaks, bounded drift)."""
    from map_reduce_engine_spark.examples.training_mix_job import run

    out = str(tmp_path / "mix")
    gate = run(spark, sf_dir, out)
    row = gate.collect()[0]
    assert row.split_leaks == 0
    assert row.mix_approved
    sheet = spark.read.parquet(f"{out}/mix_sheet")
    assert {"lang", "weight_bp", "n_kept", "kept_tokens"} <= set(sheet.columns)
    langs = [r.lang for r in sheet.collect()]
    assert len(langs) == len(set(langs)) > 0
    audit = spark.read.parquet(f"{out}/split_audit")
    assert {r.split for r in audit.collect()} <= {"train", "val", "test"}
    # every language's sampling weights sum to ~10000 bp (integer div floor)
    total_bp = sum(r.weight_bp for r in sheet.collect())
    assert 10000 - len(langs) <= total_bp <= 10000


def test_recommender_job(spark, sf_dir, tmp_path):
    """The composed recommender example writes recommendations + evaluation
    and the gate reflects the measured LOO hit rate against the floor."""
    from map_reduce_engine_spark.examples.recommender_job import run

    out = str(tmp_path / "recs")
    gate = run(spark, sf_dir, out, min_hitrate_ppm=0)
    row = gate.collect()[0]
    assert row.deploy_approved  # floor 0: any measured rate approves
    assert 0 <= row.hitrate_ppm <= 1_000_000
    assert row.n_hits <= row.n_eval_users
    recs = spark.read.parquet(f"{out}/recommendations")
    assert {"custkey", "rec_partkey", "score", "rank"} <= set(recs.columns)
    per_cust = {}
    for r in recs.collect():
        assert 1 <= r.rank <= 5
        per_cust.setdefault(r.custkey, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_cust.values())
    # an impossible floor must flip the gate
    strict = run(spark, sf_dir, str(tmp_path / "recs2"), min_hitrate_ppm=1_000_001)
    assert not strict.collect()[0].deploy_approved


def test_feature_screen_job(spark, sf_dir, tmp_path):
    """The composed feature-screen example writes all four screens and the
    gate arithmetic is consistent with the stump/AUC artifacts."""
    from map_reduce_engine_spark.examples.feature_screen_job import run

    out = str(tmp_path / "screen")
    gate = run(spark, sf_dir, out, min_auc_edge_ppm=0)
    row = gate.collect()[0]
    # edge floor 0: approval reduces to stump >= majority baseline
    assert row.feature_approved == (row.accuracy_bp >= row.baseline_bp)
    assert 0 <= row.auc_ppm <= 1_000_000
    stump = spark.read.parquet(f"{out}/stump").collect()[0]
    assert stump.accuracy_bp == row.accuracy_bp
    assert stump.n_left > 0 and stump.n_right > 0
    dep = spark.read.parquet(f"{out}/dependence").collect()[0]
    assert dep.mi_nats >= 0.0 and dep.h_type > 0.0
    fit = spark.read.parquet(f"{out}/regression_fit").collect()[0]
    assert 0.0 <= fit.r_squared <= 1.0
    # an impossible AUC-edge floor must flip the gate
    strict = run(spark, sf_dir, str(tmp_path / "screen2"), min_auc_edge_ppm=500_001)
    assert not strict.collect()[0].feature_approved


def test_model_eval_job(spark, sf_dir, tmp_path):
    """The composed model-eval example writes every evaluation artifact
    and the ship gate reconciles with them."""
    from map_reduce_engine_spark.examples.model_eval_job import run

    out = str(tmp_path / "eval")
    gate = run(spark, sf_dir, out, max_calib_gap_ppm=1_000_000)
    row = gate.collect()[0]
    # a 100%-of-scale calibration bound reduces the gate to the accuracy floor
    assert row.ship_ok == (row.accuracy_bp >= 5000)
    model = spark.read.parquet(f"{out}/model").collect()[0]
    assert model.accuracy_bp == row.accuracy_bp
    calib = spark.read.parquet(f"{out}/calibration").collect()
    assert row.max_calib_gap_ppm == max(abs(r.gap_ppm) for r in calib)
    fdr = spark.read.parquet(f"{out}/fdr_brand_tests").collect()
    assert row.n_brands_flagged_fdr == sum(1 for r in fdr if r.rejected)
    # an impossible calibration bound must flip the gate
    strict = run(spark, sf_dir, str(tmp_path / "eval2"), max_calib_gap_ppm=0)
    assert not strict.collect()[0].ship_ok


def test_causal_audit_job(spark, sf_dir, tmp_path):
    """The composed causal-audit example writes every estimator artifact
    and the summary reconciles with them."""
    from map_reduce_engine_spark.examples.causal_audit_job import run

    out = str(tmp_path / "causal")
    summary = run(spark, sf_dir, out, confounding_tol_ppm=0)
    row = summary.collect()[0]
    trio = spark.read.parquet(f"{out}/estimator_trio").collect()[0]
    assert row.ate_ipw_ppm == trio.ate_ipw_ppm
    assert row.naive_diff_ppm == trio.naive_diff_ppm
    med = spark.read.parquet(f"{out}/mediation").collect()[0]
    assert row.mediated_ppm == med.indirect_ppm
    # tol 0: flag reduces to "estimators differ at all"
    assert row.confounding_detected == (row.naive_diff_ppm != row.ate_strat_ppm)


def test_timeseries_health_job(spark, sf_dir, tmp_path):
    """The composed time-series health example writes every diagnostic
    and the gate reconciles with them."""
    from map_reduce_engine_spark.examples.timeseries_health_job import run

    out = str(tmp_path / "tsh")
    gate = run(spark, sf_dir, out, max_changepoint_share_bp=10_000)
    row = gate.collect()[0]
    mk = spark.read.parquet(f"{out}/mann_kendall").collect()[0]
    assert row.mk_trend == mk.trend and row.mk_z == mk.z
    cp = spark.read.parquet(f"{out}/changepoint").collect()[0]
    assert row.cp_day == cp.break_after_day
    expect_ok = (
        row.mk_trend == "none"
        and not row.runs_nonrandom
        and not row.lb_autocorrelated
        and row.cp_explained_share_bp <= 10_000
    )
    assert row.iid_assumption_ok == expect_ok
    # an impossible changepoint bound must flip the gate when a break exists
    strict = run(spark, sf_dir, str(tmp_path / "tsh2"), max_changepoint_share_bp=-1)
    assert not strict.collect()[0].iid_assumption_ok


def test_privacy_audit_job(spark, sf_dir, tmp_path):
    """The composed privacy audit writes all three ladder levels and the
    gate reconciles with them."""
    from map_reduce_engine_spark.examples.privacy_audit_job import run

    out = str(tmp_path / "priv")
    gate = run(spark, sf_dir, out, max_at_risk_share=1.0, min_l=1, max_t_ppm=1_000_000)
    row = gate.collect()[0]
    assert row.release_ok  # fully permissive thresholds always pass
    ldiv = spark.read.parquet(f"{out}/l_diversity").collect()
    assert row.min_distinct_l == min(r.distinct_l for r in ldiv)
    tc = spark.read.parquet(f"{out}/t_closeness").collect()
    assert row.worst_t_ppm == max(r.t_ppm for r in tc)
    # impossible closeness bound must flip the gate
    strict = run(spark, sf_dir, str(tmp_path / "priv2"), max_t_ppm=-1)
    assert not strict.collect()[0].release_ok


def test_group_comparison_job(spark, sf_dir, tmp_path):
    """The composed group-comparison dossier writes all five tests and the
    gate implements the assumption-gated decision rule."""
    from map_reduce_engine_spark.examples.group_comparison_job import run

    out = str(tmp_path / "gc")
    gate = run(spark, sf_dir, out)
    row = gate.collect()[0]
    # decision rule: variance heterogeneity defers to Kruskal-Wallis
    expected = row.kw_significant if row.variances_differ else row.anova_significant
    assert row.groups_differ == expected
    assert row.tests_agree == (row.anova_significant == row.kw_significant)
    # artifacts exist and reconcile
    tukey = spark.read.parquet(f"{out}/tukey_hsd").collect()
    assert row.n_pairs_differ == sum(1 for r in tukey if r.pair_differs)
    assert len(tukey) == 10
    kw = spark.read.parquet(f"{out}/kruskal_wallis").collect()
    assert {r.event_type for r in kw} == {"click", "error", "purchase", "signup", "view"}


def test_stream_monitor_job(spark, sf_dir, tmp_path):
    """The composed streaming monitor writes all four artifacts and the
    gate reconciles with them."""
    from map_reduce_engine_spark.examples.stream_monitor_job import run

    out = str(tmp_path / "sm")
    gate = run(spark, sf_dir, out)
    row = gate.collect()[0]
    sla = spark.read.parquet(f"{out}/error_rate_sla").collect()
    assert row.n_sla_windows == len(sla)
    assert row.n_sla_breaches == sum(1 for r in sla if r.sla_breach)
    mg = spark.read.parquet(f"{out}/mg_heavy_hitters").collect()
    assert row.n_mg_guarantee_misses == sum(1 for r in mg if not r.in_stream_candidates)
    assert row.n_mg_guarantee_misses == 0  # the MG theorem, end to end
    assert row.stream_healthy == (
        row.n_sla_breaches == 0
        and row.n_drift_alarms == 0
        and row.n_mg_guarantee_misses == 0
    )


def test_data_selection_job(spark, sf_dir, tmp_path):
    """The composed data-selection example writes the selection manifest
    plus all three audits; the gate counts reconcile with the artifacts."""
    from map_reduce_engine_spark.examples.data_selection_job import run

    out = str(tmp_path / "dsel")
    # generous bounds: the gate's COUNTS are what the test pins; approval
    # thresholds are the caller's policy knob
    gate = run(spark, sf_dir, out, max_dup_pairs=10**6, max_contaminated=10**6)
    row = gate.collect()[0]
    assert row.selection_approved
    sel = spark.read.parquet(f"{out}/selection")
    assert row.n_selected == sel.count() and 0 < row.n_selected <= 50
    dups = spark.read.parquet(f"{out}/within_selection_dups")
    assert row.n_dup_pairs == dups.count()
    sel_ids = {r.doc_id for r in sel.collect()}
    for r in dups.collect():  # both ends inside the selection
        assert r.id1 in sel_ids and r.id2 in sel_ids
    cont = spark.read.parquet(f"{out}/contaminated_picks")
    assert row.n_contaminated_picks == cont.count()
    div = spark.read.parquet(f"{out}/diversity")
    assert {"source", "distinct1_ppm", "distinct2_ppm"} <= set(div.columns)


@pytest.mark.indexes
def test_incremental_ingest_job(spark, sf_dir, tmp_path):
    """The daily-crawl ingest chain (VERDICT r08 ask #1): every artifact is
    written, the drop stages are disjoint, and the gate row reconciles
    EXACTLY — n_batch = emptied + near-dup dropped + contaminated dropped +
    appended; appended tokens re-counted from the payload text itself."""
    from pyspark.sql import functions as F

    from map_reduce_engine_spark.examples.incremental_ingest_job import run

    out = str(tmp_path / "ingest")
    try:
        gate = run(
            spark,
            sf_dir,
            out,
            max_near_dup_bp=10_000,
            max_contaminated_docs=10**6,
            index_table="mre_tile_index_test",
        )
        row = gate.collect()[0]
        assert row.batch_approved  # generous bounds -> counts are the pin
        assert (
            row.n_batch
            == row.n_emptied
            + row.n_near_dup_dropped
            + row.n_contaminated_dropped
            + row.n_appended
        ), row
        ledger = spark.read.parquet(f"{out}/ledger")
        assert ledger.count() == row.n_batch  # every batch doc accounted
        drops = spark.read.parquet(f"{out}/near_dup_drops")
        assert drops.count() == row.n_near_dup_dropped
        cont = spark.read.parquet(f"{out}/contaminated_drops")
        assert cont.count() == row.n_contaminated_dropped
        payload = spark.read.parquet(f"{out}/append_payload")
        assert payload.count() == row.n_appended
        # stage outputs are disjoint: nothing appended was ever dropped
        pay_ids = {r.id for r in payload.select("id").collect()}
        assert not pay_ids & {r.id for r in drops.select("id").collect()}
        assert not pay_ids & {r.id for r in cont.select("id").collect()}
        assert payload.where(F.trim("text") == "").count() == 0
        # byte-level token reconciliation: re-count the payload text
        recount = payload.select(
            F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("n")
        ).agg(F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("t")).collect()[0].t
        assert recount == row.tokens_appended, (recount, row.tokens_appended)
        # persisted index: the gate's counts are the stored tables' counts
        assert spark.table("mre_tile_index_test").count() == row.index_tiles_before
        assert (
            spark.table("mre_tile_index_test_next").count() == row.index_tiles_after
        )
        assert row.index_tiles_after >= row.index_tiles_before  # roll-forward
        # the band index is persisted and rolled forward the same way:
        # next = stored + exactly the payload docs' band entries (16/doc)
        n_bands = spark.table("mre_tile_index_test_bands").count()
        n_bands_next = spark.table("mre_tile_index_test_next_bands").count()
        from pyspark.sql import functions as SF

        n_payload_sigs = (
            payload.where(SF.trim("text") != "").count()
        )  # every non-empty payload doc contributes 16 band entries
        assert n_bands > 0
        assert n_bands_next == n_bands + 16 * n_payload_sigs
        # the verify token table is persisted and rolled forward the same
        # way: one row per history doc, next = stored + payload docs
        n_toks = spark.table("mre_tile_index_test_toks").count()
        n_toks_next = spark.table("mre_tile_index_test_next_toks").count()
        assert n_toks > 0
        assert n_toks_next == n_toks + row.n_appended
    finally:
        for t in (
            "mre_tile_index_test",
            "mre_tile_index_test_next",
            "mre_tile_index_test_bands",
            "mre_tile_index_test_next_bands",
            "mre_tile_index_test_toks",
            "mre_tile_index_test_next_toks",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.indexes
def test_incremental_ingest_job_empty_batch_rejects(spark, sf_dir, tmp_path):
    """An ingest with NO new documents is an explicit REJECT (coalesced
    verdict — the tokenizer-bakeoff NULL-gate lesson), never a silent
    approval."""
    from map_reduce_engine_spark.examples.incremental_ingest_job import run
    from map_reduce_engine_spark.io import read_table

    hist_dir = tmp_path / "hist_only"
    read_table(spark, sf_dir, "documents").where("doc_id < 250").write.parquet(
        str(hist_dir / "documents.parquet")
    )
    try:
        gate = run(
            spark,
            str(hist_dir),
            str(tmp_path / "ingest_empty"),
            index_table="mre_tile_index_empty_test",
        )
        row = gate.collect()[0]
        assert row.n_batch == 0 and row.n_appended == 0
        assert row.batch_approved is False
    finally:
        for t in (
            "mre_tile_index_empty_test",
            "mre_tile_index_empty_test_next",
            "mre_tile_index_empty_test_bands",
            "mre_tile_index_empty_test_next_bands",
            "mre_tile_index_empty_test_toks",
            "mre_tile_index_empty_test_next_toks",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_plan_verb(spark, sf_dir, monkeypatch, capsys):
    """The `plan` CLI verb prints the scale-killer report for a registry
    query. The verb is pointed at the shared test session (and its stop()
    is shadowed) so the suite's session survives the call."""
    import map_reduce_engine_spark.__main__ as cli

    monkeypatch.setattr(cli, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    rc = cli.main(["plan", "q6_forecast_revenue", sf_dir])
    assert rc == 0
    out = capsys.readouterr().out
    assert "cartesian_products: 0" in out
    assert "single_partition_raw: 0" in out
    assert "scans_with_pushed_filters: 1" in out


def test_retrieval_eval_job(spark, sf_dir, tmp_path):
    """The composed retrieval-eval example writes all seven artifacts; the
    gate counts reconcile with them."""
    from map_reduce_engine_spark.examples.retrieval_eval_job import run

    out = str(tmp_path / "reval")
    # min-common 0: at sf0.001 the two 20-doc lexical rankings MAY overlap
    # little; the gate's COUNTS are what the test pins, thresholds are the
    # caller's policy knob
    gate = run(spark, sf_dir, out, min_mean_ndcg_ppm=0, min_common_at20=0)
    row = gate.collect()[0]
    assert row.retrieval_approved
    ndcg = spark.read.parquet(f"{out}/ndcg")
    assert row.n_probe_queries == ndcg.count() == 5
    # mean-over-EVALUABLE convention: NULL-ndcg probes (zero relevant docs)
    # are excluded from the denominator, and the denominator is exposed
    evaluable = [r.ndcg_ppm for r in ndcg.collect() if r.ndcg_ppm is not None]
    assert row.n_evaluable_queries == len(evaluable)
    # ppm values are non-negative, so Python floor-div == engine trunc-div
    assert row.mean_ndcg_ppm == (sum(evaluable) // len(evaluable) if evaluable else 0)
    mrr = spark.read.parquet(f"{out}/mrr")
    assert row.mrr_ppm == mrr.collect()[0].mrr_ppm
    agree = spark.read.parquet(f"{out}/lexical_agreement")
    assert row.lexical_common_at20 == agree.count()
    b20 = spark.read.parquet(f"{out}/bm25_top20")
    q20 = spark.read.parquet(f"{out}/query_likelihood_top20")
    assert b20.count() <= 20 and q20.count() <= 20
    common = {r.doc_id for r in b20.collect()} & {r.doc_id for r in q20.collect()}
    assert row.lexical_common_at20 == len(common)
    lift = spark.read.parquet(f"{out}/feedback_lift")
    assert row.feedback_pos_lift == sum(r.pos_lift for r in lift.collect())
    # every probe's rerank positives stay within [0, 10]
    for r in lift.collect():
        assert 0 <= r.n_pos_rerank <= 10 and 0 <= r.n_pos_initial <= 10


def test_tokenizer_bakeoff_job(spark, sf_dir, tmp_path):
    """The composed tokenizer bake-off writes all six artifacts; the gate
    reconciles with them (corpus fertilities from summed totals, win
    counts from the per-source winners, vocab utilization from the vocab
    tables)."""
    from map_reduce_engine_spark.examples.tokenizer_bakeoff_job import run

    out = str(tmp_path / "tkb")
    gate = run(spark, sf_dir, out)
    row = gate.collect()[0]
    assert row.tokenizer_approved
    bake = spark.read.parquet(f"{out}/bakeoff").collect()
    assert row.n_sources == len(bake) > 0
    assert row.unigram_wins == sum(1 for r in bake if r.winner == "unigram")
    assert row.bpe_wins == sum(1 for r in bake if r.winner == "bpe")
    # corpus means reconcile against the raw totals (ppm values are
    # positive, so Python floor-div == engine trunc-div)
    bpe_f = spark.read.parquet(f"{out}/bpe_fertility").collect()
    uni_f = spark.read.parquet(f"{out}/unigram_fertility").collect()
    assert row.bpe_corpus_fert_ppm == (
        1_000_000 * sum(r.total_subwords for r in bpe_f)
        // sum(r.total_words for r in bpe_f)
    )
    assert row.uni_corpus_fert_ppm == (
        1_000_000 * sum(r.total_pieces for r in uni_f)
        // sum(r.total_words for r in uni_f)
    )
    # every fertility is >= 1 piece per word by construction
    assert row.bpe_corpus_fert_ppm >= 1_000_000
    assert row.uni_corpus_fert_ppm >= 1_000_000
    uni_v = spark.read.parquet(f"{out}/unigram_vocab").collect()
    assert row.uni_vocab_size == len(uni_v)
    assert row.uni_vocab_used == sum(1 for r in uni_v if r.em_cnt > 0)
    assert 0 < row.uni_vocab_used <= row.uni_vocab_size
    # BPE utilization counts the FULL learned inventory (alphabet + EOW +
    # merge outputs; ADVICE r07 — the old final-symbol count was
    # definitionally 100%): used <= size, merge outputs present, and
    # never-emitted symbols carry occurrences = 0 rather than vanishing
    bpe_v = spark.read.parquet(f"{out}/bpe_vocab").collect()
    assert row.bpe_vocab_size == len(bpe_v)
    assert row.bpe_vocab_used == sum(1 for r in bpe_v if r.occurrences > 0)
    assert 0 < row.bpe_vocab_used <= row.bpe_vocab_size
    assert any(len(r.sym) > 1 and r.sym != "</w>" for r in bpe_v)  # merges in inventory
    # population rule: both legs score the identical <=16-char word set
    assert all(r.bpe_words == r.uni_words for r in bake)


def test_tokenizer_bakeoff_empty_corpus_rejects(spark, sf_dir, tmp_path):
    """A zero-word corpus must REJECT explicitly (approved False, not a
    silently-NULL gate row from the 0-denominator ppm divisions —
    ADVICE r07)."""
    from map_reduce_engine_spark.examples.tokenizer_bakeoff_job import run

    empty_sf = str(tmp_path / "empty_sf")
    spark.read.parquet(f"{sf_dir}/documents.parquet").limit(0).write.parquet(
        f"{empty_sf}/documents.parquet"
    )
    row = run(spark, empty_sf, str(tmp_path / "tkb_empty")).collect()[0]
    assert row.n_sources == 0
    assert row.tokenizer_approved is False


def test_tokenizer_bakeoff_codelength_leg(spark, sf_dir, tmp_path):
    """The gate's corpus nats/char reconciles with the codelength artifact
    and sits in a sane band (>0; below the uniform-over-vocab ceiling)."""
    from map_reduce_engine_spark.examples.tokenizer_bakeoff_job import run

    out = str(tmp_path / "tkb2")
    row = run(spark, sf_dir, out).collect()[0]
    cl = spark.read.parquet(f"{out}/unigram_codelength").collect()
    assert row.uni_micronats_per_char == (
        sum(r.total_micronats for r in cl) // sum(r.total_chars for r in cl)
    )
    assert 0 < row.uni_micronats_per_char < 20_000_000  # < 20 nats/char


@pytest.mark.indexes
def test_ann_serve_job(spark, sf_dir, tmp_path):
    """The ANN tier's product composition (VERDICT r09 #4): train + persist
    on the history, roll today's batch forward with NO retrain, serve from
    the stored table, score recall against exact kNN — and the gate row
    reconciles exactly: indexed-after = indexed-before + batch."""
    from map_reduce_engine_spark.examples.ann_serve_job import run

    out = str(tmp_path / "ann")
    try:
        gate = run(
            spark,
            sf_dir,
            out,
            min_recall_permille=0,  # generous floor -> counts are the pin
            index_table="mre_ivf_serve_test",
        )
        row = gate.collect()[0]
        assert row.n_indexed_before == row.n_history
        assert row.n_indexed_after == row.n_indexed_before + row.n_batch
        assert row.n_queries == 5
        assert row.serve_approved
        # artifacts written and consistent with the gate
        topk = spark.read.parquet(f"{out}/served_topk")
        assert topk.count() > 0
        recall = spark.read.parquet(f"{out}/recall_report")
        assert recall.count() == row.n_queries
        total_hits = sum(r.n_hits for r in recall.collect())
        assert row.mean_recall_permille == (1000 * total_hits) // (row.n_queries * 10)
        # bucketed IVF probe recall on the fixture embeddings is real:
        # the served ranking finds a meaningful share of the exact top-10
        assert row.mean_recall_permille > 0
        # staleness verdict rides the row (informational, not blocking)
        assert isinstance(row.retrain_due, bool)
        assert row.cells_needed >= 8  # sizing-rule floor
    finally:
        for t in (
            "mre_ivf_serve_test",
            "mre_ivf_serve_test_centroids",
            "mre_ivf_serve_test_next",
            "mre_ivf_serve_test_next_centroids",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.indexes
def test_ann_serve_job_empty_queries_reject(spark, sf_dir, tmp_path):
    """No queries (or an empty history) is an explicit REJECT, never a
    silent NULL-gate approval."""
    from pyspark.sql import functions as SF

    from map_reduce_engine_spark.examples.ann_serve_job import run
    from map_reduce_engine_spark.io import read_table

    shifted = tmp_path / "no_queries"
    # shift every vec_id above the query window so queries come up empty
    read_table(spark, sf_dir, "embeddings").withColumn(
        "vec_id", SF.col("vec_id") + SF.lit(1000)
    ).write.parquet(str(shifted / "embeddings.parquet"))
    try:
        gate = run(
            spark,
            str(shifted),
            str(tmp_path / "ann_empty"),
            index_table="mre_ivf_serve_empty_test",
        )
        row = gate.collect()[0]
        assert row.n_queries == 0
        assert row.serve_approved is False
    finally:
        for t in (
            "mre_ivf_serve_empty_test",
            "mre_ivf_serve_empty_test_centroids",
            "mre_ivf_serve_empty_test_next",
            "mre_ivf_serve_empty_test_next_centroids",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.indexes
def test_incremental_ingest_day2_prebuilt_loop(spark, sf_dir, tmp_path):
    """The daily loop executed END-TO-END through the job surface: day 1
    builds + rolls the three index tables; day 2 runs with prebuilt=True
    against yesterday's *_next trio and catches a repeat of a document
    that was APPENDED on day 1 — it never appeared in the original corpus,
    so only the rolled (mergeable) state can catch it — while novel day-2
    content still ships."""
    from pyspark.sql import functions as F

    from map_reduce_engine_spark.examples.incremental_ingest_job import run
    from map_reduce_engine_spark.io import read_table

    t = "mre_ingest_d2_test"
    out1 = str(tmp_path / "day1")
    try:
        day1 = run(
            spark, sf_dir, out1,
            max_near_dup_bp=10_000, max_contaminated_docs=10**6,
            index_table=t,
        ).collect()[0]
        assert day1.n_appended > 0
        payload1 = spark.read.parquet(f"{out1}/append_payload")
        repeat_text = payload1.orderBy("id").limit(1).collect()[0].text

        # day-2 fixture: same history (eval suite source) + a batch of one
        # repeat of yesterday's append and one genuinely novel document
        docs2 = tmp_path / "day2_fixture"
        history = read_table(spark, sf_dir, "documents").where("doc_id < 250")
        batch2 = spark.createDataFrame(
            [
                (300, repeat_text),
                (301, " ".join(f"zz{i} qq{i}" for i in range(40))),
            ],
            ["doc_id", "text"],
        )
        history.select("doc_id", "text").unionByName(batch2).write.parquet(
            str(docs2 / "documents.parquet")
        )

        day2 = run(
            spark, str(docs2), str(tmp_path / "day2_out"),
            max_near_dup_bp=10_000, max_contaminated_docs=10**6,
            index_table=f"{t}_next", prebuilt=True,
        ).collect()[0]
        assert day2.n_batch == 2
        # yesterday's append is caught by the ROLLED state (excised to
        # empty by its own rolled tiles, or dropped as a 1.0-Jaccard
        # near-dup via the rolled band index — both are the rolled trio)
        assert day2.n_emptied + day2.n_near_dup_dropped >= 1
        payload2 = spark.read.parquet(str(tmp_path / "day2_out" / "append_payload"))
        pay_ids = {r.id for r in payload2.select("id").collect()}
        assert 300 not in pay_ids  # the repeat never ships twice
        assert 301 in pay_ids  # novel content ships
        # the loop keeps rolling: day 2 wrote its own *_next trio on top
        # of day 1's, and the tile index is monotone across the chain
        assert spark.table(f"{t}_next_next").count() >= spark.table(f"{t}_next").count()
        assert spark.table(f"{t}_next_next_toks").count() == (
            spark.table(f"{t}_next_toks").count() + day2.n_appended
        )
    finally:
        for suffix in (
            "", "_next", "_bands", "_next_bands", "_toks", "_next_toks",
            "_next_next", "_next_next_bands", "_next_next_toks",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}{suffix}")


@pytest.mark.indexes
def test_incremental_ingest_prebuilt_refuses_stale_output_dir(spark, sf_dir, tmp_path):
    """ADVICE r10: a prebuilt (day-2+) run that reuses yesterday's
    output_dir would overwrite the very files backing the stored *_next
    trio it is reading in the same plan — the run must refuse up front,
    before any stage computes or any file moves."""
    import pytest as _pytest

    from map_reduce_engine_spark.examples.incremental_ingest_job import run

    t = "mre_ingest_freshdir_test"
    out1 = str(tmp_path / "day1")
    try:
        run(
            spark, sf_dir, out1,
            max_near_dup_bp=10_000, max_contaminated_docs=10**6,
            index_table=t,
        ).collect()
        # day 2 re-points at yesterday's *_next trio but REUSES out1:
        # the _next write targets are the stored tables' own files
        with _pytest.raises(ValueError, match="FRESH output_dir"):
            run(
                spark, sf_dir, out1,
                max_near_dup_bp=10_000, max_contaminated_docs=10**6,
                index_table=f"{t}_next", prebuilt=True,
            )
        # the stored trio survived untouched and a fresh dir works
        assert spark.table(f"{t}_next").count() > 0
        run(
            spark, sf_dir, str(tmp_path / "day2"),
            max_near_dup_bp=10_000, max_contaminated_docs=10**6,
            index_table=f"{t}_next", prebuilt=True,
        ).collect()
    finally:
        for suffix in (
            "", "_next", "_bands", "_next_bands", "_toks", "_next_toks",
            "_next_next", "_next_next_bands", "_next_next_toks",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}{suffix}")


@pytest.mark.indexes
def test_ann_serve_day2_prebuilt_loop(spark, sf_dir, tmp_path):
    """VERDICT r10 #1a: the ANN daily loop executed END-TO-END through the
    job surface — day 1 trains + rolls; day 2 runs prebuilt against
    yesterday's <t>_next with NO retrain, absorbs only the genuinely
    novel vectors (repeats of already-indexed ids are guarded out), and
    the gate reconciles against the INDEPENDENT novel-id count."""
    from pyspark.sql import functions as SF

    from map_reduce_engine_spark.examples.ann_serve_job import run
    from map_reduce_engine_spark.io import read_table

    t = "mre_ann_d2_test"
    out1 = str(tmp_path / "day1")
    try:
        day1 = run(
            spark, sf_dir, out1, min_recall_permille=0, index_table=t
        ).collect()[0]
        assert day1.serve_approved and not day1.retrain_performed

        # day-2 fixture: the queries, 5 REPEATS of day-1 batch ids
        # (already in the rolled index), and 20 genuinely novel vectors
        emb = read_table(spark, sf_dir, "embeddings")
        repeats = emb.where((SF.col("vec_id") >= 5) & (SF.col("vec_id") < 10))
        novel = emb.where(
            (SF.col("vec_id") >= 100) & (SF.col("vec_id") < 120)
        ).withColumn("vec_id", SF.col("vec_id") + SF.lit(10_000))
        fixture2 = tmp_path / "day2_fixture"
        emb.where(SF.col("vec_id") < 5).unionByName(repeats).unionByName(
            novel
        ).write.parquet(str(fixture2 / "embeddings.parquet"))

        day2 = run(
            spark, str(fixture2), str(tmp_path / "day2_out"),
            min_recall_permille=0, index_table=f"{t}_next", prebuilt=True,
        ).collect()[0]
        assert day2.n_batch == 25
        assert day2.n_batch_novel == 20  # the 5 repeats are guarded out
        assert day2.n_indexed_before == day1.n_indexed_after
        assert day2.n_indexed_after == day2.n_indexed_before + 20
        assert day2.serve_approved
        assert not day2.retrain_performed  # steady state: no retrain ever
        # the chain keeps rolling: day 2 wrote <t>_next_next
        assert spark.table(f"{t}_next_next").count() == day2.n_indexed_after
        # a RE-RUN of day 2 (same fixture, fresh dir) absorbs zero rows
        # and still reconciles — the mergeable-state contract
        rerun = run(
            spark, str(fixture2), str(tmp_path / "day2_rerun"),
            min_recall_permille=0, index_table=f"{t}_next", prebuilt=True,
        ).collect()[0]
        assert rerun.n_batch_novel == 20  # vs the SAME yesterday-table
        assert rerun.n_indexed_after == rerun.n_indexed_before + 20
        assert rerun.serve_approved
    finally:
        for suffix in ("", "_next", "_next_next", "_retrained", "_next_retrained", "_next_next_retrained"):
            for c in ("", "_centroids"):
                spark.sql(f"DROP TABLE IF EXISTS {t}{suffix}{c}")


@pytest.mark.indexes
def test_ann_serve_retrains_on_staleness(spark, sf_dir, tmp_path):
    """VERDICT r10 #1b: when the staleness gate flips, the job ACTS on it
    — a fresh train over the rolled corpus (read from the stored table,
    no external re-read), the serve moves to the retrained index, and the
    gate reports the old-vs-new recall delta."""
    from map_reduce_engine_spark.examples.ann_serve_job import run

    t = "mre_ann_stale_test"
    out = str(tmp_path / "ann")
    try:
        # rows_per_cell=8 makes the rolled 495-vector index need ~62
        # cells where the day-1 train sized ~8 — capacity trigger fires
        row = run(
            spark, sf_dir, out, min_recall_permille=0, index_table=t,
            rows_per_cell=8,
        ).collect()[0]
        assert row.retrain_due and row.retrain_performed
        assert row.retrain_cleared  # the retrained index satisfies the rule
        assert row.cells_needed > row.n_cells
        # both recalls audited; the delta rides the gate row
        assert row.mean_recall_permille is not None
        assert row.mean_recall_rolled_permille is not None
        assert (
            row.recall_delta_permille
            == row.mean_recall_permille - row.mean_recall_rolled_permille
        )
        assert row.serve_approved
        # the retrained index is persisted with its centroid companion
        # and holds the full rolled corpus
        assert spark.table(f"{t}_retrained").count() == row.n_indexed_after
        assert spark.table(f"{t}_retrained_centroids").count() >= row.cells_needed
    finally:
        for suffix in ("", "_next", "_retrained"):
            for c in ("", "_centroids"):
                spark.sql(f"DROP TABLE IF EXISTS {t}{suffix}{c}")


@pytest.mark.indexes
def test_ann_serve_recall_audit_knob(spark, sf_dir, tmp_path):
    """VERDICT r10 #3: the exact-kNN audit is cost-bounded — a sampled
    audit scores only the N smallest query ids, and recall_queries=0
    skips the audit entirely (recall columns NULL, floor not applied,
    count reconciliation still gates)."""
    from map_reduce_engine_spark.examples.ann_serve_job import run

    t = "mre_ann_knob_test"
    try:
        sampled = run(
            spark, sf_dir, str(tmp_path / "sampled"), min_recall_permille=0,
            index_table=t, recall_queries=2,
        ).collect()[0]
        assert sampled.n_queries == 5 and sampled.n_recall_queries == 2
        assert sampled.mean_recall_permille is not None
        rep = spark.read.parquet(str(tmp_path / "sampled" / "recall_report"))
        assert sorted(r.query_id for r in rep.collect()) == [0, 1]

        skipped = run(
            spark, sf_dir, str(tmp_path / "skipped"), min_recall_permille=999,
            index_table=f"{t}_s", recall_queries=0,
        ).collect()[0]
        assert skipped.n_recall_queries == 0
        assert skipped.mean_recall_permille is None
        assert skipped.recall_delta_permille is None
        # the (unreachable) floor does not apply when the audit is off
        assert skipped.serve_approved
        assert spark.read.parquet(str(tmp_path / "skipped" / "recall_report")).count() == 0
    finally:
        for base in (t, f"{t}_s"):
            for suffix in ("", "_next", "_retrained"):
                for c in ("", "_centroids"):
                    spark.sql(f"DROP TABLE IF EXISTS {base}{suffix}{c}")


@pytest.mark.indexes
def test_ann_serve_prebuilt_refuses_stale_output_dir(spark, sf_dir, tmp_path):
    """ADVICE r10 (applied to the ANN loop too): a prebuilt run reusing
    yesterday's output_dir would overwrite the files backing the stored
    index being read in the same plan — refuse before any compute."""
    import pytest as _pytest

    from map_reduce_engine_spark.examples.ann_serve_job import run

    t = "mre_ann_freshdir_test"
    out1 = str(tmp_path / "day1")
    try:
        run(spark, sf_dir, out1, min_recall_permille=0, index_table=t).collect()
        with _pytest.raises(ValueError, match="FRESH output_dir"):
            run(
                spark, sf_dir, out1, min_recall_permille=0,
                index_table=f"{t}_next", prebuilt=True,
            )
        assert spark.table(f"{t}_next").count() > 0  # stored state intact
    finally:
        for suffix in ("", "_next", "_next_next", "_retrained"):
            for c in ("", "_centroids"):
                spark.sql(f"DROP TABLE IF EXISTS {t}{suffix}{c}")


@pytest.mark.indexes
def test_incremental_ingest_prebuilt_history_free_with_eval_dir(spark, sf_dir, tmp_path):
    """With eval_dir, a prebuilt run reads NO history text at all: sf_dir
    is just today's crawl (no doc_id < 250 rows exist), the benchmark
    suite comes from its own store, and the stored trio is the only
    history state — yesterday's append is still caught by the rolled
    state and a planted eval leak is still screened."""
    from pyspark.sql import functions as SF

    from map_reduce_engine_spark.examples.incremental_ingest_job import run
    from map_reduce_engine_spark.io import read_table

    t = "mre_ingest_evaldir_test"
    out1 = str(tmp_path / "day1")
    try:
        run(
            spark, sf_dir, out1,
            max_near_dup_bp=10_000, max_contaminated_docs=10**6,
            index_table=t,
        ).collect()
        repeat_text = (
            spark.read.parquet(f"{out1}/append_payload")
            .orderBy("id").limit(1).collect()[0].text
        )

        # the separately stored benchmark suite + a day-2 crawl that
        # contains ONLY today's docs: a repeat of yesterday's append, a
        # doc leaking a 13-gram from the eval suite, and a novel doc
        eval_docs = tmp_path / "eval_store"
        leak = " ".join(f"ev{i}" for i in range(13))
        spark.createDataFrame(
            [(9000, leak + " " + " ".join(f"fill{i}" for i in range(20)))],
            ["doc_id", "text"],
        ).write.parquet(str(eval_docs / "documents.parquet"))
        crawl2 = tmp_path / "day2_crawl"
        spark.createDataFrame(
            [
                (300, repeat_text),
                (301, " ".join(f"aa{i} bb{i}" for i in range(30)) + f" {leak}"),
                (302, " ".join(f"zz{i} qq{i}" for i in range(40))),
            ],
            ["doc_id", "text"],
        ).write.parquet(str(crawl2 / "documents.parquet"))

        day2 = run(
            spark, str(crawl2), str(tmp_path / "day2_out"),
            max_near_dup_bp=10_000, max_contaminated_docs=10**6,
            index_table=f"{t}_next", prebuilt=True,
            eval_dir=str(eval_docs),
        ).collect()[0]
        assert day2.n_batch == 3
        payload = spark.read.parquet(str(tmp_path / "day2_out" / "append_payload"))
        pay_ids = {r.id for r in payload.select("id").collect()}
        assert 300 not in pay_ids  # yesterday's append: caught by rolled state
        assert 301 not in pay_ids  # eval leak: caught by the separate suite
        assert 302 in pay_ids      # novel content ships
        contaminated = spark.read.parquet(
            str(tmp_path / "day2_out" / "contaminated_drops")
        )
        assert {r.id for r in contaminated.collect()} == {301}
    finally:
        for suffix in (
            "", "_next", "_bands", "_next_bands", "_toks", "_next_toks",
            "_next_next", "_next_next_bands", "_next_next_toks",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}{suffix}")
