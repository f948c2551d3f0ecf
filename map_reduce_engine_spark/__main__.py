"""CLI twin of the reference's Driver (SURVEY.md §3: ``Driver.java:55-82``).

    python -m map_reduce_engine_spark startjob <name> <job_module> \\
        <inputdir> <outputdir> [num_reducers]
    python -m map_reduce_engine_spark {query,plan} <name> <sf_dir> ...
    python -m map_reduce_engine_spark list
    python -m map_reduce_engine_spark <job-verb> <sf_dir> <output_dir> [flags]

``startjob`` is the reference's query path: ``job_module`` is a Python
module path exposing ``map_fn``/``reduce_fn`` (see job.load_job_module) —
the jar+reflection replacement. ``query``/``plan``/``list`` run, audit and
list the registry. Each job verb (the ``JOBS`` table) runs one composed
example under ``examples/``; a job flag left off the command line is not
passed, so it takes its default from that job's ``run()``. Every verb that
needs Spark goes through one session lifecycle: ``get_spark`` → work →
``stop()`` in ``finally``. The reference's ``master``/``slave`` bring-up
verbs have no equivalent here: Spark's own cluster manager replaces them
(SURVEY.md §3.2-3.3).
"""

from __future__ import annotations

import argparse
import importlib
import sys

from map_reduce_engine_spark.job import startjob
from map_reduce_engine_spark.session import get_spark

# job verb -> module under examples/ whose run(spark, sf_dir, out_dir, **flags)
# returns the frame the verb shows
JOBS = {
    "corpus-pipeline": "corpus_pipeline_job",
    "engagement-report": "engagement_report_job",
    "training-mix": "training_mix_job",
    "recommend": "recommender_job",
    "feature-screen": "feature_screen_job",
    "data-selection": "data_selection_job",
    "incremental-ingest": "incremental_ingest_job",
    "ann-serve": "ann_serve_job",
    "retrieval-eval": "retrieval_eval_job",
    "tokenizer-bakeoff": "tokenizer_bakeoff_job",
    "model-eval": "model_eval_job",
    "causal-audit": "causal_audit_job",
    "timeseries-health": "timeseries_health_job",
    "privacy-audit": "privacy_audit_job",
    "group-comparison": "group_comparison_job",
    "stream-monitor": "stream_monitor_job",
}

_METASTORE_HELP = (
    "persist the catalog (derby metastore + warehouse under this dir) so the "
    "daily loop chains across CLI runs — required for --prebuilt to resolve "
    "yesterday's stored tables in a new process"
)


def _job(sub, verb: str, help: str, needs: str) -> argparse.ArgumentParser:
    """Subparser for a job verb. Its flags default to SUPPRESS: a flag left
    off the command line never reaches ``run()``."""
    assert verb in JOBS, verb
    p = sub.add_parser(verb, help=help, argument_default=argparse.SUPPRESS)
    p.add_argument("sf_dir", help=f"fixture dir containing {needs}")
    p.add_argument("output_dir")
    return p


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="map_reduce_engine_spark")
    sub = parser.add_subparsers(dest="verb", required=True)
    sj = sub.add_parser("startjob", help="run a map/reduce job (the reference's query path)")
    sj.add_argument("name")
    sj.add_argument("job_module", help="python module path exposing map_fn/reduce_fn")
    sj.add_argument("input_dir")
    sj.add_argument("output_dir")
    sj.add_argument("num_reducers", nargs="?", type=int, default=None)
    q = sub.add_parser("query", help="run a registry query against a fixture dir")
    q.add_argument("name", help="registry name (see `list`)")
    q.add_argument("sf_dir", help="directory of fixture parquet tables")
    q.add_argument("output_dir", nargs="?", help="write parquet here; omit to print")
    q.add_argument("--limit", type=int, default=20, help="rows to print without output_dir")
    sub.add_parser("list", help="list registry queries (name + check kind)")
    pl = sub.add_parser(
        "plan",
        help="pre-flight plan audit for a registry query: the scale-killer "
        "report (cartesian/BNL/row-Python/single-partition-raw, pushdown, "
        "codegen spans) plus the formatted physical plan",
    )
    pl.add_argument("name", help="registry name (see `list`)")
    pl.add_argument("sf_dir", help="directory of fixture parquet tables")
    pl.add_argument("--full", action="store_true", help="print the whole formatted plan")
    cp = _job(
        sub,
        "corpus-pipeline",
        "run the end-to-end corpus prep example (quality gate → exact "
        "dedup → near dedup → split → partitioned write)",
        "documents.parquet",
    )
    cp.add_argument("--min-quality", type=float)
    cp.add_argument("--jaccard", type=float, dest="jaccard_threshold", metavar="JACCARD")
    _job(
        sub,
        "engagement-report",
        "run the end-to-end engagement analytics example (streaks + "
        "bitmaps + burstiness per-user profile, conversion cohorts)",
        "events.parquet",
    )
    _job(
        sub,
        "training-mix",
        "run the end-to-end training-mix governance example "
        "(temperature weights + token budgets + leakage-audited splits + "
        "split-drift JS, with a sign-off gate)",
        "documents.parquet",
    )
    rc = _job(
        sub,
        "recommend",
        "run the end-to-end item-to-item recommender example "
        "(co-purchase top-5 per customer + leave-one-out hit-rate "
        "evaluation, with a deploy gate)",
        "orders/lineitem parquet",
    )
    rc.add_argument("--min-hitrate-ppm", type=int)
    fs = _job(
        sub,
        "feature-screen",
        "run the end-to-end feature-screening example (1R stump + "
        "exact AUC screen + mutual information + closed-form regression, "
        "with a sign-off gate)",
        "the TPC-H parquet",
    )
    fs.add_argument("--min-auc-edge-ppm", type=int)
    dsel = _job(
        sub,
        "data-selection",
        "run the end-to-end pretraining data-selection example (DSIR "
        "importance resampling + within-selection near-dup audit + "
        "contamination screen + distinct-n diversity, with a sign-off gate)",
        "documents.parquet",
    )
    dsel.add_argument("--max-dup-pairs", type=int)
    dsel.add_argument("--max-contaminated", type=int)
    inc = _job(
        sub,
        "incremental-ingest",
        "run the daily-crawl incremental ingest example (batch-internal "
        "substring dedup → persisted tile-index probe + rewrite → "
        "incremental MinHash near-dup probe → eval decontamination → "
        "append payload + rolled-forward index, with a sign-off gate)",
        "documents.parquet",
    )
    inc.add_argument("--k", type=int, help="substring tile length")
    inc.add_argument("--jaccard", type=float, dest="jaccard_threshold", metavar="JACCARD")
    inc.add_argument("--max-near-dup-bp", type=int)
    inc.add_argument(
        "--max-contaminated",
        type=int,
        dest="max_contaminated_docs",
        metavar="MAX_CONTAMINATED",
    )
    inc.add_argument("--index-table")
    inc.add_argument(
        "--eval-dir",
        help="separately stored benchmark suite (a dir with documents.parquet) "
        "for the decontamination screen — with it a prebuilt run never reads "
        "history text; sf_dir can be just today's crawl",
    )
    inc.add_argument("--metastore-dir", help=_METASTORE_HELP)
    inc.add_argument(
        "--prebuilt",
        action="store_true",
        help="day-2+ mode: probe the EXISTING index tables named by "
        "--index-table (yesterday's *_next trio) instead of building them "
        "from the history; needs a FRESH output_dir per day (the run "
        "refuses to overwrite the files backing the stored tables)",
    )
    ann = _job(
        sub,
        "ann-serve",
        "run the ANN serving example (train + persist the IVF index on "
        "the history → roll today's batch forward with no retrain → "
        "staleness diagnostic → serve queries from the stored index → "
        "recall report vs exact kNN, with a sign-off gate)",
        "embeddings.parquet",
    )
    ann.add_argument("--k", type=int)
    ann.add_argument("--n-probe", type=int)
    ann.add_argument("--batch-size", type=int)
    ann.add_argument("--min-recall-permille", type=int)
    ann.add_argument("--index-table")
    ann.add_argument("--metastore-dir", help=_METASTORE_HELP)
    ann.add_argument(
        "--prebuilt",
        action="store_true",
        help="day-2+ mode: serve from the EXISTING index table named by "
        "--index-table (yesterday's <t>_next, re-pointed) — no retrain "
        "unless the staleness gate demands it; needs a FRESH output_dir "
        "per day (the run refuses to overwrite the stored table's files)",
    )
    ann.add_argument("--rows-per-cell", type=int)
    ann.add_argument(
        "--recall-queries",
        type=int,
        help="bound the exact-kNN recall audit to the N smallest query "
        "ids (0 skips the audit; default audits every query — one full "
        "corpus scan per audit)",
    )
    rev = _job(
        sub,
        "retrieval-eval",
        "run the end-to-end retrieval-evaluation example (BM25 + "
        "Dirichlet query-likelihood lexical rankers with agreement, dense "
        "nDCG@10/MRR@10 probe eval, Rocchio feedback lift, with a "
        "sign-off gate)",
        "documents/embeddings parquet",
    )
    rev.add_argument("--min-mean-ndcg-ppm", type=int)
    rev.add_argument("--min-common-at20", type=int)
    tkb = _job(
        sub,
        "tokenizer-bakeoff",
        "run the end-to-end tokenizer bake-off example (BPE vs "
        "unigram-LM trained on the same dictionary: per-source fertility, "
        "vocab utilization, per-domain winners, with a sign-off gate)",
        "documents.parquet",
    )
    tkb.add_argument("--max-fertility-ppm", type=int)
    me = _job(
        sub,
        "model-eval",
        "run the end-to-end model-evaluation example (Newton-trained "
        "logistic model + AP/gains ranking quality + Brier/reliability "
        "calibration + fairness audit with BH-FDR, with a ship gate)",
        "the TPC-H parquet",
    )
    me.add_argument("--max-calib-gap-ppm", type=int)
    ca = _job(
        sub,
        "causal-audit",
        "run the end-to-end causal-audit example (DID + stratified/"
        "IPW/naive ATE trio + regression discontinuity + mediation + "
        "Oaxaca-Blinder, with a confounding flag)",
        "the TPC-H parquet",
    )
    ca.add_argument("--confounding-tol-ppm", type=int)
    th = _job(
        sub,
        "timeseries-health",
        "run the end-to-end time-series health example (Mann-Kendall "
        "+ Huber trend + runs/Ljung-Box randomness + changepoint + "
        "seasonal decomposition + Holt forecast, with an iid gate)",
        "events.parquet",
    )
    th.add_argument("--max-changepoint-share-bp", type=int)
    pa = _job(
        sub,
        "privacy-audit",
        "run the end-to-end privacy release audit (k-anonymity + "
        "l-diversity + t-closeness ladder + DP release counts, with a "
        "release gate)",
        "customer.parquet",
    )
    pa.add_argument("--max-at-risk-share", type=float)
    pa.add_argument("--min-l", type=int)
    pa.add_argument("--max-t-ppm", type=int)
    _job(
        sub,
        "group-comparison",
        "run the assumption-gated multi-group comparison dossier "
        "(ANOVA + Brown-Forsythe gate + Tukey HSD post-hoc + "
        "Kruskal-Wallis + Friedman, with a verdict gate)",
        "events.parquet",
    )
    sm = _job(
        sub,
        "stream-monitor",
        "drain the bounded-state streaming monitors (error-rate SLA + "
        "CUSUM drift + KMV reach + Misra-Gries hot keys) into one ops gate",
        "events.parquet",
    )
    sm.add_argument("--cusum-alarm-cents", type=int)
    args = parser.parse_args(argv)

    if args.verb == "list":
        from map_reduce_engine_spark.queries import REGISTRY

        for name in sorted(REGISTRY):
            kind = "oracle" if REGISTRY[name].oracle else "rows-only"
            print(f"{name}\t{kind}")
        return 0

    flags = dict(vars(args))
    verb = flags.pop("verb")
    if verb in JOBS:
        app_name = f"mre-{verb}"
        run = importlib.import_module(f"map_reduce_engine_spark.examples.{JOBS[verb]}").run
    elif verb == "startjob":
        app_name = f"mre-job-{args.name}"
    else:  # query / plan
        from map_reduce_engine_spark.queries import REGISTRY

        if args.name not in REGISTRY:
            parser.error(f"unknown query {args.name!r}; run `list`")
        app_name = f"mre-{verb}-{args.name}"

    spark = get_spark(app_name=app_name, metastore_dir=flags.pop("metastore_dir", None))
    try:
        if verb in JOBS:
            sf_dir, output_dir = flags.pop("sf_dir"), flags.pop("output_dir")
            # the engagement profile is one wide row per user
            rows = 10 if verb == "engagement-report" else 20
            run(spark, sf_dir, output_dir, **flags).show(rows, truncate=False)
        elif verb == "startjob":
            startjob(
                spark,
                args.name,
                args.job_module,
                args.input_dir,
                args.output_dir,
                args.num_reducers,
            )
        elif verb == "query":
            df = REGISTRY[args.name].fn(spark, args.sf_dir)
            if args.output_dir:
                df.write.mode("overwrite").parquet(args.output_dir)
            else:
                df.show(args.limit, truncate=False)
        else:
            from map_reduce_engine_spark.plans import physical_plan, plan_report

            df = REGISTRY[args.name].fn(spark, args.sf_dir)
            r = plan_report(df)
            for field_name in (
                "cartesian_products",
                "nested_loop_joins",
                "row_python_evals",
                "single_partition_raw",
                "arrow_python_stages",
                "shuffle_exchanges",
                "broadcast_exchanges",
                "wholestage_codegen_spans",
                "scans",
                "scans_with_pushed_filters",
            ):
                print(f"{field_name}: {getattr(r, field_name)}")
            for w in r.warnings:
                print(f"WARNING: {w}")
            if args.full:
                print(physical_plan(df, "formatted"))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
