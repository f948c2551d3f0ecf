"""ML evaluation, in-engine training, causal inference, and advanced
statistics — the round-4-continuous tier.

Four sub-families, all sharing one discipline (exact integer freezing):
- EVALUATION: average precision, gains/lift deciles, F1 threshold search,
  Brier + isotonic calibration, Cohen's kappa, fairness + BH-FDR audits,
  split-conformal intervals, CUPED variance reduction;
- TRAINING / SELECTION: Newton logistic regression, ridge CV path,
  boosted stumps, rank-1 ALS, k-center coresets, greedy max-coverage,
  Markov stationary/attribution chains, Sinkhorn optimal transport,
  IPF raking, grid DBSCAN, phonetic blocking, James-Stein shrinkage;
- CAUSAL / SURVIVAL: stratified + IPW + RD + Oaxaca + mediation + QTE +
  offline-policy replay, log-rank survival comparison;
- TIME-SERIES / NONPARAMETRIC DIAGNOSTICS: Mann-Kendall, runs test,
  Ljung-Box, changepoint location, seasonal decomposition, Holt
  forecasting, Huber robust trends, median CIs, overdispersion.

Cross-engine exactness strategy (same as the stats tier in
``queries/relational.py``): every metric is pushed to integer
parts-per-million via BIGINT arithmetic and integer division — both
engines compute identical integers regardless of float summation order.
Rate-limited scalar broadcasts (1-row crossJoins) are the only non-equi
joins; each is registered in ``tests/test_plans.py::_SANCTIONED_NESTED_LOOP``.
Fixed-round loops whose state is a domain-bounded grid (Markov chains,
Sinkhorn, Bradley-Terry, IPF, Huber) build the grid in one aggregate,
collect it once through ``base.collect_bounded`` and run their rounds in
plain Python, replaying the oracle's frozen-integer arithmetic in the
same operation order; ``base.local_rows`` returns the result as a local
relation, so collecting it runs no job.

Scale shape: every query here is one or two hash aggregates over the fact
table followed by arithmetic on a bounded grid (score levels, class
labels, segments) — linear scans at 100 TB with map-side partial
aggregation, no state that grows with corpus size.

Integer-headroom note: the squared-target moments (syy in cents^2, used
by ridge_lambda_path / gbm_two_round_stumps / shapley_r2_decomposition)
sit ~100x below BIGINT range at the bench SF; for corpora beyond ~10^6
rows per aggregation cell, swap the cents target for whole-dollar units
or a DECIMAL(38) accumulator (sub-ppm effect on the reported ratios —
the identities are scale-invariant). The freezing discipline is
unchanged either way.
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from map_reduce_engine_spark.operators import text as text_ops
from map_reduce_engine_spark.queries.base import collect_bounded, local_rows, register, t

# DuckDB twin of operators/text.py::langid — same marker-word argmax with
# the same fixed-order tiebreak (shared with langid_confusion_matrix).
_DUCK_LANGID_PRED = r"""
      SELECT doc_id,
        CASE
          WHEN greatest(s_en, s_fr, s_de, s_es) > 0 AND s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
          WHEN greatest(s_en, s_fr, s_de, s_es) > 0 AND s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
          WHEN greatest(s_en, s_fr, s_de, s_es) > 0 AND s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
          WHEN greatest(s_en, s_fr, s_de, s_es) > 0 AND s_es = greatest(s_en, s_fr, s_de, s_es) THEN 'es'
          ELSE 'und'
        END AS predicted_lang
      FROM (
        SELECT doc_id,
          len(regexp_extract_all(lower(text), '\b(the|and|of|to|a)\b'))    AS s_en,
          len(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b'))   AS s_fr,
          len(regexp_extract_all(lower(text), '\b(der|die|und|das|ein)\b')) AS s_de,
          len(regexp_extract_all(lower(text), '\b(el|los|que|y|en)\b'))    AS s_es
        FROM documents
      )
"""


@register(
    "average_precision_eval",
    oracle="""
    WITH g AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS pos,
             count(*)::BIGINT AS tot
      FROM lineitem GROUP BY 1
    ),
    c AS (
      SELECT q, pos, tot,
             sum(pos) OVER (ORDER BY q DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_pos,
             sum(tot) OVER (ORDER BY q DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_tot
      FROM g
    ),
    m AS (
      SELECT sum(pos)::BIGINT AS n_pos, sum(tot)::BIGINT AS n_total,
             sum((1000000 * pos * cum_pos) // cum_tot)::BIGINT AS contrib
      FROM c
    )
    SELECT n_pos, n_total,
           contrib // n_pos AS ap_ppm,
           (1000000 * n_pos) // n_total AS prevalence_ppm
    FROM m
    """,
    doc="exact average precision of l_quantity as a returned-item ranker: "
    "the rank-free companion of roc_auc_mann_whitney. Ties collapse onto "
    "the bounded 50-value score grid and AP is the step-interpolated PR "
    "integral over grid blocks — each block's contribution is frozen to "
    "BIGINT ppm (1e6*pos_b*cumPos_b div cumTot_b) so both engines sum "
    "identical integers. AP vs prevalence is the standard 'is the ranker "
    "better than random?' read. One hash aggregate to the grid; "
    "everything after is grid-bounded — linear at 100 TB.",
)
def average_precision_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    g = li.groupBy(F.col("l_quantity").cast("bigint").alias("q")).agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
        F.count("*").cast("bigint").alias("tot"),
    )
    w = Window.orderBy(F.desc("q")).rowsBetween(Window.unboundedPreceding, 0)
    c = g.select(
        "pos",
        "tot",
        F.sum("pos").over(w).cast("bigint").alias("cum_pos"),
        F.sum("tot").over(w).cast("bigint").alias("cum_tot"),
    )
    m = c.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("tot").cast("bigint").alias("n_total"),
        F.sum(F.expr("(1000000 * pos * cum_pos) div cum_tot"))
        .cast("bigint")
        .alias("contrib"),
    )
    return m.select(
        "n_pos",
        "n_total",
        F.expr("contrib div n_pos").alias("ap_ppm"),
        F.expr("(1000000 * n_pos) div n_total").alias("prevalence_ppm"),
    )


@register(
    "cohens_kappa_agreement",
    oracle=f"""
    WITH pred AS ({_DUCK_LANGID_PRED}),
    cell AS (
      SELECT d.lang AS true_lang, p.predicted_lang, count(*)::BIGINT AS n
      FROM documents d JOIN pred p USING (doc_id)
      GROUP BY 1, 2
    ),
    diag AS (
      SELECT sum(n)::BIGINT AS n_docs,
             sum(CASE WHEN true_lang = predicted_lang THEN n ELSE 0 END)::BIGINT AS agree
      FROM cell
    ),
    rowm AS (SELECT true_lang AS lab, sum(n)::BIGINT AS rn FROM cell GROUP BY 1),
    colm AS (SELECT predicted_lang AS lab, sum(n)::BIGINT AS cn FROM cell GROUP BY 1),
    rc AS (
      SELECT sum(coalesce(rn, 0) * coalesce(cn, 0))::BIGINT AS rc
      FROM rowm FULL JOIN colm USING (lab)
    )
    SELECT n_docs, agree AS n_agree,
           (1000000 * agree) // n_docs AS observed_agree_ppm,
           (1000000 * rc) // (n_docs * n_docs) AS expected_agree_ppm,
           (1000000 * (n_docs * agree - rc)) // (n_docs * n_docs - rc) AS kappa_ppm
    FROM diag, rc
    """,
    doc="Cohen's kappa between the marker-word langid classifier and the "
    "labeled lang column — chance-corrected inter-rater agreement, the "
    "one-number summary of langid_confusion_matrix (raw agreement looks "
    "good when one class dominates; kappa does not). All-BIGINT: kappa = "
    "(n*agree - SUM(row_k*col_k)) / (n^2 - SUM(row_k*col_k)) in exact "
    "ppm, marginal products over the full-outer label join so classes "
    "seen by only one rater ('zh' never predicted, 'und' never labeled) "
    "contribute zero. One classification pass + class-bounded marginals.",
)
def cohens_kappa_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    pred = text_ops.langid(docs, "doc_id", "text").select("doc_id", "predicted_lang")
    cell = (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", "predicted_lang")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    diag = cell.agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("true_lang") == F.col("predicted_lang"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("agree"),
    )
    rowm = cell.groupBy(F.col("true_lang").alias("lab")).agg(
        F.sum("n").cast("bigint").alias("rn")
    )
    colm = cell.groupBy(F.col("predicted_lang").alias("lab")).agg(
        F.sum("n").cast("bigint").alias("cn")
    )
    rc = (
        rowm.join(colm, "lab", "full_outer")
        .agg(
            F.sum(F.coalesce("rn", F.lit(0)) * F.coalesce("cn", F.lit(0)))
            .cast("bigint")
            .alias("rc")
        )
    )
    return diag.crossJoin(rc).select(
        "n_docs",
        F.col("agree").alias("n_agree"),
        F.expr("(1000000 * agree) div n_docs").alias("observed_agree_ppm"),
        F.expr("(1000000 * rc) div (n_docs * n_docs)").alias("expected_agree_ppm"),
        F.expr("(1000000 * (n_docs * agree - rc)) div (n_docs * n_docs - rc)").alias(
            "kappa_ppm"
        ),
    )


@register(
    "fairness_parity_audit",
    oracle="""
    WITH scored AS (
      SELECT p.p_brand AS brand,
             CASE WHEN l.l_quantity >= 25 THEN 1 ELSE 0 END AS pred,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS label
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    g AS (
      SELECT brand, count(*)::BIGINT AS n,
             sum(pred)::BIGINT AS n_sel,
             sum(pred * label)::BIGINT AS tp,
             sum(pred * (1 - label))::BIGINT AS fp,
             sum((1 - pred) * label)::BIGINT AS fn,
             sum((1 - pred) * (1 - label))::BIGINT AS tn
      FROM scored GROUP BY brand
    ),
    o AS (
      SELECT CAST((1000000 * CAST(sum(n_sel) AS BIGINT)) // CAST(sum(n) AS BIGINT) AS BIGINT) AS o_sel,
             CAST((1000000 * CAST(sum(tp) AS BIGINT)) // CAST(sum(tp + fn) AS BIGINT) AS BIGINT) AS o_tpr,
             CAST((1000000 * CAST(sum(fp) AS BIGINT)) // CAST(sum(fp + tn) AS BIGINT) AS BIGINT) AS o_fpr
      FROM g
    )
    SELECT brand, n,
           CAST((1000000 * n_sel) // n AS BIGINT) AS sel_ppm,
           CAST((1000000 * tp) // (tp + fn) AS BIGINT) AS tpr_ppm,
           CAST((1000000 * fp) // (fp + tn) AS BIGINT) AS fpr_ppm,
           CAST((1000000 * n_sel) // n - o_sel AS BIGINT) AS sel_gap_ppm,
           CAST((1000000 * tp) // (tp + fn) - o_tpr AS BIGINT) AS tpr_gap_ppm,
           CAST((1000000 * fp) // (fp + tn) - o_fpr AS BIGINT) AS fpr_gap_ppm
    FROM g CROSS JOIN o
    """,
    doc="group-fairness audit of the quantity>=25 return-risk stump across "
    "part brands: demographic parity (selection rate), equalized odds "
    "(TPR/FPR), each as exact BIGINT ppm with the per-brand gap vs the "
    "pooled rate — the pre-deployment report governance runs on any "
    "classifier that gates real decisions. Fact-to-dim broadcast join, "
    "one hash aggregate to the |brands| grid, 1-row pooled-rate "
    "broadcast. Linear at 100 TB.",
)
def fairness_parity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    scored = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        F.col("p_brand").alias("brand"),
        F.when(F.col("l_quantity") >= 25, 1).otherwise(0).alias("pred"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("label"),
    )
    g = scored.groupBy("brand").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("pred").cast("bigint").alias("n_sel"),
        F.sum(F.col("pred") * F.col("label")).cast("bigint").alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("label"))).cast("bigint").alias("fp"),
        F.sum((1 - F.col("pred")) * F.col("label")).cast("bigint").alias("fn"),
        F.sum((1 - F.col("pred")) * (1 - F.col("label"))).cast("bigint").alias("tn"),
    )
    o = g.agg(
        F.expr("(1000000 * sum(n_sel)) div sum(n)").alias("o_sel"),
        F.expr("(1000000 * sum(tp)) div sum(tp + fn)").alias("o_tpr"),
        F.expr("(1000000 * sum(fp)) div sum(fp + tn)").alias("o_fpr"),
    )
    return g.crossJoin(o).select(
        "brand",
        "n",
        F.expr("(1000000 * n_sel) div n").alias("sel_ppm"),
        F.expr("(1000000 * tp) div (tp + fn)").alias("tpr_ppm"),
        F.expr("(1000000 * fp) div (fp + tn)").alias("fpr_ppm"),
        F.expr("(1000000 * n_sel) div n - o_sel").alias("sel_gap_ppm"),
        F.expr("(1000000 * tp) div (tp + fn) - o_tpr").alias("tpr_gap_ppm"),
        F.expr("(1000000 * fp) div (fp + tn) - o_fpr").alias("fpr_gap_ppm"),
    )


@register(
    "ablation_group_impact",
    oracle="""
    WITH g AS (
      SELECT source, count(*)::BIGINT AS n_g, sum(n_chars)::BIGINT AS s_g
      FROM documents GROUP BY source
    ),
    o AS (SELECT sum(n_g)::BIGINT AS n, sum(s_g)::BIGINT AS s FROM g)
    SELECT source, n_g,
           (1000000 * s_g) // n_g AS mean_chars_ppm,
           (1000000 * s) // n AS overall_mean_ppm,
           (1000000 * (s - s_g)) // (n - n_g) AS mean_without_ppm,
           (1000000 * (s - s_g)) // (n - n_g) - (1000000 * s) // n AS impact_ppm
    FROM g, o
    """,
    doc="leave-one-group-out ablation: how the corpus mean document length "
    "moves if each source is dropped, computed algebraically from per-"
    "group (count, sum) partials — no per-group re-scan, the identity "
    "mean_without_g = (S - s_g)/(N - n_g) turns a |sources|-pass ablation "
    "study into ONE aggregate. The 'which source drags the metric' "
    "screen run before cutting a data source from a training mix. All "
    "exact BIGINT ppm; 1-row totals broadcast; linear at any scale.",
)
def ablation_group_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    g = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum("n_chars").cast("bigint").alias("s_g"),
    )
    o = g.agg(
        F.sum("n_g").cast("bigint").alias("n"), F.sum("s_g").cast("bigint").alias("s")
    )
    return g.crossJoin(o).select(
        "source",
        "n_g",
        F.expr("(1000000 * s_g) div n_g").alias("mean_chars_ppm"),
        F.expr("(1000000 * s) div n").alias("overall_mean_ppm"),
        F.expr("(1000000 * (s - s_g)) div (n - n_g)").alias("mean_without_ppm"),
        F.expr("(1000000 * (s - s_g)) div (n - n_g) - (1000000 * s) div n").alias(
            "impact_ppm"
        ),
    )


@register(
    "calibration_brier",
    oracle="""
    WITH scored AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    o AS (
      SELECT count(*)::BIGINT AS n_total,
             CAST((1000000 * CAST(sum((q - 50 * y) * (q - 50 * y)) AS BIGINT))
                  // (2500 * count(*)) AS BIGINT)
               AS brier_ppm
      FROM scored
    ),
    b AS (
      SELECT (q - 1) // 5 AS bin, count(*)::BIGINT AS n,
             sum(q)::BIGINT AS sq, sum(y)::BIGINT AS pos
      FROM scored GROUP BY 1
    )
    SELECT bin, n,
           (1000000 * sq) // (50 * n) AS mean_pred_ppm,
           (1000000 * pos) // n AS actual_ppm,
           (1000000 * pos) // n - (1000000 * sq) // (50 * n) AS gap_ppm,
           n_total, brier_ppm
    FROM b, o
    """,
    doc="calibration diagnostic for the naive p(return)=quantity/50 "
    "scorer: 10 reliability bins (mean predicted vs observed return rate, "
    "exact ppm) plus the overall Brier score — rational arithmetic "
    "throughout since p-hat = q/50 makes (p-hat - y)^2 = (q - 50y)^2/2500 "
    "an integer identity, so the Brier lands as exact BIGINT ppm with no "
    "float summation. The 'is the score a probability or just a ranker' "
    "check run before thresholding a quality scorer. One hash aggregate "
    "to the bounded grid; 1-row totals broadcast.",
)
def calibration_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    scored = li.select(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    o = scored.agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.expr(
            "(1000000 * sum((q - 50 * y) * (q - 50 * y))) div (2500 * count(*))"
        ).alias("brier_ppm"),
    )
    b = scored.groupBy(F.expr("(q - 1) div 5").alias("bin")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("sq"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    return b.crossJoin(o).select(
        "bin",
        "n",
        F.expr("(1000000 * sq) div (50 * n)").alias("mean_pred_ppm"),
        F.expr("(1000000 * pos) div n").alias("actual_ppm"),
        F.expr("(1000000 * pos) div n - (1000000 * sq) div (50 * n)").alias("gap_ppm"),
        "n_total",
        "brier_ppm",
    )


# Shared Mann-Kendall z: continuity-corrected S over sqrt(Var), Var fed as
# the exact integer 18*Var (identical formula text in both engines).
_MK_Z = (
    "(CASE WHEN s_stat > 0 THEN (s_stat - 1.0) / sqrt(var18 / 18.0) "
    "WHEN s_stat < 0 THEN (s_stat + 1.0) / sqrt(var18 / 18.0) "
    "ELSE 0.0 END)"
)


@register(
    "mann_kendall_trend",
    oracle=f"""
    WITH m AS (
      SELECT year(o_orderdate) * 12 + month(o_orderdate) AS idx,
             sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT sum(CASE WHEN b.cents > a.cents THEN 1
                      WHEN b.cents < a.cents THEN -1 ELSE 0 END)::BIGINT AS s_stat
      FROM m a JOIN m b ON a.idx < b.idx
    ),
    ties AS (
      SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)::BIGINT AS tie18
      FROM (SELECT count(*)::BIGINT AS t FROM m GROUP BY cents) WHERE t > 1
    ),
    nn AS (SELECT count(*)::BIGINT AS n FROM m),
    v AS (
      SELECT s_stat, n, (n * (n - 1) * (2 * n + 5) - tie18)::BIGINT AS var18
      FROM s, ties, nn
    )
    SELECT n AS n_periods, s_stat, var18,
           round({_MK_Z}, 4) AS z,
           CASE WHEN round({_MK_Z}, 4) > 1.96 THEN 'increasing'
                WHEN round({_MK_Z}, 4) < -1.96 THEN 'decreasing'
                ELSE 'none' END AS trend
    FROM v
    """,
    doc="Mann-Kendall trend test on monthly revenue: the nonparametric "
    "'is there a monotone trend?' companion to theil_sen_trend (which "
    "estimates the slope this test decides the significance of). S and "
    "the tie-corrected 18*Var are exact BIGINTs over the calendar-bounded "
    "monthly grid (<= 80 periods -> <= 3160 sign pairs at any corpus "
    "size); the continuity-corrected z is one shared formula string over "
    "those integers. One corpus aggregate to the month grid; everything "
    "after is grid-bounded.",
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    m = orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("idx")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    a, b = m.alias("a"), m.alias("b")
    s = a.join(b, F.col("a.idx") < F.col("b.idx")).agg(
        F.sum(
            F.when(F.col("b.cents") > F.col("a.cents"), 1)
            .when(F.col("b.cents") < F.col("a.cents"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s_stat")
    )
    ties = (
        m.groupBy("cents")
        .agg(F.count("*").cast("bigint").alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(F.sum(F.expr("t * (t - 1) * (2 * t + 5)")), F.lit(0))
            .cast("bigint")
            .alias("tie18")
        )
    )
    nn = m.agg(F.count("*").cast("bigint").alias("n"))
    v = (
        s.crossJoin(ties)
        .crossJoin(nn)
        .select(
            "s_stat",
            "n",
            F.expr("n * (n - 1) * (2 * n + 5) - tie18").cast("bigint").alias("var18"),
        )
    )
    zc = F.round(F.expr(_MK_Z), 4)
    return v.select(
        F.col("n").alias("n_periods"),
        "s_stat",
        "var18",
        zc.alias("z"),
        F.when(zc > 1.96, "increasing")
        .when(zc < -1.96, "decreasing")
        .otherwise("none")
        .alias("trend"),
    )


@register(
    "isotonic_calibration",
    oracle="""
    WITH g AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS pos,
             count(*)::BIGINT AS tot
      FROM lineitem GROUP BY 1
    ),
    c AS (
      SELECT q, pos, tot,
             (sum(pos) OVER w - pos)::BIGINT AS pos_before,
             (sum(tot) OVER w - tot)::BIGINT AS tot_before,
             sum(pos) OVER w AS cum_pos, sum(tot) OVER w AS cum_tot
      FROM g
      WINDOW w AS (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    iv AS (
      SELECT a.q AS jq, b.q AS kq,
             (1000000 * (b.cum_pos - a.pos_before)) // (b.cum_tot - a.tot_before)
               AS ratio_ppm
      FROM c a JOIN c b ON a.q <= b.q
    ),
    m1 AS (
      SELECT i.q, iv.jq, min(iv.ratio_ppm) AS min_r
      FROM c i JOIN iv ON iv.jq <= i.q AND iv.kq >= i.q
      GROUP BY i.q, iv.jq
    ),
    iso AS (SELECT q, max(min_r)::BIGINT AS iso_rate_ppm FROM m1 GROUP BY q)
    SELECT c.q, c.tot AS n,
           (1000000 * c.pos) // c.tot AS raw_rate_ppm,
           iso.iso_rate_ppm
    FROM c JOIN iso USING (q)
    """,
    doc="isotonic (monotone non-decreasing) calibration of return rate vs "
    "quantity via the max-min identity iso_i = max_{{j<=i}} min_{{k>=i}} "
    "rate(j..k) — the closed-form equivalent of pool-adjacent-violators, "
    "evaluated on interval rates frozen to BIGINT ppm so both engines "
    "take max/min over identical integers (a ppm-grid isotonic fit, "
    "deterministic by construction). One corpus aggregate to the 50-"
    "value grid; the j/k/i interval joins are grid-bounded (<=125k "
    "combinations at ANY corpus size). The monotone-recalibration step "
    "a pipeline applies to a score whose raw rate curve is noisy.",
)
def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    g = li.groupBy(F.col("l_quantity").cast("bigint").alias("q")).agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
        F.count("*").cast("bigint").alias("tot"),
    )
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    c = g.select(
        "q",
        "pos",
        "tot",
        (F.sum("pos").over(w) - F.col("pos")).cast("bigint").alias("pos_before"),
        (F.sum("tot").over(w) - F.col("tot")).cast("bigint").alias("tot_before"),
        F.sum("pos").over(w).alias("cum_pos"),
        F.sum("tot").over(w).alias("cum_tot"),
    )
    a, b = c.alias("a"), c.alias("b")
    iv = a.join(b, F.col("a.q") <= F.col("b.q")).select(
        F.col("a.q").alias("jq"),
        F.col("b.q").alias("kq"),
        F.expr(
            "(1000000 * (b.cum_pos - a.pos_before)) div (b.cum_tot - a.tot_before)"
        ).alias("ratio_ppm"),
    )
    i = c.select("q").alias("i")
    m1 = (
        i.join(iv, (F.col("jq") <= F.col("i.q")) & (F.col("kq") >= F.col("i.q")))
        .groupBy(F.col("i.q").alias("q"), "jq")
        .agg(F.min("ratio_ppm").alias("min_r"))
    )
    iso = m1.groupBy("q").agg(F.max("min_r").cast("bigint").alias("iso_rate_ppm"))
    return (
        c.join(iso, "q")
        .select(
            "q",
            F.col("tot").alias("n"),
            F.expr("(1000000 * pos) div tot").alias("raw_rate_ppm"),
            "iso_rate_ppm",
        )
    )


def _bh_z_expr() -> str:
    """Two-proportion pooled z over exact integer columns (shared text)."""
    return (
        "((CAST(pos_g AS DOUBLE) / ng - CAST(pos_r AS DOUBLE) / nr) / "
        "sqrt((CAST(pt AS DOUBLE) / nt) * (1.0 - CAST(pt AS DOUBLE) / nt) "
        "* (1.0 / ng + 1.0 / nr)))"
    )


def _bh_p_expr(z: str = "zv") -> str:
    """Two-sided normal p-value via the Abramowitz-Stegun 7.1.26 erf
    approximation (max abs error ~1.5e-7) — +,*,/,exp only, so the
    identical formula text evaluates identically in both engines."""
    x = f"(abs({z}) / sqrt(2.0))"
    t_ = f"(1.0 / (1.0 + CAST(0.3275911 AS DOUBLE) * {x}))"
    poly = (
        f"({t_} * (CAST(0.254829592 AS DOUBLE) + {t_} * "
        f"(CAST(-0.284496736 AS DOUBLE) + {t_} * (CAST(1.421413741 AS DOUBLE) + {t_} * "
        f"(CAST(-1.453152027 AS DOUBLE) + {t_} * CAST(1.061405429 AS DOUBLE))))))"
    )
    return f"({poly} * exp(-({x} * {x})))"


_BH_CRIT = "round(CAST(0.10 AS DOUBLE) * rk / m, 9)"


@register(
    "benjamini_hochberg_brands",
    oracle=f"""
    WITH g AS (
      SELECT p.p_brand AS brand, count(*)::BIGINT AS ng,
             sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS pos_g
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1
    ),
    o AS (SELECT sum(ng)::BIGINT AS nt, sum(pos_g)::BIGINT AS pt FROM g),
    z AS (
      SELECT brand, ng, pos_g, nt - ng AS nr, pt - pos_g AS pos_r, nt, pt,
             {_bh_z_expr()} AS zv
      FROM g, o
    ),
    p AS (
      SELECT brand, ng, pos_g, round(zv, 4) AS z, round({_bh_p_expr()}, 9) AS pval
      FROM z
    ),
    r AS (
      SELECT brand, ng, pos_g, z, pval,
             row_number() OVER (ORDER BY pval, brand)::BIGINT AS rk,
             count(*) OVER ()::BIGINT AS m
      FROM p
    ),
    f AS (
      SELECT *, max(CASE WHEN pval <= {_BH_CRIT} THEN rk ELSE 0 END)
                  OVER ()::BIGINT AS max_pass
      FROM r
    )
    SELECT brand, ng AS n, pos_g AS n_returned,
           (1000000 * pos_g) // ng AS rate_ppm,
           z, pval, rk AS p_rank, rk <= max_pass AS rejected
    FROM f
    """,
    doc="Benjamini-Hochberg FDR control over 25 simultaneous per-brand "
    "return-rate tests (each brand vs the rest, pooled two-proportion z): "
    "the multiple-comparisons discipline that stops a 25-segment drift "
    "dashboard from crying wolf on 1-in-20 noise. p-values via a shared "
    "Abramowitz-Stegun erf formula (identical text both engines, frozen "
    "at round-9), the BH step-up rank threshold at alpha=0.10 via window "
    "max. One fact aggregate to the brand grid; everything after is "
    "25-row bounded. The z/p inputs are exact BIGINT counts.",
)
def benjamini_hochberg_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    g = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").cast("bigint").alias("ng"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("pos_g"),
        )
    )
    o = g.agg(
        F.sum("ng").cast("bigint").alias("nt"), F.sum("pos_g").cast("bigint").alias("pt")
    )
    z = g.crossJoin(o).select(
        "brand",
        "ng",
        "pos_g",
        (F.col("nt") - F.col("ng")).alias("nr"),
        (F.col("pt") - F.col("pos_g")).alias("pos_r"),
        "nt",
        "pt",
        F.expr(_bh_z_expr()).alias("zv"),
    )
    p = z.select(
        "brand",
        "ng",
        "pos_g",
        F.round("zv", 4).alias("z"),
        F.round(F.expr(_bh_p_expr()), 9).alias("pval"),
    )
    r = p.select(
        "*",
        F.row_number().over(Window.orderBy("pval", "brand")).cast("bigint").alias("rk"),
        F.count("*").over(Window.partitionBy()).cast("bigint").alias("m"),
    )
    f = r.select(
        "*",
        F.max(F.when(F.expr(f"pval <= {_BH_CRIT}"), F.col("rk")).otherwise(0))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("max_pass"),
    )
    return f.select(
        "brand",
        F.col("ng").alias("n"),
        F.col("pos_g").alias("n_returned"),
        F.expr("(1000000 * pos_g) div ng").alias("rate_ppm"),
        "z",
        "pval",
        F.col("rk").alias("p_rank"),
        (F.col("rk") <= F.col("max_pass")).alias("rejected"),
    )


# DuckDB cosine over FLOAT[] lists cast to double (same accumulation order
# as operators/similarity.dot — shared with queries/similarity.py).
_COS = (
    "round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / "
    "(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6)"
)


@register(
    "mutual_nn_pairs",
    oracle=f"""
    WITH u AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
    scored AS (
      SELECT a.vec_id AS qid, b.vec_id AS nid, {_COS} AS cosine
      FROM u a JOIN u b ON a.vec_id <> b.vec_id
    ),
    nn AS (
      SELECT qid, nid, cosine FROM (
        SELECT qid, nid, cosine,
               row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT x.qid AS id1, x.nid AS id2, x.cosine
    FROM nn x JOIN nn y ON x.nid = y.qid AND y.nid = x.qid AND x.qid < y.qid
    """,
    doc="reciprocal nearest-neighbor pairs (mutual top-1 cosine) over a "
    "bounded embedding slice — the margin-free bitext/translation-pair "
    "mining criterion (Artetxe-Schwenk shape): a pair survives only if "
    "each side is the other's single best match, which filters hub "
    "vectors that are 'everyone's neighbor'. Built from the sanctioned "
    "bounded-probe exact-kNN scan at k=1 + one equi-self-join on the "
    "200-row NN table; at 100 TB the first stage swaps for the ANN path "
    "(ivf_ann_topk) with identical downstream reciprocity logic.",
)
def mutual_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators import similarity as sim

    u = t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    nn = sim.cosine_topk(u, u, id_col="vec_id", vec_col="embedding", k=1, query_id="qid")
    nn = nn.select("qid", F.col("neighbor_id").alias("nid"), "cosine")
    x, y = nn.alias("x"), nn.alias("y")
    return (
        x.join(
            y,
            (F.col("x.nid") == F.col("y.qid"))
            & (F.col("y.nid") == F.col("x.qid"))
            & (F.col("x.qid") < F.col("y.qid")),
        )
        .select(
            F.col("x.qid").alias("id1"),
            F.col("x.nid").alias("id2"),
            F.col("x.cosine").alias("cosine"),
        )
    )


@register(
    "hard_negative_mining",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 50),
    scored AS (
      SELECT a.vec_id AS qid, a.label AS qlabel, b.vec_id AS cid,
             b.label AS clabel, {_COS} AS cosine,
             (a.label = b.label) AS is_same
      FROM q a JOIN embeddings b ON a.vec_id <> b.vec_id
    ),
    best AS (
      SELECT qid, qlabel, cid, clabel, cosine, is_same FROM (
        SELECT *, row_number() OVER (PARTITION BY qid, is_same
                    ORDER BY cosine DESC, cid) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT qid AS query_id, any_value(qlabel) AS label,
           max(CASE WHEN is_same THEN cid END)::BIGINT AS pos_id,
           max(CASE WHEN is_same THEN cosine END) AS pos_cos,
           max(CASE WHEN NOT is_same THEN cid END)::BIGINT AS hard_neg_id,
           max(CASE WHEN NOT is_same THEN clabel END)::INTEGER AS neg_label,
           max(CASE WHEN NOT is_same THEN cosine END) AS neg_cos,
           round(max(CASE WHEN is_same THEN cosine END)
                 - max(CASE WHEN NOT is_same THEN cosine END), 6) AS margin
    FROM best GROUP BY qid
    """,
    doc="hard-negative mining for contrastive training: for each of 50 "
    "probe embeddings, the single most-similar SAME-label vector (the "
    "positive) and the most-similar DIFFERENT-label vector (the hard "
    "negative), with the pos-neg margin — exactly the triplet-selection "
    "pass an embedding-model trainer runs per epoch; small margins flag "
    "label noise. Bounded-probe scan (the sanctioned knn shape: 50 "
    "broadcast queries x corpus, no corpus shuffle) + per-query window "
    "argmax split by label parity. Cosines frozen at round-6.",
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.similarity import _vecd, dot, l2_norm

    emb = t(spark, sf_dir, "embeddings")
    q = (
        emb.where(F.col("vec_id") < 50)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("qlabel"),
            _vecd(F.col("embedding")).alias("qv"),
        )
        .withColumn("qnorm", l2_norm(F.col("qv")))
    )
    c = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        _vecd(F.col("embedding")).alias("cv"),
    ).withColumn("cnorm", l2_norm(F.col("cv")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "cid",
            "clabel",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qnorm") * F.col("cnorm")), 6
            ).alias("cosine"),
            (F.col("qlabel") == F.col("clabel")).alias("is_same"),
        )
    )
    w = Window.partitionBy("qid", "is_same").orderBy(F.desc("cosine"), "cid")
    best = scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return best.groupBy(F.col("qid").alias("query_id")).agg(
        F.any_value(F.col("qlabel")).alias("label"),
        F.max(F.when(F.col("is_same"), F.col("cid"))).cast("bigint").alias("pos_id"),
        F.max(F.when(F.col("is_same"), F.col("cosine"))).alias("pos_cos"),
        F.max(F.when(~F.col("is_same"), F.col("cid"))).cast("bigint").alias("hard_neg_id"),
        F.max(F.when(~F.col("is_same"), F.col("clabel"))).cast("int").alias("neg_label"),
        F.max(F.when(~F.col("is_same"), F.col("cosine"))).alias("neg_cos"),
        F.round(
            F.max(F.when(F.col("is_same"), F.col("cosine")))
            - F.max(F.when(~F.col("is_same"), F.col("cosine"))),
            6,
        ).alias("margin"),
    )


# --- greedy k-center coreset -------------------------------------------------

_KC_ROUNDS = 5  # 4 coreset picks + 1 farthest-remaining row (= coverage radius)


def _kc_d2(x: str, y: str) -> str:
    """Exact integer squared distance between two BIGINT-element lists
    (DuckDB side; Spark mirrors with zip_with/aggregate over BIGINTs)."""
    return (
        f"CAST(list_sum(list_transform(range(64), "
        f"i -> ({x}[i+1] - {y}[i+1]) * ({x}[i+1] - {y}[i+1]))) AS BIGINT)"
    )


def _kc_oracle() -> str:
    v = (
        "list_transform(embedding::DOUBLE[], "
        "x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))"
    )
    n2 = "CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT)"
    ctes = [
        f"e AS MATERIALIZED (SELECT vec_id, {v} AS v FROM embeddings)",
        f"c1 AS MATERIALIZED (SELECT vec_id, v FROM e ORDER BY {n2} DESC, vec_id LIMIT 1)",
        f"d1 AS MATERIALIZED (SELECT e.vec_id, e.v, {_kc_d2('e.v', 'c.v')} AS dmin "
        f"FROM e, c1 c)",
    ]
    for r in range(2, _KC_ROUNDS + 1):
        ctes.append(
            f"c{r} AS MATERIALIZED (SELECT vec_id, v, dmin FROM d{r - 1} "
            f"ORDER BY dmin DESC, vec_id LIMIT 1)"
        )
        if r < _KC_ROUNDS:
            ctes.append(
                f"d{r} AS MATERIALIZED (SELECT d.vec_id, d.v, "
                f"least(d.dmin, {_kc_d2('d.v', 'c.v')}) AS dmin FROM d{r - 1} d, c{r} c)"
            )
    rows = ["SELECT 1::BIGINT AS sel_round, vec_id, NULL::BIGINT AS sel_dist2 FROM c1"]
    rows += [
        f"SELECT {r}::BIGINT, vec_id, dmin::BIGINT FROM c{r}"
        for r in range(2, _KC_ROUNDS + 1)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(rows)


@register(
    "kcenter_coreset",
    oracle=_kc_oracle(),
    doc="greedy k-center (farthest-point traversal) coreset selection over "
    "the embedding corpus: 4 maximally-diverse exemplars seeded at the "
    "max-norm vector, plus the farthest-remaining row whose distance IS "
    "the k=4 coverage radius^2 — the diverse-subset selection step of "
    "coreset-based data pruning, 2-approx optimal for the k-center "
    "objective. Elements freeze to integer micro-units (floor(x*1e6+.5)) "
    "so every distance is an exact BIGINT and the argmax sequence is "
    "deterministic in both engines. Each round is ONE corpus scan vs the "
    "k driver-held centers (the sanctioned bounded-driver-state pattern: "
    "k rows collected total) + TakeOrdered(1); k scans at 100 TB, no "
    "pairwise blowup. Oracle is the identical greedy unrolled as a "
    "materialized CTE chain.",
)
def kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    def d2(v, center_lit):
        return F.aggregate(
            F.zip_with(v, center_lit, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * 1000000.0 + 0.5).cast("bigint"),
        ).alias("v"),
    )
    norm2 = F.aggregate(
        F.transform(F.col("v"), lambda x: x * x),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    first = e.orderBy(norm2.desc(), "vec_id").select("vec_id", "v").head()
    center = F.array(*[F.lit(int(x)).cast("bigint") for x in first.v])
    rows = [(1, int(first.vec_id), None)]
    df = e.select("vec_id", "v", d2(F.col("v"), center).alias("dmin"))
    for r in range(2, _KC_ROUNDS + 1):
        top = df.orderBy(F.desc("dmin"), "vec_id").head()
        rows.append((r, int(top.vec_id), int(top.dmin)))
        if r < _KC_ROUNDS:
            c = F.array(*[F.lit(int(x)).cast("bigint") for x in top.v])
            df = df.select(
                "vec_id", "v", F.least(F.col("dmin"), d2(F.col("v"), c)).alias("dmin")
            )
    return local_rows(spark, rows, "sel_round bigint, vec_id bigint, sel_dist2 bigint")


# --- Markov stationary distribution ------------------------------------------

_MARKOV_STATES = ["click", "error", "purchase", "signup", "view"]
_MARKOV_ROUNDS = 12
# Transition cells the two Markov queries collect. event_type is a short
# enumerated column (5 types in the fixtures); 34^2 admits 32 types plus
# the attribution chain's start/conv/null states.
_MARKOV_MAX_CELLS = 34 * 34


def _markov_oracle() -> str:
    ns = len(_MARKOV_STATES)
    cells = [
        f"sum(CASE WHEN prev = '{a}' AND cur = '{b}' THEN 1 ELSE 0 END)::BIGINT AS c_{i}_{j}"
        for i, a in enumerate(_MARKOV_STATES)
        for j, b in enumerate(_MARKOV_STATES)
    ]
    rts = [
        f"sum(CASE WHEN prev = '{a}' THEN 1 ELSE 0 END)::BIGINT AS rt_{i}"
        for i, a in enumerate(_MARKOV_STATES)
    ]
    ctes = [
        "pairs AS MATERIALIZED (SELECT lag(event_type) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) AS prev, event_type AS cur "
        "FROM events)",
        "m AS MATERIALIZED (SELECT "
        + ", ".join(cells + rts)
        + " FROM pairs WHERE prev IS NOT NULL)",
        "r0 AS MATERIALIZED (SELECT "
        + ", ".join(f"200000000::BIGINT AS p{j}" for j in range(ns))
        + ")",
    ]
    for rnd in range(1, _MARKOV_ROUNDS + 1):
        cols = []
        for j in range(ns):
            terms = " + ".join(
                f"(r.p{i} / 1e9) * m.c_{i}_{j} / m.rt_{i}" for i in range(ns)
            )
            cols.append(f"CAST(floor(({terms}) * 1e9 + 0.5) AS BIGINT) AS p{j}")
        ctes.append(
            f"r{rnd} AS MATERIALIZED (SELECT "
            + ", ".join(cols)
            + f" FROM r{rnd - 1} r, m)"
        )
    case = (
        "CASE e.event_type "
        + " ".join(
            f"WHEN '{s}' THEN r.p{j}" for j, s in enumerate(_MARKOV_STATES)
        )
        + " END"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + ",\nemp AS (SELECT event_type, count(*)::BIGINT AS n_events FROM events GROUP BY 1),"
        + "\ntot AS (SELECT sum(n_events)::BIGINT AS nt FROM emp)"
        + f"\nSELECT e.event_type, e.n_events, (1000000000 * e.n_events) // t.nt AS freq_ppb, "
        + f"{case} AS stationary_ppb FROM emp e, tot t, r{_MARKOV_ROUNDS} r"
    )


@register(
    "markov_stationary",
    oracle=_markov_oracle(),
    doc="stationary distribution of the per-user event-transition Markov "
    "chain (the long-run occupancy event_transition_matrix's single-step "
    "probabilities imply), via 12 power-iteration rounds from uniform. "
    "The |states|^2 transition matrix is BOUNDED driver state (25 exact "
    "BIGINT counts collected once — the sanctioned kmeans/PQ pattern); "
    "each round's vector is frozen to integer ppb (floor(x*1e9+.5)) with "
    "terms combined in fixed state order, so both engines replay "
    "identical IEEE doubles — no transcendentals, exact parity by "
    "construction. Compared against the empirical visit frequency: a "
    "large gap flags non-mixing sessions (absorbing error states). One "
    "corpus window pass + one aggregate; the iteration is O(|states|^2) "
    "driver math at ANY corpus size. Oracle = same rounds as a "
    "materialized CTE chain.",
)
def markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("prev"), F.col("event_type").alias("cur")
    ).where(F.col("prev").isNotNull())
    grid = pairs.groupBy("prev", "cur").agg(F.count("*").alias("n"))
    cells = {
        (r.prev, r.cur): r.n
        for r in collect_bounded(grid, _MARKOV_MAX_CELLS, "markov_stationary")
    }
    states = _MARKOV_STATES
    c = [[cells.get((a, b), 0) for b in states] for a in states]
    rt = [sum(row) for row in c]
    ppb = [200000000] * len(states)
    if 0 in rt:  # the oracle's x / 0 is NULL, and every state sums every row
        ppb = [None] * len(states)
    else:
        for _ in range(_MARKOV_ROUNDS):
            nxt = []
            for j in range(len(states)):
                tot = 0.0
                for i in range(len(states)):
                    tot += (ppb[i] / 1e9) * c[i][j] / rt[i]
                nxt.append(math.floor(tot * 1e9 + 0.5))
            ppb = nxt
    expr = None
    for j, s in enumerate(states):
        cond = (F.col("event_type") == s, F.lit(ppb[j]).cast("bigint"))
        expr = F.when(*cond) if expr is None else expr.when(*cond)
    stat = expr.otherwise(F.lit(None).cast("bigint"))
    emp = ev.groupBy("event_type").agg(F.count("*").cast("bigint").alias("n_events"))
    tot_df = emp.agg(F.sum("n_events").cast("bigint").alias("nt"))
    return emp.crossJoin(tot_df).select(
        "event_type",
        "n_events",
        F.expr("(1000000000 * n_events) div nt").alias("freq_ppb"),
        stat.alias("stationary_ppb"),
    )


# --- in-engine logistic regression (Newton-Raphson on the feature grid) ------

_LR_ROUNDS = 4
_LR_ETA = "(b0 + b1 * (q / 50.0) + b2 * (qd / 10.0))"
_LR_MU = f"(1.0 / (1.0 + exp(-{_LR_ETA})))"
_LR_W = f"({_LR_MU} * (1.0 - {_LR_MU}))"
_LR_X = {"0": "1.0", "1": "(q / 50.0)", "2": "(qd / 10.0)"}
_LR_KEYS = ["g0", "g1", "g2", "h00", "h01", "h02", "h11", "h12", "h22"]


def _lr_frz(e: str) -> str:
    return f"CAST(floor(({e}) * 1e9 + 0.5) AS BIGINT)"


def _lr_terms() -> dict[str, str]:
    """Per-cell gradient/Hessian contributions frozen to BIGINT nano-units
    (identical formula text in both engines; integer sums are order-free)."""
    out = {}
    for k in ["0", "1", "2"]:
        out[f"g{k}"] = _lr_frz(f"(pos - tot * {_LR_MU}) * {_LR_X[k]}")
    for j in ["0", "1", "2"]:
        for k in ["0", "1", "2"]:
            if j <= k:
                out[f"h{j}{k}"] = _lr_frz(f"tot * {_LR_W} * {_LR_X[j]} * {_LR_X[k]}")
    return out


def _lr_updates() -> dict[str, str]:
    """Newton step b += H^-1 g via the explicit 3x3 Cramer formulas over the
    nano-frozen sums, with the new betas re-frozen to nano each round."""
    v = {k: f"(s{k} / 1e9)" for k in _LR_KEYS}
    det = (
        f"({v['h00']} * ({v['h11']} * {v['h22']} - {v['h12']} * {v['h12']}) "
        f"- {v['h01']} * ({v['h01']} * {v['h22']} - {v['h12']} * {v['h02']}) "
        f"+ {v['h02']} * ({v['h01']} * {v['h12']} - {v['h11']} * {v['h02']}))"
    )
    d0 = (
        f"({v['g0']} * ({v['h11']} * {v['h22']} - {v['h12']} * {v['h12']}) "
        f"- {v['h01']} * ({v['g1']} * {v['h22']} - {v['h12']} * {v['g2']}) "
        f"+ {v['h02']} * ({v['g1']} * {v['h12']} - {v['h11']} * {v['g2']}))"
    )
    d1 = (
        f"({v['h00']} * ({v['g1']} * {v['h22']} - {v['g2']} * {v['h12']}) "
        f"- {v['g0']} * ({v['h01']} * {v['h22']} - {v['h12']} * {v['h02']}) "
        f"+ {v['h02']} * ({v['h01']} * {v['g2']} - {v['g1']} * {v['h02']}))"
    )
    d2 = (
        f"({v['h00']} * ({v['h11']} * {v['g2']} - {v['h12']} * {v['g1']}) "
        f"- {v['h01']} * ({v['h01']} * {v['g2']} - {v['g1']} * {v['h02']}) "
        f"+ {v['g0']} * ({v['h01']} * {v['h12']} - {v['h11']} * {v['h02']}))"
    )
    return {
        f"b{k}": f"CAST(floor((b{k} + {d} / {det}) * 1e9 + 0.5) AS BIGINT) / 1e9"
        for k, d in zip(["0", "1", "2"], [d0, d1, d2])
    }


_LR_LL = _lr_frz(f"pos * ln({_LR_MU}) + (tot - pos) * ln(1.0 - {_LR_MU})")
_LR_CORRECT = f"(CASE WHEN {_LR_ETA} > 0.0 THEN pos ELSE tot - pos END)"


def _lr_oracle() -> str:
    terms = _lr_terms()
    upd = _lr_updates()
    ctes = [
        "cells AS MATERIALIZED (SELECT CAST(l_quantity AS BIGINT) AS q, "
        "CAST(round(l_discount * 100) AS BIGINT) AS qd, "
        "sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS pos, "
        "count(*)::BIGINT AS tot FROM lineitem GROUP BY 1, 2)",
        "b0r AS MATERIALIZED (SELECT 0.0::DOUBLE AS b0, 0.0::DOUBLE AS b1, "
        "0.0::DOUBLE AS b2)",
    ]
    for r in range(1, _LR_ROUNDS + 1):
        tsel = ", ".join(f"{e} AS {k}" for k, e in terms.items())
        ssel = ", ".join(f"sum({k})::BIGINT AS s{k}" for k in _LR_KEYS)
        bsel = ", ".join(f"{e} AS {k}" for k, e in upd.items())
        ctes.append(f"t{r} AS MATERIALIZED (SELECT {tsel} FROM cells, b{r - 1}r)")
        ctes.append(f"s{r} AS MATERIALIZED (SELECT {ssel} FROM t{r})")
        ctes.append(f"b{r}r AS MATERIALIZED (SELECT {bsel} FROM s{r}, b{r - 1}r)")
    last = f"b{_LR_ROUNDS}r"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
    fin AS (
      SELECT sum(tot)::BIGINT AS n_train,
             sum({_LR_LL})::BIGINT AS log_loss_nano,
             sum({_LR_CORRECT})::BIGINT AS n_correct,
             any_value(CAST(floor(b0 * 1e9 + 0.5) AS BIGINT)) AS b0_nano,
             any_value(CAST(floor(b1 * 1e9 + 0.5) AS BIGINT)) AS b1_nano,
             any_value(CAST(floor(b2 * 1e9 + 0.5) AS BIGINT)) AS b2_nano
      FROM cells, {last}
    )
    SELECT n_train, b0_nano, b1_nano, b2_nano, log_loss_nano,
           (10000 * n_correct) // n_train AS accuracy_bp
    FROM fin"""
    )


@register(
    "logistic_regression_newton",
    oracle=_lr_oracle(),
    doc="in-engine logistic regression trained by 4 Newton-Raphson rounds: "
    "p(returned) ~ sigmoid(b0 + b1*quantity/50 + b2*discount*10). The "
    "corpus collapses ONCE onto the bounded 50x11 feature grid (exact "
    "BIGINT pos/tot per cell); every round's gradient and Hessian are "
    "per-cell contributions FROZEN to BIGINT nano-units (order-free "
    "integer sums — the only cross-engine float hazard, exp's last ulp, "
    "is absorbed by the freeze), and the Newton step solves the 3x3 "
    "system via explicit Cramer formulas shared as identical text with "
    "the oracle (the multiple_regression bit-exact pattern). Betas "
    "re-freeze to nano per round; training log-loss and 0.5-threshold "
    "accuracy evaluate on the same grid. Iteration state is one row; at "
    "100 TB the cost is ONE corpus aggregate + grid-sized rounds — the "
    "fastText-style 'train the quality filter inside the engine' shape. "
    "Oracle = the identical rounds as a materialized CTE chain.",
)
def logistic_regression_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    cells = (
        li.groupBy(
            F.col("l_quantity").cast("bigint").alias("q"),
            F.round(F.col("l_discount") * 100).cast("bigint").alias("qd"),
        )
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("pos"),
            F.count("*").cast("bigint").alias("tot"),
        )
        .localCheckpoint(eager=True)
    )
    b = spark.range(1).select(
        F.lit(0.0).alias("b0"), F.lit(0.0).alias("b1"), F.lit(0.0).alias("b2")
    )
    terms = _lr_terms()
    upd = _lr_updates()
    for _ in range(_LR_ROUNDS):
        tdf = cells.crossJoin(F.broadcast(b)).select(
            *[F.expr(e).alias(k) for k, e in terms.items()]
        )
        s = tdf.agg(
            *[F.sum(k).cast("bigint").alias(f"s{k}") for k in _LR_KEYS]
        )
        b = (
            s.crossJoin(b)
            .select(*[F.expr(e).alias(k) for k, e in upd.items()])
            .localCheckpoint(eager=True)
        )
    fin = cells.crossJoin(F.broadcast(b)).agg(
        F.sum("tot").cast("bigint").alias("n_train"),
        F.sum(F.expr(_LR_LL)).cast("bigint").alias("log_loss_nano"),
        F.sum(F.expr(_LR_CORRECT)).cast("bigint").alias("n_correct"),
        F.any_value(F.expr("CAST(floor(b0 * 1e9 + 0.5) AS BIGINT)")).alias("b0_nano"),
        F.any_value(F.expr("CAST(floor(b1 * 1e9 + 0.5) AS BIGINT)")).alias("b1_nano"),
        F.any_value(F.expr("CAST(floor(b2 * 1e9 + 0.5) AS BIGINT)")).alias("b2_nano"),
    )
    return fin.select(
        "n_train",
        "b0_nano",
        "b1_nano",
        "b2_nano",
        "log_loss_nano",
        F.expr("(10000 * n_correct) div n_train").alias("accuracy_bp"),
    )


@register(
    "conformal_interval_calibration",
    oracle="""
    WITH calib AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             l_orderkey, l_linenumber
      FROM lineitem WHERE l_orderkey % 2 = 0
    ),
    test AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem WHERE l_orderkey % 2 = 1
    ),
    model AS (
      SELECT q, CAST(sum(cents) // count(*) AS BIGINT) AS pred_cents
      FROM calib GROUP BY q
    ),
    res AS (
      SELECT abs(c.cents - m.pred_cents) AS r,
             row_number() OVER (ORDER BY abs(c.cents - m.pred_cents),
                                c.l_orderkey, c.l_linenumber) AS rn,
             count(*) OVER ()::BIGINT AS n_calib
      FROM calib c JOIN model m USING (q)
    ),
    qhat AS (
      SELECT n_calib, r AS qhat_cents FROM res
      WHERE rn = (9 * (n_calib + 1) + 9) // 10
    ),
    cov AS (
      SELECT count(*)::BIGINT AS n_test,
             sum(CASE WHEN abs(t.cents - m.pred_cents) <= q.qhat_cents
                      THEN 1 ELSE 0 END)::BIGINT AS covered
      FROM test t JOIN model m USING (q), qhat q
    )
    SELECT q.n_calib, c.n_test, q.qhat_cents,
           (10000 * c.covered) // c.n_test AS coverage_bp,
           9000::BIGINT AS target_bp
    FROM qhat q, cov c
    """,
    doc="split-conformal prediction intervals: a per-quantity mean-price "
    "predictor trained on the even-orderkey half, the 90% conformal "
    "quantile of absolute calibration residuals at the finite-sample-"
    "corrected rank ceil(0.9*(n+1)) (the distribution-free coverage "
    "guarantee), and the achieved coverage on the held-out odd half — "
    "the uncertainty-quantification wrapper that turns ANY point "
    "predictor into calibrated intervals. All-integer cents; the "
    "conformal rank is resolved by value-grid rank-select (cumulative "
    "counts over the distinct-residual grid — no raw-row global sort "
    "at any scale); the model and q-hat travel as broadcasts.",
)
def conformal_interval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    calib = li.where(F.col("l_orderkey") % 2 == 0)
    test = li.where(F.col("l_orderkey") % 2 == 1)
    model = calib.groupBy("q").agg(
        F.expr("sum(cents) div count(*)").alias("pred_cents")
    )
    res = calib.join(F.broadcast(model), "q").select(
        F.abs(F.col("cents") - F.col("pred_cents")).alias("r")
    )
    # qhat = the ceil(0.9*(n+1))-th smallest residual by value-grid
    # rank-select (operators/rankselect.py): the only ordered window runs
    # over the value-domain-bounded residual GRID, never raw rows, and the
    # pick is bit-identical to ranking rows because ties never change the
    # value at a rank.
    from map_reduce_engine_spark.operators.rankselect import (
        rank_pick,
        value_grid_cum,
    )

    cum = value_grid_cum(res, "r")
    tot = res.agg(F.count("*").cast("bigint").alias("n_calib"))
    qhat = (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n_calib")
        .agg(
            rank_pick("r", "cum", "(9 * (n_calib + 1) + 9) div 10").alias(
                "qhat_cents"
            )
        )
        # k > n (tiny calibration set) picks nothing: drop the NULL row so
        # the frame is EMPTY exactly like the oracle's `WHERE rn = k`
        .where(F.col("qhat_cents").isNotNull())
    )
    cov = (
        test.join(F.broadcast(model), "q")
        .crossJoin(F.broadcast(qhat))
        .agg(
            F.count("*").cast("bigint").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("cents") - F.col("pred_cents"))
                    <= F.col("qhat_cents"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("covered"),
        )
    )
    return qhat.crossJoin(cov).select(
        "n_calib",
        "n_test",
        "qhat_cents",
        F.expr("(10000 * covered) div n_test").alias("coverage_bp"),
        F.lit(9000).cast("bigint").alias("target_bp"),
    )


@register(
    "cumulative_gains_deciles",
    oracle="""
    WITH g AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS pos,
             count(*)::BIGINT AS tot
      FROM lineitem GROUP BY 1
    ),
    c AS (
      SELECT q, pos, tot,
             (sum(tot) OVER w - tot)::BIGINT AS lo,
             sum(tot) OVER w::BIGINT AS hi
      FROM g WINDOW w AS (ORDER BY q DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    o AS (SELECT sum(pos)::BIGINT AS p_total, sum(tot)::BIGINT AS n_total FROM g),
    d AS (
      SELECT i AS decile,
             ((i - 1) * n_total) // 10 AS dlo,
             (i * n_total) // 10 AS dhi
      FROM (SELECT unnest(range(1, 11)) AS i), o
    ),
    ov AS (
      SELECT d.decile, d.dhi - d.dlo AS n_rows,
             sum((1000000 * c.pos * (least(c.hi, d.dhi) - greatest(c.lo, d.dlo)))
                 // c.tot)::BIGINT AS capture_micro
      FROM d JOIN c ON c.lo < d.dhi AND c.hi > d.dlo
      GROUP BY d.decile, d.dhi - d.dlo
    )
    SELECT decile, n_rows, capture_micro,
           sum(capture_micro) OVER (ORDER BY decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
             AS cum_capture_micro,
           (sum(capture_micro) OVER (ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            // o.p_total)::BIGINT AS cum_gain_ppm
    FROM ov, o
    """,
    doc="cumulative gains table (the lift chart's data): rank the corpus "
    "by the quantity score descending, cut into population deciles, and "
    "report how much of the total positive (returned) mass each decile "
    "captures. Score ties straddling a decile boundary are prorated by "
    "interval overlap on the bounded grid — each (block x decile) share "
    "freezes to BIGINT micro-positives ((1e6*pos*overlap) div tot) so "
    "both engines sum identical integers; cum_gain_ppm/1e6 at decile d "
    "is the classic 'top d*10% of the ranking captures X% of positives'. "
    "One hash aggregate to the 50-value grid; the decile arithmetic is "
    "a 50x10-bounded overlap join. The campaign-targeting / review-"
    "prioritization read-out that complements AP's single number.",
)
def cumulative_gains_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    g = li.groupBy(F.col("l_quantity").cast("bigint").alias("q")).agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
        F.count("*").cast("bigint").alias("tot"),
    )
    w = Window.orderBy(F.desc("q")).rowsBetween(Window.unboundedPreceding, 0)
    c = g.select(
        "q",
        "pos",
        "tot",
        (F.sum("tot").over(w) - F.col("tot")).cast("bigint").alias("lo"),
        F.sum("tot").over(w).cast("bigint").alias("hi"),
    )
    o = g.agg(
        F.sum("pos").cast("bigint").alias("p_total"),
        F.sum("tot").cast("bigint").alias("n_total"),
    )
    d = (
        spark.range(1, 11)
        .select(F.col("id").alias("decile"))
        .crossJoin(F.broadcast(o))
        .select(
            "decile",
            F.expr("((decile - 1) * n_total) div 10").alias("dlo"),
            F.expr("(decile * n_total) div 10").alias("dhi"),
        )
    )
    ov = (
        d.join(c, (F.col("lo") < F.col("dhi")) & (F.col("hi") > F.col("dlo")))
        .groupBy("decile", (F.col("dhi") - F.col("dlo")).alias("n_rows"))
        .agg(
            F.sum(
                F.expr(
                    "(1000000 * pos * (least(hi, dhi) - greatest(lo, dlo))) div tot"
                )
            )
            .cast("bigint")
            .alias("capture_micro")
        )
    )
    wd = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return ov.crossJoin(F.broadcast(o)).select(
        "decile",
        "n_rows",
        "capture_micro",
        F.sum("capture_micro").over(wd).cast("bigint").alias("cum_capture_micro"),
        F.expr(
            "CAST(sum(capture_micro) OVER (ORDER BY decile "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) div p_total AS BIGINT)"
        ).alias("cum_gain_ppm"),
    )


# --- rank-1 ALS matrix factorization -----------------------------------------

_ALS_ROUNDS = 3


def _als_step(x: str) -> str:
    """One least-squares factor update Σ r·x / Σ x², frozen to BIGINT
    micro-units. num/den are exact BIGINT sums (< 2^53, so the DOUBLE casts
    and the single division are engine-exact); identical text both engines."""
    return (
        f"CAST(floor((CAST(sum(r * {x}) AS DOUBLE) / "
        f"CAST(sum({x} * {x}) AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)"
    )


_ALS_RES2 = (
    "CAST(floor((r - (u / 1e6) * (v / 1e6)) * (r - (u / 1e6) * (v / 1e6)) "
    "* 1e9 + 0.5) AS BIGINT)"
)


def _als_oracle() -> str:
    ctes = [
        "ratings AS MATERIALIZED (SELECT o_custkey AS c, l_partkey AS p, "
        "count(*)::BIGINT AS r FROM lineitem JOIN orders "
        "ON l_orderkey = o_orderkey GROUP BY 1, 2)",
        "v0 AS MATERIALIZED (SELECT DISTINCT p, 1000000::BIGINT AS v FROM ratings)",
    ]
    for i in range(1, _ALS_ROUNDS + 1):
        ctes.append(
            f"u{i} AS MATERIALIZED (SELECT c, {_als_step('v')} AS u "
            f"FROM ratings JOIN v{i - 1} USING (p) GROUP BY c)"
        )
        ctes.append(
            f"v{i} AS MATERIALIZED (SELECT p, {_als_step('u')} AS v "
            f"FROM ratings JOIN u{i} USING (c) GROUP BY p)"
        )
    k = _ALS_ROUNDS
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
    fit AS (
      SELECT count(*)::BIGINT AS n_ratings, sum({_ALS_RES2})::BIGINT AS sse_nano
      FROM ratings JOIN u{k} USING (c) JOIN v{k} USING (p)
    ),
    nr AS (SELECT p, count(*)::BIGINT AS n_raters FROM ratings GROUP BY p),
    ranked AS (
      SELECT v{k}.p AS part_key, v{k}.v AS v_micro, nr.n_raters,
             row_number() OVER (ORDER BY v{k}.v DESC, v{k}.p)::BIGINT AS rank
      FROM v{k} JOIN nr USING (p)
    )
    SELECT part_key, v_micro, n_raters, rank, f.n_ratings, f.sse_nano
    FROM ranked, fit f WHERE rank <= 15"""
    )


@register(
    "als_rank1_factorization",
    oracle=_als_oracle(),
    doc="model-based collaborative filtering trained in-engine: rank-1 ALS "
    "over the implicit customer x part purchase-count matrix (3 "
    "alternating rounds from v=1), converging to the dominant singular "
    "direction — the model-based tier next to copurchase_recommendations' "
    "memory-based item-item CF. Each half-step is ONE equi-join + ONE "
    "hash aggregate keyed by the factor side (the canonical ALS shuffle "
    "pattern: at 100 TB ratings are written bucketed by user AND by item "
    "so each half-step joins co-partitioned); factors freeze to BIGINT "
    "micro-units per half-step (num/den are exact <2^53 integer sums, so "
    "the single division is engine-exact and integer sums are order-"
    "free). Output: top-15 item factors + exact SSE of the rank-1 "
    "reconstruction. Oracle = the identical half-steps as a materialized "
    "CTE chain.",
)
def als_rank1_factorization(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    ratings = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .agg(F.count("*").cast("bigint").alias("r"))
        .localCheckpoint(eager=True)
    )
    v = (
        ratings.select("p")
        .distinct()
        .select("p", F.lit(1000000).cast("bigint").alias("v"))
        .localCheckpoint(eager=True)
    )
    u = None
    for _ in range(_ALS_ROUNDS):
        u = (
            ratings.join(v, "p")
            .groupBy("c")
            .agg(F.expr(_als_step("v")).alias("u"))
            .localCheckpoint(eager=True)
        )
        v = (
            ratings.join(u, "c")
            .groupBy("p")
            .agg(F.expr(_als_step("u")).alias("v"))
            .localCheckpoint(eager=True)
        )
    fit = (
        ratings.join(u, "c")
        .join(v, "p")
        .agg(
            F.count("*").cast("bigint").alias("n_ratings"),
            F.sum(F.expr(_ALS_RES2)).cast("bigint").alias("sse_nano"),
        )
    )
    nr = ratings.groupBy("p").agg(F.count("*").cast("bigint").alias("n_raters"))
    wr = Window.orderBy(F.desc("v"), "p")
    ranked = (
        v.join(nr, "p")
        .select(
            F.col("p").alias("part_key"),
            F.col("v").alias("v_micro"),
            "n_raters",
            F.row_number().over(wr).cast("bigint").alias("rank"),
        )
        .where(F.col("rank") <= 15)
    )
    return ranked.crossJoin(F.broadcast(fit))


@register(
    "hdr_histogram_quantiles",
    oracle="""
    WITH v AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem
    ),
    b AS (
      SELECT length(c::VARCHAR)::BIGINT AS d,
             c // power(10, length(c::VARCHAR) - 3)::BIGINT AS sub,
             count(*)::BIGINT AS n
      FROM v GROUP BY 1, 2
    ),
    cum AS (
      SELECT d, sub, n,
             sum(n) OVER (ORDER BY d, sub
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS hi,
             (sum(n) OVER (ORDER BY d, sub
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n)::BIGINT AS lo,
             sum(n) OVER ()::BIGINT AS nt
      FROM b
    ),
    exact AS (
      SELECT r.p_bp, v2.c AS exact_cents
      FROM (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM v) v2
      JOIN (SELECT unnest([5000, 9500, 9900]) AS p_bp) r
        ON v2.rn = (SELECT (p_bp * (count(*) - 1)) // 10000 + 1 FROM v)
    ),
    est AS (
      SELECT r.p_bp,
             min((2 * cum.sub + 1) * power(10, cum.d - 3)::BIGINT // 2) AS est_cents
      FROM (SELECT unnest([5000, 9500, 9900]) AS p_bp) r
      JOIN cum ON cum.lo < (r.p_bp * (cum.nt - 1)) // 10000 + 1
              AND cum.hi >= (r.p_bp * (cum.nt - 1)) // 10000 + 1
      GROUP BY r.p_bp
    )
    SELECT e.p_bp, est.est_cents, e.exact_cents,
           (10000 * abs(est.est_cents - e.exact_cents)) // e.exact_cents
             AS rel_err_bp,
           (10000 * abs(est.est_cents - e.exact_cents)) // e.exact_cents <= 100
             AS within_bound
    FROM exact e JOIN est USING (p_bp)
    """,
    doc="mergeable quantile sketch via a significant-digit histogram (the "
    "decimal HDR-histogram idea): every value lands in the bucket keyed "
    "by (digit count, first 3 significant digits) — PURE integer "
    "arithmetic (string length + integer div, no transcendentals, so "
    "bucket identity is trivially engine-exact), <= 0.5% relative error "
    "by construction, and the sketch is a tiny groupBy that merges "
    "across shards/days with a plain sum. p50/p95/p99 read off the "
    "cumulative bucket ranks (midpoint estimate) and are audited here "
    "against the exact discrete percentile with a within-1%-bound "
    "verdict both engines recompute. The 100 TB play: the exact side is "
    "a one-off audit; production reads the mergeable sketch only.",
)
def hdr_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    v = li.select(F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("c"))
    b = v.groupBy(
        F.length(F.col("c").cast("string")).cast("bigint").alias("d"),
        F.expr("c div CAST(power(10, length(CAST(c AS STRING)) - 3) AS BIGINT)").alias(
            "sub"
        ),
    ).agg(F.count("*").cast("bigint").alias("n"))
    wc = Window.orderBy("d", "sub").rowsBetween(Window.unboundedPreceding, 0)
    cum = b.select(
        "d",
        "sub",
        "n",
        F.sum("n").over(wc).cast("bigint").alias("hi"),
        (F.sum("n").over(wc) - F.col("n")).cast("bigint").alias("lo"),
        F.sum("n").over(Window.partitionBy()).cast("bigint").alias("nt"),
    )
    ps = spark.range(1).select(
        F.explode(F.array(F.lit(5000), F.lit(9500), F.lit(9900))).alias("p_bp")
    )
    est = (
        ps.join(
            cum,
            (F.col("lo") < F.expr("(p_bp * (nt - 1)) div 10000 + 1"))
            & (F.col("hi") >= F.expr("(p_bp * (nt - 1)) div 10000 + 1")),
        )
        .groupBy("p_bp")
        .agg(
            F.min(
                F.expr("((2 * sub + 1) * CAST(power(10, d - 3) AS BIGINT)) div 2")
            ).alias("est_cents")
        )
    )
    # exact audit side by value-grid rank-select (operators/rankselect.py):
    # the grid row whose (cum-cnt, cum] rank interval contains the target —
    # identical to row_number on raw rows because the k-th row in value
    # order carries the k-th order statistic.
    from map_reduce_engine_spark.operators.rankselect import value_grid_cum

    cumx = value_grid_cum(v, "c")
    nrow = v.agg(F.count("*").cast("bigint").alias("n_total"))
    exact = (
        ps.crossJoin(F.broadcast(nrow))
        .select("p_bp", F.expr("(p_bp * (n_total - 1)) div 10000 + 1").alias("k"))
        .join(
            cumx,
            (F.col("cum") - F.col("cnt") < F.col("k"))
            & (F.col("cum") >= F.col("k")),
        )
        .select("p_bp", F.col("c").alias("exact_cents"))
    )
    return exact.join(est, "p_bp").select(
        "p_bp",
        "est_cents",
        "exact_cents",
        F.expr("(10000 * abs(est_cents - exact_cents)) div exact_cents").alias(
            "rel_err_bp"
        ),
        (
            F.expr("(10000 * abs(est_cents - exact_cents)) div exact_cents") <= 100
        ).alias("within_bound"),
    )


# --- Markov-chain removal-effect attribution ---------------------------------

_ATTR_CH = ["click", "error", "signup", "view"]
_ATTR_ROUNDS = 14

# transition extraction shared conceptually by both engines: journeys are
# per-user event sequences truncated at the FIRST purchase (inclusive);
# purchase absorbs to 'conv', sequence exhaustion absorbs to 'null'.
_ATTR_TRANS_SQL = """
    j AS MATERIALIZED (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    fp AS MATERIALIZED (
      SELECT user_id, min(rn) AS prn FROM j WHERE event_type = 'purchase'
      GROUP BY user_id
    ),
    trunc AS MATERIALIZED (
      SELECT j.user_id, j.event_type, j.rn, fp.prn
      FROM j LEFT JOIN fp USING (user_id)
      WHERE fp.prn IS NULL OR j.rn <= fp.prn
    ),
    trans AS MATERIALIZED (
      SELECT 'start' AS s,
             CASE WHEN event_type = 'purchase' THEN 'conv' ELSE event_type END AS s2
      FROM trunc WHERE rn = 1
      UNION ALL
      SELECT prev AS s,
             CASE WHEN event_type = 'purchase' THEN 'conv' ELSE event_type END AS s2
      FROM (
        SELECT event_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY rn) AS prev
        FROM trunc
      ) WHERE prev IS NOT NULL
      UNION ALL
      SELECT t.event_type AS s, 'null' AS s2
      FROM trunc t
      JOIN (SELECT user_id, max(rn) AS mx FROM trunc GROUP BY user_id) m
        ON t.user_id = m.user_id AND t.rn = m.mx
      WHERE t.prn IS NULL
    )
"""


def _attr_round_expr(s: str, removed: str | None) -> str:
    terms = [
        f"(r.v_{s2} / 1e9) * m.c_{s}_{s2} / m.rt_{s}"
        for s2 in _ATTR_CH
        if s2 != removed
    ]
    terms.append(f"m.c_{s}_conv / m.rt_{s}")
    return f"CAST(floor(({' + '.join(terms)}) * 1e9 + 0.5) AS BIGINT) AS v_{s}"


def _attr_oracle() -> str:
    cells = [
        f"sum(CASE WHEN s = '{a}' AND s2 = '{b}' THEN 1 ELSE 0 END)::BIGINT AS c_{a}_{b}"
        for a in ["start"] + _ATTR_CH
        for b in _ATTR_CH + ["conv"]
    ]
    rts = [
        f"sum(CASE WHEN s = '{a}' THEN 1 ELSE 0 END)::BIGINT AS rt_{a}"
        for a in ["start"] + _ATTR_CH
    ]
    ctes = [
        _ATTR_TRANS_SQL.strip(),
        "m AS MATERIALIZED (SELECT " + ", ".join(cells + rts) + " FROM trans)",
    ]
    runs = [("base", None)] + [(c, c) for c in _ATTR_CH]
    for run, removed in runs:
        active = [s for s in _ATTR_CH if s != removed]
        ctes.append(
            f"r_{run}_0 AS MATERIALIZED (SELECT "
            + ", ".join(f"0::BIGINT AS v_{s}" for s in active)
            + ")"
        )
        for k in range(1, _ATTR_ROUNDS + 1):
            ctes.append(
                f"r_{run}_{k} AS MATERIALIZED (SELECT "
                + ", ".join(_attr_round_expr(s, removed) for s in active)
                + f" FROM r_{run}_{k - 1} r, m)"
            )
        start_terms = [
            f"(r.v_{s2} / 1e9) * m.c_start_{s2} / m.rt_start"
            for s2 in active
        ] + ["m.c_start_conv / m.rt_start"]
        ctes.append(
            f"start_{run} AS MATERIALIZED (SELECT "
            f"CAST(floor(({' + '.join(start_terms)}) * 1e9 + 0.5) AS BIGINT) AS s "
            f"FROM r_{run}_{_ATTR_ROUNDS} r, m)"
        )
    unions = "\n      UNION ALL ".join(
        f"SELECT '{c}' AS channel, b.s AS base_conv_ppb, x.s AS removal_conv_ppb "
        f"FROM start_base b, start_{c} x"
        for c in _ATTR_CH
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
    re AS (
      {unions}
    ),
    re2 AS (
      SELECT channel, base_conv_ppb, removal_conv_ppb,
             greatest(0, 1000000 - (1000000 * removal_conv_ppb) // base_conv_ppb)
               AS removal_effect_ppm
      FROM re
    ),
    tot AS (SELECT sum(removal_effect_ppm)::BIGINT AS t FROM re2)
    SELECT channel, base_conv_ppb, removal_conv_ppb, removal_effect_ppm,
           CASE WHEN t = 0 THEN 0::BIGINT
                ELSE (1000000 * removal_effect_ppm) // t END AS attribution_share_ppm
    FROM re2, tot"""
    )


@register(
    "markov_attribution_removal",
    oracle=_attr_oracle(),
    doc="Markov-chain attribution by removal effect (the model-based "
    "answer to multitouch_attribution's positional heuristics): user "
    "journeys truncated at first purchase become a first-order chain "
    "over channels with absorbing conv/null states; each channel's "
    "removal effect is 1 - P(conv | channel deleted)/P(conv), absorption "
    "probabilities via 14 fixed-point rounds frozen to integer ppb "
    "(identical IEEE arithmetic both engines — the markov_stationary "
    "discipline), shares normalized in exact ppm. The corpus cost is ONE "
    "ranked window pass + one aggregate to the (|channels|+1)^2 matrix "
    "(bounded driver state); all 5 chain evaluations are "
    "O(|channels|^2 * rounds) arithmetic — constant at 100 TB. Oracle = "
    "all five runs unrolled as materialized CTE chains.",
)
def markov_attribution_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    j = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    )
    fp = (
        j.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("prn"))
    )
    trunc = j.join(fp, "user_id", "left").where(
        F.col("prn").isNull() | (F.col("rn") <= F.col("prn"))
    )
    absorb = F.when(F.col("event_type") == "purchase", "conv").otherwise(
        F.col("event_type")
    )
    first = trunc.where(F.col("rn") == 1).select(
        F.lit("start").alias("s"), absorb.alias("s2")
    )
    wl = Window.partitionBy("user_id").orderBy("rn")
    mid = (
        trunc.select("user_id", "rn", "event_type")
        .withColumn("prev", F.lag("event_type").over(wl))
        .where(F.col("prev").isNotNull())
        .select(F.col("prev").alias("s"), absorb.alias("s2"))
    )
    last = (
        trunc.withColumn("mx", F.max("rn").over(Window.partitionBy("user_id")))
        .where(F.col("prn").isNull() & (F.col("rn") == F.col("mx")))
        .select(F.col("event_type").alias("s"), F.lit("null").alias("s2"))
    )
    trans = first.unionByName(mid).unionByName(last)
    grid = trans.groupBy("s", "s2").agg(F.count("*").alias("n"))
    counts = {
        (r.s, r.s2): r.n
        for r in collect_bounded(grid, _MARKOV_MAX_CELLS, "markov_attribution_removal")
    }
    states = ["start"] + _ATTR_CH
    cm = {
        a: {b: counts.get((a, b), 0) for b in _ATTR_CH + ["conv", "null"]}
        for a in states
    }
    rt = {a: sum(cm[a].values()) for a in states}

    def run(removed: str | None) -> int | None:
        active = [s for s in _ATTR_CH if s != removed]
        if 0 in (rt[s] for s in active + ["start"]):
            return None  # the oracle's x / 0 is NULL; by round 2 every state has it
        v = {s: 0 for s in active}
        for _ in range(_ATTR_ROUNDS):
            nv = {}
            for s in active:
                tot = 0.0
                for s2 in active:
                    tot += (v[s2] / 1e9) * cm[s][s2] / rt[s]
                tot += cm[s]["conv"] / rt[s]
                nv[s] = math.floor(tot * 1e9 + 0.5)
            v = nv
        tot = 0.0
        for s2 in active:
            tot += (v[s2] / 1e9) * cm["start"][s2] / rt["start"]
        tot += cm["start"]["conv"] / rt["start"]
        return math.floor(tot * 1e9 + 0.5)

    base = run(None)
    rm = {c: run(c) for c in _ATTR_CH}
    # DuckDB's NULL or x // 0 inside greatest(0, ...) leaves 0
    re_ppm = {
        c: 0
        if not base or rm[c] is None
        else max(0, 1000000 - (1000000 * rm[c]) // base)
        for c in _ATTR_CH
    }
    tot_re = sum(re_ppm.values())
    share = {c: 0 if tot_re == 0 else (1000000 * re_ppm[c]) // tot_re for c in _ATTR_CH}
    return local_rows(
        spark,
        [(c, base, rm[c], re_ppm[c], share[c]) for c in _ATTR_CH],
        "channel string, base_conv_ppb bigint, removal_conv_ppb bigint, "
        "removal_effect_ppm bigint, attribution_share_ppm bigint",
    )


_DB_GEO_H = (
    "(('0x' || substr(md5('{tag}:' || c_custkey), 1, 8))::BIGINT & 2147483647)::DOUBLE"
)


@register(
    "dbscan_grid_clusters",
    oracle=f"""
    WITH RECURSIVE pts AS (
      SELECT c_custkey AS id,
             -10.0 + 20.0 * {_DB_GEO_H.format(tag="lat")} / 2147483648.0 AS lat,
             -20.0 + 40.0 * {_DB_GEO_H.format(tag="lon")} / 2147483648.0 AS lon
      FROM customer
    ),
    cells AS (
      SELECT CAST(floor(lon) AS BIGINT) AS cx, CAST(floor(lat) AS BIGINT) AS cy,
             count(*)::BIGINT AS n
      FROM pts GROUP BY 1, 2
    ),
    st AS (SELECT sum(n)::BIGINT AS s, count(*)::BIGINT AS c FROM cells),
    core AS (
      SELECT cx, cy, n, (cy + 100) * 1000 + (cx + 200) AS id
      FROM cells, st WHERE n >= (2 * s) // c + 1
    ),
    e AS (
      SELECT a.id AS u, b.id AS v
      FROM core a JOIN core b
        ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1 AND a.id <> b.id
    ),
    walk(node, lab) AS (
      SELECT id, id FROM core
      UNION
      SELECT e.v, w.lab FROM walk w JOIN e ON e.u = w.node
    ),
    lbl AS (SELECT node, min(lab)::BIGINT AS cluster FROM walk GROUP BY node)
    SELECT lbl.cluster, count(*)::BIGINT AS n_cells, sum(core.n)::BIGINT AS n_points,
           min(core.cx) AS min_cx, max(core.cx) AS max_cx,
           min(core.cy) AS min_cy, max(core.cy) AS max_cy
    FROM core JOIN lbl ON core.id = lbl.node
    GROUP BY lbl.cluster
    """,
    doc="density-based spatial clustering (grid DBSCAN): hash-derived "
    "customer points snap to 1-degree cells, core cells are those at "
    "least 2x the mean occupied-cell density (adaptive threshold — "
    "scale-free, so the operator is meaningful at every SF), and "
    "clusters are connected components of the 8-neighborhood core-cell "
    "graph (operators/graph.py::connected_components — the same Pregel "
    "min-label loop that powers dedup clustering), with isolated core "
    "cells as singletons. Reports per-cluster cell/point counts and "
    "bounding boxes. Scale shape: one shuffle to the cell grid, a "
    "grid-bounded adjacency join, and the component loop over CELLS "
    "(thousands at planetary scale), never points. Oracle = recursive-"
    "CTE label reachability over the same graph.",
)
def dbscan_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.dedup import portable_base31
    from map_reduce_engine_spark.operators.graph import connected_components

    cust = t(spark, sf_dir, "customer")

    def h(tag: str):
        return portable_base31(
            F.concat(F.lit(f"{tag}:"), F.col("c_custkey").cast("string"))
        ).cast("double")

    pts = cust.select(
        (F.lit(-10.0) + F.lit(20.0) * h("lat") / F.lit(2147483648.0)).alias("lat"),
        (F.lit(-20.0) + F.lit(40.0) * h("lon") / F.lit(2147483648.0)).alias("lon"),
    )
    cells = pts.groupBy(
        F.floor("lon").cast("bigint").alias("cx"),
        F.floor("lat").cast("bigint").alias("cy"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    st = cells.agg(
        F.sum("n").cast("bigint").alias("s"), F.count("*").cast("bigint").alias("c")
    )
    core = (
        cells.crossJoin(F.broadcast(st))
        .where(F.expr("n >= (2 * s) div c + 1"))
        .select(
            "cx", "cy", "n", ((F.col("cy") + 100) * 1000 + F.col("cx") + 200).alias("id")
        )
    )
    a, b = core.alias("a"), core.alias("b")
    edges = a.join(
        b,
        (F.abs(F.col("a.cx") - F.col("b.cx")) <= 1)
        & (F.abs(F.col("a.cy") - F.col("b.cy")) <= 1)
        & (F.col("a.id") < F.col("b.id")),
    ).select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
    cc = connected_components(edges)
    lbl = core.join(cc, core.id == cc.node, "left").select(
        "cx", "cy", "n", F.coalesce("component", "id").alias("cluster")
    )
    return lbl.groupBy("cluster").agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.sum("n").cast("bigint").alias("n_points"),
        F.min("cx").alias("min_cx"),
        F.max("cx").alias("max_cx"),
        F.min("cy").alias("min_cy"),
        F.max("cy").alias("max_cy"),
    )


@register(
    "propensity_strata_ate",
    oracle="""
    WITH s AS (
      SELECT (CAST(l_quantity AS BIGINT) - 1) // 10 AS stratum,
             CASE WHEN l_discount > 0 THEN 1 ELSE 0 END AS t,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    g AS (
      SELECT stratum, count(*)::BIGINT AS n_s,
             sum(t)::BIGINT AS n_treated,
             sum(1 - t)::BIGINT AS n_control,
             CAST((1000000 * CAST(sum(t * y) AS BIGINT))
                  // CAST(sum(t) AS BIGINT) AS BIGINT) AS rate_t_ppm,
             CAST((1000000 * CAST(sum((1 - t) * y) AS BIGINT))
                  // CAST(sum(1 - t) AS BIGINT) AS BIGINT) AS rate_c_ppm
      FROM s GROUP BY stratum
    ),
    o AS (
      SELECT CAST(CAST(sum(g.n_s * (g.rate_t_ppm - g.rate_c_ppm)) AS BIGINT)
                  // CAST(sum(g.n_s) AS BIGINT) AS BIGINT) AS ate_ppm
      FROM g
    ),
    naive AS (
      SELECT CAST((1000000 * CAST(sum(t * y) AS BIGINT))
                    // CAST(sum(t) AS BIGINT)
                  - (1000000 * CAST(sum((1 - t) * y) AS BIGINT))
                    // CAST(sum(1 - t) AS BIGINT) AS BIGINT) AS naive_diff_ppm
      FROM s
    )
    SELECT stratum, n_s, n_treated, n_control, rate_t_ppm, rate_c_ppm,
           rate_t_ppm - rate_c_ppm AS diff_ppm, o.ate_ppm, naive.naive_diff_ppm
    FROM g CROSS JOIN o CROSS JOIN naive
    """,
    doc="stratified-adjustment average treatment effect: treatment = any "
    "discount, outcome = returned, stratified on the quantity confounder "
    "(5 strata — the propensity-stratification recipe with a known "
    "scalar confounder). Per-stratum treated/control return rates in "
    "exact ppm, the population-weighted ATE, and the UNADJUSTED naive "
    "difference beside it (their gap is the confounding bias the "
    "stratification removed) — the causal-inference companion to "
    "promo_effect_did's diff-in-diff. One hash aggregate to 5 strata; "
    "1-row ATE/naive broadcasts. Linear at any scale.",
)
def propensity_strata_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    s = li.select(
        F.expr("(CAST(l_quantity AS BIGINT) - 1) div 10").alias("stratum"),
        F.when(F.col("l_discount") > 0, 1).otherwise(0).alias("t"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    g = s.groupBy("stratum").agg(
        F.count("*").cast("bigint").alias("n_s"),
        F.sum("t").cast("bigint").alias("n_treated"),
        F.sum(1 - F.col("t")).cast("bigint").alias("n_control"),
        F.expr("(1000000 * sum(t * y)) div sum(t)").alias("rate_t_ppm"),
        F.expr("(1000000 * sum((1 - t) * y)) div sum(1 - t)").alias("rate_c_ppm"),
    )
    o = g.agg(
        F.expr("sum(n_s * (rate_t_ppm - rate_c_ppm)) div sum(n_s)").alias("ate_ppm")
    )
    naive = s.agg(
        F.expr(
            "(1000000 * sum(t * y)) div sum(t) "
            "- (1000000 * sum((1 - t) * y)) div sum(1 - t)"
        ).alias("naive_diff_ppm")
    )
    return (
        g.crossJoin(F.broadcast(o))
        .crossJoin(F.broadcast(naive))
        .select(
            "stratum",
            "n_s",
            "n_treated",
            "n_control",
            "rate_t_ppm",
            "rate_c_ppm",
            (F.col("rate_t_ppm") - F.col("rate_c_ppm")).alias("diff_ppm"),
            "ate_ppm",
            "naive_diff_ppm",
        )
    )


# Shared log-rank z over frozen sums: O1, E1 (nano), V (nano).
_LOGRANK_Z = (
    "(CASE WHEN v_nano = 0 THEN 0.0 "
    "ELSE (o1 - e1_nano / 1e9) / sqrt(v_nano / 1e9) END)"
)


@register(
    "logrank_test",
    oracle=f"""
    WITH u AS (
      SELECT user_id, user_id % 2 AS grp,
             min(ts::DATE) AS first_day, max(ts::DATE) AS last_day
      FROM events GROUP BY user_id
    ),
    d AS (
      SELECT grp, date_diff('day', first_day, last_day) AS dur,
             (last_day >= DATE '2024-01-28') AS censored
      FROM u
    ),
    per AS (
      SELECT dur, grp, count(*)::BIGINT AS n_users,
             sum(CASE WHEN censored THEN 0 ELSE 1 END)::BIGINT AS n_churned
      FROM d GROUP BY dur, grp
    ),
    grid AS (
      SELECT t.dur, g.grp, coalesce(per.n_users, 0)::BIGINT AS n_users,
             coalesce(per.n_churned, 0)::BIGINT AS n_churned
      FROM (SELECT DISTINCT dur FROM per) t
      CROSS JOIN (SELECT unnest([0, 1]) AS grp) g
      LEFT JOIN per ON per.dur = t.dur AND per.grp = g.grp
    ),
    risk AS (
      SELECT dur, grp, n_churned,
             CAST(sum(n_users) OVER (PARTITION BY grp ORDER BY dur DESC
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS at_risk
      FROM grid
    ),
    tt AS (
      SELECT dur,
             sum(CASE WHEN grp = 0 THEN at_risk ELSE 0 END)::BIGINT AS n1,
             sum(CASE WHEN grp = 1 THEN at_risk ELSE 0 END)::BIGINT AS n2,
             sum(CASE WHEN grp = 0 THEN n_churned ELSE 0 END)::BIGINT AS d1,
             sum(n_churned)::BIGINT AS dt
      FROM risk GROUP BY dur
    ),
    terms AS (
      SELECT d1,
             CAST(floor(1e9 * dt * n1 / (n1 + n2) + 0.5) AS BIGINT) AS e1_t,
             CASE WHEN n1 + n2 > 1 THEN
               CAST(floor(1e9 * (dt * (n1 + n2 - dt) * n1 * n2)
                 / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0)) + 0.5) AS BIGINT)
             ELSE 0 END AS v_t
      FROM tt WHERE dt > 0
    ),
    m AS (
      SELECT coalesce(sum(d1), 0)::BIGINT AS o1,
             coalesce(sum(e1_t), 0)::BIGINT AS e1_nano,
             coalesce(sum(v_t), 0)::BIGINT AS v_nano
      FROM terms
    )
    SELECT o1, e1_nano, v_nano,
           round({_LOGRANK_Z}, 4) AS z,
           abs(round({_LOGRANK_Z}, 4)) > 1.96 AS significant
    FROM m
    """,
    doc="log-rank test comparing the churn curves of two user cohorts "
    "(even vs odd user id — the A/B assignment hash in miniature): at "
    "each churn time the observed group-1 churn is compared against the "
    "hypergeometric expectation given the shared risk set, with the "
    "standard variance; the significance test for the Kaplan-Meier "
    "curves kaplan_meier_retention draws (same duration/censoring "
    "definitions). Per-time E/V terms freeze to BIGINT nano-units so "
    "both engines sum identical integers; z is one shared formula over "
    "the three frozen sums. All windows run on the calendar-bounded "
    "duration grid, never raw events.",
)
def logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day"),
        F.max(F.to_date("ts")).alias("last_day"),
    )
    d = u.select(
        (F.col("user_id") % 2).alias("grp"),
        F.datediff("last_day", "first_day").alias("dur"),
        (F.col("last_day") >= F.lit("2024-01-28").cast("date")).alias("censored"),
    )
    per = d.groupBy("dur", "grp").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum(F.when(F.col("censored"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_churned"),
    )
    durs = per.select("dur").distinct()
    grps = spark.range(2).select(F.col("id").alias("grp"))
    grid = (
        durs.crossJoin(F.broadcast(grps))
        .join(per, ["dur", "grp"], "left")
        .select(
            "dur",
            "grp",
            F.coalesce("n_users", F.lit(0)).cast("bigint").alias("n_users"),
            F.coalesce("n_churned", F.lit(0)).cast("bigint").alias("n_churned"),
        )
    )
    wr = (
        Window.partitionBy("grp")
        .orderBy(F.desc("dur"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    risk = grid.select(
        "dur", "grp", "n_churned", F.sum("n_users").over(wr).cast("bigint").alias("at_risk")
    )
    tt = risk.groupBy("dur").agg(
        F.sum(F.when(F.col("grp") == 0, F.col("at_risk")).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("grp") == 1, F.col("at_risk")).otherwise(0))
        .cast("bigint")
        .alias("n2"),
        F.sum(F.when(F.col("grp") == 0, F.col("n_churned")).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum("n_churned").cast("bigint").alias("dt"),
    )
    terms = tt.where(F.col("dt") > 0).select(
        "d1",
        F.expr("CAST(floor(1e9 * dt * n1 / (n1 + n2) + 0.5) AS BIGINT)").alias("e1_t"),
        F.expr(
            "CASE WHEN n1 + n2 > 1 THEN "
            "CAST(floor(1e9 * (dt * (n1 + n2 - dt) * n1 * n2) "
            "/ ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0)) + 0.5) AS BIGINT) "
            "ELSE 0 END"
        ).alias("v_t"),
    )
    m = terms.agg(
        F.coalesce(F.sum("d1"), F.lit(0)).cast("bigint").alias("o1"),
        F.coalesce(F.sum("e1_t"), F.lit(0)).cast("bigint").alias("e1_nano"),
        F.coalesce(F.sum("v_t"), F.lit(0)).cast("bigint").alias("v_nano"),
    )
    zc = F.round(F.expr(_LOGRANK_Z), 4)
    return m.select(
        "o1", "e1_nano", "v_nano", zc.alias("z"), (F.abs(zc) > 1.96).alias("significant")
    )


# --- ridge regularization path with 2-fold CV --------------------------------

_RIDGE_LAMBDAS = [0, 10000, 1000000, 100000000]


def _ridge_betas() -> dict[str, str]:
    """Cramer solve of (X'X + lambda*diag(0,1,1)) b = X'y over pre-cast
    DOUBLE moment columns (mn, sx1, sx2, s11, s12, s22, sy0, s1y, s2y)
    and the DOUBLE penalty column lam — identical text both engines."""
    a00, a01, a02 = "mn", "sx1", "sx2"
    a11, a12, a22 = "(s11 + lam)", "s12", "(s22 + lam)"
    g0, g1, g2 = "sy0", "s1y", "s2y"
    det = (
        f"({a00} * ({a11} * {a22} - {a12} * {a12}) "
        f"- {a01} * ({a01} * {a22} - {a12} * {a02}) "
        f"+ {a02} * ({a01} * {a12} - {a11} * {a02}))"
    )
    n0 = (
        f"({g0} * ({a11} * {a22} - {a12} * {a12}) "
        f"- {a01} * ({g1} * {a22} - {a12} * {g2}) "
        f"+ {a02} * ({g1} * {a12} - {a11} * {g2}))"
    )
    n1 = (
        f"({a00} * ({g1} * {a22} - {g2} * {a12}) "
        f"- {g0} * ({a01} * {a22} - {a12} * {a02}) "
        f"+ {a02} * ({a01} * {g2} - {g1} * {a02}))"
    )
    n2 = (
        f"({a00} * ({a11} * {g2} - {a12} * {g1}) "
        f"- {a01} * ({a01} * {g2} - {g1} * {a02}) "
        f"+ {g0} * ({a01} * {a12} - {a11} * {a02}))"
    )
    return {k: f"({n} / {det})" for k, n in zip(["b0", "b1", "b2"], [n0, n1, n2])}


_RIDGE_YHAT = "(b0 + b1 * CAST(q AS DOUBLE) + b2 * CAST(qd AS DOUBLE))"
_RIDGE_SSE_CELL = (
    f"CAST(floor(CAST(syy AS DOUBLE) - 2.0 * {_RIDGE_YHAT} * CAST(sy AS DOUBLE) "
    f"+ CAST(n AS DOUBLE) * {_RIDGE_YHAT} * {_RIDGE_YHAT} + 0.5) AS BIGINT)"
)
_RIDGE_MOMS = (
    "CAST(sum(n) AS DOUBLE) AS mn, CAST(sum(n * q) AS DOUBLE) AS sx1, "
    "CAST(sum(n * qd) AS DOUBLE) AS sx2, CAST(sum(n * q * q) AS DOUBLE) AS s11, "
    "CAST(sum(n * q * qd) AS DOUBLE) AS s12, "
    "CAST(sum(n * qd * qd) AS DOUBLE) AS s22, CAST(sum(sy) AS DOUBLE) AS sy0, "
    "CAST(sum(q * sy) AS DOUBLE) AS s1y, CAST(sum(qd * sy) AS DOUBLE) AS s2y"
)


def _ridge_oracle() -> str:
    b = _ridge_betas()
    lam_list = ", ".join(str(x) for x in _RIDGE_LAMBDAS)
    bsel = ", ".join(f"{e} AS {k}" for k, e in b.items())
    return f"""
    WITH cells AS MATERIALIZED (
      SELECT l_orderkey % 2 AS fold, CAST(l_quantity AS BIGINT) AS q,
             CAST(round(l_discount * 100) AS BIGINT) AS qd,
             count(*)::BIGINT AS n,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT AS sy,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT AS syy
      FROM lineitem GROUP BY 1, 2, 3
    ),
    mom AS MATERIALIZED (SELECT fold, {_RIDGE_MOMS} FROM cells GROUP BY fold),
    momall AS MATERIALIZED (SELECT {_RIDGE_MOMS} FROM cells),
    lams AS (SELECT lam_i, CAST(lam_i AS DOUBLE) AS lam
             FROM (SELECT unnest([{lam_list}]) AS lam_i)),
    fits AS MATERIALIZED (SELECT mom.fold, lams.lam_i, {bsel} FROM mom, lams),
    val AS (
      SELECT f.lam_i, sum({_RIDGE_SSE_CELL})::BIGINT AS cv_sse_unit
      FROM fits f JOIN cells c ON c.fold <> f.fold
      GROUP BY f.lam_i
    ),
    fullfit AS (SELECT lams.lam_i, {bsel} FROM momall, lams),
    out1 AS (
      SELECT v.lam_i AS lambda, v.cv_sse_unit,
             CAST(floor(fu.b0 * 1e6 + 0.5) AS BIGINT) AS b0_micro,
             CAST(floor(fu.b1 * 1e6 + 0.5) AS BIGINT) AS b1_micro,
             CAST(floor(fu.b2 * 1e6 + 0.5) AS BIGINT) AS b2_micro
      FROM val v JOIN fullfit fu ON fu.lam_i = v.lam_i
    )
    SELECT *, cv_sse_unit = min(cv_sse_unit) OVER () AS is_best FROM out1
    """


@register(
    "ridge_lambda_path",
    oracle=_ridge_oracle(),
    doc="ridge-regression regularization path with 2-fold cross-"
    "validation, entirely closed-form: price-cents ~ quantity + discount "
    "on the bounded 50x11 feature grid; per-fold X'X/X'y moments are "
    "exact BIGINT sums (the multiple_regression pattern), each "
    "(fold, lambda) fit is one shared-text 3x3 Cramer solve with the "
    "penalty added to the slope diagonal, validation SSE evaluates on "
    "the OPPOSITE fold's cells via the sufficient-statistic identity "
    "syy - 2*yhat*sy + n*yhat^2 frozen to whole cents^2 per cell "
    "(order-free integer sums), and the winning lambda is flagged — "
    "in-engine hyperparameter selection with zero data re-scans beyond "
    "ONE grid aggregate. Full-data betas reported per lambda in integer "
    "micro-units.",
)
def ridge_lambda_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    cells = (
        li.groupBy(
            (F.col("l_orderkey") % 2).alias("fold"),
            F.col("l_quantity").cast("bigint").alias("q"),
            F.round(F.col("l_discount") * 100).cast("bigint").alias("qd"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(cents).cast("bigint").alias("sy"),
            F.sum(cents * cents).cast("bigint").alias("syy"),
        )
        .localCheckpoint(eager=True)
    )
    moms = [F.expr(e) for e in _RIDGE_MOMS.split(", ")]
    mom = cells.groupBy("fold").agg(*moms)
    momall = cells.agg(*moms)
    lams = spark.createDataFrame(
        [(x,) for x in _RIDGE_LAMBDAS], "lam_i bigint"
    ).select("lam_i", F.col("lam_i").cast("double").alias("lam"))
    b = _ridge_betas()
    bsel = [F.expr(e).alias(k) for k, e in b.items()]
    fits = mom.crossJoin(F.broadcast(lams)).select("fold", "lam_i", *bsel)
    val = (
        fits.alias("f")
        .join(cells.alias("c"), F.col("c.fold") != F.col("f.fold"))
        .groupBy("lam_i")
        .agg(F.sum(F.expr(_RIDGE_SSE_CELL)).cast("bigint").alias("cv_sse_unit"))
    )
    full = momall.crossJoin(F.broadcast(lams)).select("lam_i", *bsel)
    out1 = val.join(full, "lam_i").select(
        F.col("lam_i").alias("lambda"),
        "cv_sse_unit",
        F.expr("CAST(floor(b0 * 1e6 + 0.5) AS BIGINT)").alias("b0_micro"),
        F.expr("CAST(floor(b1 * 1e6 + 0.5) AS BIGINT)").alias("b1_micro"),
        F.expr("CAST(floor(b2 * 1e6 + 0.5) AS BIGINT)").alias("b2_micro"),
    )
    return out1.select(
        "*",
        (
            F.col("cv_sse_unit")
            == F.min("cv_sse_unit").over(Window.partitionBy())
        ).alias("is_best"),
    )


# --- two-round gradient-boosted regression stumps ----------------------------

# split gain 'Sl^2/nl + Sr^2/nr' frozen to whole units (the only doubles in
# the operator; everything else is exact integer arithmetic)
_GBM_GAIN = (
    "CAST(floor(CAST(sl AS DOUBLE) * sl / nl + CAST(sr AS DOUBLE) * sr / nr + 0.5)"
    " AS BIGINT)"
)


@register(
    "gbm_two_round_stumps",
    oracle=f"""
    WITH cells AS MATERIALIZED (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(round(l_discount * 100) AS BIGINT) AS qd,
             count(*)::BIGINT AS n,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT AS sy,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT AS syy
      FROM lineitem GROUP BY 1, 2
    ),
    tot AS MATERIALIZED (
      SELECT sum(n)::BIGINT AS nt, sum(sy)::BIGINT AS st, sum(syy)::BIGINT AS yyt
      FROM cells
    ),
    g1 AS MATERIALIZED (
      SELECT q, sum(n)::BIGINT AS n, sum(sy)::BIGINT AS sy FROM cells GROUP BY q
    ),
    p1 AS (
      SELECT q AS s,
             sum(n) OVER w::BIGINT AS nl, sum(sy) OVER w::BIGINT AS sl
      FROM g1 WINDOW w AS (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    s1 AS MATERIALIZED (
      SELECT s, nl, sl, nt - nl AS nr, st - sl AS sr,
             sl // nl AS pl, (st - sl) // (nt - nl) AS pr
      FROM p1, tot WHERE nl > 0 AND nt - nl > 0
      ORDER BY {_GBM_GAIN} DESC, s LIMIT 1
    ),
    r2 AS MATERIALIZED (
      SELECT c.qd,
             sum(c.n)::BIGINT AS n,
             sum(c.sy - c.n * CASE WHEN c.q <= s1.s THEN s1.pl ELSE s1.pr END)::BIGINT AS sy,
             sum(c.syy - 2 * CASE WHEN c.q <= s1.s THEN s1.pl ELSE s1.pr END * c.sy
                 + c.n * CASE WHEN c.q <= s1.s THEN s1.pl ELSE s1.pr END
                       * CASE WHEN c.q <= s1.s THEN s1.pl ELSE s1.pr END)::BIGINT AS syy
      FROM cells c, s1 GROUP BY c.qd
    ),
    tot2 AS MATERIALIZED (
      SELECT sum(n)::BIGINT AS nt, sum(sy)::BIGINT AS st, sum(syy)::BIGINT AS yyt
      FROM r2
    ),
    p2 AS (
      SELECT qd AS s, sum(n) OVER w::BIGINT AS nl, sum(sy) OVER w::BIGINT AS sl
      FROM r2 WINDOW w AS (ORDER BY qd ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    s2 AS MATERIALIZED (
      SELECT p2.s, nl, sl, tot2.nt - nl AS nr, tot2.st - sl AS sr,
             sl // nl AS pl, (tot2.st - sl) // (tot2.nt - nl) AS pr
      FROM p2, tot2 WHERE nl > 0 AND tot2.nt - nl > 0
      ORDER BY {_GBM_GAIN} DESC, p2.s LIMIT 1
    ),
    sse0 AS (SELECT yyt - 2 * (st // nt) * st + nt * (st // nt) * (st // nt) AS v FROM tot),
    sse1 AS (SELECT yyt FROM tot2),
    sse2 AS (
      SELECT sum(r2.syy - 2 * CASE WHEN r2.qd <= s2.s THEN s2.pl ELSE s2.pr END * r2.sy
                 + r2.n * CASE WHEN r2.qd <= s2.s THEN s2.pl ELSE s2.pr END
                       * CASE WHEN r2.qd <= s2.s THEN s2.pl ELSE s2.pr END)::BIGINT AS v
      FROM r2, s2
    )
    SELECT 1::BIGINT AS round, 'quantity' AS feature, s1.s AS split_at,
           s1.pl AS pred_left_cents, s1.pr AS pred_right_cents,
           sse0.v::BIGINT AS sse_before_unit, sse1.yyt::BIGINT AS sse_after_unit
    FROM s1, sse0, sse1
    UNION ALL
    SELECT 2::BIGINT, 'discount', s2.s, s2.pl, s2.pr,
           sse1.yyt::BIGINT, sse2.v::BIGINT
    FROM s2, sse1, sse2
    """,
    doc="two-round gradient boosting with regression stumps, almost "
    "entirely in exact integer arithmetic: round 1 fits the best "
    "quantity split to price-cents (gain = Sl^2/nl + Sr^2/nr over grid "
    "prefix sums — the ONLY doubles, frozen to whole units for the "
    "argmax), leaf predictions are integer-cent means, so the residual "
    "moments the round-2 discount stump fits are EXACT BIGINTs (the "
    "squared-loss boosting recursion never leaves integer space), and "
    "every reported SSE is an exact integer. The additive-model "
    "counterpart of decision_stump_returnflag's single split. One grid "
    "aggregate; both split searches are grid-bounded windows.",
)
def gbm_two_round_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    cells = (
        li.groupBy(
            F.col("l_quantity").cast("bigint").alias("q"),
            F.round(F.col("l_discount") * 100).cast("bigint").alias("qd"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(cents).cast("bigint").alias("sy"),
            F.sum(cents * cents).cast("bigint").alias("syy"),
        )
        .localCheckpoint(eager=True)
    )
    tot = cells.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("sy").cast("bigint").alias("st"),
        F.sum("syy").cast("bigint").alias("yyt"),
    )

    def best_split(grid, key):
        w = Window.orderBy(key).rowsBetween(Window.unboundedPreceding, 0)
        p = grid.select(
            F.col(key).alias("s"),
            F.sum("n").over(w).cast("bigint").alias("nl"),
            F.sum("sy").over(w).cast("bigint").alias("sl"),
        )
        t_ = grid.agg(
            F.sum("n").cast("bigint").alias("nt"), F.sum("sy").cast("bigint").alias("st")
        )
        cand = (
            p.crossJoin(F.broadcast(t_))
            .where((F.col("nl") > 0) & (F.col("nt") - F.col("nl") > 0))
            .select(
                "s",
                "nl",
                "sl",
                (F.col("nt") - F.col("nl")).alias("nr"),
                (F.col("st") - F.col("sl")).alias("sr"),
                F.expr("sl div nl").alias("pl"),
                F.expr("(st - sl) div (nt - nl)").alias("pr"),
            )
        )
        return cand.orderBy(F.expr(_GBM_GAIN).desc(), "s").limit(1)

    g1 = cells.groupBy("q").agg(
        F.sum("n").cast("bigint").alias("n"), F.sum("sy").cast("bigint").alias("sy")
    )
    s1 = best_split(g1, "q").localCheckpoint(eager=True)
    pred1 = "CASE WHEN q <= s THEN pl ELSE pr END"
    r2 = (
        cells.crossJoin(F.broadcast(s1))
        .groupBy("qd")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum(F.expr(f"sy - n * {pred1}")).cast("bigint").alias("sy"),
            F.sum(F.expr(f"syy - 2 * {pred1} * sy + n * {pred1} * {pred1}"))
            .cast("bigint")
            .alias("syy"),
        )
        .localCheckpoint(eager=True)
    )
    s2 = best_split(
        r2.select(F.col("qd"), "n", "sy"), "qd"
    ).localCheckpoint(eager=True)
    tot2 = r2.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("sy").cast("bigint").alias("st"),
        F.sum("syy").cast("bigint").alias("yyt"),
    )
    sse0 = tot.select(
        F.expr("yyt - 2 * (st div nt) * st + nt * (st div nt) * (st div nt)").alias("v")
    )
    pred2 = "CASE WHEN qd <= s THEN pl ELSE pr END"
    sse2 = (
        r2.crossJoin(F.broadcast(s2))
        .agg(
            F.sum(F.expr(f"syy - 2 * {pred2} * sy + n * {pred2} * {pred2}"))
            .cast("bigint")
            .alias("v")
        )
    )
    row1 = (
        s1.crossJoin(sse0)
        .crossJoin(tot2.select(F.col("yyt").alias("after1")))
        .select(
            F.lit(1).cast("bigint").alias("round"),
            F.lit("quantity").alias("feature"),
            F.col("s").alias("split_at"),
            F.col("pl").alias("pred_left_cents"),
            F.col("pr").alias("pred_right_cents"),
            F.col("v").cast("bigint").alias("sse_before_unit"),
            F.col("after1").cast("bigint").alias("sse_after_unit"),
        )
    )
    row2 = (
        s2.crossJoin(tot2.select(F.col("yyt").alias("after1")))
        .crossJoin(sse2)
        .select(
            F.lit(2).cast("bigint").alias("round"),
            F.lit("discount").alias("feature"),
            F.col("s").alias("split_at"),
            F.col("pl").alias("pred_left_cents"),
            F.col("pr").alias("pred_right_cents"),
            F.col("after1").cast("bigint").alias("sse_before_unit"),
            F.col("v").cast("bigint").alias("sse_after_unit"),
        )
    )
    return row1.unionByName(row2)


# --- greedy max-coverage document selection ----------------------------------

_MAXCOV_K = 5

# coverage universe = word 3-gram shingles (the whitespace vocabulary of the
# fixture is tiny; shingles give a realistically large, order-sensitive
# universe — same construction as operators/dedup.py::shingles_col)
_MAXCOV_TOK = r"""
    dt AS MATERIALIZED (
      SELECT DISTINCT doc_id, token FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
                      ELSE list_transform(range(1, len(l) - 1),
                           i -> array_to_string(l[i:i+2], ' ')) END) AS token
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
              FROM documents WHERE trim(text) <> '')
      )
    )
"""


def _maxcov_oracle() -> str:
    ctes = [_MAXCOV_TOK.strip()]
    for r in range(1, _MAXCOV_K + 1):
        if r == 1:
            gains = (
                "gains_1 AS MATERIALIZED (SELECT doc_id, count(*)::BIGINT AS g "
                "FROM dt GROUP BY doc_id)"
            )
        else:
            gains = (
                f"gains_{r} AS MATERIALIZED (SELECT d.doc_id, count(*)::BIGINT AS g "
                f"FROM dt d WHERE NOT EXISTS (SELECT 1 FROM cov_{r - 1} c "
                f"WHERE c.token = d.token) GROUP BY d.doc_id)"
            )
        ctes.append(gains)
        ctes.append(
            f"ch_{r} AS MATERIALIZED (SELECT doc_id, g FROM gains_{r} "
            f"ORDER BY g DESC, doc_id LIMIT 1)"
        )
        prev = f"SELECT token FROM cov_{r - 1} UNION " if r > 1 else ""
        ctes.append(
            f"cov_{r} AS MATERIALIZED ({prev}SELECT DISTINCT token FROM dt "
            f"WHERE doc_id = (SELECT doc_id FROM ch_{r}))"
        )
    rows = "\n    UNION ALL ".join(
        f"SELECT {r}::BIGINT AS sel_round, doc_id, g AS new_tokens FROM ch_{r}"
        for r in range(1, _MAXCOV_K + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
    sel AS ({rows}),
    vocab AS (SELECT count(DISTINCT token)::BIGINT AS vocab_total FROM dt)
    SELECT s.sel_round, s.doc_id, s.new_tokens,
           sum(s.new_tokens) OVER (ORDER BY s.sel_round
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
             AS covered_tokens,
           v.vocab_total,
           CAST((1000000 * CAST(sum(s.new_tokens) OVER (ORDER BY s.sel_round
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT))
             // v.vocab_total AS BIGINT) AS coverage_ppm
    FROM sel s CROSS JOIN vocab v"""
    )


@register(
    "greedy_max_coverage_docs",
    oracle=_maxcov_oracle(),
    doc="greedy maximum-coverage data selection: pick 5 documents that "
    "together cover the most distinct vocabulary, one greedy round per "
    "pick (each round scores every document by its count of NOT-yet-"
    "covered tokens via an anti-join, takes the argmax, and unions the "
    "winner's tokens into the covered set) — the (1-1/e)-approximate "
    "submodular-coverage selection used for corpus subsetting, the "
    "set-cover counterpart of kcenter_coreset's metric diversity. "
    "Scale shape: the covered set lives DISTRIBUTED (token rows, "
    "checkpointed per round — never driver-held), each round is one "
    "anti-join + one aggregate + TakeOrdered(1); k rounds total. "
    "Reports per-pick marginal gains and cumulative vocabulary "
    "coverage. Oracle = the identical greedy unrolled as materialized "
    "CTEs.",
)
def greedy_max_coverage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.dedup import shingles_col

    docs = t(spark, sf_dir, "documents").where(F.trim("text") != "")
    dt = (
        docs.select("doc_id", F.explode(shingles_col("text", 3)).alias("token"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    vocab_total = dt.select("token").distinct().count()
    covered = None
    covered_tokens = 0
    rows = []
    for r in range(1, _MAXCOV_K + 1):
        cand = dt if covered is None else dt.join(covered, "token", "left_anti")
        top = (
            cand.groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("g"))
            .orderBy(F.desc("g"), "doc_id")
            .limit(1)
            .head()
        )
        if top is None:  # universe exhausted — greedy stops early (oracle
            break  # CTEs go empty at the same round)
        # every pick covers >= 1 new token, so vocab_total > 0 here
        covered_tokens += int(top.g)
        rows.append(
            (r, int(top.doc_id), int(top.g), covered_tokens, vocab_total,
             1000000 * covered_tokens // vocab_total)
        )
        chosen_toks = dt.where(F.col("doc_id") == int(top.doc_id)).select("token")
        covered = (
            chosen_toks
            if covered is None
            else covered.union(chosen_toks).distinct()
        ).localCheckpoint(eager=True)
    return local_rows(
        spark,
        rows,
        "sel_round bigint, doc_id bigint, new_tokens bigint, covered_tokens bigint, "
        "vocab_total bigint, coverage_ppm bigint",
    )


@register(
    "ipw_ate_estimators",
    oracle="""
    WITH s AS (
      SELECT (CAST(l_quantity AS BIGINT) - 1) // 10 AS stratum,
             CASE WHEN l_discount > 0 THEN 1 ELSE 0 END AS t,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    g AS (
      SELECT stratum, count(*)::BIGINT AS n_s,
             sum(t)::BIGINT AS t_s, sum(1 - t)::BIGINT AS c_s,
             sum(t * y)::BIGINT AS pos_t, sum((1 - t) * y)::BIGINT AS pos_c
      FROM s GROUP BY stratum
    ),
    terms AS (
      SELECT n_s,
             (1000000 * pos_t * n_s) // t_s AS term_t,
             (1000000 * pos_c * n_s) // c_s AS term_c,
             (1000000 * pos_t) // t_s AS rate_t_ppm,
             (1000000 * pos_c) // c_s AS rate_c_ppm
      FROM g
    ),
    m AS (
      SELECT sum(n_s)::BIGINT AS n,
             CAST((CAST(sum(term_t) AS BIGINT) - CAST(sum(term_c) AS BIGINT))
                  // CAST(sum(n_s) AS BIGINT) AS BIGINT) AS ate_ipw_ppm,
             CAST(CAST(sum(n_s * (rate_t_ppm - rate_c_ppm)) AS BIGINT)
                  // CAST(sum(n_s) AS BIGINT) AS BIGINT) AS ate_strat_ppm
      FROM terms
    ),
    naive AS (
      SELECT CAST((1000000 * CAST(sum(t * y) AS BIGINT))
                    // CAST(sum(t) AS BIGINT)
                  - (1000000 * CAST(sum((1 - t) * y) AS BIGINT))
                    // CAST(sum(1 - t) AS BIGINT) AS BIGINT) AS naive_diff_ppm
      FROM s
    )
    SELECT m.n AS n_total, m.ate_ipw_ppm, m.ate_strat_ppm, naive.naive_diff_ppm
    FROM m CROSS JOIN naive
    """,
    doc="inverse-propensity-weighted ATE beside the stratified and naive "
    "estimators (the causal-estimator triangulation report): propensity "
    "p(s) = treated share per quantity stratum, IPW terms "
    "pos*n_s/t_s frozen to exact micro-integers per stratum so both "
    "engines sum identical BIGINTs; agreement between IPW and "
    "stratification (which are algebraically close under piecewise-"
    "constant propensity) against the naive gap quantifies confounding. "
    "One aggregate to 5 strata; everything after is stratum-bounded.",
)
def ipw_ate_estimators(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    s = li.select(
        F.expr("(CAST(l_quantity AS BIGINT) - 1) div 10").alias("stratum"),
        F.when(F.col("l_discount") > 0, 1).otherwise(0).alias("t"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    g = s.groupBy("stratum").agg(
        F.count("*").cast("bigint").alias("n_s"),
        F.sum("t").cast("bigint").alias("t_s"),
        F.sum(1 - F.col("t")).cast("bigint").alias("c_s"),
        F.sum(F.col("t") * F.col("y")).cast("bigint").alias("pos_t"),
        F.sum((1 - F.col("t")) * F.col("y")).cast("bigint").alias("pos_c"),
    )
    terms = g.select(
        "n_s",
        F.expr("(1000000 * pos_t * n_s) div t_s").alias("term_t"),
        F.expr("(1000000 * pos_c * n_s) div c_s").alias("term_c"),
        F.expr("(1000000 * pos_t) div t_s").alias("rate_t_ppm"),
        F.expr("(1000000 * pos_c) div c_s").alias("rate_c_ppm"),
    )
    m = terms.agg(
        F.sum("n_s").cast("bigint").alias("n"),
        F.expr("(sum(term_t) - sum(term_c)) div sum(n_s)").alias("ate_ipw_ppm"),
        F.expr("sum(n_s * (rate_t_ppm - rate_c_ppm)) div sum(n_s)").alias(
            "ate_strat_ppm"
        ),
    )
    naive = s.agg(
        F.expr(
            "(1000000 * sum(t * y)) div sum(t) "
            "- (1000000 * sum((1 - t) * y)) div sum(1 - t)"
        ).alias("naive_diff_ppm")
    )
    return m.crossJoin(naive).select(
        F.col("n").alias("n_total"), "ate_ipw_ppm", "ate_strat_ppm", "naive_diff_ppm"
    )


@register(
    "james_stein_brand_rates",
    oracle="""
    WITH g AS (
      SELECT p.p_brand AS brand, count(*)::BIGINT AS n,
             CAST((1000000 * CAST(sum(CASE WHEN l.l_returnflag = 'R'
                                      THEN 1 ELSE 0 END) AS BIGINT))
               // count(*) AS BIGINT) AS r_ppm
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1
    ),
    m AS (
      SELECT count(*)::BIGINT AS k,
             CAST(CAST(sum(r_ppm) AS BIGINT) // count(*) AS BIGINT) AS gm,
             sum(r_ppm * (1000000 - r_ppm) // n)::BIGINT AS v_sum
      FROM g
    ),
    ss AS (
      SELECT sum((g.r_ppm - m.gm) * (g.r_ppm - m.gm))::BIGINT AS ss
      FROM g CROSS JOIN m
    ),
    b AS (
      SELECT greatest(0, 1000000 - (1000000 * (m.k - 3) * (m.v_sum // m.k)) // ss.ss)
               ::BIGINT AS b_ppm,
             m.gm, m.k
      FROM m CROSS JOIN ss
    )
    SELECT g.brand, g.n, g.r_ppm AS raw_ppm,
           CAST(b.gm + (b.b_ppm * (g.r_ppm - b.gm)) // 1000000 AS BIGINT)
             AS shrunk_ppm,
           b.gm AS grand_mean_ppm, b.b_ppm AS shrink_factor_ppm
    FROM g CROSS JOIN b
    """,
    doc="James-Stein / empirical-Bayes shrinkage of the 25 per-brand "
    "return rates toward the grand mean: the shrinkage factor "
    "B = 1 - (k-3)*avg-sampling-variance/SS dampens small-sample brand "
    "rates exactly as a hierarchical model would — the estimator a "
    "pipeline should publish instead of raw small-n group rates (the "
    "winner's-curse fix for league tables). ALL-integer: rates, grand "
    "mean, per-group binomial variances, SS, B, and the shrunk rates "
    "are exact BIGINT ppm — no floats anywhere. One aggregate to the "
    "brand grid + 1-row shrinkage broadcasts.",
)
def james_stein_brand_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    g = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.expr(
                "(1000000 * sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END))"
                " div count(*)"
            ).alias("r_ppm"),
        )
    )
    m = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.expr("sum(r_ppm) div count(*)").alias("gm"),
        F.sum(F.expr("r_ppm * (1000000 - r_ppm) div n")).cast("bigint").alias("v_sum"),
    )
    ss = g.crossJoin(F.broadcast(m)).agg(
        F.sum(F.expr("(r_ppm - gm) * (r_ppm - gm)")).cast("bigint").alias("ss")
    )
    b = m.crossJoin(ss).select(
        F.expr(
            "greatest(CAST(0 AS BIGINT), "
            "1000000 - (1000000 * (k - 3) * (v_sum div k)) div ss)"
        ).alias("b_ppm"),
        "gm",
        "k",
    )
    return g.crossJoin(F.broadcast(b)).select(
        "brand",
        "n",
        F.col("r_ppm").alias("raw_ppm"),
        F.expr("gm + (b_ppm * (r_ppm - gm)) div 1000000").alias("shrunk_ppm"),
        F.col("gm").alias("grand_mean_ppm"),
        F.col("b_ppm").alias("shrink_factor_ppm"),
    )


# --- phonetic-key blocking ----------------------------------------------------


def _phonetic_key(tok: str, collapse_flag: str) -> str:
    """Simplified-Soundex key over a token expression: leading letter +
    first 3 consonant-class digits of the remainder (runs collapsed,
    vowels/H/W/Y deleted via translate's drop-the-tail rule), zero-padded.
    ``collapse_flag``: DuckDB needs an explicit 'g' flag on
    regexp_replace; Spark SQL replaces globally by default."""
    digits = (
        f"translate(upper(substr({tok}, 2)), "
        f"'BFPVCGJKQSXZDTLMNRAEIOUHWY', '111122222222334556')"
    )
    for d in "123456":
        digits = f"regexp_replace({digits}, '{d}+', '{d}'{collapse_flag})"
    return f"(upper(substr({tok}, 1, 1)) || rpad(substr({digits}, 1, 3), 3, '0'))"


@register(
    "phonetic_blocking_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT p_partkey, split_part(p_name, ' ', 1) AS tok,
             {_phonetic_key("split_part(p_name, ' ', 1)", ", 'g'")} AS pkey
      FROM part WHERE p_partkey < 400
    )
    SELECT a.pkey, a.p_partkey AS id1, b.p_partkey AS id2,
           a.tok AS tok1, b.tok AS tok2,
           levenshtein(a.tok, b.tok)::BIGINT AS lev
    FROM toks a JOIN toks b
      ON a.pkey = b.pkey AND a.p_partkey < b.p_partkey AND a.tok <> b.tok
    WHERE levenshtein(a.tok, b.tok) <= 3
    """,
    doc="phonetic-key blocking for entity resolution (simplified Soundex: "
    "consonant-class digits via translate, runs collapsed, vowels "
    "dropped — deterministic string ops only, no codec libraries): "
    "part-name tokens sharing a phonetic key become candidate pairs via "
    "an EQUI-join on the key (the blocking step), then edit-distance <= "
    "3 verifies — catches sound-alike spellings (lace/lose) that "
    "rare-token and sorted-neighborhood blocking miss; completes the ER "
    "blocking family (LSH, prefix-filter, SNM, rare-token, now "
    "phonetic). Key cardinality is vocabulary-bounded, so block sizes "
    "are data-skew-bounded; verify runs on candidates only.",
)
def phonetic_blocking_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part").where(F.col("p_partkey") < 400)
    toks = part.select(
        "p_partkey",
        F.expr("split_part(p_name, ' ', 1)").alias("tok"),
        F.expr(_phonetic_key("split_part(p_name, ' ', 1)", "")).alias("pkey"),
    )
    a, b = toks.alias("a"), toks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.pkey") == F.col("b.pkey"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey"))
            & (F.col("a.tok") != F.col("b.tok")),
        )
        .where(F.levenshtein(F.col("a.tok"), F.col("b.tok")) <= 3)
        .select(
            F.col("a.pkey").alias("pkey"),
            F.col("a.p_partkey").alias("id1"),
            F.col("b.p_partkey").alias("id2"),
            F.col("a.tok").alias("tok1"),
            F.col("b.tok").alias("tok2"),
            F.levenshtein(F.col("a.tok"), F.col("b.tok")).cast("bigint").alias("lev"),
        )
    )


@register(
    "l_diversity_audit",
    oracle="""
    WITH cell AS (
      SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS c
      FROM customer GROUP BY 1, 2
    ),
    g AS (SELECT c_nationkey, sum(c)::BIGINT AS tot, count(*)::BIGINT AS distinct_l
          FROM cell GROUP BY 1),
    h AS (
      SELECT cell.c_nationkey,
             sum(CAST(floor(-1e9 * (cell.c / CAST(g.tot AS DOUBLE))
                 * ln(cell.c / CAST(g.tot AS DOUBLE)) + 0.5) AS BIGINT))::BIGINT
               AS h_nano
      FROM cell JOIN g USING (c_nationkey) GROUP BY cell.c_nationkey
    )
    SELECT g.c_nationkey, g.tot AS n_rows, g.distinct_l, h.h_nano,
           round(exp(h.h_nano / 1e9), 4) AS entropy_l,
           g.distinct_l >= 3 AS meets_distinct_l3
    FROM g JOIN h USING (c_nationkey)
    """,
    doc="l-diversity audit over the nation quasi-identifier with market "
    "segment as the sensitive attribute — the release gate k-anonymity "
    "alone misses (a k-large group whose members all share one segment "
    "still leaks the sensitive value): distinct-l per equivalence class "
    "plus entropy-l = exp(H), with per-(class, value) entropy terms "
    "frozen to BIGINT nano-nats (order-free sums; one ln per bounded "
    "cell, one exp per output row). One hash aggregate to the "
    "(classes x values)-bounded cell grid; constant-size answer at any "
    "corpus size. Completes the privacy-gate family beside "
    "k_anonymity_audit / dp_noisy_counts / pii_scrub.",
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    cell = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").cast("bigint").alias("c")
    )
    g = cell.groupBy("c_nationkey").agg(
        F.sum("c").cast("bigint").alias("tot"),
        F.count("*").cast("bigint").alias("distinct_l"),
    )
    h = (
        cell.join(g, "c_nationkey")
        .groupBy("c_nationkey")
        .agg(
            F.sum(
                F.expr(
                    "CAST(floor(-1e9 * (c / CAST(tot AS DOUBLE)) "
                    "* ln(c / CAST(tot AS DOUBLE)) + 0.5) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("h_nano")
        )
    )
    return (
        g.join(h, "c_nationkey")
        .select(
            "c_nationkey",
            F.col("tot").alias("n_rows"),
            "distinct_l",
            "h_nano",
            F.round(F.expr("exp(h_nano / 1e9)"), 4).alias("entropy_l"),
            (F.col("distinct_l") >= 3).alias("meets_distinct_l3"),
        )
    )


# --- regression discontinuity ------------------------------------------------

# local-linear OLS pieces over exact integer moments (shared formula text)
_RD_B = "((n * sxy - sx * sy) / (n * sxx - sx * sx))"
_RD_A = f"((sy - {_RD_B} * sx) / n)"


@register(
    "regression_discontinuity",
    oracle=f"""
    WITH g AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS pos,
             count(*)::BIGINT AS tot
      FROM lineitem GROUP BY 1
    ),
    sides AS (
      SELECT CASE WHEN q >= 25 THEN 1 ELSE 0 END AS side,
             CAST(sum(tot) AS DOUBLE) AS n,
             CAST(sum(tot * (q - 25)) AS DOUBLE) AS sx,
             CAST(sum(tot * (q - 25) * (q - 25)) AS DOUBLE) AS sxx,
             CAST(sum(pos) AS DOUBLE) AS sy,
             CAST(sum(pos * (q - 25)) AS DOUBLE) AS sxy
      FROM g WHERE q >= 15 AND q <= 34
      GROUP BY 1
    ),
    fit AS (
      SELECT side, n,
             CAST(floor({_RD_A} * 1e6 + 0.5) AS BIGINT) AS a_ppm,
             CAST(floor({_RD_B} * 1e6 + 0.5) AS BIGINT) AS b_ppm
      FROM sides
    )
    SELECT l.n::BIGINT AS n_left, r.n::BIGINT AS n_right,
           l.a_ppm AS intercept_left_ppm, r.a_ppm AS intercept_right_ppm,
           l.b_ppm AS slope_left_ppm, r.b_ppm AS slope_right_ppm,
           r.a_ppm - l.a_ppm AS jump_ppm
    FROM (SELECT * FROM fit WHERE side = 0) l,
         (SELECT * FROM fit WHERE side = 1) r
    """,
    doc="sharp regression discontinuity at the quantity-25 threshold: "
    "local-linear fits of return rate on each side of the cutoff "
    "(bandwidth 10 grid values), with the treatment-effect estimate as "
    "the intercept jump at the cutoff — the quasi-experimental design "
    "for threshold-triggered policies (free shipping over X, review "
    "over Y), completing the causal family (DID / stratification / IPW "
    "/ RD). OLS pieces are shared formula text over EXACT BIGINT grid "
    "moments cast to double, intercepts/slopes frozen to ppm. One "
    "corpus aggregate to the bounded grid; the fits are "
    "2-rows-of-moments arithmetic.",
)
def regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    g = li.groupBy(F.col("l_quantity").cast("bigint").alias("q")).agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
        F.count("*").cast("bigint").alias("tot"),
    )
    sides = (
        g.where((F.col("q") >= 15) & (F.col("q") <= 34))
        .groupBy(F.when(F.col("q") >= 25, 1).otherwise(0).alias("side"))
        .agg(
            F.sum("tot").cast("double").alias("n"),
            F.sum(F.expr("tot * (q - 25)")).cast("double").alias("sx"),
            F.sum(F.expr("tot * (q - 25) * (q - 25)")).cast("double").alias("sxx"),
            F.sum("pos").cast("double").alias("sy"),
            F.sum(F.expr("pos * (q - 25)")).cast("double").alias("sxy"),
        )
    )
    fit = sides.select(
        "side",
        "n",
        F.expr(f"CAST(floor({_RD_A} * 1e6 + 0.5) AS BIGINT)").alias("a_ppm"),
        F.expr(f"CAST(floor({_RD_B} * 1e6 + 0.5) AS BIGINT)").alias("b_ppm"),
    )
    left = fit.where(F.col("side") == 0).alias("l")
    right = fit.where(F.col("side") == 1).alias("r")
    return left.crossJoin(right).select(
        F.col("l.n").cast("bigint").alias("n_left"),
        F.col("r.n").cast("bigint").alias("n_right"),
        F.col("l.a_ppm").alias("intercept_left_ppm"),
        F.col("r.a_ppm").alias("intercept_right_ppm"),
        F.col("l.b_ppm").alias("slope_left_ppm"),
        F.col("r.b_ppm").alias("slope_right_ppm"),
        (F.col("r.a_ppm") - F.col("l.a_ppm")).alias("jump_ppm"),
    )


# --- Shapley R^2 decomposition ------------------------------------------------

# R^2 of single- and two-regressor fits from exact integer moments (all
# names are pre-cast DOUBLE columns; shared formula text both engines)
_SH_TSS = "(syy - sy * sy / n)"
_SH_R2_1 = f"((n * s1y - sx1 * sy) * (n * s1y - sx1 * sy) / ((n * s11 - sx1 * sx1) * (n * syy - sy * sy)))"
_SH_R2_2 = f"((n * s2y - sx2 * sy) * (n * s2y - sx2 * sy) / ((n * s22 - sx2 * sx2) * (n * syy - sy * sy)))"
# two-regressor SSE via the normal-equations identity SSE = Syy - b'X'y
_SH_DET = (
    "(n * (s11 * s22 - s12 * s12) - sx1 * (sx1 * s22 - s12 * sx2) "
    "+ sx2 * (sx1 * s12 - s11 * sx2))"
)
_SH_B0 = (
    "((sy * (s11 * s22 - s12 * s12) - sx1 * (s1y * s22 - s12 * s2y) "
    f"+ sx2 * (s1y * s12 - s11 * s2y)) / {_SH_DET})"
)
_SH_B1 = (
    "((n * (s1y * s22 - s2y * s12) - sy * (sx1 * s22 - s12 * sx2) "
    f"+ sx2 * (sx1 * s2y - s1y * sx2)) / {_SH_DET})"
)
_SH_B2 = (
    "((n * (s11 * s2y - s12 * s1y) - sx1 * (sx1 * s2y - s1y * sx2) "
    f"+ sy * (sx1 * s12 - s11 * sx2)) / {_SH_DET})"
)
_SH_R2_12 = (
    f"(1.0 - (syy - {_SH_B0} * sy - {_SH_B1} * s1y - {_SH_B2} * s2y) / {_SH_TSS})"
)


@register(
    "shapley_r2_decomposition",
    oracle=f"""
    WITH m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sx1,
             CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) AS sx2,
             CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s11,
             CAST(sum(CAST(l_quantity AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) AS s12,
             CAST(sum(CAST(round(l_discount * 100) AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) AS s22,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS sy,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS syy,
             CAST(sum(CAST(l_quantity AS BIGINT)
                      * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS s1y,
             CAST(sum(CAST(round(l_discount * 100) AS BIGINT)
                      * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS s2y
      FROM lineitem
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(floor({_SH_R2_1} * 1e6 + 0.5) AS BIGINT) AS r2_quantity_ppm,
           CAST(floor({_SH_R2_2} * 1e6 + 0.5) AS BIGINT) AS r2_discount_ppm,
           CAST(floor({_SH_R2_12} * 1e6 + 0.5) AS BIGINT) AS r2_full_ppm,
           CAST(floor(({_SH_R2_1} + {_SH_R2_12} - {_SH_R2_2}) / 2.0 * 1e6 + 0.5)
             AS BIGINT) AS shapley_quantity_ppm,
           CAST(floor(({_SH_R2_2} + {_SH_R2_12} - {_SH_R2_1}) / 2.0 * 1e6 + 0.5)
             AS BIGINT) AS shapley_discount_ppm
    FROM m
    """,
    doc="Shapley decomposition of regression R^2 across the two features "
    "(quantity, discount) predicting price: each feature's credit is its "
    "marginal R^2 contribution averaged over both entry orders — the "
    "exact Shapley value for two players, the standard answer to 'which "
    "feature explains the variance' when features correlate (plain "
    "delta-R^2 double-counts shared variance). Single- and dual-"
    "regressor R^2 come from ONE exact-BIGINT moment aggregate (Cramer "
    "normal-equations identity SSE = Syy - b'X'y, shared formula text); "
    "ppm-frozen outputs. One corpus pass, 1-row arithmetic after.",
)
def shapley_r2_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    d = F.round(F.col("l_discount") * 100).cast("bigint")
    y = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    m = li.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(q).cast("double").alias("sx1"),
        F.sum(d).cast("double").alias("sx2"),
        F.sum(q * q).cast("double").alias("s11"),
        F.sum(q * d).cast("double").alias("s12"),
        F.sum(d * d).cast("double").alias("s22"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(q * y).cast("double").alias("s1y"),
        F.sum(d * y).cast("double").alias("s2y"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.expr(f"CAST(floor({_SH_R2_1} * 1e6 + 0.5) AS BIGINT)").alias(
            "r2_quantity_ppm"
        ),
        F.expr(f"CAST(floor({_SH_R2_2} * 1e6 + 0.5) AS BIGINT)").alias(
            "r2_discount_ppm"
        ),
        F.expr(f"CAST(floor({_SH_R2_12} * 1e6 + 0.5) AS BIGINT)").alias("r2_full_ppm"),
        F.expr(
            f"CAST(floor(({_SH_R2_1} + {_SH_R2_12} - {_SH_R2_2}) / 2.0 * 1e6 + 0.5)"
            " AS BIGINT)"
        ).alias("shapley_quantity_ppm"),
        F.expr(
            f"CAST(floor(({_SH_R2_2} + {_SH_R2_12} - {_SH_R2_1}) / 2.0 * 1e6 + 0.5)"
            " AS BIGINT)"
        ).alias("shapley_discount_ppm"),
    )


@register(
    "price_elasticity_loglog",
    oracle="""
    WITH r AS (
      SELECT CAST(floor(ln(CAST(l_quantity AS BIGINT)) * 1e3 + 0.5) AS BIGINT) AS lq,
             CAST(floor(ln(l_extendedprice / l_quantity) * 1e3 + 0.5) AS BIGINT) AS lu
      FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0
    ),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(lu) AS DOUBLE) AS sx, CAST(sum(lq) AS DOUBLE) AS sy,
             CAST(sum(lu * lu) AS DOUBLE) AS sxx,
             CAST(sum(lu * lq) AS DOUBLE) AS sxy,
             CAST(sum(lq * lq) AS DOUBLE) AS syy
      FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6 + 0.5)
             AS BIGINT) AS elasticity_ppm,
           CAST(floor((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)) * 1e6 + 0.5)
             AS BIGINT) AS r2_ppm
    FROM m
    """,
    doc="log-log price elasticity of demand: slope of ln(quantity) on "
    "ln(unit price = extendedprice/quantity). On this fixture the "
    "estimate lands near -0.5 with R^2 ~0.5 — NOT a real demand curve "
    "but the textbook RATIO-CORRELATION artifact (extendedprice is "
    "quantity-independent here, so ln u mechanically contains -ln q; "
    "the operator is the demonstration of why elasticity regressions "
    "need exogenous price variation, and the estimate/R^2 pair is "
    "exactly the diagnostic that exposes it). Per-row logs freeze to "
    "BIGINT milli-nats (one ln per row, order-free integer moment sums "
    "safely inside BIGINT range); the OLS slope/R^2 are shared formula "
    "text over the exact moments, ppm-frozen. One corpus pass.",
)
def price_elasticity_loglog(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    )
    r = li.select(
        F.expr(
            "CAST(floor(ln(CAST(l_quantity AS BIGINT)) * 1e3 + 0.5) AS BIGINT)"
        ).alias("lq"),
        F.expr(
            "CAST(floor(ln(l_extendedprice / l_quantity) * 1e3 + 0.5) AS BIGINT)"
        ).alias("lu"),
    )
    m = r.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("lu").cast("double").alias("sx"),
        F.sum("lq").cast("double").alias("sy"),
        F.sum(F.expr("lu * lu")).cast("double").alias("sxx"),
        F.sum(F.expr("lu * lq")).cast("double").alias("sxy"),
        F.sum(F.expr("lq * lq")).cast("double").alias("syy"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.expr(
            "CAST(floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6 + 0.5)"
            " AS BIGINT)"
        ).alias("elasticity_ppm"),
        F.expr(
            "CAST(floor((n * sxy - sx * sy) * (n * sxy - sx * sy) "
            "/ ((n * sxx - sx * sx) * (n * syy - sy * sy)) * 1e6 + 0.5) AS BIGINT)"
        ).alias("r2_ppm"),
    )


# --- Oaxaca-Blinder decomposition --------------------------------------------

_OB_MOMS = (
    "CAST(count(*) AS DOUBLE) AS n, "
    "CAST(sum(q) AS DOUBLE) AS sx1, CAST(sum(qd) AS DOUBLE) AS sx2, "
    "CAST(sum(q * q) AS DOUBLE) AS s11, CAST(sum(q * qd) AS DOUBLE) AS s12, "
    "CAST(sum(qd * qd) AS DOUBLE) AS s22, CAST(sum(y) AS DOUBLE) AS sy, "
    "CAST(sum(q * y) AS DOUBLE) AS s1y, CAST(sum(qd * y) AS DOUBLE) AS s2y"
)


@register(
    "oaxaca_blinder_gap",
    oracle=f"""
    WITH base AS (
      SELECT CASE WHEN l_returnflag = 'R' THEN 'a' ELSE 'b' END AS grp,
             CAST(l_quantity AS BIGINT) AS q,
             CAST(round(l_discount * 100) AS BIGINT) AS qd,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    m AS (SELECT grp, {_OB_MOMS} FROM base GROUP BY grp),
    beta AS (
      SELECT grp, n, sy / n AS ybar, sx1 / n AS x1bar, sx2 / n AS x2bar,
             {_SH_B1} AS b1, {_SH_B2} AS b2
      FROM m
    ),
    d AS (
      SELECT a.n AS n_a, b.n AS n_b,
             a.ybar - b.ybar AS gap,
             (a.x1bar - b.x1bar) * b.b1 + (a.x2bar - b.x2bar) * b.b2 AS explained
      FROM (SELECT * FROM beta WHERE grp = 'a') a,
           (SELECT * FROM beta WHERE grp = 'b') b
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(floor(gap * 1e3 + 0.5) AS BIGINT) AS gap_millicents,
           CAST(floor(explained * 1e3 + 0.5) AS BIGINT) AS explained_millicents,
           CAST(floor(gap * 1e3 + 0.5) AS BIGINT)
             - CAST(floor(explained * 1e3 + 0.5) AS BIGINT)
             AS unexplained_millicents
    FROM d
    """,
    doc="Oaxaca-Blinder decomposition of the mean price gap between "
    "returned and kept line items: the gap splits into the part "
    "EXPLAINED by feature-mix differences ((x-bar_A - x-bar_B) . "
    "beta_B, evaluated at the reference group's coefficients) and the "
    "unexplained remainder (coefficient differences) — the standard "
    "audit for wage/price gaps between groups, and the econometric "
    "sibling of the fairness-audit gaps. Per-group betas are the "
    "shared-text Cramer solves over ONE exact-BIGINT moment aggregate "
    "per group; outputs frozen to milli-cents. One corpus pass.",
)
def oaxaca_blinder_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    base = li.select(
        F.when(F.col("l_returnflag") == "R", "a").otherwise("b").alias("grp"),
        F.col("l_quantity").cast("bigint").alias("q"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("qd"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    m = base.groupBy("grp").agg(*[F.expr(e) for e in _OB_MOMS.split(", ")])
    beta = m.select(
        "grp",
        "n",
        F.expr("sy / n").alias("ybar"),
        F.expr("sx1 / n").alias("x1bar"),
        F.expr("sx2 / n").alias("x2bar"),
        F.expr(_SH_B1).alias("b1"),
        F.expr(_SH_B2).alias("b2"),
    )
    a = beta.where(F.col("grp") == "a").alias("a")
    b = beta.where(F.col("grp") == "b").alias("b")
    d = a.crossJoin(b).select(
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        (F.col("a.ybar") - F.col("b.ybar")).alias("gap"),
        (
            (F.col("a.x1bar") - F.col("b.x1bar")) * F.col("b.b1")
            + (F.col("a.x2bar") - F.col("b.x2bar")) * F.col("b.b2")
        ).alias("explained"),
    )
    return d.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.expr("CAST(floor(gap * 1e3 + 0.5) AS BIGINT)").alias("gap_millicents"),
        F.expr("CAST(floor(explained * 1e3 + 0.5) AS BIGINT)").alias(
            "explained_millicents"
        ),
        F.expr(
            "CAST(floor(gap * 1e3 + 0.5) AS BIGINT) "
            "- CAST(floor(explained * 1e3 + 0.5) AS BIGINT)"
        ).alias("unexplained_millicents"),
    )


def _ppr_oracle(iterations: int = 10) -> str:
    """DuckDB twin of seeded personalized PageRank (loop unrolled; the
    _pagerank_oracle FP conventions: 1 - 0.85::DOUBLE damping, round-5)."""
    rounds = "".join(
        f""",
    r{i + 1} AS (
      SELECT n.node, (1 - 0.85::DOUBLE) * n.seed
             + 0.85::DOUBLE * coalesce(s.in_sum, 0.0) AS rank
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, sum(r.rank / o.d) AS in_sum
        FROM edges e JOIN outdeg o ON e.src = o.src JOIN r{i} r ON r.node = e.src
        GROUP BY e.dst
      ) s ON s.node = n.node
    )"""
        for i in range(iterations)
    )
    return f"""
    WITH edges AS (
      SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      UNION
      SELECT DISTINCT 's' || l_suppkey, 'c' || o_custkey
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    outdeg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    seeds AS (SELECT 'c' || c_custkey AS node FROM customer WHERE c_nationkey = 0),
    nodes AS (
      SELECT nn.node, CASE WHEN s.node IS NULL THEN 0.0 ELSE 1.0 END AS seed
      FROM (SELECT src AS node FROM edges UNION SELECT dst FROM edges) nn
      LEFT JOIN seeds s ON s.node = nn.node
    ),
    r0 AS (SELECT node, seed AS rank FROM nodes){rounds}
    SELECT node, round(rank, 5) AS rank FROM r{iterations} WHERE round(rank, 5) > 0
    """


@register(
    "personalized_pagerank_nation",
    oracle=_ppr_oracle(),
    doc="personalized PageRank (random walk with restart) seeded at one "
    "nation's customers over the UNDIRECTED customer~supplier purchase "
    "graph (both edge orientations) — the seeded-proximity score that "
    "answers 'which suppliers and customers are closest to THIS "
    "cohort', the graph-expansion primitive for seeded recommendation "
    "and labeled-set growing; nodes the walk never reaches hold exact "
    "0 and are filtered. Identical loop discipline to static pagerank "
    "(operators/graph.py::personalized_pagerank — co-partitioned "
    "checkpointed loop inputs, AQE-off loop scope); oracle = the rounds "
    "unrolled with the same FP conventions, round-5 frozen.",
)
def personalized_pagerank_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.graph import personalized_pagerank

    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    cust = t(spark, sf_dir, "customer")
    fwd = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    edges = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    seeds = cust.where(F.col("c_nationkey") == 0).select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("node")
    )
    ranks = personalized_pagerank(edges, seeds, iterations=10)
    return ranks.select("node", F.round("rank", 5).alias("rank")).where(
        F.col("rank") > 0
    )


# --- Holt linear-trend smoothing ----------------------------------------------

_HOLT_T = 20  # days consumed (calendar-bounded; fixture has 30)
_HOLT_H = 7  # forecast horizon


def _holt_oracle() -> str:
    """Holt's linear method unrolled: level/trend freeze to BIGINT
    milli-cents each step, so both engines replay identical IEEE doubles
    (constants as CAST(x AS DOUBLE); y_t exact cents)."""
    a, one_a = "CAST(0.3 AS DOUBLE)", "CAST(0.7 AS DOUBLE)"
    b, one_b = "CAST(0.2 AS DOUBLE)", "CAST(0.8 AS DOUBLE)"
    ctes = [
        "d AS MATERIALIZED (SELECT ts::DATE AS day, "
        "sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents "
        "FROM events WHERE event_type = 'purchase' GROUP BY 1)",
        "s AS MATERIALIZED (SELECT cents, row_number() OVER (ORDER BY day) AS rn "
        "FROM d)",
        "st1 AS MATERIALIZED (SELECT (SELECT cents * 1000 FROM s WHERE rn = 1) AS lm, "
        "(SELECT (b.cents - a.cents) * 1000 FROM s a, s b "
        "WHERE a.rn = 1 AND b.rn = 2) AS bm)",
    ]
    for t_ in range(2, _HOLT_T + 1):
        lm_new = (
            f"CAST(floor(({a} * (SELECT cents FROM s WHERE rn = {t_}) "
            f"+ {one_a} * (p.lm / 1e3 + p.bm / 1e3)) * 1e3 + 0.5) AS BIGINT)"
        )
        ctes.append(
            f"st{t_} AS MATERIALIZED (SELECT lm2 AS lm, "
            f"CAST(floor(({b} * (lm2 / 1e3 - p.lm / 1e3) + {one_b} * (p.bm / 1e3)) "
            f"* 1e3 + 0.5) AS BIGINT) AS bm "
            f"FROM (SELECT p.lm, p.bm, {lm_new} AS lm2 FROM st{t_ - 1} p) p)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT h, f.lm + h * f.bm AS forecast_millicents,
           f.lm AS level_millicents, f.bm AS trend_millicents
    FROM (SELECT unnest(range(1, {_HOLT_H + 1})) AS h), st{_HOLT_T} f
    """
    )


@register(
    "holt_linear_forecast",
    oracle=_holt_oracle(),
    doc="Holt's linear-trend exponential smoothing (alpha=0.3, beta=0.2) "
    "over the first 20 days of daily purchase revenue, with a 7-day "
    "linear forecast — the trend-aware upgrade of "
    "exponential_smoothing_forecast's simple smoother. The corpus cost "
    "is ONE aggregate to the calendar-bounded daily series (<=30 rows at "
    "ANY corpus size — the sanctioned bounded-driver-state pattern); the "
    "level/trend recursion freezes to BIGINT milli-cents per step so the "
    "driver arithmetic and the unrolled-CTE oracle replay identical IEEE "
    "doubles. Forecasts are exact integer arithmetic off the frozen "
    "final state.",
)
def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("cents")
    )
    series = [
        int(r.cents) for r in d.orderBy("day").limit(_HOLT_T).collect()
    ]
    lm = series[0] * 1000
    bm = (series[1] - series[0]) * 1000
    for t_ in range(2, _HOLT_T + 1):
        y = series[t_ - 1]
        lm_new = math.floor((0.3 * y + 0.7 * (lm / 1e3 + bm / 1e3)) * 1e3 + 0.5)
        bm = math.floor(
            (0.2 * (lm_new / 1e3 - lm / 1e3) + 0.8 * (bm / 1e3)) * 1e3 + 0.5
        )
        lm = lm_new
    return spark.range(1, _HOLT_H + 1).select(
        F.col("id").alias("h"),
        (F.lit(lm) + F.col("id") * F.lit(bm)).cast("bigint").alias(
            "forecast_millicents"
        ),
        F.lit(lm).cast("bigint").alias("level_millicents"),
        F.lit(bm).cast("bigint").alias("trend_millicents"),
    )


# --- mediation analysis (Sobel) ----------------------------------------------

_MED_MOMS = (
    "CAST(count(*) AS DOUBLE) AS n, "
    "CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(mm) AS DOUBLE) AS sm, "
    "CAST(sum(y) AS DOUBLE) AS sy, CAST(sum(x * x) AS DOUBLE) AS sxx, "
    "CAST(sum(mm * mm) AS DOUBLE) AS smm, CAST(sum(y * y) AS DOUBLE) AS syy, "
    "CAST(sum(x * mm) AS DOUBLE) AS sxm, CAST(sum(x * y) AS DOUBLE) AS sxy, "
    "CAST(sum(mm * y) AS DOUBLE) AS smy"
)
_MED_C1 = (
    "n, sxx - sx * sx / n AS sxxc, smm - sm * sm / n AS smmc, "
    "syy - sy * sy / n AS syyc, sxm - sx * sm / n AS sxmc, "
    "sxy - sx * sy / n AS sxyc, smy - sm * sy / n AS smyc"
)
_MED_C2 = (
    "n, sxmc / sxxc AS a, sxyc / sxxc AS ctot, "
    "(sxyc * smmc - sxmc * smyc) / (sxxc * smmc - sxmc * sxmc) AS cdir, "
    "(sxxc * smyc - sxmc * sxyc) / (sxxc * smmc - sxmc * sxmc) AS b, "
    "smmc - (sxmc / sxxc) * (sxmc / sxxc) * sxxc AS ssea, "
    "syyc - ((sxyc * smmc - sxmc * smyc) / (sxxc * smmc - sxmc * sxmc)) * sxyc "
    "- ((sxxc * smyc - sxmc * sxyc) / (sxxc * smmc - sxmc * sxmc)) * smyc AS ssef, "
    "sxxc, sxxc * smmc - sxmc * sxmc AS det"
)
_MED_Z = (
    "((a * b) / sqrt(b * b * ((ssea / (n - 2.0)) / sxxc) "
    "+ a * a * (ssef * sxxc / ((n - 3.0) * det))))"
)


@register(
    "mediation_sobel",
    oracle=f"""
    WITH base AS (
      SELECT CAST(round(l_discount * 100) AS BIGINT) AS x,
             CAST(l_quantity AS BIGINT) AS mm,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    m AS (SELECT {_MED_MOMS} FROM base),
    c1 AS (SELECT {_MED_C1} FROM m),
    c2 AS (SELECT {_MED_C2} FROM c1)
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(floor(a * 1e6 + 0.5) AS BIGINT) AS a_ppm,
           CAST(floor(b * 1e6 + 0.5) AS BIGINT) AS b_ppm,
           CAST(floor(ctot * 1e6 + 0.5) AS BIGINT) AS total_ppm,
           CAST(floor(cdir * 1e6 + 0.5) AS BIGINT) AS direct_ppm,
           CAST(floor(a * b * 1e6 + 0.5) AS BIGINT) AS indirect_ppm,
           CAST(floor(ctot * 1e6 + 0.5) AS BIGINT)
             - CAST(floor(cdir * 1e6 + 0.5) AS BIGINT)
             - CAST(floor(a * b * 1e6 + 0.5) AS BIGINT) AS ident_gap_ppm,
           round({_MED_Z}, 4) AS sobel_z
    FROM c2
    """,
    doc="mediation analysis with the Sobel test: does discount (X) move "
    "price (Y) THROUGH quantity (M)? Path a (M~X), paths b and c' "
    "(Y~X+M, centered 2x2 solve), total effect c (Y~X), indirect "
    "effect a*b, and the Sobel z for the indirect path — plus the "
    "OLS identity c = c' + a*b surfaced as ident_gap_ppm (0 up to "
    "ppm-freezing, a built-in self-check). Everything derives from ONE "
    "exact-BIGINT moment aggregate via shared formula text; outputs "
    "ppm-frozen, z at round-4. Completes the causal-paths family "
    "(DID / strata / IPW / RD / Oaxaca / mediation). One corpus pass.",
)
def mediation_sobel(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    base = li.select(
        F.round(F.col("l_discount") * 100).cast("bigint").alias("x"),
        F.col("l_quantity").cast("bigint").alias("mm"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    m = base.agg(*[F.expr(e) for e in _MED_MOMS.split(", ")])
    c1 = m.selectExpr(*_MED_C1.split(", "))
    c2 = c1.selectExpr(*_MED_C2.split(", "))
    return c2.select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.expr("CAST(floor(a * 1e6 + 0.5) AS BIGINT)").alias("a_ppm"),
        F.expr("CAST(floor(b * 1e6 + 0.5) AS BIGINT)").alias("b_ppm"),
        F.expr("CAST(floor(ctot * 1e6 + 0.5) AS BIGINT)").alias("total_ppm"),
        F.expr("CAST(floor(cdir * 1e6 + 0.5) AS BIGINT)").alias("direct_ppm"),
        F.expr("CAST(floor(a * b * 1e6 + 0.5) AS BIGINT)").alias("indirect_ppm"),
        F.expr(
            "CAST(floor(ctot * 1e6 + 0.5) AS BIGINT) "
            "- CAST(floor(cdir * 1e6 + 0.5) AS BIGINT) "
            "- CAST(floor(a * b * 1e6 + 0.5) AS BIGINT)"
        ).alias("ident_gap_ppm"),
        F.round(F.expr(_MED_Z), 4).alias("sobel_z"),
    )


@register(
    "streaming_quantile_sketch",
    oracle="""
    WITH v AS (
      SELECT date_trunc('hour', ts) AS window_start,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase' AND round(value * 100) >= 1
    ),
    b AS (
      SELECT window_start,
             length(cents::VARCHAR)::BIGINT AS d,
             cents // power(10, greatest(length(cents::VARCHAR) - 3, 0))::BIGINT AS sub,
             count(*)::BIGINT AS n
      FROM v GROUP BY 1, 2, 3
    ),
    cum AS (
      SELECT window_start, d, sub, n,
             sum(n) OVER (PARTITION BY window_start ORDER BY d, sub
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS hi,
             (sum(n) OVER (PARTITION BY window_start ORDER BY d, sub
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n)::BIGINT AS lo,
             sum(n) OVER (PARTITION BY window_start)::BIGINT AS nw
      FROM b
    )
    SELECT window_start, nw AS n_values,
           min(((2 * sub + 1) * power(10, greatest(d - 3, 0))::BIGINT) // 2)
             AS p50_est_cents
    FROM cum
    WHERE lo < (5000 * (nw - 1)) // 10000 + 1
      AND hi >= (5000 * (nw - 1)) // 10000 + 1
    GROUP BY window_start, nw
    """,
    doc="streaming per-window median estimate via the mergeable "
    "significant-digit sketch: the stateful operator keeps only BOUNDED "
    "bucket counts per tumbling hour (never raw values — the state-size "
    "discipline that survives 100 TB streams), and the median reads off "
    "the drained sink with the discrete-rank bucket pick (<=0.5% "
    "relative error by construction). Batch twin = identical bucketing "
    "per hour group, so a drained availableNow stream hash-matches the "
    "oracle exactly (the events_stream NTZ conventions). Composes the "
    "streaming family with the sketch family.",
)
def streaming_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.streaming import (
        events_stream,
        ntz_of_instant,
        run_to_memory,
        windowed_value_sketch,
    )

    name = "mre_stream_qsketch"
    run_to_memory(
        windowed_value_sketch(events_stream(spark, sf_dir)),
        name,
        output_mode="complete",
    )
    sink = spark.table(name).select(
        ntz_of_instant("window_start").alias("window_start"), "d", "sub", "n"
    )
    wc = (
        Window.partitionBy("window_start")
        .orderBy("d", "sub")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = sink.select(
        "window_start",
        "d",
        "sub",
        "n",
        F.sum("n").over(wc).cast("bigint").alias("hi"),
        (F.sum("n").over(wc) - F.col("n")).cast("bigint").alias("lo"),
        F.sum("n").over(Window.partitionBy("window_start")).cast("bigint").alias("nw"),
    )
    pick = F.expr("(5000 * (nw - 1)) div 10000 + 1")
    return (
        cum.where((F.col("lo") < pick) & (F.col("hi") >= pick))
        .groupBy("window_start", F.col("nw").alias("n_values"))
        .agg(
            F.min(
                F.expr(
                    "((2 * sub + 1) * CAST(power(10, greatest(d - 3, 0)) AS BIGINT)) div 2"
                )
            ).alias("p50_est_cents")
        )
    )


@register(
    "changepoint_binary_segmentation",
    oracle="""
    WITH d AS (
      SELECT ts::DATE AS day,
             sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    s AS (
      SELECT day, cents,
             row_number() OVER (ORDER BY day)::BIGINT AS rn FROM d
    ),
    tot AS (
      SELECT count(*)::BIGINT AS nt, sum(cents)::BIGINT AS st,
             sum(cents * cents)::BIGINT AS yyt
      FROM s
    ),
    pre AS (
      SELECT rn AS k, day,
             sum(cents) OVER (ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS sl
      FROM s
    ),
    cand AS (
      SELECT k, day, sl, tot.st - sl AS sr, k AS nl, tot.nt - k AS nr,
             CAST(floor(CAST(sl AS DOUBLE) * sl / k
               + CAST(tot.st - sl AS DOUBLE) * (tot.st - sl) / (tot.nt - k)
               - CAST(tot.st AS DOUBLE) * tot.st / tot.nt + 0.5) AS BIGINT)
               AS gain_unit
      FROM pre, tot WHERE k < tot.nt
    ),
    best AS (SELECT * FROM cand ORDER BY gain_unit DESC, k LIMIT 1)
    SELECT best.day AS break_after_day, best.nl AS n_before, best.nr AS n_after,
           best.sl // best.nl AS mean_before_cents,
           best.sr // best.nr AS mean_after_cents,
           best.gain_unit,
           (tot.yyt - CAST(floor(CAST(tot.st AS DOUBLE) * tot.st / tot.nt + 0.5)
              AS BIGINT)) AS tss_unit
    FROM best, tot
    """,
    doc="changepoint LOCATION by one round of binary segmentation over "
    "daily purchase revenue: the split k maximizing the between-segment "
    "SSE reduction Sl^2/nl + Sr^2/nr - S^2/n — CUSUM's drift ALARM "
    "(value_drift_cusum) tells you THAT the level moved; this tells you "
    "WHEN, with the before/after means as exact integer cents and the "
    "gain against total variance for an F-style severity read. One "
    "aggregate to the calendar-bounded daily grid; the split search is "
    "a grid window (the gbm_two_round_stumps machinery pointed at "
    "time). Gains frozen to whole units for the argmax.",
)
def changepoint_binary_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("cents")
    )
    s = d.select(
        "day", "cents", F.row_number().over(Window.orderBy("day")).cast("bigint").alias("rn")
    )
    tot = s.agg(
        F.count("*").cast("bigint").alias("nt"),
        F.sum("cents").cast("bigint").alias("st"),
        F.sum(F.expr("cents * cents")).cast("bigint").alias("yyt"),
    )
    w = Window.orderBy("rn").rowsBetween(Window.unboundedPreceding, 0)
    pre = s.select(
        F.col("rn").alias("k"), "day", F.sum("cents").over(w).cast("bigint").alias("sl")
    )
    cand = (
        pre.crossJoin(F.broadcast(tot))
        .where(F.col("k") < F.col("nt"))
        .select(
            "k",
            "day",
            "sl",
            (F.col("st") - F.col("sl")).alias("sr"),
            F.col("k").alias("nl"),
            (F.col("nt") - F.col("k")).alias("nr"),
            F.expr(
                "CAST(floor(CAST(sl AS DOUBLE) * sl / k "
                "+ CAST(st - sl AS DOUBLE) * (st - sl) / (nt - k) "
                "- CAST(st AS DOUBLE) * st / nt + 0.5) AS BIGINT)"
            ).alias("gain_unit"),
        )
    )
    best = cand.orderBy(F.desc("gain_unit"), "k").limit(1)
    return best.crossJoin(F.broadcast(tot)).select(
        F.col("day").alias("break_after_day"),
        F.col("nl").alias("n_before"),
        F.col("nr").alias("n_after"),
        F.expr("sl div nl").alias("mean_before_cents"),
        F.expr("sr div nr").alias("mean_after_cents"),
        "gain_unit",
        F.expr(
            "yyt - CAST(floor(CAST(st AS DOUBLE) * st / nt + 0.5) AS BIGINT)"
        ).alias("tss_unit"),
    )


@register(
    "quantile_treatment_effects",
    oracle="""
    WITH v AS (
      SELECT CASE WHEN l_discount > 0 THEN 1 ELSE 0 END AS t,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ),
    r AS (
      SELECT t, cents,
             row_number() OVER (PARTITION BY t ORDER BY cents)::BIGINT AS rn,
             count(*) OVER (PARTITION BY t)::BIGINT AS n
      FROM v
    ),
    p AS (SELECT unnest([2500, 5000, 7500]) AS p_bp),
    q AS (
      SELECT p.p_bp, r.t, r.cents
      FROM p JOIN r ON r.rn = (p.p_bp * (r.n - 1)) // 10000 + 1
    )
    SELECT a.p_bp,
           a.cents AS q_treated_cents, b.cents AS q_control_cents,
           a.cents - b.cents AS qte_cents
    FROM (SELECT * FROM q WHERE t = 1) a
    JOIN (SELECT * FROM q WHERE t = 0) b USING (p_bp)
    """,
    doc="quantile treatment effects: the treated-vs-control difference of "
    "the p25/p50/p75 price quantiles (discount as treatment) — the "
    "DISTRIBUTIONAL companion to the mean-effect ATE estimators (a "
    "treatment can move the tails without moving the mean and vice "
    "versa). Discrete exact percentiles via the row_number pick "
    "(engine-portable integer arithmetic); two ranked window passes "
    "partitioned by arm — the same cost class as exact percentiles at "
    "100 TB (range-partitioned sort per arm).",
)
def quantile_treatment_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    v = li.select(
        F.when(F.col("l_discount") > 0, 1).otherwise(0).alias("t"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    wv = Window.partitionBy("t").orderBy("cents")
    r = v.select(
        "t",
        "cents",
        F.row_number().over(wv).cast("bigint").alias("rn"),
        F.count("*").over(Window.partitionBy("t")).cast("bigint").alias("n"),
    )
    p = spark.createDataFrame([(2500,), (5000,), (7500,)], "p_bp int")
    q = p.join(r, F.expr("rn = (p_bp * (n - 1)) div 10000 + 1"))
    a = q.where(F.col("t") == 1).select("p_bp", F.col("cents").alias("q_treated_cents"))
    b = q.where(F.col("t") == 0).select("p_bp", F.col("cents").alias("q_control_cents"))
    return a.join(b, "p_bp").select(
        "p_bp",
        "q_treated_cents",
        "q_control_cents",
        (F.col("q_treated_cents") - F.col("q_control_cents")).alias("qte_cents"),
    )


# --- iterative proportional fitting (raking) ---------------------------------

_IPF_ROUNDS = 6
# (brand, returnflag) cells collected. TPC-H has 25 brands x 3 flags, so 75
# rows; 4096 admits 1000 brands at 4 flags, still a few ms per round.
_IPF_MAX_CELLS = 4096


def _ipf_oracle() -> str:
    ctes = [
        "cells AS MATERIALIZED (SELECT p.p_brand AS brand, l.l_returnflag AS flag, "
        "count(*)::BIGINT AS n FROM lineitem l JOIN part p "
        "ON l.l_partkey = p.p_partkey GROUP BY 1, 2)",
        "tot AS MATERIALIZED (SELECT sum(n)::BIGINT AS nt, "
        "count(DISTINCT brand)::BIGINT AS nb FROM cells)",
        "ft AS MATERIALIZED (SELECT flag, sum(n)::BIGINT AS tf FROM cells GROUP BY flag)",
        "w0 AS MATERIALIZED (SELECT brand, flag, n, 1000000::BIGINT AS w FROM cells)",
    ]
    prev = "w0"
    for r in range(1, _IPF_ROUNDS + 1):
        ctes.append(
            f"wr{r} AS MATERIALIZED (SELECT w.brand, w.flag, w.n, "
            f"CAST(floor(w.w * ((t.nt / t.nb) * 1e6 / rs.rs) + 0.5) AS BIGINT) AS w "
            f"FROM {prev} w JOIN (SELECT brand, sum(n * w)::BIGINT AS rs "
            f"FROM {prev} GROUP BY brand) rs ON rs.brand = w.brand, tot t)"
        )
        ctes.append(
            f"wc{r} AS MATERIALIZED (SELECT w.brand, w.flag, w.n, "
            f"CAST(floor(w.w * (ft.tf * 1e6 / cs.cs) + 0.5) AS BIGINT) AS w "
            f"FROM wr{r} w JOIN (SELECT flag, sum(n * w)::BIGINT AS cs "
            f"FROM wr{r} GROUP BY flag) cs ON cs.flag = w.flag "
            f"JOIN ft ON ft.flag = w.flag)"
        )
        prev = f"wc{r}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
    stats AS (
      SELECT CAST(floor(CAST(sum(n * w) AS DOUBLE) * sum(n * w)
               / sum(n * w * w) * 1e3 + 0.5) AS BIGINT) AS ess_milli
      FROM {prev}
    ),
    rowerr AS (
      SELECT CAST(floor(max(abs(rs / 1e6 - t.nt / t.nb) / (t.nt / t.nb)) * 1e4 + 0.5)
               AS BIGINT) AS max_margin_err_bp
      FROM (SELECT brand, CAST(sum(n * w) AS DOUBLE) AS rs FROM {prev} GROUP BY brand), tot t
      GROUP BY t.nt, t.nb
    )
    SELECT f.brand, f.flag, f.n, f.w AS weight_ppm, s.ess_milli, r.max_margin_err_bp
    FROM {prev} f, stats s, rowerr r"""
    )


@register(
    "ipf_raking_weights",
    oracle=_ipf_oracle(),
    doc="iterative proportional fitting (raking) of survey-style weights: "
    "calibrate per-(brand, returnflag) cell weights so brands pull to a "
    "UNIFORM margin while returnflag totals are preserved — the weight-"
    "calibration step of survey analysis AND of training-data "
    "re-balancing (domain_mixture's cousin with TWO simultaneous margin "
    "constraints). 6 row/column scaling rounds, weights frozen to BIGINT "
    "ppm each half-step (identical IEEE factors both engines); ships the "
    "effective-sample-size diagnostic (Kish ESS, milli-frozen) and the "
    "worst row-margin error in bp so the caller sees both convergence "
    "and the variance cost of the weights. The ONE corpus aggregate "
    "builds the (brands x flags) grid, which is collected once; the "
    "rounds run on the driver. Oracle = the rounds unrolled as "
    "materialized CTEs.",
)
def ipf_raking_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    grid = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), F.col("l_returnflag").alias("flag"))
        .agg(F.count("*").alias("n"))
    )
    cells = [
        tuple(r) for r in collect_bounded(grid, _IPF_MAX_CELLS, "ipf_raking_weights")
    ]
    schema = (
        "brand string, flag string, n bigint, weight_ppm bigint, "
        "ess_milli bigint, max_margin_err_bp bigint"
    )
    if not cells:
        return local_rows(spark, [], schema)
    # the oracle's (nt / nb): both counts convert to double before dividing
    target = float(sum(n for _, _, n in cells)) / len({br for br, _, _ in cells})
    tf = Counter()
    for _, fl, n in cells:
        tf[fl] += n
    w = [1000000] * len(cells)

    def margin(k: int) -> Counter:  # sum(n * w) grouped by cell field k
        m = Counter()
        for c, x in zip(cells, w):
            m[c[k]] += c[2] * x
        return m

    for _ in range(_IPF_ROUNDS):
        rs = margin(0)
        w = [math.floor(x * (target * 1e6 / rs[c[0]]) + 0.5) for c, x in zip(cells, w)]
        cs = margin(1)
        w = [math.floor(x * (tf[c[1]] * 1e6 / cs[c[1]]) + 0.5) for c, x in zip(cells, w)]
    sw = sum(n * x for (_, _, n), x in zip(cells, w))
    sww = sum(n * x * x for (_, _, n), x in zip(cells, w))
    ess = math.floor(float(sw) * sw / sww * 1e3 + 0.5)
    worst = max(abs(x / 1e6 - target) / target for x in margin(0).values())
    err = math.floor(worst * 1e4 + 0.5)
    return local_rows(
        spark, [(br, fl, n, x, ess, err) for (br, fl, n), x in zip(cells, w)], schema
    )


@register(
    "offline_policy_ips",
    oracle="""
    WITH logged AS (
      SELECT (CAST(l_quantity AS BIGINT) - 1) // 10 AS s,
             CAST(round(l_discount * 100) AS BIGINT) AS a,
             CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END AS r
      FROM lineitem
    ),
    cell AS (
      SELECT s, a, count(*)::BIGINT AS n_sa, sum(r)::BIGINT AS r_sa
      FROM logged GROUP BY s, a
    ),
    strat AS (SELECT s, sum(n_sa)::BIGINT AS n_s FROM cell GROUP BY s),
    tot AS (SELECT sum(n_sa)::BIGINT AS n FROM cell),
    pi AS (SELECT s, n_s, coalesce(max(CASE WHEN a = 0 THEN n_sa END), 0)::BIGINT AS n_s0,
                  coalesce(max(CASE WHEN a = 0 THEN r_sa END), 0)::BIGINT AS r_s0
           FROM cell JOIN strat USING (s) GROUP BY s, n_s),
    est AS (
      SELECT sum((1000000 * r_s0 * n_s) // n_s0)::BIGINT AS ips_num_micro,
             sum((1000000 * n_s0 * n_s) // n_s0)::BIGINT AS ips_den_micro,
             sum(n_s * ((1000000 * r_s0) // n_s0))::BIGINT AS dm_num_micro
      FROM pi WHERE n_s0 > 0
    )
    SELECT t.n AS n_logged,
           CAST((1000000 * (SELECT CAST(sum(r) AS BIGINT) FROM logged)) // t.n
                AS BIGINT) AS behavior_value_ppm,
           e.dm_num_micro // t.n AS dm_value_ppm,
           e.ips_num_micro // t.n AS ips_value_ppm,
           (1000000 * e.ips_num_micro) // e.ips_den_micro AS snips_value_ppm
    FROM est e CROSS JOIN tot t
    """,
    doc="offline policy evaluation by replay: what reward (kept-item "
    "rate) would the 'never discount' policy earn, estimated from "
    "LOGGED data under the empirical behavior policy — the "
    "counterfactual read-out of bandit/RL literature, shipped as the "
    "standard estimator triple: direct method (per-stratum outcome "
    "model), inverse-propensity scoring (1{a=pi}/p-hat weights), and "
    "self-normalized IPS (weight-ratio form that cancels propensity "
    "scale). Empirical propensities and all three estimates are exact "
    "integer arithmetic frozen per stratum to micro-units. One "
    "aggregate to the (strata x actions) grid; everything after is "
    "grid-bounded. The evaluation a recommendation/pricing pipeline "
    "runs BEFORE an online A/B.",
)
def offline_policy_ips(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    logged = li.select(
        F.expr("(CAST(l_quantity AS BIGINT) - 1) div 10").alias("s"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("a"),
        F.when(F.col("l_returnflag") == "R", 0).otherwise(1).alias("r"),
    )
    cell = logged.groupBy("s", "a").agg(
        F.count("*").cast("bigint").alias("n_sa"), F.sum("r").cast("bigint").alias("r_sa")
    )
    strat = cell.groupBy("s").agg(F.sum("n_sa").cast("bigint").alias("n_s"))
    tot = cell.agg(F.sum("n_sa").cast("bigint").alias("n"))
    pi = (
        cell.join(strat, "s")
        .groupBy("s", "n_s")
        .agg(
            F.coalesce(F.max(F.when(F.col("a") == 0, F.col("n_sa"))), F.lit(0))
            .cast("bigint")
            .alias("n_s0"),
            F.coalesce(F.max(F.when(F.col("a") == 0, F.col("r_sa"))), F.lit(0))
            .cast("bigint")
            .alias("r_s0"),
        )
    )
    est = pi.where(F.col("n_s0") > 0).agg(
        F.sum(F.expr("(1000000 * r_s0 * n_s) div n_s0"))
        .cast("bigint")
        .alias("ips_num_micro"),
        F.sum(F.expr("(1000000 * n_s0 * n_s) div n_s0"))
        .cast("bigint")
        .alias("ips_den_micro"),
        F.sum(F.expr("n_s * ((1000000 * r_s0) div n_s0)"))
        .cast("bigint")
        .alias("dm_num_micro"),
    )
    behavior = logged.agg(F.sum("r").cast("bigint").alias("r_tot"))
    return (
        est.crossJoin(tot)
        .crossJoin(F.broadcast(behavior))
        .select(
            F.col("n").alias("n_logged"),
            F.expr("(1000000 * r_tot) div n").alias("behavior_value_ppm"),
            F.expr("dm_num_micro div n").alias("dm_value_ppm"),
            F.expr("ips_num_micro div n").alias("ips_value_ppm"),
            F.expr("(1000000 * ips_num_micro) div ips_den_micro").alias(
                "snips_value_ppm"
            ),
        )
    )


@register(
    "cuped_variance_reduction",
    oracle="""
    WITH u AS (
      SELECT user_id, user_id % 2 AS grp,
             sum(CASE WHEN event_type = 'purchase' AND ts < TIMESTAMP '2024-01-16'
                      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)::BIGINT AS x,
             sum(CASE WHEN event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-16'
                      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)::BIGINT AS y
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(y) AS DOUBLE) AS sy, CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(x * y) AS DOUBLE) AS sxy, CAST(sum(y * y) AS DOUBLE) AS syy
      FROM u
    ),
    g AS (
      SELECT grp, CAST(count(*) AS DOUBLE) AS ng, CAST(sum(x) AS DOUBLE) AS gx,
             CAST(sum(y) AS DOUBLE) AS gy
      FROM u GROUP BY grp
    ),
    th AS (
      SELECT n, (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta,
             (syy - sy * sy / n) / n AS var_y,
             ((sxy - sx * sy / n) * (sxy - sx * sy / n))
               / ((sxx - sx * sx / n) * (syy - sy * sy / n)) AS rho2
      FROM m
    ),
    d AS (
      SELECT t1.gy / t1.ng - t0.gy / t0.ng AS raw_diff,
             (t1.gy / t1.ng - t0.gy / t0.ng)
               - th.theta * (t1.gx / t1.ng - t0.gx / t0.ng) AS adj_diff,
             th.n, th.theta, th.var_y, th.rho2
      FROM (SELECT * FROM g WHERE grp = 1) t1,
           (SELECT * FROM g WHERE grp = 0) t0, th
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(floor(theta * 1e6 + 0.5) AS BIGINT) AS theta_ppm,
           CAST(floor(rho2 * 1e6 + 0.5) AS BIGINT) AS var_reduction_ppm,
           CAST(floor(raw_diff * 1e3 + 0.5) AS BIGINT) AS raw_diff_millicents,
           CAST(floor(adj_diff * 1e3 + 0.5) AS BIGINT) AS adj_diff_millicents
    FROM d
    """,
    doc="CUPED variance reduction for experiment metrics: per-user "
    "pre-period purchase revenue (Jan 1-15) as the covariate for the "
    "post-period metric (Jan 16-30), theta = cov/var, and the A/B "
    "readout — raw vs CUPED-adjusted arm difference (arms = user-id "
    "parity) plus the variance-reduction factor rho^2 (the fraction of "
    "metric variance the pre-period explains — the speedup every "
    "experimentation platform quotes). Moments are exact BIGINT cent "
    "sums; theta/diffs are shared formula text, ppm/milli-cent frozen. "
    "One aggregate keyed by user; 1-row arithmetic after.",
)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    cents = F.round(F.col("value") * 100).cast("bigint")
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when((F.col("event_type") == "purchase") & (F.col("ts") < cut), cents)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("x"),
        F.sum(
            F.when((F.col("event_type") == "purchase") & (F.col("ts") >= cut), cents)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("y"),
    ).select((F.col("user_id") % 2).alias("grp"), "x", "y")
    m = u.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.expr("x * x")).cast("double").alias("sxx"),
        F.sum(F.expr("x * y")).cast("double").alias("sxy"),
        F.sum(F.expr("y * y")).cast("double").alias("syy"),
    )
    g = u.groupBy("grp").agg(
        F.count("*").cast("double").alias("ng"),
        F.sum("x").cast("double").alias("gx"),
        F.sum("y").cast("double").alias("gy"),
    )
    th = m.selectExpr(
        "n",
        "(sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta",
        "(syy - sy * sy / n) / n AS var_y",
        "((sxy - sx * sy / n) * (sxy - sx * sy / n)) "
        "/ ((sxx - sx * sx / n) * (syy - sy * sy / n)) AS rho2",
    )
    t1 = g.where(F.col("grp") == 1).alias("t1")
    t0 = g.where(F.col("grp") == 0).alias("t0")
    d = t1.crossJoin(t0).crossJoin(th).selectExpr(
        "t1.gy / t1.ng - t0.gy / t0.ng AS raw_diff",
        "(t1.gy / t1.ng - t0.gy / t0.ng) - theta * (t1.gx / t1.ng - t0.gx / t0.ng)"
        " AS adj_diff",
        "n",
        "theta",
        "var_y",
        "rho2",
    )
    return d.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.expr("CAST(floor(theta * 1e6 + 0.5) AS BIGINT)").alias("theta_ppm"),
        F.expr("CAST(floor(rho2 * 1e6 + 0.5) AS BIGINT)").alias("var_reduction_ppm"),
        F.expr("CAST(floor(raw_diff * 1e3 + 0.5) AS BIGINT)").alias(
            "raw_diff_millicents"
        ),
        F.expr("CAST(floor(adj_diff * 1e3 + 0.5) AS BIGINT)").alias(
            "adj_diff_millicents"
        ),
    )


@register(
    "f1_threshold_search",
    oracle="""
    WITH g AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS pos,
             count(*)::BIGINT AS tot
      FROM lineitem GROUP BY 1
    ),
    c AS (
      SELECT q AS thr,
             sum(pos) OVER w::BIGINT AS tp,
             (sum(tot) OVER w - sum(pos) OVER w)::BIGINT AS fp,
             (sum(pos) OVER () - sum(pos) OVER w)::BIGINT AS fn
      FROM g WINDOW w AS (ORDER BY q DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    s AS (
      SELECT thr, tp, fp, fn,
             (1000000 * tp) // (tp + fp) AS precision_ppm,
             (1000000 * tp) // (tp + fn) AS recall_ppm,
             (1000000 * 2 * tp) // (2 * tp + fp + fn) AS f1_ppm
      FROM c WHERE tp > 0
    )
    SELECT thr, tp, fp, fn, precision_ppm, recall_ppm, f1_ppm,
           f1_ppm = max(f1_ppm) OVER ()
             AND thr = min(thr) FILTER (WHERE f1_ppm = max_f1) OVER () AS is_best
    FROM (SELECT *, max(f1_ppm) OVER () AS max_f1 FROM s)
    """,
    doc="operating-point selection: precision/recall/F1 at every decision "
    "threshold of the quantity score (predict returned when q >= thr), "
    "ENTIRELY in exact integer arithmetic — F1 = 2TP/(2TP+FP+FN) is a "
    "rational of counts, so even the argmax needs no floats (ties break "
    "to the lowest threshold = highest recall). The step after "
    "roc_auc/average_precision answer 'is the ranker good': this one "
    "answers 'where do we cut'. One aggregate to the 50-value grid; "
    "cumulative windows over the grid only.",
)
def f1_threshold_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    g = li.groupBy(F.col("l_quantity").cast("bigint").alias("q")).agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
        F.count("*").cast("bigint").alias("tot"),
    )
    w = Window.orderBy(F.desc("q")).rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    c = g.select(
        F.col("q").alias("thr"),
        F.sum("pos").over(w).cast("bigint").alias("tp"),
        (F.sum("tot").over(w) - F.sum("pos").over(w)).cast("bigint").alias("fp"),
        (F.sum("pos").over(wall) - F.sum("pos").over(w)).cast("bigint").alias("fn"),
    )
    s = c.where(F.col("tp") > 0).select(
        "thr",
        "tp",
        "fp",
        "fn",
        F.expr("(1000000 * tp) div (tp + fp)").alias("precision_ppm"),
        F.expr("(1000000 * tp) div (tp + fn)").alias("recall_ppm"),
        F.expr("(1000000 * 2 * tp) div (2 * tp + fp + fn)").alias("f1_ppm"),
    )
    s2 = s.withColumn("max_f1", F.max("f1_ppm").over(wall)).withColumn(
        "best_thr",
        F.min(F.when(F.col("f1_ppm") == F.col("max_f1"), F.col("thr"))).over(wall),
    )
    return s2.select(
        "thr",
        "tp",
        "fp",
        "fn",
        "precision_ppm",
        "recall_ppm",
        "f1_ppm",
        ((F.col("f1_ppm") == F.col("max_f1")) & (F.col("thr") == F.col("best_thr"))).alias(
            "is_best"
        ),
    )


@register(
    "median_confidence_interval",
    oracle="""
    WITH v AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem
    ),
    r AS (
      SELECT c, row_number() OVER (ORDER BY c)::BIGINT AS rn,
             count(*) OVER ()::BIGINT AS n
      FROM v
    ),
    k AS (
      SELECT n,
             CAST(floor((n - CAST(1.959964 AS DOUBLE) * sqrt(CAST(n AS DOUBLE))) / 2.0)
               AS BIGINT) AS lo_rank,
             CAST(ceil(1 + (n + CAST(1.959964 AS DOUBLE) * sqrt(CAST(n AS DOUBLE))) / 2.0)
               AS BIGINT) AS hi_rank,
             (5000 * (n - 1)) // 10000 + 1 AS med_rank
      FROM (SELECT DISTINCT n FROM r)
    )
    SELECT k.n AS n_rows,
           max(CASE WHEN r.rn = k.med_rank THEN r.c END) AS median_cents,
           max(CASE WHEN r.rn = k.lo_rank THEN r.c END) AS ci_lo_cents,
           max(CASE WHEN r.rn = k.hi_rank THEN r.c END) AS ci_hi_cents
    FROM r JOIN k ON r.rn IN (k.med_rank, k.lo_rank, k.hi_rank)
    GROUP BY k.n
    """,
    doc="distribution-free 95% confidence interval for the median via "
    "order statistics: the binomial-normal rank bounds "
    "floor((n - 1.96*sqrt(n))/2) and ceil(1 + (n + 1.96*sqrt(n))/2) "
    "pick two order statistics that bracket the true median with ~95% "
    "coverage under NO distributional assumption — the uncertainty "
    "statement that should accompany every reported median. Ranks are "
    "exact integers from a shared formula (sqrt is the only "
    "transcendental, applied to the row count); the three order-"
    "statistic picks ride one cumulative pass over the distinct-cents "
    "value grid (no raw-row global sort at any scale).",
)
def median_confidence_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    v = li.select(F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("c"))
    # order-statistic picks by value-grid rank-select (operators/rankselect.py)
    from map_reduce_engine_spark.operators.rankselect import (
        rank_pick,
        value_grid_cum,
    )

    cum = value_grid_cum(v, "c")
    k = v.agg(F.count("*").cast("bigint").alias("n")).select(
        "n",
        F.expr(
            "CAST(floor((n - CAST(1.959964 AS DOUBLE) * sqrt(CAST(n AS DOUBLE))) / 2.0)"
            " AS BIGINT)"
        ).alias("lo_rank"),
        F.expr(
            "CAST(ceil(1 + (n + CAST(1.959964 AS DOUBLE) * sqrt(CAST(n AS DOUBLE))) / 2.0)"
            " AS BIGINT)"
        ).alias("hi_rank"),
        F.expr("(5000 * (n - 1)) div 10000 + 1").alias("med_rank"),
    )
    return cum.crossJoin(F.broadcast(k)).groupBy(F.col("n").alias("n_rows")).agg(
        rank_pick("c", "cum", "med_rank").alias("median_cents"),
        rank_pick("c", "cum", "lo_rank").alias("ci_lo_cents"),
        rank_pick("c", "cum", "hi_rank").alias("ci_hi_cents"),
    )


# runs-test z over exact counts (shared text): r = runs, n1/n2 = signs
_RUNS_Z = (
    "((r - (2.0 * n1 * n2 / (n1 + n2) + 1.0)) / "
    "sqrt((2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)) / "
    "((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))))"
)


@register(
    "runs_test_randomness",
    oracle=f"""
    WITH d AS (
      SELECT ts::DATE AS day,
             sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    med AS (
      SELECT cents AS m FROM (
        SELECT cents, row_number() OVER (ORDER BY cents) AS rn,
               count(*) OVER () AS n FROM d
      ) WHERE rn = (5000 * (n - 1)) // 10000 + 1
    ),
    s AS (
      SELECT day, CASE WHEN cents > med.m THEN 1 ELSE 0 END AS sign
      FROM d, med
    ),
    runs AS (
      SELECT sum(CASE WHEN prev IS NULL OR sign <> prev THEN 1 ELSE 0 END)::BIGINT AS r,
             sum(sign)::BIGINT AS n1, sum(1 - sign)::BIGINT AS n2
      FROM (SELECT sign, lag(sign) OVER (ORDER BY day) AS prev FROM s)
    )
    SELECT r AS n_runs, n1 AS n_above, n2 AS n_below,
           round({_RUNS_Z}, 4) AS z,
           abs(round({_RUNS_Z}, 4)) > 1.96 AS nonrandom
    FROM runs
    """,
    doc="Wald-Wolfowitz runs test on daily purchase revenue: is the "
    "above/below-median sequence random, or does it cluster (trend/"
    "regime persistence) or alternate (negative autocorrelation)? Run "
    "count, sign counts, and the normal-approximation z (shared formula "
    "over exact integers, continuity conventions fixed) — the "
    "randomness sanity check behind every 'is this series i.i.d. "
    "enough' decision. One aggregate to the calendar-bounded daily "
    "grid; the run count is one lag window over it.",
)
def runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("cents")
    )
    rk = d.select(
        "cents",
        F.row_number().over(Window.orderBy("cents")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    med = rk.where(F.expr("rn = (5000 * (n - 1)) div 10000 + 1")).select(
        F.col("cents").alias("m")
    )
    s = d.crossJoin(F.broadcast(med)).select(
        "day", F.when(F.col("cents") > F.col("m"), 1).otherwise(0).alias("sign")
    )
    lagd = s.select(
        "sign", F.lag("sign").over(Window.orderBy("day")).alias("prev")
    )
    runs = lagd.agg(
        F.sum(
            F.when(F.col("prev").isNull() | (F.col("sign") != F.col("prev")), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("r"),
        F.sum("sign").cast("bigint").alias("n1"),
        F.sum(1 - F.col("sign")).cast("bigint").alias("n2"),
    )
    zc = F.round(F.expr(_RUNS_Z), 4)
    return runs.select(
        F.col("r").alias("n_runs"),
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        zc.alias("z"),
        (F.abs(zc) > 1.96).alias("nonrandom"),
    )


# --- Ljung-Box portmanteau test ----------------------------------------------

_LB_LAGS = 7


def _lb_oracle() -> str:
    """Per-lag autocorrelations from EXACT integer cross-moments (the
    centered product expands to sab - mu*sa - mu*sb + c*mu^2, so the only
    float work is a fixed formula over exact BIGINTs — no order-dependent
    float summation), frozen to nano; Q from the frozen values."""
    lag_ctes = ",\n".join(
        f"""n{k} AS MATERIALIZED (
      SELECT CAST(floor(1e9 * ((CAST(j.sab AS DOUBLE) - m.mu * j.sa - m.mu * j.sb
               + j.c * m.mu * m.mu) / m.ss) + 0.5) AS BIGINT) AS r
      FROM (SELECT sum(a.cents * b.cents)::BIGINT AS sab,
                   sum(a.cents)::BIGINT AS sa, sum(b.cents)::BIGINT AS sb,
                   count(*)::BIGINT AS c
            FROM s a JOIN s b ON b.rn = a.rn + {k}) j, m)"""
        for k in range(1, _LB_LAGS + 1)
    )
    q = " + ".join(
        f"(n{k}.r / 1e9) * (n{k}.r / 1e9) / (m.n - {k})" for k in range(1, _LB_LAGS + 1)
    )
    r_cols = ", ".join(f"n{k}.r AS r{k}_nano" for k in range(1, _LB_LAGS + 1))
    r_from = ", ".join(f"n{k}" for k in range(1, _LB_LAGS + 1))
    return f"""
    WITH d AS (
      SELECT ts::DATE AS day,
             sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    s AS MATERIALIZED (
      SELECT cents, row_number() OVER (ORDER BY day)::BIGINT AS rn FROM d
    ),
    m AS MATERIALIZED (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(cents) AS DOUBLE) / count(*) AS mu,
             CAST(sum(cents * cents) AS DOUBLE)
               - CAST(sum(cents) AS DOUBLE) * sum(cents) / count(*) AS ss
      FROM s
    ),
    {lag_ctes}
    SELECT CAST(m.n AS BIGINT) AS n_days, {r_cols},
           round(m.n * (m.n + 2.0) * ({q}), 4) AS q_stat,
           round(m.n * (m.n + 2.0) * ({q}), 4) > 14.067 AS autocorrelated
    FROM m, {r_from}
    """


@register(
    "ljung_box_test",
    oracle=_lb_oracle(),
    doc="Ljung-Box portmanteau test on daily purchase revenue: are the "
    "first 7 autocorrelations jointly zero? Each lag's r_k comes from "
    "EXACT BIGINT cross-moments (the centered product expanded so no "
    "order-dependent float summation exists), frozen to nano; "
    "Q = n(n+2) SUM r_k^2/(n-k) is one shared formula against the "
    "chi-square(7) 95% cut 14.067 — the 'is there structure left' "
    "gate run before trusting i.i.d.-assuming statistics, completing "
    "the diagnostics trio with the runs test and the ACF. One "
    "aggregate to the calendar-bounded daily grid; lag joins are "
    "grid-bounded.",
)
def ljung_box_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("cents")
    )
    s = d.select(
        "cents", F.row_number().over(Window.orderBy("day")).cast("bigint").alias("rn")
    ).localCheckpoint(eager=True)
    m = s.agg(
        F.count("*").cast("double").alias("n"),
        F.expr("CAST(sum(cents) AS DOUBLE) / count(*)").alias("mu"),
        F.expr(
            "CAST(sum(cents * cents) AS DOUBLE) "
            "- CAST(sum(cents) AS DOUBLE) * sum(cents) / count(*)"
        ).alias("ss"),
    )
    out = m
    a, b = s.alias("a"), s.alias("b")
    for k in range(1, _LB_LAGS + 1):
        j = (
            a.join(b, F.col("b.rn") == F.col("a.rn") + k)
            .agg(
                F.sum(F.expr("a.cents * b.cents")).cast("bigint").alias("sab"),
                F.sum(F.col("a.cents")).cast("bigint").alias("sa"),
                F.sum(F.col("b.cents")).cast("bigint").alias("sb"),
                F.count("*").cast("bigint").alias("c"),
            )
        )
        rk = (
            j.crossJoin(F.broadcast(m))
            .select(
                F.expr(
                    "CAST(floor(1e9 * ((CAST(sab AS DOUBLE) - mu * sa - mu * sb "
                    "+ c * mu * mu) / ss) + 0.5) AS BIGINT)"
                ).alias(f"r{k}_nano")
            )
        )
        out = out.crossJoin(rk)
    q = " + ".join(f"(r{k}_nano / 1e9) * (r{k}_nano / 1e9) / (n - {k})" for k in range(1, _LB_LAGS + 1))
    return out.select(
        F.col("n").cast("bigint").alias("n_days"),
        *[F.col(f"r{k}_nano") for k in range(1, _LB_LAGS + 1)],
        F.round(F.expr(f"n * (n + 2.0) * ({q})"), 4).alias("q_stat"),
        (F.round(F.expr(f"n * (n + 2.0) * ({q})"), 4) > 14.067).alias("autocorrelated"),
    )


@register(
    "seasonal_decompose_daily",
    oracle="""
    WITH d AS (
      SELECT ts::DATE AS day,
             sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    s AS (
      SELECT day, cents, row_number() OVER (ORDER BY day)::BIGINT AS rn,
             count(*) OVER ()::BIGINT AS n,
             date_diff('day', DATE '1970-01-05', day) % 7 AS dow
      FROM d
    ),
    tr AS (
      SELECT day, cents, rn, n, dow,
             CAST(CAST(sum(cents) OVER (ORDER BY rn
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
               // 7 AS BIGINT) AS trend_cents
      FROM s
    ),
    mid AS (SELECT * FROM tr WHERE rn >= 4 AND rn <= n - 3),
    seas AS (
      SELECT dow,
             CAST(floor(CAST(sum(cents - trend_cents) AS DOUBLE) / count(*) + 0.5)
               AS BIGINT) AS seasonal_cents
      FROM mid GROUP BY dow
    )
    SELECT m.day, m.cents, m.trend_cents, m.dow AS weekday_idx,
           se.seasonal_cents,
           m.cents - m.trend_cents - se.seasonal_cents AS remainder_cents
    FROM mid m JOIN seas se USING (dow)
    """,
    doc="classical additive seasonal decomposition of daily purchase "
    "revenue: trend = centered 7-day moving average (integer cents, full "
    "windows only), weekday seasonal = mean detrended residual per "
    "days-since-Monday index (frozen via floor(avg+0.5) — integer div "
    "truncates differently across engines on NEGATIVE residuals, so the "
    "freeze goes through the deterministic double), remainder = the "
    "series minus both — the STL-lite decomposition behind every "
    "seasonally-adjusted dashboard, complementing the monthly "
    "multiplicative index. One aggregate to the calendar-bounded daily "
    "grid; windows over the grid only.",
)
def seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("cents")
    )
    s = d.select(
        "day",
        "cents",
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("rn"),
        F.count("*").over(Window.partitionBy()).cast("bigint").alias("n"),
        (
            F.datediff(F.col("day"), F.lit("1970-01-05").cast("date")) % 7
        ).alias("dow"),
    )
    wm = Window.orderBy("rn").rowsBetween(-3, 3)
    tr = s.select(
        "day",
        "cents",
        "rn",
        "n",
        "dow",
        F.expr(
            "CAST(sum(cents) OVER (ORDER BY rn ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)"
            " AS BIGINT) div 7"
        ).alias("trend_cents"),
    )
    mid = tr.where((F.col("rn") >= 4) & (F.col("rn") <= F.col("n") - 3))
    seas = mid.groupBy("dow").agg(
        F.expr(
            "CAST(floor(CAST(sum(cents - trend_cents) AS DOUBLE) / count(*) + 0.5)"
            " AS BIGINT)"
        ).alias("seasonal_cents")
    )
    return mid.join(seas, "dow").select(
        "day",
        "cents",
        "trend_cents",
        F.col("dow").alias("weekday_idx"),
        "seasonal_cents",
        (F.col("cents") - F.col("trend_cents") - F.col("seasonal_cents")).alias(
            "remainder_cents"
        ),
    )


# --- Huber robust trend (IRLS) -----------------------------------------------

_HUBER_ROUNDS = 3
# Daily rows collected: the purchase calendar (30 days in the fixtures);
# 36600 admits a century of days at a few ms per round.
_HUBER_MAX_DAYS = 36600
# weighted-OLS fit over ppm-frozen weights (shared text; moments exact ints)
_HUB_B = (
    "((CAST(sw AS DOUBLE) * swxy - CAST(swx AS DOUBLE) * swy) "
    "/ (CAST(sw AS DOUBLE) * swxx - CAST(swx AS DOUBLE) * swx))"
)
_HUB_A = f"((CAST(swy AS DOUBLE) - {_HUB_B} * swx) / sw)"


def _huber_oracle() -> str:
    moms = (
        "SELECT sum(w)::BIGINT AS sw, sum(w * rn)::BIGINT AS swx, "
        "sum(w * cents)::BIGINT AS swy, sum(w * rn * rn)::BIGINT AS swxx, "
        "sum(w * rn * cents)::BIGINT AS swxy FROM {src}"
    )
    ctes = [
        "d AS MATERIALIZED (SELECT ts::DATE AS day, "
        "sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents "
        "FROM events WHERE event_type = 'purchase' GROUP BY 1)",
        "s AS MATERIALIZED (SELECT day, cents, "
        "row_number() OVER (ORDER BY day)::BIGINT AS rn FROM d)",
        "w0 AS MATERIALIZED (SELECT day, cents, rn, 1000000::BIGINT AS w FROM s)",
    ]
    prev = "w0"
    for r in range(1, _HUBER_ROUNDS + 1):
        ctes.append(f"m{r} AS MATERIALIZED ({moms.format(src=prev)})")
        ctes.append(
            f"f{r} AS MATERIALIZED (SELECT {_HUB_A} AS a, {_HUB_B} AS b FROM m{r})"
        )
        ctes.append(
            f"res{r} AS MATERIALIZED (SELECT p.day, p.cents, p.rn, "
            f"abs(p.cents - (f.a + f.b * p.rn)) AS ar FROM {prev} p, f{r} f)"
        )
        ctes.append(
            f"mad{r} AS MATERIALIZED (SELECT ar AS mad FROM ("
            f"SELECT ar, row_number() OVER (ORDER BY ar, day) AS k, "
            f"count(*) OVER () AS n FROM res{r}) "
            f"WHERE k = (5000 * (n - 1)) // 10000 + 1)"
        )
        if r < _HUBER_ROUNDS:
            ctes.append(
                f"w{r} AS MATERIALIZED (SELECT r.day, r.cents, r.rn, "
                f"CASE WHEN r.ar <= CAST(1.345 AS DOUBLE) * m.mad THEN 1000000::BIGINT "
                f"ELSE CAST(floor(CAST(1.345 AS DOUBLE) * m.mad / r.ar * 1e6 + 0.5) "
                f"AS BIGINT) END AS w FROM res{r} r, mad{r} m)"
            )
            prev = f"w{r}"
    k = _HUBER_ROUNDS
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT (SELECT count(*) FROM s)::BIGINT AS n_days,
           CAST(floor(f.a * 1e3 + 0.5) AS BIGINT) AS intercept_millicents,
           CAST(floor(f.b * 1e3 + 0.5) AS BIGINT) AS slope_millicents_per_day,
           CAST(floor(m.mad * 1e3 + 0.5) AS BIGINT) AS mad_millicents,
           (SELECT sum(CASE WHEN r.ar > CAST(1.345 AS DOUBLE) * m2.mad THEN 1 ELSE 0 END)
            FROM res{k} r, mad{k} m2)::BIGINT AS n_downweighted
    FROM f{k} f, mad{k} m"""
    )


@register(
    "huber_robust_trend",
    oracle=_huber_oracle(),
    doc="Huber robust trend line over daily purchase revenue by 3 IRLS "
    "rounds: weighted OLS with weights min(1, 1.345*MAD/|resid|) frozen "
    "to BIGINT ppm per round, the scale re-estimated each round as the "
    "exact discrete median absolute residual — outlier days lose "
    "influence instead of dragging the slope (the robust counterpart of "
    "ols_value_trend, distribution-free like theil_sen but with an "
    "explicit efficiency/robustness dial). Weighted moments are exact "
    "BIGINT sums; fits are shared formula text; final intercept/slope/"
    "MAD frozen to milli-cents with the downweighted-day count. One "
    "aggregate builds the calendar-bounded daily grid, which is "
    "collected once; the rounds run on the driver.",
)
def huber_robust_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("cents")
    )
    # rn = row_number() OVER (ORDER BY day): position in the sorted calendar
    days = sorted(collect_bounded(d, _HUBER_MAX_DAYS, "huber_robust_trend"))
    cents = [r.cents for r in days]
    schema = (
        "n_days bigint, intercept_millicents bigint, slope_millicents_per_day bigint, "
        "mad_millicents bigint, n_downweighted bigint"
    )
    if not cents:
        return local_rows(spark, [], schema)
    rn = range(1, len(cents) + 1)
    w = [1000000] * len(cents)
    for r in range(1, _HUBER_ROUNDS + 1):
        sw = sum(w)
        swx = sum(x * k for x, k in zip(w, rn))
        swy = sum(x * c for x, c in zip(w, cents))
        swxx = sum(x * k * k for x, k in zip(w, rn))
        swxy = sum(x * k * c for x, k, c in zip(w, rn, cents))
        # _HUB_B and _HUB_A: each integer moment converts to double where used
        b = (float(sw) * swxy - float(swx) * swy) / (float(sw) * swxx - float(swx) * swx)
        a = (float(swy) - b * swx) / sw
        ar = [abs(c - (a + b * k)) for k, c in zip(rn, cents)]
        # the (5000 * (n - 1)) div 10000 + 1-th smallest residual; ties in
        # the (ar, day) order cannot change the value picked
        mad = sorted(ar)[(5000 * (len(ar) - 1)) // 10000]
        if r < _HUBER_ROUNDS:
            w = [
                1000000 if e <= 1.345 * mad else math.floor(1.345 * mad / e * 1e6 + 0.5)
                for e in ar
            ]
    row = (
        len(cents),
        math.floor(a * 1e3 + 0.5),
        math.floor(b * 1e3 + 0.5),
        math.floor(mad * 1e3 + 0.5),
        sum(e > 1.345 * mad for e in ar),
    )
    return local_rows(spark, [row], schema)


@register(
    "overdispersion_index",
    oracle="""
    WITH pc AS (
      SELECT event_type, user_id, count(*)::BIGINT AS k
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, count(*)::BIGINT AS n_users,
             sum(k)::BIGINT AS sk, sum(k * k)::BIGINT AS skk
      FROM pc GROUP BY 1
    )
    SELECT event_type, n_users, sk AS n_events,
           CAST(floor((CAST(skk AS DOUBLE) - CAST(sk AS DOUBLE) * sk / n_users)
             / (n_users - 1.0) / (CAST(sk AS DOUBLE) / n_users) * 1e6 + 0.5)
             AS BIGINT) AS dispersion_ppm,
           CAST(floor((CAST(skk AS DOUBLE) - CAST(sk AS DOUBLE) * sk / n_users)
             / (CAST(sk AS DOUBLE) / n_users) + 0.5) AS BIGINT) AS chi2_unit,
           CAST(floor((CAST(skk AS DOUBLE) - CAST(sk AS DOUBLE) * sk / n_users)
             / (n_users - 1.0) / (CAST(sk AS DOUBLE) / n_users) * 1e6 + 0.5)
             AS BIGINT) > 1500000 AS overdispersed
    FROM m
    """,
    doc="Poisson overdispersion index per event type: variance-to-mean "
    "ratio of per-user event counts (=1 under Poisson arrivals; >1 means "
    "clumpy users — the burstiness signal at the COUNT level, "
    "complementing interarrival_burstiness at the timing level) plus the "
    "dispersion chi-square. Decides Poisson vs negative-binomial "
    "modeling and flags bot-like concentration. Exact BIGINT count "
    "moments; the ratio is a shared formula frozen to ppm with a 1.5x "
    "flag. Two hash aggregates; |event types| output rows.",
)
def overdispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    pc = ev.groupBy("event_type", "user_id").agg(F.count("*").cast("bigint").alias("k"))
    m = pc.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("k").cast("bigint").alias("sk"),
        F.sum(F.expr("k * k")).cast("bigint").alias("skk"),
    )
    disp = (
        "CAST(floor((CAST(skk AS DOUBLE) - CAST(sk AS DOUBLE) * sk / n_users)"
        " / (n_users - 1.0) / (CAST(sk AS DOUBLE) / n_users) * 1e6 + 0.5) AS BIGINT)"
    )
    return m.select(
        "event_type",
        "n_users",
        F.col("sk").alias("n_events"),
        F.expr(disp).alias("dispersion_ppm"),
        F.expr(
            "CAST(floor((CAST(skk AS DOUBLE) - CAST(sk AS DOUBLE) * sk / n_users)"
            " / (CAST(sk AS DOUBLE) / n_users) + 0.5) AS BIGINT)"
        ).alias("chi2_unit"),
        (F.expr(disp) > 1500000).alias("overdispersed"),
    )


@register(
    "column_entropy_profile",
    oracle="""
    WITH cols AS (
      SELECT 'c_mktsegment' AS col, c_mktsegment AS v FROM customer
      UNION ALL
      SELECT 'c_nationkey', c_nationkey::VARCHAR FROM customer
      UNION ALL
      SELECT 'balance_sign', CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END
      FROM customer
    ),
    cell AS (SELECT col, v, count(*)::BIGINT AS c FROM cols GROUP BY 1, 2),
    tot AS (SELECT col, sum(c)::BIGINT AS n, count(*)::BIGINT AS n_distinct
            FROM cell GROUP BY col),
    h AS (
      SELECT cell.col,
             sum(CAST(floor(-1e9 * (cell.c / CAST(tot.n AS DOUBLE))
                 * ln(cell.c / CAST(tot.n AS DOUBLE)) + 0.5) AS BIGINT))::BIGINT
               AS h_nano
      FROM cell JOIN tot USING (col) GROUP BY cell.col
    )
    SELECT tot.col AS column_name, tot.n AS n_rows, tot.n_distinct, h.h_nano,
           (1000000 * tot.n_distinct) // tot.n AS distinct_ratio_ppm
    FROM tot JOIN h USING (col)
    """,
    doc="column-level entropy/cardinality profile (the data-profiling "
    "pass beside null_profile_report): per column, distinct count, "
    "Shannon entropy in nano-nats (per-value terms frozen — order-free "
    "integer sums), and the distinct ratio — the signals that drive "
    "encoding choices (dictionary vs raw), join-key viability, and "
    "quasi-identifier risk screening. Columns unpivot into one value "
    "stream so the profile is ONE aggregate pass regardless of column "
    "count; value-cardinality-bounded output.",
)
def column_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    cols = (
        cust.select(F.lit("c_mktsegment").alias("col"), F.col("c_mktsegment").alias("v"))
        .unionByName(
            cust.select(
                F.lit("c_nationkey").alias("col"),
                F.col("c_nationkey").cast("string").alias("v"),
            )
        )
        .unionByName(
            cust.select(
                F.lit("balance_sign").alias("col"),
                F.when(F.col("c_acctbal") < 0, "neg").otherwise("pos").alias("v"),
            )
        )
    )
    cell = cols.groupBy("col", "v").agg(F.count("*").cast("bigint").alias("c"))
    tot = cell.groupBy("col").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("n_distinct"),
    )
    h = (
        cell.join(tot, "col")
        .groupBy("col")
        .agg(
            F.sum(
                F.expr(
                    "CAST(floor(-1e9 * (c / CAST(n AS DOUBLE)) "
                    "* ln(c / CAST(n AS DOUBLE)) + 0.5) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("h_nano")
        )
    )
    return (
        tot.join(h, "col")
        .select(
            F.col("col").alias("column_name"),
            F.col("n").alias("n_rows"),
            "n_distinct",
            "h_nano",
            F.expr("(1000000 * n_distinct) div n").alias("distinct_ratio_ppm"),
        )
    )


# --- Sinkhorn entropic optimal transport -------------------------------------

_SK_ROUNDS = 8
# Marginal rows collected (returned + kept quantity bins). TPC-H quantities
# are 1..50, so 100 rows; 512 keeps the driver's rounds over the na x nb
# kernel grid (at most 256^2 cells, 16 contractions) near a second.
_SK_MAX_BINS = 512
_SK_KM = "CAST(floor(exp(-abs(ai - bj) / CAST(5.0 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)"


def _sk_oracle() -> str:
    ctes = [
        "am AS MATERIALIZED (SELECT CAST(l_quantity AS BIGINT) AS ai, "
        "(1000000 * count(*)) // (SELECT count(*) FROM lineitem WHERE l_returnflag = 'R')"
        " AS ap FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1)",
        "bm AS MATERIALIZED (SELECT CAST(l_quantity AS BIGINT) AS bj, "
        "(1000000 * count(*)) // (SELECT count(*) FROM lineitem WHERE l_returnflag <> 'R')"
        " AS bp FROM lineitem WHERE l_returnflag <> 'R' GROUP BY 1)",
        f"k AS MATERIALIZED (SELECT am.ai, bm.bj, {_SK_KM} AS km FROM am, bm)",
        "v0 AS MATERIALIZED (SELECT bj, 1000000::BIGINT AS vm FROM bm)",
    ]
    for r in range(1, _SK_ROUNDS + 1):
        ctes.append(
            f"u{r} AS MATERIALIZED (SELECT am.ai, CAST(floor(CAST(am.ap AS DOUBLE) "
            f"* 1e12 / s.s + 0.5) AS BIGINT) AS um FROM am JOIN "
            f"(SELECT k.ai, sum(k.km * v.vm)::BIGINT AS s FROM k "
            f"JOIN v{r - 1} v ON v.bj = k.bj GROUP BY k.ai) s ON s.ai = am.ai)"
        )
        ctes.append(
            f"v{r} AS MATERIALIZED (SELECT bm.bj, CAST(floor(CAST(bm.bp AS DOUBLE) "
            f"* 1e12 / s.s + 0.5) AS BIGINT) AS vm FROM bm JOIN "
            f"(SELECT k.bj, sum(k.km * u.um)::BIGINT AS s FROM k "
            f"JOIN u{r} u ON u.ai = k.ai GROUP BY k.bj) s ON s.bj = bm.bj)"
        )
    R = _SK_ROUNDS
    cell = (
        "(u.um / 1e6) * (k.km / 1e6) * (v.vm / 1e6)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
    plan AS (
      SELECT CAST(floor(abs(k.ai - k.bj) * {cell} * 1e9 + 0.5) AS BIGINT) AS cost_n,
             CAST(floor({cell} * 1e9 + 0.5) AS BIGINT) AS mass_n
      FROM k JOIN u{R} u ON u.ai = k.ai JOIN v{R} v ON v.bj = k.bj
    )
    SELECT (SELECT count(*) FROM am)::BIGINT AS n_source_bins,
           (SELECT count(*) FROM bm)::BIGINT AS n_target_bins,
           sum(cost_n)::BIGINT AS transport_cost_nano,
           sum(mass_n)::BIGINT AS transported_mass_nano
    FROM plan"""
    )


@register(
    "sinkhorn_distribution_distance",
    oracle=_sk_oracle(),
    doc="entropic optimal transport (Sinkhorn) between the quantity "
    "distributions of returned vs kept line items: the Gibbs kernel "
    "exp(-|i-j|/5) freezes ONCE to integer micro-units per grid cell, "
    "then 8 alternating scaling rounds (Sinkhorn IS iterative "
    "proportional fitting on the kernel — same discipline as "
    "ipf_raking_weights) with scaling vectors frozen to micro per "
    "round; the kernel contractions Σ K·v are pure INTEGER sums, so no "
    "order-dependent float accumulation exists anywhere. Outputs the "
    "entropic transport cost — the distribution distance that, unlike "
    "KL/PSI/JS (which compare bins pointwise), accounts for HOW FAR "
    "mass must move, the right metric for ordinal drift. One corpus "
    "aggregate builds both marginals; the 50x50 grid (kernel exp "
    "evaluated in Spark over the distinct |i-j|) and its rounds then "
    "run on the driver.",
)
def sinkhorn_distribution_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    marg = li.groupBy(
        (F.col("l_returnflag") == "R").alias("ret"),
        F.col("l_quantity").cast("bigint").alias("q"),
    ).agg(F.count("*").alias("n"))
    a, b = {}, {}
    for r in collect_bounded(marg, _SK_MAX_BINS, "sinkhorn_distribution_distance"):
        if r.ret is not None:  # a NULL flag is neither returned nor kept
            (a if r.ret else b)[r.q] = r.n
    na, nb = sum(a.values()), sum(b.values())
    ap = {i: (1000000 * n) // na for i, n in a.items()}
    bp = {j: (1000000 * n) // nb for j, n in b.items()}
    cells = [(i, j) for i in ap for j in bp]
    cost = mass = None
    if cells:
        # the kernel only depends on |i - j|; Spark evaluates its exp
        # (StrictMath), which libm's exp need not match at the last ulp, over
        # an inline table that the driver plans and folds without a job
        dist = ", ".join(f"({d}, 0)" for d in sorted({abs(i - j) for i, j in cells}))
        kernel = spark.sql(f"SELECT ai, {_SK_KM} FROM VALUES {dist} AS d(ai, bj)")
        kd = dict(kernel.collect())
        km = {(i, j): kd[abs(i - j)] for i, j in cells}
        v = {j: 1000000 for j in bp}
        for _ in range(_SK_ROUNDS):
            su = {i: sum(km[i, j] * v[j] for j in bp) for i in ap}
            u = {i: math.floor(float(ap[i]) * 1e12 / su[i] + 0.5) for i in ap}
            sv = {j: sum(km[i, j] * u[i] for i in ap) for j in bp}
            v = {j: math.floor(float(bp[j]) * 1e12 / sv[j] + 0.5) for j in bp}
        cost = sum(
            math.floor(abs(i - j) * (u[i] / 1e6) * (k / 1e6) * (v[j] / 1e6) * 1e9 + 0.5)
            for (i, j), k in km.items()
        )
        mass = sum(
            math.floor((u[i] / 1e6) * (k / 1e6) * (v[j] / 1e6) * 1e9 + 0.5)
            for (i, j), k in km.items()
        )
    return local_rows(
        spark,
        [(len(ap), len(bp), cost, mass)],
        "n_source_bins bigint, n_target_bins bigint, "
        "transport_cost_nano bigint, transported_mass_nano bigint",
    )


def _k_truss_oracle(k: int = 4, rounds: int = 5) -> str:
    """Unrolled k-truss peel (the _k_core_oracle template one level up):
    bounded MATERIALIZED rounds of triangle-support filtering; peeling is
    monotone, so the fixed unrolling equals the Spark fixpoint."""
    parts = [
        """items AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    e0 AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    )"""
    ]
    prev = "e0"
    for r in range(1, rounds + 1):
        parts.append(
            f"""t{r} AS MATERIALIZED (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM {prev} e1 JOIN {prev} e2 ON e2.u = e1.v
      JOIN {prev} e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    s{r} AS MATERIALIZED (
      SELECT u, v, count(*)::BIGINT AS n FROM (
        SELECT a AS u, b AS v FROM t{r}
        UNION ALL SELECT b, c FROM t{r}
        UNION ALL SELECT a, c FROM t{r}
      ) GROUP BY u, v
    ),
    e{r} AS MATERIALIZED (
      SELECT e.u, e.v FROM {prev} e JOIN s{r} s ON s.u = e.u AND s.v = e.v
      WHERE s.n >= {k - 2}
    )"""
        )
        prev = f"e{r}"
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes},
    tf AS MATERIALIZED (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM {prev} e1 JOIN {prev} e2 ON e2.u = e1.v
      JOIN {prev} e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    sf AS (
      SELECT u, v, count(*)::BIGINT AS n FROM (
        SELECT a AS u, b AS v FROM tf
        UNION ALL SELECT b, c FROM tf
        UNION ALL SELECT a, c FROM tf
      ) GROUP BY u, v
    )
    SELECT e.u, e.v, coalesce(sf.n, 0)::BIGINT AS n_triangles
    FROM {prev} e LEFT JOIN sf ON sf.u = e.u AND sf.v = e.v
    """


@register(
    "k_truss_parts",
    oracle=_k_truss_oracle(k=4, rounds=5),
    doc="4-truss of the co-purchase graph (same edges as k_core_parts): "
    "every surviving edge closes >= 2 triangles WITHIN the survivors — "
    "the cohesion level degree-based k-core cannot certify (hubs fake "
    "degree; they cannot fake closed triangles). Each peel round is one "
    "ordered 3-way equi-join triangle enumeration (a<b<c — each "
    "triangle exactly once) + a 3-way edge explosion aggregate + a "
    "support filter, bounded rounds with the monotone-peel fixpoint "
    "argument (operators/graph.py::k_truss, k_core loop discipline). "
    "Output: surviving edges with within-truss support.",
)
def k_truss_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.graph import k_truss

    return k_truss(copurchase_edges(spark, sf_dir), k=4, max_iter=5)


# --- Bradley-Terry paired-comparison ranking ---------------------------------

_BT_ROUNDS = 8
# Ordered brand pairs collected. TPC-H has 25 brands, so at most 600 pairs;
# 4096 admits 64 brands, whose 8 rounds stay ~30k driver steps.
_BT_MAX_PAIRS = 4096
# frozen MM pieces: per-pair denominator term and the raw update, both
# single divisions over exact/frozen integers (identical text both engines)
_BT_TERM = "CAST(floor(n_ij * 1e12 / (pi + pj) + 0.5) AS BIGINT)"
_BT_RAW = "CAST(floor(w * 1e12 / d + 0.5) AS BIGINT)"


def _bt_oracle() -> str:
    ctes = [
        "ob AS MATERIALIZED (SELECT l.l_orderkey AS ok, p.p_brand AS brand, "
        "sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))::BIGINT AS cents "
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey GROUP BY 1, 2)",
        "duels AS MATERIALIZED (SELECT a.brand AS wi, b.brand AS lo "
        "FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand <> b.brand "
        "AND a.cents > b.cents)",
        "pairs AS MATERIALIZED (SELECT wi AS i, lo AS j, count(*)::BIGINT AS w "
        "FROM duels GROUP BY 1, 2)",
        "nsym AS MATERIALIZED (SELECT p1.i, p1.j, "
        "p1.w + coalesce(p2.w, 0) AS n_ij FROM pairs p1 "
        "LEFT JOIN pairs p2 ON p2.i = p1.j AND p2.j = p1.i)",
        "wins AS MATERIALIZED (SELECT i AS brand, sum(w)::BIGINT AS w FROM pairs GROUP BY i)",
        "b0 AS MATERIALIZED (SELECT brand, 40000::BIGINT AS p FROM wins)",
    ]
    prev = "b0"
    for r in range(1, _BT_ROUNDS + 1):
        ctes.append(
            f"d{r} AS MATERIALIZED (SELECT n.i AS brand, "
            f"sum({_BT_TERM})::BIGINT AS d FROM nsym n "
            f"JOIN {prev} x ON x.brand = n.i "
            f"JOIN {prev} y ON y.brand = n.j, "
            f"LATERAL (SELECT x.p AS pi, y.p AS pj) GROUP BY n.i)"
        )
        ctes.append(
            f"r{r} AS MATERIALIZED (SELECT w.brand, {_BT_RAW} AS praw "
            f"FROM wins w JOIN d{r} USING (brand))"
        )
        ctes.append(
            f"b{r} AS MATERIALIZED (SELECT brand, "
            f"CAST((1000000 * praw) // "
            f"(SELECT CAST(sum(praw) AS BIGINT) FROM r{r}) AS BIGINT) AS p "
            f"FROM r{r})"
        )
        prev = f"b{r}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
    games AS (
      SELECT brand, sum(n_ij)::BIGINT AS games
      FROM (SELECT i AS brand, n_ij FROM nsym) GROUP BY brand
    )
    SELECT f.brand, w.w AS wins, g.games, f.p AS strength_ppm,
           row_number() OVER (ORDER BY f.p DESC, f.brand)::BIGINT AS rank
    FROM {prev} f JOIN wins w ON w.brand = f.brand JOIN games g ON g.brand = f.brand"""
    )


@register(
    "bradley_terry_preferences",
    oracle=_bt_oracle(),
    doc="Bradley-Terry preference-strength estimation over brand 'duels' "
    "(within each order, the brand with the larger line-revenue beats "
    "the other) via 8 minorize-maximize rounds — THE paired-comparison "
    "model behind chess ratings and LLM reward modeling / preference "
    "ranking, here trained entirely in-engine. Per-pair MM denominators "
    "and raw updates freeze to integers (single divisions over frozen "
    "ppm strengths — no order-dependent float sums), strengths "
    "renormalize to exact ppm each round. The duel extraction is one "
    "within-order self-join aggregated to the (brands^2)-bounded pair "
    "grid, which is collected once; the rounds run on the driver. "
    "Output: per-brand wins, games, converged strength, rank.",
)
def bradley_terry_preferences(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    ob = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    a, b = ob.alias("a"), ob.alias("b")
    duels = (
        a.join(
            b,
            (F.col("a.ok") == F.col("b.ok"))
            & (F.col("a.brand") != F.col("b.brand"))
            & (F.col("a.cents") > F.col("b.cents")),
        )
        .groupBy(F.col("a.brand").alias("i"), F.col("b.brand").alias("j"))
        .agg(F.count("*").alias("w"))
    )
    pairs = {
        (r.i, r.j): r.w
        for r in collect_bounded(duels, _BT_MAX_PAIRS, "bradley_terry_preferences")
    }
    nsym = {(i, j): w + pairs.get((j, i), 0) for (i, j), w in pairs.items()}
    wins, games = Counter(), Counter()
    for (i, j), w in pairs.items():
        wins[i] += w
        games[i] += nsym[i, j]
    p = {brand: 40000 for brand in wins}
    for _ in range(_BT_ROUNDS):
        d = Counter()
        for (i, j), n_ij in nsym.items():
            if i in p and j in p:  # a brand that never wins has no strength
                d[i] += math.floor(n_ij * 1e12 / (p[i] + p[j]) + 0.5)
        raw = {br: math.floor(wins[br] * 1e12 / d[br] + 0.5) for br in d}
        tp = sum(raw.values())
        p = {br: (1000000 * x) // tp for br, x in raw.items()}
    ranked = sorted(p, key=lambda br: (-p[br], br))
    return local_rows(
        spark,
        [(br, wins[br], games[br], p[br], k) for k, br in enumerate(ranked, 1)],
        "brand string, wins bigint, games bigint, strength_ppm bigint, rank bigint",
    )


@register(
    "restricted_mean_survival",
    oracle="""
    WITH u AS (
      SELECT user_id, min(ts::DATE) AS first_day, max(ts::DATE) AS last_day
      FROM events GROUP BY user_id
    ),
    d AS (
      SELECT date_diff('day', first_day, last_day) AS dur,
             (last_day >= DATE '2024-01-28') AS censored
      FROM u
    ),
    per_dur AS (
      SELECT dur, count(*)::BIGINT AS n_users,
             sum(CASE WHEN censored THEN 0 ELSE 1 END)::BIGINT AS n_churned
      FROM d GROUP BY dur
    ),
    risk AS (
      SELECT dur, n_churned,
             CAST(sum(n_users) OVER (ORDER BY dur DESC ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS n_at_risk
      FROM per_dur
    ),
    steps AS (
      SELECT dur,
             CAST(round(1000000000.0 *
                  (ln((n_at_risk - n_churned)::DOUBLE) - ln(n_at_risk::DOUBLE)))
                  AS BIGINT) AS lnterm_nano
      FROM risk WHERE n_churned > 0
    ),
    surv AS (
      SELECT dur,
             round(exp(CAST(sum(lnterm_nano) OVER (ORDER BY dur
               ROWS UNBOUNDED PRECEDING) AS BIGINT)::DOUBLE / 1000000000.0), 4) AS s
      FROM steps
    ),
    seg AS (
      SELECT dur, s,
             coalesce(lead(dur) OVER (ORDER BY dur), 29) AS next_dur
      FROM surv WHERE dur < 29
    ),
    first_t AS (SELECT coalesce(min(dur), 29) AS t0 FROM seg)
    SELECT 29::BIGINT AS horizon_days,
           (SELECT count(*) FROM d)::BIGINT AS n_users,
           CAST(f.t0 * 1000 + coalesce(sum(CAST(floor(seg.s * (seg.next_dur - seg.dur)
             * 1e3 + 0.5) AS BIGINT)), 0) AS BIGINT) AS rmst_millidays
    FROM first_t f LEFT JOIN seg ON TRUE
    GROUP BY f.t0
    """,
    doc="restricted mean survival time (RMST) to a 29-day horizon off the "
    "Kaplan-Meier curve (same duration/censoring definitions as "
    "kaplan_meier_retention): the area under the survival step function "
    "— 'average days retained per user within the window', the "
    "clinically standard effect-size summary that stays defined under "
    "heavy censoring where median survival is not. Segment areas use "
    "the round-4 frozen survival values times exact day widths, frozen "
    "to milli-days (order-free integer sums). Calendar-bounded "
    "duration-grid arithmetic after one per-user aggregate.",
)
def restricted_mean_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day"),
        F.max(F.to_date("ts")).alias("last_day"),
    )
    d = u.select(
        F.datediff("last_day", "first_day").alias("dur"),
        (F.col("last_day") >= F.lit("2024-01-28").cast("date")).alias("censored"),
    )
    per = d.groupBy("dur").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum(F.when(F.col("censored"), 0).otherwise(1)).cast("bigint").alias("n_churned"),
    )
    wdesc = Window.orderBy(F.desc("dur")).rowsBetween(Window.unboundedPreceding, 0)
    risk = per.select(
        "dur", "n_churned", F.sum("n_users").over(wdesc).cast("bigint").alias("n_at_risk")
    )
    steps = risk.where(F.col("n_churned") > 0).select(
        "dur",
        F.round(
            F.lit(1000000000.0)
            * (
                F.log((F.col("n_at_risk") - F.col("n_churned")).cast("double"))
                - F.log(F.col("n_at_risk").cast("double"))
            )
        )
        .cast("bigint")
        .alias("lnterm_nano"),
    )
    wasc = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    surv = steps.select(
        "dur",
        F.round(
            F.exp(F.sum("lnterm_nano").over(wasc).cast("bigint").cast("double") / 1e9), 4
        ).alias("s"),
    )
    seg = surv.where(F.col("dur") < 29).select(
        "dur",
        "s",
        F.coalesce(F.lead("dur").over(Window.orderBy("dur")), F.lit(29)).alias(
            "next_dur"
        ),
    )
    first_t = seg.agg(F.coalesce(F.min("dur"), F.lit(29)).alias("t0"))
    nu = d.agg(F.count("*").cast("bigint").alias("n_users"))
    area = seg.agg(
        F.coalesce(
            F.sum(
                F.expr("CAST(floor(s * (next_dur - dur) * 1e3 + 0.5) AS BIGINT)")
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("tail_milli")
    )
    return (
        first_t.crossJoin(nu)
        .crossJoin(area)
        .select(
            F.lit(29).cast("bigint").alias("horizon_days"),
            "n_users",
            (F.col("t0") * 1000 + F.col("tail_milli")).cast("bigint").alias(
                "rmst_millidays"
            ),
        )
    )


@register(
    "distribution_fit_mom",
    oracle="""
    WITH v AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c,
             CAST(round(o_totalprice) AS BIGINT) AS cd,
             CAST(floor(ln(o_totalprice * 100) * 1e6 + 0.5) AS BIGINT) AS lc
      FROM orders WHERE o_totalprice > 0
    ),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(cd) AS DOUBLE) AS s,
             CAST(sum(cd * cd) AS DOUBLE) AS ss, CAST(sum(lc) AS DOUBLE) AS sl,
             CAST(sum(lc * lc) AS DOUBLE) AS sll
      FROM v
    ),
    emp AS (
      SELECT c AS med FROM (
        SELECT c, row_number() OVER (ORDER BY c) AS rn, count(*) OVER () AS nn
        FROM v
      ) WHERE rn = (5000 * (nn - 1)) // 10000 + 1
    )
    SELECT CAST(m.n AS BIGINT) AS n_rows,
           CAST(floor(m.sl / m.n + 0.5) AS BIGINT) AS lognormal_mu_micro,
           CAST(floor((m.sll / 1e6 - m.sl / 1e6 * m.sl / m.n) / m.n * 1e6 + 0.5)
             AS BIGINT) AS lognormal_sigma2_micro,
           CAST(floor(exp((m.sl / m.n) / 1e6) + 0.5) AS BIGINT)
             AS lognormal_median_cents,
           CAST(floor((m.s / m.n) * (m.s / m.n)
             / ((m.ss - m.s * m.s / m.n) / m.n) * 1e6 + 0.5) AS BIGINT)
             AS gamma_shape_micro,
           CAST(floor(((m.ss - m.s * m.s / m.n) / m.n) / (m.s / m.n) + 0.5) AS BIGINT)
             AS gamma_scale_dollars,
           emp.med AS empirical_median_cents
    FROM m, emp
    """,
    doc="parametric distribution fitting by method of moments: lognormal "
    "(mu/sigma^2 of per-row micro-frozen logs — one ln per row, order-"
    "free integer moment sums — with the implied exp(mu) median) and "
    "gamma (shape = mean^2/var, scale = var/mean from exact whole-dollar "
    "moments) fits of order totals, beside the exact empirical median — "
    "comparing the implied vs empirical median is the quickest 'which "
    "family fits' read before simulating revenue or setting SLA "
    "envelopes. One corpus pass + one ranked pick.",
)
def distribution_fit_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    v = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
        F.round(F.col("o_totalprice")).cast("bigint").alias("cd"),
        F.expr(
            "CAST(floor(ln(o_totalprice * 100) * 1e6 + 0.5) AS BIGINT)"
        ).alias("lc"),
    )
    m = v.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("cd").cast("double").alias("s"),
        F.sum(F.expr("cd * cd")).cast("double").alias("ss"),
        F.sum("lc").cast("double").alias("sl"),
        F.sum(F.expr("lc * lc")).cast("double").alias("sll"),
    )
    # empirical median by value-grid rank-select (operators/rankselect.py)
    from map_reduce_engine_spark.operators.rankselect import (
        rank_pick,
        value_grid_cum,
    )

    cumq = value_grid_cum(v, "c")
    ntot = v.agg(F.count("*").cast("bigint").alias("nn"))
    emp = cumq.crossJoin(F.broadcast(ntot)).agg(
        rank_pick("c", "cum", "(5000 * (nn - 1)) div 10000 + 1").alias("med")
    )
    return m.crossJoin(F.broadcast(emp)).select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.expr("CAST(floor(sl / n + 0.5) AS BIGINT)").alias("lognormal_mu_micro"),
        F.expr(
            "CAST(floor((sll / 1e6 - sl / 1e6 * sl / n) / n * 1e6 + 0.5) AS BIGINT)"
        ).alias("lognormal_sigma2_micro"),
        F.expr("CAST(floor(exp((sl / n) / 1e6) + 0.5) AS BIGINT)").alias(
            "lognormal_median_cents"
        ),
        F.expr(
            "CAST(floor((s / n) * (s / n) / ((ss - s * s / n) / n) * 1e6 + 0.5)"
            " AS BIGINT)"
        ).alias("gamma_shape_micro"),
        F.expr(
            "CAST(floor(((ss - s * s / n) / n) / (s / n) + 0.5) AS BIGINT)"
        ).alias("gamma_scale_dollars"),
        F.col("med").alias("empirical_median_cents"),
    )


# tau-b over exact pair counts (shared text): C, D concordance, tie-adjusted
_TAUB = (
    "((cc - dd) / sqrt((CAST(n0 AS DOUBLE) - t1) * (CAST(n0 AS DOUBLE) - t2)))"
)


@register(
    "kendall_tau_b",
    oracle=f"""
    WITH g AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_discount * 100) AS BIGINT) AS y,
             count(*)::BIGINT AS n
      FROM lineitem GROUP BY 1, 2
    ),
    pairs AS (
      SELECT sum(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN a.n * b.n ELSE 0 END)
               ::BIGINT AS cc,
             sum(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN a.n * b.n ELSE 0 END)
               ::BIGINT AS dd
      FROM g a JOIN g b
        ON a.x < b.x OR (a.x = b.x AND a.y < b.y)
    ),
    tx AS (
      SELECT sum(s * (s - 1) / 2)::BIGINT AS t1
      FROM (SELECT sum(n)::BIGINT AS s FROM g GROUP BY x)
    ),
    ty AS (
      SELECT sum(s * (s - 1) / 2)::BIGINT AS t2
      FROM (SELECT sum(n)::BIGINT AS s FROM g GROUP BY y)
    ),
    tot AS (
      SELECT sum(n)::BIGINT AS nn, sum(n) * (sum(n) - 1) / 2 AS n0 FROM g
    )
    SELECT tot.nn AS n_rows, p.cc AS concordant, p.dd AS discordant,
           tx.t1 AS ties_x, ty.t2 AS ties_y,
           CAST(floor({_TAUB} * 1e6 + 0.5) AS BIGINT) AS tau_b_ppm,
           round({_TAUB} * sqrt(9.0 * tot.nn * (tot.nn - 1.0)
             / (2.0 * (2.0 * tot.nn + 5.0))), 4) AS z
    FROM pairs p, tx, ty, tot
    """,
    doc="Kendall tau-b rank correlation between quantity and discount: "
    "concordant/discordant pair counts computed EXACTLY from the "
    "bounded 50x11 grid (cell-pair products — never row pairs; the "
    "grid join is 550^2-bounded at any corpus size) with the standard "
    "tie corrections in the denominator, plus the normal-approximation "
    "z. Completes the correlation family (Pearson moments, Spearman "
    "ranks, now Kendall pairs) — tau is the one that transforms "
    "monotonically-invariantly AND handles heavy ties honestly. All "
    "counts exact BIGINTs; tau/z are shared formula text, ppm/round-4 "
    "frozen.",
)
def kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    g = li.groupBy(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("y"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    a, b = g.alias("a"), g.alias("b")
    pairs = a.join(
        b,
        (F.col("a.x") < F.col("b.x"))
        | ((F.col("a.x") == F.col("b.x")) & (F.col("a.y") < F.col("b.y"))),
    ).agg(
        F.sum(
            F.when(
                (F.col("a.x") - F.col("b.x")) * (F.col("a.y") - F.col("b.y")) > 0,
                F.col("a.n") * F.col("b.n"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("cc"),
        F.sum(
            F.when(
                (F.col("a.x") - F.col("b.x")) * (F.col("a.y") - F.col("b.y")) < 0,
                F.col("a.n") * F.col("b.n"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("dd"),
    )
    tx = (
        g.groupBy("x")
        .agg(F.sum("n").cast("bigint").alias("s"))
        .agg(F.sum(F.expr("s * (s - 1) / 2")).cast("bigint").alias("t1"))
    )
    ty = (
        g.groupBy("y")
        .agg(F.sum("n").cast("bigint").alias("s"))
        .agg(F.sum(F.expr("s * (s - 1) / 2")).cast("bigint").alias("t2"))
    )
    tot = g.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.expr("sum(n) * (sum(n) - 1) div 2").alias("n0"),
    )
    out = pairs.crossJoin(tx).crossJoin(ty).crossJoin(tot)
    return out.select(
        F.col("nn").alias("n_rows"),
        F.col("cc").alias("concordant"),
        F.col("dd").alias("discordant"),
        F.col("t1").alias("ties_x"),
        F.col("t2").alias("ties_y"),
        F.expr(f"CAST(floor({_TAUB} * 1e6 + 0.5) AS BIGINT)").alias("tau_b_ppm"),
        F.round(
            F.expr(
                f"{_TAUB} * sqrt(9.0 * nn * (nn - 1.0) / (2.0 * (2.0 * nn + 5.0)))"
            ),
            4,
        ).alias("z"),
    )


@register(
    "t_closeness_audit",
    oracle="""
    WITH cell AS (
      SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS c
      FROM customer GROUP BY 1, 2
    ),
    cls AS (SELECT c_nationkey, sum(c)::BIGINT AS nc FROM cell GROUP BY 1),
    gm AS (SELECT c_mktsegment, sum(c)::BIGINT AS g FROM cell GROUP BY 1),
    tot AS (SELECT sum(c)::BIGINT AS n FROM cell),
    grid AS (
      SELECT cls.c_nationkey, gm.c_mktsegment, cls.nc, gm.g, tot.n,
             coalesce(cell.c, 0)::BIGINT AS c
      FROM cls CROSS JOIN gm
      LEFT JOIN cell ON cell.c_nationkey = cls.c_nationkey
                    AND cell.c_mktsegment = gm.c_mktsegment, tot
    ),
    tv AS (
      SELECT c_nationkey, any_value(nc) AS n_rows,
             sum(abs((1000000 * c) // nc - (1000000 * g) // n))::BIGINT // 2
               AS t_ppm
      FROM grid GROUP BY c_nationkey
    )
    SELECT c_nationkey, n_rows::BIGINT AS n_rows, t_ppm,
           t_ppm <= 200000 AS meets_t02
    FROM tv
    """,
    doc="t-closeness audit completing the privacy trio (k-anonymity: "
    "classes big enough; l-diversity: values varied enough; "
    "t-closeness: values distributed LIKE THE POPULATION — a class can "
    "pass both k and l while still leaking that its members are, say, "
    "90% one segment): per quasi-identifier class, the total-variation "
    "distance between the class's sensitive-attribute distribution and "
    "the global one, in exact ppm (per-value shares frozen by integer "
    "div before the absolute differences, so both engines subtract "
    "identical integers), flagged against t = 0.2. One aggregate to the "
    "(classes x values) grid; class-bounded arithmetic after.",
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    cell = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").cast("bigint").alias("c")
    )
    cls = cell.groupBy("c_nationkey").agg(F.sum("c").cast("bigint").alias("nc"))
    glob = cell.groupBy("c_mktsegment").agg(F.sum("c").cast("bigint").alias("g"))
    tot = cell.agg(F.sum("c").cast("bigint").alias("n"))
    grid = (
        cls.crossJoin(F.broadcast(glob))
        .join(cell, ["c_nationkey", "c_mktsegment"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "nc",
            "g",
            "n",
            F.coalesce("c", F.lit(0)).cast("bigint").alias("c"),
        )
    )
    tv = grid.groupBy("c_nationkey").agg(
        F.any_value("nc").alias("n_rows"),
        F.expr(
            "sum(abs((1000000 * c) div nc - (1000000 * g) div n)) div 2"
        )
        .cast("bigint")
        .alias("t_ppm"),
    )
    return tv.select(
        "c_nationkey",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        "t_ppm",
        (F.col("t_ppm") <= 200000).alias("meets_t02"),
    )


@register(
    "species_richness_chao1",
    oracle=r"""
    WITH sh AS (
      SELECT token, count(*)::BIGINT AS f FROM (
        SELECT unnest(CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
               ELSE list_transform(range(1, len(l) - 1),
                    i -> array_to_string(l[i:i+2], ' ')) END) AS token
        FROM (SELECT string_split_regex(trim(text), '\s+') AS l
              FROM documents WHERE trim(text) <> '')
      ) GROUP BY token
    ),
    m AS (
      SELECT count(*)::BIGINT AS v, sum(f)::BIGINT AS n,
             sum(CASE WHEN f = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
             sum(CASE WHEN f = 2 THEN 1 ELSE 0 END)::BIGINT AS n2
      FROM sh
    )
    SELECT n AS n_tokens, v AS v_observed, n1 AS n_singletons, n2 AS n_doubletons,
           v + CASE WHEN n2 > 0 THEN (n1 * n1) // (2 * n2)
                    ELSE n1 * (n1 - 1) // 2 END AS chao1_richness,
           (1000000 * n1) // n AS unseen_mass_ppm,
           1000000 - (1000000 * n1) // n AS coverage_ppm
    FROM m
    """,
    doc="vocabulary richness and coverage estimation over the 3-gram "
    "shingle 'species': Chao1 lower-bound richness V + n1^2/(2*n2) "
    "(bias-corrected form when no doubletons) estimates how many "
    "shingle types the corpus has NOT yet seen, and the Good-Turing "
    "unseen-mass n1/N gives the probability the next sample is novel — "
    "THE 'is more data still adding new content' signals for corpus "
    "curation, complementing heaps_law_fit's growth-curve view with "
    "closed-form estimates. All exact BIGINT frequency-of-frequency "
    "arithmetic; one shingle aggregate + one 4-counter rollup.",
)
def species_richness_chao1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.dedup import shingles_col

    docs = t(spark, sf_dir, "documents").where(F.trim("text") != "")
    sh = (
        docs.select(F.explode(shingles_col("text", 3)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("f"))
    )
    m = sh.agg(
        F.count("*").cast("bigint").alias("v"),
        F.sum("f").cast("bigint").alias("n"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("f") == 2, 1).otherwise(0)).cast("bigint").alias("n2"),
    )
    return m.select(
        F.col("n").alias("n_tokens"),
        F.col("v").alias("v_observed"),
        F.col("n1").alias("n_singletons"),
        F.col("n2").alias("n_doubletons"),
        F.expr(
            "v + CASE WHEN n2 > 0 THEN (n1 * n1) div (2 * n2) "
            "ELSE n1 * (n1 - 1) div 2 END"
        ).alias("chao1_richness"),
        F.expr("(1000000 * n1) div n").alias("unseen_mass_ppm"),
        F.expr("1000000 - (1000000 * n1) div n").alias("coverage_ppm"),
    )


@register(
    "streaming_cusum_monitor",
    oracle="""
    WITH p AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS c,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type = 'purchase'
    ),
    pre AS (
      SELECT user_id, rn,
             sum(c - 25000 - 5000) OVER (PARTITION BY user_id ORDER BY rn
               ROWS UNBOUNDED PRECEDING)::BIGINT AS su,
             sum(25000 - c - 5000) OVER (PARTITION BY user_id ORDER BY rn
               ROWS UNBOUNDED PRECEDING)::BIGINT AS sd,
             max(rn) OVER (PARTITION BY user_id)::BIGINT AS n
      FROM p
    ),
    fin AS (
      SELECT user_id, n,
             max(CASE WHEN rn = n THEN su END)
               - least(0, min(least(0, su)) )::BIGINT AS _x,
             max(CASE WHEN rn = n THEN su END)::BIGINT AS su_n,
             min(least(su, 0))::BIGINT AS su_min,
             max(CASE WHEN rn = n THEN sd END)::BIGINT AS sd_n,
             min(least(sd, 0))::BIGINT AS sd_min
      FROM pre GROUP BY user_id, n
    )
    SELECT user_id,
           su_n - least(su_min, 0) AS s_plus_cents,
           sd_n - least(sd_min, 0) AS s_minus_cents,
           n AS n_purchases
    FROM fin
    """,
    doc="streaming per-user CUSUM drift monitor (applyInPandasWithState, "
    "O(1) integer state per key — value_drift_cusum's streaming "
    "sibling): two-sided cumulative-sum statistics over purchase cents "
    "against a fixed target, exact integer recursion with "
    "deterministic within-batch ordering. The oracle exploits the CUSUM "
    "closed form s+_n = S_n - min(0, min prefix S) — the clamped "
    "recursion equals plain prefix-sum window arithmetic, so a drained "
    "stream hash-matches exact batch integers. At 100 TB the state "
    "store holds 3 BIGINTs per active user.",
)
def streaming_cusum_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.streaming import (
        events_stream,
        run_to_memory,
        streaming_cusum_monitor as op,
    )

    name = "mre_stream_cusum"
    run_to_memory(op(events_stream(spark, sf_dir)), name, output_mode="update")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_purchases"))
    return (
        spark.table(name)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("user_id", "s_plus_cents", "s_minus_cents", "n_purchases")
    )


@register(
    "dft_periodogram_weekly",
    oracle="""
    WITH d AS (
      SELECT o_orderdate::DATE AS day,
             sum(CAST(round(o_totalprice) AS BIGINT))::BIGINT AS dollars
      FROM orders GROUP BY 1
    ),
    m AS (
      SELECT min(day) AS d0, count(*)::BIGINT AS nt, sum(dollars)::BIGINT AS st
      FROM d
    ),
    dev AS (
      SELECT date_diff('day', m.d0, d.day)::BIGINT AS t,
             d.dollars - m.st // m.nt AS dev
      FROM d, m
    ),
    term AS (
      SELECT p.p::BIGINT AS p,
             sum(CAST(floor(CAST(dev AS DOUBLE)
               * cos(2 * pi() * CAST(t % p AS DOUBLE) / p) + 0.5)
               AS BIGINT))::BIGINT AS c_unit,
             sum(CAST(floor(CAST(dev AS DOUBLE)
               * sin(2 * pi() * CAST(t % p AS DOUBLE) / p) + 0.5)
               AS BIGINT))::BIGINT AS s_unit
      FROM dev, (SELECT unnest([7, 14, 30, 91]) AS p) p
      GROUP BY 1
    )
    SELECT p, c_unit, s_unit,
           ((c_unit // 1000) * (c_unit // 1000)
             + (s_unit // 1000) * (s_unit // 1000))::BIGINT AS power_k,
           row_number() OVER (ORDER BY (c_unit // 1000) * (c_unit // 1000)
             + (s_unit // 1000) * (s_unit // 1000) DESC, p)::BIGINT AS rank
    FROM term
    """,
    doc="discrete-Fourier periodogram probe of daily order revenue at "
    "candidate periods {7, 14, 30, 91}: per-day deviations from the "
    "exact integer mean (whole dollars), DFT cos/sin terms frozen to "
    "BIGINT units per (day, period) before summation — the only float "
    "work is cos/sin on bounded angles (engines agree per the "
    "transcendental-parity note), so C/S sums and the kilo-unit power "
    "ranking are exact integers. Spectral seasonality detection that "
    "pairs with weekday_revenue_profile (which asserts the weekly shape) "
    "and seasonal_index_monthly: this one RANKS candidate cycle lengths. "
    "Scale shape: one hash aggregate to the calendar-bounded daily grid, "
    "then a 4-row period explode over that grid — linear scan at 100 TB "
    "with map-side partials; gaps in the calendar are absent rows "
    "(observed-day series), documented semantics.",
)
def dft_periodogram_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    d = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("bigint")).cast("bigint").alias("dollars")
    )
    m = d.agg(
        F.min("day").alias("d0"),
        F.count("*").cast("bigint").alias("nt"),
        F.sum("dollars").cast("bigint").alias("st"),
    )
    dev = d.crossJoin(F.broadcast(m)).select(
        F.datediff(F.col("day"), F.col("d0")).cast("bigint").alias("t"),
        F.expr("dollars - st div nt").alias("dev"),
    )
    periods = spark.range(0).sparkSession.createDataFrame(
        [(7,), (14,), (30,), (91,)], "p int"
    )
    term = (
        dev.crossJoin(F.broadcast(periods))
        .groupBy(F.col("p").cast("bigint").alias("p"))
        .agg(
            F.sum(
                F.expr(
                    "CAST(floor(CAST(dev AS DOUBLE)"
                    " * cos(2 * pi() * CAST(t % p AS DOUBLE) / p) + 0.5)"
                    " AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("c_unit"),
            F.sum(
                F.expr(
                    "CAST(floor(CAST(dev AS DOUBLE)"
                    " * sin(2 * pi() * CAST(t % p AS DOUBLE) / p) + 0.5)"
                    " AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("s_unit"),
        )
    )
    power = F.expr(
        "(c_unit div 1000) * (c_unit div 1000) + (s_unit div 1000) * (s_unit div 1000)"
    )
    return term.select(
        "p",
        "c_unit",
        "s_unit",
        power.cast("bigint").alias("power_k"),
        F.row_number()
        .over(Window.orderBy(power.desc(), F.asc("p")))
        .cast("bigint")
        .alias("rank"),
    )


@register(
    "cooks_distance_outlier_days",
    oracle="""
    WITH d AS (
      SELECT o_orderdate::DATE AS day,
             sum(CAST(round(o_totalprice) AS BIGINT))::BIGINT AS dollars
      FROM orders GROUP BY 1
    ),
    m0 AS (SELECT min(day) AS d0 FROM d),
    s AS (
      SELECT date_diff('day', m0.d0, d.day)::BIGINT AS t, d.day, d.dollars
      FROM d, m0
    ),
    mom AS (
      SELECT count(*)::BIGINT AS nt, sum(t)::BIGINT AS sx,
             sum(dollars)::BIGINT AS sy, sum(t * t)::BIGINT AS sxx,
             sum(t * dollars)::BIGINT AS sxy,
             sum(dollars * dollars)::BIGINT AS syy
      FROM s
    ),
    fit AS (
      SELECT nt, sx, sy, sxx,
             CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / nt AS sxxc,
             (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / nt)
               / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / nt) AS b,
             ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / nt)
               - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / nt)
               * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / nt)
               / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / nt))
               / (nt - 2) AS s2
      FROM mom
    ),
    diag AS (
      SELECT s.day, s.dollars,
             CAST(s.dollars AS DOUBLE)
               - (CAST(f.sy AS DOUBLE) - f.b * f.sx) / f.nt
               - f.b * s.t AS e,
             1.0 / f.nt
               + (CAST(s.t AS DOUBLE) - CAST(f.sx AS DOUBLE) / f.nt)
               * (CAST(s.t AS DOUBLE) - CAST(f.sx AS DOUBLE) / f.nt)
               / f.sxxc AS h,
             f.nt, f.s2
      FROM s, fit f
    ),
    ck AS (
      SELECT day, dollars, nt,
             CAST(floor(e * e / (2 * s2) * h / ((1 - h) * (1 - h))
               * 1000000 + 0.5) AS BIGINT) AS cooks_micro
      FROM diag
    )
    SELECT day, dollars, cooks_micro,
           (cooks_micro * nt > 4000000) AS influential,
           row_number() OVER (ORDER BY cooks_micro DESC, day)::BIGINT AS rank
    FROM ck
    QUALIFY rank <= 10
    """,
    doc="Cook's-distance influence diagnostics on the daily-revenue OLS "
    "trend: leverage h_i and residual e_i from the closed-form simple "
    "regression (all from ONE exact-BIGINT moment aggregate — SSE via "
    "the identity syy_c - b*sxy_c, never a float residual sum), Cook's "
    "D = e^2/(2s^2) * h/(1-h)^2 frozen to integer micro-units, top-10 "
    "most influential days with the D > 4/n flag compared in exact "
    "integers (cooks_micro * n > 4e6). The regression-diagnostics "
    "counterpart of value_outliers_mad (which flags raw outliers; this "
    "flags days that BEND the fitted trend). Scale: one aggregate to "
    "the calendar-bounded daily grid + a 1-row fit broadcast; whole-"
    "dollar units keep syy ~20x inside BIGINT at bench SF (same "
    "headroom note as the module docstring).",
)
def cooks_distance_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    d = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("bigint")).cast("bigint").alias("dollars")
    )
    m0 = d.agg(F.min("day").alias("d0"))
    s = d.crossJoin(F.broadcast(m0)).select(
        F.datediff(F.col("day"), F.col("d0")).cast("bigint").alias("t"),
        "day",
        "dollars",
    )
    mom = s.agg(
        F.count("*").cast("bigint").alias("nt"),
        F.sum("t").cast("bigint").alias("sx"),
        F.sum("dollars").cast("bigint").alias("sy"),
        F.sum(F.expr("t * t")).cast("bigint").alias("sxx"),
        F.sum(F.expr("t * dollars")).cast("bigint").alias("sxy"),
        F.sum(F.expr("dollars * dollars")).cast("bigint").alias("syy"),
    )
    fit = mom.select(
        "nt",
        "sx",
        "sy",
        "sxx",
        F.expr("CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / nt").alias("sxxc"),
        F.expr(
            "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / nt)"
            " / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / nt)"
        ).alias("b"),
        F.expr(
            "((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / nt)"
            " - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / nt)"
            " * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / nt)"
            " / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / nt))"
            " / (nt - 2)"
        ).alias("s2"),
    )
    diag = s.crossJoin(F.broadcast(fit)).select(
        "day",
        "dollars",
        F.expr(
            "CAST(dollars AS DOUBLE)"
            " - (CAST(sy AS DOUBLE) - b * sx) / nt"
            " - b * t"
        ).alias("e"),
        F.expr(
            "1.0 / nt"
            " + (CAST(t AS DOUBLE) - CAST(sx AS DOUBLE) / nt)"
            " * (CAST(t AS DOUBLE) - CAST(sx AS DOUBLE) / nt)"
            " / sxxc"
        ).alias("h"),
        "nt",
        "s2",
    )
    ck = diag.select(
        "day",
        "dollars",
        "nt",
        F.expr(
            "CAST(floor(e * e / (2 * s2) * h / ((1 - h) * (1 - h))"
            " * 1000000 + 0.5) AS BIGINT)"
        ).alias("cooks_micro"),
    )
    return (
        ck.select(
            "day",
            "dollars",
            "cooks_micro",
            F.expr("cooks_micro * nt > 4000000").alias("influential"),
            F.row_number()
            .over(Window.orderBy(F.desc("cooks_micro"), F.asc("day")))
            .cast("bigint")
            .alias("rank"),
        )
        .where(F.col("rank") <= 10)
    )


from map_reduce_engine_spark.queries.relational import (  # noqa: E402
    _COPURCHASE_EDGES_SQL,
    copurchase_edges,
)


@register(
    "adamic_adar_link_prediction",
    oracle=f"""
    WITH {_COPURCHASE_EDGES_SQL},
    deg AS (SELECT a AS node, count(*)::BIGINT AS degree FROM und GROUP BY a),
    wedge AS (
      SELECT w1.b AS x, w2.b AS y, w1.a AS w
      FROM und w1 JOIN und w2 ON w1.a = w2.a AND w1.b < w2.b
    ),
    cand AS (
      SELECT j.x, j.y, count(*)::BIGINT AS n_common,
             sum(CAST(floor(1000000000 / ln(CAST(d.degree AS DOUBLE)) + 0.5)
               AS BIGINT))::BIGINT AS aa_nano
      FROM wedge j JOIN deg d ON d.node = j.w
      GROUP BY j.x, j.y
    ),
    new_pairs AS (
      SELECT c.* FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.u = c.x AND e.v = c.y)
    )
    SELECT x, y, n_common, aa_nano,
           row_number() OVER (ORDER BY aa_nano DESC, x, y)::BIGINT AS rank
    FROM new_pairs
    QUALIFY rank <= 20
    """,
    doc="Adamic-Adar link prediction on the co-purchase graph: for every "
    "non-adjacent part pair sharing >= 1 common neighbor, score "
    "sum_w 1/ln(deg(w)) over common neighbors w (rarer mutual "
    "connections count more), top-20 predicted next co-purchase edges. "
    "Per-wedge weights frozen to BIGINT nano-units before the group sum "
    "(ln on small integer degrees — engine-identical doubles), so "
    "scores and ranking are exact integers; deg(w) >= 2 by "
    "construction, ln never hits zero. Completes the graph family "
    "(components/pagerank/triangles/assortativity describe the graph "
    "that IS; this predicts the edge that ISN'T YET). Scale shape: "
    "wedges enumerate via one equi self-join on the shared neighbor "
    "(Sigma deg^2 — at 100 TB cap hub degrees or orient by degree the "
    "way operators/graph.py::triangle_count does), candidate filter is "
    "a left-anti equi-join, everything else hash aggregates.",
)
def adamic_adar_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.graph import undirected

    edges = (
        copurchase_edges(spark, sf_dir)
        .localCheckpoint(eager=True)  # feeds und twice + the anti-join
    )
    und = undirected(edges, "u", "v")
    deg = und.groupBy(F.col("a").alias("node")).agg(F.count("*").alias("degree"))
    w1, w2 = und.alias("w1"), und.alias("w2")
    wedge = (
        w1.join(w2, (F.col("w1.a") == F.col("w2.a")) & (F.col("w1.b") < F.col("w2.b")))
        .select(
            F.col("w1.b").alias("x"), F.col("w2.b").alias("y"), F.col("w1.a").alias("w")
        )
    )
    cand = (
        wedge.join(deg, wedge.w == deg.node)
        .groupBy("x", "y")
        .agg(
            F.count("*").cast("bigint").alias("n_common"),
            F.sum(
                F.expr(
                    "CAST(floor(1000000000 / ln(CAST(degree AS DOUBLE)) + 0.5)"
                    " AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("aa_nano"),
        )
    )
    new_pairs = cand.join(
        edges,
        (cand.x == edges.u) & (cand.y == edges.v),
        "left_anti",
    )
    return (
        new_pairs.select(
            "x",
            "y",
            "n_common",
            "aa_nano",
            F.row_number()
            .over(Window.orderBy(F.desc("aa_nano"), F.asc("x"), F.asc("y")))
            .cast("bigint")
            .alias("rank"),
        )
        .where(F.col("rank") <= 20)
    )


@register(
    "jaccard_link_prediction",
    oracle=f"""
    WITH {_COPURCHASE_EDGES_SQL},
    deg AS (SELECT a AS node, count(*)::BIGINT AS degree FROM und GROUP BY a),
    wedge AS (
      SELECT w1.b AS x, w2.b AS y
      FROM und w1 JOIN und w2 ON w1.a = w2.a AND w1.b < w2.b
    ),
    cand AS (
      SELECT x, y, count(*)::BIGINT AS n_common FROM wedge GROUP BY x, y
    ),
    new_pairs AS (
      SELECT c.x, c.y, c.n_common,
             dx.degree AS deg_x, dy.degree AS deg_y,
             CAST((1000000 * c.n_common)
                  // (dx.degree + dy.degree - c.n_common) AS BIGINT)
               AS jaccard_ppm
      FROM cand c
      JOIN deg dx ON dx.node = c.x
      JOIN deg dy ON dy.node = c.y
      WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.u = c.x AND e.v = c.y)
    )
    SELECT x, y, n_common, deg_x, deg_y, jaccard_ppm,
           row_number() OVER (ORDER BY jaccard_ppm DESC, x, y)::BIGINT AS rank
    FROM new_pairs
    QUALIFY rank <= 20
    """,
    doc="Jaccard-coefficient link prediction on the co-purchase graph "
    "(Liben-Nowell & Kleinberg 2003): for every non-adjacent part pair "
    "sharing >= 1 common neighbor, score |N(x) ∩ N(y)| / |N(x) ∪ N(y)| = "
    "n_common / (deg(x) + deg(y) - n_common) in exact integer ppm — the "
    "normalized companion to adamic_adar_link_prediction (which up-weights "
    "RARE mutual neighbors; Jaccard instead discounts promiscuous "
    "endpoints). Pure BIGINT arithmetic end to end: wedge counts, two "
    "degree joins, one integer division — no transcendental at all. Same "
    "scale shape as the AA query: wedges via one equi self-join on the "
    "shared neighbor, candidate filter a left-anti equi-join, hash "
    "aggregates everywhere; at 100 TB orient or cap hub degrees as in "
    "operators/graph.py::triangle_count.",
)
def jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.graph import undirected

    edges = (
        copurchase_edges(spark, sf_dir)
        .localCheckpoint(eager=True)  # feeds und twice + the anti-join
    )
    und = undirected(edges, "u", "v")
    deg = und.groupBy(F.col("a").alias("node")).agg(
        F.count("*").cast("bigint").alias("degree")
    )
    w1, w2 = und.alias("w1"), und.alias("w2")
    wedge = w1.join(
        w2, (F.col("w1.a") == F.col("w2.a")) & (F.col("w1.b") < F.col("w2.b"))
    ).select(F.col("w1.b").alias("x"), F.col("w2.b").alias("y"))
    cand = wedge.groupBy("x", "y").agg(
        F.count("*").cast("bigint").alias("n_common")
    )
    dx = deg.select(F.col("node").alias("x"), F.col("degree").alias("deg_x"))
    dy = deg.select(F.col("node").alias("y"), F.col("degree").alias("deg_y"))
    new_pairs = (
        cand.join(edges, (cand.x == edges.u) & (cand.y == edges.v), "left_anti")
        .join(dx, "x")
        .join(dy, "y")
        .select(
            "x",
            "y",
            "n_common",
            "deg_x",
            "deg_y",
            F.expr(
                "CAST((1000000 * n_common) div (deg_x + deg_y - n_common)"
                " AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )
    return (
        new_pairs.select(
            "*",
            F.row_number()
            .over(Window.orderBy(F.desc("jaccard_ppm"), F.asc("x"), F.asc("y")))
            .cast("bigint")
            .alias("rank"),
        )
        .where(F.col("rank") <= 20)
    )


@register(
    "neyman_allocation_sources",
    oracle="""
    WITH s AS (
      SELECT source, count(*)::BIGINT AS n_h, sum(n_chars)::BIGINT AS sx,
             sum(n_chars * n_chars)::BIGINT AS sxx
      FROM documents GROUP BY source HAVING count(*) >= 2
    ),
    w AS (
      SELECT source, n_h,
             CAST(floor(sqrt((CAST(n_h AS DOUBLE) * sxx
               - CAST(sx AS DOUBLE) * sx)
               / (CAST(n_h AS DOUBLE) * (n_h - 1))) * 1000 + 0.5)
               AS BIGINT) AS s_milli,
             CAST(floor(n_h * sqrt((CAST(n_h AS DOUBLE) * sxx
               - CAST(sx AS DOUBLE) * sx)
               / (CAST(n_h AS DOUBLE) * (n_h - 1))) * 1000000 + 0.5)
               AS BIGINT) AS w_micro
      FROM s
    ),
    tot AS (SELECT sum(w_micro)::BIGINT AS tw FROM w),
    b AS (
      SELECT w.source, w.n_h, w.s_milli,
             (10000 * w.w_micro) // t.tw AS base,
             (10000 * w.w_micro) % t.tw AS rem,
             ((1000000 * w.w_micro) // t.tw)::BIGINT AS share_ppm
      FROM w, tot t
    ),
    l AS (SELECT (10000 - sum(base))::BIGINT AS leftover FROM b),
    r AS (
      SELECT b.*, row_number() OVER (ORDER BY rem DESC, source) AS rk FROM b
    )
    SELECT r.source, r.n_h AS n_docs, r.s_milli, r.share_ppm,
           (r.base + CASE WHEN r.rk <= l.leftover THEN 1 ELSE 0 END)::BIGINT
             AS alloc_n
    FROM r, l
    """,
    doc="Neyman-optimal sample allocation of a 10,000-document labeling "
    "budget across the 20 corpus sources: allocate proportional to "
    "N_h * S_h (stratum size x n_chars standard deviation — the "
    "variance-minimizing design for stratified estimation of the mean), "
    "with the largest-remainder method distributing the integer "
    "leftover deterministically. Stratum weights freeze to BIGINT "
    "micro-units (sqrt of the exact-integer variance — identical "
    "doubles), so shares, bases, remainders, and the final integer "
    "allocation are exact in both engines. The sampling-DESIGN "
    "counterpart of stratified_sample (which draws; this says how much "
    "to draw from where). Scale: one hash aggregate to the "
    "|sources|-bounded grid + 1-row total broadcasts.",
)
def neyman_allocation_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    s = (
        docs.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_h"),
            F.sum("n_chars").cast("bigint").alias("sx"),
            F.sum(F.expr("n_chars * n_chars")).cast("bigint").alias("sxx"),
        )
        .where(F.col("n_h") >= 2)
    )
    w = s.select(
        "source",
        "n_h",
        F.expr(
            "CAST(floor(sqrt((CAST(n_h AS DOUBLE) * sxx"
            " - CAST(sx AS DOUBLE) * sx)"
            " / (CAST(n_h AS DOUBLE) * (n_h - 1))) * 1000 + 0.5)"
            " AS BIGINT)"
        ).alias("s_milli"),
        F.expr(
            "CAST(floor(n_h * sqrt((CAST(n_h AS DOUBLE) * sxx"
            " - CAST(sx AS DOUBLE) * sx)"
            " / (CAST(n_h AS DOUBLE) * (n_h - 1))) * 1000000 + 0.5)"
            " AS BIGINT)"
        ).alias("w_micro"),
    )
    tot = w.agg(F.sum("w_micro").cast("bigint").alias("tw"))
    b = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_h",
        "s_milli",
        F.expr("(10000 * w_micro) div tw").alias("base"),
        F.expr("(10000 * w_micro) % tw").alias("rem"),
        F.expr("(1000000 * w_micro) div tw").cast("bigint").alias("share_ppm"),
    )
    leftover = b.agg((F.lit(10000) - F.sum("base")).cast("bigint").alias("leftover"))
    r = b.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("rem"), F.asc("source")))
    )
    return r.crossJoin(F.broadcast(leftover)).select(
        "source",
        F.col("n_h").alias("n_docs"),
        "s_milli",
        "share_ppm",
        F.expr("CAST(base + (CASE WHEN rk <= leftover THEN 1 ELSE 0 END) AS BIGINT)").alias(
            "alloc_n"
        ),
    )


@register(
    "vif_collinearity_screen",
    oracle="""
    WITH d AS (
      SELECT l_shipdate::DATE AS day,
             sum(CAST(round(l_quantity) AS BIGINT))::BIGINT AS q,
             count(*)::BIGINT AS n,
             sum(CAST(round(l_discount * 10000) AS BIGINT))::BIGINT AS db
      FROM lineitem GROUP BY 1
    ),
    m AS (
      SELECT count(*)::BIGINT AS nt,
             sum(q)::BIGINT AS s1, sum(n)::BIGINT AS s2, sum(db)::BIGINT AS s3,
             sum(q * q)::BIGINT AS s11, sum(n * n)::BIGINT AS s22,
             sum(db * db)::BIGINT AS s33,
             sum(q * n)::BIGINT AS s12, sum(q * db)::BIGINT AS s13,
             sum(n * db)::BIGINT AS s23
      FROM d
    ),
    r AS (
      SELECT nt,
             (nt * CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2)
               / sqrt((nt * CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1)
                    * (nt * CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2)) AS r12,
             (nt * CAST(s13 AS DOUBLE) - CAST(s1 AS DOUBLE) * s3)
               / sqrt((nt * CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1)
                    * (nt * CAST(s33 AS DOUBLE) - CAST(s3 AS DOUBLE) * s3)) AS r13,
             (nt * CAST(s23 AS DOUBLE) - CAST(s2 AS DOUBLE) * s3)
               / sqrt((nt * CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2)
                    * (nt * CAST(s33 AS DOUBLE) - CAST(s3 AS DOUBLE) * s3)) AS r23
      FROM m
    )
    SELECT nt AS n_days,
           CAST(floor(r12 * 1000 + 0.5) AS BIGINT) AS r_qty_lines_milli,
           CAST(floor(r13 * 1000 + 0.5) AS BIGINT) AS r_qty_disc_milli,
           CAST(floor(r23 * 1000 + 0.5) AS BIGINT) AS r_lines_disc_milli,
           CAST(floor(1000000 * (1 - r23 * r23)
             / (1 - r12 * r12 - r13 * r13 - r23 * r23
                + 2 * r12 * r13 * r23) + 0.5) AS BIGINT) AS vif_qty_micro,
           CAST(floor(1000000 * (1 - r13 * r13)
             / (1 - r12 * r12 - r13 * r13 - r23 * r23
                + 2 * r12 * r13 * r23) + 0.5) AS BIGINT) AS vif_lines_micro,
           CAST(floor(1000000 * (1 - r12 * r12)
             / (1 - r12 * r12 - r13 * r13 - r23 * r23
                + 2 * r12 * r13 * r23) + 0.5) AS BIGINT) AS vif_disc_micro
    FROM r
    """,
    doc="variance-inflation-factor collinearity screen over three daily "
    "shipment features (total quantity, line count, discount "
    "basis-points): pairwise correlations from ONE exact-BIGINT moment "
    "aggregate, then the closed 3-variable identity VIF_j = "
    "(1 - r_kl^2)/det(R) with det(R) = 1 - r12^2 - r13^2 - r23^2 + "
    "2*r12*r13*r23 — no matrix inversion, identical double replay, "
    "micro-frozen. Quantity and line count are collinear by "
    "construction (more lines => more quantity), so the screen "
    "demonstrably fires; the pre-flight check that tells "
    "multiple_regression_two_features / ridge_lambda_path whether their "
    "coefficients are interpretable. Scale: one aggregate to the "
    "calendar-bounded daily grid, 1-row arithmetic after.",
)
def vif_collinearity_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    d = li.groupBy(F.col("l_shipdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("l_quantity")).cast("bigint")).cast("bigint").alias("q"),
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.round(F.col("l_discount") * 10000).cast("bigint"))
        .cast("bigint")
        .alias("db"),
    )
    m = d.agg(
        F.count("*").cast("bigint").alias("nt"),
        F.sum("q").cast("bigint").alias("s1"),
        F.sum("n").cast("bigint").alias("s2"),
        F.sum("db").cast("bigint").alias("s3"),
        F.sum(F.expr("q * q")).cast("bigint").alias("s11"),
        F.sum(F.expr("n * n")).cast("bigint").alias("s22"),
        F.sum(F.expr("db * db")).cast("bigint").alias("s33"),
        F.sum(F.expr("q * n")).cast("bigint").alias("s12"),
        F.sum(F.expr("q * db")).cast("bigint").alias("s13"),
        F.sum(F.expr("n * db")).cast("bigint").alias("s23"),
    )
    r = m.select(
        "nt",
        F.expr(
            "(nt * CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2)"
            " / sqrt((nt * CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1)"
            "      * (nt * CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2))"
        ).alias("r12"),
        F.expr(
            "(nt * CAST(s13 AS DOUBLE) - CAST(s1 AS DOUBLE) * s3)"
            " / sqrt((nt * CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1)"
            "      * (nt * CAST(s33 AS DOUBLE) - CAST(s3 AS DOUBLE) * s3))"
        ).alias("r13"),
        F.expr(
            "(nt * CAST(s23 AS DOUBLE) - CAST(s2 AS DOUBLE) * s3)"
            " / sqrt((nt * CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2)"
            "      * (nt * CAST(s33 AS DOUBLE) - CAST(s3 AS DOUBLE) * s3))"
        ).alias("r23"),
    )
    det = (
        "(1 - r12 * r12 - r13 * r13 - r23 * r23"
        " + 2 * r12 * r13 * r23)"
    )
    return r.select(
        F.col("nt").alias("n_days"),
        F.expr("CAST(floor(r12 * 1000 + 0.5) AS BIGINT)").alias("r_qty_lines_milli"),
        F.expr("CAST(floor(r13 * 1000 + 0.5) AS BIGINT)").alias("r_qty_disc_milli"),
        F.expr("CAST(floor(r23 * 1000 + 0.5) AS BIGINT)").alias("r_lines_disc_milli"),
        F.expr(
            f"CAST(floor(1000000 * (1 - r23 * r23) / {det} + 0.5) AS BIGINT)"
        ).alias("vif_qty_micro"),
        F.expr(
            f"CAST(floor(1000000 * (1 - r13 * r13) / {det} + 0.5) AS BIGINT)"
        ).alias("vif_lines_micro"),
        F.expr(
            f"CAST(floor(1000000 * (1 - r12 * r12) / {det} + 0.5) AS BIGINT)"
        ).alias("vif_disc_micro"),
    )


@register(
    "durbin_watson_trend_residuals",
    oracle="""
    WITH d AS (
      SELECT o_orderdate::DATE AS day,
             sum(CAST(round(o_totalprice) AS BIGINT))::BIGINT AS dollars
      FROM orders GROUP BY 1
    ),
    m0 AS (SELECT min(day) AS d0 FROM d),
    s AS (
      SELECT date_diff('day', m0.d0, d.day)::BIGINT AS t, d.dollars
      FROM d, m0
    ),
    mom AS (
      SELECT count(*)::BIGINT AS nt, sum(t)::BIGINT AS sx,
             sum(dollars)::BIGINT AS sy, sum(t * t)::BIGINT AS sxx,
             sum(t * dollars)::BIGINT AS sxy
      FROM s
    ),
    e AS (
      SELECT s.t,
             CAST(floor((CAST(s.dollars AS DOUBLE)
               - (CAST(m.sy AS DOUBLE)
                  - (CAST(m.sxy AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sy / m.nt)
                    / (CAST(m.sxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sx / m.nt)
                    * m.sx) / m.nt
               - (CAST(m.sxy AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sy / m.nt)
                 / (CAST(m.sxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sx / m.nt)
                 * s.t) / 1000 + 0.5) AS BIGINT) AS ei
      FROM s, mom m
    ),
    lagd AS (
      SELECT ei, lag(ei) OVER (ORDER BY t) AS ep FROM e
    ),
    agg AS (
      SELECT sum(ei * ei)::BIGINT AS se2,
             sum(CASE WHEN ep IS NULL THEN 0
                 ELSE (ei - ep) * (ei - ep) END)::BIGINT AS sd2,
             count(*)::BIGINT AS nt
      FROM lagd
    )
    SELECT nt AS n_days, se2 AS sse_units, sd2 AS ssd_units,
           ((1000000 * sd2) // se2)::BIGINT AS dw_micro,
           ((1000000 * sd2) // se2 < 1500000) AS positive_autocorr
    FROM agg
    """,
    doc="Durbin-Watson test on the daily-revenue OLS trend residuals: "
    "residuals frozen to kilo-dollar BIGINT units (identical-double slope/"
    "intercept replay), then DW = sum (e_t - e_(t-1))^2 / sum e_t^2 as "
    "an exact integer micro-ratio with the classic DW < 1.5 "
    "positive-autocorrelation flag. Complements ljung_box_test (which "
    "tests the RAW series; this tests what the TREND FIT leaves behind "
    "— the standard 'is OLS inference valid' check, and the reason "
    "huber_robust_trend/ols_value_trend report slopes, not p-values). "
    "Scale: one aggregate to the daily grid, a 1-row fit broadcast, "
    "one lag window over the bounded grid. Kilo-dollar residual units "
    "keep the micro-scaled e^2 sums ~3 orders inside BIGINT at bench SF.",
)
def durbin_watson_trend_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    d = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("bigint")).cast("bigint").alias("dollars")
    )
    m0 = d.agg(F.min("day").alias("d0"))
    s = d.crossJoin(F.broadcast(m0)).select(
        F.datediff(F.col("day"), F.col("d0")).cast("bigint").alias("t"), "dollars"
    )
    mom = s.agg(
        F.count("*").cast("bigint").alias("nt"),
        F.sum("t").cast("bigint").alias("sx"),
        F.sum("dollars").cast("bigint").alias("sy"),
        F.sum(F.expr("t * t")).cast("bigint").alias("sxx"),
        F.sum(F.expr("t * dollars")).cast("bigint").alias("sxy"),
    )
    e = s.crossJoin(F.broadcast(mom)).select(
        "t",
        F.expr(
            "CAST(floor((CAST(dollars AS DOUBLE)"
            " - (CAST(sy AS DOUBLE)"
            "    - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / nt)"
            "      / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / nt)"
            "      * sx) / nt"
            " - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / nt)"
            "   / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / nt)"
            "   * t) / 1000 + 0.5) AS BIGINT)"
        ).alias("ei"),
    )
    lagd = e.select("ei", F.lag("ei").over(Window.orderBy("t")).alias("ep"))
    agg = lagd.agg(
        F.sum(F.expr("ei * ei")).cast("bigint").alias("se2"),
        F.sum(F.expr("CASE WHEN ep IS NULL THEN 0 ELSE (ei - ep) * (ei - ep) END"))
        .cast("bigint")
        .alias("sd2"),
        F.count("*").cast("bigint").alias("nt"),
    )
    return agg.select(
        F.col("nt").alias("n_days"),
        F.col("se2").alias("sse_units"),
        F.col("sd2").alias("ssd_units"),
        F.expr("(1000000 * sd2) div se2").cast("bigint").alias("dw_micro"),
        F.expr("(1000000 * sd2) div se2 < 1500000").alias("positive_autocorr"),
    )


@register(
    "event_pair_sequence_support",
    oracle="""
    WITH span AS (
      SELECT user_id, event_type,
             min(date_diff('microsecond', TIMESTAMP '1970-01-01', ts))::BIGINT
               AS first_us,
             max(date_diff('microsecond', TIMESTAMP '1970-01-01', ts))::BIGINT
               AS last_us
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT count(DISTINCT user_id)::BIGINT AS n_users FROM events),
    pairs AS (
      SELECT a.event_type AS antecedent, b.event_type AS consequent,
             count(*)::BIGINT AS support_users
      FROM span a JOIN span b
        ON a.user_id = b.user_id AND a.event_type <> b.event_type
       AND a.first_us < b.last_us
      GROUP BY 1, 2
    )
    SELECT p.antecedent, p.consequent, p.support_users,
           ((1000000 * p.support_users) // t.n_users)::BIGINT AS support_ppm,
           row_number() OVER (ORDER BY p.support_users DESC,
                              p.antecedent, p.consequent)::BIGINT AS rank
    FROM pairs p, tot t
    """,
    doc="sequential-pattern support mining over all ordered event-type "
    "pairs: support(a -> b) = users with SOME a-event strictly before "
    "SOME b-event, computed exactly from per-(user, type) first/last "
    "timestamps — 'exists a before b' is equivalent to first(a) < "
    "last(b), so the sequence scan collapses to one hash aggregate plus "
    "a per-user equi-join with <= |event types|^2 fan-out per user. "
    "Timestamps compare as exact epoch microseconds (strict <; "
    "simultaneous events don't count as ordered). events_funnel checks "
    "ONE fixed funnel; this MINES the full pairwise precedence matrix "
    "that funnels are built from. Scale: two hash aggregates + a "
    "bounded-fan-out self-join on user_id, support shares in integer "
    "ppm, deterministic ranking.",
)
def event_pair_sequence_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    us = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    span = ev.groupBy("user_id", "event_type").agg(
        F.min(us).cast("bigint").alias("first_us"),
        F.max(us).cast("bigint").alias("last_us"),
    )
    tot = ev.agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    a, b = span.alias("a"), span.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") != F.col("b.event_type"))
            & (F.col("a.first_us") < F.col("b.last_us")),
        )
        .groupBy(
            F.col("a.event_type").alias("antecedent"),
            F.col("b.event_type").alias("consequent"),
        )
        .agg(F.count("*").cast("bigint").alias("support_users"))
    )
    return pairs.crossJoin(F.broadcast(tot)).select(
        "antecedent",
        "consequent",
        "support_users",
        F.expr("(1000000 * support_users) div n_users").cast("bigint").alias("support_ppm"),
        F.row_number()
        .over(
            Window.orderBy(
                F.desc("support_users"), F.asc("antecedent"), F.asc("consequent")
            )
        )
        .cast("bigint")
        .alias("rank"),
    )


@register(
    "gumbel_return_levels",
    oracle="""
    WITH mx AS (
      SELECT o_orderdate::DATE AS day,
             max(CAST(round(o_totalprice) AS BIGINT))::BIGINT AS peak
      FROM orders GROUP BY 1
    ),
    m AS (
      SELECT count(*)::BIGINT AS nt, sum(peak)::BIGINT AS sx,
             sum(peak * peak)::BIGINT AS sxx
      FROM mx
    ),
    fit AS (
      SELECT nt,
             CAST(sx AS DOUBLE) / nt AS mean,
             sqrt((CAST(nt AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
               / (CAST(nt AS DOUBLE) * (nt - 1)))
               * sqrt(CAST(6 AS DOUBLE)) / pi() AS beta
      FROM m
    )
    SELECT nt AS n_days,
           CAST(floor((mean - 0.5772156649015329 * beta) * 1000 + 0.5)
             AS BIGINT) AS mu_milli,
           CAST(floor(beta * 1000 + 0.5) AS BIGINT) AS beta_milli,
           CAST(floor((mean - 0.5772156649015329 * beta
             - beta * ln(-ln(1 - CAST(1 AS DOUBLE) / 30))) * 1000 + 0.5) AS BIGINT)
             AS rl30_milli,
           CAST(floor((mean - 0.5772156649015329 * beta
             - beta * ln(-ln(1 - CAST(1 AS DOUBLE) / 100))) * 1000 + 0.5) AS BIGINT)
             AS rl100_milli,
           CAST(floor((mean - 0.5772156649015329 * beta
             - beta * ln(-ln(1 - CAST(1 AS DOUBLE) / 365))) * 1000 + 0.5) AS BIGINT)
             AS rl365_milli
    FROM fit
    """,
    doc="extreme-value analysis of daily peak order prices: Gumbel "
    "method-of-moments fit on the block maxima (beta = s*sqrt(6)/pi, "
    "mu = mean - gamma*beta with the Euler-Mascheroni literal), then "
    "30/100/365-day return levels mu - beta*ln(-ln(1 - 1/T)) — 'how "
    "large an order should we expect once a month / quarter / year', "
    "the tail-risk capacity-planning number that mean-based monitors "
    "(value_outliers_mad) structurally underestimate. Block maxima via "
    "one hash aggregate; mean/std from exact BIGINT moments; all "
    "outputs milli-frozen identical-double replay. Extends the "
    "distribution-fitting family (distribution_fit_mom covers the BODY "
    "of the distribution; this fits the TAIL).",
)
def gumbel_return_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    mx = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.max(F.round(F.col("o_totalprice")).cast("bigint")).cast("bigint").alias("peak")
    )
    m = mx.agg(
        F.count("*").cast("bigint").alias("nt"),
        F.sum("peak").cast("bigint").alias("sx"),
        F.sum(F.expr("peak * peak")).cast("bigint").alias("sxx"),
    )
    fit = m.select(
        "nt",
        F.expr("CAST(sx AS DOUBLE) / nt").alias("mean"),
        F.expr(
            "sqrt((CAST(nt AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
            " / (CAST(nt AS DOUBLE) * (nt - 1)))"
            " * sqrt(CAST(6 AS DOUBLE)) / pi()"
        ).alias("beta"),
    )
    rl = (
        "CAST(floor((mean - 0.5772156649015329 * beta"
        " - beta * ln(-ln(1 - CAST(1 AS DOUBLE) / {T}))) * 1000 + 0.5) AS BIGINT)"
    )
    return fit.select(
        F.col("nt").alias("n_days"),
        F.expr(
            "CAST(floor((mean - 0.5772156649015329 * beta) * 1000 + 0.5)"
            " AS BIGINT)"
        ).alias("mu_milli"),
        F.expr("CAST(floor(beta * 1000 + 0.5) AS BIGINT)").alias("beta_milli"),
        F.expr(rl.format(T=30)).alias("rl30_milli"),
        F.expr(rl.format(T=100)).alias("rl100_milli"),
        F.expr(rl.format(T=365)).alias("rl365_milli"),
    )


@register(
    "streaming_kmv_distinct_users",
    oracle="""
    WITH h AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT
               & 2147483647 AS h
      FROM events
    ),
    ranked AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
      FROM h
    ),
    stats AS (
      SELECT event_type, least(count(*), 64)::BIGINT AS n_in_state,
             max(CASE WHEN rk = 64 THEN h END)::BIGINT AS hk
      FROM ranked GROUP BY 1
    )
    SELECT event_type, n_in_state, hk,
           (CASE WHEN n_in_state < 64 THEN n_in_state * 1000
                 ELSE (2 * 63 * 2147483648 * 1000 + hk) // (2 * hk)
            END)::BIGINT AS est_milli
    FROM stats
    """,
    doc="streaming per-event-type distinct-user KMV sketch "
    "(applyInPandasWithState, O(k)=64 BIGINT state per key — "
    "kmv_distinct_sketch's streaming sibling): the state holds the k "
    "smallest DISTINCT engine-portable md5-prefix hashes, an order-"
    "independent merge (min-k is associative over set union), so the "
    "drained stream hash-matches the batch oracle bit-for-bit including "
    "the milli-frozen estimate (k-1)*2^31/h_k (pure-integer round-half-"
    "up: (2A+hk) div (2hk)). At 100 TB the state store holds 64 BIGINTs "
    "per active key regardless of user cardinality — the composition "
    "the sketch family exists for.",
)
def streaming_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.streaming import (
        events_stream,
        run_to_memory,
        streaming_kmv_distinct as op,
    )

    name = "mre_stream_kmv"
    run_to_memory(op(events_stream(spark, sf_dir)), name, output_mode="update")
    w = Window.partitionBy("event_type").orderBy(
        F.desc("n_in_state"), F.asc_nulls_last("hk")
    )
    return (
        spark.table(name)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("event_type", "n_in_state", "hk", "est_milli")
    )


@register(
    "mcnemar_filter_disagreement",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             (n_chars >= 250) AS pass_len,
             (2 * len(list_distinct(string_split(text, ' ')))
                >= len(string_split(text, ' '))) AS pass_lex
      FROM documents
    ),
    c AS (
      SELECT sum(CASE WHEN pass_len AND pass_lex THEN 1 ELSE 0 END)::BIGINT
               AS both_pass,
             sum(CASE WHEN pass_len AND NOT pass_lex THEN 1 ELSE 0 END)::BIGINT
               AS len_only,
             sum(CASE WHEN NOT pass_len AND pass_lex THEN 1 ELSE 0 END)::BIGINT
               AS lex_only,
             sum(CASE WHEN NOT pass_len AND NOT pass_lex THEN 1 ELSE 0 END)::BIGINT
               AS neither
      FROM f
    )
    SELECT both_pass, len_only, lex_only, neither,
           ((1000 * (abs(len_only - lex_only) - 1)
                  * (abs(len_only - lex_only) - 1))
             // (len_only + lex_only))::BIGINT AS mcnemar_milli,
           ((1000 * (abs(len_only - lex_only) - 1)
                  * (abs(len_only - lex_only) - 1))
             // (len_only + lex_only) > 3841) AS filters_differ
    FROM c
    """,
    doc="McNemar's paired test on two document-quality filters evaluated "
    "on the SAME corpus (length >= 250 chars vs lexical diversity "
    ">= 0.5 distinct-token ratio): the 2x2 agreement table and the "
    "continuity-corrected statistic (|b-c|-1)^2/(b+c) on the DISCORDANT "
    "cells only — the correct test when comparing two classifiers on "
    "paired data (a two-proportion z-test here would be wrong: the "
    "samples aren't independent). Pure BIGINT arithmetic end-to-end "
    "(milli-frozen statistic, significance = exact integer comparison "
    "against the chi2(1) 5% critical value 3.841). Completes the "
    "paired-vs-independent test pair with ab_welch_test / "
    "conversion_ztest. Scale: one scan, one 1-row aggregate.",
)
def mcnemar_filter_disagreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    f = docs.select(
        (F.col("n_chars") >= 250).alias("pass_len"),
        F.expr(
            "2 * size(array_distinct(split(text, ' '))) >= size(split(text, ' '))"
        ).alias("pass_lex"),
    )
    c = f.agg(
        F.sum(F.expr("CASE WHEN pass_len AND pass_lex THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("both_pass"),
        F.sum(F.expr("CASE WHEN pass_len AND NOT pass_lex THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("len_only"),
        F.sum(F.expr("CASE WHEN NOT pass_len AND pass_lex THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("lex_only"),
        F.sum(F.expr("CASE WHEN NOT pass_len AND NOT pass_lex THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("neither"),
    )
    stat = (
        "(1000 * (abs(len_only - lex_only) - 1)"
        " * (abs(len_only - lex_only) - 1))"
        " div (len_only + lex_only)"
    )
    return c.select(
        "both_pass",
        "len_only",
        "lex_only",
        "neither",
        F.expr(stat).cast("bigint").alias("mcnemar_milli"),
        F.expr(f"{stat} > 3841").alias("filters_differ"),
    )


@register(
    "theil_index_decomposition",
    oracle="""
    WITH cust AS (
      SELECT c.c_custkey, c.c_nationkey AS nation,
             sum(CAST(round(o.o_totalprice * 100) AS BIGINT))::BIGINT AS x
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    g AS (
      SELECT nation, count(*)::BIGINT AS n_g, sum(x)::BIGINT AS sum_g
      FROM cust GROUP BY nation
    ),
    tot AS (
      SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS s FROM cust
    ),
    term AS (
      SELECT c.nation,
             sum(CAST(floor(CAST(c.x AS DOUBLE) * g.n_g / g.sum_g
               * ln(CAST(c.x AS DOUBLE) * g.n_g / g.sum_g)
               * 1000000000 + 0.5) AS BIGINT))::BIGINT AS t_sum
      FROM cust c JOIN g ON g.nation = c.nation
      GROUP BY c.nation
    )
    SELECT g.nation, g.n_g AS n_customers,
           ((1000000 * g.sum_g) // t.s)::BIGINT AS revenue_share_ppm,
           (term.t_sum // g.n_g)::BIGINT AS theil_within_nano,
           CAST(floor(CAST(g.n_g AS DOUBLE) / t.n
             * (CAST(g.sum_g AS DOUBLE) * t.n / (CAST(t.s AS DOUBLE) * g.n_g))
             * ln(CAST(g.sum_g AS DOUBLE) * t.n / (CAST(t.s AS DOUBLE) * g.n_g))
             * 1000000000 + 0.5) AS BIGINT) AS theil_between_nano
    FROM g JOIN term USING (nation), tot t
    """,
    doc="Theil-T inequality index of customer revenue, decomposed by "
    "nation — the inequality measure gini_coefficient_revenue can't "
    "give you: Theil is ADDITIVELY DECOMPOSABLE, T = sum_g w_g*T_g + "
    "T_between with w_g = revenue share, so each nation row carries its "
    "within-nation inequality (t_within_nano) and its between-nation "
    "contribution (theil_between_nano, negative for below-average "
    "nations). Per-customer (x/mu_g)ln(x/mu_g) terms freeze to BIGINT "
    "nano-units before the group sum (identical-double ratio text "
    "x*n_g/sum_g on both engines); shares and the within normalization "
    "are exact integer division. Scale: one join + two hash "
    "aggregates; the term scan is linear with map-side partials.",
)
def theil_index_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        t(spark, sf_dir, "customer")
        .join(
            t(spark, sf_dir, "orders"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(F.col("c_custkey"), F.col("c_nationkey").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("x")
        )
    )
    g = cust.groupBy("nation").agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum("x").cast("bigint").alias("sum_g"),
    )
    tot = cust.agg(
        F.count("*").cast("bigint").alias("n"), F.sum("x").cast("bigint").alias("s")
    )
    term = (
        cust.join(g, "nation")
        .groupBy("nation")
        .agg(
            F.sum(
                F.expr(
                    "CAST(floor(CAST(x AS DOUBLE) * n_g / sum_g"
                    " * ln(CAST(x AS DOUBLE) * n_g / sum_g)"
                    " * 1000000000 + 0.5) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("t_sum")
        )
    )
    return (
        g.join(term, "nation")
        .crossJoin(F.broadcast(tot))
        .select(
            "nation",
            F.col("n_g").alias("n_customers"),
            F.expr("(1000000 * sum_g) div s").cast("bigint").alias("revenue_share_ppm"),
            F.expr("t_sum div n_g").cast("bigint").alias("theil_within_nano"),
            F.expr(
                "CAST(floor(CAST(n_g AS DOUBLE) / n"
                " * (CAST(sum_g AS DOUBLE) * n / (CAST(s AS DOUBLE) * n_g))"
                " * ln(CAST(sum_g AS DOUBLE) * n / (CAST(s AS DOUBLE) * n_g))"
                " * 1000000000 + 0.5) AS BIGINT)"
            ).alias("theil_between_nano"),
        )
    )


@register(
    "nelson_aalen_hazard",
    oracle="""
    WITH u AS (
      SELECT user_id, min(ts::DATE) AS first_day, max(ts::DATE) AS last_day
      FROM events GROUP BY user_id
    ),
    d AS (
      SELECT user_id,
             date_diff('day', first_day, last_day) AS dur,
             (last_day >= DATE '2024-01-28') AS censored
      FROM u
    ),
    per_dur AS (
      SELECT dur, count(*)::BIGINT AS n_users,
             sum(CASE WHEN censored THEN 0 ELSE 1 END)::BIGINT AS n_churned
      FROM d GROUP BY dur
    ),
    risk AS (
      SELECT dur, n_users, n_churned,
             CAST(sum(n_users) OVER (ORDER BY dur DESC
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS n_at_risk
      FROM per_dur
    ),
    steps AS (
      SELECT dur, n_at_risk, n_churned,
             ((1000000000 * n_churned) // n_at_risk)::BIGINT AS hazard_step_nano
      FROM risk WHERE n_churned > 0
    )
    SELECT dur AS dur_days, n_at_risk, n_churned, hazard_step_nano,
           CAST(sum(hazard_step_nano) OVER (ORDER BY dur
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumhaz_nano
    FROM steps
    """,
    doc="Nelson-Aalen cumulative-hazard estimator on the same duration/"
    "censoring model as kaplan_meier_retention: H(t) = sum d_i/n_i over "
    "event durations <= t — PURE INTEGER end-to-end (per-step hazard is "
    "exact nano division, the cumulative sum is BIGINT), no ln/exp at "
    "all, which makes it the numerically-sturdiest member of the "
    "survival family (KM needs frozen ln-sums; this needs nothing). "
    "H also feeds the log-rank family directly (expected counts are "
    "hazard-weighted risk sets). Windows run over the duration-"
    "aggregated table, calendar-bounded, never raw events.",
)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day"),
        F.max(F.to_date("ts")).alias("last_day"),
    )
    d = u.select(
        F.datediff("last_day", "first_day").alias("dur"),
        (F.col("last_day") >= F.lit("2024-01-28").cast("date")).alias("censored"),
    )
    per_dur = d.groupBy("dur").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum(F.expr("CASE WHEN censored THEN 0 ELSE 1 END"))
        .cast("bigint")
        .alias("n_churned"),
    )
    w_desc = Window.orderBy(F.desc("dur")).rowsBetween(Window.unboundedPreceding, 0)
    risk = per_dur.select(
        "dur",
        "n_churned",
        F.sum("n_users").over(w_desc).cast("bigint").alias("n_at_risk"),
    )
    steps = risk.where(F.col("n_churned") > 0).select(
        "dur",
        "n_at_risk",
        "n_churned",
        F.expr("(1000000000 * n_churned) div n_at_risk")
        .cast("bigint")
        .alias("hazard_step_nano"),
    )
    w_asc = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    return steps.select(
        F.col("dur").alias("dur_days"),
        "n_at_risk",
        "n_churned",
        "hazard_step_nano",
        F.sum("hazard_step_nano").over(w_asc).cast("bigint").alias("cumhaz_nano"),
    )


@register(
    "kruskal_wallis_test",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    grid AS (
      SELECT cents, count(*)::BIGINT AS tt,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_click,
             sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_error,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchase,
             sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS n_signup,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n_view
      FROM v GROUP BY cents
    ),
    ranked AS (
      SELECT *,
             (2 * (sum(tt) OVER (ORDER BY cents
                ROWS UNBOUNDED PRECEDING) - tt) + tt + 1)::BIGINT AS r2
      FROM grid
    ),
    gstat AS (
      SELECT g.event_type, g.n_g, r.s2,
             t.n, t.ties
      FROM (
        SELECT 'click' AS event_type, sum(n_click)::BIGINT AS n_g FROM grid
        UNION ALL SELECT 'error', sum(n_error)::BIGINT FROM grid
        UNION ALL SELECT 'purchase', sum(n_purchase)::BIGINT FROM grid
        UNION ALL SELECT 'signup', sum(n_signup)::BIGINT FROM grid
        UNION ALL SELECT 'view', sum(n_view)::BIGINT FROM grid
      ) g
      JOIN (
        SELECT 'click' AS event_type, sum(n_click * r2)::BIGINT AS s2 FROM ranked
        UNION ALL SELECT 'error', sum(n_error * r2) FROM ranked
        UNION ALL SELECT 'purchase', sum(n_purchase * r2) FROM ranked
        UNION ALL SELECT 'signup', sum(n_signup * r2) FROM ranked
        UNION ALL SELECT 'view', sum(n_view * r2) FROM ranked
      ) r USING (event_type)
      CROSS JOIN (
        SELECT sum(tt)::BIGINT AS n,
               sum(tt * tt * tt - tt)::BIGINT AS ties
        FROM grid
      ) t
    ),
    terms AS (
      SELECT event_type, n_g, n, ties,
             (500 * s2) // n_g AS mean_rank_milli,
             CAST(floor(CAST(s2 - n_g * (n + 1) AS DOUBLE)
               * (s2 - n_g * (n + 1)) / (4 * n_g) + 0.5) AS BIGINT) AS term_unit
      FROM gstat
    ),
    h AS (
      SELECT CAST(floor(12.0 * sum(term_unit)
               / (CAST(max(n) AS DOUBLE) * max(n) * (max(n) + 1))
               / (1 - CAST(max(ties) AS DOUBLE)
                  / (CAST(max(n) AS DOUBLE) * max(n) * max(n) - max(n)))
               * 1000 + 0.5) AS BIGINT) AS h_milli
      FROM terms
    )
    SELECT t.event_type, t.n_g, t.mean_rank_milli::BIGINT AS mean_rank_milli,
           h.h_milli, (h.h_milli > 9488) AS significant
    FROM terms t, h
    """,
    doc="Kruskal-Wallis rank test: do the five event types draw their "
    "values from the same distribution? Tie-averaged ranks in exact "
    "HALF-units (2R = 2*count_below + t + 1) over the distinct-cents "
    "grid, per-group rank sums as BIGINTs, the H statistic via the "
    "identity n_g*(Rbar - (n+1)/2)^2 = (S2_g - n_g(n+1))^2/(4n_g) with "
    "per-group terms unit-frozen before the 5-term sum, full tie "
    "correction 1 - sum(t^3-t)/(n^3-n) in exact integers. The "
    "nonparametric companion of anova_event_types (which assumes "
    "normal residuals; this only assumes exchangeability) and the "
    ">2-group extension of the Mann-Whitney/AUC screen. Scale: one "
    "hash aggregate to the value grid, one ordered window over that "
    "GRID (price-granularity-bounded, not row-count), 5-row "
    "arithmetic after.",
)
def kruskal_wallis_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    types = ["click", "error", "purchase", "signup", "view"]
    ev = t(spark, sf_dir, "events")
    v = ev.select("event_type", F.round(F.col("value") * 100).cast("bigint").alias("cents"))
    grid = v.groupBy("cents").agg(
        F.count("*").cast("bigint").alias("tt"),
        *[
            F.sum(F.expr(f"CASE WHEN event_type = '{ty}' THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias(f"n_{ty}")
            for ty in types
        ],
    )
    wc = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    ranked = grid.withColumn(
        "r2",
        (2 * (F.sum("tt").over(wc) - F.col("tt")) + F.col("tt") + 1).cast("bigint"),
    ).localCheckpoint(eager=True)  # feeds 5 per-group sums + the totals
    tot = ranked.agg(
        F.sum("tt").cast("bigint").alias("n"),
        F.sum(F.expr("tt * tt * tt - tt")).cast("bigint").alias("ties"),
    )
    per_group = None
    for ty in types:
        gi = ranked.agg(
            F.lit(ty).alias("event_type"),
            F.sum(f"n_{ty}").cast("bigint").alias("n_g"),
            F.sum(F.expr(f"n_{ty} * r2")).cast("bigint").alias("s2"),
        )
        per_group = gi if per_group is None else per_group.unionByName(gi)
    terms = per_group.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_g",
        "n",
        "ties",
        F.expr("(500 * s2) div n_g").alias("mean_rank_milli"),
        F.expr(
            "CAST(floor(CAST(s2 - n_g * (n + 1) AS DOUBLE)"
            " * (s2 - n_g * (n + 1)) / (4 * n_g) + 0.5) AS BIGINT)"
        ).alias("term_unit"),
    )
    h = terms.agg(
        F.expr(
            "CAST(floor(12.0 * sum(term_unit)"
            " / (CAST(max(n) AS DOUBLE) * max(n) * (max(n) + 1))"
            " / (1 - CAST(max(ties) AS DOUBLE)"
            "    / (CAST(max(n) AS DOUBLE) * max(n) * max(n) - max(n)))"
            " * 1000 + 0.5) AS BIGINT)"
        ).alias("h_milli")
    )
    return terms.crossJoin(F.broadcast(h)).select(
        "event_type",
        "n_g",
        F.col("mean_rank_milli").cast("bigint").alias("mean_rank_milli"),
        "h_milli",
        (F.col("h_milli") > 9488).alias("significant"),
    )


@register(
    "horvitz_thompson_total",
    oracle="""
    WITH rates AS (
      SELECT source,
             CASE (('0x' || substr(md5(source), 1, 8))::BIGINT
                   & 2147483647) % 4
               WHEN 0 THEN 125 WHEN 1 THEN 200 WHEN 2 THEN 250 ELSE 500
             END AS permille
      FROM (SELECT DISTINCT source FROM documents)
    ),
    d AS (
      SELECT doc.source, doc.n_chars, r.permille,
             ((('0x' || substr(md5(doc.doc_id::VARCHAR), 1, 8))::BIGINT
               & 2147483647) % 1000 < r.permille) AS sampled
      FROM documents doc JOIN rates r ON r.source = doc.source
    )
    SELECT source, max(permille)::BIGINT AS permille,
           sum(CASE WHEN sampled THEN 1 ELSE 0 END)::BIGINT AS n_sampled,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN sampled
               THEN n_chars * (1000 // permille) ELSE 0 END)::BIGINT
             AS ht_total_chars,
           sum(n_chars)::BIGINT AS true_total_chars,
           ((10000 * abs(sum(CASE WHEN sampled
               THEN n_chars * (1000 // permille) ELSE 0 END)
               - sum(n_chars))) // sum(n_chars))::BIGINT AS abs_err_bp
    FROM d GROUP BY source
    """,
    doc="Horvitz-Thompson estimation under deterministic Poisson "
    "sampling: each source gets an inclusion probability from "
    "{1/8, 1/5, 1/4, 1/2} (hash-assigned, all dividing 1000 so the "
    "inverse-probability weight 1000/permille is an EXACT INTEGER), "
    "docs enter the sample by portable md5 hash residue, and the HT "
    "total sum x_i/pi_i is pure BIGINT arithmetic — estimator, truth, "
    "and basis-point error all exact. The estimation-theory closer of "
    "the sampling family: neyman_allocation_sources designs the "
    "sample, weighted_priority_sample draws one, THIS estimates "
    "population totals from it with the design weights, per source. "
    "Scale: one broadcast-joined scan + one hash aggregate.",
)
def horvitz_thompson_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.dedup import portable_base31

    docs = t(spark, sf_dir, "documents")
    rates = (
        docs.select("source")
        .distinct()
        .select(
            "source",
            F.expr(
                "CASE (conv(substring(md5(source), 1, 8), 16, 10)"
                " & 2147483647) % 4"
                " WHEN 0 THEN 125 WHEN 1 THEN 200 WHEN 2 THEN 250 ELSE 500"
                " END"
            )
            .cast("bigint")
            .alias("permille"),
        )
    )
    d = docs.join(F.broadcast(rates), "source").select(
        "source",
        "n_chars",
        "permille",
        (portable_base31(F.col("doc_id").cast("string")) % 1000 < F.col("permille")).alias(
            "sampled"
        ),
    )
    return d.groupBy("source").agg(
        F.max("permille").cast("bigint").alias("permille"),
        F.sum(F.expr("CASE WHEN sampled THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_sampled"),
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.expr("CASE WHEN sampled THEN n_chars * (1000 div permille) ELSE 0 END"))
        .cast("bigint")
        .alias("ht_total_chars"),
        F.sum("n_chars").cast("bigint").alias("true_total_chars"),
        F.expr(
            "(10000 * abs(sum(CASE WHEN sampled"
            " THEN n_chars * (1000 div permille) ELSE 0 END)"
            " - sum(n_chars))) div sum(n_chars)"
        )
        .cast("bigint")
        .alias("abs_err_bp"),
    )


@register(
    "capture_recapture_users",
    oracle="""
    WITH w1 AS (
      SELECT DISTINCT user_id FROM events
      WHERE ts::DATE BETWEEN DATE '2024-01-01' AND DATE '2024-01-07'
    ),
    w2 AS (
      SELECT DISTINCT user_id FROM events
      WHERE ts::DATE BETWEEN DATE '2024-01-15' AND DATE '2024-01-21'
    ),
    c AS (
      SELECT (SELECT count(*) FROM w1)::BIGINT AS n1,
             (SELECT count(*) FROM w2)::BIGINT AS n2,
             (SELECT count(*) FROM w1 JOIN w2 USING (user_id))::BIGINT AS m
    ),
    truth AS (SELECT count(DISTINCT user_id)::BIGINT AS true_users FROM events)
    SELECT c.n1, c.n2, c.m AS m_overlap,
           (((c.n1 + 1) * (c.n2 + 1)) // (c.m + 1) - 1)::BIGINT
             AS chapman_estimate,
           t.true_users,
           ((10000 * abs(((c.n1 + 1) * (c.n2 + 1)) // (c.m + 1) - 1
               - t.true_users)) // t.true_users)::BIGINT AS abs_err_bp
    FROM c, truth t
    """,
    doc="capture-recapture population estimation (Chapman's "
    "bias-corrected Lincoln-Petersen): week-1 actives are the first "
    "capture, week-3 actives the recapture, and the overlap sizes the "
    "unseen population — N_hat = (n1+1)(n2+1)/(m+1) - 1, PURE INTEGER. "
    "The ecology estimator that doubles as a data-pipeline coverage "
    "check: 'how many total users exist given two partial views' "
    "(species_richness_chao1 asks it of vocabulary via abundance; this "
    "asks it of populations via two samples, with the exact truth and "
    "basis-point error alongside). Scale: two distinct aggregates + "
    "one equi-join on user_id.",
)
def capture_recapture_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    day = F.to_date("ts")
    w1 = (
        ev.where(day.between(F.lit("2024-01-01"), F.lit("2024-01-07")))
        .select("user_id")
        .distinct()
    )
    w2 = (
        ev.where(day.between(F.lit("2024-01-15"), F.lit("2024-01-21")))
        .select("user_id")
        .distinct()
    )
    n1 = w1.agg(F.count("*").cast("bigint").alias("n1"))
    n2 = w2.agg(F.count("*").cast("bigint").alias("n2"))
    m = w1.join(w2, "user_id").agg(F.count("*").cast("bigint").alias("m"))
    truth = ev.agg(F.countDistinct("user_id").cast("bigint").alias("true_users"))
    c = n1.crossJoin(F.broadcast(n2)).crossJoin(F.broadcast(m)).crossJoin(
        F.broadcast(truth)
    )
    return c.select(
        "n1",
        "n2",
        F.col("m").alias("m_overlap"),
        F.expr("((n1 + 1) * (n2 + 1)) div (m + 1) - 1")
        .cast("bigint")
        .alias("chapman_estimate"),
        "true_users",
        F.expr(
            "(10000 * abs(((n1 + 1) * (n2 + 1)) div (m + 1) - 1 - true_users))"
            " div true_users"
        )
        .cast("bigint")
        .alias("abs_err_bp"),
    )


@register(
    "brown_forsythe_variance_test",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    med AS (
      SELECT event_type, cents AS med FROM (
        SELECT event_type, cents,
               row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rk,
               count(*) OVER (PARTITION BY event_type) AS n_g
        FROM v
      ) WHERE rk = (n_g - 1) // 2 + 1
    ),
    z AS (
      SELECT v.event_type, abs(v.cents - m.med)::BIGINT AS z
      FROM v JOIN med m USING (event_type)
    ),
    g AS (
      SELECT event_type, count(*)::BIGINT AS n_g, sum(z)::BIGINT AS s_g,
             sum(z * z)::BIGINT AS ss_g,
             CAST(floor(CAST(sum(z) AS DOUBLE) * sum(z) / count(*) * 1000
               + 0.5) AS BIGINT) AS sq_milli
      FROM z GROUP BY event_type
    ),
    tot AS (
      SELECT count(*)::BIGINT AS k, sum(n_g)::BIGINT AS n,
             sum(s_g)::BIGINT AS s, sum(ss_g)::BIGINT AS ss,
             sum(sq_milli)::BIGINT AS sumsq_milli
      FROM g
    ),
    f AS (
      SELECT k, n,
             CAST(floor((CAST(sumsq_milli AS DOUBLE) / 1000
                 - CAST(s AS DOUBLE) * s / n) / (k - 1)
               / ((CAST(ss AS DOUBLE) - CAST(sumsq_milli AS DOUBLE) / 1000)
                  / (n - k)) * 1000 + 0.5) AS BIGINT) AS f_milli
      FROM tot
    )
    SELECT g.event_type, g.n_g,
           (g.s_g // g.n_g)::BIGINT AS mean_absdev_cents,
           f.f_milli, f.k - 1 AS df_between, f.n - f.k AS df_within,
           (f.f_milli > 2372) AS variances_differ
    FROM g, f
    """,
    doc="Brown-Forsythe (median-centered Levene) homogeneity-of-variance "
    "test across event types: z = |cents - group median| (exact "
    "integers — the discrete lower median makes z BIGINT), then the "
    "one-way ANOVA F on z with per-group S^2/n terms milli-frozen "
    "before the cross-group sums. THE assumption check for "
    "anova_event_types (pooled-variance ANOVA is invalid under "
    "heteroscedasticity — this is the gate that says so) and the "
    "median-centered robust cousin of the classic Levene. Significance "
    "compares the milli-frozen F against the F(4, inf) 95% critical "
    "value 2.372 in exact integers. Scale: one grid median pick per "
    "group (value-grid window), two hash aggregates.",
)
def brown_forsythe_variance_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    v = ev.select("event_type", F.round(F.col("value") * 100).cast("bigint").alias("cents"))
    wr = Window.partitionBy("event_type").orderBy("cents")
    med = (
        v.select(
            "event_type",
            "cents",
            F.row_number().over(wr).alias("rk"),
            F.count("*").over(Window.partitionBy("event_type")).alias("n_g"),
        )
        .where(F.expr("rk = (n_g - 1) div 2 + 1"))
        .select("event_type", F.col("cents").alias("med"))
    )
    z = v.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("cents") - F.col("med")).cast("bigint").alias("z")
    )
    g = z.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum("z").cast("bigint").alias("s_g"),
        F.sum(F.expr("z * z")).cast("bigint").alias("ss_g"),
        F.expr(
            "CAST(floor(CAST(sum(z) AS DOUBLE) * sum(z) / count(*) * 1000"
            " + 0.5) AS BIGINT)"
        ).alias("sq_milli"),
    )
    tot = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("bigint").alias("s"),
        F.sum("ss_g").cast("bigint").alias("ss"),
        F.sum("sq_milli").cast("bigint").alias("sumsq_milli"),
    )
    f = tot.select(
        "k",
        "n",
        F.expr(
            "CAST(floor((CAST(sumsq_milli AS DOUBLE) / 1000"
            "   - CAST(s AS DOUBLE) * s / n) / (k - 1)"
            " / ((CAST(ss AS DOUBLE) - CAST(sumsq_milli AS DOUBLE) / 1000)"
            "    / (n - k)) * 1000 + 0.5) AS BIGINT)"
        ).alias("f_milli"),
    )
    return g.crossJoin(F.broadcast(f)).select(
        "event_type",
        "n_g",
        F.expr("s_g div n_g").cast("bigint").alias("mean_absdev_cents"),
        "f_milli",
        (F.col("k") - 1).alias("df_between"),
        (F.col("n") - F.col("k")).alias("df_within"),
        (F.col("f_milli") > 2372).alias("variances_differ"),
    )


@register(
    "cochran_armitage_trend",
    oracle="""
    WITH b AS (
      SELECT least(CAST(round(l_quantity) AS BIGINT) // 10, 4)::BIGINT AS bucket,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS r
      FROM lineitem
    ),
    g AS (
      SELECT bucket, count(*)::BIGINT AS n_i, sum(r)::BIGINT AS r_i
      FROM b GROUP BY bucket
    ),
    m AS (
      SELECT sum(n_i)::BIGINT AS n, sum(r_i)::BIGINT AS r,
             sum(bucket * r_i)::BIGINT AS sr,
             sum(bucket * n_i)::BIGINT AS sn,
             sum(bucket * bucket * n_i)::BIGINT AS snn
      FROM g
    ),
    z AS (
      SELECT n, r,
             CAST(floor((CAST(sr AS DOUBLE) - CAST(r AS DOUBLE) * sn / n)
               * (CAST(sr AS DOUBLE) - CAST(r AS DOUBLE) * sn / n)
               / ((CAST(r AS DOUBLE) / n) * (1 - CAST(r AS DOUBLE) / n)
                  * (CAST(snn AS DOUBLE) - CAST(sn AS DOUBLE) * sn / n))
               * 1000 + 0.5) AS BIGINT) AS z2_milli
      FROM m
    )
    SELECT g.bucket, g.n_i, g.r_i,
           ((1000000 * g.r_i) // g.n_i)::BIGINT AS rate_ppm,
           z.z2_milli, (z.z2_milli > 3841) AS trend_significant
    FROM g, z
    """,
    doc="Cochran-Armitage trend test: does the return rate rise or fall "
    "MONOTONICALLY with order quantity (5 ordered buckets, scores = "
    "bucket index)? Z^2 = [sum s_i(r_i - p*n_i)]^2 / [p(1-p)(sum s_i^2 "
    "n_i - (sum s_i n_i)^2/N)] from ONE exact-BIGINT moment aggregate, "
    "milli-frozen, compared against the chi2(1) 5% cut in exact "
    "integers. The ORDERED-alternative test chi2_independence throws "
    "away (independence tests treat buckets as unordered labels; this "
    "spends its single degree of freedom on the dose-response "
    "direction). Scale: one scan, one 5-row grid, 1-row arithmetic.",
)
def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    b = li.select(
        F.expr("least(CAST(round(l_quantity) AS BIGINT) div 10, 4)")
        .cast("bigint")
        .alias("bucket"),
        F.expr("CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END").alias("r"),
    )
    g = b.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_i"),
        F.sum("r").cast("bigint").alias("r_i"),
    )
    m = g.agg(
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum("r_i").cast("bigint").alias("r"),
        F.sum(F.expr("bucket * r_i")).cast("bigint").alias("sr"),
        F.sum(F.expr("bucket * n_i")).cast("bigint").alias("sn"),
        F.sum(F.expr("bucket * bucket * n_i")).cast("bigint").alias("snn"),
    )
    z = m.select(
        "n",
        "r",
        F.expr(
            "CAST(floor((CAST(sr AS DOUBLE) - CAST(r AS DOUBLE) * sn / n)"
            " * (CAST(sr AS DOUBLE) - CAST(r AS DOUBLE) * sn / n)"
            " / ((CAST(r AS DOUBLE) / n) * (1 - CAST(r AS DOUBLE) / n)"
            "    * (CAST(snn AS DOUBLE) - CAST(sn AS DOUBLE) * sn / n))"
            " * 1000 + 0.5) AS BIGINT)"
        ).alias("z2_milli"),
    )
    return g.crossJoin(F.broadcast(z)).select(
        "bucket",
        "n_i",
        "r_i",
        F.expr("(1000000 * r_i) div n_i").cast("bigint").alias("rate_ppm"),
        "z2_milli",
        (F.col("z2_milli") > 3841).alias("trend_significant"),
    )


# Shapley coalition-pair grid: 4 channels x 8 subsets of the other three.
# Weight w = |S|! * (4-|S|-1)!  (denominator 4! = 24 applied at the end).
_SHAPLEY_CHANNELS = [("click", 1), ("error", 2), ("signup", 4), ("view", 8)]
_SHAPLEY_W = {0: 6, 1: 2, 2: 2, 3: 6}
_SHAPLEY_PAIRS = [
    (name, s, s | bit, _SHAPLEY_W[bin(s).count("1")])
    for name, bit in _SHAPLEY_CHANNELS
    for s in range(16)
    if not s & bit
]
_SHAPLEY_VALUES_SQL = ",\n      ".join(
    f"('{n}', {s}, {si}, {w})" for n, s, si, w in _SHAPLEY_PAIRS
)


@register(
    "shapley_channel_attribution",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             (max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              + 2 * max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
              + 8 * max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             )::BIGINT AS mask,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
               AS converted
      FROM events GROUP BY user_id
    ),
    coal AS (
      SELECT mask, count(*)::BIGINT AS n_users,
             ((1000000 * sum(converted)) // count(*))::BIGINT AS v_ppm
      FROM u GROUP BY mask
    ),
    pairs(channel, s_mask, si_mask, w) AS (
      VALUES {_SHAPLEY_VALUES_SQL}
    ),
    contrib AS (
      SELECT p.channel,
             sum(p.w * (coalesce(c1.v_ppm, 0) - coalesce(c0.v_ppm, 0)))::BIGINT
               AS numer_ppm24
      FROM pairs p
      LEFT JOIN coal c0 ON c0.mask = p.s_mask
      LEFT JOIN coal c1 ON c1.mask = p.si_mask
      GROUP BY p.channel
    )
    SELECT channel, numer_ppm24,
           (CASE WHEN numer_ppm24 >= 0 THEN numer_ppm24 // 24
                 ELSE -((-numer_ppm24) // 24) END)::BIGINT AS shapley_ppm
    FROM contrib
    """,
    doc="Shapley-value channel attribution: treat the four non-purchase "
    "event types as a 16-coalition cooperative game with v(S) = exact "
    "ppm conversion rate of users whose channel set is exactly S "
    "(unobserved coalitions contribute v=0, documented), and compute "
    "each channel's Shapley value phi_i = sum |S|!(n-|S|-1)!/n! "
    "[v(S+i) - v(S)] over the 32 literal coalition pairs — weights and "
    "marginals are pure integers (x24 numerator emitted for the exact "
    "efficiency identity sum numer = 24*(v(full) - v(empty))). The "
    "game-theoretic member of the attribution family (first/last-touch "
    "ignore interactions, U-shaped guesses them, markov_removal_effect "
    "needs path order; Shapley is the axiomatically-fair set-based "
    "answer). Scale: one hash aggregate per user, one to the 16-row "
    "coalition grid, then literal-grid joins.",
)
def shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.expr(
            "CAST(max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)"
            " + 2 * max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)"
            " + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)"
            " + 8 * max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("mask"),
        F.expr(
            "CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("converted"),
    )
    coal = u.groupBy("mask").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.expr("(1000000 * sum(converted)) div count(*)")
        .cast("bigint")
        .alias("v_ppm"),
    )
    pairs = coal.sparkSession.createDataFrame(
        _SHAPLEY_PAIRS, "channel string, s_mask bigint, si_mask bigint, w bigint"
    )
    c0 = coal.select(F.col("mask").alias("m0"), F.col("v_ppm").alias("v0"))
    c1 = coal.select(F.col("mask").alias("m1"), F.col("v_ppm").alias("v1"))
    contrib = (
        pairs.join(F.broadcast(c0), pairs.s_mask == c0.m0, "left")
        .join(F.broadcast(c1), pairs.si_mask == c1.m1, "left")
        .groupBy("channel")
        .agg(
            F.sum(
                F.expr("w * (coalesce(v1, 0) - coalesce(v0, 0))")
            )
            .cast("bigint")
            .alias("numer_ppm24")
        )
    )
    return contrib.select(
        "channel",
        "numer_ppm24",
        F.expr("numer_ppm24 div 24").cast("bigint").alias("shapley_ppm"),
    )


@register(
    "cochrans_q_filters",
    oracle="""
    WITH f AS (
      SELECT CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END AS f1,
             CASE WHEN 2 * len(list_distinct(string_split(text, ' ')))
                >= len(string_split(text, ' ')) THEN 1 ELSE 0 END AS f2,
             CASE WHEN len(string_split(text, ' ')) >= 40 THEN 1 ELSE 0 END
               AS f3
      FROM documents
    ),
    m AS (
      SELECT count(*)::BIGINT AS n,
             sum(f1)::BIGINT AS c1, sum(f2)::BIGINT AS c2,
             sum(f3)::BIGINT AS c3,
             sum(f1 + f2 + f3)::BIGINT AS t,
             sum((f1 + f2 + f3) * (f1 + f2 + f3))::BIGINT AS sr2
      FROM f
    )
    SELECT n AS n_docs, c1 AS pass_len, c2 AS pass_lex, c3 AS pass_tokens,
           ((1000 * 2 * (3 * (c1 * c1 + c2 * c2 + c3 * c3) - t * t))
             // (3 * t - sr2))::BIGINT AS q_milli,
           ((1000 * 2 * (3 * (c1 * c1 + c2 * c2 + c3 * c3) - t * t))
             // (3 * t - sr2) > 5991) AS filters_differ
    FROM m
    """,
    doc="Cochran's Q test on THREE paired binary quality filters (length, "
    "lexical diversity, token count) over the same documents — the "
    "k-filter generalization of mcnemar_filter_disagreement, asking "
    "'do these filters pass different fractions?' while respecting the "
    "pairing. The identity Q = (k-1)(k*sum C_j^2 - T^2)/(k*T - sum "
    "R_i^2) makes the whole statistic PURE INTEGER (numerator and "
    "denominator BIGINT; milli-frozen only by the final integer "
    "division), significance vs the exact chi2(2) 5% cut 5.991. "
    "Scale: one scan, one 1-row moment aggregate.",
)
def cochrans_q_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    f = docs.select(
        F.expr("CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END").alias("f1"),
        F.expr(
            "CASE WHEN 2 * size(array_distinct(split(text, ' ')))"
            " >= size(split(text, ' ')) THEN 1 ELSE 0 END"
        ).alias("f2"),
        F.expr("CASE WHEN size(split(text, ' ')) >= 40 THEN 1 ELSE 0 END").alias("f3"),
    )
    m = f.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("f1").cast("bigint").alias("c1"),
        F.sum("f2").cast("bigint").alias("c2"),
        F.sum("f3").cast("bigint").alias("c3"),
        F.sum(F.expr("f1 + f2 + f3")).cast("bigint").alias("t"),
        F.sum(F.expr("(f1 + f2 + f3) * (f1 + f2 + f3)")).cast("bigint").alias("sr2"),
    )
    q = (
        "(1000 * 2 * (3 * (c1 * c1 + c2 * c2 + c3 * c3) - t * t))"
        " div (3 * t - sr2)"
    )
    return m.select(
        F.col("n").alias("n_docs"),
        F.col("c1").alias("pass_len"),
        F.col("c2").alias("pass_lex"),
        F.col("c3").alias("pass_tokens"),
        F.expr(q).cast("bigint").alias("q_milli"),
        F.expr(f"{q} > 5991").alias("filters_differ"),
    )


@register(
    "cronbach_alpha_quality",
    oracle="""
    WITH f AS (
      SELECT CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END AS f1,
             CASE WHEN 2 * len(list_distinct(string_split(text, ' ')))
                >= len(string_split(text, ' ')) THEN 1 ELSE 0 END AS f2,
             CASE WHEN len(string_split(text, ' ')) >= 40 THEN 1 ELSE 0 END
               AS f3,
             CASE WHEN len(string_split(text, ' ')) >= 55 THEN 1 ELSE 0 END
               AS f4
      FROM documents
    ),
    m AS (
      SELECT count(*)::BIGINT AS n,
             sum(f1)::BIGINT AS c1, sum(f2)::BIGINT AS c2,
             sum(f3)::BIGINT AS c3, sum(f4)::BIGINT AS c4,
             sum(f1 + f2 + f3 + f4)::BIGINT AS t,
             sum((f1 + f2 + f3 + f4) * (f1 + f2 + f3 + f4))::BIGINT AS sr2
      FROM m0
    ),
    m0 AS (SELECT * FROM f)
    SELECT n AS n_docs, c1, c2, c3, c4,
           CAST(floor((4.0 / 3)
             * (1 - ((CAST(n AS DOUBLE) * c1 - CAST(c1 AS DOUBLE) * c1)
                   + (CAST(n AS DOUBLE) * c2 - CAST(c2 AS DOUBLE) * c2)
                   + (CAST(n AS DOUBLE) * c3 - CAST(c3 AS DOUBLE) * c3)
                   + (CAST(n AS DOUBLE) * c4 - CAST(c4 AS DOUBLE) * c4))
                  / (CAST(n AS DOUBLE) * sr2 - CAST(t AS DOUBLE) * t))
             * 1000 + 0.5) AS BIGINT) AS alpha_milli,
           (CAST(floor((4.0 / 3)
             * (1 - ((CAST(n AS DOUBLE) * c1 - CAST(c1 AS DOUBLE) * c1)
                   + (CAST(n AS DOUBLE) * c2 - CAST(c2 AS DOUBLE) * c2)
                   + (CAST(n AS DOUBLE) * c3 - CAST(c3 AS DOUBLE) * c3)
                   + (CAST(n AS DOUBLE) * c4 - CAST(c4 AS DOUBLE) * c4))
                  / (CAST(n AS DOUBLE) * sr2 - CAST(t AS DOUBLE) * t))
             * 1000 + 0.5) AS BIGINT) >= 700) AS internally_consistent
    FROM m
    """,
    doc="Cronbach's alpha internal-consistency coefficient over a 4-item "
    "binary quality scale (length, lexical diversity, and two token-"
    "count items): alpha = k/(k-1) * (1 - sum var_item / var_total), "
    "with every variance expanded to the exact-BIGINT moment form "
    "n*sum - sum^2 (binary items: sum == sum of squares) and the "
    "4-term item-variance sum written as ONE fixed-order expression in "
    "both engines (never a float SUM over rows), milli-frozen with the "
    "conventional 0.7 reliability gate as an exact integer comparison. "
    "The measurement-theory audit for composite quality scores "
    "(quality_linear_score averages items; this says whether they "
    "measure one construct at all). Scale: one scan, one 1-row moment "
    "aggregate.",
)
def cronbach_alpha_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    f = docs.select(
        F.expr("CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END").alias("f1"),
        F.expr(
            "CASE WHEN 2 * size(array_distinct(split(text, ' ')))"
            " >= size(split(text, ' ')) THEN 1 ELSE 0 END"
        ).alias("f2"),
        F.expr("CASE WHEN size(split(text, ' ')) >= 40 THEN 1 ELSE 0 END").alias("f3"),
        F.expr("CASE WHEN size(split(text, ' ')) >= 55 THEN 1 ELSE 0 END").alias("f4"),
    )
    m = f.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("f1").cast("bigint").alias("c1"),
        F.sum("f2").cast("bigint").alias("c2"),
        F.sum("f3").cast("bigint").alias("c3"),
        F.sum("f4").cast("bigint").alias("c4"),
        F.sum(F.expr("f1 + f2 + f3 + f4")).cast("bigint").alias("t"),
        F.sum(F.expr("(f1 + f2 + f3 + f4) * (f1 + f2 + f3 + f4)"))
        .cast("bigint")
        .alias("sr2"),
    )
    alpha = (
        "CAST(floor((4.0 / 3)"
        " * (1 - ((CAST(n AS DOUBLE) * c1 - CAST(c1 AS DOUBLE) * c1)"
        "       + (CAST(n AS DOUBLE) * c2 - CAST(c2 AS DOUBLE) * c2)"
        "       + (CAST(n AS DOUBLE) * c3 - CAST(c3 AS DOUBLE) * c3)"
        "       + (CAST(n AS DOUBLE) * c4 - CAST(c4 AS DOUBLE) * c4))"
        "      / (CAST(n AS DOUBLE) * sr2 - CAST(t AS DOUBLE) * t))"
        " * 1000 + 0.5) AS BIGINT)"
    )
    return m.select(
        F.col("n").alias("n_docs"),
        "c1",
        "c2",
        "c3",
        "c4",
        F.expr(alpha).alias("alpha_milli"),
        F.expr(f"{alpha} >= 700").alias("internally_consistent"),
    )


@register(
    "misra_gries_heavy_hitters",
    oracle="""
    WITH keyed AS (
      SELECT CASE WHEN user_id % 4 < 2
               THEN 'hot_' || CAST(user_id % 2 AS VARCHAR)
               ELSE 'cold_' || CAST(user_id AS VARCHAR) END AS item
      FROM events
    ),
    tot AS (SELECT count(*)::BIGINT AS n FROM keyed),
    exact AS (
      SELECT item, count(*)::BIGINT AS true_count FROM keyed GROUP BY item
    )
    SELECT e.item, e.true_count,
           ((1000000 * e.true_count) // t.n)::BIGINT AS share_ppm,
           TRUE AS in_mg_candidates
    FROM exact e, tot t
    WHERE e.true_count * 17 > t.n
    ORDER BY e.true_count DESC, e.item
    """,
    doc="Misra-Gries frequent-items sketch (k=16 counters) over a "
    "deterministically skewed key stream (half the events map to two "
    "hot keys, the rest to per-user cold keys — a synthetic skew "
    "transform, since the fixture's natural keys are uniform): the MG "
    "guarantee says every item with true frequency > n/(k+1) MUST "
    "survive the bounded-memory pass, for ANY partition layout or "
    "batch order, so the emitted verdict column (true heavy hitter is "
    "in the candidate set) is layout-invariant even though the "
    "candidate SET itself is not — a broken counter/merge rule flips "
    "the boolean and hash-mismatches the oracle's literal TRUE. The "
    "deterministic-guarantee counter sketch beside cms_heavy_hitters "
    "(probabilistic overestimates) — operators/sketch.py::"
    "misra_gries_summary holds k counters per task and merges partials "
    "with the Agarwal et al. rule. Exact counts shown for comparison.",
)
def misra_gries_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.sketch import misra_gries_summary

    ev = t(spark, sf_dir, "events")
    keyed = ev.select(
        F.expr(
            "CASE WHEN user_id % 4 < 2"
            " THEN 'hot_' || CAST(user_id % 2 AS STRING)"
            " ELSE 'cold_' || CAST(user_id AS STRING) END"
        ).alias("item")
    )
    candidates = misra_gries_summary(keyed, "item", k=16).select(
        F.col("item").alias("cand_item")
    )
    tot = keyed.agg(F.count("*").cast("bigint").alias("n"))
    exact = keyed.groupBy("item").agg(F.count("*").cast("bigint").alias("true_count"))
    hh = (
        exact.crossJoin(F.broadcast(tot))
        .where(F.expr("true_count * 17 > n"))
        .join(F.broadcast(candidates), F.col("item") == F.col("cand_item"), "left")
    )
    return hh.select(
        "item",
        "true_count",
        F.expr("(1000000 * true_count) div n").cast("bigint").alias("share_ppm"),
        F.col("cand_item").isNotNull().alias("in_mg_candidates"),
    ).orderBy(F.desc("true_count"), F.asc("item"))


@register(
    "tukey_hsd_pairs",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    g AS (
      SELECT event_type, count(*)::BIGINT AS n_g, sum(cents)::BIGINT AS s_g,
             sum(cents * cents)::BIGINT AS ss_g,
             CAST(floor(CAST(sum(cents) AS DOUBLE) * sum(cents) / count(*)
               * 1000 + 0.5) AS BIGINT) AS sq_milli
      FROM v GROUP BY event_type
    ),
    msw AS (
      SELECT count(*)::BIGINT AS k, sum(n_g)::BIGINT AS n,
             (CAST(sum(ss_g) AS DOUBLE)
              - CAST(sum(sq_milli) AS DOUBLE) / 1000)
               / (sum(n_g) - count(*)) AS ms_within
      FROM g
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.n_g AS n_a, b.n_g AS n_b,
             CAST(floor(abs(CAST(a.s_g AS DOUBLE) / a.n_g
               - CAST(b.s_g AS DOUBLE) / b.n_g) * 1000 + 0.5) AS BIGINT)
               AS mean_diff_milli,
             CAST(floor(abs(CAST(a.s_g AS DOUBLE) / a.n_g
                 - CAST(b.s_g AS DOUBLE) / b.n_g)
               / sqrt(m.ms_within / 2
                      * (1.0 / a.n_g + 1.0 / b.n_g))
               * 1000 + 0.5) AS BIGINT) AS q_milli
      FROM g a JOIN g b ON a.event_type < b.event_type, msw m
    )
    SELECT type_a, type_b, n_a, n_b, mean_diff_milli, q_milli,
           (q_milli > 3858) AS pair_differs
    FROM pairs
    """,
    doc="Tukey-Kramer HSD post-hoc pairwise comparisons after the one-way "
    "ANOVA: for each of the 10 event-type pairs, the studentized-range "
    "statistic q = |mean_i - mean_j| / sqrt(MSW/2 * (1/n_i + 1/n_j)) "
    "with MS-within from exact-BIGINT moments (per-group S^2/n "
    "milli-frozen before the cross-group sum, the brown_forsythe "
    "recipe), milli-frozen q against the exact studentized-range "
    "critical value q(0.05; 5, inf) = 3.858. anova_event_types says "
    "THAT means differ; this says WHICH pairs do, with the family-wise "
    "error rate the pairwise z-tests would inflate. Scale: one moment "
    "aggregate, then a 5x5-bounded grid self-join.",
)
def tukey_hsd_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    v = ev.select("event_type", F.round(F.col("value") * 100).cast("bigint").alias("cents"))
    g = v.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum("cents").cast("bigint").alias("s_g"),
        F.sum(F.expr("cents * cents")).cast("bigint").alias("ss_g"),
        F.expr(
            "CAST(floor(CAST(sum(cents) AS DOUBLE) * sum(cents) / count(*)"
            " * 1000 + 0.5) AS BIGINT)"
        ).alias("sq_milli"),
    ).localCheckpoint(eager=True)  # 5-row grid feeds msw + both pair sides
    msw = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.expr(
            "(CAST(sum(ss_g) AS DOUBLE)"
            " - CAST(sum(sq_milli) AS DOUBLE) / 1000)"
            " / (sum(n_g) - count(*))"
        ).alias("ms_within"),
    )
    a = g.select(
        F.col("event_type").alias("type_a"),
        F.col("n_g").alias("n_a"),
        F.col("s_g").alias("sa"),
    )
    b = g.select(
        F.col("event_type").alias("type_b"),
        F.col("n_g").alias("n_b"),
        F.col("s_g").alias("sb"),
    )
    pairs = (
        a.join(b, F.col("type_a") < F.col("type_b"))
        .crossJoin(F.broadcast(msw))
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            F.expr(
                "CAST(floor(abs(CAST(sa AS DOUBLE) / n_a"
                " - CAST(sb AS DOUBLE) / n_b) * 1000 + 0.5) AS BIGINT)"
            ).alias("mean_diff_milli"),
            F.expr(
                "CAST(floor(abs(CAST(sa AS DOUBLE) / n_a"
                "   - CAST(sb AS DOUBLE) / n_b)"
                " / sqrt(ms_within / 2"
                "        * (1.0 / n_a + 1.0 / n_b))"
                " * 1000 + 0.5) AS BIGINT)"
            ).alias("q_milli"),
        )
    )
    return pairs.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "mean_diff_milli",
        "q_milli",
        (F.col("q_milli") > 3858).alias("pair_differs"),
    )


@register(
    "friedman_test",
    oracle="""
    WITH cell AS (
      SELECT ts::DATE AS day, event_type,
             sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT a.day, a.event_type,
             (2 * sum(CASE WHEN b.cents < a.cents THEN 1 ELSE 0 END)
              + sum(CASE WHEN b.cents = a.cents THEN 1 ELSE 0 END)
              + 1)::BIGINT AS r2
      FROM cell a JOIN cell b ON a.day = b.day
      GROUP BY a.day, a.event_type
    ),
    blocks AS (SELECT count(DISTINCT day)::BIGINT AS n FROM cell),
    sums AS (
      SELECT event_type, sum(r2)::BIGINT AS r2_sum FROM r GROUP BY event_type
    ),
    a2 AS (SELECT sum(r2 * r2)::BIGINT AS a2 FROM r),
    q AS (
      SELECT ((1000 * 4 * (SELECT sum((r2_sum - n * 6) * (r2_sum - n * 6))
                FROM sums, blocks))
             // ((SELECT a2 FROM a2)
                - (SELECT n FROM blocks) * 5 * 36))::BIGINT AS q_milli
    )
    SELECT s.event_type, s.r2_sum,
           ((500 * s.r2_sum) // b.n)::BIGINT AS mean_rank_milli,
           q.q_milli, (q.q_milli > 9488) AS significant
    FROM sums s, blocks b, q
    """,
    doc="Friedman test with days as blocks: does any event type "
    "systematically out-earn the others DAY AFTER DAY? Each day ranks "
    "its five per-type revenue cells (tie-averaged ranks in exact "
    "half-units via the bounded 5x5 within-day comparison join), and "
    "the tie-robust statistic Q = (k-1) * sum_j (R2_j - n(k+1))^2 / "
    "(sum r2^2 - nk(k+1)^2) is PURE INTEGER end-to-end (the 2R "
    "substitution cancels every /4). The repeated-measures member of "
    "the test family: kruskal_wallis_test pools all values (a hot day "
    "lifts every type and drowns the signal); blocking by day removes "
    "exactly that nuisance. Significance vs the exact chi2(4) cut. "
    "Scale: one aggregate to the (days x types) grid, one bounded "
    "within-day join, |types|-row arithmetic.",
)
def friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    cell = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("cents")
    ).localCheckpoint(eager=True)  # (days x types) grid; feeds both join sides
    a, b = cell.alias("a"), cell.alias("b")
    r = (
        a.join(b, F.col("a.day") == F.col("b.day"))
        .groupBy(F.col("a.day").alias("day"), F.col("a.event_type").alias("event_type"))
        .agg(
            F.expr(
                "CAST(2 * sum(CASE WHEN b.cents < a.cents THEN 1 ELSE 0 END)"
                " + sum(CASE WHEN b.cents = a.cents THEN 1 ELSE 0 END)"
                " + 1 AS BIGINT)"
            ).alias("r2")
        )
    )
    blocks = cell.agg(F.countDistinct("day").cast("bigint").alias("n"))
    sums = r.groupBy("event_type").agg(F.sum("r2").cast("bigint").alias("r2_sum"))
    a2 = r.agg(F.sum(F.expr("r2 * r2")).cast("bigint").alias("a2"))
    num = (
        sums.crossJoin(F.broadcast(blocks))
        .agg(
            F.sum(F.expr("(r2_sum - n * 6) * (r2_sum - n * 6)"))
            .cast("bigint")
            .alias("num")
        )
    )
    q = (
        num.crossJoin(F.broadcast(a2))
        .crossJoin(F.broadcast(blocks))
        .select(
            F.expr("(1000 * 4 * num) div (a2 - n * 5 * 36)")
            .cast("bigint")
            .alias("q_milli")
        )
    )
    return (
        sums.crossJoin(F.broadcast(blocks))
        .crossJoin(F.broadcast(q))
        .select(
            "event_type",
            "r2_sum",
            F.expr("(500 * r2_sum) div n").cast("bigint").alias("mean_rank_milli"),
            "q_milli",
            (F.col("q_milli") > 9488).alias("significant"),
        )
    )


# --- MMR diversified retrieval ------------------------------------------------

_MMR_ROUNDS = 5
# Seeded literal query vector, micro-frozen — the seeded-literal-oracle
# recipe (LSH planes / JL projection): both engines replay identical
# integers, so relevance and redundancy dots are exact BIGINTs.
import numpy as _np  # noqa: E402

_MMR_Q = [
    int(x)
    for x in _np.floor(
        _np.random.default_rng(20240815).standard_normal(64) * 1_000_000 + 0.5
    ).astype("int64")
]


def _mmr_dot(x: str, y: str) -> str:
    return (
        f"CAST(list_sum(list_transform(range(64), "
        f"i -> {x}[i+1] * {y}[i+1])) AS BIGINT)"
    )


def _mmr_oracle() -> str:
    v = (
        "list_transform(embedding::DOUBLE[], "
        "x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))"
    )
    q = "[" + ", ".join(f"{x}::BIGINT" for x in _MMR_Q) + "]"
    ctes = [
        f"e AS MATERIALIZED (SELECT vec_id, {v} AS v FROM embeddings)",
        f"rel AS MATERIALIZED (SELECT vec_id, v, {_mmr_dot('v', q)} AS rel FROM e)",
        "c1 AS MATERIALIZED (SELECT vec_id, v, rel FROM rel "
        "ORDER BY rel DESC, vec_id LIMIT 1)",
        f"d1 AS MATERIALIZED (SELECT r.vec_id, r.v, r.rel, "
        f"{_mmr_dot('r.v', 'c.v')} AS smax FROM rel r, c1 c "
        f"WHERE r.vec_id <> c.vec_id)",
    ]
    for r in range(2, _MMR_ROUNDS + 1):
        ctes.append(
            f"c{r} AS MATERIALIZED (SELECT vec_id, v, rel, smax FROM d{r - 1} "
            f"ORDER BY 7 * rel - 3 * smax DESC, vec_id LIMIT 1)"
        )
        if r < _MMR_ROUNDS:
            ctes.append(
                f"d{r} AS MATERIALIZED (SELECT d.vec_id, d.v, d.rel, "
                f"greatest(d.smax, {_mmr_dot('d.v', 'c.v')}) AS smax "
                f"FROM d{r - 1} d, c{r} c WHERE d.vec_id <> c.vec_id)"
            )
    rows = [
        "SELECT 1::BIGINT AS sel_round, vec_id, rel AS rel_dot, "
        "0::BIGINT AS maxsim_dot, (7 * rel)::BIGINT AS mmr_score FROM c1"
    ]
    rows += [
        f"SELECT {r}::BIGINT, vec_id, rel, smax::BIGINT, "
        f"(7 * rel - 3 * smax)::BIGINT FROM c{r}"
        for r in range(2, _MMR_ROUNDS + 1)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(rows)


@register(
    "mmr_diversified_topk",
    oracle=_mmr_oracle(),
    doc="maximal-marginal-relevance diversified retrieval: greedily pick "
    "5 vectors maximizing lambda*relevance - (1-lambda)*redundancy "
    "(lambda = 0.7, scaled x10 so the objective is the exact integer "
    "7*rel - 3*maxsim) against a seeded literal query vector — the "
    "re-ranking step that keeps a retrieved context window from being "
    "5 copies of the same passage, completing the retrieval family "
    "(knn/ann rank by relevance alone; rrf fuses rankers; THIS trades "
    "relevance against redundancy). Vectors micro-freeze so every "
    "dot product is an exact BIGINT and the greedy argmax sequence is "
    "deterministic in both engines; redundancy is a running max "
    "maintained kcenter-style (each round ONE corpus scan vs the "
    "driver-held selected vectors + TakeOrdered(1) — k scans at "
    "100 TB, no pairwise blowup). Oracle is the identical greedy "
    "unrolled as a materialized CTE chain.",
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    def dot(v, lit):
        return F.aggregate(
            F.zip_with(v, lit, lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    q = F.array(*[F.lit(x).cast("bigint") for x in _MMR_Q])
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * 1000000.0 + 0.5).cast("bigint"),
        ).alias("v"),
    )
    rel = e.select("vec_id", "v", dot(F.col("v"), q).alias("rel")).localCheckpoint(
        eager=True
    )  # relevance dots computed once; k rounds re-scan this
    first = rel.orderBy(F.desc("rel"), "vec_id").head()
    rows = [(1, int(first.vec_id), int(first.rel), 0, 7 * int(first.rel))]
    c = F.array(*[F.lit(int(x)).cast("bigint") for x in first.v])
    df = rel.where(F.col("vec_id") != int(first.vec_id)).select(
        "vec_id", "v", "rel", dot(F.col("v"), c).alias("smax")
    )
    for r in range(2, _MMR_ROUNDS + 1):
        top = df.orderBy(F.expr("7 * rel - 3 * smax").desc(), "vec_id").head()
        rows.append(
            (r, int(top.vec_id), int(top.rel), int(top.smax),
             7 * int(top.rel) - 3 * int(top.smax))
        )
        if r < _MMR_ROUNDS:
            c = F.array(*[F.lit(int(x)).cast("bigint") for x in top.v])
            df = df.where(F.col("vec_id") != int(top.vec_id)).select(
                "vec_id",
                "v",
                "rel",
                F.greatest(F.col("smax"), dot(F.col("v"), c)).alias("smax"),
            )
    return local_rows(
        spark,
        rows,
        "sel_round bigint, vec_id bigint, rel_dot bigint, "
        "maxsim_dot bigint, mmr_score bigint",
    )


@register(
    "power_sample_size_design",
    oracle="""
    WITH p AS (
      SELECT CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS DOUBLE) / count(*) / 2 AS p1,
             count(DISTINCT user_id)::BIGINT AS n_users
      FROM events
    ),
    mde AS (SELECT unnest([100, 50, 20, 10]) AS mde_pct),
    d AS (
      SELECT m.mde_pct::BIGINT AS mde_pct, p.n_users, p.p1,
             p.p1 * (1 + CAST(m.mde_pct AS DOUBLE) / 100) AS p2
      FROM p, mde m
    )
    SELECT mde_pct, n_users,
           CAST(floor(p1 * 1000000 + 0.5) AS BIGINT) AS baseline_ppm,
           CAST(floor(p2 * 1000000 + 0.5) AS BIGINT) AS target_ppm,
           CAST(ceil((CAST(1.959963984540054 AS DOUBLE)
                 + CAST(0.8416212335729143 AS DOUBLE))
               * (CAST(1.959963984540054 AS DOUBLE)
                 + CAST(0.8416212335729143 AS DOUBLE))
               * (p1 * (1 - p1) + p2 * (1 - p2))
               / ((p2 - p1) * (p2 - p1))) AS BIGINT) AS n_per_arm,
           (CAST(ceil((CAST(1.959963984540054 AS DOUBLE)
                 + CAST(0.8416212335729143 AS DOUBLE))
               * (CAST(1.959963984540054 AS DOUBLE)
                 + CAST(0.8416212335729143 AS DOUBLE))
               * (p1 * (1 - p1) + p2 * (1 - p2))
               / ((p2 - p1) * (p2 - p1))) AS BIGINT) * 2 <= n_users)
             AS feasible_with_current_users
    FROM d
    """,
    doc="experiment power / sample-size design: for relative MDEs of "
    "+100/+50/+20/+10 percent on a x"
    "the required n per arm for 80% power at two-sided alpha = 5%: "
    "n = (z_0.975 + z_0.80)^2 (p1 q1 + p2 q2) / (p2 - p1)^2, with the "
    "z quantiles as full-precision shared literals (the A&S-constant "
    "recipe) so both engines replay identical doubles, ppm-frozen "
    "rates and a feasibility flag against the observed user count. The "
    "DESIGN-TIME member of the experimentation family: conversion_ztest "
    "and cuped_variance_reduction analyze a finished experiment; this "
    "says whether it was ever adequately powered. Scale: one aggregate, "
    "4-row literal grid.",
)
def power_sample_size_design(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    p = ev.agg(
        F.expr(
            "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
            " AS DOUBLE) / count(*) / 2"
        ).alias("p1"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )
    mde = p.sparkSession.createDataFrame([(100,), (50,), (20,), (10,)], "mde_pct int")
    d = p.crossJoin(F.broadcast(mde)).select(
        F.col("mde_pct").cast("bigint").alias("mde_pct"),
        "n_users",
        "p1",
        F.expr("p1 * (1 + CAST(mde_pct AS DOUBLE) / 100)").alias("p2"),
    )
    n_expr = (
        "CAST(ceil((CAST(1.959963984540054 AS DOUBLE)"
        "      + CAST(0.8416212335729143 AS DOUBLE))"
        "    * (CAST(1.959963984540054 AS DOUBLE)"
        "      + CAST(0.8416212335729143 AS DOUBLE))"
        "    * (p1 * (1 - p1) + p2 * (1 - p2))"
        "    / ((p2 - p1) * (p2 - p1))) AS BIGINT)"
    )
    return d.select(
        "mde_pct",
        "n_users",
        F.expr("CAST(floor(p1 * 1000000 + 0.5) AS BIGINT)").alias("baseline_ppm"),
        F.expr("CAST(floor(p2 * 1000000 + 0.5) AS BIGINT)").alias("target_ppm"),
        F.expr(n_expr).alias("n_per_arm"),
        F.expr(f"{n_expr} * 2 <= n_users").alias("feasible_with_current_users"),
    )


@register(
    "poisson_rate_ratio_test",
    oracle="""
    WITH u AS (
      SELECT user_id,
             date_diff('day', min(ts::DATE), max(ts::DATE)) + 1 AS exposure_days,
             sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT
               AS errors,
             (user_id % 2 = 0) AS cohort_a
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT sum(CASE WHEN cohort_a THEN errors ELSE 0 END)::BIGINT AS x_a,
             sum(CASE WHEN cohort_a THEN exposure_days ELSE 0 END)::BIGINT AS t_a,
             sum(CASE WHEN NOT cohort_a THEN errors ELSE 0 END)::BIGINT AS x_b,
             sum(CASE WHEN NOT cohort_a THEN exposure_days ELSE 0 END)::BIGINT AS t_b
      FROM u
    )
    SELECT x_a, t_a, x_b, t_b,
           ((1000000 * x_a) // t_a)::BIGINT AS rate_a_ppm,
           ((1000000 * x_b) // t_b)::BIGINT AS rate_b_ppm,
           CAST(floor((CAST(x_a AS DOUBLE) * t_b) / (CAST(x_b AS DOUBLE) * t_a)
             * 1000 + 0.5) AS BIGINT) AS rate_ratio_milli,
           CAST(floor((ln(CAST(x_a AS DOUBLE) * t_b)
               - ln(CAST(x_b AS DOUBLE) * t_a))
             / sqrt(CAST(1 AS DOUBLE) / x_a + CAST(1 AS DOUBLE) / x_b)
             * 1000 + 0.5) AS BIGINT) AS z_milli,
           (abs(CAST(floor((ln(CAST(x_a AS DOUBLE) * t_b)
               - ln(CAST(x_b AS DOUBLE) * t_a))
             / sqrt(CAST(1 AS DOUBLE) / x_a + CAST(1 AS DOUBLE) / x_b)
             * 1000 + 0.5) AS BIGINT)) > 1959) AS rates_differ
    FROM g
    """,
    doc="Poisson rate-ratio test on per-user error rates: cohort A vs B "
    "(hash split), events per EXPOSURE-DAY rather than per user — the "
    "rate comparison conversion_ztest cannot do (proportions ignore "
    "unequal observation windows). Wald test on the log rate ratio, "
    "ln(x_a t_b) - ln(x_b t_a) over sqrt(1/x_a + 1/x_b), milli-frozen "
    "with the exact |z| > 1.959 comparison; exposure totals, ppm "
    "rates, and the milli rate ratio all exact integers. Scale: one "
    "per-user aggregate + one 1-row moment aggregate.",
)
def poisson_rate_ratio_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        (F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))) + 1).alias(
            "exposure_days"
        ),
        F.sum(F.expr("CASE WHEN event_type = 'error' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("errors"),
        (F.col("user_id") % 2 == 0).alias("cohort_a"),
    )
    g = u.agg(
        F.sum(F.expr("CASE WHEN cohort_a THEN errors ELSE 0 END"))
        .cast("bigint")
        .alias("x_a"),
        F.sum(F.expr("CASE WHEN cohort_a THEN exposure_days ELSE 0 END"))
        .cast("bigint")
        .alias("t_a"),
        F.sum(F.expr("CASE WHEN NOT cohort_a THEN errors ELSE 0 END"))
        .cast("bigint")
        .alias("x_b"),
        F.sum(F.expr("CASE WHEN NOT cohort_a THEN exposure_days ELSE 0 END"))
        .cast("bigint")
        .alias("t_b"),
    )
    zexpr = (
        "CAST(floor((ln(CAST(x_a AS DOUBLE) * t_b)"
        "    - ln(CAST(x_b AS DOUBLE) * t_a))"
        "  / sqrt(CAST(1 AS DOUBLE) / x_a + CAST(1 AS DOUBLE) / x_b)"
        "  * 1000 + 0.5) AS BIGINT)"
    )
    return g.select(
        "x_a",
        "t_a",
        "x_b",
        "t_b",
        F.expr("(1000000 * x_a) div t_a").cast("bigint").alias("rate_a_ppm"),
        F.expr("(1000000 * x_b) div t_b").cast("bigint").alias("rate_b_ppm"),
        F.expr(
            "CAST(floor((CAST(x_a AS DOUBLE) * t_b) / (CAST(x_b AS DOUBLE) * t_a)"
            " * 1000 + 0.5) AS BIGINT)"
        ).alias("rate_ratio_milli"),
        F.expr(zexpr).alias("z_milli"),
        F.expr(f"abs({zexpr}) > 1959").alias("rates_differ"),
    )


@register(
    "effect_size_report",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('purchase', 'click')
    ),
    grid AS (
      SELECT cents,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS ca,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS cb
      FROM v GROUP BY cents
    ),
    cum AS (
      SELECT ca, cb,
             coalesce(sum(cb) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS cb_less,
             coalesce(sum(cb) OVER (ORDER BY cents DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS cb_greater
      FROM grid
    ),
    mw AS (
      SELECT sum(ca * cb_less)::BIGINT AS n_gt,
             sum(ca * cb_greater)::BIGINT AS n_lt
      FROM cum
    ),
    m AS (
      SELECT sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_a,
             sum(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END)::BIGINT AS s_a,
             sum(CASE WHEN event_type = 'purchase' THEN cents * cents ELSE 0 END)::BIGINT AS ss_a,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_b,
             sum(CASE WHEN event_type = 'click' THEN cents ELSE 0 END)::BIGINT AS s_b,
             sum(CASE WHEN event_type = 'click' THEN cents * cents ELSE 0 END)::BIGINT AS ss_b
      FROM v
    ),
    d AS (
      SELECT n_a, n_b,
             (CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)
               / sqrt(((CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * s_a / n_a)
                     + (CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * s_b / n_b))
                    / (n_a + n_b - 2)) AS cohens_d,
             CAST(floor((CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)
               * 1000 + 0.5) AS BIGINT) AS mean_diff_milli
      FROM m
    )
    SELECT d.n_a, d.n_b, d.mean_diff_milli,
           CAST(floor(d.cohens_d * 1000 + 0.5) AS BIGINT) AS cohens_d_milli,
           CAST(floor(d.cohens_d * (1 - CAST(3 AS DOUBLE)
             / (4 * (d.n_a + d.n_b) - 9)) * 1000 + 0.5) AS BIGINT)
             AS hedges_g_milli,
           ((1000 * (mw.n_gt - mw.n_lt)) // (d.n_a * d.n_b))::BIGINT
             AS cliffs_delta_milli,
           CASE WHEN abs(CAST(floor(d.cohens_d * 1000 + 0.5) AS BIGINT)) < 200
                  THEN 'negligible'
                WHEN abs(CAST(floor(d.cohens_d * 1000 + 0.5) AS BIGINT)) < 500
                  THEN 'small'
                WHEN abs(CAST(floor(d.cohens_d * 1000 + 0.5) AS BIGINT)) < 800
                  THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM d, mw
    """,
    doc="effect-size report for purchase-vs-click values: Cohen's d "
    "(pooled-SD standardized mean difference from exact BIGINT "
    "moments), Hedges' g (the small-sample bias correction 1 - "
    "3/(4N-9)), and Cliff's delta (the nonparametric (P(a>b) - "
    "P(a<b)) from EXACT Mann-Whitney concordance counts over the "
    "value grid — pure integers), with the conventional "
    "negligible/small/medium/large banding as exact milli comparisons. "
    "The magnitude companion every significance test in the tier needs: "
    "with n in the tens of thousands, tiny effects reach p < 0.05 — "
    "ab_welch_test says WHETHER, this says HOW MUCH. Scale: one value-"
    "grid aggregate + one grid window + 1-row arithmetic.",
)
def effect_size_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "click")
    )
    v = ev.select("event_type", F.round(F.col("value") * 100).cast("bigint").alias("cents"))
    grid = v.groupBy("cents").agg(
        F.sum(F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("ca"),
        F.sum(F.expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("cb"),
    )
    w_asc = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    w_desc = Window.orderBy(F.desc("cents")).rowsBetween(Window.unboundedPreceding, -1)
    cum = grid.select(
        "ca",
        "cb",
        F.coalesce(F.sum("cb").over(w_asc), F.lit(0)).cast("bigint").alias("cb_less"),
        F.coalesce(F.sum("cb").over(w_desc), F.lit(0))
        .cast("bigint")
        .alias("cb_greater"),
    )
    mw = cum.agg(
        F.sum(F.expr("ca * cb_less")).cast("bigint").alias("n_gt"),
        F.sum(F.expr("ca * cb_greater")).cast("bigint").alias("n_lt"),
    )
    m = v.agg(
        F.sum(F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.expr("CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END"))
        .cast("bigint")
        .alias("s_a"),
        F.sum(F.expr("CASE WHEN event_type = 'purchase' THEN cents * cents ELSE 0 END"))
        .cast("bigint")
        .alias("ss_a"),
        F.sum(F.expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.expr("CASE WHEN event_type = 'click' THEN cents ELSE 0 END"))
        .cast("bigint")
        .alias("s_b"),
        F.sum(F.expr("CASE WHEN event_type = 'click' THEN cents * cents ELSE 0 END"))
        .cast("bigint")
        .alias("ss_b"),
    )
    d = m.select(
        "n_a",
        "n_b",
        F.expr(
            "(CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)"
            " / sqrt(((CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * s_a / n_a)"
            "       + (CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * s_b / n_b))"
            "      / (n_a + n_b - 2))"
        ).alias("cohens_d"),
        F.expr(
            "CAST(floor((CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)"
            " * 1000 + 0.5) AS BIGINT)"
        ).alias("mean_diff_milli"),
    )
    dm = "CAST(floor(cohens_d * 1000 + 0.5) AS BIGINT)"
    return d.crossJoin(F.broadcast(mw)).select(
        "n_a",
        "n_b",
        "mean_diff_milli",
        F.expr(dm).alias("cohens_d_milli"),
        F.expr(
            "CAST(floor(cohens_d * (1 - CAST(3 AS DOUBLE)"
            " / (4 * (n_a + n_b) - 9)) * 1000 + 0.5) AS BIGINT)"
        ).alias("hedges_g_milli"),
        F.expr("(1000 * (n_gt - n_lt)) div (n_a * n_b)")
        .cast("bigint")
        .alias("cliffs_delta_milli"),
        F.expr(
            f"CASE WHEN abs({dm}) < 200 THEN 'negligible'"
            f" WHEN abs({dm}) < 500 THEN 'small'"
            f" WHEN abs({dm}) < 800 THEN 'medium'"
            f" ELSE 'large' END"
        ).alias("magnitude"),
    )


@register(
    "streaming_mg_heavy_hitters",
    oracle="""
    WITH keyed AS (
      SELECT CASE WHEN user_id % 4 < 2
               THEN 'hot_' || CAST(user_id % 2 AS VARCHAR)
               ELSE 'cold_' || CAST(user_id AS VARCHAR) END AS item
      FROM events
    ),
    tot AS (SELECT count(*)::BIGINT AS n FROM keyed),
    exact AS (
      SELECT item, count(*)::BIGINT AS true_count FROM keyed GROUP BY item
    )
    SELECT e.item, e.true_count,
           ((1000000 * e.true_count) // t.n)::BIGINT AS share_ppm,
           TRUE AS in_stream_candidates
    FROM exact e, tot t
    WHERE e.true_count * 17 > t.n
    ORDER BY e.true_count DESC, e.item
    """,
    doc="streaming Misra-Gries frequent-items monitor "
    "(applyInPandasWithState, k=16 counters per shard — "
    "misra_gries_heavy_hitters' streaming sibling): items hash-"
    "partition onto 8 shard keys, each shard folds its micro-batches "
    "into bounded counters with the Agarwal merge rule, and because an "
    "item's WHOLE count lives in one shard's substream the containment "
    "guarantee (true freq > n/(k+1) implies survival) holds for any "
    "batch order — the drained verdict hash-matches the oracle's "
    "literal TRUE. At 100 TB the state store holds 8 x 16 counters "
    "total, regardless of key cardinality.",
)
def streaming_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.streaming import (
        events_stream,
        run_to_memory,
        streaming_mg_heavy_hitters as op,
    )

    item_expr = (
        "CASE WHEN user_id % 4 < 2"
        " THEN 'hot_' || CAST(user_id % 2 AS STRING)"
        " ELSE 'cold_' || CAST(user_id AS STRING) END"
    )
    name = "mre_stream_mg"
    run_to_memory(
        op(events_stream(spark, sf_dir), item_expr), name, output_mode="update"
    )
    # last state per (shard, item): max mg_count across emitted batches
    cand = (
        spark.table(name)
        .groupBy("item")
        .agg(F.max("mg_count").alias("c"))
        .select(F.col("item").alias("cand_item"))
    )
    ev = t(spark, sf_dir, "events")
    keyed = ev.select(F.expr(item_expr).alias("item"))
    tot = keyed.agg(F.count("*").cast("bigint").alias("n"))
    exact = keyed.groupBy("item").agg(F.count("*").cast("bigint").alias("true_count"))
    return (
        exact.crossJoin(F.broadcast(tot))
        .where(F.expr("true_count * 17 > n"))
        .join(F.broadcast(cand), F.col("item") == F.col("cand_item"), "left")
        .select(
            "item",
            "true_count",
            F.expr("(1000000 * true_count) div n").cast("bigint").alias("share_ppm"),
            F.col("cand_item").isNotNull().alias("in_stream_candidates"),
        )
        .orderBy(F.desc("true_count"), F.asc("item"))
    )


@register(
    "bigram_surprisal_scores",
    oracle="""
    WITH tok AS (
      SELECT doc_id, t.w AS w, t.pos AS pos
      FROM documents,
           LATERAL (SELECT unnest(string_split(text, ' ')) AS w,
                           generate_subscripts(string_split(text, ' '), 1) AS pos) t
    ),
    big AS (
      SELECT a.doc_id, a.w AS prev, b.w AS cur
      FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    cb AS (SELECT prev, cur, count(*)::BIGINT AS c FROM big GROUP BY 1, 2),
    cu AS (SELECT prev, sum(c)::BIGINT AS cn FROM cb GROUP BY prev),
    voc AS (SELECT count(DISTINCT w)::BIGINT AS v FROM tok),
    scored AS (
      SELECT g.doc_id,
             count(*)::BIGINT AS n_bigrams,
             sum(CAST(floor(-(ln(CAST(cb.c + 1 AS DOUBLE))
               - ln(CAST(cu.cn + voc.v AS DOUBLE))) * 1000000000 + 0.5)
               AS BIGINT))::BIGINT AS surprisal_sum_nano
      FROM big g
      JOIN cb ON cb.prev = g.prev AND cb.cur = g.cur
      JOIN cu ON cu.prev = g.prev, voc
      GROUP BY g.doc_id
    )
    SELECT doc_id, n_bigrams,
           (surprisal_sum_nano // n_bigrams)::BIGINT AS avg_surprisal_nano,
           row_number() OVER (ORDER BY surprisal_sum_nano // n_bigrams DESC,
                              doc_id)::BIGINT AS rank
    FROM scored
    QUALIFY rank <= 20
    """,
    doc="bigram language-model surprisal scoring: train an add-one-"
    "smoothed bigram LM on the corpus itself (P(w|prev) = (c(prev,w)+1)"
    "/(c(prev)+V)), then score every document by its mean per-bigram "
    "surprisal -ln P — the canonical 'LM quality filter' of training-"
    "data pipelines (CCNet/Gopher-style: high-surprisal documents are "
    "noise/outliers under the corpus's own statistics), upgrading "
    "unigram surprisal with one token of context. Per-bigram terms "
    "freeze to BIGINT nanos before the per-doc sum (ln on exact "
    "integer counts — engine-identical doubles); top-20 most "
    "surprising docs with exact integer ranking. Scale: token explode, "
    "two hash-aggregated count tables, equi-joins on (prev, cur) and "
    "prev — linear scans with map-side partials, no Python.",
)
def bigram_surprisal_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "w")
    ).select("doc_id", "w", (F.col("pos0") + 1).alias("pos"))
    a, b = tok.alias("a"), tok.alias("b")
    big = a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("b.pos") == F.col("a.pos") + 1),
    ).select(F.col("a.doc_id").alias("doc_id"), F.col("a.w").alias("prev"), F.col("b.w").alias("cur"))
    cb = big.groupBy("prev", "cur").agg(F.count("*").cast("bigint").alias("c"))
    cu = cb.groupBy("prev").agg(F.sum("c").cast("bigint").alias("cn"))
    voc = tok.agg(F.countDistinct("w").cast("bigint").alias("v"))
    scored = (
        big.join(cb, ["prev", "cur"])
        .join(cu, "prev")
        .crossJoin(F.broadcast(voc))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum(
                F.expr(
                    "CAST(floor(-(ln(CAST(c + 1 AS DOUBLE))"
                    " - ln(CAST(cn + v AS DOUBLE))) * 1000000000 + 0.5)"
                    " AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("surprisal_sum_nano"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "n_bigrams",
            F.expr("surprisal_sum_nano div n_bigrams")
            .cast("bigint")
            .alias("avg_surprisal_nano"),
            F.row_number()
            .over(
                Window.orderBy(
                    F.expr("surprisal_sum_nano div n_bigrams").desc(), F.asc("doc_id")
                )
            )
            .cast("bigint")
            .alias("rank"),
        )
        .where(F.col("rank") <= 20)
    )


@register(
    "wasserstein_1d_distance",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('purchase', 'click')
    ),
    grid AS (
      SELECT cents,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS ca,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS cb
      FROM v GROUP BY cents
    ),
    tot AS (
      SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb FROM grid
    ),
    cum AS (
      SELECT cents,
             sum(ca) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING)::BIGINT
               AS cum_a,
             sum(cb) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING)::BIGINT
               AS cum_b,
             lead(cents) OVER (ORDER BY cents) AS next_cents
      FROM grid
    ),
    area AS (
      SELECT sum(abs(c.cum_a * t.nb - c.cum_b * t.na)
                 * (c.next_cents - c.cents))::BIGINT AS w_scaled,
             max(t.na)::BIGINT AS na, max(t.nb)::BIGINT AS nb
      FROM cum c, tot t
      WHERE c.next_cents IS NOT NULL
    )
    SELECT na AS n_purchase, nb AS n_click, w_scaled,
           (w_scaled // (na * nb))::BIGINT AS w1_cents,
           ((100 * w_scaled) // (na * nb))::BIGINT AS w1_centicents
    FROM area
    """,
    doc="exact 1-D Wasserstein-1 (earth-mover) distance between the "
    "purchase and click value distributions: W1 = integral |F_a - F_b| "
    "over the value axis, computed as the EXACT INTEGER sum of "
    "|cumA*nB - cumB*nA| * segment-width over the distinct-cents grid "
    "(cross-multiplied CDFs — no floats anywhere until the final "
    "integer division into cents). The exact, unregularized companion "
    "of sinkhorn_distribution_distance (entropic, 50x50-binned) and "
    "the MAGNITUDE twin of ks_two_sample_test (KS = max CDF gap; W1 = "
    "total CDF gap — a distribution can pass KS yet move a lot of "
    "mass). Scale: one value-grid aggregate, one ordered window over "
    "the price-granularity-bounded grid, 1-row output.",
)
def wasserstein_1d_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "click")
    )
    v = ev.select("event_type", F.round(F.col("value") * 100).cast("bigint").alias("cents"))
    grid = v.groupBy("cents").agg(
        F.sum(F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("ca"),
        F.sum(F.expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("cb"),
    )
    tot = grid.agg(
        F.sum("ca").cast("bigint").alias("na"), F.sum("cb").cast("bigint").alias("nb")
    )
    wc = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.select(
        "cents",
        F.sum("ca").over(wc).cast("bigint").alias("cum_a"),
        F.sum("cb").over(wc).cast("bigint").alias("cum_b"),
        F.lead("cents").over(Window.orderBy("cents")).alias("next_cents"),
    )
    area = (
        cum.where(F.col("next_cents").isNotNull())
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.expr("abs(cum_a * nb - cum_b * na) * (next_cents - cents)")
            )
            .cast("bigint")
            .alias("w_scaled"),
            F.max("na").cast("bigint").alias("na"),
            F.max("nb").cast("bigint").alias("nb"),
        )
    )
    return area.select(
        F.col("na").alias("n_purchase"),
        F.col("nb").alias("n_click"),
        "w_scaled",
        F.expr("w_scaled div (na * nb)").cast("bigint").alias("w1_cents"),
        F.expr("(100 * w_scaled) div (na * nb)").cast("bigint").alias("w1_centicents"),
    )


def _jt_pairs_expr(prefix_n: str, prefix_g: str) -> str:
    """Sum over ordered bucket pairs i<j of n_i(v) * (2*above_j(v) + n_j(v))
    — the per-grid-row contribution to 2*J, fixed term order."""
    terms = [
        f"{prefix_n}{i} * (2 * {prefix_g}{j} + {prefix_n}{j})"
        for i in range(5)
        for j in range(i + 1, 5)
    ]
    return " + ".join(terms)


@register(
    "jonckheere_terpstra_trend",
    oracle=f"""
    WITH b AS (
      SELECT least(CAST(round(l_quantity) AS BIGINT) // 10, 4) AS bucket,
             CAST(round(l_extendedprice) AS BIGINT) // 10 AS deka
      FROM lineitem
    ),
    grid AS (
      SELECT deka,
             {', '.join(f"sum(CASE WHEN bucket = {i} THEN 1 ELSE 0 END)::BIGINT AS n{i}" for i in range(5))}
      FROM b GROUP BY deka
    ),
    cum AS (
      SELECT *,
             {', '.join(f"coalesce(sum(n{i}) OVER (ORDER BY deka DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS g{i}" for i in range(5))}
      FROM grid
    ),
    j2 AS (
      SELECT sum({_jt_pairs_expr('n', 'g')})::BIGINT AS j2,
             {', '.join(f"sum(n{i})::BIGINT AS t{i}" for i in range(5))}
      FROM cum
    )
    SELECT j2, (t0 + t1 + t2 + t3 + t4)::BIGINT AS n_rows,
           CAST(floor((CAST(j2 AS DOUBLE) / 2
             - (CAST(t0 + t1 + t2 + t3 + t4 AS DOUBLE)
                  * (t0 + t1 + t2 + t3 + t4)
                - (CAST(t0 AS DOUBLE) * t0 + CAST(t1 AS DOUBLE) * t1
                   + CAST(t2 AS DOUBLE) * t2 + CAST(t3 AS DOUBLE) * t3
                   + CAST(t4 AS DOUBLE) * t4)) / 4)
             / sqrt((CAST(t0 + t1 + t2 + t3 + t4 AS DOUBLE)
                  * (t0 + t1 + t2 + t3 + t4)
                  * (2 * (t0 + t1 + t2 + t3 + t4) + 3)
                - (CAST(t0 AS DOUBLE) * t0 * (2 * t0 + 3)
                   + CAST(t1 AS DOUBLE) * t1 * (2 * t1 + 3)
                   + CAST(t2 AS DOUBLE) * t2 * (2 * t2 + 3)
                   + CAST(t3 AS DOUBLE) * t3 * (2 * t3 + 3)
                   + CAST(t4 AS DOUBLE) * t4 * (2 * t4 + 3))) / 72)
             * 1000 + 0.5) AS BIGINT) AS z_milli,
           (CAST(floor((CAST(j2 AS DOUBLE) / 2
             - (CAST(t0 + t1 + t2 + t3 + t4 AS DOUBLE)
                  * (t0 + t1 + t2 + t3 + t4)
                - (CAST(t0 AS DOUBLE) * t0 + CAST(t1 AS DOUBLE) * t1
                   + CAST(t2 AS DOUBLE) * t2 + CAST(t3 AS DOUBLE) * t3
                   + CAST(t4 AS DOUBLE) * t4)) / 4)
             / sqrt((CAST(t0 + t1 + t2 + t3 + t4 AS DOUBLE)
                  * (t0 + t1 + t2 + t3 + t4)
                  * (2 * (t0 + t1 + t2 + t3 + t4) + 3)
                - (CAST(t0 AS DOUBLE) * t0 * (2 * t0 + 3)
                   + CAST(t1 AS DOUBLE) * t1 * (2 * t1 + 3)
                   + CAST(t2 AS DOUBLE) * t2 * (2 * t2 + 3)
                   + CAST(t3 AS DOUBLE) * t3 * (2 * t3 + 3)
                   + CAST(t4 AS DOUBLE) * t4 * (2 * t4 + 3))) / 72)
             * 1000 + 0.5) AS BIGINT) > 1644) AS increasing_trend
    FROM j2
    """,
    doc="Jonckheere-Terpstra ordered-alternative test: do line prices "
    "rise stochastically with the quantity bucket? J = sum of pairwise "
    "Mann-Whitney U over ordered bucket pairs, kept in exact 2U "
    "half-units (tie-split via the strictly-above cumulative over the "
    "deka-dollar value grid — all BIGINT), with the standard no-tie "
    "normal approximation for z (identical-double replay; ties thin at "
    "deka-dollar granularity, documented). The continuous-outcome "
    "sibling of cochran_armitage_trend (binary outcome) and the "
    "ordered upgrade of kruskal_wallis_test (which wastes the bucket "
    "ordering); one-sided at z > 1.645. Scale: one hash aggregate to "
    "the value grid, one descending window over that grid, 1-row "
    "arithmetic.",
)
def jonckheere_terpstra_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    b = li.select(
        F.expr("least(CAST(round(l_quantity) AS BIGINT) div 10, 4)").alias("bucket"),
        F.expr("CAST(round(l_extendedprice) AS BIGINT) div 10").alias("deka"),
    )
    grid = b.groupBy("deka").agg(
        *[
            F.sum(F.expr(f"CASE WHEN bucket = {i} THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias(f"n{i}")
            for i in range(5)
        ]
    )
    wd = Window.orderBy(F.desc("deka")).rowsBetween(Window.unboundedPreceding, -1)
    cum = grid.select(
        "*",
        *[
            F.coalesce(F.sum(f"n{i}").over(wd), F.lit(0))
            .cast("bigint")
            .alias(f"g{i}")
            for i in range(5)
        ],
    )
    j2 = cum.agg(
        F.sum(F.expr(_jt_pairs_expr("n", "g"))).cast("bigint").alias("j2"),
        *[F.sum(f"n{i}").cast("bigint").alias(f"t{i}") for i in range(5)],
    )
    zexpr = (
        "CAST(floor((CAST(j2 AS DOUBLE) / 2"
        " - (CAST(t0 + t1 + t2 + t3 + t4 AS DOUBLE)"
        "      * (t0 + t1 + t2 + t3 + t4)"
        "    - (CAST(t0 AS DOUBLE) * t0 + CAST(t1 AS DOUBLE) * t1"
        "       + CAST(t2 AS DOUBLE) * t2 + CAST(t3 AS DOUBLE) * t3"
        "       + CAST(t4 AS DOUBLE) * t4)) / 4)"
        " / sqrt((CAST(t0 + t1 + t2 + t3 + t4 AS DOUBLE)"
        "      * (t0 + t1 + t2 + t3 + t4)"
        "      * (2 * (t0 + t1 + t2 + t3 + t4) + 3)"
        "    - (CAST(t0 AS DOUBLE) * t0 * (2 * t0 + 3)"
        "       + CAST(t1 AS DOUBLE) * t1 * (2 * t1 + 3)"
        "       + CAST(t2 AS DOUBLE) * t2 * (2 * t2 + 3)"
        "       + CAST(t3 AS DOUBLE) * t3 * (2 * t3 + 3)"
        "       + CAST(t4 AS DOUBLE) * t4 * (2 * t4 + 3))) / 72)"
        " * 1000 + 0.5) AS BIGINT)"
    )
    return j2.select(
        "j2",
        F.expr("t0 + t1 + t2 + t3 + t4").cast("bigint").alias("n_rows"),
        F.expr(zexpr).alias("z_milli"),
        F.expr(f"{zexpr} > 1644").alias("increasing_trend"),
    )


@register(
    "tail_dependence_daily",
    oracle="""
    WITH d AS (
      SELECT o_orderdate::DATE AS day,
             count(*)::BIGINT AS n_orders,
             sum(CAST(round(o_totalprice) AS BIGINT))::BIGINT AS dollars
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT day, n_orders, dollars,
             row_number() OVER (ORDER BY n_orders, day)::BIGINT AS rk_n,
             row_number() OVER (ORDER BY dollars, day)::BIGINT AS rk_d,
             count(*) OVER ()::BIGINT AS n
      FROM d
    ),
    x AS (
      SELECT n,
             sum(CASE WHEN 20 * rk_n > 19 * n THEN 1 ELSE 0 END)::BIGINT
               AS n_hi_orders,
             sum(CASE WHEN 20 * rk_d > 19 * n THEN 1 ELSE 0 END)::BIGINT
               AS n_hi_dollars,
             sum(CASE WHEN 20 * rk_n > 19 * n AND 20 * rk_d > 19 * n
                 THEN 1 ELSE 0 END)::BIGINT AS n_joint_hi,
             sum(CASE WHEN 20 * rk_n <= n AND 20 * rk_d <= n
                 THEN 1 ELSE 0 END)::BIGINT AS n_joint_lo,
             sum(CASE WHEN 20 * rk_n <= n THEN 1 ELSE 0 END)::BIGINT
               AS n_lo_orders
      FROM r GROUP BY n
    )
    SELECT n AS n_days, n_hi_orders, n_joint_hi, n_joint_lo,
           ((1000 * n_joint_hi) // n_hi_orders)::BIGINT AS lambda_upper_milli,
           ((1000 * n_joint_lo) // n_lo_orders)::BIGINT AS lambda_lower_milli,
           (20 * n_joint_hi > n_hi_orders) AS upper_tails_dependent
    FROM x
    """,
    doc="empirical tail-dependence coefficients between daily order "
    "COUNT and daily revenue: lambda_U = P(revenue in top 5% | count "
    "in top 5%) and lambda_L for the bottom 5% — the copula-level "
    "question 'do extremes co-occur' that spearman_rank_corr (a "
    "whole-distribution average) cannot answer; two series can be "
    "strongly rank-correlated yet tail-independent, and it is the "
    "joint tail that breaks capacity planning. Quantile membership by "
    "exact integer rank comparison (20*rk > 19*n), coefficients as "
    "exact integer milli ratios; dependence flag = joint exceedance "
    "beats the independence baseline (5%) in exact integers. Scale: "
    "one daily aggregate, two rank windows over the calendar-bounded "
    "grid.",
)
def tail_dependence_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    d = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice")).cast("bigint")).cast("bigint").alias("dollars"),
    )
    r = d.select(
        "n_orders",
        "dollars",
        F.row_number().over(Window.orderBy("n_orders", "day")).cast("bigint").alias("rk_n"),
        F.row_number().over(Window.orderBy("dollars", "day")).cast("bigint").alias("rk_d"),
        F.count("*").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    x = r.groupBy("n").agg(
        F.sum(F.expr("CASE WHEN 20 * rk_n > 19 * n THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_hi_orders"),
        F.sum(F.expr("CASE WHEN 20 * rk_d > 19 * n THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_hi_dollars"),
        F.sum(
            F.expr("CASE WHEN 20 * rk_n > 19 * n AND 20 * rk_d > 19 * n THEN 1 ELSE 0 END")
        )
        .cast("bigint")
        .alias("n_joint_hi"),
        F.sum(F.expr("CASE WHEN 20 * rk_n <= n AND 20 * rk_d <= n THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_joint_lo"),
        F.sum(F.expr("CASE WHEN 20 * rk_n <= n THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_lo_orders"),
    )
    return x.select(
        F.col("n").alias("n_days"),
        "n_hi_orders",
        "n_joint_hi",
        "n_joint_lo",
        F.expr("(1000 * n_joint_hi) div n_hi_orders")
        .cast("bigint")
        .alias("lambda_upper_milli"),
        F.expr("(1000 * n_joint_lo) div n_lo_orders")
        .cast("bigint")
        .alias("lambda_lower_milli"),
        F.expr("20 * n_joint_hi > n_hi_orders").alias("upper_tails_dependent"),
    )


@register(
    "hurst_rs_exponent",
    oracle="""
    WITH d AS (
      SELECT o_orderdate::DATE AS day,
             sum(CAST(round(o_totalprice / 1000) AS BIGINT))::BIGINT AS kilo
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT kilo, row_number() OVER (ORDER BY day)::BIGINT AS rn FROM d
    ),
    blk AS (
      SELECT z.size, (s.rn - 1) // z.size AS block, s.kilo, s.rn
      FROM s, (SELECT unnest([16, 32, 64]) AS size) z
    ),
    bstat AS (
      SELECT size, block, count(*)::BIGINT AS nb, sum(kilo)::BIGINT AS sb,
             sum(kilo * kilo)::BIGINT AS qb
      FROM blk GROUP BY size, block
    ),
    cdrow AS (
      SELECT b.size, b.block,
             sum(b.kilo * b.size - t.sb) OVER (PARTITION BY b.size, b.block
                 ORDER BY b.rn ROWS UNBOUNDED PRECEDING) AS cd
      FROM blk b JOIN bstat t ON t.size = b.size AND t.block = b.block
      WHERE t.nb = b.size
    ),
    cd AS (
      SELECT size, block, max(cd)::BIGINT AS cd_max, min(cd)::BIGINT AS cd_min
      FROM cdrow GROUP BY size, block
    ),
    rs AS (
      SELECT c.size, c.block,
             CAST(floor((CAST(c.cd_max - c.cd_min AS DOUBLE)
               / sqrt(CAST(t.nb * t.qb - t.sb * t.sb AS DOUBLE)))
               * 1000000 + 0.5) AS BIGINT) AS rs_micro
      FROM cd c
      JOIN bstat t ON t.size = c.size AND t.block = c.block
      WHERE t.nb * t.qb - t.sb * t.sb > 0
    ),
    per_size AS (
      SELECT size::BIGINT AS size, count(*)::BIGINT AS n_blocks,
             (sum(rs_micro) // count(*))::BIGINT AS mean_rs_micro
      FROM rs GROUP BY size
    ),
    piv AS (
      SELECT max(CASE WHEN size = 16 THEN mean_rs_micro END) AS r16,
             max(CASE WHEN size = 32 THEN mean_rs_micro END) AS r32,
             max(CASE WHEN size = 64 THEN mean_rs_micro END) AS r64
      FROM per_size
    ),
    fit AS (
      -- fixed-order 3-point log-log OLS slope: never a float SUM over rows
      SELECT CAST(floor((3 * (ln(CAST(16 AS DOUBLE)) * ln(CAST(r16 AS DOUBLE) / 1000000)
                 + ln(CAST(32 AS DOUBLE)) * ln(CAST(r32 AS DOUBLE) / 1000000)
                 + ln(CAST(64 AS DOUBLE)) * ln(CAST(r64 AS DOUBLE) / 1000000))
               - (ln(CAST(16 AS DOUBLE)) + ln(CAST(32 AS DOUBLE)) + ln(CAST(64 AS DOUBLE)))
                 * (ln(CAST(r16 AS DOUBLE) / 1000000) + ln(CAST(r32 AS DOUBLE) / 1000000)
                    + ln(CAST(r64 AS DOUBLE) / 1000000)))
             / (3 * (ln(CAST(16 AS DOUBLE)) * ln(CAST(16 AS DOUBLE))
                 + ln(CAST(32 AS DOUBLE)) * ln(CAST(32 AS DOUBLE))
                 + ln(CAST(64 AS DOUBLE)) * ln(CAST(64 AS DOUBLE)))
               - (ln(CAST(16 AS DOUBLE)) + ln(CAST(32 AS DOUBLE)) + ln(CAST(64 AS DOUBLE)))
                 * (ln(CAST(16 AS DOUBLE)) + ln(CAST(32 AS DOUBLE)) + ln(CAST(64 AS DOUBLE))))
             * 1000 + 0.5) AS BIGINT) AS h_milli
      FROM piv
    )
    SELECT p.size, p.n_blocks, p.mean_rs_micro, f.h_milli,
           CASE WHEN f.h_milli > 600 THEN 'trending'
                WHEN f.h_milli < 400 THEN 'mean_reverting'
                ELSE 'random_walk_like' END AS regime
    FROM per_size p, fit f
    """,
    doc="Hurst exponent by rescaled-range (R/S) analysis of daily "
    "revenue: blocks of 16/32/64 days, per-block range of cumulative "
    "deviations over the std (computed as EXACT integers via the "
    "size-scaled trick cumdev_j = sum(x_i*size - block_sum) and "
    "R/S = (max-min)/sqrt(n*q - s^2), micro-frozen per block before "
    "the per-size mean), then H = the log-log OLS slope over the three "
    "sizes. H > 0.5 = long-memory trending, < 0.5 = mean-reverting — "
    "the long-range-dependence diagnostic the short-lag tools "
    "(ljung_box_test, durbin_watson, ACF) structurally miss. The "
    "3-point slope is a FIXED-ORDER pivoted expression (never a float "
    "SUM over rows) on integer-frozen per-size means. Scale: one "
    "daily aggregate, per-block windows partitioned by (size, block) "
    "— bounded block width, no global window over raw rows.",
)
def hurst_rs_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    d = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") / 1000).cast("bigint"))
        .cast("bigint")
        .alias("kilo")
    )
    s = d.select("kilo", F.row_number().over(Window.orderBy("day")).cast("bigint").alias("rn"))
    sizes = s.sparkSession.createDataFrame([(16,), (32,), (64,)], "size int")
    blk = s.crossJoin(F.broadcast(sizes)).select(
        "size", F.expr("(rn - 1) div size").alias("block"), "kilo", "rn"
    )
    bstat = blk.groupBy("size", "block").agg(
        F.count("*").cast("bigint").alias("nb"),
        F.sum("kilo").cast("bigint").alias("sb"),
        F.sum(F.expr("kilo * kilo")).cast("bigint").alias("qb"),
    )
    j = blk.join(bstat, ["size", "block"]).where(F.expr("nb = size"))
    wcum = (
        Window.partitionBy("size", "block")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cdrow = j.select(
        "size",
        "block",
        F.sum(F.expr("kilo * size - sb")).over(wcum).alias("cd"),
    )
    cd = cdrow.groupBy("size", "block").agg(
        F.max("cd").cast("bigint").alias("cd_max"),
        F.min("cd").cast("bigint").alias("cd_min"),
    )
    rs = (
        cd.join(bstat, ["size", "block"])
        .where(F.expr("nb * qb - sb * sb > 0"))
        .select(
            "size",
            F.expr(
                "CAST(floor((CAST(cd_max - cd_min AS DOUBLE)"
                " / sqrt(CAST(nb * qb - sb * sb AS DOUBLE)))"
                " * 1000000 + 0.5) AS BIGINT)"
            ).alias("rs_micro"),
        )
    )
    per_size = rs.groupBy(F.col("size").cast("bigint").alias("size")).agg(
        F.count("*").cast("bigint").alias("n_blocks"),
        F.expr("sum(rs_micro) div count(*)").cast("bigint").alias("mean_rs_micro"),
    )
    piv = per_size.agg(
        F.expr("max(CASE WHEN size = 16 THEN mean_rs_micro END)").alias("r16"),
        F.expr("max(CASE WHEN size = 32 THEN mean_rs_micro END)").alias("r32"),
        F.expr("max(CASE WHEN size = 64 THEN mean_rs_micro END)").alias("r64"),
    )
    # fixed-order 3-point log-log OLS slope: never a float SUM over rows
    fit = piv.select(
        F.expr(
            "CAST(floor((3 * (ln(CAST(16 AS DOUBLE)) * ln(CAST(r16 AS DOUBLE) / 1000000)"
            "     + ln(CAST(32 AS DOUBLE)) * ln(CAST(r32 AS DOUBLE) / 1000000)"
            "     + ln(CAST(64 AS DOUBLE)) * ln(CAST(r64 AS DOUBLE) / 1000000))"
            "   - (ln(CAST(16 AS DOUBLE)) + ln(CAST(32 AS DOUBLE)) + ln(CAST(64 AS DOUBLE)))"
            "     * (ln(CAST(r16 AS DOUBLE) / 1000000) + ln(CAST(r32 AS DOUBLE) / 1000000)"
            "        + ln(CAST(r64 AS DOUBLE) / 1000000)))"
            " / (3 * (ln(CAST(16 AS DOUBLE)) * ln(CAST(16 AS DOUBLE))"
            "     + ln(CAST(32 AS DOUBLE)) * ln(CAST(32 AS DOUBLE))"
            "     + ln(CAST(64 AS DOUBLE)) * ln(CAST(64 AS DOUBLE)))"
            "   - (ln(CAST(16 AS DOUBLE)) + ln(CAST(32 AS DOUBLE)) + ln(CAST(64 AS DOUBLE)))"
            "     * (ln(CAST(16 AS DOUBLE)) + ln(CAST(32 AS DOUBLE)) + ln(CAST(64 AS DOUBLE))))"
            " * 1000 + 0.5) AS BIGINT)"
        ).alias("h_milli")
    )
    return per_size.crossJoin(F.broadcast(fit)).select(
        "size",
        "n_blocks",
        "mean_rs_micro",
        "h_milli",
        F.expr(
            "CASE WHEN h_milli > 600 THEN 'trending'"
            " WHEN h_milli < 400 THEN 'mean_reverting'"
            " ELSE 'random_walk_like' END"
        ).alias("regime"),
    )


def _pacf_r_sql(k: int) -> str:
    """One lag-k autocorrelation from exact BIGINT cross-moments,
    nano-frozen (the ljung_box recipe)."""
    return f"""
    j{k} AS (
      SELECT sum(a.cents * b.cents)::BIGINT AS sab,
             sum(a.cents)::BIGINT AS sa, sum(b.cents)::BIGINT AS sb,
             count(*)::BIGINT AS c
      FROM s a JOIN s b ON b.rn = a.rn + {k}
    ),
    r{k} AS (
      SELECT CAST(floor(1e9 * ((CAST(sab AS DOUBLE) - m.mu * sa - m.mu * sb
        + c * m.mu * m.mu) / m.ss) + 0.5) AS BIGINT) AS rn{k}
      FROM j{k}, m
    )"""


@register(
    "pacf_durbin_levinson",
    oracle=f"""
    WITH d AS (
      SELECT ts::DATE AS day,
             sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    s AS (
      SELECT cents, row_number() OVER (ORDER BY day)::BIGINT AS rn FROM d
    ),
    m AS (
      SELECT count(*)::BIGINT AS n,
             CAST(sum(cents) AS DOUBLE) / count(*) AS mu,
             CAST(sum(cents * cents) AS DOUBLE)
               - CAST(sum(cents) AS DOUBLE) * sum(cents) / count(*) AS ss
      FROM s
    ),
    {_pacf_r_sql(1).lstrip()},
    {_pacf_r_sql(2).lstrip()},
    {_pacf_r_sql(3).lstrip()},
    p AS (
      SELECT m.n,
             rn1 / 1e9 AS r1, rn2 / 1e9 AS r2, rn3 / 1e9 AS r3
      FROM r1, r2, r3, m
    ),
    dl AS (
      SELECT n, r1 AS p1,
             (r2 - r1 * r1) / (1 - r1 * r1) AS p2,
             (r3 - (r1 - (r2 - r1 * r1) / (1 - r1 * r1) * r1) * r2
                 - (r2 - r1 * r1) / (1 - r1 * r1) * r1)
             / (1 - (r1 - (r2 - r1 * r1) / (1 - r1 * r1) * r1) * r1
                 - (r2 - r1 * r1) / (1 - r1 * r1) * r2) AS p3
      FROM p
    )
    SELECT k.lag::BIGINT AS lag, n AS n_days,
           CASE k.lag WHEN 1 THEN CAST(floor(p1 * 1e9 + 0.5) AS BIGINT)
                      WHEN 2 THEN CAST(floor(p2 * 1e9 + 0.5) AS BIGINT)
                      ELSE CAST(floor(p3 * 1e9 + 0.5) AS BIGINT)
           END AS pacf_nano,
           (abs(CASE k.lag WHEN 1 THEN CAST(floor(p1 * 1e9 + 0.5) AS BIGINT)
                      WHEN 2 THEN CAST(floor(p2 * 1e9 + 0.5) AS BIGINT)
                      ELSE CAST(floor(p3 * 1e9 + 0.5) AS BIGINT) END)
             * CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000 + 0.5) AS BIGINT)
             > 2000000000000) AS beyond_band
    FROM dl, (SELECT unnest([1, 2, 3]) AS lag) k
    """,
    doc="partial autocorrelation function at lags 1-3 via the explicit "
    "Durbin-Levinson recursion on nano-frozen autocorrelations (phi11 = "
    "r1, phi22 = (r2-r1^2)/(1-r1^2), phi33 from the level-2 "
    "coefficients) — the AR-order selection tool: ACF (ljung_box_test's "
    "r columns) says WHETHER correlation exists at a lag, PACF says "
    "whether it is DIRECT or just propagated through shorter lags, and "
    "its cutoff picks p for an AR(p) model. The significance band "
    "|phi| > 2/sqrt(n) is an exact integer cross-multiplication "
    "(|pacf_nano| * sqrt(n)_milli > 2e12). Autocorrelations come from "
    "exact BIGINT cross-moments (the ljung_box recipe); everything "
    "after is 1-row fixed-order double replay. Scale: one daily "
    "aggregate + three grid-bounded lag joins.",
)
def pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("cents")
    )
    s = d.select(
        "cents", F.row_number().over(Window.orderBy("day")).cast("bigint").alias("rn")
    ).localCheckpoint(eager=True)
    m = s.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr("CAST(sum(cents) AS DOUBLE) / count(*)").alias("mu"),
        F.expr(
            "CAST(sum(cents * cents) AS DOUBLE)"
            " - CAST(sum(cents) AS DOUBLE) * sum(cents) / count(*)"
        ).alias("ss"),
    )
    a, b = s.alias("a"), s.alias("b")
    out = m
    for k in (1, 2, 3):
        j = a.join(b, F.col("b.rn") == F.col("a.rn") + k).agg(
            F.sum(F.expr("a.cents * b.cents")).cast("bigint").alias("sab"),
            F.sum(F.col("a.cents")).cast("bigint").alias("sa"),
            F.sum(F.col("b.cents")).cast("bigint").alias("sb"),
            F.count("*").cast("bigint").alias("c"),
        )
        rk = j.crossJoin(F.broadcast(m)).select(
            F.expr(
                "CAST(floor(1e9 * ((CAST(sab AS DOUBLE) - mu * sa - mu * sb"
                " + c * mu * mu) / ss) + 0.5) AS BIGINT)"
            ).alias(f"rn{k}")
        )
        out = out.crossJoin(F.broadcast(rk))
    p = out.select(
        "n",
        F.expr("rn1 / 1e9").alias("r1"),
        F.expr("rn2 / 1e9").alias("r2"),
        F.expr("rn3 / 1e9").alias("r3"),
    )
    dl = p.select(
        "n",
        F.expr("r1").alias("p1"),
        F.expr("(r2 - r1 * r1) / (1 - r1 * r1)").alias("p2"),
        F.expr(
            "(r3 - (r1 - (r2 - r1 * r1) / (1 - r1 * r1) * r1) * r2"
            "    - (r2 - r1 * r1) / (1 - r1 * r1) * r1)"
            " / (1 - (r1 - (r2 - r1 * r1) / (1 - r1 * r1) * r1) * r1"
            "    - (r2 - r1 * r1) / (1 - r1 * r1) * r2)"
        ).alias("p3"),
    )
    lags = dl.sparkSession.createDataFrame([(1,), (2,), (3,)], "lag int")
    pac = (
        "CASE lag WHEN 1 THEN CAST(floor(p1 * 1e9 + 0.5) AS BIGINT)"
        " WHEN 2 THEN CAST(floor(p2 * 1e9 + 0.5) AS BIGINT)"
        " ELSE CAST(floor(p3 * 1e9 + 0.5) AS BIGINT) END"
    )
    return dl.crossJoin(F.broadcast(lags)).select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").alias("n_days"),
        F.expr(pac).alias("pacf_nano"),
        F.expr(
            f"abs({pac})"
            " * CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000 + 0.5) AS BIGINT)"
            " > 2000000000000"
        ).alias("beyond_band"),
    )


def _granger_f(y: str, x: str) -> str:
    """F statistic for '{x} Granger-causes {y}' with one lag: unrestricted
    y_t ~ ylag + xlag vs restricted y_t ~ ylag, SSEs via the exact Cramer
    closed forms from the shared moment columns (fixed formula text)."""
    # centered moments (doubles from exact BIGINT sums)
    syy = f"(CAST(s_{y}{y} AS DOUBLE) - CAST(s_{y} AS DOUBLE) * s_{y} / c)"
    s11 = f"(CAST(s_{y}l{y}l AS DOUBLE) - CAST(s_{y}l AS DOUBLE) * s_{y}l / c)"
    s22 = f"(CAST(s_{x}l{x}l AS DOUBLE) - CAST(s_{x}l AS DOUBLE) * s_{x}l / c)"
    # the lag-lag cross moment is symmetric; the aggregate stores it once
    s12 = f"(CAST(s_ylxl AS DOUBLE) - CAST(s_{y}l AS DOUBLE) * s_{x}l / c)"
    sy1 = f"(CAST(s_{y}_{y}l AS DOUBLE) - CAST(s_{y} AS DOUBLE) * s_{y}l / c)"
    sy2 = f"(CAST(s_{y}_{x}l AS DOUBLE) - CAST(s_{y} AS DOUBLE) * s_{x}l / c)"
    sse_r = f"({syy} - {sy1} * {sy1} / {s11})"
    sse_u = (
        f"({syy} - ({sy1} * {s22} - {sy2} * {s12}) / ({s11} * {s22} - {s12} * {s12}) * {sy1}"
        f" - ({sy2} * {s11} - {sy1} * {s12}) / ({s11} * {s22} - {s12} * {s12}) * {sy2})"
    )
    return (
        f"CAST(floor(({sse_r} - {sse_u}) / ({sse_u} / (c - 3)) * 1000 + 0.5)"
        f" AS BIGINT)"
    )


@register(
    "granger_causality_daily",
    oracle=f"""
    WITH d AS (
      SELECT o_orderdate::DATE AS day, count(*)::BIGINT AS n,
             sum(CAST(round(o_totalprice / 1000) AS BIGINT))::BIGINT AS k
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT n AS x, k AS y, row_number() OVER (ORDER BY day)::BIGINT AS rn
      FROM d
    ),
    lagd AS (
      SELECT b.x AS x, b.y AS y, a.x AS xl, a.y AS yl
      FROM s a JOIN s b ON b.rn = a.rn + 1
    ),
    m AS (
      SELECT count(*)::BIGINT AS c,
             sum(y)::BIGINT AS s_y, sum(x)::BIGINT AS s_x,
             sum(yl)::BIGINT AS s_yl, sum(xl)::BIGINT AS s_xl,
             sum(y * y)::BIGINT AS s_yy, sum(x * x)::BIGINT AS s_xx,
             sum(yl * yl)::BIGINT AS s_ylyl, sum(xl * xl)::BIGINT AS s_xlxl,
             sum(yl * xl)::BIGINT AS s_ylxl,
             sum(y * yl)::BIGINT AS s_y_yl, sum(y * xl)::BIGINT AS s_y_xl,
             sum(x * xl)::BIGINT AS s_x_xl, sum(x * yl)::BIGINT AS s_x_yl
      FROM lagd
    )
    SELECT c + 1 AS n_days,
           {_granger_f('y', 'x')} AS f_count_causes_revenue_milli,
           {_granger_f('x', 'y')} AS f_revenue_causes_count_milli,
           ({_granger_f('y', 'x')} > 3841) AS count_causes_revenue,
           ({_granger_f('x', 'y')} > 3841) AS revenue_causes_count
    FROM m
    """,
    doc="Granger causality between daily order count and daily revenue "
    "(kilo-dollars), one lag each way: does yesterday's count improve "
    "today's revenue prediction beyond revenue's own lag (and vice "
    "versa)? F = (SSE_restricted - SSE_unrestricted)/(SSE_u/(n-3)) "
    "with both SSEs in exact Cramer closed form from ONE BIGINT "
    "moment aggregate over the lag-joined series — no residual "
    "materialization, identical-double replay, milli-frozen against "
    "the exact F(1, inf) 5% cut. The temporal-precedence upgrade of "
    "cross_correlation_lags (correlation at a lag is symmetric "
    "evidence; Granger's F is directional). Scale: one daily "
    "aggregate, one grid-bounded lag join, 1-row arithmetic.",
)
def granger_causality_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    d = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.round(F.col("o_totalprice") / 1000).cast("bigint"))
        .cast("bigint")
        .alias("k"),
    )
    s = d.select(
        F.col("n").alias("x"),
        F.col("k").alias("y"),
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("rn"),
    ).localCheckpoint(eager=True)
    a, b = s.alias("a"), s.alias("b")
    lagd = a.join(b, F.col("b.rn") == F.col("a.rn") + 1).select(
        F.col("b.x").alias("x"),
        F.col("b.y").alias("y"),
        F.col("a.x").alias("xl"),
        F.col("a.y").alias("yl"),
    )
    m = lagd.agg(
        F.count("*").cast("bigint").alias("c"),
        F.sum("y").cast("bigint").alias("s_y"),
        F.sum("x").cast("bigint").alias("s_x"),
        F.sum("yl").cast("bigint").alias("s_yl"),
        F.sum("xl").cast("bigint").alias("s_xl"),
        F.sum(F.expr("y * y")).cast("bigint").alias("s_yy"),
        F.sum(F.expr("x * x")).cast("bigint").alias("s_xx"),
        F.sum(F.expr("yl * yl")).cast("bigint").alias("s_ylyl"),
        F.sum(F.expr("xl * xl")).cast("bigint").alias("s_xlxl"),
        F.sum(F.expr("yl * xl")).cast("bigint").alias("s_ylxl"),
        F.sum(F.expr("y * yl")).cast("bigint").alias("s_y_yl"),
        F.sum(F.expr("y * xl")).cast("bigint").alias("s_y_xl"),
        F.sum(F.expr("x * xl")).cast("bigint").alias("s_x_xl"),
        F.sum(F.expr("x * yl")).cast("bigint").alias("s_x_yl"),
    )
    f_xy = _granger_f("y", "x")
    f_yx = _granger_f("x", "y")
    return m.select(
        F.expr("c + 1").alias("n_days"),
        F.expr(f_xy).alias("f_count_causes_revenue_milli"),
        F.expr(f_yx).alias("f_revenue_causes_count_milli"),
        F.expr(f"{f_xy} > 3841").alias("count_causes_revenue"),
        F.expr(f"{f_yx} > 3841").alias("revenue_causes_count"),
    )


@register(
    "aipw_doubly_robust_ate",
    oracle="""
    WITH s AS (
      SELECT (CAST(l_quantity AS BIGINT) - 1) // 10 AS stratum,
             CAST(l_quantity AS BIGINT) AS q,
             CASE WHEN l_discount > 0 THEN 1 ELSE 0 END AS t,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    fit AS (
      SELECT
        (CAST(sum(t * q * y) AS DOUBLE) - CAST(sum(t * q) AS DOUBLE) * sum(t * y) / sum(t))
          / (CAST(sum(t * q * q) AS DOUBLE) - CAST(sum(t * q) AS DOUBLE) * sum(t * q) / sum(t)) AS b1,
        (CAST(sum(t * y) AS DOUBLE)
          - (CAST(sum(t * q * y) AS DOUBLE) - CAST(sum(t * q) AS DOUBLE) * sum(t * y) / sum(t))
            / (CAST(sum(t * q * q) AS DOUBLE) - CAST(sum(t * q) AS DOUBLE) * sum(t * q) / sum(t))
            * sum(t * q)) / sum(t) AS a1,
        (CAST(sum((1 - t) * q * y) AS DOUBLE) - CAST(sum((1 - t) * q) AS DOUBLE) * sum((1 - t) * y) / sum(1 - t))
          / (CAST(sum((1 - t) * q * q) AS DOUBLE) - CAST(sum((1 - t) * q) AS DOUBLE) * sum((1 - t) * q) / sum(1 - t)) AS b0,
        (CAST(sum((1 - t) * y) AS DOUBLE)
          - (CAST(sum((1 - t) * q * y) AS DOUBLE) - CAST(sum((1 - t) * q) AS DOUBLE) * sum((1 - t) * y) / sum(1 - t))
            / (CAST(sum((1 - t) * q * q) AS DOUBLE) - CAST(sum((1 - t) * q) AS DOUBLE) * sum((1 - t) * q) / sum(1 - t))
            * sum((1 - t) * q)) / sum(1 - t) AS a0
      FROM s
    ),
    e AS (
      SELECT stratum, count(*)::BIGINT AS n_s, sum(t)::BIGINT AS t_s,
             sum(1 - t)::BIGINT AS c_s
      FROM s GROUP BY stratum
    ),
    terms AS (
      SELECT sum(CAST(floor(((f.a1 + f.b1 * s.q) - (f.a0 + f.b0 * s.q)
               + s.t * (s.y - (f.a1 + f.b1 * s.q))
                 * CAST(e.n_s AS DOUBLE) / e.t_s
               - (1 - s.t) * (s.y - (f.a0 + f.b0 * s.q))
                 * CAST(e.n_s AS DOUBLE) / e.c_s)
             * 1000000 + 0.5) AS BIGINT))::BIGINT AS sum_micro,
             count(*)::BIGINT AS n
      FROM s JOIN e USING (stratum), fit f
    )
    SELECT n AS n_total, (sum_micro // n)::BIGINT AS ate_aipw_ppm
    FROM terms
    """,
    doc="AIPW (augmented inverse-propensity-weighted) doubly-robust ATE: "
    "linear outcome models y ~ quantity fit separately on treated and "
    "control (closed-form Cramer from one moment aggregate), stratum "
    "propensity e(s) = treated share, combined as m1 - m0 + "
    "t(y-m1)/e - (1-t)(y-m0)/(1-e) — consistent if EITHER the outcome "
    "model OR the propensity model is right, the property neither "
    "ipw_ate_estimators member has alone (and the deliberate model "
    "MISMATCH here — global linear outcome vs stratum propensity — "
    "keeps the augmentation non-degenerate; with stratum-mean outcome "
    "models AIPW collapses to the stratified estimator exactly). "
    "Per-row terms freeze to micro before the single sum. Scale: one "
    "moment aggregate, one 5-row broadcast, one frozen scan.",
)
def aipw_doubly_robust_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    s = li.select(
        F.expr("(CAST(l_quantity AS BIGINT) - 1) div 10").alias("stratum"),
        F.expr("CAST(l_quantity AS BIGINT)").alias("q"),
        F.expr("CASE WHEN l_discount > 0 THEN 1 ELSE 0 END").alias("t"),
        F.expr("CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END").alias("y"),
    )
    slope = (
        "(CAST(sum({w} * q * y) AS DOUBLE) - CAST(sum({w} * q) AS DOUBLE)"
        " * sum({w} * y) / sum({w}))"
        " / (CAST(sum({w} * q * q) AS DOUBLE) - CAST(sum({w} * q) AS DOUBLE)"
        " * sum({w} * q) / sum({w}))"
    )
    intercept = (
        "(CAST(sum({w} * y) AS DOUBLE) - " + slope + " * sum({w} * q)) / sum({w})"
    )
    fit = s.agg(
        F.expr(slope.format(w="t")).alias("b1"),
        F.expr(intercept.format(w="t")).alias("a1"),
        F.expr(slope.format(w="(1 - t)")).alias("b0"),
        F.expr(intercept.format(w="(1 - t)")).alias("a0"),
    )
    e = s.groupBy("stratum").agg(
        F.count("*").cast("bigint").alias("n_s"),
        F.sum("t").cast("bigint").alias("t_s"),
        F.sum(F.expr("1 - t")).cast("bigint").alias("c_s"),
    )
    terms = (
        s.join(F.broadcast(e), "stratum")
        .crossJoin(F.broadcast(fit))
        .agg(
            F.sum(
                F.expr(
                    "CAST(floor(((a1 + b1 * q) - (a0 + b0 * q)"
                    " + t * (y - (a1 + b1 * q))"
                    "   * CAST(n_s AS DOUBLE) / t_s"
                    " - (1 - t) * (y - (a0 + b0 * q))"
                    "   * CAST(n_s AS DOUBLE) / c_s)"
                    " * 1000000 + 0.5) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("sum_micro"),
            F.count("*").cast("bigint").alias("n"),
        )
    )
    return terms.select(
        F.col("n").alias("n_total"),
        F.expr("sum_micro div n").cast("bigint").alias("ate_aipw_ppm"),
    )


@register(
    "meta_analysis_brand_effects",
    oracle="""
    WITH s AS (
      SELECT p.p_brand AS brand,
             CASE WHEN l.l_discount > 0 THEN 1 ELSE 0 END AS t,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    g AS (
      SELECT brand,
             sum(t)::BIGINT AS n1, sum(t * y)::BIGINT AS y1,
             sum(1 - t)::BIGINT AS n0, sum((1 - t) * y)::BIGINT AS y0
      FROM s GROUP BY brand
      HAVING sum(t) >= 3 AND sum(1 - t) >= 3
    ),
    eff AS (
      SELECT brand, n1, n0,
             ((1000000 * y1) // n1 - (1000000 * y0) // n0)::BIGINT AS d_ppm,
             CAST(floor(1000 / ((CAST(y1 AS DOUBLE) / n1)
                 * (1 - CAST(y1 AS DOUBLE) / n1) / n1
               + (CAST(y0 AS DOUBLE) / n0)
                 * (1 - CAST(y0 AS DOUBLE) / n0) / n0) + 0.5) AS BIGINT)
               AS w_milli
      FROM g
    ),
    pool AS (
      SELECT (sum(w_milli * d_ppm) // sum(w_milli))::BIGINT AS pooled_ppm,
             count(*)::BIGINT AS k
      FROM eff
    ),
    het AS (
      SELECT sum(CAST(floor(CAST(e.w_milli AS DOUBLE) / 1000
               * ((CAST(e.d_ppm - p.pooled_ppm AS DOUBLE)) / 1000000)
               * ((CAST(e.d_ppm - p.pooled_ppm AS DOUBLE)) / 1000000)
               * 1000000 + 0.5) AS BIGINT))::BIGINT AS q_micro,
             max(p.k)::BIGINT AS k, max(p.pooled_ppm)::BIGINT AS pooled_ppm
      FROM eff e, pool p
    )
    SELECT e.brand, e.d_ppm, e.w_milli, h.pooled_ppm, h.q_micro,
           h.k - 1 AS df,
           (CASE WHEN h.q_micro > (h.k - 1) * 1000000
                 THEN ((h.q_micro - (h.k - 1) * 1000000) * 1000000) // h.q_micro
                 ELSE 0 END)::BIGINT AS i2_ppm
    FROM eff e, het h
    """,
    doc="fixed-effect inverse-variance meta-analysis of the per-brand "
    "discount-return effects: each brand with >= 3 units per arm "
    "contributes d = exact ppm rate difference with weight 1/var "
    "(milli-frozen), pooled = weighted mean in exact integers, plus "
    "Cochran's Q heterogeneity (per-brand terms micro-frozen before "
    "the sum) and the I^2 = (Q - df)/Q share as exact integer ppm — "
    "the 'is one pooled number even meaningful' audit. The many-"
    "small-studies member of the causal family: promo_effect_did "
    "estimates ONE effect; this pools 25 brand-level replications and "
    "says how much they disagree (I^2 > 50% = don't pool, look for "
    "moderators — the james_stein_brand_rates shrinkage target). "
    "Scale: one join + one brand-grid aggregate; everything after is "
    "|brands|-bounded.",
)
def meta_analysis_brand_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    s = li.join(F.broadcast(part), F.expr("p_partkey = l_partkey")).select(
        F.col("p_brand").alias("brand"),
        F.expr("CASE WHEN l_discount > 0 THEN 1 ELSE 0 END").alias("t"),
        F.expr("CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END").alias("y"),
    )
    g = (
        s.groupBy("brand")
        .agg(
            F.sum("t").cast("bigint").alias("n1"),
            F.sum(F.expr("t * y")).cast("bigint").alias("y1"),
            F.sum(F.expr("1 - t")).cast("bigint").alias("n0"),
            F.sum(F.expr("(1 - t) * y")).cast("bigint").alias("y0"),
        )
        .where(F.expr("n1 >= 3 AND n0 >= 3"))
    )
    eff = g.select(
        "brand",
        "n1",
        "n0",
        F.expr("(1000000 * y1) div n1 - (1000000 * y0) div n0")
        .cast("bigint")
        .alias("d_ppm"),
        F.expr(
            "CAST(floor(1000 / ((CAST(y1 AS DOUBLE) / n1)"
            "   * (1 - CAST(y1 AS DOUBLE) / n1) / n1"
            " + (CAST(y0 AS DOUBLE) / n0)"
            "   * (1 - CAST(y0 AS DOUBLE) / n0) / n0) + 0.5) AS BIGINT)"
        ).alias("w_milli"),
    ).localCheckpoint(eager=True)  # |brands| grid feeds pool + het + output
    pool = eff.agg(
        F.expr("sum(w_milli * d_ppm) div sum(w_milli)")
        .cast("bigint")
        .alias("pooled_ppm"),
        F.count("*").cast("bigint").alias("k"),
    )
    het = eff.crossJoin(F.broadcast(pool)).agg(
        F.sum(
            F.expr(
                "CAST(floor(CAST(w_milli AS DOUBLE) / 1000"
                " * ((CAST(d_ppm - pooled_ppm AS DOUBLE)) / 1000000)"
                " * ((CAST(d_ppm - pooled_ppm AS DOUBLE)) / 1000000)"
                " * 1000000 + 0.5) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("q_micro"),
        F.max("k").cast("bigint").alias("k"),
        F.max("pooled_ppm").cast("bigint").alias("pooled_ppm"),
    )
    return eff.crossJoin(F.broadcast(het)).select(
        "brand",
        "d_ppm",
        "w_milli",
        "pooled_ppm",
        "q_micro",
        (F.col("k") - 1).alias("df"),
        F.expr(
            "CASE WHEN q_micro > (k - 1) * 1000000"
            " THEN ((q_micro - (k - 1) * 1000000) * 1000000) div q_micro"
            " ELSE 0 END"
        )
        .cast("bigint")
        .alias("i2_ppm"),
    )


_GOPHER_RULES = [
    ("too_few_tokens", "n_tok < 50"),
    ("mean_word_len_out_of_range", "10 * n_alnum < 30 * n_tok OR 10 * n_alnum > 100 * n_tok"),
    ("overlong_word", "max_wlen > 15"),
    ("low_alpha_share", "10 * n_alpha < 6 * n_char"),
    ("high_duplicate_tokens", "10 * n_uniq < 3 * n_tok"),
    ("no_stopwords", "n_stop = 0"),
]


@register(
    "gopher_quality_rules",
    oracle=f"""
    WITH feat AS (
      SELECT source,
             len(string_split(text, ' '))::BIGINT AS n_tok,
             len(list_distinct(string_split(text, ' ')))::BIGINT AS n_uniq,
             length(replace(text, ' ', ''))::BIGINT AS n_alnum,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::BIGINT AS n_alpha,
             length(text)::BIGINT AS n_char,
             list_max(list_transform(string_split(text, ' '),
                      w -> length(w)))::BIGINT AS max_wlen,
             len(list_filter(string_split(text, ' '),
                 w -> w IN ('the', 'and', 'of', 'to', 'a')))::BIGINT AS n_stop
      FROM documents WHERE trim(text) <> ''
    ),
    flags AS (
      SELECT source, r.rule,
             CASE r.rule
               {' '.join(f"WHEN '{name}' THEN CASE WHEN {cond} THEN 1 ELSE 0 END" for name, cond in _GOPHER_RULES)}
             END AS fail
      FROM feat, (SELECT unnest([{', '.join(repr(n) for n, _ in _GOPHER_RULES)}]) AS rule) r
    )
    SELECT source, rule, count(*)::BIGINT AS n_docs,
           sum(fail)::BIGINT AS n_fail,
           ((1000000 * sum(fail)) // count(*))::BIGINT AS fail_ppm
    FROM flags GROUP BY source, rule
    """,
    doc="Gopher-style quality-rule audit matrix, per source x rule: the "
    "canonical pretraining repetition/shape filters (token count >= 50, "
    "mean word length in [3,10], no overlong words, >= 60% alphabetic, "
    "duplicate-token share, stopword presence) evaluated corpus-wide "
    "and grouped so the DIRTIEST SOURCE per rule is visible — the "
    "per-source release dashboard built on top of quality_score's "
    "per-doc features (that query scores documents; this one audits "
    "SOURCES before a mixture is trained on them, the dataset_card's "
    "failure-mode companion). Every rule is exact integer arithmetic "
    "(cross-multiplied ratios, never a float threshold). Scale: one "
    "scan, a 6-row rule-literal explode, one hash aggregate to the "
    "(sources x rules) grid.",
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").where(F.trim("text") != "")
    feat = docs.select(
        "source",
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("n_tok"),
        F.expr("CAST(size(array_distinct(split(text, ' '))) AS BIGINT)").alias("n_uniq"),
        F.expr("CAST(length(replace(text, ' ', '')) AS BIGINT)").alias("n_alnum"),
        F.expr(
            "CAST(length(regexp_replace(text, '[^A-Za-z]', '')) AS BIGINT)"
        ).alias("n_alpha"),
        F.expr("CAST(length(text) AS BIGINT)").alias("n_char"),
        F.expr(
            "CAST(array_max(transform(split(text, ' '), w -> length(w))) AS BIGINT)"
        ).alias("max_wlen"),
        F.expr(
            "CAST(size(filter(split(text, ' '),"
            " w -> w IN ('the', 'and', 'of', 'to', 'a'))) AS BIGINT)"
        ).alias("n_stop"),
    )
    rules = feat.sparkSession.createDataFrame(
        [(n,) for n, _ in _GOPHER_RULES], "rule string"
    )
    case = " ".join(
        f"WHEN '{name}' THEN CASE WHEN {cond} THEN 1 ELSE 0 END"
        for name, cond in _GOPHER_RULES
    )
    flags = feat.crossJoin(F.broadcast(rules)).select(
        "source", "rule", F.expr(f"CASE rule {case} END").alias("fail")
    )
    return flags.groupBy("source", "rule").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("fail").cast("bigint").alias("n_fail"),
        F.expr("(1000000 * sum(fail)) div count(*)").cast("bigint").alias("fail_ppm"),
    )


@register(
    "funnel_order_violations",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, event_type,
             min(date_diff('microsecond', TIMESTAMP '1970-01-01', ts))::BIGINT
               AS first_us
      FROM events WHERE event_type IN ('view', 'click', 'signup', 'purchase')
      GROUP BY 1, 2
    ),
    stages AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'view' THEN first_us END) AS f_view,
             max(CASE WHEN event_type = 'click' THEN first_us END) AS f_click,
             max(CASE WHEN event_type = 'signup' THEN first_us END) AS f_signup,
             max(CASE WHEN event_type = 'purchase' THEN first_us END) AS f_purchase
      FROM first_seen GROUP BY user_id
    ),
    v AS (
      SELECT p.earlier, p.later,
             sum(CASE
               WHEN p.earlier = 'view' AND p.later = 'click'
                 THEN CASE WHEN f_click < f_view THEN 1 ELSE 0 END
               WHEN p.earlier = 'view' AND p.later = 'signup'
                 THEN CASE WHEN f_signup < f_view THEN 1 ELSE 0 END
               WHEN p.earlier = 'view' AND p.later = 'purchase'
                 THEN CASE WHEN f_purchase < f_view THEN 1 ELSE 0 END
               WHEN p.earlier = 'click' AND p.later = 'signup'
                 THEN CASE WHEN f_signup < f_click THEN 1 ELSE 0 END
               WHEN p.earlier = 'click' AND p.later = 'purchase'
                 THEN CASE WHEN f_purchase < f_click THEN 1 ELSE 0 END
               ELSE CASE WHEN f_purchase < f_signup THEN 1 ELSE 0 END
             END)::BIGINT AS n_violations,
             sum(CASE
               WHEN p.earlier = 'view' AND p.later = 'click'
                 THEN CASE WHEN f_click IS NOT NULL AND f_view IS NOT NULL THEN 1 ELSE 0 END
               WHEN p.earlier = 'view' AND p.later = 'signup'
                 THEN CASE WHEN f_signup IS NOT NULL AND f_view IS NOT NULL THEN 1 ELSE 0 END
               WHEN p.earlier = 'view' AND p.later = 'purchase'
                 THEN CASE WHEN f_purchase IS NOT NULL AND f_view IS NOT NULL THEN 1 ELSE 0 END
               WHEN p.earlier = 'click' AND p.later = 'signup'
                 THEN CASE WHEN f_signup IS NOT NULL AND f_click IS NOT NULL THEN 1 ELSE 0 END
               WHEN p.earlier = 'click' AND p.later = 'purchase'
                 THEN CASE WHEN f_purchase IS NOT NULL AND f_click IS NOT NULL THEN 1 ELSE 0 END
               ELSE CASE WHEN f_purchase IS NOT NULL AND f_signup IS NOT NULL THEN 1 ELSE 0 END
             END)::BIGINT AS n_comparable
      FROM stages, (VALUES ('view', 'click'), ('view', 'signup'),
                           ('view', 'purchase'), ('click', 'signup'),
                           ('click', 'purchase'), ('signup', 'purchase'))
                    p(earlier, later)
      GROUP BY p.earlier, p.later
    )
    SELECT earlier, later, n_comparable, n_violations,
           CASE WHEN n_comparable > 0
                THEN (1000000 * n_violations) // n_comparable
                ELSE 0 END::BIGINT AS violation_ppm
    FROM v
    """,
    doc="process-conformance audit against the normative funnel order "
    "view -> click -> signup -> purchase: for each of the 6 stage "
    "pairs, among users who reached BOTH stages, how often does the "
    "later stage's FIRST occurrence precede the earlier stage's "
    "(first-touch inversion)? event_pair_sequence_support MINES what "
    "orders exist; this CHECKS a declared order and counts violations "
    "— the conformance-checking half of process mining, exact epoch-"
    "microsecond comparisons and integer ppm shares over the bounded "
    "6-pair grid. Scale: one per-(user, stage) aggregate, one 6-row "
    "literal explode.",
)
def funnel_order_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "click", "signup", "purchase")
    )
    us = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    first_seen = ev.groupBy("user_id", "event_type").agg(
        F.min(us).cast("bigint").alias("first_us")
    )
    stages = first_seen.groupBy("user_id").agg(
        *[
            F.max(F.when(F.col("event_type") == ty, F.col("first_us"))).alias(f"f_{ty}")
            for ty in ("view", "click", "signup", "purchase")
        ]
    )
    pairs = stages.sparkSession.createDataFrame(
        [
            ("view", "click"),
            ("view", "signup"),
            ("view", "purchase"),
            ("click", "signup"),
            ("click", "purchase"),
            ("signup", "purchase"),
        ],
        "earlier string, later string",
    )
    viol = (
        "CASE"
        " WHEN earlier = 'view' AND later = 'click'"
        "   THEN CASE WHEN f_click < f_view THEN 1 ELSE 0 END"
        " WHEN earlier = 'view' AND later = 'signup'"
        "   THEN CASE WHEN f_signup < f_view THEN 1 ELSE 0 END"
        " WHEN earlier = 'view' AND later = 'purchase'"
        "   THEN CASE WHEN f_purchase < f_view THEN 1 ELSE 0 END"
        " WHEN earlier = 'click' AND later = 'signup'"
        "   THEN CASE WHEN f_signup < f_click THEN 1 ELSE 0 END"
        " WHEN earlier = 'click' AND later = 'purchase'"
        "   THEN CASE WHEN f_purchase < f_click THEN 1 ELSE 0 END"
        " ELSE CASE WHEN f_purchase < f_signup THEN 1 ELSE 0 END END"
    )
    comp = (
        "CASE"
        " WHEN earlier = 'view' AND later = 'click'"
        "   THEN CASE WHEN f_click IS NOT NULL AND f_view IS NOT NULL THEN 1 ELSE 0 END"
        " WHEN earlier = 'view' AND later = 'signup'"
        "   THEN CASE WHEN f_signup IS NOT NULL AND f_view IS NOT NULL THEN 1 ELSE 0 END"
        " WHEN earlier = 'view' AND later = 'purchase'"
        "   THEN CASE WHEN f_purchase IS NOT NULL AND f_view IS NOT NULL THEN 1 ELSE 0 END"
        " WHEN earlier = 'click' AND later = 'signup'"
        "   THEN CASE WHEN f_signup IS NOT NULL AND f_click IS NOT NULL THEN 1 ELSE 0 END"
        " WHEN earlier = 'click' AND later = 'purchase'"
        "   THEN CASE WHEN f_purchase IS NOT NULL AND f_click IS NOT NULL THEN 1 ELSE 0 END"
        " ELSE CASE WHEN f_purchase IS NOT NULL AND f_signup IS NOT NULL THEN 1 ELSE 0 END END"
    )
    v = (
        stages.crossJoin(F.broadcast(pairs))
        .groupBy("earlier", "later")
        .agg(
            F.sum(F.expr(viol)).cast("bigint").alias("n_violations"),
            F.sum(F.expr(comp)).cast("bigint").alias("n_comparable"),
        )
    )
    return v.select(
        "earlier",
        "later",
        "n_comparable",
        "n_violations",
        F.expr(
            "CASE WHEN n_comparable > 0"
            " THEN (1000000 * n_violations) div n_comparable ELSE 0 END"
        )
        .cast("bigint")
        .alias("violation_ppm"),
    )


@register(
    "rbo_ranking_overlap",
    oracle="""
    WITH ra AS (
      SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rka
      FROM documents QUALIFY rka <= 20
    ),
    rb AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY len(list_distinct(string_split(text, ' '))) DESC,
                                doc_id) AS rkb
      FROM documents QUALIFY rkb <= 20
    ),
    shared AS (
      SELECT greatest(ra.rka, rb.rkb)::BIGINT AS joined_at
      FROM ra JOIN rb USING (doc_id)
    ),
    depth AS (
      SELECT d.d::BIGINT AS d,
             (SELECT count(*) FROM shared WHERE joined_at <= d.d)::BIGINT
               AS overlap_d
      FROM (SELECT unnest(range(1, 21)) AS d) d
    ),
    terms AS (
      SELECT sum(CAST(floor((1 - CAST(0.9 AS DOUBLE))
               * pow(CAST(0.9 AS DOUBLE), d - 1)
               * overlap_d / d * 1000000000 + 0.5) AS BIGINT))::BIGINT
               AS rbo_nano,
             max(CASE WHEN d = 20 THEN overlap_d END)::BIGINT AS overlap_at_20
      FROM depth
    )
    SELECT overlap_at_20, rbo_nano,
           CAST(floor(pow(CAST(0.9 AS DOUBLE), 20) * 1000000000 + 0.5)
             AS BIGINT) AS unseen_tail_nano
    FROM terms
    """,
    doc="rank-biased overlap (RBO, p = 0.9, depth 20) between two document "
    "rankings — by length (n_chars) vs by lexical richness (distinct "
    "tokens): RBO = sum (1-p) p^(d-1) |A_d intersect B_d| / d, the "
    "top-weighted similarity for INDEFINITE rankings (Kendall/Spearman "
    "need both lists to rank everything; RBO handles truncated top-k "
    "lists and weights the head, which is what retrieval comparisons "
    "need). Prefix overlaps are exact integers (a shared doc joins the "
    "intersection at depth max(rank_a, rank_b)); per-depth terms freeze "
    "to nano before the 20-term sum; the residual p^20 tail mass ships "
    "alongside so the truncation is explicit. Completes the ranking-"
    "comparison family (ann_ranking_metrics scores ONE ranking against "
    "relevance; this compares TWO rankings to each other). Scale: two "
    "top-k windows + a <= 20-row bounded join and 20-row grid.",
)
def rbo_ranking_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    ra = (
        docs.select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("n_chars"), F.asc("doc_id")))
            .alias("rka"),
        )
        .where(F.col("rka") <= 20)
    )
    rb = (
        docs.select(
            "doc_id",
            F.row_number()
            .over(
                Window.orderBy(
                    F.expr("size(array_distinct(split(text, ' ')))").desc(),
                    F.asc("doc_id"),
                )
            )
            .alias("rkb"),
        )
        .where(F.col("rkb") <= 20)
    )
    shared = ra.join(rb, "doc_id").select(
        F.greatest("rka", "rkb").cast("bigint").alias("joined_at")
    )
    depths = docs.sparkSession.createDataFrame([(d,) for d in range(1, 21)], "d int")
    depth = (
        F.broadcast(depths)
        .crossJoin(F.broadcast(shared))
        .groupBy(F.col("d").cast("bigint").alias("d"))
        .agg(
            F.sum(F.expr("CASE WHEN joined_at <= d THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("overlap_d")
        )
    )
    terms = depth.agg(
        F.sum(
            F.expr(
                "CAST(floor((1 - CAST(0.9 AS DOUBLE))"
                " * pow(CAST(0.9 AS DOUBLE), d - 1)"
                " * overlap_d / d * 1000000000 + 0.5) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("rbo_nano"),
        F.max(F.expr("CASE WHEN d = 20 THEN overlap_d END"))
        .cast("bigint")
        .alias("overlap_at_20"),
    )
    return terms.select(
        "overlap_at_20",
        "rbo_nano",
        F.expr(
            "CAST(floor(pow(CAST(0.9 AS DOUBLE), 20) * 1000000000 + 0.5) AS BIGINT)"
        ).alias("unseen_tail_nano"),
    )


@register(
    "newey_west_trend_se",
    oracle="""
    WITH d AS (
      SELECT o_orderdate::DATE AS day,
             sum(CAST(round(o_totalprice / 1000) AS BIGINT))::BIGINT AS kilo
      FROM orders GROUP BY 1
    ),
    m0 AS (SELECT min(day) AS d0 FROM d),
    s AS (
      SELECT date_diff('day', m0.d0, d.day)::BIGINT AS x, d.kilo AS y
      FROM d, m0
    ),
    mom AS (
      SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
             sum(x * x)::BIGINT AS sxx, sum(x * y)::BIGINT AS sxy,
             sum(y * y)::BIGINT AS syy
      FROM s
    ),
    u AS (
      SELECT s.x, (m.n * s.x - m.sx)::BIGINT AS cx,
             CAST(floor(CAST(s.y AS DOUBLE)
               - (CAST(m.sy AS DOUBLE)
                  - (CAST(m.sxy AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sy / m.n)
                    / (CAST(m.sxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sx / m.n)
                    * m.sx) / m.n
               - (CAST(m.sxy AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sy / m.n)
                 / (CAST(m.sxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sx / m.n)
                 * s.x + 0.5) AS BIGINT) AS e
      FROM s, mom m
    ),
    uu AS (SELECT x, (cx * e) // 1000 AS v FROM u),
    gam AS (
      SELECT
        (SELECT sum(a.v * a.v) FROM uu a)::BIGINT AS g0,
        (SELECT sum(a.v * b.v) FROM uu a JOIN uu b ON b.x = a.x + 1)::BIGINT AS g1,
        (SELECT sum(a.v * b.v) FROM uu a JOIN uu b ON b.x = a.x + 2)::BIGINT AS g2,
        (SELECT sum(a.v * b.v) FROM uu a JOIN uu b ON b.x = a.x + 3)::BIGINT AS g3
    )
    SELECT m.n AS n_days,
           CAST(floor((CAST(m.sxy AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sy / m.n)
             / (CAST(m.sxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sx / m.n)
             * 1000 + 0.5) AS BIGINT) AS slope_milli,
           CAST(floor(sqrt(((CAST(m.syy AS DOUBLE) - CAST(m.sy AS DOUBLE) * m.sy / m.n)
               - (CAST(m.sxy AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sy / m.n)
                 * (CAST(m.sxy AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sy / m.n)
                 / (CAST(m.sxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sx / m.n))
               / (m.n - 2)
               / (CAST(m.sxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sx / m.n))
             * 1000000 + 0.5) AS BIGINT) AS se_ols_micro,
           CAST(floor(sqrt((4 * CAST(g.g0 AS DOUBLE) + 6 * g.g1 + 4 * g.g2 + 2 * g.g3)
               * 1000000 / 4 / (CAST(m.n AS DOUBLE) * m.n)
               / ((CAST(m.sxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sx / m.n)
                  * (CAST(m.sxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sx / m.n)))
             * 1000000 + 0.5) AS BIGINT) AS se_nw_micro
    FROM mom m, gam g
    """,
    doc="Newey-West (HAC, Bartlett L=3) standard error for the daily-"
    "revenue trend slope beside the classical OLS SE: autocovariances "
    "of the score u_t = n(x_t - xbar) * e_t div 1000 are EXACT BIGINTs (frozen, kilo-rescaled for BIGINT headroom; the 1e6 scale is restored inside the one sqrt) ("
    "integer residuals times an integer-scaled regressor, lag-joined), "
    "so the Bartlett combination 4G0 + 6G1 + 4G2 + 2G3 is pure integer "
    "before the one final sqrt. When durbin_watson_trend_residuals "
    "flags autocorrelation, the OLS SE understates uncertainty — the "
    "NW/OLS SE ratio quantifies by how much, which is the number that "
    "decides whether ols_value_trend's slope is actually significant. "
    "Scale: one daily aggregate, one frozen scan, three grid-bounded "
    "lag joins, 1-row arithmetic.",
)
def newey_west_trend_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    d = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") / 1000).cast("bigint"))
        .cast("bigint")
        .alias("kilo")
    )
    m0 = d.agg(F.min("day").alias("d0"))
    s = d.crossJoin(F.broadcast(m0)).select(
        F.datediff(F.col("day"), F.col("d0")).cast("bigint").alias("x"),
        F.col("kilo").alias("y"),
    )
    mom = s.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
        F.sum(F.expr("x * y")).cast("bigint").alias("sxy"),
        F.sum(F.expr("y * y")).cast("bigint").alias("syy"),
    )
    u = s.crossJoin(F.broadcast(mom)).select(
        "x",
        F.expr("CAST(n * x - sx AS BIGINT)").alias("cx"),
        F.expr(
            "CAST(floor(CAST(y AS DOUBLE)"
            " - (CAST(sy AS DOUBLE)"
            "    - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)"
            "      / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)"
            "      * sx) / n"
            " - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)"
            "   / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)"
            "   * x + 0.5) AS BIGINT)"
        ).alias("e"),
    )
    uu = u.select("x", F.expr("(cx * e) div 1000").alias("v")).localCheckpoint(
        eager=True
    )  # calendar-bounded; feeds g0 + three lag joins
    g0 = uu.agg(F.sum(F.expr("v * v")).cast("bigint").alias("g0"))
    a, b = uu.alias("a"), uu.alias("b")
    gs = [g0]
    for lag in (1, 2, 3):
        gs.append(
            a.join(b, F.col("b.x") == F.col("a.x") + lag)
            .agg(F.sum(F.expr("a.v * b.v")).cast("bigint").alias(f"g{lag}"))
        )
    gam = gs[0]
    for gdf in gs[1:]:
        gam = gam.crossJoin(F.broadcast(gdf))
    return mom.crossJoin(F.broadcast(gam)).select(
        F.col("n").alias("n_days"),
        F.expr(
            "CAST(floor((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)"
            " / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)"
            " * 1000 + 0.5) AS BIGINT)"
        ).alias("slope_milli"),
        F.expr(
            "CAST(floor(sqrt(((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)"
            "   - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)"
            "     * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)"
            "     / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n))"
            "   / (n - 2)"
            "   / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n))"
            " * 1000000 + 0.5) AS BIGINT)"
        ).alias("se_ols_micro"),
        F.expr(
            "CAST(floor(sqrt((4 * CAST(g0 AS DOUBLE) + 6 * g1 + 4 * g2 + 2 * g3)"
            "   * 1000000 / 4 / (CAST(n AS DOUBLE) * n)"
            "   / ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)"
            "      * (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)))"
            " * 1000000 + 0.5) AS BIGINT)"
        ).alias("se_nw_micro"),
    )


@register(
    "tost_equivalence_test",
    oracle="""
    WITH u AS (
      SELECT user_id, (user_id % 2 = 0) AS arm_a,
             max(CASE WHEN event_type = 'purchase'
                 AND ts::DATE <= DATE '2024-01-03' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT sum(CASE WHEN arm_a THEN 1 ELSE 0 END)::BIGINT AS n_a,
             sum(CASE WHEN arm_a THEN conv ELSE 0 END)::BIGINT AS x_a,
             sum(CASE WHEN NOT arm_a THEN 1 ELSE 0 END)::BIGINT AS n_b,
             sum(CASE WHEN NOT arm_a THEN conv ELSE 0 END)::BIGINT AS x_b
      FROM u
    ),
    z AS (
      SELECT n_a, x_a, n_b, x_b,
             ((1000000 * x_a) // n_a - (1000000 * x_b) // n_b)::BIGINT AS diff_ppm,
             sqrt((CAST(x_a AS DOUBLE) / n_a) * (1 - CAST(x_a AS DOUBLE) / n_a) / n_a
                + (CAST(x_b AS DOUBLE) / n_b) * (1 - CAST(x_b AS DOUBLE) / n_b) / n_b)
               AS se
      FROM g
    )
    SELECT n_a, n_b, diff_ppm,
           CAST(floor(se * 1000000 + 0.5) AS BIGINT) AS se_ppm,
           CAST(floor(((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
             - CAST(-0.05 AS DOUBLE)) / se * 1000 + 0.5) AS BIGINT) AS z_lower_milli,
           CAST(floor((CAST(0.05 AS DOUBLE)
             - (CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)) / se
             * 1000 + 0.5) AS BIGINT) AS z_upper_milli,
           (CAST(floor(((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
              - CAST(-0.05 AS DOUBLE)) / se * 1000 + 0.5) AS BIGINT) > 1644
            AND
            CAST(floor((CAST(0.05 AS DOUBLE)
              - (CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)) / se
              * 1000 + 0.5) AS BIGINT) > 1644) AS equivalent_within_5pp
    FROM z
    """,
    doc="TOST equivalence test (two one-sided tests, margin +/-5pp) x: both one-sided "
    "z's must clear 1.645 to declare the arms EQUIVALENT — the "
    "question conversion_ztest cannot answer ('not significantly "
    "different' is not 'the same'; absence of evidence vs evidence of "
    "absence). Exact ppm difference, frozen SE and z's, flags as exact "
    "integer comparisons. The hash split is a true null, so at "
    "adequate n the test demonstrably declares equivalence. Scale: one "
    "per-user aggregate + 1-row arithmetic.",
)
def tost_equivalence_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.expr("user_id % 2 = 0").alias("arm_a"),
        F.expr(
            "max(CASE WHEN event_type = 'purchase'"
            " AND to_date(ts) <= DATE '2024-01-03' THEN 1 ELSE 0 END)"
        ).alias("conv"),
    )
    g = u.agg(
        F.sum(F.expr("CASE WHEN arm_a THEN 1 ELSE 0 END")).cast("bigint").alias("n_a"),
        F.sum(F.expr("CASE WHEN arm_a THEN conv ELSE 0 END")).cast("bigint").alias("x_a"),
        F.sum(F.expr("CASE WHEN NOT arm_a THEN 1 ELSE 0 END")).cast("bigint").alias("n_b"),
        F.sum(F.expr("CASE WHEN NOT arm_a THEN conv ELSE 0 END"))
        .cast("bigint")
        .alias("x_b"),
    )
    z = g.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        F.expr("(1000000 * x_a) div n_a - (1000000 * x_b) div n_b")
        .cast("bigint")
        .alias("diff_ppm"),
        F.expr(
            "sqrt((CAST(x_a AS DOUBLE) / n_a) * (1 - CAST(x_a AS DOUBLE) / n_a) / n_a"
            "   + (CAST(x_b AS DOUBLE) / n_b) * (1 - CAST(x_b AS DOUBLE) / n_b) / n_b)"
        ).alias("se"),
    )
    zl = (
        "CAST(floor(((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)"
        " - CAST(-0.05 AS DOUBLE)) / se * 1000 + 0.5) AS BIGINT)"
    )
    zu = (
        "CAST(floor((CAST(0.05 AS DOUBLE)"
        " - (CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)) / se"
        " * 1000 + 0.5) AS BIGINT)"
    )
    return z.select(
        "n_a",
        "n_b",
        "diff_ppm",
        F.expr("CAST(floor(se * 1000000 + 0.5) AS BIGINT)").alias("se_ppm"),
        F.expr(zl).alias("z_lower_milli"),
        F.expr(zu).alias("z_upper_milli"),
        F.expr(f"{zl} > 1644 AND {zu} > 1644").alias("equivalent_within_5pp"),
    )


@register(
    "bland_altman_agreement",
    oracle="""
    WITH pairdiff AS (
      SELECT doc_id,
             (10 * length(text)
              - 100 * len(list_distinct(string_split(text, ' '))))::BIGINT
               AS d
      FROM documents WHERE trim(text) <> ''
    ),
    m AS (
      SELECT count(*)::BIGINT AS n, sum(d)::BIGINT AS s,
             sum(d * d)::BIGINT AS q
      FROM pairdiff
    ),
    lim AS (
      SELECT n, s // n AS bias,
             CAST(floor(CAST(s AS DOUBLE) / n
               - 1.96 * sqrt((CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)
                             / (CAST(n AS DOUBLE) * (n - 1))) + 0.5) AS BIGINT)
               AS lo,
             CAST(floor(CAST(s AS DOUBLE) / n
               + 1.96 * sqrt((CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)
                             / (CAST(n AS DOUBLE) * (n - 1))) + 0.5) AS BIGINT)
               AS hi
      FROM m
    )
    SELECT l.n AS n_docs, l.bias::BIGINT AS bias_units, l.lo AS loa_lower,
           l.hi AS loa_upper,
           (SELECT sum(CASE WHEN p.d < l.lo OR p.d > l.hi THEN 1 ELSE 0 END)
            FROM pairdiff p)::BIGINT AS n_outside,
           ((10000 * (SELECT sum(CASE WHEN p.d < l.lo OR p.d > l.hi
                      THEN 1 ELSE 0 END) FROM pairdiff p)) // l.n)::BIGINT
             AS outside_bp
    FROM lim l
    """,
    doc="Bland-Altman agreement analysis between two document-size "
    "'measurement methods' (character length x10 vs distinct-token "
    "count x100 — deliberately different scales measuring the same "
    "construct): per-doc differences as exact integers, mean bias, "
    "1.96-SD limits of agreement from exact moments, and the share of "
    "docs outside the limits (~5% if differences are normal-ish). The "
    "method-COMPARISON member of the agreement family: cohens_kappa "
    "handles categorical raters, cronbach_alpha handles item scales, "
    "Bland-Altman handles two CONTINUOUS instruments — correlation is "
    "the famously wrong tool here (two methods can correlate at 0.99 "
    "and still disagree by a constant bias). Scale: one scan + 1-row "
    "moments + one flagged rescan.",
)
def bland_altman_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").where(F.trim("text") != "")
    pairdiff = docs.select(
        F.expr(
            "CAST(10 * length(text)"
            " - 100 * size(array_distinct(split(text, ' '))) AS BIGINT)"
        ).alias("d")
    ).localCheckpoint(eager=True)  # feeds moments + the flagged rescan
    m = pairdiff.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("s"),
        F.sum(F.expr("d * d")).cast("bigint").alias("q"),
    )
    sd = (
        "sqrt((CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)"
        " / (CAST(n AS DOUBLE) * (n - 1)))"
    )
    lim = m.select(
        "n",
        F.expr("s div n").alias("bias"),
        F.expr(f"CAST(floor(CAST(s AS DOUBLE) / n - 1.96 * {sd} + 0.5) AS BIGINT)").alias(
            "lo"
        ),
        F.expr(f"CAST(floor(CAST(s AS DOUBLE) / n + 1.96 * {sd} + 0.5) AS BIGINT)").alias(
            "hi"
        ),
    )
    out = pairdiff.crossJoin(F.broadcast(lim)).agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("bias").cast("bigint").alias("bias"),
        F.max("lo").cast("bigint").alias("lo"),
        F.max("hi").cast("bigint").alias("hi"),
        F.sum(F.expr("CASE WHEN d < lo OR d > hi THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_outside"),
    )
    return out.select(
        F.col("n").alias("n_docs"),
        F.col("bias").alias("bias_units"),
        F.col("lo").alias("loa_lower"),
        F.col("hi").alias("loa_upper"),
        "n_outside",
        F.expr("(10000 * n_outside) div n").cast("bigint").alias("outside_bp"),
    )


@register(
    "indirect_standardization_smr",
    oracle="""
    WITH s AS (
      SELECT c.c_nationkey AS nation,
             (CAST(l.l_quantity AS BIGINT) - 1) // 10 AS stratum,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    ref AS (
      SELECT stratum, count(*)::BIGINT AS n_ref, sum(y)::BIGINT AS y_ref
      FROM s GROUP BY stratum
    ),
    nat AS (
      SELECT nation, stratum, count(*)::BIGINT AS n_ns, sum(y)::BIGINT AS y_ns
      FROM s GROUP BY nation, stratum
    ),
    smr AS (
      SELECT n.nation, sum(n.n_ns)::BIGINT AS n_lines,
             sum(n.y_ns)::BIGINT AS observed,
             sum((1000000 * n.n_ns * r.y_ref) // r.n_ref)::BIGINT
               AS expected_micro
      FROM nat n JOIN ref r USING (stratum)
      GROUP BY n.nation
    )
    SELECT nation, n_lines, observed,
           (expected_micro // 1000000)::BIGINT AS expected_returns,
           ((1000000000 * observed) // expected_micro)::BIGINT AS smr_milli,
           ((1000000000 * observed) // expected_micro > 1100) AS elevated
    FROM smr
    """,
    doc="indirectly standardized return ratio (SMR) per customer nation: "
    "expected returns = sum over quantity strata of the nation's "
    "exposure times the CORPUS-WIDE stratum return rate (micro-frozen "
    "exact integers), SMR = observed/expected — the epidemiology-style "
    "mix adjustment that return_rate_by_brand's raw rates lack: a "
    "nation buying mostly large-quantity lines inherits their higher "
    "return rate, and the SMR removes exactly that compositional "
    "effect (the aggregation-level answer to the confounding that "
    "ipw_ate_estimators handles at the unit level). Flag = SMR > 1.1 "
    "in exact integers. Scale: one 3-table join, two grid aggregates "
    "(strata, nation x strata), one broadcast-joined rollup.",
)
def indirect_standardization_smr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    s = (
        li.join(orders, F.expr("o_orderkey = l_orderkey"))
        .join(F.broadcast(cust), F.expr("c_custkey = o_custkey"))
        .select(
            F.col("c_nationkey").alias("nation"),
            F.expr("(CAST(l_quantity AS BIGINT) - 1) div 10").alias("stratum"),
            F.expr("CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END").alias("y"),
        )
        .localCheckpoint(eager=True)  # feeds the reference and nation grids
    )
    ref = s.groupBy("stratum").agg(
        F.count("*").cast("bigint").alias("n_ref"),
        F.sum("y").cast("bigint").alias("y_ref"),
    )
    nat = s.groupBy("nation", "stratum").agg(
        F.count("*").cast("bigint").alias("n_ns"),
        F.sum("y").cast("bigint").alias("y_ns"),
    )
    smr = (
        nat.join(F.broadcast(ref), "stratum")
        .groupBy("nation")
        .agg(
            F.sum("n_ns").cast("bigint").alias("n_lines"),
            F.sum("y_ns").cast("bigint").alias("observed"),
            F.sum(F.expr("(1000000 * n_ns * y_ref) div n_ref"))
            .cast("bigint")
            .alias("expected_micro"),
        )
    )
    return smr.select(
        "nation",
        "n_lines",
        "observed",
        F.expr("expected_micro div 1000000").cast("bigint").alias("expected_returns"),
        F.expr("(1000000000 * observed) div expected_micro")
        .cast("bigint")
        .alias("smr_milli"),
        F.expr("(1000000000 * observed) div expected_micro > 1100").alias("elevated"),
    )


@register(
    "sprt_early_stopping",
    oracle="""
    WITH u AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase'
                 AND ts::DATE <= DATE '2024-01-03' THEN 1 ELSE 0 END) AS conv
      FROM events WHERE user_id < 2000 GROUP BY user_id
    ),
    walk AS (
      SELECT user_id, conv,
             row_number() OVER (ORDER BY user_id)::BIGINT AS rn,
             sum(CASE WHEN conv = 1
                 THEN CAST(floor(ln(CAST(0.35 AS DOUBLE) / CAST(0.25 AS DOUBLE))
                      * 1000000000 + 0.5) AS BIGINT)
                 ELSE CAST(floor(ln(CAST(0.65 AS DOUBLE) / CAST(0.75 AS DOUBLE))
                      * 1000000000 + 0.5) AS BIGINT) END)
               OVER (ORDER BY user_id ROWS UNBOUNDED PRECEDING)::BIGINT AS llr
      FROM u
    ),
    bound AS (
      SELECT CAST(floor(ln(CAST(19 AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT)
               AS b_hi
    ),
    crossing AS (
      SELECT min(CASE WHEN w.llr >= b.b_hi OR w.llr <= -b.b_hi
                 THEN w.rn END)::BIGINT AS n_decide
      FROM walk w, bound b
    )
    SELECT t.n_total, t.n_conv,
           ((1000000 * t.n_conv) // t.n_total)::BIGINT AS rate_ppm,
           c.n_decide,
           coalesce((SELECT llr FROM walk w WHERE w.rn = c.n_decide),
                    t.final_llr)::BIGINT AS llr_at_stop,
           CASE WHEN c.n_decide IS NULL THEN 'continue'
                WHEN (SELECT llr FROM walk w WHERE w.rn = c.n_decide) >= b.b_hi
                  THEN 'accept_h1_rate_is_high'
                ELSE 'accept_h0_rate_is_low' END AS decision
    FROM (SELECT count(*)::BIGINT AS n_total, sum(conv)::BIGINT AS n_conv,
                 max(CASE WHEN rn = (SELECT max(rn) FROM walk) THEN llr END)
                   AS final_llr
          FROM walk) t,
         crossing c, bound b
    """,
    doc="Wald's SPRT sequential early-stopping monitor on early "
    "conversion (H0: p = 0.25 vs H1: p = 0.35, alpha = beta = 0.05): "
    "the log-likelihood-ratio walk takes one of two CONSTANT nano-"
    "frozen steps per user (ln of literal ratios — identical doubles), "
    "so the entire sequential test is an exact BIGINT cumulative sum "
    "with integer threshold crossings at +/-ln(19), and the decision "
    "point (the first user index where the experiment could have "
    "STOPPED) is deterministic. The sequential member of the "
    "experimentation family: power_sample_size_design fixes n in "
    "advance; SPRT shows the expected-sample-size saving of optional "
    "stopping with controlled error rates. Evaluated over the bounded "
    "enrollment prefix (user_id < 2000, documented). Scale: one "
    "per-user aggregate + a SHARDED prefix sum (contiguous user_id "
    "shards cumsum in parallel; offsets from the shard-total grid) — "
    "no single-partition window over the walk at any enrollment size.",
)
def sprt_early_stopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(F.col("user_id") < 2000)
    u = ev.groupBy("user_id").agg(
        F.expr(
            "max(CASE WHEN event_type = 'purchase'"
            " AND to_date(ts) <= DATE '2024-01-03' THEN 1 ELSE 0 END)"
        ).alias("conv")
    )
    step = (
        "CASE WHEN conv = 1"
        " THEN CAST(floor(ln(CAST(0.35 AS DOUBLE) / CAST(0.25 AS DOUBLE))"
        "      * 1000000000 + 0.5) AS BIGINT)"
        " ELSE CAST(floor(ln(CAST(0.65 AS DOUBLE) / CAST(0.75 AS DOUBLE))"
        "      * 1000000000 + 0.5) AS BIGINT) END"
    )
    # distributed prefix sum (operators/rankselect.py::sharded_running):
    # contiguous user_id shards cumsum in parallel, per-shard offsets come
    # from the shard-total grid — no single-partition window ever touches
    # the raw walk rows, bit-identical to a global ORDER BY user_id cumsum.
    from map_reduce_engine_spark.operators.rankselect import sharded_running

    base_walk = u.select("user_id", "conv", F.expr(step).alias("stp"))
    walk = (
        sharded_running(base_walk, "user_id div 256", ["user_id"], ["stp"])
        .select("user_id", "conv", "rn", F.col("cum_stp").alias("llr"))
        .localCheckpoint(eager=True)  # feeds totals + crossing + pick
    )
    b_hi = "CAST(floor(ln(CAST(19 AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT)"
    crossing = walk.agg(
        F.min(
            F.expr(f"CASE WHEN llr >= {b_hi} OR llr <= -{b_hi} THEN rn END")
        )
        .cast("bigint")
        .alias("n_decide")
    )
    tot = walk.agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.sum("conv").cast("bigint").alias("n_conv"),
    )
    # final llr = llr at max rn
    fin = walk.orderBy(F.desc("rn")).limit(1).select(F.col("llr").alias("final_llr"))
    d = walk.select(F.col("rn").alias("drn"), F.col("llr").alias("dllr"))
    out = (
        tot.crossJoin(F.broadcast(crossing))
        .crossJoin(F.broadcast(fin))
        .join(F.broadcast(d), F.expr("drn = n_decide"), "left")
    )
    return out.select(
        "n_total",
        "n_conv",
        F.expr("(1000000 * n_conv) div n_total").cast("bigint").alias("rate_ppm"),
        "n_decide",
        F.coalesce(F.col("dllr"), F.col("final_llr")).cast("bigint").alias("llr_at_stop"),
        F.expr(
            f"CASE WHEN n_decide IS NULL THEN 'continue'"
            f" WHEN dllr >= {b_hi} THEN 'accept_h1_rate_is_high'"
            f" ELSE 'accept_h0_rate_is_low' END"
        ).alias("decision"),
    )


@register(
    "gpd_peaks_over_threshold",
    oracle="""
    WITH v AS (
      SELECT CAST(round(o_totalprice) AS BIGINT) AS dollars FROM orders
    ),
    thr AS (
      SELECT dollars AS u FROM (
        SELECT dollars, row_number() OVER (ORDER BY dollars) AS rk,
               count(*) OVER () AS n
        FROM v
      ) WHERE rk = (19 * n) // 20 + 1
    ),
    exc AS (
      SELECT (v.dollars - t.u)::BIGINT AS e
      FROM v, thr t WHERE v.dollars > t.u
    ),
    m AS (
      SELECT count(*)::BIGINT AS k, sum(e)::BIGINT AS s,
             sum(e * e)::BIGINT AS q
      FROM exc
    ),
    fit AS (
      SELECT k,
             CAST(s AS DOUBLE) / k AS mean,
             (CAST(k AS DOUBLE) * q - CAST(s AS DOUBLE) * s)
               / (CAST(k AS DOUBLE) * (k - 1)) AS var
      FROM m
    )
    SELECT t.u AS threshold_dollars, f.k AS n_exceedances,
           CAST(floor(f.mean * 1000 + 0.5) AS BIGINT) AS mean_excess_milli,
           CAST(floor(0.5 * (1 - f.mean * f.mean / f.var) * 1000000 + 0.5)
             AS BIGINT) AS xi_micro,
           CAST(floor(0.5 * f.mean * (f.mean * f.mean / f.var + 1) * 1000 + 0.5)
             AS BIGINT) AS beta_milli,
           (0.5 * (1 - f.mean * f.mean / f.var) > 0) AS heavy_tailed
    FROM fit f, thr t
    """,
    doc="generalized-Pareto peaks-over-threshold fit (method of moments) "
    "on order-price exceedances above the exact discrete 95th "
    "percentile: xi = (1 - mean^2/var)/2 and beta = mean(mean^2/var "
    "+ 1)/2 from exact BIGINT exceedance moments, with the xi > 0 "
    "heavy-tail verdict as a shared-formula comparison. The OTHER "
    "canonical extreme-value method beside gumbel_return_levels (block "
    "maxima waste data when exceedances are plentiful; POT uses every "
    "tail observation) — together they complete the EVT pair every "
    "tail-risk report runs. Threshold by the pure-integer discrete "
    "percentile pick via value-grid rank-select: cumulative counts "
    "over the distinct-dollars GRID (value-domain-bounded, never a "
    "raw-row sort), one filtered moment aggregate, 1-row arithmetic.",
)
def gpd_peaks_over_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    v = orders.select(F.round(F.col("o_totalprice")).cast("bigint").alias("dollars"))
    # P95 threshold by value-grid rank-select (operators/rankselect.py)
    from map_reduce_engine_spark.operators.rankselect import (
        rank_pick,
        value_grid_cum,
    )

    cumd = value_grid_cum(v, "dollars")
    ntot = v.agg(F.count("*").cast("bigint").alias("n"))
    thr = cumd.crossJoin(F.broadcast(ntot)).agg(
        rank_pick("dollars", "cum", "(19 * n) div 20 + 1").alias("u")
    )
    exc = v.crossJoin(F.broadcast(thr)).where(F.expr("dollars > u")).select(
        (F.col("dollars") - F.col("u")).cast("bigint").alias("e"), "u"
    )
    m = exc.groupBy("u").agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("e").cast("bigint").alias("s"),
        F.sum(F.expr("e * e")).cast("bigint").alias("q"),
    )
    fit = m.select(
        "u",
        "k",
        F.expr("CAST(s AS DOUBLE) / k").alias("mean"),
        F.expr(
            "(CAST(k AS DOUBLE) * q - CAST(s AS DOUBLE) * s)"
            " / (CAST(k AS DOUBLE) * (k - 1))"
        ).alias("var"),
    )
    return fit.select(
        F.col("u").alias("threshold_dollars"),
        F.col("k").alias("n_exceedances"),
        F.expr("CAST(floor(mean * 1000 + 0.5) AS BIGINT)").alias("mean_excess_milli"),
        F.expr(
            "CAST(floor(0.5 * (1 - mean * mean / var) * 1000000 + 0.5) AS BIGINT)"
        ).alias("xi_micro"),
        F.expr(
            "CAST(floor(0.5 * mean * (mean * mean / var + 1) * 1000 + 0.5) AS BIGINT)"
        ).alias("beta_milli"),
        F.expr("0.5 * (1 - mean * mean / var) > 0").alias("heavy_tailed"),
    )


@register(
    "actuarial_life_table",
    oracle="""
    WITH u AS (
      SELECT user_id, min(ts::DATE) AS first_day, max(ts::DATE) AS last_day
      FROM events GROUP BY user_id
    ),
    d AS (
      SELECT date_diff('day', first_day, last_day) // 7 AS interval_w,
             (last_day >= DATE '2024-01-28') AS censored
      FROM u
    ),
    per AS (
      SELECT interval_w::BIGINT AS interval_w, count(*)::BIGINT AS n_ending,
             sum(CASE WHEN censored THEN 1 ELSE 0 END)::BIGINT AS n_censored,
             sum(CASE WHEN censored THEN 0 ELSE 1 END)::BIGINT AS n_churned
      FROM d GROUP BY 1
    ),
    risk AS (
      SELECT interval_w, n_churned, n_censored,
             CAST(sum(n_ending) OVER (ORDER BY interval_w DESC
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_entering
      FROM per
    ),
    q AS (
      SELECT interval_w, n_entering, n_churned, n_censored,
             ((1000000 * 2 * n_churned)
               // (2 * n_entering - n_censored))::BIGINT AS hazard_ppm
      FROM risk
    )
    SELECT interval_w, n_entering, n_churned, n_censored, hazard_ppm,
           CAST(floor(exp(sum(ln(1 - hazard_ppm / CAST(1000000 AS DOUBLE)))
                OVER (ORDER BY interval_w ROWS UNBOUNDED PRECEDING))
             * 1000000 + 0.5) AS BIGINT) AS survival_ppm
    FROM q WHERE hazard_ppm < 1000000
    """,
    doc="actuarial (life-table) survival estimator on weekly intervals: "
    "the classical interval-grouped method with the half-censor "
    "adjustment q_i = d_i / (n_i - c_i/2), computed as the exact "
    "integer ratio 2d/(2n - c) in ppm — the 5th member of the survival "
    "family and the one that handles INTERVAL-grouped durations "
    "(kaplan_meier_retention needs exact event times; registries and "
    "billing systems often only give you the week). Survival is the "
    "running product of (1 - q_i) via an ln-sum window over the "
    "interval-bounded table (identical-double replay on ppm-frozen "
    "hazards; final ppm freeze absorbs the ulp). Scale: one per-user "
    "aggregate + windows over the <= 5-row weekly grid.",
)
def actuarial_life_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day"),
        F.max(F.to_date("ts")).alias("last_day"),
    )
    d = u.select(
        F.expr("CAST(datediff(last_day, first_day) div 7 AS BIGINT)").alias(
            "interval_w"
        ),
        (F.col("last_day") >= F.lit("2024-01-28").cast("date")).alias("censored"),
    )
    per = d.groupBy("interval_w").agg(
        F.count("*").cast("bigint").alias("n_ending"),
        F.sum(F.expr("CASE WHEN censored THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_censored"),
        F.sum(F.expr("CASE WHEN censored THEN 0 ELSE 1 END"))
        .cast("bigint")
        .alias("n_churned"),
    )
    w_desc = Window.orderBy(F.desc("interval_w")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = per.select(
        "interval_w",
        "n_churned",
        "n_censored",
        F.sum("n_ending").over(w_desc).cast("bigint").alias("n_entering"),
    )
    q = risk.select(
        "interval_w",
        "n_entering",
        "n_churned",
        "n_censored",
        F.expr("(1000000 * 2 * n_churned) div (2 * n_entering - n_censored)")
        .cast("bigint")
        .alias("hazard_ppm"),
    )
    w_asc = Window.orderBy("interval_w").rowsBetween(Window.unboundedPreceding, 0)
    return q.where(F.col("hazard_ppm") < 1000000).select(
        "interval_w",
        "n_entering",
        "n_churned",
        "n_censored",
        "hazard_ppm",
        F.expr(
            "CAST(floor(exp(sum(ln(1 - hazard_ppm / CAST(1000000 AS DOUBLE)))"
            " OVER (ORDER BY interval_w ROWS BETWEEN UNBOUNDED PRECEDING"
            " AND CURRENT ROW)) * 1000000 + 0.5) AS BIGINT)"
        ).alias("survival_ppm"),
    )


@register(
    "youden_j_cutpoint",
    oracle="""
    WITH g AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS pos,
             count(*)::BIGINT AS tot
      FROM lineitem GROUP BY 1
    ),
    c AS (
      SELECT q AS thr,
             sum(pos) OVER w::BIGINT AS tp,
             (sum(tot) OVER w - sum(pos) OVER w)::BIGINT AS fp,
             (sum(pos) OVER () - sum(pos) OVER w)::BIGINT AS fn,
             ((sum(tot) OVER () - sum(pos) OVER ())
               - (sum(tot) OVER w - sum(pos) OVER w))::BIGINT AS tn
      FROM g WINDOW w AS (ORDER BY q DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    s AS (
      SELECT thr, tp, fp, fn, tn,
             (1000000 * tp) // (tp + fn) AS sensitivity_ppm,
             (1000000 * tn) // (tn + fp) AS specificity_ppm,
             (1000000 * tp) // (tp + fn)
               + (1000000 * tn) // (tn + fp) - 1000000 AS j_ppm
      FROM c WHERE tp + fn > 0 AND tn + fp > 0
    )
    SELECT thr, tp, fp, fn, tn, sensitivity_ppm, specificity_ppm, j_ppm,
           (j_ppm = max(j_ppm) OVER ()
            AND thr = min(thr) FILTER (WHERE j_ppm = max_j) OVER ()) AS is_best
    FROM (SELECT *, max(j_ppm) OVER () AS max_j FROM s)
    """,
    doc="Youden-J optimal cutpoint search on the quantity score: J = "
    "sensitivity + specificity - 1 at every threshold, ENTIRELY exact "
    "integer arithmetic (both rates are rationals of the running "
    "confusion counts, ppm-frozen before the sum), argmax flagged with "
    "the deterministic min-threshold tiebreak. The prevalence-FREE "
    "operating point beside f1_threshold_search (F1 ignores true "
    "negatives and chases the positive class; J weighs both error "
    "types equally — the two argmaxes genuinely differ whenever "
    "classes are imbalanced) and the scalar summary of the ROC curve "
    "roc_auc_mann_whitney integrates. Scale: one score-grid aggregate "
    "+ ordered windows over that grid.",
)
def youden_j_cutpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    g = li.groupBy(F.expr("CAST(l_quantity AS BIGINT)").alias("q")).agg(
        F.sum(F.expr("CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("pos"),
        F.count("*").cast("bigint").alias("tot"),
    )
    w = Window.orderBy(F.desc("q")).rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    c = g.select(
        F.col("q").alias("thr"),
        F.sum("pos").over(w).cast("bigint").alias("tp"),
        (F.sum("tot").over(w) - F.sum("pos").over(w)).cast("bigint").alias("fp"),
        (F.sum("pos").over(wall) - F.sum("pos").over(w)).cast("bigint").alias("fn"),
        (
            (F.sum("tot").over(wall) - F.sum("pos").over(wall))
            - (F.sum("tot").over(w) - F.sum("pos").over(w))
        )
        .cast("bigint")
        .alias("tn"),
    )
    s = c.where(F.expr("tp + fn > 0 AND tn + fp > 0")).select(
        "thr",
        "tp",
        "fp",
        "fn",
        "tn",
        F.expr("(1000000 * tp) div (tp + fn)").alias("sensitivity_ppm"),
        F.expr("(1000000 * tn) div (tn + fp)").alias("specificity_ppm"),
        F.expr(
            "(1000000 * tp) div (tp + fn) + (1000000 * tn) div (tn + fp) - 1000000"
        ).alias("j_ppm"),
    )
    s2 = s.withColumn("max_j", F.max("j_ppm").over(Window.partitionBy()))
    best_thr = F.min(F.when(F.col("j_ppm") == F.col("max_j"), F.col("thr"))).over(
        Window.partitionBy()
    )
    return s2.select(
        "thr",
        "tp",
        "fp",
        "fn",
        "tn",
        "sensitivity_ppm",
        "specificity_ppm",
        "j_ppm",
        ((F.col("j_ppm") == F.col("max_j")) & (F.col("thr") == best_thr)).alias(
            "is_best"
        ),
    )


def _dunn_oracle() -> str:
    from map_reduce_engine_spark.queries.pipeline import _kmeans1d_cte_parts

    parts = _kmeans1d_cte_parts(5)
    final = """,
    seg AS (
      SELECT a::BIGINT AS cluster_id, min(cents)::BIGINT AS lo,
             max(cents)::BIGINT AS hi, count(*)::BIGINT AS n_orders
      FROM afin GROUP BY a
    ),
    gap AS (
      SELECT *, (lead(lo) OVER (ORDER BY cluster_id) - hi)::BIGINT AS gap_to_next
      FROM seg
    ),
    dunn AS (
      SELECT (1000 * min(gap_to_next))
               // max(hi - lo) AS dunn_milli
      FROM gap
    )
    SELECT g.cluster_id, g.n_orders, g.lo AS min_cents, g.hi AS max_cents,
           (g.hi - g.lo)::BIGINT AS diameter_cents, g.gap_to_next,
           d.dunn_milli::BIGINT AS dunn_milli,
           (d.dunn_milli >= 100) AS well_separated
    FROM gap g, dunn d
    """
    return ",\n".join(parts) + final


@register(
    "dunn_index_segments",
    oracle=_dunn_oracle(),
    doc="Dunn validity index for the 1-D k-means order segmentation: "
    "min inter-cluster gap over max intra-cluster diameter — in 1-D "
    "the clusters are contiguous intervals, so BOTH terms are exact "
    "integers from per-segment min/max (no distance matrix at all) "
    "and the index is a pure integer milli-ratio. Completes the "
    "cluster-validity trio (silhouette_1d_kmeans averages per-point "
    "fit, davies_bouldin averages worst pairs; Dunn is the worst-case "
    "SEPARATION guarantee — the one a downstream stratifier actually "
    "needs). Same frozen Lloyd fit as kmeans_1d_value_segments, so "
    "the three indices grade the identical clustering. Scale: the "
    "kmeans fit's scan + a 3-row segment grid.",
)
def dunn_index_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.queries.pipeline import (
        _kmeans1d_assign_col,
        _kmeans1d_fit,
    )

    base, cents_c = _kmeans1d_fit(spark, sf_dir)
    seg = (
        base.select("cents", _kmeans1d_assign_col(cents_c))
        .groupBy(F.col("a").cast("bigint").alias("cluster_id"))
        .agg(
            F.min("cents").cast("bigint").alias("lo"),
            F.max("cents").cast("bigint").alias("hi"),
            F.count("*").cast("bigint").alias("n_orders"),
        )
    )
    gap = seg.withColumn(
        "gap_to_next",
        (F.lead("lo").over(Window.orderBy("cluster_id")) - F.col("hi")).cast("bigint"),
    ).localCheckpoint(eager=True)  # 3-row grid feeds dunn + output
    dunn = gap.agg(
        F.expr("(1000 * min(gap_to_next)) div max(hi - lo)").alias("dunn_milli")
    )
    return gap.crossJoin(F.broadcast(dunn)).select(
        "cluster_id",
        "n_orders",
        F.col("lo").alias("min_cents"),
        F.col("hi").alias("max_cents"),
        (F.col("hi") - F.col("lo")).cast("bigint").alias("diameter_cents"),
        "gap_to_next",
        F.col("dunn_milli").cast("bigint").alias("dunn_milli"),
        (F.col("dunn_milli") >= 100).alias("well_separated"),
    )


@register(
    "page_trend_test",
    oracle="""
    WITH cell AS (
      SELECT c.c_nationkey AS nation,
             (CAST(l.l_quantity AS BIGINT) - 1) // 10 AS bucket,
             ((1000000 * sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END))
               // count(*))::BIGINT AS rate_ppm
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    full_blocks AS (
      SELECT nation FROM cell GROUP BY nation HAVING count(*) = 5
    ),
    r AS (
      SELECT a.nation, a.bucket,
             (2 * sum(CASE WHEN b.rate_ppm < a.rate_ppm THEN 1 ELSE 0 END)
              + sum(CASE WHEN b.rate_ppm = a.rate_ppm THEN 1 ELSE 0 END)
              + 1)::BIGINT AS r2
      FROM cell a
      JOIN full_blocks fb ON fb.nation = a.nation
      JOIN cell b ON b.nation = a.nation
      GROUP BY a.nation, a.bucket
    ),
    sums AS (
      SELECT bucket, sum(r2)::BIGINT AS r2_sum,
             count(*)::BIGINT AS n FROM r GROUP BY bucket
    ),
    l2 AS (
      SELECT sum((bucket + 1) * r2_sum)::BIGINT AS l2, max(n)::BIGINT AS n
      FROM sums
    )
    SELECT s.bucket::BIGINT AS bucket, s.r2_sum,
           ((500 * s.r2_sum) // s.n)::BIGINT AS mean_rank_milli,
           l.l2,
           CAST(floor((CAST(l.l2 AS DOUBLE) / 2 - l.n * 5 * 36 / CAST(4 AS DOUBLE))
             / sqrt(CAST(l.n AS DOUBLE) * 25 * 6 * 24 / 144) * 1000 + 0.5)
             AS BIGINT) AS z_milli,
           (CAST(floor((CAST(l.l2 AS DOUBLE) / 2 - l.n * 5 * 36 / CAST(4 AS DOUBLE))
             / sqrt(CAST(l.n AS DOUBLE) * 25 * 6 * 24 / 144) * 1000 + 0.5)
             AS BIGINT) > 1644) AS increasing_with_bucket
    FROM sums s, l2 l
    """,
    doc="Page's L trend test: do per-nation return-rate RANKS rise "
    "monotonically across the ordered quantity buckets? Within each "
    "complete nation block the five bucket rates rank via tie-averaged "
    "half-unit ranks (the 5x5 bounded within-block join), L = sum "
    "j * R_j is PURE INTEGER in 2R units, and the normal approximation "
    "z = (L - nk(k+1)^2/4) / sqrt(nk^2(k+1)(k^2-1)/144) is a shared-"
    "formula frozen double (k = 5 literal: 36 = (k+1)^2, 25*6*24 = "
    "k^2(k+1)(k^2-1)). The BLOCKED ordered-alternative test completing "
    "the trio: cochran_armitage pools binary outcomes, jonckheere "
    "pools continuous values, Page RANKS WITHIN BLOCKS so one big "
    "nation cannot drive the trend. Scale: one 3-table join to the "
    "(nations x buckets) grid, bounded within-block join, 5-row "
    "arithmetic.",
)
def page_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    cell = (
        li.join(orders, F.expr("o_orderkey = l_orderkey"))
        .join(F.broadcast(cust), F.expr("c_custkey = o_custkey"))
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.expr("(CAST(l_quantity AS BIGINT) - 1) div 10").alias("bucket"),
        )
        .agg(
            F.expr(
                "(1000000 * sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END))"
                " div count(*)"
            )
            .cast("bigint")
            .alias("rate_ppm")
        )
        .localCheckpoint(eager=True)  # (nations x buckets) grid, joined twice
    )
    full_blocks = (
        cell.groupBy("nation").agg(F.count("*").alias("nb")).where(F.col("nb") == 5)
    ).select("nation")
    a, b = cell.alias("a"), cell.alias("b")
    r = (
        a.join(F.broadcast(full_blocks), "nation")
        .join(b, "nation")
        .groupBy(F.col("nation"), F.col("a.bucket").alias("bucket"))
        .agg(
            F.expr(
                "CAST(2 * sum(CASE WHEN b.rate_ppm < a.rate_ppm THEN 1 ELSE 0 END)"
                " + sum(CASE WHEN b.rate_ppm = a.rate_ppm THEN 1 ELSE 0 END)"
                " + 1 AS BIGINT)"
            ).alias("r2")
        )
    )
    sums = r.groupBy("bucket").agg(
        F.sum("r2").cast("bigint").alias("r2_sum"),
        F.count("*").cast("bigint").alias("n"),
    )
    l2 = sums.agg(
        F.sum(F.expr("(bucket + 1) * r2_sum")).cast("bigint").alias("l2"),
        F.max("n").cast("bigint").alias("nb"),
    )
    z = (
        "CAST(floor((CAST(l2 AS DOUBLE) / 2 - nb * 5 * 36 / CAST(4 AS DOUBLE))"
        " / sqrt(CAST(nb AS DOUBLE) * 25 * 6 * 24 / 144) * 1000 + 0.5)"
        " AS BIGINT)"
    )
    return sums.crossJoin(F.broadcast(l2)).select(
        F.col("bucket").cast("bigint").alias("bucket"),
        "r2_sum",
        F.expr("(500 * r2_sum) div n").cast("bigint").alias("mean_rank_milli"),
        "l2",
        F.expr(z).alias("z_milli"),
        F.expr(f"{z} > 1644").alias("increasing_with_bucket"),
    )


# --------------------------------------------------------------------------
# pass@k (unbiased estimator) — the generation-eval metric
# --------------------------------------------------------------------------

_PASSK_KS = (1, 3, 5)
_PASSK_N_CAP = 200  # BIGINT headroom: 1e6 * n^5 must stay < 2^63


def _passk_expr(k: int, intdiv: str) -> str:
    """1e6-scaled unbiased pass@k: 1 - C(n-c, k)/C(n, k) with the binomial
    ratio unrolled to k exact integer factors (k is a literal, so the
    product needs no product-aggregate; nc < k makes the numerator 0 and
    the estimator exactly 1). ``intdiv`` = 'div' (Spark) or '//' (DuckDB)."""
    numer = " * ".join(f"(nc - {i})" for i in range(k))
    denom = " * ".join(f"(n - {i})" for i in range(k))
    return (
        f"CASE WHEN nc >= {k}"
        f" THEN 1000000 - (1000000 * ({numer})) {intdiv} ({denom})"
        f" ELSE 1000000 END"
    )


def _passk_oracle() -> str:
    ks = ",\n    ".join(
        f"k{k} AS (SELECT {k}::BIGINT AS k, count(*)::BIGINT AS n_tasks,"
        f" CAST(CAST(sum({_passk_expr(k, '//')}) AS BIGINT) // count(*)"
        f" AS BIGINT) AS mean_pass_ppm FROM t2 WHERE n >= {k})"
        for k in _PASSK_KS
    )
    union = " UNION ALL ".join(f"SELECT * FROM k{k}" for k in _PASSK_KS)
    return f"""
    WITH tasks AS (
      SELECT o_custkey, count(*)::BIGINT AS n,
             sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS c
      FROM orders GROUP BY o_custkey
      HAVING count(*) <= {_PASSK_N_CAP}
    ),
    t2 AS (SELECT n, n - c AS nc FROM tasks),
    {ks}
    {union}
    """


@register(
    "pass_at_k_eval",
    oracle=_passk_oracle(),
    doc="pass@k with the unbiased estimator (Chen et al. 2021, 'Evaluating "
    "Large Language Models Trained on Code'): per task, n samples with c "
    "successes give pass@k = 1 - C(n-c,k)/C(n,k) — the numerically right "
    "way to score generate-k-candidates evals (the naive 1-(1-c/n)^k is "
    "biased). Tasks = customers, samples = their orders, success = "
    "fulfilled ('F'); reported as the task-mean in exact ppm for "
    "k in (1, 3, 5). The binomial ratio unrolls to k literal integer "
    "factors so every per-task estimate is EXACT BIGINT arithmetic (tasks "
    "capped at n <= 200 for headroom — the documented log-space fallback "
    "applies beyond). Scale: one hash aggregate to per-task counts, "
    "|ks| 1-row aggregates after; linear at any corpus size.",
)
def pass_at_k_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    tasks = (
        orders.groupBy("o_custkey")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
            .cast("bigint")
            .alias("c"),
        )
        .where(F.col("n") <= _PASSK_N_CAP)
    )
    t2 = tasks.select("n", (F.col("n") - F.col("c")).alias("nc"))
    per_k = [
        t2.where(F.col("n") >= k).agg(
            F.lit(k).cast("bigint").alias("k"),
            F.count("*").cast("bigint").alias("n_tasks"),
            F.expr(
                f"CAST(sum({_passk_expr(k, 'div')}) AS BIGINT) div count(*)"
            )
            .cast("bigint")
            .alias("mean_pass_ppm"),
        )
        for k in _PASSK_KS
    ]
    out = per_k[0]
    for df in per_k[1:]:
        out = out.union(df)
    return out


@register(
    "expected_calibration_error",
    oracle="""
    WITH scored AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    b AS (
      SELECT (q - 1) // 5 AS bin, count(*)::BIGINT AS n,
             sum(q)::BIGINT AS sq, sum(y)::BIGINT AS pos
      FROM scored GROUP BY 1
    ),
    g AS (
      SELECT bin, n,
             CAST((1000000 * sq) // (50 * n) AS BIGINT) AS conf_ppm,
             CAST((1000000 * pos) // n AS BIGINT) AS acc_ppm
      FROM b
    ),
    e AS (
      SELECT CAST(CAST(sum(n * abs(acc_ppm - conf_ppm)) AS BIGINT)
                  // CAST(sum(n) AS BIGINT) AS BIGINT) AS ece_ppm,
             max(abs(acc_ppm - conf_ppm)) AS mce_ppm,
             CAST(sum(n) AS BIGINT) AS n_total
      FROM g
    )
    SELECT g.bin, g.n, g.conf_ppm, g.acc_ppm,
           abs(g.acc_ppm - g.conf_ppm) AS gap_ppm,
           e.ece_ppm, e.mce_ppm, e.n_total
    FROM g CROSS JOIN e
    """,
    doc="expected calibration error of the naive p(return)=quantity/50 "
    "scorer: 10 equal-width confidence bins, ECE = the bin-size-weighted "
    "mean |accuracy - confidence| and MCE = the worst bin, all in exact "
    "BIGINT ppm (conf = q/50 makes per-bin confidence an exact integer "
    "ratio) — THE headline calibration scalar quoted next to accuracy, "
    "complementing calibration_brier's reliability table (same bins, "
    "different summary: Brier mixes calibration with refinement; ECE "
    "isolates calibration). One hash aggregate to the 10-bin grid; "
    "1-row summary broadcast back onto the bins.",
)
def expected_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    scored = li.select(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    b = scored.groupBy(F.expr("(q - 1) div 5").alias("bin")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("sq"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    g = b.select(
        "bin",
        "n",
        F.expr("(1000000 * sq) div (50 * n)").cast("bigint").alias("conf_ppm"),
        F.expr("(1000000 * pos) div n").cast("bigint").alias("acc_ppm"),
    )
    e = g.agg(
        F.expr("sum(n * abs(acc_ppm - conf_ppm)) div sum(n)")
        .cast("bigint")
        .alias("ece_ppm"),
        F.max(F.expr("abs(acc_ppm - conf_ppm)")).alias("mce_ppm"),
        F.sum("n").cast("bigint").alias("n_total"),
    )
    return g.crossJoin(F.broadcast(e)).select(
        "bin",
        "n",
        "conf_ppm",
        "acc_ppm",
        F.expr("abs(acc_ppm - conf_ppm)").alias("gap_ppm"),
        "ece_ppm",
        "mce_ppm",
        "n_total",
    )


@register(
    "hill_tail_index",
    oracle="""
    WITH v AS (
      SELECT CAST(round(o_totalprice) AS BIGINT) AS d
      FROM orders WHERE o_totalprice > 0
    ),
    grid AS (
      SELECT d, count(*)::BIGINT AS cnt,
             CAST(floor(ln(CAST(d AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
               AS ln_micro
      FROM v GROUP BY d
    ),
    cum AS (
      SELECT d, cnt, ln_micro,
             CAST(sum(cnt) OVER (ORDER BY d DESC
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_incl,
             CAST(sum(cnt) OVER (ORDER BY d DESC
               ROWS UNBOUNDED PRECEDING) - cnt AS BIGINT) AS cum_excl
      FROM grid
    ),
    nk AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n,
             greatest(CAST(sum(cnt) AS BIGINT) // 20, 10) AS k
      FROM grid
    ),
    s AS (
      SELECT CAST(sum(CASE WHEN c.cum_incl <= nk.k THEN c.cnt * c.ln_micro
                           WHEN c.cum_excl < nk.k
                             THEN (nk.k - c.cum_excl) * c.ln_micro
                           ELSE 0 END) AS BIGINT) AS s_top,
             max(CASE WHEN c.cum_excl < nk.k + 1 AND c.cum_incl >= nk.k + 1
                      THEN c.ln_micro END) AS ln_ref_micro,
             max(CASE WHEN c.cum_excl < nk.k + 1 AND c.cum_incl >= nk.k + 1
                      THEN c.d END) AS threshold_dollars
      FROM cum c CROSS JOIN nk
    )
    SELECT nk.n, nk.k, s.threshold_dollars,
           CAST((s.s_top - nk.k * s.ln_ref_micro) // nk.k AS BIGINT)
             AS hill_micro,
           CAST(1000000000000 // ((s.s_top - nk.k * s.ln_ref_micro) // nk.k)
             AS BIGINT) AS alpha_micro,
           (1000000000000 // ((s.s_top - nk.k * s.ln_ref_micro) // nk.k))
             < 3000000 AS heavy_tailed
    FROM s CROSS JOIN nk
    """,
    doc="Hill tail-index estimator on order totals: gamma-hat = mean over "
    "the top-k order statistics of ln(x_i / x_(k+1)) with k = max(n/20, "
    "10), alpha = 1/gamma-hat, heavy-tail verdict alpha < 3 — the third "
    "classical EVT tool beside gumbel_return_levels (block maxima) and "
    "gpd_peaks_over_threshold (excess moments): Hill reads the tail "
    "exponent directly from order statistics, no distributional fit. "
    "Engine-exact: ln is applied once per DISTINCT value on the grid and "
    "frozen to BIGINT micro, the top-k sum splits the straddling tied "
    "value by exact rank arithmetic (full grid rows inside the top-k "
    "contribute cnt*ln, the boundary row contributes its remaining "
    "multiplicity), and everything after is integer division. Scale: one "
    "hash aggregate to the value grid, one window over the GRID, 1-row "
    "summary — no raw-row sort at any size.",
)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    v = orders.select(F.round(F.col("o_totalprice")).cast("bigint").alias("d"))
    grid = (
        v.groupBy("d")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .withColumn(
            "ln_micro",
            F.expr("CAST(floor(ln(CAST(d AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"),
        )
    )
    wdesc = Window.orderBy(F.desc("d")).rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.select(
        "d",
        "cnt",
        "ln_micro",
        F.sum("cnt").over(wdesc).cast("bigint").alias("cum_incl"),
        (F.sum("cnt").over(wdesc) - F.col("cnt")).cast("bigint").alias("cum_excl"),
    )
    nk = grid.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.expr("greatest(CAST(sum(cnt) AS BIGINT) div 20, 10)").alias("k"),
    )
    s = cum.crossJoin(F.broadcast(nk)).agg(
        F.sum(
            F.expr(
                "CASE WHEN cum_incl <= k THEN cnt * ln_micro"
                " WHEN cum_excl < k THEN (k - cum_excl) * ln_micro"
                " ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("s_top"),
        F.max(
            F.expr(
                "CASE WHEN cum_excl < k + 1 AND cum_incl >= k + 1"
                " THEN ln_micro END"
            )
        ).alias("ln_ref_micro"),
        F.max(
            F.expr("CASE WHEN cum_excl < k + 1 AND cum_incl >= k + 1 THEN d END")
        ).alias("threshold_dollars"),
    )
    return s.crossJoin(F.broadcast(nk)).select(
        "n",
        "k",
        "threshold_dollars",
        F.expr("CAST((s_top - k * ln_ref_micro) div k AS BIGINT)").alias(
            "hill_micro"
        ),
        F.expr(
            "CAST(1000000000000 div ((s_top - k * ln_ref_micro) div k) AS BIGINT)"
        ).alias("alpha_micro"),
        F.expr(
            "(1000000000000 div ((s_top - k * ln_ref_micro) div k)) < 3000000"
        ).alias("heavy_tailed"),
    )


@register(
    "trimmed_mean_orders",
    oracle="""
    WITH v AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ),
    grid AS (SELECT cents, count(*)::BIGINT AS cnt FROM v GROUP BY cents),
    cum AS (
      SELECT cents, cnt,
             CAST(sum(cnt) OVER (ORDER BY cents
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM grid
    ),
    nk AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n,
             CAST(sum(cnt) AS BIGINT) // 20 AS trim_k
      FROM grid
    ),
    s AS (
      SELECT CAST(sum(greatest(0, least(c.cum, nk.n - nk.trim_k)
                        - greatest(c.cum - c.cnt, nk.trim_k)) * c.cents)
               AS BIGINT) AS kept_sum,
             CAST(sum(c.cnt * c.cents) AS BIGINT) AS full_sum
      FROM cum c CROSS JOIN nk
    )
    SELECT nk.n, nk.trim_k,
           CAST(s.kept_sum // (nk.n - 2 * nk.trim_k) AS BIGINT)
             AS trimmed_mean_cents,
           CAST(s.full_sum // nk.n AS BIGINT) AS raw_mean_cents,
           CAST(s.full_sum // nk.n - s.kept_sum // (nk.n - 2 * nk.trim_k)
             AS BIGINT) AS tail_pull_cents
    FROM s CROSS JOIN nk
    """,
    doc="exact 5%-per-side trimmed mean of order totals beside the raw "
    "mean: ranks (k, n-k] survive, where each grid row contributes the "
    "OVERLAP of its (cum-cnt, cum] rank interval with the kept range — "
    "the same exact tie-splitting arithmetic as hill_tail_index, so the "
    "statistic is bit-identical to sorting raw rows and dropping k from "
    "each end. tail_pull (raw minus trimmed) quantifies how much the "
    "tails move the headline average — the robust-location companion to "
    "winsorized_mean_value (which CLAMPS tails instead of dropping "
    "them). Scale: one hash aggregate to the value grid, one window over "
    "the GRID, 1-row arithmetic; no raw-row sort at any size.",
)
def trimmed_mean_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.rankselect import value_grid_cum

    orders = t(spark, sf_dir, "orders")
    v = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    cum = value_grid_cum(v, "cents")
    nk = v.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr("count(*) div 20").cast("bigint").alias("trim_k"),
    )
    s = cum.crossJoin(F.broadcast(nk)).agg(
        F.sum(
            F.expr(
                "greatest(0, least(cum, n - trim_k)"
                " - greatest(cum - cnt, trim_k)) * cents"
            )
        )
        .cast("bigint")
        .alias("kept_sum"),
        F.sum(F.expr("cnt * cents")).cast("bigint").alias("full_sum"),
    )
    return s.crossJoin(F.broadcast(nk)).select(
        "n",
        "trim_k",
        F.expr("kept_sum div (n - 2 * trim_k)").cast("bigint").alias(
            "trimmed_mean_cents"
        ),
        F.expr("full_sum div n").cast("bigint").alias("raw_mean_cents"),
        F.expr("full_sum div n - kept_sum div (n - 2 * trim_k)")
        .cast("bigint")
        .alias("tail_pull_cents"),
    )
