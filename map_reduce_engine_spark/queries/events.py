"""Event-stream conformance queries over the ``events`` fixture.

The reference is strictly batch (SURVEY.md §2 Part B streaming row: none);
these queries define the engine's event-time surface in batch form —
tumbling/sliding windows, sessionization, JSON extraction — with exact
DuckDB oracles. The same logic runs incrementally through
``streaming/windows.py`` (Structured Streaming with watermarks); batch and
streaming share semantics by construction (Spark's unified model).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from map_reduce_engine_spark.queries.base import register, t


@register(
    "events_json_extract",
    oracle="""
    SELECT event_id, json_extract_string(props, '$.k')::BIGINT AS k
    FROM events
    """,
    doc="JSON scalar extraction from the props column",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )


@register(
    "events_json_schema_agg",
    oracle="""
    SELECT json_extract_string(props, '$.k')::BIGINT % 10 AS k_bucket,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
    GROUP BY k_bucket
    """,
    doc="schema-full JSON parsing (from_json with an explicit schema, not "
    "path extraction) feeding an aggregate — the one-pass shape for "
    "semi-structured columns; at scale the parse cost is paid once per "
    "row inside codegen, never per extracted field",
)
def events_json_schema_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    parsed = ev.select(
        F.from_json("props", "k BIGINT").alias("p"), "value"
    ).where(F.col("p.k").isNotNull())
    return (
        parsed.groupBy((F.col("p.k") % 10).alias("k_bucket"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


@register(
    "events_tumbling_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS sum_value,
           round(avg(value), 4) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="tumbling 1h event-time window aggregate (F.window; streaming-shared semantics)",
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value", "avg_value")
    )


@register(
    "events_sliding_window",
    oracle="""
    WITH g AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS b, event_type, value FROM events
    ), e AS (
      SELECT b AS window_start, event_type, value FROM g
      UNION ALL
      SELECT b - INTERVAL 30 MINUTE AS window_start, event_type, value FROM g
    )
    SELECT window_start, event_type, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM e GROUP BY 1, 2
    """,
    doc="sliding 1h/30min window: each event contributes to two overlapping windows",
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


@register(
    "events_sessionization",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, event_id, ts,
             (sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM sessions
    GROUP BY user_id, session_id
    """,
    doc="gap-based sessionization (30min): lag + cumulative-sum session ids",
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts") - F.lag("ts").over(w) > F.expr("INTERVAL 30 MINUTES")),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "events_user_activity",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           count(DISTINCT event_type) AS n_types,
           round(sum(value), 2) AS total_value,
           min(ts) AS first_seen,
           max(ts) AS last_seen
    FROM events
    GROUP BY user_id
    """,
    doc="per-user activity rollup (grouping-key shuffle agg)",
)
def events_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
    )


@register(
    "streaming_tumbling_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS sum_value,
           round(avg(value), 4) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Structured Streaming tumbling-window agg drained via availableNow "
    "(streaming extension). Oracle = the batch twin's SQL: the stream runs "
    "on naive-as-UTC instants (events_stream) and the output converts back "
    "to NTZ by raw epoch (ntz_of_instant), so a drained bounded stream "
    "hash-matches the batch aggregate on any session timezone",
)
def streaming_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.streaming import (
        events_stream,
        ntz_of_instant,
        run_to_memory,
        tumbling_counts,
    )

    name = "mre_stream_tumbling"
    run_to_memory(tumbling_counts(events_stream(spark, sf_dir)), name, output_mode="complete")
    return spark.table(name).select(
        ntz_of_instant("window_start").alias("window_start"),
        "event_type",
        "n",
        "sum_value",
        "avg_value",
    )


@register(
    "streaming_sliding_window",
    oracle="""
    WITH g AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS b, event_type, value FROM events
    ), e AS (
      SELECT b AS window_start, event_type, value FROM g
      UNION ALL
      SELECT b - INTERVAL 30 MINUTE AS window_start, event_type, value FROM g
    )
    SELECT window_start, event_type, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM e GROUP BY 1, 2
    """,
    doc="Structured Streaming sliding-window agg with watermark (streaming "
    "extension). Oracle = the batch twin's SQL (each event lands in two "
    "overlapping 1h/30min windows); NTZ conversion as in "
    "streaming_tumbling_window",
)
def streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.streaming import (
        events_stream,
        ntz_of_instant,
        run_to_memory,
        sliding_counts,
    )

    name = "mre_stream_sliding"
    run_to_memory(sliding_counts(events_stream(spark, sf_dir)), name, output_mode="complete")
    return spark.table(name).select(
        ntz_of_instant("window_start").alias("window_start"), "event_type", "n", "sum_value"
    )


@register(
    "streaming_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
    doc="Native session windows (30 min gap) over the event stream "
    "(streaming extension). The oracle unrolls Spark's session_window "
    "semantics as lag+cumsum: a NEW session starts when the gap to the "
    "previous event is >= 30 min (session_window merges only while the new "
    "event falls STRICTLY inside start+gap), and session_end is last event "
    "+ gap — Spark's window.end, not max(ts) as in the batch "
    "events_sessionization twin",
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.streaming import (
        events_stream,
        ntz_of_instant,
        run_to_memory,
        session_window_agg,
    )

    name = "mre_stream_session"
    run_to_memory(session_window_agg(events_stream(spark, sf_dir)), name, output_mode="complete")
    return spark.table(name).select(
        ntz_of_instant("session_start").alias("session_start"),
        ntz_of_instant("session_end").alias("session_end"),
        "user_id",
        "n_events",
    )


@register(
    "events_ewma_per_user",
    oracle="""
    WITH seq AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             count(*)    OVER (PARTITION BY user_id) AS n
      FROM events
    )
    SELECT user_id,
           round(sum(value * CASE WHEN rn = 1 THEN power(0.5, n - 1)
                                  ELSE 0.5 * power(0.5, n - rn) END), 6) AS ewma,
           max(n) AS n_events
    FROM seq
    GROUP BY user_id
    """,
    doc="per-user EWMA (alpha=0.5) — an order-dependent recurrence with no "
    "single-statement SQL form, run as the sanctioned grouped-map Python "
    "path (applyInArrow, operators/sequential.py). The oracle recomputes "
    "it closed-form (sum of power-weighted terms); alpha=0.5 keeps every "
    "halving step FP-exact so both formulations agree to rounding",
)
def events_ewma_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.sequential import ewma_per_group

    ev = t(spark, sf_dir, "events")
    out = ewma_per_group(
        ev, group_col="user_id", order_cols=["ts", "event_id"], value_col="value", alpha=0.5
    )
    return out.select("user_id", F.round("ewma", 6).alias("ewma"), "n_events")


@register(
    "streaming_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
    doc="Streaming exact dedup via dropDuplicatesWithinWatermark — bounded "
    "state (keys expire past the watermark), the only dedup shape that "
    "survives an unbounded stream. WHICH row survives per key is "
    "arbitrary, so the conformance output projects to the key columns "
    "(distinct-collapsed in case a multi-batch drain re-emits an expired "
    "key): the deterministic contract is the exact KEY SET",
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.streaming import events_stream, run_to_memory, streaming_dedup

    name = "mre_stream_dedup"
    deduped = streaming_dedup(events_stream(spark, sf_dir), ["user_id", "event_type"])
    run_to_memory(deduped, name, output_mode="append")
    return spark.table(name).select("user_id", "event_type").distinct()


@register(
    "streaming_stream_static_join",
    oracle="""
    WITH dim AS (
      SELECT user_id, round(avg(value), 4) AS user_avg FROM events GROUP BY user_id
    )
    SELECT event_type,
           count(*) AS n,
           round(sum(value - user_avg), 2) AS total_dev
    FROM events JOIN dim USING (user_id)
    GROUP BY event_type
    """,
    doc="Stream-static join: the event stream enriched per micro-batch "
    "against a batch dimension (per-user historical averages); no join "
    "state kept, the 100 TB Kafka⋈parquet-dim shape. Drained bounded "
    "stream == the batch join, so the oracle is the plain SQL twin "
    "(per-row deviations from the 4-dp-rounded dim average, summed and "
    "rounded at 2 dp like every other float aggregate in the registry)",
)
def streaming_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.streaming import events_stream, run_to_memory, stream_static_enrich

    name = "mre_stream_static_join"
    dim = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.round(F.avg("value"), 4).alias("user_avg"))
    )
    enriched = stream_static_enrich(events_stream(spark, sf_dir), dim, "user_id")
    agg = enriched.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("value") - F.col("user_avg")), 2).alias("total_dev"),
    )
    run_to_memory(agg, name, output_mode="complete")
    return spark.table(name)


@register(
    "streaming_stateful_running_total",
    oracle="""
    SELECT user_id, round(sum(value), 2) AS total, count(*) AS n
    FROM events GROUP BY user_id
    """,
    doc="Custom stateful streaming operator: per-user running totals via "
    "applyInPandasWithState. Update mode re-emits a key's latest state "
    "each batch, so the conformance output keeps only each user's FINAL "
    "row (max n per user — n is monotone in batches); a fully drained "
    "stream then equals the batch per-user aggregate, which is the oracle",
)
def streaming_stateful_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.streaming import events_stream, run_to_memory, stateful_running_total

    name = "mre_stream_state"
    run_to_memory(stateful_running_total(events_stream(spark, sf_dir)), name, output_mode="update")
    w = Window.partitionBy("user_id").orderBy(F.desc("n"))
    return (
        spark.table(name)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("user_id", F.round("total", 2).alias("total"), "n")
    )


@register(
    "typed_state_user_stats",
    oracle="""
    SELECT user_id,
           count(*) AS n,
           round(sum(value), 2) AS total,
           max(value) AS max_value
    FROM events GROUP BY user_id
    """,
    doc="the Spark 4 typed-ValueState processor (streaming/windows.py::"
    "_UserStatsProcessor, the transformWithStateInPandas surface) proven "
    "through its batch conformance twin: the SAME processor code — init, "
    "handleInputRows accumulation, final emit — driven by applyInPandas "
    "with an in-memory state handle (user_stats_batch_twin). This gives "
    "the typed-state surface a DuckDB oracle even where the streaming "
    "runtime's protobuf protocol is unavailable; a drained update-mode "
    "stream keeps each key's final row, which equals this batch result",
)
def typed_state_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.io import read_table
    from map_reduce_engine_spark.streaming import user_stats_batch_twin

    return user_stats_batch_twin(read_table(spark, sf_dir, "events"))


@register(
    "streaming_chained_windows",
    oracle="""
    WITH l1 AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS w1, user_id, count(*) AS n1
      FROM events GROUP BY 1, 2
    ),
    l2 AS (
      SELECT time_bucket(INTERVAL 2 HOUR, w1) AS window_start,
             count(*) AS n_user_windows,
             sum(n1)::BIGINT AS n_events
      FROM l1 GROUP BY 1
    )
    SELECT window_start, n_user_windows, n_events FROM l2
    WHERE window_start + INTERVAL 2 HOUR <= (SELECT max(ts) - INTERVAL 2 HOUR FROM events)
    """,
    doc="TWO chained stateful aggregations in ONE streaming query "
    "(streaming/windows.py::chained_window_rollup, Spark's multiple-"
    "stateful-operators support): per-user 30-min tumbling counts "
    "re-aggregated into 2-hour windows, the second aggregate reading the "
    "first's window column as event time via window_time so one watermark "
    "lineage evicts BOTH operators' state. Append mode emits a window only "
    "when the watermark passes its end, so the drained stream equals the "
    "two-level batch aggregate restricted to windows whose end <= "
    "max(ts) - watermark — the deterministic cutoff the oracle replays "
    "(the final no-data micro-batch advances the watermark and flushes "
    "finalized state)",
)
def streaming_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.streaming import chained_window_rollup, events_stream, run_to_memory

    name = "mre_stream_chained"
    run_to_memory(chained_window_rollup(events_stream(spark, sf_dir)), name, output_mode="append")
    return spark.table(name)


@register(
    "streaming_dynamic_session_window",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, ts,
             ts + CASE WHEN event_type = 'click' THEN INTERVAL 10 MINUTE
                       ELSE INTERVAL 30 MINUTE END AS ev_end
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, ts, ev_end,
             CASE WHEN max(ev_end) OVER prev IS NULL
                       OR ts >= max(ev_end) OVER prev
                  THEN 1 ELSE 0 END AS new_session
      FROM e
      WINDOW prev AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    sessions AS (
      SELECT user_id, ts, ev_end,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT min(ts) AS session_start,
           max(ev_end) AS session_end,
           user_id,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
    doc="session windows with a PER-EVENT gap (streaming/windows.py::"
    "dynamic_session_window_agg): clicks expire after 10 minutes, other "
    "events after 30 — session_window's Column-gap form, the per-row "
    "session policy a fixed gap can't express. Each event contributes "
    "[ts, ts+gap) and overlapping intervals merge; the oracle replays the "
    "merge as a running max of interval ends (new session iff ts >= "
    "cummax of previous ends; session_end = max interval end)",
)
def streaming_dynamic_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.streaming import (
        dynamic_session_window_agg,
        events_stream,
        ntz_of_instant,
        run_to_memory,
    )

    name = "mre_stream_dynsession"
    run_to_memory(
        dynamic_session_window_agg(events_stream(spark, sf_dir)), name, output_mode="complete"
    )
    return spark.table(name).select(
        ntz_of_instant("session_start").alias("session_start"),
        ntz_of_instant("session_end").alias("session_end"),
        "user_id",
        "n_events",
    )


@register(
    "streaming_interval_join",
    oracle="""
    WITH c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
    SELECT c.user_id AS user_id,
           count(*) AS n_attributed,
           count(DISTINCT p.event_id) AS n_purchases
    FROM c JOIN p ON p.user_id = c.user_id
                 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    GROUP BY c.user_id
    """,
    doc="Stream-stream interval join with watermarks on BOTH sides: "
    "purchases attributed to the click by the same user within the "
    "following hour. The time-bound join condition is what lets Spark "
    "expire buffered rows on both sides — the only unbounded⋈unbounded "
    "join shape with bounded state (streaming/windows.py).",
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.streaming import (
        events_stream,
        run_to_memory,
        stream_stream_interval_join,
    )

    name = "mre_stream_interval_join"
    ev = events_stream(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click")
    purchases = ev.where(F.col("event_type") == "purchase")
    joined = stream_stream_interval_join(clicks, purchases, max_delay="1 hour")
    run_to_memory(joined, name, output_mode="append")
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_attributed"),
            F.countDistinct("right_event_id").alias("n_purchases"),
        )
    )


@register(
    "streaming_foreach_batch_sink",
    oracle="""
    SELECT event_type,
           count(*) AS n_rows,
           1::BIGINT AS n_batches
    FROM events GROUP BY event_type
    """,
    doc="foreachBatch exactly-once parquet sink: each micro-batch lands in "
    "its own batch_id=N directory with overwrite, so an at-least-once "
    "replay of a batch rewrites the same directory instead of duplicating "
    "rows (streaming/windows.py::foreach_batch_idempotent_sink). The "
    "read-back aggregate is deterministic: every event lands exactly once, "
    "and availableNow over the single-file source drains in exactly one "
    "micro-batch, so n_batches is literally 1 in the oracle",
)
def streaming_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from map_reduce_engine_spark.streaming import (
        events_stream,
        foreach_batch_idempotent_sink,
    )

    dest = tempfile.mkdtemp(prefix="mre_fes_")
    ev = events_stream(spark, sf_dir).select("event_id", "user_id", "event_type", "value")
    foreach_batch_idempotent_sink(ev, dest)
    back = spark.read.option("basePath", dest).parquet(dest)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("batch_id").alias("n_batches"),
    )


@register(
    "events_variant_agg",
    oracle="""
    SELECT json_extract_string(props, '$.k')::BIGINT % 5 AS k_mod,
           count(*) AS n,
           min(json_extract_string(props, '$.k')::BIGINT) AS min_k,
           max(json_extract_string(props, '$.k')::BIGINT) AS max_k
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
    GROUP BY k_mod
    """,
    doc="semi-structured VARIANT path (Spark 4): parse_json once into the "
    "binary VARIANT encoding, then variant_get typed extraction feeding an "
    "aggregate. Against 100 TB of ragged JSON, VARIANT beats per-field "
    "string re-parsing (get_json_object) and beats rigid from_json schemas "
    "when documents drift — the open-schema twin of events_json_schema_agg",
)
def events_variant_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        ev.select(k.alias("k"))
        .where(F.col("k").isNotNull())
        .groupBy((F.col("k") % 5).alias("k_mod"))
        .agg(
            F.count("*").alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "concurrent_peak_per_user",
    oracle="""
    WITH pts AS (
      SELECT user_id, ts AS t, 1 AS delta FROM events
      UNION ALL
      SELECT user_id, ts + INTERVAL 30 MINUTE AS t, -1 AS delta FROM events
    ),
    swept AS (
      SELECT user_id,
             CAST(sum(delta) OVER (PARTITION BY user_id ORDER BY t, delta
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS concurrency
      FROM pts
    )
    SELECT user_id, max(concurrency) AS peak_concurrency
    FROM swept GROUP BY user_id
    """,
    doc="sweep-line interval concurrency: each event opens a 30-minute "
    "activity interval; +1/-1 boundary points, a running sum ordered by "
    "time gives instantaneous concurrency, max per user is the peak. Ties "
    "order (t, delta) so closes precede opens at the same instant — "
    "half-open intervals on both engines. The window partitions by user "
    "(bounded per-task state); the global variant would partition by a "
    "time bucket with clipped intervals",
)
def concurrent_peak_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    opens = ev.select("user_id", F.col("ts").alias("t"), F.lit(1).alias("delta"))
    closes = ev.select(
        "user_id",
        F.expr("ts + INTERVAL 30 MINUTE").alias("t"),
        F.lit(-1).alias("delta"),
    )
    pts = opens.unionByName(closes)
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = pts.select(
        "user_id", F.sum("delta").over(w).cast("bigint").alias("concurrency")
    )
    return swept.groupBy("user_id").agg(
        F.max("concurrency").alias("peak_concurrency")
    )


@register(
    "cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(date_trunc('day', ts))::TIMESTAMP AS cohort_day
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id,
             f.cohort_day,
             CAST(date_diff('day', f.cohort_day, date_trunc('day', e.ts)) AS BIGINT) AS day_offset
      FROM events e JOIN firsts f USING (user_id)
    )
    SELECT cohort_day, day_offset,
           count(*) AS n_active,
           round(count(*) * 1.0 /
                 max(count(*)) OVER (PARTITION BY cohort_day), 4) AS retention
    FROM activity
    WHERE day_offset <= 7
    GROUP BY cohort_day, day_offset
    """,
    doc="cohort retention: users grouped by first-seen day, distinct "
    "activity counted per day-offset, retention = active/day-0 via a "
    "window over the per-cohort aggregate (cohort cardinality is bounded "
    "by #days — the window never sees raw events). The firsts table is a "
    "per-user aggregate joined back broadcast-style; day truncation round-"
    "trips through TIMESTAMP_NTZ so results are session-TZ-independent",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("day")
    )
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).cast("bigint").alias("day_offset"),
        )
        .distinct()
    )
    per = (
        activity.where(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count("*").alias("n_active"))
    )
    w = Window.partitionBy("cohort_day")
    return per.select(
        "cohort_day",
        "day_offset",
        "n_active",
        F.round(F.col("n_active") * 1.0 / F.max("n_active").over(w), 4).alias("retention"),
    )


@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
      FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           count(*) AS n,
           round(count(*) * 1.0 /
                 sum(count(*)) OVER (PARTITION BY event_type), 4) AS p
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
    doc="first-order Markov transition matrix over per-user event "
    "sequences: lead() pairs each event with its successor (window "
    "partitioned by user — bounded state), then one aggregate; transition "
    "probabilities normalize per source state via a window over the "
    "|event_types|² aggregate, never raw events. The funnel-free way to "
    "see where users actually go next",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    per = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count("*").alias("n"))
    wn = Window.partitionBy("from_type")
    return per.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") * 1.0 / F.sum("n").over(wn), 4).alias("p"),
    )


@register(
    "events_ewma_arrow",
    oracle="""
    WITH seq AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             count(*)    OVER (PARTITION BY user_id) AS n
      FROM events
    )
    SELECT user_id,
           round(sum(value * CASE WHEN rn = 1 THEN power(0.5, n - 1)
                                  ELSE 0.5 * power(0.5, n - rn) END), 6) AS ewma,
           max(n) AS n_events
    FROM seq
    GROUP BY user_id
    """,
    doc="per-user EWMA through Spark 4's Arrow-native grouped path "
    "(applyInArrow — the group arrives as a pyarrow.Table, no pandas "
    "materialization at all). The same operator and closed-form oracle as "
    "events_ewma_per_user, kept as a second registry name",
)
def events_ewma_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.sequential import ewma_per_group

    ev = t(spark, sf_dir, "events")
    out = ewma_per_group(
        ev, group_col="user_id", order_cols=["ts", "event_id"], value_col="value", alpha=0.5
    )
    return out.select("user_id", F.round("ewma", 6).alias("ewma"), "n_events")


@register(
    "value_outliers_mad",
    oracle="""
    WITH med AS (SELECT event_type, median(value) AS med FROM events GROUP BY 1),
    dev AS (
      SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (SELECT event_type, median(adev) AS mad, min(med) AS med FROM dev GROUP BY 1)
    SELECT d.event_type,
           count(*) AS n,
           sum(CASE WHEN d.adev > 3 * 1.4826::DOUBLE * m.mad THEN 1 ELSE 0 END)::BIGINT
             AS n_outliers,
           round(min(m.med), 4) AS med,
           round(min(m.mad), 4) AS mad
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
    doc="robust outlier detection per event_type: modified z-score on the "
    "median absolute deviation (|x - med| > 3 * 1.4826 * MAD — the robust "
    "stddev analogue that one fat-tailed sensor can't poison, unlike "
    "mean/stddev z-scores). Two-pass: per-group median, broadcast back for "
    "deviations, per-group MAD, broadcast back for flags — each pass one "
    "hash aggregate on the same grouping key. Thresholds compare "
    "identically across engines because medians interpolate with the same "
    "midpoint average and both sides evaluate the identical constant fold",
)
def value_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("adev"), "med"
    )
    mad = dev.groupBy("event_type").agg(
        F.median("adev").alias("mad"), F.min("med").alias("med")
    )
    flagged = dev.drop("med").join(F.broadcast(mad), "event_type")
    return flagged.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("adev") > F.lit(3) * F.lit(1.4826) * F.col("mad"), 1).otherwise(0)
        ).cast("bigint").alias("n_outliers"),
        F.round(F.min("med"), 4).alias("med"),
        F.round(F.min("mad"), 4).alias("mad"),
    )


@register(
    "value_drift_cusum",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, avg(value) AS x
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, avg(x) AS mu, stddev_samp(x) AS sigma
      FROM hourly GROUP BY 1
    ),
    z AS (
      SELECT h.event_type, h.h, (h.x - s.mu - 0.5 * s.sigma) / s.sigma AS z
      FROM hourly h JOIN stats s USING (event_type)
    ),
    psum AS (
      SELECT event_type, h,
             sum(z) OVER (PARTITION BY event_type ORDER BY h
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      FROM z
    ),
    pre AS (
      SELECT event_type, h, p,
             min(p) OVER (PARTITION BY event_type ORDER BY h
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS minp
      FROM psum
    ),
    cusum AS (
      SELECT event_type, h, round(p - least(minp, 0.0), 4) AS s FROM pre
    ),
    ranked AS (
      SELECT event_type, h, s,
             row_number() OVER (PARTITION BY event_type ORDER BY s DESC, h) AS rk,
             count(*) OVER (PARTITION BY event_type) AS n_hours
      FROM cusum
    )
    SELECT event_type, n_hours::BIGINT AS n_hours, s AS max_cusum,
           h::TIMESTAMP AS drift_hour, s > 5.0 AS drifted
    FROM ranked WHERE rk = 1
    """,
    doc="CUSUM drift detection on hourly event-value means: the one-sided "
    "cusum recursion S_t = max(0, S_{t-1} + z_t) rewritten as prefix_sum - "
    "min(0, running_min(prefix_sum)) — two stacked windows instead of an "
    "inexpressible recursion, so the whole detector stays JVM-side "
    "(partitioned by event_type: bounded window state, no driver loop). "
    "Reports each type's peak cusum, when it peaked (earliest hour on "
    "ties), and a >5-sigma-units drift flag — the monitoring query a "
    "pipeline runs on ingest quality metrics",
)
def value_drift_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type",
            F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("h"),
        )
        .agg(F.avg("value").alias("x"))
    )
    stats = hourly.groupBy("event_type").agg(
        F.avg("x").alias("mu"), F.stddev_samp("x").alias("sigma")
    )
    z = hourly.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "h",
        ((F.col("x") - F.col("mu") - 0.5 * F.col("sigma")) / F.col("sigma")).alias("z"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = z.select(
        "event_type", "h", F.sum("z").over(w).alias("p")
    ).withColumn("minp", F.min("p").over(w))
    cusum = pre.select(
        "event_type", "h", F.round(F.col("p") - F.least("minp", F.lit(0.0)), 4).alias("s")
    )
    wr = Window.partitionBy("event_type").orderBy(F.desc("s"), "h")
    wc = Window.partitionBy("event_type")
    ranked = cusum.select(
        "event_type",
        "h",
        "s",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(wc).cast("bigint").alias("n_hours"),
    )
    return ranked.where(F.col("rk") == 1).select(
        "event_type",
        "n_hours",
        F.col("s").alias("max_cusum"),
        # stays TIMESTAMP_NTZ: casting to (LTZ) timestamp would shift the
        # wall time by the session offset on non-UTC drivers
        F.col("h").alias("drift_hour"),
        (F.col("s") > 5.0).alias("drifted"),
    )


@register(
    "streaming_state_introspection",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS sum_value,
           round(avg(value), 4) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="State-store introspection (Spark 4 statestore data source): run the "
    "tumbling aggregation with a real checkpoint, then read the RocksDB "
    "state back as a DataFrame and reconstruct the aggregate from the raw "
    "state buffers (count, sum, and avg's sum/count pair). The oracle is "
    "the batch aggregate itself — proving the persisted streaming STATE, "
    "not just the sink output, carries exactly the right values. This is "
    "the debugging/backfill door a production streaming deployment needs: "
    "state is queryable data, not a black box (complete mode retains all "
    "windows; the buffer flattens positionally because avg's sum/count "
    "reuse field names)",
)
def streaming_state_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from map_reduce_engine_spark.streaming import events_stream, ntz_of_instant, tumbling_counts

    ckpt = tempfile.mkdtemp(prefix="mre_state_")
    q = (
        tumbling_counts(events_stream(spark, sf_dir))
        .writeStream.outputMode("complete")
        .format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    st = spark.read.format("statestore").load(ckpt)
    flat = st.select(
        F.col("key.window.start").alias("ws"),
        F.col("key.event_type").alias("event_type"),
        "value.*",
    ).toDF("ws", "event_type", "n", "sum_raw", "avg_sum", "avg_cnt")
    return flat.select(
        ntz_of_instant("ws").alias("window_start"),
        "event_type",
        "n",
        F.round("sum_raw", 2).alias("sum_value"),
        F.round(F.col("avg_sum") / F.col("avg_cnt").cast("double"), 4).alias("avg_value"),
    )


@register(
    "event_path_trigrams",
    oracle="""
    WITH paths AS (
      SELECT user_id,
             list(event_type ORDER BY ts, event_id) AS p
      FROM events GROUP BY user_id
    ),
    tri AS (
      SELECT t.path FROM (
        SELECT unnest(list_transform(
          generate_series(1, greatest(len(p) - 2, 0)),
          i -> p[i] || '>' || p[i + 1] || '>' || p[i + 2]
        )) AS path FROM paths
      ) t
    )
    SELECT path, count(*)::BIGINT AS cnt
    FROM tri GROUP BY path
    ORDER BY cnt DESC, path LIMIT 20
    """,
    doc="clickstream path mining: top-20 three-step event-type paths "
    "across user journeys. Each user's journey is one ordered array "
    "(deterministic (ts, event_id) tiebreak), trigram paths are an array "
    "transform inside the projection — the positional self-join the "
    "naive plan needs (two corpus-sized shuffle joins) never exists, the "
    "same zero-join construction as token_pmi. One shuffle per user for "
    "the journey collect (bounded per-user state), one hash agg for "
    "path counts, TakeOrderedAndProject for the top-20",
)
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    paths = ev.groupBy("user_id").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(ts, event_id, event_type))),"
            " s -> s.event_type)"
        ).alias("p")
    )
    tri = paths.select(
        F.explode(
            F.expr(
                "if(size(p) > 2, transform(sequence(1, size(p) - 2),"
                " i -> concat_ws('>', element_at(p, i), element_at(p, i + 1),"
                " element_at(p, i + 2))), cast(array() as array<string>))"
            )
        ).alias("path")
    )
    return (
        tri.groupBy("path")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), "path")
        .limit(20)
    )


@register(
    "hypertable_rollup",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket,
             count(*) AS n, sum(value) AS sv,
             min(value) AS min_value, max(value) AS max_value
      FROM events GROUP BY 1
    ),
    daily AS (
      SELECT date_trunc('day', bucket)::TIMESTAMP AS bucket,
             sum(n)::BIGINT AS n, sum(sv) AS sv,
             min(min_value) AS min_value, max(max_value) AS max_value
      FROM hourly GROUP BY 1
    ),
    monthly AS (
      SELECT date_trunc('month', bucket)::TIMESTAMP AS bucket,
             sum(n)::BIGINT AS n, sum(sv) AS sv,
             min(min_value) AS min_value, max(max_value) AS max_value
      FROM daily GROUP BY 1
    )
    SELECT 'hour' AS level, bucket, n, round(sv, 2) AS sum_value, round(min_value, 4) AS min_value, round(max_value, 4) AS max_value FROM hourly
    UNION ALL
    SELECT 'day', bucket, n, round(sv, 2), round(min_value, 4), round(max_value, 4) FROM daily
    UNION ALL
    SELECT 'month', bucket, n, round(sv, 2), round(min_value, 4), round(max_value, 4) FROM monthly
    """,
    doc="hypertable-style multi-resolution rollup (the TimescaleDB "
    "continuous-aggregate pattern): hour buckets aggregate the fact table "
    "ONCE; day and month levels then reaggregate the next-finer PARTIALS "
    "(count/sum/min/max are all merge-reaggregable — the AddInterface "
    "contract, ReduceRunner.java:154-172, applied hierarchically). At "
    "100 TB the hourly table is what you persist (fact-table-sized scans "
    "happen once per refresh window); every coarser grain is a "
    "bucket-count-sized rollup of it, and AVG derives at read time as "
    "sum/count rather than being stored (averages don't reaggregate). "
    "Spark date_trunc on NTZ coerces to session-TZ instants, so each "
    "truncation casts straight back to timestamp_ntz (wall-time buckets, "
    "tz-independent).",
)
def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    # Materialize each grain before the branches below reuse it: Spark does
    # NOT share common subplans across union branches, so without this the
    # fact table would be scanned once PER LEVEL (verified in the physical
    # plan) — exactly what the continuous-aggregate pattern exists to avoid.
    # In production the hourly table is a persisted parquet table; here the
    # eager localCheckpoint is its in-session stand-in.
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("bucket")
    ).agg(
        F.count("*").alias("n"),
        F.sum("value").alias("sv"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    ).localCheckpoint(eager=True)
    daily = hourly.groupBy(
        F.date_trunc("day", "bucket").cast("timestamp_ntz").alias("bucket")
    ).agg(
        F.sum("n").alias("n"),
        F.sum("sv").alias("sv"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    ).localCheckpoint(eager=True)
    monthly = daily.groupBy(
        F.date_trunc("month", "bucket").cast("timestamp_ntz").alias("bucket")
    ).agg(
        F.sum("n").alias("n"),
        F.sum("sv").alias("sv"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )

    def fin(df: DataFrame, level: str) -> DataFrame:
        return df.select(
            F.lit(level).alias("level"),
            "bucket",
            "n",
            F.round("sv", 2).alias("sum_value"),
            F.round("min_value", 4).alias("min_value"),
            F.round("max_value", 4).alias("max_value"),
        )

    return fin(hourly, "hour").unionAll(fin(daily, "day")).unionAll(fin(monthly, "month"))


@register(
    "watermark_late_audit",
    oracle="""
    WITH a AS (
      SELECT event_id, event_type, ts,
             ts + to_seconds((('0x' || substr(md5(event_id::VARCHAR), 1, 8))::BIGINT & 2147483647) % 3600) AS arrival
      FROM events
    ),
    w AS (
      SELECT event_type, ts,
             max(ts) OVER (ORDER BY arrival, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
      FROM a
    ),
    g AS (
      SELECT event_type,
             count(*)::BIGINT AS n_events,
             (count(*) FILTER (WHERE ts < mx - INTERVAL 30 MINUTE))::BIGINT AS n_late
      FROM w GROUP BY event_type
    )
    SELECT event_type, n_events, n_late, (10000 * n_late) // n_events AS late_bp
    FROM g
    """,
    doc="watermark late-data audit: which rows a 30-minute watermark would "
    "DROP, per event type — the pre-deployment question every streaming "
    "pipeline answers before picking withWatermark(delay). Arrival order "
    "is simulated with a deterministic portable-hash jitter (<=1h) since "
    "the fixture's event_id is perfectly time-ordered; the watermark "
    "before each event is the running max event time over arrival order "
    "minus the delay (Spark's semantics, tightened to per-event instead "
    "of per-micro-batch — an upper bound on real drops). The running max "
    "is computed as a TWO-LEVEL prefix scan: per arrival-hour partitions "
    "(bounded window state) plus a prefix max over the tiny hour-summary "
    "table — never one global window over the corpus; the oracle's "
    "single global window is the small-scale equivalent. Rate reported "
    "in integer basis points (nothing for engines to round).",
)
def watermark_late_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.operators.dedup import portable_base31

    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    jit = portable_base31(F.col("event_id").cast("string")) % 3600
    a = (
        ev.withColumn("__jit", jit)
        .withColumn("arrival", F.expr("timestampadd(SECOND, __jit, ts)"))
        .drop("__jit")
    )
    a = a.withColumn("bucket", F.date_trunc("hour", "arrival").cast("timestamp_ntz"))

    # level 1: running max WITHIN each arrival-hour (bounded window state)
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("arrival", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    a = a.withColumn("run_mx", F.max("ts").over(w_in))
    # level 2: prefix max over the hour-summary table (rows = distinct
    # arrival hours — time-range-bounded, not corpus-bounded), broadcast back
    bs = a.groupBy("bucket").agg(F.max("ts").alias("bmax"))
    w_b = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    prev = bs.withColumn("prev_mx", F.max("bmax").over(w_b)).select("bucket", "prev_mx")
    scored = a.join(F.broadcast(prev), "bucket").withColumn(
        "wm_base",
        F.greatest(
            F.coalesce("run_mx", F.col("prev_mx")),
            F.coalesce("prev_mx", F.col("run_mx")),
        ),
    )
    late = (
        F.col("wm_base").isNotNull()
        & (F.col("ts") < F.expr("timestampadd(MINUTE, -30, wm_base)"))
    ).cast("int")
    g = scored.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(late).cast("bigint").alias("n_late"),
    )
    return g.select(
        "event_type",
        "n_events",
        "n_late",
        F.expr("10000 * n_late div n_events").alias("late_bp"),
    )


@register(
    "rolling_active_users",
    oracle="""
    WITH daily AS (
      SELECT DISTINCT date_trunc('day', ts)::DATE AS d, user_id FROM events
    ),
    dau AS (
      SELECT d, count(*)::BIGINT AS dau FROM daily GROUP BY d
    ),
    contrib AS (
      SELECT DISTINCT d + to_days(i::INTEGER) AS w, user_id
      FROM daily, unnest(generate_series(0, 6)) AS u(i)
    ),
    wau AS (
      SELECT w AS d, count(*)::BIGINT AS wau FROM contrib GROUP BY w
    )
    SELECT dau.d AS day, dau.dau, wau.wau,
           (10000 * dau.dau) // wau.wau AS stickiness_bp
    FROM dau JOIN wau USING (d)
    """,
    doc="rolling 7-day active users (DAU/WAU + stickiness): each distinct "
    "(day, user) pair contributes to its own day and the 6 trailing "
    "windows via a 7-way sequence explode — the classic engagement metric "
    "WITHOUT a per-window distinct-count window function (which Spark "
    "cannot express) and without rescanning events per window. The "
    "shuffled unit is the deduped (day, user) pair — 7x a bounded "
    "(days x users) grid, never raw events; stickiness is integer basis "
    "points so engines cannot disagree on rounding. Windows are reported "
    "for actual event days only (inner join back to DAU).",
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.select(
        F.to_date(F.col("ts")).alias("d"), "user_id"
    ).distinct()
    dau = daily.groupBy("d").agg(F.count("*").alias("dau"))
    contrib = (
        daily.select(
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"), "d", "user_id"
        )
        .select(F.date_add("d", F.col("i")).alias("w"), "user_id")
        .distinct()
    )
    wau = contrib.groupBy(F.col("w").alias("d")).agg(F.count("*").alias("wau"))
    return dau.join(wau, "d").select(
        F.col("d").alias("day"),
        "dau",
        "wau",
        F.expr("10000 * dau div wau").alias("stickiness_bp"),
    )


@register(
    "multitouch_attribution",
    oracle="""
    WITH c AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
    ),
    assist AS (
      SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
             count(*) OVER (PARTITION BY p.event_id) AS n_assists
      FROM p JOIN c ON c.user_id = p.user_id
                   AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
    ),
    credited AS (
      SELECT user_id, purchase_id, click_id,
             1000000 // n_assists AS credit_micro
      FROM assist
    )
    SELECT user_id,
           count(DISTINCT purchase_id) AS n_attr_purchases,
           count(DISTINCT click_id) AS n_assisting_clicks,
           sum(credit_micro)::BIGINT AS credit_micro_total
    FROM credited GROUP BY user_id
    """,
    doc="linear multi-touch attribution: every click in the hour BEFORE a "
    "purchase shares that purchase's credit equally (the marketing "
    "counterpart of the last-touch asof join, asof_purchase_last_click). "
    "Shape: user-keyed equi-join with an interval predicate (the "
    "stream-stream interval join's batch shape), one window for the "
    "per-purchase assist count, then per-user aggregation. Credit is "
    "apportioned in INTEGER micro-units (1e6 div n — exact, identical in "
    "both engines) so cross-engine float summation order can't shift a "
    "total; at 100 TB the interval join bounds state exactly like "
    "streaming_interval_join does with watermarks",
)
def multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    c = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    assist = p.join(c, "user_id").where(
        (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR")) & (F.col("cts") < F.col("pts"))
    )
    w = Window.partitionBy("purchase_id")
    credited = assist.withColumn("n_assists", F.count("*").over(w)).withColumn(
        "credit_micro", F.expr("1000000 div n_assists")
    )
    return credited.groupBy("user_id").agg(
        F.countDistinct("purchase_id").alias("n_attr_purchases"),
        F.countDistinct("click_id").alias("n_assisting_clicks"),
        F.sum("credit_micro").cast("bigint").alias("credit_micro_total"),
    )


@register(
    "cumulative_distinct_users",
    oracle="""
    WITH fs AS (SELECT user_id, min(ts::DATE) AS day FROM events GROUP BY user_id),
    d AS (SELECT day, count(*) AS new_users FROM fs GROUP BY day)
    SELECT day, new_users,
           sum(new_users) OVER (ORDER BY day)::BIGINT AS cumulative_users
    FROM d
    """,
    doc="daily new vs cumulative distinct users: the running-distinct-count "
    "curve computed WITHOUT a distinct-count window (inexpressible and "
    "unscalable) — each user collapses to a first-seen day (one shuffle on "
    "user_id), so the cumulative sum runs over a days-sized aggregate, "
    "never raw events. The growth-accounting shape that survives 100 TB",
)
def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("day"))
    daily = first_seen.groupBy("day").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).alias("cumulative_users"),
    )


@register(
    "seasonal_hourly_anomaly",
    oracle="""
    WITH e AS (
      SELECT event_id, event_type, extract(hour FROM ts)::BIGINT AS hod,
             CAST(round(value * 100) AS BIGINT) AS cents, value
      FROM events
    ),
    prof AS (
      SELECT event_type, hod, count(*) AS n,
             sum(cents) AS s1, sum(cents * cents) AS s2
      FROM e GROUP BY event_type, hod
    ),
    z AS (
      SELECT e.event_id, e.event_type, e.hod, e.value,
             (e.cents::DOUBLE - p.s1::DOUBLE / p.n::DOUBLE)
               / sqrt((p.s2::DOUBLE - p.s1::DOUBLE * p.s1::DOUBLE / p.n::DOUBLE)
                      / (p.n::DOUBLE - 1.0)) AS zval
      FROM e JOIN prof p USING (event_type, hod)
      WHERE p.n > 1
    )
    SELECT event_id, event_type, hod, value, round(zval, 4) AS zscore
    FROM z WHERE abs(zval) > 2.5
    """,
    doc="hour-of-day seasonal anomaly detection: per (event_type, hour) "
    "profile from exact integer cent sums (n, sum, sum-of-squares — one "
    "hash aggregate, 120 profile rows at any scale), then each event's "
    "z-score against its profile via a broadcast join back. Moments in "
    "BIGINT cents make mean/variance bit-identical across engines; the "
    "anomaly scan is a single pass, no window over raw data",
)
def seasonal_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.hour("ts").cast("bigint").alias("hod"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        "value",
    )
    prof = ev.groupBy("event_type", "hod").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2"),
    )
    n, s1, s2 = (F.col(c).cast("double") for c in ("n", "s1", "s2"))
    zval = (F.col("cents").cast("double") - s1 / n) / F.sqrt(
        (s2 - s1 * s1 / n) / (n - F.lit(1.0))
    )
    return (
        ev.join(F.broadcast(prof.where(F.col("n") > 1)), ["event_type", "hod"])
        .select("event_id", "event_type", "hod", "value", zval.alias("zval"))
        .where(F.abs(F.col("zval")) > 2.5)
        .select("event_id", "event_type", "hod", "value", F.round("zval", 4).alias("zscore"))
    )


@register(
    "ols_value_trend",
    oracle="""
    WITH e AS (
      SELECT event_type, extract(hour FROM ts)::BIGINT AS x,
             CAST(round(value * 100) AS BIGINT) AS y
      FROM events
    ),
    m AS (
      SELECT event_type, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
      FROM e GROUP BY event_type
    )
    SELECT event_type, n,
           round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                 / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 6) AS slope_cents,
           round((sy::DOUBLE - (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                   / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) * sx::DOUBLE)
                 / n::DOUBLE, 6) AS intercept_cents,
           round(((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                  * (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE))
                 / ((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                    * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6) AS r2
    FROM m
    """,
    doc="closed-form OLS fit per event type (value-in-cents vs hour of "
    "day): slope / intercept / R-squared from the five sufficient "
    "statistics (sum x, y, xx, xy, yy), accumulated as exact BIGINTs in "
    "ONE hash aggregate — the distributed regression recipe that needs no "
    "iteration, no solver, and touches the data once at any scale. "
    "Integer moments make the closed-form arithmetic bit-identical "
    "across engines",
)
def ols_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("bigint").alias("x"),
        F.round(F.col("value") * 100).cast("bigint").alias("y"),
    )
    m = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy, sxx, sxy, syy = (
        F.col(c).cast("double") for c in ("n", "sx", "sy", "sxx", "sxy", "syy")
    )
    cov_n = n * sxy - sx * sy
    var_n = n * sxx - sx * sx
    slope = cov_n / var_n
    return m.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope_cents"),
        F.round((sy - slope * sx) / n, 6).alias("intercept_cents"),
        F.round(cov_n * cov_n / (var_n * (n * syy - sy * sy)), 6).alias("r2"),
    )


@register(
    "forecast_backtest_mape",
    oracle="""
    WITH daily AS (
      SELECT event_type, ts::DATE AS day,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY event_type, ts::DATE
    ),
    f AS (
      SELECT event_type, day, cents,
             lag(cents, 7) OVER (PARTITION BY event_type ORDER BY day) AS fc
      FROM daily
    ),
    e AS (
      SELECT event_type, 10000 * abs(cents - fc) // cents AS ape_bp
      FROM f WHERE fc IS NOT NULL AND cents > 0
    )
    SELECT event_type, count(*) AS n_days,
           round(sum(ape_bp)::DOUBLE / count(*)::DOUBLE, 4) AS mape_bp
    FROM e GROUP BY event_type
    """,
    doc="seasonal-naive forecast backtest: tomorrow's per-type daily "
    "revenue forecast is the value 7 days earlier (the strongest cheap "
    "baseline for weekly-seasonal series); accuracy reported as MAPE in "
    "integer basis points. All windows run over the days-sized daily "
    "aggregate — never raw events — and errors are exact BIGINT basis "
    "points so the average is engine-exact. The forecast-quality gate a "
    "metrics pipeline runs before trusting a model",
)
def forecast_backtest_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))
    w = Window.partitionBy("event_type").orderBy("day")
    f = daily.withColumn("fc", F.lag("cents", 7).over(w))
    e = f.where(F.col("fc").isNotNull() & (F.col("cents") > 0)).select(
        "event_type",
        F.expr("10000 * abs(cents - fc) div cents").alias("ape_bp"),
    )
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.round(F.sum("ape_bp").cast("double") / F.count("*").cast("double"), 4).alias("mape_bp"),
    )


@register(
    "longest_activity_streak",
    oracle="""
    WITH daily AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
    r AS (
      SELECT user_id, day,
             row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
      FROM daily
    ),
    islands AS (
      SELECT user_id, day - rn::INTEGER AS grp,
             count(*) AS streak_len, min(day) AS streak_start
      FROM r GROUP BY user_id, day - rn::INTEGER
    ),
    best AS (
      SELECT user_id, streak_len, streak_start,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY streak_len DESC, streak_start) AS rk
      FROM islands
    )
    SELECT user_id, streak_len AS longest_streak, streak_start
    FROM best WHERE rk = 1
    """,
    doc="longest consecutive-day activity streak per user — the canonical "
    "gaps-and-islands pattern: distinct (user, day) pairs, the day-minus-"
    "row-number constant identifies each island, one aggregate sizes them. "
    "All windows partition by user over deduped days (bounded by the "
    "calendar, never raw events); earliest-start tiebreak keeps the "
    "answer deterministic",
)
def longest_activity_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    r = daily.withColumn("rn", F.row_number().over(w))
    islands = r.groupBy(
        "user_id", F.date_sub(F.col("day"), F.col("rn")).alias("grp")
    ).agg(F.count("*").alias("streak_len"), F.min("day").alias("streak_start"))
    wb = Window.partitionBy("user_id").orderBy(
        F.col("streak_len").desc(), F.col("streak_start")
    )
    return (
        islands.withColumn("rk", F.row_number().over(wb))
        .where(F.col("rk") == 1)
        .select("user_id", F.col("streak_len").alias("longest_streak"), "streak_start")
    )


@register(
    "activity_bitmap_rollup",
    oracle="""
    WITH daily AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-05', ts::DATE) AS di
      FROM events
    ),
    b AS (
      SELECT user_id, di // 63 AS epoch,
             bit_or(1::BIGINT << (di % 63)) AS bitmap,
             min(di % 63) AS first_bit, max(di % 63) AS last_bit
      FROM daily GROUP BY user_id, di // 63
    )
    SELECT user_id, epoch, bitmap,
           bit_count(bitmap::BIT)::BIGINT AS active_days,
           (last_bit - first_bit + 1) AS span_days,
           10000 * bit_count(bitmap::BIT)::BIGINT // (last_bit - first_bit + 1)
             AS density_bp
    FROM b
    """,
    doc="per-user activity bitmaps in 63-day epochs: each active day sets "
    "one bit (bit_or aggregate — associative and mergeable exactly like a "
    "sketch partial, so shards/epochs roll up with pure integer OR), "
    "activity metrics read back with bit_count. The roaring-bitmap-style "
    "engagement representation: one BIGINT per (user, epoch) at any "
    "scale; density in integer basis points. Epochs are 63 days, not 64: "
    "DuckDB's checked left shift raises on 1::BIGINT << 63 (sign bit), so "
    "the top bit stays unused on both engines",
)
def activity_bitmap_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-05").cast("date")).alias("di"),
    ).distinct()
    b = daily.groupBy(
        "user_id", F.expr("di div 63").alias("epoch")
    ).agg(
        F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(di % 63 AS INT))")).alias("bitmap"),
        F.min(F.col("di") % 63).alias("first_bit"),
        F.max(F.col("di") % 63).alias("last_bit"),
    )
    span = F.col("last_bit") - F.col("first_bit") + F.lit(1)
    return b.select(
        "user_id",
        "epoch",
        "bitmap",
        F.bit_count("bitmap").cast("bigint").alias("active_days"),
        span.alias("span_days"),
        F.expr("10000 * bit_count(bitmap) div (last_bit - first_bit + 1)").alias("density_bp"),
    )


@register(
    "time_to_convert_cohorts",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS signup_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    conv AS (
      SELECT s.user_id, s.signup_ts, min(e.ts) AS first_purchase_ts
      FROM s LEFT JOIN events e
        ON e.user_id = s.user_id AND e.event_type = 'purchase' AND e.ts >= s.signup_ts
      GROUP BY s.user_id, s.signup_ts
    ),
    d AS (
      SELECT signup_ts::DATE AS cohort_day,
             epoch_us(first_purchase_ts) - epoch_us(signup_ts) AS delta_us
      FROM conv
    ),
    r AS (
      SELECT cohort_day, delta_us,
             row_number() OVER (PARTITION BY cohort_day ORDER BY delta_us) AS rn,
             count(*) OVER (PARTITION BY cohort_day) AS nn
      FROM d WHERE delta_us IS NOT NULL
    ),
    q AS (
      SELECT cohort_day,
             max(CASE WHEN rn = ((nn - 1) * 50) // 100 + 1 THEN delta_us END) AS p50_us,
             max(CASE WHEN rn = ((nn - 1) * 90) // 100 + 1 THEN delta_us END) AS p90_us
      FROM r GROUP BY cohort_day
    ),
    c AS (
      SELECT cohort_day,
             count(*) AS n_signups,
             count(delta_us) AS n_converted,
             10000 * count(delta_us) // count(*) AS conversion_bp
      FROM d GROUP BY cohort_day
    )
    SELECT c.cohort_day, c.n_signups, c.n_converted, c.conversion_bp,
           q.p50_us, q.p90_us
    FROM c LEFT JOIN q USING (cohort_day)
    """,
    doc="signup→purchase conversion funnel latency by signup-day cohort: "
    "first signup per user, earliest subsequent purchase (one user-keyed "
    "join), conversion rate in integer basis points and exact interpolated "
    "latency percentiles in exact integer microseconds (DISCRETE "
    "percentile — the value at row floor(p*(n-1))+1 — because continuous "
    "interpolation differs at the ulp across engines at 1e11 magnitudes). All "
    "aggregation is per-user-then-per-cohort — raw events are touched "
    "once, windows never see them",
)
def time_to_convert_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    conv = (
        s.join(p, on=(s.user_id == p.user_id) & (F.col("pts") >= F.col("signup_ts")), how="left")
        .groupBy(s.user_id, "signup_ts")
        .agg(F.min("pts").alias("first_purchase_ts"))
    )
    d = conv.select(
        F.col("signup_ts").cast("date").alias("cohort_day"),
        F.expr("timestampdiff(MICROSECOND, signup_ts, first_purchase_ts)").alias("delta_us"),
    )
    c = d.groupBy("cohort_day").agg(
        F.count("*").alias("n_signups"),
        F.count("delta_us").alias("n_converted"),
        F.expr("10000 * count(delta_us) div count(*)").alias("conversion_bp"),
    )
    wq = Window.partitionBy("cohort_day").orderBy("delta_us")
    r = (
        d.where(F.col("delta_us").isNotNull())
        .withColumn("rn", F.row_number().over(wq))
        .withColumn("nn", F.count("*").over(Window.partitionBy("cohort_day")))
    )
    q = r.groupBy("cohort_day").agg(
        F.max(
            F.when(F.col("rn") == F.expr("((nn - 1) * 50) div 100 + 1"), F.col("delta_us"))
        ).alias("p50_us"),
        F.max(
            F.when(F.col("rn") == F.expr("((nn - 1) * 90) div 100 + 1"), F.col("delta_us"))
        ).alias("p90_us"),
    )
    return c.join(q, "cohort_day", "left").select(
        "cohort_day", "n_signups", "n_converted", "conversion_bp", "p50_us", "p90_us"
    )


@register(
    "interarrival_burstiness",
    oracle="""
    WITH g AS (
      SELECT user_id,
             (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                     ORDER BY ts, event_id))
               // 1000000 AS gap_s
      FROM events
    ),
    m AS (
      SELECT user_id, count(gap_s) AS n,
             sum(gap_s) AS s1, sum(gap_s * gap_s) AS s2
      FROM g WHERE gap_s IS NOT NULL
      GROUP BY user_id HAVING count(gap_s) > 1
    )
    SELECT user_id, n,
           round(sqrt((s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n::DOUBLE)
                      / (n::DOUBLE - 1.0))
                 / (s1::DOUBLE / n::DOUBLE), 6) AS cv,
           round((sqrt((s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n::DOUBLE)
                       / (n::DOUBLE - 1.0)) - s1::DOUBLE / n::DOUBLE)
                 / (sqrt((s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n::DOUBLE)
                         / (n::DOUBLE - 1.0)) + s1::DOUBLE / n::DOUBLE), 6)
             AS burstiness
    FROM m
    """,
    doc="inter-arrival burstiness per user (Goh-Barabási B = (σ-μ)/(σ+μ) "
    "and the coefficient of variation): B≈0 is Poisson traffic, B→1 is "
    "bursty human/bot behavior — the timing-signature feature for bot "
    "and abuse detection. Gaps are exact integer SECONDS (whole-second "
    "truncation keeps the sum of squares inside BIGINT for year-scale "
    "gaps) from one ordered window; moments are BIGINT sums, so σ/μ are "
    "deterministic closed forms both engines replay. One user-keyed "
    "shuffle",
)
def interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    g = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_raw")
    ).select("user_id", F.expr("gap_raw div 1000000").alias("gap_s"))
    m = (
        g.where(F.col("gap_s").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("gap_s").alias("n"),
            F.sum("gap_s").alias("s1"),
            F.sum(F.col("gap_s") * F.col("gap_s")).alias("s2"),
        )
        .where(F.col("n") > 1)
    )
    n, s1, s2 = (F.col(c).cast("double") for c in ("n", "s1", "s2"))
    sigma = F.sqrt((s2 - s1 * s1 / n) / (n - F.lit(1.0)))
    mu = s1 / n
    return m.select(
        "user_id",
        "n",
        F.round(sigma / mu, 6).alias("cv"),
        F.round((sigma - mu) / (sigma + mu), 6).alias("burstiness"),
    )


@register(
    "winsorized_mean_value",
    oracle="""
    WITH e AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events
    ),
    r AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
             count(*) OVER (PARTITION BY event_type) AS nn
      FROM e
    ),
    cuts AS (
      SELECT event_type,
             max(CASE WHEN rn = ((nn - 1) * 5) // 100 + 1 THEN cents END) AS lo,
             max(CASE WHEN rn = ((nn - 1) * 95) // 100 + 1 THEN cents END) AS hi
      FROM r GROUP BY event_type
    )
    SELECT e.event_type,
           count(*) AS n,
           round(avg(e.cents), 4) AS raw_mean_cents,
           round(avg(CASE WHEN e.cents < c.lo THEN c.lo
                          WHEN e.cents > c.hi THEN c.hi
                          ELSE e.cents END), 4) AS winsorized_mean_cents,
           min(c.lo) AS p05_cents, min(c.hi) AS p95_cents
    FROM e JOIN cuts c USING (event_type)
    GROUP BY e.event_type
    """,
    doc="winsorized robust mean per event type: clip values at the "
    "DISCRETE p05/p95 (exact BIGINT cents picked by row index — no "
    "interpolation, no cross-engine ulp) and average the clipped cents "
    "(avg of BIGINTs: the sum is exact, one division). The "
    "outlier-robust aggregate a metrics pipeline reports next to the raw "
    "mean; cut computation is one window pass, clipping a broadcast "
    "join of the 5-row cut table",
)
def winsorized_mean_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    wr = Window.partitionBy("event_type").orderBy("cents")
    r = e.withColumn("rn", F.row_number().over(wr)).withColumn(
        "nn", F.count("*").over(Window.partitionBy("event_type"))
    )
    cuts = r.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == F.expr("((nn - 1) * 5) div 100 + 1"), F.col("cents"))).alias("lo"),
        F.max(F.when(F.col("rn") == F.expr("((nn - 1) * 95) div 100 + 1"), F.col("cents"))).alias("hi"),
    )
    clipped = F.when(F.col("cents") < F.col("lo"), F.col("lo")).when(
        F.col("cents") > F.col("hi"), F.col("hi")
    ).otherwise(F.col("cents"))
    return (
        e.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("cents"), 4).alias("raw_mean_cents"),
            F.round(F.avg(clipped), 4).alias("winsorized_mean_cents"),
            F.min("lo").alias("p05_cents"),
            F.min("hi").alias("p95_cents"),
        )
    )


@register(
    "error_rate_sla_windows",
    oracle="""
    WITH b AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS window_start,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
      FROM events
    ),
    w AS (
      SELECT window_start, count(*) AS n_events,
             sum(is_err)::BIGINT AS n_errors
      FROM b GROUP BY window_start
    )
    SELECT window_start, n_events, n_errors,
           10000 * n_errors // n_events AS error_bp,
           (10000 * n_errors // n_events > 500) AS sla_breach
    FROM w WHERE n_events >= 5
    """,
    doc="error-rate SLA monitor per 30-minute window: error share in "
    "integer basis points with a 5%-threshold breach flag, low-traffic "
    "windows (<5 events) suppressed — the alerting query an ops "
    "dashboard polls. Epoch-aligned time_bucket/window agree across "
    "engines for minute-multiple widths; one aggregate over the bucket",
)
def error_rate_sla_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    b = ev.select(
        F.window("ts", "30 minutes").start.cast("timestamp_ntz").alias("window_start"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("is_err"),
    )
    w = b.groupBy("window_start").agg(
        F.count("*").alias("n_events"), F.sum("is_err").cast("bigint").alias("n_errors")
    )
    return w.where(F.col("n_events") >= 5).select(
        "window_start",
        "n_events",
        "n_errors",
        F.expr("10000 * n_errors div n_events").alias("error_bp"),
        (F.expr("10000 * n_errors div n_events") > 500).alias("sla_breach"),
    )


@register(
    "user_behavior_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, count(*) AS n FROM events GROUP BY user_id, event_type
    ),
    tot AS (SELECT user_id, sum(n) AS total FROM c GROUP BY user_id),
    contrib AS (
      SELECT c.user_id,
             CAST(round(-1000000.0 * (c.n::DOUBLE / t.total::DOUBLE)
                        * ln(c.n::DOUBLE / t.total::DOUBLE)) AS BIGINT) AS h_micro
      FROM c JOIN tot t USING (user_id)
    )
    SELECT user_id, count(*)::BIGINT AS n_event_types,
           sum(h_micro)::BIGINT AS entropy_micro
    FROM contrib GROUP BY user_id
    """,
    doc="behavioral diversity per user: Shannon entropy of the event-type "
    "mix, each -p*ln(p) contribution rounded to integer MICRO-nats before "
    "the sum (the zipf_law_fit recipe — BIGINT sums cannot disagree "
    "across engines). Uniform users score high, single-action bots score "
    "0 — the diversity feature that pairs with interarrival_burstiness "
    "for abuse screening. Two hash aggregates on user keys",
)
def user_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    tot = c.groupBy("user_id").agg(F.sum("n").alias("total"))
    p = F.col("n").cast("double") / F.col("total").cast("double")
    contrib = c.join(tot, "user_id").select(
        "user_id",
        F.round(F.lit(-1000000.0) * p * F.log(p)).cast("bigint").alias("h_micro"),
    )
    return contrib.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_event_types"),
        F.sum("h_micro").alias("entropy_micro"),
    )


@register(
    "ma_crossover_signals",
    oracle="""
    WITH daily AS (
      SELECT ts::DATE AS day,
             sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
      FROM events GROUP BY ts::DATE
    ),
    w AS (
      SELECT day, cents,
             sum(cents) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)::BIGINT AS s7,
             count(*) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS n7,
             sum(cents) OVER (ORDER BY day ROWS BETWEEN 27 PRECEDING AND CURRENT ROW)::BIGINT AS s28,
             count(*) OVER (ORDER BY day ROWS BETWEEN 27 PRECEDING AND CURRENT ROW) AS n28
      FROM daily
    ),
    sig AS (
      SELECT day, cents, s7, n7, s28, n28,
             CASE WHEN s7 * n28 > s28 * n7 THEN 1
                  WHEN s7 * n28 < s28 * n7 THEN -1 ELSE 0 END AS above
      FROM w WHERE n28 >= 14
    )
    SELECT day, cents,
           above,
           lag(above) OVER (ORDER BY day) AS prev_above,
           CASE WHEN above = 1 AND lag(above) OVER (ORDER BY day) <= 0 THEN 'golden'
                WHEN above = -1 AND lag(above) OVER (ORDER BY day) >= 0 THEN 'death'
                ELSE NULL END AS crossover
    FROM sig
    """,
    doc="7-day vs 28-day moving-average crossover detector on daily "
    "revenue (the golden/death-cross trend signal): the comparison is "
    "the exact integer cross-multiplication s7*n28 vs s28*n7 — no float "
    "average can flip a signal at the ulp. All windows run over the "
    "days-sized daily aggregate; warm-up windows (<14 days) suppressed",
)
def ma_crossover_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents")
    )
    w7 = Window.orderBy("day").rowsBetween(-6, 0)
    w28 = Window.orderBy("day").rowsBetween(-27, 0)
    w = daily.select(
        "day",
        "cents",
        F.sum("cents").over(w7).alias("s7"),
        F.count("*").over(w7).alias("n7"),
        F.sum("cents").over(w28).alias("s28"),
        F.count("*").over(w28).alias("n28"),
    )
    above = (
        F.when(F.col("s7") * F.col("n28") > F.col("s28") * F.col("n7"), 1)
        .when(F.col("s7") * F.col("n28") < F.col("s28") * F.col("n7"), -1)
        .otherwise(0)
    )
    sig = w.where(F.col("n28") >= 14).select("day", "cents", "s7", "n7", "s28", "n28", above.alias("above"))
    wl = Window.orderBy("day")
    prev = F.lag("above").over(wl)
    return sig.select(
        "day",
        "cents",
        "above",
        prev.alias("prev_above"),
        F.when((F.col("above") == 1) & (prev <= 0), "golden")
        .when((F.col("above") == -1) & (prev >= 0), "death")
        .otherwise(F.lit(None).cast("string"))
        .alias("crossover"),
    )


@register(
    "kaplan_meier_retention",
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
             CAST(round(1000000000.0 *
                  (ln((n_at_risk - n_churned)::DOUBLE) - ln(n_at_risk::DOUBLE)))
                  AS BIGINT) AS lnterm_nano
      FROM risk WHERE n_churned > 0
    )
    SELECT dur AS dur_days, n_at_risk, n_churned,
           round(exp(CAST(sum(lnterm_nano) OVER (ORDER BY dur
                          ROWS UNBOUNDED PRECEDING) AS BIGINT)::DOUBLE
                     / 1000000000.0), 4) AS survival
    FROM steps
    """,
    doc="Kaplan-Meier retention curve: per-user activity duration (first to "
    "last active day), right-censored for users still active near the "
    "corpus end (the estimator's defining feature — censored users leave "
    "the risk set without counting as churn). The survival product "
    "Π(1 - d_t/n_t) runs as ln-sums frozen to integer nano-units per step "
    "(the geometric_mean recipe) so the cumulative product is exact "
    "integer arithmetic with ONE exp per output row. All windows are over "
    "the duration-aggregated table — bounded by the calendar (<=30 rows), "
    "never raw events.",
)
def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        F.count("*").alias("n_users"),
        F.sum(F.when(F.col("censored"), 0).otherwise(1)).alias("n_churned"),
    )
    w_risk = (
        Window.orderBy(F.col("dur").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = per_dur.withColumn(
        "n_at_risk", F.sum("n_users").over(w_risk).cast("bigint")
    )
    steps = risk.where(F.col("n_churned") > 0).withColumn(
        "lnterm_nano",
        F.round(
            F.lit(1000000000.0)
            * (
                F.log((F.col("n_at_risk") - F.col("n_churned")).cast("double"))
                - F.log(F.col("n_at_risk").cast("double"))
            )
        ).cast("bigint"),
    )
    w_surv = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return steps.select(
        F.col("dur").alias("dur_days"),
        "n_at_risk",
        "n_churned",
        F.round(
            F.exp(
                F.sum("lnterm_nano").over(w_surv).cast("bigint").cast("double")
                / F.lit(1000000000.0)
            ),
            4,
        ).alias("survival"),
    )


@register(
    "theil_sen_trend",
    oracle="""
    WITH daily AS (
      SELECT ts::DATE AS day,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY ts::DATE
    ),
    pairs AS (
      SELECT a.day AS d1, b.day AS d2,
             (b.cents - a.cents)::DOUBLE / date_diff('day', a.day, b.day)
               AS slope
      FROM daily a JOIN daily b ON a.day < b.day
    ),
    ranked AS (
      SELECT slope, row_number() OVER (ORDER BY slope, d1, d2) AS rn,
             count(*) OVER () AS n
      FROM pairs
    )
    SELECT (SELECT count(*)::BIGINT FROM daily) AS n_days,
           n::BIGINT AS n_pairs,
           slope AS median_slope_cents_per_day
    FROM ranked WHERE rn = (n + 1) // 2
    """,
    doc="Theil-Sen robust trend estimate of daily purchase revenue: the "
    "median of all pairwise slopes — breakdown point 29%, immune to the "
    "outlier days that wreck OLS (ols_value_trend is the fragile twin). "
    "The pairwise self-join runs over the CALENDAR-BOUNDED daily "
    "aggregate (<=30 rows -> <=435 pairs at any corpus size); slopes are "
    "exact-integer cent differences divided by integer day gaps, so both "
    "engines compute bit-identical doubles, and the median is the "
    "DISCRETE lower-median row pick (no interpolation).",
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents")
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, F.col("a.day") < F.col("b.day")).select(
        F.col("a.day").alias("d1"),
        F.col("b.day").alias("d2"),
        (
            (F.col("b.cents") - F.col("a.cents")).cast("double")
            / F.datediff(F.col("b.day"), F.col("a.day"))
        ).alias("slope"),
    )
    w = Window.orderBy("slope", "d1", "d2")
    ranked = pairs.select(
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    n_days = daily.agg(F.count("*").alias("n_days"))
    return (
        ranked.where(F.col("rn") == F.expr("(n + 1) div 2"))
        .crossJoin(F.broadcast(n_days))
        .select(
            F.col("n_days").cast("bigint").alias("n_days"),
            F.col("n").cast("bigint").alias("n_pairs"),
            F.col("slope").alias("median_slope_cents_per_day"),
        )
    )


@register(
    "attribution_first_last",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             first_value(CASE WHEN event_type IN ('click', 'view')
                              THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS first_touch,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_touch
      FROM events
    )
    SELECT coalesce(first_touch, 'none') AS first_touch,
           coalesce(last_touch, 'none') AS last_touch,
           count(*)::BIGINT AS n_purchases,
           sum(cents)::BIGINT AS revenue_cents
    FROM seq WHERE event_type = 'purchase'
    GROUP BY 1, 2
    """,
    doc="first-touch / last-touch purchase attribution: for every purchase, "
    "the earliest and the most recent engagement touch (click/view) "
    "STRICTLY before it in the user's event sequence, via IGNORE NULLS "
    "first/last_value over a to-1-PRECEDING frame — the marketing-"
    "attribution workhorse expressed as two windows in one pass, no "
    "self-join. Revenue in integer cents; windows partition by user "
    "(bounded per-user state, the sessionization posture).",
)
def attribution_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    touch = F.when(
        F.col("event_type").isin("click", "view"), F.col("event_type")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
    )
    return (
        seq.where(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce("first_touch", F.lit("none")).alias("first_touch"),
            F.coalesce("last_touch", F.lit("none")).alias("last_touch"),
        )
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum("cents").alias("revenue_cents"),
        )
    )


@register(
    "time_weighted_average",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             (lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id)
              - epoch_us(ts)) // 1000000 AS dt_s
      FROM events
    )
    SELECT user_id,
           count(*)::BIGINT AS n_intervals,
           sum(dt_s)::BIGINT AS span_s,
           sum(cents * dt_s)::BIGINT // sum(dt_s)::BIGINT AS twap_cents
    FROM seq WHERE dt_s IS NOT NULL AND dt_s > 0
    GROUP BY user_id
    """,
    doc="time-weighted average value per user (TWAP, the IoT/finance "
    "aggregate for irregularly sampled series): each observation holds "
    "until the next one, so the average weights values by their holding "
    "interval instead of letting burst periods dominate. Intervals are "
    "exact integer seconds from microsecond diffs (identical truncation "
    "on both engines), values exact cents, the weighted sum pure BIGINT "
    "(30-day spans x cent values stay far under 2^63) — the final "
    "division is integer. One user-partitioned window + one aggregate.",
)
def time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    seq = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        ((F.lead(us).over(w) - us) / F.lit(1000000)).cast("bigint").alias("dt_s"),
    ).where(F.col("dt_s").isNotNull() & (F.col("dt_s") > 0))
    return seq.groupBy("user_id").agg(
        F.count("*").alias("n_intervals"),
        F.sum("dt_s").alias("span_s"),
        F.expr(
            "CAST(sum(cents * dt_s) AS BIGINT) div CAST(sum(dt_s) AS BIGINT)"
        ).alias("twap_cents"),
    )


@register(
    "daily_ohlc",
    oracle="""
    WITH px AS (
      SELECT ts::DATE AS day, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    framed AS (
      SELECT day, cents,
             first_value(cents) OVER (PARTITION BY day ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND UNBOUNDED FOLLOWING) AS open_cents,
             last_value(cents) OVER (PARTITION BY day ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND UNBOUNDED FOLLOWING) AS close_cents
      FROM px
    )
    SELECT day, count(*)::BIGINT AS n_trades,
           any_value(open_cents) AS open_cents,
           max(cents) AS high_cents,
           min(cents) AS low_cents,
           any_value(close_cents) AS close_cents
    FROM framed GROUP BY day
    """,
    doc="daily OHLC candlesticks over purchase values: open/close via "
    "first/last_value over the full (ts, event_id)-ordered day frame "
    "(deterministic composite ordering — arg_max/max_by take only scalar "
    "keys, windows take full sort orders), high/low as plain min/max, all "
    "in exact integer cents. The market-data summary shape; windows "
    "partition by day, one aggregate per day after.",
)
def daily_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    px = ev.select(
        F.to_date("ts").alias("day"),
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("day")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    framed = px.select(
        "day",
        "cents",
        F.first("cents").over(w).alias("open_cents"),
        F.last("cents").over(w).alias("close_cents"),
    )
    return framed.groupBy("day").agg(
        F.count("*").alias("n_trades"),
        F.any_value("open_cents").alias("open_cents"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.any_value("close_cents").alias("close_cents"),
    )


@register(
    "session_path_trigrams",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS t2,
             lead(event_type, 2) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS t3
      FROM events
    ),
    tri AS (
      SELECT event_type || '>' || t2 || '>' || t3 AS path,
             count(*)::BIGINT AS n
      FROM seq WHERE t3 IS NOT NULL
      GROUP BY 1
    ),
    ranked AS (
      SELECT path, n, row_number() OVER (ORDER BY n DESC, path) AS rk,
             CAST(sum(n) OVER () AS BIGINT) AS total
      FROM tri
    )
    SELECT path, n, rk AS rank, 10000 * n // total AS share_bp
    FROM ranked WHERE rk <= 20
    """,
    doc="sequential pattern mining over user journeys: the 20 most common "
    "3-step event-type paths (trigrams of each user's time-ordered "
    "sequence) with exact integer share — the 'how do users actually "
    "move' report behind funnel design, one step up from the pairwise "
    "transition matrix. Two lead() offsets in a single user-partitioned "
    "window pass; the rank/share windows run over the |types|^3-bounded "
    "path table, never raw events.",
)
def session_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).where(F.col("t3").isNotNull())
    tri = seq.groupBy(
        F.concat_ws(">", "event_type", "t2", "t3").alias("path")
    ).agg(F.count("*").alias("n"))
    wr = Window.orderBy(F.col("n").desc(), "path")
    ranked = tri.select(
        "path",
        "n",
        F.row_number().over(wr).cast("bigint").alias("rank"),
        F.sum("n").over(Window.partitionBy()).cast("bigint").alias("total"),
    )
    return ranked.where(F.col("rank") <= 20).select(
        "path", "n", "rank", F.expr("10000 * n div total").alias("share_bp")
    )


@register(
    "exponential_smoothing_forecast",
    oracle="""
    WITH daily AS (
      SELECT ts::DATE AS day,
             sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY ts::DATE
    ),
    idx AS (
      SELECT day, cents,
             row_number() OVER (ORDER BY day) - 1 AS i,
             count(*) OVER ()::BIGINT AS n
      FROM daily
    ),
    -- closed form of simple exponential smoothing (alpha = 0.3):
    -- s_t = alpha * sum_{j<=t} (1-alpha)^(t-j) * y_j  +  (1-alpha)^t * y_0
    -- each weighted term is frozen to integer micro-cents, so the
    -- cumulative sums are exact BIGINT arithmetic on both engines
    terms AS (
      SELECT a.day, a.cents, a.i,
             sum(CAST(round(0.3 * pow(0.7, (a.i - b.i)::DOUBLE)
                            * b.cents * 1000000.0) AS BIGINT))::BIGINT
               AS smooth_micro_partial
      FROM idx a JOIN idx b ON b.i <= a.i
      GROUP BY a.day, a.cents, a.i
    ),
    base AS (SELECT cents AS y0 FROM idx WHERE i = 0)
    SELECT t.day, t.cents,
           (t.smooth_micro_partial
            + CAST(round(pow(0.7, t.i::DOUBLE + 1.0) * b.y0 * 1000000.0)
                   AS BIGINT)) // 1000000 AS smoothed_cents,
           t.cents - ((t.smooth_micro_partial
                       + CAST(round(pow(0.7, t.i::DOUBLE + 1.0) * b.y0
                                    * 1000000.0) AS BIGINT)) // 1000000)
             AS surprise_cents
    FROM terms t, base b
    """,
    doc="simple exponential smoothing (alpha = 0.3) of daily purchase "
    "revenue via its CLOSED FORM — s_t = alpha*sum (1-alpha)^(t-j) y_j "
    "+ (1-alpha)^(t+1) y_0 — so no sequential recurrence is needed: each "
    "weighted term freezes to integer micro-cents (pow on small integer "
    "exponents is reproducible across engines) and the per-day sums are "
    "exact BIGINTs. surprise_cents (actual minus smoothed) is the "
    "forecast-error anomaly signal. The pairwise weight join is bounded "
    "by the CALENDAR (<=30x30 terms at any corpus size).",
)
def exponential_smoothing_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents")
    )
    wi = Window.orderBy("day")
    idx = daily.select(
        "day",
        "cents",
        (F.row_number().over(wi) - 1).alias("i"),
    )
    a = idx.select(
        F.col("day"), F.col("cents"), F.col("i").alias("ia")
    )
    b = idx.select(F.col("cents").alias("cb"), F.col("i").alias("ib"))
    terms = (
        a.join(b, F.col("ib") <= F.col("ia"))
        .groupBy("day", "cents", "ia")
        .agg(
            F.sum(
                F.round(
                    F.lit(0.3)
                    * F.pow(F.lit(0.7), (F.col("ia") - F.col("ib")).cast("double"))
                    * F.col("cb")
                    * F.lit(1000000.0)
                ).cast("bigint")
            ).alias("smooth_micro_partial")
        )
    )
    base = idx.where(F.col("i") == 0).select(F.col("cents").alias("y0"))
    smoothed_micro = F.col("smooth_micro_partial") + F.round(
        F.pow(F.lit(0.7), F.col("ia").cast("double") + F.lit(1.0))
        * F.col("y0")
        * F.lit(1000000.0)
    ).cast("bigint")
    return (
        terms.crossJoin(F.broadcast(base))
        .select(
            "day",
            "cents",
            F.expr(
                "CAST(smooth_micro_partial + CAST(round(pow(0.7, CAST(ia AS DOUBLE)"
                " + 1.0) * y0 * 1000000.0) AS BIGINT) AS BIGINT) div 1000000"
            ).alias("smoothed_cents"),
        )
        .withColumn("surprise_cents", F.col("cents") - F.col("smoothed_cents"))
    )


@register(
    "streaming_error_rate_sla",
    oracle="""
    WITH b AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS window_start,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
      FROM events
    ),
    w AS (
      SELECT window_start, count(*) AS n_events,
             sum(is_err)::BIGINT AS n_errors
      FROM b GROUP BY window_start
    )
    SELECT window_start, n_events, n_errors,
           10000 * n_errors // n_events AS error_bp,
           (10000 * n_errors // n_events > 500) AS sla_breach
    FROM w WHERE n_events >= 5
    """,
    doc="the error-rate SLA monitor as a LIVE stream: 30-minute event-time "
    "tumbling windows with a 2h late-data watermark, drained via "
    "availableNow — the alerting pipeline error_rate_sla_windows "
    "dashboards in batch, deployed incrementally. Basis-point math and "
    "the low-traffic suppression run on the drained sink (complete "
    "mode), so the output hash-matches the batch twin's oracle on any "
    "session timezone (instant/NTZ conversion via raw epoch).",
)
def streaming_error_rate_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_spark.streaming import (
        events_stream,
        ntz_of_instant,
        run_to_memory,
    )

    stream = events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_errors"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "n_errors")
    )
    name = "mre_stream_error_sla"
    run_to_memory(agg, name, output_mode="complete")
    return (
        spark.table(name)
        .where(F.col("n_events") >= 5)
        .select(
            ntz_of_instant("window_start").alias("window_start"),
            "n_events",
            "n_errors",
            F.expr("10000 * n_errors div n_events").alias("error_bp"),
            (F.expr("10000 * n_errors div n_events") > 500).alias("sla_breach"),
        )
    )


@register(
    "cohort_retention_triangle",
    oracle="""
    WITH d AS (
      SELECT user_id,
             date_diff('day', DATE '1970-01-05', ts::DATE) // 7 AS wk
      FROM events
    ),
    first_wk AS (SELECT user_id, min(wk) AS cohort_wk FROM d GROUP BY user_id),
    sizes AS (
      SELECT cohort_wk, count(*)::BIGINT AS cohort_size
      FROM first_wk GROUP BY cohort_wk
    ),
    active AS (
      SELECT DISTINCT f.cohort_wk, d.wk - f.cohort_wk AS week_offset, d.user_id
      FROM d JOIN first_wk f ON f.user_id = d.user_id
    ),
    cells AS (
      SELECT cohort_wk, week_offset, count(*)::BIGINT AS n_active
      FROM active GROUP BY cohort_wk, week_offset
    )
    SELECT c.cohort_wk, c.week_offset, s.cohort_size, c.n_active,
           10000 * c.n_active // s.cohort_size AS retention_bp
    FROM cells c JOIN sizes s ON s.cohort_wk = c.cohort_wk
    """,
    doc="weekly cohort retention triangle: users grouped by first-activity "
    "week (epoch-Monday-aligned portable week index, the "
    "weekday_revenue_profile convention), each later week's active share "
    "of the original cohort in integer basis points — THE retention "
    "report every growth dashboard leads with (week 0 rows read 10000 by "
    "construction). Two user-keyed aggregates + a distinct over (cohort, "
    "offset, user); the triangle itself is weeks x weeks bounded.",
)
def cohort_retention_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        F.expr(
            "datediff(to_date(ts), DATE '1970-01-05') div 7"
        ).alias("wk"),
    )
    first_wk = d.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    sizes = first_wk.groupBy("cohort_wk").agg(F.count("*").alias("cohort_size"))
    active = (
        d.join(first_wk, "user_id")
        .select("cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("week_offset"), "user_id")
        .distinct()
    )
    cells = active.groupBy("cohort_wk", "week_offset").agg(
        F.count("*").alias("n_active")
    )
    return cells.join(sizes, "cohort_wk").select(
        "cohort_wk",
        "week_offset",
        F.col("cohort_size").cast("bigint").alias("cohort_size"),
        F.col("n_active").cast("bigint").alias("n_active"),
        F.expr(
            "10000 * CAST(n_active AS BIGINT) div CAST(cohort_size AS BIGINT)"
        ).alias("retention_bp"),
    )


@register(
    "revenue_autocorrelation",
    oracle="""
    WITH daily AS (
      SELECT ts::DATE AS day,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY ts::DATE
    ),
    stats AS (SELECT count(*)::BIGINT AS n, sum(cents)::BIGINT AS s FROM daily),
    c AS (
      SELECT row_number() OVER (ORDER BY day) AS t,
             n * cents - s AS cdev
      FROM daily, stats
    ),
    den AS (SELECT sum(cdev * cdev)::BIGINT AS den FROM c),
    lags AS (
      SELECT k FROM (VALUES (1), (2), (3), (7)) AS v(k)
    ),
    num AS (
      SELECT l.k, sum(a.cdev * b.cdev)::BIGINT AS num
      FROM lags l
      JOIN c a ON TRUE
      JOIN c b ON b.t = a.t + l.k
      GROUP BY l.k
    )
    SELECT num.k AS lag_days, num.num AS num_scaled, den.den AS den_scaled,
           round(num.num::DOUBLE / den.den::DOUBLE, 6) AS acf
    FROM num, den
    """,
    doc="sample autocorrelation of daily purchase revenue at lags 1, 2, 3 "
    "and 7 days — the weekly-seasonality / momentum fingerprint a "
    "forecasting pipeline inspects before picking model structure (a "
    "spike at lag 7 says weekly cycle). Deviations are scaled by n "
    "(cdev = n*x - S) so numerator and denominator are EXACT BIGINTs; "
    "the only float is the final ratio of two identical integers. Lag "
    "pairing is an equi-join on the calendar-bounded day index.",
)
def revenue_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents")
    )
    stats = daily.agg(
        F.count("*").alias("n"), F.sum("cents").alias("s")
    )
    wt = Window.orderBy("day")
    c = (
        daily.crossJoin(F.broadcast(stats))
        .select(
            F.row_number().over(wt).alias("t"),
            (F.col("n") * F.col("cents") - F.col("s")).alias("cdev"),
        )
    )
    den = c.agg(F.sum(F.col("cdev") * F.col("cdev")).cast("bigint").alias("den"))
    lags = F.explode(F.array(*[F.lit(k) for k in (1, 2, 3, 7)])).alias("k")
    a = c.select(F.col("t"), F.col("cdev").alias("ca")).select("*", lags)
    b = c.select(F.col("t").alias("tb"), F.col("cdev").alias("cb"))
    num = (
        a.join(b, F.col("tb") == F.col("t") + F.col("k"))
        .groupBy("k")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("num"))
    )
    return num.crossJoin(F.broadcast(den)).select(
        F.col("k").cast("integer").alias("lag_days"),
        F.col("num").alias("num_scaled"),
        F.col("den").alias("den_scaled"),
        F.round(F.col("num").cast("double") / F.col("den").cast("double"), 6).alias(
            "acf"
        ),
    )


@register(
    "attribution_linear_split",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn,
             sum(CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS k
      FROM events
    ),
    purchases AS (
      SELECT user_id, rn AS prn, cents, k FROM seq
      WHERE event_type = 'purchase' AND k > 0
    ),
    touches AS (
      SELECT user_id, rn AS trn, event_type AS touch_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS tidx
      FROM seq WHERE event_type IN ('click', 'view')
    ),
    split AS (
      SELECT t.touch_type,
             p.cents // p.k
             + CASE WHEN t.tidx = 1 THEN p.cents % p.k ELSE 0 END
               AS attributed_cents
      FROM purchases p
      JOIN touches t ON t.user_id = p.user_id AND t.trn < p.prn
    )
    SELECT touch_type,
           count(*)::BIGINT AS n_attributions,
           sum(attributed_cents)::BIGINT AS attributed_cents
    FROM split GROUP BY touch_type
    """,
    doc="linear multi-touch attribution: every purchase's cents split "
    "EQUALLY across all preceding engagement touches (click/view) in the "
    "user's sequence — the fair-share model between first-touch and "
    "last-touch (attribution_first_last). The split is exact integer "
    "division with the remainder credited to the user's EARLIEST touch, "
    "so attributed cents sum back to revenue cents exactly (no float "
    "leakage). The purchase-to-touch fan-out is inherent to the model "
    "and bounded per user (the sessionization posture); everything is "
    "one user-keyed window pass + one user equi-join.",
)
def attribution_linear_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    is_touch = F.col("event_type").isin("click", "view")
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.row_number().over(w).alias("rn"),
        F.sum(F.when(is_touch, 1).otherwise(0)).over(wprev).alias("k"),
    )
    purchases = seq.where(
        (F.col("event_type") == "purchase") & (F.col("k") > 0)
    ).select("user_id", F.col("rn").alias("prn"), "cents", "k")
    wt = Window.partitionBy("user_id").orderBy("ts", "event_id")
    touches = (
        seq.where(is_touch)
        .select(
            "user_id",
            "ts",
            "event_id",
            F.col("rn").alias("trn"),
            F.col("event_type").alias("touch_type"),
        )
        .withColumn("tidx", F.row_number().over(wt))
        .drop("ts", "event_id")
    )
    split = (
        purchases.join(touches, "user_id")
        .where(F.col("trn") < F.col("prn"))
        .select(
            "touch_type",
            (
                F.expr("cents div k")
                + F.when(F.col("tidx") == 1, F.expr("cents % k")).otherwise(0)
            ).alias("attributed_cents"),
        )
    )
    return split.groupBy("touch_type").agg(
        F.count("*").alias("n_attributions"),
        F.sum("attributed_cents").cast("bigint").alias("attributed_cents"),
    )


@register(
    "traffic_heatmap",
    oracle="""
    WITH g AS (
      SELECT date_diff('day', DATE '1970-01-05', ts::DATE) % 7 AS dow,
             hour(ts) AS hr
      FROM events
    ),
    c AS (SELECT dow, hr, count(*)::BIGINT AS n FROM g GROUP BY dow, hr),
    tot AS (SELECT sum(n)::BIGINT AS total FROM c)
    SELECT dow, hr::BIGINT AS hr, n, 10000 * n // total AS share_bp
    FROM c, tot
    """,
    doc="day-of-week x hour-of-day traffic heatmap with integer shares — "
    "the capacity-planning / on-call staffing view every ops dashboard "
    "carries. Weekday via the portable days-since-epoch-Monday modulus "
    "(date_trunc-free, timezone-safe on NTZ); F.hour on NTZ is likewise "
    "tz-safe. One aggregate to a 7x24-bounded grid + a 1-row total.",
)
def traffic_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    g = ev.select(
        (
            F.datediff(F.to_date("ts"), F.lit("1970-01-05").cast("date")) % 7
        ).alias("dow"),
        F.hour("ts").alias("hr"),
    )
    c = g.groupBy("dow", "hr").agg(F.count("*").alias("n"))
    tot = c.agg(F.sum("n").alias("total"))
    return c.crossJoin(F.broadcast(tot)).select(
        "dow",
        F.col("hr").cast("bigint").alias("hr"),
        "n",
        F.expr("10000 * n div total").alias("share_bp"),
    )


@register(
    "new_vs_returning_daily",
    oracle="""
    WITH d AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
    f AS (SELECT user_id, min(day) AS first_day FROM d GROUP BY user_id)
    SELECT d.day,
           sum(CASE WHEN d.day = f.first_day THEN 1 ELSE 0 END)::BIGINT
             AS n_new,
           sum(CASE WHEN d.day > f.first_day THEN 1 ELSE 0 END)::BIGINT
             AS n_returning,
           count(*)::BIGINT AS n_active
    FROM d JOIN f ON f.user_id = d.user_id
    GROUP BY d.day
    """,
    doc="daily new-vs-returning active users: each (user, day) classified "
    "by whether it is the user's first active day — the composition "
    "metric behind 'is growth acquisition or retention'. One distinct, "
    "one per-user min, one join back; all counts exact.",
)
def new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    d = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    f = d.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        d.join(f, "user_id")
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("day") == F.col("first_day"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_new"),
            F.sum(F.when(F.col("day") > F.col("first_day"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_returning"),
            F.count("*").alias("n_active"),
        )
    )


@register(
    "weekly_growth_rate",
    oracle="""
    WITH wk AS (
      SELECT date_diff('day', DATE '1970-01-05', ts::DATE) // 7 AS week,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    w AS (SELECT week, sum(cents)::BIGINT AS cents FROM wk GROUP BY week),
    l AS (
      SELECT week, cents,
             lag(cents) OVER (ORDER BY week) AS prev_cents
      FROM w
    )
    SELECT week, cents AS revenue_cents, prev_cents,
           10000 * (cents - prev_cents) // prev_cents AS wow_growth_bp
    FROM l WHERE prev_cents IS NOT NULL
    """,
    doc="week-over-week revenue growth in integer basis points (portable "
    "Monday-aligned week index; both engines' integer division truncates "
    "toward zero, so negative growth weeks agree exactly) — the headline "
    "growth KPI. One aggregate to the weeks-bounded table + one lag.",
)
def weekly_growth_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    wk = ev.select(
        F.expr("datediff(to_date(ts), DATE '1970-01-05') div 7").alias("week"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = wk.groupBy("week").agg(F.sum("cents").alias("cents"))
    wl = Window.orderBy("week")
    l = w.withColumn("prev_cents", F.lag("cents").over(wl))
    return l.where(F.col("prev_cents").isNotNull()).select(
        "week",
        F.col("cents").alias("revenue_cents"),
        "prev_cents",
        F.expr("10000 * (cents - prev_cents) div prev_cents").alias("wow_growth_bp"),
    )


@register(
    "peak_concurrent_sessions",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > 1800 * 1000000 OR lag(ts)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
    ),
    s AS (
      SELECT user_id,
             CAST(sum(is_start) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_no,
             ts
      FROM g
    ),
    sess AS (
      SELECT min(ts) AS start_ts, max(ts) AS end_ts FROM s
      GROUP BY user_id, session_no
    ),
    deltas AS (
      SELECT start_ts AS at_ts, 1 AS d FROM sess
      UNION ALL
      SELECT end_ts + INTERVAL 1 MICROSECOND, -1 FROM sess
    ),
    sweep AS (
      SELECT at_ts::DATE AS day,
             CAST(sum(d) OVER (ORDER BY at_ts, d
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS concurrent
      FROM deltas
    )
    SELECT day, max(concurrent)::BIGINT AS peak_concurrent
    FROM sweep GROUP BY day
    """,
    doc="peak concurrent sessions per day via the sweep-line algorithm in "
    "SQL: 30-minute-gap sessionization, then +1/-1 deltas at session "
    "boundaries and a running sum whose per-day max is the answer — the "
    "capacity metric behind connection-pool and licence sizing. End "
    "deltas fire one microsecond AFTER the last event (a session ending "
    "at instant T still counts at T); ties order (+1 before -1 is "
    "impossible at the same instant by that shift, and equal instants "
    "order by delta) so both engines sweep identically. The global "
    "running sum is the inherently sequential step — at scale, sweep per "
    "day-partition after splitting boundary-crossing sessions.",
)
def peak_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    g = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            (us - F.lag(us).over(w) > 1800 * 1000000)
            | F.lag("ts").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    s = g.select(
        "user_id",
        "ts",
        F.sum("is_start")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("session_no"),
    )
    sess = s.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts")
    )
    deltas = sess.select(
        F.col("start_ts").alias("at_ts"), F.lit(1).alias("d")
    ).unionByName(
        sess.select(
            F.expr("end_ts + INTERVAL 1 MICROSECOND").alias("at_ts"),
            F.lit(-1).alias("d"),
        )
    )
    wsweep = Window.orderBy("at_ts", "d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sweep = deltas.select(
        F.to_date("at_ts").alias("day"),
        F.sum("d").over(wsweep).cast("bigint").alias("concurrent"),
    )
    return sweep.groupBy("day").agg(F.max("concurrent").alias("peak_concurrent"))


@register(
    "event_debounce",
    oracle="""
    WITH x AS (
      SELECT event_type, ts, user_id, event_id,
             lag(ts) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    flagged AS (
      SELECT event_type,
             CASE WHEN prev_ts IS NOT NULL
                       AND date_diff('microsecond', prev_ts, ts) < 5000000
                  THEN 1 ELSE 0 END AS bounced
      FROM x
    )
    SELECT event_type,
           count(*)::BIGINT                          AS n_events,
           sum(bounced)::BIGINT                      AS n_debounced,
           (count(*) - sum(bounced))::BIGINT         AS n_survivors,
           (sum(bounced) * 1000000 // count(*))::BIGINT AS debounce_ppm
    FROM flagged GROUP BY event_type
    """,
    doc="telemetry debounce audit: per event type, how many events repeat "
    "the same (user, type) within 5 seconds of the previous one — the "
    "double-click / retry-storm filter every ingest pipeline applies "
    "before sessionization. One window pass partitioned by (user_id, "
    "event_type) — state per task is one prior timestamp, so the operator "
    "scales with the number of users, never the event count per partition. "
    "Gap comparison is exact integer microseconds (micro-precision inputs, "
    "queries/base.py conventions); the ppm rate is integer division so "
    "engines cannot disagree on rounding.",
)
def event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    x = ev.select(
        "event_type",
        "ts",
        F.lag("ts").over(w).alias("prev_ts"),
    )
    flagged = x.select(
        "event_type",
        F.when(
            F.col("prev_ts").isNotNull()
            & (F.expr("timestampdiff(MICROSECOND, prev_ts, ts)") < 5000000),
            1,
        )
        .otherwise(0)
        .alias("bounced"),
    )
    return flagged.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("bounced").cast("bigint").alias("n_debounced"),
        (F.count("*") - F.sum("bounced")).cast("bigint").alias("n_survivors"),
        F.expr("sum(bounced) * 1000000 div count(*)").cast("bigint").alias("debounce_ppm"),
    )


@register(
    "event_path_templates",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
      FROM events
    ),
    marks AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END
               AS is_new
      FROM seq
    ),
    runs AS (
      SELECT user_id, event_type,
             (sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING))::BIGINT AS run_idx
      FROM marks
    ),
    collapsed AS (
      SELECT DISTINCT user_id, run_idx, event_type FROM runs WHERE run_idx <= 5
    ),
    paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY run_idx) AS template
      FROM collapsed GROUP BY user_id
    ),
    freq AS (
      SELECT template, count(*)::BIGINT AS n_users FROM paths GROUP BY template
    ),
    ranked AS (
      SELECT template, n_users,
             row_number() OVER (ORDER BY n_users DESC, template) AS rank
      FROM freq
    )
    SELECT template, n_users, rank::BIGINT AS rank FROM ranked WHERE rank <= 10
    """,
    doc="user-journey templates: collapse each user's event sequence with "
    "run-length encoding (consecutive repeats merge — the debounced view "
    "of the journey), keep the first 5 collapsed steps, and rank the 10 "
    "most common templates — the 'how do users actually start' report "
    "that funnels (fixed step list) and trigrams (local windows) both "
    "miss. Two user-partitioned window passes (lag + running sum — "
    "bounded per-user state), one array_sort/array_join per user, and a "
    "|templates|-bounded frequency aggregate. Template extraction keys "
    "on user end-to-end, so the shape co-partitions at any event count.",
)
def event_path_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "ts", "event_id", "event_type", F.lag("event_type").over(w).alias("prev")
    )
    marks = seq.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    runs = marks.select(
        "user_id",
        "event_type",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("run_idx"),
    )
    collapsed = runs.where(F.col("run_idx") <= 5).distinct()
    paths = collapsed.groupBy("user_id").agg(
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(run_idx, event_type))),"
                   " x -> x.event_type)"),
            ">",
        ).alias("template")
    )
    freq = paths.groupBy("template").agg(F.count("*").alias("n_users"))
    rw = Window.orderBy(F.desc("n_users"), F.asc("template"))
    return (
        freq.withColumn("rank", F.row_number().over(rw).cast("bigint"))
        .where(F.col("rank") <= 10)
        .select("template", "n_users", "rank")
    )


@register(
    "attribution_u_shaped",
    oracle="""
    WITH c AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
    ),
    assist AS (
      SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts, c.event_id) AS pos,
             count(*) OVER (PARTITION BY p.event_id) AS n
      FROM p JOIN c ON c.user_id = p.user_id
                   AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
    ),
    credited AS (
      SELECT user_id, purchase_id, click_id, pos, n,
             CASE
               WHEN n = 1 THEN 1000000
               WHEN n = 2 THEN 500000
               WHEN pos = 1 THEN 400000
                 + (1000000 - 800000 - (200000 // (n - 2)) * (n - 2))
               WHEN pos = n THEN 400000
               ELSE 200000 // (n - 2)
             END AS credit_micro,
             CASE WHEN pos = 1 THEN 'first'
                  WHEN pos = n THEN 'last'
                  ELSE 'middle' END AS role
      FROM assist
    )
    SELECT user_id,
           count(DISTINCT purchase_id) AS n_attr_purchases,
           sum(CASE WHEN role = 'first' THEN credit_micro ELSE 0 END)::BIGINT
             AS first_credit_micro,
           sum(CASE WHEN role = 'middle' THEN credit_micro ELSE 0 END)::BIGINT
             AS middle_credit_micro,
           sum(CASE WHEN role = 'last' THEN credit_micro ELSE 0 END)::BIGINT
             AS last_credit_micro
    FROM credited GROUP BY user_id
    """,
    doc="U-shaped (position-based) multi-touch attribution: 40% of each "
    "purchase's credit to the first assisting click, 40% to the last, "
    "20% shared across the middles — the standard position model next to "
    "linear (multitouch_attribution / attribution_linear_split) and "
    "first/last-touch (attribution_first_last). Credit is INTEGER "
    "micro-units with the integer-division remainder reconciled to the "
    "first touch (attribution_linear_split convention), so every "
    "purchase's credits sum to exactly 1,000,000 and engines agree "
    "bit-for-bit. Same interval-join + per-purchase window shape as the "
    "linear model — watermark-boundable at stream scale.",
)
def attribution_u_shaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    c = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    assist = p.join(
        c,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("cts") < F.col("pts")),
    )
    w = Window.partitionBy("purchase_id").orderBy("cts", "click_id")
    ranked = assist.select(
        "user_id",
        "purchase_id",
        "click_id",
        F.row_number().over(w).alias("pos"),
        F.count("*").over(Window.partitionBy("purchase_id")).alias("n"),
    )
    credited = ranked.select(
        "user_id",
        "purchase_id",
        F.expr(
            "CASE WHEN n = 1 THEN 1000000"
            " WHEN n = 2 THEN 500000"
            " WHEN pos = 1 THEN 400000"
            "   + (1000000 - 800000 - (200000 div (n - 2)) * (n - 2))"
            " WHEN pos = n THEN 400000"
            " ELSE 200000 div (n - 2) END"
        ).alias("credit_micro"),
        F.expr(
            "CASE WHEN pos = 1 THEN 'first' WHEN pos = n THEN 'last'"
            " ELSE 'middle' END"
        ).alias("role"),
    )
    return credited.groupBy("user_id").agg(
        F.countDistinct("purchase_id").alias("n_attr_purchases"),
        F.sum(F.when(F.col("role") == "first", F.col("credit_micro")).otherwise(0))
        .cast("bigint")
        .alias("first_credit_micro"),
        F.sum(F.when(F.col("role") == "middle", F.col("credit_micro")).otherwise(0))
        .cast("bigint")
        .alias("middle_credit_micro"),
        F.sum(F.when(F.col("role") == "last", F.col("credit_micro")).otherwise(0))
        .cast("bigint")
        .alias("last_credit_micro"),
    )


@register(
    "cross_correlation_lags",
    oracle="""
    WITH daily AS (
      SELECT ts::DATE AS day,
             count(*)::BIGINT AS x,
             sum(CASE WHEN event_type = 'purchase'
                      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
               AS y
      FROM events GROUP BY ts::DATE
    ),
    stats AS (
      SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy
      FROM daily
    ),
    c AS (
      SELECT row_number() OVER (ORDER BY day) AS t,
             n * x - sx AS cdx,
             n * y - sy AS cdy
      FROM daily, stats
    ),
    den AS (
      SELECT sum(cdx * cdx)::DOUBLE AS denx, sum(cdy * cdy)::DOUBLE AS deny
      FROM c
    ),
    lags AS (
      SELECT k FROM (VALUES (-7), (-3), (-1), (0), (1), (3), (7)) AS v(k)
    ),
    num AS (
      SELECT l.k, count(*)::BIGINT AS n_pairs,
             sum(a.cdx * b.cdy)::DOUBLE AS num
      FROM lags l
      JOIN c a ON TRUE
      JOIN c b ON b.t = a.t + l.k
      GROUP BY l.k
    )
    SELECT num.k AS lag_days, num.n_pairs,
           round(num.num / sqrt(den.denx * den.deny), 6) AS ccf
    FROM num, den
    """,
    doc="lead-lag cross-correlation between daily event volume (all types) "
    "and daily purchase revenue at lags -7..7 — the 'does traffic lead "
    "revenue, and by how many days?' diagnostic a demand-forecasting "
    "pipeline runs before choosing exogenous regressors. Same n-scaled "
    "integer-deviation trick as revenue_autocorrelation (cdev = n*v - S, "
    "EXACT BIGINTs); squared/cross products are summed as DECIMAL(38,0) "
    "on the Spark side (DuckDB sums to HUGEINT) so the denominator cannot "
    "overflow 63 bits at any corpus scale, and both exact integers convert "
    "once to double for the final ratio. Lag pairing is an equi-join on "
    "the calendar-bounded day index; everything after the first daily "
    "aggregate is bounded by the calendar, not the corpus.",
)
def cross_correlation_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
        ).alias("y"),
    )
    stats = daily.agg(
        F.count("*").alias("n"), F.sum("x").alias("sx"), F.sum("y").alias("sy")
    )
    wt = Window.orderBy("day")
    c = daily.crossJoin(F.broadcast(stats)).select(
        F.row_number().over(wt).alias("t"),
        (F.col("n") * F.col("x") - F.col("sx")).alias("cdx"),
        (F.col("n") * F.col("y") - F.col("sy")).alias("cdy"),
    )
    den = c.agg(
        F.sum((F.col("cdx") * F.col("cdx")).cast("decimal(38,0)"))
        .cast("double")
        .alias("denx"),
        F.sum((F.col("cdy") * F.col("cdy")).cast("decimal(38,0)"))
        .cast("double")
        .alias("deny"),
    )
    lags = F.explode(
        F.array(*[F.lit(k) for k in (-7, -3, -1, 0, 1, 3, 7)])
    ).alias("k")
    a = c.select(F.col("t"), F.col("cdx").alias("ca")).select("*", lags)
    b = c.select(F.col("t").alias("tb"), F.col("cdy").alias("cb"))
    num = (
        a.join(b, F.col("tb") == F.col("t") + F.col("k"))
        .groupBy("k")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum((F.col("ca") * F.col("cb")).cast("decimal(38,0)"))
            .cast("double")
            .alias("num"),
        )
    )
    return num.crossJoin(F.broadcast(den)).select(
        F.col("k").cast("integer").alias("lag_days"),
        F.col("n_pairs"),
        F.round(
            F.col("num") / F.sqrt(F.col("denx") * F.col("deny")), 6
        ).alias("ccf"),
    )


@register(
    "feature_mutual_information",
    oracle="""
    WITH cells AS (
      SELECT event_type, hour(ts)::BIGINT AS hr, count(*)::BIGINT AS cxy
      FROM events GROUP BY event_type, hour(ts)
    ),
    mx AS (SELECT event_type, sum(cxy)::BIGINT AS cx FROM cells GROUP BY event_type),
    my AS (SELECT hr, sum(cxy)::BIGINT AS cy FROM cells GROUP BY hr),
    tot AS (SELECT sum(cxy)::BIGINT AS n FROM cells),
    terms AS (
      SELECT c.cxy,
             CAST(round(1e6 * ln((c.cxy::DOUBLE * t.n::DOUBLE)
                                 / (mx.cx::DOUBLE * my.cy::DOUBLE))) AS BIGINT)
               AS t_micro
      FROM cells c JOIN mx USING (event_type) JOIN my USING (hr), tot t
    ),
    hx AS (
      SELECT sum(cx * CAST(round(1e6 * ln(cx::DOUBLE / t.n::DOUBLE)) AS BIGINT))
               ::BIGINT AS hx_micro_sum
      FROM mx, tot t
    ),
    hy AS (
      SELECT sum(cy * CAST(round(1e6 * ln(cy::DOUBLE / t.n::DOUBLE)) AS BIGINT))
               ::BIGINT AS hy_micro_sum
      FROM my, tot t
    ),
    mi AS (SELECT sum(cxy * t_micro)::BIGINT AS mi_micro_sum FROM terms)
    SELECT t.n AS n_events,
           round(mi.mi_micro_sum::DOUBLE / (1e6 * t.n::DOUBLE), 6) AS mi_nats,
           round(-hx.hx_micro_sum::DOUBLE / (1e6 * t.n::DOUBLE), 6) AS h_type,
           round(-hy.hy_micro_sum::DOUBLE / (1e6 * t.n::DOUBLE), 6) AS h_hour,
           round(mi.mi_micro_sum::DOUBLE
                 / sqrt(hx.hx_micro_sum::DOUBLE * hy.hy_micro_sum::DOUBLE), 6)
             AS nmi
    FROM tot t, mi, hx, hy
    """,
    doc="mutual information between event_type and hour-of-day (plus both "
    "marginal entropies and normalized MI) — the feature-dependence audit "
    "a training pipeline runs to decide whether two categorical features "
    "are redundant or informative. Complements chi2_independence: chi2 "
    "answers 'dependent at all?', MI answers 'how many nats?'. One corpus "
    "aggregate to the (types x 24)-cell grid; margins re-aggregate the "
    "GRID, not the corpus, so everything past the first shuffle is "
    "bounded. ln() runs once per bounded cell and is frozen to integer "
    "micro-nats immediately (the temperature_mixture_weights recipe); the "
    "weighted sums are exact BIGINTs and the only floats are three final "
    "ratios of identical integers. F.hour on TIMESTAMP_NTZ is tz-safe.",
)
def feature_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.hour("ts").cast("bigint").alias("hr")
    ).agg(F.count("*").alias("cxy"))
    cells = cells.localCheckpoint(eager=True)  # grid reused by 4 aggregates
    mx = cells.groupBy("event_type").agg(F.sum("cxy").alias("cx"))
    my = cells.groupBy("hr").agg(F.sum("cxy").alias("cy"))
    tot = cells.agg(F.sum("cxy").alias("n"))
    t_micro = F.round(
        F.lit(1e6)
        * F.log(
            (F.col("cxy").cast("double") * F.col("n").cast("double"))
            / (F.col("cx").cast("double") * F.col("cy").cast("double"))
        )
    ).cast("bigint")
    mi = (
        cells.join(F.broadcast(mx), "event_type")
        .join(F.broadcast(my), "hr")
        .crossJoin(F.broadcast(tot))
        .agg(F.sum(F.col("cxy") * t_micro).cast("bigint").alias("mi_micro_sum"))
    )
    hx = mx.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.col("cx")
            * F.round(
                F.lit(1e6) * F.log(F.col("cx").cast("double") / F.col("n").cast("double"))
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("hx_micro_sum")
    )
    hy = my.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.col("cy")
            * F.round(
                F.lit(1e6) * F.log(F.col("cy").cast("double") / F.col("n").cast("double"))
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("hy_micro_sum")
    )
    return (
        tot.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            F.col("n").alias("n_events"),
            F.round(
                F.col("mi_micro_sum").cast("double") / (F.lit(1e6) * F.col("n").cast("double")),
                6,
            ).alias("mi_nats"),
            F.round(
                -F.col("hx_micro_sum").cast("double") / (F.lit(1e6) * F.col("n").cast("double")),
                6,
            ).alias("h_type"),
            F.round(
                -F.col("hy_micro_sum").cast("double") / (F.lit(1e6) * F.col("n").cast("double")),
                6,
            ).alias("h_hour"),
            F.round(
                F.col("mi_micro_sum").cast("double")
                / F.sqrt(
                    F.col("hx_micro_sum").cast("double") * F.col("hy_micro_sum").cast("double")
                ),
                6,
            ).alias("nmi"),
        )
    )


# Shared arithmetic for the KS asymptotic p-value — the same text is parsed
# by Spark and DuckDB so the double ops run in identical order. Inputs:
# n1, n2 (DOUBLE counts), dd (the exact KS distance as DOUBLE).
_KS_LAM = "((sqrt(n1 * n2 / (n1 + n2)) + 0.12 + 0.11 / sqrt(n1 * n2 / (n1 + n2))) * dd)"


@register(
    "ks_two_sample_test",
    oracle=f"""
    WITH s AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS cents,
             CASE WHEN dayofweek(ts::DATE) IN (0, 6) THEN 1 ELSE 0 END AS wknd
      FROM events WHERE event_type = 'purchase'
    ),
    g AS (
      SELECT cents,
             sum(1 - wknd)::BIGINT AS c1, sum(wknd)::BIGINT AS c2
      FROM s GROUP BY cents
    ),
    cum AS (
      SELECT (sum(c1) OVER w)::BIGINT AS cum1, (sum(c2) OVER w)::BIGINT AS cum2
      FROM g WINDOW w AS (ORDER BY cents ROWS UNBOUNDED PRECEDING)
    ),
    tot AS (SELECT sum(c1)::BIGINT AS n1i, sum(c2)::BIGINT AS n2i FROM g),
    dmax AS (
      SELECT max(abs(cum1 * t.n2i - cum2 * t.n1i))::BIGINT AS d_scaled
      FROM cum, tot t
    ),
    st AS (
      SELECT t.n1i AS n1_rows, t.n2i AS n2_rows, d.d_scaled,
             t.n1i::DOUBLE AS n1, t.n2i::DOUBLE AS n2,
             d.d_scaled::DOUBLE / (t.n1i::DOUBLE * t.n2i::DOUBLE) AS dd
      FROM tot t, dmax d
    )
    SELECT n1_rows, n2_rows, d_scaled,
           round(dd, 6) AS ks_distance,
           round({_KS_LAM}, 6) AS lambda,
           round(least(1.0, greatest(0.0,
             list_reduce(list_transform(range(1, 21), k ->
               CASE WHEN k % 2 = 1 THEN 2.0 ELSE -2.0 END
               * exp(-2.0 * (k * k)::DOUBLE * {_KS_LAM} * {_KS_LAM})),
               (a, b) -> a + b))), 6) AS p_value
    FROM st
    """,
    doc="two-sample Kolmogorov-Smirnov test: weekday vs weekend purchase-"
    "value distributions — the distribution-shift gate a data pipeline "
    "runs between cohorts/snapshots when PSI's fixed bins are too coarse. "
    "The KS distance is EXACT: D_scaled = max|cum1*n2 - cum2*n1| over the "
    "merged value grid is pure BIGINT (the cross-multiplied ECDF trick), "
    "so the statistic is engine-identical before any float; the 20-term "
    "asymptotic p-value series is a shared formula string folded left on "
    "both engines (ulp-level exp noise only, absorbed by round-6). Scale "
    "shape: one hash aggregate to the distinct-value grid, one ordered "
    "window over that GRID (bounded by price granularity, not row count), "
    "1-row output.",
)
def ks_two_sample_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    s = ev.select(
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.when(F.dayofweek(F.to_date("ts")).isin(1, 7), F.lit(1))
        .otherwise(F.lit(0))
        .alias("wknd"),
    )
    g = s.groupBy("cents").agg(
        F.sum(1 - F.col("wknd")).cast("bigint").alias("c1"),
        F.sum("wknd").cast("bigint").alias("c2"),
    )
    wc = (
        Window.orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = g.select(
        F.sum("c1").over(wc).cast("bigint").alias("cum1"),
        F.sum("c2").over(wc).cast("bigint").alias("cum2"),
    )
    tot = g.agg(
        F.sum("c1").cast("bigint").alias("n1i"), F.sum("c2").cast("bigint").alias("n2i")
    )
    dmax = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max(
                F.abs(F.col("cum1") * F.col("n2i") - F.col("cum2") * F.col("n1i"))
            )
            .cast("bigint")
            .alias("d_scaled")
        )
    )
    st = tot.crossJoin(F.broadcast(dmax)).select(
        F.col("n1i").alias("n1_rows"),
        F.col("n2i").alias("n2_rows"),
        "d_scaled",
        F.col("n1i").cast("double").alias("n1"),
        F.col("n2i").cast("double").alias("n2"),
        (
            F.col("d_scaled").cast("double")
            / (F.col("n1i").cast("double") * F.col("n2i").cast("double"))
        ).alias("dd"),
    )
    series = (
        "aggregate(sequence(1, 20), CAST(0 AS DOUBLE), (a, k) ->"
        " a + CAST(CASE WHEN k % 2 = 1 THEN 2.0 ELSE -2.0 END AS DOUBLE)"
        f" * exp(-2.0 * CAST(k * k AS DOUBLE) * {_KS_LAM} * {_KS_LAM}))"
    )
    return st.select(
        "n1_rows",
        "n2_rows",
        "d_scaled",
        F.round("dd", 6).alias("ks_distance"),
        F.round(F.expr(_KS_LAM), 6).alias("lambda"),
        F.round(
            F.expr(f"least(1.0, greatest(0.0, {series}))"), 6
        ).alias("p_value"),
    )


# Shared two-proportion z statistic (inputs: exact counts as DOUBLEs).
_Z2P = (
    "((x1 / n1 - x2 / n2) / sqrt(((x1 + x2) / (n1 + n2))"
    " * (1.0 - (x1 + x2) / (n1 + n2)) * (1.0 / n1 + 1.0 / n2)))"
)


@register(
    "two_proportion_ztest",
    oracle=f"""
    WITH s AS (
      SELECT CASE WHEN dayofweek(ts::DATE) IN (0, 6) THEN 1 ELSE 0 END AS wknd,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      FROM events
    ),
    m AS (
      SELECT sum(1 - wknd)::BIGINT AS n1_rows, sum(wknd)::BIGINT AS n2_rows,
             sum((1 - wknd) * conv)::BIGINT AS x1_rows,
             sum(wknd * conv)::BIGINT AS x2_rows
      FROM s
    ),
    d AS (
      SELECT n1_rows, n2_rows, x1_rows, x2_rows,
             n1_rows::DOUBLE AS n1, n2_rows::DOUBLE AS n2,
             x1_rows::DOUBLE AS x1, x2_rows::DOUBLE AS x2
      FROM m
    )
    SELECT n1_rows, x1_rows, n2_rows, x2_rows,
           round(10000.0 * x1 / n1, 2) AS p1_bp,
           round(10000.0 * x2 / n2, 2) AS p2_bp,
           round({_Z2P}, 4) AS z,
           abs({_Z2P}) > 1.959963984540054 AS sig_95,
           abs({_Z2P}) > 2.5758293035489004 AS sig_99
    FROM d
    """,
    doc="two-proportion z-test: weekday vs weekend purchase conversion "
    "rate — the yes/no significance gate behind every conversion A/B "
    "readout (complements ab_welch_test, which compares MEANS). One "
    "corpus aggregate to four exact BIGINT counts; the pooled-variance z "
    "statistic is a shared formula string on those integers, so both "
    "engines compute the identical double, and the 95/99% verdicts "
    "compare against exact normal-quantile literals (no erf needed — "
    "Spark SQL has no erf, so the portable surface is |z| + fixed "
    "critical values).",
)
def two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    s = ev.select(
        F.when(F.dayofweek(F.to_date("ts")).isin(1, 7), F.lit(1))
        .otherwise(F.lit(0))
        .alias("wknd"),
        F.when(F.col("event_type") == "purchase", F.lit(1))
        .otherwise(F.lit(0))
        .alias("conv"),
    )
    m = s.agg(
        F.sum(1 - F.col("wknd")).cast("bigint").alias("n1_rows"),
        F.sum("wknd").cast("bigint").alias("n2_rows"),
        F.sum((1 - F.col("wknd")) * F.col("conv")).cast("bigint").alias("x1_rows"),
        F.sum(F.col("wknd") * F.col("conv")).cast("bigint").alias("x2_rows"),
    )
    d = m.select(
        "n1_rows",
        "n2_rows",
        "x1_rows",
        "x2_rows",
        F.col("n1_rows").cast("double").alias("n1"),
        F.col("n2_rows").cast("double").alias("n2"),
        F.col("x1_rows").cast("double").alias("x1"),
        F.col("x2_rows").cast("double").alias("x2"),
    )
    return d.select(
        "n1_rows",
        "x1_rows",
        "n2_rows",
        "x2_rows",
        F.round(F.expr("10000.0 * x1 / n1"), 2).alias("p1_bp"),
        F.round(F.expr("10000.0 * x2 / n2"), 2).alias("p2_bp"),
        F.round(F.expr(_Z2P), 4).alias("z"),
        F.expr(f"abs({_Z2P}) > 1.959963984540054").alias("sig_95"),
        F.expr(f"abs({_Z2P}) > 2.5758293035489004").alias("sig_99"),
    )
