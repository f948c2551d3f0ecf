"""Streaming window operators over the events fixture.

Batch/streaming parity: ``tumbling_counts`` on a stream produces exactly the
rows of ``queries/events.py::events_tumbling_window`` on the same data once
the stream is drained (verified in tests/test_streaming.py). Watermarks
bound state for late data; at 100 TB-scale ingest the same code runs against
a Kafka source — only the ``readStream`` format changes.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from map_reduce_engine_spark.conf import scoped_conf
from map_reduce_engine_spark.io import _read_parquet_pinned

def _events_raw_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """Physical schema of events.parquet for this fixture generation.

    ``readStream`` needs a user-supplied schema; sniff it from the batch
    reader so both the current TIMESTAMP(MICROS) fixtures and older
    int64-epoch-nanos ones (read as long via
    ``spark.sql.legacy.parquet.nanosAsLong``, which ``get_spark`` sets)
    work unchanged.
    """
    return _read_parquet_pinned(spark, f"{sf_dir}/events.parquet").schema


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events parquet (file source; one file = one
    micro-batch under availableNow). Timestamp conversion identical to the
    batch reader (timezone-independent NTZ arithmetic)."""
    schema = _events_raw_schema(spark, sf_dir)
    # the file stream source wants a directory; glob-filter to the events file
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    # Watermarks require TIMESTAMP (an instant), not TIMESTAMP_NTZ. Convert
    # naive-as-UTC via pure epoch arithmetic — NOT cast("timestamp"), which
    # renders through the session timezone and would shift every window
    # boundary on non-UTC sessions. With this, instant epoch == naive epoch,
    # so `ntz_of_instant` below recovers the batch twin's NTZ values exactly
    # under ANY session timezone.
    ts_type = schema["ts"].dataType.typeName()
    if ts_type in ("long", "bigint"):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return raw.withColumn(
            "ts",
            F.timestamp_micros(
                F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
            ),
        )
    return raw  # already an instant (epoch micros preserved as stored)


def ntz_of_instant(name: str):
    """Instant column → TIMESTAMP_NTZ by raw epoch (session-TZ-independent).

    The inverse of the ``events_stream`` conversion: streaming operators run
    on instants (watermarks require them); conformance outputs convert back
    to NTZ so they hash-match the batch twins' DuckDB oracles on any session
    timezone. Takes the column NAME (the epoch arithmetic is a SQL expr)."""
    return F.expr(
        f"timestampadd(MICROSECOND, unix_micros({name}), TIMESTAMP_NTZ '1970-01-01 00:00:00')"
    )


def tumbling_counts(
    stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling event-time window counts/sums with a late-data watermark."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value", "avg_value")
    )


def sliding_counts(
    stream: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def session_window_agg(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native session windows (gap-based), the streaming twin of the batch
    lag+cumsum sessionization in queries/events.py."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dynamic_session_window_agg(
    stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Session windows whose gap is computed PER EVENT from its columns —
    clicks expire after 10 minutes, everything else after 30.

    ``session_window`` accepts a Column gap: each event contributes the
    interval [ts, ts + gap(event)) and overlapping intervals merge, so a
    burst of short-lived clicks closes quickly while a purchase keeps the
    session alive — per-row session policy with the same bounded state and
    watermark eviction as the fixed-gap form. The batch/SQL twin is a
    running max of interval ends (new session iff ts >= cummax of previous
    ends), which is how the oracle replays the merge exactly.
    """
    gap = F.when(F.col("event_type") == "click", F.lit("10 minutes")).otherwise(
        F.lit("30 minutes")
    )
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


_STATE_SCHEMA = "total DOUBLE, n BIGINT"
_STATEFUL_OUT_SCHEMA = "user_id BIGINT, total DOUBLE, n BIGINT"


def _running_total_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Custom stateful operator: running per-user (sum, count) across batches.

    The applyInPandasWithState pattern for operators Spark lacks natively —
    state is a tuple row, updated per micro-batch, emitted incrementally.
    """
    if state.exists:
        total, n = state.get
    else:
        total, n = 0.0, 0
    for pdf in pdfs:
        total += float(pdf["value"].sum())
        n += int(len(pdf))
    state.update((total, n))
    yield pd.DataFrame({"user_id": [key[0]], "total": [round(total, 2)], "n": [n]})


def stateful_running_total(stream: DataFrame) -> DataFrame:
    """Per-user running totals via arbitrary stateful processing
    (``applyInPandasWithState`` — update mode, no timeout)."""
    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_total_fn,
            outputStructType=_STATEFUL_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


def streaming_dedup(stream: DataFrame, keys: list[str], watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup with bounded state.

    ``dropDuplicatesWithinWatermark`` keeps one row per key and expires state
    once the watermark passes — the only dedup that survives an unbounded
    stream (plain dropDuplicates state grows forever). The streaming twin of
    operators/dedup.dedup_exact.
    """
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def stream_static_enrich(stream: DataFrame, dim: DataFrame, on, how: str = "inner") -> DataFrame:
    """Stream-static join: enrich a stream against a batch dimension table.

    The dim side is planned per micro-batch (broadcast when small) — no
    state is kept for it, so this scales to any stream length; the 100 TB
    analogue is joining a Kafka stream against a parquet/Delta dim snapshot.
    """
    return stream.join(dim, on, how)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join on ``key`` with an event-time interval bound:
    a right row matches a left row arriving in ``[left.ts, left.ts + max_delay]``.

    Both sides carry watermarks AND the join condition bounds the time skew,
    so Spark can expire buffered state on both sides — the only configuration
    under which an unbounded⋈unbounded join has bounded memory. The canonical
    use: attribute purchases to the click that preceded them within the
    window (absent in the reference — it has no two-input operator at all,
    SURVEY.md §2 joins row).

    ``how="left_outer"`` additionally emits a null-padded row for every
    unmatched left row — but only once the watermark passes that row's
    entire match interval (state expiry), since until then a match could
    still arrive. Matches emit eagerly; nulls emit late by construction
    (pinned in tests/test_streaming.py).
    """
    lt = left.withWatermark("ts", watermark).alias("l")
    rt = right.withWatermark("ts", watermark).alias("r")
    return lt.join(
        rt,
        F.expr(
            f"l.{key} = r.{key} AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL {max_delay}"
        ),
        how,
    ).select(
        F.col(f"l.{key}").alias(key),
        F.col("l.event_id").alias("left_event_id"),
        F.col("l.ts").alias("left_ts"),
        F.col("r.event_id").alias("right_event_id"),
        F.col("r.ts").alias("right_ts"),
    )


def foreach_batch_idempotent_sink(stream_df: DataFrame, dest: str) -> None:
    """Exactly-once file sink from at-least-once micro-batches.

    ``foreachBatch`` hands us (batch_df, batch_id); writing each batch to its
    own ``batch_id=N`` subdirectory with overwrite makes replays idempotent —
    a re-delivered batch N simply rewrites the same directory, so downstream
    readers of ``dest`` never see duplicates. This is the standard pattern
    for transactional-ish parquet sinks without a table format; with
    Delta/Iceberg the same callback would run MERGE INTO (operators/cdc.py
    implements the batch-side MERGE emulation).
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{dest}/batch_id={batch_id}")

    q = stream_df.writeStream.foreachBatch(_write).trigger(availableNow=True).start()
    q.awaitTermination()


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    shuffle_partitions: int | None = 8,
) -> None:
    """Drain a (bounded) stream into an in-memory table synchronously —
    the local test harness; production sinks are parquet/Kafka/foreachBatch.

    ``shuffle_partitions`` scopes ``spark.sql.shuffle.partitions`` around
    the stream's planning (restored after the drain): a stateful streaming
    job instantiates one state store PER shuffle partition PER operator,
    and that count is frozen into the checkpoint for the query's life — so
    it is sized to expected KEY CARDINALITY as an explicit per-job
    decision, never inherited from whatever the session default happens to
    be (200 default partitions = 200 state stores per micro-batch for a
    150-user key space). Pass None to keep the session setting.
    """
    spark = stream_df.sparkSession
    settings = (
        {} if shuffle_partitions is None
        else {"spark.sql.shuffle.partitions": str(shuffle_partitions)}
    )
    with scoped_conf(spark, settings):
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


class _UserStatsProcessor:
    """Per-user running (count, total, max) via the Spark 4 arbitrary-state
    API — ``transformWithStateInPandas`` with typed ValueState.

    The successor to applyInPandasWithState: explicit state variables with
    schemas (+ optional TTL), timers, and multiple state types per
    processor. Same bounded-state contract: O(1) state per key, updated per
    micro-batch.
    """

    def init(self, handle) -> None:
        self._state = handle.getValueState("stats", "n BIGINT, total DOUBLE, mx DOUBLE")

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        if self._state.exists():
            n, total, mx = self._state.get()
        else:
            n, total, mx = 0, 0.0, float("-inf")
        for pdf in rows:
            n += int(len(pdf))
            total += float(pdf["value"].sum())
            mx = max(mx, float(pdf["value"].max()))
        self._state.update((n, total, mx))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n": [n],
                "total": [round(total, 2)],
                "max_value": [mx],
            }
        )

    def close(self) -> None:
        pass


def chained_window_rollup(
    stream: DataFrame,
    inner: str = "30 minutes",
    outer: str = "2 hours",
    watermark: str = "2 hours",
) -> DataFrame:
    """TWO chained stateful aggregations in one streaming query: per-user
    tumbling counts re-aggregated into coarser windows — Spark's
    multiple-stateful-operators support (3.4+), which older engines forced
    into two jobs with an intermediate sink.

    The second aggregate reads the first's window column as its event time
    via ``window_time`` (the watermark propagates through), so both
    operators share one watermark lineage and both evict state. Append
    mode is REQUIRED for a chained aggregation: a window emits only once
    finalized, i.e. when the watermark passes its END — a drained
    availableNow stream therefore emits exactly the windows whose end is
    <= max(ts) - watermark (the no-data final batch advances the watermark
    and flushes them), which is the deterministic cutoff the batch-twin
    oracle replays.
    """
    lvl1 = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", inner).alias("w1"), "user_id")
        .agg(F.count("*").alias("n1"))
    )
    return (
        lvl1.groupBy(F.window(F.window_time("w1"), outer).alias("w2"))
        .agg(
            F.count("*").alias("n_user_windows"),
            F.sum("n1").alias("n_events"),
        )
        .select(F.col("w2.start").alias("ws"), "n_user_windows", "n_events")
        .select(
            ntz_of_instant("ws").alias("window_start"),
            "n_user_windows",
            "n_events",
        )
    )


class _LocalValueState:
    """In-memory ValueState with the exact get/update/exists surface the
    Spark 4 typed-state handle exposes — the conformance shim that lets the
    REAL processor run batch-side where the protobuf protocol is absent."""

    def __init__(self) -> None:
        self._v = None

    def exists(self) -> bool:
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v) -> None:
        self._v = v


class _LocalStateHandle:
    def getValueState(self, name: str, schema: str) -> _LocalValueState:
        return _LocalValueState()


def user_stats_batch_twin(df: DataFrame) -> DataFrame:
    """Batch conformance twin of ``stateful_user_stats``: the SAME
    ``_UserStatsProcessor`` code (init → handleInputRows → final emit)
    driven through ``applyInPandas`` with an in-memory state handle.

    This is the oracle-checkable path for the typed-state surface in
    environments where ``transformWithStateInPandas`` cannot start
    (its processor protocol speaks protobuf to the JVM; absent here). A
    fully drained update-mode stream keeps each key's LAST row, which
    equals running the processor once over the key's whole history — so
    batch twin, streamed final state, and the SQL aggregate all agree.
    """
    import pandas as pd  # noqa: F401  (processor emits pandas frames)

    def _run_group(key, rows):
        proc = _UserStatsProcessor()
        proc.init(_LocalStateHandle())
        out = None
        for frame in proc.handleInputRows(key, iter([rows]), None):
            out = frame
        proc.close()
        return out

    return (
        df.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandas(_run_group, "user_id BIGINT, n BIGINT, total DOUBLE, max_value DOUBLE")
    )


def stateful_user_stats(stream: DataFrame) -> DataFrame:
    """Per-user running stats via ``transformWithStateInPandas`` (update
    mode) — the Spark 4 typed-state twin of ``stateful_running_total``.

    Environment gate: the processor protocol speaks protobuf to the JVM;
    containers without ``google.protobuf`` can define this plan but the
    stream will fail at start (tests skip accordingly). Production clusters
    ship protobuf with Spark 4.
    """
    from pyspark.sql.streaming import StatefulProcessor  # noqa: F401  (API gate)

    # _UserStatsProcessor first in the MRO so its concrete init/
    # handleInputRows override the ABC's abstract declarations
    class Processor(_UserStatsProcessor, StatefulProcessor):
        pass

    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=Processor(),
            outputStructType="user_id BIGINT, n BIGINT, total DOUBLE, max_value DOUBLE",
            outputMode="Update",
            timeMode="None",
        )
    )


def windowed_value_sketch(
    stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Per-window significant-digit value-sketch buckets (streaming side of
    the mergeable quantile sketch — see queries/mleval.py::
    hdr_histogram_quantiles): purchase values land in (digit-count,
    3-significant-digit) integer buckets per tumbling window. The bucket
    state is BOUNDED per window (a few hundred buckets regardless of
    event volume) — exactly the state-size discipline a 100 TB stream
    needs; quantile read-off happens on the drained sink, not in the
    stateful operator."""
    cents = F.expr("CAST(round(value * 100) AS BIGINT)")
    return (
        stream.where(F.col("event_type") == "purchase")
        .withColumn("cents", cents)
        .where(F.col("cents") >= 1)
        .withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window).alias("w"),
            F.length(F.col("cents").cast("string")).cast("bigint").alias("d"),
            F.expr(
                "cents div CAST(power(10, greatest(length(CAST(cents AS STRING)) - 3, 0)) AS BIGINT)"
            ).alias("sub"),
        )
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(F.col("w.start").alias("window_start"), "d", "sub", "n")
    )


_CUSUM_TARGET_CENTS = 25000
_CUSUM_SLACK_CENTS = 5000
_CUSUM_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("s_plus_cents", T.LongType()),
        T.StructField("s_minus_cents", T.LongType()),
        T.StructField("n_purchases", T.LongType()),
    ]
)
_CUSUM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("sp", T.LongType()),
        T.StructField("sm", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def _cusum_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user two-sided CUSUM drift monitor over purchase cents.

    Exact integer recursion s+ = max(0, s+ + (x - target - k)),
    s- = max(0, s- + (target - x - k)); rows are sorted by (ts, event_id)
    inside the batch so the state trajectory is deterministic regardless
    of shuffle order."""
    sp, sm, n = state.get if state.exists else (0, 0, 0)
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        for c in pdf["cents"].astype("int64"):
            sp = max(0, sp + (int(c) - _CUSUM_TARGET_CENTS - _CUSUM_SLACK_CENTS))
            sm = max(0, sm + (_CUSUM_TARGET_CENTS - int(c) - _CUSUM_SLACK_CENTS))
            n += 1
    state.update((sp, sm, n))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "s_plus_cents": [sp],
            "s_minus_cents": [sm],
            "n_purchases": [n],
        }
    )


def streaming_cusum_monitor(stream: DataFrame) -> DataFrame:
    """Per-user streaming CUSUM drift state via applyInPandasWithState —
    the change-detection monitor (value_drift_cusum's streaming sibling)
    with O(1) integer state per key."""
    return (
        stream.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "ts",
            "event_id",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _cusum_fn,
            outputStructType=_CUSUM_OUT_SCHEMA,
            stateStructType=_CUSUM_STATE_SCHEMA,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


_KMV_STREAM_K = 64
_KMV_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("n_in_state", T.LongType()),
        T.StructField("hk", T.LongType()),
        T.StructField("est_milli", T.LongType()),
    ]
)
_KMV_STATE_SCHEMA = T.StructType(
    [T.StructField("kmin", T.ArrayType(T.LongType()))]
)


def _kmv_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Bounded KMV distinct-count state: the k smallest DISTINCT portable
    hashes seen for this key. Min-k is associative/commutative over set
    union, so the state is order-independent — any micro-batch arrival
    order yields the same sketch (what makes the drained stream
    hash-match the batch oracle exactly)."""
    (kmin,) = state.get if state.exists else ([],)
    # fold each Arrow chunk into the running k-smallest so working memory
    # stays O(k + chunk) — never O(distinct-in-batch) for a hot key
    # (ADVICE r04): dedupe within the chunk, merge, truncate to k. Min-k
    # of a union equals min-k of min-k'd parts, so chunk order is
    # irrelevant and the sketch stays bit-identical to the batch twin.
    kset = set(kmin)
    for pdf in pdfs:
        kset.update(int(h) for h in pd.unique(pdf["h"]))
        if len(kset) > _KMV_STREAM_K:
            kset = set(sorted(kset)[:_KMV_STREAM_K])
    kmin = sorted(kset)[:_KMV_STREAM_K]
    state.update((kmin,))
    n = len(kmin)
    if n < _KMV_STREAM_K:
        hk, est = None, n * 1000
    else:
        hk = kmin[-1]
        # same estimator as kmv_distinct_sketch, milli-frozen:
        # floor((k-1) * 2^31 * 1000 / hk + 0.5) replayed via exact ints
        est = ((_KMV_STREAM_K - 1) * 2147483648 * 2000 + hk) // (2 * hk)
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "n_in_state": [n],
            "hk": pd.array([hk], dtype="Int64"),
            "est_milli": [est],
        }
    )


def streaming_kmv_distinct(stream: DataFrame) -> DataFrame:
    """Per-event-type streaming distinct-user KMV sketch via
    applyInPandasWithState — O(k) BIGINT state per key, the streaming
    sibling of kmv_distinct_sketch/kmv_distinct_tree. Hashes are computed
    JVM-side with the engine-portable md5-prefix family BEFORE the
    stateful operator, so the Python state fn only merges integers."""
    from map_reduce_engine_spark.operators.dedup import portable_base31

    return (
        stream.select(
            "event_type", portable_base31(F.col("user_id").cast("string")).alias("h")
        )
        .groupBy("event_type")
        .applyInPandasWithState(
            _kmv_fn,
            outputStructType=_KMV_OUT_SCHEMA,
            stateStructType=_KMV_STATE_SCHEMA,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


_MG_STREAM_K = 16
_MG_OUT_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.LongType()),
        T.StructField("item", T.StringType()),
        T.StructField("mg_count", T.LongType()),
    ]
)
_MG_STATE_SCHEMA = T.StructType(
    [
        T.StructField("items", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
    ]
)


def _mg_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-shard Misra-Gries counters (k=16): fold each micro-batch's exact
    value_counts in with the Agarwal merge rule (sum, subtract the (k+1)-th
    largest, keep positives). Items hash-partition onto shards, so each
    item's whole count lives in ONE shard's substream and the containment
    guarantee (freq > n_shard/(k+1) survives) holds per shard."""
    items, counts = state.get if state.exists else ([], [])
    counters = dict(zip(items, (int(c) for c in counts)))
    for pdf in pdfs:
        for item, cnt in pdf["item"].value_counts().items():
            counters[item] = counters.get(item, 0) + int(cnt)
        if len(counters) > _MG_STREAM_K:
            sub = sorted(counters.values(), reverse=True)[_MG_STREAM_K]
            counters = {i: c - sub for i, c in counters.items() if c - sub > 0}
    state.update((list(counters), [counters[i] for i in counters]))
    yield pd.DataFrame(
        {
            "shard": [key[0]] * len(counters),
            "item": list(counters),
            "mg_count": [counters[i] for i in counters],
        }
    )


def streaming_mg_heavy_hitters(stream: DataFrame, item_expr: str) -> DataFrame:
    """Streaming Misra-Gries frequent-items state via applyInPandasWithState
    — O(k) counters per shard key, the streaming sibling of
    operators/sketch.py::misra_gries_summary. ``item_expr`` is a SQL
    expression producing the item string from the stream's columns."""
    return (
        stream.select(F.expr(item_expr).alias("item"))
        .withColumn("shard", F.pmod(F.xxhash64("item"), F.lit(8)).cast("bigint"))
        .groupBy("shard")
        .applyInPandasWithState(
            _mg_fn,
            outputStructType=_MG_OUT_SCHEMA,
            stateStructType=_MG_STATE_SCHEMA,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )
