"""Streaming surface tests: batch/streaming parity + stateful op.

The strongest property Spark's unified model gives us: a streaming windowed
aggregation drained over a bounded source must equal its batch twin on the
same data.
"""

from __future__ import annotations

import pytest

from map_reduce_engine_spark.queries import REGISTRY
from map_reduce_engine_spark.streaming import (
    events_stream,
    run_to_memory,
    session_window_agg,
    stateful_running_total,
    tumbling_counts,
)


def _table_rows(spark, name):
    return {tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect()}


def test_tumbling_stream_equals_batch(spark, sf_dir):
    stream = events_stream(spark, sf_dir)
    run_to_memory(tumbling_counts(stream), "t_tumble", output_mode="complete")
    got = _table_rows(spark, "t_tumble")

    batch = REGISTRY["events_tumbling_window"].fn(spark, sf_dir)
    want = {tuple(r) for r in batch.collect()}
    assert got == want


def test_session_window_stream(spark, sf_dir):
    stream = events_stream(spark, sf_dir)
    run_to_memory(session_window_agg(stream), "t_sess", output_mode="complete")
    rows = spark.sql("SELECT * FROM t_sess").collect()
    assert len(rows) > 0
    # session invariants: start <= end, positive event counts
    assert all(r.session_start <= r.session_end and r.n_events > 0 for r in rows)
    # total events across sessions == total events in the table
    batch_total = REGISTRY["events_user_activity"].fn(spark, sf_dir).agg({"n_events": "sum"}).collect()[0][0]
    assert sum(r.n_events for r in rows) == batch_total


def test_streaming_dedup_matches_batch_distinct(spark, sf_dir):
    from map_reduce_engine_spark.io import read_table
    from map_reduce_engine_spark.streaming import streaming_dedup

    stream = events_stream(spark, sf_dir)
    run_to_memory(
        streaming_dedup(stream, ["user_id", "event_type"]), "t_dedup", output_mode="append"
    )
    n = spark.sql("SELECT count(*) FROM t_dedup").collect()[0][0]
    # schema is preserved (full rows survive, one arbitrary survivor per key)
    assert set(spark.table("t_dedup").columns) == set(read_table(spark, sf_dir, "events").columns)
    batch_distinct = read_table(spark, sf_dir, "events").select("user_id", "event_type").distinct().count()
    assert n == batch_distinct


def test_stream_static_join_matches_batch(spark, sf_dir):
    import pyspark.sql.functions as F

    from map_reduce_engine_spark.io import read_table

    got = {
        r.event_type: (r.n, r.total_dev)
        for r in REGISTRY["streaming_stream_static_join"].fn(spark, sf_dir).collect()
    }
    ev = read_table(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(F.round(F.avg("value"), 4).alias("user_avg"))
    want = {
        r.event_type: (r.n, r.total_dev)
        for r in ev.join(dim, "user_id")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value") - F.col("user_avg")), 2).alias("total_dev"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for et, (n, dev) in got.items():
        assert n == want[et][0]
        assert dev == pytest.approx(want[et][1], abs=0.02)  # float sum order differs per micro-batch


def test_stateful_running_total(spark, sf_dir):
    stream = events_stream(spark, sf_dir)
    run_to_memory(stateful_running_total(stream), "t_state", output_mode="update")
    rows = {r.user_id: (r.total, r.n) for r in spark.sql("SELECT * FROM t_state").collect()}
    batch = {
        r.user_id: (r.total_value, r.n_events)
        for r in REGISTRY["events_user_activity"].fn(spark, sf_dir).collect()
    }
    assert set(rows) == set(batch)
    for uid, (total, n) in rows.items():
        assert n == batch[uid][1]
        assert total == pytest.approx(batch[uid][0], abs=0.011)  # both rounded to 2dp


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    """The streaming interval join drained over the bounded source must
    equal the identical batch join (Spark's unified model)."""
    from map_reduce_engine_spark.io import read_table
    from map_reduce_engine_spark.streaming import (
        events_stream,
        run_to_memory,
        stream_stream_interval_join,
    )
    from pyspark.sql import functions as F

    ev = events_stream(spark, sf_dir)
    joined = stream_stream_interval_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
        max_delay="1 hour",
    )
    run_to_memory(joined, "t_ssj", output_mode="append")
    got = _table_rows(spark, "t_ssj")

    b = read_table(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    bl, br = b.where(F.col("event_type") == "click").alias("l"), b.where(
        F.col("event_type") == "purchase"
    ).alias("r")
    want = {
        tuple(r)
        for r in bl.join(
            br,
            F.expr(
                "l.user_id = r.user_id AND r.ts >= l.ts"
                " AND r.ts <= l.ts + INTERVAL 1 HOUR"
            ),
        )
        .select(
            F.col("l.user_id").alias("user_id"),
            F.col("l.event_id").alias("left_event_id"),
            F.col("l.ts").alias("left_ts"),
            F.col("r.event_id").alias("right_event_id"),
            F.col("r.ts").alias("right_ts"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_foreach_batch_sink_idempotent(spark, sf_dir, tmp_path):
    """Replaying the whole stream into the same dest must not duplicate
    rows — batch N overwrites its own batch_id=N directory."""
    from map_reduce_engine_spark.streaming import (
        events_stream,
        foreach_batch_idempotent_sink,
    )

    dest = str(tmp_path / "sink")
    ev = events_stream(spark, sf_dir).select("event_id", "user_id", "value")
    foreach_batch_idempotent_sink(ev, dest)
    n1 = spark.read.parquet(dest).count()
    # replay: a second identical run re-delivers every batch
    foreach_batch_idempotent_sink(ev, dest)
    n2 = spark.read.parquet(dest).count()
    assert n1 == n2 > 0
    assert spark.read.parquet(dest).select("event_id").distinct().count() == n1


def _protobuf_available() -> bool:
    # transformWithStateInPandas speaks protobuf to the JVM; the container
    # lacks a working google.protobuf — gate, don't fail (env limitation,
    # not an API one). Install re-attempted rounds 5 and 6: pip reports
    # "no matching distribution" (no package index in the container); the
    # oracle-checked batch twin (typed_state_user_stats) stays the record.
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _protobuf_available(),
    reason="transformWithStateInPandas requires google.protobuf (not in this container)",
)
def test_transform_with_state_matches_batch(spark, sf_dir):
    """The Spark 4 typed-state processor's final per-user stats must equal
    the batch aggregate over the same bounded source (last update wins)."""
    from map_reduce_engine_spark.io import read_table
    from map_reduce_engine_spark.streaming import (
        events_stream,
        run_to_memory,
        stateful_user_stats,
    )
    from pyspark.sql import functions as F

    run_to_memory(stateful_user_stats(events_stream(spark, sf_dir)), "t_tws", "update")
    # update mode emits one row per (user, micro-batch); keep the final row
    got = {
        (r.user_id, r.n, r.total, r.max_value)
        for r in spark.sql(
            """SELECT user_id, n, total, max_value FROM (
                 SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n DESC) rk
                 FROM t_tws) WHERE rk = 1"""
        ).collect()
    }
    want = {
        (r.user_id, r.n, r.total, r.max_value)
        for r in read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
            F.max("value").alias("max_value"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_rocksdb_state_store_backend(spark, sf_dir):
    """The streaming aggregations must run unchanged on the RocksDB state
    store — the scale-grade backend (state spills to local disk instead of
    executor heap, incremental checkpoints). Same query, same results;
    only the provider conf differs."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        run_to_memory(
            tumbling_counts(events_stream(spark, sf_dir)), "t_rocks", "complete"
        )
        got = _table_rows(spark, "t_rocks")
        batch = {
            tuple(r)
            for r in REGISTRY["events_tumbling_window"]
            .fn(spark, sf_dir)
            .collect()
        }
        # identical to the batch twin (same invariant as the default backend)
        assert {(r[0], r[1], r[2], r[3], r[4]) for r in got} == batch
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """Exactly-once across restarts: a query with a checkpointLocation that
    is stopped and restarted must process ONLY files that arrived while it
    was down — no reprocessing, no loss."""
    from pyspark.sql import functions as F

    src, dest, ckpt = (str(tmp_path / d) for d in ("src", "dest", "ckpt"))
    spark.createDataFrame([(1,), (2,)], ["v"]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)

    def run_once():
        stream = spark.readStream.schema("v bigint").parquet(src)
        q = (
            stream.writeStream.format("parquet")
            .option("path", dest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(dest).count() == 2
    # new file arrives while the query is down
    spark.createDataFrame([(3,), (4,), (5,)], ["v"]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()
    out = spark.read.parquet(dest)
    assert out.count() == 5  # 2 original + 3 new, nothing twice
    assert {r.v for r in out.collect()} == {1, 2, 3, 4, 5}
    # a third restart with no new data writes nothing
    run_once()
    assert spark.read.parquet(dest).count() == 5


def test_user_stats_processor_logic_without_protocol():
    """The typed-state processor's LOGIC, decoupled from the protobuf
    transport the sandbox lacks: drive _UserStatsProcessor with a stubbed
    state handle across multiple "micro-batches" and check it reproduces
    the batch aggregate — so only the wire protocol remains untested here
    (test_transform_with_state skips on missing google.protobuf)."""
    import pandas as pd

    from map_reduce_engine_spark.streaming.windows import _UserStatsProcessor

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class FakeHandle:
        def __init__(self):
            self.state = FakeValueState()

        def getValueState(self, name, schema):
            return self.state

    proc = _UserStatsProcessor()
    proc.init(FakeHandle())
    batches = [
        pd.DataFrame({"value": [1.5, 2.5]}),
        pd.DataFrame({"value": [4.0]}),
    ]
    last = None
    for b in batches:  # one handleInputRows call per micro-batch
        last = pd.concat(list(proc.handleInputRows((7,), iter([b]), None)))
    assert last.iloc[0].to_dict() == {"user_id": 7, "n": 3, "total": 8.0, "max_value": 4.0}


def test_watermark_drop_accounting_matches_model(spark, tmp_path):
    """Pin Spark's REAL watermark drop accounting against a deterministic
    model, micro-batch by micro-batch (maxFilesPerTrigger=1 under
    availableNow, file order by mtime):

    - batch 0 (full time range) sets the watermark;
    - batch 1 (one fresh event) advances it and EVICTS finalized windows;
    - batch 2 (old events) arrives entirely behind the watermark.

    Empirically pinned semantics (this is what the test documents):
    numRowsDroppedByWatermark counts the late GROUPS reaching the state
    operator after partial aggregation — i.e. distinct late windows per
    micro-batch — not raw input rows. Late rows whose windows are still
    in state (pre-eviction) are merged, not dropped, which is why the
    batch `watermark_late_audit` query is an UPPER BOUND on real drops."""
    import datetime as dt
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1)
    f1 = [(i, base + dt.timedelta(minutes=7 * i)) for i in range(0, 200, 2)]
    f2 = [(1001, base + dt.timedelta(hours=23, minutes=30))]
    f3 = [(i, base + dt.timedelta(minutes=7 * i)) for i in range(1, 100, 2)]

    d = tmp_path / "in"
    d.mkdir()
    now = time.time()
    for i, (name, rows) in enumerate((("a", f1), ("b", f2), ("c", f3))):
        p = str(d / f"{name}.parquet")
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                }
            ),
            p,
        )
        os.utime(p, (now - 100 + i * 10,) * 2)  # mtime = micro-batch order

    raw = (
        spark.readStream.schema("event_id long, ts timestamp_ntz")
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(d))
    )
    # naive-as-UTC instant via raw epoch arithmetic (streaming/windows.py
    # convention): watermarks need TIMESTAMP, never cast("timestamp")
    tsi = F.timestamp_micros(
        F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    )
    agg = (
        raw.withColumn("tsi", tsi)
        .withWatermark("tsi", "30 minutes")
        .groupBy(F.window("tsi", "1 hour"))
        .count()
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_wm_drops")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    per_batch = {
        p.batchId: p.stateOperators[0].numRowsDroppedByWatermark
        for p in q.recentProgress
        if p.stateOperators
    }
    # watermark entering batch 2 derives from f2's max event time
    wm = max(ts for _, ts in f2) - dt.timedelta(minutes=30)
    hour = lambda ts: ts.replace(minute=0, second=0, microsecond=0)  # noqa: E731
    expected_late_windows = {
        hour(ts) for _, ts in f3 if hour(ts) + dt.timedelta(hours=1) <= wm
    }
    assert per_batch.get(0, 0) == 0  # nothing late before a watermark exists
    assert per_batch.get(1, 0) == 0  # fresh event only
    assert per_batch.get(2) == len(expected_late_windows)


def test_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """Structured Streaming's replacement for the reference's whole-job
    restart (MasterNode.java:611-679): a query stopped and RESTARTED from
    its checkpoint resumes at the next unread file — already-committed
    micro-batches are neither reprocessed nor double-counted, with a
    foreachBatch parquet sink made idempotent by batch-id partitioning."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    dest = str(tmp_path / "out")

    def add_file(name, ids):
        pq.write_table(pa.table({"event_id": pa.array(ids, pa.int64())}), str(src / name))

    def run_drain():
        raw = spark.readStream.schema("event_id long").format("parquet").load(str(src))

        def write(batch_df, batch_id):
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "overwrite"
            ).partitionBy("batch_id").option(
                "partitionOverwriteMode", "dynamic"
            ).parquet(dest)

        q = (
            raw.writeStream.foreachBatch(write)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    add_file("a.parquet", list(range(100)))
    run_drain()  # first incarnation commits batch 0
    first = spark.read.parquet(dest).count()
    assert first == 100

    add_file("b.parquet", list(range(100, 150)))
    run_drain()  # restarted incarnation: resumes from checkpoint

    out = spark.read.parquet(dest)
    assert out.count() == 150  # no reprocessing, no loss
    assert out.select("event_id").distinct().count() == 150  # exactly-once


def test_left_outer_interval_join_emits_nulls_after_watermark(spark, tmp_path):
    """Streaming LEFT OUTER interval join: matches emit eagerly; unmatched
    left rows emit null-padded ONLY after the watermark passes their whole
    match interval (state expiry). A far-future matched pair in the final
    files pushes the global watermark past every real row, so the drained
    result must equal the batch left-outer join on the same data."""
    import datetime as dt
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from map_reduce_engine_spark.streaming import stream_stream_interval_join

    t0 = dt.datetime(2024, 1, 1)
    future = t0 + dt.timedelta(days=10)
    clicks = [(1, 1, t0), (2, 1, t0 + dt.timedelta(minutes=10)), (3, 2, t0 + dt.timedelta(minutes=20))]
    purchases = [(101, 1, t0 + dt.timedelta(minutes=5))]
    clicks_f = [(9, 9, future)]
    purchases_f = [(999, 9, future + dt.timedelta(minutes=1))]

    def write(dirname, fname, rows, age):
        d = tmp_path / dirname
        d.mkdir(exist_ok=True)
        p = str(d / fname)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "user_id": pa.array([r[1] for r in rows], pa.int64()),
                    "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
                }
            ),
            p,
        )
        os.utime(p, (time.time() - age,) * 2)

    write("clicks", "a.parquet", clicks, 100)
    write("clicks", "b.parquet", clicks_f, 50)
    write("purch", "a.parquet", purchases, 100)
    write("purch", "b.parquet", purchases_f, 50)

    def stream_of(dirname):
        raw = (
            spark.readStream.schema("event_id long, user_id long, ts timestamp_ntz")
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(str(tmp_path / dirname))
        )
        return raw.withColumn(
            "ts",
            F.timestamp_micros(
                F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
            ),
        )

    joined = stream_stream_interval_join(
        stream_of("clicks"), stream_of("purch"),
        key="user_id", max_delay="1 hour", watermark="30 minutes", how="left_outer",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_louter")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.left_event_id, r.right_event_id)
        for r in spark.table("t_louter").collect()
    }
    expected = {
        (1, 1, 101),   # match within the interval
        (1, 2, None),  # purchase predates this click -> null after expiry
        (2, 3, None),  # no purchase at all -> null after expiry
        (9, 9, 999),   # the watermark-advancing matched pair
    }
    assert got == expected


def test_chained_stateful_aggregations_share_watermark(spark, sf_dir):
    """Two stateful aggregations chained in ONE query: the physical plan
    must carry two stateful operators (both evicting off the shared
    watermark lineage), and the drained append-mode output must equal the
    two-level batch aggregate restricted to finalized windows."""
    from map_reduce_engine_spark.streaming import chained_window_rollup, events_stream

    out = chained_window_rollup(events_stream(spark, sf_dir))
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_chain")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = q.lastProgress
    assert len(progress["stateOperators"]) == 2, progress["stateOperators"]

    from map_reduce_engine_spark.io import read_table
    from pyspark.sql import functions as F

    ev = read_table(spark, sf_dir, "events")
    wm = ev.agg(F.max("ts").alias("m")).collect()[0].m
    import datetime

    cutoff = wm - datetime.timedelta(hours=2)  # watermark
    l1 = ev.groupBy(
        F.window("ts", "30 minutes").alias("w1"), "user_id"
    ).agg(F.count("*").alias("n1"))
    l2 = (
        l1.groupBy(F.window(F.col("w1.start"), "2 hours").alias("w2"))
        .agg(F.count("*").alias("n_user_windows"), F.sum("n1").alias("n_events"))
        .where(F.col("w2.end") <= F.lit(cutoff))
        .select(
            F.col("w2.start").cast("timestamp_ntz").alias("window_start"),
            "n_user_windows",
            "n_events",
        )
    )
    got = {tuple(r) for r in spark.table("t_chain").collect()}
    want = {tuple(r) for r in l2.collect()}
    assert got == want and got


def test_streaming_cusum_matches_exact_recursion(spark, sf_dir):
    """The drained CUSUM state must equal the exact integer recursion
    replayed in Python over the batch rows in (ts, event_id) order."""
    from map_reduce_engine_spark.io import read_table
    from map_reduce_engine_spark.streaming import streaming_cusum_monitor
    from map_reduce_engine_spark.streaming.windows import (
        _CUSUM_SLACK_CENTS,
        _CUSUM_TARGET_CENTS,
    )
    from pyspark.sql import functions as F

    run_to_memory(
        streaming_cusum_monitor(events_stream(spark, sf_dir)),
        "t_cusum",
        output_mode="update",
    )
    got = {
        r.user_id: (r.s_plus_cents, r.s_minus_cents, r.n_purchases)
        for r in spark.table("t_cusum").collect()
    }

    rows = (
        read_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "ts",
            "event_id",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .collect()
    )
    want: dict = {}
    for r in sorted(rows, key=lambda r: (r.user_id, r.ts, r.event_id)):
        sp, sm, n = want.get(r.user_id, (0, 0, 0))
        sp = max(0, sp + (r.cents - _CUSUM_TARGET_CENTS - _CUSUM_SLACK_CENTS))
        sm = max(0, sm + (_CUSUM_TARGET_CENTS - r.cents - _CUSUM_SLACK_CENTS))
        want[r.user_id] = (sp, sm, n + 1)
    assert got == want and got
