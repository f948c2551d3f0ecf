"""scoped_conf / loop_conf: restore semantics under nesting and overlap;
checkpoint: counts observed on the checkpoint job, also across a retry."""

from pyspark.sql import functions as F

from map_reduce_engine_spark.conf import checkpoint, loop_conf, scoped_conf
from map_reduce_engine_spark.operators.graph import connected_components

import pytest

pytestmark = pytest.mark.quick  # registry-independent: the builder inner loop

KEY = "spark.sql.shuffle.partitions"
AQE = "spark.sql.adaptive.enabled"


def test_scoped_conf_restores(spark):
    before = spark.conf.get(KEY)
    with scoped_conf(spark, {KEY: "3"}):
        assert spark.conf.get(KEY) == "3"
    assert spark.conf.get(KEY) == before


def test_scoped_conf_restores_on_error(spark):
    before = spark.conf.get(KEY)
    try:
        with scoped_conf(spark, {KEY: "3"}):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get(KEY) == before


def test_nested_scopes_restore_outer_then_pristine(spark):
    """Scopes stack per key: when the inner scope exits, the OUTER scope's
    value is re-applied for the remainder of the outer scope (a BPE loop
    nested under a graph loop must not leave the graph loop running on the
    BPE partition count); the pristine session value returns only when the
    last holder exits."""
    before = spark.conf.get(KEY)
    with scoped_conf(spark, {KEY: "5"}):
        with scoped_conf(spark, {KEY: "2"}):
            assert spark.conf.get(KEY) == "2"
        # inner exit re-applies the still-active outer scope's value
        assert spark.conf.get(KEY) == "5"
    assert spark.conf.get(KEY) == before


def test_interleaved_exit_order_restores_pristine(spark):
    """Simulate two overlapping loop operators exiting out of order."""
    before = spark.conf.get(KEY)
    a = scoped_conf(spark, {KEY: "7"})
    b = scoped_conf(spark, {KEY: "4"})
    a.__enter__()
    b.__enter__()
    a.__exit__(None, None, None)  # outer exits first
    assert spark.conf.get(KEY) == "4"
    b.__exit__(None, None, None)
    assert spark.conf.get(KEY) == before


def test_loop_conf_profile(spark):
    """Partitions follow the loop-state row volume (one at zero rows),
    capped at the session value; AQE is off inside; both keys restore."""
    before_parts = spark.conf.get(KEY)
    before_aqe = spark.conf.get(AQE)
    with loop_conf(spark, 0) as nparts:
        assert nparts == 1
        assert spark.conf.get(KEY) == "1"
        assert spark.conf.get(AQE) == "false"
    assert spark.conf.get(KEY) == before_parts
    assert spark.conf.get(AQE) == before_aqe
    with loop_conf(spark, 10**12) as nparts:
        assert nparts == int(before_parts)
        assert spark.conf.get(KEY) == before_parts
        assert spark.conf.get(AQE) == "false"
    assert spark.conf.get(KEY) == before_parts
    assert spark.conf.get(AQE) == before_aqe


def test_failed_registration_leaves_no_phantom(spark):
    """A scope whose settings include an unreadable key must fail BEFORE
    registering anything: no phantom stack entry may survive to be
    're-applied' by a later scope's exit (review finding r05)."""
    import pytest as _pytest

    before = spark.conf.get(KEY)
    with _pytest.raises(Exception):
        with scoped_conf(spark, {KEY: "3", "mre.no.such.key.ever": "x"}):
            pass  # pragma: no cover — registration must raise first
    assert spark.conf.get(KEY) == before
    with scoped_conf(spark, {KEY: "5"}):
        assert spark.conf.get(KEY) == "5"
    assert spark.conf.get(KEY) == before


def test_checkpoint_observes_counts_on_its_own_job(spark):
    """The counts come back from the checkpoint job: one job, no count job
    after it, and the metrics read 0 (not NULL) on an empty frame."""
    df = spark.range(10).withColumn("odd", F.col("id") % 2 == 1)
    sc = spark.sparkContext
    sc.setJobGroup("checkpoint-observes", "checkpoint")
    try:
        out, m = checkpoint(df, odd=F.count(F.when(F.col("odd"), 1)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert m == {"rows": 10, "odd": 5}
    assert len(sc.statusTracker().getJobIdsForGroup("checkpoint-observes")) == 1
    assert out.count() == 10
    _, m = checkpoint(df.where("id < 0"), odd=F.count(F.when(F.col("odd"), 1)))
    assert m == {"rows": 0, "odd": 0}


def _flaky_edges(spark, edges):
    """``edges`` through a ``mapInPandas`` whose first attempt of every task
    emits its first batch and then raises, so the failed attempt has already
    pushed rows past the observation when it dies."""
    clean = spark.createDataFrame(edges, "id1 bigint, id2 bigint")

    def flaky(batches):
        from pyspark import TaskContext

        first = TaskContext.get().attemptNumber() == 0
        for b in batches:
            yield b
            if first:
                raise RuntimeError("injected first-attempt failure")

    return clean, clean.repartition(2).mapInPandas(flaky, clean.schema)


def test_loop_round_survives_a_task_retry(spark):
    """A task of the loop's input fails on its first attempt (the session's
    master retries it once): the components equal the fault-free ones, the
    retried task's rows are observed once, and the loop's AQE and
    shuffle-partition overrides are restored afterwards."""
    edges = [(1, 2), (2, 3), (4, 5), (6, 7), (7, 8), (8, 6), (9, 9)]
    clean, faulty = _flaky_edges(spark, edges)
    before = {k: spark.conf.get(k) for k in (KEY, AQE)}
    want = {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, 7: 6, 8: 6, 9: 9}
    assert dict(connected_components(clean).collect()) == want
    assert dict(connected_components(faulty).collect()) == want
    assert {k: spark.conf.get(k) for k in (KEY, AQE)} == before
    _, m = checkpoint(faulty)
    assert m["rows"] == len(edges)
