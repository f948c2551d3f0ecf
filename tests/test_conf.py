"""scoped_conf / loop_conf: restore semantics under nesting and overlap."""

from map_reduce_engine_spark.conf import loop_conf, scoped_conf

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
