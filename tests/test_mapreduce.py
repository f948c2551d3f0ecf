"""Conformance tests for the map/reduce UDF compat surface (mapreduce.py) —
the reference's query language (MapRunner/ReduceRunner analogue).

Goldens are computed independently with collections.Counter, mirroring the
reference's implied correctness properties (SURVEY.md §5: output equals the
token multiset count, order-insensitive).
"""

from __future__ import annotations

import math
from collections import Counter

import pytest

from map_reduce_engine_spark import mapreduce
from map_reduce_engine_spark.conf import scoped_conf
from map_reduce_engine_spark.operators import text as text_ops
from map_reduce_engine_spark.plans import physical_plan

pytestmark = pytest.mark.quick  # registry-independent: the builder inner loop

# inputdir3-shaped prose fixture (FIXTURES.md §1): repeated words, hyphenated
# words (reference's hyphen-key bug is NOT replicated), multi-space runs.
PROSE = [
    "the quick brown fox jumps over the lazy dog",
    "the  quick\nbrown\tfox",  # whitespace runs: spaces, newline, tab
    "state-of-the-art systems are state-of-the-art",
    "",
    "   ",
    "one",
]


@pytest.fixture(scope="module")
def prose_df(spark):
    return spark.createDataFrame([(s,) for s in PROSE], ["value"])


def golden_wordcount():
    return Counter(w for line in PROSE for w in line.split())


def test_wordcount_compat_matches_counter(spark, prose_df):
    out = {r.key: r.value for r in mapreduce.wordcount_job(prose_df).collect()}
    assert out == dict(golden_wordcount())
    # hyphenated keys survive intact (reference bug §1.3 not replicated)
    assert out["state-of-the-art"] == 2


def test_wordcount_declarative_equals_compat(spark, prose_df):
    declarative = {
        (r.word, r.cnt) for r in text_ops.wordcount(prose_df, "value").collect()
    }
    compat = {(r.key, r.value) for r in mapreduce.wordcount_job(prose_df).collect()}
    assert declarative == compat


def test_wordlength_compat(spark, prose_df):
    golden = Counter(len(w) for line in PROSE for w in line.split())
    out = {r.key: r.value for r in mapreduce.wordlength_job(prose_df).collect()}
    assert out == dict(golden)


def test_map_reduce_custom_job(spark):
    """A custom job exercising flatMap semantics (0..n emissions per record)
    and a reducer that aggregates non-trivially (max)."""
    df = spark.createDataFrame([("a,1 b,2",), ("a,5",), ("skip",)], ["value"])

    def mapper(line):
        for tok in line.split():
            if "," in tok:
                k, v = tok.split(",")
                yield k, int(v)

    def reducer(key, values):
        yield key, max(values)

    out = mapreduce.map_reduce(
        df, mapper, reducer, map_key_type="text", map_value_type="long"
    )
    assert {(r.key, r.value) for r in out.collect()} == {("a", 5), ("b", 2)}


def test_final_merge_add_interface_sum(spark):
    """AddInterface numeric merge (ReduceRunner.java:154-172): reducer emits
    a re-keyed output landing on overlapping keys; final_merge sums them."""
    df = spark.createDataFrame([("x 1", ), ("y 2",), ("z 3",)], ["value"])

    def mapper(line):
        k, v = line.split()
        yield k, int(v)

    def reducer(key, values):
        # re-key everything to one bucket — multiple reduce calls emit 'all'
        yield "all", sum(values)

    merged = mapreduce.map_reduce(
        df, mapper, reducer, map_key_type="text", map_value_type="long", final_merge=True
    )
    assert [(r.key, r.value) for r in merged.collect()] == [("all", 6)]


def test_final_merge_add_interface_concat(spark):
    """AddInterface Text merge is string concatenation (Text.java:28-32)."""
    df = spark.createDataFrame([("k a",), ("k b",)], ["value"])

    def mapper(line):
        k, v = line.split()
        yield k, v

    def reducer(key, values):
        for v in sorted(values):
            yield "out", v

    merged = mapreduce.map_reduce(
        df,
        mapper,
        reducer,
        map_key_type="text",
        map_value_type="text",
        out_value_type="text",
        final_merge=True,
    )
    rows = merged.collect()
    assert len(rows) == 1
    assert rows[0].key == "out"
    assert sorted(rows[0].value) == ["a", "b"]  # concat order unspecified, content exact


def test_num_reducers_repartition(spark, prose_df):
    out = mapreduce.wordcount_job(prose_df.repartition(4))
    out2 = mapreduce.map_reduce(
        prose_df.select("value"),
        mapreduce.wordcount_mapper,
        mapreduce.wordcount_reducer,
        num_reducers=2,
    )
    assert {(r.key, r.value) for r in out.collect()} == {(r.key, r.value) for r in out2.collect()}


def test_writable_type_mapping():
    assert mapreduce.WRITABLES["int"] == ("int", "sum")
    assert mapreduce.WRITABLES["text"] == ("string", "concat")
    assert mapreduce._sql_type("double") == "double"
    assert mapreduce._add_semantics("text") == "concat"


# --------------------------------------------------------------------------
# Key grouping edge cases, against a pure-Python golden. Every case runs with
# 3-record Arrow batches, so key runs cross batch boundaries.
# --------------------------------------------------------------------------


def _golden(records, mapper, reducer, single_col):
    """Group mapper output by key in Python (NaN keys become null, as the
    pandas→Arrow conversion masks them; -0.0 joins 0.0) and reduce."""
    groups: dict = {}
    for rec in records:
        for k, v in mapper(rec[0] if single_col else rec):
            if isinstance(k, float):
                k = None if math.isnan(k) else k + 0.0
            groups.setdefault(k, []).append(v)
    return sorted(repr(pair) for k, vs in groups.items() for pair in reducer(k, vs))


def _edge_cases() -> dict:
    """name → (schema, records, mapper, reducer, map_reduce kwargs). The fns
    are nested so cloudpickle ships them by value: Python workers cannot
    import this test module."""

    def label(key):
        return "null" if key is None or key != key else str(key)

    def pair_mapper(rec):
        yield rec

    def float_mapper(line):
        k, _, v = line.partition(" ")
        yield float(k) if k != "null" else None, v

    def count_reducer(key, values):
        yield key, len(values)

    def sorted_values_reducer(key, values):
        yield key, f"{label(key)}:" + ",".join(str(v) for v in sorted(values))

    def zero_or_two_reducer(key, values):
        if key.startswith("drop"):
            return
        yield key, len(values)
        yield key + "#", 2 * len(values)

    return {
        # 2-column input: the record is the (key, value) row tuple
        "null_and_empty_string_keys": (
            "k string, v bigint",
            [("a", 1), (None, 2), ("", 3), (None, 4), ("a", 5), ("", 6), ("b", 7)],
            pair_mapper, sorted_values_reducer,
            dict(map_key_type="text", map_value_type="long", out_value_type="text"),
        ),
        "signed_zero_keys_labelled_zero": (
            "value string",
            [("-0.0 a",), ("0.0 b",), ("1.5 c",), ("-0.0 d",), ("null e",), ("0.0 f",)],
            float_mapper, sorted_values_reducer,
            dict(map_key_type="double", map_value_type="text"),
        ),
        "hot_key_spans_batches": (
            "value string",
            [("a hot",), *[("hot",)] * 20, ("b hot a",), *[("hot hot",)] * 5, ("c",)],
            mapreduce.wordcount_mapper, count_reducer,
            dict(map_key_type="text", map_value_type="long"),
        ),
        "reducer_emits_zero_or_two_rows": (
            "value string",
            [("drop1 keep1 keep2",), ("keep1 drop2",), ("drop1 keep1",), ("keep3",)],
            mapreduce.wordcount_mapper, zero_or_two_reducer,
            dict(map_key_type="text", map_value_type="long"),
        ),
        "integral_key_with_null": (
            "k bigint, v bigint",
            [(None, 1), (3, 2), (3, 4), (5, 6), (None, 7), (8, 9)],
            pair_mapper, sorted_values_reducer,
            dict(map_key_type="long", map_value_type="long", out_value_type="text"),
        ),
        "num_reducers_3": (
            "value string",
            [(line,) for line in PROSE] * 3,
            mapreduce.wordcount_mapper, mapreduce.wordcount_reducer,
            dict(map_key_type="text", map_value_type="long", num_reducers=3),
        ),
        # today's behaviour, pinned: a NaN key from map_fn comes out as NULL and
        # joins the null-key group (pyspark masks NaN as null on the way to Arrow)
        "nan_key_becomes_null": (
            "value string",
            [("nan a",), ("null b",), ("2.5 c",), ("nan d",)],
            float_mapper, sorted_values_reducer,
            dict(map_key_type="double", map_value_type="text"),
        ),
    }


REDUCE_EDGE_CASES = _edge_cases()


@pytest.mark.parametrize("case", sorted(REDUCE_EDGE_CASES))
def test_reduce_key_grouping_edge_cases(spark, case):
    schema, records, mapper, reducer, kwargs = REDUCE_EDGE_CASES[case]
    df = spark.createDataFrame(records, schema)
    with scoped_conf(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "3"}):
        rows = mapreduce.map_reduce(df, mapper, reducer, **kwargs).collect()
    got = sorted(repr((r.key, r.value)) for r in rows)
    assert got == _golden(records, mapper, reducer, len(df.columns) == 1)


def test_negative_zero_key_is_labelled_zero(spark):
    """A key run of only -0.0 is labelled 0.0, like a run mixing -0.0 and
    0.0 (the label does not depend on which row comes first)."""
    df = spark.createDataFrame([(-0.0, "a"), (1.5, "b"), (-0.0, "c")], "k double, v string")
    out = mapreduce.map_reduce(
        df,
        lambda rec: [rec],
        lambda k, vs: [(k, len(vs))],
        map_key_type="double",
        map_value_type="text",
        out_value_type="long",
    )
    assert sorted((repr(r.key), r.value) for r in out.collect()) == [("0.0", 2), ("1.5", 1)]


def test_wordcount_plan_is_one_exchange_and_two_map_passes(spark, prose_df):
    """The reduce is a sorted-partition mapInPandas pass behind the one key
    shuffle, not a grouped-map (applyInPandas) round trip per key."""
    p = physical_plan(mapreduce.wordcount_job(prose_df), "simple")
    assert p.count("Exchange hashpartitioning(key") == 1, p
    assert p.count("MapInPandas") == 2, p
    assert "FlatMapGroupsInPandas" not in p, p
