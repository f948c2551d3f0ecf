"""The map/reduce UDF compatibility surface — the reference's query language.

The reference's entire query interface is a client-supplied pair
``map(key, Text value, OutputCollector out)`` / ``reduce(key, Iterator
values, OutputCollector out)`` invoked by reflection (``MapRunner.java:36-128``,
``ReduceRunner.java:37-172``), plus a built-in cross-chunk final combine with
``AddInterface.add`` semantics — numeric sum, string concat
(``ReduceRunner.java:154-172``, ``IntWritable.java:41-46``, ``Text.java:28-32``).

Here the same contract is a thin Arrow-batched layer:

- ``map_fn`` runs in ``mapInPandas`` (per-partition batch iterator — the
  reference's per-chunk MapRunner), emitting 0..n (key, value) pairs per
  record (flatMap semantics; the key argument of the reference's ``map`` is
  always null at invocation, ``MapRunner.java:76``, so our map_fn takes just
  the record).
- grouping is one shuffle on the key (the reference's A7 hash partitioner +
  A9 file-per-key grouping): ``repartition(key)`` then
  ``sortWithinPartitions(key)``, the reference's sort-by-key
  (``MapRunner.java:83-84``).
- ``reduce_fn`` runs in one ``mapInPandas`` pass over each sorted partition
  (the reference's ReduceRunner scan, ``ReduceRunner.java:90-105``): it is
  called once per contiguous key run with ALL values for its key, carried
  across Arrow batch boundaries. Spark's shuffle already globalizes groups,
  so the reference's cross-chunk AddInterface merge (A11) is unnecessary for
  correctness; it is still available as ``final_merge=True`` for reducers
  that emit overlapping keys.

Deliberately NOT replicated (documented latent bugs, SURVEY.md §1.3):
hyphenated-key corruption, tab-in-value corruption, unordered Hashtable
output ordering. Key identity here is the typed column value: null keys
form one group, ``-0.0`` and ``0.0`` are one key labelled ``0.0``, and a
null key in a numeric column reaches ``reduce_fn`` as NaN.

Other known deviations:

- a NaN key emitted by ``map_fn`` comes out as a NULL key: pyspark's
  pandas→Arrow conversion masks NaN as null, so it joins the null group;
- a null in an integral value column reaches ``reduce_fn`` as NaN beside
  the key's other values, which stay ints.

Scale note: this is the engine's slow path (Python per record). Built-in
operators (wordcount & friends) use pure DataFrame expressions instead; use
this surface only for genuinely custom per-record / per-group logic.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

# The reference's five Writable wrapper types (SURVEY.md §1.2) → Spark SQL
# types + their AddInterface.add merge semantics.
WRITABLES: dict[str, tuple[str, str]] = {
    # name: (spark sql type, add semantics)
    "int": ("int", "sum"),          # IntWritable.java:41-46
    "short": ("smallint", "sum"),   # ShortWritable.java:21-25
    "long": ("bigint", "sum"),      # LongWritable.java:15-19
    "double": ("double", "sum"),    # DoubleWritable.java:27-31
    "text": ("string", "concat"),   # Text.java:28-32 — string concatenation
}


def _sql_type(t: str) -> str:
    return WRITABLES[t][0] if t in WRITABLES else t


def _add_semantics(t: str) -> str:
    return WRITABLES[t][1] if t in WRITABLES else ("concat" if t == "string" else "sum")


def _pairs_frame(pairs: list[tuple]) -> pd.DataFrame:
    """(key, value) pairs as an object-dtype frame; Arrow casts to the schema."""
    keys = [p[0] for p in pairs]
    vals = [p[1] for p in pairs]
    return pd.DataFrame({"key": pd.Series(keys, dtype=object), "value": pd.Series(vals, dtype=object)})


def _pylist(col: pd.Series, integral: bool) -> list:
    """A batch column as Python values. pandas widens an integral column
    holding a null to float64; its values go back to ints, nulls stay NaN."""
    vals = col.tolist()
    if integral and col.dtype.kind == "f":
        return [v if v != v else int(v) for v in vals]
    return vals


def map_reduce(
    df: DataFrame,
    map_fn: Callable[[Any], Iterable[tuple]],
    reduce_fn: Callable[[Any, list], Iterable[tuple]],
    map_key_type: str = "text",
    map_value_type: str = "long",
    out_key_type: str | None = None,
    out_value_type: str | None = None,
    num_reducers: int | None = None,
    final_merge: bool = False,
) -> DataFrame:
    """Run a reference-style map/reduce job on a DataFrame.

    ``map_fn(record)`` yields (key, value) pairs; ``record`` is the single
    column's value for 1-column inputs (the reference's line record) else the
    row tuple. ``reduce_fn(key, values)`` yields (key2, value2) pairs.
    Types are Writable names (int/short/long/double/text) or Spark SQL types.
    Returns DataFrame[key, value].
    """
    out_key_type = out_key_type or map_key_type
    out_value_type = out_value_type or map_value_type
    kt, vt = _sql_type(map_key_type), _sql_type(map_value_type)
    okt, ovt = _sql_type(out_key_type), _sql_type(out_value_type)

    single_col = len(df.columns) == 1

    def run_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for rec in pdf.itertuples(index=False, name=None):
                out.extend(map_fn(rec[0] if single_col else rec))
            yield _pairs_frame(out)

    mapped = df.mapInPandas(run_map, schema=f"key {kt}, value {vt}")
    # Reference semantics: numReducers bounds reduce parallelism
    # (Partitioner.java:34-40; clamp Communicator.java:137-147). In Spark
    # this is just the shuffle partition count; without it AQE coalesces.
    if num_reducers is not None:
        mapped = mapped.repartition(num_reducers, "key")
    else:
        mapped = mapped.repartition("key")
    # One pass per sorted partition: reduce_fn runs once per contiguous key
    # run. -0.0 and 0.0 sort (and hash) as one key, labelled 0.0; a null key
    # in a numeric column arrives as NaN, so NaN keys compare equal.
    int_key, int_value = (isinstance(f.dataType, IntegralType) for f in mapped.schema.fields)

    def run_reduce(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        key: Any = None
        values: list | None = None  # the current key run; None before the first row
        for pdf in batches:
            out: list[tuple] = []
            for k, v in zip(_pylist(pdf["key"], int_key), _pylist(pdf["value"], int_value)):
                if values is None or not (k == key or (k != k and key != key)):
                    if values is not None:
                        out.extend(reduce_fn(key, values))
                    key, values = (0.0 if k == 0 and isinstance(k, float) else k), []
                values.append(v)
            if out:
                yield _pairs_frame(out)
        if values is not None:
            yield _pairs_frame(list(reduce_fn(key, values)))

    reduced = mapped.sortWithinPartitions("key").mapInPandas(run_reduce, schema=f"key {okt}, value {ovt}")

    if final_merge:
        # AddInterface final combine (ReduceRunner.java:154-172): merge rows
        # sharing a key — sum for numeric values, concat for text.
        if _add_semantics(out_value_type) == "sum":
            reduced = reduced.groupBy("key").agg(F.sum("value").cast(ovt).alias("value"))
        else:
            reduced = reduced.groupBy("key").agg(F.concat_ws("", F.collect_list("value")).alias("value"))
    return reduced


# --------------------------------------------------------------------------
# The reference's two shipped jobs, expressed on this compat surface.
# Used by conformance tests; the production versions are the declarative
# operators in operators/text.py.
# --------------------------------------------------------------------------


def wordcount_mapper(line: str) -> Iterable[tuple[str, int]]:
    """WordCount.java:13-24 — whitespace tokenize, emit (word, 1)."""
    if line is None:
        return
    for w in line.split():
        yield w, 1


def wordcount_reducer(key: str, values: list) -> Iterable[tuple[str, int]]:
    """WordCount.java:27-35 — sum the counts."""
    yield key, int(sum(values))


def wordlength_mapper(line: str) -> Iterable[tuple[int, str]]:
    """WordLength.java:13-27 — emit (len(word), word)."""
    if line is None:
        return
    for w in line.split():
        yield len(w), w


def wordlength_reducer(key: int, values: list) -> Iterable[tuple[int, int]]:
    """WordLength.java:30-40 — count words per length."""
    yield key, len(values)


def wordcount_job(df: DataFrame, col: str = "value") -> DataFrame:
    return map_reduce(
        df.select(col),
        wordcount_mapper,
        wordcount_reducer,
        map_key_type="text",
        map_value_type="long",
        out_key_type="text",
        out_value_type="long",
    )


def wordlength_job(df: DataFrame, col: str = "value") -> DataFrame:
    return map_reduce(
        df.select(col),
        wordlength_mapper,
        wordlength_reducer,
        map_key_type="long",
        map_value_type="text",
        out_key_type="long",
        out_value_type="long",
    )


def inverted_index_mapper(line: str) -> Iterable[tuple[str, int]]:
    """map: ``<doc_id>\\t<text>`` line → (word, doc_id) per token.

    The classic third MapReduce example after WordCount/WordLength. Document
    identity rides in the record itself (the reference's map sees only the
    line — provenance must be encoded in it, exactly as Hadoop inverted-index
    jobs prepend the doc key).
    """
    doc_id, _, text = line.partition("\t")
    for w in text.split():
        yield (w, int(doc_id))


def inverted_index_reducer(key: str, values: list) -> Iterable[tuple[str, str]]:
    """reduce: (word, [doc_id...]) → (word, ascending-unique posting list)."""
    yield (key, ",".join(str(d) for d in sorted(set(values))))


def inverted_index_job(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Inverted index over (id, text) rows via the compat surface."""
    lines = df.select(
        F.concat_ws("\t", F.col(id_col).cast("string"), F.col(text_col)).alias("value")
    )
    return map_reduce(
        lines,
        inverted_index_mapper,
        inverted_index_reducer,
        map_key_type="text",
        map_value_type="long",
        out_key_type="text",
        out_value_type="text",
    )
