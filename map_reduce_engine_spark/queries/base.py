"""Registry plumbing for conformance queries.

Conventions that make the DuckDB-oracle hash comparison robust:
- every computed/aggregate column is aliased identically on both sides;
- floating-point aggregates are ``round(x, n)``-ed in BOTH engines (double
  summation order differs between engines; rounding inside the query makes
  results bit-comparable);
- rankings/limits always carry a deterministic tiebreak column;
- timestamps stay TIMESTAMP_NTZ end-to-end (timezone-independent).
"""

from __future__ import annotations

import math
from collections.abc import Callable, Sequence
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from map_reduce_engine_spark.io import read_table


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB over the fixture views; None → rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            # a silent overwrite once swallowed a query for a whole round —
            # duplicate registration is always a bug, fail at import
            raise ValueError(f"duplicate registry name: {name!r}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Fixture table loader (handles the events nanos-timestamp special case)."""
    return read_table(spark, sf_dir, name)


def collect_bounded(df: DataFrame, max_rows: int, query: str) -> list[Row]:
    """Collect the bounded grid a query iterates on the driver.

    The plan gate only sees the scan of the rows the driver hands back, so
    the grid's row bound is enforced here: more than ``max_rows`` rows
    raises ``ValueError`` naming the query instead of pulling a data-sized
    frame into driver memory.
    """
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"{query}: driver-side grid exceeds its bound of {max_rows} rows"
        )
    return rows


def local_rows(spark: SparkSession, rows: Sequence[Sequence], schema: str) -> DataFrame:
    """Driver-built result rows as a local relation with the DDL ``schema``.

    The rows go in as one Arrow table, which Spark plans as a
    ``LocalRelation``: collecting it runs no job. ``spark.createDataFrame``
    of a Python list plans as ``Scan ExistingRDD`` instead, and collecting
    that runs one job with a Python worker task.
    """
    arrow = to_arrow_schema(StructType.fromDDL(schema))
    cols = [pa.array([r[i] for r in rows], f.type) for i, f in enumerate(arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow))


def normalize_result(
    rows: Sequence[Sequence], columns: Sequence[str]
) -> tuple[list[str], list[tuple[str, ...]]]:
    """A result in the driver's comparison form: columns sorted by name,
    then rows sorted — an order-insensitive multiset. Cells compare by
    ``repr``; floats as ``repr(v + 0.0)`` (so -0.0 equals 0.0), NaN as
    ``"NaN"``. Returns the sorted column names and the rows."""
    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v + 0.0)
        return repr(v)

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted(tuple(cell(row[i]) for i in order) for row in rows)
    return [columns[i] for i in order], out
