"""Sources and sinks.

Reference surface (SURVEY.md §2 A1/A2/A12): line-oriented text source
(``RecordReader.java:11-38``, directory enumeration ``JobConfiguration.java:52-69``)
and a ``key\\tvalue`` text sink (``ReduceRunner.java:113-122``,
``RecordWriter.java:9-45``). We expose those plus the full Spark reader/writer
family (parquet/csv/json/orc) — the engine's default interchange format is
parquet (columnar scan + predicate pushdown; the 100 TB path).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# --------------------------------------------------------------------------
# Sources
# --------------------------------------------------------------------------


def read_text(spark: SparkSession, path: str, with_provenance: bool = False) -> DataFrame:
    """Line-oriented text source: one row per line, column ``value``.

    Mirrors the reference record model — "reading one record is equivalent to
    reading a line" (``RecordReader.java:22-29``); a directory input unions all
    its files into one record stream (``Communicator.java:180-183``). Spark
    globs directories natively; ``with_provenance`` adds the source file path
    (the reference loses file identity after chunking — we keep it optional).
    """
    df = spark.read.text(path)
    if with_provenance:
        df = df.withColumn("input_file", F.input_file_name())
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv(spark: SparkSession, path: str, schema=None, header: bool = True, sep: str = ",") -> DataFrame:
    reader = spark.read.option("header", header).option("sep", sep)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def read_xml(spark: SparkSession, path: str, row_tag: str = "row", schema=None) -> DataFrame:
    """Spark 4 built-in XML source (the former spark-xml package, merged
    upstream) — feed-shaped ingest without a parsing UDF."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_xml(
    df: DataFrame,
    path: str,
    row_tag: str = "row",
    root_tag: str = "rows",
    mode: str = "overwrite",
) -> None:
    df.write.format("xml").option("rowTag", row_tag).option(
        "rootTag", root_tag
    ).mode(mode).save(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """Raw-file ingest via the built-in ``binaryFile`` source: one row per
    file with ``(path, modificationTime, length, content: binary)``.

    The multimodal ingest edge (SURVEY §2 Part C): image/audio/video blobs
    enter the engine as opaque binary rows and flow straight into
    ``operators.multimodal`` (metadata extraction, pluggable decode). The
    source is splittable across executors by FILE (never within one), so at
    100 TB ingest parallelism equals file count — pair with
    ``compact_small_files`` after decode, and cap
    ``spark.sql.files.maxPartitionBytes`` so many small blobs coalesce into
    one task instead of one task per file.
    """
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path)


# Fixture timestamp columns by table — every one goes through the same
# tolerant normalization as events.ts, so a driver fixture regeneration that
# changes a physical timestamp encoding (micros ↔ nanos-as-long ↔ tz-instant)
# can't break the whole registry at once.
_FIXTURE_TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def _normalize_ts(df: DataFrame, col: str) -> DataFrame:
    """Normalize one fixture timestamp column to TIMESTAMP_NTZ, whatever the
    parquet physically holds.

    Fixture generations have shipped timestamps as TIMESTAMP(MICROS)
    (current), as int64 epoch-nanos (older runs, where Spark lacks a
    TIMESTAMP(NANOS) parquet type and must read nanos as long via
    ``spark.sql.legacy.parquet.nanosAsLong``, which ``get_spark`` sets), as
    a tz-instant, or as DATE.
    Sniff the physical type and normalize so every downstream query sees one
    schema. TIMESTAMP_NTZ keeps the value timezone-independent for oracle
    comparison.
    """
    t = df.schema[col].dataType.typeName()
    # int64 epoch-nanos generations: integer division, not double (precision
    # loss at ~1.7e18 ns epochs)
    if t in ("long", "bigint"):
        return df.withColumn(
            col,
            F.expr(
                f"timestampadd(MICROSECOND, {col} div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    # tz-instant generations: unix_micros reads the RAW epoch value, so the
    # NTZ result is the instant's UTC wall time on ANY session timezone —
    # correctness here must not depend on session.py's UTC pin, because the
    # external driver's session config is unknown (pinned by
    # test_io.py::test_read_table_is_session_timezone_independent).
    # cast("timestamp_ntz") would instead shift by the session offset.
    if t == "timestamp":
        return df.withColumn(
            col,
            F.expr(
                f"timestampadd(MICROSECOND, unix_micros({col}), TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    if t == "date":  # date generations: midnight wall-clock
        return df.withColumn(col, F.col(col).cast("timestamp_ntz"))
    return df  # already timestamp_ntz


# path -> ((newest st_mtime_ns, file count, total bytes), inferred schema)
_schemas: dict[str, tuple[tuple[int, int, int], StructType]] = {}


def _files_stamp(path: str) -> tuple[int, int, int] | None:
    """(newest st_mtime_ns, file count, total bytes) of the files at
    ``path``, or None when it names no local file or directory. A rewrite
    of a file inside a ``*.parquet`` directory leaves the directory's own
    mtime alone, so every file under it counts."""
    if os.path.isfile(path):
        st = os.stat(path)
        return st.st_mtime_ns, 1, st.st_size
    sts = [os.stat(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files]
    if not sts:
        return None
    return max(st.st_mtime_ns for st in sts), len(sts), sum(st.st_size for st in sts)


def _read_parquet_pinned(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema Spark inferred the first
    time passed back through ``.schema()``: inference runs a job, the pinned
    read runs none. The memo is re-filled when the files under ``path``
    change (newest mtime, file count or total size)."""
    # stamp before inferring: a rewrite in between pairs the new schema
    # with the old stamp, which the next read misses and infers again.
    # Concurrent readers at worst both infer and store a consistent pair.
    stamp = _files_stamp(path)
    if stamp is None:
        return spark.read.parquet(path)
    hit = _schemas.get(path)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _schemas[path] = (stamp, df.schema)
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic fixture table by name (TESTDATA.md layout),
    normalizing any timestamp column to TIMESTAMP_NTZ.

    Repeat reads of an unchanged table run no schema-inference job (the
    schema is pinned per path), and the session's conf is left as found."""
    df = _read_parquet_pinned(spark, f"{sf_dir}/{name}.parquet")
    for col in _FIXTURE_TS_COLS.get(name, ()):
        if col in df.columns:
            df = _normalize_ts(df, col)
    return df


# --------------------------------------------------------------------------
# Sinks
# --------------------------------------------------------------------------


def write_tsv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """The reference's final-output contract: ``key\\tvalue`` text lines.

    ``ReduceRunner.java:113-122`` writes one tab-separated line per pair into
    ``finaloutput``; one file per reducer. Here: one file per partition, order
    unspecified (the reference's order is Hashtable enumeration — also
    unspecified). Compare as sorted multisets. A NULL renders as the empty
    field, so every line keeps one tab per column boundary.
    """
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("")) for c in df.columns]
    df.select(F.concat_ws("\t", *cols).alias("value")).write.mode(mode).text(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str | None = None,
) -> None:
    """Parquet sink. ``compression``: snappy (default), zstd, gzip, lz4, none.

    At 100 TB the codec is a real knob: zstd typically cuts cold-storage
    bytes ~30% vs snappy for ~equal scan speed on modern CPUs — pick zstd
    for archival tables, snappy for hot shuffle-adjacent ones.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if compression is not None:
        writer = writer.option("compression", compression)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    by: list[str],
    path: str | None = None,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed catalog table: pre-shuffles data into ``buckets`` files per
    partition hashed on ``by``.

    The co-located-join primitive at 100 TB: two tables bucketed on the same
    key with the same bucket count join with NO exchange on either side —
    the shuffle is paid once at write time instead of per query. Requires a
    catalog table (``saveAsTable``); ``path`` makes it external.
    """
    writer = df.write.mode(mode).bucketBy(buckets, *by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    n_files: int,
    mode: str = "overwrite",
) -> None:
    """Range-clustered parquet: range-partition on ``cluster_by`` then sort
    rows within each file on the same keys.

    The data-skipping primitive for non-partition columns at 100 TB: each
    parquet file (and row group) covers a narrow, non-overlapping key range,
    so its min/max footer statistics let later scans with predicates on
    ``cluster_by`` skip whole files — the poor man's Z-order for a single
    sort dimension. The range exchange samples key quantiles, so skewed keys
    still yield balanced files.
    """
    (
        df.repartitionByRange(n_files, *cluster_by)
        .sortWithinPartitions(*cluster_by)
        .write.mode(mode)
        .parquet(path)
    )


def morton_col(a, b, bits: int = 16):
    """Morton (Z-order) interleave of two non-negative int columns.

    Bit i of ``a`` lands at position 2i, bit i of ``b`` at 2i+1 — a JVM-side
    expression tree (no Python), 2*``bits`` wide. Inputs are masked to
    ``bits`` bits; callers should pre-scale values onto that grid (rank or
    min-max bucketing) for an even curve.
    """
    a = (F.col(a) if isinstance(a, str) else a).cast("bigint") % (1 << bits)
    b = (F.col(b) if isinstance(b, str) else b).cast("bigint") % (1 << bits)
    out = F.lit(0).cast("bigint")
    for i in range(bits):
        out = out.bitwiseOR(F.shiftleft(F.shiftright(a, i) % 2, 2 * i)).bitwiseOR(
            F.shiftleft(F.shiftright(b, i) % 2, 2 * i + 1)
        )
    return out


def write_zordered(
    df: DataFrame,
    path: str,
    cols: tuple[str, str],
    n_files: int,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet over TWO dimensions.

    ``write_clustered`` gives perfect skipping on one sort dimension and
    none on the others; interleaving the key bits onto a Z-curve gives
    *partial* range-locality on BOTH columns — each file covers a compact
    2-D tile, so min/max footer stats prune scans filtered on either
    column. The standard layout trick (Delta/Iceberg OPTIMIZE ZORDER) built
    from public expressions: morton key → range partition → in-file sort.
    """
    z = morton_col(cols[0], cols[1], bits=bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def compact_small_files(
    spark: SparkSession,
    src: str,
    dest: str,
    target_file_mb: int = 128,
    mode: str = "overwrite",
) -> int:
    """Small-file compaction: rewrite a fragmented parquet dataset into
    ~``target_file_mb``-sized files. Returns the output file count.

    The maintenance job every long-lived 100 TB table needs — streaming and
    per-task writers accumulate thousands of KB-sized files whose open/seek
    overhead dominates scan time and whose footers bloat planning. Sizing is
    computed from the dataset's actual on-disk bytes (driver-side file
    listing — metadata only, never data), and the rewrite is a single
    shuffle-free coalesce when shrinking the file count.
    """
    from pathlib import Path

    total_bytes = sum(f.stat().st_size for f in Path(src).rglob("*.parquet"))
    n_files = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))  # ceil
    df = spark.read.parquet(src)
    df.coalesce(int(n_files)).write.mode(mode).parquet(dest)
    return len([f for f in Path(dest).rglob("*.parquet")])


def write_rebalanced(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    cols: list[str] | None = None,
) -> None:
    """Parquet sink behind an AQE ``REBALANCE`` exchange: output files come
    out near-uniform in size regardless of upstream partition skew.

    ``repartition(n)`` needs a hand-picked ``n`` that goes stale as data
    grows; ``coalesce`` can't split a hot partition at all. The REBALANCE
    hint lets AQE pick the partition count from the actual runtime map
    statistics AND split oversized partitions (skewedPartitionFactor), so
    the same write keeps producing ~advisory-sized files from sf0.001 to
    100 TB. With ``cols`` the exchange hashes on those columns first (file-
    level locality for downstream scans) while still splitting skewed keys.
    """
    hinted = df.hint("rebalance", *cols) if cols else df.hint("rebalance")
    hinted.write.mode(mode).parquet(path)


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_by: list[str],
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present in
    ``df``, leave every other partition untouched.

    The incremental-ingest idiom at 100 TB — a daily job rewrites day=D
    without touching (or even listing) the other ~36,500 day partitions,
    and reruns are idempotent. Spark's default ("static") overwrite would
    truncate the WHOLE table first; the dynamic mode is set per-write here
    so the engine never depends on the deployment's global default.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )
