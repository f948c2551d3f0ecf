"""Source/sink round-trips: the reference's text-in / TSV-out contract
(SURVEY.md A1/A2/A12) plus the csv/json/parquet reader-writer family."""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_engine_spark import io as mio
from map_reduce_engine_spark.operators import wordcount

import pytest

pytestmark = pytest.mark.quick  # registry-independent: the builder inner loop


def test_text_source_line_model(spark, tmp_path):
    """One row per line; a directory input unions all its files into one
    record stream (Communicator.java:180-183 semantics)."""
    d = tmp_path / "in"
    d.mkdir()
    (d / "a.txt").write_text("alpha beta\ngamma\n")
    (d / "b.txt").write_text("delta\n")
    df = mio.read_text(spark, str(d))
    assert df.columns == ["value"]
    assert sorted(r.value for r in df.collect()) == ["alpha beta", "delta", "gamma"]


def test_text_source_provenance(spark, tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    (d / "a.txt").write_text("x\n")
    rows = mio.read_text(spark, str(d), with_provenance=True).collect()
    assert rows[0].input_file.endswith("a.txt")


def test_tsv_sink_key_value_contract(spark, tmp_path):
    """A12: final output is key\tvalue text lines, order unspecified —
    compare as sorted multisets, exactly like the reference's finaloutput."""
    out = tmp_path / "out"
    df = spark.createDataFrame([("a", 2), ("b", 1)], ["key", "value"])
    mio.write_tsv(df, str(out))
    lines = sorted(r.value for r in spark.read.text(str(out)).collect())
    assert lines == ["a\t2", "b\t1"]


def test_tsv_sink_null_renders_as_empty_field(spark, tmp_path):
    """A NULL key or value is the empty field: the line still has its tab,
    so it splits into exactly two fields."""
    out = tmp_path / "out"
    df = spark.createDataFrame([(None, 2), ("b", None), ("c", 3)], "key string, value bigint")
    mio.write_tsv(df, str(out))
    lines = sorted(r.value for r in spark.read.text(str(out)).collect())
    assert lines == ["\t2", "b\t", "c\t3"]
    assert all(len(line.split("\t")) == 2 for line in lines)


def test_wordcount_end_to_end_text_to_tsv(spark, tmp_path):
    """The reference's flagship job end-to-end: text dir in → wordcount →
    TSV out (WordCount.java:13-35 / report pp.7-8 output layout)."""
    d = tmp_path / "in"
    d.mkdir()
    (d / "t.txt").write_text("the cat the dog\nthe bird\n")
    out = tmp_path / "final"
    mio.write_tsv(wordcount(mio.read_text(spark, str(d)), "value"), str(out))
    got = dict(
        line.value.split("\t") for line in spark.read.text(str(out)).collect()
    )
    assert got == {"the": "3", "cat": "1", "dog": "1", "bird": "1"}


def test_csv_round_trip(spark, tmp_path):
    p = tmp_path / "c"
    df = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "s"])
    df.write.option("header", True).csv(str(p))
    back = mio.read_csv(spark, str(p), schema="id INT, s STRING")
    assert {tuple(r) for r in back.collect()} == {(1, "x"), (2, "y")}


def test_json_round_trip(spark, tmp_path):
    p = tmp_path / "j"
    df = spark.createDataFrame([(1, [1.0, 2.0]), (2, [3.0, 4.0])], ["id", "vec"])
    df.write.json(str(p))
    back = mio.read_json(spark, str(p), schema="id BIGINT, vec ARRAY<DOUBLE>")
    assert {(r.id, tuple(r.vec)) for r in back.collect()} == {(1, (1.0, 2.0)), (2, (3.0, 4.0))}


def test_parquet_round_trip_partitioned(spark, tmp_path):
    p = tmp_path / "p"
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], ["id", "grp"])
    mio.write_parquet(df, str(p), partition_by=["grp"])
    back = mio.read_parquet(spark, str(p))
    assert back.count() == 3
    # partition pruning: filtering on the partition column scans one dir
    pruned = back.where(F.col("grp") == "a")
    assert pruned.count() == 2


def test_orc_round_trip(spark, tmp_path):
    p = tmp_path / "o"
    df = spark.createDataFrame([(1, "x", 1.5), (2, "y", 2.5)], ["id", "s", "v"])
    df.write.orc(str(p))
    back = spark.read.orc(str(p))
    assert {tuple(r) for r in back.collect()} == {(1, "x", 1.5), (2, "y", 2.5)}


def test_partition_pruning_reaches_scan(spark, tmp_path):
    """Hive-style partitioned layout must prune at plan time: the partition
    filter appears as PartitionFilters on the scan, and the number of
    scanned files equals the one matching partition's files — the mechanism
    that turns a 100 TB table scan into a single-partition read."""
    import io as _io
    from contextlib import redirect_stdout

    p = tmp_path / "pp"
    df = spark.range(100).withColumn("lang", F.when(F.col("id") % 2 == 0, "en").otherwise("de"))
    mio.write_parquet(df, str(p), partition_by=["lang"])
    pruned = mio.read_parquet(spark, str(p)).where(F.col("lang") == "en")
    buf = _io.StringIO()
    with redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    pf = next(line for line in plan.splitlines() if "PartitionFilters:" in line)
    assert "lang" in pf
    assert pruned.count() == 50


def test_compact_small_files(spark, tmp_path):
    """A fragmented dataset (many tiny files) compacts to the computed
    target count and preserves content exactly."""
    src, dest = tmp_path / "frag", tmp_path / "compact"
    spark.range(10_000).repartition(64).write.parquet(str(src))
    from pathlib import Path

    assert len(list(Path(src).rglob("*.parquet"))) == 64
    n = mio.compact_small_files(spark, str(src), str(dest), target_file_mb=128)
    assert n == 1  # 10k longs ≪ 128 MB → one file
    assert spark.read.parquet(str(dest)).count() == 10_000
    assert spark.read.parquet(str(dest)).agg(F.sum("id")).first()[0] == 49_995_000


def test_write_clustered_file_ranges_disjoint(spark, tmp_path):
    """Range-clustered files carry narrow, non-overlapping key ranges —
    the min/max footer stats later scans skip on."""
    p = tmp_path / "clustered"
    df = spark.range(10_000).withColumn("k", (F.col("id") * 7919) % 10_000)
    mio.write_clustered(df, str(p), cluster_by=["k"], n_files=4)
    per_file = (
        spark.read.parquet(str(p))
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
        .collect()
    )
    assert len(per_file) == 4
    spans = sorted((r.lo, r.hi) for r in per_file)
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev < lo_next  # disjoint → every file skippable by range


def test_chunked_text_source_record_model(spark, tmp_path):
    """The reference's NUM_RECORDS_PER_CHUNK split (MasterNode.java:89-126)
    as a Python DataSource: one Spark partition per chunk, rows carry
    (chunk_id, record_id) provenance, content identical to spark.read.text."""
    from map_reduce_engine_spark.sources import ChunkedTextDataSource

    d = tmp_path / "in"
    d.mkdir()
    (d / "a.txt").write_text("l0\nl1\nl2\nl3\nl4\n")  # 5 lines → chunks of 2: 3 chunks
    (d / "b.txt").write_text("m0\nm1\n")  # 2 lines → 1 chunk
    spark.dataSource.register(ChunkedTextDataSource)
    df = (
        spark.read.format("chunked_text")
        .option("records_per_chunk", "2")
        .load(str(d))
    )
    rows = df.collect()
    assert {r.value for r in rows} == {"l0", "l1", "l2", "l3", "l4", "m0", "m1"}
    # chunking: ceil(5/2) + ceil(2/2) = 4 chunks, one partition each
    assert {r.chunk_id for r in rows} == {0, 1, 2, 3}
    assert df.rdd.getNumPartitions() == 4
    # record ids are per-file line numbers; chunk 1 = lines 2,3 of a.txt
    chunk1 = sorted((r.record_id, r.value) for r in rows if r.chunk_id == 1)
    assert chunk1 == [(2, "l2"), (3, "l3")]


def test_chunked_text_wordcount_parity(spark, tmp_path):
    """WordCount over the chunked source equals WordCount over the native
    text reader — ingestion strategy must not change query results."""
    from map_reduce_engine_spark.operators import wordcount
    from map_reduce_engine_spark.sources import ChunkedTextDataSource

    d = tmp_path / "in"
    d.mkdir()
    (d / "t.txt").write_text("the cat the dog\nthe bird\n")
    spark.dataSource.register(ChunkedTextDataSource)
    chunked = (
        spark.read.format("chunked_text").option("records_per_chunk", "1").load(str(d))
    )
    native = mio.read_text(spark, str(d))
    got = {(r.word, r.cnt) for r in wordcount(chunked, "value").collect()}
    want = {(r.word, r.cnt) for r in wordcount(native, "value").collect()}
    assert got == want == {("the", 3), ("cat", 1), ("dog", 1), ("bird", 1)}


def test_zorder_write_skips_on_both_dims(spark, tmp_path):
    """Z-ordered files cover compact 2-D tiles: a narrow predicate on
    EITHER dimension must touch a strict subset of files (range-clustering
    on one column would leave the other dimension unskippable)."""
    p = tmp_path / "zorder"
    df = spark.range(10_000).select(
        (F.col("id") % 100).alias("x"), (F.col("id") / 100).cast("bigint").alias("y")
    )
    mio.write_zordered(df, str(p), cols=("x", "y"), n_files=16, bits=7)
    back = spark.read.parquet(str(p))
    total = back.select(F.input_file_name()).distinct().count()
    assert total == 16

    def files_touched(pred):
        return back.where(pred).select(F.input_file_name()).distinct().count()

    # row-group stats aside, file min/max on a compact tile must prune:
    assert files_touched(F.col("x") < 10) < total
    assert files_touched(F.col("y") < 10) < total
    # content integrity
    assert back.count() == 10_000
    assert back.agg(F.sum("x")).first()[0] == df.agg(F.sum("x")).first()[0]


def test_parquet_compression_codecs(spark, tmp_path):
    """zstd and snappy files round-trip identically; zstd compresses the
    repetitive fixture harder (the archival-tier codec choice)."""
    from pathlib import Path

    df = spark.range(50_000).select(
        (F.col("id") % 7).cast("string").alias("k"), F.lit("x" * 50).alias("pad")
    )
    sizes = {}
    for codec in ("snappy", "zstd"):
        p = tmp_path / codec
        mio.write_parquet(df.coalesce(1), str(p), compression=codec)
        assert spark.read.parquet(str(p)).count() == 50_000
        sizes[codec] = sum(f.stat().st_size for f in Path(p).rglob("*.parquet"))
    assert sizes["zstd"] < sizes["snappy"]


def test_csv_malformed_rows_permissive_and_drop(spark, tmp_path):
    """Ingest hygiene: PERMISSIVE mode quarantines malformed rows into
    _corrupt_record (for a dead-letter table); DROPMALFORMED silently
    drops them — both must parse the clean rows identically."""
    f = tmp_path / "m.csv"
    f.write_text("id,qty\n1,10\n2,notanumber\n3,30\n")
    schema = "id INT, qty INT, _corrupt_record STRING"
    permissive = (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(schema)
        .csv(str(f))
    )
    rows = permissive.collect()
    good = {(r.id, r.qty) for r in rows if r._corrupt_record is None}
    bad = [r for r in rows if r._corrupt_record is not None]
    assert good == {(1, 10), (3, 30)}
    assert len(bad) == 1 and "notanumber" in bad[0]._corrupt_record

    dropped = (
        spark.read.option("header", True)
        .option("mode", "DROPMALFORMED")
        .schema("id INT, qty INT")
        .csv(str(f))
    )
    assert {(r.id, r.qty) for r in dropped.collect()} == {(1, 10), (3, 30)}


def test_wordcount_format_independent(spark, tmp_path):
    """The same corpus through text, csv, json, and parquet sources must
    produce identical wordcounts — ingestion format is an IO concern, never
    a semantics concern."""
    from map_reduce_engine_spark.operators import wordcount

    rows = [("the cat sat",), ("the dog ran",)]
    df = spark.createDataFrame(rows, ["value"])
    paths = {}
    for fmt in ("text", "csv", "json", "parquet"):
        p = str(tmp_path / fmt)
        if fmt == "text":
            df.write.text(p)
        elif fmt == "csv":
            df.write.option("header", True).csv(p)
        elif fmt == "json":
            df.write.json(p)
        else:
            df.write.parquet(p)
        paths[fmt] = p
    results = {}
    for fmt, p in paths.items():
        if fmt == "text":
            back = mio.read_text(spark, p)
        elif fmt == "csv":
            back = mio.read_csv(spark, p, schema="value string")
        elif fmt == "json":
            back = mio.read_json(spark, p, schema="value string")
        else:
            back = mio.read_parquet(spark, p)
        results[fmt] = {(r.word, r.cnt) for r in wordcount(back, "value").collect()}
    want = {("the", 2), ("cat", 1), ("sat", 1), ("dog", 1), ("ran", 1)}
    assert all(got == want for got in results.values()), results


def test_tokenizer_unicode_robust(spark):
    """Tokenization must handle non-ASCII scripts, emoji, and exotic
    whitespace without mangling bytes (the 100 TB corpus is not ASCII)."""
    from map_reduce_engine_spark.operators import wordcount

    df = spark.createDataFrame(
        [("héllo wörld héllo",), ("日本語 テキスト",), ("emoji 🚀 emoji",), ("tab\tsep ok",)],
        ["value"],
    )
    got = {(r.word, r.cnt) for r in wordcount(df, "value").collect()}
    assert ("héllo", 2) in got and ("wörld", 1) in got
    assert ("日本語", 1) in got and ("テキスト", 1) in got
    assert ("🚀", 1) in got and ("emoji", 2) in got
    assert ("tab", 1) in got and ("sep", 1) in got  # \t splits


def test_read_table_normalizes_all_fixture_tables(spark, sf_dir):
    """Every fixture table reads through the tolerant path; every declared
    timestamp column lands as TIMESTAMP_NTZ regardless of the physical
    encoding this fixture generation shipped."""
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        df = mio.read_table(spark, sf_dir, name)
        assert df.count() > 0, name
        for col in mio._FIXTURE_TS_COLS.get(name, ()):
            assert df.schema[col].dataType.typeName() == "timestamp_ntz", (name, col)


def test_read_table_tolerates_timestamp_encoding_drift(spark, tmp_path):
    """Driver fixture regenerations have shipped the same column as
    TIMESTAMP(MICROS), int64 epoch-nanos, a tz-instant, and could ship DATE;
    read_table must normalize ALL of them to the SAME TIMESTAMP_NTZ values
    (this exact drift broke the events reader once — io.read_events)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    naive = datetime.datetime(2024, 1, 15, 7, 30, 45, 123456)
    nanos = int(naive.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000) * 1000
    variants = {
        "us": pa.table({"event_id": [1], "ts": pa.array([naive], pa.timestamp("us"))}),
        "ns_long": pa.table({"event_id": [1], "ts": pa.array([nanos], pa.int64())}),
        "tz": pa.table(
            {"event_id": [1], "ts": pa.array([naive], pa.timestamp("us", tz="UTC"))}
        ),
        "date": pa.table({"event_id": [1], "ts": pa.array([naive.date()], pa.date32())}),
    }
    got = {}
    for tag, tbl in variants.items():
        d = tmp_path / tag
        d.mkdir()
        pq.write_table(tbl, d / "events.parquet")
        df = mio.read_table(spark, str(d), "events")
        assert df.schema["ts"].dataType.typeName() == "timestamp_ntz", tag
        got[tag] = df.collect()[0].ts
    assert got["us"] == got["ns_long"] == got["tz"] == naive, got
    assert got["date"] == datetime.datetime(2024, 1, 15), got  # midnight wall-clock


def test_xml_roundtrip(spark, sf_dir, tmp_path):
    """Spark 4's built-in XML source: a nation-table roundtrip preserves
    rows and types survive re-read (long keys come back as BIGINT)."""
    from map_reduce_engine_spark.io import read_table, read_xml, write_xml

    nation = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    path = str(tmp_path / "nation_xml")
    write_xml(nation, path, row_tag="nation", root_tag="nations")
    back = read_xml(spark, path, row_tag="nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution across parquet file generations: a reader with
    mergeSchema must union the columns (missing ones null-filled) — the
    posture that lets a 100 TB table gain a column without rewriting
    history."""
    from pyspark.sql import functions as F

    v1 = spark.range(3).select(F.col("id"), F.lit("a").alias("x"))
    v2 = spark.range(3, 6).select(F.col("id"), F.lit("a").alias("x"), F.lit(1).alias("y"))
    v1.write.parquet(str(tmp_path / "t" / "g=1"))
    v2.write.parquet(str(tmp_path / "t" / "g=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(str(tmp_path / "t"))
    assert set(merged.columns) >= {"id", "x", "y"}
    rows = {r.id: (r.x, r.y) for r in merged.collect()}
    assert rows[0] == ("a", None) and rows[5] == ("a", 1)


def test_binary_file_source(spark, tmp_path):
    """binaryFile ingest: one row per file with (path, length, content),
    glob filtering, and recursive lookup — the multimodal ingest edge."""
    d = tmp_path / "media"
    (d / "nested").mkdir(parents=True)
    (d / "a.img").write_bytes(b"\x89IMG\x00fake-image-bytes")
    (d / "b.img").write_bytes(b"\x89IMG\x01other-bytes")
    (d / "notes.txt").write_text("not media")
    (d / "nested" / "c.img").write_bytes(b"\x89IMG\x02deep")

    flat = mio.read_binary_files(spark, str(d), glob="*.img")
    rows = {r.path.rsplit("/", 1)[-1]: bytes(r.content) for r in flat.collect()}
    assert set(rows) == {"a.img", "b.img"}  # glob excluded notes.txt, no recursion
    assert rows["a.img"] == b"\x89IMG\x00fake-image-bytes"
    assert {f.name for f in flat.schema.fields} >= {"path", "modificationTime", "length", "content"}

    deep = mio.read_binary_files(spark, str(d), glob="*.img", recursive=True)
    assert deep.count() == 3
    lens = {r.path.rsplit("/", 1)[-1]: r.length for r in deep.collect()}
    assert lens["c.img"] == len(b"\x89IMG\x02deep")


def test_rebalanced_write_plan_and_roundtrip(spark, sf_dir, tmp_path):
    """write_rebalanced must put an AQE RebalancePartitions exchange in the
    plan (uniform output files under skew) and round-trip the data."""
    df = mio.read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    hinted = df.hint("rebalance", "o_custkey")
    assert "rebalance" in hinted._jdf.queryExecution().optimizedPlan().toString().lower()

    out = tmp_path / "rebalanced"
    mio.write_rebalanced(df, str(out), cols=["o_custkey"])
    back = spark.read.parquet(str(out))
    assert back.count() == df.count()
    assert {f.name for f in back.schema.fields} == {"o_orderkey", "o_custkey"}


def test_binary_ingest_feeds_multimodal_pipeline(spark, tmp_path):
    """End-to-end multimodal edge: files on disk → binaryFile rows →
    attach_media_meta → extract_features (fake decoder) without ever
    materializing payloads on the driver."""
    from map_reduce_engine_spark.operators.multimodal import attach_media_meta, extract_features

    d = tmp_path / "imgs"
    d.mkdir()
    (d / "x.img").write_bytes(b"\x89IMG-x" * 10)
    (d / "y.img").write_bytes(b"\x89IMG-y" * 20)

    raw = mio.read_binary_files(spark, str(d), glob="*.img").withColumn(
        "file_id", F.xxhash64("path")  # extract_features keys on a long id
    )
    tagged = attach_media_meta(raw, "content", kind="image", mime="image/x-fake")
    feats = extract_features(tagged, id_col="file_id", payload_col="content", decoder="fake")
    rows = feats.collect()
    assert len(rows) == 2
    for r in rows:
        assert len(r.features) > 0  # deterministic fake features, real plumbing


def test_partition_pruning_on_fixture_events(spark, sf_dir, tmp_path):
    """Same PartitionFilters gate on a realistic fixture-table layout
    (events partitioned by event_type) plus a count cross-check."""
    src = mio.read_table(spark, sf_dir, "events")
    out = str(tmp_path / "by_type")
    mio.write_parquet(src, out, partition_by=["event_type"])

    back = spark.read.parquet(out).where(F.col("event_type") == "click")
    p = back._jdf.queryExecution().executedPlan().toString()
    pf = next(line for line in p.splitlines() if "PartitionFilters:" in line)
    assert "event_type" in pf
    assert back.count() == src.where(F.col("event_type") == "click").count()


def test_dynamic_partition_overwrite_is_surgical(spark, sf_dir, tmp_path):
    """overwrite_partitions must replace only the partitions in the new
    batch and leave the rest byte-identical (idempotent daily reruns)."""
    src = mio.read_table(spark, sf_dir, "events").select("event_id", "value", "event_type")
    out = str(tmp_path / "t")
    mio.write_parquet(src, out, partition_by=["event_type"])
    before_other = spark.read.parquet(out).where(F.col("event_type") != "click").count()

    patch = (
        src.where(F.col("event_type") == "click")
        .withColumn("value", F.col("value") * 2)
    )
    mio.overwrite_partitions(patch, out, ["event_type"])

    after = spark.read.parquet(out)
    assert after.where(F.col("event_type") != "click").count() == before_other
    clicks = after.where(F.col("event_type") == "click")
    assert clicks.count() == patch.count()
    doubled = {r.event_id: r.value for r in clicks.collect()}
    orig = {r.event_id: r.value for r in src.where(F.col("event_type") == "click").collect()}
    assert all(abs(doubled[k] - 2 * v) < 1e-9 for k, v in orig.items())


def test_read_table_is_session_timezone_independent(spark, sf_dir):
    """VERDICT r02 item 5: read_table's normalization must not depend on the
    session factory having pinned UTC — the external driver's session config
    is unknown. Read the real events fixture under an unrelated session
    timezone and require value-identical TIMESTAMP_NTZ results. The
    tz-instant branch achieves this by construction (raw unix_micros added
    to the NTZ epoch, never cast('timestamp'))."""
    tz_conf = "spark.sql.session.timeZone"
    utc_rows = sorted(
        (r.event_id, r.ts) for r in mio.read_table(spark, sf_dir, "events").collect()
    )
    old = spark.conf.get(tz_conf)
    try:
        for tz in ("America/New_York", "Asia/Kathmandu"):  # incl. a :45 offset
            spark.conf.set(tz_conf, tz)
            rows = sorted(
                (r.event_id, r.ts) for r in mio.read_table(spark, sf_dir, "events").collect()
            )
            assert rows == utc_rows, tz
    finally:
        spark.conf.set(tz_conf, old)


def test_morton_interleave_roundtrip_property(spark):
    """Property: the Morton code is a bijection — de-interleaving the even
    and odd bits recovers exactly (x % 2^bits, y % 2^bits) for arbitrary
    inputs, so z-ordered layouts lose no key information."""
    from pyspark.sql import functions as F

    df = spark.range(0, 4096).select(
        (F.col("id") % 61).alias("x"), ((F.col("id") * 7) % 53).alias("y")
    )
    z = df.withColumn("z", mio.morton_col(F.col("x"), F.col("y"), bits=8))
    even = sum(
        (F.shiftright(F.col("z"), 2 * i) % 2) * (1 << i) for i in range(8)
    )
    odd = sum(
        (F.shiftright(F.col("z"), 2 * i + 1) % 2) * (1 << i) for i in range(8)
    )
    bad = z.where((even != F.col("x")) | (odd != F.col("y"))).count()
    assert bad == 0
