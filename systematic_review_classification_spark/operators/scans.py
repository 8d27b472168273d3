"""Category A — scans, sources, sinks (SURVEY.md §2.A).

The reference ingests CSV/Excel bibliographic exports with pandas
(implementation not locally retrievable — /root/reference/README.md:6).
Here every source is a Spark DataSource read: vectorized parquet with
predicate pushdown / column pruning, schema-enforced reads, CSV and
JSON-lines round-trips, a parquet sink with hive partitioning, and a
Structured Streaming file source replay.

Scale notes: the parquet scan is the 100 TB workhorse — filters and
projections reach the scan (`PushedFilters` / pruned `ReadSchema`,
asserted in tests/test_plans.py); sinks write hive-partitioned so
downstream reads get partition pruning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from systematic_review_classification_spark.registry import query
from systematic_review_classification_spark.session import ensure_confs
from systematic_review_classification_spark.sources.tables import load

# PID-keyed staging root: sink/scan ops stage files here and their
# oracles read the SAME path (embedded as a literal at oracle-build
# time — same process, same PID, so the literal is consistent). The
# PID key makes every write-then-read staging dir concurrency-safe:
# two harness processes sharing one fixed /tmp path race (one rewrites
# parquet footers while the other scans them — observed on
# scan_metadata_cols when a world probe ran beside driver_sim, the
# same class as round 8's bucketed-table red test).
IO_ROOT = f"/tmp/systematic_review_classification_spark_io_{os.getpid()}"


def _io_dir(sf_dir: str, name: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(IO_ROOT, tag, name)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


@query(
    "scan_parquet",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, round(l_extendedprice, 2) AS price
FROM lineitem WHERE l_quantity > 45
""",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized parquet scan with pushed filter + pruned columns."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") > 45).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.round("l_extendedprice", 2).alias("price"),
    )


@query(
    "scan_events_ns",
    oracle="""
SELECT event_id, ts, user_id, event_type
FROM events WHERE event_type = 'purchase'
""",
)
def scan_events_ns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP(NANOS) parquet scan — dtype/magnitude-guarded ns→µs
    normalization matches DuckDB's native truncation (SURVEY.md §1.4.1;
    sources/tables.py normalize_event_ts)."""
    ev = load(spark, sf_dir, "events")
    return ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "event_type"
    )


@query(
    "scan_schema_enforce",
    oracle="SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_acctbal >= 0",
)
def scan_schema_enforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-schema read: schema-on-read control + column pruning at
    the reader level (only 3 of 5 columns declared)."""
    ensure_confs(spark)
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_acctbal", T.DoubleType()),
        ]
    )
    df = spark.read.schema(schema).parquet(f"{sf_dir}/customer.parquet")
    return df.filter(F.col("c_acctbal") >= 0)


@query("src_csv", oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def src_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source (the reference's bibliographic-ingest shape): write
    nation to CSV, read back with an explicit schema — round-trip must
    equal the original table."""
    out = _io_dir(sf_dir, "nation_csv")
    load(spark, sf_dir, "nation").write.mode("overwrite").option("header", True).csv(out)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return spark.read.schema(schema).option("header", True).csv(out)


@query("src_jsonl", oracle="SELECT r_regionkey, r_name FROM region")
def src_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source with schema inference, round-tripped."""
    out = _io_dir(sf_dir, "region_jsonl")
    load(spark, sf_dir, "region").write.mode("overwrite").json(out)
    # explicit read schema: at 100 TB inference is a wasted extra
    # full scan, and an empty export (nothing matched upstream) has
    # no rows to infer from at all
    return (
        spark.read.schema("r_regionkey INT, r_name STRING")
        .json(out)
        .select("r_regionkey", "r_name")
    )


# Pre-materialized fixtures the engine did NOT produce — they exercise
# the parser against foreign files (the round-trip sources above only
# ever see Spark's own serialization).
_FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "fixtures",
)


@query(
    "src_csv_quoted",
    oracle="""
SELECT review_id::INTEGER  AS review_id,
       title,
       authors,
       year::INTEGER       AS year,
       score::DOUBLE       AS score,
       included::BOOLEAN   AS included
FROM (VALUES
  (1, 'Machine learning for screening, a review', 'Smith, J.; Doe, A.', 2019, 0.91, true),
  (2, 'Deep learning - systematic update', 'O''Brien, "Pat"', 2020, 0.75, false),
  (3, 'Plain title no quotes', NULL, 2021, NULL, true),
  (4, 'Multi' || chr(10) || 'line title', 'Lee K.', 2018, 0.33, false)
) AS t(review_id, title, authors, year, score, included)
""",
)
def src_csv_quoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV parsing of a hand-authored bibliographic export
    (tests/fixtures/reviews.csv): RFC-4180 quoted commas, doubled
    embedded quotes, empty-string nulls, and a quoted multi-line field.
    The oracle is the literal expected relation.

    Scale note: ``multiLine=true`` makes a CSV file non-splittable (a
    record may cross any byte boundary), so at 100 TB quoted-newline
    exports must arrive as many files — parallelism then comes from the
    file count, which is how bibliographic dumps ship anyway."""
    schema = T.StructType(
        [
            T.StructField("review_id", T.IntegerType()),
            T.StructField("title", T.StringType()),
            T.StructField("authors", T.StringType()),
            T.StructField("year", T.IntegerType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("included", T.BooleanType()),
        ]
    )
    return (
        spark.read.schema(schema)
        .options(header=True, multiLine=True, escape='"')
        .csv(os.path.join(_FIXTURE_DIR, "reviews.csv"))
    )


@query(
    "src_jsonl_nested",
    oracle="""
SELECT paper_id::BIGINT  AS paper_id,
       venue,
       pages::BIGINT     AS pages,
       n_tags::INTEGER   AS n_tags,
       first_tag,
       cited_by::BIGINT  AS cited_by
FROM (VALUES
  (1, 'JMIR', 12, 2, 'ml', 14),
  (2, 'BMJ', NULL, 0, NULL, NULL),
  (3, NULL, NULL, 1, 'nlp', NULL)
) AS t(paper_id, venue, pages, n_tags, first_tag, cited_by)
""",
)
def src_jsonl_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines schema inference over a foreign fixture
    (tests/fixtures/papers.jsonl): nested struct promotion, fields
    missing per-record, explicit nulls, empty arrays. Flattens to
    scalars (struct access + array size/index) so every output column
    is hashable."""
    d = spark.read.json(os.path.join(_FIXTURE_DIR, "papers.jsonl"))
    return d.select(
        "paper_id",
        F.col("meta.venue").alias("venue"),
        F.col("meta.pages").alias("pages"),
        F.size("tags").alias("n_tags"),
        # get() not [0]: ANSI mode makes out-of-bounds indexing throw,
        # and record 2 carries an empty tags array
        F.get("tags", 0).alias("first_tag"),
        "cited_by",
    )


@query(
    "src_binaryfile",
    oracle=f"""
SELECT parse_filename(filename) AS fname,
       size AS sz,
       substring(hex(content), 1, 16) AS magic,
       hex(content) AS content_hex
FROM read_blob('{os.path.join(_FIXTURE_DIR, "blobs")}/*')
""",
)
def src_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-file source — the multimodal ingestion path. Reads a
    directory of opaque media blobs (PNG / WAV / text, fixtures the
    engine did not produce) via Spark's ``binaryFile`` format into
    (path, length, content: binary) rows; downstream decode /
    feature-extraction runs as Arrow-batched ``mapInPandas`` over the
    ``content`` column (see operators/multimodal.py).

    The full content round-trips bit-exactly (hex(content) compared
    against DuckDB's read_blob), plus the magic-number prefix that a
    format dispatcher would switch on.

    Scale note: binaryFile parallelizes by file; ``maxPartitionBytes``
    groups small blobs per task. At 100 TB media blobs should be
    packed many-per-parquet-row-group (see mm_binary_meta) rather than
    left as millions of small files — this source is the on-ramp that
    does that packing."""
    df = spark.read.format("binaryFile").load(os.path.join(_FIXTURE_DIR, "blobs"))
    return df.select(
        F.element_at(F.split("path", "/"), -1).alias("fname"),
        F.col("length").alias("sz"),
        F.substring(F.hex("content"), 1, 16).alias("magic"),
        F.hex("content").alias("content_hex"),
    )


@query(
    "src_text",
    oracle=f"""
SELECT line, length(line) AS n_chars
FROM (
  SELECT unnest(string_split(content, chr(10))) AS line
  FROM read_text('{os.path.join(_FIXTURE_DIR, "corpus.txt")}')
)
WHERE length(line) > 0
""",
)
def src_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text source (``spark.read.text``) over a foreign
    fixture — the raw-corpus on-ramp before any parsing. Blank lines
    are dropped on both sides (Spark yields them as empty strings;
    the oracle's trailing-newline split artifact disappears under the
    same filter).

    Scale note: uncompressed text splits by byte ranges, so one huge
    file still fans out across tasks; gzipped corpora do NOT split —
    at 100 TB shard the corpus into many .zst/.gz files so parallelism
    comes from file count."""
    df = spark.read.text(os.path.join(_FIXTURE_DIR, "corpus.txt"))
    return df.filter(F.length("value") > 0).select(
        F.col("value").alias("line"), F.length("value").alias("n_chars")
    )


@query(
    "sink_parquet",
    oracle="""
SELECT l_returnflag, count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
FROM lineitem WHERE l_quantity > 30
GROUP BY l_returnflag
""",
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet sink with hive partitioning (partitionBy → partition
    pruning for downstream readers), verified by read-back aggregation.
    The read-back takes the schema just written, partition column
    last as partition discovery would order it, so it starts no
    footer-inference job."""
    out = _io_dir(sf_dir, "lineitem_sink")
    rows = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 30)
    rows.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    written = T.StructType(
        [f for f in rows.schema if f.name != "l_returnflag"]
        + [rows.schema["l_returnflag"]]
    )
    return (
        spark.read.schema(written)
        .parquet(out)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


@query(
    "src_stream_file",
    oracle="""
SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
FROM events WHERE event_type IN ('click', 'purchase')
GROUP BY event_type
""",
)
def src_stream_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming file source: replay events.parquet through readStream
    with Trigger.AvailableNow into a parquet sink, then verify the
    final state against the batch oracle. This is the real streaming
    execution path (micro-batches, checkpointing), not a batch alias.
    The read-back takes the stream's own schema, so it starts no
    footer-inference job.
    """
    ensure_confs(spark)
    out = _io_dir(sf_dir, "events_streamed")
    ckpt = _io_dir(sf_dir, "events_streamed_ckpt")
    src = _io_dir(sf_dir, "events_stream_src")
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    # file-stream sources take a directory; stage the table into one
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    os.symlink(f"{sf_dir}/events.parquet", f"{src}/events.parquet")
    from systematic_review_classification_spark.streaming.helpers import EVENTS_SCHEMA

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(src)
        .filter(F.col("event_type").isin("click", "purchase"))
        .select("event_id", "user_id", "event_type")
    )
    (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return (
        spark.read.schema(stream.schema)
        .parquet(out)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@query("src_orc", oracle="SELECT s_suppkey, s_name, s_nationkey FROM supplier")
def src_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round-trip (native vectorized ORC reader —
    the other columnar format big warehouses hand over). Same pushdown
    and pruning machinery as parquet."""
    out = _io_dir(sf_dir, "supplier_orc")
    load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    ).write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@query(
    "sink_sorted_parquet",
    oracle="""
SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS total_qty
FROM lineitem
WHERE l_shipdate >= timestamp '1997-06-01' AND l_shipdate < timestamp '1997-09-01'
GROUP BY l_returnflag
""",
)
def sink_sorted_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered data layout: repartitionByRange + sortWithinPartitions
    on l_shipdate before the parquet write, so every output file covers
    a tight shipdate range and row-group min/max statistics prune
    time-range scans — the poor man's z-order, and the single biggest
    read-amplification lever for a 100 TB time-series fact. Verified by
    a read-back range aggregation against the unsorted oracle."""
    out = _io_dir(sf_dir, "lineitem_sorted")
    (
        load(spark, sf_dir, "lineitem")
        .select("l_shipdate", "l_returnflag", "l_quantity")
        .repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    lo = F.lit("1997-06-01").cast("timestamp_ntz")
    hi = F.lit("1997-09-01").cast("timestamp_ntz")
    return (
        spark.read.parquet(out)
        .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
    )


@query(
    "scan_partition_prune",
    oracle="""
SELECT l_linestatus, count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
FROM lineitem WHERE l_returnflag = 'R'
GROUP BY l_linestatus
""",
)
def scan_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout + partition PRUNING — the single
    biggest lever at 100 TB: a filter on the partition column must be
    answered from directory listings, never by reading the other
    partitions' files. Writes lineitem partitioned by l_returnflag,
    reads back with an equality filter; the plan carries the predicate
    in PartitionFilters (not PushedFilters), i.e. whole directories
    are skipped before any I/O is scheduled
    (tests/test_plans.py::test_partition_prune_plan pins this)."""
    out = _io_dir(sf_dir, "lineitem_by_flag")
    load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_linestatus", "l_extendedprice", "l_returnflag"
    ).write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    back_schema = (
        "l_orderkey BIGINT, l_linenumber INT, l_linestatus STRING,"
        " l_extendedprice DOUBLE, l_returnflag STRING"
    )
    # explicit schema keeps the readback total on an EMPTY export
    # (no files -> nothing to infer) and skips the inference listing
    pruned = (
        spark.read.schema(back_schema)
        .parquet(out)
        .filter(F.col("l_returnflag") == "R")
    )
    return pruned.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
    )


_META_PROBE_DIR = os.path.join(IO_ROOT, "meta_probe")


@query(
    "scan_metadata_cols",
    oracle=f"""
SELECT parse_filename(filename) AS file_name,
       count(*) AS n,
       min(event_id) AS min_id,
       max(event_id) AS max_id
FROM read_parquet('{_META_PROBE_DIR}/*.parquet', filename=true)
GROUP BY 1
""",
)
def scan_metadata_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden file-metadata columns: per-source-file row counts and id
    ranges via the `_metadata.file_name` struct the parquet reader
    exposes — the lineage/debugging hook ("which file did this row
    come from") that incremental backfills and bad-file quarantines
    are built on.

    NOTE: the staging dir is static (the oracle SQL must embed a
    literal path), so concurrent harness runs at DIFFERENT scale
    factors would race on it — runs are assumed serial, which is how
    both the driver and pytest execute.

    The op stages a 2-file parquet layout, then reads it back with
    the metadata column; the oracle reads THE SAME staged files with
    DuckDB's filename=true, so Spark's hidden column is checked
    against an independent reader's ground truth. Metadata columns
    are populated by the scan itself (constant per split) — no
    shuffle, no storage cost; the groupBy is file-count-bounded."""
    ensure_confs(spark)
    staged = load(spark, sf_dir, "events").select("event_id", "event_type")
    staged.repartitionByRange(2, "event_id").write.mode("overwrite").parquet(
        _META_PROBE_DIR
    )
    return (
        spark.read.parquet(_META_PROBE_DIR)
        .select(F.col("_metadata.file_name").alias("file_name"), "event_id")
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
    )


_EVOLVE_DIR = os.path.join(IO_ROOT, "schema_evolve")


@query(
    "src_parquet_merge_schema",
    oracle=f"""
SELECT o_orderkey, o_totalprice, o_orderstatus, o_orderpriority
FROM read_parquet(['{_EVOLVE_DIR}/v1/*.parquet',
                   '{_EVOLVE_DIR}/v2/*.parquet'], union_by_name=true)
""",
)
def src_parquet_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet generations with different
    column sets (v1: key+price; v2: key+status+priority — price
    dropped, two columns added) read as ONE table via mergeSchema —
    absent columns become NULL. This is how a 100 TB lake survives
    schema changes without rewriting history; the oracle is DuckDB's
    union_by_name over the same files.

    Scale note: mergeSchema reconciles footers only (schema union at
    planning time, null-filled batches at scan time) — no data
    rewrite, no shuffle; pin the merged schema in production so a
    bad file can't widen the table silently. Same static-dir staging
    contract as scan_metadata_cols (serial harness runs)."""
    ensure_confs(spark)
    o = load(spark, sf_dir, "orders")
    o.filter(F.col("o_orderkey") < 1000).select(
        "o_orderkey", "o_totalprice"
    ).coalesce(1).write.mode("overwrite").parquet(f"{_EVOLVE_DIR}/v1")
    o.filter((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000)).select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    ).coalesce(1).write.mode("overwrite").parquet(f"{_EVOLVE_DIR}/v2")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{_EVOLVE_DIR}/v1", f"{_EVOLVE_DIR}/v2")
        .select("o_orderkey", "o_totalprice", "o_orderstatus", "o_orderpriority")
    )


@query(
    "src_fixed_width",
    oracle=f"""
WITH lines AS (
  SELECT unnest(string_split(content, chr(10))) AS line
  FROM read_text('{os.path.join(_FIXTURE_DIR, "ledger.fwf")}')),
parsed AS (
  SELECT substring(line, 1, 8) AS acct,
         trim(substring(line, 9, 10)) AS holder,
         CAST(substring(line, 19, 10) AS DOUBLE) AS amount,
         substring(line, 29, 3) AS ccy,
         substring(line, 32, 10) AS booked
  FROM lines WHERE length(line) > 0)
SELECT acct, holder, round(amount, 2) AS amount, ccy, booked FROM parsed
""",
)
def src_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width (mainframe/COBOL ledger export) source: byte-offset
    column slicing over spark.read.text — the format with no
    delimiter to push down, so the parse IS the projection
    (substring + trim + cast, all codegen). Offsets live in one
    layout spec; at scale the text source still splits by byte range,
    and the slice projection prunes to referenced fields exactly like
    a columnar reader would."""
    lines = spark.read.text(os.path.join(_FIXTURE_DIR, "ledger.fwf"))
    parsed = lines.filter(F.length("value") > 0).select(
        F.substring("value", 1, 8).alias("acct"),
        F.trim(F.substring("value", 9, 10)).alias("holder"),
        F.substring("value", 19, 10).cast("double").alias("amount"),
        F.substring("value", 29, 3).alias("ccy"),
        F.substring("value", 32, 10).alias("booked"),  # ISO date kept textual: engines render DATE differently through pandas
    )
    return parsed.select(
        "acct", "holder", F.round("amount", 2).alias("amount"), "ccy", "booked"
    )


_CLF_RE = r'^(\S+) \S+ (\S+) \[([^\]]+)\] "(\S+) (\S+) [^"]*" (\d+) (\S+)'


@query(
    "src_weblog",
    oracle=f"""
WITH lines AS (
  SELECT unnest(string_split(content, chr(10))) AS line
  FROM read_text('{os.path.join(_FIXTURE_DIR, "access.log")}')),
parsed AS (
  SELECT regexp_extract(line, '{_CLF_RE}', 1) AS ip,
         regexp_extract(line, '{_CLF_RE}', 2) AS client,
         regexp_extract(line, '{_CLF_RE}', 4) AS method,
         regexp_extract(line, '{_CLF_RE}', 5) AS path,
         CAST(regexp_extract(line, '{_CLF_RE}', 6) AS INTEGER) AS status,
         TRY_CAST(regexp_extract(line, '{_CLF_RE}', 7) AS BIGINT) AS n_bytes
  FROM lines WHERE length(line) > 0)
SELECT ip, client, method, path, status, n_bytes FROM parsed
""",
)
def src_weblog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combined-log-format (Apache/nginx access log) ingestion: one
    anchored regex with numbered capture groups projects the raw line
    into typed columns; '-' byte counts TRY_CAST to NULL instead of
    failing the row (the PERMISSIVE discipline of src_csv_corrupt
    applied to regex parsing). The regex subset (\\S, \\d, bracket
    classes) is Java/RE2 portable. Log files split by byte range like
    any text source, and the parse is a codegen projection — the
    standard clickstream on-ramp at any scale."""
    lines = spark.read.text(os.path.join(_FIXTURE_DIR, "access.log"))
    v = F.col("value")
    parsed = lines.filter(F.length(v) > 0).select(
        F.regexp_extract(v, _CLF_RE, 1).alias("ip"),
        F.regexp_extract(v, _CLF_RE, 2).alias("client"),
        F.regexp_extract(v, _CLF_RE, 4).alias("method"),
        F.regexp_extract(v, _CLF_RE, 5).alias("path"),
        F.regexp_extract(v, _CLF_RE, 6).cast("int").alias("status"),
        F.when(F.regexp_extract(v, _CLF_RE, 7) == "-", None)
        .otherwise(F.regexp_extract(v, _CLF_RE, 7).cast("bigint"))
        .alias("n_bytes"),
    )
    return parsed


_RIS_TAGS = {
    "ris_type": "TY",
    "title": "TI",
    "year_raw": "PY",
    "journal": "JO",
    "abstract": "AB",
    "doi": "DO",
}


def _ris_fields(sql_path: str) -> str:
    tagged = {**_RIS_TAGS, "authors_list": "AU", "keywords_list": "KW"}
    exprs = ",\n    ".join(
        f"list_transform(list_filter(ls, x -> substr(x, 1, 6) = '{tag}  - '),"
        f" x -> trim(substr(x, 7))) AS _{name}"
        for name, tag in tagged.items()
    )
    return f"""
WITH recs AS (
  SELECT unnest(string_split(replace(content, chr(13), ''),
                             chr(10) || 'ER  -')) AS rec
  FROM read_text('{sql_path}')),
parsed AS (SELECT string_split(rec, chr(10)) AS ls FROM recs),
fields AS (
  SELECT
    {exprs}
  FROM parsed)
"""


# shared SELECT of the RIS oracle — the parse of the ORIGINAL fixture
# doubles as sink_ris's round-trip-identity oracle
_RIS_ORACLE = _ris_fields(os.path.join(_FIXTURE_DIR, "papers.ris")) + """
SELECT
  _ris_type[1] AS ris_type,
  _title[1] AS title,
  CASE WHEN len(_authors_list) > 0
       THEN array_to_string(_authors_list, '; ') END AS authors,
  CAST(len(_authors_list) AS BIGINT) AS n_authors,
  TRY_CAST(_year_raw[1] AS BIGINT) AS pub_year,
  _year_raw[1] AS year_raw,
  _journal[1] AS journal,
  _abstract[1] AS abstract,
  _doi[1] AS doi,
  CASE WHEN len(_keywords_list) > 0
       THEN array_to_string(_keywords_list, '; ') END AS keywords
FROM fields WHERE len(_ris_type) > 0
"""


def _parse_ris_records(raw: DataFrame) -> DataFrame:
    """Parse a relation of raw RIS record blobs (column ``value``, one
    record per row as delivered by ``lineSep='\\nER  -'``) into the
    typed bibliographic schema. Shared by src_ris (ingest) and
    sink_ris (export read-back)."""
    rec = F.regexp_replace(F.col("value"), "\r", "")
    lines = F.split(rec, "\n")

    def vals(tag: str):
        pref = tag + "  - "
        return F.transform(
            F.filter(lines, lambda l: F.substring(l, 1, 6) == F.lit(pref)),
            lambda l: F.trim(F.substring(l, 7, 1 << 20)),
        )

    def first(tag: str):
        return F.get(vals(tag), 0)

    def joined(tag: str):
        v = vals(tag)
        return F.when(F.size(v) > 0, F.array_join(v, "; "))

    return raw.filter(F.size(vals("TY")) > 0).select(
        first("TY").alias("ris_type"),
        first("TI").alias("title"),
        joined("AU").alias("authors"),
        F.size(vals("AU")).cast("bigint").alias("n_authors"),
        first("PY").try_cast("bigint").alias("pub_year"),
        first("PY").alias("year_raw"),
        first("JO").alias("journal"),
        first("AB").alias("abstract"),
        first("DO").alias("doi"),
        joined("KW").alias("keywords"),
    )


@query("src_ris", oracle=_RIS_ORACLE)
def src_ris(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIS (reference-manager export: EndNote / Zotero / PubMed
    "Send to citation manager") bibliographic ingest — the file a
    systematic-review screening pipeline actually starts from. The
    format is tag-per-line (``XX  - value``), records terminated by
    an ``ER  -`` line; repeating tags (AU, KW) accumulate.

    Spark-first shape: ``ER  -`` is a RECORD delimiter, so the text
    source reads whole records via ``lineSep`` — Hadoop's line reader
    honors a custom delimiter across byte-range splits, which keeps a
    10⁹-record export splittable with no driver-side parsing. Each
    record then parses as one codegen projection: split to tag lines,
    higher-order filter/transform per tag (no Python, no regex
    backtracking), first-match for singleton tags, array_join for
    repeating ones. Multi-value tags join with '; ' and missing
    singletons surface as NULL on both engines (DuckDB's
    array_to_string of an empty list is NULL while Spark's array_join
    is '' — so the empty case is pinned to NULL explicitly)."""
    raw = spark.read.option("lineSep", "\nER  -").text(
        os.path.join(_FIXTURE_DIR, "papers.ris")
    )
    return _parse_ris_records(raw)


@query("sink_ris", oracle=_RIS_ORACLE)
def sink_ris(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIS EXPORT round-trip — the other half of the reference-manager
    workflow: screening decisions go BACK to EndNote/Zotero as a RIS
    file (the include/exclude lists a review team re-imports). The
    writer serializes each record as one codegen expression (tag lines
    rebuilt per column, repeating AU/KW re-expanded from the '; '
    join, ``ER  -`` terminator appended) and writes through the plain
    text sink — shardable, no driver-side formatting. The check is
    round-trip IDENTITY: parse the fixture → serialize → write → read
    back with the record-delimiter source → parse again, and the
    oracle is the direct parse of the ORIGINAL fixture, so any
    asymmetry between writer and reader hash-mismatches. Lossless as
    long as no value itself contains '; ' or a newline — true of tag-
    per-line RIS by construction. Dated PY values (``PY  - 2019/05/01``,
    legal RIS) round-trip too: the schema carries the raw PY string as
    ``year_raw`` alongside the typed ``pub_year`` BIGINT (NULL for
    dated forms), and the writer serializes ``year_raw`` — closing the
    round-8 lossy channel where try_cast-to-NULL dropped the PY line
    on export (fixture record 9 pins it)."""
    parsed = src_ris(spark, sf_dir)

    def line(tag: str, col):
        return F.when(
            col.isNotNull(),
            F.array(F.concat(F.lit(tag + "  - "), col.cast("string"))),
        ).otherwise(F.array().cast("array<string>"))

    def multi(tag: str, col):
        return F.when(
            col.isNotNull(),
            F.transform(
                F.split(col, "; "), lambda v: F.concat(F.lit(tag + "  - "), v)
            ),
        ).otherwise(F.array().cast("array<string>"))

    record = F.array_join(
        F.flatten(
            F.array(
                line("TY", F.col("ris_type")),
                multi("AU", F.col("authors")),
                line("TI", F.col("title")),
                line("PY", F.col("year_raw")),
                line("JO", F.col("journal")),
                line("AB", F.col("abstract")),
                line("DO", F.col("doi")),
                multi("KW", F.col("keywords")),
                F.array(F.lit("ER  -")),
            )
        ),
        "\n",
    )
    out = _io_dir(sf_dir, "ris_export")
    parsed.select(record.alias("value")).write.mode("overwrite").text(out)
    back = spark.read.option("lineSep", "\nER  -").text(out)
    return _parse_ris_records(back)


_MEDLINE_TAGS = {
    "pmid_raw": "PMID",
    "status": "STAT",
    "pub_date": "DP",
    "title": "TI",
    "abstract": "AB",
    "journal": "JT",
}


def _medline_fields(sql_path: str) -> str:
    tagged = {**_MEDLINE_TAGS, "authors_list": "AU", "pubtypes_list": "PT"}
    exprs = ",\n    ".join(
        f"list_transform(list_filter(ls, x -> substr(x, 1, 6) = '{tag.ljust(4)}- '),"
        f" x -> trim(substr(x, 7))) AS _{name}"
        for name, tag in tagged.items()
    )
    return f"""
WITH recs AS (
  SELECT unnest(string_split(replace(content, chr(13), ''),
                             chr(10) || chr(10))) AS rec
  FROM read_text('{sql_path}')),
unfolded AS (
  SELECT regexp_replace(rec, '\\n {{6}}', ' ', 'g') AS rec FROM recs),
parsed AS (SELECT string_split(rec, chr(10)) AS ls FROM unfolded),
fields AS (
  SELECT
    {exprs}
  FROM parsed)
"""


_MEDLINE_SELECT = """
SELECT
  TRY_CAST(_pmid_raw[1] AS BIGINT) AS pmid,
  _status[1] AS status,
  _pub_date[1] AS pub_date,
  _title[1] AS title,
  _abstract[1] AS abstract,
  CASE WHEN len(_authors_list) > 0
       THEN array_to_string(_authors_list, '; ') END AS authors,
  CAST(len(_authors_list) AS BIGINT) AS n_authors,
  _journal[1] AS journal,
  CASE WHEN len(_pubtypes_list) > 0
       THEN array_to_string(_pubtypes_list, '; ') END AS pub_types
FROM fields WHERE len(_pmid_raw) > 0
"""


@query(
    "src_medline",
    oracle=_medline_fields(os.path.join(_FIXTURE_DIR, "pubmed.nbib"))
    + _MEDLINE_SELECT,
)
def src_medline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PubMed MEDLINE / .nbib export ingest — the other file a
    screening pipeline starts from ("Send to: Citation manager" /
    E-utilities efetch rettype=medline). Unlike RIS, MEDLINE WRAPS
    long values: continuation lines carry a 6-space indent and belong
    to the preceding tag, and records separate on a BLANK line rather
    than a terminator tag.

    Spark-first shape: blank-line record split via ``lineSep`` (the
    text source stays byte-range splittable), then the continuation
    fold is a single regexp_replace — ``\\n`` + 6 spaces is BY
    DEFINITION a wrapped value, so unfolding is one linear string
    rewrite, not a stateful line fold. After unfolding, the record
    parses exactly like RIS: tag lines are ``XXXX- value`` (tag
    left-justified to 4), higher-order filter/transform per tag,
    repeating tags (AU, PT) join with '; ', missing singletons are
    NULL on both engines."""
    return _read_medline(spark, os.path.join(_FIXTURE_DIR, "pubmed.nbib"))


def _read_medline(spark: SparkSession, path: str) -> DataFrame:
    """Distributed .nbib parse; see ``src_medline`` for format notes.

    Line endings are sniffed from the file HEAD before choosing the
    record separator: a CRLF export (Windows PubMed "Send to:
    Citation manager" writes \\r\\n) separates records as
    ``\\r\\n\\r\\n``, which a literal ``\\n\\n`` lineSep never
    matches — the whole file would collapse into ONE record and
    silently fold every citation together (ADVICE r7, probe-confirmed
    data loss). The sniff is a driver-side metadata read of a few KB
    (same stance as scan_manifest_table's manifest read); record
    SPLITTING then still happens in the distributed, byte-range-
    splittable text source. As a belt for mixed/exotic endings the
    parse also fails loudly (assert_true) if any parsed record still
    carries more than one PMID tag — that shape only arises when
    record splitting has failed."""
    with open(path, "rb") as fh:
        head = fh.read(8192)
    sep = "\r\n\r\n" if b"\r\n" in head else "\n\n"

    rec = F.regexp_replace(
        F.regexp_replace(F.col("value"), "\r", ""), "\n {6}", " "
    )
    lines = F.split(rec, "\n")

    def vals(tag: str):
        pref = tag.ljust(4) + "- "
        return F.transform(
            F.filter(lines, lambda l: F.substring(l, 1, 6) == F.lit(pref)),
            lambda l: F.trim(F.substring(l, 7, 1 << 20)),
        )

    def first(tag: str):
        return F.get(vals(tag), 0)

    def joined(tag: str):
        v = vals(tag)
        return F.when(F.size(v) > 0, F.array_join(v, "; "))

    raw = spark.read.option("lineSep", sep).text(path)
    split_ok = F.assert_true(
        F.size(vals("PMID")) <= 1,
        F.lit(
            "src_medline: a record parsed with multiple PMID tags — "
            "record splitting failed (unrecognized line endings?)"
        ),
    )
    return raw.filter(F.size(vals("PMID")) > 0).filter(split_ok.isNull()).select(
        first("PMID").try_cast("bigint").alias("pmid"),
        first("STAT").alias("status"),
        first("DP").alias("pub_date"),
        first("TI").alias("title"),
        first("AB").alias("abstract"),
        joined("AU").alias("authors"),
        F.size(vals("AU")).cast("bigint").alias("n_authors"),
        first("JT").alias("journal"),
        joined("PT").alias("pub_types"),
    )


@query(
    "scan_manifest_table",
    oracle="""
SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders WHERE o_orderkey % 3 IN (0, 1)
GROUP BY o_orderstatus
""",
)
def scan_manifest_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-driven table scan — the lakehouse table-format
    mechanic (Delta/Iceberg) built from first principles: data files
    land as immutable parquet, a tiny JSON commit log lists which are
    LIVE, and readers plan from the manifest, never from directory
    listing. Three slices are staged; the manifest commits two and
    tombstones the third; the scan reads exactly the live files, so
    the dropped slice costs zero IO (file-level pruning — the
    coarsest, cheapest predicate there is). Manifest reads are
    driver-side by design: that is metadata, O(files), exactly how
    real table formats do it."""
    import json

    base = _io_dir(sf_dir, "manifest_table")
    o = load(spark, sf_dir, "orders")
    for part in (0, 1, 2):
        o.filter(F.col("o_orderkey") % 3 == part).write.mode("overwrite").parquet(
            f"{base}/part{part}"
        )
    manifest = {"version": 1, "live": [f"{base}/part0", f"{base}/part1"],
                "tombstoned": [f"{base}/part2"]}
    with open(f"{base}/manifest.json", "w") as f:
        json.dump(manifest, f)
    with open(f"{base}/manifest.json") as f:
        live = json.load(f)["live"]
    return (
        spark.read.parquet(*live)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "sink_compressed",
    oracle="""
SELECT l_returnflag, count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
FROM lineitem WHERE l_discount >= 0.05
GROUP BY l_returnflag
""",
)
def sink_compressed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed text sink round-trip: a filtered extract written as
    gzip CSV and read back to the same aggregate. The operational
    point is the SPLITTABILITY caveat: gzip members cannot be split,
    so each output file becomes exactly one read task — at scale you
    keep many moderate shards (or use zstd/bzip2 splittable framing)
    or downstream parallelism collapses to the file count. The write
    itself shards by the upstream partitioning, keeping that
    parallelism."""
    out = _io_dir(sf_dir, "lineitem_csv_gz")
    (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_discount") >= 0.05)
        .select("l_returnflag", "l_extendedprice")
        .write.mode("overwrite")
        .option("compression", "gzip")
        .option("header", True)
        .csv(out)
    )
    return (
        spark.read.option("header", True)
        .schema("l_returnflag string, l_extendedprice double")
        .csv(out)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )
