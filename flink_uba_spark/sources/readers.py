"""Sources & sinks (SURVEY.md §2.1, S1-S7).

The reference reads CSV files line-by-line into replayed streams
(HotItem.java:32, OrderPayTimeout.java:38-39), a socket (HotPages.java:41),
and has a Kafka source wired but commented (HotItem.java:34-41, pom.xml:50-54).
Here every source exists in two forms:

- batch  : ``spark.read`` with an explicit schema (never inferSchema — the
           reference's parsing is positional and fixed, HotItem.java:44-47)
- stream : ``spark.readStream`` file/socket/kafka/rate sources

Timestamp normalization (P6/P7): epoch-seconds columns and the Apache-log
``dd/MM/yyyy:HH:mm:ss`` format are converted to TimestampType at ingest, so
downstream windowing is idiomatic and sub-second-safe.

Side outputs (S7) have no 1:1 Spark twin; operators model them as a tag
column that callers split with filters — see operators/reconcile.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_uba_spark import schemas

# ---------------------------------------------------------------------------
# Batch readers (S1) — typed CSV with event-time normalization
# ---------------------------------------------------------------------------


def read_user_behavior(spark: SparkSession, path: str) -> DataFrame:
    """UserBehavior CSV → typed frame (parse at HotItem.java:44-47)."""
    raw = spark.read.schema(schemas.USER_BEHAVIOR_RAW).csv(path)
    return raw.select(
        "userId",
        "itemId",
        "categoryId",
        "behavior",
        F.timestamp_seconds("timestamp").alias("ts"),
    )


def read_apache_log(spark: SparkSession, path: str) -> DataFrame:
    """Apache access log (space-delimited) → typed frame (HotPages.java:44-49).

    fields[2] (dash) and fields[4] (tz) are discarded exactly as the
    reference does; the timestamp format is dd/MM/yyyy:HH:mm:ss
    (HotPages.java:46).
    """
    raw = spark.read.schema(schemas.APACHE_LOG_RAW).option("sep", " ").csv(path)
    return raw.select(
        "ip",
        "userId",
        # try_to_timestamp, not to_timestamp: under ANSI mode (Spark 4
        # default) a single malformed timestamp THROWS and kills the whole
        # ingest; try_ yields null, keeping the reader PERMISSIVE
        # end-to-end (tests/test_sources.py malformed-line test)
        F.try_to_timestamp(F.col("timestamp"), F.lit("dd/MM/yyyy:HH:mm:ss")).alias("ts"),
        "method",
        "url",
    )


def read_order_events(spark: SparkSession, path: str) -> DataFrame:
    """OrderLog CSV → typed frame (parse at OrderPayTimeout.java:40-43).

    txId is the empty string on create rows (TxPayMatch.java:56 relies on
    this); we preserve that rather than nulling it.
    """
    raw = spark.read.schema(schemas.ORDER_EVENT_RAW).csv(path)
    return raw.select(
        "orderId",
        "eventType",
        F.coalesce("txId", F.lit("")).alias("txId"),
        F.timestamp_seconds("timestamp").alias("ts"),
    )


def read_receipt_events(spark: SparkSession, path: str) -> DataFrame:
    """ReceiptLog CSV → typed frame (parse at TxPayMatch.java:61-64)."""
    raw = spark.read.schema(schemas.RECEIPT_EVENT_RAW).csv(path)
    return raw.select(
        "txId",
        "payChannel",
        F.timestamp_seconds("timestamp").alias("ts"),
    )


# ---------------------------------------------------------------------------
# Streaming readers (S1 streaming / S2 socket / S3 kafka)
# ---------------------------------------------------------------------------


def stream_csv_dir(spark: SparkSession, directory: str, schema) -> DataFrame:
    """File-source stream: replay a directory of CSV files as an unbounded
    stream — the Spark analogue of the reference's readTextFile replay."""
    return spark.readStream.schema(schema).csv(directory)


def stream_socket(spark: SparkSession, host: str = "localhost", port: int = 7777) -> DataFrame:
    """Socket text source (HotPages.java:41 — ``nc -lk 7777``)."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )


def stream_kafka(spark: SparkSession, topic: str = "hotitems", servers: str = "localhost:9092") -> DataFrame:
    """Kafka source (HotItem.java:34-41, commented in the reference but the
    dependency is wired, pom.xml:50-54). Values decoded to STRING."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("subscribe", topic)
        .load()
        .select(F.col("value").cast("string").alias("value"))
    )


def stream_rate(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Rate source for load tests (no reference twin; used by bench/dev)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )


# ---------------------------------------------------------------------------
# Driver testdata (TESTDATA.md)
# ---------------------------------------------------------------------------


def normalize_event_time(df: DataFrame) -> DataFrame:
    """Coerce every timestamp encoding the driver's testdata has used to
    plain TimestampType (session tz is pinned UTC, so values are identical):

    - ``ts`` as LongType — TIMESTAMP(NANOS) read under nanosAsLong; truncate
      to micros exactly like DuckDB's ns→us read (round-1 encoding),
    - any TimestampNTZType column — TIMESTAMP_NTZ micros (round-2 encoding);
      cast so ``unix_micros()``/watermark paths stay legal,
    - TimestampType — already canonical, pass through.

    Shared by the batch (``load_testdata``) and streaming
    (``streaming.runner.stream_events``) ingest paths — round 2 broke
    because each path hard-coded one encoding."""
    from pyspark.sql import types as T

    for f in df.schema.fields:
        if f.name == "ts" and isinstance(f.dataType, T.LongType):
            # integer div — ns values (~1.7e18) overflow double precision
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast(T.TimestampType()))
    return df


# round-2 name, kept for any external caller
_normalize_ns_timestamps = normalize_event_time


# Per-process memo of the LAZY base-table frames, keyed by (Spark
# application, resolved sf dir, table). These are unreferenced logical
# plans — no rows, no results, no statistics: every action still scans the
# parquet inputs in full. What the memo removes is the per-CALL driver cost
# of `spark.read.parquet` (footer/schema resolution + a fresh file-listing
# index + two conf round-trips), measured warm at 94-190 ms per table on
# local[32] — paid by every query on every bench pass (~968 executions)
# before this round. A long-lived deployment resolves its tables once at
# startup; rebuilding the reader per query was bench-harness shape, not
# workload (guide §1.2 step 1: stop doing work you don't need to do).
_TESTDATA_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def load_testdata(spark: SparkSession, sf_dir: str, tables=schemas.TESTDATA_TABLES) -> dict[str, DataFrame]:
    """Load the driver's synthetic parquet tables from an sf directory."""
    import os

    app = spark.sparkContext.applicationId
    base = os.path.realpath(sf_dir)
    missing = [t for t in tables if (app, base, t) not in _TESTDATA_MEMO]
    if missing:
        # Both confs must be set on whatever session the caller (possibly
        # the driver, with its own config) hands us, before the reads
        # resolve: nanos columns → long (normalized below), no-tz micros →
        # TimestampType.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        for t in missing:
            _TESTDATA_MEMO[(app, base, t)] = normalize_event_time(
                spark.read.parquet(f"{sf_dir}/{t}.parquet")
            )
    return {t: _TESTDATA_MEMO[(app, base, t)] for t in tables}


def register_views(spark: SparkSession, sf_dir: str, tables=schemas.TESTDATA_TABLES) -> None:
    """Register each testdata table as a temp view for spark.sql queries."""
    for name, df in load_testdata(spark, sf_dir, tables).items():
        df.createOrReplaceTempView(name)
