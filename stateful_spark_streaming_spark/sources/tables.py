"""Parquet table loaders for the synthetic test tables (TESTDATA.md).

At 100 TB these would be partitioned/bucketed external tables; the loader
keeps the read declarative (``spark.read.parquet``) so Catalyst retains
predicate pushdown, column pruning, and partition pruning on every scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _load_events(spark, path)
    return spark.read.parquet(path)


def load_events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` in its RAW scan type (TIMESTAMP_NTZ on current
    builds, LONG nanos under the legacy conf) — NO instant conversion.

    Why this exists: range predicates against the raw column PUSH into the
    parquet scan (row-group/partition pruning — the dominant access
    pattern on a 100 TB event table is a time slice), while any predicate
    on the converted instant sits above a projection Catalyst cannot
    translate to a source filter.  Filter FIRST on this frame, then
    convert with ``events_ts_to_instant`` — plan-audited by track_range
    (PushedFilters must include the ts range)."""
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return df.select("event_id", "ts", "user_id", "event_type", "value", "props")


def events_ts_to_instant(df: DataFrame) -> DataFrame:
    """Normalize a raw events ``ts`` (long nanos / NTZ / timestamp) to a
    real UTC instant — the shared conversion behind ``load_table`` and the
    filter-then-convert path of ``load_events_raw``."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if isinstance(dt, TimestampNTZType):
        return df.withColumn(
            "ts",
            F.expr(
                "timestamp_micros(timestampdiff(MICROSECOND, "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts))"
            ),
        )
    return df


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """events.ts is TIMESTAMP(NANOS) parquet, which plain TimestampType
    cannot hold.  Depending on the Spark build/confs the scan surfaces it
    as LONG (legacy ``nanosAsLong``), TIMESTAMP_NTZ (Spark 4.1 default for
    non-UTC-adjusted nanos), or TIMESTAMP — normalize ALL THREE to a real
    UTC instant (TimestampType) so every downstream operator (unix_millis,
    watermarks, window()) sees one type.  Conversions are codegen'd column
    ops, lossless here (the data has no sub-microsecond components):

    - LONG nanos → integer ``div`` to micros (never fp division — it
      drifts 1 µs at epoch scale) → ``timestamp_micros``;
    - NTZ → micros since epoch via ``timestampdiff`` against the NTZ epoch
      literal → ``timestamp_micros`` — session-timezone-INDEPENDENT,
      unlike a plain NTZ→TIMESTAMP cast, so the driver's session (whatever
      its tz) and our UTC factory agree with the DuckDB oracle's
      epoch_ms."""
    df = spark.read.parquet(path)
    df = events_ts_to_instant(df)
    return df.select("event_id", "ts", "user_id", "event_type", "value", "props")


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> dict[str, DataFrame]:
    """Register each table as a temp view so arbitrary ``spark.sql`` works —
    the reference's snapshot-view + "any SQL you want" surface
    (StreamWithStates.scala:46-49) generalized to the whole catalog."""
    out = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: pre-shuffles rows into ``n_buckets`` files by
    ``bucket_col`` hash, recording the layout in the catalog.  Joins and
    aggregations on the bucket column then read co-located data and Catalyst
    PLANS NO EXCHANGE — the shuffle is paid once at write time instead of
    per query, the core technique for repeated fact-fact joins at 100 TB.
    (Bucketing requires saveAsTable: the bucket spec lives in the table
    catalog, not in bare parquet files.)"""
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table_name)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Join two same-bucketed catalog tables on their bucket column —
    exchange-free when the bucket specs line up (asserted in pytest via the
    physical plan).  The merge hint keeps the plan on SortMergeJoin even
    when one side is small enough to broadcast: at test SF a broadcast
    would win, but the point here is the layout that works when BOTH sides
    are 100 TB facts."""
    return (
        spark.table(left_table)
        .hint("merge")
        .join(spark.table(right_table), key)
    )


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str,
    corrupt_col: str = "_corrupt",
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """Schema-EXPLICIT JSON-lines reader with corrupt-record capture —
    the web-scrape/training-feed ingestion shape.  Never schema
    inference (an extra full pass over 100 TB just to guess types the
    caller already knows, and one odd line flips a column to string for
    the whole read); malformed lines land in ``corrupt_col`` with every
    data field NULL (PERMISSIVE) instead of killing the job, so feed rot
    is MEASURABLE downstream rather than fatal or silently dropped.
    ``mode="FAILFAST"`` flips the contract to refuse-loudly for feeds
    that must be clean.  Spark restriction worth knowing: a query may
    not reference ONLY ``corrupt_col`` straight off the scan — select
    data columns with it (or cache first)."""
    full = f"{schema}, {corrupt_col} string"
    return (
        spark.read.schema(full)
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )
