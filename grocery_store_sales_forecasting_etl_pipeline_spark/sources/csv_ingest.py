"""CSV → bronze ingestion with corrupt-record quarantine
(reference bronze_ingestion.py.py:12-46, S1-S4).

The reference relies on Databricks-only ``badRecordsPath``; OSS Spark
re-expresses it (SURVEY.md §2.1 S3): read PERMISSIVE with a
``_corrupt_record`` column, cache the read and split it — clean rows to
the bronze table, corrupt raw lines to a quarantine table. ``land``
writes the clean side and counts both sides on that same write (an
``Observation``), so a source costs one file scan and one write, plus a
quarantine append served from the cache when it has corrupt lines.
``sources/jsonl.py`` shares the split and the write.

Scale notes: schema is always explicit (never inferSchema — that is a
full extra pass over 100 TB); each write is fully parallel over the
file's splits, and ``pipeline/bronze.run`` lands its sources
concurrently, so small sources do not each wait out a job's latency in
turn.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from grocery_store_sales_forecasting_etl_pipeline_spark.sources.error_log import log_error

CORRUPT_COL = "_corrupt_record"


def _with_corrupt_capture(schema: StructType) -> StructType:
    if any(f.name == CORRUPT_COL for f in schema.fields):
        return schema
    return StructType(list(schema.fields) + [StructField(CORRUPT_COL, StringType(), True)])


def read_csv_permissive(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """S1+S2+S4: header CSV with explicit schema, corrupt-record capture,
    and source-file lineage column."""
    return (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .schema(_with_corrupt_capture(schema))
        .csv(path)
        .withColumn("source_file", F.col("_metadata.file_path"))
    )


@dataclass
class SplitRead:
    """A cached permissive read split into its clean rows and its
    quarantine rows (raw line, source file, timestamp, stage). Both
    frames read the cache; ``release`` drops it once neither is needed."""

    cached: DataFrame
    clean: DataFrame
    quarantine: DataFrame

    def release(self) -> None:
        self.cached.unpersist()


def split_permissive(
    df: DataFrame,
    stage: str,
    partition_by_date: bool = False,
    observation: Observation | None = None,
) -> SplitRead:
    """Cache a permissive read (one carrying ``_corrupt_record``) and
    split it. The caller releases the cache.

    The cache is load-bearing, not only a saved scan: Spark rejects
    corrupt-column-only queries on an uncached read
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), and an
    uncached re-read parses only the columns its query needs, so a line
    with extra tokens is no longer flagged corrupt and its unparsed date
    reaches ANSI ``to_date``. With ``partition_by_date`` the clean side
    gets a parsed ``date`` plus ``year``/``month`` partition columns.

    With ``observation``, the clean frame counts both sides of the
    cached read (``n_clean``, ``n_quarantined``) during whichever action
    first materialises it.
    """
    cached = df.cache()
    is_clean, is_corrupt = F.col(CORRUPT_COL).isNull(), F.col(CORRUPT_COL).isNotNull()
    observed = cached
    if observation is not None:
        observed = cached.observe(
            observation,
            F.count_if(is_clean).alias("n_clean"),
            F.count_if(is_corrupt).alias("n_quarantined"),
        )
    clean = observed.filter(is_clean).drop(CORRUPT_COL)
    if partition_by_date and "date" in clean.columns:
        clean = (
            clean.withColumn("date", F.to_date(F.col("date").cast("string"), "yyyy-MM-dd"))
            .withColumn("year", F.year("date"))
            .withColumn("month", F.month("date"))
        )
    quarantine = cached.filter(is_corrupt).select(
        F.col(CORRUPT_COL).alias("raw_record"),
        F.col("source_file"),
        F.current_timestamp().alias("quarantined_at"),
        F.lit(stage).alias("stage"),
    )
    return SplitRead(cached, clean, quarantine)


def land(
    df: DataFrame, table: str, stage: str, partition_by_date: bool = False
) -> tuple[int, int, SplitRead]:
    """Overwrite ``table`` with the clean rows of the permissive read
    ``df``; returns ``(clean_rows, quarantined_rows, split)``.

    Both counts come from the write itself, through an ``Observation``
    named after the table (so concurrent calls for different tables
    never share one). The quarantine rows are NOT written: the caller
    appends ``split.quarantine`` if it wants them, then calls
    ``split.release()``. On failure the cache is released and the error
    propagates unlogged.
    """
    obs = Observation(f"land:{table}")
    split = split_permissive(df, stage, partition_by_date, obs)
    try:
        writer = split.clean.write.mode("overwrite").format("parquet")
        if partition_by_date and "date" in split.clean.columns:
            writer = writer.partitionBy("year", "month")
        writer.saveAsTable(table)
    except BaseException:
        split.release()
        raise
    counts = obs.get
    return counts["n_clean"], counts["n_quarantined"], split


def ingest_permissive(
    spark: SparkSession,
    read: Callable[[SparkSession, str, StructType], DataFrame],
    path: str,
    schema: StructType,
    table: str,
    quarantine_table: str | None,
    partition_by_date: bool,
    stage: str,
) -> tuple[int, int]:
    """One source end to end, for any permissive reader (CSV, JSONL):
    ``land`` the clean rows, append the corrupt ones to
    ``quarantine_table`` (when given), and on any failure write a
    structured row to logs.etl_errors and re-raise (reference
    bronze_ingestion.py.py:32-46). Returns (clean_rows, quarantined_rows);
    quarantined rows count 0 without a quarantine table."""
    try:
        n_clean, n_quarantined, split = land(
            read(spark, path, schema), table, stage, partition_by_date
        )
        try:
            if quarantine_table is None:
                n_quarantined = 0
            elif n_quarantined:
                split.quarantine.write.mode("append").saveAsTable(quarantine_table)
        finally:
            split.release()
        return n_clean, n_quarantined
    except Exception as exc:  # noqa: BLE001 — reference logs then re-raises any failure
        log_error(spark, str(exc), stage=stage, source_file=path)
        raise


def prepare_clean(
    spark: SparkSession,
    path: str,
    schema: StructType,
    quarantine_table: str | None = None,
    partition_by_date: bool = False,
    stage: str = "bronze_ingestion",
) -> tuple[DataFrame, int]:
    """Read + quarantine-split WITHOUT writing the clean side: returns
    ``(clean_df, n_quarantined)`` for callers that route clean rows into
    an upsert instead of an overwrite (the incremental daily-batch path,
    ``pipeline/bronze.run_incremental``).

    The corrupt rows are counted and appended here. The permissive read
    stays cached behind ``clean_df`` (see ``split_permissive`` for why a
    re-read is not equivalent): once the caller's write has materialised
    the clean rows, it drops the cache with ``release_read``.
    """
    try:
        split = split_permissive(read_csv_permissive(spark, path, schema), stage, partition_by_date)
        n_quarantined = 0
        try:
            if quarantine_table is not None:
                n_quarantined = split.quarantine.count()
                if n_quarantined:
                    split.quarantine.write.mode("append").saveAsTable(quarantine_table)
        except BaseException:
            split.release()
            raise
        return split.clean, n_quarantined
    except Exception as exc:  # noqa: BLE001 — reference logs then re-raises any failure
        log_error(spark, str(exc), stage=stage, source_file=path)
        raise


def release_read(spark: SparkSession, path: str, schema: StructType) -> None:
    """Drop the permissive read that ``prepare_clean`` left cached.
    Spark's cache is keyed by the canonical plan, so rebuilding the same
    read finds the entry."""
    read_csv_permissive(spark, path, schema).unpersist()


def ingest_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    table: str,
    quarantine_table: str | None = None,
    partition_by_date: bool = False,
    stage: str = "bronze_ingestion",
) -> tuple[int, int]:
    """Reference ``load_to_bronze`` (bronze_ingestion.py.py:12-46) with
    OSS quarantine. Returns (clean_rows, quarantined_rows).

    - clean rows → overwrite ``table`` (partitioned by year/month when a
      date column exists and ``partition_by_date``)
    - corrupt rows (raw line + source file + timestamp) → append
      ``quarantine_table``
    - any failure → structured row in logs.etl_errors, then re-raise
      (reference bronze_ingestion.py.py:32-46)
    """
    return ingest_permissive(
        spark, read_csv_permissive, path, schema, table, quarantine_table,
        partition_by_date=partition_by_date, stage=stage,
    )
