"""Bronze ingestion (reference bronze_ingestion.py.py:50-139).

Declares the six Kaggle-shaped source schemas verbatim (SURVEY.md §1) and
ingests each CSV to ``raw.<name>`` with corrupt-record quarantine to
``logs.quarantine`` — the OSS replacement for badRecordsPath (S3)."""

from __future__ import annotations

import functools
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)
from pyspark.util import inheritable_thread_target

from grocery_store_sales_forecasting_etl_pipeline_spark.sources.csv_ingest import (
    land,
    prepare_clean,
    read_csv_permissive,
    release_read,
)
from grocery_store_sales_forecasting_etl_pipeline_spark.sources.error_log import log_error


def _s(*fields: tuple[str, type]) -> StructType:
    return StructType([StructField(n, t(), True) for n, t in fields])


# reference bronze_ingestion.py.py:52-91 (schemas are load-bearing: dates
# arrive as strings and are parsed downstream)
STORES_SCHEMA = _s(
    ("store_nbr", IntegerType),
    ("city", StringType),
    ("state", StringType),
    ("type", StringType),
    ("cluster", IntegerType),
)
SAMPLE_SUBMISSION_SCHEMA = _s(("id", IntegerType), ("sales", DoubleType))
OIL_SCHEMA = _s(("date", StringType), ("dcoilwtico", DoubleType))
HOLIDAYS_EVENTS_SCHEMA = _s(
    ("date", StringType),
    ("type", StringType),
    ("locale", StringType),
    ("locale_name", StringType),
    ("description", StringType),
    ("transferred", StringType),
)
TRANSACTIONS_SCHEMA = _s(
    ("date", StringType),
    ("store_nbr", IntegerType),
    ("transactions", IntegerType),
)
TEST_SCHEMA = _s(
    ("id", IntegerType),
    ("date", StringType),
    ("store_nbr", IntegerType),
    ("family", StringType),
    ("onpromotion", IntegerType),
)

# (name, schema, partitioned-by-date) — reference bronze_ingestion.py.py:95-139
SOURCES: tuple[tuple[str, StructType, bool], ...] = (
    ("stores", STORES_SCHEMA, False),
    ("sample_submission", SAMPLE_SUBMISSION_SCHEMA, False),
    ("oil", OIL_SCHEMA, True),
    ("holidays_events", HOLIDAYS_EVENTS_SCHEMA, True),
    ("transactions", TRANSACTIONS_SCHEMA, True),
    ("test", TEST_SCHEMA, True),
)

QUARANTINE_TABLE = "logs.quarantine"
_STAGE = "bronze_ingestion"

# natural key per source — what an incremental re-delivery upserts on.
# run_incremental uses partition_upsert ONLY when the partition column
# (date) is part of the key, so its key-stability contract holds by
# construction; key-without-date sources (test: keyed on id but
# date-partitioned) take merge_upsert instead — a corrected date there
# re-homes the row across partitions, which a partition-scoped rewrite
# would silently duplicate.
SOURCE_KEYS: dict[str, tuple[str, ...]] = {
    "stores": ("store_nbr",),
    "sample_submission": ("id",),
    "oil": ("date",),
    "holidays_events": ("date", "type", "locale", "locale_name", "description"),
    "transactions": ("date", "store_nbr"),
    "test": ("id",),
}


def run(spark: SparkSession, source_dir: str) -> dict[str, tuple[int, int]]:
    """Ingest every source CSV under ``source_dir`` (``<name>.csv``) to
    ``raw.<name>``. Returns {name: (clean_rows, quarantined_rows)}.

    The sources land concurrently, one thread each (their small jobs
    overlap on the executors; the caller's job group and description
    follow them into the threads). Each is one cached permissive read and
    one clean-side write that also counts both sides (``csv_ingest.land``).
    Once every source has finished, all corrupt lines go to
    ``logs.quarantine`` in one append, from this thread: concurrent
    appends to one parquet table share its ``_temporary`` directory and
    race to create the table.

    Missing files raise, matching the reference's fail-visibly behavior,
    but one failing source no longer stops the others: they are still
    written and their corrupt lines quarantined. Every failing source
    gets its own ``logs.etl_errors`` row, in ``SOURCES`` order, and the
    first failure is re-raised."""

    def land_source(name: str, schema: StructType, by_date: bool):
        df = read_csv_permissive(spark, f"{source_dir}/{name}.csv", schema)
        return land(df, f"raw.{name}", _STAGE, partition_by_date=by_date)

    target = inheritable_thread_target(spark)(land_source)
    with ThreadPoolExecutor(max_workers=len(SOURCES)) as pool:
        futures = [pool.submit(target, *source) for source in SOURCES]
    landed, failed = {}, []
    for (name, _, _), future in zip(SOURCES, futures):
        exc = future.exception()
        if exc is None:
            landed[name] = future.result()
        else:
            failed.append((name, exc))
    try:
        for name, exc in failed:
            log_error(spark, str(exc), stage=_STAGE, source_file=f"{source_dir}/{name}.csv")
        quarantine = [split.quarantine for _, n_q, split in landed.values() if n_q]
        if quarantine:
            functools.reduce(DataFrame.union, quarantine).write.mode("append").saveAsTable(
                QUARANTINE_TABLE
            )
    finally:
        for *_, split in landed.values():
            split.release()
    if failed:
        raise failed[0][1]
    return {name: (n_clean, n_q) for name, (n_clean, n_q, _) in landed.items()}


def run_incremental(
    spark: SparkSession, source_dir: str, batch_date
) -> dict[str, tuple[int, int]]:
    """Ingest ONE daily folder ``<source_dir>/YYYY/MM/DD/<name>.csv``
    (docx §Source layout), upserting into the existing ``raw.*`` tables:

    - date-partitioned facts → ``partition_upsert`` keyed on the natural
      key (only the touched year/month partitions rewrite; a re-delivered
      batch replays idempotently and corrected values win)
    - dimensions → ``merge_upsert`` on the natural key
    - a source absent from the day's folder is skipped (sources deliver
      on their own cadence), unlike the full run where absence raises

    Returns {name: (rows_written, rows_quarantined)} for present
    sources, where rows_written counts rows PHYSICALLY WRITTEN by the
    branch taken — the whole post-merge table for ``merge_upsert`` (its
    portable path rewrites the table), only the affected partitions for
    ``partition_upsert``, the full initial load on table creation. It is
    a write-cost metric, not "rows changed". Local existence probe is an
    ``os.path`` check; on an object store this is the same single LIST
    the reader would do anyway.

    Unlike ``run``, the sources go one after another: ``partition_upsert``
    flips the session-wide ``spark.sql.sources.partitionOverwriteMode``
    around its ``insertInto``, so a concurrent overwrite of another table
    could run in the wrong mode, and on Spark 4.1.2 ``insertInto``
    ignores a per-write ``.option("partitionOverwriteMode", "dynamic")``
    (it overwrites statically, wiping the other partitions). Each
    source's permissive read stays cached until its upsert has written
    the clean rows (see ``csv_ingest.split_permissive``).
    """
    import os

    from grocery_store_sales_forecasting_etl_pipeline_spark.sources import maintenance

    day_dir = f"{source_dir}/{batch_date:%Y/%m/%d}"
    results: dict[str, tuple[int, int]] = {}
    for name, schema, by_date in SOURCES:
        path = f"{day_dir}/{name}.csv"
        if not os.path.exists(path):
            continue
        clean, n_q = prepare_clean(
            spark, path, schema, QUARANTINE_TABLE, partition_by_date=by_date
        )
        table = f"raw.{name}"
        keys = list(SOURCE_KEYS[name])
        try:
            if not spark.catalog.tableExists(table):
                w = clean.write.mode("overwrite").format("parquet")
                if by_date:
                    w = w.partitionBy("year", "month")
                w.saveAsTable(table)
                n = spark.table(table).count()
            elif by_date and "date" in keys:
                # partition column in the key => keys can't move partitions
                n = maintenance.partition_upsert(
                    spark, table, clean, keys=keys, partition_cols=("year", "month")
                )
            else:
                n = maintenance.merge_upsert(spark, table, clean, keys=keys)
        finally:
            release_read(spark, path, schema)
        results[name] = (n, n_q)
    return results
