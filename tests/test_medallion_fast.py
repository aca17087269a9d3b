"""Fast-tier medallion coverage: the concurrent bronze full load (counts
taken from the writes, one quarantine append, one error row per failing
source), the incremental bad-date batch, and the one-action quality gate.

The end-to-end pipeline modules (test_pipeline, test_orchestrator,
test_incremental_pipeline) are slow-tier; this module keeps the code they
exercise in the fast gate. Runtime: 41 s for this module alone on a
4-core VM (Spark 4.1.2, the session of tests/conftest.py), of which
about 10 s is the session start.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark import StorageLevel

from grocery_store_sales_forecasting_etl_pipeline_spark.pipeline import (
    bronze,
    gold,
    orchestrator,
    silver,
)
from grocery_store_sales_forecasting_etl_pipeline_spark.sources import catalog
from grocery_store_sales_forecasting_etl_pipeline_spark.sources.csv_ingest import (
    prepare_clean,
    read_csv_permissive,
    release_read,
)
from tests.test_pipeline import _write_fixtures

# clean rows per source in tests.test_pipeline._write_fixtures: 62 days x
# 10 stores + a duplicate + a null-value row; 10 stores + a duplicate + a
# null-city row; 44 weekday oil quotes; 4 holiday rows; one row each
FIXTURE_COUNTS = {
    "stores": (12, 0),
    "sample_submission": (1, 0),
    "oil": (44, 0),
    "holidays_events": (4, 0),
    "transactions": (622, 2),
    "test": (1, 0),
}


@pytest.fixture()
def clean_catalog(spark):
    catalog.drop_all(spark)
    yield
    catalog.drop_all(spark)


@pytest.fixture()
def fixtures_dir(tmp_path):
    src = tmp_path / "csv"
    src.mkdir()
    _write_fixtures(src)
    return src


def _quarantine(spark):
    return spark.table(bronze.QUARANTINE_TABLE).collect()


def _cached(spark, src, name) -> bool:
    """Whether the permissive read of ``<src>/<name>.csv`` is still cached
    (the cache matches it by plan)."""
    schema = next(s for n, s, _ in bronze.SOURCES if n == name)
    return read_csv_permissive(spark, f"{src}/{name}.csv", schema).storageLevel != StorageLevel.NONE


def test_full_load_counts_and_quarantine(spark, fixtures_dir, clean_catalog, monkeypatch):
    seen = {}
    real_run = bronze.run

    def spy(spark_, source_dir):
        seen["counts"] = real_run(spark_, source_dir)
        return seen["counts"]

    monkeypatch.setattr(orchestrator.bronze, "run", spy)
    results = orchestrator.run_all(spark, str(fixtures_dir), with_forecast=False)
    assert [r.status for r in results.values()] == ["ok"] * 5
    assert seen["counts"] == FIXTURE_COUNTS
    for name, (n_clean, _) in FIXTURE_COUNTS.items():
        assert spark.table(f"raw.{name}").count() == n_clean
    raws = sorted(r.raw_record for r in _quarantine(spark))
    assert raws == ["2017-01-05,notanint,12", "totally,garbage"]
    assert not any(_cached(spark, fixtures_dir, name) for name in FIXTURE_COUNTS)


def test_corrupt_lines_from_two_sources_share_one_append(spark, fixtures_dir, clean_catalog):
    with (fixtures_dir / "stores.csv").open("a") as f:
        f.write("\nnotanint,cityX,stateX,A,1")
    catalog.bootstrap(spark)
    counts = bronze.run(spark, str(fixtures_dir))
    assert counts["stores"] == (12, 1) and counts["transactions"] == (622, 2)
    rows = _quarantine(spark)
    by_file = {}
    for r in rows:
        by_file.setdefault(r.source_file.rsplit("/", 1)[-1], set()).add(r.raw_record)
    assert by_file == {
        "stores.csv": {"notanint,cityX,stateX,A,1"},
        "transactions.csv": {"2017-01-05,notanint,12", "totally,garbage"},
    }
    # one append: current_timestamp() is fixed once per query
    assert len({r.quarantined_at for r in rows}) == 1
    assert {r.stage for r in rows} == {"bronze_ingestion"}


def test_empty_source_dir_logs_every_missing_file(spark, tmp_path, clean_catalog):
    src = tmp_path / "empty"
    src.mkdir()
    with pytest.raises(orchestrator.PipelineError) as err:
        orchestrator.run_all(spark, str(src), on_failure=lambda stage, exc: None)
    assert err.value.stage == "bronze"
    errors = spark.table(catalog.ERROR_LOG_TABLE).collect()
    ingest = sorted(r.source_file for r in errors if r.stage == "bronze_ingestion")
    assert ingest == sorted(f"{src}/{name}.csv" for name, *_ in bronze.SOURCES)
    assert [r.stage for r in errors].count("bronze") == 1


def test_incremental_batch_quarantines_bad_date_line(spark, fixtures_dir, clean_catalog):
    """A daily line with extra tokens and an unparseable date is
    quarantined; it used to reach ANSI ``to_date`` (CANNOT_PARSE_TIMESTAMP)
    because the upsert re-read the CSV after the cached read was dropped."""
    results = orchestrator.run_all(spark, str(fixtures_dir), with_forecast=False)
    assert [r.status for r in results.values()] == ["ok"] * 5
    day = fixtures_dir / "2017" / "02" / "01"
    day.mkdir(parents=True)
    bad = ["2017-02-01,notanint,12", "totally,garbage,row,with,extra"]
    (day / "transactions.csv").write_text(
        "\n".join(["date,store_nbr,transactions", "2017-02-01,1,501", "2017-02-01,2,502", *bad])
    )
    results = orchestrator.run_all(
        spark, str(fixtures_dir), with_forecast=False, mode="incremental",
        batch_date=dt.date(2017, 2, 1),
    )
    assert [r.status for r in results.values()] == ["ok"] * 5
    tx = spark.table("raw.transactions")
    assert tx.count() == FIXTURE_COUNTS["transactions"][0] + 2
    daily = {r.raw_record for r in _quarantine(spark) if r.source_file.endswith("01/transactions.csv")}
    assert daily == set(bad)
    assert not _cached(spark, day, "transactions")


def test_release_read_drops_the_prepare_clean_cache(spark, fixtures_dir):
    path = f"{fixtures_dir}/transactions.csv"
    clean, n_quarantined = prepare_clean(spark, path, bronze.TRANSACTIONS_SCHEMA)
    assert n_quarantined == 0  # no quarantine table given
    assert _cached(spark, fixtures_dir, "transactions")
    release_read(spark, path, bronze.TRANSACTIONS_SCHEMA)
    assert not _cached(spark, fixtures_dir, "transactions")


def test_quality_gate_reports_null_feature_and_negative_label(spark, clean_catalog):
    catalog.bootstrap(spark)
    spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (4, 40)], "store_nbr int, transactions int"
    ).write.saveAsTable("raw.transactions")
    spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "store_nbr int, transactions int"
    ).write.saveAsTable(silver.OUTPUT_TABLE)
    feature_types = {"had_holiday": "boolean"}
    schema = ", ".join(
        f"{c} {feature_types.get(c, 'double')}" for c in gold.FEATURE_COLS
    ) + f", {gold.LABEL_COL} bigint"
    spark.createDataFrame(
        [(1.0, 2.0, 3.0, False, 50.0, 70), (None, 2.0, 3.0, True, 51.0, -5)], schema
    ).write.saveAsTable(gold.OUTPUT_TABLE)

    gates = {g.name: g for g in orchestrator.run_quality_gates(spark)}
    assert list(gates) == [
        "silver_nonempty", "gold_nonempty", "gold_columns", "gold_no_nulls",
        "gold_label_nonnegative", "layer_counts", "transaction_mass",
    ]
    assert not gates["gold_no_nulls"].passed
    assert gates["gold_no_nulls"].detail == "null counts: {'prev_week_transactions': 1}"
    assert not gates["gold_label_nonnegative"].passed
    assert gates["gold_label_nonnegative"].detail == "min(weekly_transactions)=-5 < 0.0"
    # the cross-layer checks still ran on the same action's counts and sums
    assert gates["layer_counts"].passed
    assert not gates["transaction_mass"].passed
    assert gates["transaction_mass"].detail == "65 > 60"
    assert all(gates[n].passed for n in ("silver_nonempty", "gold_nonempty", "gold_columns"))
