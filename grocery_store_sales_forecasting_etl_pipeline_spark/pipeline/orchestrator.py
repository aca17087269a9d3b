"""Pipeline orchestration (reference docx §"Orchestration"/§"Alerting").

The reference runs the medallion pipeline as a daily scheduled job —
setup → bronze → silver → gold → data-quality tests — that stops at the
first failing stage and alerts on failure. This module is that outermost
surface, engine-side and scheduler-agnostic:

- ``run_all`` sequences the stages with fail-fast semantics: a stage
  failure error-logs to ``logs.etl_errors`` (E1 — the same structured
  row the reference writes at bronze_ingestion.py.py:32-46), marks the
  remaining stages skipped, fires the alert callback, and re-raises.
- Bounded per-stage retries (``max_attempts``) cover the transient
  failure class a daily job actually sees (late-arriving files, catalog
  races); deterministic failures exhaust attempts immediately.
- Alerting is a pluggable callback (``on_failure``) rather than a baked
  email channel: a scheduler (Airflow/Jobs/cron) attaches whatever
  transport it has. The default callback prints to stderr so a bare
  cron run still surfaces the failure.

Scale notes: orchestration is pure control flow on the driver — each
stage's heavy lifting stays in its own module's distributed plan; the
only driver-side state is per-stage status rows. The quality gate runs
the E2-E6 checks (operators/quality.py) on the inputs of a single Spark
action.
"""

from __future__ import annotations

import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from grocery_store_sales_forecasting_etl_pipeline_spark.operators import quality as Q
from grocery_store_sales_forecasting_etl_pipeline_spark.pipeline import bronze, gold, silver
from grocery_store_sales_forecasting_etl_pipeline_spark.sources import catalog
from grocery_store_sales_forecasting_etl_pipeline_spark.sources.error_log import log_error


class PipelineError(RuntimeError):
    """A stage failed after exhausting its attempts."""

    def __init__(self, stage: str, cause: BaseException):
        super().__init__(f"stage '{stage}' failed: {cause}")
        self.stage = stage
        self.cause = cause


class QualityGateError(RuntimeError):
    """The quality stage found failing expectations."""

    def __init__(self, failures):
        super().__init__(
            "quality gate failed: " + "; ".join(f"{r.name} ({r.detail})" for r in failures)
        )
        self.failures = list(failures)


@dataclass
class StageResult:
    name: str
    status: str = "pending"  # ok | failed | skipped
    attempts: int = 0
    seconds: float = 0.0
    detail: str = ""


def _default_alert(stage: str, exc: BaseException) -> None:
    print(f"[pipeline-alert] stage={stage} failed: {exc}", file=sys.stderr)


def run_quality_gates(spark: SparkSession) -> list[Q.CheckResult]:
    """Cross-layer E2-E6 gate over the three written layers (reference
    test_data_quality.py.py:13-94 run as a pipeline stage, not a test).

    Every input — three layer counts, two transaction sums, the gold null
    counts and the gold label minimum — comes from ONE action: one global
    aggregate per table, cross-joined into a single row."""
    silver_df = spark.table(silver.OUTPUT_TABLE)
    gold_df = spark.table(gold.OUTPUT_TABLE)
    gold_cols = [*gold.FEATURE_COLS, gold.LABEL_COL]
    n_rows = F.count(F.lit(1))

    row = (
        spark.table("raw.transactions")
        .agg(n_rows.alias("n_bronze"))
        .crossJoin(
            silver_df.agg(
                n_rows.alias("n_silver"), F.sum("transactions").alias("silver_total")
            )
        )
        .crossJoin(
            gold_df.agg(
                n_rows.alias("n_gold"),
                F.sum(gold.LABEL_COL).alias("gold_total"),
                F.min(gold.LABEL_COL).alias("gold_min"),
                *Q.null_counts(gold_cols, prefix="nulls__"),
            )
        )
        .first()
    )

    return [
        Q.check_nonempty(row.n_silver, "silver_nonempty"),
        Q.check_nonempty(row.n_gold, "gold_nonempty"),
        Q.expect_columns(gold_df, gold_cols, "gold_columns"),
        Q.check_no_nulls({c: row[f"nulls__{c}"] for c in gold_cols}, "gold_no_nulls"),
        Q.check_min(gold.LABEL_COL, row.gold_min, 0.0, "gold_label_nonnegative"),
        Q.expect_monotone_counts(
            [("gold", row.n_gold), ("silver", row.n_silver), ("bronze", row.n_bronze)],
            strict_first=True,
            name="layer_counts",
        ),
        Q.expect_mass_conservation(row.gold_total, row.silver_total, "transaction_mass"),
    ]


def run_all(
    spark: SparkSession,
    source_dir: str,
    with_forecast: bool = True,
    max_attempts: int = 1,
    on_failure: Callable[[str, BaseException], None] | None = None,
    results: dict[str, StageResult] | None = None,
    mode: str = "full",
    batch_date=None,
) -> dict[str, StageResult]:
    """Run the full DAG: setup → bronze → silver → gold → quality.

    ``mode="full"`` (default) ingests ``<source_dir>/<name>.csv`` with
    overwrite semantics. ``mode="incremental"`` ingests the daily folder
    ``<source_dir>/YYYY/MM/DD`` for ``batch_date`` via keyed upserts
    (``bronze.run_incremental``) — bronze partitions outside the batch
    are untouched, replaying the same day is idempotent, and silver/gold
    rebuild deterministically from the upserted raw state, so a replayed
    day leaves every DATA layer byte-identical. The quarantine table is
    the deliberate exception: it is an append-only audit log, so a
    replayed batch with corrupt rows records them again (each with its
    own timestamp) — delivery attempts are facts worth keeping.

    Fail-fast: the first stage that exhausts ``max_attempts`` writes a
    structured row to ``logs.etl_errors``, triggers ``on_failure``,
    marks downstream stages skipped, and raises ``PipelineError``.
    Returns {stage: StageResult} (also populated into ``results`` when
    given, so callers still see per-stage status after the raise).
    """
    if mode not in ("full", "incremental"):
        raise ValueError(f"mode must be 'full' or 'incremental', got {mode!r}")
    if mode == "incremental" and batch_date is None:
        raise ValueError("mode='incremental' requires batch_date")
    alert = on_failure or _default_alert

    def _quality(spark: SparkSession) -> None:
        ok, failed = Q.expect_all(run_quality_gates(spark))
        if not ok:
            raise QualityGateError(failed)

    def _bronze():
        if mode == "incremental":
            return bronze.run_incremental(spark, source_dir, batch_date)
        return bronze.run(spark, source_dir)

    stages: list[tuple[str, Callable[[], object]]] = [
        ("setup", lambda: catalog.bootstrap(spark)),
        ("bronze", _bronze),
        ("silver", lambda: silver.run(spark)),
        ("gold", lambda: gold.run(spark, with_forecast=with_forecast)),
        ("quality", lambda: _quality(spark)),
    ]
    out = results if results is not None else {}
    for name, _ in stages:
        out[name] = StageResult(name)

    failed_stage: PipelineError | None = None
    for name, fn in stages:
        res = out[name]
        if failed_stage is not None:
            res.status = "skipped"
            res.detail = f"upstream stage '{failed_stage.stage}' failed"
            continue
        t0 = time.perf_counter()
        last_exc: Exception | None = None
        for attempt in range(1, max_attempts + 1):
            res.attempts = attempt
            try:
                fn()
                last_exc = None
                break
            # Exception only: KeyboardInterrupt/SystemExit must abort the
            # pipeline immediately, not be retried max_attempts times.
            except Exception as exc:  # noqa: BLE001 — logged + re-raised below
                last_exc = exc
        res.seconds = round(time.perf_counter() - t0, 3)
        if last_exc is None:
            res.status = "ok"
        else:
            res.status = "failed"
            res.detail = f"{type(last_exc).__name__}: {last_exc}"
            # E1: structured error row, then alert. The error log itself
            # must never mask the original failure.
            try:
                log_error(
                    spark,
                    message=f"{traceback.format_exception_only(last_exc)[-1].strip()}",
                    stage=name,
                    source_file=source_dir,
                )
            except BaseException as log_exc:  # pragma: no cover
                print(f"[pipeline-alert] error-log write failed: {log_exc}", file=sys.stderr)
            alert(name, last_exc)
            failed_stage = PipelineError(name, last_exc)

    if failed_stage is not None:
        raise failed_stage
    return out
