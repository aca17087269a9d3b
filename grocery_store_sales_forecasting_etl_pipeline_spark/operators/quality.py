"""Data-quality expectation operators (reference §2.13 E2-E6,
test_data_quality.py.py:13-94) as reusable checks.

Each check returns a ``CheckResult`` instead of raising, so pipelines can
gate, log, or fail-fast as policy dictates; ``expect_all`` aggregates.
Counts are single Spark actions; multi-column null checks are ONE pass
(conditional aggregation), not a count() per column like the reference.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


@dataclass
class CheckResult:
    name: str
    passed: bool
    detail: str = ""


def check_nonempty(n_rows: int, name: str = "nonempty") -> CheckResult:
    """E2 on a precomputed row count."""
    return CheckResult(name, n_rows > 0, "" if n_rows else "no rows")


def check_no_nulls(null_counts: Mapping[str, int], name: str = "no_nulls") -> CheckResult:
    """E4 on precomputed per-column null counts."""
    offenders = {c: n for c, n in null_counts.items() if n}
    return CheckResult(name, not offenders, f"null counts: {offenders}" if offenders else "")


def check_min(col: str, lo, bound: float, name: str = "min_bound") -> CheckResult:
    """E5 on a precomputed ``min(col)`` (None for an empty table)."""
    ok = lo is not None and lo >= bound
    return CheckResult(name, ok, f"min({col})={lo} < {bound}" if not ok else "")


def expect_nonempty(df: DataFrame, name: str = "nonempty") -> CheckResult:
    """E2: table has rows (test_data_quality.py.py:13-15)."""
    return check_nonempty(df.limit(1).count(), name)


def expect_columns(df: DataFrame, required: Sequence[str], name: str = "columns") -> CheckResult:
    """E3: required columns present (test_data_quality.py.py:17-21)."""
    missing = sorted(set(required) - set(df.columns))
    return CheckResult(name, not missing, f"missing: {missing}" if missing else "")


def expect_no_nulls(
    df: DataFrame, cols: Sequence[str] | None = None, name: str = "no_nulls"
) -> CheckResult:
    """E4: zero nulls in the given (default: all) columns
    (test_data_quality.py.py:23-28,36-40,67-72).

    One aggregation pass for all columns — the reference runs a filtered
    count per column, which is N full scans.
    """
    cols = list(cols or df.columns)
    counts = df.agg(*null_counts(cols)).first()
    return check_no_nulls({c: counts[c] for c in cols}, name)


def null_counts(cols: Sequence[str], prefix: str = "") -> list[Column]:
    """One ``count(col IS NULL)`` aggregate per column, aliased
    ``prefix + col`` — E4's single-pass form."""
    return [F.count(F.when(F.col(c).isNull(), 1)).alias(prefix + c) for c in cols]


def expect_min(
    df: DataFrame, col: str, bound: float, name: str = "min_bound"
) -> CheckResult:
    """E5: min(col) >= bound (test_data_quality.py.py:74-77)."""
    return check_min(col, df.agg(F.min(col)).first()[0], bound, name)


def expect_monotone_counts(
    counts: Sequence[tuple[str, int]], strict_first: bool = True, name: str = "monotone_counts"
) -> CheckResult:
    """E6a: layer row counts ordered, e.g. gold < silver <= bronze
    (test_data_quality.py.py:81-86). ``counts`` ordered smallest-first."""
    for (na, a), (nb, b) in zip(counts, counts[1:]):
        if strict_first and not a < b:
            return CheckResult(name, False, f"{na}={a} !< {nb}={b}")
        if not strict_first and not a <= b:
            return CheckResult(name, False, f"{na}={a} !<= {nb}={b}")
        strict_first = False  # only the first comparison is strict in the reference
    return CheckResult(name, True)


def expect_mass_conservation(
    part: float | None, whole: float | None, name: str = "mass_conservation"
) -> CheckResult:
    """E6b: aggregated measure must not exceed its source total
    (test_data_quality.py.py:88-94)."""
    ok = part is not None and whole is not None and part <= whole
    return CheckResult(name, ok, f"{part} > {whole}" if not ok else "")


def expect_all(results: Sequence[CheckResult]) -> tuple[bool, list[CheckResult]]:
    failed = [r for r in results if not r.passed]
    return (not failed, list(failed))


@dataclass
class QualityObservation:
    """Binds an ``Observation`` to the metric config it was built with,
    so the check side can never drift from the observe side (a mismatch
    would otherwise KeyError after the expensive action already ran)."""

    obs: object
    no_null_cols: tuple[str, ...]
    min_bounds: dict[str, float]

    def results(self) -> list[CheckResult]:
        """Evaluate the collected metrics (blocks until the observed
        frame's action has run)."""
        vals = self.obs.get
        out = [check_nonempty(vals["n_rows"])]
        for c in self.no_null_cols:
            n = vals[f"nulls__{c}"]
            out.append(
                CheckResult(f"no_nulls:{c}", n == 0, f"null count: {n}" if n else "")
            )
        for c, bound in self.min_bounds.items():
            out.append(check_min(c, vals[f"min__{c}"], bound, f"min_bound:{c}"))
        return out


def observe_quality(
    df: DataFrame,
    no_null_cols: Sequence[str] = (),
    min_bounds: dict[str, float] | None = None,
    name: str = "quality",
):
    """Attach E2/E4/E5-style metrics to ``df`` via ``Dataset.observe`` so
    they are collected DURING the action that already materializes the
    frame (a sink write, a downstream aggregate) — zero extra scans,
    versus one aggregate job per gate in the check-then-write pattern
    above (and N full scans in the reference's per-column counts,
    test_data_quality.py.py:23-28).

    Returns ``(df_with_observation, QualityObservation)``; run any
    action on the returned frame, then call ``.results()`` on the
    handle — the metric list and the check list are bound together, so
    they cannot diverge. At 100 TB this is the difference between quality
    gates costing one extra full pass over the table and costing
    nothing: the metrics ride the task that was already running.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows"), *null_counts(no_null_cols, "nulls__")]
    for c in (min_bounds or {}):
        metrics.append(F.min(c).alias(f"min__{c}"))
    handle = QualityObservation(
        obs=obs, no_null_cols=tuple(no_null_cols), min_bounds=dict(min_bounds or {})
    )
    return df.observe(obs, *metrics), handle
