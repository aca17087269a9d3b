"""Seeded inputs for the medallion workload: the pipeline's six
Kaggle-shaped CSVs (FIXTURES.md §A) with the defects the pipeline must
survive (exact duplicate keys, null cells, corrupt lines, oil quotes on
weekdays only, transferred holidays), plus one daily folder ``YYYY/MM/DD``
for ``orchestrator.run_all(mode="incremental")`` and a second daily
folder that carries the full load's bad-date corrupt line.

The registered queries read the reference test tables shipped under
``perfbench/data/`` instead of generated ones.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np


def _store_rows(n_stores):
    return [
        (s, f"city{s % 7}", f"state{s % 4}", "ABCDE"[s % 5], s % 17 + 1)
        for s in range(1, n_stores + 1)
    ]


def _tx_rows(rng, days, stores):
    return [
        (d.isoformat(), s, int(rng.integers(300, 3000)))
        for d in days
        for s in stores
    ]


def _write(path: Path, header: str, rows) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    lines = [header]
    for r in rows:
        lines.append(r if isinstance(r, str) else ",".join("" if v is None else str(v) for v in r))
    path.write_text("\n".join(lines) + "\n")


def _oil_rows(rng, days, null_share=0.02):
    return [
        (d.isoformat(), None if rng.random() < null_share else round(float(rng.uniform(40, 60)), 2))
        for d in days
        if d.weekday() < 5
    ]


def favorita_csvs(
    src: Path, seed: int, n_stores: int, start: dt.date, n_days: int
) -> tuple[dt.date, dt.date]:
    """Write the full-load CSVs under ``src`` and two daily folders after
    the full load's last day. Returns ``(batch_date, defect_date)``:

    - ``batch_date``: new rows for every store, a corrected value for an
      earlier key and the FIXTURES corrupt line (valid date, non-integer
      store); the timed incremental day and its replay;
    - ``defect_date``: the same, plus the full load's other corrupt line,
      whose date does not parse. The incremental upsert fails on it
      instead of quarantining it (an open engine defect); a traced run
      runs this day after the timed passes and reports the outcome.
    """
    rng = np.random.default_rng(seed)
    days = [start + dt.timedelta(days=i) for i in range(n_days)]
    stores = list(range(1, n_stores + 1))

    store_rows = _store_rows(n_stores)
    _write(
        src / "stores.csv",
        "store_nbr,city,state,type,cluster",
        [*store_rows, store_rows[0], store_rows[1], (n_stores + 1, None, "stateX", "B", 3)],
    )
    bad_date = "totally,garbage,row,with,extra"
    tx = _tx_rows(rng, days, stores)
    dup_at = rng.integers(0, len(tx), max(3, len(tx) // 200))
    null_at = set(rng.integers(0, len(tx), max(2, len(tx) // 500)).tolist())
    tx_out = [(d, s, None if i in null_at else v) for i, (d, s, v) in enumerate(tx)]
    tx_out += [tx_out[i] for i in dup_at]
    tx_out += [f"{days[3].isoformat()},notanint,12", bad_date]
    _write(src / "transactions.csv", "date,store_nbr,transactions", tx_out)
    _write(src / "oil.csv", "date,dcoilwtico", _oil_rows(rng, days))

    hol = []
    for d in days:
        if d.month == 12 and d.day == 25:
            hol.append((d.isoformat(), "Holiday", "National", "Ecuador", "Navidad", "FALSE"))
            hol.append((d.isoformat(), "Holiday", "Local", "Quito", "Navidad local", "FALSE"))
        elif d.month == 1 and d.day == 1:
            hol.append((d.isoformat(), "Holiday", "National", "Ecuador", "Primer dia", "TRUE"))
            hol.append(((d + dt.timedelta(days=1)).isoformat(), "Transfer", "National",
                        "Ecuador", "Traslado Primer dia", "FALSE"))
        elif d.day == 10 and d.month in (5, 8, 10):
            hol.append((d.isoformat(), "Event", "National", "Ecuador", f"Evento {d.month}", "FALSE"))
    _write(src / "holidays_events.csv", "date,type,locale,locale_name,description,transferred", hol)

    test_days = [days[-1] + dt.timedelta(days=i + 1) for i in range(3)]
    _write(
        src / "test.csv",
        "id,date,store_nbr,family,onpromotion",
        [
            (i, d.isoformat(), s, ("GROCERY I", "BEVERAGES", "PRODUCE")[i % 3], int(rng.integers(0, 20)))
            for i, (d, s) in enumerate((d, s) for d in test_days for s in stores)
        ],
    )
    _write(src / "sample_submission.csv", "id,sales", [(i, 0.0) for i in range(len(test_days) * n_stores)])

    out = []
    for k, extra in enumerate(([], [bad_date])):
        day = days[-1] + dt.timedelta(days=k + 1)
        day_dir = src / f"{day:%Y/%m/%d}"
        corrected = tx[int(rng.integers(0, len(tx)))]
        rows = [*_tx_rows(rng, [day], stores), (corrected[0], corrected[1], corrected[2] + 1 + k)]
        corrupt = [f"{day.isoformat()},notanint,12", *extra]
        _write(day_dir / "transactions.csv", "date,store_nbr,transactions", [*rows, *corrupt])
        if day.weekday() < 5:
            _write(day_dir / "oil.csv", "date,dcoilwtico", _oil_rows(rng, [day], null_share=0))
        out.append(day)
    return out[0], out[1]
