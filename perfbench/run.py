#!/usr/bin/env python3
"""Engine benchmark: closed-loop workloads over the registered queries and
the medallion pipeline, with output checks and a traced per-layer pass.

Usage (from the repository root):

    python3 perfbench/run.py --workload iterative_ops --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload medallion_daily --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --selfcheck

One client drives one SparkSession (``session.get_spark`` defaults on
``local[<nproc>]``, console progress bar off) in a closed loop. A run:

1. takes its inputs: the query workloads read the reference test
   tables under ``perfbench/data/`` and the seed sets their operation
   order; the medallion workload writes its CSVs from the seed
   (``perfbench/datagen.py``);
2. set-up, timed as ``setup_s``: imports the engine, creates the
   session and runs one warm-up pass (its outputs are checked after
   the set-up clock stops);
3. runs whole timed passes until ``--seconds`` have been measured;
4. with ``--trace 1``, runs one more pass with every layer wrapped in
   span recorders (``perfbench/trace.py``) and reports per-layer numbers
   and the tracing overhead (traced minus untraced pass wall).

Every operation's output is checked outside the timed window: registered
queries against their DuckDB oracle (``tests/oracle_utils._canon_pandas``
on both pandas paths), the two oracle-less forecasts for a non-empty
result whose hash repeats on every pass (the warm-up pass included),
the pipeline through its quality gate (a failing gate raises from
``run_all``) and a replayed daily batch that must leave the silver and
gold content unchanged. A check that fails counts the operation as
failed.

Known engine defect, reported but not counted: an incremental daily
batch holding a corrupt line whose date does not parse makes
``run_all(mode="incremental")`` raise CANNOT_PARSE_TIMESTAMP instead of
quarantining the line. The timed daily batch carries only the FIXTURES
corrupt-line shape; after the timed passes each traced medallion run
runs the bad-date batch once and records its outcome as
``known_defect`` in the record line (and on stderr while it fails).

The second-to-last stdout line is a JSON record with everything measured,
each end-to-end metric with its unit (load context, per-operation
samples, tail percentile, per-workload pipeline times); the last line is
the result object ``{"correct", "attempted", "failed", "metrics"}``
holding the ``end_to_end`` metrics of BENCHMARK.json (``--trace 0``) or
its ``per_layer`` metrics (``--trace 1``).

BENCHMARK.json gates the cold set-up (wall and process-tree CPU), which
runs every operation once. The warm-pass numbers (``wall_s``,
``op_p50_s``, ``ops_per_s``, ``pass_cpu_s``) are in the record only:
within the run budget the single timed pass still overlaps JIT
compilation, and on a shared 4-core VM their run-to-run spread reached
18-40% on medallion_daily as host CPU steal came and went.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
DATA = HERE / "data"


def config() -> dict:
    """Frozen query lists, input tables and medallion sizes (``workloads.json``)."""
    return json.loads((HERE / "workloads.json").read_text())


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def tree_stat(root: int) -> tuple[int, float]:
    """(RSS in KiB, CPU seconds including reaped children) summed over
    ``root`` and all its descendants: this process, the JVM and its
    Python workers."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(pid))
        stats[int(pid)] = fields
    rss_pages = ticks = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            rss_pages += int(stats[pid][21])
            ticks += sum(int(x) for x in stats[pid][11:15])  # utime stime cutime cstime
        todo.extend(children.get(pid, []))
    return rss_pages * (os.sysconf("SC_PAGE_SIZE") // 1024), ticks / os.sysconf("SC_CLK_TCK")


class RssMonitor(threading.Thread):
    """Peak of ``tree_stat`` RSS, sampled every 500 ms."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, tree_stat(os.getpid())[0])

    def run(self) -> None:
        while not self._stop_evt.wait(0.5):
            self.sample()

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self.sample()
        return self.peak_kb / 1024


def canon_hash(pdf) -> str:
    from tests.oracle_utils import _canon_pandas

    rows = _canon_pandas(pdf)
    return hashlib.sha256(repr((sorted(pdf.columns), rows)).encode()).hexdigest()


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


class QueryWorkload:
    """Registered queries: one operation is the builder call up to the
    noop-sink forcing of its result."""

    def __init__(self, spark, cfg: dict, data_dir: Path, seed: int) -> None:
        from grocery_store_sales_forecasting_etl_pipeline_spark import plans

        self.spark, self.plans, self.sf_dir = spark, plans, str(data_dir)
        self.names = list(cfg["queries"])
        random.Random(seed).shuffle(self.names)
        self.builders = {n: plans.wrapped_build(n) for n in self.names}
        self._oracle: dict[str, tuple] = {}
        self._seen_hash: dict[str, str] = {}

    def ops(self) -> list[str]:
        return list(self.names)

    warmup_ops = ops

    def prepare(self) -> None:
        pass

    def run(self, name: str, tracer=None):
        build = self.builders[name]
        if tracer is None:
            df = build(self.spark, self.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            return df
        with tracer.span("plans.build"):
            df = build(self.spark, self.sf_dir)
        tracer.noop_write("query.exec", df)
        return df

    def _oracle_rows(self, name: str):
        if name not in self._oracle:
            from tests.oracle_utils import _canon_pandas, duckdb_con

            con = duckdb_con(self.sf_dir)
            try:
                opdf = con.execute(self.plans.wrapped_oracle(name)).df()
            finally:
                con.close()
            self._oracle[name] = (sorted(opdf.columns), _canon_pandas(opdf))
        return self._oracle[name]

    def check(self, name: str, df) -> str | None:
        """None when the result is right, else why it is wrong."""
        pdf = df.toPandas()
        if self.plans.REGISTRY[name].oracle is None:
            if pdf.empty:
                return "empty result"
            h = canon_hash(pdf)
            if self._seen_hash.setdefault(name, h) != h:
                return "result hash changed between passes"
            return None
        from tests.oracle_utils import _canon_pandas

        cols, rows = self._oracle_rows(name)
        if sorted(pdf.columns) != cols:
            return f"columns {sorted(pdf.columns)} != oracle {cols}"
        if _canon_pandas(pdf) != rows:
            return "values differ from the DuckDB oracle"
        return None


class MedallionWorkload:
    """The daily medallion job: one full ``run_all``, one incremental
    daily batch, then the same batch replayed. One operation is one
    ``run_all`` call, without the forecast stage."""

    def __init__(self, spark, src: Path, batch_date: dt.date, defect_date: dt.date) -> None:
        from grocery_store_sales_forecasting_etl_pipeline_spark.pipeline import orchestrator
        from grocery_store_sales_forecasting_etl_pipeline_spark.sources import catalog

        self.spark, self.src = spark, str(src)
        self.orchestrator, self.catalog = orchestrator, catalog
        self.batch_date, self.defect_date = batch_date, defect_date
        self._before_replay: str | None = None

    def ops(self) -> list[str]:
        day = self.batch_date.isoformat()
        return ["full", "incremental:" + day, "replay:" + day]

    def warmup_ops(self) -> list[str]:
        """The full load: session, CSV reader, writers, silver, gold and
        the quality gate. It keeps set-up within the run budget; the
        daily batch's upsert path warms inside the timed pass."""
        return ["full"]

    def prepare(self) -> None:
        self.catalog.drop_all(self.spark)
        self._before_replay = None

    def run(self, op: str, tracer=None):
        kind, _, day = op.partition(":")
        if kind == "full":
            return self.orchestrator.run_all(self.spark, self.src, with_forecast=False)
        return self.orchestrator.run_all(
            self.spark,
            self.src,
            with_forecast=False,
            mode="incremental",
            batch_date=dt.date.fromisoformat(day),
        )

    def probe_defect(self) -> dict:
        """Run the bad-date daily batch once, untimed, on top of the last
        pass's tables; returns its outcome for the record."""
        op = "incremental:" + self.defect_date.isoformat()
        try:
            err = self.check(op, self.run(op))
        except Exception as exc:  # noqa: BLE001 — the outcome is what is reported
            err = f"{type(exc).__name__}: {str(exc)[:300]}"
        if err is not None:
            print(f"[perfbench] known defect still present, {op}: {err}", file=sys.stderr)
        return {"op": op, "failed": err is not None, "error": err}

    def layer_hash(self) -> str:
        from grocery_store_sales_forecasting_etl_pipeline_spark.pipeline import gold, silver

        return "".join(
            canon_hash(self.spark.table(t).toPandas())
            for t in (silver.OUTPUT_TABLE, gold.OUTPUT_TABLE)
        )

    def check(self, op: str, results) -> str | None:
        bad = [f"{r.name}={r.status}" for r in results.values() if r.status != "ok"]
        if bad:
            return "stages not ok: " + ", ".join(bad)
        if op == self.ops()[-2]:
            self._before_replay = self.layer_hash()
        elif op.startswith("replay:") and self.layer_hash() != self._before_replay:
            return "replayed day changed the silver/gold content"
        return None


# ---------------------------------------------------------------------------
# Passes
# ---------------------------------------------------------------------------


class Pass:
    def __init__(self) -> None:
        self.samples: list[float] = []
        self.floor_s = 0.0
        self.cpu_s = 0.0
        self.failures: list[str] = []
        self.attempted = 0
        self.unchecked: list[tuple[str, object, str | None]] = []

    @property
    def wall_s(self) -> float:
        return self.floor_s + sum(self.samples)


class Segment:
    """Wall and process-tree CPU seconds of one timed step of a pass."""

    def __init__(self, p: Pass) -> None:
        self.p = p

    def __enter__(self) -> Segment:
        self.cpu0 = tree_stat(os.getpid())[1]
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> bool:
        self.wall_s = time.perf_counter() - self.t0
        self.p.cpu_s += tree_stat(os.getpid())[1] - self.cpu0
        return False


def run_pass(spark, workload, tracer=None, ops: list[str] | None = None, check: bool = True) -> Pass:
    """One pass: the session floor query (a one-row noop write), then
    every operation in seed order. Only the floor and the operations are
    timed; preparation and output checks run between them, outside the
    pass wall. With ``check=False`` the outputs are kept for
    ``check_pass``."""
    p = Pass()
    workload.prepare()
    floor = spark.range(1)
    with Segment(p) as seg:
        if tracer is None:
            floor.write.format("noop").mode("overwrite").save()
        else:
            tracer.noop_write("query.floor", floor, split_plan=False)
    p.floor_s = seg.wall_s
    for op in workload.ops() if ops is None else ops:
        p.attempted += 1
        out, err = None, None
        with Segment(p) as seg:
            try:
                out = workload.run(op) if tracer is None else tracer.call("op", workload.run, op, tracer)
            except Exception as exc:  # noqa: BLE001 — a failed operation is a measured outcome
                err = f"{type(exc).__name__}: {str(exc)[:300]}"
        p.samples.append(seg.wall_s)
        p.unchecked.append((op, out, err))
        if check:
            check_pass(workload, p)
    return p


def check_pass(workload, p: Pass) -> None:
    """Check the pass's outputs not yet checked; record the failures."""
    for op, out, err in p.unchecked:
        if err is None:
            try:
                err = workload.check(op, out)
            except Exception as exc:  # noqa: BLE001
                err = f"check raised {type(exc).__name__}: {str(exc)[:300]}"
        if err is not None:
            p.failures.append(f"{op}: {err}")
            print(f"[perfbench] FAILED {op}: {err}", file=sys.stderr)
    p.unchecked.clear()


def tail_percentile(samples: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(samples)
    if n < 11:
        return None
    pct = 100.0 * (n - 10) / n
    ordered = sorted(samples)
    return {"percentile": round(pct, 2), "value_s": ordered[n - 11], "samples": n}


# ---------------------------------------------------------------------------
# Per-layer numbers from a traced pass
# ---------------------------------------------------------------------------


def layer_metrics(tracer, stages: list[dict], traced: Pass, cores: int) -> dict[str, float]:
    from perfbench.trace import LAYERS

    wall = traced.wall_s
    by_sid = {s.sid: s for s in tracer.spans}

    def subtree_jobs(span) -> int:
        kids = [s for s in tracer.spans if s.parent == span.sid]
        return len(span.jobs) + sum(subtree_jobs(k) for k in kids)

    def pct(seconds: float) -> float:
        return 100.0 * seconds / wall

    task_ms_by_sid: dict[int, float] = {}
    for st in stages:
        task_ms_by_sid[st["span"]] = task_ms_by_sid.get(st["span"], 0) + st["task_ms"]

    def phase(name: str) -> list:
        return [s for s in tracer.spans if s.name == name]

    m: dict[str, float] = {}
    m["plans.build_pct"] = pct(sum(s.dur for s in phase("plans.build")))
    m["plans.build_jobs"] = sum(subtree_jobs(s) for s in phase("plans.build"))
    # the noop write's own optimization + planning, carved out of exec
    m["query.plan_pct"] = pct(sum(s.dur for s in phase("query.plan")))
    m["query.exec_pct"] = pct(sum(s.self_s for s in phase("query.exec")))
    m["query.exec_jobs"] = sum(len(s.jobs) for s in phase("query.exec"))
    m["query.floor_s"] = traced.floor_s
    task_ms = sum(st["task_ms"] for st in stages)
    m["query.stages"] = len(stages)
    m["query.tasks"] = sum(st["tasks"] for st in stages)
    m["query.task_s"] = task_ms / 1000
    m["query.gc_pct"] = 100.0 * sum(st["gc_ms"] for st in stages) / max(task_ms, 1)
    m["query.shuffle_read_bytes"] = sum(st["shuffle_read"] for st in stages)
    m["query.shuffle_write_bytes"] = sum(st["shuffle_write"] for st in stages)
    m["query.fetch_wait_pct"] = 100.0 * sum(st["fetch_wait_ms"] for st in stages) / max(task_ms, 1)
    m["query.spill_bytes"] = sum(st["spill"] for st in stages)
    m["query.core_util"] = task_ms / 1000 / (wall * cores)

    for layer in LAYERS:
        spans = [s for s in tracer.spans if s.name == layer]
        outer = [s for s in spans if s.parent is None or by_sid[s.parent].name != layer]
        m[f"{layer}.calls"] = len(outer)
        m[f"{layer}.self_pct"] = pct(sum(s.self_s for s in spans))
        m[f"{layer}.jobs"] = sum(len(s.jobs) for s in spans)
        m[f"{layer}.task_pct"] = 100.0 * sum(task_ms_by_sid.get(s.sid, 0) for s in spans) / 1000 / (wall * cores)
        m[f"{layer}.failures"] = sum(s.failed for s in outer)

    sizing = [s for s in tracer.spans if s.name == "operators.sizing"]
    m["operators.sizing.gate_calls"] = len(sizing)
    m["operators.sizing.unsized_ratio"] = (
        sum(s.result is None for s in sizing) / len(sizing) if sizing else 0.0
    )
    bronze = [s for s in tracer.spans if s.name == "pipeline.bronze" and s.result]
    full = [s.result for s in bronze if s.fn == "run"]
    m["sources.csv_ingest.rows_clean"] = sum(c for r in full for c, _ in r.values())
    m["sources.csv_ingest.rows_quarantined"] = sum(q for r in full for _, q in r.values())
    written = rows_in = 0
    for s in bronze:
        if s.fn != "run_incremental":
            continue
        _, source_dir, batch_date = s.args[:3]
        for name, (n_written, n_quarantined) in s.result.items():
            path = Path(source_dir) / f"{batch_date:%Y/%m/%d}" / f"{name}.csv"
            written += n_written
            rows_in += len(path.read_text().splitlines()) - 1 - n_quarantined
    m["sources.maintenance.rows_written_per_row_in"] = written / rows_in if rows_in else 0.0
    return m


# ---------------------------------------------------------------------------
# One run
# ---------------------------------------------------------------------------


E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_s": "1/s",
    "pass_cpu_s": "s",
    "setup_cpu_s": "s",
    "failed_ops_ratio": "ratio",
    "peak_rss_mb": "MB",
    "pipeline_full_s": "s",
    "pipeline_incremental_s": "s",
}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def _inputs(wl: dict, seed: int, run_dir: Path):
    from perfbench import datagen

    if wl["kind"] == "queries":
        data_dir = DATA / wl["data"]
        # registration-time oracle replays (ivf_ann_topk) read this dir
        os.environ["SPARK_GRAFT_ORACLE_DIR"] = str(data_dir)
        return data_dir, None
    src = run_dir / "csv"
    dates = datagen.favorita_csvs(
        src, seed, n_stores=wl["stores"], start=dt.date.fromisoformat(wl["start"]), n_days=wl["days"]
    )
    return src, dates


def run(name: str, seed: int, seconds: float, trace: bool) -> dict:
    """One benchmark run; returns the full record (see module doc)."""
    wl = config()["workloads"][name]
    cores = nproc()
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    # keep every scratch file of the run inside the checkout
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "tmp")
    rss = RssMonitor()
    rss.start()
    spark = None
    known_defect = None
    try:
        inputs, dates = _inputs(wl, seed, run_dir)

        cpu0 = tree_stat(os.getpid())[1]
        t0 = time.perf_counter()
        import bench  # imports the engine (plans registry + session factory)

        load_start = bench._load_indicator()
        from grocery_store_sales_forecasting_etl_pipeline_spark.session import get_spark

        import_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{name}",
            master=f"local[{cores}]",
            warehouse_dir=str(run_dir / "warehouse"),
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0

        if wl["kind"] == "queries":
            workload = QueryWorkload(spark, wl, inputs, seed)
        else:
            workload = MedallionWorkload(spark, inputs, *dates)
        warm = run_pass(spark, workload, ops=workload.warmup_ops(), check=False)
        setup_s = import_s + session_s + warm.wall_s
        setup_cpu_s = tree_stat(os.getpid())[1] - cpu0
        check_pass(workload, warm)

        passes: list[Pass] = []
        while not passes or sum(p.wall_s for p in passes) < seconds:
            passes.append(run_pass(spark, workload))
        # a diagnostic, like the traced pass: untraced runs skip it to
        # keep a run within its time budget
        if trace and wl["kind"] == "pipeline":
            known_defect = workload.probe_defect()

        layers = None
        traced = None
        if trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark)
            tracer.install()
            try:
                traced = run_pass(spark, workload, tracer)
            finally:
                tracer.uninstall()
            stages = tracer.attribute_jobs()
            layers = layer_metrics(tracer, stages, traced, cores)
            unattributed = sum(s.self_s for s in tracer.spans if s.name == "op")
            attributed = sum(s.self_s for s in tracer.spans if s.name != "op")
            layers["session.start_s"] = session_s
            layers["trace.wall_s"] = traced.wall_s
            layers["trace.overhead_s"] = traced.wall_s - _median([p.wall_s for p in passes])
            layers["trace.unattributed_pct"] = 100.0 * unattributed / traced.wall_s
            # self times of every layer plus the unattributed remainder
            # must add up to the pass wall measured around the spans
            layers["trace.sum_error_pct"] = (
                100.0 * (attributed + unattributed - traced.wall_s) / traced.wall_s
            )
        load_end = bench._load_indicator()
        peak_rss_mb = rss.stop()
    finally:
        if spark is not None:
            _stop_spark(spark)
        if rss.is_alive():
            rss.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    all_passes = [warm, *passes] + ([traced] if traced else [])
    samples = [s for p in passes for s in p.samples]
    walls = [p.wall_s for p in passes]
    failures = [f for p in all_passes for f in p.failures]
    attempted = sum(p.attempted for p in all_passes)
    by_op: dict[str, list[float]] = {}
    for p in passes:
        for op, s in zip(workload.ops(), p.samples):
            by_op.setdefault(op, []).append(s)
    e2e = {
        "setup_s": setup_s,
        "wall_s": _median(walls),
        "op_p50_s": _median(samples),
        "ops_per_s": len(samples) / sum(walls),
        "pass_cpu_s": _median([p.cpu_s for p in passes]),
        "setup_cpu_s": setup_cpu_s,
        "failed_ops_ratio": len(failures) / attempted,
        "peak_rss_mb": peak_rss_mb,
    }
    tail = tail_percentile(samples)
    if tail is not None:
        e2e["op_tail_s"] = tail["value_s"]
    if wl["kind"] == "pipeline":
        e2e["pipeline_full_s"] = _median(by_op["full"])
        e2e["pipeline_incremental_s"] = _median(
            [s for op, xs in by_op.items() if op != "full" for s in xs]
        )
    return {
        "workload": name,
        "seed": seed,
        "trace": int(trace),
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "failures": failures[:20],
        "known_defect": known_defect,
        "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()},
        "op_tail": tail,
        "per_layer": layers,
        "setup_parts_s": {"import": import_s, "session": session_s, "warmup_pass": warm.wall_s},
        "warmup_op_samples_s": warm.samples,
        "passes": len(passes),
        "pass_walls_s": walls,
        "pass_cpus_s": [p.cpu_s for p in passes],
        "op_samples_s": by_op,
        "load": {
            "nproc": cores,
            "start": load_start,
            "end": load_end,
            "steal_delta_s": round(load_end.get("steal_s", 0.0) - load_start.get("steal_s", 0.0), 1),
            "other_jvms": load_start.get("java_procs"),
        },
    }


def result_line(record: dict, spec: dict) -> dict:
    """The contract object: every metric of the run's mode, with unit."""
    if record["trace"]:
        section, values = "per_layer", record["per_layer"]
    else:
        section = "end_to_end"
        values = {k: v["value"] for k, v in record["end_to_end"].items()}
    return {
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec[section]
        },
    }


# ---------------------------------------------------------------------------
# Tiny-scale self-check
# ---------------------------------------------------------------------------


def selfcheck() -> int:
    """Run each tiny workload traced in its own process; print every named
    metric with its unit; fail on a wrong output, a missing metric, or a
    traced pass whose self times plus remainder miss the pass wall."""
    import subprocess

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ok = True
    for name in config()["selfcheck"]:
        proc = subprocess.run(
            [sys.executable, str(Path(__file__)), "--workload", name, "--seed", "1",
             "--seconds", "1", "--trace", "1"],
            cwd=ROOT, capture_output=True, text=True, timeout=900,
        )
        lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
        if proc.returncode != 0 or len(lines) < 2:
            print(f"{name}: run failed (exit {proc.returncode})\n{proc.stderr[-3000:]}")
            ok = False
            continue
        record = json.loads(lines[-2])
        print(f"== {name}: correct={record['correct']} attempted={record['attempted']} "
              f"failed={record['failed']}")
        for k, v in record["end_to_end"].items():
            print(f"  {k:<48} {v['value']!s:>24} {v['unit']}")
        if record["op_tail"]:
            print(f"  op_tail: {record['op_tail']}")
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        for k, v in record["per_layer"].items():
            print(f"  {k:<48} {v!s:>24} {units.get(k, '')}")
        missing = [
            m["name"]
            for section in ("end_to_end", "per_layer")
            for m in spec[section]
            if m["name"] not in record[section]
        ]
        if missing:
            print(f"  missing metrics: {missing}")
            ok = False
        err = record["per_layer"]["trace.sum_error_pct"]
        if abs(err) > 1.0:
            print(f"  layer self times + unattributed miss the pass wall by {err:.3f}%")
            ok = False
        ok &= record["correct"]
    print("selfcheck:", "ok" if ok else "FAILED")
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args(argv)
    sys.path.insert(0, str(ROOT))
    if args.selfcheck:
        return selfcheck()
    if args.workload not in config()["workloads"]:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(config()['workloads'])}")
    record = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(record, default=str))
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    print(json.dumps(result_line(record, spec)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
