"""gated_broadcast (r12 broadcast audit): the size gate keeps the
broadcast hint for small inputs (local plans unchanged), drops it above
the threshold (AQE/planner decide from actual sizes at scale), and the
RESULT is identical either way — a join strategy never changes rows."""

from __future__ import annotations

import inspect
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from grocery_store_sales_forecasting_etl_pipeline_spark import plans
from grocery_store_sales_forecasting_etl_pipeline_spark.operators import sizing
from grocery_store_sales_forecasting_etl_pipeline_spark.plans import REGISTRY, wrapped_build


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _frame(spark, sf_smoke):
    return spark.read.parquet(f"{sf_smoke}/supplier.parquet").select(
        "s_suppkey", "s_nationkey"
    )


def test_small_input_keeps_broadcast_hint(spark, sf_smoke):
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    dim = _frame(spark, sf_smoke)
    joined = li.join(
        sizing.gated_broadcast(dim), li.l_suppkey == dim.s_suppkey
    )
    assert "BroadcastHashJoin" in _plan(joined)


def test_oversize_input_drops_hint(spark, sf_smoke, monkeypatch):
    monkeypatch.setattr(sizing, "_BCAST_INPUT_MAX", 0)
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    dim = _frame(spark, sf_smoke)
    joined = li.join(
        sizing.gated_broadcast(dim), li.l_suppkey == dim.s_suppkey
    )
    # no user hint in the logical plan: the planner/AQE decide
    assert "UnresolvedHint" not in joined._jdf.queryExecution().logical().toString()
    assert "strategy=broadcast" not in joined._jdf.queryExecution().optimizedPlan().toString()
    # demotion decision is recorded for audit
    assert any(
        site.startswith("gated_broadcast@") and shape == "no-hint(AQE)"
        for site, (_, shape) in sizing.LAST_DECISIONS.items()
    )


def test_non_file_frame_defaults_to_broadcast(spark):
    lit = spark.range(5).select(F.col("id").alias("k"))
    big = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    # a Range leaf is sized too (5 longs = 40 B), far under the bound
    joined = big.join(sizing.gated_broadcast(lit), "k")
    # Spark 4 folds the hint into the Join node: rightHint=(strategy=broadcast)
    assert "strategy=broadcast" in joined._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize(
    "query",
    [
        "dim_enrich_join",
        "nation_pair_trade",
        # gated frames behind a localCheckpoint
        "supplier_part_assortativity",
        "supplier_overlap_jaccard",
        "bigram_pmi_topk",
        "tfidf_cosine_pairs",
    ],
)
def test_gate_demotion_preserves_results(spark, sf_smoke, monkeypatch, query):
    build = wrapped_build(query)
    base = {tuple(map(str, r)) for r in build(spark, sf_smoke).collect()}
    monkeypatch.setattr(sizing, "_BCAST_INPUT_MAX", 0)
    demoted = {tuple(map(str, r)) for r in build(spark, sf_smoke).collect()}
    assert base == demoted


def test_checkpointed_frame_is_sized(spark, sf_smoke, monkeypatch):
    """A localCheckpoint'ed frame has no input files (its plan bottoms
    at LogicalRDD), but its plan statistics still carry a size: at
    bound 0 the gate must drop the hint, not keep it at every scale."""
    monkeypatch.setattr(sizing, "_BCAST_INPUT_MAX", 0)
    d = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    ck = d.select("doc_id").localCheckpoint(eager=False)
    big = d.select("doc_id", "source")
    joined = big.join(sizing.gated_broadcast(ck), "doc_id")
    assert "strategy=broadcast" not in joined._jdf.queryExecution().optimizedPlan().toString()


def _gated_queries() -> list[str]:
    """Registered queries whose builder's module calls ``_gbcast(``."""
    return sorted(
        name
        for name, q in REGISTRY.items()
        if "_gbcast(" in Path(inspect.getsourcefile(q.build)).read_text()
    )


def _gbcast_sites() -> set[str]:
    """``file:line`` of every ``_gbcast(`` call in the plans package."""
    return {
        f"{path.name}:{n}"
        for path in Path(plans.__file__).parent.glob("*.py")
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "_gbcast(" in line
    }


def test_every_gated_site_demotes_at_bound_zero(spark, sf_smoke, monkeypatch):
    """Forced-demotion sweep: build every query whose module calls
    ``_gbcast`` with the bound at 0. Every gated_broadcast call must
    drop its hint (a site the gate cannot size keeps the hint at every
    scale), every ``_gbcast(`` line must be reached, and every size seen
    must sit at or below the default bound — so no plan at test or
    bench scale moved. One build pass: 232 queries, 87 calls at 84
    sites, 115 s at sf0.001 on a 4-core box."""
    bound = sizing._BCAST_INPUT_MAX
    monkeypatch.setattr(sizing, "_BCAST_INPUT_MAX", 0)
    sized, demoted = [], []
    real_input_bytes = sizing.input_bytes

    def spy_input_bytes(df):
        sized.append(real_input_bytes(df))
        return sized[-1]

    monkeypatch.setattr(sizing, "input_bytes", spy_input_bytes)
    monkeypatch.setattr(
        sizing, "record_gate", lambda site, size, shape: demoted.append((site, size, shape))
    )
    for name in _gated_queries():
        wrapped_build(name)(spark, sf_smoke)

    assert len(demoted) == len(sized), f"{len(sized) - len(demoted)} calls kept the hint"
    assert {shape for _, _, shape in demoted} == {"no-hint(AQE)"}
    assert {site.split("@", 1)[1] for site, _, _ in demoted} == _gbcast_sites()
    assert max(sized) <= bound
