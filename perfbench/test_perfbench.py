"""Checks of the benchmark itself: its output checks catch wrong results,
its ELT inputs are a function of the seed, and BENCHMARK.json names exactly
the metrics the runs report.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import workloads  # noqa: E402

#: cheap oracle-backed registry queries
QUERIES = ("agg_pricing_summary", "ref_fct_daily", "join_broadcast_brand_revenue")


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    from data_pipeline_spark_iceberg_dbt_airflow_spark.session import get_spark_session

    wh = tmp_path_factory.mktemp("warehouse")
    s = get_spark_session(
        "perfbench-test", master="local[2]", driver_memory="1g",
        extra_conf={"spark.sql.warehouse.dir": str(wh)},
    )
    yield s
    s.stop()


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("in") / "sf")
    shutil.copytree(workloads.SF_DIR, d)
    return d


def _specs():
    return {n: s for n, s in workloads.bench_specs().items() if n in QUERIES}


def _perturbed(spec, how: str):
    """``spec`` whose query drops one row or shifts one numeric column."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    def fn(spark, sf_dir):
        df = spec.spark_fn(spark, sf_dir)
        if how == "drop":
            first = df.limit(1)
            return df.exceptAll(first)
        col = next(f.name for f in df.schema.fields
                   if f.dataType.typeName() in ("long", "integer", "double", "decimal"))
        return df.withColumn(col, F.col(col) + 1)

    return replace(spec, spark_fn=fn)


def test_fold_check_catches_perturbed_result(spark, sf_dir):
    specs = _specs()
    recorded: dict = {}
    _, failed = workloads.query_pass(spark, specs, sf_dir, sorted(specs), recorded)
    assert not failed and set(recorded) == set(specs)
    _, failed = workloads.query_pass(spark, specs, sf_dir, sorted(specs), recorded)
    assert not failed, "an unchanged query must reproduce its recorded fold"
    for how in ("drop", "shift"):
        bad = dict(specs, ref_fct_daily=_perturbed(specs["ref_fct_daily"], how))
        _, failed = workloads.query_pass(spark, bad, sf_dir, sorted(bad), recorded)
        assert failed == {"ref_fct_daily"}, how


@pytest.mark.parametrize("how", ["drop", "shift"])
def test_oracle_check_catches_perturbed_recording(spark, sf_dir, how):
    specs = _specs()
    bad = dict(specs, agg_pricing_summary=_perturbed(specs["agg_pricing_summary"], how))
    recorded, schemas = {}, {}
    workloads.query_pass(spark, bad, sf_dir, sorted(bad), recorded, schemas=schemas)
    mismatches = workloads.oracle_mismatches(bad, recorded, schemas, spark, sf_dir)
    assert set(mismatches) == {"agg_pricing_summary"}


def test_oracle_check_passes_true_results(spark, sf_dir):
    specs = _specs()
    recorded, schemas = {}, {}
    workloads.query_pass(spark, specs, sf_dir, sorted(specs), recorded, schemas=schemas)
    assert workloads.oracle_mismatches(specs, recorded, schemas, spark, sf_dir) == {}


def test_elt_verify_catches_wrong_output(spark, tmp_path):
    import numpy as np

    feed = gen.EltFeed(seed=3, cycles=3)
    elt = workloads.Elt(spark, str(tmp_path), feed)
    assert all(elt.run_cycle(c) for c in range(3))
    # no closing bucketed run yet
    assert any("bucketed stg" in p for p in elt.verify(3, np.random.default_rng(0)))
    elt.materialize()
    assert elt.verify(3, np.random.default_rng(0)) == []
    assert all(workloads._disk(elt.table_dir(m))[1] > 0 for m in workloads.ELT_MODELS)
    # a replayed batch lands in stg twice
    from data_pipeline_spark_iceberg_dbt_airflow_spark.plans import stg_from_raw
    from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import snapshot_read

    stg_from_raw(snapshot_read(spark, elt.raw, version=0)).write.mode("append").parquet(elt.stg)
    assert any("stg has" in p for p in elt.verify(3, np.random.default_rng(0)))


def test_elt_inputs_are_a_function_of_the_seed():
    feeds = [gen.EltFeed(s, 50) for s in (5, 5)]
    assert list(feeds[0].fails) == list(feeds[1].fails) and 0 < feeds[0].fails.sum() < 50
    assert feeds[0].fetchers(0)["coingecko"]() == feeds[1].fetchers(0)["coingecko"]()
    assert gen.ELT_START.tzinfo is dt.timezone.utc


def test_benchmark_json_names_every_reported_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == workloads.END_TO_END
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert layers == workloads.per_layer(sorted(workloads.bench_specs()))


def test_one_slow_unit_does_not_move_the_medians():
    def unit(scale: float) -> workloads.Unit:
        op_s = [scale * (1 + c / 10) for c in range(7)]
        return workloads.Unit(sum(op_s), 2 * sum(op_s), 0.0, 0.0, op_s, 7, 0)

    def metrics(units):
        ctx = workloads.Ctx(None, 0, "", 0, 15.0, False, 1.0)
        return {k: v for k, (v, _) in workloads._end_to_end(ctx, units).metrics.items()}

    steady = metrics([unit(1.0)] * 3)
    assert metrics([unit(2.0), unit(1.0), unit(1.0)]) == steady
    assert steady["cycle_p50_s"] == 1.3 and steady["wall_s"] == sum(unit(1.0).op_s)
