"""The hourly ELT cycle's fixed cost: extract -> snapshot append ->
snapshot read -> incremental stg -> fct overwrite -> dbt-style checks,
over the bitcoin-shaped fixture. Pins the Spark jobs one steady-state
cycle launches, the JVM-local extract batch, and the shared aggregate
of the row-level checks."""

from __future__ import annotations

import datetime as dt
import gc
import itertools
import os
import time
import weakref

import pytest

from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.incremental import (
    incremental_append,
)
from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.models import (
    fct_daily,
    stg_from_raw,
)
from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.runner import (
    Model,
    PipelineRunner,
)
from data_pipeline_spark_iceberg_dbt_airflow_spark.quality import (
    accepted_values,
    expression,
    not_null,
    run_checks,
)
from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
    snapshot_append,
    snapshot_overwrite,
    snapshot_read,
)
from data_pipeline_spark_iceberg_dbt_airflow_spark.sources import (
    BITCOIN_SCHEMA,
    extract_batch,
    standard_sources,
)

from .test_ingest_pipeline import T0, _fetchers

SOURCES = ["coingecko", "coincap", "blockchain_info"]
_group_ids = itertools.count()

#: Jobs of one steady-state cycle: the raw append's write; the stg
#: probe's footer read, watermark aggregate (two jobs under AQE) and
#: append; the fct overwrite (two jobs under AQE); the checks' one
#: shared aggregate (two jobs under AQE).
CYCLE_JOBS = 9


def _jobs(spark, fn):
    """(fn's result, the number of Spark jobs it launched), read from
    the status store after the listener bus has delivered every event."""
    sc = spark.sparkContext
    group = f"count-jobs-{os.getpid()}-{next(_group_ids)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _cycle(spark, root, hour):
    """One hourly cycle; True when every check passed."""
    raw_dir = os.path.join(root, "raw")
    stg_dir = os.path.join(root, "stg")
    fct_dir = os.path.join(root, "fct")
    runner = PipelineRunner()
    runner.add(
        Model(
            "stg",
            lambda raw: incremental_append(
                spark,
                raw,
                stg_dir,
                watermark_col="extracted_at",
                transform=stg_from_raw,
            ),
            refs=("raw",),
        )
    )
    runner.add(Model("fct", fct_daily, refs=("stg",)))
    batch = extract_batch(
        spark,
        standard_sources(_fetchers()),
        now=T0 + dt.timedelta(hours=hour),
    )
    snapshot_append(batch, raw_dir)
    out = runner.run(seeds={"raw": snapshot_read(spark, raw_dir)})
    snapshot_overwrite(out["fct"], fct_dir)
    stg = out["stg"]
    return run_checks(
        [
            not_null(stg, "price_usd"),
            not_null(stg, "extracted_at"),
            accepted_values(stg, "data_source", SOURCES),
        ]
    )


def test_steady_state_cycle_job_count(spark, tmp_path):
    root = str(tmp_path)
    for hour in range(2):  # the first cycle creates the tables
        assert _cycle(spark, root, hour)
    ok, jobs = _jobs(spark, lambda: _cycle(spark, root, 2))
    assert ok
    assert jobs <= CYCLE_JOBS, jobs
    stg = spark.read.parquet(os.path.join(root, "stg"))
    assert stg.count() == 9  # three cycles of three rows, none dropped
    fct = snapshot_read(spark, os.path.join(root, "fct"))
    assert sum(r["records"] for r in fct.collect()) == 9


def test_first_run_probe(spark, tmp_path):
    """A missing target is a first run without any Spark job; a
    filesystem failure of the existence check raises."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.incremental import (
        _target_exists,
    )

    missing = str(tmp_path / "missing")
    assert _jobs(spark, lambda: _target_exists(spark, missing)) == (False, 0)
    with pytest.raises(Exception, match="(?i)filesystem"):
        _target_exists(spark, "nosuchscheme://host/target")


# --- extract batch ----------------------------------------------------------


def _list_batch(spark, fetchers, now):
    """The batch as a Python row list lifted through BITCOIN_SCHEMA:
    the rendering the Arrow batch replaced, kept as its reference."""
    rows = []
    for s in standard_sources(fetchers):
        rec = s.parse(s.fetch())
        rec["extracted_at"] = now
        rows.append(tuple(rec.get(f.name) for f in BITCOIN_SCHEMA.fields))
    return spark.createDataFrame(rows, BITCOIN_SCHEMA)


@pytest.fixture()
def local_tz():
    """Run under a local zone that is not UTC (naive times then differ
    from UTC ones), restoring the process zone afterwards."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/Sao_Paulo"
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


@pytest.mark.parametrize(
    "now",
    [
        T0,  # naive: local wall time
        T0.replace(microsecond=123456, tzinfo=dt.timezone(dt.timedelta(hours=5))),
    ],
    ids=["naive", "aware"],
)
def test_arrow_batch_matches_row_list(spark, local_tz, now):
    fetchers = _fetchers()
    batch = extract_batch(spark, standard_sources(fetchers), now=now)
    plan = batch._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert batch.schema == BITCOIN_SCHEMA
    want = _list_batch(spark, fetchers, now)
    assert sorted(batch.collect()) == sorted(want.collect())
    # the same instants in the JVM, not only after the round trip
    ts = "CAST(extracted_at AS BIGINT) AS s"
    assert batch.selectExpr(ts).collect() == want.selectExpr(ts).collect()
    chain = [r for r in batch.collect() if r.source == "blockchain_info"]
    assert chain and chain[0].market_cap_usd is None
    assert chain[0].volume_24h_usd is None
    assert chain[0].change_24h_pct is None


def test_arrow_batch_runs_no_python_worker(spark, tmp_path):
    batch = extract_batch(spark, standard_sources(_fetchers()), now=T0)
    batch.write.parquet(str(tmp_path / "raw"))
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "Python" not in plan


# --- fused row-level checks -------------------------------------------------


def _frame(spark, rows=(("a", 1), ("a", 2), (None, 3), ("zzz", 3))):
    return spark.createDataFrame(list(rows), "data_source string, k int")


def test_row_level_checks_on_one_frame_share_one_aggregate(spark):
    df = _frame(spark)
    results = [
        not_null(df, "data_source"),
        accepted_values(df, "data_source", ["a"]),
        expression(df, "k >= 2"),
    ]
    _, fused = _jobs(spark, lambda: [r.passed for r in results])
    # one check alone on an equal frame: the job count of ONE aggregate
    single = not_null(_frame(spark), "data_source")
    _, one = _jobs(spark, lambda: single.passed)
    assert fused == one > 0
    assert [(r.passed, r.failing_rows) for r in results] == [
        (False, 1),
        (False, 1),
        (False, 1),
    ]
    # every result already counted: reading again runs nothing
    _, again = _jobs(spark, lambda: [str(r) for r in results])
    assert again == 0


def test_fused_counts_equal_separate_counts(spark):
    from pyspark.sql import functions as F

    df = _frame(spark, [("a", 1), (None, None), ("b", 5), (None, 2)])
    got = [
        not_null(df, "data_source"),
        not_null(df, "k"),
        accepted_values(df, "data_source", ["a", None]),
        expression(df, "k > 1"),
        expression(df, "data_source = 'a'"),
    ]
    want = [
        df.where(F.col("data_source").isNull()).count(),
        df.where(F.col("k").isNull()).count(),
        df.where(F.col("data_source").isNotNull())
        .where(~F.col("data_source").isin("a", None))
        .count(),
        df.where(~F.coalesce(F.expr("k > 1"), F.lit(False))).count(),
        df.where(~F.coalesce(F.expr("data_source = 'a'"), F.lit(False))).count(),
    ]
    # 'b' against ['a', NULL] is NULL, not a failure, both ways
    assert [r.failing_rows for r in got] == want == [2, 1, 0, 2, 3]
    assert [r.passed for r in got] == [n == 0 for n in want]
    assert str(got[0]) == "not_null(data_source): FAIL (2)"
    assert got[0] == not_null(df, "data_source")
    assert hash(got[0]) == hash(not_null(df, "data_source"))
    assert repr(got[1]) == (
        "CheckResult(check='not_null', column='k', passed=False, "
        "failing_rows=1)"
    )


def test_checks_on_different_frames_stay_independent(spark):
    a, b = _frame(spark), _frame(spark, [("a", 1)])
    ra = not_null(a, "data_source")
    rb = not_null(b, "data_source")
    ra2 = expression(a, "k > 0")
    _, jobs_b = _jobs(spark, lambda: rb.passed)
    _, one = _jobs(spark, lambda: not_null(_frame(spark), "k").passed)
    assert jobs_b == one  # b's aggregate does not count a's checks
    assert rb.passed and rb.failing_rows == 0
    assert (ra.failing_rows, ra2.failing_rows) == (1, 0)


def test_check_after_evaluation_starts_a_new_batch(spark):
    df = _frame(spark)
    first = not_null(df, "data_source")
    assert first.failing_rows == 1
    later = accepted_values(df, "data_source", ["a"])
    _, jobs = _jobs(spark, lambda: later.failing_rows)
    assert jobs > 0 and later.failing_rows == 1
    assert first.failing_rows == 1  # not recounted


def test_bad_check_input_raises_at_the_call(spark):
    from pyspark.errors import AnalysisException

    df = _frame(spark)
    with pytest.raises(AnalysisException):
        not_null(df, "no_such_column")
    with pytest.raises(AnalysisException):
        accepted_values(df, "no_such_column", ["a"])
    with pytest.raises(AnalysisException):
        expression(df, "k +")
    with pytest.raises(AnalysisException):
        expression(df, "k + 1")  # not a predicate
    # the rejected checks left nothing behind: a good one still counts
    assert not_null(df, "k").passed


def test_pending_checks_do_not_keep_frames_alive(spark):
    df = _frame(spark)
    ref = weakref.ref(df)
    result = not_null(df, "data_source")
    del df
    gc.collect()
    assert ref() is not None  # the pending result still needs its frame
    assert result.failing_rows == 1
    gc.collect()
    assert ref() is None  # counted: the frame is released

    df = _frame(spark)
    ref = weakref.ref(df)
    not_null(df, "data_source")  # dropped unread: never counted
    del df
    gc.collect()
    assert ref() is None


def test_concurrent_checks_on_one_frame(spark):
    """Threads creating and reading checks on one frame at once: every
    result carries its own predicate's count."""
    from concurrent.futures import ThreadPoolExecutor

    df = _frame(spark)
    checks = [
        (lambda: not_null(df, "data_source"), 1),
        (lambda: accepted_values(df, "data_source", ["a"]), 1),
        (lambda: expression(df, "k >= 2"), 1),
        (lambda: expression(df, "k >= 1"), 0),
    ] * 4

    def run(i):
        make, want = checks[i]
        return make().failing_rows == want

    with ThreadPoolExecutor(max_workers=8) as pool:
        futures = [pool.submit(run, i) for i in range(len(checks))]
        assert all(f.result(timeout=120) for f in futures)
