"""The benchmark's workloads.

Each workload is a closed loop with one client thread: the next
operation starts when the previous one returns. A workload function gets
a :class:`Ctx` and returns a :class:`Outcome` with its end-to-end numbers
(untraced runs) or its per-layer numbers (traced runs).

``queries_sf001``
    The registry's ``bench=True`` queries over a copy of the shared sf0.01
    test tables (``data/sf0.01``), each forced through an all-column
    xxhash64 fold. One operation is one query; one unit is one pass over
    all of them, in a seeded order.

``elt_hourly``
    The reference pipeline, hour by hour, from empty tables: extract
    from three fake sources (one failing on a seeded schedule) ->
    ``snapshot_append`` raw -> ``dbt run`` through ``PipelineRunner``
    (``stg`` by ``incremental_append`` of ``stg_from_raw``, ``fct`` by
    ``fct_daily``) -> ``snapshot_overwrite`` fct -> ``not_null`` /
    ``accepted_values`` checks. One operation is one cycle; one unit is
    one sequence of ``ELT_CYCLES`` cycles, closed by a ``dbt run`` that
    writes every model as a bucketed table. An untraced run measures at
    least ``ELT_SEQUENCES`` sequences, each from empty tables, so its
    ``wall_s`` is a median; the traced run measures one sequence of
    ``ELT_TRACE_CYCLES`` cycles, long enough to cross a snapshot
    checkpoint.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import gc
import os
import shutil
import statistics
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import gen
import procfs
from observe import Spans, Tracer, busy_seconds

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
ELT_CYCLES = 7
ELT_SEQUENCES = 3  # at least; one sequence's wall time absorbs a steal burst whole
ELT_TRACE_CYCLES = 21  # raw and fct reach v20, the first CHECKPOINT_EVERY fold
ELT_WARMUP_CYCLES = 4  # fewer leaves cycles still speeding up in the timed sequences
ELT_MODELS = ("stg_bitcoin_prices", "fct_bitcoin_daily")
ELT_BUCKET_KEY, ELT_BUCKETS = "data_source", 4

#: name -> unit. Every untraced run reports all of these.
END_TO_END = {
    "setup_s": "s", "wall_s": "s", "cpu_s": "s", "cycle_p50_s": "s", "cycle_p75_s": "s",
}


def per_layer(query_names: list[str]) -> dict[str, str]:
    """name -> unit. Every traced run reports all of these; a layer the
    workload never calls reads 0."""
    return {
        "queries.build_s": "s", "queries.build_jobs": "count",
        **{f"queries.{q}.{m}": "s" for q in query_names for m in ("wall_s", "build_s")},
        "catalyst.plan_ms": "ms", "catalyst.queries": "count",
        "exec.jobs": "count", "exec.tasks": "count", "exec.jobs_per_cycle": "count",
        "exec.action_s": "s", "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
        "operators.pyworker_cpu_s": "s",
        "shuffle.write_bytes": "B", "shuffle.read_bytes": "B", "shuffle.spill_bytes": "B",
        "io.input_bytes": "B", "io.input_records": "count",
        **{f"plans.runner.{m}.{k}": u for m in ELT_MODELS
           for k, u in (("wall_s", "s"), ("jobs", "count"))},
        "layout.write_s": "s", "layout.table_bytes": "B", "layout.files": "count",
        "sources.extract_s": "s", "snapshots.commit_s": "s", "snapshots.read_s": "s",
        "snapshots.live_dirs": "count", "snapshots.manifest_files": "count",
        "plans.incremental.append_s": "s", "plans.incremental.target_files": "count",
        "quality.checks_s": "s", "elt.late_over_early": "ratio",
        "heap_live_mb": "MiB", "peak_rss_mb": "MiB",
        "trace.wall_s": "s", "trace.overhead_s": "s", "failed_ratio": "ratio",
    }


@dataclass
class Ctx:
    spark: SparkSession
    jvm_pid: int
    tmp: str
    seed: int
    seconds: float
    trace: bool
    setup_s: float  # session start, added to by the workload's own set-up
    info: dict = field(default_factory=dict)


@dataclass
class Outcome:
    metrics: dict[str, tuple[float, str]]
    attempted: int
    failed: int


@dataclass
class Unit:
    """One measured unit (a query pass, an ELT cycle sequence)."""

    wall_s: float
    cpu_s: float
    pyworker_cpu_s: float
    steal_s: float  # CPU time the host took from this machine meanwhile
    op_s: list[float]
    attempted: int
    failed: int


def log(msg: str) -> None:
    """Progress line on stderr (stdout carries only the result)."""
    print(f"# perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def heap_live_mb(spark: SparkSession) -> float:
    """JVM heap in use after full collections: what the session still
    holds (cached tables, broadcast blocks, status and planner state).
    Python collects first, so py4j releases the JVM objects its garbage
    referenced. Spark's ContextCleaner drops blocks of unreachable RDDs
    only after a collection has found them, so a second JVM collection
    follows a pause."""
    gc.collect()
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    time.sleep(0.5)
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def _measure(ctx: Ctx, body: Callable[[], tuple[list[float], int, int]],
             release: Callable[[], None] = lambda: None) -> Unit:
    """Time ``body``, then ``release`` the caches it filled."""
    c0, s0 = procfs.CpuSample(ctx.jvm_pid), procfs.steal_s()
    t0 = time.perf_counter()
    op_s, attempted, failed = body()
    wall = time.perf_counter() - t0
    cpu, py = procfs.CpuSample(ctx.jvm_pid) - c0
    steal = procfs.steal_s() - s0
    release()
    return Unit(wall, cpu, py, steal, op_s, attempted, failed)


def _units(ctx: Ctx, run_unit: Callable[[], Unit], at_least: int = 1) -> list[Unit]:
    """Whole units until the next would overrun ``ctx.seconds``; at least
    ``at_least``."""
    units: list[Unit] = []
    t0 = time.perf_counter()
    while True:
        units.append(run_unit())
        if (len(units) >= at_least
                and time.perf_counter() - t0 + units[-1].wall_s > ctx.seconds):
            return units


def _end_to_end(ctx: Ctx, units: list[Unit]) -> Outcome:
    """End-to-end metrics: medians over ``units``. The cycle quantiles
    are taken over each unit's operations, then their median over the
    units, so a unit the host slowed down moves them no more than it
    moves ``wall_s``."""
    p50, p75 = np.median([np.percentile(u.op_s, [50, 75]) for u in units], axis=0)
    metrics = {
        "setup_s": (ctx.setup_s, "s"),
        "wall_s": (statistics.median(u.wall_s for u in units), "s"),
        "cpu_s": (statistics.median(u.cpu_s for u in units), "s"),
        "cycle_p50_s": (float(p50), "s"),
        "cycle_p75_s": (float(p75), "s"),
    }
    ctx.info["units"] = len(units)
    ctx.info["ops_per_unit"] = len(units[0].op_s)
    ctx.info["steal_s"] = [u.steal_s for u in units]
    return Outcome(
        metrics,
        sum(u.attempted for u in units),
        sum(u.failed for u in units),
    )


def _exec_layers(tr: Tracer, jobs: list[dict], pyworker_cpu_s: float,
                 ops: int) -> dict[str, tuple[float, str]]:
    """Layer metrics every workload reports from its traced operations."""
    st = tr.stage_totals(jobs)
    return {
        "catalyst.plan_ms": (float(tr.listener.plan_ms), "ms"),
        "catalyst.queries": (float(tr.listener.queries), "count"),
        "exec.jobs": (float(len(jobs)), "count"),
        "exec.tasks": (float(sum(j["tasks"] for j in jobs)), "count"),
        "exec.jobs_per_cycle": (len(jobs) / ops, "count"),
        "exec.action_s": (busy_seconds(jobs), "s"),
        "exec.run_s": (st["run_s"], "s"),
        "exec.cpu_s": (st["cpu_s"], "s"),
        "exec.gc_s": (st["gc_s"], "s"),
        "operators.pyworker_cpu_s": (pyworker_cpu_s, "s"),
        "shuffle.write_bytes": (st["shuffle_write_bytes"], "B"),
        "shuffle.read_bytes": (st["shuffle_read_bytes"], "B"),
        "shuffle.spill_bytes": (st["spill_bytes"], "B"),
        "io.input_bytes": (st["input_bytes"], "B"),
        "io.input_records": (st["input_records"], "count"),
    }


def _trace_summary(ctx: Ctx, metrics: dict, units: list[Unit], traced: Unit,
                   overhead_s: float) -> Outcome:
    metrics["trace.wall_s"] = (traced.wall_s, "s")
    metrics["heap_live_mb"] = (heap_live_mb(ctx.spark), "MiB")
    metrics["trace.overhead_s"] = (overhead_s, "s")
    metrics["peak_rss_mb"] = (procfs.peak_rss_mb(ctx.jvm_pid), "MiB")
    attempted = sum(u.attempted for u in units)
    failed = sum(u.failed for u in units)
    metrics["failed_ratio"] = (failed / attempted, "ratio")
    return Outcome(metrics, attempted, failed)


# -- queries_sf001 -------------------------------------------------------


def fold(df: DataFrame) -> tuple[int, str]:
    """Row count and an order-insensitive digest of every column.

    Summing xxhash64 over all output columns forces each column to be
    computed (column pruning cannot skip it) while the action returns
    one row, so result transfer stays out of the measurement."""
    h = F.xxhash64(*[F.col(c) for c in df.columns]).alias("h")
    row = df.select(h).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
    ).collect()[0]
    return int(row["n"]), str(row["s"])


def release_caches(spark: SparkSession) -> None:
    """Drop every cache the library keeps across queries.

    ``clearCache`` alone is not enough: the normed-corpus cache in
    ``queries.similarity`` keeps handing out its DataFrame after the
    storage is dropped, unpinned, so later passes would re-scan it."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.dedup import (
        release_shingle_index,
    )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.similarity import (
        release_normed_corpus,
    )

    spark.catalog.clearCache()
    release_shingle_index()
    release_normed_corpus(spark)


def bench_specs() -> dict:
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries import all_queries

    return {n: s for n, s in sorted(all_queries().items()) if s.bench}


def oracle_mismatches(specs: dict, recorded: dict, schemas: dict,
                      spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Queries whose recorded fold disagrees with the DuckDB oracle.

    The oracle's Arrow result is cast to the query's Spark schema and
    folded the same way; equal digests settle it without re-running the
    query. Otherwise ``tests/oracle.py``'s ``compare`` decides, on a
    fresh run of the query."""
    import duckdb
    from tests.oracle import compare, run_oracle

    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import TABLES, table_path

    bad = {}
    with duckdb.connect() as con:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
        for name, spec in specs.items():
            if spec.oracle is None or name not in recorded:
                continue
            try:
                tab = con.sql(spec.oracle).arrow().select(schemas[name].names)
                if fold(spark.createDataFrame(tab, schema=schemas[name])) == recorded[name]:
                    continue
            except Exception:  # noqa: BLE001 - types that do not cast: compare()
                pass
            try:
                expected = run_oracle(spec.oracle, sf_dir)
                if len(expected) != recorded[name][0]:
                    raise AssertionError(
                        f"recorded {recorded[name][0]} rows, oracle {len(expected)}"
                    )
                compare(spec.spark_fn(spark, sf_dir), expected)
            except Exception as ex:  # noqa: BLE001 - any failure is a mismatch
                bad[name] = str(ex)[:300]
    return bad


def query_pass(spark: SparkSession, specs: dict, sf_dir: str, order: list[str],
               recorded: dict, tr: Tracer | None = None,
               spans: Spans | None = None,
               schemas: dict | None = None) -> tuple[list[float], set[str]]:
    """Run every query once in ``order``; returns per-query latencies and
    the names that raised or whose fold differs from ``recorded`` (a
    name missing from ``recorded`` has its fold recorded instead, and
    its schema in ``schemas``)."""
    op_s, failed = [], set()
    for name in order:
        t0 = time.perf_counter()
        try:
            with _group(tr, f"b:{name}"):
                df = specs[name].spark_fn(spark, sf_dir)
            t1 = time.perf_counter()
            with _group(tr, f"a:{name}"):
                got = fold(df)
            if schemas is not None:
                schemas[name] = df.schema
            if recorded.setdefault(name, got) != got:
                failed.add(name)
        except Exception:  # noqa: BLE001 - counted, never fatal
            log(f"{name} raised:\n{traceback.format_exc()}")
            t1 = time.perf_counter()
            failed.add(name)
        t2 = time.perf_counter()
        op_s.append(t2 - t0)
        if spans is not None:
            spans.total[f"queries.{name}.build_s"] = t1 - t0
            spans.total[f"queries.{name}.wall_s"] = t2 - t0
    return op_s, failed


def _group(tr: Tracer | None, name: str):
    return tr.group(name) if tr is not None else contextlib.nullcontext()


def queries_sf001(ctx: Ctx) -> Outcome:
    spark, sf_dir = ctx.spark, os.path.join(ctx.tmp, "sf")
    rng = np.random.default_rng([ctx.seed, 10])
    specs = bench_specs()
    recorded: dict[str, tuple[int, str]] = {}
    schemas: dict = {}
    t0 = time.perf_counter()
    shutil.copytree(SF_DIR, sf_dir)
    sizes = {f.removesuffix(".parquet"): pq.ParquetFile(os.path.join(sf_dir, f)).metadata.num_rows
             for f in sorted(os.listdir(sf_dir))}
    _, warm_failed = query_pass(spark, specs, sf_dir, list(rng.permutation(list(specs))),
                                recorded, schemas=schemas)
    release_caches(spark)
    ctx.setup_s += time.perf_counter() - t0
    log(f"set up in {ctx.setup_s:.2f}s")
    ctx.info.update(input_rows=sizes, queries=len(specs))
    unit_failures: list[set[str]] = []

    def run_unit(tr: Tracer | None = None, spans: Spans | None = None) -> Unit:
        order = list(rng.permutation(list(specs)))

        def body() -> tuple[list[float], int, int]:
            op_s, failed = query_pass(spark, specs, sf_dir, order, recorded, tr, spans)
            unit_failures.append(failed)
            return op_s, len(order), len(failed)

        unit = _measure(ctx, body, lambda: release_caches(spark))
        log(f"pass {unit.wall_s:.2f}s " + " ".join(
            f"{n}={s:.2f}" for n, s in zip(order, unit.op_s)))
        return unit

    if ctx.trace:
        spans = Spans()

        # untraced, traced, untraced: passes still speed up a little after
        # the warm-up, so the overhead is measured against both neighbours
        before = run_unit()
        tr = Tracer(ctx.spark)
        try:
            traced = run_unit(tr, spans)
            jobs = tr.jobs()
            m = _exec_layers(tr, jobs, traced.pyworker_cpu_s, len(specs))
        finally:
            tr.pause()
        after = run_unit()
        m["queries.build_s"] = (sum(
            v for k, v in spans.total.items() if k.endswith(".build_s")), "s")
        m["queries.build_jobs"] = (
            float(sum(j["group"].startswith("b:") for j in jobs)), "count")
        m.update({k: (v, "s") for k, v in spans.total.items()})
        out = _trace_summary(ctx, m, [before, traced, after], traced,
                             traced.wall_s - (before.wall_s + after.wall_s) / 2)
    else:
        units = _units(ctx, run_unit)
        out = _end_to_end(ctx, units)
    # checked after the timed units so they run exactly as in a session
    # that never saw the oracle; a query whose recorded result is wrong
    # failed every time it ran
    bad = oracle_mismatches(specs, recorded, schemas, spark, sf_dir)
    log(f"oracle checked, {len(bad)} mismatches")
    bad.update((n, "raised in the warm-up pass") for n in warm_failed)
    ctx.info["oracle_checked"] = sum(s.oracle is not None for s in specs.values())
    ctx.info["oracle_mismatches"] = bad
    out.failed = sum(len(f | set(bad)) for f in unit_failures)
    if "failed_ratio" in out.metrics:
        out.metrics["failed_ratio"] = (out.failed / out.attempted, "ratio")
    return out


# -- elt_hourly -------------------------------------------------------------


class Elt:
    """One ELT table set (raw snapshots, stg incremental target, fct
    snapshots) under ``root``, driven one cycle at a time, plus the
    runner's bucketed model tables ``<prefix>_<model>`` in the warehouse
    that :meth:`materialize` writes."""

    def __init__(self, spark: SparkSession, root: str, feed: gen.EltFeed,
                 prefix: str = "elt") -> None:
        from data_pipeline_spark_iceberg_dbt_airflow_spark.plans import (
            fct_daily,
            stg_from_raw,
        )
        from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.incremental import (
            incremental_append,
        )
        from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.runner import (
            Model,
            PipelineRunner,
        )

        self.spark, self.feed, self.prefix = spark, feed, prefix
        self.raw = os.path.join(root, "raw_bitcoin_prices")
        self.stg = os.path.join(root, "stg_bitcoin_prices")
        self.fct = os.path.join(root, "fct_bitcoin_daily")
        self.tr: Tracer | None = None
        self.spans: Spans | None = None
        self.cycle = 0

        def stg_model(raw: DataFrame) -> DataFrame:
            with self._layer("plans.incremental.append_s"):
                return incremental_append(
                    spark, raw, self.stg,
                    watermark_col="extracted_at", transform=stg_from_raw,
                )

        self.runner = PipelineRunner()
        self.runner.add(Model("stg_bitcoin_prices", self._model("stg_bitcoin_prices", stg_model),
                              refs=("raw_bitcoin_prices",)))
        self.runner.add(Model("fct_bitcoin_daily", self._model("fct_bitcoin_daily", fct_daily),
                              refs=("stg_bitcoin_prices",)))

    def _layer(self, key: str):
        """Job group + wall-clock span around one call into a layer."""
        if self.tr is None:
            return contextlib.nullcontext()
        stack = contextlib.ExitStack()
        stack.enter_context(self.tr.group(f"c{self.cycle}:{key}"))
        stack.enter_context(self.spans.span(key))
        return stack

    def _model(self, name: str, fn: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
        def run(*refs: DataFrame) -> DataFrame:
            with self._layer(f"plans.runner.{name}.wall_s"):
                return fn(*refs)
        return run

    def run_cycle(self, cycle: int) -> bool:
        """One hourly cycle; True when every quality check passed."""
        from data_pipeline_spark_iceberg_dbt_airflow_spark.quality.checks import (
            accepted_values,
            not_null,
            run_checks,
        )
        from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
            snapshot_append,
            snapshot_overwrite,
            snapshot_read,
        )
        from data_pipeline_spark_iceberg_dbt_airflow_spark.sources.ingest import (
            extract_batch,
            standard_sources,
        )

        self.cycle = cycle
        now = gen.ELT_START + dt.timedelta(hours=cycle)
        with self._layer("sources.extract_s"):
            batch = extract_batch(
                self.spark, standard_sources(self.feed.fetchers(cycle)), now=now
            )
        with self._layer("snapshots.commit_s"):
            snapshot_append(batch, self.raw)
        with self._layer("snapshots.read_s"):
            raw = snapshot_read(self.spark, self.raw)
        out = self.runner.run(seeds={"raw_bitcoin_prices": raw})
        with self._layer("snapshots.commit_s"):
            snapshot_overwrite(out["fct_bitcoin_daily"], self.fct)
        with self._layer("quality.checks_s"):
            stg = out["stg_bitcoin_prices"]
            return run_checks([
                not_null(stg, "price_usd"),
                not_null(stg, "extracted_at"),
                accepted_values(stg, "data_source", gen.SOURCES),
            ])

    def materialize(self) -> None:
        """The sequence's closing ``dbt run``: every model rebuilt from
        raw and written as a table bucketed by ``ELT_BUCKET_KEY``
        (``operators.layout`` through the runner's ``bucket_key``). No
        new rows arrive, so the stg append is empty."""
        from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import snapshot_read

        self.runner.run(
            seeds={"raw_bitcoin_prices": snapshot_read(self.spark, self.raw)},
            bucket_key=ELT_BUCKET_KEY, bucket_count=ELT_BUCKETS, table_prefix=self.prefix,
        )

    def table(self, model: str) -> str:
        """The runner's bucketed table of ``model``."""
        return f"{self.prefix}_{model}"

    def table_dir(self, model: str) -> str:
        rows = self.spark.sql(f"DESCRIBE TABLE EXTENDED {self.table(model)}").collect()
        loc = next(r["data_type"] for r in rows if r["col_name"] == "Location")
        return loc.removeprefix("file:")

    def verify(self, cycles: int, rng: np.random.Generator) -> list[str]:
        """End-of-sequence output checks; returns the problems found."""
        from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import snapshot_read

        rows = [self.feed.expected_rows(c) for c in range(cycles)]
        problems = []
        stg_rows = self.spark.read.parquet(self.stg).count()
        if stg_rows != sum(rows):
            problems.append(f"stg has {stg_rows} rows, extracted {sum(rows)}")
        try:
            bucketed = self.spark.table(self.table("stg_bitcoin_prices")).count()
        except Exception as ex:  # noqa: BLE001 - the closing run failed
            bucketed = type(ex).__name__
        if bucketed != sum(rows):
            problems.append(f"bucketed stg has {bucketed} rows, extracted {sum(rows)}")
        fct = snapshot_read(self.spark, self.fct).agg(F.sum("records")).collect()[0][0]
        if fct != sum(rows):
            problems.append(f"fct counts {fct} records, extracted {sum(rows)}")
        for k in sorted({0, int(rng.integers(1, cycles)), cycles - 1}):
            got = snapshot_read(self.spark, self.raw, version=k).agg(
                F.countDistinct("extracted_at").alias("b"), F.count(F.lit(1)).alias("n")
            ).collect()[0]
            if (got["b"], got["n"]) != (k + 1, sum(rows[: k + 1])):
                problems.append(f"raw v{k}: {got['b']} batches / {got['n']} rows")
        return problems


def _disk(path: str) -> tuple[int, int]:
    """(bytes, data files) of every file under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return size, files


def elt_hourly(ctx: Ctx) -> Outcome:
    spark = ctx.spark
    rng = np.random.default_rng([ctx.seed, 20])
    seq_id = iter(range(1_000))
    tr: Tracer | None = None
    spans = Spans()
    traced_cpu: list[float] = []

    def sequence(cycles: int, traced: bool = False) -> tuple[Elt, Unit]:
        """``cycles`` cycles from empty tables and the closing bucketed
        run; with ``traced``, every second cycle is traced and the others
        are its untraced reference, and the closing run is traced."""
        feed = gen.EltFeed(int(rng.integers(2**31)), cycles)
        n = next(seq_id)
        elt = Elt(spark, os.path.join(ctx.tmp, f"elt{n}"), feed, prefix=f"elt{n}")

        def body() -> tuple[list[float], int, int]:
            op_s, failed = [], 0
            for c in range(cycles):
                on = traced and c % 2 == 1
                if on:
                    tr.resume()
                    elt.tr, elt.spans = tr, spans
                    c0 = procfs.CpuSample(ctx.jvm_pid)
                t0 = time.perf_counter()
                try:
                    ok = elt.run_cycle(c)
                except Exception:  # noqa: BLE001 - counted, never fatal
                    log(f"cycle {c} raised:\n{traceback.format_exc()}")
                    ok = False
                if on:
                    tr.pause()  # waits for the cycle's listener events
                op_s.append(time.perf_counter() - t0)
                if on:
                    traced_cpu.append((procfs.CpuSample(ctx.jvm_pid) - c0)[1])
                    elt.tr = elt.spans = None
                failed += not ok
            t0 = time.perf_counter()
            if traced:
                tr.resume()
            with _group(tr if traced else None, "layout"):
                try:
                    elt.materialize()
                except Exception:  # noqa: BLE001 - verify() counts it
                    log(f"closing run raised:\n{traceback.format_exc()}")
            if traced:
                tr.pause()
                spans.total["layout.write_s"] = time.perf_counter() - t0
            return op_s, cycles, failed

        unit = _measure(ctx, body)
        log(f"{cycles} cycles {unit.wall_s:.2f}s " + " ".join(f"{s:.2f}" for s in unit.op_s))
        problems = elt.verify(cycles, rng)
        if problems:
            log(f"elt output wrong: {problems}")
            unit.failed = cycles
        return elt, unit

    t0 = time.perf_counter()
    sequence(ELT_WARMUP_CYCLES)
    ctx.setup_s += time.perf_counter() - t0
    log(f"set up in {ctx.setup_s:.2f}s")
    ctx.info.update(cycles=ELT_TRACE_CYCLES if ctx.trace else ELT_CYCLES,
                    warmup_cycles=ELT_WARMUP_CYCLES, rows_per_cycle=len(gen.SOURCES))

    if not ctx.trace:
        units = _units(ctx, lambda: sequence(ELT_CYCLES)[1], ELT_SEQUENCES)
        return _end_to_end(ctx, units)

    from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import snapshot_versions

    tr = Tracer(spark)
    tr.pause()
    try:
        elt, unit = sequence(ELT_TRACE_CYCLES, traced=True)
        jobs = tr.jobs()
    finally:
        tr.pause()
    on = [c % 2 == 1 for c in range(ELT_TRACE_CYCLES)]
    m = _exec_layers(tr, jobs, sum(traced_cpu), sum(on))
    m["exec.jobs_per_cycle"] = (float(statistics.median(
        sum(j["group"].startswith(f"c{c}:") for j in jobs)
        for c in range(ELT_TRACE_CYCLES) if on[c])), "count")
    for model in ELT_MODELS:
        key = f"plans.runner.{model}"
        m[f"{key}.jobs"] = (float(sum(key in j["group"] for j in jobs)), "count")
    m.update({k: (v, "s") for k, v in spans.total.items()})
    m["elt.late_over_early"] = (
        statistics.median(unit.op_s[-10:]) / statistics.median(unit.op_s[:10]), "ratio")
    versions = snapshot_versions(spark, elt.raw).orderBy("version").collect()
    m["snapshots.live_dirs"] = (float(versions[-1]["n_dirs"]), "count")
    m["snapshots.manifest_files"] = (float(sum(
        len(os.listdir(os.path.join(t, "_snapshots"))) for t in (elt.raw, elt.fct)
    )), "count")
    m["plans.incremental.target_files"] = (float(_disk(elt.stg)[1]), "count")
    size, files = map(sum, zip(*(_disk(elt.table_dir(t)) for t in ELT_MODELS)))
    m["layout.table_bytes"] = (float(size), "B")
    m["layout.files"] = (float(files), "count")
    # per traced cycle, over the untraced neighbours, scaled to the
    # untraced runs' sequence
    per_cycle = (statistics.median(s for s, o in zip(unit.op_s, on) if o)
                 - statistics.median(s for s, o in zip(unit.op_s, on) if not o))
    return _trace_summary(ctx, m, [unit], unit, per_cycle * ELT_CYCLES)


WORKLOADS = {"queries_sf001": queries_sf001, "elt_hourly": elt_hourly}
