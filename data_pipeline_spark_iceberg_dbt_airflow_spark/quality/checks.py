"""Data-quality checks -- the dbt-test stage as DataFrame assertions.

The reference runs ``dbt test`` as a first-class DAG stage gating every
hourly pipeline run (/root/reference/Iceberg-dbt-project/dags/
bitcoin_pipeline_dag.py:38-41), but ships no schema.yml, so its declared
suite is empty (SURVEY.md §5 caveat). This module implements the four
canonical dbt checks its models imply -- not_null, unique,
accepted_values, relationships -- natively over DataFrames.

Each check compiles to a failing-row count -- the same single-pass shape
dbt's generated test SQL has, and the only shape that scales: a check
never collects rows, only a count (a debugging variant could
limit-sample the failures).

The row-level checks (``not_null``, ``accepted_values``, ``expression``)
on one DataFrame object share ONE aggregate: each call analyses its
predicate at once (a bad column or expression raises there) and
returns a pending result; the first read of any pending result's
``passed``, ``failing_rows`` or ``str()`` runs a single
``agg(count_if(p1), count_if(p2), ...)`` over that frame for every check
pending on it. A check made once that aggregate has started opens a new
batch. The pending registry holds its batches weakly: a frame stays
alive only while a pending result on it does. ``unique`` and
``relationships`` need their own grouping or join, so they run at the
call.
"""

from __future__ import annotations

import threading
import weakref
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class _Batch:
    """Row-level checks pending on one DataFrame, counted together."""

    def __init__(self, df: DataFrame) -> None:
        self.df: DataFrame | None = df
        self.preds: list[Column] = []
        self.counts: list[int] | None = None
        self.lock = threading.Lock()

    def count(self, slot: int) -> int:
        with self.lock:
            if self.counts is None:
                with _LOCK:  # closed: later checks start a new batch
                    if _PENDING.get(id(self.df)) is self:
                        del _PENDING[id(self.df)]
                row = self.df.agg(*(F.count_if(p) for p in self.preds)).first()
                self.counts = [int(n) for n in row]
                self.df = self.preds = None
        return self.counts[slot]


#: id(frame) -> its open batch. Weak values: a batch lives only while a
#: pending CheckResult holds it, and the batch's frame with it, so the
#: id cannot be reused by another frame while its entry is present.
_PENDING: weakref.WeakValueDictionary[int, _Batch] = (
    weakref.WeakValueDictionary()
)
_LOCK = threading.Lock()


class CheckResult:
    """One check's outcome: ``check(column): PASS`` or ``FAIL (n)``."""

    __slots__ = ("check", "column", "_outcome", "_pending")

    def __init__(
        self, check: str, column: str, passed: bool, failing_rows: int
    ) -> None:
        self.check = check
        self.column = column
        self._outcome = (passed, failing_rows)
        self._pending: tuple[_Batch, int] | None = None

    @classmethod
    def _deferred(cls, check: str, column: str, df: DataFrame, pred: Column):
        """A result counted with every other check pending on ``df``."""
        df.select(F.count_if(pred))  # analysis only: bad input raises here
        with _LOCK:
            batch = _PENDING.get(id(df))
            if batch is None:
                batch = _PENDING[id(df)] = _Batch(df)
            batch.preds.append(pred)
            slot = len(batch.preds) - 1
        res = cls(check, column, False, 0)
        res._outcome, res._pending = None, (batch, slot)
        return res

    def _resolve(self) -> tuple[bool, int]:
        if self._outcome is None:
            n = self._pending[0].count(self._pending[1])
            self._outcome, self._pending = (n == 0, n), None
        return self._outcome

    @property
    def passed(self) -> bool:
        return self._resolve()[0]

    @property
    def failing_rows(self) -> int:
        return self._resolve()[1]

    def _key(self) -> tuple:
        return (self.check, self.column, *self._resolve())

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, CheckResult):
            return NotImplemented
        return self._key() == other._key()

    def __hash__(self) -> int:
        return hash(self._key())

    def __repr__(self) -> str:
        return (
            f"CheckResult(check={self.check!r}, column={self.column!r}, "
            f"passed={self.passed!r}, failing_rows={self.failing_rows!r})"
        )

    def __str__(self) -> str:  # dbt-style one-liner
        status = "PASS" if self.passed else f"FAIL ({self.failing_rows})"
        return f"{self.check}({self.column}): {status}"


def not_null(df: DataFrame, column: str) -> CheckResult:
    """dbt ``not_null``: no NULLs in ``column``."""
    return CheckResult._deferred(
        "not_null", column, df, F.col(column).isNull()
    )


def unique(df: DataFrame, column: str) -> CheckResult:
    """dbt ``unique``: no value occurs twice (NULLs ignored, as dbt does).

    Counted as sum of (occurrences - 1) over duplicated values: one
    map-side-combinable groupBy on the column, no full-row shuffle.
    """
    dup = (
        df.where(F.col(column).isNotNull())
        .groupBy(column)
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .agg(F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).alias("extra"))
        .collect()[0]["extra"]
    )
    return CheckResult("unique", column, dup == 0, int(dup))


def accepted_values(
    df: DataFrame, column: str, values: Sequence[str]
) -> CheckResult:
    """dbt ``accepted_values``: every non-NULL value is in ``values``.

    The canonical instance here: data_source in {coingecko, coincap,
    blockchain_info} (extract_bitcoin_prices.py:56,81,104).
    """
    col = F.col(column)
    return CheckResult._deferred(
        "accepted_values", column, df, col.isNotNull() & ~col.isin(*values)
    )


def relationships(
    df: DataFrame, column: str, ref_df: DataFrame, ref_column: str
) -> CheckResult:
    """dbt ``relationships``: every non-NULL value exists in the parent
    table -- a LEFT ANTI join (probe side never shuffles when the parent
    key set broadcasts)."""
    parent = ref_df.select(F.col(ref_column).alias(column)).distinct()
    n = (
        df.where(F.col(column).isNotNull())
        .select(column)
        .join(parent, column, "left_anti")
        .count()
    )
    return CheckResult("relationships", column, n == 0, n)


def expression(df: DataFrame, expr: str) -> CheckResult:
    """dbt-utils ``expression_is_true``: every row satisfies a SQL
    predicate (e.g. ``"o_totalprice >= 0"``). NULL predicates count as
    failures -- a constraint a row cannot prove is a constraint it
    fails, matching dbt's generated ``WHERE NOT (expr)`` plus explicit
    NULL handling. Counted in the frame's shared row-level aggregate."""
    return CheckResult._deferred(
        "expression", expr, df, ~F.coalesce(F.expr(expr), F.lit(False))
    )


def run_checks(results: Sequence[CheckResult]) -> bool:
    """dbt-test gate semantics: True iff every check passed (the DAG edge
    that blocks downstream tasks, bitcoin_pipeline_dag.py:44)."""
    return all(r.passed for r in results)
