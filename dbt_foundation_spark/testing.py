"""Data-test framework: a test is a query whose result must be empty.

Reference semantics: models/example/schema.yml:10-21 declares
``unique`` + ``not_null`` on ``id`` of both example models; ``dbt test``
compiles each to a violation-row SELECT and passes iff 0 rows
(README.md:92). The dbt_utils 1.3.1 generic-test family
(packages.yml:4-5) is re-expressed below as DataFrame predicates —
every test returns a *violations DataFrame* so the framework (and the
user) can inspect failures, and ``.isEmpty()`` is the pass check
(cheaper than count() — it stops at the first violating row).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TestFn = Callable[[DataFrame], DataFrame]


# ---------- core generic tests (schema.yml:10-21) ----------


def unique(column: str) -> TestFn:
    """C2: group-count-having — duplicate key values."""

    def run(df: DataFrame) -> DataFrame:
        return (
            df.filter(F.col(column).isNotNull())
            .groupBy(column)
            .count()
            .filter(F.col("count") > 1)
        )

    return run


def not_null(column: str) -> TestFn:
    """C3: null-value rows."""

    def run(df: DataFrame) -> DataFrame:
        return df.filter(F.col(column).isNull())

    return run


def accepted_values(column: str, values: list) -> TestFn:
    def run(df: DataFrame) -> DataFrame:
        return df.filter(~F.col(column).isin(values) | F.col(column).isNull())

    return run


def relationships(column: str, to: DataFrame, field: str) -> TestFn:
    """C1: referential integrity — child keys with no parent (anti-join)."""

    def run(df: DataFrame) -> DataFrame:
        parent = to.select(F.col(field).alias(column)).distinct()
        return (
            df.filter(F.col(column).isNotNull())
            .select(column)
            .join(F.broadcast(parent) if _small(to) else parent, column, "left_anti")
        )

    return run


def _small(df: DataFrame) -> bool:
    # dimension-side heuristic; Catalyst/AQE still decides for big frames
    return True


# ---------- dbt_utils generic-test family (packages.yml:4-5, §2.D C4) ----------


def expression_is_true(expression: str) -> TestFn:
    def run(df: DataFrame) -> DataFrame:
        return df.filter(~F.expr(expression) | F.expr(expression).isNull())

    return run


def not_empty_string(column: str) -> TestFn:
    def run(df: DataFrame) -> DataFrame:
        return df.filter(F.trim(F.col(column)) == "")

    return run


def accepted_range(column: str, min_value=None, max_value=None, inclusive: bool = True) -> TestFn:
    def run(df: DataFrame) -> DataFrame:
        c = F.col(column)
        ok = F.lit(True)
        if min_value is not None:
            ok = ok & (c >= min_value if inclusive else c > min_value)
        if max_value is not None:
            ok = ok & (c <= max_value if inclusive else c < max_value)
        return df.filter(~ok | c.isNull())

    return run


def not_accepted_values(column: str, values: list) -> TestFn:
    def run(df: DataFrame) -> DataFrame:
        return df.filter(F.col(column).isin(values))

    return run


def not_constant(column: str) -> TestFn:
    """Violation row iff the column has a single distinct value."""

    def run(df: DataFrame) -> DataFrame:
        return (
            df.agg(F.countDistinct(column).alias("n_distinct"))
            .filter(F.col("n_distinct") <= 1)
        )

    return run


def at_least_one(column: str) -> TestFn:
    def run(df: DataFrame) -> DataFrame:
        return (
            df.agg(F.count(column).alias("n"))
            .filter(F.col("n") == 0)
        )

    return run


def equal_rowcount(other: DataFrame) -> TestFn:
    def run(df: DataFrame) -> DataFrame:
        a = df.agg(F.count(F.lit(1)).alias("n_a"))
        b = other.agg(F.count(F.lit(1)).alias("n_b"))
        return a.crossJoin(b).filter(F.col("n_a") != F.col("n_b"))

    return run


def fewer_rows_than(other: DataFrame) -> TestFn:
    def run(df: DataFrame) -> DataFrame:
        a = df.agg(F.count(F.lit(1)).alias("n_a"))
        b = other.agg(F.count(F.lit(1)).alias("n_b"))
        return a.crossJoin(b).filter(F.col("n_a") >= F.col("n_b"))

    return run


def cardinality_equality(column: str, other: DataFrame, field: str) -> TestFn:
    """Same multiset of values in both columns (dbt_utils semantics)."""

    def run(df: DataFrame) -> DataFrame:
        a = df.groupBy(F.col(column).alias("v")).count()
        b = other.groupBy(F.col(field).alias("v")).count()
        return a.exceptAll(b).unionAll(b.exceptAll(a))

    return run


def not_null_proportion(column: str, at_least: float) -> TestFn:
    def run(df: DataFrame) -> DataFrame:
        return (
            df.agg(
                F.avg(F.when(F.col(column).isNotNull(), 1.0).otherwise(0.0)).alias(
                    "proportion"
                )
            )
            .filter(F.col("proportion") < at_least)
        )

    return run


def recency(column: str, interval_days: int, anchor=None) -> TestFn:
    """Most recent value must be within N days of the anchor (default now)."""

    def run(df: DataFrame) -> DataFrame:
        anchor_col = F.lit(anchor).cast("timestamp") if anchor else F.current_timestamp()
        return (
            df.agg(F.max(F.col(column)).alias("latest"))
            .filter(F.col("latest") < F.date_sub(anchor_col.cast("date"), interval_days))
        )

    return run


def unique_combination_of_columns(*columns: str) -> TestFn:
    def run(df: DataFrame) -> DataFrame:
        return df.groupBy(*columns).count().filter(F.col("count") > 1)

    return run


def sequential_values(column: str, interval: int = 1, group_by: tuple[str, ...] = ()) -> TestFn:
    """Lag-window diff — every step must equal ``interval``."""

    def run(df: DataFrame) -> DataFrame:
        w = Window.partitionBy(*group_by).orderBy(column) if group_by else Window.orderBy(column)
        stepped = df.withColumn("_prev", F.lag(column).over(w))
        return stepped.filter(
            F.col("_prev").isNotNull() & (F.col(column) != F.col("_prev") + interval)
        )

    return run


def mutually_exclusive_ranges(lower: str, upper: str, partition_by: tuple[str, ...] = ()) -> TestFn:
    """No overlapping [lower, upper) ranges — self-overlap via lead()."""

    def run(df: DataFrame) -> DataFrame:
        w = (
            Window.partitionBy(*partition_by).orderBy(lower, upper)
            if partition_by
            else Window.orderBy(lower, upper)
        )
        nxt = df.withColumn("_next_lower", F.lead(lower).over(w))
        return nxt.filter(
            F.col("_next_lower").isNotNull() & (F.col(upper) > F.col("_next_lower"))
        )

    return run


def equality(other: DataFrame, columns: list[str] | None = None) -> TestFn:
    """Symmetric multiset difference must be empty (dbt_utils.equality)."""

    def run(df: DataFrame) -> DataFrame:
        a = df.select(*columns) if columns else df
        b = other.select(*columns) if columns else other
        return a.exceptAll(b).unionAll(b.exceptAll(a))

    return run


# ---------- runner ----------


@dataclass
class TestResult:
    model: str
    test: str
    status: str  # pass | fail | error
    failures: int = 0
    message: str = ""


_CORE_TESTS = {"unique": unique, "not_null": not_null}


def declared_tests(node) -> list[tuple[str, TestFn]]:
    """A model's column-declared tests (``columns={col: {"tests": [...]}}``)
    as ``(label, test)`` pairs, labelled ``name(col)``.

    Only the argument-free core tests can be declared on a column; any
    other entry raises ``ValueError`` naming the model, the column and
    the test. A parameterized test (``accepted_values``, ...) needs its
    arguments, so it runs as a :class:`TestSpec` through
    :func:`run_configured_tests`."""
    out: list[tuple[str, TestFn]] = []
    for col, meta in node.columns.items():
        for t in meta.get("tests") or ():
            fn = _CORE_TESTS.get(t) if isinstance(t, str) else None
            if fn is None:
                raise ValueError(
                    f"model {node.name}, column {col}: declared test {t!r} is "
                    f"not one of {sorted(_CORE_TESTS)}; declare a parameterized "
                    "test as a TestSpec and run it with run_configured_tests"
                )
            out.append((f"{t}({col})", fn(col)))
    return out


def evaluate(
    project, model: str, label: str, fn: TestFn, limit: int | None = None
) -> tuple[TestResult, DataFrame | None]:
    """Run one test: ``fn``'s violations over ``model``'s frame, counted.

    ``model`` is a node key, or ``source:<source_name>.<table>`` for
    dbt tests on SOURCES (schema.yml under sources:), which resolves
    through the registry instead of the model DAG. ``isEmpty()`` stops
    at the first violating row, so a passing test never pays
    ``count()``. Returns the result (``pass``/``fail`` with the
    violation count, or ``error`` with the message of whatever raised)
    and the violations frame (None on error)."""
    try:
        if model.startswith("source:"):
            src, tbl = model[len("source:"):].split(".", 1)
            df = project.sources.load(project.spark, src, tbl)
        else:
            df = project._node_frame(model)
        violations = fn(df)
        if limit is not None:
            violations = violations.limit(limit)
        n = 0 if violations.isEmpty() else violations.count()
    except Exception as e:  # noqa: BLE001 — reported per test like dbt
        return TestResult(model, label, "error", message=str(e)), None
    return TestResult(model, label, "fail" if n else "pass", n), violations


def run_tests(
    project,
    tests: dict[str, dict[str, list[TestFn]]] | None = None,
) -> list[TestResult]:
    """Execute declared column tests against materialized relations.

    ``tests``: {model_name: {test_label: [TestFn, ...]}}; when None, uses
    every model's :func:`declared_tests`.
    """
    project._bind_refs()  # a model not built in this process compiles here
    if tests:
        plan = [
            (model, label, fn)
            for model, by_label in tests.items()
            for label, fns in by_label.items()
            for fn in fns
        ]
    else:
        plan = [
            (node.name, label, fn)
            for node in project.manifest.models()
            for label, fn in declared_tests(node)
        ]
    return [evaluate(project, model, label, fn)[0] for model, label, fn in plan]


# ---------- configured runs: severity / thresholds / store_failures ----------


_CMP_RE = re.compile(r"^\s*(!=|>=|<=|>|<|=)\s*(\d+)\s*$")


def _threshold_met(condition: str, failures: int) -> bool:
    """dbt threshold strings: '!=0' (default), '>10', '>=5', ..."""
    m = _CMP_RE.match(condition)
    if not m:
        raise ValueError(f"unsupported threshold expression: {condition!r}")
    op, rhs = m.group(1), int(m.group(2))
    return {
        "!=": failures != rhs,
        ">=": failures >= rhs,
        "<=": failures <= rhs,
        ">": failures > rhs,
        "<": failures < rhs,
        "=": failures == rhs,
    }[op]


@dataclass
class TestSpec:
    """One configured test — dbt's test-config block.

    severity='warn' caps the outcome at warn; error_if/warn_if are
    failure-count thresholds (dbt defaults: '!=0'); store_failures
    persists the violation rows to an audit table named
    ``<schema>.test_failures__<model>__<label>`` so failures are
    queryable after the run (dbt's --store-failures)."""

    model: str
    label: str
    fn: TestFn
    severity: str = "error"  # error | warn
    error_if: str = "!=0"
    warn_if: str = "!=0"
    store_failures: bool = False
    limit: int | None = None


def run_configured_tests(project, specs: list[TestSpec]) -> list[TestResult]:
    """Execute TestSpecs with dbt severity semantics: count violations,
    then status = error if (severity=error and error_if met), else warn
    if warn_if met, else pass."""
    project._bind_refs()
    results: list[TestResult] = []
    for s in specs:
        res, violations = evaluate(project, s.model, s.label, s.fn, s.limit)
        if res.status != "error":
            n = res.failures
            try:
                if s.severity == "error" and _threshold_met(s.error_if, n):
                    res.status = "fail"
                elif _threshold_met(s.warn_if, n):
                    res.status = "warn"
                else:
                    res.status = "pass"
                if s.store_failures and n:
                    safe = re.sub(r"\W+", "_", f"{s.model}__{s.label}")
                    rel = f"{project.target.schema}.test_failures__{safe}"
                    project.spark.sql(
                        f"CREATE DATABASE IF NOT EXISTS {project.target.schema}"
                    )
                    violations.write.mode("overwrite").saveAsTable(rel)
            except Exception as e:  # noqa: BLE001
                res = TestResult(s.model, s.label, "error", message=str(e))
        results.append(res)
    return results
