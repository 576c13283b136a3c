"""Model unit tests — the dbt 1.8 ``unit_tests:`` analog.

The reference pins dbt>=1.8 (requirements.txt:1 ``dbt-snowflake>=1.8``),
whose headline testing feature is unit tests: run ONE model's logic
against mocked ``ref()``/``source()`` fixture rows and compare the
output to expected rows — no warehouse state, no upstream runs, pure
logic verification. This module is that contract for function and
SQL-string models:

- ``given`` maps each input to fixture rows: model names for refs,
  ``"source.table"`` dotted keys for sources. Fixtures are PARTIAL —
  any column the real input has but the fixture omits is NULL-filled
  with the real input's type (dbt's behavior: you only specify the
  columns your logic touches). Mocked inputs the model never reads are
  an error (a stale test), as is a read the test didn't mock (a
  fixture gap) — both fail loudly instead of silently testing against
  production data.
- ``expect`` rows are compared as a complete multiset over exactly the
  columns the expect rows name (extra output columns are ignored,
  dbt-style); values are cast to the model's actual output types
  before comparison so ``{"n": 2}`` matches a bigint 2.

Execution is driver-local Spark on the fixture rows — at 100 TB these
tests cost nothing because they never touch the corpus; that is the
point of the feature.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbt_foundation_spark.project import Context, Project


@dataclass
class UnitTestResult:
    model: str
    name: str
    status: str  # pass | fail | error
    message: str | None = None


def _fixture_df(project: Project, rows: list[dict], template: DataFrame | None):
    """Fixture rows → DataFrame. With a resolvable real input, its schema
    is the template (partial rows NULL-fill); otherwise infer."""
    spark = project.spark
    if template is None:
        return spark.createDataFrame(rows)
    schema = template.schema
    known = {f.name for f in schema.fields}
    for r in rows:
        unknown = set(r) - known
        if unknown:
            raise ValueError(f"fixture column(s) {sorted(unknown)} not in input schema")
    # stringify-then-cast: fixture literals arrive as whatever Python
    # types the author typed (60 for a double column, "2020-01-01" for a
    # timestamp) — routing through strings + CAST applies Spark's own
    # coercion rules instead of createDataFrame's strict verifier, and
    # Python repr round-trips floats exactly
    import pyspark.sql.types as T

    tuples = [
        tuple(None if r.get(f.name) is None else str(r.get(f.name)) for f in schema.fields)
        for r in rows
    ]
    naive = spark.createDataFrame(
        tuples, T.StructType([T.StructField(n, T.StringType()) for n in schema.names])
    )
    return naive.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def run_unit_test(
    project: Project,
    model: str,
    given: dict[str, list[dict]],
    expect: list[dict],
    name: str | None = None,
) -> UnitTestResult:
    """Run one model's logic against mocked inputs; compare to expect."""
    tname = name or f"unit_{model}"
    try:
        project._bind_refs()
        node = project.manifest[model]
        ref_mocks: dict[str, DataFrame] = {}
        src_mocks: dict[tuple[str, str], DataFrame] = {}
        canon: dict[str, str] = {}  # given key -> canonical id, for staleness
        used: set[str] = set()
        for key, rows in given.items():
            if "." in key:
                sname, tbl = key.split(".", 1)
                try:
                    template = project.sources.load(project.spark, sname, tbl)
                except Exception:
                    template = None
                src_mocks[(sname, tbl)] = _fixture_df(project, rows, template)
                canon[key] = f"{sname}.{tbl}"
            else:
                rkey = project.manifest.resolve_ref(key)
                try:
                    template = project._node_frame(rkey)
                except Exception:
                    template = None
                ref_mocks[rkey] = _fixture_df(project, rows, template)
                canon[key] = rkey

        class MockContext(Context):
            def _frame(self, key):
                if key not in ref_mocks:
                    raise ValueError(f"input ref('{key}') not mocked in 'given'")
                used.add(key)
                return ref_mocks[key]

            def source(self, source_name, table_name):
                k = (source_name, table_name)
                if k not in src_mocks:
                    raise ValueError(
                        f"input source('{source_name}', '{table_name}') "
                        "not mocked in 'given'"
                    )
                used.add(f"{source_name}.{table_name}")
                return src_mocks[k]

            def is_incremental(self) -> bool:
                return False  # unit tests exercise the full-refresh branch

            def this(self) -> DataFrame:
                raise ValueError("this() is not available in a unit test")

        out = MockContext(project, node)._compile()

        unused = [k for k in given if canon[k] not in used]
        if unused:
            raise ValueError(f"mocked input(s) never read by {model}: {sorted(unused)}")

        if not expect:
            n = out.count()
            if n != 0:
                return UnitTestResult(model, tname, "fail", f"expected 0 rows, got {n}")
            return UnitTestResult(model, tname, "pass")
        cols = list(expect[0])
        for r in expect:
            if set(r) != set(cols):
                raise ValueError("every expect row must name the same columns")
        missing = set(cols) - set(out.columns)
        if missing:
            raise ValueError(f"expect column(s) {sorted(missing)} not in model output")
        actual_df = out.select(*cols)
        exp_df = _fixture_df(project, expect, actual_df)
        actual = sorted(map(tuple, actual_df.collect()), key=str)
        wanted = sorted(map(tuple, exp_df.collect()), key=str)
        if actual != wanted:
            return UnitTestResult(
                model,
                tname,
                "fail",
                f"rows differ: actual={actual[:5]} expected={wanted[:5]}",
            )
        return UnitTestResult(model, tname, "pass")
    except Exception as e:  # noqa: BLE001 - unit-test harness boundary
        return UnitTestResult(model, tname, "error", str(e))
