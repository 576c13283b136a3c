"""Run-operation registry — the reference's macro layer as engine ops.

- ``list_orphaned_objects`` (macros/list_orphaned_objects.sql:18-53):
  catalog scan minus manifest nodes → DROP/RENAME command strings,
  PRINT-ONLY (the macro's safety contract at :15 — it never executes DDL).
- ``star_from_relations`` (macros/star_from_relations.sql:12-26): union
  the column sets of N relations by name, emit an [alias.]`col` list
  minus an exclusion list.
- ``union_relations`` (dbt_utils.union_relations, called at
  star_from_relations.sql:14): union N frames BY NAME, padding missing
  columns with NULLs, adding a ``_dbt_source_relation`` provenance column.
- ``lint`` (.pre-commit-config.yaml:1-10): plan-only compile + the two
  script checks (trailing semicolon, hard-coded 3-part names).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import re


def quote_identifier(name: str) -> str:
    """M8 adapter.quote analog — Spark backtick quoting."""
    escaped = name.replace("`", "``")
    return f"`{escaped}`"


def get_relations_by_pattern(
    spark, schema_pattern: str, table_pattern: str = ".*"
) -> list[str]:
    """dbt_utils.get_relations_by_pattern analog: 2-part relation names
    whose schema/table match the (anchored) regex patterns — the
    catalog-driven input that feeds union_relations for sharded tables
    (e.g. events_2024_.*)."""
    schema_re = re.compile(f"^{schema_pattern}$")
    table_re = re.compile(f"^{table_pattern}$")
    out = []
    for db in spark.catalog.listDatabases():
        if not schema_re.match(db.name):
            continue
        for t_ in spark.catalog.listTables(db.name):
            if t_.tableType != "TEMPORARY" and table_re.match(t_.name):
                out.append(f"{db.name}.{t_.name}")
    return sorted(out)


def get_relations_by_prefix(spark, schema: str, prefix: str) -> list[str]:
    """dbt_utils.get_relations_by_prefix: the common special case of
    get_relations_by_pattern (prefix-anchored table match)."""
    return get_relations_by_pattern(spark, re.escape(schema), f"{re.escape(prefix)}.*")


def get_column_values(
    df: DataFrame, column: str, order_by: str = "count desc", max_records: int | None = None
) -> list:
    """dbt_utils.get_column_values: distinct values of a column, ordered
    by frequency (default) or value, optionally capped. Driver-side by
    contract (the macro returns a Jinja list) — the aggregate itself is
    a map-side-combined groupBy; only the distinct values come back."""
    counts = df.groupBy(column).agg(F.count(F.lit(1)).alias("count"))
    if order_by == "count desc":
        counts = counts.orderBy(F.desc("count"), F.col(column))
    else:
        counts = counts.orderBy(column)
    if max_records is not None:
        counts = counts.limit(max_records)
    return [r[0] for r in counts.select(column).collect()]


def get_filtered_columns_in_relation(df: DataFrame, except_: list[str] | None = None) -> list[str]:
    """dbt_utils.get_filtered_columns_in_relation: column names minus
    the exclusion list (pure schema introspection, no execution)."""
    exclude = {c.lower() for c in (except_ or [])}
    return [c for c in df.columns if c.lower() not in exclude]


def get_query_results_as_dict(spark, sql: str) -> dict[str, list]:
    """dbt_utils.get_query_results_as_dict: column-name → value-list of a
    query's result. Driver-side by contract (the macro feeds Jinja) —
    use only for small control queries, never data movement."""
    rows = spark.sql(sql).collect()
    if not rows:
        return {}
    cols = rows[0].__fields__
    return {c: [r[c] for r in rows] for c in cols}


def star_from_relations(
    frames: list[DataFrame],
    relation_alias: str | None = None,
    except_: list[str] | None = None,
    prefix: str = "",
    suffix: str = "",
) -> list[str]:
    """M1: merged, quoted column list across relations minus ``except_``.

    The macro builds the union query via dbt_utils.union_relations and
    asks the warehouse for its columns (dbt.get_columns_in_query —
    star_from_relations.sql:17). Spark equivalent: unionByName of the
    frames' LIMIT-0 slices; ``df.schema`` is the lazily-analyzed answer
    (no execution — the macro's ``execute`` guard at :16 maps to Spark's
    analysis phase needing live relations).
    """
    merged = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [f.limit(0) for f in frames],
    )
    exclude = {c.lower() for c in (except_ or [])}
    cols = [c for c in merged.columns if c.lower() not in exclude]
    rel = f"{relation_alias}." if relation_alias else ""
    if prefix or suffix:
        # dbt_utils.star output-rename form: col AS prefix || col || suffix
        return [
            f"{rel}{quote_identifier(c)} AS {quote_identifier(prefix + c + suffix)}"
            for c in cols
        ]
    return [f"{rel}{quote_identifier(c)}" for c in cols]


def union_relations(
    named_frames: dict[str, DataFrame],
    except_: list[str] | None = None,
    source_column: str = "_dbt_source_relation",
) -> DataFrame:
    """A23 (dbt_utils.union_relations): union by column name with NULL
    padding + provenance column. Pure unionByName — no shuffle; Catalyst
    concatenates the scans."""
    exclude = {c.lower() for c in (except_ or [])}
    tagged = []
    for name, df in named_frames.items():
        keep = [c for c in df.columns if c.lower() not in exclude]
        tagged.append(df.select(*keep).withColumn(source_column, F.lit(name)))
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), tagged)


def list_orphaned_objects(
    project,
    output_drop_cmd: bool = False,
    output_rename_cmd: bool = False,
    printer=print,
) -> list[str]:
    """M2: database objects not managed by the project's manifest.

    Mirrors macros/list_orphaned_objects.sql:18-53: information-schema
    scan (:24-32, the engine's catalog), manifest-side name set over
    models+seeds+snapshots (:44-48, ``graph.nodes`` filtered by
    resource_type with config.schema/alias), anti-filter, then emit
    ``schema.name`` lines or DROP/RENAME commands. PRINT-ONLY (:15).
    """
    from dbt_foundation_spark.sources.registry import information_schema_tables

    printer(f"-- target: {project.target.name} schema: {project.target.schema}")
    objects = (
        information_schema_tables(project.spark)
        .select(
            F.replace(F.col("table_type"), F.lit("BASE "), F.lit("")).alias("object_type"),
            F.col("table_schema").alias("object_schema"),
            F.col("table_name").alias("object_name"),
        )
        .filter(
            (F.upper(F.col("object_schema")) != "INFORMATION_SCHEMA")
            & (F.upper(F.col("object_name")) != "DATA_REFRESH_TIME")
        )
        .orderBy("object_schema", "object_type", "object_name")
        .collect()
    )
    managed = {
        f"{project.schema_for(n)}.{n.alias}".upper()
        for n in project.manifest.nodes.values()
        if n.resource_type in ("model", "seed", "snapshot")
    }
    lines: list[str] = []
    for row in objects:
        fqn = f"{row.object_schema}.{row.object_name}"
        if fqn.upper() in managed or row.object_name.startswith("__"):
            continue
        if row.object_name.endswith("__dbt_tmp"):
            continue
        if output_drop_cmd:
            lines.append(f"DROP {row.object_type} {fqn};")
        elif output_rename_cmd:
            lines.append(
                f"ALTER {row.object_type} {fqn} RENAME TO "
                f"{row.object_schema}._to_delete_{row.object_name};"
            )
        else:
            lines.append(fqn)
    for line in lines:
        printer(line)
    return lines


# ---------- lint (M16, .pre-commit-config.yaml:5-10) ----------

_THREE_PART = re.compile(r"\b\w+\.\w+\.\w+\b")


def lint(
    project,
    scale: bool = False,
    scale_allow: dict[str, tuple[str, ...]] | None = None,
) -> list[str]:
    """Static checks: plan-only compile of every model (dbt-parse), no
    trailing semicolon, no hard-coded 3-part names in SQL models.
    ``scale=True`` additionally runs :func:`plans.inspect.scale_findings`
    over each model's physical plan — rejecting cartesian products,
    row-at-a-time Python UDFs, and single-partition global windows at
    lint time, before anything executes (the check Snowflake-side dbt
    cannot offer: the reference only sees cost after the fact through
    query tags). ``scale_allow`` maps model name → finding substrings
    to suppress, for windows whose single-partition input is bounded
    by construction (keep the justification in the model's docstring —
    same contract as PLANS.md's whitelist table)."""
    from .plans.inspect import scale_findings

    project._bind_refs()
    problems: list[str] = []
    for node in project.manifest.models():
        if node.sql is not None:
            body = node.sql.strip()
            if body.endswith(";"):
                problems.append(f"{node.name}: trailing semicolon")
            cleaned = re.sub(r"\bref\(['\"]\w+['\"]\)", "", body)
            if _THREE_PART.search(cleaned):
                problems.append(f"{node.name}: hard-coded 3-part table name")
        try:
            df = project.build_frame(node)
            _ = df.schema  # analysis only — no job
        except Exception as e:  # noqa: BLE001
            problems.append(f"{node.name}: does not compile: {e}")
            continue
        if scale:
            # explain() is planning-only — still no job launched.
            allow = (scale_allow or {}).get(node.name, ())
            problems.extend(
                f"{node.name}: {f}" for f in scale_findings(df, allow=allow)
            )
    return problems


def get_columns_in_query(df: DataFrame) -> list[str]:
    """M7 dbt.get_columns_in_query — lazy schema, no execution."""
    return list(df.schema.names)


class OperationRegistry:
    """M12 dispatch: named operations resolved through a namespace
    search order, project overrides shadowing built-ins (the analog of
    dbt_project.yml:38-44's macro search order project →
    yuki_snowflake_dbt_tags → dbt_project_evaluator → dbt).

    ``run-operation`` parity: ``registry.run(name, project, **kwargs)``
    is the engine's ``dbt run-operation name --args '{...}'``
    (README.md:160-166, 281).
    """

    def __init__(self, search_order: tuple[str, ...] = ("project", "builtin")):
        self.search_order = search_order
        self._ops: dict[tuple[str, str], object] = {}

    def register(self, name: str, fn, namespace: str = "project"):
        self._ops[(namespace, name)] = fn
        return fn

    def resolve(self, name: str):
        for ns in self.search_order:
            if (ns, name) in self._ops:
                return self._ops[(ns, name)]
        known = sorted(n for _, n in self._ops)
        raise KeyError(f"unknown operation {name!r}; known: {known}")

    def run(self, name: str, *args, **kwargs):
        return self.resolve(name)(*args, **kwargs)


def default_registry() -> OperationRegistry:
    """Built-in operation set (the reference's macro + package surface)."""
    from dbt_foundation_spark.evaluator import evaluate

    reg = OperationRegistry()
    reg.register("list_orphaned_objects", list_orphaned_objects, namespace="builtin")
    reg.register("star_from_relations", star_from_relations, namespace="builtin")
    reg.register("union_relations", union_relations, namespace="builtin")
    reg.register("lint", lint, namespace="builtin")
    reg.register("project_evaluator", evaluate, namespace="builtin")
    return reg
