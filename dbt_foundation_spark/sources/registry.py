"""Source registry — the engine's analog of dbt ``sources.yml``.

Reference behavior (models/sources.yml:4-14): a source is a declared
external relation with a logical (source_name, table_name) address,
resolved at compile time by ``source('raw', 'customers')``. Here a
source maps a logical name to a storage location + format; ``load``
returns a DataFrame (predicate pushdown / column pruning happen at the
scan because we stay declarative).

The reference's meta-source ``target_db_information_schema.tables``
(models/sources.yml:10-14) maps to the Spark catalog — see
``information_schema_tables``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass(frozen=True)
class Source:
    """One declared external relation."""

    source_name: str
    table_name: str
    path: str | None = None  # file-backed source
    fmt: str = "parquet"
    options: dict[str, str] = field(default_factory=dict)
    catalog_table: str | None = None  # catalog-backed source (2-part name)
    # dbt source-freshness contract (dbt-core `freshness:` block under a
    # source): the event-time column and the warn/error staleness budgets
    loaded_at_field: str | None = None
    warn_after_seconds: int | None = None
    error_after_seconds: int | None = None
    # dbt docs surface (sources.yml ``description:`` at the table level
    # and at the parent-source level) — read by the evaluator's
    # undocumented_source_tables / undocumented_sources checks
    description: str | None = None
    source_description: str | None = None
    # --- schema-drift contract (r10 verdict #6, probed live) --------
    # A file-backed source's schema comes from its footers, and drift
    # across file generations has three shapes with three distinct
    # default behaviors in Spark:
    #   * ADDED column: the default single-footer sample silently
    #     DROPS it (and which footer wins can flip with file listing —
    #     a flapping schema). merge_schema=True opts into
    #     ``mergeSchema``: union schema, NULL-fill for files lacking
    #     the column — the adaptive path for additive drift, at the
    #     cost of a footer-merge per planning (expensive at millions
    #     of files; prefer declaring read_schema at that scale).
    #   * MISSING (dropped) column: same mechanics mirrored — merge
    #     keeps the union and NULL-fills the new files.
    #   * WIDENED type (int→bigint): LOUD either way by default
    #     (PARQUET_COLUMN_DATA_TYPE_MISMATCH mid-scan without merge,
    #     CANNOT_MERGE_SCHEMAS with it). Declaring ``read_schema``
    #     with the WIDE type reads both generations correctly (Spark 4
    #     widens int32 files under a declared bigint schema) — the
    #     adaptive path for widening is an explicit declaration, never
    #     an inference.
    # ``expected_columns`` is the loud-by-declaration tier: load()
    # verifies the RESOLVED schema contains every named column and
    # raises a drift error naming what vanished — catching silent
    # column loss at the source boundary instead of as an unresolved
    # reference ten models downstream. Extra columns are allowed
    # (additive drift breaks nothing that selects explicitly).
    merge_schema: bool = False
    read_schema: str | None = None
    expected_columns: tuple[str, ...] = ()

    def load(self, spark: SparkSession) -> DataFrame:
        if self.catalog_table:
            if self.merge_schema or self.read_schema:
                # silently ignoring these would give a user who
                # declared read_schema to survive an int→bigint
                # widening NO protection and NO signal — the first
                # symptom would be a mid-scan type-mismatch ten models
                # downstream, the exact failure the drift tier exists
                # to prevent (r11 review)
                raise ValueError(
                    f"source {self.source_name}.{self.table_name}: "
                    "merge_schema/read_schema are file-reader options "
                    "and have no effect on a catalog_table source — "
                    "the catalog owns that table's schema; declare the "
                    "widened/merged schema there (ALTER TABLE), or "
                    "point the source at the files directly. "
                    "expected_columns IS honored for catalog sources."
                )
            return self._check_expected(spark.table(self.catalog_table))
        if not self.path:
            raise ValueError(f"source {self.source_name}.{self.table_name} has no path")
        reader = spark.read.options(**self.options)
        if self.merge_schema:
            reader = reader.option("mergeSchema", "true")
        if self.read_schema:
            reader = reader.schema(self.read_schema)
        if self.fmt == "parquet":
            return self._check_expected(reader.parquet(self.path))
        if self.fmt == "csv":
            return self._check_expected(reader.option("header", "true").csv(self.path))
        if self.fmt == "json":
            return self._check_expected(reader.json(self.path))
        if self.fmt == "orc":
            return self._check_expected(reader.orc(self.path))
        raise ValueError(f"unsupported source format: {self.fmt}")

    def _check_expected(self, df: DataFrame) -> DataFrame:
        missing = [c for c in self.expected_columns if c not in df.columns]
        if missing:
            raise ValueError(
                f"source {self.source_name}.{self.table_name}: schema "
                f"drift — declared column(s) {missing} absent from the "
                f"resolved schema {df.columns}. A column a footer sample "
                "no longer carries would otherwise fail as an unresolved "
                "reference downstream (or silently vanish from a "
                "SELECT *); fix the source files, or set "
                "merge_schema=True / read_schema=... if the column "
                "exists only in some file generations."
            )
        return df


class SourceRegistry:
    def __init__(self) -> None:
        self._sources: dict[tuple[str, str], Source] = {}

    def add(self, source: Source) -> None:
        self._sources[(source.source_name, source.table_name)] = source

    def get(self, source_name: str, table_name: str) -> Source:
        try:
            return self._sources[(source_name, table_name)]
        except KeyError:
            known = ", ".join(f"{s}.{t}" for s, t in sorted(self._sources))
            raise KeyError(
                f"undeclared source {source_name}.{table_name}; declared: {known}"
            ) from None

    def load(self, spark: SparkSession, source_name: str, table_name: str) -> DataFrame:
        return self.get(source_name, table_name).load(spark)

    def names(self) -> list[tuple[str, str]]:
        return sorted(self._sources)

    def items(self) -> list[Source]:
        """All declared sources (the evaluator's duplicate-source scan)."""
        return [self._sources[k] for k in sorted(self._sources)]

    def tables(self, source_name: str) -> list[str]:
        return sorted(t for s, t in self._sources if s == source_name)


def testdata_sources(sf_dir: str, source_name: str = "raw") -> SourceRegistry:
    """Registry over the driver-generated parquet dir (TESTDATA.md)."""
    reg = SourceRegistry()
    base = Path(sf_dir)
    for t in TESTDATA_TABLES:
        reg.add(Source(source_name, t, path=str(base / f"{t}.parquet")))
    return reg


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Shorthand scan of one testdata table (pushdown-friendly)."""
    return spark.read.parquet(str(Path(sf_dir) / f"{name}.parquet"))


def information_schema_tables(spark: SparkSession) -> DataFrame:
    """INFORMATION_SCHEMA.tables analog over the Spark catalog.

    Mirrors the projection of macros/list_orphaned_objects.sql:24-32:
    (table_type, table_schema, table_name); Snowflake's 'BASE TABLE' →
    'TABLE'/'VIEW' from spark.catalog.listTables(). A schema dropped
    between the database listing and its table listing (a concurrent
    build dropping a throwaway schema) is skipped, as if listed after
    the drop.
    """
    rows = []
    for db in spark.catalog.listDatabases():
        try:
            tables = spark.catalog.listTables(db.name)
        except AnalysisException as e:
            if e.getCondition() != "SCHEMA_NOT_FOUND":
                raise
            continue
        for t in tables:
            table_type = "VIEW" if t.tableType in ("TEMPORARY", "VIEW") else "TABLE"
            rows.append((table_type, t.namespace[0] if t.namespace else db.name, t.name))
    from dbt_foundation_spark.local_data import local_frame

    return local_frame(spark, rows, "table_type string, table_schema string, table_name string")


def check_freshness(
    spark: SparkSession,
    registry: "SourceRegistry",
    now=None,
) -> list[dict]:
    """dbt ``source freshness`` analog: for every source declaring a
    ``loaded_at_field``, compute ``max(loaded_at)`` (one agg per source —
    at scale this is a metadata-cheap max that partition stats usually
    answer) and grade the staleness against the declared budgets.

    Returns one dict per declared-freshness source:
    ``{source, table, max_loaded_at, age_seconds, status}`` with status
    in pass | warn | error (error wins when both budgets are blown;
    a NULL max — empty source — is an error). ``now`` is injectable for
    deterministic tests; defaults to the engine clock.
    """
    import datetime as _dt

    from pyspark.sql import functions as F

    if now is None:
        now = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    out: list[dict] = []
    for src in registry.items():
        if not src.loaded_at_field:
            continue
        mx = (
            src.load(spark)
            .agg(F.max(F.col(src.loaded_at_field).cast("timestamp")).alias("m"))
            .first()["m"]
        )
        if mx is None:
            age, status = None, "error"
        else:
            age = (now - mx).total_seconds()
            status = "pass"
            if src.warn_after_seconds is not None and age > src.warn_after_seconds:
                status = "warn"
            if src.error_after_seconds is not None and age > src.error_after_seconds:
                status = "error"
        out.append(
            {
                "source": src.source_name,
                "table": src.table_name,
                "max_loaded_at": mx,
                "age_seconds": age,
                "status": status,
            }
        )
    return out
