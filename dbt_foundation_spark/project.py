"""Project — model registration, ref/source resolution, DAG execution.

The engine's dbt-core analog. Design stance (SURVEY.md §7): no Jinja —
models are Python functions ``(ctx) -> DataFrame`` or raw Spark-SQL
strings; ``ctx.ref()`` / ``ctx.source()`` return DataFrames and record
DAG edges as a side effect (dbt records them while rendering Jinja).

Semantics preserved from the reference:
- 2-part ref resolution (macros/overrides/ref.sql:10-26): refs resolve
  to ``schema.alias`` in the session catalog, never a 3-part name.
- schema-name policy (macros/overrides/generate_schema_name.sql:11-22):
  exactly ``config.schema or target.schema``, trimmed — no env prefixing.
- DAG-parallel builds (profiles.example.yml:15): independent nodes run
  on a thread pool (Spark schedules concurrent jobs from many threads).
- per-query metadata tagging (yuki_snowflake_dbt_tags, packages.yml:2-3):
  every materialization action carries a JSON job description.
"""

from __future__ import annotations

import json
import logging
import re
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from dbt_foundation_spark.manifest import Manifest, Node, NodeConfig
from dbt_foundation_spark.materialize import materialize
from dbt_foundation_spark.session import check_codegen_cache, codegen_compiles
from dbt_foundation_spark.sources.registry import SourceRegistry

logger = logging.getLogger("dbt_foundation_spark")


@dataclass
class Target:
    """Profile target (profiles.example.yml:3-14 analog)."""

    name: str = "dev"
    schema: str = "analytics"
    threads: int = 16  # profiles.example.yml:15


def generate_schema_name(custom_schema_name: str | None, target: Target) -> str:
    """Schema policy: the configured schema verbatim (trimmed) or the
    target schema — no ``<target>_<custom>`` concatenation.

    Reference: macros/overrides/generate_schema_name.sql:11-22.
    """
    if custom_schema_name is None or not custom_schema_name.strip():
        return target.schema
    return custom_schema_name.strip()


# Every ref() shape Context.ref accepts, for SQL-string models:
# ref('m') / ref('pkg', 'm') / ref('m', version=2) / ref('m', v=2) /
# ref('fact.v2') (direct versioned node key — hence [\w.]).
_VAR_REQUIRED = object()  # sentinel: var() without a default is required

# var('name') / var('name', <default>) in SQL-string models (bare, the
# same convention as ref(); the Jinja-braced spelling is accepted too).
# The rendered value is the raw str() of the var — dbt renders Jinja to
# text the same way: writers quote string vars themselves ('var(…)').
_SQL_VAR_RE = re.compile(
    r"""(?:\{\{\s*)?\bvar\(\s*
        ['"](?P<name>\w+)['"]
        (?:\s*,\s*(?P<default>[^)]+?)\s*)?
        \)(?:\s*\}\})?""",
    re.VERBOSE,
)

_SQL_REF_RE = re.compile(
    r"""\bref\(\s*
        ['"](?P<a>[\w.]+)['"]
        (?:\s*,\s*
            (?:['"](?P<b>[\w.]+)['"]
             |(?:version|v)\s*=\s*(?P<ver>\d+)
            )
        )?
        \s*\)""",
    re.VERBOSE,
)


def _ref_shape(m: re.Match) -> tuple[str, str | None, int | None]:
    """(name, package, version) from a _SQL_REF_RE match — the
    resolve_ref argument order."""
    if m.group("b") is not None:
        return m.group("b"), m.group("a"), None
    ver = int(m.group("ver")) if m.group("ver") else None
    return m.group("a"), None, ver


def _parse_sql_refs(sql: str) -> tuple[tuple[str | None, str, int | None], ...]:
    """All ref() calls in a SQL-string model as (package, name, version).

    A ``ref(`` occurrence the grammar can't parse raises immediately: a
    silently dropped ref would mean a missing DAG edge and the model
    scheduled before its upstream exists.
    """
    spans: list[tuple[int, int]] = []
    refs: list[tuple[str | None, str, int | None]] = []
    for m in _SQL_REF_RE.finditer(sql):
        spans.append(m.span())
        name, pkg, ver = _ref_shape(m)
        refs.append((pkg, name, ver))
    for m in re.finditer(r"\bref\(", sql):
        if not any(s <= m.start() < e for s, e in spans):
            snippet = sql[m.start() : m.start() + 60]
            raise ValueError(
                f"unsupported ref() shape in SQL-string model: {snippet!r}"
            )
    return tuple(refs)


def _ephemeral_view(key: str) -> str:
    """Temp-view name for an unpersisted upstream (node keys may contain
    dots — 'fact.v2' — which view names can't)."""
    return f"__ephemeral_{key.replace('.', '__')}"


class Context:
    """Per-node execution context passed to model functions."""

    def __init__(self, project: Project, node: Node, capture: bool = False):
        self.project = project
        self.node = node
        self.spark = project.spark
        self.target = project.target
        self._capture = capture

    def ref(self, *args: str, version: int | None = None, v: int | None = None) -> DataFrame:
        """Resolve an upstream model by logical name (2-part semantics).

        Reference: macros/overrides/ref.sql:10-26 — supports exactly the
        override's shapes: ``ref('model')``, ``ref('package', 'model')``,
        ``ref('model', version=n)`` / ``v=n``. The database part is never
        embedded; resolution goes through the manifest.
        """
        if version is None:
            version = v
        if len(args) == 1:
            package, name = None, args[0]
        elif len(args) == 2:
            package, name = args
        else:
            raise TypeError(f"ref() takes 1 or 2 positional args, got {len(args)}")
        try:
            key = self.project.manifest.resolve_ref(name, package=package, version=version)
        except KeyError as e:
            raise KeyError(f"{e.args[0]} (from {self.node.name})") from None
        self.project._check_access(self.node, key)
        self.node.depends_on.add(key)
        return self.project._node_frame(key)

    def source(self, source_name: str, table_name: str) -> DataFrame:
        """Resolve a declared source (models/sources.yml analog)."""
        self.node.source_deps.add((source_name, table_name))
        return self.project.sources.load(self.spark, source_name, table_name)

    def var(self, name: str, default: Any = _VAR_REQUIRED) -> Any:
        """dbt ``{{ var('name') }}``: project-level variables
        (dbt_project.yml ``vars:``). A missing var with no default is a
        compilation error, attributed to the requesting node — dbt's
        exact contract."""
        if name in self.project.vars:
            return self.project.vars[name]
        if default is not _VAR_REQUIRED:
            return default
        raise KeyError(
            f"var {name!r} is undefined (required by {self.node.name}; "
            "pass vars={...} to Project or give var() a default)"
        )

    def is_incremental(self) -> bool:
        return (
            self.node.config.materialized == "incremental"
            and self.project._relation_exists(self.node)
        )

    def this(self) -> DataFrame:
        """The node's own existing relation (dbt ``{{ this }}``)."""
        return self.spark.table(self.project.relation_name(self.node))


@dataclass
class RunResult:
    node: str
    status: str  # success | error | skipped
    rows: int | None = None
    seconds: float = 0.0
    message: str = ""


class Project:
    def __init__(
        self,
        name: str,
        spark: SparkSession,
        sources: SourceRegistry | None = None,
        target: Target | None = None,
        vars: dict[str, Any] | None = None,
        on_run_start: tuple[str, ...] = (),
        on_run_end: tuple[str, ...] = (),
    ):
        self.name = name
        self.spark = spark
        self.sources = sources or SourceRegistry()
        self.target = target or Target()
        self.vars = dict(vars or {})
        # dbt_project.yml on-run-start/end: SQL run once per invocation,
        # before the first generation / after the last. ``{schema}``
        # resolves to the target schema (the common audit-table use).
        self.on_run_start = tuple(on_run_start)
        self.on_run_end = tuple(on_run_end)
        self.manifest = Manifest()
        self.invocation_id = str(uuid.uuid4())
        self._frames: dict[str, DataFrame] = {}  # memoized ephemeral/built frames
        self._materialized: set[str] = set()
        # microbatch processing-window override (run(event_time_start/end))
        self._event_time_window: tuple[str | None, str | None] = (None, None)

    # ---------- registration ----------

    def model(
        self,
        fn=None,
        *,
        name: str | None = None,
        materialized: str = "view",
        schema: str | None = None,
        alias: str | None = None,
        unique_key=None,
        incremental_strategy: str = "append",
        partition_by: tuple[str, ...] = (),
        bucket_by: tuple[str, ...] = (),
        buckets: int = 0,
        cluster_by: tuple[str, ...] = (),
        zorder_by: tuple[str, ...] = (),
        on_schema_change: str = "ignore",
        incremental_predicates: tuple[str, ...] = (),
        event_time: str | None = None,
        batch_size: str = "day",
        lookback: int = 1,
        begin: str | None = None,
        pre_hook: tuple[str, ...] = (),
        post_hook: tuple[str, ...] = (),
        tags: tuple[str, ...] = (),
        columns: dict[str, dict] | None = None,
        contract: dict | None = None,
        group: str | None = None,
        access: str = "protected",
        description: str = "",
        package: str | None = None,
        version: int | None = None,
        latest_version: bool = False,
        count_excluded_rows: bool = True,
    ):
        """Register a model: ``@project.model`` on ``(ctx) -> DataFrame``,
        or ``project.model(sql_text, name=...)`` for a SQL-string model.

        ``package`` and ``version`` feed the manifest's ref index so
        consumers can ``ref(package, name)`` / ``ref(name, version=n)``
        (reference macros/overrides/ref.sql:10-26). A versioned model's
        registry key is ``name.vN`` and its default relation alias
        ``name_vN``; bare refs resolve to the highest version unless one
        is pinned with ``latest_version=True``."""

        def register(obj):
            node_name = name or getattr(obj, "__name__", None)
            if not node_name:
                raise ValueError("SQL-string models need an explicit name=")
            base = node_name
            if version is not None:
                node_name = f"{base}.v{version}"
            if package is not None and node_name in self.manifest:
                node_name = f"{package}.{node_name}"
            cfg = NodeConfig(
                materialized=materialized,
                schema=schema,
                alias=alias or (f"{base}_v{version}" if version is not None else None),
                tags=tuple(tags),
                unique_key=unique_key,
                incremental_strategy=incremental_strategy,
                partition_by=tuple(partition_by),
                bucket_by=tuple(bucket_by),
                buckets=buckets,
                cluster_by=tuple(cluster_by),
                on_schema_change=on_schema_change,
                incremental_predicates=tuple(incremental_predicates),
                pre_hook=tuple(pre_hook),
                post_hook=tuple(post_hook),
            )
            if contract:
                cfg.extra["contract"] = dict(contract)
            if access not in ("private", "protected", "public"):
                raise ValueError(f"unknown access level: {access}")
            if group is not None:
                cfg.extra["group"] = group
            if access != "protected":
                cfg.extra["access"] = access
            if description:
                # model-level docs (dbt's model `description:`) — the
                # evaluator's undocumented_public_models contract check;
                # column-level docs live in `columns`
                cfg.extra["description"] = description
            if zorder_by:
                cfg.extra["zorder_by"] = tuple(zorder_by)
            if not count_excluded_rows:
                # r12 advice: node-level opt-out of the exclusion
                # accounting pass for hot incremental models whose
                # upstream plan is an expensive join/agg
                # (materialize._drop_rows_loudly) — the contract
                # filter still applies, only the count job is skipped
                cfg.extra["count_excluded_rows"] = False
            if event_time is not None:
                # dbt 1.9 microbatch configs (materialize._microbatch)
                cfg.extra.update(
                    event_time=event_time,
                    batch_size=batch_size,
                    lookback=lookback,
                    begin=begin,
                )
            node = Node(
                name=node_name,
                resource_type="model",
                config=cfg,
                fn=obj if callable(obj) else None,
                sql=None if callable(obj) else str(obj),
                columns=columns or {},
                package=package,
                base_name=base if base != node_name else None,
                version=version,
            )
            if node.sql is not None:
                node.sql_refs = _parse_sql_refs(node.sql)
            self.manifest.add(node)
            if version is not None and latest_version:
                self.manifest.set_latest_version(base, version, package)
            return obj

        if fn is None:
            return register
        return register(fn)

    def seed(
        self,
        name: str,
        path: str,
        schema: str | None = None,
        column_types: dict[str, str] | None = None,
        encoding: str | None = None,
    ) -> None:
        """CSV seed (dbt_project.yml:17 seed-paths analog).

        ``column_types`` mirrors dbt's seed ``+column_types`` config:
        per-column Spark type DDL (e.g. ``{"zip": "string"}``) applied at
        PARSE time, so inference can't destroy data first (zip codes
        keeping leading zeros is the canonical case).

        ``encoding`` declares a non-UTF-8 file encoding (e.g.
        ``UTF-16``). Without it a UTF-16 seed parses as NUL-riddled
        garbage that the loader's encoding gate refuses loudly
        (r13 probe)."""
        # seeds are loader-managed exact files, so the write-literal/
        # read-glob asymmetry applies (r13 review): a checked-in
        # 'rates[2024].csv' would silently load sibling files as
        # configuration. External SOURCES and the streaming readers
        # deliberately keep glob semantics — they are read-only inputs
        # where globbing is the documented Spark feature.
        from dbt_foundation_spark.operators.tombstones import (
            assert_literal_path,
        )

        assert_literal_path(path, "seed path")
        cfg = NodeConfig(materialized="table", schema=schema)
        if column_types:
            cfg.extra["column_types"] = dict(column_types)
        if encoding:
            cfg.extra["encoding"] = encoding
        self.manifest.add(
            Node(name=name, resource_type="seed", config=cfg, path=path)
        )

    def snapshot(
        self,
        fn=None,
        *,
        name: str | None = None,
        unique_key: str = "id",
        strategy: str = "timestamp",
        updated_at: str | None = None,
        check_cols: tuple[str, ...] | str = (),
        schema: str | None = None,
        invalidate_hard_deletes: bool = False,
        count_excluded_rows: bool = True,
    ):
        """SCD2 snapshot (snapshots/ scaffolding, dbt_project.yml:19)."""

        def register(obj):
            cfg = NodeConfig(materialized="snapshot", schema=schema, unique_key=unique_key)
            cfg.extra.update(
                strategy=strategy,
                updated_at=updated_at,
                # dbt's check_cols='all' literal → empty tuple, which the
                # check strategy reads as "every non-key column"
                check_cols=() if check_cols == "all" else tuple(check_cols),
                invalidate_hard_deletes=invalidate_hard_deletes,
            )
            if not count_excluded_rows:
                cfg.extra["count_excluded_rows"] = False
            self.manifest.add(
                Node(
                    name=name or obj.__name__,
                    resource_type="snapshot",
                    config=cfg,
                    fn=obj,
                )
            )
            return obj

        if fn is None:
            return register
        return register(fn)

    # ---------- naming ----------

    def schema_for(self, node: Node) -> str:
        return generate_schema_name(node.config.schema, self.target)

    def relation_name(self, node: Node) -> str:
        """2-part name — the compiled-text contract of the ref override."""
        return f"{self.schema_for(node)}.{node.alias}"

    def _relation_exists(self, node: Node) -> bool:
        return self.spark.catalog.tableExists(self.relation_name(node))

    # ---------- building ----------

    def _node_frame(self, name: str) -> DataFrame:
        """DataFrame for a node: the materialized relation if it exists
        in this run, else the (memoized) lazily-composed frame —
        ephemeral models are simply never-persisted frames, which
        Catalyst inlines into consumers for free."""
        node = self.manifest[name]
        if name in self._materialized and node.config.materialized != "ephemeral":
            return self.spark.table(self.relation_name(node))
        if name not in self._frames:
            self._frames[name] = self.build_frame(node)
        return self._frames[name]

    def resolve_sql(self, node: Node) -> str:
        """Compile a SQL-string model: every ref() shape the function
        ``Context.ref`` supports (1-arg, 2-arg package, version=/v=,
        dotted version keys) → 2-part relation name for persisted
        upstreams, temp-view name for virtual ones."""

        def sub(m: re.Match) -> str:
            key = self.manifest.resolve_ref(*_ref_shape(m))
            if key in self._materialized:
                return self.relation_name(self.manifest[key])
            return _ephemeral_view(key)

        def vsub(m: re.Match) -> str:
            name = m.group("name")
            if name in self.vars:
                return str(self.vars[name])
            default = m.group("default")
            if default is not None:
                # spliced VERBATIM: var('x', 'lit') keeps its quotes and
                # stays a valid SQL string literal; numeric defaults
                # splice as numbers. (Provided values render as raw
                # str() — quote string vars in the model SQL.)
                return default.strip()
            raise KeyError(
                f"var {name!r} is undefined (required by {node.name}; "
                "pass vars={...} to Project or give var() a default)"
            )

        return _SQL_VAR_RE.sub(vsub, _SQL_REF_RE.sub(sub, node.sql))

    def _bind_sql_refs(self, node: Node) -> None:
        """Resolve a SQL-string model's parsed ref() shapes into DAG
        edges. Deferred to run/build time (not registration) so models
        can be registered in any order and versioned/packaged refs
        resolve to their true node keys (``fact.v2``)."""
        for pkg, name, ver in node.sql_refs:
            key = self.manifest.resolve_ref(name, package=pkg, version=ver)
            self._check_access(node, key)
            node.depends_on.add(key)

    def _check_access(self, consumer: Node, key: str) -> None:
        """dbt 1.5 model access: a ``private`` model may only be
        ``ref()``'d by models in its own group (dbt-core access/groups;
        ``protected``/default and ``public`` are unrestricted in a
        single-project world). Raised at ref-resolution time — the same
        place dbt's parser rejects it."""
        target = self.manifest[key]
        if target.config.extra.get("access") != "private":
            return
        tgroup = target.config.extra.get("group")
        cgroup = consumer.config.extra.get("group")
        if tgroup != cgroup:
            raise PermissionError(
                f"model {consumer.name} (group={cgroup!r}) cannot ref private "
                f"model {key} (group={tgroup!r})"
            )

    def build_frame(self, node: Node) -> DataFrame:
        """Compile one node to a DataFrame (records edges as a side effect)."""
        if node.resource_type == "seed":
            # mode=FAILFAST (r11 dirty-seed probe): seeds are small,
            # checked-in configuration tables that drive joins and
            # tests, and Spark's default PERMISSIVE parse silently
            # NULLs every malformed cell — a ragged line lost its
            # amount and nothing failed until some downstream
            # relationship test (or nothing at all). A malformed seed
            # LINE is a source-control error and must fail the run
            # naming the record, matching dbt's own seed-parse
            # behavior. Scope (r12 advice): on the no-column_types path
            # FAILFAST catches RAGGED lines only — inferSchema runs
            # first and WIDENS a mixed column ("three" in an int id
            # column) to string, so type errors there load silently as
            # strings; declare column_types for typed seeds and the
            # merged explicit schema below makes FAILFAST catch the bad
            # cell too. (This is a deliberate divergence from external
            # SOURCES, where dirty rows are expected at scale and
            # Source.options lets the declaration choose its mode.)
            # multiLine (r13 probe): quoted newlines are LEGAL CSV, but
            # the line-splitting parser hands FAILFAST half a record and
            # a valid seed failed opaquely; multiLine parses the quoted
            # field and ragged lines STILL fail loud (probed). Seeds are
            # small checked-in tables, so multiLine's single-split parse
            # costs nothing.
            reader = (
                self.spark.read.option("header", "true")
                .option("mode", "FAILFAST")
                .option("multiLine", "true")
            )
            enc = node.config.extra.get("encoding")
            if enc:
                reader = reader.option("encoding", enc)
            overrides = node.config.extra.get("column_types") or {}

            def _encoding_gate(df: DataFrame) -> DataFrame:
                # r13 probe: a UTF-16 seed read as UTF-8 "succeeds" with
                # NUL-riddled column names and values — silent garbage
                # in a configuration table that drives joins and tests.
                # Wide encodings surface in the HEADER (NULs), so the
                # first check is driver-side on the column names; but a
                # single-byte encoding (cp1252 'Müller' read as UTF-8)
                # leaves ASCII headers clean and mangles only VALUES
                # (r13 review), so string columns also get one
                # replacement-char probe — seeds are small checked-in
                # tables, the probe is one cheap filter+limit job.
                bad = [
                    c for c in df.columns if "\x00" in c or "\ufffd" in c
                ]
                if bad:
                    raise ValueError(
                        f"seed {node.name}: column name(s) {bad!r} carry "
                        "NUL/replacement characters — the file is not "
                        f"{enc or 'UTF-8'}-encoded (a UTF-16 seed read "
                        "as UTF-8 parses as garbage, silently). "
                        "Re-encode the file or declare encoding= on "
                        "the seed"
                    )
                from pyspark.sql import functions as F

                str_cols = [
                    f.name for f in df.schema.fields
                    if f.dataType.simpleString() == "string"
                ]
                if str_cols:
                    dirty = F.lit(False)
                    for c in str_cols:
                        dirty = (
                            dirty
                            | F.col(c).contains("\ufffd")
                            | F.col(c).contains("\x00")
                        )
                    hit = df.filter(dirty).limit(1).collect()
                    if hit:
                        raise ValueError(
                            f"seed {node.name}: value(s) like "
                            f"{tuple(hit[0])!r} carry NUL/replacement "
                            "characters — the file bytes are not "
                            f"{enc or 'UTF-8'} (a cp1252/Latin-1 seed "
                            "read as UTF-8 mangles its non-ASCII values "
                            "silently). Re-encode the file or declare "
                            "encoding= on the seed"
                        )
                return df

            if not overrides:
                return _encoding_gate(
                    reader.option("inferSchema", "true").csv(node.path)
                )
            # infer once for the non-overridden columns, then re-read with
            # the merged explicit schema so overridden columns are PARSED
            # as their declared type (a post-hoc cast would re-type data
            # inference already mangled, e.g. zip codes to ints)
            inferred = _encoding_gate(
                reader.option("inferSchema", "true").csv(node.path)
            ).schema
            unknown = set(overrides) - {f.name for f in inferred}
            if unknown:
                raise ValueError(f"seed {node.name}: column_types for unknown columns {sorted(unknown)}")
            ddl = ", ".join(
                f"`{f.name}` {overrides.get(f.name, f.dataType.simpleString())}"
                for f in inferred
            )
            return reader.schema(ddl).csv(node.path)
        ctx = Context(self, node)
        if node.sql is not None:
            self._bind_sql_refs(node)
            for dep in node.depends_on:
                if dep not in self._materialized:
                    self._node_frame(dep).createOrReplaceTempView(_ephemeral_view(dep))
            return self.spark.sql(self.resolve_sql(node))
        return node.fn(ctx)

    def _capture_edges(self) -> None:
        """Parse phase: build every model frame once so ref()/source()
        calls register DAG edges (dbt's Jinja capture render)."""
        for node in self.manifest.nodes.values():
            if node.name not in self._frames and node.resource_type not in (
                "test",
                "exposure",
            ):
                try:
                    self._frames[node.name] = self.build_frame(node)
                except Exception:
                    # error surfaces again (attributed) during run()
                    self._frames.pop(node.name, None)

    # ---------- execution ----------

    def _tag(self, node: Node) -> None:
        """Query tagging (yuki_snowflake_dbt_tags analog, README.md:102-122):
        JSON metadata on the Spark job so the event log / UI attributes
        cost per model — the Spark-side twin of Snowflake query tags."""
        meta = json.dumps(
            {
                "dbt_job": self.name,
                "dbt_model": node.name,
                "materialization": node.config.materialized,
                "invocation_id": self.invocation_id,
            }
        )
        sc = self.spark.sparkContext
        sc.setJobGroup(self.invocation_id, meta, interruptOnCancel=False)
        sc.setLocalProperty("spark.job.description", meta)

    def _execute_node(self, node: Node) -> RunResult:
        t0 = time.perf_counter()
        try:
            self._tag(node)
            # dbt pre/post hooks: arbitrary SQL around the
            # materialization; {this} resolves to the node's relation
            # (dbt's {{ this }}). Hook failures fail the node.
            for hook in node.config.pre_hook:
                self.spark.sql(hook.replace("{this}", self.relation_name(node)))
            df = self._frames.get(node.name)
            if df is None:
                df = self.build_frame(node)
            if (node.config.extra.get("contract") or {}).get("enforced"):
                # dbt 1.5 model contracts: schema checked at plan time,
                # row constraints validated with one aggregate job — a
                # violating build never reaches the warehouse.
                from dbt_foundation_spark import contracts

                contracts.enforce(node, df)
            rows, persisted = materialize(self, node, df)
            for hook in node.config.post_hook:
                self.spark.sql(hook.replace("{this}", self.relation_name(node)))
            if persisted:
                self._materialized.add(node.name)
                self._frames.pop(node.name, None)  # consumers read the relation
            else:
                self._frames[node.name] = df  # virtual: lazy recompute-on-read
            return RunResult(node.name, "success", rows, time.perf_counter() - t0)
        except Exception as e:  # noqa: BLE001 — attributed per-node like dbt
            logger.exception("node %s failed", node.name)
            return RunResult(node.name, "error", None, time.perf_counter() - t0, str(e))

    def run(
        self,
        select: set[str] | None = None,
        selector: str | None = None,
        exclude: str | None = None,
        state: dict[str, str] | None = None,
        event_time_start: str | None = None,
        event_time_end: str | None = None,
        gate_tests: bool = False,
    ) -> list[RunResult]:
        """Build the DAG: topo generations, each on a thread pool.

        ``select`` (a literal node-name set) keeps its historical
        contract: the named nodes AND their downstream run. ``selector``
        takes the dbt --select grammar instead (see selectors.py) and
        runs EXACTLY the selection — graph expansion is spelled in the
        expression (``+name+``), not implied.

        ``event_time_start``/``event_time_end`` are dbt's
        ``--event-time-start/end`` flags: they pin the processing window
        of every microbatch model in this run (backfills, per-batch
        retries) instead of the derived max-batch-minus-lookback window.
        """
        check_codegen_cache(self.spark)
        compiled0, compile_ms0 = codegen_compiles(self.spark)
        self._event_time_window = (event_time_start, event_time_end)
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {self.target.schema}")
        for node in self.manifest.nodes.values():
            if node.resource_type in ("model", "snapshot", "seed"):
                self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {self.schema_for(node)}")
        for hook in self.on_run_start:
            # dbt: an on-run-start failure aborts the invocation
            self.spark.sql(hook.replace("{schema}", self.target.schema))
        for node in self.manifest.nodes.values():
            if node.sql is not None:
                try:
                    self._bind_sql_refs(node)  # edges exist even if capture fails
                except PermissionError:
                    pass  # access violation re-raises attributed at execute
        self._capture_edges()
        runnable = {
            n.name
            for n in self.manifest.nodes.values()
            if n.resource_type in ("model", "seed", "snapshot")
        }
        if select is not None and selector is not None:
            raise ValueError("pass either select= or selector=, not both")
        if select is not None:
            runnable &= self.manifest.downstream(select)
        if selector is not None:
            from dbt_foundation_spark.selectors import select_nodes

            runnable &= select_nodes(self, selector, exclude=exclude, state=state)
        results: list[RunResult] = []
        failed: set[str] = set()
        for gen in self.manifest.topo_generations(runnable):
            todo = [n for n in gen if not (n.depends_on & failed)]
            results.extend(
                RunResult(n.name, "skipped", message="upstream failure")
                for n in gen
                if n.depends_on & failed
            )
            failed.update(r.node for r in results if r.status == "skipped")
            if not todo:
                continue
            gen_res: list[RunResult] = []
            with ThreadPoolExecutor(max_workers=self.target.threads) as pool:
                for res in pool.map(self._execute_node, todo):
                    results.append(res)
                    gen_res.append(res)
                    if res.status == "error":
                        failed.add(res.node)
            # Capture-phase frames downstream of a node persisted this
            # generation embed a STALE view of it: on first
            # materialization, its pre-materialization frame (an
            # incremental's delta batch, a snapshot's raw input without
            # dbt_valid_* columns); on a REBUILD, a resolved scan whose
            # file index points at the swapped-away files (the staging
            # swap deletes them → FAILED_READ_FILE). Invalidate
            # downstream of every node persisted this generation, new
            # or rebuilt, so later generations re-resolve the relation.
            persisted_now = {
                r.node
                for r in gen_res
                if r.status == "success" and r.node in self._materialized
            }
            if persisted_now:
                for name in self.manifest.downstream(persisted_now) - persisted_now:
                    self._frames.pop(name, None)
            if gate_tests:
                # dbt build: a model's declared tests run right after it
                # builds; a failing test poisons the node so dependents
                # skip — bad data never propagates down the DAG
                ok = {r.node for r in results if r.status == "success"}
                for n in todo:
                    if n.name not in ok:
                        continue
                    for res in self._run_node_tests(n):
                        results.append(res)
                        if res.status == "test_fail":
                            failed.add(n.name)
        for hook in self.on_run_end:
            self.spark.sql(hook.replace("{schema}", self.target.schema))
        compiled, compile_ms = codegen_compiles(self.spark)
        logger.info(
            "%s: codegen compiled %d classes in %.0f ms",
            self.name, compiled - compiled0, compile_ms - compile_ms0,
        )
        return results

    def ls(self, selector: str | None = None, exclude: str | None = None) -> list[str]:
        """``dbt ls``: resource names matching a selector expression
        (full --select grammar, selectors.py), sorted; all models/
        seeds/snapshots when no selector is given."""
        for node in self.manifest.nodes.values():
            if node.sql is not None:
                try:
                    self._bind_sql_refs(node)
                except PermissionError:
                    pass
        self._capture_edges()  # graph selectors need edges; builds nothing
        names = {
            n.name
            for n in self.manifest.nodes.values()
            if n.resource_type in ("model", "seed", "snapshot")
        }
        if selector is not None:
            from dbt_foundation_spark.selectors import select_nodes

            names &= select_nodes(self, selector, exclude=exclude)
        return sorted(names)

    def _run_node_tests(self, node: Node) -> list[RunResult]:
        """Declared column tests for one node (``dbt build``'s
        interleaved test step). Returns one RunResult per test:
        ``test_pass`` or ``test_fail`` with the violation count."""
        from dbt_foundation_spark.testing import not_null, unique

        core = {"unique": unique, "not_null": not_null}
        out: list[RunResult] = []
        for col, meta in node.columns.items():
            for tname in meta.get("tests", ()):
                fn = core.get(tname)
                if fn is None:
                    continue  # non-core names run via run_tests/specs
                t0 = time.perf_counter()
                label = f"{node.name}.{tname}({col})"
                try:
                    violations = fn(col)(self._node_frame(node.name))
                    n = 0 if violations.isEmpty() else violations.count()
                    out.append(
                        RunResult(
                            label,
                            "test_fail" if n else "test_pass",
                            n or None,
                            time.perf_counter() - t0,
                        )
                    )
                except Exception as e:  # noqa: BLE001
                    out.append(
                        RunResult(label, "test_fail", None,
                                  time.perf_counter() - t0, str(e))
                    )
        return out

    def build(self, **kwargs) -> list[RunResult]:
        """``dbt build``: models, snapshots and seeds in DAG order with
        each node's declared tests executed immediately after it
        materializes; a failing test skips everything downstream (the
        reason dbt build exists — `run` then `test` lets a broken mart
        feed consumers for the whole gap between the two commands)."""
        return self.run(gate_tests=True, **kwargs)

    def retry(self, results: list[RunResult]) -> list[RunResult]:
        """``dbt retry`` (dbt-core 1.6): re-run exactly the nodes a
        previous :meth:`run` / :meth:`build` left unfinished —
        successes are not rebuilt. ``error`` and ``skipped`` nodes
        re-run; a ``test_fail`` maps back to its NODE, which re-runs
        WITH test gating — otherwise retrying a build would rebuild the
        skipped consumers of a model whose tests failed without
        re-judging it, promoting exactly the bad data the gate stopped.
        The skipped set already contains the failures' downstreams, so
        the retried DAG is the unfinished suffix of the original
        invocation."""
        names = {r.node for r in results if r.status in ("error", "skipped")}
        gated = False
        for r in results:
            if r.status == "test_fail":
                m = re.match(r"^(.*)\.(?:unique|not_null)\(.*\)$", r.node)
                if m:
                    names.add(m.group(1))
                    gated = True
            elif r.status == "test_pass":
                gated = True
        if not names:
            return []
        return self.run(select=names, gate_tests=gated)

    def show(self, name: str, limit: int = 5) -> DataFrame:
        """``dbt show``: preview a model's first rows. Reads the built
        relation when one exists (what a consumer would see), else
        compiles the model frame on the fly — either way the LIMIT is
        pushed into the plan, so previewing a 100 TB model reads a few
        partitions, not the table."""
        node = self.manifest[name]
        if self._relation_exists(node):
            return self.spark.table(self.relation_name(node)).limit(limit)
        return self.build_frame(node).limit(limit)

    def _drop_relation(self, rel: str, keep_views: bool = False) -> None:
        """DROP whatever object type occupies ``rel`` (Spark's DROP TABLE
        refuses views and vice versa, even with IF EXISTS)."""
        if not self.spark.catalog.tableExists(rel):
            return
        kind = self.spark.catalog.getTable(rel).tableType
        if kind == "VIEW":
            if not keep_views:  # CREATE OR REPLACE VIEW handles the rest
                self.spark.sql(f"DROP VIEW IF EXISTS {rel}")
        else:
            self.spark.sql(f"DROP TABLE IF EXISTS {rel}")

    def clone_from(
        self,
        state_schema: str,
        select: set[str] | None = None,
        full_copy: bool = False,
    ) -> list[RunResult]:
        """``dbt clone``: populate this target's schema from another
        environment's relations (dbt-core 1.6; clones the manifest's
        models out of ``--state`` without running them — the
        dev-environment bootstrap that skips rebuilding prod).

        Spark analog of the warehouse's zero-copy clone: the default
        clone is a VIEW over the state relation (a catalog pointer —
        zero data movement at any scale, reads always see the state
        table's current files); ``full_copy=True`` does CTAS instead
        (dbt's fallback for stores without zero-copy), paying one write
        to make the clone independent of later state mutations. Cloned
        nodes count as materialized, so subsequent ``run(select=...)``
        of downstream models ``ref()`` the clones — dbt's deferral
        workflow.
        """
        results: list[RunResult] = []
        for node in self.manifest.nodes.values():
            if node.resource_type not in ("model", "seed", "snapshot"):
                continue
            if node.config.materialized == "ephemeral":
                continue
            if select is not None and node.name not in select:
                continue
            t0 = time.perf_counter()
            src = f"{state_schema}.{node.alias}"
            if not self.spark.catalog.tableExists(src):
                results.append(
                    RunResult(node.name, "skipped", message=f"no state relation {src}")
                )
                continue
            dst = self.relation_name(node)
            self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {self.schema_for(node)}")
            if full_copy:
                self._drop_relation(dst)
                from dbt_foundation_spark.materialize import _clear_stale_location

                _clear_stale_location(self, dst)
                self.spark.table(src).write.format("parquet").mode(
                    "overwrite"
                ).saveAsTable(dst)
            else:
                self._drop_relation(dst, keep_views=True)
                self.spark.sql(f"CREATE OR REPLACE VIEW {dst} AS SELECT * FROM {src}")
            self._materialized.add(node.name)
            self._frames.pop(node.name, None)
            results.append(
                RunResult(node.name, "success", None, time.perf_counter() - t0)
            )
        return results

    def exposure(
        self,
        name: str,
        depends_on: tuple[str, ...],
        exposure_type: str = "dashboard",
        owner: str | None = None,
        url: str | None = None,
        description: str = "",
    ) -> None:
        """Declare an EXPOSURE — a downstream consumer (dashboard,
        notebook, ML job) of one or more models (dbt exposures.yml).
        Exposures are graph nodes but never run; they exist so lineage
        answers "who breaks if this model changes" and so the evaluator
        can check that BI-facing parents are materialized contracts
        (dbt_project_evaluator's fct_exposure_parents_materializations).
        ``depends_on`` refs resolve at declaration — declare exposures
        after their models so typos fail here, not in a dashboard."""
        from dbt_foundation_spark.manifest import Node, NodeConfig

        node = Node(
            name=name,
            resource_type="exposure",
            config=NodeConfig(),
        )
        for dep in depends_on:
            node.depends_on.add(self.manifest.resolve_ref(dep))
        node.config.extra.update(
            {
                "exposure_type": exposure_type,
                "owner": owner,
                "url": url,
                "description": description,
            }
        )
        self.manifest.add(node)

    # ---------- state:modified+ ----------

    def state_snapshot(self) -> dict[str, str]:
        return {n.name: n.checksum() for n in self.manifest.nodes.values()}

    def modified(self, previous_state: dict[str, str]) -> set[str]:
        """Selector primitive: nodes whose checksum changed vs the snapshot."""
        return {
            n.name
            for n in self.manifest.nodes.values()
            if previous_state.get(n.name) != n.checksum()
        }

    def modified_plus(self, previous_state: dict[str, str]) -> set[str]:
        """Selector: changed nodes and all downstream (README.md:280)."""
        return self.manifest.downstream(self.modified(previous_state))
