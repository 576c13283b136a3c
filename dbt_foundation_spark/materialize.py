"""Materialization strategies on plain Parquet tables (no Delta in env).

The reference's surface (SURVEY.md §2.A B1-B5): view, table, ephemeral,
incremental (append / insert_overwrite / merge), snapshot (SCD2).

Scale notes:
- ``table`` is CTAS: one write job, partitioned by ``config.partition_by``
  (partition pruning for consumers at 100 TB).
- ``incremental merge`` has no MERGE INTO on parquet; it is rewritten as
  ``existing ANTI-JOIN new ∪ new`` into a staging table followed by a
  catalog-level swap — the anti-join shuffles only on the unique key and
  AQE handles skew; the swap avoids read-overwrite conflicts.
- ``snapshot`` is batch SCD2 with the same staging-swap pattern.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:  # pragma: no cover
    from dbt_foundation_spark.manifest import Node
    from dbt_foundation_spark.project import Project

SNAPSHOT_META = ("dbt_scd_id", "dbt_valid_from", "dbt_valid_to")


def _drop_rows_loudly(
    df: DataFrame, cond, node_name: str, what: str,
    probe_cols: list[str] | None = None,
    accounted: bool = True,
) -> DataFrame:
    """Exclude contract-violating rows (NULL unique keys, NULL event
    times) with ACCOUNTING: the excluded count is measured and logged
    as a warning when non-zero, mirroring the IVF quarantine
    accounting — the repo's no-silent-caps rule (r12, from the r11
    advice). Pre-fix these filters shrank the model silently: an
    upstream bug emitting many NULL keys looked like a successful run.

    Cost (honest version, r12 review; measured r13): the count
    RE-EXECUTES the upstream model plan once — IsNull pushdown prunes
    the final scan, not upstream joins/aggregations. ``probe_cols``
    prunes that second execution to the condition's columns (Catalyst
    column pruning trims every upstream projection to what the keys
    need). Measured on idle at sf0.1 (r13 adjudication, SCALING.md):
    ~9% of q_snapshot_scd2's warm wall, unmeasurable on
    q_incremental_microbatch — the accepted price of never shrinking a
    model silently. The write path already executes the model 2-3×
    (the merge plan reads the batch twice); the alternatives each fail
    worse: ``observe()`` metrics double-count when the batch subtree
    appears twice in one plan (exactly the merge shape), and pinning
    the batch materializes day-scale data per run. Streaming-bridge
    batches arrive pinned, so there the pass is batch-sized regardless.

    ``accounted=False`` (node config ``count_excluded_rows: false``,
    r12 advice) skips the count for hot incremental models whose
    upstream plan is an expensive join/agg: the contract filter still
    applies, but exclusions are no longer counted — the node opts back
    into silent shrinkage knowingly, and the opt-out itself is logged
    once per run so a reader of the logs knows counting was off, not
    zero."""
    import logging

    if not accounted:
        logging.getLogger("dbt_foundation_spark").info(
            "%s: count_excluded_rows=false — %s row(s) are excluded "
            "WITHOUT accounting on this node",
            node_name,
            what,
        )
        return df.filter(~cond)
    probe = df.select(*probe_cols) if probe_cols else df
    dropped = probe.filter(cond).count()
    if dropped:
        logging.getLogger("dbt_foundation_spark").warning(
            "%s: excluded %d %s row(s) — no stable identity/time means "
            "no idempotent merge or batch membership (documented "
            "contract); route such rows explicitly upstream if they "
            "must be kept",
            node_name,
            dropped,
            what,
        )
    return df.filter(~cond)


def _any_null(keys: list[str]):
    cond = F.lit(False)
    for k in keys:
        cond = cond | F.col(k).isNull()
    return cond


def materialize(project: Project, node: Node, df: DataFrame) -> bool:
    """Execute one node's materialization. Returns whether it persisted
    a relation (False: the node stays a virtual, lazily recomputed
    frame)."""
    mat = node.config.materialized
    if node.resource_type == "snapshot":
        mat = "snapshot"
    if mat == "ephemeral":
        return False
    if mat == "view":
        return _view(project, node, df)
    if mat == "table":
        _table(project, node, df)
    elif mat == "incremental":
        _incremental(project, node, df)
    elif mat == "snapshot":
        _snapshot(project, node, df)
    else:
        raise ValueError(f"unknown materialization: {mat}")
    return True


def _clear_stale_location(project: Project, rel: str) -> None:
    """Make managed-table creation idempotent across process restarts.

    A fresh metastore over a stale warehouse directory (the dev/test
    shape: in-memory Derby catalog, persistent filesystem) fails CTAS
    with LOCATION_ALREADY_EXISTS — the catalog does not know the table,
    but its default managed location survives from a previous process.
    Guard rails (a "table absent from the catalog" signal is only
    trustworthy when the catalog itself is ephemeral): act only for the
    in-memory catalog — against Hive/persistent metastores a transient
    catalog miss, an external table parked at the default managed
    location, or another catalog's table would make this destructive —
    unless the user explicitly opts in via
    ``spark.dbt_foundation.clearStaleLocations=true``. And never
    delete: the orphan directory is renamed aside (``<name>._stale_*``)
    so a wrong call is recoverable, and rename failures surface instead
    of being swallowed. No-ops for non-local warehouses."""
    import uuid
    from pathlib import Path
    from urllib.parse import urlparse

    spark = project.spark

    def _conf(key: str, default: str) -> str:
        try:
            return spark.conf.get(key, default) or default
        except Exception:
            return default

    opted_in = _conf("spark.dbt_foundation.clearStaleLocations", "false") == "true"
    if _conf("spark.sql.catalogImplementation", "in-memory") != "in-memory" and not opted_in:
        return
    uri = urlparse(_conf("spark.sql.warehouse.dir", ""))
    if uri.scheme not in ("", "file") or not uri.path:
        return
    parts = rel.lower().split(".")
    schema, table = (parts[-2], parts[-1]) if len(parts) >= 2 else ("default", parts[-1])
    base = Path(uri.path)
    loc = base / table if schema == "default" else base / f"{schema}.db" / table
    if loc.exists():
        loc.rename(loc.with_name(f"{loc.name}._stale_{uuid.uuid4().hex[:8]}"))


def _writer(node: Node, df: DataFrame):
    if node.config.partition_by and not node.config.bucket_by:
        # hash-cluster by the partition columns before a partitioned
        # write (guide §6: REBALANCE before the write): without it every
        # writer task opens a file in EVERY partition directory it sees
        # — locally a single-split model wrote all N directories from
        # one task, serially (measured r13: the microbatch CTAS spent
        # 0.5 s in a 1-task write); at 100 TB the same shape is the
        # classic tasks×partitions small-files explosion. REBALANCE is
        # AQE-managed: it targets the advisory size and SPLITS a skewed
        # partition value across tasks, so one giant day cannot
        # serialize the write the way a plain repartition(cols) would.
        df = df.hint("rebalance", *node.config.partition_by)
    zcols = node.config.extra.get("zorder_by")
    if zcols and not node.config.bucket_by:
        # multi-dimensional clustering: sort inside each task's output
        # file by the Morton (Z-order) key so row-group min/max stats
        # stay selective on EVERY z column — filters on any of them
        # skip row groups at scan time (operators/layout.py). Same
        # no-shuffle contract as cluster_by, which it supersedes here.
        from dbt_foundation_spark.operators.layout import zorder_sort

        df = zorder_sort(df, list(zcols))
    elif node.config.cluster_by and not node.config.bucket_by:
        # sort INSIDE each task's output file so parquet row-group
        # min/max stats become selective: a point/range filter on the
        # cluster columns then skips whole row groups at scan time (the
        # warehouse-free analog of clustering keys / Z-ordering for one
        # dimension). No shuffle added — ordering is per-partition.
        # Bucketed tables already sortBy inside buckets; cluster_by is
        # the layout knob for UNbucketed tables.
        df = df.sortWithinPartitions(*node.config.cluster_by)
    w = df.write.format("parquet")
    if node.config.partition_by:
        w = w.partitionBy(*node.config.partition_by)
    if node.config.bucket_by and node.config.buckets:
        # bucket-pruned scans + shuffle-free equi-joins/aggs between
        # tables bucketed the same way on the same keys — the canonical
        # co-location strategy for repeated 100 TB fact-to-fact joins
        cols = list(node.config.bucket_by)
        w = w.bucketBy(node.config.buckets, cols[0], *cols[1:]).sortBy(cols[0], *cols[1:])
    return w


def _view(project: Project, node: Node, df: DataFrame) -> bool:
    """Persistent catalog view for SQL-string models whose refs are all
    persisted relations (the compiled text is then self-contained —
    the reference's default materialization, dbt_project.yml:36).
    DataFrame models (and SQL models over ephemeral upstreams) have no
    recoverable SQL text → they stay virtual (lazy frame), which is
    exactly a view's recompute-on-read semantics within the session."""
    if node.sql is not None and all(
        dep in project._materialized for dep in node.depends_on
    ):
        text = project.resolve_sql(node)
        project.spark.sql(
            f"CREATE OR REPLACE VIEW {project.relation_name(node)} AS {text}"
        )
        return True
    return False


def _table(project: Project, node: Node, df: DataFrame) -> None:
    """Full-rebuild CTAS (config(materialized='table'),
    models/example/my_first_dbt_model.sql:10)."""
    rel = project.relation_name(node)
    if project.spark.catalog.tableExists(rel):
        _swap_in(project, rel, df, node)
    else:
        _clear_stale_location(project, rel)
        _writer(node, df).mode("overwrite").saveAsTable(rel)


def _align(df: DataFrame, target_schema) -> DataFrame:
    """Project ``df`` onto ``target_schema``: matching columns cast to
    the target type, missing columns NULL-filled."""
    cols = []
    have = set(df.columns)
    for f in target_schema.fields:
        if f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def _evolved_schema(project: Project, node: Node, rel: str, df: DataFrame):
    """dbt's on_schema_change contract for incremental runs: compare the
    batch schema with the target table and return the schema the run
    should write (reference parity: dbt-core incremental docs; the
    reference project pins no models but the framework semantics are
    Cat B). Policies:

    - ignore (default): target schema wins — new batch columns are
      dropped, vanished ones NULL-fill.
    - fail: any added/removed column aborts the run.
    - append_new_columns: target grows by the batch's new columns
      (old rows read NULL there); removed columns stay, NULL-filled.
    - sync_all_columns: target becomes the batch's column set (common
      columns keep the target's position and type).
    """
    import pyspark.sql.types as T

    policy = node.config.on_schema_change
    existing = project.spark.table(rel).schema
    have = {f.name for f in existing.fields}
    added = [f for f in df.schema.fields if f.name not in have]
    batch_cols = set(df.columns)
    removed = [f.name for f in existing.fields if f.name not in batch_cols]
    if not added and not removed:
        return existing, False
    if policy == "fail":
        raise ValueError(
            f"{node.name}: schema changed (added={[f.name for f in added]}, "
            f"removed={removed}) and on_schema_change='fail'"
        )
    if policy == "ignore":
        return existing, False
    if policy == "append_new_columns":
        return T.StructType(list(existing.fields) + added), True
    if policy == "sync_all_columns":
        kept = [f for f in existing.fields if f.name in batch_cols]
        return T.StructType(kept + added), True
    raise ValueError(f"unknown on_schema_change policy: {policy}")


BATCH_COL = "dbt_event_batch"

_BATCH_FMT = {  # lexicographic == chronological within each unit
    "hour": "yyyy-MM-dd HH",
    "day": "yyyy-MM-dd",
    "month": "yyyy-MM",
    "year": "yyyy",
}


def _microbatch(project: Project, node: Node, df: DataFrame) -> None:
    """dbt 1.9's microbatch incremental strategy, on plain parquet.

    The model's frame is split into ``batch_size`` periods of its
    ``event_time`` column; each run (re)builds only the periods in its
    processing window and leaves every other period untouched. The
    engine adds a STRING partition column ``dbt_event_batch``
    (``date_format(date_trunc(batch_size, event_time))``) so a period
    rebuild is partition DDL + a bounded append — never a table rewrite:

    - initial build: everything from ``begin`` (dbt's required anchor)
      partitioned by batch.
    - incremental run: window start = (max landed batch − ``lookback``
      periods) — dbt's late-arrival allowance — or the explicit
      ``event_time_start`` passed to :meth:`Project.run`; window end =
      explicit ``event_time_end`` or open. Affected partitions (existing
      ∪ arriving, inside the window) are DROPped, then the filtered
      frame is appended. A window period whose restated source is now
      empty is therefore genuinely cleared, matching dbt's
      rebuild-from-source semantics.

    Divergence, documented: dbt executes one query per batch for retry
    granularity; we land the whole window in ONE write job (same final
    state, fewer jobs) — per-batch retry is recovered by re-running with
    an explicit ``event_time_start``/``event_time_end`` window. At
    100 TB the per-ingest cost is O(window data) + partition metadata
    ops, and consumers get partition pruning on ``dbt_event_batch`` for
    free.
    """
    spark = project.spark
    rel = project.relation_name(node)
    cfg = node.config.extra
    event_time = cfg.get("event_time")
    if not event_time:
        raise ValueError(f"{node.name}: microbatch requires event_time=")
    unit = cfg.get("batch_size", "day")
    if unit not in _BATCH_FMT:
        raise ValueError(
            f"{node.name}: batch_size must be one of {sorted(_BATCH_FMT)}"
        )
    lookback = int(cfg.get("lookback", 1))
    start_ovr, end_ovr = getattr(project, "_event_time_window", (None, None))
    ts = F.col(event_time).cast("timestamp")
    # NULL event-times: a row at an unknown time belongs to NO batch —
    # the same contract the stateful sessionizers pin (r10). Without
    # this explicit gate the fate was begin-dependent and inconsistent:
    # with `begin` set the NULL-batch rows silently vanished through
    # the >= filter, without it they landed once in the
    # __HIVE_DEFAULT_PARTITION__ at the initial build and no later
    # window could ever rebuild or clear them (NULL fails every
    # window-boundary comparison). Route them explicitly upstream if
    # they must be kept. Counted + warned, never silent (r12 advice).
    df = _drop_rows_loudly(
        df, ts.isNull(), node.name,
        f"NULL/uncastable {event_time} event-time",
        probe_cols=[event_time],
        accounted=cfg.get("count_excluded_rows", True),
    )
    batch_of = F.date_format(F.date_trunc(unit, ts), _BATCH_FMT[unit])
    part_cols = (*node.config.partition_by, BATCH_COL)

    def _bounded(frame: DataFrame, lo: str | None, hi: str | None) -> DataFrame:
        if lo is not None:
            frame = frame.filter(batch_of >= _fmt_batch(spark, lo, unit))
        if hi is not None:
            frame = frame.filter(batch_of <= _fmt_batch(spark, hi, unit))
        return frame

    if not spark.catalog.tableExists(rel):
        lo = start_ovr or cfg.get("begin")
        out = _bounded(df, lo, end_ovr).withColumn(BATCH_COL, batch_of)
        _clear_stale_location(project, rel)
        # hash-cluster by the partition columns (see _writer): one
        # writer group per partition value instead of every task
        # writing every directory
        out = out.hint("rebalance", *part_cols)
        w = out.write.format("parquet").partitionBy(*part_cols)
        w.mode("overwrite").saveAsTable(rel)
        return

    existing = spark.table(rel)
    if start_ovr is not None:
        start = _fmt_batch(spark, start_ovr, unit)
    else:
        last = existing.agg(F.max(BATCH_COL)).first()[0]
        if last is None:
            start = _fmt_batch(spark, cfg.get("begin"), unit) if cfg.get("begin") else None
        else:
            # max landed batch − lookback periods, in the batch grid
            start = spark.sql(
                f"SELECT date_format(to_timestamp('{last}', '{_BATCH_FMT[unit]}')"
                f" - INTERVAL {lookback} {unit.upper()}, '{_BATCH_FMT[unit]}')"
            ).first()[0]
    end = _fmt_batch(spark, end_ovr, unit) if end_ovr is not None else None

    batch = df.withColumn(BATCH_COL, batch_of)
    if start is not None:
        batch = batch.filter(F.col(BATCH_COL) >= start)
    if end is not None:
        batch = batch.filter(F.col(BATCH_COL) <= end)
    batch = _align(batch, existing.schema)

    affected = existing.select(BATCH_COL)
    if start is not None:
        affected = affected.filter(F.col(BATCH_COL) >= start)
    if end is not None:
        affected = affected.filter(F.col(BATCH_COL) <= end)
    # one job, not two: union the two metadata-scale distincts so the
    # driver pays a single collect round-trip (r13)
    periods = {
        r[0]
        for r in affected.distinct()
        .unionByName(batch.select(BATCH_COL).distinct())
        .collect()
    }
    if node.config.partition_by and periods:
        # A partial partition spec (only BATCH_COL) is a silent no-op on
        # Spark's in-memory catalog when the table is partitioned by
        # (partition_by..., BATCH_COL) — the append would then duplicate
        # every row of each rebuilt period. Enumerate FULL specs from the
        # landed table for the affected periods (metadata-scale distinct
        # over partition columns) and drop each.
        combos = (
            existing.filter(F.col(BATCH_COL).isin(sorted(periods)))
            .select(*node.config.partition_by, BATCH_COL)
            .distinct()
            .collect()
        )

        def _part_lit(v) -> str:
            # NULL partitions drop via an unquoted null literal (matches
            # __HIVE_DEFAULT_PARTITION__, verified empirically); quoted
            # values escape backslash-then-quote so a value like "it's"
            # neither breaks the SQL nor silently matches nothing.
            if v is None:
                return "null"
            s = str(v).replace("\\", "\\\\").replace("'", "\\'")
            return f"'{s}'"

        specs = [
            "PARTITION ("
            + ", ".join(
                f"{c}={_part_lit(row[c])}"
                for c in (*node.config.partition_by, BATCH_COL)
            )
            + ")"
            for row in combos
        ]
        if specs:  # one statement for all rebuilt periods, not one each
            spark.sql(
                f"ALTER TABLE {rel} DROP IF EXISTS {', '.join(specs)}"
            )
    else:
        specs = [
            f"PARTITION ({BATCH_COL}='{p}')" for p in sorted(periods)
        ]
        if specs:
            spark.sql(
                f"ALTER TABLE {rel} DROP IF EXISTS {', '.join(specs)}"
            )
    batch = batch.hint("rebalance", *part_cols)  # see _writer
    batch.write.format("parquet").partitionBy(*part_cols).mode("append").saveAsTable(rel)
    spark.sql(f"REFRESH TABLE {rel}")


def _fmt_batch(spark, value: str, unit: str) -> str:
    """Normalize a user timestamp/date string onto the batch grid."""
    return spark.sql(
        f"SELECT date_format(date_trunc('{unit}', TIMESTAMP '{value}'), "
        f"'{_BATCH_FMT[unit]}')"
    ).first()[0]


def _incremental(project: Project, node: Node, df: DataFrame) -> None:
    """B3: append / insert_overwrite / merge without MERGE INTO."""
    spark = project.spark
    rel = project.relation_name(node)
    if node.config.incremental_strategy == "microbatch":
        _microbatch(project, node, df)
        return
    if node.config.incremental_strategy in ("merge", "delete+insert"):
        # NULL-key exclusion must ALSO cover the initial build, or the
        # corrupt row lands once at bootstrap and every later run's
        # filter merely stops the growth without removing it — see
        # _merged_rows for the full contract
        keys = node.config.unique_key
        keys = [keys] if isinstance(keys, str) else list(keys or ())
        if keys and not spark.catalog.tableExists(rel):
            # the incremental runs route through _merged_rows, which
            # does its own loud exclusion — only the bootstrap CTAS
            # needs the gate (and its accounting) here
            df = _drop_rows_loudly(
                df, _any_null(keys), node.name, "NULL unique-key",
                probe_cols=keys,
                accounted=node.config.extra.get("count_excluded_rows", True),
            )
    if not spark.catalog.tableExists(rel):
        _clear_stale_location(project, rel)
        _writer(node, df).mode("overwrite").saveAsTable(rel)
        return
    strategy = node.config.incremental_strategy
    target, evolved = _evolved_schema(project, node, rel, df)
    df = _align(df, target)
    if evolved and strategy == "append":
        removed_kept = set(spark.table(rel).columns) - {f.name for f in target.fields}
        if not removed_kept:
            # pure column addition: physical ALTER, then append — no rewrite
            existing_names = set(spark.table(rel).columns)
            adds = ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in target.fields
                if f.name not in existing_names
            )
            if adds:
                spark.sql(f"ALTER TABLE {rel} ADD COLUMNS ({adds})")
        else:
            # column removal on plain parquet = rewrite: align history to
            # the new schema once, then fall through to the append below
            history = _align(spark.table(rel), target)
            _swap_in(project, rel, history, node)
    if strategy == "append":
        _writer(node, df).mode("append").saveAsTable(rel)
        return
    if strategy == "insert_overwrite":
        if evolved:
            raise ValueError(
                f"{node.name}: schema evolution with insert_overwrite would "
                "silently desync untouched partitions — rebuild the table or "
                "use on_schema_change='ignore'/'fail'"
            )
        if node.config.partition_by:
            # dynamic partition overwrite: replace only arriving partitions.
            # Per-write option (not session conf) so concurrent DAG nodes
            # on other threads keep static-overwrite semantics; insertInto
            # is positional, so align to the target column order first.
            df.select(*spark.table(rel).columns).write.option(
                "partitionOverwriteMode", "dynamic"
            ).insertInto(rel, overwrite=True)
        else:
            _swap_in(project, rel, df, node)
        return
    if strategy in ("merge", "delete+insert"):
        _swap_in(project, rel, _merged_rows(project, node, df, target), node)
        return
    raise ValueError(f"unknown incremental strategy: {strategy}")


def _merged_rows(project: Project, node: Node, df: DataFrame, target) -> DataFrame:
    """The MERGE / delete+insert output plan (dbt's delete+insert —
    delete target rows matching the batch's keys, insert the batch —
    is semantically identical to the anti-join+union rewrite, so one
    code path). Split from :func:`_incremental` so the streaming bridge
    can run the pre-execution scale gate on the exact plan the sink is
    about to execute (``streaming.pipeline.run_into_incremental``)."""
    spark = project.spark
    rel = project.relation_name(node)
    keys = node.config.unique_key
    if not keys:
        raise ValueError(
            f"{node.name}: {node.config.incremental_strategy} strategy "
            "requires unique_key"
        )
    keys = [keys] if isinstance(keys, str) else list(keys)
    # NULL-key rows are excluded (r11 probe): NULL never equals NULL,
    # so SQL MERGE semantics re-INSERT such a row on EVERY scheduled
    # run — one corrupt key grew the table without bound ((None, x)
    # appended per run, forever) while looking "successful". A row
    # with no stable identity cannot be idempotently merged; the
    # family rule applies (samplers, dedup, microbatch event-times) —
    # route NULL-key rows explicitly upstream if they must be kept
    # (e.g. an append-strategy dead-letter model). Counted + warned,
    # never silent (r12 advice).
    df = _drop_rows_loudly(
        df, _any_null(keys), node.name, "NULL unique-key", probe_cols=keys,
        accounted=node.config.extra.get("count_excluded_rows", True),
    )
    existing = _align(spark.table(rel), target)
    preds = node.config.incremental_predicates
    if preds:
        # dbt's incremental_predicates: only existing rows INSIDE the
        # predicate window are scanned for key matches (at 100 TB the
        # predicate is what keeps the anti-join from reading the whole
        # table — typically a partition bound). Rows outside the window
        # are kept verbatim EVEN IF their key re-arrives — the
        # documented dbt trade-off, not a bug.
        window = F.expr(" AND ".join(f"({p})" for p in preds))
        inside = existing.filter(window)
        outside = existing.filter(~window | window.isNull())
        return (
            outside.unionByName(inside.join(df, on=keys, how="left_anti"))
            .unionByName(df)
        )
    return existing.join(df, on=keys, how="left_anti").unionByName(df)


def _snapshot(project: Project, node: Node, df: DataFrame) -> None:
    """B5: SCD2 snapshot — validity-interval capture on plain parquet.

    timestamp strategy: a row is 'changed' when its updated_at advanced
    past the open version's; check strategy: when any check_col differs.
    Changed keys close their open row (dbt_valid_to = new updated_at) and
    insert a new open version. New keys insert an open version.
    """
    spark = project.spark
    rel = project.relation_name(node)
    key = node.config.unique_key
    keys = [key] if isinstance(key, str) else list(key)
    cfg = node.config.extra
    strategy = cfg.get("strategy", "timestamp")
    updated_at = cfg.get("updated_at")
    if strategy == "timestamp" and not updated_at:
        raise ValueError(f"{node.name}: timestamp snapshots need updated_at=")
    # NULL-key rows are excluded (r11 probe): with NULL never matching
    # the change-detection join, each run inserted ANOTHER open version
    # for the same unknown entity — three runs, three concurrent open
    # rows, breaking the one-open-row-per-key invariant every later run
    # builds on. No stable identity means no history to track (the
    # merge/microbatch/sampler family rule). Counted + warned, never
    # silent (r12 advice).
    df = _drop_rows_loudly(
        df, _any_null(keys), node.name, "NULL unique-key", probe_cols=keys,
        accounted=cfg.get("count_excluded_rows", True),
    )

    if strategy == "timestamp":
        valid_from = F.col(updated_at).cast("timestamp")
        scd_payload = [updated_at]
    else:
        check_cols = list(cfg.get("check_cols") or [c for c in df.columns if c not in keys])
        valid_from = F.current_timestamp()
        scd_payload = check_cols

    scd_id = F.md5(
        F.concat_ws(
            "|", *[F.coalesce(F.col(c).cast("string"), F.lit("_null_")) for c in keys + scd_payload]
        )
    )
    new = df.withColumn("dbt_scd_id", scd_id).withColumn("dbt_valid_from", valid_from).withColumn(
        "dbt_valid_to", F.lit(None).cast("timestamp")
    )

    # Duplicate-key contract: a dirty upstream emitting two DISTINCT
    # rows for one key in a SINGLE batch would insert two open versions
    # and break the one-open-row-per-key invariant every later run
    # builds on. Keep exactly one, deterministically: the greatest
    # updated_at (timestamp strategy — the row the next run would win
    # with anyway), then the greatest full-row md5-of-JSON as the
    # tiebreak for equal-ts or check-strategy duplicates (dbt_scd_id
    # hashes only key+updated_at under the timestamp strategy, so it
    # cannot split equal-ts payload drift; to_json serializes any
    # column type, engine-portable and rerun-stable). In-plan window,
    # no extra source scan; warehouse MERGE raises "multiple source
    # rows" here instead — callers who want the loud failure assert
    # testing.unique on the batch first.
    from pyspark.sql import Window as _W

    dup_order = (
        [F.col("dbt_valid_from").desc_nulls_last()]
        if strategy == "timestamp"
        else []
    ) + [
        # UTC-rendered so the keeper hash is session-timezone stable
        F.md5(F.to_json(F.struct(*df.columns), {"timeZone": "UTC"})).desc()
    ]
    new = (
        new.withColumn(
            "_rn", F.row_number().over(_W.partitionBy(*keys).orderBy(*dup_order))
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    if not spark.catalog.tableExists(rel):
        _clear_stale_location(project, rel)
        new.write.format("parquet").mode("overwrite").saveAsTable(rel)
        return

    current = spark.table(rel)
    open_rows = current.filter(F.col("dbt_valid_to").isNull())
    closed_rows = current.filter(F.col("dbt_valid_to").isNotNull())

    # arriving version per key, only where it supersedes the open one
    incoming = new.alias("n").join(
        open_rows.select(*keys, F.col("dbt_scd_id").alias("_cur_scd"),
                         F.col("dbt_valid_from").alias("_cur_from")).alias("c"),
        on=keys,
        how="left",
    )
    if strategy == "timestamp":
        # dbt's timestamp strategy: changed iff updated_at STRICTLY
        # advanced past the open version's (snapshotted.dbt_valid_from
        # < source.updated_at). An scd_id-difference test also fired on
        # an OUT-OF-ORDER older record (late replay), closing the open
        # row at an older timestamp — a negative validity interval —
        # and silently rolling the key backwards (r9 probe). Equal
        # updated_at with a different payload is also NOT a change
        # under this strategy (dbt trusts updated_at); use the check
        # strategy when payload drift without a timestamp bump matters.
        changed = F.col("_cur_scd").isNull() | (
            F.col("n.dbt_valid_from") > F.col("_cur_from")
        )
    else:
        changed = F.col("_cur_scd").isNull() | (
            F.col("n.dbt_scd_id") != F.col("_cur_scd")
        )
    fresh = incoming.filter(changed).select("n.*")

    # close open rows superseded by a fresh version
    superseded = open_rows.alias("o").join(
        fresh.select(*keys, F.col("dbt_valid_from").alias("_new_from")).alias("f"),
        on=keys,
        how="left",
    )
    close_at = F.col("_new_from")
    if cfg.get("invalidate_hard_deletes"):
        # dbt's invalidate_hard_deletes: an open key ABSENT from this
        # snapshot's source was hard-deleted upstream — close its open
        # row at the run's timestamp (dbt uses the snapshot run time;
        # current_timestamp is fixed per query, so one run closes all
        # deletions at one instant). Keys still present keep the normal
        # supersede-or-stay-open logic.
        present = new.select(*keys).distinct().withColumn("_present", F.lit(1))
        superseded = superseded.join(present, on=keys, how="left")
        close_at = F.coalesce(
            F.col("_new_from"),
            F.when(F.col("_present").isNull(), F.current_timestamp()),
        )
    closed_now = superseded.select(
        *[F.col(f"o.{c}") for c in open_rows.columns if c != "dbt_valid_to"],
        F.coalesce(close_at, F.col("o.dbt_valid_to")).alias("dbt_valid_to"),
    )

    result = closed_rows.unionByName(closed_now).unionByName(fresh)
    _swap_in(project, rel, result, node)


def _swap_in(project: Project, rel: str, df: DataFrame, node: Node) -> None:
    """Write df to a staging table then swap it in — avoids the
    read-overwrite conflict of rewriting a table that feeds the plan,
    and keeps the swap a cheap catalog operation at any scale."""
    spark = project.spark
    staging = f"{rel}__dbt_tmp"
    spark.sql(f"DROP TABLE IF EXISTS {staging}")
    _clear_stale_location(project, staging)
    _writer(node, df).mode("overwrite").saveAsTable(staging)
    spark.sql(f"DROP TABLE IF EXISTS {rel}")
    spark.sql(f"ALTER TABLE {staging} RENAME TO {rel}")
    if node.config.partition_by:
        # RENAME moves the table dir but catalog partition entries keep
        # their pre-rename locations → scans see 0 rows. Partition
        # discovery re-registers them (a file listing — cheap next to
        # the write we just did).
        spark.sql(f"MSCK REPAIR TABLE {rel}")
    spark.sql(f"REFRESH TABLE {rel}")
