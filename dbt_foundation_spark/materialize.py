"""Materialization strategies on plain Parquet tables (no Delta in env).

The reference's surface (SURVEY.md §2.A B1-B5): view, table, ephemeral,
incremental (append / insert_overwrite / merge / delete+insert /
microbatch), snapshot (SCD2).

Every strategy runs one write path (:func:`materialize`):

1. resolve the existing relation once, dropping one of the other kind
   first (a view where a table goes, or the reverse), as dbt does —
   Spark refuses to replace one kind with the other;
2. apply the node's identity gate once (:func:`_identity_gate`);
3. with no table yet, bootstrap through :func:`_create`;
4. otherwise run the strategy's update.

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

BATCH_COL = "dbt_event_batch"

_BATCH_FMT = {  # lexicographic == chronological within each unit
    "hour": "yyyy-MM-dd HH",
    "day": "yyyy-MM-dd",
    "month": "yyyy-MM",
    "year": "yyyy",
}


def _drop_rows_loudly(
    df: DataFrame, cond, node_name: str, what: str, probe_cols: list[str]
) -> DataFrame:
    """Exclude the rows matching ``cond`` (contract violations: NULL
    unique keys, NULL event times), counting them first and logging a
    warning when any were excluded — the no-silent-caps rule the dedup
    operators follow with their quarantine counts. Without the count an
    upstream bug emitting many NULL keys would look like a successful
    run that merely shrank the model.

    Cost: the count re-executes the model plan once; IsNull pushdown
    prunes the final scan, not upstream joins or aggregations.
    ``probe_cols`` prunes that second execution to the condition's
    columns (Catalyst trims every upstream projection to what the keys
    need). Measured on an idle machine at sf0.1 (SCALING.md): ~9 % of
    q_snapshot_scd2's warm wall, unmeasurable on
    q_incremental_microbatch — the price of never shrinking a model
    silently. The alternatives cost more: ``observe()`` metrics
    double-count when the batch subtree appears twice in one plan
    (exactly the merge shape), and pinning the batch materializes
    day-scale data per run. Streaming-bridge batches arrive pinned, so
    there the pass is batch-sized regardless."""
    import logging

    dropped = df.select(*probe_cols).filter(cond).count()
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


def _keys(node: Node) -> list[str]:
    keys = node.config.unique_key
    return [keys] if isinstance(keys, str) else list(keys or ())


def _any_null(keys: list[str]):
    cond = F.lit(False)
    for k in keys:
        cond = cond | F.col(k).isNull()
    return cond


def _identity_gate(node: Node, strategy: str, df: DataFrame) -> DataFrame:
    """Step 2 of the write path: exclude, loudly, the rows the strategy
    cannot place, at the bootstrap as on every later run (a row let in
    once at the bootstrap is never removed by a later run's filter).

    - merge, delete+insert, snapshot: rows with a NULL unique key.
      NULL never equals NULL, so MERGE semantics re-insert such a row on
      every run (unbounded growth that looks successful), and each
      snapshot run opens another version for the same unknown entity,
      breaking the one-open-row-per-key invariant later runs build on.
    - microbatch: rows with a NULL (or uncastable) event time. A row at
      an unknown time belongs to no batch, the contract the stateful
      sessionizers follow; let in, it lands in
      ``__HIVE_DEFAULT_PARTITION__`` when no ``begin`` bounds the build,
      and no later window can rebuild or clear it (NULL fails every
      window comparison).

    Route such rows explicitly upstream (e.g. an append-strategy
    dead-letter model) if they must be kept."""
    if strategy == "microbatch":
        event_time = node.config.extra.get("event_time")
        if not event_time:
            raise ValueError(f"{node.name}: microbatch requires event_time=")
        return _drop_rows_loudly(
            df, F.col(event_time).cast("timestamp").isNull(), node.name,
            f"NULL/uncastable {event_time} event-time", [event_time],
        )
    keys = _keys(node)
    if strategy in ("merge", "delete+insert", "snapshot") and keys:
        return _drop_rows_loudly(df, _any_null(keys), node.name, "NULL unique-key", keys)
    return df


def materialize(project: Project, node: Node, df: DataFrame) -> bool:
    """Execute one node's materialization through the one write path
    (module docstring). Returns whether it persisted a relation (False:
    the node stays a virtual, lazily recomputed frame)."""
    mat = "snapshot" if node.resource_type == "snapshot" else node.config.materialized
    if mat == "ephemeral":
        return False
    if mat not in ("view", "table", "incremental", "snapshot"):
        raise ValueError(f"unknown materialization: {mat}")
    rel = project.relation_name(node)
    exists = project._drop_relation(rel, keep="VIEW" if mat == "view" else "TABLE")
    if mat == "view":
        return _view(project, node, rel)
    strategy = node.config.incremental_strategy if mat == "incremental" else mat
    df = _identity_gate(node, strategy, df)
    if strategy == "microbatch":
        _microbatch(project, node, rel, df, exists)
    elif strategy == "snapshot":
        _snapshot(project, node, rel, df, exists)
    elif not exists:
        _create(project, node, rel, df)
    elif strategy == "table":
        _swap_in(project, rel, df, node)
    else:
        _incremental(project, node, rel, df)
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
    location, or another catalog's table would make this destructive.
    And never delete: the orphan directory is renamed aside
    (``<name>._stale_*``) so a wrong call is recoverable, and rename
    failures surface instead of being swallowed. No-ops for non-local
    warehouses."""
    import uuid
    from pathlib import Path
    from urllib.parse import urlparse

    spark = project.spark

    def _conf(key: str, default: str) -> str:
        try:
            return spark.conf.get(key, default) or default
        except Exception:
            return default

    if _conf("spark.sql.catalogImplementation", "in-memory") != "in-memory":
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


def _create(project: Project, node: Node, rel: str, rows: DataFrame) -> None:
    """Bootstrap ``rel`` from ``rows`` in the node's layout (CTAS): the
    one table creation of every strategy, the staging write of
    :func:`_swap_in` and ``Project.clone_from(full_copy=True)``."""
    _clear_stale_location(project, rel)
    _writer(node, rows).mode("overwrite").saveAsTable(rel)


def _partition_cols(node: Node) -> tuple[str, ...]:
    """The node's table partitioning: ``partition_by``, then the batch
    column for microbatch models (a period rebuild is partition DDL)."""
    cols = tuple(node.config.partition_by)
    if (node.config.materialized, node.config.incremental_strategy) == (
        "incremental", "microbatch"
    ):
        cols += (BATCH_COL,)
    return cols


def _writer(node: Node, df: DataFrame):
    part = _partition_cols(node)
    if part and not node.config.bucket_by:
        # hash-cluster by the partition columns before a partitioned
        # write (guide §6: REBALANCE before the write): without it every
        # writer task opens a file in EVERY partition directory it sees
        # — locally a single-split model wrote all N directories from
        # one task, serially (a microbatch CTAS spent 0.5 s in a 1-task
        # write); at 100 TB the same shape is the classic
        # tasks×partitions small-files explosion. REBALANCE is
        # AQE-managed: it targets the advisory size and SPLITS a skewed
        # partition value across tasks, so one giant day cannot
        # serialize the write the way a plain repartition(cols) would.
        df = df.hint("rebalance", *part)
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
    if part:
        w = w.partitionBy(*part)
    if node.config.bucket_by and node.config.buckets:
        # bucket-pruned scans + shuffle-free equi-joins/aggs between
        # tables bucketed the same way on the same keys — the canonical
        # co-location strategy for repeated 100 TB fact-to-fact joins
        cols = list(node.config.bucket_by)
        w = w.bucketBy(node.config.buckets, cols[0], *cols[1:]).sortBy(cols[0], *cols[1:])
    return w


def _view(project: Project, node: Node, rel: str) -> bool:
    """Persistent catalog view for SQL-string models whose refs are all
    persisted relations (the compiled text is then self-contained —
    the reference's default materialization, dbt_project.yml:36).
    DataFrame models (and SQL models over ephemeral upstreams) have no
    recoverable SQL text → they stay virtual (lazy frame), which is
    exactly a view's recompute-on-read semantics within the session."""
    if node.sql is not None and all(
        dep in project._materialized for dep in node.depends_on
    ):
        project.spark.sql(f"CREATE OR REPLACE VIEW {rel} AS {project.resolve_sql(node)}")
        return True
    return False


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


def _microbatch(
    project: Project, node: Node, rel: str, df: DataFrame, exists: bool
) -> None:
    """dbt 1.9's microbatch incremental strategy, on plain parquet.

    The model's frame is split into ``batch_size`` periods of its
    ``event_time`` column; each run (re)builds only the periods in its
    processing window and leaves every other period untouched. The
    engine adds a STRING partition column ``dbt_event_batch``
    (``date_format(date_trunc(batch_size, event_time))``), the last
    partition column after ``partition_by``, so a period rebuild is
    partition DDL + a bounded append — never a table rewrite:

    - initial build: everything from ``begin`` (dbt's required anchor)
      partitioned by batch.
    - incremental run: window start = (max landed batch − ``lookback``
      periods) — dbt's late-arrival allowance — or the explicit
      ``event_time_start`` passed to :meth:`Project.run`; window end =
      explicit ``event_time_end`` or open. The landed partitions inside
      the window are DROPped, then the frame, filtered to the same
      window, is appended. A window period whose restated source is now
      empty is therefore genuinely cleared, matching dbt's
      rebuild-from-source semantics.

    Both writes go through the node's layout (``_writer``), so
    ``cluster_by``, ``zorder_by`` and ``bucket_by`` apply here as to
    every other strategy.

    Divergence, documented: dbt executes one query per batch for retry
    granularity; we land the whole window in ONE write job (same final
    state, fewer jobs) — per-batch retry is recovered by re-running with
    an explicit ``event_time_start``/``event_time_end`` window. At
    100 TB the per-ingest cost is O(window data) + partition metadata
    ops, and consumers get partition pruning on ``dbt_event_batch`` for
    free.
    """
    spark = project.spark
    cfg = node.config.extra
    unit = cfg.get("batch_size", "day")
    if unit not in _BATCH_FMT:
        raise ValueError(
            f"{node.name}: batch_size must be one of {sorted(_BATCH_FMT)}"
        )
    fmt = _BATCH_FMT[unit]
    start, end = getattr(project, "_event_time_window", (None, None))
    part_cols = _partition_cols(node)
    # one listing of the landed (partition_by..., batch) specs: it
    # anchors the lookback window and names every partition to drop.
    # It reads only partition columns, so it costs file metadata.
    landed = (
        spark.table(rel).select(*part_cols).distinct().collect() if exists else []
    )
    batches = [r[BATCH_COL] for r in landed if r[BATCH_COL] is not None]
    if start is not None:
        start = _fmt_batch(spark, start, unit)
    elif batches:
        # max landed batch − lookback periods, in the batch grid
        start = spark.sql(
            f"SELECT date_format(to_timestamp('{max(batches)}', '{fmt}')"
            f" - INTERVAL {int(cfg.get('lookback', 1))} {unit.upper()}, '{fmt}')"
        ).first()[0]
    elif cfg.get("begin"):
        start = _fmt_batch(spark, cfg["begin"], unit)
    if end is not None:
        end = _fmt_batch(spark, end, unit)

    rows = df.withColumn(
        BATCH_COL,
        F.date_format(F.date_trunc(unit, F.col(cfg["event_time"]).cast("timestamp")), fmt),
    )
    if start is not None:
        rows = rows.filter(F.col(BATCH_COL) >= start)
    if end is not None:
        rows = rows.filter(F.col(BATCH_COL) <= end)
    if not exists:
        _create(project, node, rel, rows)
        return

    def _part_lit(v) -> str:
        # NULL partitions drop via an unquoted null literal (matches
        # __HIVE_DEFAULT_PARTITION__, verified empirically); quoted
        # values escape backslash-then-quote so a value like "it's"
        # neither breaks the SQL nor silently matches nothing.
        if v is None:
            return "null"
        s = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{s}'"

    # FULL specs: a partial one (only the batch column) is a silent
    # no-op on Spark's in-memory catalog when the table is also
    # partitioned by partition_by, and the append would then duplicate
    # every row of each rebuilt period. A window period with no landed
    # partition needs no DROP: the append alone creates it.
    specs = [
        "PARTITION (" + ", ".join(f"{c}={_part_lit(r[c])}" for c in part_cols) + ")"
        for r in landed
        if r[BATCH_COL] is not None
        and (start is None or r[BATCH_COL] >= start)
        and (end is None or r[BATCH_COL] <= end)
    ]
    if specs:  # one statement for all rebuilt periods, not one each
        spark.sql(f"ALTER TABLE {rel} DROP IF EXISTS {', '.join(specs)}")
    _writer(node, _align(rows, spark.table(rel).schema)).mode("append").saveAsTable(rel)
    spark.sql(f"REFRESH TABLE {rel}")


def _fmt_batch(spark, value: str, unit: str) -> str:
    """Normalize a user timestamp/date string onto the batch grid."""
    return spark.sql(
        f"SELECT date_format(date_trunc('{unit}', TIMESTAMP '{value}'), "
        f"'{_BATCH_FMT[unit]}')"
    ).first()[0]


def _incremental(project: Project, node: Node, rel: str, df: DataFrame) -> None:
    """B3 update of an existing table: append / insert_overwrite /
    merge / delete+insert, without MERGE INTO."""
    spark = project.spark
    strategy = node.config.incremental_strategy
    if strategy in ("merge", "delete+insert"):
        _swap_in(project, rel, merge_plan(project, node, df), node)
        return
    target, evolved = _evolved_schema(project, node, rel, df)
    df = _align(df, target)
    if strategy == "append":
        if evolved:
            have = spark.table(rel).columns
            if set(have) <= {f.name for f in target.fields}:
                # pure column addition: physical ALTER, then append — no rewrite
                adds = ", ".join(
                    f"{f.name} {f.dataType.simpleString()}"
                    for f in target.fields
                    if f.name not in have
                )
                if adds:
                    spark.sql(f"ALTER TABLE {rel} ADD COLUMNS ({adds})")
            else:
                # column removal on plain parquet = rewrite: align history
                # to the new schema once, then append below
                _swap_in(project, rel, _align(spark.table(rel), target), node)
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
    raise ValueError(f"unknown incremental strategy: {strategy}")


def merge_plan(project: Project, node: Node, df: DataFrame) -> DataFrame:
    """The rows a merge / delete+insert run swaps in over the existing
    table, after ``on_schema_change``: ``existing ANTI-JOIN batch ∪
    batch`` (dbt's delete+insert — delete target rows matching the
    batch's keys, insert the batch — is semantically the same rewrite,
    so one plan). :func:`materialize` passes the batch after its
    identity gate; the streaming bridge
    (``streaming.pipeline.run_into_incremental``) builds the same plan
    to check its scale before the first merge trigger executes it."""
    spark = project.spark
    rel = project.relation_name(node)
    keys = _keys(node)
    if not keys:
        raise ValueError(
            f"{node.name}: {node.config.incremental_strategy} strategy "
            "requires unique_key"
        )
    target, _ = _evolved_schema(project, node, rel, df)
    df = _align(df, target)
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


def _snapshot(
    project: Project, node: Node, rel: str, df: DataFrame, exists: bool
) -> None:
    """B5: SCD2 snapshot — validity-interval capture on plain parquet.

    timestamp strategy: a row is 'changed' when its updated_at advanced
    past the open version's; check strategy: when any check_col differs.
    Changed keys close their open row (dbt_valid_to = new updated_at) and
    insert a new open version. New keys insert an open version.
    """
    keys = _keys(node)
    cfg = node.config.extra
    strategy = cfg.get("strategy", "timestamp")
    updated_at = cfg.get("updated_at")
    if strategy == "timestamp" and not updated_at:
        raise ValueError(f"{node.name}: timestamp snapshots need updated_at=")

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

    if not exists:
        _create(project, node, rel, new)
        return

    current = project.spark.table(rel)
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
        # and silently rolling the key backwards. Equal
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
    _create(project, node, staging, df)
    spark.sql(f"DROP TABLE IF EXISTS {rel}")
    spark.sql(f"ALTER TABLE {staging} RENAME TO {rel}")
    if node.config.partition_by:
        # RENAME moves the table dir but catalog partition entries keep
        # their pre-rename locations → scans see 0 rows. Partition
        # discovery re-registers them (a file listing — cheap next to
        # the write we just did).
        spark.sql(f"MSCK REPAIR TABLE {rel}")
    spark.sql(f"REFRESH TABLE {rel}")
