"""Table maintenance — compaction (the no-Delta OPTIMIZE analog).

Incremental appends (materialize._incremental 'append') accumulate one
file set per batch; after thousands of micro-batches a 100 TB table is
millions of small files and scan planning + open() overhead dominate.
``compact_table`` rewrites a managed parquet table to ~target-sized
files, preserving the partition layout, via the same staging-swap used
by materializations (write new, catalog-rename — readers never see a
partial table).
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_foundation_spark.checkpoint import pin
from dbt_foundation_spark.operators import tombstones as tlog
from dbt_foundation_spark.operators.index_core import Sub, open_index
from dbt_foundation_spark.operators.tombstones import (
    _hadoop,
    _has_data_file,
    _iter_visible_statuses,
    append_marker_path,
    assert_literal_path,
    compaction_marker_path,
    revive_marker_path,
    zero_byte_files,
)


def _file_stats(df) -> dict:
    """(n_files, total_bytes) from the ``_metadata`` hidden columns of
    an already-loaded DataFrame — dedup per file on the executors,
    aggregate, fetch ONE row (shared by table and path stats; no
    per-file driver collect)."""
    row = (
        df.select(
            F.col("_metadata.file_path").alias("_p"),
            F.col("_metadata.file_size").alias("_s"),
        )
        .groupBy("_p")
        .agg(F.first("_s").alias("_s"))
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("_s").alias("total_bytes"),
        )
        .first()
    )
    return {
        "n_files": int(row["n_files"]),
        "total_bytes": int(row["total_bytes"] or 0),
    }


def table_file_stats(spark: SparkSession, relation: str) -> dict:
    """(n_files, total_bytes) for a managed parquet table's data files
    (see :func:`_file_stats` for the distributive mechanics)."""
    return _file_stats(spark.table(relation))


def _partition_cols(desc: list) -> list[str]:
    """Partition column names from ``DESCRIBE TABLE EXTENDED`` rows —
    the section between ``# Partition Information`` and the next
    ``#``-header."""
    cols: list[str] = []
    in_part_section = False
    for r in desc:
        name = (r["col_name"] or "").strip()
        if name.startswith("# Partition Information"):
            in_part_section = True
            continue
        if in_part_section:
            if name.startswith("# col_name") or not name:
                continue
            if name.startswith("#"):
                break
            cols.append(name)
    return cols


def compact_table(
    spark: SparkSession,
    relation: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: tuple[str, ...] = (),
    zorder_by: tuple[str, ...] = (),
) -> dict:
    """Rewrite ``relation`` into ceil(total/target) files (per partition
    layout if ``partition_by`` given). Returns before/after stats.

    ``zorder_by`` range-partitions on the Morton key and sorts within
    each file — Delta's ``OPTIMIZE ZORDER BY``: compaction and
    multi-dimensional re-clustering in the same rewrite (the two always
    ship together because both are full-data rewrites; see
    operators/layout.py for the skipping math). Mutually exclusive with
    ``partition_by``.

    Bucketed tables must not be compacted this way (the rewrite would
    drop the bucket spec) — detect and refuse.

    Crash recovery: the install swap is DROP target → RENAME staging,
    and Spark's session catalog cannot make that pair atomic — a crash
    between the two leaves no table at ``relation`` and the COMPLETE
    compacted copy at ``{relation}__compact_tmp``. This function
    detects that state on entry and installs the staging copy before
    doing anything else, so re-running compaction is always the fix
    (the same restore-on-rerun contract as
    :func:`compact_parquet_path`). The gap still exists for readers
    DURING the window — schedule compaction in a maintenance window,
    as with every non-transactional layout change.
    """
    if partition_by and zorder_by:
        raise ValueError("pass either partition_by or zorder_by, not both")
    staging = f"{relation}__compact_tmp"
    if not spark.catalog.tableExists(relation) and spark.catalog.tableExists(
        staging
    ):
        # previous run crashed between DROP and RENAME: staging holds
        # the complete compacted table — install it, then carry on with
        # a normal (idempotent) compaction pass over the restored data.
        # MSCK is decided from the RESTORED table's own partition spec,
        # not this call's partition_by: a recovery invocation whose
        # arguments differ from the crashed run's would otherwise MSCK
        # a non-partitioned table (AnalysisException mid-recovery) or
        # skip a needed repair — the spec-mismatch validation below
        # still fires afterward for THIS run's rewrite.
        spark.sql(f"ALTER TABLE {staging} RENAME TO {relation}")
        restored_desc = spark.sql(
            f"DESCRIBE TABLE EXTENDED {relation}"
        ).collect()
        if _partition_cols(restored_desc):
            spark.sql(f"MSCK REPAIR TABLE {relation}")
        spark.sql(f"REFRESH TABLE {relation}")
    desc = spark.sql(f"DESCRIBE TABLE EXTENDED {relation}").collect()
    if any("Num Buckets" in (r["col_name"] or "") for r in desc):
        raise ValueError(f"{relation} is bucketed; compaction would drop the bucket spec")
    # the rewrite writes whatever layout it is told — a hive-partitioned
    # table compacted without its partition columns would come back
    # FLAT (partition pruning silently gone), so the declared
    # partition_by must match the catalog's spec
    table_parts = _partition_cols(desc)
    if tuple(table_parts) != tuple(partition_by):
        raise ValueError(
            f"{relation} is partitioned by {table_parts} but compaction "
            f"was asked to write {list(partition_by)} — pass the table's "
            "own partition columns (z-ordering a partitioned table is "
            "unsupported: it would flatten the partition spec)"
        )

    before = table_file_stats(spark, relation)
    n_out = max(1, math.ceil(before["total_bytes"] / target_file_bytes))

    df = spark.table(relation)
    spark.sql(f"DROP TABLE IF EXISTS {staging}")
    if zorder_by:
        from dbt_foundation_spark.operators.layout import zorder_repartition

        shaped = zorder_repartition(df, list(zorder_by), n_out)
    elif partition_by:
        shaped = df.repartition(n_out, *partition_by)
    else:
        shaped = df.repartition(n_out)
    writer = shaped.write.format("parquet")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.mode("overwrite").saveAsTable(staging)
    spark.sql(f"DROP TABLE IF EXISTS {relation}")
    spark.sql(f"ALTER TABLE {staging} RENAME TO {relation}")
    if partition_by:
        spark.sql(f"MSCK REPAIR TABLE {relation}")
    spark.sql(f"REFRESH TABLE {relation}")
    after = table_file_stats(spark, relation)
    return {"before": before, "after": after, "target_files": n_out}


def vacuum_stale(
    spark: SparkSession,
    older_than_seconds: float = 7 * 86400,
    dry_run: bool = False,
) -> list[str]:
    """Delete ``*._stale_*`` directories parked in the warehouse by
    materialize._clear_stale_location (which renames orphaned managed
    locations aside instead of deleting them — recoverable by design).

    The retention window is the recovery budget: only stale dirs whose
    rename happened more than ``older_than_seconds`` ago (mtime) are
    removed, mirroring Delta's VACUUM contract. ``dry_run`` lists
    without deleting. Local-filesystem warehouses only — exactly the
    scope in which the rename-aside happens."""
    import shutil
    import time
    from pathlib import Path
    from urllib.parse import urlparse

    uri = urlparse(spark.conf.get("spark.sql.warehouse.dir", "") or "")
    if uri.scheme not in ("", "file") or not uri.path:
        return []
    base = Path(uri.path)
    if not base.exists():
        return []
    cutoff = time.time() - older_than_seconds
    removed: list[str] = []
    for cand in base.glob("**/*._stale_*"):
        if not cand.is_dir() or cand.stat().st_mtime > cutoff:
            continue
        if not dry_run:
            shutil.rmtree(cand)  # failures surface — no ignore_errors
        removed.append(str(cand))
    return sorted(removed)


def analyze_tables(
    spark: SparkSession,
    relations: list[str],
    columns: dict[str, list[str]] | None = None,
) -> dict[str, dict]:
    """ANALYZE TABLE for a set of managed relations — the cost-based-
    optimizer feed (dbt's closest analog is a post-hook; here it is a
    first-class maintenance op).

    Table-level stats (sizeInBytes, rowCount) let Catalyst pick
    broadcast sides and reorder joins from MEASURED sizes instead of
    file-size guesses; per-column stats (ndv, min/max, null count) feed
    selectivity estimates for filter cardinality. At 100 TB the scan
    cost of ANALYZE is amortized over every downstream plan decision;
    run it after large rebuilds/compactions, not per query.

    Returns {relation: {"row_count": n, "size_bytes": n}} read back from
    the catalog so callers can assert stats actually landed."""
    out: dict[str, dict] = {}
    for rel in relations:
        spark.sql(f"ANALYZE TABLE {rel} COMPUTE STATISTICS")
        cols = (columns or {}).get(rel)
        if cols:
            collist = ", ".join(cols)
            spark.sql(f"ANALYZE TABLE {rel} COMPUTE STATISTICS FOR COLUMNS {collist}")
        desc = {
            r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {rel}").collect()
        }
        stats = desc.get("Statistics", "")
        size = rows = None
        for part in stats.split(","):
            part = part.strip()
            if part.endswith("bytes"):
                size = int(part.split()[0])
            if part.endswith("rows"):
                rows = int(part.split()[0])
        out[rel] = {"row_count": rows, "size_bytes": size}
    return out


def _listing(spark: SparkSession, path: str) -> tuple[list, list[str]]:
    """``(healthy, torn)`` from one walk by the read rule: the statuses
    of the non-empty data files a read scans (summary footers excluded)
    and the sorted paths of the 0-byte tears (:func:`zero_byte_files`)."""
    p, fs = _hadoop(spark, path)
    healthy, torn = [], []
    for st in _iter_visible_statuses(fs, p) if fs.exists(p) else ():
        if st.getLen() == 0:
            torn.append(st.getPath().toString())
        elif not st.getPath().getName().startswith("_"):
            healthy.append(st)
    return healthy, sorted(torn)


def _stats(healthy: list) -> dict:
    n_bytes = sum(st.getLen() for st in healthy)
    return {"n_files": len(healthy), "total_bytes": n_bytes}


def parquet_path_stats(spark: SparkSession, path: str) -> dict:
    """(n_files, total_bytes) of a path-based parquet dataset (the
    persisted indexes live outside the catalog) from one file listing,
    no Spark job: the visible, non-zero-byte data files by the
    hidden-path rule reads use (``_SUCCESS``, ``_temporary/``, dot-files
    are not data). Footer-only 0-row files count, unlike in
    :func:`table_file_stats`, whose aggregate sees only files with rows."""
    return _stats(_listing(spark, path)[0])


def _has_data_files(spark: SparkSession, path: str) -> bool:
    """True if any non-hidden file exists under ``path`` (recursive) —
    a pure FileSystem listing, no Spark job. Delegates to the single
    shared probe (tombstones._has_data_file) so the two can't drift."""
    return _has_data_file(spark, path)


def compact_parquet_path(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    cluster_by: tuple[str, ...] = (),
    zorder_by: tuple[str, ...] = (),
    partition_by: tuple[str, ...] = (),
    distinct_rows: bool = False,
    minus_ids: DataFrame | None = None,
    minus_col: str | Callable | None = None,
) -> dict:
    """Rewrite a path-based parquet dataset into ceil(total/target)
    files, preserving key clustering when ``cluster_by`` is given (the
    rewrite hash-partitions on those keys, so a (band, bucket)-clustered
    index stays join-key-clustered after compaction).

    ``zorder_by`` instead RANGE-partitions on the Morton key over the
    named columns and sorts within each file — the Delta ``OPTIMIZE
    ZORDER BY`` shape: output files cover disjoint key ranges, so
    parquet row-group min/max stats skip on EVERY z-column
    (operators/layout.py holds the key math). Mutually exclusive with
    ``cluster_by`` — one rewrite, one layout goal.

    Swap is write-aside + two renames through the Hadoop FileSystem API
    (atomic per rename on local/HDFS; on S3-style stores rename is
    copy+delete — schedule compaction in the same maintenance window as
    every other non-transactional layout change; :func:`compact_table`
    carries the same window for its catalog swap and the same
    restore-on-rerun recovery). Returns before/after
    stats so callers can assert the shrink.

    ``minus_col`` may be a function of the read schema. The stats are
    listings by :func:`parquet_path_stats`' rule (footer-only 0-row
    files count, 0-byte tears do not); the ``before`` listing also finds
    the tears, which the rewrite names in a warning and does not read.

    Crash recovery: a run that died between its two renames leaves the
    dataset parked at ``{path}__compact_old`` and nothing at ``path`` —
    the next invocation detects that state and restores it before doing
    anything else, so re-running compaction is always the fix."""
    assert_literal_path(path, "dataset path")
    base = path.rstrip("/")
    tmp, old = f"{base}__compact_tmp", f"{base}__compact_old"
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(base)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    old_p = jvm.org.apache.hadoop.fs.Path(old)
    if not fs.exists(hpath) and fs.exists(old_p):
        # previous swap crashed between rename-aside and install
        if not fs.rename(old_p, hpath):
            raise IOError(f"could not restore {old} to {base}")

    if sum(map(bool, (cluster_by, zorder_by, partition_by))) > 1:
        raise ValueError(
            "pass at most one of cluster_by / zorder_by / partition_by"
        )
    # torn-file accounting: Spark reads a ZERO-BYTE part
    # file as silently empty, so this rewrite would fold it away with
    # no signal — compaction IS the documented heal for torn residue,
    # but the fold must be loud (the no-silent-caps rule): the operator
    # has to be able to notice data may have been lost. Non-empty torn
    # files are not detectable from metadata; they fail the read below
    # with parquet's magic-number error naming the file. The same
    # listing sizes the rewrite: no stats job.
    healthy, torn = _listing(spark, base)
    reader, sources = spark.read, [path]
    if torn:
        import logging

        logging.getLogger("dbt_foundation_spark").warning(
            "%s: folding away %d zero-byte torn part file(s) during "
            "compaction: %s — verify these were crash residue, not data "
            "that should exist (a torn file's rows are unrecoverable "
            "from here)",
            base,
            len(torn),
            ", ".join(torn),
        )
        if not healthy:
            raise RuntimeError(f"{base}: every data file is torn; no schema left")
        # schema inference samples the FIRST file in path order, and a
        # 0-byte footer kills it: read the healthy files only, with
        # basePath so hive partition columns survive
        reader = reader.option("basePath", base)
        sources = [st.getPath().toString() for st in healthy]
    before = _stats(healthy)
    n_out = max(1, math.ceil(before["total_bytes"] / target_file_bytes))
    df = reader.parquet(*sources)
    if callable(minus_col):
        minus_col = minus_col(df.schema)
    if distinct_rows:
        # set-semantic datasets (e.g. the IVF lists): fold away
        # byte-identical rows left by a crash-window batch replay
        df = df.dropDuplicates()
    if minus_ids is not None:
        # tombstone fold (operators/tombstones.py): physically drop the
        # retracted rows during the rewrite that was happening anyway —
        # broadcast anti-join, the log is takedown-sized
        if not minus_col:
            raise ValueError("minus_ids requires minus_col")
        df = df.join(
            F.broadcast(minus_ids.toDF("__tomb_id").distinct()),
            on=F.col(minus_col) == F.col("__tomb_id"),
            how="left_anti",
        )
    writer_partition: tuple[str, ...] = ()
    if zorder_by:
        from dbt_foundation_spark.operators.layout import zorder_repartition

        out = zorder_repartition(df, list(zorder_by), n_out)
    elif cluster_by:
        out = df.repartition(n_out, *cluster_by)
    elif partition_by:
        # hive-partitioned dataset (e.g. the IVF lists): the rewrite
        # must re-declare the partition columns or it would flatten
        # them into data columns and kill the reader's directory
        # pruning. repartition on the keys -> each partition dir gets
        # ONE file per task that holds its key, i.e. the micro-file
        # sets fold to ~1 file per partition value.
        out = df.repartition(n_out, *partition_by)
        writer_partition = tuple(partition_by)
    else:
        out = df.repartition(n_out)
    w = out.write.mode("overwrite")
    if writer_partition:
        w = w.partitionBy(*writer_partition)
    w.parquet(tmp)
    if writer_partition and not _has_data_files(spark, tmp):
        # the rewrite emptied a hive-partitioned dataset (e.g. a
        # tombstone fold retracted every row): a partitionBy write of
        # zero rows emits NO partition dirs and NO schema-bearing file,
        # leaving the dataset unreadable (UNABLE_TO_INFER_SCHEMA) for
        # every later read AND for the `after` stats below. Park the
        # schema in a sentinel partition dir (col=-1) holding one
        # footer-only empty file: readers see 0 rows with the partition
        # column intact, appends lay real partition dirs beside it, and
        # the next non-empty compaction folds the sentinel away.
        sentinel = "/".join(f"{c}=-1" for c in writer_partition)
        out.drop(*writer_partition).limit(0).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/{sentinel}")

    # any OTHER stale __compact_old (base still live) is a fully
    # superseded copy from a crash after install — drop it, else the
    # rename-aside below fails forever
    fs.delete(old_p, True)
    if not fs.rename(hpath, jvm.org.apache.hadoop.fs.Path(old)):
        raise IOError(f"compaction swap failed renaming {base} aside")
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), hpath):
        # roll back so the dataset never stays missing
        fs.rename(jvm.org.apache.hadoop.fs.Path(old), hpath)
        raise IOError(f"compaction swap failed installing {tmp}")
    fs.delete(jvm.org.apache.hadoop.fs.Path(old), True)
    after = parquet_path_stats(spark, path)
    return {"before": before, "after": after, "target_files": n_out}




def compact_index(
    spark: SparkSession,
    index_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Compact every dataset of a persisted dedup/ANN index
    (operators/index_core.py) — each ``append_to_*`` ingest adds one
    file set per dataset, so a year of daily ingests is ~365 small
    files per dataset; this folds them back to target-sized files
    WITHOUT losing the clustering the batch-vs-index join relies on.
    Flavor (and hence layout + cluster keys) comes from the index
    manifest, and an unknown flavor is refused before any marker goes
    down; pre-manifest indexes must compact their datasets
    individually via :func:`compact_parquet_path`.

    Compaction is also where tombstoned documents
    (operators/tombstones.py: ``retract_from_index``) are PHYSICALLY
    removed: each doc-keyed sub-dataset's rewrite anti-joins the log,
    and the log is cleared once every sub-dataset holds live rows
    only.

    Concurrency matrix: compaction excludes revives (__reviving) and
    appends (__appending) via the symmetric marker handshakes; it does
    NOT exclude a second concurrent compact_index — the __compacting
    marker is deliberately restorable (mkdirs is idempotent and a
    pre-existing marker means "finish the crashed fold", the
    heal-by-rerun contract), so two LIVE compactions would both
    proceed and could interleave their directory swaps destructively.
    Run index maintenance from ONE scheduler; this is the same
    single-maintainer assumption every lease-less marker scheme
    carries (a create-exclusive run-claim would brick the crashed-fold
    re-run path, the more common event by far)."""
    idx = open_index(spark, index_path)
    if idx.manifest is None:
        raise ValueError(
            f"{index_path} has no manifest — compact each dataset "
            "directly with compact_parquet_path"
        )
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(index_path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    # __compacting marker: held for the whole rewrite so a concurrent
    # REVIVE (clear_tombstones with ids) raises instead of silently
    # losing rows already folded against the pre-revive snapshot.
    # Symmetric write-then-check handshake with the revive's
    # __reviving marker (tombstones.revive_marker_path): our marker
    # goes down FIRST, then we test for a revive — so of two ops
    # starting concurrently at least one is guaranteed to see the
    # other and raise. Deliberately NOT in a try/finally: a compaction
    # that fails has possibly rewritten some sub-datasets, so revives
    # must stay blocked until a re-run completes the fold — the marker
    # clears at the END, with the snapshot clear. Retraction is never
    # blocked.
    marker = jvm.org.apache.hadoop.fs.Path(compaction_marker_path(index_path))
    # a marker that existed BEFORE this run is a crashed compaction's
    # deliberate guard over half-rewritten datasets — a conflict below
    # must NOT withdraw it (mkdirs is an idempotent no-op on it, so
    # "we created it" cannot be inferred after the fact)
    stale_marker = fs.exists(marker)
    fs.mkdirs(marker)
    reviving = jvm.org.apache.hadoop.fs.Path(revive_marker_path(index_path))
    if fs.exists(reviving):
        if not stale_marker:
            # THIS run created the marker and has rewritten nothing
            # yet, so withdrawing it is safe; a stale one stays to keep
            # guarding the earlier crash's half-rewritten state
            fs.delete(marker, True)
        raise RuntimeError(
            f"{index_path}: a revive is in progress (or a crashed "
            "revive needs re-running) — __reviving marker present. "
            "Compacting now would fold a log that may hold survivors "
            "next to not-yet-deleted originals. Finish or re-run the "
            "revive (which clears the marker), then compact. If BOTH "
            "__reviving and __compacting are crash leftovers (no op "
            "live — index_stats lists them), the re-run directions are "
            "circular; rebuild the index (re-running its build_*_index "
            "resets both markers) — the only LOSSLESS escape, since "
            "sub-datasets a crashed compaction already rewrote have "
            "physically dropped their tombstoned rows and no revive can "
            "restore them. The in-place alternative (after confirming nothing "
            "is running: delete the stale __compacting marker "
            "directory, re-run the revive FIRST — its half-folded log "
            "must complete before any compaction folds it — then "
            "compact_index) may report revive success for ids whose "
            "rows are already gone from the rewritten sub-datasets."
        )
    # __appending: the mirror half of the append
    # exclusion — appends claim their marker then check ours, we create
    # ours (above) then check theirs, so of two ops starting
    # concurrently at least one sees the other and raises. Without
    # this, an append landing files between compact_parquet_path's
    # read-snapshot and its directory rename-aside is silently
    # destroyed with the old directory.
    appending = jvm.org.apache.hadoop.fs.Path(append_marker_path(index_path))
    if fs.exists(appending):
        if not stale_marker:
            fs.delete(marker, True)
        # when OUR marker was also a crash leftover (stale_marker), the
        # two messages would otherwise point at each other ("let the
        # append finish" here vs "re-run compact_index" on the append
        # side) — name the manual-heal order explicitly
        both_stale = (
            " BOTH __appending and __compacting are present and this "
            "run created neither, so both are crash leftovers and the "
            "re-run directions are circular; manual heal, in order: "
            "verify nothing is running against the index, delete the "
            "__appending marker directory, re-run the append to "
            "completion (replayed rows fold as byte-identical "
            "duplicates), then re-run compact_index (which clears the "
            "stale __compacting marker when it completes)."
            if stale_marker
            else ""
        )
        raise RuntimeError(
            f"{index_path}: an append is in flight (or a crashed one "
            "left its claim) — __appending marker present. Compacting "
            "now would destroy the append's in-flight files in the "
            "directory swap. Let the append finish; if its process "
            "died, verify nothing is appending, delete the "
            "__appending marker, re-run the append (replayed rows fold "
            "as byte-identical duplicates here), then compact."
            + both_stale
        )
    # tombstone fold: compaction is where logical takedowns become
    # physical. Loaded ONCE and pinned — the log's own files
    # must not be re-read mid-loop (clear_tombstones below deletes them
    # while compacted sub-datasets may still be lazily evaluated).
    # A raise here (e.g. the torn-log refusal) happens before anything
    # was rewritten, so OUR fresh marker is withdrawn like the sibling
    # conflict paths above — else a torn log would orphan a
    # __compacting marker that blocks every append with a misleading
    # "compaction in flight"; a stale marker stays, it
    # guards an earlier crash's half-rewritten state.
    try:
        tomb = idx.tombstones()
    except Exception:
        if not stale_marker:
            fs.delete(marker, True)
        raise
    if tomb is not None:
        tomb = pin(tomb, eager=True)

    def _compact_sub(sub: Sub) -> dict | None:
        sub_path = f"{index_path}/{sub.name}"
        # optional sub-datasets (the ivf ingest_log exists only for
        # stream-maintained indexes) are skipped, not errors — but a
        # sub-dataset PARKED at __compact_old by a crashed swap is NOT
        # absent: skipping it here would leave the index permanently
        # half-missing while this re-run "succeeds". So the restore runs
        # HERE; compact_parquet_path's own restore-on-entry then no-ops.
        sub_p = jvm.org.apache.hadoop.fs.Path(sub_path)
        old_p = jvm.org.apache.hadoop.fs.Path(f"{sub_path}__compact_old")
        if not fs.exists(sub_p):
            if not fs.exists(old_p):
                return None
            if not fs.rename(old_p, sub_p):
                raise IOError(
                    f"could not restore parked {sub_path}__compact_old "
                    f"to {sub_path}"
                )
        # the id column only matters when there is a log to fold; a
        # schema-dependent one (IVF lists) resolves on the rewrite's read
        doc_col = sub.doc_id if tomb is not None else None
        return compact_parquet_path(
            spark,
            sub_path,
            target_file_bytes,
            **{("partition_by" if sub.partitioned else "cluster_by"): sub.keys},
            distinct_rows=sub.distinct_on_compact,
            minus_ids=tomb if doc_col else None,
            minus_col=doc_col,
        )

    # sub-datasets compact CONCURRENTLY: each fold touches only its
    # own directory (read snapshot → write-aside → rename swap), and a
    # serial loop would queue 2-4 small read+write jobs behind each
    # other plus their driver planning gaps (~40 jobs per minhash
    # compact at sf0.1, ~45% of it driver gap). Spark's scheduler
    # interleaves jobs from threads. Crash contract: any sub's failure
    # propagates (first exception re-raised), the __compacting marker
    # stays, and a re-run completes the remaining folds in any order.
    from concurrent.futures import ThreadPoolExecutor

    out = {}
    with ThreadPoolExecutor(max_workers=max(1, len(idx.subs))) as pool:
        futures = {sub.name: pool.submit(_compact_sub, sub) for sub in idx.subs}
    for sub, fut in futures.items():
        res = fut.result()  # re-raises the sub's failure, serial-loop style
        if res is not None:
            out[sub] = res
    if tomb is not None:
        # the folded ids are now physically gone, so remove exactly
        # THEM from the log — not the whole log: a retract_from_index
        # batch appended while this (long) compaction ran is not in the
        # snapshot, was not folded, and must keep subtracting until the
        # next compaction folds it. Crash earlier in this function =
        # log survives, folded datasets re-subtract harmlessly
        # (anti-join matches nothing), next run finishes; the subset
        # clear itself installs via the write-aside rename swap.
        tlog.clear_tombstones(spark, index_path, ids=tomb, _during_compaction=True)
    fs.delete(marker, True)
    return out


def index_stats(spark: SparkSession, index_path: str) -> dict:
    """One operational summary for a persisted index — the "DESCRIBE
    DETAIL" of the index family: flavor + build parameters from the
    manifest, per-sub-dataset file stats (the compaction signal: file
    count grows by one set per ingest), and the live tombstone count
    (the fold-pending signal). Metadata-only: file listings plus the
    one-row manifest and the takedown-sized log — no corpus scan;
    dataset stats follow :func:`parquet_path_stats`' listing rule.

    Returns ``{"flavor", "params", "datasets": {sub: {"n_files",
    "total_bytes"}}, "missing_datasets": [...], "tombstones": n,
    "crash_leftovers": [...]}``; absent sub-datasets are omitted from
    ``datasets`` AND named in ``missing_datasets`` (never a
    silent subset) — for the ivf ingest_log that is the normal
    batch-built shape, for any other sub it means mid-swap/crashed
    compaction (check ``crash_leftovers`` for ``__compacting`` or the
    sub's ``__compact_old``) or a damaged store. Zero-byte torn data
    files are reported per file in ``crash_leftovers``,
    and a torn TOMBSTONE-LOG file also sets ``tombstones`` to None —
    the retraction count is unknowable, never a silent 0. ``crash_leftovers`` lists any ``__compact_tmp`` /
    ``__compact_old`` / ``__revive_tmp`` / ``__compacting`` /
    ``__reviving`` directories and any ``__appending`` marker file
    present — each means a maintenance op or append is IN FLIGHT or
    died mid-operation (this is a point-in-time listing, not a
    liveness check: a busy streaming ingest holds ``__appending``
    during every micro-batch, so that entry appearing transiently on
    a healthy stream-fed index is NORMAL — alert on it only if it
    persists across samples with no ingest running). Every leftover
    heals by simply RE-RUNNING the op (compaction restores/supersedes
    its own residue and clears the marker that blocks revives; a
    crashed revive's marker clears when the revive re-runs; a revive
    tmp is superseded scratch the next clear deletes; a streaming
    append reclaims its own marker on restart, a crashed BATCH
    append's marker is deleted manually per its raise message before
    the re-run), so a persistent entry is a "re-run maintenance"
    signal, not damage."""
    idx = open_index(spark, index_path)
    if idx.manifest is None:
        raise ValueError(
            f"{index_path} has no manifest — not a (post-manifest) "
            "persisted index; inspect datasets directly with "
            "parquet_path_stats"
        )
    subs = [sub.name for sub in idx.subs]
    root, fs = _hadoop(spark, index_path)
    # one listing per sub-dataset gives its stats and its zero-byte
    # tears, which a read treats as silently empty: the query paths
    # REFUSE on them (guarded_sub_read / read_tombstones); the describe
    # tool reports them. A sub with no healthy file (absent, an empty
    # husk, torn throughout) is named in missing_datasets.
    datasets: dict[str, dict] = {}
    torn: dict[str, list[str]] = {}
    for sub in subs:
        healthy, torn[sub] = _listing(spark, f"{index_path}/{sub}")
        if healthy:
            datasets[sub] = _stats(healthy)
    tomb_torn = torn["tombstones"] = zero_byte_files(
        spark, f"{index_path}/tombstones"
    )
    torn_entries = [
        f"{sub}/{f.rsplit('/', 1)[-1]} (0-byte torn file)"
        for sub, files in torn.items()
        for f in files
    ]
    if tomb_torn:
        # the log is damaged: its id count is unknowable (the torn
        # file's retractions may be lost) — None, never a silent 0
        tomb_count: int | None = None
    else:
        tomb = idx.tombstones()
        tomb_count = 0 if tomb is None else tomb.count()
    # crash-leftover scan: one directory listing of the index root —
    # swap residue is always a SIBLING of the dataset it was swapping
    suffixes = (
        "__compact_tmp",
        "__compact_old",
        "__revive_tmp",
        "__compacting",
        "__reviving",
    )
    leftovers = sorted(
        st.getPath().getName()
        for st in fs.listStatus(root)
        if (st.isDirectory() and st.getPath().getName().endswith(suffixes))
        # the append claim is a FILE (atomic create-exclusive), not a dir
        or st.getPath().getName() == "__appending"
    )
    return {
        "flavor": idx.flavor,
        "params": {k: v for k, v in idx.manifest.items() if k != "flavor"},
        "datasets": datasets,
        "missing_datasets": [sub for sub in subs if sub not in datasets],
        # None (not 0) when the log itself holds torn files — the
        # retraction count is unknowable, see torn_entries
        "tombstones": tomb_count,
        "crash_leftovers": leftovers + sorted(torn_entries),
    }
