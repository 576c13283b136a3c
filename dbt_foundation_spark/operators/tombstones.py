"""Tombstone log — logical takedown for persisted indexes.

A 100 TB corpus index (operators/dedup_index.py, the IVF index in
operators/similarity.py) cannot be rebuilt per takedown request, and
parquet cannot delete rows in place. The scalable pattern is the one
Delta/Iceberg delete files implement, expressed here with plain
parquet (same store-agnostic stance as the rest of the index family):

- :func:`retract_from_index` appends the retracted doc ids to a tiny
  ``{path}/tombstones`` dataset — O(takedown batch), no index rewrite;
- every read path (``dedup_against_*``, ``containment_against_index``,
  IVF search / k-NN join / list profile) subtracts the log with a
  broadcast anti-join (:func:`subtract_tombstones`) — takedown logs
  are MB-scale next to a TB-scale index, so the join never shuffles
  the index side, and an index with no log gets back the UNWRAPPED
  scan (zero plan change on the common path);
- ``maintenance.compact_index`` folds the deletions physically (the
  rewrite it was already doing anti-joins a snapshot of the log) and
  clears exactly the FOLDED ids from the log — retractions appended
  while the compaction ran are not in the snapshot and keep
  subtracting until the next fold. The fold is idempotent: a crash
  after some sub-datasets folded leaves the log in place,
  re-subtracting matches nothing on the already-folded datasets, and
  the next compaction finishes the job;
- every ``build_*`` clears the log when it completes — a rebuild is a
  fresh corpus, and a stale log would silently hide recycled ids. The
  clear runs at the END of the build, with the manifest write: a
  build that crashes mid-way leaves mixed-generation datasets
  regardless of the log, and the recovery contract is the same as
  compaction's — RE-RUN the build (clearing at the start instead
  would make a crashed rebuild silently resurrect retracted docs,
  the worse failure for takedown compliance).

Re-admission rule: a tombstone hides EVERY row with that id, including
rows appended after the retraction. That is the correct takedown
semantics (the id is dead until explicitly revived); re-admitting a
retracted id requires :func:`clear_tombstones` first. New documents
that merely RESEMBLE retracted content are unaffected — they carry
their own ids, and the subtraction removes the retracted docs from the
dedup candidates, so retraction never blocks future admissions.
"""

from __future__ import annotations

import uuid
from collections.abc import Iterable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_foundation_spark.checkpoint import pin
from dbt_foundation_spark.local_data import local_frame

_UNSET = object()  # sentinel: subtract_tombstones should read the log


def _tomb_path(index_path: str) -> str:
    return f"{index_path.rstrip('/')}/tombstones"


def _hadoop(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


_GLOB_METACHARS = frozenset("*?[]{}")


def assert_literal_path(path: str, what: str = "dataset path") -> str:
    """Refuse paths carrying Hadoop glob metacharacters — the
    write-literal/read-glob asymmetry. ``DataFrameWriter`` and
    the FileSystem API treat a path LITERALLY, but ``spark.read`` and
    ``globStatus`` expand it as a GLOB, so one string names two
    different locations. Observed: reading ``run[2024]/data``
    silently UNIONED three wrong sibling directories (``run2``,
    ``run0``, ``run4``); ``batch_{1}`` silently read the sibling
    ``batch_1`` instead of itself; an index built at ``idx[v1]``
    wrote its datasets literally and then every query missed them
    with PATH_NOT_FOUND. Dated/versioned directory names with
    brackets are common operational shapes, so this is a named
    refusal at every index/output boundary, not a footnote: rename
    the directory (or build the index at a metacharacter-free path).
    ``=`` stays legal — hive partition dirs need it; so do spaces
    and unicode, which neither layer interprets."""
    bad = sorted(set(path) & _GLOB_METACHARS)
    if bad:
        raise ValueError(
            f"{what} {path!r} contains glob metacharacter(s) "
            f"{''.join(bad)!r}: Spark writes treat the path literally "
            "but reads expand it as a glob, so reads can silently "
            "union sibling directories, read a different one entirely, "
            "or miss the written data (probed r13). Use a path without "
            "*?[]{} — rename the directory if it already exists"
        )
    return path


def _hidden_component(seg: str) -> bool:
    """Spark's own listing rule (HadoopFSUtils.shouldFilterOutPathName),
    clause for clause: a path component is filtered when it starts with
    ``.``, starts with ``_`` WITHOUT containing ``=`` (hive partition
    directories like ``_ivf_list=0`` are data; ``_temporary``/
    ``_SUCCESS`` are not), or ends with ``._COPYING_`` (an in-flight
    ``hadoop fs -put/-cp`` transfer) — except the parquet summary
    names ``_metadata``/``_common_metadata``, which Spark lists.
    Diverging from Spark in ANY clause makes the probes disagree with
    what a read would actually see (a partition-dir-blind version of
    this rule called a freshly written hive-partitioned dataset empty
    and injected its schema sentinel next to live rows)."""
    if seg.startswith(("_metadata", "_common_metadata")):
        return False
    return (
        seg.startswith(".")
        or (seg.startswith("_") and "=" not in seg)
        or seg.endswith("._COPYING_")
    )


def _iter_visible_files(fs, p):
    """Yield the fully-qualified paths of data files under ``p`` whose
    path has NO hidden component below ``p`` — not merely a non-hidden
    leaf name.  ``fs.listFiles(p, True)`` recurses into hidden
    directories, so a ``part-0000`` under ``_temporary/.../`` (the
    scratch of a crashed or in-flight FileOutputCommitter write) has a
    visible leaf but is not data; counting it made consumers read a
    directory Spark's file index sees as empty (UNABLE_TO_INFER_SCHEMA),
    and made the file-level folds delete a concurrent append's
    uncommitted task files, failing its commit.

    Relativization compares URI PATHS (scheme/authority stripped), so a
    probe path and listFiles results qualified differently still match.
    A file that cannot be relativized at all (a path-REWRITING mount —
    e.g. a viewfs:// probe resolving to hdfs://nn/target/... leaves)
    raises instead of guessing: a leaf-only fallback would silently
    reintroduce the scratch-counts-as-data bug, and skipping would
    silently hide real data (tombstones ignored = retracted docs
    reappearing). Loud beats silently wrong in either direction."""
    for st in _iter_visible_statuses(fs, p):
        yield st.getPath()


def _iter_visible_statuses(fs, p):
    """:func:`_iter_visible_files` yielding the full LocatedFileStatus —
    size-aware callers (the torn-file probes) read ``getLen()`` from the
    listing the walk already made instead of one getFileStatus RPC per
    file. Same visibility contract, one implementation."""
    base = fs.makeQualified(p).toUri().getPath().rstrip("/")
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        f = st.getPath()
        fpath = f.toUri().getPath()
        if fpath == base:  # probed path IS the file: visible by definition
            yield st
            continue
        if not fpath.startswith(base + "/"):
            raise ValueError(
                f"cannot relativize {f} under probe path {p} — a "
                "path-rewriting filesystem mount? Refusing to classify "
                "hidden-ness by leaf name alone."
            )
        rel = fpath[len(base) + 1 :]
        if any(_hidden_component(seg) for seg in rel.split("/")):
            continue
        yield st


def zero_byte_files(spark: SparkSession, path: str) -> list[str]:
    """Visible ZERO-LENGTH data files under ``path`` (recursive) — the
    cheaply-detectable torn-write residue (disk full, killed external
    copy, filesystem damage). A committed Spark part file is never
    empty — even a 0-row parquet write carries its footer and magic —
    so a 0-byte visible data file always means a tear, and Spark READS
    it as silently empty: without this probe a torn
    tombstone-log file silently resurrected retracted docs and a torn
    index file silently shrank the corpus. Lengths come from the
    listing the visibility walk already makes — no per-file I/O.
    (A torn file with leftover bytes is NOT detectable from metadata;
    it fails loudly at read time with parquet's magic-number error
    naming the file — the documented complementary fate.)"""
    p, fs = _hadoop(spark, path)
    if not fs.exists(p):
        return []
    return sorted(
        st.getPath().toString()
        for st in _iter_visible_statuses(fs, p)
        if st.getLen() == 0
    )


def iter_part_files(fs, p):
    """The WRITER-side scan: yield the Spark part files (``part-*``)
    directly under a directory this process just wrote.  Distinct
    contract from :func:`_iter_visible_files` (the READ-listing parity
    rule for probes of arbitrary data): a just-written Spark output
    dir's data files are known by name, and the read rule would admit
    the exempt ``_metadata``/``_common_metadata`` summary footers — a
    "first non-hidden file" pick under
    ``parquet.summary.metadata.level=ALL`` installs a 0-row footer as
    the output. Shared by the ingest batch installer and the revive
    survivor fold so the contract lives in ONE place."""
    it = fs.listFiles(p, False)
    while it.hasNext():
        f = it.next().getPath()
        if f.getName().startswith("part-"):
            yield f


def read_small_text_lines(spark: SparkSession, path: str) -> list[tuple[str, str]]:
    """Driver-side line read of the VISIBLE data files under ``path``
    (or of ``path`` itself when it is a file) through the Hadoop FS —
    the shared helper behind the control-plane readers
    (``index_core._read_manifest``, the checkpoint-metadata read):
    tiny single-row JSON files where a Spark read costs a job and
    buries parse failures in generic errors. Returns ``(file name,
    line)`` pairs for every non-blank line. Visible-file listing, not
    ``part-*`` only: the torn-manifest heal says "restore the file",
    and a manifest restored under any sane name must read back."""
    jvm = spark._jvm
    p, fs = _hadoop(spark, path)
    if not fs.exists(p):
        return []
    if fs.getFileStatus(p).isFile():
        files = [p]
    else:
        files = list(_iter_visible_files(fs, p))
    out: list[tuple[str, str]] = []
    for f in files:
        stream = fs.open(f)
        try:
            reader = jvm.java.io.BufferedReader(
                jvm.java.io.InputStreamReader(stream, "UTF-8")
            )
            while True:
                line = reader.readLine()
                if line is None:
                    break
                if line.strip():
                    out.append((f.getName(), line))
        finally:
            stream.close()
    return out


def _log_files(spark: SparkSession, index_path: str) -> list[str]:
    """The tombstone log's committed data files at this instant — the
    unit of the subset clear's fold: only files listed HERE are read,
    replaced and deleted, so a retraction batch appended concurrently
    lands as a new file the fold never touches, and its in-flight
    ``_temporary`` scratch is never read or deleted (hidden path
    components are excluded at every depth, not just the leaf)."""
    tp = _tomb_path(index_path)
    p, fs = _hadoop(spark, tp)
    if not fs.exists(p):
        return []
    return [f.toString() for f in _iter_visible_files(fs, p)]


def _has_data_file(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists and holds at least one committed data
    file — no hidden component at ANY depth, so crash residue under
    ``_temporary/`` does not count — the absent-or-empty probe used
    instead of read-and-catch (a caught AnalysisException still dumps
    its JVM stack into the driver tail)."""
    p, fs = _hadoop(spark, path)
    if not fs.exists(p):
        return False
    return next(iter(_iter_visible_files(fs, p)), None) is not None


def read_tombstones(spark: SparkSession, index_path: str) -> DataFrame | None:
    """The retracted-id set (one ``id`` column, distinct), or ``None``
    when the index has no tombstones — callers use ``None`` to skip the
    anti-join entirely, keeping the no-takedown plan unchanged.

    The absent-log probe is a FileSystem listing, not a read + caught
    AnalysisException: Spark logs the full JVM stack of the exception
    even when Python catches it, which buries every bench / driver
    tail under a harmless py4j trace. Listing data FILES (not just
    the directory) also covers the empty-dir state the file-level
    clears leave behind.

    Torn-file contract: a ZERO-BYTE log file reads as
    silently empty in Spark, so retractions it carried would silently
    resurface — takedown non-compliance with no signal. The log read
    therefore refuses loudly naming the file; the heal is manual by
    design (delete the torn file, then RE-ISSUE the retraction batch —
    retract_from_index is idempotent, ids re-append and the subtract
    is distinct), because takedown data may genuinely be lost and no
    automatic path should paper over that. index_stats reports the
    same state without raising (describe tools describe damage)."""
    assert_literal_path(index_path, "index path")
    # ONE directory walk serves both the file list and the torn probe
    # (a second recursive listing per query-path call is wasted LIST
    # RPCs on object stores)
    tp = _tomb_path(index_path)
    p, fs = _hadoop(spark, tp)
    statuses = list(_iter_visible_statuses(fs, p)) if fs.exists(p) else []
    files = [st.getPath().toString() for st in statuses]
    if not files:
        return None
    torn = sorted(
        st.getPath().toString() for st in statuses if st.getLen() == 0
    )
    if torn:
        raise RuntimeError(
            f"{_tomb_path(index_path)}: tombstone log holds {len(torn)} "
            f"zero-byte torn file(s) ({', '.join(torn[:3])}"
            f"{', …' if len(torn) > 3 else ''}) — retraction ids it "
            "carried may be LOST and would silently resurface if read "
            "as empty. Heal: delete the torn file(s), then re-issue the "
            "retraction batch (retract_from_index is idempotent)."
        )
    return spark.read.parquet(_tomb_path(index_path)).select("id").distinct()


def subtract_tombstones(
    spark: SparkSession,
    index_path: str,
    df: DataFrame,
    id_col: str,
    tomb: DataFrame | None | object = _UNSET,
) -> DataFrame:
    """``df`` minus rows whose ``id_col`` is tombstoned. Broadcast
    left-anti: the log is bounded by takedown volume, never corpus
    size, so the index side neither shuffles nor re-clusters.

    Callers that subtract from SEVERAL sub-datasets in one query pass
    ``tomb=read_tombstones(...)`` so the log's file listing runs once
    per query, not once per dataset."""
    if tomb is _UNSET:
        tomb = read_tombstones(spark, index_path)
    if tomb is None:
        return df
    return df.join(
        F.broadcast(tomb.withColumnRenamed("id", "__tomb_id")),
        on=F.col(id_col) == F.col("__tomb_id"),
        how="left_anti",
    )


def _as_id_df(
    spark: SparkSession, ids: DataFrame | Iterable
) -> tuple[DataFrame | None, int | None]:
    """Normalize a DataFrame-or-iterable of ids to a single distinct
    ``id`` column (None for an empty iterable) and its row count when
    the driver knows it: Python ints or strings, whose equality is
    SQL's, are counted as values (None otherwise). A caller DataFrame is
    pinned eagerly (``checkpoint.pin``): the count and the write that
    follow must see the SAME rows even when the plan is
    nondeterministic (``suspect_docs.sample(...)``) — the hazard
    ``knn_join_ivf`` pins the same way for its prune filter."""
    if isinstance(ids, DataFrame):
        if len(ids.columns) != 1:
            raise ValueError(
                f"ids must be a single-column DataFrame, got {ids.columns}"
            )
        # NULL ids can never match a row (NULL equality) — logging them
        # would inflate the reported count and bloat the log for nothing
        norm = ids.toDF("id").where(F.col("id").isNotNull()).distinct()
        return pin(norm, eager=True), None
    vals = [v for v in ids if v is not None]
    if not vals:
        return None, 0
    # Arrow-route the two id types takedown batches actually carry
    # (local_data.py: the classic list path costs ~0.5 s of slice
    # fetches per action on local[32]); anything exotic keeps the
    # classic inference path.
    rows = [(v,) for v in vals]
    for kind, ddl in ((int, "id bigint"), (str, "id string")):
        if all(isinstance(v, kind) and not isinstance(v, bool) for v in vals):
            return local_frame(spark, rows, ddl).distinct(), len(set(vals))
    return spark.createDataFrame(rows, ["id"]).distinct(), None


def _type_category(t: str) -> str:
    if any(
        t.startswith(p)
        for p in ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")
    ):
        return "numeric"
    if t in ("string", "varchar", "char") or t.startswith(("varchar", "char")):
        return "string"
    return t


def _conform_id_type(
    spark: SparkSession, index_path: str, tomb: DataFrame
) -> DataFrame:
    """Pin the batch's id type to the log's (or, for a first batch, the
    index's). Without this, a bigint batch followed by a string batch
    leaves the log's parquet files with conflicting schemas — every
    later read breaks — and a non-coercible mismatch would make the
    anti-join match nothing while the retraction still reported
    success. Same-category mismatches (int batch, bigint index) are
    CAST to the target; cross-category mismatches raise."""
    existing = read_tombstones(spark, index_path)
    if existing is not None:
        target = existing.schema["id"].dataType.simpleString()
    else:
        # imported here: index_core imports this module at load time
        from dbt_foundation_spark.operators.index_core import open_index

        target = open_index(spark, index_path).id_type()
    got = tomb.schema["id"].dataType.simpleString()
    if target is None or got == target:
        return tomb
    if _type_category(got) != _type_category(target):
        raise ValueError(
            f"{index_path}: retraction ids are {got} but the index keys "
            f"documents by {target} — a takedown with the wrong id type "
            "would silently remove nothing"
        )
    casted = tomb.select(
        F.col("id").alias("__orig"), F.col("id").try_cast(target).alias("id")
    )
    # try_cast pins the lossy-value behavior regardless of ANSI mode:
    # under ANSI (Spark 4 default) a plain cast would kill the job with
    # CAST_OVERFLOW deep in a task; under legacy mode it would silently
    # produce a NULL tombstone id that matches NOTHING while the
    # retraction still reports it retracted. Either way the failure
    # belongs HERE, named: the batch is takedown-sized, so the extra
    # job is cheap — raise with examples. (``tomb`` is non-null by
    # construction — _as_id_df drops NULL ids — so any NULL here is
    # cast loss, not input.)
    lost = [
        r["__orig"]
        for r in casted.where(F.col("id").isNull()).limit(3).collect()
    ]
    if lost:
        raise ValueError(
            f"{index_path}: retraction ids {lost} do not fit the "
            f"index's id type {target} (cast from {got} produced NULL) "
            "— refusing to report a takedown that would remove nothing "
            "for those ids"
        )
    return casted.select("id")


def retract_from_index(
    spark: SparkSession, index_path: str, ids: DataFrame | Iterable
) -> int:
    """Logically delete documents from a persisted index (takedown /
    contamination removal / license revocation). Appends the ids to the
    tombstone log and returns how many distinct ids the batch carried;
    physical removal happens at the next ``compact_index``.

    ``ids``: a single-column DataFrame (any id type matching the
    index's) or a plain Python iterable of id values.

    Concurrency: a plain ``mode("append")`` would make concurrent
    retracts share the log's ``_temporary/0`` FileOutputCommitter
    staging, and one job's commit DELETES that directory wholesale —
    with 4 concurrent batches one failed loud and one SILENTLY LOST its
    whole batch (returned success, rows never landed), the worst fate
    for takedown compliance. Each batch therefore writes aside to a
    private sibling scratch dir and RENAME-installs its one file into
    the log under a unique name (the ``_install_batch_output``
    pattern): no shared staging, so any number of concurrent retracts
    land all their rows. Crash windows: before the rename — an orphan
    ``__retract_tmp_*`` sibling, never read as data, re-issue the
    retraction (idempotent); after the rename — the scratch dir is
    re-deleted harmlessly on nothing."""
    assert_literal_path(index_path, "index path")
    base = index_path.rstrip("/")
    p, fs = _hadoop(spark, base)
    if not fs.exists(p):
        raise ValueError(
            f"{base} does not exist — refusing to start a tombstone log "
            "at a path that holds no index (typo guard)"
        )
    tomb, n = _as_id_df(spark, ids)
    if n is None:
        n = tomb.count()
    if n == 0:
        return 0
    tomb = _conform_id_type(spark, base, tomb)
    # coalesce(1): one takedown batch = one small file; the log is
    # bounded by takedown volume and cleared at every compaction, so
    # file count never accumulates past compaction cadence.
    log = _tomb_path(base)
    jvm = spark._jvm
    token = uuid.uuid4().hex
    tmp = f"{log}__retract_tmp_{token}"
    tmp_p = jvm.org.apache.hadoop.fs.Path(tmp)
    tomb.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(iter_part_files(fs, tmp_p), None)
    if part is None:
        raise IOError(
            f"retraction write to {tmp} produced no part-* data file — "
            "unrecognized commit protocol output naming? Refusing to "
            "report the takedown as recorded."
        )
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(log))
    dest = jvm.org.apache.hadoop.fs.Path(
        f"{log}/retract-{token}.parquet"
    )
    if not fs.rename(part, dest) and not fs.exists(dest):
        raise IOError(
            f"could not install retraction batch into {log} — the "
            "takedown is NOT recorded; re-issue it"
        )
    fs.delete(tmp_p, True)
    return n


def guarded_sub_read(spark: SparkSession, index_path: str, sub: str) -> DataFrame:
    """Read one index sub-dataset with the compaction rename-window
    guard (the reader∥maintenance seam).

    ``maintenance.compact_parquet_path`` installs a compacted
    sub-dataset via rename-aside → install, so an UNCOORDINATED reader
    (writers are excluded by the marker handshakes; plain reads are
    not) can catch the directory MISSING mid-swap, or parked at
    ``{sub}__compact_old`` after a crash between the two renames.
    Unguarded, that surfaces as Spark's generic PATH_NOT_FOUND — or, on
    listing-based paths, as a silently incomplete answer. Contract:

    - directory present → plain read after the torn-file probe (one
      fs.exists plus one recursive listing — the same class of LIST
      call Spark's own scan planning makes per uncached read);
    - directory missing + compaction evidence (the index-level
      ``__compacting`` marker, or this sub-dataset's ``__compact_old``
      parked copy / ``__compact_tmp`` scratch) → loud error NAMING the
      compaction and the heal: re-run ``compact_index`` to completion
      (it restores a parked dataset before doing anything else), then
      retry the read;
    - directory missing otherwise → loud error naming the dataset (a
      damaged store or not an index of this flavor) — never a silent
      empty/partial result.

    Readers remain NOT snapshot-isolated against maintenance: a read
    that planned before the swap can still fail at task time when the
    superseded files are deleted after install (a loud executor
    FileNotFound, never a silent subset). Schedule compaction in a
    maintenance window — the same single-maintainer assumption the
    write-side markers carry (maintenance.compact_index docstring).

    Torn-file contract: a ZERO-BYTE part file reads as
    silently empty (a silent subset of the index), so it raises here
    naming the file and the heal; a torn file with leftover bytes
    already fails loudly inside Spark with parquet's magic-number
    error naming the file — heal for both: verify the file is crash
    residue (not lost data), then delete it or let compact_index's
    rewrite fold it away (it warns per torn file)."""
    assert_literal_path(index_path, "index path")
    base = f"{index_path.rstrip('/')}/{sub}"
    p, fs = _hadoop(spark, base)
    if fs.exists(p):
        torn = zero_byte_files(spark, base)
        if torn:
            raise RuntimeError(
                f"{base}: {len(torn)} zero-byte torn part file(s) present "
                f"({', '.join(torn[:3])}{', …' if len(torn) > 3 else ''}) "
                "— reading would silently treat them as empty and return "
                "a subset of the index. Heal: verify the file is torn "
                "crash residue (not data that should exist), then delete "
                "it or re-run compact_index (the rewrite folds it away "
                "with a warning)."
            )
        return spark.read.parquet(base)
    jvm = spark._jvm
    evidence = [
        name
        for name, path in (
            ("__compacting marker", compaction_marker_path(index_path)),
            (f"{sub}__compact_old parked copy", f"{base}__compact_old"),
            (f"{sub}__compact_tmp scratch", f"{base}__compact_tmp"),
        )
        if fs.exists(jvm.org.apache.hadoop.fs.Path(path))
    ]
    if evidence:
        raise RuntimeError(
            f"{base}: sub-dataset directory is missing while compaction "
            f"evidence is present ({', '.join(evidence)}) — a "
            "compact_index/compact_parquet_path is mid-swap or crashed "
            "between its rename-aside and install. Re-run compaction to "
            "completion (it restores a parked dataset on entry), then "
            "retry this read; refusing to return a partial index."
        )
    raise ValueError(
        f"{base}: sub-dataset directory is missing and no compaction is "
        f"in evidence — {index_path} is not a complete index of this "
        "flavor (wrong path, wrong build_* flavor, or a damaged store)"
    )


def compaction_marker_path(index_path: str) -> str:
    """The ``__compacting`` marker ``maintenance.compact_index`` holds
    while it rewrites an index's sub-datasets. Its presence means a
    compaction is in flight OR a previous one crashed mid-rewrite —
    in both states some sub-datasets may already be rewritten against
    the pre-revive tombstone snapshot, so a revive issued now could
    report success for an id whose rows are physically gone. The
    revive path refuses while it exists; re-running ``compact_index``
    finishes the fold and clears the marker (the restore-on-rerun
    contract every maintenance op in this family carries)."""
    return f"{index_path.rstrip('/')}/__compacting"


def revive_marker_path(index_path: str) -> str:
    """The ``__reviving`` marker :func:`clear_tombstones` holds while
    it folds the log. The exclusion with compaction is SYMMETRIC
    write-then-check (each side creates its own marker, THEN checks
    the other's): if both ops start concurrently, at least one of the
    two checks observes the other's marker and raises, so the
    check-then-act race a single one-sided marker leaves open cannot
    interleave silently. A crashed revive leaves its marker in place
    — deliberately: the log may hold survivors next to not-yet-deleted
    originals, and a compaction folding that state would physically
    drop rows mid-revive. Re-running the revive (the documented crash
    recovery) completes the fold and clears the marker."""
    return f"{index_path.rstrip('/')}/__reviving"


def append_marker_path(index_path: str) -> str:
    """The ``__appending`` marker every index APPEND holds while its
    sub-dataset writes are in flight (the write seam the revive/compact
    handshake does not cover).

    Two hazards force write-side exclusion:

    * **append ∥ append**: two concurrent ``df.write.mode("append")``
      jobs into the same directory share the FileOutputCommitter
      staging root (``_temporary/0``); whichever job commits first
      deletes the staging recursively, destroying the other job's
      uncommitted task files — lost or failed writes, silently.
      Vanilla Spark does not support concurrent writers to one path
      (the problem table formats' transaction logs exist to solve),
      so appends SERIALIZE on this marker and a contender raises.
    * **append ∥ compaction**: ``compact_parquet_path`` snapshots the
      dataset with a read, writes aside, then RENAMES the live
      directory away and deletes it — an append landing files between
      the snapshot and the rename is silently destroyed with the old
      directory.

    Exclusion is the same SYMMETRIC write-then-check the
    revive/compact pair uses: the appender claims this marker
    atomically (``FileSystem.create(overwrite=false)``), THEN checks
    ``__compacting``; ``compact_index`` creates its marker, THEN
    checks this one — concurrent starts cannot both proceed. Revive
    (:func:`clear_tombstones`) and appends stay mutually UNORDERED:
    they touch disjoint files (the log vs the data sub-datasets).

    The marker FILE carries its owner token. Streaming ingests pass a
    stable per-stream owner (their checkpoint identity), so a restart
    after a crash mid-append RECLAIMS its own stale marker and re-runs
    the batch (byte-identical replayed rows fold at compaction —
    ``index_core.Sub.distinct_on_compact``); batch appends get a fresh
    UUID owner, so a crashed batch append's marker must be healed
    explicitly:
    verify no append is running, delete the marker, re-run the append.
    """
    return f"{index_path.rstrip('/')}/__appending"


def _read_marker_owner(fs, jvm, path) -> str | None:
    """Read a marker file's owner token. Returns ``''`` only when the
    file was READ successfully and is genuinely empty (the
    create→close crash window); returns ``None`` when the read itself
    failed (open error, transient store fault, marker deleted between
    probe and open) — the two must not be conflated, or a transient
    read error would let a stream's empty-owner reclaim steal a LIVE
    foreign claim."""
    try:
        stream = fs.open(path)
        try:
            # owner tokens are short single-line strings; readLine
            # returns a JVM String directly (Py4J-friendly, unlike
            # byte-array reads, which Py4J passes by copy)
            reader = jvm.java.io.BufferedReader(
                jvm.java.io.InputStreamReader(stream, "UTF-8")
            )
            line = reader.readLine()
            return "" if line is None else str(line)
        finally:
            stream.close()
    except Exception:
        return None


@contextmanager
def hold_append_marker(
    spark: SparkSession, index_path: str, owner: str | None = None
):
    """Hold ``__appending`` for the duration of an index append — see
    :func:`append_marker_path` for the full exclusion contract.

    Claim atomicity is the underlying store's ``create(overwrite=
    false)``: namenode-atomic on HDFS-like filesystems, CHECK-THEN-ACT
    on the local filesystem and on object stores whose objects only
    manifest at close — there the exclusion is best-effort (two claims
    in the same few milliseconds can both succeed) and the durable
    safety nets are the ones that already bound the damage: replayed
    or doubled rows are byte-identical and fold at compaction, and
    maintenance ops should share one scheduler window. On contention
    the raise names the holding owner and the healing procedure.

    With a stable ``owner`` (streaming ingests), a marker left by OUR
    OWN crashed attempt — including one whose owner token never got
    written because the process died between create and close — is
    reclaimed. Safe under the same operational rule Spark Structured
    Streaming itself requires: AT MOST ONE live instance per
    checkpoint identity (two drivers sharing a checkpoint corrupt
    Spark's own offset log before they ever reach this marker; a
    zombie predecessor paused mid-append while its replacement
    reclaims is therefore out of scope here exactly as it is for
    Spark's checkpoint). The empty-owner reclaim closes the
    create→close crash window that would otherwise poison-pill every
    restart; the residual race — reading "" from a LIVE claimant
    caught inside that same microsecond window — trades a permanent
    crash-loop for an already-documented best-effort boundary.

    After claiming, the symmetric write-then-check probes
    ``__compacting``: if a compaction is in flight (or crashed,
    leaving partially rewritten sub-datasets), the append releases its
    claim and raises — appending files a compaction's directory swap
    would silently destroy is the one interleaving this marker exists
    to prevent.

    On an exception INSIDE the held block the marker is released: the
    raise itself signals a possibly partial admission, and the healing
    step for partial admission is simply re-running the append
    (replayed rows are byte-identical and fold at compaction). Only a
    PROCESS death leaves the marker behind."""
    jvm = spark._jvm
    assert_literal_path(index_path, "index path")
    mpath, fs = _hadoop(spark, append_marker_path(index_path))
    me = owner or f"batch-{uuid.uuid4().hex}"

    last_err: list[Exception] = []

    def _claim_exclusive() -> bool:
        created = False
        try:
            out = fs.create(mpath, False)
            created = True
            out.write(bytearray(me.encode("utf-8")))
            out.close()
            return True
        except Exception as e:
            if created:
                # create succeeded but the owner-token write/close
                # failed IN-PROCESS: withdraw our half-created marker
                # before propagating, or an empty-owner file would
                # block later appends and compactions
                fs.delete(mpath, False)
                raise
            last_err.append(e)
            return False

    claimed = _claim_exclusive()
    if not claimed and not fs.exists(mpath):
        # the holder released between our failed create and this probe
        # — plain contention that resolved itself; retry once rather
        # than surfacing the raw FS exception as a fake store failure
        claimed = _claim_exclusive()
        if not claimed and not fs.exists(mpath):
            raise IOError(
                f"index {index_path}: could not create the __appending "
                "marker and it does not exist — filesystem failure, "
                "not contention"
            ) from (last_err[-1] if last_err else None)
    if not claimed:
        holder = _read_marker_owner(fs, jvm, mpath)
        # holder is None when the READ failed — never reclaimable (it
        # could be a live foreign claim behind a transient store error);
        # '' means the file read successfully but carries no token, the
        # create→close crash window only a stable owner may reclaim
        if owner is not None and holder in (owner, ""):
            # our own crashed predecessor (stable stream identity) —
            # "" is the create→close crash window, reclaimable only by
            # a stable owner (see docstring). Same half-write hygiene
            # as the fresh claim: a failed token write withdraws.
            try:
                out = fs.create(mpath, True)
                out.write(bytearray(me.encode("utf-8")))
                out.close()
            except Exception:
                fs.delete(mpath, False)
                raise
        else:
            raise ValueError(
                f"index {index_path}: another append is in flight (or a "
                f"crashed one left its claim) — __appending marker held "
                f"by {holder or 'unknown'!r}. Concurrent appends to one "
                "index are unsupported (concurrent parquet writers "
                "destroy each other's uncommitted task files). If the "
                "holder crashed: verify no append is running, delete "
                f"{append_marker_path(index_path)}, and re-run BOTH "
                "appends — replayed rows are byte-identical and fold at "
                "the next compact_index."
            )
    released = False
    try:
        cpath, _ = _hadoop(spark, compaction_marker_path(index_path))
        if fs.exists(cpath):
            fs.delete(mpath, False)
            released = True
            raise ValueError(
                f"index {index_path}: compaction in flight (or crashed "
                "mid-rewrite) — __compacting marker present. An append "
                "now could land files the compaction's directory swap "
                "silently destroys. Re-run compact_index to completion "
                "(it clears the marker), then append."
            )
        yield
    finally:
        if not released:
            fs.delete(mpath, False)


def clear_tombstones(
    spark: SparkSession,
    index_path: str,
    ids: DataFrame | Iterable | None = None,
    _during_compaction: bool = False,
    _rebuild_reset: bool = False,
) -> int:
    """Drop the tombstone log's current files (``ids=None`` — what a
    completed rebuild does) or remove a subset of ids from the log —
    the revive path, and what compaction calls with its folded snapshot
    so retractions appended DURING a long compaction survive the fold.
    Returns the number of ids removed from the log.

    The subset path is a FILE-LEVEL fold, not a directory rewrite: it
    lists the log's data files, computes survivors from exactly those
    files, writes the survivors as a new file INTO the live log, then
    deletes only the files it read. A batch appended concurrently is a
    file the fold never listed — never read, never rewritten, never
    deleted — so no interleaving can lose a retraction (the
    delete-then-rewrite this replaced could drop the whole log; even a
    directory-rename swap would destroy files appended between its
    read and its rename). Crash anywhere = some read files not yet
    deleted: surviving ids are merely duplicated (the log reads
    DISTINCT) and revived ids may still be present — the revive has
    simply not completed; re-run it. Over-retention is the safe
    failure direction for a takedown log, and at no instant is a
    surviving id absent from the live log.

    The driver-side collect is safe by the same bound the broadcast
    subtraction relies on: the log is takedown-sized, not corpus-sized.

    Interleaving contract (enforced): a revive — subset
    OR full clear — issued while ``compact_index`` is running could
    report success and still lose ids whose rows sub-datasets already
    rewritten against the pre-revive snapshot dropped physically. Both
    clear paths therefore take the SYMMETRIC marker handshake
    (:func:`revive_marker_path`): create ``__reviving``, then raise if
    ``__compacting`` exists (``compact_index`` does the mirror-image
    check, so concurrent starts cannot both proceed — and a marker
    that existed BEFORE the op started is a crashed run's deliberate
    guard, which a conflict must leave in place). ``compact_index``
    passes ``_during_compaction=True`` for its own snapshot clear,
    which skips the handshake. ``index_core._write_manifest`` passes
    ``_rebuild_reset=True`` at the end of a completed rebuild: every
    dataset was just replaced, so stale markers guard a generation
    that no longer exists — the rebuild clear bypasses the handshake
    and REMOVES both markers (blocking the documented
    rebuild-heals-a-crashed-compaction path on a stale marker would
    leave the new index with a stale log and no manifest). Stale
    markers otherwise heal by re-running the op that left them.
    Retraction — the online, compliance-critical direction — carries
    no restriction and is safe against concurrent compaction by the
    snapshot-clear above.

    The full clear (``ids=None``) is file-level for the same reason
    the subset fold is: it lists the log's data files, counts the
    distinct ids in exactly those files, and deletes only those files
    — a ``retract_from_index`` batch appended between the listing and
    the deletes lands as a file the clear never saw and survives (the
    directory delete this replaced would silently destroy it). The
    returned count is the distinct-id count OF THE FOLDED FILES: an id
    concurrently re-retracted into a surviving file stays tombstoned
    and is still counted — exact attribution under concurrency is
    unknowable without a log lock, and over-counting the clear is the
    harmless direction (the log itself is always consistent)."""
    assert_literal_path(index_path, "index path")
    tp = _tomb_path(index_path)
    _, fs = _hadoop(spark, tp)
    jvm = spark._jvm
    # normalize/validate ids BEFORE any marker goes down: a typo'd or
    # empty revive must fail/return without leaving a false
    # crashed-revive guard blocking compactions
    revive = _as_id_df(spark, ids)[0] if ids is not None else None
    if ids is not None and revive is None:
        return 0
    compacting = jvm.org.apache.hadoop.fs.Path(
        compaction_marker_path(index_path)
    )
    own = jvm.org.apache.hadoop.fs.Path(revive_marker_path(index_path))
    if _rebuild_reset:
        # completed rebuild: the datasets any stale marker was guarding
        # were just replaced wholesale — clear the log and both markers
        removed = _clear_impl(spark, index_path, ids, revive, tp, fs, jvm)
        fs.delete(own, True)
        fs.delete(compacting, True)
        return removed
    if not _during_compaction:
        # write-then-check: our marker must be visible BEFORE we test
        # for a compaction, so a compact_index starting concurrently is
        # guaranteed to see it (its own mkdirs precedes its check). A
        # marker that already existed is a crashed revive's guard over
        # a half-folded log — conflict below must NOT withdraw it
        # (mkdirs is an idempotent no-op, so creation can't be inferred
        # after the fact).
        stale_own = fs.exists(own)
        fs.mkdirs(own)
        if fs.exists(compacting):
            if not stale_own:
                fs.delete(own, True)
            raise RuntimeError(
                f"{index_path}: a compaction is in progress (or a "
                "previous one crashed mid-rewrite) — __compacting "
                "marker present. A revive now could report success for "
                "an id whose rows the rewrite already dropped "
                "physically. Re-run compact_index to finish the fold "
                "(which clears the marker), then revive. If BOTH "
                "__compacting and __reviving are crash leftovers (no "
                "op live — index_stats lists them), the re-run "
                "directions are circular; rebuild the index "
                "(re-running its build_*_index resets both markers) — "
                "the only LOSSLESS escape, since sub-datasets the crashed "
                "compaction already rewrote have physically dropped "
                "their tombstoned rows and no revive can restore "
                "them. The in-place alternative (after confirming "
                "nothing is running: delete the stale __compacting "
                "marker directory, re-run this revive FIRST — a "
                "compaction must not fold a half-revived log — then "
                "compact_index) may report revive success for ids "
                "whose rows are already gone from the rewritten "
                "sub-datasets."
            )
    removed = _clear_impl(spark, index_path, ids, revive, tp, fs, jvm)
    if not _during_compaction:
        fs.delete(own, True)
    return removed


def _clear_impl(spark, index_path, ids, revive, tp, fs, jvm) -> int:
    files = _log_files(spark, index_path)
    if not files:
        return 0
    log = spark.read.parquet(*files).select("id")
    kept_rows: list = []
    if ids is None:
        removed = log.distinct().count()
    else:
        # ONE collect of the listed files' distinct ids, each marked by
        # a broadcast left join against the revive set (id equality
        # stays SQL's): survivors and the removed count come from the
        # same rows, while those files are later deleted under the plan
        rows = (
            log.join(F.broadcast(revive.withColumn("__hit", F.lit(True))), "id", "left")
            .groupBy("id")
            .agg(F.max("__hit").alias("__hit"))
            .collect()  # bounded: takedown-sized log
        )
        kept_rows = [(r["id"],) for r in rows if not r["__hit"]]
        removed = len(rows) - len(kept_rows)
        if removed == 0:
            return 0  # nothing leaves the log — no rewrite, no deletes
    if kept_rows:
        # survivors enter the live log BEFORE any old file is deleted,
        # so no read between the two steps can miss a surviving id
        tmp = f"{tp}__revive_tmp"
        tmp_p = jvm.org.apache.hadoop.fs.Path(tmp)
        fs.delete(tmp_p, True)  # stale residue from a crashed attempt
        local_frame(spark, kept_rows, log.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        moved = False
        for f in iter_part_files(fs, tmp_p):
            dest = jvm.org.apache.hadoop.fs.Path(
                f"{tp}/revive-{uuid.uuid4().hex[:12]}.parquet"
            )
            if not fs.rename(f, dest):
                raise IOError(f"could not move survivor file into {tp}")
            moved = True
        if not moved:
            raise IOError(f"survivor write produced no data file under {tmp}")
        fs.delete(tmp_p, True)
    for f in files:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f), False)
    return removed
