"""What a persisted index is — the one place that knows the manifest,
the flavor layouts and the lifecycle every flavor shares.

Flavors (operators/dedup_index.py: minhash, simhash, containment,
embedding; operators/similarity.py: ivf) are a parameter dict, a
signature and candidate/verify code on top of this module. Everything
below is common to all of them.

**Layout.** :data:`FLAVORS` lists each flavor's sub-datasets
(``{path}/{sub}``) in VERIFY-FIRST order, each with the cluster key its
writes use, whether that key is a hive partition column, whether
compaction may fold byte-identical duplicate rows, and the column that
keys rows by document (the tombstone key). Compaction, stats, the id
type probe and appends all read this one table, so they cannot disagree
about layout.

**Manifest.** Signature parameters define the hash family / chunking /
prefix length, so they MUST match between build, append and query.
Every build therefore ends with :func:`write_index`, which records them
in a one-row JSON dataset at ``{path}/manifest`` (written through Spark,
so it lands on whatever store holds the index), and every op opens the
index with :func:`open_index`, which validates the caller's parameters
against it and raises on a mismatch instead of silently returning wrong
candidates. Where the math permits a RANGE rather than equality the
caller passes a rule: a simhash query radius may be ≤ the build radius,
a containment or embedding query threshold ≥ the build threshold.
Indexes built before manifests existed validate nothing and trust the
caller; so do manifests for each key recorded before that key existed
(``id_type``, ``vec_type``, the ``max_tokens`` cap).

**Lifecycle.** An op opens the index once (:class:`Index`): manifest
read and validated, flavor looked up. ``conform`` pins a batch's id (and
vector) type to the stored one, so parquet never holds mixed-schema
files. ``append`` holds the ``__appending`` marker
(``tombstones.hold_append_marker``: concurrent appends and
append-during-compaction are refused loudly) and writes the frames in
table order: the VERIFY store first, discovery rows last, so a
concurrent reader mid-append either sees the batch fully admitted or not
yet discoverable — never a candidate whose verify row is missing.
``live`` reads a sub-dataset through the compaction rename-window guard
(``tombstones.guarded_sub_read``) minus the tombstone log, which is read
once per handle.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_foundation_spark.local_data import local_frame
from dbt_foundation_spark.operators import tombstones as tlog
from dbt_foundation_spark.operators.tombstones import (
    _UNSET,
    _hadoop,
    _has_data_file,
    _type_category,
    assert_literal_path,
    guarded_sub_read,
    hold_append_marker,
    read_small_text_lines,
    subtract_tombstones,
    zero_byte_files,
)

#: Manifest encoding of an EXPLICITLY-uncapped build (``max_tokens=None``).
#: Spark's JSON writer drops null fields and its JSON reader drops
#: all-null columns, so ``null`` can't carry the fact through the
#: manifest — a JSON-safe integer sentinel does. ``-1`` is outside the
#: valid cap domain (token_ngrams requires >= shingle_len), so it can
#: never collide with a real cap.
UNCAPPED_TOKENS = -1


def ivf_id_col(schema) -> str:
    """The document-id column of a persisted IVF lists dataset — the
    non-partition, non-array field, whatever name the index was built
    with. Shared by the live read, the id type probe and the compaction
    tombstone fold, so they can never drift onto different columns."""
    name = next(
        (
            f.name
            for f in schema.fields
            if f.name != "_ivf_list" and f.dataType.typeName() != "array"
        ),
        None,
    )
    if name is None:
        raise ValueError(
            "IVF lists dataset has no scalar (non-array) id column — the "
            f"store is corrupt or hand-edited; fields: {schema.fieldNames()}"
        )
    return name


@dataclass(frozen=True)
class Sub:
    """One sub-dataset of a flavor. ``keys`` cluster its writes (hive
    partition columns when ``partitioned``: compaction must rewrite
    those with partitionBy or the layout silently flattens).
    ``distinct_on_compact``: the dataset is a SET (membership rows, one
    signature or hash-set row per doc), so the only way a byte-identical
    duplicate appears is a crash-window batch replay, and compaction
    folds it away. ``doc_id``: the column keying rows by document (a
    name, or a function of the stored schema), or None for datasets not
    keyed by document."""

    name: str
    keys: tuple[str, ...]
    partitioned: bool = False
    distinct_on_compact: bool = True
    doc_id: str | Callable | None = "id"


#: flavor -> sub-datasets in verify-first write order. The IVF
#: ingest_log exists only when streaming.run_ivf_ingest maintains the
#: index (compaction skips absent sub-datasets).
FLAVORS: dict[str, tuple[Sub, ...]] = {
    "minhash": (Sub("shingles", ("id",)), Sub("bands", ("band", "bucket"))),
    "simhash": (Sub("chunks", ("chunk", "ck")),),
    "containment": (
        Sub("hashsets", ("id",)),
        Sub("postings", ("s",)),
        Sub("prefixes", ("s",)),
    ),
    "embedding": (Sub("vectors", ("id",)), Sub("bands", ("band", "bucket"))),
    "ivf": (
        Sub("lists", ("_ivf_list",), partitioned=True, doc_id=ivf_id_col),
        Sub("centroids", (), distinct_on_compact=False, doc_id=None),
        Sub("ingest_log", (), distinct_on_compact=False, doc_id=None),
    ),
}


def _write_manifest(
    df: DataFrame, path: str, params: dict, id_col: str | None = None
) -> None:
    """Record the index's build parameters as a one-row JSON dataset.

    ``max_tokens=None`` (an explicitly uncapped build) is recorded as
    :data:`UNCAPPED_TOKENS`: a deliberately uncapped index must be
    distinguishable from a pre-cap legacy manifest, or a later op using
    the DEFAULT cap would take the trust-the-caller path and sign a
    capped window against full-document corpus signatures.

    ``id_col``: when given, the stored document-id TYPE is recorded as
    ``id_type``, so batch conforms skip their per-operation schema probe
    of the stored datasets. The stored type is exactly ``df[id_col]``'s
    (builders alias the column unchanged) and every later append
    conforms to it, so the record cannot drift.

    This is also where a COMPLETED rebuild clears the tombstone log: the
    new corpus is a fresh id space, and a stale log would silently hide
    any recycled id. Deliberately at the END of the build — a build that
    crashes mid-way leaves mixed-generation datasets whatever the
    ordering, the recovery is to RE-RUN the build, and clearing up-front
    would instead let a crashed rebuild resurrect retracted docs."""
    spark = df.sparkSession
    # _rebuild_reset: the rebuild just replaced every dataset, so the
    # clear bypasses the revive/compaction handshake and removes any
    # stale __compacting/__reviving marker — those guarded a generation
    # that no longer exists, and raising here would leave the new index
    # with a stale log and no manifest (the worse failure)
    tlog.clear_tombstones(spark, path, _rebuild_reset=True)
    # manifest_version 2 = the cap key is always present for text
    # flavors; version 1 / absent = pre-cap legacy, the only manifests
    # allowed the trust-the-caller path for max_tokens.
    payload = {**params, "manifest_version": 2}
    if "max_tokens" in payload and payload["max_tokens"] is None:
        payload["max_tokens"] = UNCAPPED_TOKENS
    if id_col is not None:
        payload["id_type"] = df.schema[id_col].dataType.simpleString()
    # Arrow-routed with an explicit schema mirroring createDataFrame's
    # dict inference (sorted keys; bool/int/float/str → boolean/bigint/
    # double/string): the classic one-dict path + coalesce(1) paid ~7 s
    # of serial slice fetches per build on local[32] (local_data.py);
    # any param type outside that set falls back to the classic path.
    _T = {bool: "boolean", int: "bigint", float: "double", str: "string"}
    if all(type(v) in _T for v in payload.values()):
        ddl = ", ".join(f"`{k}` {_T[type(payload[k])]}" for k in sorted(payload))
        mdf = local_frame(spark, [payload], ddl)
    else:
        mdf = spark.createDataFrame([payload])
    mdf.coalesce(1).write.mode("overwrite").json(f"{path}/manifest")


def _read_manifest(spark: SparkSession, path: str) -> dict | None:
    """The stored manifest, or None for a pre-manifest index.

    Absence is an absent DIRECTORY, probed through the FileSystem, not a
    read + caught AnalysisException (Spark logs the JVM stack of even
    caught exceptions). Every other state refuses loudly, naming the
    heal, because silently skipping validation would re-open the exact
    footgun the manifest exists to close:

    - an existing dir with no data file is the crash window of the
      manifest overwrite (old manifest deleted, new part not committed);
    - a zero-byte part file would read as an empty dataset;
    - more than one row (a torn or duplicated write) could flip signing
      parameters per read;
    - bytes that are not a JSON object carrying ``flavor``.

    The read is driver-side through the Hadoop FS, not
    ``spark.read.json``: the manifest is one tiny row, the Spark reader
    buried garbage bytes in a generic corrupt-record error and silently
    picked one row of a multi-row manifest, and this way costs no job.
    Any visible file name reads, so a manifest restored by hand under
    any sane name works."""
    assert_literal_path(path, "index path")
    mpath = f"{path}/manifest"
    mp, mfs = _hadoop(spark, mpath)
    if not mfs.exists(mp):
        return None
    if not _has_data_file(spark, mpath):
        raise ValueError(
            f"{mpath} exists but holds no data file — a manifest write "
            "crashed mid-overwrite; re-run the build (which rewrites "
            "the manifest) rather than operating unvalidated"
        )
    torn = zero_byte_files(spark, mpath)
    if torn:
        raise ValueError(
            f"{mpath}: manifest holds zero-byte torn file(s) "
            f"({', '.join(torn)}) — reading it as absent would silently "
            "disable parameter validation; re-run the build (which "
            "rewrites the manifest) or restore the file"
        )
    rows = read_small_text_lines(spark, mpath)
    if len(rows) != 1:
        raise ValueError(
            f"{mpath}: manifest holds {len(rows)} rows, expected exactly "
            "1 — a torn or duplicated manifest write; reading one row "
            "nondeterministically could silently change the index's "
            "signing parameters per query. Rebuild the index (which "
            "rewrites the manifest) or restore the single-row file"
        )
    fname, line = rows[0]
    try:
        m = json.loads(line)
    except ValueError:
        raise ValueError(
            f"{mpath}/{fname}: manifest bytes are not valid JSON — a "
            "torn write or store corruption; rebuild the index (which "
            "rewrites the manifest) or restore the file. Refusing to "
            "operate unvalidated"
        ) from None
    if not isinstance(m, dict) or "flavor" not in m:
        raise ValueError(
            f"{path}/manifest exists but is corrupt (empty or no 'flavor' "
            "field) — rebuild the index or restore the manifest; refusing "
            "to validate queries against a half-written manifest"
        )
    return m


def _validate_params(
    path: str, m: dict | None, caller: dict, ranges: dict | None = None
) -> dict:
    """Validate caller parameters against manifest ``m``.

    Equality is required for every key unless ``ranges`` marks it
    ``"lte"``/``"gte"`` (caller value ≤ / ≥ the build value is safe).
    Returns the BUILD values (callers use them where the index layout,
    not the query, dictates the computation), plus every manifest key
    the caller did not pass (e.g. the recorded ``id_type``). Missing
    manifest → caller values returned untouched."""
    if m is None:
        return dict(caller)
    resolved = {}
    for k, v in caller.items():
        b = m.get(k)
        if b is None:
            # key absent (or null — Spark's JSON reader drops all-null
            # columns, so absent and null are indistinguishable here):
            # a manifest from before this key existed — trust the
            # caller, the documented legacy migration. Deliberately
            # cap-less indexes are NOT on this path: they record the
            # UNCAPPED_TOKENS sentinel.
            resolved[k] = v
            continue
        if k == "max_tokens" and b == UNCAPPED_TOKENS:
            b = None  # decode: the index was built explicitly uncapped
        rule = (ranges or {}).get(k, "eq")
        ok = (
            v == b
            if rule == "eq"
            # range rules never apply to None-able keys; guard anyway so
            # a future None doesn't TypeError inside the comparison
            else (v is not None and b is not None)
            and (v <= b if rule == "lte" else v >= b)
        )
        if not ok:
            op = {"lte": "<=", "gte": ">=", "eq": "=="}[rule]
            raise ValueError(
                f"{path}: index built with {k}={b!r}, query passed {v!r} "
                f"(need caller {op} build) — mismatched parameters would "
                "silently return wrong candidates"
            )
        resolved[k] = b
    # setdefault: a validated caller key always wins its resolved value
    for k, b in m.items():
        resolved.setdefault(k, b)
    return resolved


class Index:
    """An opened persisted index: manifest read and validated once, the
    flavor's layout looked up, the tombstone log read at most once.
    Build with :func:`open_index`."""

    def __init__(
        self, spark: SparkSession, path: str, manifest: dict | None, params: dict
    ) -> None:
        self.spark = spark
        self.path = path
        #: the stored manifest as written (None: pre-manifest index)
        self.manifest = manifest
        #: caller parameters resolved to the build values, plus manifest extras
        self.params = params
        self.flavor = params.get("flavor")
        self.subs: tuple[Sub, ...] = FLAVORS.get(self.flavor, ())
        self._tomb: DataFrame | None | object = _UNSET

    def sub(self, name: str) -> Sub:
        for s in self.subs:
            if s.name == name:
                return s
        raise KeyError(f"{self.flavor} index has no sub-dataset {name!r}")

    def read(self, sub: str) -> DataFrame:
        """One sub-dataset, all stored rows, through the compaction
        rename-window and torn-file guard."""
        return guarded_sub_read(self.spark, self.path, sub)

    def tombstones(self) -> DataFrame | None:
        if self._tomb is _UNSET:
            self._tomb = tlog.read_tombstones(self.spark, self.path)
        return self._tomb

    def live(self, sub: str) -> DataFrame:
        """One sub-dataset restricted to LIVE documents: stored rows
        minus the tombstone log. No log → the bare scan (no join in the
        plan)."""
        df = self.read(sub)
        col = self.sub(sub).doc_id
        if callable(col):
            col = col(df.schema)
        if col is None:
            return df
        return subtract_tombstones(
            self.spark, self.path, df, col, tomb=self.tombstones()
        )

    def id_type(self) -> str | None:
        """The stored document-id type: the manifest record, else probed
        from the first doc-keyed sub-dataset holding data (indexes built
        before the record). None when underivable (pre-manifest index
        opened without a flavor, or no data written yet)."""
        if self.params.get("id_type"):
            return self.params["id_type"]
        for s in self.subs:
            if s.doc_id is None:
                continue
            # data-file probe, not read + caught AnalysisException; the
            # guarded read gives an all-torn or mid-compaction-parked
            # sub-dataset the named heal, not a schema-inference error
            if not _has_data_file(self.spark, f"{self.path}/{s.name}"):
                continue
            schema = self.read(s.name).schema
            col = s.doc_id(schema) if callable(s.doc_id) else s.doc_id
            if col in schema.names:
                return schema[col].dataType.simpleString()
        return None

    def conform(
        self, df: DataFrame, id_col: str, vec_col: str | None = None
    ) -> DataFrame:
        """Pin a batch's document-id type (and, with ``vec_col``, its
        vector type) to the stored ones. Parquet happily appends a
        string-id batch into a bigint-id index, leaving MIXED schemas
        across one sub-dataset's files: the default read samples ONE
        footer nondeterministically, so the index's id type flips per
        read and a later legitimate query dies inside the scan. Identical
        type passes untouched (zero plan change); same-category
        mismatches CAST, with cast loss raising per row inside the plan
        (a lost id would otherwise become NULL and fall out silently);
        cross-category mismatches raise at call time naming both types.
        Query batches conform too, so reported pair ids carry one
        coherent type instead of Spark's silent join coercion."""
        df = self._conform_id(df, id_col)
        return df if vec_col is None else self._conform_vec(df, vec_col)

    def _conform_id(self, df: DataFrame, id_col: str) -> DataFrame:
        path = self.path
        target = self.id_type()
        got = df.schema[id_col].dataType.simpleString()
        if target is None or got == target:
            return df
        if _type_category(got) != _type_category(target):
            raise ValueError(
                f"{path}: batch {id_col} is {got} but the index keys "
                f"documents by {target} — appending would write mixed-schema "
                "files (reads then flip type per sampled parquet footer) and "
                "a query would coerce silently. Cast the id explicitly "
                "upstream, or rebuild the index with the new type."
            )
        orig = F.col(id_col)
        conformed = orig.try_cast(target)
        return df.withColumn(
            id_col,
            F.when(
                orig.isNotNull() & conformed.isNull(),
                F.raise_error(
                    F.concat(
                        F.lit(f"{path}: {id_col} value "),
                        orig.cast("string"),
                        F.lit(
                            f" does not fit the index id type {target} "
                            f"(cast from {got}) — fix the batch or rebuild "
                            "the index with the wider type"
                        ),
                    )
                ),
            ).otherwise(conformed),
        )

    def _conform_vec(self, df: DataFrame, vec_col: str) -> DataFrame:
        """The vector half for the embedding flavor: numeric element
        drift CASTS to the stored type, non-numeric drift raises.
        Indexes built before ``vec_type`` was recorded probe the stored
        vectors through the guarded read."""
        stored = self.params.get("vec_type")
        if stored is None:
            if not _has_data_file(self.spark, f"{self.path}/vectors"):
                return df
            stored = self.read("vectors").schema["vec"].dataType.simpleString()
        got = df.schema[vec_col].dataType.simpleString()
        if got == stored:
            return df
        inner_got = got.removeprefix("array<").removesuffix(">")
        inner_stored = stored.removeprefix("array<").removesuffix(">")
        if (
            not got.startswith("array<")
            or not stored.startswith("array<")
            or _type_category(inner_got) != "numeric"
            or _type_category(inner_stored) != "numeric"
        ):
            raise ValueError(
                f"{self.path}: batch {vec_col} is {got} but the index stores "
                f"{stored} — appending would write mixed-schema files; cast "
                "the vectors upstream or rebuild the index"
            )
        return df.withColumn(vec_col, F.col(vec_col).cast(stored))

    @contextmanager
    def appending(self, owner: str | None = None):
        """Hold the ``__appending`` marker (``owner`` is a streaming
        ingest's stable reclaim identity)."""
        with hold_append_marker(self.spark, self.path, owner):
            yield

    def write(self, frames: dict[str, DataFrame]) -> None:
        """Append ``frames`` (sub name → rows) in table order; the caller
        holds the append marker."""
        for name in frames:
            self.sub(name)  # an unknown name raises rather than vanishing
        for s in self.subs:
            if s.name in frames:
                _write_sub(frames[s.name], self.path, s, "append")

    def append(self, frames: dict[str, DataFrame], owner: str | None = None) -> None:
        """Admit a batch: write ``frames`` in verify-first table order
        under the append marker."""
        with self.appending(owner):
            self.write(frames)


def _write_sub(df: DataFrame, path: str, sub: Sub, mode: str) -> None:
    w = df.write.mode(mode)
    if sub.partitioned:
        w = w.partitionBy(*sub.keys)
    w.parquet(f"{path}/{sub.name}")


def open_index(
    spark: SparkSession,
    path: str,
    caller: dict | None = None,
    ranges: dict | None = None,
) -> Index:
    """Open the index at ``path``: read its manifest once, reject an
    unknown flavor, validate ``caller`` parameters against the manifest
    (``ranges``: see :func:`_validate_params`). With no manifest the
    caller's parameters (and flavor) are trusted."""
    m = _read_manifest(spark, path)
    if m is not None and m["flavor"] not in FLAVORS:
        raise ValueError(
            f"{path}/manifest records unknown index flavor {m['flavor']!r} "
            f"(known: {', '.join(FLAVORS)}) — a manifest from another "
            "version or a corrupt one; rebuild the index or restore the "
            "manifest"
        )
    return Index(spark, path, m, _validate_params(path, m, caller or {}, ranges))


def write_index(
    df: DataFrame,
    id_col: str,
    path: str,
    params: dict,
    frames: dict[str, DataFrame],
) -> None:
    """Build side: overwrite ``frames`` (sub name → rows, written in the
    given order), then record the manifest from ``params`` and the
    stored id type of ``df[id_col]``."""
    subs = {s.name: s for s in FLAVORS[params["flavor"]]}
    for name, frame in frames.items():
        _write_sub(frame, path, subs[name], "overwrite")
    _write_manifest(df, path, params, id_col=id_col)
