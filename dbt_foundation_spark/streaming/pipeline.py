"""Structured Streaming extension (SURVEY §2.J — Cat D).

The reference is batch-only ELT (its nearest analog is the incremental
materialization family), so this module is the engine's *extension*
surface: the same event-analytics the batch catalog computes over the
``events`` table, expressed as an incremental ``readStream`` pipeline.
Every operator returns an unstarted streaming DataFrame; ``run_*``
helpers attach sinks.

Scale notes baked into the shapes:
- watermarks bound state: a windowed agg without one grows state
  forever at 100 TB/day ingest; every agg here takes ``watermark``.
- file-source micro-batching is governed by maxFilesPerTrigger; state
  shuffles are keyed by (window, group) so AQE/skew handling applies.
- the custom stateful op uses applyInPandasWithState (Arrow-batched) —
  the Spark-native replacement for a hand-rolled state store.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from dbt_foundation_spark.checkpoint import pin
from dbt_foundation_spark.operators.index_core import open_index

#: Sentinel default for ``run_dedup_ingest(max_tokens=...)`` so that an
#: explicit ``None`` keeps its batch-operator meaning (UNCAPPED) while an
#: omitted argument resolves to the engine default cap. A plain ``None``
#: default would conflate the two, and a stream could never run against
#: an index built uncapped.
_DEFAULT_CAP = object()

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        # TIMESTAMP (ltz), not NTZ: watermarks require event-time with a
        # zone; the engine pins the session zone to UTC so they coincide
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


DOCUMENT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_document_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a directory of documents parquet files —
    the streaming-ingest flank of the curation pipeline."""
    reader = spark.readStream.schema(DOCUMENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def curate_documents(docs: DataFrame, min_quality: float = 0.5) -> DataFrame:
    """Stateless curation map: PII scrub + quality gate + language tag.

    Works unchanged on a batch OR streaming DataFrame — every step is a
    pure Column expression (functions/redact.py, functions/text.py), so
    on a stream it needs no watermark, carries no state, and each
    micro-batch is one map stage. This is the shape to put FIRST in a
    streaming ingest: scrub/score/filter per batch, then feed the
    stateful stages (dedup_stream, windowed aggs) a smaller stream."""
    from dbt_foundation_spark.functions.redact import redact_pii
    from dbt_foundation_spark.functions.text import lang_id, quality_score

    return (
        docs.withColumn("quality", quality_score("text"))
        .filter(F.col("quality") >= min_quality)
        .select(
            "doc_id",
            redact_pii("text").alias("clean_text"),
            lang_id("text").alias("lang_detected"),
            F.round("quality", 6).alias("quality"),
        )
    )


def read_event_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType = EVENT_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a directory of event parquet files."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def enrich_stream(stream: DataFrame, dim: DataFrame, on: list[str]) -> DataFrame:
    """Stream-static join: per-micro-batch broadcast of the (batch)
    dimension against the stream — no state, no watermark needed; the
    dimension is re-resolved each batch, so slowly-changing dims pick up
    updates between batches."""
    return stream.join(F.broadcast(dim), on, "left")


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "r_ts",
    right_key: str | None = None,
    watermark: str = "1 hour",
    before: str = "10 minutes",
    after: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: pair rows sharing ``key`` whose
    event times are within [-before, +after] of each other.

    Both sides carry a watermark and the join predicate bounds the time
    range in BOTH directions — the two conditions Spark needs to prove
    state is finite (each side buffers only rows younger than watermark
    + interval; older state is evicted). Without the two-sided time
    bound this is an ever-growing state store at 100 TB/day.
    The right side's columns must be pre-renamed (no shared names);
    ``right_key`` names the renamed key column (default ``r_<key>``,
    matching the ``right_ts`` convention — pass it explicitly when the
    right side uses a different rename scheme).

    ``how='leftOuter'`` adds null-padded rows for unmatched left rows —
    emitted only once the watermark passes the row's match horizon
    (until then a match could still arrive), so with an availableNow
    drain the LAST ``watermark + after`` of left rows never null-pad:
    they are still conditionally open when the stream ends. That tail
    is inherent to outer stream joins, not a bug — downstream consumers
    either wait for the next trigger or treat the tail as pending.
    """
    if how not in ("inner", "leftOuter"):
        raise ValueError("interval_join_streams supports inner/leftOuter")
    if right_key is None:
        right_key = f"r_{key}"
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (F.col(key) == F.col(right_key))
        & (F.col(right_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {before}"))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {after}"))
    )
    return lw.join(rw, cond, how)


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Per-(window, event_type) counts+sums; watermark bounds state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select("w.start", "w.end", "event_type", "n_events", "sum_value")
    )


def sliding_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("w.start", "w.end", "n_events")
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session windows (gap-merged) — the streaming twin of the
    batch q_session_window query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("w.start", "w.end", "user_id", "n_events")
    )


def dedup_stream(
    events: DataFrame, keys: Iterable[str] = ("event_id",), watermark: str = "2 hours"
) -> DataFrame:
    """Exactly-once-per-key stream: state is dropped once the watermark
    passes, so memory is bounded by the late-data horizon, not history."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


_STATE_SCHEMA = "n_events bigint, sum_value double"
_USER_TOTALS_SCHEMA = "user_id bigint, n_events bigint, sum_value double"


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running totals that survive
    across micro-batches (applyInPandasWithState, Arrow-batched).

    This is the wiring point for bespoke state machines (sessionization
    with business rules, CDC folding) that windowed aggs can't express.
    """

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += int(len(pdf))
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_USER_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_available_now(
    stream_df: DataFrame,
    checkpoint_dir: str,
    query_name: str,
    output_mode: str = "update",
):
    """Drain everything currently available into an in-memory sink table
    named ``query_name``, then stop (the batch-parity test harness).
    Returns the terminated query — its ``recentProgress`` carries the
    committed per-batch watermarks, which outer-join tests need to
    compute the exact null-pad horizon instead of guessing a
    one-trigger margin."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_to_parquet(
    stream_df: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> None:
    """Append-mode parquet sink — the production-shaped path (exactly-
    once via checkpoint + file-sink manifest)."""
    writer = (
        stream_df.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    q.awaitTermination()


def _gate_first_batch(
    gate_state: dict,
    *dfs: DataFrame,
    allow: Iterable[str] = (),
    key: str = "scale_gated",
) -> None:
    """Pre-execution scale gate for foreachBatch bodies: run
    ``plans.inspect.assert_scale_safe`` on the batch plans ONCE per
    stream run. The plan SHAPE is batch-invariant (same operators,
    different file slices), so the first trigger proves the run and
    later triggers skip the plan walk. The batch catalog is gated by
    ``lint(project, scale=True)``, but these sinks execute plans the
    lint never sees — without this, a detector change reintroducing a
    row-UDF or a single-partition funnel would ship silently and only
    show up as 100 TB throughput collapse. Failing the FIRST trigger is
    the streaming equivalent of failing CI; the stream dies with
    :class:`plans.inspect.PlanScaleError` in its cause chain."""
    if gate_state.get(key):
        return
    from dbt_foundation_spark.plans import inspect as plan_inspect

    for df in dfs:
        plan_inspect.assert_scale_safe(df, allow=allow)
    gate_state[key] = True


def run_into_incremental(
    project,
    node_name: str,
    stream_df: DataFrame,
    checkpoint_dir: str,
    available_now: bool = True,
) -> None:
    """Bridge a stream into the materialization framework: each
    micro-batch is applied with the node's configured INCREMENTAL
    strategy via ``foreachBatch`` — ``append`` for pure event streams,
    ``merge`` (unique_key) to upsert late re-deliveries so at-least-once
    batches still converge to exactly-once table state. dbt has no
    streaming story; this is the engine's extension: the same node
    definition serves batch backfill and continuous ingestion, and the
    checkpoint makes restarts resume mid-stream."""
    from dbt_foundation_spark.materialize import materialize, merge_plan

    node = project.manifest[node_name]
    if node.config.materialized != "incremental":
        raise ValueError(
            f"{node_name}: run_into_incremental needs materialized='incremental'"
        )
    if node.config.incremental_strategy == "microbatch":
        # microbatch REBUILDS every period in its window from what it
        # assumes is the complete restated source; a micro-batch stream
        # delivers partial slices, so the period overlapping two
        # triggers would be rebuilt from the later slice alone —
        # silently dropping the earlier trigger's rows at every seam.
        raise ValueError(
            f"{node_name}: microbatch models rebuild whole periods from a "
            "complete source — drive them from batch runs (optionally with "
            "event_time_start/end); stream ingestion pairs with "
            "append/merge strategies"
        )

    spark = project.spark
    rel = project.relation_name(node)
    gate_state: dict = {}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch hands the micro-batch over as an opaque
        # ExistingRDD scan (stream-side transforms already ran inside
        # the streaming engine), so the gateable plans are the
        # STRATEGY's. Two shapes, each gated once per run: the batch
        # scan itself on the first trigger (the create/append write
        # plan), and — for merge/delete+insert — the existing⟕batch
        # anti-join + union the first time it executes, which on a
        # fresh table is trigger TWO (trigger one is the CTAS). That
        # plan is built over the raw batch: the NULL-key filter
        # materialize adds (and counts once per trigger) leaves its
        # shape unchanged.
        _gate_first_batch(gate_state, batch_df)
        if (
            node.config.incremental_strategy in ("merge", "delete+insert")
            and not gate_state.get("merge_gated")
            and spark.catalog.tableExists(rel)
        ):
            _gate_first_batch(
                gate_state, merge_plan(project, node, batch_df), key="merge_gated"
            )
        materialize(project, node, batch_df)

    writer = stream_df.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    q.awaitTermination()


_SESSION_STATE = "start timestamp, last_ts timestamp, n_events bigint"
_SESSION_OUT = "user_id bigint, session_start timestamp, session_end timestamp, n_events bigint"


def sessionize_with_state(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Custom stateful sessionization: per-user sessions closed by an
    event-time timeout (the applyInPandasWithState wiring point for
    business-rule sessions that `session_window` can't express —
    per-user gaps, caps, or splits would slot into the same loop).

    A session closes when the watermark passes last_ts + gap; closed
    sessions are emitted in append mode, open ones stay in state.

    Assumes micro-batches arrive roughly time-ordered per key (the
    normal shape for log ingestion; the clamped timeout below absorbs
    modest disorder). Arbitrarily out-of-order streams need the
    buffer-in-state formulation (hold events until the watermark passes,
    as the built-in session_window does) — same wiring, more state.

    NULL event-times are filtered at entry (comparison semantics — an
    event at an unknown time belongs to no session, same contract as
    asof_join's NULL timestamps). Unfiltered, one NaT poisons the
    per-key fold: every gap comparison against NaT is False, the whole
    key collapses into one session with last_ts=NaT, and
    NaT.timestamp() then kills the streaming query."""
    events = events.filter(F.col("ts").isNotNull())

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        import datetime as _dt

        gap = _dt.timedelta(seconds=gap_seconds)
        out = []
        if state.hasTimedOut:
            start, last_ts, n = state.get
            out.append((key[0], start, last_ts, n))
            state.remove()
        else:
            start, last_ts, n = (None, None, 0)
            if state.exists:
                start, last_ts, n = state.get
            rows = pd.concat(list(pdfs))
            for ts in sorted(rows["ts"]):
                ts = ts.to_pydatetime()
                if last_ts is not None and (ts - last_ts) > gap:
                    out.append((key[0], start, last_ts, n))
                    start, last_ts, n = (ts, ts, 1)
                else:
                    start = start or ts
                    last_ts, n = ts, n + 1
            if last_ts is not None:
                state.update((start, last_ts, n))
                # out-of-order micro-batches can put last_ts+gap behind
                # the already-advanced watermark — clamp, else Spark
                # rejects the timeout; the session then closes on the
                # next watermark advance (it is already beyond its gap)
                deadline = int((last_ts + gap).timestamp() * 1000) + 1
                state.setTimeoutTimestamp(
                    max(deadline, state.getCurrentWatermarkMs() + 1)
                )
        yield pd.DataFrame(
            out, columns=["user_id", "session_start", "session_end", "n_events"]
        )

    return (
        events.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_SESSION_OUT,
            stateStructType=_SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


_BUFFER_STATE = "buffer array<bigint>"


def sessionize_buffered(
    events: DataFrame, gap_seconds: int = 1800, watermark_delay: str = "0 seconds"
) -> DataFrame:
    """Sessionization that tolerates ARBITRARY within-watermark disorder:
    events are buffered in state and a session is emitted only once the
    watermark has passed its last event + gap — the point at which the
    watermark contract guarantees no earlier event can still arrive.
    This is the buffer-in-state formulation `sessionize_with_state`'s
    docstring defers to (the built-in session_window does the same
    internally); the cost is state linear in the open-session event
    count instead of O(1) per key.

    NULL event-times are filtered at entry (same contract as
    sessionize_with_state): a NaT's .value is the int64 sentinel, which
    would otherwise enter the buffer as a year-1677 stamp and emit (or
    crash on) a session that never happened.
    """
    events = events.filter(F.col("ts").isNotNull())
    gap_us = gap_seconds * 1_000_000

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        import datetime as _dt

        # buffer holds MICROsecond epoch stamps — event time at full
        # parquet precision (ms truncation would emit session bounds
        # that disagree with the batch session_window oracle)
        buf = list(state.get[0]) if state.exists else []
        for pdf in pdfs:
            buf.extend(int(ts.value // 1_000) for ts in pdf["ts"])
        buf.sort()
        wm_us = state.getCurrentWatermarkMs() * 1000

        sessions: list[list[int]] = []
        for ts_us in buf:
            if sessions and ts_us - sessions[-1][-1] <= gap_us:
                sessions[-1].append(ts_us)
            else:
                sessions.append([ts_us])

        out, kept_sessions = [], []
        for s in sessions:
            if s[-1] + gap_us < wm_us:  # no in-watermark event can extend it
                out.append(
                    (
                        key[0],
                        _dt.datetime.fromtimestamp(s[0] / 1e6, _dt.timezone.utc).replace(tzinfo=None),
                        _dt.datetime.fromtimestamp(s[-1] / 1e6, _dt.timezone.utc).replace(tzinfo=None),
                        len(s),
                    )
                )
            else:
                kept_sessions.append(s)

        if kept_sessions:
            state.update(([ts for s in kept_sessions for ts in s],))
            # wake at the EARLIEST pending session's deadline — keying
            # the timeout off the newest event would strand older
            # sessions whenever the key stops receiving data
            first_deadline_ms = (kept_sessions[0][-1] + gap_us) // 1000
            state.setTimeoutTimestamp(
                max(first_deadline_ms + 1, state.getCurrentWatermarkMs() + 1)
            )
        elif state.exists:
            state.remove()
        yield pd.DataFrame(
            out, columns=["user_id", "session_start", "session_end", "n_events"]
        )

    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_SESSION_OUT,
            stateStructType=_BUFFER_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _checkpoint_generation(spark: SparkSession, checkpoint_dir: str) -> str:
    """The streaming query id Spark persists at ``{checkpoint}/metadata``
    when the query first starts — the identity of this checkpoint
    GENERATION: stable across every restart that keeps the checkpoint,
    NEW when the checkpoint was deleted or relocated.

    The exactly-once batch markers must be namespaced by THIS, not by
    the checkpoint PATH: batch ids restart at 0 under a wiped
    checkpoint, so path-keyed markers from the previous generation
    would match the new run's (app, 0..N) keys and every replayed batch
    would be SILENTLY SKIPPED — survivors admitted to the index but
    never installed to the output (dedup ingest), or new vectors never
    appended at all (IVF ingest). Read lazily inside the
    sink (the file exists once the query has started); a checkpoint
    without readable metadata fails loudly — guessing a namespace
    would resurrect the silent skip.

    Migration caveat: markers written by releases that keyed them by
    the checkpoint PATH are orphaned — harmless except for a batch that
    crashed BETWEEN its install and its checkpoint commit exactly at the
    upgrade boundary, whose replay re-installs under the new name
    (duplicated survivors for that one batch). Consulting the legacy
    path-keyed markers instead would resurrect the wipe bug (same
    name for a wiped and a kept checkpoint), so the narrow
    upgrade-straddle window is the accepted trade; heal, if hit, is
    exact dedup over the output."""
    import json as _json

    from dbt_foundation_spark.operators.tombstones import read_small_text_lines

    lines = read_small_text_lines(
        spark, f"{checkpoint_dir.rstrip('/')}/metadata"
    )
    line = lines[0][1] if lines else None
    try:
        qid = _json.loads(line)["id"] if line else None
    except (ValueError, KeyError, TypeError):
        qid = None
    if not qid:
        raise RuntimeError(
            f"{checkpoint_dir}/metadata holds no readable streaming query "
            "id — cannot derive the exactly-once marker namespace for "
            "this checkpoint generation; refusing to guess (a wrong "
            "namespace silently skips or duplicates batches)"
        )
    return str(qid)


def _install_batch_output(
    df: DataFrame, out_path: str, app_id: str, batch_id: int
) -> None:
    """Exactly-once survivor write for the dedup ingest: the batch's
    rows land as ONE deterministically-named file
    (``ingest-<app-hash>-<batch>.parquet``) installed by rename only if
    absent. A replayed batch recomputes the same survivors (the index
    is unchanged until ``admit`` runs) and finds its file already
    installed — a plain ``mode("append")`` would duplicate every
    survivor row on replay instead. ``app_id`` namespaces the file per
    stream (batch ids are per-checkpoint, the run_ivf_ingest marker
    lesson); callers pass the checkpoint GENERATION id
    (:func:`_checkpoint_generation`), not the checkpoint path — a
    wiped checkpoint restarts batch ids at 0 and path-keyed markers
    would silently skip every replayed install.
    One file per micro-batch is the normal streaming-sink
    shape — micro-batches are trigger-bounded — and
    ``compact_parquet_path(out_path)`` folds them like any other
    append-grown dataset.

    The replay check is a zero-byte marker in the SIBLING directory
    ``{out_path}__ingest_markers`` (written after the data file
    installs, one per (stream, batch)), NOT the data file itself:
    compaction rewrites/renames the ``ingest-*`` data files away, so a
    data-file-as-marker scheme would let a replayed batch whose output
    had since been compacted reinstall itself and duplicate every row
    the fold already absorbed. The sibling survives any compaction of
    ``out_path``; the data-file check below remains as a heal for the
    crash window between install and marker write.

    Fresh-start self-heal: markers without a dataset are
    definitionally stale — a rebuild that wiped ``out_path`` and the
    checkpoint would otherwise reproduce the old dest_names, match the
    orphaned markers, and silently skip every batch while the output
    stayed empty. The wipe is evidence-gated, not a bare existence
    probe: it fires only on THIS STREAM'S FIRST batch
    (``batch_id == 0`` — a fresh checkpoint, exactly the rebuild
    state) with ``out_path`` absent, and sweeps EVERY ``ingest-*``
    marker, not just this stream's app-hash prefix (the app_id is the
    checkpoint generation, new per wipe, so an own-prefix sweep could
    never reclaim a dead generation's markers and they would grow
    without bound). The wider sweep is still safe for
    sibling streams: markers are written only after their data file
    installs and installing creates ``out_path``, so a sibling with
    any committed batch implies ``out_path`` exists and the heal never
    fires; a momentary ``out_path`` absence mid-life (e.g. a
    contract-violating compaction swap under a running sink) wipes
    nothing at batch N>0. Both mechanisms still assume the standard
    maintenance-window discipline: compact ``out_path`` only while its
    stream is STOPPED and not mid-crash. Markers are zero-byte and
    bounded by batch count; leave them in place."""
    import hashlib

    spark = df.sparkSession
    jvm = spark._jvm
    dest_name = (
        f"ingest-{hashlib.md5(app_id.encode()).hexdigest()[:12]}"
        f"-{int(batch_id)}.parquet"
    )
    dest = jvm.org.apache.hadoop.fs.Path(f"{out_path}/{dest_name}")
    fs = dest.getFileSystem(spark._jsc.hadoopConfiguration())
    marker_dir = f"{out_path.rstrip('/')}__ingest_markers"
    marker = jvm.org.apache.hadoop.fs.Path(f"{marker_dir}/{dest_name}.done")

    def _write_marker() -> None:
        fs.mkdirs(jvm.org.apache.hadoop.fs.Path(marker_dir))
        fs.create(marker, True).close()

    # fresh-start self-heal — evidence-gated (see docstring): only on
    # this stream's FIRST batch (fresh checkpoint == the rebuild state)
    # with out_path gone. The sweep covers ALL ingest-* markers, not
    # just this stream's app-hash prefix: the app_id here is the
    # checkpoint GENERATION, new per wipe, so an own-prefix sweep could
    # never match the dead generation's markers and every wipe would
    # orphan them for good — unbounded growth nothing could reclaim.
    # Any marker is definitionally stale when out_path is
    # absent (markers are written only AFTER their data file installs,
    # and installing creates out_path), so the wider sweep cannot
    # destroy a live sibling stream's state: a sibling with any
    # committed batch implies out_path exists and the heal never fires.
    if int(batch_id) == 0 and not fs.exists(
        jvm.org.apache.hadoop.fs.Path(out_path)
    ):
        mdir_p = jvm.org.apache.hadoop.fs.Path(marker_dir)
        if fs.exists(mdir_p):
            for st in fs.listStatus(mdir_p):
                if st.getPath().getName().startswith("ingest-"):
                    fs.delete(st.getPath(), False)

    if fs.exists(marker):
        return  # replay: this batch committed (data possibly compacted)
    if fs.exists(dest):
        # crash window: data installed, marker write didn't happen —
        # heal the marker, install nothing
        _write_marker()
        return
    # tmp is namespaced by the dest file so two streams feeding the
    # same out_path (distinct app_ids) can never collide mid-write
    tmp = f"{out_path.rstrip('/')}__ingest_tmp_{dest_name}"
    tmp_p = jvm.org.apache.hadoop.fs.Path(tmp)
    fs.delete(tmp_p, True)  # stale residue from a crashed attempt
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    from dbt_foundation_spark.operators.tombstones import iter_part_files

    part = next(iter_part_files(fs, tmp_p), None)
    if part is None:
        # No part-* under a write that just succeeded means a commit
        # protocol that names data files differently — installing
        # nothing and marking the batch done would silently drop every
        # admitted row on every replay.  Loud beats silently wrong
        # (same contract as the revive fold's survivor check).
        raise IOError(
            f"batch write to {tmp} produced no part-* data file — "
            "unrecognized commit protocol output naming? Refusing to "
            "mark the batch committed without installing its rows."
        )
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(out_path))
    if not fs.rename(part, dest) and not fs.exists(dest):
        raise IOError(f"could not install {dest_name} into {out_path}")
    fs.delete(tmp_p, True)
    _write_marker()


def run_dedup_ingest(
    stream_docs: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_len: int = 3,
    jaccard_threshold: float = 0.7,
    portable: bool = False,
    available_now: bool = True,
    detector: str = "minhash",
    max_hamming: int = 3,
    containment_threshold: float = 0.8,
    vec_col: str | None = None,
    cosine_threshold: float = 0.9,
    m: int = 16,
    embed_bands: int = 4,
    seed: int = 42,
    dim: int | None = None,
    max_tokens: int | None | object = _DEFAULT_CAP,
) -> None:
    """Continuous corpus ingestion with near-dup admission control: each
    micro-batch is deduplicated (a) against the PERSISTED index — the
    already-admitted corpus — and (b) within itself, then the survivors
    are appended to ``out_path`` and folded into the index, so the next
    micro-batch sees them as corpus.

    ``detector`` selects the near-dup notion — each rides its own
    persisted index flavor (``operators.dedup_index.DETECTORS``), with
    identical admission semantics:

    - ``"minhash"``: Jaccard ≥ ``jaccard_threshold`` over the band
      index (``num_hashes``/``bands``/``shingle_len``/``portable``).
    - ``"simhash"``: hamming ≤ ``max_hamming`` over the chunk index.
    - ``"containment"``: either containment direction ≥
      ``containment_threshold`` over the prefix-posting index — the
      flavor that gates near-SUBSET ingests (a new doc quoting an
      admitted one, or vice versa) that symmetric Jaccard under-scores.
    - ``"embedding"``: cosine ≥ ``cosine_threshold`` over the banded
      hyperplane-LSH index — semantic near-dups that share no surface
      n-grams. Needs ``vec_col`` (``text_col`` is ignored); ``dim``
      comes from the index manifest, so no per-batch sniff job runs.

    This is the streaming flank of operators/dedup_index: the 100 TB
    daily-ingest loop (build index once → dedup each ingest → admit)
    driven by ``foreachBatch`` instead of a scheduler. Per batch the
    cost is |batch| × collision rate — the corpus is touched only
    through the join-key-clustered index files, never recomputed or
    rescanned.

    One admission path serves every detector. Per micro-batch the sink
    opens the index once, conforms the pinned batch to the stored id
    (and vector) type, and signs it ONCE with the flavor's ``sign``:
    the same signed frames feed the probe against the index, the
    within-batch pairs and the append. Survivors are the batch's own
    rows minus the drops (the output keeps the batch schema); the
    append writes the signed rows of the survivor ids.

    Setup-time refusal: the stream's parameters are validated against
    the index manifest before the query starts, with the append's
    equality rule (the embedding threshold, which no append records,
    keeps the query rule: ≥ the build design point). A simhash radius
    or containment threshold that a probe would accept but an append
    refuses therefore fails the call, before any output exists — not
    every trigger after the first batch's survivors were installed.

    Admission policy (documented contract, pinned by the parity test):
    a doc is DROPPED iff it matches an already-admitted corpus doc at
    the detector's threshold, or it matches a SMALLER-id doc in the
    same batch (greedy pairwise — in an a~b, b~c chain with a<b<c, both
    b and c are dropped even though a and c may not match directly;
    cluster-keeper selection is the batch operator
    ``keep_best_per_cluster``'s job, not the ingest gate's). Batch
    order is the stream's trigger order, so admission is
    order-dependent by design — first writer wins, exactly like the
    sequential daily-ingest loop it replaces.

    The index read inside the sink happens per micro-batch (foreachBatch
    bodies run driver-side per trigger), so appends from batch N are
    visible to batch N+1 — the property the within-one-job variant
    (joining a static snapshot) would silently lose.

    Restart semantics: the stream checkpoint makes batch REPLAY the
    only duplication risk. The survivor OUTPUT is exactly-once across
    replays — each batch's rows install as one deterministically-named
    file, skipped if already present (:func:`_install_batch_output`);
    a plain append would write every survivor twice when the sink dies
    between its two steps. The index side self-cleans: a replay after
    a completed admit recomputes an empty survivor set (the batch now
    matches the corpus), and byte-identical rows from a partial admit
    fold away at the next ``compact_index``.

    Checkpoint LOSS: if the checkpoint dir is deleted but the
    index/output/markers survive, a restart at the same path replays
    the whole source with batch ids starting at 0. The install markers
    are keyed by the checkpoint GENERATION (the persisted query id —
    new per wipe, :func:`_checkpoint_generation`), so replayed batches
    install fresh while previously-admitted docs fold away through the
    admission gate — exactly-once output either way (path-keyed
    markers would match the dead generation's and silently swallow
    the new survivors). A stale ``__appending`` claim from the SAME
    checkpoint path is reclaimed (the owner is the path, stable across
    generations); one from a FOREIGN checkpoint fails the first trigger
    loudly naming the holder and the manual heal."""
    from dbt_foundation_spark.operators import dedup
    from dbt_foundation_spark.operators.dedup_index import DETECTORS
    from dbt_foundation_spark.operators.tombstones import assert_literal_path

    assert_literal_path(index_path, "index path")
    assert_literal_path(out_path, "survivor output path")
    entry = DETECTORS.get(detector)
    if entry is None:
        raise ValueError(
            f"unknown detector {detector!r}: use {'/'.join(DETECTORS)}"
        )
    col = vec_col if entry.vector else text_col
    if col is None:
        raise ValueError(f"detector={detector!r} needs vec_col=")
    # the giant-document cap is manifest-enforced, so the stream-level
    # knob resolves once and every signing uses it: corpus and batch
    # sides always sign in the same token window. The sentinel default
    # (not None) keeps max_tokens=None meaning UNCAPPED, the batch
    # operators' convention, so a stream can run against an index
    # built uncapped.
    cap = dedup.SIGNATURE_MAX_TOKENS if max_tokens is _DEFAULT_CAP else max_tokens
    opts = dict(
        num_hashes=num_hashes, bands=bands, shingle_len=shingle_len,
        portable=portable, jaccard_threshold=jaccard_threshold,
        max_hamming=max_hamming, containment_threshold=containment_threshold,
        cosine_threshold=cosine_threshold, m=m, embed_bands=embed_bands,
        seed=seed, dim=dim, max_tokens=cap,
    )
    params, threshold = entry.params(opts), opts[entry.threshold]
    # setup-time refusal (see the docstring): the rule every batch's
    # append will apply, checked before the stream starts
    open_index(stream_docs.sparkSession, index_path, params, entry.ranges)

    gate_state: dict = {}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # the install-marker namespace is the checkpoint GENERATION
        # (query id), not the checkpoint path: a wiped checkpoint
        # restarts batch ids at 0, and path-keyed markers would make
        # every replayed batch skip its install while still admitting
        # to the index
        gen = gate_state.get("generation")
        if gen is None:
            gen = gate_state["generation"] = _checkpoint_generation(
                spark, checkpoint_dir
            )
        batch_df = pin(batch_df)  # pin: file batches re-list lazily
        idx = open_index(spark, index_path, params, entry.ranges)
        conformed = idx.conform(batch_df, id_col, col if entry.vector else None)
        # lazily pinned: the probe, the within-batch pairs and the
        # append all read these rows, so the signing stages run once
        signed = {
            sub: pin(rows, eager=False)
            for sub, rows in entry.sign(conformed, id_col, col, idx.params).items()
        }
        drops = (
            entry.pairs(signed, threshold, idx)
            .select(F.col("new_id").alias("_drop_id"))
            .union(
                entry.pairs(signed, threshold).select(
                    F.greatest("id_a", "id_b").alias("_drop_id")
                )
            )
            .distinct()
        )
        survivors = batch_df.join(
            drops, batch_df[id_col] == drops._drop_id, "left_anti"
        )
        # the survivors plan embeds the WHOLE detector (index join +
        # within-batch pairs) — one gate covers everything this sink
        # executes per trigger
        _gate_first_batch(gate_state, survivors)
        survivors = pin(survivors)  # two consumers below
        # exactly-once OUTPUT across crash replays (see the helper):
        # install-if-absent, keyed by (stream, batch). Crash between
        # install and append -> replay recomputes the SAME survivors
        # (index unchanged), skips the install, appends once. Crash
        # after the append -> replay's survivors are EMPTY (the batch
        # now matches the corpus) and the pre-crash install already
        # holds the output. Crash MID-append: replayed docs whose
        # verify still fails (their doc-keyed dataset rows are
        # missing) are re-admitted in full and the byte-identical
        # duplicates fold at compact_index (every dedup dataset is
        # distinct_on_compact in index_core.FLAVORS); the
        # single-dataset simhash flavor can instead keep a
        # partially-chunked doc until the next rebuild — bounded to
        # the one crashed batch.
        _install_batch_output(survivors, out_path, gen, int(batch_id))
        ids = survivors.select(F.col(id_col).alias("id"))
        idx.append(
            {sub: rows.join(ids, "id", "left_semi") for sub, rows in signed.items()},
            checkpoint_dir,
        )

    writer = stream_docs.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    q.awaitTermination()


def _ivf_ingest_sink(
    index_path: str,
    id_col: str,
    vec_col: str,
    app_id: str | None,
    checkpoint_dir: str | None = None,
):
    """foreachBatch body for :func:`run_ivf_ingest`, module-level so the
    replay-idempotence contract is directly testable: called twice with
    the SAME (app_id, batch id), the second call is a no-op (the first
    call's marker under ``{index_path}/ingest_log`` short-circuits it).

    The marker key is ``(namespace, batch_id)``, not the bare batch id —
    Structured Streaming numbers batches PER CHECKPOINT from 0, so a
    second stream feeding the same index would otherwise collide with
    old markers and silently drop its batches (the Delta
    ``txnAppId``/``txnVersion`` pattern). The namespace ALWAYS embeds
    the checkpoint GENERATION (the persisted query id,
    :func:`_checkpoint_generation`): bare (``app_id`` None) it IS the
    generation id; with an explicit ``app_id`` it is
    ``<app_id>@<generation>`` — NOT the bare app_id and NOT the
    checkpoint path, because any wipe-stable namespace silently skips
    replays: a wiped checkpoint restarts batch ids at 0, and a stable
    namespace would match the dead generation's markers so every
    replayed batch would be dropped from the index. Under
    a fresh generation the whole source replays INTO the index once;
    previously-appended rows land byte-identical and fold away at the
    next ``compact_index`` (the same fold that heals the append∥marker
    crash window), so the steady state stays exactly-once. The
    ``__appending`` owner stays the checkpoint PATH — stable across
    generations, so a restart after a wipe still reclaims its own
    stale claim. The quantizer state (centroids, dim, lists schema) is
    loaded ONCE on the first batch — immutable under the no-refit
    contract — so the steady-state per-batch cost is one pushed-down
    marker probe + a map-only assignment."""
    from dbt_foundation_spark.operators.similarity import (
        _append_assigned,
        _assigned_rows,
        _centroids,
        _check_batch_schema,
    )

    log_path = f"{index_path}/ingest_log"
    state: dict = {}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # The marker namespace ALWAYS carries the checkpoint generation:
        # a bare explicit app_id would be stable across checkpoint
        # wipes, so a wiped checkpoint restarting batch ids at 0 would
        # match the dead run's (app_id, 0..N) markers and silently skip
        # every replayed batch. An explicit app_id namespaces WITHIN a
        # generation (multi-stream separation) as
        # `<app_id>@<generation>`; the generation id provides
        # wipe-freshness for both forms. Migration caveat: markers
        # written by releases that keyed explicit-app_id runs without
        # the generation are orphaned; a kept checkpoint never replays
        # committed batches anyway (the checkpoint itself is the first
        # line of exactly-once), so the orphan only matters on the one
        # crashed batch straddling the upgrade — replay appends
        # byte-identical rows that fold at the next compact_index.
        if checkpoint_dir is None:
            # direct-call mode (no streaming checkpoint): there is no
            # generation to key by AND no wipe hazard — replays only
            # come from checkpoints — so the bare app_id namespace is
            # exactly right. Both None would mean no identity at all.
            if app_id is None:
                raise ValueError(
                    "_ivf_ingest_sink needs app_id when called without "
                    "a checkpoint_dir — markers must carry an identity"
                )
            ns = app_id
        else:
            gen = state.get("generation")
            if gen is None:
                gen = state["generation"] = _checkpoint_generation(
                    spark, checkpoint_dir
                )
            ns = f"{app_id}@{gen}" if app_id else gen
        # __appending exclusion: the claim covers the WHOLE trigger body — not just the
        # append + batch-marker write but also the ingest_log
        # seen-probe and the first-batch quantizer/lists-schema loads,
        # which otherwise race a concurrent compact_index's
        # rename-aside swap of those very datasets (a read landing in
        # the swap window kills the query, or a momentarily-missing
        # log replays a committed batch). A concurrent batch append or
        # second stream would likewise share the FileOutputCommitter
        # staging and destroy this batch's uncommitted files.
        # the marker owner is the stream's PATH-stable identity (the
        # explicit app_id, else the checkpoint path — deliberately not
        # the generation id): a restart after a crash mid-append
        # RECLAIMS its own stale claim even across a checkpoint wipe
        # and re-runs the batch (replayed rows fold at compact_index).
        from dbt_foundation_spark.operators.tombstones import _has_data_file

        # the manifest is never swapped by compaction, so it may be read
        # (once per run) before the claim
        idx = state.get("index")
        if idx is None:
            idx = state["index"] = open_index(spark, index_path, {"flavor": "ivf"})
        with idx.appending(app_id or checkpoint_dir):
            # keyed latch, not `not state` — the generation cache above
            # also lives in state and must not suppress this load
            if "centroids" not in state:
                state["centroids"], state["dim"] = _centroids(idx)
                # guarded: an all-torn lists dir gets the named torn-file
                # heal, not a per-trigger generic schema-inference error
                state["schema"] = idx.read("lists").schema
            # first-ever streamed batch: no log yet — a data-FILE
            # probe, not a caught AnalysisException (Spark logs the
            # JVM stack of even caught exceptions into the driver
            # tail) and not bare fs.exists (a crashed
            # first append can leave an empty log dir whose read would
            # raise and pin the stream down)
            if not _has_data_file(spark, log_path):
                seen = False
            else:
                # membership probe, not a whole-log collect: the
                # predicate pushes to the parquet footers, so a year
                # of batch markers costs a row-group-stat check per
                # batch, not O(batches) driver transfer. Deliberately
                # NOT torn-file-guarded: a zero-byte log
                # part reads as silently empty, so the worst fate is a
                # committed batch re-appending byte-identical rows
                # that fold at the next compact_index — whereas a loud
                # raise here would fire every trigger and poison-pill
                # the stream on crash residue;
                # index_stats still reports the torn file.
                seen = (
                    spark.read.parquet(log_path)
                    .filter(
                        (F.col("app_id") == ns)
                        & (F.col("batch_id") == int(batch_id))
                    )
                    .limit(1)
                    .count()
                    > 0
                )
            if seen:
                return
            _check_batch_schema(batch_df, id_col, vec_col, state["schema"])
            # gate the exact assignment plan the append executes (state
            # doubles as the once-per-run latch, like the quantizer
            # cache)
            _gate_first_batch(
                state,
                _assigned_rows(
                    batch_df, id_col, vec_col, index_path,
                    state["centroids"], state["dim"],
                ),
            )
            # refuse_all_dirty=False: a hard raise here fires BEFORE
            # the (app_id, batch_id) marker lands, so every restart
            # would replay the identical batch and crash again — one
            # corrupt vector arriving alone in a micro-batch must
            # quarantine to list -1 (loudly) and let the marker
            # commit, never become a permanent poison pill
            _append_assigned(
                idx, batch_df, id_col, vec_col,
                state["centroids"], state["dim"],
                refuse_all_dirty=False,
            )
            from dbt_foundation_spark.local_data import local_frame

            local_frame(
                spark, [(ns, int(batch_id))], "app_id string, batch_id long"
            ).write.mode("append").parquet(log_path)

    return sink


def run_ivf_ingest(
    stream_vecs: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    app_id: str | None = None,
) -> None:
    """Keep a persisted IVF ANN index fresh from a stream: each
    micro-batch is assigned with the index's STORED centroids and
    appended into the matching list partitions
    (``operators.similarity.append_to_ivf_index``'s core) — the
    streaming flank of the index lifecycle (build → append per ingest →
    ``compact_index`` → ``search_ivf_index`` / ``knn_join_ivf``),
    mirroring what :func:`run_dedup_ingest` is for the dedup indexes.

    Restart semantics: the stream checkpoint makes batch REPLAY the
    only duplication risk (after a crash, foreachBatch re-runs the last
    batch whose epoch never committed). Unlike the dedup ingest —
    where a replayed batch is rejected by the admission gate itself —
    a bare IVF append is not self-cleaning, so the sink records each
    appended batch under ``{index_path}/ingest_log`` keyed by
    ``(namespace, batch_id)`` where the namespace is the checkpoint
    GENERATION (the persisted query id), prefixed ``<app_id>@`` when an
    explicit ``app_id`` is given (not the checkpoint PATH or a bare
    app_id: any wipe-stable namespace means a wiped checkpoint
    restarting batch ids at 0 silently drops every replayed batch
    against the dead generation's markers), giving each stream its own
    marker namespace (batch ids are per-checkpoint, so a bare-id key
    would make a SECOND stream into the same index collide with old
    markers and silently drop its batches). The remaining window is a
    crash BETWEEN append and marker write: a replay there appends byte-identical (id, vector)
    rows again, which inflates those lists' candidate counts but
    cannot change which vectors exist or their assignments;
    ``compact_index`` drops such exact-duplicate rows at the next
    maintenance window, restoring exactly-once state — the same fold
    heals the bigger operational mistake of re-playing a whole source
    into the index under a FRESH checkpoint. The per-batch cost is one
    pushed-down marker probe + a map-only assignment (quantizer state
    loads once) — the corpus lists are never read."""
    from dbt_foundation_spark.operators.tombstones import assert_literal_path

    assert_literal_path(index_path, "index path")
    writer = stream_vecs.writeStream.foreachBatch(
        _ivf_ingest_sink(
            index_path, id_col, vec_col, app_id, checkpoint_dir
        )
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    q.awaitTermination()


def sessionize_tws(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Sessionization on transformWithStateInPandas — Spark 4's typed
    successor to applyInPandasWithState (named state variables, explicit
    event-time TIMERS instead of a single timeout slot). Semantics are
    IDENTICAL to :func:`sessionize_with_state` (O(1) state per user,
    session closes when the watermark passes last_ts + gap, closed
    sessions emitted in append mode) — the parity test pins all three
    sessionizers against each other, so the two stateful APIs guard one
    another.

    Mechanics worth pinning: timers fire in handleExpiredTimer when the
    watermark passes their expiry; a timer registered for an
    already-passed instant still fires on the next watermark advance,
    which is exactly the clamped-timeout behavior the
    applyInPandasWithState version hand-codes. Stale timers left behind
    by a session that was extended are re-checked against the CURRENT
    gap deadline and re-registered instead of emitting early.

    Requires ``protobuf`` (the TWS state-server wire protocol is
    protobuf-framed); raises a clear error when absent rather than
    crashing the streaming Python runner mid-query. In protobuf-less
    environments — this container is one — the parity test pins THIS
    RuntimeError contract instead of skipping (README "Capability
    matrix"), and the applyInPandasWithState twin carries the covered
    path."""
    try:
        from google.protobuf import descriptor as _descriptor  # noqa: F401
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise RuntimeError(
            "transformWithStateInPandas needs the 'protobuf' package "
            "(pyspark's TWS state protocol); install protobuf or use "
            "sessionize_with_state, which has identical semantics"
        ) from exc
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    gap_us = gap_seconds * 1_000_000

    def _us(ts) -> int:
        return int(ts.value // 1_000)  # pandas Timestamp ns -> µs

    class SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            # µs longs, not timestamps: exact integer state arithmetic
            self._handle = handle
            self._sess = handle.getValueState(
                "sess", "start long, last_ts long, n bigint"
            )

        def _emit(self, key):
            start, last, n = self._sess.get()
            self._sess.clear()
            return pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.Timestamp(start, unit="us")],
                    "session_end": [pd.Timestamp(last, unit="us")],
                    "n_events": [n],
                }
            )

        def handleInputRows(self, key, rows, timerValues):
            start, last, n = (None, None, 0)
            if self._sess.exists():
                start, last, n = self._sess.get()
            ts_all = []
            for pdf in rows:
                ts_all.extend(_us(t) for t in pdf["ts"])
            for t in sorted(ts_all):
                if last is not None and t - last > gap_us:
                    yield pd.DataFrame(
                        {
                            "user_id": [key[0]],
                            "session_start": [pd.Timestamp(start, unit="us")],
                            "session_end": [pd.Timestamp(last, unit="us")],
                            "n_events": [n],
                        }
                    )
                    start, last, n = t, t, 1
                else:
                    start = start if start is not None else t
                    last, n = t, n + 1
            if last is not None:
                self._sess.update((start, last, n))
                self._handle.registerTimer((last + gap_us) // 1000 + 1)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if not self._sess.exists():
                return iter(())
            _, last, _ = self._sess.get()
            deadline_ms = (last + gap_us) // 1000 + 1
            if timerValues.getCurrentWatermarkInMs() >= deadline_ms:
                yield self._emit(key)
            else:
                # stale timer from before the session was extended:
                # re-arm for the current deadline, emit nothing
                self._handle.registerTimer(
                    max(deadline_ms, timerValues.getCurrentWatermarkInMs() + 1)
                )

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .transformWithStateInPandas(
            SessionProcessor(),
            outputStructType=_SESSION_OUT,
            outputMode="append",
            timeMode="EventTime",
        )
    )


def run_histogram_ingest(
    stream_df: DataFrame,
    value_col: str,
    state_path: str,
    checkpoint_dir: str,
    *,
    lo: float,
    hi: float,
    bins: int = 100,
    group_cols: tuple[str, ...] = (),
    available_now: bool = True,
) -> None:
    """Continuously maintained quantile state: fold each micro-batch's
    fixed-bin histogram (operators/rollup.value_histogram) into a
    persisted histogram table by ADDING counts — the additive flank of
    :func:`run_into_incremental`, whose merge strategy REPLACES rows by
    key and so cannot accumulate.

    At any moment ``histogram_quantiles`` over ``state_path`` answers
    p50/p95/p99 for everything ingested so far without re-scanning a
    single event — the state is ≤ groups×bins rows regardless of how
    much has streamed through, so the per-batch merge (union + sum by
    (group, bin)) is metadata-scale work even when the batch itself is
    huge: the batch is touched once by the map-side-combined binning
    count, and only its aggregate meets the state.

    The merged state is pinned (``checkpoint.pin``) before the
    overwrite — it is about to replace the very files it was read
    from. foreachBatch bodies run driver-side per trigger, so batch
    N's fold is visible to batch N+1, and the streaming checkpoint
    makes restarts resume mid-stream (a replayed batch would
    double-count — use exactly-once file sources / availableNow
    triggers, or route through an idempotent batch-id ledger, for
    at-least-once sources)."""
    import os

    from dbt_foundation_spark.operators.rollup import value_histogram

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        h = value_histogram(
            batch_df, value_col, lo=lo, hi=hi, bins=bins, group_cols=group_cols
        )
        if os.path.exists(state_path):
            h = h.unionByName(spark.read.parquet(state_path))
        merged = pin(
            h.groupBy(*group_cols, "bin").agg(F.sum("cnt").alias("cnt"))
        )
        merged.write.mode("overwrite").parquet(state_path)

    writer = stream_df.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    q.awaitTermination()
