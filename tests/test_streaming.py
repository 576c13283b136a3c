"""Structured Streaming extension tests (SURVEY §2.J).

Strategy: stage the events table as multiple parquet files, stream them
back with maxFilesPerTrigger so the pipeline genuinely crosses
micro-batch boundaries, and assert the streaming results equal the
batch DataFrame results over the same data — streaming/batch parity is
the oracle (DuckDB can't model streams; the batch side already is
oracle-checked).
"""

from __future__ import annotations

import shutil
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from dbt_foundation_spark.queries._util import t

from tests.conftest import distinct_mtime
from dbt_foundation_spark.streaming.pipeline import (
    dedup_stream,
    read_event_stream,
    run_available_now,
    run_to_parquet,
    running_user_totals,
    session_counts,
    tumbling_counts,
)

pytestmark = pytest.mark.usefixtures("spark")


@pytest.fixture(scope="module")
def staging(spark, sf_dir):
    """Events staged as 4 parquet files + a scratch area, repo-local.

    Two layouts: ``events`` — 4 hash-random files (each spans the whole
    time range; batches arrive time-interleaved, the harsh case for
    stateful ops), and ``events_ordered`` — 4 contiguous time slices
    written sequentially with increasing mtimes, so the file source
    replays them in event-time order. Outer-join parity tests need the
    ordered layout: with interleaved files a later batch carries rows
    below the advanced watermark, which streaming correctly treats as
    late (drops them) — real behavior, but it makes exact batch parity
    unassertable."""
    import time as _time

    root = Path("/root/repo/.tmp") / f"stream_{uuid.uuid4().hex[:8]}"
    events_dir = root / "events"
    ev = _events(spark, sf_dir)
    ev.repartition(4).write.parquet(str(events_dir))

    ordered_dir = root / "events_ordered"
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    width = (hi - lo) / 4
    for i in range(4):
        upper = (F.col("ts") < lo + (i + 1) * width) if i < 3 else F.lit(True)
        sl = ev.filter((F.col("ts") >= lo + i * width) & upper)
        sl.coalesce(1).write.mode("append").parquet(str(ordered_dir))
        if i < 3:
            distinct_mtime(ordered_dir)  # stamped, not slept: conftest.distinct_mtime
    yield {
        "root": root,
        "events": str(events_dir),
        "events_ordered": str(ordered_dir),
    }
    shutil.rmtree(root, ignore_errors=True)


def _events(spark, sf_dir):
    """Events with ts as TIMESTAMP (ltz) — watermark-compatible; the
    session zone is UTC so values are unchanged."""
    return t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))


def _ckpt(staging) -> str:
    return str(staging["root"] / f"ckpt_{uuid.uuid4().hex[:8]}")


def test_tumbling_counts_match_batch(spark, sf_dir, staging):
    stream = read_event_stream(spark, staging["events"], max_files_per_trigger=2)
    agg = tumbling_counts(stream, "1 hour", "2 hours")
    run_available_now(agg, _ckpt(staging), "s_tumbling", output_mode="complete")
    got = {
        (r["start"], r["end"], r["event_type"]): (r["n_events"],)
        for r in spark.table("s_tumbling").collect()
    }
    batch = (
        _events(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("w.start", "w.end", "event_type", "n_events")
    )
    want = {
        (r["start"], r["end"], r["event_type"]): (r["n_events"],)
        for r in batch.collect()
    }
    assert got == want and len(got) > 10


def test_session_counts_match_batch(spark, sf_dir, staging):
    stream = read_event_stream(spark, staging["events"], max_files_per_trigger=2)
    agg = session_counts(stream, "30 minutes", "2 hours")
    run_available_now(agg, _ckpt(staging), "s_sessions", output_mode="complete")
    got = {
        (r["start"], r["end"], r["user_id"]): r["n_events"]
        for r in spark.table("s_sessions").collect()
    }
    batch = (
        _events(spark, sf_dir)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("w.start", "w.end", "user_id", "n_events")
    )
    want = {
        (r["start"], r["end"], r["user_id"]): r["n_events"] for r in batch.collect()
    }
    assert got == want and len(got) > 10


def test_stream_dedup_to_parquet(spark, sf_dir, staging):
    """Duplicate the staged files → dropDuplicatesWithinWatermark must
    restore exactly the original event_id set through a parquet sink."""
    dup_dir = staging["root"] / "events_dup"
    src = _events(spark, sf_dir)
    src.repartition(2).write.mode("overwrite").parquet(str(dup_dir))
    src.repartition(3).write.mode("append").parquet(str(dup_dir))

    stream = read_event_stream(spark, str(dup_dir))
    deduped = dedup_stream(stream, keys=("event_id",), watermark="24 hours")
    out = staging["root"] / "dedup_out"
    run_to_parquet(deduped, str(out), _ckpt(staging))
    got = spark.read.parquet(str(out))
    assert got.count() == src.count()
    assert got.select("event_id").distinct().count() == src.count()


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, staging):
    """Stream-stream interval join (clicks ⋈ purchases by user within
    ±10 min) drained availableNow must equal the same join in batch —
    pinning the watermark + two-sided-time-bound state contract."""
    from dbt_foundation_spark.streaming.pipeline import (
        interval_join_streams,
        read_event_stream,
    )

    def split(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            "user_id", "ts", F.col("event_id").alias("click_id")
        )
        buys = df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("r_user_id"),
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        return clicks, buys

    stream = read_event_stream(spark, staging["events"], max_files_per_trigger=2)
    s_clicks, s_buys = split(stream)
    joined = interval_join_streams(s_clicks, s_buys).select("click_id", "purchase_id")
    run_available_now(joined, _ckpt(staging), "s_interval_join", output_mode="append")
    got = sorted(
        (r["click_id"], r["purchase_id"])
        for r in spark.table("s_interval_join").collect()
    )

    b_clicks, b_buys = split(_events(spark, sf_dir))
    cond = (
        (F.col("user_id") == F.col("r_user_id"))
        & (F.col("r_ts") >= F.col("ts") - F.expr("INTERVAL 10 minutes"))
        & (F.col("r_ts") <= F.col("ts") + F.expr("INTERVAL 10 minutes"))
    )
    want = sorted(
        (r["click_id"], r["purchase_id"])
        for r in b_clicks.join(b_buys, cond, "inner").collect()
    )
    assert got == want and len(got) > 0


@pytest.mark.parametrize(
    "before,after",
    [("10 minutes", "10 minutes"), ("5 minutes", "20 minutes")],
    ids=["sym10", "asym5_20"],
)
def test_stream_stream_left_outer_interval_join(spark, sf_dir, staging, before, after):
    """leftOuter flavor: every inner match must appear, and null-padded
    rows must be exactly the batch-unmatched left rows old enough that
    the final COMMITTED watermark had provably closed their match
    horizon (the within-horizon tail legitimately stays pending —
    documented in interval_join_streams). The horizon is derived from
    the query's own progress (last committed watermark − after) rather
    than a guessed one-trigger margin, so the assertion stays exact even
    if file listing order or batching changes how far the watermark
    lags; maxFilesPerTrigger=1 forces ≥3 watermark advances so the
    eviction path is exercised across several micro-batches, in both a
    symmetric and an asymmetric gap config."""
    import datetime

    from dbt_foundation_spark.streaming.pipeline import (
        interval_join_streams,
        read_event_stream,
    )

    def split(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            "user_id", "ts", F.col("event_id").alias("click_id")
        )
        buys = df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("r_user_id"),
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        return clicks, buys

    sink = f"s_louter_join_{uuid.uuid4().hex[:6]}"
    stream = read_event_stream(spark, staging["events_ordered"], max_files_per_trigger=1)
    s_clicks, s_buys = split(stream)
    joined = interval_join_streams(
        s_clicks, s_buys, before=before, after=after, how="leftOuter"
    ).select("click_id", "ts", "purchase_id")
    q = run_available_now(joined, _ckpt(staging), sink, output_mode="append")

    # the committed watermark must have advanced ≥3 times across the
    # 1-file micro-batches (4 staged files + finalizing no-data batch)
    wms = []
    for p in q.recentProgress:
        w = (p.get("eventTime") or {}).get("watermark")
        if w and w not in wms:
            wms.append(w)
    assert len(wms) >= 3, f"watermark advanced only {len(wms)} times: {wms}"
    final_wm = datetime.datetime.fromisoformat(
        wms[-1].replace("Z", "+00:00")
    ).replace(tzinfo=None)

    got = spark.table(sink).collect()
    got_matched = sorted(
        (r["click_id"], r["purchase_id"]) for r in got if r["purchase_id"] is not None
    )
    got_nulls = {r["click_id"] for r in got if r["purchase_id"] is None}

    b_clicks, b_buys = split(_events(spark, sf_dir))
    cond = (
        (F.col("user_id") == F.col("r_user_id"))
        & (F.col("r_ts") >= F.col("ts") - F.expr(f"INTERVAL {before}"))
        & (F.col("r_ts") <= F.col("ts") + F.expr(f"INTERVAL {after}"))
    )
    batch = b_clicks.join(b_buys, cond, "left_outer").collect()
    want_matched = sorted(
        (r["click_id"], r["purchase_id"]) for r in batch if r["purchase_id"] is not None
    )
    assert got_matched == want_matched and len(got_matched) > 0

    # a left row's horizon closes once the watermark passes ts + after:
    # every batch-unmatched row with ts < final_wm − after MUST have
    # null-padded, and nothing outside the batch-unmatched set may
    assert after.endswith(" minutes")
    after_td = datetime.timedelta(minutes=int(after.split()[0]))
    want_nulls = {r["click_id"] for r in batch if r["purchase_id"] is None}
    batch_nulls_closed = {
        r["click_id"]
        for r in batch
        if r["purchase_id"] is None and r["ts"] + after_td < final_wm
    }
    assert got_nulls <= want_nulls
    assert batch_nulls_closed <= got_nulls and len(batch_nulls_closed) > 0


def test_stream_static_enrich_matches_batch(spark, sf_dir, staging):
    from dbt_foundation_spark.streaming.pipeline import (
        enrich_stream,
        read_event_stream,
    )

    dim = spark.range(0, 8).select(
        F.col("id").alias("user_id"), (F.col("id") % 3).alias("cohort")
    )
    stream = read_event_stream(spark, staging["events"], max_files_per_trigger=2)
    run_available_now(
        enrich_stream(stream, dim, ["user_id"]).select("event_id", "cohort"),
        _ckpt(staging),
        "s_enriched",
        output_mode="append",
    )
    got = sorted(
        (r["event_id"], r["cohort"]) for r in spark.table("s_enriched").collect()
    )
    want = sorted(
        (r["event_id"], r["cohort"])
        for r in _events(spark, sf_dir)
        .join(F.broadcast(dim), ["user_id"], "left")
        .select("event_id", "cohort")
        .collect()
    )
    assert got == want and len(got) > 0


def test_streaming_curation_matches_batch(spark, sf_dir, staging):
    """The stateless curation map (PII scrub + quality gate + lang tag)
    must produce identical rows on a multi-micro-batch stream and on the
    batch DataFrame — pinning that every curation step stays stateless
    and streaming-legal."""
    from dbt_foundation_spark.streaming.pipeline import (
        curate_documents,
        read_document_stream,
    )

    docs_dir = staging["root"] / "documents"
    batch_docs = t(spark, sf_dir, "documents")
    batch_docs.repartition(4).write.mode("overwrite").parquet(str(docs_dir))

    stream = read_document_stream(spark, str(docs_dir), max_files_per_trigger=1)
    out = staging["root"] / "curated_out"
    run_to_parquet(curate_documents(stream), str(out), _ckpt(staging))

    got = sorted(
        tuple(r) for r in spark.read.parquet(str(out)).collect()
    )
    want = sorted(tuple(r) for r in curate_documents(batch_docs).collect())
    assert got == want and len(got) > 0


def test_running_user_totals_cross_batch_state(spark, sf_dir, staging):
    """maxFilesPerTrigger=1 forces 4 micro-batches; the per-user state
    must accumulate across them, so each user's max emitted n_events
    equals their full batch count."""
    stream = read_event_stream(spark, staging["events"], max_files_per_trigger=1)
    totals = running_user_totals(stream)
    run_available_now(totals, _ckpt(staging), "s_user_totals", output_mode="update")
    final = (
        spark.table("s_user_totals")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )
    want = _events(spark, sf_dir).groupBy("user_id").count()
    mismatch = (
        final.join(want, "user_id")
        .filter(F.col("n_events") != F.col("count"))
        .count()
    )
    assert mismatch == 0
    assert final.count() == want.count()


def test_streaming_hourly_feeds_batch_daily_rollup(spark, sf_dir, staging):
    """Composition: the streaming hourly aggregate is a valid finest
    level for the batch rollup cascade — daily re-aggregated from the
    streamed hourly parquet equals daily computed from raw events."""
    stream = read_event_stream(spark, staging["events"], max_files_per_trigger=2)
    hourly = tumbling_counts(stream, "1 hour", "2 hours")
    out = staging["root"] / "hourly_out"
    run_to_parquet(hourly, str(out), _ckpt(staging))

    streamed_hourly = spark.read.parquet(str(out))
    daily_from_stream = (
        streamed_hourly.groupBy(
            F.window("start", "1 day").alias("w"), "event_type"
        )
        .agg(F.sum("n_events").alias("n_events"))
        .select(F.col("w.start").alias("day"), "event_type", "n_events")
    )
    daily_from_raw = (
        _events(spark, sf_dir)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("day"), "event_type", "n_events")
    )
    # append mode finalizes a window only once the watermark passes its
    # end; when the stream drains, windows inside the last 2h horizon
    # stay in state — so the final (partial) day can't match and is
    # excluded. That is watermark semantics, not data loss: the next
    # micro-batch would emit them.
    last_day = daily_from_raw.agg(F.max("day")).first()[0]
    got = daily_from_stream.filter(F.col("day") < last_day)
    want = daily_from_raw.filter(F.col("day") < last_day)
    assert want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stateful_sessionization_matches_session_window(spark, sf_dir, staging):
    """Closed sessions from the stateful operator must be a subset of
    the batch session_window sessions, and exactly equal for sessions
    whose timeout the final watermark passed."""
    from dbt_foundation_spark.streaming.pipeline import sessionize_with_state

    # stage time-ordered ARRIVAL (the operator's documented assumption —
    # log-ingestion shape). The file source orders by modification time,
    # so write each time-quarter as its own append with a distinct
    # mtime tick.
    import time as _time

    ev = _events(spark, sf_dir)
    bounds = ev.select(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).first()
    lo, hi = bounds["lo"], bounds["hi"]
    span = (hi - lo) / 4
    ordered_dir = staging["root"] / "events_ordered"
    for i in range(4):
        chunk = ev.filter(
            (F.col("ts") >= lo + i * span)
            & (F.col("ts") < (lo + (i + 1) * span) if i < 3 else F.lit(True))
        )
        chunk.coalesce(1).write.mode("append").parquet(str(ordered_dir))
        distinct_mtime(ordered_dir)  # stamped, not slept: conftest.distinct_mtime
    stream = read_event_stream(spark, str(ordered_dir), max_files_per_trigger=1)
    sessions = sessionize_with_state(stream, gap_seconds=1800)
    run_available_now(sessions, _ckpt(staging), "s_state_sessions", output_mode="append")
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table("s_state_sessions").collect()
    }
    batch = (
        _events(spark, sf_dir)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch.collect()
    }
    assert got, "no sessions closed"
    assert got <= want, f"stateful emitted sessions not in batch: {sorted(got - want)[:3]}"
    # sessions ending well before the stream's end must all have closed
    max_end = max(e for _, _, e, _ in want)
    import datetime

    cutoff = max_end - datetime.timedelta(hours=2)
    want_closed = {s for s in want if s[2] <= cutoff}
    got_closed = {s for s in got if s[2] <= cutoff}
    assert got_closed == want_closed


def test_buffered_sessionization_handles_cross_batch_disorder(spark, sf_dir, staging):
    """sessionize_buffered must reproduce batch session_window EXACTLY
    for closable sessions even when ~20% of each chunk's tail arrives a
    micro-batch LATE (cross-batch disorder within the watermark delay) —
    the case the O(1)-state operator documents as out of scope."""
    import datetime
    import time as _time

    from dbt_foundation_spark.streaming.pipeline import sessionize_buffered

    ev = _events(spark, sf_dir)
    b = ev.select(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    lo, hi = b["lo"], b["hi"]
    span = (hi - lo) / 4
    late_w = datetime.timedelta(hours=2)
    # deterministic 20% of rows are "late": they ship one chunk later
    late_pred = F.crc32(F.concat_ws("|", F.col("user_id"), F.col("ts").cast("string"))) % 5 == 0
    ddir = staging["root"] / "events_disordered"
    for i in range(4):
        start = lo + i * span
        end = (lo + (i + 1) * span) if i < 3 else hi + datetime.timedelta(seconds=1)
        in_chunk = (F.col("ts") >= F.lit(start)) & (F.col("ts") < F.lit(end))
        in_tail = F.col("ts") >= F.lit(end - late_w)
        on_time = ev.filter(in_chunk & ~(late_pred & in_tail & F.lit(i < 3)))
        prev_end = start
        from_prev = ev.filter(
            (F.col("ts") >= F.lit(prev_end - late_w)) & (F.col("ts") < F.lit(prev_end)) & late_pred
        ) if i > 0 else None
        chunk = on_time.unionByName(from_prev) if from_prev is not None else on_time
        chunk.coalesce(1).write.mode("append").parquet(str(ddir))
        distinct_mtime(ddir)  # stamped, not slept: conftest.distinct_mtime

    stream = read_event_stream(spark, str(ddir), max_files_per_trigger=1)
    sessions = sessionize_buffered(stream, gap_seconds=1800, watermark_delay="130 minutes")
    run_available_now(sessions, _ckpt(staging), "s_buf_sessions", output_mode="append")
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table("s_buf_sessions").collect()
    }
    batch = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch.collect()
    }
    assert got, "no sessions closed"
    assert got <= want, f"buffered emitted sessions not in batch: {sorted(got - want)[:3]}"
    # everything closable by the final watermark must have closed, exactly
    cutoff = hi - datetime.timedelta(minutes=130) - datetime.timedelta(minutes=31)
    want_closed = {s for s in want if s[2] <= cutoff}
    got_closed = {s for s in got if s[2] <= cutoff}
    assert got_closed == want_closed


def test_stream_into_incremental_merge(spark, staging):
    """foreachBatch bridge: a stream drains into an incremental MERGE
    node; overlapping keys re-delivered in a later run upsert instead of
    duplicating — at-least-once batches converge to exactly-once table
    state, and the checkpoint skips already-processed files."""
    import uuid as _uuid

    from dbt_foundation_spark.project import Project, Target
    from dbt_foundation_spark.streaming.pipeline import run_into_incremental

    schema = f"st_{_uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {schema}")
    p = Project("stream_inc", spark, target=Target(schema=schema))

    @p.model(
        materialized="incremental",
        incremental_strategy="merge",
        unique_key="k",
    )
    def fct_stream_kv(ctx):  # definition only; batches arrive via the bridge
        raise AssertionError("bridge must not invoke the model fn")

    in_dir = staging["root"] / f"inc_in_{_uuid.uuid4().hex[:6]}"
    ckpt = _ckpt(staging)
    try:
        spark.createDataFrame(
            [(i, "a") for i in range(1, 11)], "k int, v string"
        ).coalesce(1).write.mode("append").parquet(str(in_dir))
        stream = spark.readStream.schema("k int, v string").parquet(str(in_dir))
        run_into_incremental(p, "fct_stream_kv", stream, ckpt)

        spark.createDataFrame(
            [(i, "b") for i in range(6, 16)], "k int, v string"
        ).coalesce(1).write.mode("append").parquet(str(in_dir))
        stream = spark.readStream.schema("k int, v string").parquet(str(in_dir))
        run_into_incremental(p, "fct_stream_kv", stream, ckpt)

        got = {
            (r["k"], r["v"])
            for r in spark.table(f"{schema}.fct_stream_kv").collect()
        }
        want = {(i, "a") for i in range(1, 6)} | {(i, "b") for i in range(6, 16)}
        assert got == want
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {schema} CASCADE")



def test_stream_into_incremental_counts_null_keys_once_per_trigger(
    spark, staging, caplog
):
    """NULL-key rows reaching the bridge are excluded and counted once
    per trigger, on the create trigger and on the merge trigger whose
    plan the bridge also checks for scale: one warning each, naming
    the trigger's excluded count."""
    import logging
    import uuid as _uuid

    from dbt_foundation_spark.project import Project, Target
    from dbt_foundation_spark.streaming.pipeline import run_into_incremental

    schema = f"st_{_uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {schema}")
    p = Project("stream_nk", spark, target=Target(schema=schema))

    @p.model(
        materialized="incremental",
        incremental_strategy="merge",
        unique_key="k",
    )
    def fct_stream_nk(ctx):  # definition only; batches arrive via the bridge
        raise AssertionError("bridge must not invoke the model fn")

    in_dir = staging["root"] / f"nk_in_{_uuid.uuid4().hex[:6]}"
    ckpt = _ckpt(staging)
    try:
        for rows, nulls in (([(1, "a"), (2, "a")], 1), ([(2, "b"), (3, "b")], 2)):
            spark.createDataFrame(
                rows + [(None, "x")] * nulls, "k int, v string"
            ).coalesce(1).write.mode("append").parquet(str(in_dir))
            stream = spark.readStream.schema("k int, v string").parquet(str(in_dir))
            caplog.clear()
            with caplog.at_level(logging.WARNING, logger="dbt_foundation_spark"):
                run_into_incremental(p, "fct_stream_nk", stream, ckpt)
            warns = [r.getMessage() for r in caplog.records
                     if "fct_stream_nk" in r.getMessage()
                     and "NULL unique-key" in r.getMessage()]
            assert len(warns) == 1, warns
            assert f"excluded {nulls} " in warns[0]

        got = {
            (r["k"], r["v"])
            for r in spark.table(f"{schema}.fct_stream_nk").collect()
        }
        assert got == {(1, "a"), (2, "b"), (3, "b")}
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {schema} CASCADE")

def test_dedup_ingest_stream_matches_sequential(spark, sf_dir, staging):
    """run_dedup_ingest must equal the sequential daily-ingest loop it
    replaces: same per-batch ops (index dedup -> within-batch greedy
    pairwise -> admit) applied to the same batches in the same order.
    The planted cross-batch duplicate pins the property that separates
    foreachBatch from a static-snapshot join: batch 1's admissions are
    corpus by the time batch 2 arrives."""
    import shutil
    import time as _time

    from dbt_foundation_spark.operators.dedup import minhash_lsh_pairs
    from dbt_foundation_spark.operators.dedup_index import (
        append_to_index,
        build_minhash_index,
        dedup_against_index,
    )
    from dbt_foundation_spark.streaming.pipeline import (
        read_document_stream,
        run_dedup_ingest,
    )

    root = staging["root"]
    texts = [
        r["text"]
        for r in t(spark, sf_dir, "documents").orderBy("doc_id").limit(30).collect()
    ]

    def docs(rows):
        return spark.createDataFrame(
            [(i, tx, "en", "src0", len(tx)) for i, tx in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    corpus = docs(list(enumerate(texts[:20])))
    params = dict(num_hashes=16, bands=4, shingle_len=3)

    batches = [
        # fresh 1000-1002; 1005 duplicates corpus doc 0; 1006~1007 in-batch pair
        docs([(1000, texts[20]), (1001, texts[21]), (1002, texts[22]),
              (1005, texts[0]), (1006, texts[23]), (1007, texts[23])]),
        # 1100 duplicates 1006 (admitted LAST batch — cross-batch corpus
        # visibility); 1101 fresh
        docs([(1100, texts[23]), (1101, texts[24])]),
    ]

    # --- streaming run ---
    s_index = str(root / "s_index")
    build_minhash_index(corpus, "doc_id", "text", s_index, **params)
    stream_dir = root / "ingest_stream"
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("append").parquet(str(stream_dir))
        if i < len(batches) - 1:
            distinct_mtime(stream_dir)  # stamped, not slept: conftest.distinct_mtime
    out = str(root / "ingest_out")
    run_dedup_ingest(
        read_document_stream(spark, str(stream_dir), max_files_per_trigger=1),
        "doc_id", "text", s_index, out, _ckpt(staging),
        jaccard_threshold=0.7, **params,
    )
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())

    # --- sequential reference: same policy, same order, separate index ---
    q_index = str(root / "q_index")
    build_minhash_index(corpus, "doc_id", "text", q_index, **params)
    want = []
    for b in batches:
        vs = dedup_against_index(
            spark, b, "doc_id", "text", q_index, jaccard_threshold=0.7, **params
        ).select(F.col("new_id").alias("d"))
        within = minhash_lsh_pairs(
            b, "doc_id", "text", jaccard_threshold=0.7, **params
        ).select(F.greatest("id_a", "id_b").alias("d"))
        drops = {r["d"] for r in vs.union(within).distinct().collect()}
        keep = b.filter(~F.col("doc_id").isin(list(drops)) if drops else F.lit(True))
        want += [r["doc_id"] for r in keep.select("doc_id").collect()]
        append_to_index(keep, "doc_id", "text", q_index, **params)
    assert got == sorted(want)
    assert 1005 not in got          # corpus duplicate rejected
    assert 1006 in got and 1007 not in got  # in-batch greedy pairwise
    assert 1100 not in got          # batch-1 admission visible to batch 2
    assert 1101 in got
    for p in ("s_index", "q_index", "ingest_stream", "ingest_out"):
        shutil.rmtree(root / p, ignore_errors=True)


def test_dedup_ingest_restart_no_reprocess(spark, sf_dir, staging):
    """Operational exactly-once: re-invoking run_dedup_ingest with the
    SAME checkpoint processes only files that arrived since the last
    run — admitted docs are not re-appended to the output or the index,
    and the persisted index carries admission state ACROSS runs (a doc
    duplicating a run-1 admission is rejected in run 2). A third run
    with no new files is a no-op. This is the restart story a daily
    100 TB ingest depends on: crash/redeploy between batches loses
    nothing and double-admits nothing."""
    import shutil
    import time as _time

    from dbt_foundation_spark.operators.dedup_index import build_minhash_index
    from dbt_foundation_spark.streaming.pipeline import (
        read_document_stream,
        run_dedup_ingest,
    )

    root = staging["root"]
    texts = [
        r["text"]
        for r in t(spark, sf_dir, "documents").orderBy("doc_id").limit(26).collect()
    ]

    def docs(rows):
        return spark.createDataFrame(
            [(i, tx, "en", "src0", len(tx)) for i, tx in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    corpus = docs(list(enumerate(texts[:20])))
    params = dict(num_hashes=16, bands=4, shingle_len=3)
    idx = str(root / "restart_idx")
    stream_dir = root / "restart_stream"
    out = str(root / "restart_out")
    ckpt = _ckpt(staging)
    build_minhash_index(corpus, "doc_id", "text", idx, **params)

    def ingest():
        run_dedup_ingest(
            read_document_stream(spark, str(stream_dir), max_files_per_trigger=1),
            "doc_id", "text", idx, out, ckpt,
            jaccard_threshold=0.7, **params,
        )
        return sorted(r["doc_id"] for r in spark.read.parquet(out).collect())

    # run 1: two fresh docs admitted
    docs([(1000, texts[20]), (1001, texts[21])]).coalesce(1).write.mode(
        "append"
    ).parquet(str(stream_dir))
    assert ingest() == [1000, 1001]

    # run 2 (restart, same checkpoint): only the NEW file is processed —
    # 1100 duplicates run-1's admitted 1000 (index state survived the
    # restart), 1101 is fresh; 1000/1001 are not re-admitted
    distinct_mtime(stream_dir)  # stamped, not slept: conftest.distinct_mtime
    docs([(1100, texts[20]), (1101, texts[22])]).coalesce(1).write.mode(
        "append"
    ).parquet(str(stream_dir))
    assert ingest() == [1000, 1001, 1101]

    # run 3: nothing new arrived -> nothing re-processed, output stable
    assert ingest() == [1000, 1001, 1101]
    for p in ("restart_idx", "restart_stream", "restart_out"):
        shutil.rmtree(root / p, ignore_errors=True)


def test_dedup_ingest_stream_embedding_detector(spark, staging):
    """run_dedup_ingest detector='embedding': same admission contract as
    the text flavors (corpus duplicate rejected, in-batch greedy
    pairwise, batch-1 admissions visible to batch 2), gated on cosine
    over the persisted hyperplane-band index. Deterministic seeded unit
    vectors: random 16-dim pairs sit far below the 0.9 threshold, the
    planted duplicates are exact copies (cosine 1.0 — every band
    agrees, so banding recall is certain)."""
    import math
    import random
    import shutil
    import time as _time

    from dbt_foundation_spark.operators.dedup_index import (
        append_to_embedding_index,
        build_embedding_index,
        dedup_against_embedding_index,
    )
    from dbt_foundation_spark.operators.similarity import embedding_near_pairs
    from dbt_foundation_spark.streaming.pipeline import (
        read_event_stream,
        run_dedup_ingest,
    )

    root = staging["root"]
    rng = random.Random(7)

    def unit(dim=16):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        return [x / n for x in v]

    vecs = [unit() for _ in range(26)]
    schema = "vec_id long, embedding array<float>"

    def frame(rows):
        return spark.createDataFrame(rows, schema)

    corpus = frame([(i, vecs[i]) for i in range(20)])
    batches = [
        # 1000-1001 fresh; 1005 copies corpus vec 0; 1006~1007 identical
        frame([(1000, vecs[20]), (1001, vecs[21]),
               (1005, vecs[0]), (1006, vecs[23]), (1007, vecs[23])]),
        # 1100 copies 1006 (admitted last batch); 1101 fresh
        frame([(1100, vecs[23]), (1101, vecs[24])]),
    ]

    idx = str(root / "emb_idx")
    stream_dir = root / "emb_stream"
    out = str(root / "emb_out")
    build_embedding_index(corpus, "vec_id", "embedding", idx, threshold=0.9)
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("append").parquet(str(stream_dir))
        if i < len(batches) - 1:
            distinct_mtime(stream_dir)  # stamped, not slept: conftest.distinct_mtime
    import pyspark.sql.types as T

    run_dedup_ingest(
        read_event_stream(
            spark, str(stream_dir),
            schema=T._parse_datatype_string(schema),
            max_files_per_trigger=1,
        ),
        "vec_id", "_unused_text", idx, out, _ckpt(staging),
        detector="embedding", vec_col="embedding", cosine_threshold=0.9,
    )
    got = sorted(r["vec_id"] for r in spark.read.parquet(out).collect())

    # sequential reference: same policy, same order, separate index
    q_idx = str(root / "emb_qidx")
    build_embedding_index(corpus, "vec_id", "embedding", q_idx, threshold=0.9)
    want = []
    for b in batches:
        vs = dedup_against_embedding_index(
            spark, b, "vec_id", "embedding", q_idx, threshold=0.9
        ).select(F.col("new_id").alias("d"))
        within = embedding_near_pairs(
            b, "vec_id", "embedding", threshold=0.9, dim=16
        ).select(F.greatest("id_a", "id_b").alias("d"))
        drops = {r["d"] for r in vs.union(within).distinct().collect()}
        keep = b.filter(
            ~F.col("vec_id").isin(list(drops)) if drops else F.lit(True)
        )
        want += [r["vec_id"] for r in keep.select("vec_id").collect()]
        append_to_embedding_index(keep, "vec_id", "embedding", q_idx)
    assert got == sorted(want)
    assert 1005 not in got          # corpus duplicate rejected
    assert 1006 in got and 1007 not in got  # in-batch greedy pairwise
    assert 1100 not in got          # batch-1 admission visible to batch 2
    assert 1101 in got
    for p in ("emb_idx", "emb_qidx", "emb_stream", "emb_out"):
        shutil.rmtree(root / p, ignore_errors=True)


def test_dedup_ingest_stream_detector_flavors(spark, sf_dir, staging):
    """run_dedup_ingest's detector flavors (simhash chunk index,
    containment prefix index) enforce the same admission contract the
    minhash parity test pins: corpus duplicate rejected, in-batch
    greedy pairwise, batch-1 admissions visible to batch 2."""
    import shutil
    import time as _time

    from dbt_foundation_spark.operators.dedup_index import (
        build_containment_index,
        build_simhash_index,
    )
    from dbt_foundation_spark.streaming.pipeline import (
        read_document_stream,
        run_dedup_ingest,
    )

    root = staging["root"]
    texts = [
        r["text"]
        for r in t(spark, sf_dir, "documents").orderBy("doc_id").limit(30).collect()
    ]

    def docs(rows):
        return spark.createDataFrame(
            [(i, tx, "en", "src0", len(tx)) for i, tx in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    corpus = docs(list(enumerate(texts[:20])))
    batches = [
        # 1000-1001 fresh; 1005 duplicates corpus doc 0; 1006~1007 in-batch
        docs([(1000, texts[20]), (1001, texts[21]),
              (1005, texts[0]), (1006, texts[23]), (1007, texts[23])]),
        # 1100 duplicates 1006 (admitted last batch); 1101 fresh
        docs([(1100, texts[23]), (1101, texts[24])]),
    ]

    from dbt_foundation_spark.operators.dedup import (
        containment_pairs,
        simhash_near_pairs,
    )
    from dbt_foundation_spark.operators.dedup_index import (
        append_to_containment_index,
        append_to_simhash_index,
        containment_against_index,
        dedup_against_simhash_index,
    )

    flavors = (
        (
            "simhash",
            lambda df, p: build_simhash_index(
                df, "doc_id", "text", p, max_hamming=3
            ),
            dict(max_hamming=3),
            lambda b, p: dedup_against_simhash_index(
                spark, b, "doc_id", "text", p, max_hamming=3
            ),
            lambda b: simhash_near_pairs(b, "doc_id", "text", max_hamming=3),
            lambda b, p: append_to_simhash_index(
                b, "doc_id", "text", p, max_hamming=3
            ),
        ),
        (
            "containment",
            lambda df, p: build_containment_index(
                df, "doc_id", "text", p, threshold=0.8
            ),
            dict(containment_threshold=0.8),
            lambda b, p: containment_against_index(
                spark, b, "doc_id", "text", p, threshold=0.8
            ),
            lambda b: containment_pairs(b, "doc_id", "text", threshold=0.8),
            lambda b, p: append_to_containment_index(
                b, "doc_id", "text", p, threshold=0.8
            ),
        ),
    )
    for detector, build, kw, vs_fn, within_fn, admit_fn in flavors:
        idx = str(root / f"{detector}_idx")
        stream_dir = root / f"{detector}_stream"
        out = str(root / f"{detector}_out")
        build(corpus, idx)
        for i, b in enumerate(batches):
            b.coalesce(1).write.mode("append").parquet(str(stream_dir))
            if i < len(batches) - 1:
                distinct_mtime(stream_dir)  # stamped, not slept: conftest.distinct_mtime
        run_dedup_ingest(
            read_document_stream(spark, str(stream_dir), max_files_per_trigger=1),
            "doc_id", "text", idx, out, _ckpt(staging),
            detector=detector, **kw,
        )
        got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())

        # sequential reference: same policy, same order, separate index
        q_idx = str(root / f"{detector}_qidx")
        build(corpus, q_idx)
        want = []
        for b in batches:
            vs = vs_fn(b, q_idx).select(F.col("new_id").alias("d"))
            within = within_fn(b).select(F.greatest("id_a", "id_b").alias("d"))
            drops = {r["d"] for r in vs.union(within).distinct().collect()}
            keep = b.filter(
                ~F.col("doc_id").isin(list(drops)) if drops else F.lit(True)
            )
            want += [r["doc_id"] for r in keep.select("doc_id").collect()]
            admit_fn(keep, q_idx)
        assert got == sorted(want), detector
        # the planted EXACT duplicates are robust under every detector:
        assert 1005 not in got, detector          # corpus duplicate rejected
        assert 1006 in got and 1007 not in got, detector  # in-batch greedy
        assert 1100 not in got, detector          # cross-batch visibility
        assert 1101 in got, detector
        for p in (
            f"{detector}_idx", f"{detector}_qidx",
            f"{detector}_stream", f"{detector}_out",
        ):
            shutil.rmtree(root / p, ignore_errors=True)

    # detector validation fires before the stream is touched
    with pytest.raises(ValueError, match="unknown detector"):
        run_dedup_ingest(
            corpus, "doc_id", "text", "x", "y", _ckpt(staging), detector="fuzzy"
        )


@pytest.mark.parametrize(
    "detector, build_kw, stream_kw",
    [
        ("containment", dict(threshold=0.8), dict(containment_threshold=0.9)),
        ("simhash", dict(max_hamming=3), dict(max_hamming=2)),
    ],
    ids=["containment", "simhash"],
)
def test_dedup_ingest_refuses_append_mismatch_at_setup(
    spark, sf_dir, staging, detector, build_kw, stream_kw
):
    """A probe accepts a higher containment threshold or a tighter
    simhash radius than the build's (range rule); an append does not
    (equality rule). The stream must refuse before it starts: installing
    a batch's survivors and then failing the append would leave output
    rows the index never sees, and every restart would skip the install
    and fail the append again."""
    from dbt_foundation_spark.operators import dedup_index as D
    from dbt_foundation_spark.streaming.pipeline import (
        read_document_stream,
        run_dedup_ingest,
    )

    root = staging["root"] / f"setup_refusal_{detector}"
    texts = [
        r["text"]
        for r in t(spark, sf_dir, "documents").orderBy("doc_id").limit(22).collect()
    ]

    def docs(rows):
        return spark.createDataFrame(
            [(i, tx, "en", "src0", len(tx)) for i, tx in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    build = {
        "containment": D.build_containment_index,
        "simhash": D.build_simhash_index,
    }[detector]
    idx = str(root / "idx")
    build(docs(list(enumerate(texts[:20]))), "doc_id", "text", idx, **build_kw)
    stream_dir = root / "stream"
    docs([(1000, texts[20]), (1001, texts[21])]).coalesce(1).write.parquet(
        str(stream_dir)
    )
    out = root / "out"
    with pytest.raises(ValueError, match="need caller == build"):
        run_dedup_ingest(
            read_document_stream(spark, str(stream_dir), max_files_per_trigger=1),
            "doc_id", "text", idx, str(out), _ckpt(staging),
            detector=detector, **stream_kw,
        )
    assert not out.exists()
    assert not Path(f"{out}__ingest_markers").exists()
    shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize(
    "detector", ["minhash", "simhash", "containment", "embedding"]
)
def test_dedup_ingest_signs_each_batch_once(
    spark, sf_dir, staging, monkeypatch, detector
):
    """One signing pass per micro-batch: the flavor's ``sign`` runs once
    per batch and its frames feed the probe, the within-batch pairs and
    the append. What the sink appends must equal what
    ``append_to_<flavor>(survivors)`` writes, per sub-dataset as a set.
    Containment prefixes are the exception: the sink orders them by the
    whole batch's df, the batch append by the survivors' df (any order
    keeps the pigeonhole bound), so each survivor's prefix is checked by
    its length, ⌊(1−t)·n⌋+1 capped at n, and by membership in that
    doc's postings."""
    import dataclasses
    import math
    import random

    from dbt_foundation_spark.operators import dedup_index as D
    from dbt_foundation_spark.operators.index_core import FLAVORS
    from dbt_foundation_spark.streaming.pipeline import (
        read_event_stream,
        run_dedup_ingest,
    )

    root = staging["root"] / f"sign_once_{detector}"
    if detector == "embedding":
        rng = random.Random(7)

        def unit(dim=16):
            v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
            n = math.sqrt(sum(x * x for x in v)) or 1.0
            return [x / n for x in v]

        items = [unit() for _ in range(26)]
        schema = "vec_id long, embedding array<float>"
        id_col, col = "vec_id", "embedding"
        kw = dict(detector="embedding", vec_col="embedding")
    else:
        items = [
            r["text"]
            for r in t(spark, sf_dir, "documents").orderBy("doc_id").limit(26).collect()
        ]
        schema, id_col, col = "doc_id long, text string", "doc_id", "text"
        kw = dict(detector=detector)

    def frame(rows):
        return spark.createDataFrame([(i, items[j]) for i, j in rows], schema)

    build, append = {
        "minhash": (D.build_minhash_index, D.append_to_index),
        "simhash": (D.build_simhash_index, D.append_to_simhash_index),
        "containment": (D.build_containment_index, D.append_to_containment_index),
        "embedding": (D.build_embedding_index, D.append_to_embedding_index),
    }[detector]
    corpus = frame([(i, i) for i in range(20)])
    batches = [
        # 1005 duplicates corpus item 0; 1006~1007 in-batch pair
        frame([(1000, 20), (1001, 21), (1005, 0), (1006, 23), (1007, 23)]),
        # 1100 duplicates 1006, admitted by the first batch
        frame([(1100, 23), (1101, 24)]),
    ]
    s_idx, q_idx = str(root / "s_idx"), str(root / "q_idx")
    build(corpus, id_col, col, s_idx)
    build(corpus, id_col, col, q_idx)
    stream_dir, out = root / "stream", str(root / "out")
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("append").parquet(str(stream_dir))
        if i < len(batches) - 1:
            distinct_mtime(stream_dir)

    entry = D.DETECTORS[detector]
    calls = []

    def counting_sign(*a, **k):
        calls.append(1)
        return entry.sign(*a, **k)

    monkeypatch.setitem(
        D.DETECTORS, detector, dataclasses.replace(entry, sign=counting_sign)
    )
    run_dedup_ingest(
        read_event_stream(
            spark, str(stream_dir), schema=spark.createDataFrame([], schema).schema,
            max_files_per_trigger=1,
        ),
        id_col, col if detector != "embedding" else "_unused_text",
        s_idx, out, _ckpt(staging), **kw,
    )
    monkeypatch.undo()
    assert len(list(Path(f"{out}__ingest_markers").glob("ingest-*"))) == len(batches)
    assert len(calls) == len(batches)

    survivors = spark.read.parquet(out)
    admitted = {r[id_col] for r in survivors.collect()}
    assert {1006, 1101} <= admitted and not admitted & {1005, 1007, 1100}
    append(survivors, id_col, col, q_idx)

    def rows(path, sub):
        df = spark.read.parquet(f"{path}/{sub}")
        return {
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.select(sorted(df.columns)).collect()
        }

    subs = [s.name for s in FLAVORS[detector]]
    for sub in subs:
        if sub != "prefixes":
            assert rows(s_idx, sub) == rows(q_idx, sub), sub
    if "prefixes" in subs:
        got, ref = rows(s_idx, "prefixes"), rows(q_idx, "prefixes")
        # columns sorted: (id, n, s)
        assert {r for r in got if r[0] not in admitted} == {
            r for r in ref if r[0] not in admitted
        }
        postings = rows(s_idx, "postings")
        for doc in admitted:
            mine = [r for r in got if r[0] == doc]
            n = mine[0][1]
            assert len(mine) == min(n, math.floor((1 - 0.8) * n + 1e-9) + 1), doc
            assert all(r in postings for r in mine), doc
    shutil.rmtree(root, ignore_errors=True)


def test_tws_sessionization_matches_state_api(spark, sf_dir, staging):
    """The transformWithStateInPandas sessionizer must close the same
    sessions as the applyInPandasWithState one on the same ordered
    stream (the two stateful APIs guard each other), and both must be a
    subset of batch session_window with equality for sessions whose
    deadline the final watermark passed.

    Capability gate (no skip): where protobuf is absent — this container
    — the test instead PINS the documented degradation: sessionize_tws
    refuses with a clear RuntimeError naming the dependency and the
    drop-in twin, and the applyInPandasWithState sessionizer (whose
    parity the full suite covers via the other sessionizer tests) is the
    canonical path. See README "Capability matrix"."""
    import time as _time

    from dbt_foundation_spark.streaming.pipeline import (
        sessionize_tws,
        sessionize_with_state,
    )

    ev = _events(spark, sf_dir)
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        with pytest.raises(RuntimeError, match="protobuf"):
            sessionize_tws(ev, gap_seconds=1800)
        return
    bounds = ev.select(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    lo, hi = bounds["lo"], bounds["hi"]
    span = (hi - lo) / 4
    ordered_dir = staging["root"] / "events_ordered_tws"
    for i in range(4):
        chunk = ev.filter(
            (F.col("ts") >= lo + i * span)
            & (F.col("ts") < (lo + (i + 1) * span) if i < 3 else F.lit(True))
        )
        chunk.coalesce(1).write.mode("append").parquet(str(ordered_dir))
        distinct_mtime(ordered_dir)  # stamped, not slept: conftest.distinct_mtime

    def run(make, table):
        stream = read_event_stream(spark, str(ordered_dir), max_files_per_trigger=1)
        run_available_now(
            make(stream, gap_seconds=1800), _ckpt(staging), table,
            output_mode="append",
        )
        return {
            (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
            for r in spark.table(table).collect()
        }

    got_tws = run(sessionize_tws, "s_tws_sessions")
    got_state = run(sessionize_with_state, "s_state_sessions_ref")
    assert got_tws, "no sessions closed"
    assert got_tws == got_state  # API parity on identical input

    batch = (
        _events(spark, sf_dir)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch.collect()
    }
    assert got_tws <= want


def test_streaming_histogram_equals_batch(spark, sf_dir, staging):
    """The streamed additive histogram state must equal the one-shot
    batch histogram bin-for-bin after the last micro-batch — and hence
    yield bit-identical p50/p95/p99 — no matter how the stream was
    chopped into triggers (counts are associative/commutative)."""
    from dbt_foundation_spark.operators.rollup import (
        histogram_quantiles,
        value_histogram,
    )
    from dbt_foundation_spark.streaming.pipeline import (
        read_event_stream,
        run_histogram_ingest,
    )

    state = str(staging["root"] / "hist_state")
    stream = read_event_stream(spark, staging["events"], max_files_per_trigger=1)
    spec = dict(lo=0.0, hi=500.0, bins=100, group_cols=("event_type",))
    run_histogram_ingest(
        stream, "value", state, _ckpt(staging), lo=0.0, hi=500.0, bins=100,
        group_cols=("event_type",),
    )
    got_hist = {
        (r["event_type"], r["bin"]): r["cnt"]
        for r in spark.read.parquet(state).collect()
    }
    want_hist = {
        (r["event_type"], r["bin"]): r["cnt"]
        for r in value_histogram(_events(spark, sf_dir), "value", **spec).collect()
    }
    assert got_hist == want_hist and len(got_hist) > 50

    got_q = sorted(
        tuple(r)
        for r in histogram_quantiles(
            spark.read.parquet(state), (0.5, 0.95, 0.99), **spec
        ).collect()
    )
    want_q = sorted(
        tuple(r)
        for r in histogram_quantiles(
            value_histogram(_events(spark, sf_dir), "value", **spec),
            (0.5, 0.95, 0.99),
            **spec,
        ).collect()
    )
    assert got_q == want_q and len(got_q) == 15


def test_streaming_metrics_match_batch(spark, sf_dir, staging):
    """The semantic layer's query_stream must produce exactly the
    windowed metrics the same declarations produce in batch — one
    metric definition, two execution modes (metrics.py)."""
    from dbt_foundation_spark.metrics import SemanticLayer
    from dbt_foundation_spark.streaming.pipeline import read_event_stream

    def build_layer(frame_fn):
        sl = SemanticLayer()
        sl.semantic_model(
            "live_events",
            frame_fn,
            measures={
                "value": {"agg": "sum"},
                "n": {"agg": "count", "expr": "*"},
            },
            dimensions={"event_type": "event_type"},
        )
        sl.metric("volume", model="live_events", measure="value")
        sl.metric(
            "purchase_volume",
            model="live_events",
            measure="value",
            filter="event_type = 'purchase'",
        )
        sl.metric(
            "avg_value", type="ratio", model="live_events",
            numerator="value", denominator="n",
        )
        return sl

    stream_sl = build_layer(
        lambda: read_event_stream(spark, staging["events"], max_files_per_trigger=2)
    )
    agg = stream_sl.query_stream(
        ["volume", "purchase_volume", "avg_value"],
        time_col="ts",
        window="6 hours",
        watermark="2 hours",
    )
    run_available_now(agg, _ckpt(staging), "s_metrics", output_mode="complete")
    got = {
        (r["window_start"], r["window_end"]): (
            round(r["volume"], 4),
            round(r["purchase_volume"] or 0.0, 4),
            round(r["avg_value"], 6),
        )
        for r in spark.table("s_metrics").collect()
    }

    batch_sl = build_layer(lambda: _events(spark, sf_dir))
    # batch equivalent: same aggs over the same tumbling window
    bframe = _events(spark, sf_dir)
    batch = (
        bframe.groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(
            F.sum("value").alias("volume"),
            F.sum(F.when(F.expr("event_type = 'purchase'"), F.col("value"))).alias(
                "purchase_volume"
            ),
            (F.sum("value") / F.count(F.lit(1))).alias("avg_value"),
        )
        .select("w.start", "w.end", "volume", "purchase_volume", "avg_value")
    )
    want = {
        (r["start"], r["end"]): (
            round(r["volume"], 4),
            round(r["purchase_volume"] or 0.0, 4),
            round(r["avg_value"], 6),
        )
        for r in batch.collect()
    }
    assert got == want
    # and the same layer answers the batch grand-total form too
    row = batch_sl.query(["volume", "avg_value"]).collect()[0]
    assert round(row["volume"], 4) == round(
        sum(v[0] for v in want.values()), 4
    )


def test_ivf_ingest_stream_appends_exactly_once(spark, sf_dir, staging):
    """run_ivf_ingest keeps a persisted ANN index fresh from a stream:
    each micro-batch is assigned with the STORED centroids and appended
    once. Restart with the same checkpoint reprocesses nothing; a
    replayed batch id is short-circuited by the ingest_log marker; the
    one remaining crash window (append committed, marker lost) is
    healed by compact_index's exact-duplicate fold."""
    import shutil
    import time as _time

    import pyspark.sql.types as T

    from dbt_foundation_spark.operators.maintenance import compact_index
    from dbt_foundation_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        search_ivf_index,
    )
    from dbt_foundation_spark.streaming.pipeline import (
        _ivf_ingest_sink,
        read_event_stream,
        run_ivf_ingest,
    )

    root = staging["root"]
    emb = t(spark, sf_dir, "embeddings").orderBy("vec_id")
    rows = emb.limit(104).collect()
    schema = "vec_id long, embedding array<float>"

    def frame(pairs):
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in pairs], schema
        )

    corpus = frame([(r["vec_id"], r["embedding"]) for r in rows[:100]])
    idx = str(root / "ivf_stream_idx")
    stream_dir = root / "ivf_stream"
    ckpt = _ckpt(staging)
    build_ivf_index(corpus, "vec_id", "embedding", idx, n_lists=4)

    def lists_count():
        return spark.read.parquet(f"{idx}/lists").count()

    def log_ids():
        return sorted(
            r["batch_id"]
            for r in spark.read.parquet(f"{idx}/ingest_log").collect()
        )

    def ingest():
        run_ivf_ingest(
            read_event_stream(
                spark, str(stream_dir),
                schema=T._parse_datatype_string(schema),
                max_files_per_trigger=1,
            ),
            "vec_id", "embedding", idx, ckpt,
        )

    # run 1: two files -> two batches, both appended and logged
    frame([(10_000, rows[100]["embedding"]), (10_001, rows[101]["embedding"])]
          ).coalesce(1).write.mode("append").parquet(str(stream_dir))
    distinct_mtime(stream_dir)  # stamped, not slept: conftest.distinct_mtime
    frame([(10_100, rows[102]["embedding"])]).coalesce(1).write.mode(
        "append"
    ).parquet(str(stream_dir))
    ingest()
    assert lists_count() == 103
    assert len(log_ids()) == 2

    # a streamed vector is immediately searchable at n_probe=1
    got = search_ivf_index(
        spark, idx, "vec_id", "embedding",
        [float(x) for x in rows[100]["embedding"]], k=2, n_probe=1,
    ).collect()
    assert got[0]["vec_id"] == 10_000 and got[0]["cosine_sim"] > 0.9999

    # restart, nothing new: checkpoint replays nothing
    ingest()
    assert lists_count() == 103 and len(log_ids()) == 2

    # epoch replay (crash after marker): same (app, batch id) is a no-op
    sink = _ivf_ingest_sink(idx, "vec_id", "embedding", app_id="manual")
    replay = frame([(10_200, rows[103]["embedding"])])
    sink(replay, 999)
    sink(replay, 999)
    assert lists_count() == 104 and 999 in log_ids()

    # markers are per-app: a SECOND stream whose batch numbering collides
    # with an existing marker still appends (bare-batch-id keying would
    # silently drop every batch of the second stream)
    other = _ivf_ingest_sink(idx, "vec_id", "embedding", app_id="other")
    other(frame([(10_300, rows[103]["embedding"])]), 999)
    assert lists_count() == 105

    # crash WINDOW (append landed, marker lost, batch replayed raw):
    # exact-duplicate rows appear — compact_index folds them away
    append_to_ivf_index(replay, "vec_id", "embedding", idx)
    assert lists_count() == 106
    stats = compact_index(spark, idx)
    assert set(stats) == {"lists", "centroids", "ingest_log"}
    assert lists_count() == 105
    for p in ("ivf_stream_idx", "ivf_stream"):
        shutil.rmtree(root / p, ignore_errors=True)


def test_ivf_ingest_all_dirty_batch_is_not_a_poison_pill(spark, sf_dir, staging):
    """An all-quarantined micro-batch must NOT crash the stream (r10
    advice, medium): the sink's raise would fire before the
    (app_id, batch_id) marker lands, so every restart replayed the
    identical batch and crashed again — one corrupt vector arriving
    alone in a micro-batch became a permanent poison pill.  Contract:
    the streamed all-dirty batch lands in quarantine list -1 (loudly),
    the marker commits, a replay of the same batch id is a no-op, and
    the next clean batch flows.  The synchronous append_to_ivf_index
    API keeps the hard raise — there a caller can react."""
    import shutil

    import pytest as _pytest

    from dbt_foundation_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        search_ivf_index,
    )
    from dbt_foundation_spark.streaming.pipeline import _ivf_ingest_sink

    root = staging["root"]
    emb = t(spark, sf_dir, "embeddings").orderBy("vec_id")
    rows = emb.limit(102).collect()
    schema = "vec_id long, embedding array<float>"

    def frame(pairs):
        return spark.createDataFrame(
            [(i, v if v is None else [float(x) for x in v]) for i, v in pairs],
            schema,
        )

    corpus = frame([(r["vec_id"], r["embedding"]) for r in rows[:100]])
    idx = str(root / "ivf_poison_idx")
    build_ivf_index(corpus, "vec_id", "embedding", idx, n_lists=4)
    dim = len(rows[0]["embedding"])

    def quarantined():
        lists = spark.read.parquet(f"{idx}/lists")
        return sorted(
            r["vec_id"]
            for r in lists.filter(F.col("_ivf_list") == -1).collect()
        )

    sink = _ivf_ingest_sink(idx, "vec_id", "embedding", app_id="poison")
    all_dirty = frame(
        [
            (20_000, None),                              # NULL vector
            (20_001, [float("nan")] * dim),              # non-finite
            (20_002, [1.0] * (dim + 3)),                 # wrong dim
        ]
    )
    # pre-fix this raised; now it must ingest as quarantine + marker
    sink(all_dirty, 0)
    assert quarantined() == [20_000, 20_001, 20_002]
    log = spark.read.parquet(f"{idx}/ingest_log")
    assert log.filter(
        (F.col("app_id") == "poison") & (F.col("batch_id") == 0)
    ).count() == 1

    # replay of the committed batch id is a no-op (no duplicate rows)
    sink(all_dirty, 0)
    assert quarantined() == [20_000, 20_001, 20_002]

    # the stream keeps flowing: the next clean batch appends + searches
    clean = frame([(20_100, rows[100]["embedding"])])
    sink(clean, 1)
    got = search_ivf_index(
        spark, idx, "vec_id", "embedding",
        [float(x) for x in rows[100]["embedding"]], k=1, n_probe=1,
    ).collect()
    assert got[0]["vec_id"] == 20_100

    # quarantined rows never enter search results at any n_probe
    found = search_ivf_index(
        spark, idx, "vec_id", "embedding",
        [float(x) for x in rows[101]["embedding"]], k=200, n_probe=4,
    ).collect()
    assert not {20_000, 20_001, 20_002} & {r["vec_id"] for r in found}

    # the synchronous API contract is unchanged: all-dirty still raises
    with _pytest.raises(ValueError, match="all-dirty"):
        append_to_ivf_index(
            frame([(30_000, None)]), "vec_id", "embedding", idx
        )
    shutil.rmtree(root / "ivf_poison_idx", ignore_errors=True)


def test_dedup_ingest_respects_tombstones(spark, sf_dir, staging):
    """Takedown x streaming admission: a batch doc that duplicates a
    RETRACTED corpus doc must be admitted (the tombstone removes the
    corpus twin from the candidates), and its admission becomes corpus
    for the next batch — so a later duplicate of the SAME text is
    rejected against the newly admitted doc, not the retracted one."""
    import time as _time

    from dbt_foundation_spark.operators.dedup_index import build_minhash_index
    from dbt_foundation_spark.operators.tombstones import retract_from_index
    from dbt_foundation_spark.streaming.pipeline import (
        read_document_stream,
        run_dedup_ingest,
    )

    root = staging["root"]
    texts = [
        r["text"]
        for r in t(spark, sf_dir, "documents").orderBy("doc_id").limit(12).collect()
    ]

    def docs(rows):
        return spark.createDataFrame(
            [(i, tx, "en", "src0", len(tx)) for i, tx in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    corpus = docs(list(enumerate(texts[:10])))
    params = dict(num_hashes=16, bands=4, shingle_len=3)
    index = str(root / "tomb_ingest_index")
    build_minhash_index(corpus, "doc_id", "text", index, **params)
    retract_from_index(spark, index, [0])

    stream_dir = root / "tomb_ingest_stream"
    batches = [
        # 2000 duplicates RETRACTED corpus doc 0 -> must be admitted;
        # 2001 duplicates live corpus doc 1 -> must be rejected
        docs([(2000, texts[0]), (2001, texts[1])]),
        # 2100 duplicates texts[0] again -> rejected against 2000 (the
        # admission appended it), NOT against the retracted doc 0
        docs([(2100, texts[0]), (2101, texts[11])]),
    ]
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("append").parquet(str(stream_dir))
        if i < len(batches) - 1:
            distinct_mtime(stream_dir)  # stamped, not slept: conftest.distinct_mtime
    out = str(root / "tomb_ingest_out")
    run_dedup_ingest(
        read_document_stream(spark, str(stream_dir), max_files_per_trigger=1),
        "doc_id", "text", index, out, _ckpt(staging),
        jaccard_threshold=0.7, **params,
    )
    admitted = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert admitted == [2000, 2101]


def test_ingest_sinks_run_scale_gate(spark, staging, monkeypatch):
    """Every foreachBatch ingest runs the pre-execution scale gate on
    its first batch — and ONLY the first (the plan shape is
    batch-invariant; later triggers skip the walk). Batch queries get
    this from lint(project, scale=True); the sinks execute plans the
    lint never sees, so each must self-gate."""
    import uuid as _uuid

    from dbt_foundation_spark.operators.dedup_index import build_minhash_index
    from dbt_foundation_spark.operators.similarity import build_ivf_index
    from dbt_foundation_spark.plans import inspect as plan_inspect
    from dbt_foundation_spark.project import Project, Target
    from dbt_foundation_spark.streaming.pipeline import (
        run_dedup_ingest,
        run_into_incremental,
        run_ivf_ingest,
    )

    calls = []
    real = plan_inspect.assert_scale_safe

    def counting(df, **kw):
        calls.append(1)
        return real(df, **kw)

    monkeypatch.setattr(plan_inspect, "assert_scale_safe", counting)

    # --- run_into_incremental: 2 files x maxFilesPerTrigger=1 = two
    # micro-batches in ONE run -> exactly one gate call
    schema = f"st_{_uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {schema}")
    p = Project("stream_gate", spark, target=Target(schema=schema))

    @p.model(
        materialized="incremental",
        incremental_strategy="merge",
        unique_key="k",
    )
    def fct_gate_kv(ctx):
        raise AssertionError("bridge must not invoke the model fn")

    in_dir = staging["root"] / f"gate_in_{_uuid.uuid4().hex[:6]}"
    try:
        for lo in (0, 10):
            spark.createDataFrame(
                [(lo + i, "x") for i in range(5)], "k int, v string"
            ).coalesce(1).write.mode("append").parquet(str(in_dir))
        stream = (
            spark.readStream.schema("k int, v string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        run_into_incremental(p, "fct_gate_kv", stream, _ckpt(staging))
        assert spark.table(f"{schema}.fct_gate_kv").count() == 10
        # two gated shapes, each once per RUN (not per batch): the
        # batch write plan on trigger one (which CTASes), the merge
        # anti-join+union plan on trigger two (first merge execution)
        assert len(calls) == 2
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {schema} CASCADE")

    # --- run_dedup_ingest (minhash): gate sees the full detector plan
    calls.clear()
    docs = [(i, f"dedup gate corpus doc {i} " + " ".join(f"w{i}{j}" for j in range(8)))
            for i in range(4)]
    corpus = spark.createDataFrame(docs, ["doc_id", "text"])
    mh = str(staging["root"] / f"gate_mh_{_uuid.uuid4().hex[:6]}")
    kw = dict(num_hashes=16, bands=4, shingle_len=3)
    build_minhash_index(corpus, "doc_id", "text", mh, **kw)
    din = staging["root"] / f"gate_docs_{_uuid.uuid4().hex[:6]}"
    spark.createDataFrame(
        [(100 + i, t) for i, t in docs[:2]] + [(201, "an entirely new document with its own words")],
        ["doc_id", "text"],
    ).coalesce(1).write.parquet(str(din))
    dstream = spark.readStream.schema("doc_id bigint, text string").parquet(str(din))
    run_dedup_ingest(
        dstream, "doc_id", "text", mh,
        str(staging["root"] / f"gate_out_{_uuid.uuid4().hex[:6]}"),
        _ckpt(staging), jaccard_threshold=0.5, **kw,
    )
    assert len(calls) == 1

    # --- run_ivf_ingest: gate sees the assignment plan
    calls.clear()
    import random as _random

    def vec(i):
        r = _random.Random(i)
        return [r.uniform(-1, 1) for _ in range(4)]

    ivf = str(staging["root"] / f"gate_ivf_{_uuid.uuid4().hex[:6]}")
    build_ivf_index(
        spark.createDataFrame(
            [(i, vec(i)) for i in range(8)],
            "vec_id: bigint, embedding: array<double>",
        ),
        "vec_id", "embedding", ivf, n_lists=2,
    )
    vin = staging["root"] / f"gate_vecs_{_uuid.uuid4().hex[:6]}"
    spark.createDataFrame(
        [(100 + i, vec(100 + i)) for i in range(3)],
        "vec_id: bigint, embedding: array<double>",
    ).coalesce(1).write.parquet(str(vin))
    vstream = spark.readStream.schema(
        "vec_id bigint, embedding array<double>"
    ).parquet(str(vin))
    run_ivf_ingest(vstream, "vec_id", "embedding", ivf, _ckpt(staging))
    assert len(calls) == 1


def test_ingest_gate_rejects_row_udf(spark, staging, monkeypatch):
    """Negative flank: a detector change that sneaks a row-at-a-time
    Python UDF into the dedup sink's plan kills the stream on the FIRST
    trigger with the scale gate's finding in the failure chain, instead
    of shipping a 10-100x-slower plan silently."""
    import dataclasses
    import uuid as _uuid

    from dbt_foundation_spark.operators import dedup_index
    from dbt_foundation_spark.operators.dedup_index import build_minhash_index
    from dbt_foundation_spark.streaming.pipeline import run_dedup_ingest

    # the rogue UDF rides the sink's within-batch pairs (the minhash
    # entry's pairs called without an index)
    entry = dedup_index.DETECTORS["minhash"]
    rogue = F.udf(lambda x: x, "bigint")

    def bad_pairs(signed, threshold, idx=None):
        pairs = entry.pairs(signed, threshold, idx)
        return pairs if idx is not None else pairs.withColumn("id_a", rogue("id_a"))

    monkeypatch.setitem(
        dedup_index.DETECTORS, "minhash", dataclasses.replace(entry, pairs=bad_pairs)
    )

    corpus = spark.createDataFrame(
        [(1, "a corpus document for the negative scale gate test words")],
        ["doc_id", "text"],
    )
    mh = str(staging["root"] / f"neg_mh_{_uuid.uuid4().hex[:6]}")
    kw = dict(num_hashes=16, bands=4, shingle_len=3)
    build_minhash_index(corpus, "doc_id", "text", mh, **kw)
    din = staging["root"] / f"neg_docs_{_uuid.uuid4().hex[:6]}"
    spark.createDataFrame(
        [(2, "an entirely different new document with its own words")],
        ["doc_id", "text"],
    ).coalesce(1).write.parquet(str(din))
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(str(din))
    with pytest.raises(Exception) as ei:
        run_dedup_ingest(
            stream, "doc_id", "text", mh,
            str(staging["root"] / f"neg_out_{_uuid.uuid4().hex[:6]}"),
            _ckpt(staging), jaccard_threshold=0.5, **kw,
        )
    chain, seen = ei.value, []
    while chain is not None:
        seen.append(str(chain))
        chain = getattr(chain, "__cause__", None)
    assert any("BatchEvalPython" in s for s in seen), seen[-1][:500]


def test_dedup_ingest_crash_replay_exactly_once(spark, staging, monkeypatch):
    """Worst replay window: the sink dies between the survivor install
    and the index admit, so the replayed batch recomputes the same
    survivor set (the index is unchanged). The deterministic install
    makes the OUTPUT exactly-once — no duplicated corpus rows — and
    the replay completes the admit."""
    import uuid as _uuid

    from dbt_foundation_spark.operators import index_core
    from dbt_foundation_spark.operators.dedup_index import build_minhash_index
    from dbt_foundation_spark.streaming.pipeline import run_dedup_ingest

    kw = dict(num_hashes=16, bands=4, shingle_len=3)
    docs = [
        (i, f"crash replay corpus doc {i} " + " ".join(f"w{i}{j}" for j in range(8)))
        for i in range(3)
    ]
    corpus = spark.createDataFrame(docs, ["doc_id", "text"])
    mh = str(staging["root"] / f"cr_mh_{_uuid.uuid4().hex[:6]}")
    build_minhash_index(corpus, "doc_id", "text", mh, **kw)

    din = staging["root"] / f"cr_in_{_uuid.uuid4().hex[:6]}"
    spark.createDataFrame(
        [
            (100, docs[0][1]),  # exact dup of corpus doc 0 -> dropped
            (201, "a brand new document with completely fresh original words"),
            (202, "some other text overlapping nothing anywhere else at all"),
        ],
        ["doc_id", "text"],
    ).coalesce(1).write.parquet(str(din))
    out = str(staging["root"] / f"cr_out_{_uuid.uuid4().hex[:6]}")
    ckpt = _ckpt(staging)

    # crash injection: the admit (the sink's index append) dies on its
    # first call, AFTER the survivor output was installed
    real_append = index_core.Index.append
    armed = {"on": True}

    def exploding_append(*a, **kws):
        if armed["on"]:
            armed["on"] = False
            raise RuntimeError("injected crash between install and admit")
        return real_append(*a, **kws)

    monkeypatch.setattr(index_core.Index, "append", exploding_append)

    def run():
        stream = spark.readStream.schema("doc_id bigint, text string").parquet(
            str(din)
        )
        run_dedup_ingest(
            stream, "doc_id", "text", mh, out, ckpt,
            jaccard_threshold=0.5, **kw,
        )

    with pytest.raises(Exception, match="injected crash"):
        run()
    # the output was installed before the crash; the admit never ran
    assert sorted(r["doc_id"] for r in spark.read.parquet(out).collect()) == [201, 202]
    stored = {r["id"] for r in spark.read.parquet(f"{mh}/shingles").collect()}
    assert not stored & {201, 202}

    run()  # restart with the same checkpoint -> the batch replays
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == [201, 202]  # exactly-once: no duplicated rows
    stored = {r["id"] for r in spark.read.parquet(f"{mh}/shingles").collect()}
    assert {201, 202} <= stored  # the replay completed the admit


def test_ingest_marker_survives_output_compaction(spark, staging):
    """The exactly-once replay check must survive compact_parquet_path
    rewriting the ingest-* data files away (r7 advice #1): the marker
    lives in the sibling __ingest_markers dir, so a replayed batch
    whose output was since compacted still skips; the heal path writes
    a missing marker when the data file alone is present."""
    import uuid as _uuid

    from dbt_foundation_spark.operators.maintenance import compact_parquet_path
    from dbt_foundation_spark.streaming.pipeline import _install_batch_output

    out = str(staging["root"] / f"mk_out_{_uuid.uuid4().hex[:6]}")
    batch = spark.createDataFrame([(1, "a"), (2, "b")], ["doc_id", "text"])
    _install_batch_output(batch, out, "app-x", 0)
    assert spark.read.parquet(out).count() == 2

    # compaction renames every ingest-* data file away
    compact_parquet_path(spark, out)
    files = [
        r["_p"]
        for r in spark.read.parquet(out)
        .select(F.col("_metadata.file_path").alias("_p"))
        .distinct()
        .collect()
    ]
    assert files and not any("ingest-" in f for f in files)

    # replay of the committed batch after compaction: marker says skip
    _install_batch_output(batch, out, "app-x", 0)
    assert spark.read.parquet(out).count() == 2  # no duplicate rows

    # heal path: data file present, marker missing (crash between
    # install and marker write) -> replay skips AND heals the marker
    from dbt_foundation_spark.operators.tombstones import _hadoop

    _install_batch_output(batch, out, "app-x", 1)
    marker = f"{out}__ingest_markers/ingest-" \
        + __import__("hashlib").md5(b"app-x").hexdigest()[:12] + "-1.parquet.done"
    mp, fs = _hadoop(spark, marker)
    assert fs.exists(mp)
    fs.delete(mp, False)
    _install_batch_output(batch, out, "app-x", 1)
    assert fs.exists(mp)  # healed
    assert spark.read.parquet(out).count() == 4  # still exactly-once


def test_ingest_markers_heal_on_fresh_start(spark, staging):
    """A rebuild that wipes out_path (and the checkpoint) must not be
    silently skipped by orphaned markers in the sibling dir: when
    out_path itself is absent, _install_batch_output clears the stale
    marker log and installs from scratch."""
    import uuid as _uuid

    from dbt_foundation_spark.operators.tombstones import _hadoop
    from dbt_foundation_spark.streaming.pipeline import _install_batch_output

    out = str(staging["root"] / f"fs_out_{_uuid.uuid4().hex[:6]}")
    batch = spark.createDataFrame([(1, "a"), (2, "b")], ["doc_id", "text"])
    _install_batch_output(batch, out, "app-y", 0)
    assert spark.read.parquet(out).count() == 2

    # operator rebuild: wipe out_path but (realistically) forget the
    # sibling marker dir
    op, fs = _hadoop(spark, out)
    fs.delete(op, True)
    # same app_id, batch ids restarting at 0 -> old dest_names recur
    _install_batch_output(batch, out, "app-y", 0)
    assert spark.read.parquet(out).count() == 2  # reinstalled, not skipped


def test_ingest_marker_wipe_scoped_and_first_batch_only(spark, staging):
    """The fresh-start marker wipe is evidence-gated (r7 advice) and
    generation-complete (r12 advice): it fires only on the stream's
    FIRST batch (batch_id 0 — a fresh checkpoint, the rebuild state)
    with out_path absent, and sweeps EVERY ``ingest-*`` marker — the
    app-hash is the checkpoint GENERATION, new per wipe, so an
    own-prefix sweep could never reclaim a dead generation's markers
    and they grew without bound. Any marker is definitionally stale
    when out_path is absent (markers land only AFTER their data file
    installs, which creates out_path), so the wide sweep cannot hit a
    live sibling. A momentary out_path absence mid-life (a
    contract-violating compaction swap under a running sink) wipes
    nothing — the surviving marker keeps the replay exactly-once."""
    import hashlib

    from dbt_foundation_spark.streaming.pipeline import _install_batch_output

    root = staging["root"]
    out = str(root / "marker_scope_out")
    mdir = Path(out + "__ingest_markers")
    app = str(root / "marker_scope_ckpt")
    own = hashlib.md5(app.encode()).hexdigest()[:12]

    df = spark.createDataFrame([(1, "t")], ["doc_id", "text"])

    # rebuild state: out_path absent, stale own marker + a dead
    # generation's marker present (pre-wipe app-hash — unreachable by
    # an own-prefix sweep, the r12-advice orphan)
    mdir.mkdir(parents=True)
    stale_own = mdir / f"ingest-{own}-0.parquet.done"
    dead_gen = mdir / "ingest-feedfacecafe-0.parquet.done"
    stale_own.touch()
    dead_gen.touch()
    _install_batch_output(df, out, app, 0)
    # both stale markers were wiped, so batch 0 INSTALLED (not skipped)...
    assert [r["doc_id"] for r in spark.read.parquet(out).collect()] == [1]
    assert stale_own.exists()      # ...and re-written after the install
    assert not dead_gen.exists()   # the dead generation's orphan reclaimed

    # mid-life momentary absence: batch 1 committed, then out_path
    # vanishes (swap window). The batch-1 replay must SKIP (marker
    # honored — wiping it would duplicate the batch), and NO marker is
    # deleted at batch N>0, however stale-looking.
    _install_batch_output(df, out, app, 1)
    marker_1 = mdir / f"ingest-{own}-1.parquet.done"
    assert marker_1.exists()
    dead_gen.touch()  # reappear a foreign-generation marker mid-life
    shutil.rmtree(out)
    _install_batch_output(df, out, app, 1)  # replay during the window
    assert marker_1.exists() and dead_gen.exists() and stale_own.exists()
    assert not Path(out).exists()  # skipped: no reinstall, no duplicate
    shutil.rmtree(mdir, ignore_errors=True)


def test_online_retraction_during_running_ingest(spark, sf_dir, staging, monkeypatch):
    """Online retraction against a RUNNING dedup-ingest stream (r7
    verdict #5): retract_from_index is documented safe-anytime-online —
    tombstones land in the log and the admission path subtracts them
    per batch. Retractions appended BETWEEN micro-batches take effect
    at the next batch's index read; one RACING a batch (landing after
    that batch's index read) does not disturb the in-flight batch and
    takes effect at the next. The admitted corpus must equal the
    sequential loop with the same retractions at the same points."""
    import dataclasses
    import time as _time

    import dbt_foundation_spark.operators.dedup_index as dix
    from dbt_foundation_spark.operators.dedup import minhash_lsh_pairs
    from dbt_foundation_spark.operators.tombstones import retract_from_index
    from dbt_foundation_spark.streaming.pipeline import (
        read_document_stream,
        run_dedup_ingest,
    )

    root = staging["root"]
    texts = [
        r["text"]
        for r in t(spark, sf_dir, "documents").orderBy("doc_id").limit(25).collect()
    ]

    def docs(rows):
        return spark.createDataFrame(
            [(i, tx, "en", "src0", len(tx)) for i, tx in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    corpus = docs(list(enumerate(texts[:20])))
    params = dict(num_hashes=16, bands=4, shingle_len=3)
    batches = [
        # b0: 1000 duplicates live corpus doc 0 -> dropped; 1001 fresh
        docs([(1000, texts[0]), (1001, texts[20])]),
        # between b0 and b1: retract corpus doc 0 and stream-admitted
        # 1001. b1: 1100 (texts[0]) and 1101 (texts[20]) now admit —
        # their only matches are tombstoned; 1102 fresh. RACING b1:
        # 1100 is retracted mid-batch (after b1's index read).
        docs([(1100, texts[0]), (1101, texts[20]), (1102, texts[21])]),
        # b2: 1200 (texts[0]) admits — 1100 was tombstoned mid-b1 and
        # doc 0 earlier; 1202 still duplicates LIVE 1102 -> dropped;
        # 1203 duplicates live corpus doc 1 -> dropped; 1201 fresh.
        docs([(1200, texts[0]), (1201, texts[22]),
              (1202, texts[21]), (1203, texts[1])]),
    ]
    between = {1: [0, 1001]}   # applied before batch N's index read
    racing = {1: [1100]}       # applied mid-batch N, after its read

    # --- streaming run with injected retraction timing ---
    s_index = str(root / "ret_s_index")
    dix.build_minhash_index(corpus, "doc_id", "text", s_index, **params)
    stream_dir = root / "ret_stream"
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("append").parquet(str(stream_dir))
        if i < len(batches) - 1:
            distinct_mtime(stream_dir)  # stamped, not slept: conftest.distinct_mtime
    out = str(root / "ret_out")

    seen = {"n": 0}
    entry = dix.DETECTORS["minhash"]

    # the sink's probe is the minhash entry's pairs called with the
    # opened index; its live reads are the batch's index read
    def vs_with_between_retractions(signed, threshold, idx=None):
        if idx is None:
            return entry.pairs(signed, threshold)
        n = seen["n"]
        seen["n"] += 1
        for rid in between.get(n, []):
            retract_from_index(idx.spark, s_index, [rid])
        hits = entry.pairs(signed, threshold, idx)
        # racing: lands AFTER this batch's index read, while the batch
        # is still being processed (the read's file listing is fixed)
        for rid in racing.get(n, []):
            retract_from_index(idx.spark, s_index, [rid])
        return hits

    monkeypatch.setitem(
        dix.DETECTORS,
        "minhash",
        dataclasses.replace(entry, pairs=vs_with_between_retractions),
    )
    run_dedup_ingest(
        read_document_stream(spark, str(stream_dir), max_files_per_trigger=1),
        "doc_id", "text", s_index, out, _ckpt(staging),
        jaccard_threshold=0.7, **params,
    )
    monkeypatch.undo()
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())

    # --- sequential set model: same policy, same retraction points ---
    q_index = str(root / "ret_q_index")
    dix.build_minhash_index(corpus, "doc_id", "text", q_index, **params)
    want = []
    for n, b in enumerate(batches):
        for rid in between.get(n, []):
            retract_from_index(spark, q_index, [rid])
        vs = dix.dedup_against_index(
            spark, b, "doc_id", "text", q_index,
            jaccard_threshold=0.7, **params,
        ).select(F.col("new_id").alias("d"))
        within = minhash_lsh_pairs(
            b, "doc_id", "text", jaccard_threshold=0.7, **params
        ).select(F.greatest("id_a", "id_b").alias("d"))
        drops = {r["d"] for r in vs.union(within).distinct().collect()}
        for rid in racing.get(n, []):
            retract_from_index(spark, q_index, [rid])
        keep = b.filter(
            ~F.col("doc_id").isin(list(drops)) if drops else F.lit(True)
        )
        want += [r["doc_id"] for r in keep.select("doc_id").collect()]
        dix.append_to_index(keep, "doc_id", "text", q_index, **params)
    assert got == sorted(want)
    # the individual claims, pinned explicitly:
    assert 1000 not in got              # live corpus dup rejected
    # between-batch retractions applied; the racing retraction of 1100
    # did NOT evict it from its own in-flight batch
    assert 1100 in got and 1101 in got
    assert 1200 in got                  # mid-batch retraction visible at b2
    assert 1202 not in got and 1203 not in got  # live dups still rejected
    assert 1201 in got and 1102 in got
    for p in ("ret_s_index", "ret_q_index", "ret_stream", "ret_out"):
        shutil.rmtree(root / p, ignore_errors=True)


def test_ingest_installs_part_file_under_summary_metadata(spark, sf_dir, staging):
    """ADVICE r8: with parquet summary metadata enabled, the ingest
    batch's tmp dir contains _common_metadata/_metadata (both exempt
    from the read-listing hidden rule and lexicographically before
    part-*).  The installer must select the part file BY NAME — a
    "first non-hidden file" pick would install the 0-row footer as the
    batch output and silently drop every admitted row."""
    import shutil

    from dbt_foundation_spark.operators.dedup_index import build_minhash_index
    from dbt_foundation_spark.streaming.pipeline import (
        read_document_stream,
        run_dedup_ingest,
    )

    root = staging["root"]
    texts = [
        r["text"]
        for r in t(spark, sf_dir, "documents").orderBy("doc_id").limit(8).collect()
    ]

    def docs(rows):
        return spark.createDataFrame(
            [(i, tx, "en", "src0", len(tx)) for i, tx in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    params = dict(num_hashes=16, bands=4, shingle_len=3)
    s_index = str(root / "meta_index")
    build_minhash_index(docs(list(enumerate(texts[:4]))), "doc_id", "text",
                        s_index, **params)
    stream_dir = root / "meta_stream"
    docs([(1000, texts[4]), (1001, texts[5])]).coalesce(1).write.mode(
        "append"
    ).parquet(str(stream_dir))
    out = str(root / "meta_out")

    hc = spark.sparkContext._jsc.hadoopConfiguration()
    hc.set("parquet.summary.metadata.level", "ALL")
    try:
        # guard against future vacuity: prove the conf still makes this
        # Spark emit summary footers before exercising the installer
        import os

        probe = str(root / "meta_footer_probe")
        spark.range(2).coalesce(1).write.parquet(probe)
        assert "_metadata" in os.listdir(probe), (
            "parquet.summary.metadata.level no longer emits footers — "
            "this test would be vacuous; rework its setup"
        )
        run_dedup_ingest(
            read_document_stream(spark, str(stream_dir), max_files_per_trigger=1),
            "doc_id", "text", s_index, out, _ckpt(staging),
            jaccard_threshold=0.7, **params,
        )
    finally:
        hc.unset("parquet.summary.metadata.level")

    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == [1000, 1001]  # rows survived — footer was not installed
    for p in ("meta_index", "meta_stream", "meta_out", "meta_footer_probe"):
        shutil.rmtree(root / p, ignore_errors=True)


def test_dedup_ingest_first_batch_empty(spark, sf_dir, staging):
    """Day-0 degenerate (r10 probe): the stream's FIRST batch carries
    ZERO rows (an empty parquet file — a real shape when an upstream
    emits schema-only files). The sink must survive it end-to-end:
    the batch-0 fresh-start gate fires harmlessly, the installer
    installs the empty batch's schema-only part file instead of
    raising its no-part-file error, the index append is a no-op, and
    the NEXT batch's admissions flow normally — including rejecting a
    duplicate of corpus content, proving the index wasn't corrupted by
    the empty append."""
    import shutil
    import time as _time

    from dbt_foundation_spark.operators.dedup_index import build_minhash_index
    from dbt_foundation_spark.streaming.pipeline import (
        DOCUMENT_SCHEMA,
        read_document_stream,
        run_dedup_ingest,
    )

    root = staging["root"]
    texts = [
        r["text"]
        for r in t(spark, sf_dir, "documents").orderBy("doc_id").limit(4).collect()
    ]

    def docs(rows):
        return spark.createDataFrame(
            [(i, tx, "en", "src0", len(tx)) for i, tx in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    params = dict(num_hashes=16, bands=4, shingle_len=3)
    s_index = str(root / "eb_index")
    build_minhash_index(docs([(0, texts[0])]), "doc_id", "text", s_index, **params)

    stream_dir = root / "eb_stream"
    # batch 0: a genuinely EMPTY documents file
    spark.createDataFrame([], DOCUMENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(stream_dir))
    distinct_mtime(stream_dir)  # stamped, not slept: conftest.distinct_mtime
    # batch 1: two fresh docs + one duplicate of the pre-indexed corpus
    docs([(10, texts[1]), (11, texts[2]), (12, texts[0])]).coalesce(1).write.mode(
        "append"
    ).parquet(str(stream_dir))

    out = str(root / "eb_out")
    run_dedup_ingest(
        read_document_stream(spark, str(stream_dir), max_files_per_trigger=1),
        "doc_id", "text", s_index, out, _ckpt(staging),
        jaccard_threshold=0.7, **params,
    )

    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == [10, 11]  # fresh admitted; corpus duplicate rejected
    # the index holds exactly corpus + the admitted docs
    idx_ids = sorted(
        r["id"] for r in spark.read.parquet(f"{s_index}/shingles").collect()
    )
    assert idx_ids == [0, 10, 11]
    for p in ("eb_index", "eb_stream", "eb_out"):
        shutil.rmtree(root / p, ignore_errors=True)


def test_sessionizers_ignore_null_event_times(spark, staging):
    """NULL event-time contract (r10): an event at an unknown time
    belongs to no session. Pre-fix one NaT collapsed
    sessionize_with_state's whole key into a single NaT-ended session
    and crashed on NaT.timestamp(); in sessionize_buffered the NaT's
    int64 sentinel entered the buffer as a year-1677 stamp. Sessions
    must equal the clean-rows-only run exactly."""
    import datetime as dt
    import uuid as _uuid

    from dbt_foundation_spark.streaming.pipeline import (
        read_event_stream,
        run_available_now,
        sessionize_buffered,
        sessionize_with_state,
    )

    t0 = dt.datetime(2024, 3, 1, 6, 0, 0)
    mk = lambda uid, mins: (uid * 100 + mins, t0 + dt.timedelta(minutes=mins), uid,
                            "click", 1.0, "{}")
    clean = [mk(1, m) for m in (0, 10, 20, 120, 130)] + [mk(2, m) for m in (5, 15)]
    dirty = [(9001, None, 1, "click", 1.0, "{}"), (9002, None, 3, "click", 1.0, "{}")]

    def run(rows, fn, name):
        d = staging["root"] / f"null_ts_{name}_{_uuid.uuid4().hex[:6]}"
        spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(str(d))
        # late dummy batch pushes the watermark far past every session
        spark.createDataFrame(
            [mk(99, 6000)],
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string",
        ).coalesce(1).write.mode("append").parquet(str(d))
        out = f"s_null_ts_{name}_{_uuid.uuid4().hex[:6]}"
        run_available_now(
            fn(read_event_stream(spark, str(d), max_files_per_trigger=1),
               gap_seconds=1800),
            str(staging["root"] / f"ck_{out}"), out, output_mode="append",
        )
        return {
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in spark.table(out).collect() if r.user_id != 99
        }

    for fn, name in ((sessionize_with_state, "state"), (sessionize_buffered, "buf")):
        got_dirty = run(clean + dirty, fn, f"{name}_d")
        got_clean = run(clean, fn, f"{name}_c")
        assert got_clean, name  # sessions actually closed
        assert got_dirty == got_clean, (name, got_dirty ^ got_clean)


def test_checkpoint_loss_recovery_dedup_ingest(spark, sf_dir, staging):
    """Checkpoint-loss recovery (r12 verdict #6, probed live): delete
    the checkpoint but keep the index, output and install markers, then
    restart run_dedup_ingest at the SAME checkpoint path. Batch ids
    restart at 0 — pre-fix the dead generation's (path, 0) install
    marker matched the new run's key, so the replayed batch's NEW
    survivors were admitted to the index but silently never installed
    to the output (permanent silent loss: every later replay saw them
    as corpus). The install namespace is now the checkpoint GENERATION
    (the persisted query id, new per wipe): new docs land in BOTH the
    output and the index, previously-admitted docs fold exactly-once
    through the admission gate (no double-install), and a quiet rerun
    is stable."""
    import shutil
    import time as _time

    from dbt_foundation_spark.operators.dedup_index import build_minhash_index
    from dbt_foundation_spark.streaming.pipeline import (
        read_document_stream,
        run_dedup_ingest,
    )

    root = staging["root"]
    texts = [
        r["text"]
        for r in t(spark, sf_dir, "documents").orderBy("doc_id").limit(24).collect()
    ]

    def docs(rows):
        return spark.createDataFrame(
            [(i, tx, "en", "src0", len(tx)) for i, tx in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    corpus = docs(list(enumerate(texts[:20])))
    params = dict(num_hashes=16, bands=4, shingle_len=3)
    idx = str(root / "ckl_idx")
    stream_dir = root / "ckl_stream"
    out = str(root / "ckl_out")
    ckpt = _ckpt(staging)
    build_minhash_index(corpus, "doc_id", "text", idx, **params)

    def ingest():
        run_dedup_ingest(
            read_document_stream(spark, str(stream_dir), max_files_per_trigger=1),
            "doc_id", "text", idx, out, ckpt,
            jaccard_threshold=0.7, **params,
        )
        rows = spark.read.parquet(out).collect()
        ids = sorted(r["doc_id"] for r in rows)
        assert len(ids) == len(set(ids))  # never a double-install
        return ids

    docs([(1000, texts[20])]).coalesce(1).write.mode("append").parquet(
        str(stream_dir)
    )
    assert ingest() == [1000]

    # the loss shape: checkpoint wiped, everything else kept; a new
    # novel doc AND a duplicate of an admitted one arrive
    shutil.rmtree(ckpt)
    distinct_mtime(stream_dir)  # stamped, not slept: conftest.distinct_mtime
    docs([(2000, texts[21]), (2001, texts[20])]).coalesce(1).write.mode(
        "append"
    ).parquet(str(stream_dir))
    got = ingest()
    assert 2000 in got        # pre-fix: silently lost from the output
    assert got == [1000, 2000]  # 2001 deduped; 1000 not re-installed

    # stable under a further quiet rerun (same checkpoint, kept)
    assert ingest() == [1000, 2000]
    for p in ("ckl_idx", "ckl_stream", "ckl_out"):
        shutil.rmtree(root / p, ignore_errors=True)


def test_checkpoint_loss_recovery_ivf_ingest(spark, staging):
    """IVF flank of the r12 checkpoint-loss contract: the ingest_log
    rows are keyed by the checkpoint GENERATION, so after a wipe the
    replayed source appends again under the new generation — new
    vectors are never silently dropped (the pre-fix fate: the dead
    generation's (path, 0) log row short-circuited the new batch 0) —
    and the re-appended old rows are byte-identical duplicates that
    compact_index folds away, restoring exactly-once state."""
    import shutil
    import time as _time

    from dbt_foundation_spark.operators.maintenance import compact_index
    from dbt_foundation_spark.operators.similarity import (
        build_ivf_index,
        ivf_id_col,
    )
    from dbt_foundation_spark.streaming.pipeline import run_ivf_ingest

    root = staging["root"]
    corpus = spark.createDataFrame(
        [(i, [float(i % 4), 1.0, 0.5]) for i in range(12)],
        ["vec_id", "embedding"],
    )
    idx = str(root / "ckl_ivf")
    build_ivf_index(corpus, "vec_id", "embedding", idx, n_lists=2)
    stream_dir = root / "ckl_ivf_stream"
    ckpt = _ckpt(staging)

    def vecs(rows):
        return spark.createDataFrame(rows, ["vec_id", "embedding"])

    def stream():
        return (
            spark.readStream.schema("vec_id long, embedding array<double>")
            .parquet(str(stream_dir))
        )

    def live_ids():
        lists = spark.read.parquet(f"{idx}/lists")
        return [r[0] for r in lists.select(ivf_id_col(lists.schema)).collect()]

    vecs([(100, [9.0, 9.0, 9.0])]).coalesce(1).write.mode("append").parquet(
        str(stream_dir)
    )
    run_ivf_ingest(stream(), "vec_id", "embedding", idx, ckpt)
    assert 100 in set(live_ids())

    shutil.rmtree(ckpt)
    distinct_mtime(stream_dir)  # stamped, not slept: conftest.distinct_mtime
    vecs([(200, [8.0, 8.0, 8.0])]).coalesce(1).write.mode("append").parquet(
        str(stream_dir)
    )
    run_ivf_ingest(stream(), "vec_id", "embedding", idx, ckpt)
    ids = live_ids()
    assert 200 in set(ids)  # pre-fix: silently never appended
    assert 100 in set(ids)
    # the replayed batch re-appended v100 byte-identically — the fold
    # restores exactly-once state
    compact_index(spark, idx)
    ids = live_ids()
    assert sorted(ids) == sorted(set(ids))
    assert {100, 200} <= set(ids)
    for p in ("ckl_ivf", "ckl_ivf_stream"):
        shutil.rmtree(root / p, ignore_errors=True)


def test_checkpoint_metadata_corruption_fails_loud(spark, tmp_path):
    """Control-plane corruption contract for the OTHER metadata file
    (r12 verdict #4c): ``{checkpoint}/metadata`` holds the streaming
    query id that namespaces the exactly-once ingest markers. A wrong
    or guessed namespace silently skips or duplicates batches, so
    _checkpoint_generation must fail LOUD — naming the file — on every
    unreadable shape, never fall back to a guess: absent file, empty
    file, non-JSON bytes, JSON without an id, JSON with a null id."""
    import pytest

    from dbt_foundation_spark.streaming.pipeline import _checkpoint_generation

    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()

    # absent metadata: the query never started — refuse, don't guess
    with pytest.raises(RuntimeError, match="metadata"):
        _checkpoint_generation(spark, str(ckpt))

    meta = ckpt / "metadata"
    for shape, content in [
        ("empty", ""),
        ("garbage", "NOT JSON {{{"),
        ("json-no-id", '{"version": 1}'),
        ("json-null-id", '{"id": null}'),
    ]:
        meta.write_text(content)
        with pytest.raises(RuntimeError, match="metadata"):
            _checkpoint_generation(spark, str(ckpt)), shape

    # the real shape round-trips
    meta.write_text('{"id": "abc-123"}')
    assert _checkpoint_generation(spark, str(ckpt)) == "abc-123"


def test_checkpoint_loss_recovery_ivf_ingest_explicit_app_id(spark, staging):
    """The explicit-app_id flank of the checkpoint-loss contract (r12
    advice, medium): a bare explicit app_id was stable across
    checkpoint wipes, so a wiped checkpoint restarting batch ids at 0
    matched the dead run's (app_id, 0..N) ingest_log markers and every
    replayed batch was silently skipped — the exact bug the r12 fix
    closed for the default namespace. The namespace is now
    ``<app_id>@<generation>``: after a wipe the new generation's keys
    can never match the dead run's, so new vectors append (and the
    replayed old rows fold at compact_index, same as the default
    path). Direct-call mode (no checkpoint) keeps the bare-app_id
    namespace — no checkpoint means no replay hazard — and refuses
    to run with neither identity."""
    import shutil
    import time as _time

    import pytest

    from dbt_foundation_spark.operators.similarity import (
        build_ivf_index,
        ivf_id_col,
    )
    from dbt_foundation_spark.streaming.pipeline import (
        _ivf_ingest_sink,
        run_ivf_ingest,
    )

    root = staging["root"]
    corpus = spark.createDataFrame(
        [(i, [float(i % 4), 1.0, 0.5]) for i in range(12)],
        ["vec_id", "embedding"],
    )
    idx = str(root / "ckl_ivf_app")
    build_ivf_index(corpus, "vec_id", "embedding", idx, n_lists=2)
    stream_dir = root / "ckl_ivf_app_stream"
    ckpt = _ckpt(staging)

    def vecs(rows):
        return spark.createDataFrame(rows, ["vec_id", "embedding"])

    def stream():
        return (
            spark.readStream.schema("vec_id long, embedding array<double>")
            .parquet(str(stream_dir))
        )

    def live_ids():
        lists = spark.read.parquet(f"{idx}/lists")
        return [r[0] for r in lists.select(ivf_id_col(lists.schema)).collect()]

    vecs([(100, [9.0, 9.0, 9.0])]).coalesce(1).write.mode("append").parquet(
        str(stream_dir)
    )
    run_ivf_ingest(stream(), "vec_id", "embedding", idx, ckpt, app_id="etl-a")
    assert 100 in set(live_ids())
    # the marker namespace embeds the generation, not the bare app_id
    logged = {
        r["app_id"]
        for r in spark.read.parquet(f"{idx}/ingest_log").collect()
    }
    assert all(ns.startswith("etl-a@") for ns in logged), logged

    shutil.rmtree(ckpt)
    distinct_mtime(stream_dir)  # stamped, not slept: conftest.distinct_mtime
    vecs([(200, [8.0, 8.0, 8.0])]).coalesce(1).write.mode("append").parquet(
        str(stream_dir)
    )
    run_ivf_ingest(stream(), "vec_id", "embedding", idx, ckpt, app_id="etl-a")
    ids = live_ids()
    assert 200 in set(ids)  # pre-fix: silently never appended
    assert 100 in set(ids)

    # direct-call mode: no checkpoint → bare app_id namespace works,
    # no identity at all refuses loudly
    sink = _ivf_ingest_sink(idx, "vec_id", "embedding", "manual-b")
    sink(vecs([(300, [7.0, 7.0, 7.0])]), 0)
    assert 300 in set(live_ids())
    none_sink = _ivf_ingest_sink(idx, "vec_id", "embedding", None)
    with pytest.raises(ValueError, match="app_id"):
        none_sink(vecs([(301, [6.0, 6.0, 6.0])]), 0)
    for p in ("ckl_ivf_app", "ckl_ivf_app_stream"):
        shutil.rmtree(root / p, ignore_errors=True)


def test_two_ingest_streams_one_index_serialize_or_fail_loud(
    spark, sf_dir, staging
):
    """Single-ingest-PER-TRIGGER contract for one index (r12 verdict
    #5, probed live with two truly concurrent availableNow streams
    before pinning): the ``__appending`` claim is held for the
    duration of each trigger, so two streams with DIFFERENT
    checkpoints targeting the same index

    - legally SERIALIZE when their triggers do not overlap — each
      trigger re-reads the index inside the claim, so interleaved
      admission keeps the documented first-writer-wins trigger-order
      semantics (the live probe's stream A completed all 4 batches
      while B interleaved);
    - on a mid-trigger COLLISION, the second trigger fails loudly
      naming the holding owner (StreamingQueryException wrapping the
      marker raise — the live probe shape), never interleaves task
      files into the other stream's uncommitted append (the two would
      share FileOutputCommitter staging);
    - the failed stream RESUMES from its own checkpoint after the
      holder finishes: committed batches are marker-skipped, the
      failed batch replays, and the final state is exactly-once
      (probe: 0 duplicate ids, 0 cross-stream overlap, index =
      corpus ∪ A ∪ B survivors)."""
    import shutil
    import time as _time

    import pytest

    from dbt_foundation_spark.operators.dedup_index import build_minhash_index
    from dbt_foundation_spark.operators.tombstones import (
        _hadoop,
        append_marker_path,
    )
    from dbt_foundation_spark.streaming.pipeline import (
        read_document_stream,
        run_dedup_ingest,
    )

    root = staging["root"]
    texts = [
        r["text"]
        for r in t(spark, sf_dir, "documents").orderBy("doc_id").limit(26).collect()
    ]

    def docs(rows):
        return spark.createDataFrame(
            [(i, tx, "en", "src0", len(tx)) for i, tx in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    params = dict(num_hashes=16, bands=4, shingle_len=3)
    idx = str(root / "two_idx")
    build_minhash_index(
        docs(list(enumerate(texts[:20]))), "doc_id", "text", idx, **params
    )
    src_a, src_b = root / "two_srcA", root / "two_srcB"
    out_a, out_b = str(root / "two_outA"), str(root / "two_outB")
    ckpt_a, ckpt_b = _ckpt(staging), _ckpt(staging)

    def run(src, out, ckpt):
        run_dedup_ingest(
            read_document_stream(spark, str(src), max_files_per_trigger=1),
            "doc_id", "text", idx, out, ckpt,
            jaccard_threshold=0.7, **params,
        )

    # stream A: two batches, runs to completion
    docs([(1000, texts[20])]).coalesce(1).write.mode("append").parquet(str(src_a))
    docs([(1001, texts[21])]).coalesce(1).write.mode("append").parquet(str(src_a))
    _time.sleep(0.2)
    run(src_a, out_a, ckpt_a)
    # stream B, its own checkpoint, SAME index: first batch serializes
    # in after A — two ingests per index are legal between triggers
    docs([(2000, texts[22])]).coalesce(1).write.mode("append").parquet(str(src_b))
    _time.sleep(0.2)
    run(src_b, out_b, ckpt_b)
    assert {r["doc_id"] for r in spark.read.parquet(out_b).collect()} == {2000}

    # mid-trigger collision: A (simulated live inside a trigger via its
    # owner-tokened claim) holds the marker while B's next batch fires —
    # B dies loudly naming the holder at the ADMIT step. The batch's
    # output installs BEFORE admit claims the marker, so the collision
    # leaves exactly the documented install∥admit crash window: the
    # survivor file exists, the index does not know the doc yet, and
    # the un-checkpointed batch will replay (install marker-skipped,
    # admit re-run) — never interleaved task files in the index (the
    # claim is what keeps B out of A's FileOutputCommitter staging).
    mpath, fs = _hadoop(spark, append_marker_path(idx))
    claim = fs.create(mpath, False)
    claim.write(bytearray(str(ckpt_a).encode()))
    claim.close()
    docs([(2001, texts[23])]).coalesce(1).write.mode("append").parquet(str(src_b))
    _time.sleep(0.2)
    with pytest.raises(Exception, match=str(ckpt_a)):
        run(src_b, out_b, ckpt_b)
    assert {r["doc_id"] for r in spark.read.parquet(out_b).collect()} == {
        2000, 2001,
    }
    bands = spark.read.parquet(f"{idx}/bands")
    assert 2001 not in {
        r["id"] for r in bands.select("id").distinct().collect()
    }

    # holder finishes (claim released): B resumes from ITS checkpoint —
    # the failed batch replays, recomputes the SAME survivors (the
    # index never admitted them), skips the already-installed file,
    # and admits once — exactly-once output, no duplicates
    fs.delete(mpath, False)
    run(src_b, out_b, ckpt_b)
    b = spark.read.parquet(out_b)
    assert {r["doc_id"] for r in b.collect()} == {2000, 2001}
    assert b.count() == b.select("doc_id").distinct().count()
    a = spark.read.parquet(out_a)
    assert a.join(b, "doc_id").count() == 0
    bands = spark.read.parquet(f"{idx}/bands")
    assert bands.select("id").distinct().count() == 24  # 20 corpus + 2A + 2B
    for p in ("two_idx", "two_srcA", "two_srcB", "two_outA", "two_outB"):
        shutil.rmtree(root / p, ignore_errors=True)


def test_stale_foreign_append_claim_fails_loud(spark, sf_dir, staging):
    """A restart under a FRESH checkpoint path cannot reclaim another
    (dead) stream's __appending claim — the first trigger must fail
    loudly naming the holding owner and the manual heal, never steal
    the claim or silently skip (r12 verdict #6)."""
    import shutil
    import time as _time

    import pytest

    from dbt_foundation_spark.operators.dedup_index import build_minhash_index
    from dbt_foundation_spark.operators.tombstones import (
        _hadoop,
        append_marker_path,
    )
    from dbt_foundation_spark.streaming.pipeline import (
        read_document_stream,
        run_dedup_ingest,
    )

    root = staging["root"]
    texts = [
        r["text"]
        for r in t(spark, sf_dir, "documents").orderBy("doc_id").limit(22).collect()
    ]

    def docs(rows):
        return spark.createDataFrame(
            [(i, tx, "en", "src0", len(tx)) for i, tx in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    params = dict(num_hashes=16, bands=4, shingle_len=3)
    idx = str(root / "stale_idx")
    build_minhash_index(
        docs(list(enumerate(texts[:20]))), "doc_id", "text", idx, **params
    )
    # a dead stream's claim: marker file carrying a foreign owner token
    mpath, fs = _hadoop(spark, append_marker_path(idx))
    out_stream = fs.create(mpath, False)
    out_stream.write(bytearray(b"dead-checkpoint-owner"))
    out_stream.close()

    stream_dir = root / "stale_stream"
    docs([(1000, texts[20])]).coalesce(1).write.mode("append").parquet(
        str(stream_dir)
    )
    _time.sleep(0.2)
    with pytest.raises(Exception, match="dead-checkpoint-owner"):
        run_dedup_ingest(
            read_document_stream(spark, str(stream_dir), max_files_per_trigger=1),
            "doc_id", "text", idx, str(root / "stale_out"), _ckpt(staging),
            jaccard_threshold=0.7, **params,
        )
    fs.delete(mpath, False)
    for p in ("stale_idx", "stale_stream", "stale_out"):
        shutil.rmtree(root / p, ignore_errors=True)
