"""Index APPEND concurrency contract (r10 verdict #4).

The revive/compact pair has had a symmetric marker handshake since r7;
appends had none, leaving two unpinned write interleavings:

* two appends racing each other — concurrent ``mode("append")`` writers
  into one directory share the FileOutputCommitter staging root
  (``_temporary/0``); the first job's commit deletes the staging
  recursively and destroys the other's uncommitted task files;
* an append racing ``compact_index`` — ``compact_parquet_path``
  snapshots with a read, then renames the live directory aside and
  deletes it; files appended between snapshot and rename are silently
  destroyed.

Contract (``tombstones.hold_append_marker``): every ``append_to_*``
claims ``__appending`` atomically (create-exclusive) for the duration
of its writes, then write-then-checks ``__compacting``; compaction
creates its marker then checks ``__appending`` — of two ops starting
concurrently at least one sees the other and raises. Streaming ingests
pass a stable owner and reclaim their own crashed claim on restart;
batch appends get UUID owners, so a crashed batch append's claim heals
by the documented manual delete + re-run.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_foundation_spark.operators.tombstones import (
    append_marker_path,
    compaction_marker_path,
    hold_append_marker,
)


def _fs(spark, path):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def _write_marker(spark, index_path, owner: str):
    """Simulate a claim left by another process / a crashed one."""
    p, fs = _fs(spark, append_marker_path(index_path))
    out = fs.create(p, False)
    out.write(bytearray(owner.encode()))
    out.close()


def _marker_exists(spark, index_path) -> bool:
    p, fs = _fs(spark, append_marker_path(index_path))
    return fs.exists(p)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


@pytest.fixture()
def mh_index(spark, tmp_path):
    from dbt_foundation_spark.operators.dedup_index import build_minhash_index

    corpus = _docs(
        spark,
        [(i, f"alpha beta gamma doc {i} delta epsilon zeta") for i in range(8)],
    )
    path = str(tmp_path / "mh_excl")
    build_minhash_index(corpus, "doc_id", "text", path, num_hashes=16, bands=4)
    return path


def test_append_vs_append_mutual_exclusion(spark, mh_index):
    from dbt_foundation_spark.operators.dedup_index import append_to_index

    batch = _docs(spark, [(100, "totally new content one two three")])
    # a live claim from "someone else" (another process mid-append)
    _write_marker(spark, mh_index, "batch-someoneelse")
    with pytest.raises(ValueError, match="__appending"):
        append_to_index(batch, "doc_id", "text", mh_index,
                        num_hashes=16, bands=4)
    # the loser must NOT have withdrawn the holder's claim
    assert _marker_exists(spark, mh_index)

    # healing per the raise message: delete the stale claim, re-run
    p, fs = _fs(spark, append_marker_path(mh_index))
    fs.delete(p, False)
    append_to_index(batch, "doc_id", "text", mh_index, num_hashes=16, bands=4)
    # a successful append releases its claim
    assert not _marker_exists(spark, mh_index)
    n = spark.read.parquet(f"{mh_index}/shingles").filter(
        F.col("id") == 100
    ).count()
    assert n == 1


def test_append_refuses_during_compaction(spark, mh_index):
    from dbt_foundation_spark.operators.dedup_index import append_to_index

    cpath, fs = _fs(spark, compaction_marker_path(mh_index))
    fs.mkdirs(cpath)  # a compaction in flight (or crashed mid-rewrite)
    try:
        with pytest.raises(ValueError, match="__compacting"):
            append_to_index(
                _docs(spark, [(200, "mid compaction batch")]),
                "doc_id", "text", mh_index, num_hashes=16, bands=4,
            )
        # the refused append released its own claim (write-then-check
        # conflict must not leave a stale __appending behind)
        assert not _marker_exists(spark, mh_index)
    finally:
        fs.delete(cpath, True)


def test_compaction_refuses_during_append(spark, mh_index):
    from dbt_foundation_spark.operators.maintenance import compact_index

    _write_marker(spark, mh_index, "batch-inflight")
    try:
        with pytest.raises(RuntimeError, match="__appending"):
            compact_index(spark, mh_index)
        # the refused compaction withdrew its own fresh marker so a
        # revive is not spuriously blocked afterward
        cpath, fs = _fs(spark, compaction_marker_path(mh_index))
        assert not fs.exists(cpath)
    finally:
        p, fs = _fs(spark, append_marker_path(mh_index))
        fs.delete(p, False)
    # with the claim gone, compaction proceeds
    stats = compact_index(spark, mh_index)
    assert set(stats) == {"bands", "shingles"}


def test_streaming_owner_reclaims_its_own_crashed_claim(spark, mh_index):
    # a crashed stream left its claim; the SAME owner (checkpoint
    # identity) reclaims and proceeds — a DIFFERENT owner refuses
    _write_marker(spark, mh_index, "ckpt-A")
    with pytest.raises(ValueError, match="__appending"):
        with hold_append_marker(spark, mh_index, owner="ckpt-B"):
            pass
    assert _marker_exists(spark, mh_index)  # holder's claim untouched
    with hold_append_marker(spark, mh_index, owner="ckpt-A"):
        assert _marker_exists(spark, mh_index)
    assert not _marker_exists(spark, mh_index)  # released on exit


def test_exception_inside_hold_releases_claim(spark, mh_index):
    with pytest.raises(RuntimeError, match="boom"):
        with hold_append_marker(spark, mh_index):
            raise RuntimeError("boom")
    # the raise signals partial admission; the claim must not brick
    # later appends (re-running the append is the documented healing)
    assert not _marker_exists(spark, mh_index)
    with hold_append_marker(spark, mh_index):
        pass


def test_ivf_append_carries_the_same_exclusion(spark, sf_dir, tmp_path):
    from dbt_foundation_spark.operators.maintenance import compact_index
    from dbt_foundation_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
    )
    from dbt_foundation_spark.queries._util import t

    emb = t(spark, sf_dir, "embeddings").orderBy("vec_id").limit(60)
    path = str(tmp_path / "ivf_excl")
    build_ivf_index(emb, "vec_id", "embedding", path, n_lists=4)
    batch = emb.limit(3).withColumn("vec_id", F.col("vec_id") + 10_000)

    _write_marker(spark, path, "batch-other")
    with pytest.raises(ValueError, match="__appending"):
        append_to_ivf_index(batch, "vec_id", "embedding", path)
    with pytest.raises(RuntimeError, match="__appending"):
        compact_index(spark, path)
    p, fs = _fs(spark, append_marker_path(path))
    fs.delete(p, False)
    append_to_ivf_index(batch, "vec_id", "embedding", path)
    assert not _marker_exists(spark, path)
    assert (
        spark.read.parquet(f"{path}/lists")
        .filter(F.col("vec_id") >= 10_000)
        .count()
        == 3
    )


def test_index_stats_reports_stale_append_claim(spark, mh_index):
    from dbt_foundation_spark.operators.maintenance import index_stats

    assert index_stats(spark, mh_index)["crash_leftovers"] == []
    _write_marker(spark, mh_index, "batch-crashed")
    try:
        assert "__appending" in index_stats(spark, mh_index)["crash_leftovers"]
    finally:
        p, fs = _fs(spark, append_marker_path(mh_index))
        fs.delete(p, False)


def test_empty_owner_marker_reclaimable_by_stream_only(spark, mh_index):
    """A process killed between marker create and token close leaves an
    EMPTY-owner claim (r11 review pass 2). A stable stream identity
    reclaims it on restart — the alternative was a permanent
    crash-loop; a batch append (no stable identity) still refuses and
    heals via the documented manual delete."""
    p, fs = _fs(spark, append_marker_path(mh_index))
    fs.create(p, False).close()  # token never written: the crash shape
    with pytest.raises(ValueError, match="__appending"):
        with hold_append_marker(spark, mh_index):  # batch: refuse
            pass
    assert _marker_exists(spark, mh_index)
    with hold_append_marker(spark, mh_index, owner="ckpt-X"):  # stream
        assert _marker_exists(spark, mh_index)
    assert not _marker_exists(spark, mh_index)


def test_max_tokens_is_manifest_enforced(spark, tmp_path):
    """The giant-document cap defines the signature space like
    num_hashes/shingle_len do (r11 review pass 2): a batch computed
    under a DIFFERENT cap than the stored corpus would band capped
    documents differently per side and silently admit their
    re-ingests. Build records it; append/query validate it; a build
    with max_tokens=None records the UNCAPPED sentinel (r12: a
    deliberately-uncapped index must be distinguishable from a pre-cap
    legacy manifest); only a manifest LACKING the key entirely trusts
    the caller — the documented migration."""
    from dbt_foundation_spark.operators.dedup_index import (
        append_to_index,
        build_containment_index,
        build_minhash_index,
        build_simhash_index,
        containment_against_index,
        dedup_against_index,
        dedup_against_simhash_index,
    )

    docs = _docs(
        spark, [(i, f"alpha beta gamma doc {i} delta epsilon") for i in range(6)]
    )
    batch = _docs(spark, [(100, "alpha beta gamma doc 0 delta epsilon")])

    mh = str(tmp_path / "mh_cap")
    build_minhash_index(docs, "doc_id", "text", mh,
                        num_hashes=16, bands=4, max_tokens=64)
    with pytest.raises(ValueError, match="max_tokens"):
        dedup_against_index(spark, batch, "doc_id", "text", mh,
                            num_hashes=16, bands=4)  # default 100k != 64
    with pytest.raises(ValueError, match="max_tokens"):
        append_to_index(batch, "doc_id", "text", mh,
                        num_hashes=16, bands=4, max_tokens=32)
    got = dedup_against_index(
        spark, batch, "doc_id", "text", mh,
        num_hashes=16, bands=4, max_tokens=64, jaccard_threshold=0.9,
    ).collect()
    assert {(r.new_id, r.corpus_id) for r in got} == {(100, 0)}

    sh = str(tmp_path / "sh_cap")
    build_simhash_index(docs, "doc_id", "text", sh, max_hamming=3, max_tokens=64)
    with pytest.raises(ValueError, match="max_tokens"):
        dedup_against_simhash_index(spark, batch, "doc_id", "text", sh,
                                    max_hamming=3)
    assert dedup_against_simhash_index(
        spark, batch, "doc_id", "text", sh, max_hamming=3, max_tokens=64
    ).count() >= 1

    ct = str(tmp_path / "ct_cap")
    build_containment_index(docs, "doc_id", "text", ct,
                            shingle_len=2, threshold=0.6, max_tokens=64)
    with pytest.raises(ValueError, match="max_tokens"):
        containment_against_index(spark, batch, "doc_id", "text", ct,
                                  shingle_len=2, threshold=0.6)
    assert containment_against_index(
        spark, batch, "doc_id", "text", ct,
        shingle_len=2, threshold=0.6, max_tokens=64,
    ).count() >= 1

    # an EXPLICITLY-uncapped query against a cap-recording manifest
    # raises too — None would compute full-document signatures against
    # a 64-token-window corpus (r11 review pass 3)
    with pytest.raises(ValueError, match="max_tokens"):
        dedup_against_index(spark, batch, "doc_id", "text", mh,
                            num_hashes=16, bands=4, max_tokens=None)

    # uncapped build RECORDS uncapped (r12): the default 100k-token
    # query must raise — it would sign a capped window against
    # full-document corpus signatures — and an explicit None matches
    mh2 = str(tmp_path / "mh_uncapped")
    build_minhash_index(docs, "doc_id", "text", mh2,
                        num_hashes=16, bands=4, max_tokens=None)
    with pytest.raises(ValueError, match="max_tokens"):
        dedup_against_index(spark, batch, "doc_id", "text", mh2,
                            num_hashes=16, bands=4)  # default 100k cap
    assert dedup_against_index(
        spark, batch, "doc_id", "text", mh2,
        num_hashes=16, bands=4, jaccard_threshold=0.9, max_tokens=None,
    ).count() == 1

    # trust-the-caller survives ONLY for manifests that lack the key
    # entirely (built before the cap existed) — unit-level, since every
    # build now records the key
    from dbt_foundation_spark.operators.index_core import _validate_params

    legacy = {"flavor": "minhash", "num_hashes": 16}
    resolved = _validate_params("p", legacy, {"num_hashes": 16,
                                              "max_tokens": 64})
    assert resolved["max_tokens"] == 64  # caller value trusted
    resolved = _validate_params("p", legacy, {"num_hashes": 16,
                                              "max_tokens": None})
    assert resolved["max_tokens"] is None


def test_streaming_ingest_honors_index_token_cap(spark, tmp_path):
    """run_dedup_ingest threads max_tokens to every index/batch
    operator (r11 review pass 3): an index built with a non-default cap
    previously made the first micro-batch raise a manifest mismatch —
    and every restart replayed the same batch and raised again, a
    permanent poison pill with no workaround."""
    import time as _time

    from dbt_foundation_spark.operators.dedup_index import build_minhash_index
    from dbt_foundation_spark.streaming.pipeline import (
        read_document_stream,
        run_dedup_ingest,
    )

    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma doc {i} delta epsilon", "en", "s", 40)
         for i in range(6)],
        "doc_id bigint, text string, lang string, source string, n_chars long",
    )
    idx = str(tmp_path / "mh_stream_cap")
    build_minhash_index(corpus.select("doc_id", "text"), "doc_id", "text",
                        idx, num_hashes=16, bands=4, max_tokens=64)

    stream_dir = tmp_path / "cap_stream"
    out_dir = str(tmp_path / "cap_out")
    ckpt = str(tmp_path / "cap_ckpt")
    batch = spark.createDataFrame(
        [(100, "totally novel content one two three four", "en", "s", 40),
         (101, "alpha beta gamma doc 0 delta epsilon", "en", "s", 40)],
        "doc_id bigint, text string, lang string, source string, n_chars long",
    )
    batch.coalesce(1).write.mode("append").parquet(str(stream_dir))
    _time.sleep(0.2)
    run_dedup_ingest(
        read_document_stream(spark, str(stream_dir)),
        "doc_id", "text", idx, out_dir, ckpt,
        num_hashes=16, bands=4, jaccard_threshold=0.6,
        max_tokens=64,
    )
    admitted = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    assert admitted == {100}  # 101 deduped against the capped corpus

    # the pre-fix poison pill: the stream-level default diverging from
    # the index cap raises the manifest mismatch loudly (first trigger)
    with pytest.raises(Exception, match="max_tokens"):
        run_dedup_ingest(
            read_document_stream(spark, str(stream_dir)),
            "doc_id", "text", idx, str(tmp_path / "cap_out2"),
            str(tmp_path / "cap_ckpt2"),
            num_hashes=16, bands=4, jaccard_threshold=0.6,
        )


def test_streaming_ingest_against_uncapped_index(spark, tmp_path):
    """max_tokens=None means UNCAPPED at the stream level too (r12,
    from the r11 advice): pre-fix, the stream mapped None to the
    default cap, so a stream could never run against an index built
    uncapped — it raised the manifest mismatch on every trigger."""
    import time as _time

    from dbt_foundation_spark.operators.dedup_index import build_minhash_index
    from dbt_foundation_spark.streaming.pipeline import (
        read_document_stream,
        run_dedup_ingest,
    )

    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma doc {i} delta epsilon", "en", "s", 40)
         for i in range(6)],
        "doc_id bigint, text string, lang string, source string, n_chars long",
    )
    idx = str(tmp_path / "mh_uncapped_stream")
    build_minhash_index(corpus.select("doc_id", "text"), "doc_id", "text",
                        idx, num_hashes=16, bands=4, max_tokens=None)

    stream_dir = tmp_path / "uncapped_stream"
    batch = spark.createDataFrame(
        [(100, "totally novel content one two three four", "en", "s", 40),
         (101, "alpha beta gamma doc 0 delta epsilon", "en", "s", 40)],
        "doc_id bigint, text string, lang string, source string, n_chars long",
    )
    batch.coalesce(1).write.mode("append").parquet(str(stream_dir))
    _time.sleep(0.2)

    # stream-level DEFAULT (omitted max_tokens) still raises against an
    # uncapped index — the sides would sign in different token windows
    with pytest.raises(Exception, match="max_tokens"):
        run_dedup_ingest(
            read_document_stream(spark, str(stream_dir)),
            "doc_id", "text", idx, str(tmp_path / "unc_out0"),
            str(tmp_path / "unc_ckpt0"),
            num_hashes=16, bands=4, jaccard_threshold=0.6,
        )

    out_dir = str(tmp_path / "unc_out")
    run_dedup_ingest(
        read_document_stream(spark, str(stream_dir)),
        "doc_id", "text", idx, out_dir, str(tmp_path / "unc_ckpt"),
        num_hashes=16, bands=4, jaccard_threshold=0.6,
        max_tokens=None,
    )
    admitted = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    assert admitted == {100}  # 101 deduped against the uncapped corpus


def test_embedding_index_excludes_null_ids(spark, tmp_path):
    """The embedding flavor carries the same degenerate-identity gate
    as every other index writer (r11 review pass 2): NULL-id rows never
    land in vectors or bands — an id-less stored row could never be
    paired, retracted, or folded."""
    from dbt_foundation_spark.operators.dedup_index import (
        append_to_embedding_index,
        build_embedding_index,
    )

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (None, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])],
        "vec_id bigint, emb array<double>",
    )
    em = str(tmp_path / "em_nullid")
    build_embedding_index(vecs, "vec_id", "emb", em, m=8, bands=4, threshold=0.5)
    append_to_embedding_index(
        spark.createDataFrame(
            [(None, [1.0, 1.0, 0.0]), (3, [1.0, 0.0, 1.0])],
            "vec_id bigint, emb array<double>",
        ),
        "vec_id", "emb", em, m=8, bands=4,
    )
    stored = spark.read.parquet(f"{em}/vectors")
    assert stored.filter(F.col("id").isNull()).count() == 0
    assert {r.id for r in stored.collect()} == {1, 2, 3}
    bands = spark.read.parquet(f"{em}/bands")
    assert bands.filter(F.col("id").isNull()).count() == 0


def test_batch_id_type_drift_is_conformed_or_refused(spark, tmp_path):
    """Id-type drift across index appends (r12 probe): parquet happily
    appended a string-id batch into a bigint-id index, leaving MIXED
    schemas across one sub-dataset's files — the default read samples
    ONE footer nondeterministically, so the index's id type flipped per
    read and a later legitimate bigint query died inside the scan.
    Contract (the tombstone _conform_id_type family rule): identical
    type passes; same-category drift (int batch, bigint index) CASTS —
    with cast loss raising loudly naming the value; cross-category
    drift (string vs bigint) raises at call time naming both types, on
    appends AND queries, for every flavor. Vector element drift on the
    embedding flavor casts numerically and refuses otherwise."""
    from dbt_foundation_spark.operators.dedup_index import (
        append_to_containment_index,
        append_to_embedding_index,
        append_to_index,
        append_to_simhash_index,
        build_containment_index,
        build_embedding_index,
        build_minhash_index,
        build_simhash_index,
        dedup_against_index,
    )

    docs = _docs(
        spark, [(i, f"alpha beta gamma doc {i} delta epsilon") for i in range(6)]
    )
    mh = str(tmp_path / "mh_drift")
    build_minhash_index(docs, "doc_id", "text", mh, num_hashes=16, bands=4)

    # cross-category: string ids refused on append AND query
    sbatch = spark.createDataFrame(
        [("77", "totally novel content one two three")],
        "doc_id string, text string",
    )
    with pytest.raises(ValueError, match="string.*bigint|bigint.*string"):
        append_to_index(sbatch, "doc_id", "text", mh, num_hashes=16, bands=4)
    with pytest.raises(ValueError, match="string.*bigint|bigint.*string"):
        dedup_against_index(spark, sbatch, "doc_id", "text", mh,
                            num_hashes=16, bands=4)

    # same-category: int batch casts to the bigint store; the stored
    # schema stays single-typed and later bigint queries keep working
    ibatch = spark.createDataFrame(
        [(88, "some fresh words seven eight nine")], "doc_id int, text string"
    )
    append_to_index(ibatch, "doc_id", "text", mh, num_hashes=16, bands=4)
    for sub in ("bands", "shingles"):
        got = spark.read.parquet(f"{mh}/{sub}").schema["id"].dataType
        assert got.simpleString() == "bigint", (sub, got)
    q = spark.createDataFrame(
        [(100, "some fresh words seven eight nine")], "doc_id bigint, text string"
    )
    hits = dedup_against_index(
        spark, q, "doc_id", "text", mh, num_hashes=16, bands=4,
        jaccard_threshold=0.9,
    ).collect()
    assert {(r.new_id, r.corpus_id) for r in hits} == {(100, 88)}

    # the other flavors enforce the same contract
    sh = str(tmp_path / "sh_drift")
    build_simhash_index(docs, "doc_id", "text", sh, max_hamming=3)
    with pytest.raises(ValueError, match="string"):
        append_to_simhash_index(sbatch, "doc_id", "text", sh, max_hamming=3)
    ct = str(tmp_path / "ct_drift")
    build_containment_index(docs, "doc_id", "text", ct,
                            shingle_len=2, threshold=0.6)
    with pytest.raises(ValueError, match="string"):
        append_to_containment_index(sbatch, "doc_id", "text", ct,
                                    shingle_len=2, threshold=0.6)

    # embedding: id conform + vector element-type conform
    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5]) for i in range(8)], ["vec_id", "vec"]
    )
    ep = str(tmp_path / "emb_drift")
    build_embedding_index(emb, "vec_id", "vec", ep, m=8, bands=2)
    fbatch = spark.createDataFrame(
        [(50, [1.0, 1.0, 0.5])], "vec_id int, vec array<float>"
    )
    append_to_embedding_index(fbatch, "vec_id", "vec", ep, m=8, bands=2)
    vecs = spark.read.parquet(f"{ep}/vectors")
    assert vecs.schema["id"].dataType.simpleString() == "bigint"
    assert vecs.schema["vec"].dataType.simpleString() == "array<double>"
    bad_vec = spark.createDataFrame(
        [(51, ["a", "b", "c"])], "vec_id bigint, vec array<string>"
    )
    with pytest.raises(Exception, match="array<string>|mixed-schema|dim"):
        append_to_embedding_index(bad_vec, "vec_id", "vec", ep, m=8, bands=2)
