"""Tombstone retraction (operators/tombstones.py) across the persisted
index family: logical takedown must equal rebuild-without on every read
path, compaction must fold it physically and clear the log, and a
rebuild must clear a stale log."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_foundation_spark.operators.tombstones import (
    clear_tombstones,
    read_tombstones,
    retract_from_index,
)


def _pairs(df):
    return sorted((r[0], r[1]) for r in df.collect())


def test_retract_minhash_equals_rebuild_without(spark, sf_dir, tmp_path):
    """Retraction == rebuilding the index without the retracted docs:
    the dedup candidates against the tombstoned index must equal the
    recompute-both-sides join against the shrunken corpus, before AND
    after compaction folds the log away."""
    from dbt_foundation_spark.operators.dedup import minhash_lsh_join
    from dbt_foundation_spark.operators.dedup_index import (
        build_minhash_index,
        dedup_against_index,
    )
    from dbt_foundation_spark.operators.maintenance import compact_index

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 10 > 1)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    kw = dict(num_hashes=16, bands=4, shingle_len=3)
    path = str(tmp_path / "mh")
    build_minhash_index(corpus, "doc_id", "text", path, **kw)

    before = _pairs(
        dedup_against_index(
            spark, batch, "doc_id", "text", path, jaccard_threshold=0.5, **kw
        )
    )
    assert before
    dead = sorted({c for _, c in before})[: max(1, len(before) // 2)]
    assert retract_from_index(spark, path, dead) == len(dead)

    after = _pairs(
        dedup_against_index(
            spark, batch, "doc_id", "text", path, jaccard_threshold=0.5, **kw
        )
    )
    want = _pairs(
        minhash_lsh_join(
            batch,
            corpus.filter(~F.col("doc_id").isin(dead)),
            "doc_id",
            "text",
            jaccard_threshold=0.5,
            **kw,
        )
    )
    assert after == want and after != before

    compact_index(spark, path)
    assert read_tombstones(spark, path) is None
    assert (
        _pairs(
            dedup_against_index(
                spark, batch, "doc_id", "text", path, jaccard_threshold=0.5, **kw
            )
        )
        == want
    )
    stored = {r["id"] for r in spark.read.parquet(f"{path}/shingles").collect()}
    assert not stored & set(dead)


def test_retract_simhash_containment_embedding(spark, tmp_path):
    """The other three dedup flavors subtract the log on every stored
    dataset: a planted duplicate of a retracted corpus doc stops
    matching, an unrelated corpus doc keeps matching its own twin."""
    from dbt_foundation_spark.operators.dedup_index import (
        build_containment_index,
        build_embedding_index,
        build_simhash_index,
        containment_against_index,
        dedup_against_embedding_index,
        dedup_against_simhash_index,
    )

    a = "the quick brown fox jumps over the lazy dog and then runs far away into the hills today"
    b = "spark physical plans pin shuffle counts broadcast joins and codegen spans for every headline query"
    corpus = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    batch = spark.createDataFrame([(101, a), (102, b)], ["doc_id", "text"])

    sp = str(tmp_path / "sh")
    build_simhash_index(corpus, "doc_id", "text", sp)
    assert _pairs(
        dedup_against_simhash_index(spark, batch, "doc_id", "text", sp)
    ) == [(101, 1), (102, 2)]
    retract_from_index(spark, sp, [1])
    assert _pairs(
        dedup_against_simhash_index(spark, batch, "doc_id", "text", sp)
    ) == [(102, 2)]

    cp = str(tmp_path / "ct")
    build_containment_index(corpus, "doc_id", "text", cp)
    assert _pairs(
        containment_against_index(spark, batch, "doc_id", "text", cp)
    ) == [(101, 1), (102, 2)]
    retract_from_index(spark, cp, [1])
    assert _pairs(
        containment_against_index(spark, batch, "doc_id", "text", cp)
    ) == [(102, 2)]

    va = [1.0, 0.0, 0.0, 0.2]
    vb = [0.0, 1.0, 0.1, 0.0]
    vcorpus = spark.createDataFrame([(1, va), (2, vb)], ["doc_id", "vec"])
    vbatch = spark.createDataFrame([(101, va), (102, vb)], ["doc_id", "vec"])
    ep = str(tmp_path / "emb")
    build_embedding_index(vcorpus, "doc_id", "vec", ep, dim=4)
    assert _pairs(
        dedup_against_embedding_index(spark, vbatch, "doc_id", "vec", ep)
    ) == [(101, 1), (102, 2)]
    retract_from_index(spark, ep, [1])
    assert _pairs(
        dedup_against_embedding_index(spark, vbatch, "doc_id", "vec", ep)
    ) == [(102, 2)]


def test_retract_ivf_search_knn_profile_compact(spark, sf_dir, tmp_path):
    """IVF flank: a retracted vector disappears from single-query
    search, batch k-NN join, and the list profile counts; compaction
    physically drops its lists rows and clears the log."""
    from dbt_foundation_spark.operators.maintenance import compact_index
    from dbt_foundation_spark.operators.similarity import (
        build_ivf_index,
        ivf_list_profile,
        knn_join_ivf,
        search_ivf_index,
    )
    from dbt_foundation_spark.queries._util import t

    emb = t(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, "vec_id", "embedding", path, n_lists=8)

    row0 = emb.orderBy("vec_id").first()
    qv = [float(x) for x in row0["embedding"]]
    top = search_ivf_index(
        spark, path, "vec_id", "embedding", qv, k=5, n_probe=2
    ).collect()
    assert top[0]["vec_id"] == row0["vec_id"]  # its own vector wins

    total_before = ivf_list_profile(spark, path).agg(
        F.sum("n_members")
    ).first()[0]
    assert retract_from_index(spark, path, [row0["vec_id"]]) == 1

    after = search_ivf_index(
        spark, path, "vec_id", "embedding", qv, k=5, n_probe=2
    ).collect()
    assert len(after) == 5
    assert all(r["vec_id"] != row0["vec_id"] for r in after)
    # the survivors are exactly the old top-k minus the retracted hit
    assert [r["vec_id"] for r in after][:4] == [
        r["vec_id"] for r in top if r["vec_id"] != row0["vec_id"]
    ]

    queries = emb.filter(F.col("vec_id") == row0["vec_id"])
    kj = knn_join_ivf(
        spark, path, queries, "vec_id", "embedding", k=5, n_probe=2
    ).collect()
    assert all(r["corpus_id"] != row0["vec_id"] for r in kj)

    assert (
        ivf_list_profile(spark, path).agg(F.sum("n_members")).first()[0]
        == total_before - 1
    )

    compact_index(spark, path)
    assert read_tombstones(spark, path) is None
    lists = spark.read.parquet(f"{path}/lists")
    assert lists.filter(F.col("vec_id") == row0["vec_id"]).count() == 0
    again = search_ivf_index(
        spark, path, "vec_id", "embedding", qv, k=5, n_probe=2
    ).collect()
    assert [r["vec_id"] for r in again] == [r["vec_id"] for r in after]


def test_retract_validation_clear_and_rebuild(spark, tmp_path):
    """Guard rails: typo paths raise, empty batches are no-ops, revive
    restores matches, and a rebuild clears a stale log so recycled ids
    are never silently hidden."""
    from dbt_foundation_spark.operators.dedup_index import (
        build_simhash_index,
        dedup_against_simhash_index,
    )

    with pytest.raises(ValueError, match="does not exist"):
        retract_from_index(spark, str(tmp_path / "nope"), [1])

    text = "one common sentence repeated verbatim across the corpus and the batch for matching"
    corpus = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    batch = spark.createDataFrame([(9, text)], ["doc_id", "text"])
    path = str(tmp_path / "sh")
    build_simhash_index(corpus, "doc_id", "text", path)

    assert retract_from_index(spark, path, []) == 0
    assert read_tombstones(spark, path) is None
    with pytest.raises(ValueError, match="single-column"):
        retract_from_index(spark, path, corpus)

    retract_from_index(spark, path, [1])
    assert (
        dedup_against_simhash_index(spark, batch, "doc_id", "text", path).count()
        == 0
    )
    # revive the id: matches come back, log is empty again
    assert clear_tombstones(spark, path, [1]) == 1
    assert (
        dedup_against_simhash_index(spark, batch, "doc_id", "text", path).count()
        == 1
    )

    # stale-log-vs-rebuild: retract, then REBUILD at the same path with
    # the same (recycled) id — the build must clear the log
    retract_from_index(spark, path, [1])
    build_simhash_index(corpus, "doc_id", "text", path)
    assert read_tombstones(spark, path) is None
    assert (
        dedup_against_simhash_index(spark, batch, "doc_id", "text", path).count()
        == 1
    )


def test_retract_everything_then_recover(spark, tmp_path):
    """Total-takedown boundary: retracting EVERY document and compacting
    must leave a queryable (0-candidate) index — including the
    hive-partitioned IVF lists, where a naive empty partitionBy rewrite
    leaves no partition dirs and no schema (UNABLE_TO_INFER_SCHEMA);
    compaction parks the schema in a sentinel partition dir instead.
    Appends then lay real partition dirs beside the sentinel and the
    next compaction folds it away."""
    from dbt_foundation_spark.operators.dedup_index import (
        build_simhash_index,
        dedup_against_simhash_index,
    )
    from dbt_foundation_spark.operators.maintenance import compact_index
    from dbt_foundation_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_list_profile,
        search_ivf_index,
    )

    # flat (cluster_by) layout: simhash
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    sp = str(tmp_path / "sh")
    build_simhash_index(corpus, "doc_id", "text", sp)
    retract_from_index(spark, sp, [1])
    compact_index(spark, sp)
    assert read_tombstones(spark, sp) is None
    batch = spark.createDataFrame([(9, text)], ["doc_id", "text"])
    assert (
        dedup_against_simhash_index(spark, batch, "doc_id", "text", sp).count()
        == 0
    )

    # hive-partitioned layout: IVF lists
    emb = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), 1.0, 0.5]) for i in range(20)],
        ["vec_id", "vec"],
    )
    ivf = str(tmp_path / "ivf")
    build_ivf_index(emb, "vec_id", "vec", ivf, n_lists=4)
    retract_from_index(spark, ivf, list(range(20)))
    compact_index(spark, ivf)
    assert read_tombstones(spark, ivf) is None
    qv = [1.0, 1.0, 0.0, 2.0]
    assert (
        search_ivf_index(spark, ivf, "vec_id", "vec", qv, k=3, n_probe=4).count()
        == 0
    )
    assert ivf_list_profile(spark, ivf).count() == 0

    # the emptied index is still a working index: append + search + the
    # next compaction folds the sentinel partition away
    emb2 = spark.createDataFrame(
        [(100 + i, [float(i), 1.0, 0.0, 2.0]) for i in range(8)],
        ["vec_id", "vec"],
    )
    append_to_ivf_index(emb2, "vec_id", "vec", ivf)
    hits = search_ivf_index(
        spark, ivf, "vec_id", "vec", qv, k=3, n_probe=4
    ).collect()
    assert len(hits) == 3 and all(r["vec_id"] >= 100 for r in hits)
    compact_index(spark, ivf)
    dirs = {
        p.name
        for p in (tmp_path / "ivf" / "lists").iterdir()
        if p.is_dir()
    }
    assert dirs and "_ivf_list=-1" not in dirs  # sentinel folded away
    assert [r["vec_id"] for r in search_ivf_index(
        spark, ivf, "vec_id", "vec", qv, k=3, n_probe=4
    ).collect()] == [r["vec_id"] for r in hits]


def test_index_stats_summary(spark, tmp_path):
    """index_stats reports flavor/params/per-dataset files/tombstone
    count for any index flavor, and raises a named error off-index."""
    from dbt_foundation_spark.operators.dedup_index import build_minhash_index
    from dbt_foundation_spark.operators.maintenance import index_stats
    from dbt_foundation_spark.operators.similarity import build_ivf_index

    corpus = spark.createDataFrame(
        [(i, f"document number {i} with some shared words {i % 3}") for i in range(10)],
        ["doc_id", "text"],
    )
    mh = str(tmp_path / "mh")
    build_minhash_index(corpus, "doc_id", "text", mh, num_hashes=16, bands=4)
    retract_from_index(spark, mh, [1, 2])
    s = index_stats(spark, mh)
    assert s["flavor"] == "minhash" and s["params"]["num_hashes"] == 16
    assert set(s["datasets"]) == {"bands", "shingles"}
    assert all(d["n_files"] >= 1 for d in s["datasets"].values())
    assert s["tombstones"] == 2
    assert s["crash_leftovers"] == []
    assert s["missing_datasets"] == []  # complete index: nothing missing

    # a parked swap dir shows up as a re-run-maintenance signal
    spark.createDataFrame([(9,)], "id: bigint").write.parquet(
        f"{mh}/bands__compact_old"
    )
    assert index_stats(spark, mh)["crash_leftovers"] == ["bands__compact_old"]
    from dbt_foundation_spark.operators.tombstones import _hadoop

    p, fs = _hadoop(spark, f"{mh}/bands__compact_old")
    fs.delete(p, True)

    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.0, 0.5]) for i in range(12)],
        ["vec_id", "vec"],
    )
    ivf = str(tmp_path / "ivf")
    build_ivf_index(emb, "vec_id", "vec", ivf, n_lists=2)
    s2 = index_stats(spark, ivf)
    assert s2["flavor"] == "ivf" and s2["tombstones"] == 0
    assert "lists" in s2["datasets"] and "ingest_log" not in s2["datasets"]
    # batch-built ivf has no ingest_log — named, not silently omitted
    assert s2["missing_datasets"] == ["ingest_log"]

    with pytest.raises(ValueError, match="no manifest"):
        index_stats(spark, str(tmp_path / "not_an_index"))


def test_reader_racing_compaction_rename_window(spark, tmp_path):
    """The reader∥compaction seam (r12 verdict #3): writers are
    excluded by the marker handshakes, but a plain READ racing
    compact_parquet_path's rename-aside→install window could see a
    half-missing directory — pre-guard that surfaced as Spark's
    generic PATH_NOT_FOUND (or a silently incomplete listing).
    Contract pinned here: a missing sub-dataset next to compaction
    evidence raises LOUDLY naming the compaction and the heal
    (re-run compact_index); index_stats REPORTS (describe tools never
    raise on damage) via missing_datasets; re-running compaction
    restores the parked dataset and the read returns the exact
    pre-compaction answer; a missing sub-dataset with NO compaction
    evidence raises naming the incomplete index."""
    from dbt_foundation_spark.operators.dedup_index import (
        build_minhash_index,
        dedup_against_index,
    )
    from dbt_foundation_spark.operators.maintenance import (
        compact_index,
        index_stats,
    )
    from dbt_foundation_spark.operators.similarity import (
        build_ivf_index,
        search_ivf_index,
    )
    from dbt_foundation_spark.operators.tombstones import (
        _hadoop,
        compaction_marker_path,
    )

    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma doc {i} delta epsilon") for i in range(8)],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "mh_seam")
    build_minhash_index(corpus, "doc_id", "text", path, num_hashes=16, bands=4)
    batch = spark.createDataFrame(
        [(100, "alpha beta gamma doc 3 delta epsilon")], ["doc_id", "text"]
    )

    def hits():
        return sorted(
            (r.new_id, r.corpus_id)
            for r in dedup_against_index(
                spark, batch, "doc_id", "text", path,
                num_hashes=16, bands=4, jaccard_threshold=0.9,
            ).collect()
        )

    baseline = hits()
    assert baseline == [(100, 3)]

    # freeze the mid-swap instant: bands renamed aside, marker held
    jvm = spark._jvm
    bands_p, fs = _hadoop(spark, f"{path}/bands")
    old_p = jvm.org.apache.hadoop.fs.Path(f"{path}/bands__compact_old")
    assert fs.rename(bands_p, old_p)
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(compaction_marker_path(path)))

    # query reads raise naming the compaction + heal, never a subset
    with pytest.raises(RuntimeError, match="mid-swap"):
        dedup_against_index(
            spark, batch, "doc_id", "text", path, num_hashes=16, bands=4
        )

    # the describe tool reports instead of raising
    s = index_stats(spark, path)
    assert "bands" in s["missing_datasets"]
    assert "__compacting" in s["crash_leftovers"]
    assert "bands__compact_old" in s["crash_leftovers"]

    # heal by the documented re-run: restores the parked dataset first,
    # completes the fold, clears the marker — answers unchanged
    compact_index(spark, path)
    assert hits() == baseline
    s = index_stats(spark, path)
    assert s["missing_datasets"] == [] and s["crash_leftovers"] == []

    # same guard on the IVF read paths (centroids via _load_ivf)
    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5]) for i in range(9)], ["vec_id", "vec"]
    )
    ivf = str(tmp_path / "ivf_seam")
    build_ivf_index(emb, "vec_id", "vec", ivf, n_lists=2)
    cent_p, _ = _hadoop(spark, f"{ivf}/centroids")
    assert fs.rename(
        cent_p, jvm.org.apache.hadoop.fs.Path(f"{ivf}/centroids__compact_old")
    )
    with pytest.raises(RuntimeError, match="mid-swap"):
        search_ivf_index(spark, ivf, "vec_id", "vec", [1.0, 1.0, 0.5], k=2)
    assert fs.rename(
        jvm.org.apache.hadoop.fs.Path(f"{ivf}/centroids__compact_old"), cent_p
    )
    assert search_ivf_index(
        spark, ivf, "vec_id", "vec", [1.0, 1.0, 0.5], k=2
    ).count() == 2

    # parked LISTS with a PENDING retraction: the heal re-run must
    # restore the parked dataset BEFORE the tombstone fold derives the
    # id column (r12 review: _doc_id_col read the missing directory
    # first, so the documented re-run crashed forever on exactly the
    # index state it exists to heal)
    retract_from_index(spark, ivf, [0])
    lists_p, _ = _hadoop(spark, f"{ivf}/lists")
    assert fs.rename(
        lists_p, jvm.org.apache.hadoop.fs.Path(f"{ivf}/lists__compact_old")
    )
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(compaction_marker_path(ivf)))
    compact_index(spark, ivf)  # restores, folds the retraction, clears
    from dbt_foundation_spark.operators.similarity import ivf_id_col

    lists = spark.read.parquet(f"{ivf}/lists")
    live = {r[0] for r in lists.select(ivf_id_col(lists.schema)).collect()}
    assert 0 not in live and len(live) == 8  # folded, rest intact
    assert index_stats(spark, ivf)["crash_leftovers"] == []

    # a missing sub-dataset with NO compaction evidence is an
    # incomplete/damaged index — named as such, not a compaction hint
    sh_p, _ = _hadoop(spark, f"{path}/shingles")
    away = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "shingles_away"))
    assert fs.rename(sh_p, away)
    with pytest.raises(ValueError, match="not a complete index"):
        dedup_against_index(
            spark, batch, "doc_id", "text", path, num_hashes=16, bands=4
        )
    assert fs.rename(away, sh_p)
    assert hits() == baseline


def test_torn_file_contract(spark, tmp_path, caplog):
    """Torn/corrupt part files in persisted indexes (r12 probe): a
    ZERO-BYTE part file reads as silently empty in vanilla Spark —
    pre-contract, dedup_against_index silently returned a subset, a
    torn tombstone-log file silently resurrected retracted docs, and
    compact_index silently folded the tear away. Pinned fates:
    query reads REFUSE naming the file and the heal; index_stats
    REPORTS (per-file crash_leftovers entry; tombstones=None on a torn
    log); compact_index is the documented heal for sub-dataset tears
    and WARNS per fold; a torn log heals manually (delete +
    re-retract) because takedown data may be lost. Non-empty torn
    files fail loudly inside Spark with the magic-number error naming
    the file — pinned for the read path."""
    import logging as _logging

    from dbt_foundation_spark.operators.dedup_index import (
        build_minhash_index,
        dedup_against_index,
    )
    from dbt_foundation_spark.operators.maintenance import (
        compact_index,
        index_stats,
    )

    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma doc {i} delta epsilon") for i in range(8)],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "mh_torn")
    build_minhash_index(corpus, "doc_id", "text", path, num_hashes=16, bands=4)
    batch = spark.createDataFrame(
        [(100, "alpha beta gamma doc 3 delta epsilon")], ["doc_id", "text"]
    )

    def hits():
        return sorted(
            (r.new_id, r.corpus_id)
            for r in dedup_against_index(
                spark, batch, "doc_id", "text", path,
                num_hashes=16, bands=4, jaccard_threshold=0.9,
            ).collect()
        )

    baseline = hits()
    assert baseline == [(100, 3)]

    # --- zero-byte tear in a sub-dataset ---
    torn = f"{path}/bands/part-99999-torn.c000.snappy.parquet"
    open(torn, "wb").close()
    with pytest.raises(RuntimeError, match="zero-byte torn"):
        dedup_against_index(
            spark, batch, "doc_id", "text", path, num_hashes=16, bands=4
        )
    s = index_stats(spark, path)  # describe tool reports, never raises
    assert any(
        "part-99999-torn" in e and "0-byte" in e for e in s["crash_leftovers"]
    )
    assert s["tombstones"] == 0  # the LOG is intact — count stays real
    # compact_index is the heal: folds the tear away, loudly
    with caplog.at_level(_logging.WARNING, logger="dbt_foundation_spark"):
        compact_index(spark, path)
    assert any(
        "zero-byte torn" in r.getMessage() and "part-99999-torn" in r.getMessage()
        for r in caplog.records
    )
    assert hits() == baseline
    assert index_stats(spark, path)["crash_leftovers"] == []

    # --- all files of one sub-dataset torn: stats still reports ---
    import glob as _glob
    import os as _os

    saved = {}
    for fp in _glob.glob(f"{path}/shingles/*.parquet"):
        saved[fp] = open(fp, "rb").read()
        _os.truncate(fp, 0)
    s = index_stats(spark, path)  # must not die at schema inference
    assert "shingles" in s["missing_datasets"]
    assert any("shingles/" in e and "0-byte" in e for e in s["crash_leftovers"])
    with pytest.raises(RuntimeError, match="zero-byte torn"):
        hits()
    for fp, data in saved.items():
        open(fp, "wb").write(data)
    assert hits() == baseline

    # --- zero-byte tear in the MANIFEST: refuses loudly, never the
    # trust-the-caller migration (silently disabling validation)
    mparts = _glob.glob(f"{path}/manifest/*.json") or _glob.glob(
        f"{path}/manifest/part-*"
    )
    assert mparts, "manifest part file expected"
    msaved = open(mparts[0], "rb").read()
    _os.truncate(mparts[0], 0)
    with pytest.raises(ValueError, match="manifest"):
        dedup_against_index(
            spark, batch, "doc_id", "text", path, num_hashes=16, bands=4
        )
    open(mparts[0], "wb").write(msaved)
    assert hits() == baseline

    # --- zero-byte tear in the tombstone log: manual heal only ---
    retract_from_index(spark, path, [3])
    assert hits() == []  # doc 3 retracted; its pair is gone
    log_torn = f"{path}/tombstones/part-99998-torn.c000.snappy.parquet"
    open(log_torn, "wb").close()
    with pytest.raises(RuntimeError, match="tombstone log"):
        hits()  # silently resurfacing retractions is the worst fate
    # compact_index refuses on the torn log too — and withdraws its own
    # fresh __compacting marker (r12 review: an orphaned marker would
    # block every later append with a misleading "compaction in flight")
    from dbt_foundation_spark.operators.tombstones import _hadoop
    from dbt_foundation_spark.operators.tombstones import (
        compaction_marker_path as _cmp,
    )

    with pytest.raises(RuntimeError, match="tombstone log"):
        compact_index(spark, path)
    _p, _fs = _hadoop(spark, _cmp(path))
    assert not _fs.exists(_p)
    s = index_stats(spark, path)
    assert s["tombstones"] is None  # count unknowable, never a silent 0
    assert any(
        "tombstones/part-99998-torn" in e for e in s["crash_leftovers"]
    )
    # heal: delete the torn file, re-issue the retraction (idempotent)
    import os

    os.remove(log_torn)
    retract_from_index(spark, path, [3])
    assert hits() == []
    clear_tombstones(spark, path)
    assert hits() == baseline

    # --- non-empty tear: Spark's own loud magic-number error, naming
    # the file (metadata can't see it; the fate is pinned, not wrapped)
    bad = f"{path}/bands/part-99997-trunc.c000.snappy.parquet"
    with open(bad, "wb") as f:
        f.write(b"PAR1 these bytes are not a parquet footer")
    with pytest.raises(Exception, match="[Pp]arquet"):
        hits()
    os.remove(bad)
    assert hits() == baseline


def test_retract_ignores_null_ids(spark, tmp_path):
    """NULL ids can never match a row (NULL equality) — they are
    dropped from the batch, not logged: the count reflects retractable
    ids only, and an all-NULL batch is a no-op."""
    from dbt_foundation_spark.operators.dedup_index import build_simhash_index

    corpus = spark.createDataFrame(
        [(1, "some corpus document text for the null id retraction test")],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "sh")
    build_simhash_index(corpus, "doc_id", "text", path)

    assert retract_from_index(spark, path, [None, None]) == 0
    assert read_tombstones(spark, path) is None

    ids = spark.createDataFrame(
        [(None,), (1,), (None,)], "doc_id: bigint"
    ).select("doc_id")
    assert retract_from_index(spark, path, ids) == 1
    assert [r["id"] for r in read_tombstones(spark, path).collect()] == [1]


def _tomb_set(spark, path):
    t = read_tombstones(spark, path)
    return set() if t is None else {r["id"] for r in t.collect()}


def _exists(spark, p):
    from dbt_foundation_spark.operators.tombstones import _hadoop

    hp, fs = _hadoop(spark, p)
    return fs.exists(hp)


def test_revive_file_fold_concurrency_and_crash(spark, tmp_path, monkeypatch):
    """The subset clear is a FILE-LEVEL fold: it deletes only the files
    it listed and read, so a retraction appended between the listing
    and the deletes survives untouched; a crash that leaves both the
    survivor file and the not-yet-deleted originals behind is mere
    duplication + not-yet-applied revive, healed by re-running."""
    import dbt_foundation_spark.operators.tombstones as tomb_mod
    from dbt_foundation_spark.operators.dedup_index import build_simhash_index
    from dbt_foundation_spark.operators.tombstones import _tomb_path

    corpus = spark.createDataFrame(
        [(i, f"distinct corpus document number {i} with its own words") for i in range(1, 5)],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "sh")
    build_simhash_index(corpus, "doc_id", "text", path)
    tp = _tomb_path(path)

    assert retract_from_index(spark, path, [1, 2, 3, 4]) == 4
    # reviving an id that is not tombstoned: no rewrite, log untouched
    assert clear_tombstones(spark, path, [9]) == 0
    assert _tomb_set(spark, path) == {1, 2, 3, 4}
    # normal partial revive: no tmp residue, survivors intact
    assert clear_tombstones(spark, path, [1]) == 1
    assert _tomb_set(spark, path) == {2, 3, 4}
    assert not _exists(spark, tp + "__revive_tmp")

    # concurrency: a retraction landing AFTER the fold's file listing
    # is a file the fold never touches — it must survive the clear
    real_log_files = tomb_mod._log_files

    def list_then_concurrent_retract(spark_arg, index_path):
        files = real_log_files(spark_arg, index_path)
        monkeypatch.setattr(tomb_mod, "_log_files", real_log_files)
        retract_from_index(spark, path, [99])  # lands mid-clear
        return files

    monkeypatch.setattr(tomb_mod, "_log_files", list_then_concurrent_retract)
    assert clear_tombstones(spark, path, [2]) == 1
    assert _tomb_set(spark, path) == {3, 4, 99}

    # crash state: survivor file installed, originals not yet deleted
    # (duplicated survivors + the revived id still present). Re-running
    # the revive completes it and folds the duplicates.
    spark.createDataFrame([(3,), (4,)], "id: bigint").coalesce(1).write.mode(
        "append"
    ).parquet(tp)
    assert _tomb_set(spark, path) == {3, 4, 99}  # reads are DISTINCT
    assert clear_tombstones(spark, path, [99]) == 1
    assert _tomb_set(spark, path) == {3, 4}


def test_compact_keeps_concurrent_retraction(spark, tmp_path, monkeypatch):
    """A retract_from_index batch that lands WHILE compact_index runs
    (after the fold snapshot was taken) must survive the fold: the
    clear removes only the snapshot's ids, and the late retraction
    keeps subtracting until the next compaction folds it."""
    import dbt_foundation_spark.operators.maintenance as maint
    from dbt_foundation_spark.operators.dedup_index import (
        build_simhash_index,
        dedup_against_simhash_index,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "one two three four five six seven eight nine ten eleven"),
        (3, "red orange yellow green blue indigo violet crimson amber teal"),
    ]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(100 + i, t) for i, t in rows], ["doc_id", "text"]
    )
    path = str(tmp_path / "sh")
    build_simhash_index(corpus, "doc_id", "text", path)
    retract_from_index(spark, path, [1])

    real = maint.compact_parquet_path
    fired = {"done": False}

    def inject_then_compact(spark_arg, sub_path, *a, **kw):
        out = real(spark_arg, sub_path, *a, **kw)
        if not fired["done"]:
            fired["done"] = True
            # lands inside the compaction window, after the snapshot
            retract_from_index(spark, path, [2])
        return out

    monkeypatch.setattr(maint, "compact_parquet_path", inject_then_compact)
    maint.compact_index(spark, path)

    # id 1 folded physically and left the log; id 2 still logged
    assert _tomb_set(spark, path) == {2}
    stored = {r["id"] for r in spark.read.parquet(f"{path}/chunks").collect()}
    assert 1 not in stored and 2 in stored
    got = {
        r[1]
        for r in dedup_against_simhash_index(
            spark, batch, "doc_id", "text", path
        ).collect()
    }
    assert got == {3}  # 1 gone physically, 2 hidden logically

    # the next compaction folds the late retraction and empties the log
    monkeypatch.setattr(maint, "compact_parquet_path", real)
    maint.compact_index(spark, path)
    assert read_tombstones(spark, path) is None
    stored = {r["id"] for r in spark.read.parquet(f"{path}/chunks").collect()}
    assert stored == {3}


def test_retract_lossy_cast_raises(spark, tmp_path):
    """Same-category id casts that DON'T fit (bigint batch onto an
    int-keyed index, value > 2^31) must raise, not report a takedown
    that logged a NULL id matching nothing. Values that fit still
    cast and retract."""
    from dbt_foundation_spark.operators.dedup_index import build_simhash_index

    corpus = spark.createDataFrame(
        [(1, "an int keyed corpus document for the lossy cast guard test")],
        "doc_id: int, text: string",
    )
    path = str(tmp_path / "sh")
    build_simhash_index(corpus, "doc_id", "text", path)

    with pytest.raises(ValueError, match="do not fit"):
        retract_from_index(spark, path, [2**40])  # python int -> bigint
    assert read_tombstones(spark, path) is None

    assert retract_from_index(spark, path, [1]) == 1  # bigint 1 fits int
    t = read_tombstones(spark, path)
    assert t.schema["id"].dataType.simpleString() == "int"
    assert _tomb_set(spark, path) == {1}


def test_interleaving_random_sequence_matches_model(spark, tmp_path):
    """Randomized lifecycle sequences (append / retract / revive /
    compact in seeded-random order) against a brute-force set model,
    for one flat flavor (simhash, cluster_by layout) and the
    hive-partitioned one (IVF). Model: live = appended − folded −
    tombstoned; retract moves live ids into the log, revive moves them
    back, compact folds the CURRENT log physically (ids become
    unrevivable) and empties it. Every operation is followed by a full
    read-path check — the single-operation contracts pinned above
    cannot catch ordering bugs like a compact that forgets a prior
    revive or a revive after a fold that resurrects nothing."""
    import random

    from dbt_foundation_spark.operators.dedup_index import (
        append_to_simhash_index,
        build_simhash_index,
        dedup_against_simhash_index,
    )
    from dbt_foundation_spark.operators.maintenance import compact_index
    from dbt_foundation_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        search_ivf_index,
    )

    # --- simhash ---------------------------------------------------
    rng = random.Random(7)
    path = str(tmp_path / "sh")

    def text(i):
        return f"doc {i} " + " ".join(f"tok{i}x{j}" for j in range(10))

    def doc_df(ids):
        return spark.createDataFrame([(i, text(i)) for i in ids], ["doc_id", "text"])

    appended, tombstoned, folded = set(range(4)), set(), set()
    build_simhash_index(doc_df(appended), "doc_id", "text", path)
    next_id = 4

    def check_simhash():
        live = appended - tombstoned - folded
        batch = spark.createDataFrame(
            [(1000 + i, text(i)) for i in sorted(appended)], ["doc_id", "text"]
        )
        got = {
            (r[0], r[1])
            for r in dedup_against_simhash_index(
                spark, batch, "doc_id", "text", path
            ).collect()
        }
        assert got == {(1000 + i, i) for i in live}, (live, got)

    for _ in range(10):
        op = rng.choice(["append", "retract", "revive", "compact"])
        if op == "append":
            new = list(range(next_id, next_id + rng.randint(1, 3)))
            next_id = new[-1] + 1
            append_to_simhash_index(doc_df(new), "doc_id", "text", path)
            appended |= set(new)
        elif op == "retract":
            live = sorted(appended - tombstoned - folded)
            pick = set(rng.sample(live, k=rng.randint(0, len(live))))
            assert retract_from_index(spark, path, sorted(pick)) == len(pick)
            tombstoned |= pick
        elif op == "revive":
            pick = set(rng.sample(sorted(tombstoned), k=rng.randint(0, len(tombstoned)))) if tombstoned else set()
            # also try reviving an already-folded id: must be a no-op
            dead_pick = sorted(pick | set(list(folded)[:1]))
            assert clear_tombstones(spark, path, dead_pick) == len(pick)
            tombstoned -= pick
        else:
            compact_index(spark, path)
            folded |= tombstoned
            tombstoned = set()
            assert read_tombstones(spark, path) is None
        check_simhash()

    # --- IVF (hive-partitioned lists) --------------------------------
    rng = random.Random(11)
    ipath = str(tmp_path / "ivf")
    dim = 6

    def vec(i):
        r = random.Random(1000 + i)
        return [r.uniform(-1, 1) for _ in range(dim)]

    def vec_df(ids):
        return spark.createDataFrame(
            [(i, vec(i)) for i in ids], "vec_id: bigint, embedding: array<double>"
        )

    appended, tombstoned, folded = set(range(8)), set(), set()
    build_ivf_index(vec_df(appended), "vec_id", "embedding", ipath, n_lists=2)
    next_id = 8

    def check_ivf():
        live = appended - tombstoned - folded
        got = {
            r["vec_id"]
            for r in search_ivf_index(
                spark, ipath, "vec_id", "embedding", vec(0), k=500, n_probe=2
            ).collect()
        }
        assert got == live, (live, got)

    for _ in range(8):
        op = rng.choice(["append", "retract", "revive", "compact"])
        if op == "append":
            new = list(range(next_id, next_id + rng.randint(1, 3)))
            next_id = new[-1] + 1
            append_to_ivf_index(vec_df(new), "vec_id", "embedding", ipath)
            appended |= set(new)
        elif op == "retract":
            live = sorted(appended - tombstoned - folded)
            pick = set(rng.sample(live, k=rng.randint(0, len(live))))
            assert retract_from_index(spark, ipath, sorted(pick)) == len(pick)
            tombstoned |= pick
        elif op == "revive":
            pick = set(rng.sample(sorted(tombstoned), k=rng.randint(0, len(tombstoned)))) if tombstoned else set()
            assert clear_tombstones(spark, ipath, sorted(pick)) == len(pick)
            tombstoned -= pick
        else:
            compact_index(spark, ipath)
            folded |= tombstoned
            tombstoned = set()
            assert read_tombstones(spark, ipath) is None
        check_ivf()


def test_revive_blocked_while_compacting(spark, tmp_path, monkeypatch):
    """The revive/compaction maintenance window is ENFORCED (r6 verdict
    #3): a revive issued while compact_index holds the __compacting
    marker raises instead of silently losing the id; a crashed
    compaction leaves the marker (revives stay blocked — some
    sub-datasets may be rewritten against the pre-revive snapshot), and
    re-running compact_index clears it. Retraction is never blocked."""
    import dbt_foundation_spark.operators.maintenance as maint
    from dbt_foundation_spark.operators.dedup_index import build_simhash_index
    from dbt_foundation_spark.operators.tombstones import compaction_marker_path

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "one two three four five six seven eight nine ten eleven"),
            (3, "red orange yellow green blue indigo violet crimson amber teal"),
        ],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "sh")
    build_simhash_index(corpus, "doc_id", "text", path)
    retract_from_index(spark, path, [1, 2])

    # mid-compaction: inject a revive attempt while the marker is held
    real = maint.compact_parquet_path
    seen = {"raised": False}

    def revive_mid_compaction(spark_arg, sub_path, *a, **kw):
        if not seen["raised"]:
            seen["raised"] = True
            with pytest.raises(RuntimeError, match="__compacting"):
                clear_tombstones(spark, path, [1])
            # retraction stays online during the same window
            assert retract_from_index(spark, path, [777]) == 1
        return real(spark_arg, sub_path, *a, **kw)

    monkeypatch.setattr(maint, "compact_parquet_path", revive_mid_compaction)
    maint.compact_index(spark, path)
    assert seen["raised"]
    # completed compaction clears the marker; the late retraction
    # survived the fold and a revive of it now succeeds
    assert not _exists(spark, compaction_marker_path(path))
    assert _tomb_set(spark, path) == {777}
    assert clear_tombstones(spark, path, [777]) == 1

    # crashed compaction: marker stays, revives blocked, rerun heals
    retract_from_index(spark, path, [3])

    def crash_compaction(*a, **kw):
        raise RuntimeError("injected compaction crash")

    monkeypatch.setattr(maint, "compact_parquet_path", crash_compaction)
    with pytest.raises(RuntimeError, match="injected compaction crash"):
        maint.compact_index(spark, path)
    assert _exists(spark, compaction_marker_path(path))
    with pytest.raises(RuntimeError, match="__compacting"):
        clear_tombstones(spark, path, [3])
    # index_stats surfaces the stale marker as a re-run signal
    assert "__compacting" in maint.index_stats(spark, path)["crash_leftovers"]
    monkeypatch.setattr(maint, "compact_parquet_path", real)
    maint.compact_index(spark, path)
    assert not _exists(spark, compaction_marker_path(path))
    assert read_tombstones(spark, path) is None


def test_full_clear_is_file_level(spark, tmp_path, monkeypatch):
    """clear_tombstones(ids=None) — the completed-rebuild clear — must
    delete only the files it listed: a retract_from_index batch landing
    between the listing and the deletes survives (the directory delete
    this replaced would silently destroy it)."""
    import dbt_foundation_spark.operators.tombstones as tomb_mod
    from dbt_foundation_spark.operators.dedup_index import build_simhash_index

    corpus = spark.createDataFrame(
        [(i, f"fully distinct corpus doc number {i} for the clear test") for i in range(1, 4)],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "sh")
    build_simhash_index(corpus, "doc_id", "text", path)
    retract_from_index(spark, path, [1, 2])

    real_log_files = tomb_mod._log_files

    def list_then_concurrent_retract(spark_arg, index_path):
        files = real_log_files(spark_arg, index_path)
        monkeypatch.setattr(tomb_mod, "_log_files", real_log_files)
        retract_from_index(spark, path, [99])  # lands mid-clear
        return files

    monkeypatch.setattr(tomb_mod, "_log_files", list_then_concurrent_retract)
    assert clear_tombstones(spark, path) == 2
    assert _tomb_set(spark, path) == {99}
    # a second clear with no interleaving empties the log fully
    assert clear_tombstones(spark, path) == 1
    assert read_tombstones(spark, path) is None


def test_compaction_blocked_while_reviving(spark, tmp_path):
    """The exclusion is symmetric: compact_index raises while a revive
    holds (or a crashed revive left) the __reviving marker, and
    withdraws its own __compacting marker when it does — so the failed
    attempt doesn't block the revive's re-run."""
    from dbt_foundation_spark.operators.dedup_index import build_simhash_index
    from dbt_foundation_spark.operators.maintenance import compact_index
    from dbt_foundation_spark.operators.tombstones import (
        _hadoop,
        compaction_marker_path,
        revive_marker_path,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "sh")
    build_simhash_index(corpus, "doc_id", "text", path)
    retract_from_index(spark, path, [1])

    rp, fs = _hadoop(spark, revive_marker_path(path))
    fs.mkdirs(rp)  # a revive in flight (or crashed mid-fold)
    with pytest.raises(RuntimeError, match="__reviving"):
        compact_index(spark, path)
    # the failed compaction withdrew its own marker...
    assert not _exists(spark, compaction_marker_path(path))
    # ...so the revive re-run proceeds (and clears its marker)
    assert clear_tombstones(spark, path, [1]) == 1
    assert not _exists(spark, revive_marker_path(path))
    compact_index(spark, path)  # and compaction now succeeds
    assert read_tombstones(spark, path) is None


def test_stale_markers_survive_conflicts_and_rebuild_resets(spark, tmp_path):
    """Stale markers are deliberate guards and conflicts must not
    withdraw them: a heal re-run that loses the handshake leaves the
    crashed run's marker in place (mkdirs is idempotent, so "we made
    it" can't be inferred); a completed REBUILD resets both markers —
    its datasets replaced whatever the stale guard covered — and a
    typo'd revive fails BEFORE taking the marker."""
    import dbt_foundation_spark.operators.maintenance as maint
    from dbt_foundation_spark.operators.dedup_index import build_simhash_index
    from dbt_foundation_spark.operators.index_core import _read_manifest
    from dbt_foundation_spark.operators.tombstones import (
        _hadoop,
        compaction_marker_path,
        revive_marker_path,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "sh")
    build_simhash_index(corpus, "doc_id", "text", path)
    retract_from_index(spark, path, [1])

    cp, fs = _hadoop(spark, compaction_marker_path(path))
    rp, _ = _hadoop(spark, revive_marker_path(path))

    # crashed compaction's stale __compacting + a revive attempt: the
    # revive loses the handshake and must NOT remove the stale guard
    fs.mkdirs(cp)
    with pytest.raises(RuntimeError, match="__compacting"):
        clear_tombstones(spark, path, [1])
    assert _exists(spark, compaction_marker_path(path))
    assert not _exists(spark, revive_marker_path(path))

    # crashed revive's stale __reviving + a compaction attempt: the
    # compaction loses and must NOT remove the stale guard either
    fs.delete(cp, True)
    fs.mkdirs(rp)
    with pytest.raises(RuntimeError, match="__reviving"):
        maint.compact_index(spark, path)
    assert _exists(spark, revive_marker_path(path))
    assert not _exists(spark, compaction_marker_path(path))

    # the heal re-run of the revive proceeds over its own stale marker
    # and clears it on completion
    assert clear_tombstones(spark, path, [1]) == 1
    assert not _exists(spark, revive_marker_path(path))

    # a typo'd revive (multi-column ids) fails WITHOUT leaving a marker
    bad = spark.createDataFrame([(1, 2)], ["a", "b"])
    with pytest.raises(ValueError, match="single-column"):
        clear_tombstones(spark, path, bad)
    assert not _exists(spark, revive_marker_path(path))

    # a completed rebuild resets BOTH stale markers and the log
    fs.mkdirs(cp)
    fs.mkdirs(rp)
    retract_from_index(spark, path, [1])
    build_simhash_index(corpus, "doc_id", "text", path)
    assert read_tombstones(spark, path) is None
    assert not _exists(spark, compaction_marker_path(path))
    assert not _exists(spark, revive_marker_path(path))
    assert _read_manifest(spark, path) is not None


def test_read_manifest_empty_dir_raises(spark, tmp_path):
    """An EXISTING manifest dir with no data file is _write_manifest's
    crash window, not a pre-manifest index — reads must raise loudly
    instead of silently skipping parameter validation."""
    from dbt_foundation_spark.operators.dedup_index import build_simhash_index
    from dbt_foundation_spark.operators.index_core import _read_manifest
    from dbt_foundation_spark.operators.tombstones import _hadoop

    path = str(tmp_path / "sh")
    build_simhash_index(
        spark.createDataFrame(
            [(1, "some corpus document words for the manifest crash test")],
            ["doc_id", "text"],
        ),
        "doc_id",
        "text",
        path,
    )
    # absent dir: pre-manifest, trust the caller
    assert _read_manifest(spark, str(tmp_path / "nowhere")) is None
    # simulate the overwrite crash: manifest dir exists, data file gone
    mp, fs = _hadoop(spark, f"{path}/manifest")
    fs.delete(mp, True)
    fs.mkdirs(mp)
    with pytest.raises(ValueError, match="no data file"):
        _read_manifest(spark, path)


def test_manifest_corruption_fails_loud_and_named(spark, tmp_path):
    """Control-plane corruption contract (r13 probe, r12 verdict #4):
    the manifest decides how queries SIGN, so no corruption of its
    bytes may silently change or disable validation. Probed live
    against all 5 flavors before the fix; pinned here on one (the
    read path is shared):

    - garbage / truncated JSON raised Spark's generic
      QUERY_ONLY_CORRUPT_RECORD_COLUMN (naming neither the file nor
      the heal) — now a ValueError naming the part file and the
      rebuild/restore heal;
    - a MULTI-ROW manifest (torn or duplicated write) was SILENTLY
      accepted — ``.first()`` picked one row nondeterministically, so
      a second conflicting row could flip signing params per read (the
      footer-sampling bug's control-plane twin) — now refused naming
      the row count;
    - a v1 legacy manifest (pre-cap keys absent) stays on the
      DOCUMENTED trust-the-caller path: absent keys validate nothing,
      present keys still validate."""
    import glob as _glob
    import json as _json
    import os as _os

    from dbt_foundation_spark.operators.dedup_index import (
        build_simhash_index,
        dedup_against_simhash_index,
    )
    from dbt_foundation_spark.operators.index_core import _read_manifest

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "sh")
    build_simhash_index(corpus, "doc_id", "text", path)
    parts = sorted(
        set(
            _glob.glob(f"{path}/manifest/part-*")
            + _glob.glob(f"{path}/manifest/*.json")
        )
    )
    assert parts, "manifest part file expected"
    orig = open(parts[0]).read()

    def rewrite(content: str) -> None:
        # drop local-FS CRC sidecars: a real object store serves the
        # corrupted bytes, it does not checksum-reject them
        for crc in _glob.glob(f"{path}/manifest/.*.crc"):
            _os.remove(crc)
        open(parts[0], "w").write(content)

    def q():
        return dedup_against_simhash_index(
            spark, corpus, "doc_id", "text", path
        ).count()

    rewrite("NOT JSON {{{")
    with pytest.raises(ValueError, match="not valid JSON"):
        q()
    rewrite(orig[: len(orig) // 2])
    with pytest.raises(ValueError, match="not valid JSON"):
        q()
    rewrite(orig.rstrip("\n") + "\n" + _json.dumps({"flavor": "evil"}) + "\n")
    with pytest.raises(ValueError, match="2 rows, expected exactly 1"):
        q()
    # a JSON scalar is not a manifest row either
    rewrite('"just a string"')
    with pytest.raises(ValueError, match="flavor"):
        q()
    # v1 legacy (pre-cap): absent keys -> trust the caller, documented
    legacy = {
        k: v
        for k, v in _json.loads(orig).items()
        if k not in ("max_tokens", "manifest_version")
    }
    rewrite(_json.dumps(legacy))
    assert q() == 1  # the doc matches itself; validation still runs
    m = _read_manifest(spark, path)
    assert m["flavor"] == "simhash" and "max_tokens" not in m
    # present keys still validate on the legacy manifest
    with pytest.raises(ValueError, match="mismatched parameters"):
        dedup_against_simhash_index(
            spark, corpus, "doc_id", "text", path, portable=True
        )
    # restore: byte-identical round trip
    rewrite(orig)
    assert q() == 1
    # the documented heal says "restore the file" — a manifest restored
    # under ANY sane name must read back (r13 review: a part-*-only
    # scan misdiagnosed the healed file as a torn write)
    restored = _os.path.join(_os.path.dirname(parts[0]), "manifest.json")
    _os.rename(parts[0], restored)
    for crc in _glob.glob(f"{path}/manifest/.*.crc"):
        _os.remove(crc)
    assert q() == 1
    m2 = _read_manifest(spark, path)
    assert m2["flavor"] == "simhash"


def test_hidden_scratch_is_never_data_and_never_deleted(spark, tmp_path):
    """Files under hidden directories — the ``_temporary/...`` scratch
    a crashed or in-flight FileOutputCommitter write leaves — are NOT
    data (r8 fix, r7 advice medium): counting them made consumers read
    a directory Spark's file index sees as empty and raise
    UNABLE_TO_INFER_SCHEMA, and the file-level folds must never read or
    delete them — deleting an in-flight append's task scratch fails its
    commit. The hidden check applies at EVERY path depth, not just the
    leaf name."""
    from dbt_foundation_spark.operators.dedup_index import build_simhash_index
    from dbt_foundation_spark.operators.maintenance import _has_data_files
    from dbt_foundation_spark.operators.tombstones import (
        _has_data_file,
        _log_files,
        _tomb_path,
    )

    # a dir holding ONLY scratch (visible leaf, hidden ancestor) probes
    # as empty on both delegating probes
    scratch_only = tmp_path / "scratchy"
    sub = scratch_only / "_temporary" / "0" / "attempt_000"
    sub.mkdir(parents=True)
    (sub / "part-00000-inflight.parquet").write_bytes(b"scratch")
    assert not _has_data_file(spark, str(scratch_only))
    assert not _has_data_files(spark, str(scratch_only))
    # ...while a committed sibling makes the same dir non-empty
    (scratch_only / "part-00001-committed.parquet").write_bytes(b"data")
    assert _has_data_file(spark, str(scratch_only))

    # a real tombstone log with planted in-flight scratch: the fold
    # lists only the committed files, the read path is unaffected, and
    # the full clear leaves the scratch untouched
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "sh")
    build_simhash_index(corpus, "doc_id", "text", path)
    retract_from_index(spark, path, [1])
    committed = _log_files(spark, path)
    assert committed
    tdir = tmp_path / "sh" / "tombstones" / "_temporary" / "0"
    tdir.mkdir(parents=True)
    scratch = tdir / "part-00000-inflight.parquet"
    scratch.write_bytes(b"in-flight retraction task scratch")
    assert _log_files(spark, path) == committed
    assert _tomb_set(spark, path) == {1}
    assert clear_tombstones(spark, path) == 1
    assert scratch.exists()
    # the log now holds ONLY scratch: it probes as absent and the read
    # path returns None instead of raising on an unreadable directory
    assert read_tombstones(spark, path) is None
    assert not _has_data_file(spark, _tomb_path(path))


def test_double_stale_markers_error_names_escape(spark, tmp_path):
    """When BOTH markers are crash leftovers, each op's re-run
    direction points at the other — circular (r7 advice). Both error
    messages must name the escape (rebuild resets both markers;
    manual stale-marker removal with revive-first order), and the
    rebuild escape must actually work."""
    import dbt_foundation_spark.operators.maintenance as maint
    from dbt_foundation_spark.operators.dedup_index import build_simhash_index
    from dbt_foundation_spark.operators.tombstones import (
        _hadoop,
        compaction_marker_path,
        revive_marker_path,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "sh")
    build_simhash_index(corpus, "doc_id", "text", path)
    retract_from_index(spark, path, [1])

    cp, fs = _hadoop(spark, compaction_marker_path(path))
    rp, _ = _hadoop(spark, revive_marker_path(path))
    fs.mkdirs(cp)
    fs.mkdirs(rp)

    # both directions raise, and both name the rebuild escape
    with pytest.raises(RuntimeError, match="rebuild"):
        clear_tombstones(spark, path, [1])
    with pytest.raises(RuntimeError, match="rebuild"):
        maint.compact_index(spark, path)
    # the conflicts withdrew neither stale guard
    assert _exists(spark, compaction_marker_path(path))
    assert _exists(spark, revive_marker_path(path))
    # index_stats surfaces the circular state as two crash leftovers
    leftovers = maint.index_stats(spark, path)["crash_leftovers"]
    assert "__compacting" in leftovers and "__reviving" in leftovers

    # documented escape #1: the rebuild resets both markers + the log
    build_simhash_index(corpus, "doc_id", "text", path)
    assert not _exists(spark, compaction_marker_path(path))
    assert not _exists(spark, revive_marker_path(path))
    assert read_tombstones(spark, path) is None

    # documented escape #2: manual removal of ONE stale marker,
    # revive FIRST (its half-folded log must complete before any
    # compaction folds it), then compact
    retract_from_index(spark, path, [1])
    fs.mkdirs(cp)
    fs.mkdirs(rp)
    fs.delete(cp, True)  # the operator's manual adjudication
    assert clear_tombstones(spark, path, [1]) == 1
    assert not _exists(spark, revive_marker_path(path))
    maint.compact_index(spark, path)
    assert not _exists(spark, compaction_marker_path(path))


def _ivf_corpus(spark):
    return spark.createDataFrame(
        [(i, [float(i % 4), float(i // 4), 1.0, 0.0]) for i in range(1, 13)],
        "doc_id bigint, embedding array<float>",
    )


def _build_flavor(spark, flavor, path):
    from dbt_foundation_spark.operators.dedup_index import build_simhash_index
    from dbt_foundation_spark.operators.similarity import build_ivf_index

    if flavor == "simhash":
        build_simhash_index(
            spark.createDataFrame(
                [
                    (i, f"fully distinct corpus doc number {i} marker matrix")
                    for i in range(1, 5)
                ],
                ["doc_id", "text"],
            ),
            "doc_id",
            "text",
            path,
        )
    else:
        build_ivf_index(_ivf_corpus(spark), "doc_id", "embedding", path, n_lists=2)


@pytest.mark.parametrize("flavor", ["simhash", "ivf"])
@pytest.mark.parametrize(
    "step", ["own_marker_created", "rewrite_started", "impl_done"]
)
def test_compaction_crash_matrix(spark, tmp_path, monkeypatch, flavor, step):
    """The marker-protocol prose contract, executable (r7 verdict #6):
    kill compact_index at each protocol step — own marker just created
    (nothing rewritten), mid-rewrite, and impl done but snapshot clear
    not yet run — on a flat-clustered flavor (simhash) AND the
    hive-partitioned one (ivf). In every crash state ``index_stats``
    reports ``__compacting`` as a leftover, revives stay blocked, and
    the documented re-run completes the fold, clears both the marker
    and the log, and physically drops the retracted doc."""
    import dbt_foundation_spark.operators.maintenance as maint
    import dbt_foundation_spark.operators.tombstones as tomb_mod
    from dbt_foundation_spark.operators.tombstones import compaction_marker_path

    path = str(tmp_path / flavor)
    _build_flavor(spark, flavor, path)
    retract_from_index(spark, path, [1])

    if step == "own_marker_created":
        # first call after the handshake is the tombstone-log read
        def boom(*a, **kw):
            raise RuntimeError("injected crash")

        monkeypatch.setattr(tomb_mod, "read_tombstones", boom)
    elif step == "rewrite_started":
        real = maint.compact_parquet_path

        def crash_after_first(*a, **kw):
            real(*a, **kw)  # first sub-dataset rewritten, then die
            raise RuntimeError("injected crash")

        monkeypatch.setattr(maint, "compact_parquet_path", crash_after_first)
    else:  # impl_done: every sub-dataset rewritten, snapshot clear dies
        real_clear = tomb_mod.clear_tombstones

        def crash_clear(*a, **kw):
            if kw.get("_during_compaction"):
                raise RuntimeError("injected crash")
            return real_clear(*a, **kw)

        monkeypatch.setattr(tomb_mod, "clear_tombstones", crash_clear)

    with pytest.raises(RuntimeError, match="injected crash"):
        maint.compact_index(spark, path)
    monkeypatch.undo()

    if step == "own_marker_created":
        # an IN-PROCESS raise before anything was rewritten withdraws
        # the fresh marker (r12 review: a torn-log refusal otherwise
        # orphaned a __compacting that blocked every append with a
        # misleading "compaction in flight"); only a process KILL —
        # which no except block can intercept — leaves it behind.
        # Simulate that kill state directly and continue the matrix.
        assert not _exists(spark, compaction_marker_path(path))
        from dbt_foundation_spark.operators.tombstones import _hadoop

        p, fs = _hadoop(spark, compaction_marker_path(path))
        fs.mkdirs(p)

    # crash state: marker left in place, surfaced, revives blocked
    assert _exists(spark, compaction_marker_path(path))
    assert "__compacting" in maint.index_stats(spark, path)["crash_leftovers"]
    with pytest.raises(RuntimeError, match="__compacting"):
        clear_tombstones(spark, path, [1])
    # retraction stays online in every crash state
    assert retract_from_index(spark, path, [2]) == 1

    # the documented heal: re-run compact_index
    maint.compact_index(spark, path)
    assert not _exists(spark, compaction_marker_path(path))
    assert read_tombstones(spark, path) is None
    sub = "chunks" if flavor == "simhash" else "lists"
    live = {r["id"] for r in spark.read.parquet(f"{path}/{sub}").select(
        F.col("doc_id" if flavor == "ivf" else "id").alias("id")
    ).collect()}
    assert not live & {1, 2}
    assert "__compacting" not in maint.index_stats(spark, path)["crash_leftovers"]


@pytest.mark.parametrize("flavor", ["simhash", "ivf"])
def test_revive_crash_matrix(spark, tmp_path, monkeypatch, flavor):
    """The revive side of the crash matrix: kill clear_tombstones right
    after its own marker went down (fold not yet run). The __reviving
    marker stays, index_stats reports it, compactions stay blocked, and
    re-running the revive completes the fold and clears the marker —
    on the flat AND the hive-partitioned flavor."""
    import dbt_foundation_spark.operators.maintenance as maint
    import dbt_foundation_spark.operators.tombstones as tomb_mod
    from dbt_foundation_spark.operators.tombstones import revive_marker_path

    path = str(tmp_path / flavor)
    _build_flavor(spark, flavor, path)
    retract_from_index(spark, path, [1, 2])

    def boom(*a, **kw):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(tomb_mod, "_clear_impl", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        clear_tombstones(spark, path, [1])
    monkeypatch.undo()

    assert _exists(spark, revive_marker_path(path))
    assert "__reviving" in maint.index_stats(spark, path)["crash_leftovers"]
    with pytest.raises(RuntimeError, match="__reviving"):
        maint.compact_index(spark, path)

    # the documented heal: re-run the revive
    assert clear_tombstones(spark, path, [1]) == 1
    assert not _exists(spark, revive_marker_path(path))
    assert _tomb_set(spark, path) == {2}
    maint.compact_index(spark, path)  # and compaction proceeds again
    assert read_tombstones(spark, path) is None


def test_iter_visible_files_fails_loud_on_unrelativizable_paths():
    """A file listing whose paths cannot be relativized under the probe
    path (a path-REWRITING mount: viewfs:// probe resolving to
    hdfs://nn/target/... leaves) must RAISE, not guess: a leaf-only
    fallback silently reintroduces scratch-as-data, and skipping
    silently hides real data (ignored tombstones = retracted docs
    reappearing). Stub FS objects — no Spark session needed."""
    from dbt_foundation_spark.operators.tombstones import _iter_visible_files

    class P:
        def __init__(self, path):
            self._path = path

        def toUri(self):
            return self

        def getPath(self):
            return self._path

        def getName(self):
            return self._path.rsplit("/", 1)[-1]

    class LF:
        def __init__(self, p):
            self.p = p

        def getPath(self):
            return self.p

    class FakeIt:
        def __init__(self, items):
            self.items = list(items)

        def hasNext(self):
            return bool(self.items)

        def next(self):
            return LF(self.items.pop(0))

    class FS:
        def __init__(self, listing):
            self.listing = listing

        def makeQualified(self, p):
            return p

        def listFiles(self, p, rec):
            return FakeIt(self.listing)

    probe = P("/mnt/view/index/tombstones")
    # same-prefix listing: hidden-at-depth skipped, committed yielded,
    # hive partition dirs (leading '_' but containing '=') are DATA
    # (Spark's own listing rule — the r8 full-suite catch), and a probe
    # path that IS the file is visible by definition
    ok = FS([
        P("/mnt/view/index/tombstones/part-1.parquet"),
        P("/mnt/view/index/tombstones/_temporary/0/part-2.parquet"),
        P("/mnt/view/index/tombstones/_ivf_list=7/part-3.parquet"),
        P("/mnt/view/index/tombstones/_SUCCESS"),
        P("/mnt/view/index/tombstones/.part-4.crc"),
        P("/mnt/view/index/tombstones/part-5.parquet._COPYING_"),
        P("/mnt/view/index/tombstones/_metadata"),
        P("/mnt/view/index/tombstones/_common_metadata"),
        P("/mnt/view/index/tombstones"),
    ])
    got = [f.getPath() for f in _iter_visible_files(ok, probe)]
    # Spark's shouldFilterOutPathName clause-for-clause: partition dirs
    # and the parquet summary names are listed; _temporary, _SUCCESS,
    # dotfiles and in-flight ._COPYING_ transfers are not
    assert got == [
        "/mnt/view/index/tombstones/part-1.parquet",
        "/mnt/view/index/tombstones/_ivf_list=7/part-3.parquet",
        "/mnt/view/index/tombstones/_metadata",
        "/mnt/view/index/tombstones/_common_metadata",
        "/mnt/view/index/tombstones",
    ]

    # rewritten-prefix listing: refuse to classify
    rewritten = FS([P("/data/target7/index/tombstones/part-1.parquet")])
    with pytest.raises(ValueError, match="relativize"):
        list(_iter_visible_files(rewritten, probe))


def test_revive_fold_ignores_summary_metadata_files(spark, tmp_path):
    """ADVICE r8: with parquet summary metadata enabled the survivor
    rewrite's tmp dir contains _metadata/_common_metadata footer files
    alongside the part file.  The fold must move ONLY the part file
    into the log — a moved summary file would become a 0-row
    revive-*.parquet and, worse, a "first non-hidden file" pick could
    install a footer as the survivor set."""
    from dbt_foundation_spark.operators.dedup_index import build_simhash_index
    from dbt_foundation_spark.operators.tombstones import _hadoop, _tomb_path

    corpus = spark.createDataFrame(
        [(i, f"revive summary metadata corpus doc {i} words") for i in range(1, 4)],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "sh")
    build_simhash_index(corpus, "doc_id", "text", path)
    assert retract_from_index(spark, path, [1, 2, 3]) == 3

    hc = spark.sparkContext._jsc.hadoopConfiguration()
    hc.set("parquet.summary.metadata.level", "ALL")
    try:
        # guard against future vacuity: prove the conf still makes this
        # Spark emit summary footers before exercising the fold
        import os

        probe = str(tmp_path / "footer_probe")
        spark.range(2).coalesce(1).write.parquet(probe)
        assert "_metadata" in os.listdir(probe), (
            "parquet.summary.metadata.level no longer emits footers — "
            "this test would be vacuous; rework its setup"
        )
        # partial revive triggers the survivor rewrite through the tmp dir
        assert clear_tombstones(spark, path, [1]) == 1
    finally:
        hc.unset("parquet.summary.metadata.level")

    assert _tomb_set(spark, path) == {2, 3}
    tp = _tomb_path(path)
    hp, fs = _hadoop(spark, tp)
    names = [st.getPath().getName() for st in fs.listStatus(hp)]
    revives = [n for n in names if n.startswith("revive-")]
    assert len(revives) == 1  # exactly the part file, no footer clutter
    assert "_metadata" not in names and "_common_metadata" not in names


def test_iter_visible_files_matches_spark_listing(spark, tmp_path):
    """VERDICT r8 #6: pin `_hidden_component` against SPARK'S OWN
    listing, not hand-coded expectations.  For every pathological
    layout in the probe's domain (flat or hive-partitioned parquet
    datasets — the only shapes index maintenance probes), the files
    `_iter_visible_files` yields must be EXACTLY the files
    `spark.read.parquet` resolves (`inputFiles`).  A Spark-version
    bump that changes `HadoopFSUtils.shouldFilterOutPathName` now
    fails this test loudly instead of silently diverging."""
    import os
    import shutil

    from dbt_foundation_spark.operators.tombstones import _hadoop, _iter_visible_files

    src = str(tmp_path / "src")
    spark.range(3).coalesce(1).write.parquet(src)
    part = next(f for f in os.listdir(src) if f.startswith("part-"))

    def mk(name, layout):
        d = str(tmp_path / name / "ds")
        for rel in layout:
            p = os.path.join(d, rel)
            os.makedirs(os.path.dirname(p), exist_ok=True)
            shutil.copy(os.path.join(src, part), p)
        return d

    layouts = {
        # FileOutputCommitter scratch of an in-flight/crashed write
        "scratch": ["a.parquet", "_temporary/0/task1/b.parquet"],
        # '_'-prefixed partition dirs ARE data ('=' ⇒ not hidden)
        "hive": ["_ivf_list=0/a.parquet", "_ivf_list=1/b.parquet"],
        # distcp in-flight marker
        "copying": ["a.parquet", "b.parquet._COPYING_"],
        # parquet summary footers are EXEMPT from hiding (Spark lists them)
        "metadata": ["a.parquet", "_metadata", "_common_metadata"],
        "dotfile": ["a.parquet", ".hidden.parquet"],
        # hidden dir nested INSIDE a partition dir
        "hive_hidden_inner": ["k=1/a.parquet", "k=1/_inner/b.parquet", "k=2/b.parquet"],
        "success": ["a.parquet", "_SUCCESS"],
    }
    for name, layout in layouts.items():
        d = mk(name, layout)
        spark_files = {f.split("/ds/", 1)[1] for f in spark.read.parquet(d).inputFiles()}
        hp, fs = _hadoop(spark, d)
        probe_files = {
            f.toUri().getPath().split("/ds/", 1)[1] for f in _iter_visible_files(fs, hp)
        }
        assert probe_files == spark_files, (name, probe_files, spark_files)

    # all-hidden dataset: Spark's file index sees nothing (the read
    # fails schema inference) — the probe must also yield nothing
    import pytest as _pytest
    from pyspark.errors import AnalysisException

    d = mk("only_hidden", ["_temporary/0/a.parquet"])
    with _pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        spark.read.parquet(d).inputFiles()
    hp, fs = _hadoop(spark, d)
    assert list(_iter_visible_files(fs, hp)) == []


def test_multi_version_id_strongest_evidence_per_pair(spark, tmp_path):
    """Multi-version contract (module docstring): re-appending a live id
    with CHANGED content leaves several live signature rows; every
    *_against_index must still return ONE row per (new_id, corpus_id)
    with the strongest evidence across versions (max jaccard / min
    hamming / column-wise max containment / max cosine) — pre-fix the
    verify joins emitted duplicate pairs, and simhash's dropDuplicates
    kept an arbitrary version's distance."""
    from dbt_foundation_spark.operators.dedup_index import (
        append_to_containment_index,
        append_to_embedding_index,
        append_to_index,
        append_to_simhash_index,
        build_containment_index,
        build_embedding_index,
        build_minhash_index,
        build_simhash_index,
        containment_against_index,
        dedup_against_embedding_index,
        dedup_against_index,
        dedup_against_simhash_index,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    v2 = base + " extra trailing words changing the tail of the doc"
    far = "completely different content about ships and harbors and tides"

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    corpus_v1 = docs([(1, base), (2, far)])
    version2 = docs([(1, v2)])
    batch = docs([(10, base)])
    kw = dict(num_hashes=16, bands=4, shingle_len=2)

    mh = str(tmp_path / "mh")
    build_minhash_index(corpus_v1, "doc_id", "text", mh, **kw)
    append_to_index(version2, "doc_id", "text", mh, **kw)
    out = dedup_against_index(
        spark, batch, "doc_id", "text", mh, jaccard_threshold=0.1, **kw
    ).collect()
    assert len(out) == len({(r.new_id, r.corpus_id) for r in out})
    j = {(r.new_id, r.corpus_id): r.jaccard for r in out}
    assert j[(10, 1)] == pytest.approx(1.0)  # strongest version: v1 exact

    sh = str(tmp_path / "sh")
    build_simhash_index(corpus_v1, "doc_id", "text", sh, max_hamming=30)
    append_to_simhash_index(version2, "doc_id", "text", sh, max_hamming=30)
    out = dedup_against_simhash_index(
        spark, batch, "doc_id", "text", sh, max_hamming=30
    ).collect()
    assert len(out) == len({(r.new_id, r.corpus_id) for r in out})
    h = {(r.new_id, r.corpus_id): r.hamming for r in out}
    assert h[(10, 1)] == 0  # closest version wins deterministically

    ct = str(tmp_path / "ct")
    build_containment_index(corpus_v1, "doc_id", "text", ct, shingle_len=2, threshold=0.5)
    append_to_containment_index(version2, "doc_id", "text", ct, shingle_len=2, threshold=0.5)
    out = containment_against_index(
        spark, batch, "doc_id", "text", ct, shingle_len=2, threshold=0.5
    ).collect()
    assert len(out) == len({(r.new_id, r.corpus_id) for r in out})
    c = {(r.new_id, r.corpus_id): (r.containment_new, r.containment_corpus) for r in out}
    assert c[(10, 1)][0] == pytest.approx(1.0)

    def vecs(rows):
        return spark.createDataFrame(rows, "vec_id bigint, emb array<double>")

    emb = str(tmp_path / "emb")
    ekw = dict(m=8, bands=4, seed=3)
    build_embedding_index(vecs([(1, [1.0, 0.0, 0.0]), (2, [0.0, 0.0, 1.0])]),
                          "vec_id", "emb", emb, threshold=0.5, **ekw)
    append_to_embedding_index(vecs([(1, [0.9, 0.4, 0.2])]), "vec_id", "emb", emb, **ekw)
    out = dedup_against_embedding_index(
        spark, vecs([(10, [1.0, 0.0, 0.0])]), "vec_id", "emb", emb,
        threshold=0.5, **ekw
    ).collect()
    assert len(out) == len({(r.new_id, r.corpus_id) for r in out})
    s = {(r.new_id, r.corpus_id): r.cosine_sim for r in out}
    assert s[(10, 1)] == pytest.approx(1.0)  # v1 identical vector wins


def test_containment_direction_max_over_gate_failing_versions(spark, tmp_path):
    """r10 advice: containment_against_index aggregated the per-direction
    max only over versions surviving the combined greatest(...) >= t
    gate, so a version that FAILS the gate but carries the strongest
    one-sided evidence understated the reported per-direction maximum.

    Construction (word-bigram shingles, threshold 0.8):
    * batch doc 10 = words b0..b30            -> 30 bigrams (set B)
    * corpus id 1 v1 = B + 61 filler words    -> 91 bigrams:
      c_new = 30/30 = 1.0 (passes the gate), c_corpus = 30/91 ~ 0.33
    * id 1 v2 (re-appended) = b0..b21 + u0..u7 -> 29 bigrams, 21 shared:
      c_new = 0.7, c_corpus = 21/29 ~ 0.724 — BOTH under 0.8, so v2
      fails the gate, yet its c_corpus is the true per-direction max.
    v2's candidacy is deterministic: two filler docs in the SAME
    appended frame repeat v2's 8 unique bigrams, so within-frame df
    ranks v2's 21 shared bigrams rarest and its stored prefix (6
    shingles) is drawn entirely from B — the c2 posting join must
    propose the pair."""
    from dbt_foundation_spark.operators.dedup_index import (
        append_to_containment_index,
        build_containment_index,
        containment_against_index,
    )

    b = [f"b{i}" for i in range(31)]       # 30 shared-side bigrams
    u = [f"u{i}" for i in range(8)]        # v2's unique tail
    x = [f"x{i}" for i in range(61)]       # v1's dilution tail

    def doc(did, words):
        return (did, " ".join(words))

    docs = lambda rows: spark.createDataFrame(rows, "doc_id bigint, text string")
    batch = docs([doc(10, b)])
    corpus_v1 = docs([doc(1, b + x), doc(2, ["ships", "harbors", "tides", "quays"])])
    # v2 + two fillers carrying ONLY v2's unique bigrams (b30? no — the
    # junction bigram is (b21, u0)); fillers make the unique bigrams
    # df=3 within the appended frame, shared ones df=1 -> rarest
    v2_words = b[:22] + u
    appended = docs(
        [doc(1, v2_words), doc(90, [b[21]] + u), doc(91, [b[21]] + u)]
    )

    ct = str(tmp_path / "ct_gate")
    kw = dict(shingle_len=2, threshold=0.8)
    build_containment_index(corpus_v1, "doc_id", "text", ct, **kw)
    append_to_containment_index(appended, "doc_id", "text", ct, **kw)

    out = containment_against_index(
        spark, batch, "doc_id", "text", ct, **kw
    ).collect()
    got = {(r.new_id, r.corpus_id): (r.containment_new, r.containment_corpus)
           for r in out}
    assert set(got) == {(10, 1)}  # fillers share nothing with the batch
    c_new, c_corpus = got[(10, 1)]
    assert c_new == pytest.approx(1.0)          # v1's passing direction
    # pre-fix this reported v1's 30/91 ~ 0.33; the true per-direction
    # max over every verified candidate version is v2's 21/29
    assert c_corpus == pytest.approx(21 / 29)


def test_concurrent_retractions_never_lose_a_batch(spark, tmp_path):
    """Concurrent takedown batches (r13 probe — a maintenance∥
    maintenance dirty shape): the old ``mode("append")`` log write
    made concurrent retracts share the log's ``_temporary/0``
    FileOutputCommitter staging, and one job's commit DELETES that
    directory wholesale — probed live with 4 concurrent batches: one
    failed loud, and one SILENTLY LOST its whole batch (returned
    success, rows never landed) — retracted documents staying live
    while the caller believes the takedown succeeded, the worst fate
    for compliance. Each batch now writes aside to a private scratch
    and rename-installs one uniquely-named file into the log (the
    ``_install_batch_output`` pattern), so any number of concurrent
    retracts land ALL their rows; the fold and clear still see every
    file (the log readers list visible files, not ``part-*`` names)."""
    import threading

    from dbt_foundation_spark.operators.dedup_index import (
        build_simhash_index,
    )
    from dbt_foundation_spark.operators.maintenance import (
        compact_index,
        index_stats,
    )

    docs = spark.createDataFrame(
        [(i, f"doc number {i} alpha beta gamma delta epsilon") for i in range(200)],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "race_idx")
    build_simhash_index(docs, "doc_id", "text", idx)

    errs = []

    def retract(ids):
        try:
            retract_from_index(spark, idx, ids)
        except Exception as e:  # noqa: BLE001 - recorded for the assert
            errs.append(repr(e))

    threads = [
        threading.Thread(target=retract, args=(list(range(i * 25, i * 25 + 25)),))
        for i in range(8)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []
    got = sorted(r["id"] for r in read_tombstones(spark, idx).collect())
    assert got == list(range(200))  # every batch landed completely
    s = index_stats(spark, idx)
    assert s["missing_datasets"] == [] and s["crash_leftovers"] == []
    # the compaction fold still consumes the uniquely-named files
    compact_index(spark, idx)
    assert read_tombstones(spark, idx) is None


def _disk_stats(root):
    """(n_files, total_bytes) of the visible, non-zero-byte data files
    under ``root`` by an os.walk: any path component starting with
    ``.``, or with ``_`` and no ``=`` (``_SUCCESS``, ``_temporary/``,
    ``.crc`` checksums), is not data; hive dirs like ``_ivf_list=0``
    are."""
    import os

    def hidden(seg):
        return seg.startswith(".") or (seg.startswith("_") and "=" not in seg)

    sizes = []
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not hidden(x)]
        sizes += [
            os.path.getsize(os.path.join(d, f)) for f in files if not hidden(f)
        ]
    sizes = [n for n in sizes if n > 0]
    return {"n_files": len(sizes), "total_bytes": sum(sizes)}


def test_first_sorting_tear_does_not_break_stats_or_heal(spark, tmp_path, caplog):
    """Spark's parquet schema inference samples the FIRST file in path
    order, so a zero-byte tear sorting before every healthy file must
    not kill index_stats (the describe tool) or compact_index (the
    documented heal): stats report the tear, and the heal reads only
    the healthy files — on the flat minhash layout and on the
    hive-partitioned IVF lists, whose partition column and tombstone
    fold must both survive — warns naming the tear, and clears its
    __compacting marker."""
    import logging
    import os

    from dbt_foundation_spark.operators.dedup_index import (
        build_minhash_index,
        dedup_against_index,
    )
    from dbt_foundation_spark.operators.maintenance import compact_index, index_stats
    from dbt_foundation_spark.operators.similarity import build_ivf_index
    from dbt_foundation_spark.operators.tombstones import compaction_marker_path

    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma doc {i} delta epsilon") for i in range(8)],
        ["doc_id", "text"],
    )
    mh = str(tmp_path / "mh")
    build_minhash_index(corpus, "doc_id", "text", mh, num_hashes=16, bands=4)
    batch = spark.createDataFrame(
        [(100, "alpha beta gamma doc 3 delta epsilon")], ["doc_id", "text"]
    )

    def hits():
        return _pairs(
            dedup_against_index(
                spark, batch, "doc_id", "text", mh,
                num_hashes=16, bands=4, jaccard_threshold=0.9,
            ).select("new_id", "corpus_id")
        )

    assert hits() == [(100, 3)]
    ivf = str(tmp_path / "ivf")
    build_ivf_index(_ivf_corpus(spark), "doc_id", "embedding", ivf, n_lists=2)
    retract_from_index(spark, ivf, [1])
    lists = tmp_path / "ivf" / "lists"
    first_list = sorted(p.name for p in lists.iterdir() if p.is_dir())[0]

    tears = {
        mh: tmp_path / "mh" / "bands" / "part-0-torn.snappy.parquet",
        ivf: lists / first_list / "part-0-torn.snappy.parquet",
    }
    for path, tear in tears.items():
        tear.touch()
        s = index_stats(spark, path)  # must not raise
        assert any(
            "part-0-torn" in e and "0-byte" in e for e in s["crash_leftovers"]
        )
        sub = tear.relative_to(path).parts[0]
        assert s["datasets"][sub] == _disk_stats(f"{path}/{sub}")
        with caplog.at_level(logging.WARNING, logger="dbt_foundation_spark"):
            compact_index(spark, path)
        assert any(
            "zero-byte torn" in r.getMessage() and "part-0-torn" in r.getMessage()
            for r in caplog.records
        )
        assert not tear.exists()
        assert not _exists(spark, compaction_marker_path(path))
        assert index_stats(spark, path)["crash_leftovers"] == []

    assert hits() == [(100, 3)]
    stored = spark.read.parquet(f"{ivf}/lists")
    assert "_ivf_list" in stored.columns
    assert sorted(r["doc_id"] for r in stored.collect()) == list(range(2, 13))
    assert read_tombstones(spark, ivf) is None
    assert os.path.isdir(lists / first_list)


def test_path_stats_equal_files_on_disk(spark, tmp_path):
    """parquet_path_stats and index_stats count exactly the visible,
    non-zero-byte data files an os.walk finds, with their summed
    lengths — a ``_SUCCESS`` marker, ``_temporary/`` residue and a
    zero-byte tear are not data — for a flat minhash sub-dataset and
    the hive-partitioned IVF lists."""
    from dbt_foundation_spark.operators.dedup_index import build_minhash_index
    from dbt_foundation_spark.operators.maintenance import (
        index_stats,
        parquet_path_stats,
    )
    from dbt_foundation_spark.operators.similarity import build_ivf_index

    corpus = spark.createDataFrame(
        [(i, f"document number {i} with words {i % 3}") for i in range(20)],
        ["doc_id", "text"],
    )
    mh = tmp_path / "mh"
    build_minhash_index(corpus, "doc_id", "text", str(mh), num_hashes=16, bands=4)
    ivf = tmp_path / "ivf"
    build_ivf_index(_ivf_corpus(spark), "doc_id", "embedding", str(ivf), n_lists=2)

    for root, sub in ((mh, "bands"), (ivf, "lists")):
        d = root / sub
        leaf = next(p for p in sorted(d.rglob("part-*")) if p.is_file()).parent
        (d / "_SUCCESS").touch()
        scratch = d / "_temporary" / "0"
        scratch.mkdir(parents=True)
        (scratch / "part-00000-inflight.snappy.parquet").write_bytes(b"PAR1 x")
        (leaf / "part-99999-torn.snappy.parquet").touch()
        want = _disk_stats(d)
        assert want["n_files"] >= 1
        assert parquet_path_stats(spark, str(d)) == want
        assert index_stats(spark, str(root))["datasets"][sub] == want


def test_compact_index_job_count_pinned(spark, tmp_path):
    """Pins how many Spark jobs one compact_index of a small minhash
    index with a pending retraction runs: stats and sizing come from
    file listings and the tombstone clear is one collect, so only the
    rewrites and the log fold run jobs. Job ids are sequential per
    SparkContext, and the sub-dataset folds run on pool threads with
    no job group, so the count is the id gap between two marker jobs."""
    from dbt_foundation_spark.operators.dedup_index import build_minhash_index
    from dbt_foundation_spark.operators.maintenance import compact_index

    sc = spark.sparkContext
    assert not spark.streams.active  # a live stream would run jobs between marks

    def marker_job() -> int:
        sc.setJobGroup("compact_job_count_marker", "marker")
        try:
            sc.parallelize([1], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return max(sc.statusTracker().getJobIdsForGroup("compact_job_count_marker"))

    corpus = spark.createDataFrame(
        [(i, f"document number {i} with shared words {i % 7}") for i in range(40)],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "mh")
    build_minhash_index(corpus, "doc_id", "text", path, num_hashes=16, bands=4)
    retract_from_index(spark, path, [1, 2, 3])
    before = marker_job()
    compact_index(spark, path)
    ran = marker_job() - before - 1
    assert ran == 21, ran
    assert read_tombstones(spark, path) is None
