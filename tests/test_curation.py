"""Unit tests for the curation surface (redaction, quantization,
incremental dedup) — handcrafted inputs with known answers, independent
of the DuckDB oracles that tests/test_oracle_parity.py already runs
over the same queries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_foundation_spark.functions.redact import pii_counts, redact_pii
from dbt_foundation_spark.functions.vectors import int8_quantize
from dbt_foundation_spark.operators.dedup import minhash_lsh_join, minhash_lsh_pairs


def test_redact_pii_all_categories(spark):
    text = (
        "mail a.user+tag@sub.example.co.uk or call +4915123456789, "
        "host 192.168.0.1 token 0123456789abcdef0123456789ABCDEF rest"
    )
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(redact_pii("text").alias("t")).first()["t"]
    assert got == (
        "mail <EMAIL> or call <PHONE>, host <IP> token <KEY> rest"
    )
    counts = df.select(
        *[c.alias(n) for n, c in pii_counts("text").items()]
    ).first()
    assert (counts["email"], counts["key"], counts["ip"], counts["phone"]) == (1, 1, 1, 1)


def test_redact_pii_order_email_wins_over_key(spark):
    # a 32-hex local-part is an email, not a key; a bare one is a key
    df = spark.createDataFrame(
        [("0123456789abcdef0123456789abcdef@example.com",), ("0123456789abcdef0123456789abcdef",)],
        "text string",
    )
    got = [r["t"] for r in df.select(redact_pii("text").alias("t")).collect()]
    assert got == ["<EMAIL>", "<KEY>"]


def test_redact_pii_clean_text_untouched(spark):
    text = "no pii here, just words and 42 numbers and a dot."
    df = spark.createDataFrame([(text,)], "text string")
    assert df.select(redact_pii("text").alias("t")).first()["t"] == text


def test_int8_quantize_roundtrip_and_range(spark):
    rows = [
        ([0.0, 1.0, 0.5, 0.25],),
        ([-2.0, 2.0, 0.0, 1.9],),
        ([3.25, 3.25, 3.25],),  # constant vector → scale floor, codes 0
    ]
    df = spark.createDataFrame(rows, "v array<double>")
    out = df.select(F.col("v"), int8_quantize("v").alias("q")).collect()
    for r in out:
        lo, hi, codes = r["q"]["lo"], r["q"]["hi"], r["q"]["codes"]
        assert lo == min(r["v"]) and hi == max(r["v"])
        assert all(0 <= c <= 255 for c in codes)
        scale = max((hi - lo) / 255.0, 1e-12)
        for x, c in zip(r["v"], codes):
            assert abs((lo + c * scale) - x) <= scale / 2 + 1e-9
    assert out[2]["q"]["codes"] == [0, 0, 0]


def test_redact_matches_python_re(spark):
    """Property check vs an independent Python re reference over ASCII
    inputs (ASCII only: Java regex \\d/\\w are ASCII, Python's are
    Unicode — the patterns themselves are engine-portable by design,
    see functions/redact.py)."""
    import random
    import re as pyre

    from dbt_foundation_spark.functions.redact import PII_PATTERNS

    rng = random.Random(11)
    frags = [
        "plain words ", "x@y.io ", "a.b-c@mail.example.org ", "+123456789 ",
        "1.2.3.4 ", "255.255.255.255 ", "deadbeef" * 4 + " ", "short0abc ",
        "10.0.0 ", "+12345 ", "k=" + "A0" * 20 + " ", "end.",
    ]
    texts = ["".join(rng.choices(frags, k=rng.randint(0, 8))) for _ in range(60)]

    def py_redact(s: str) -> str:
        for _, pat, repl in PII_PATTERNS:
            s = pyre.sub(pat, repl, s)
        return s

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r["t"] for r in df.select(redact_pii("text").alias("t")).collect()]
    assert got == [py_redact(t) for t in texts]


def test_minhash_index_roundtrip(spark, sf_dir, tmp_path):
    """Build a persisted band index from the corpus, dedup the new batch
    against it — must equal the direct (recompute-both-sides) join; then
    append batch 1 and dedup a later batch against the grown index."""
    from dbt_foundation_spark.operators.dedup_index import (
        append_to_index,
        build_minhash_index,
        dedup_against_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 10 > 1)
    batch1 = docs.filter(F.col("doc_id") % 10 == 0)
    batch2 = docs.filter(F.col("doc_id") % 10 == 1)
    kw = dict(num_hashes=16, bands=4, shingle_len=3)
    path = str(tmp_path / "mh_index")

    build_minhash_index(corpus, "doc_id", "text", path, **kw)
    got = sorted(
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in dedup_against_index(
            spark, batch1, "doc_id", "text", path, jaccard_threshold=0.5, **kw
        ).collect()
    )
    want = sorted(
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in minhash_lsh_join(
            batch1, corpus, "doc_id", "text", jaccard_threshold=0.5, **kw
        ).collect()
    )
    assert got == want and len(got) > 0

    append_to_index(batch1, "doc_id", "text", path, **kw)
    got2 = sorted(
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in dedup_against_index(
            spark, batch2, "doc_id", "text", path, jaccard_threshold=0.5, **kw
        ).collect()
    )
    want2 = sorted(
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in minhash_lsh_join(
            batch2,
            corpus.unionByName(batch1),
            "doc_id",
            "text",
            jaccard_threshold=0.5,
            **kw,
        ).collect()
    )
    assert got2 == want2


def test_simhash_index_roundtrip(spark, sf_dir, tmp_path):
    """Persisted simhash chunk index: dedup a new batch against the
    stored corpus index — must equal the cross-side subset of the full
    self-join detector (same signatures, same chunking); then append and
    dedup a later batch against the grown index."""
    from dbt_foundation_spark.operators.dedup import simhash_near_pairs
    from dbt_foundation_spark.operators.dedup_index import (
        append_to_simhash_index,
        build_simhash_index,
        dedup_against_simhash_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 10 > 1)
    batch1 = docs.filter(F.col("doc_id") % 10 == 0)
    batch2 = docs.filter(F.col("doc_id") % 10 == 1)
    path = str(tmp_path / "sh_index")
    radius = 8  # wide enough for the synthetic corpus to yield pairs

    def cross(full_df, batch_ids):
        out = set()
        for r in simhash_near_pairs(
            full_df, "doc_id", "text", max_hamming=radius
        ).collect():
            a, b = r["id_a"], r["id_b"]
            if (a in batch_ids) != (b in batch_ids):
                n, c = (a, b) if a in batch_ids else (b, a)
                out.add((n, c, r["hamming"]))
        return sorted(out)

    build_simhash_index(corpus, "doc_id", "text", path, max_hamming=radius)
    got = sorted(
        (r["new_id"], r["corpus_id"], r["hamming"])
        for r in dedup_against_simhash_index(
            spark, batch1, "doc_id", "text", path, max_hamming=radius
        ).collect()
    )
    b1_ids = {r["doc_id"] for r in batch1.select("doc_id").collect()}
    want = cross(corpus.unionByName(batch1), b1_ids)
    assert got == want and len(got) > 0

    append_to_simhash_index(batch1, "doc_id", "text", path, max_hamming=radius)
    got2 = sorted(
        (r["new_id"], r["corpus_id"], r["hamming"])
        for r in dedup_against_simhash_index(
            spark, batch2, "doc_id", "text", path, max_hamming=radius
        ).collect()
    )
    b2_ids = {r["doc_id"] for r in batch2.select("doc_id").collect()}
    want2 = cross(corpus.unionByName(batch1).unionByName(batch2), b2_ids)
    assert got2 == want2


def test_containment_index_roundtrip(spark, sf_dir, tmp_path):
    """Persisted containment prefix-posting index: batch-vs-index must
    equal the cross-side subset of the full containment_pairs self-join
    (both candidate directions covered: stored corpus prefixes catch
    corpus-contained-in-new, batch prefixes catch new-contained-in-
    corpus); then append and query the grown index."""
    from dbt_foundation_spark.operators.dedup import containment_pairs
    from dbt_foundation_spark.operators.dedup_index import (
        append_to_containment_index,
        build_containment_index,
        containment_against_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 10 > 1)
    batch1 = docs.filter(F.col("doc_id") % 10 == 0)
    batch2 = docs.filter(F.col("doc_id") % 10 == 1)
    path = str(tmp_path / "ct_index")
    thr = 0.5

    def cross(full_df, batch_ids):
        out = set()
        for r in containment_pairs(
            full_df, "doc_id", "text", threshold=thr
        ).collect():
            a, b = r["id_a"], r["id_b"]
            if (a in batch_ids) != (b in batch_ids):
                if a in batch_ids:
                    out.add((a, b, r["containment_a"], r["containment_b"]))
                else:
                    out.add((b, a, r["containment_b"], r["containment_a"]))
        return sorted(out)

    build_containment_index(corpus, "doc_id", "text", path, threshold=thr)
    got = sorted(
        (r["new_id"], r["corpus_id"], r["containment_new"], r["containment_corpus"])
        for r in containment_against_index(
            spark, batch1, "doc_id", "text", path, threshold=thr
        ).collect()
    )
    b1_ids = {r["doc_id"] for r in batch1.select("doc_id").collect()}
    want = cross(corpus.unionByName(batch1), b1_ids)
    assert got == want and len(got) > 0

    append_to_containment_index(batch1, "doc_id", "text", path, threshold=thr)
    got2 = sorted(
        (r["new_id"], r["corpus_id"], r["containment_new"], r["containment_corpus"])
        for r in containment_against_index(
            spark, batch2, "doc_id", "text", path, threshold=thr
        ).collect()
    )
    b2_ids = {r["doc_id"] for r in batch2.select("doc_id").collect()}
    want2 = cross(corpus.unionByName(batch1).unionByName(batch2), b2_ids)
    assert got2 == want2


def test_index_manifest_validation(spark, sf_dir, tmp_path):
    """Every index flavor records its build parameters in a manifest and
    rejects mismatched query/append parameters (the silent-wrong-results
    footgun), while allowing the provably-safe directions: a tighter
    simhash query radius, a higher containment query threshold."""
    from dbt_foundation_spark.operators.dedup_index import (
        append_to_containment_index,
        build_containment_index,
        build_minhash_index,
        build_simhash_index,
        containment_against_index,
        dedup_against_index,
        dedup_against_simhash_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 10 > 1)
    batch = docs.filter(F.col("doc_id") % 10 == 0)

    mh = str(tmp_path / "mh_m")
    build_minhash_index(corpus, "doc_id", "text", mh, num_hashes=16, bands=4)
    with pytest.raises(ValueError, match="num_hashes"):
        dedup_against_index(
            spark, batch, "doc_id", "text", mh, num_hashes=32, bands=4
        ).count()
    # jaccard_threshold is query-time only — any value passes validation
    dedup_against_index(
        spark, batch, "doc_id", "text", mh,
        num_hashes=16, bands=4, jaccard_threshold=0.9,
    ).count()

    sh = str(tmp_path / "sh_m")
    build_simhash_index(corpus, "doc_id", "text", sh, max_hamming=8)
    with pytest.raises(ValueError, match="max_hamming"):
        dedup_against_simhash_index(
            spark, batch, "doc_id", "text", sh, max_hamming=12
        ).count()
    # a negative radius is refused like the batch detector refuses it,
    # not answered with zero pairs
    with pytest.raises(ValueError, match="max_hamming=-1"):
        dedup_against_simhash_index(
            spark, batch, "doc_id", "text", sh, max_hamming=-1
        ).count()
    # tighter query radius: legal, and exactly the radius-r subset of
    # the build-radius result (batch chunks at the BUILD radius)
    wide = {
        (r["new_id"], r["corpus_id"], r["hamming"])
        for r in dedup_against_simhash_index(
            spark, batch, "doc_id", "text", sh, max_hamming=8
        ).collect()
    }
    tight = {
        (r["new_id"], r["corpus_id"], r["hamming"])
        for r in dedup_against_simhash_index(
            spark, batch, "doc_id", "text", sh, max_hamming=4
        ).collect()
    }
    assert tight == {p for p in wide if p[2] <= 4}

    ct = str(tmp_path / "ct_m")
    build_containment_index(corpus, "doc_id", "text", ct, threshold=0.6)
    with pytest.raises(ValueError, match="threshold"):
        containment_against_index(
            spark, batch, "doc_id", "text", ct, threshold=0.5
        ).count()
    with pytest.raises(ValueError, match="threshold"):
        append_to_containment_index(
            batch, "doc_id", "text", ct, threshold=0.8
        )
    # higher query threshold: legal, and the ≥0.8 subset of the base run
    base = {
        (r["new_id"], r["corpus_id"])
        for r in containment_against_index(
            spark, batch, "doc_id", "text", ct, threshold=0.6
        ).collect()
        if max(r["containment_new"], r["containment_corpus"]) >= 0.8
    }
    high = {
        (r["new_id"], r["corpus_id"])
        for r in containment_against_index(
            spark, batch, "doc_id", "text", ct, threshold=0.8
        ).collect()
    }
    assert high == base

    # flavor mixups are caught, not silently wrong
    with pytest.raises(ValueError, match="flavor"):
        dedup_against_simhash_index(spark, batch, "doc_id", "text", mh).count()

    # a half-written/corrupt manifest refuses rather than silently
    # skipping validation (the footgun the manifest exists to close)
    import shutil
    from pathlib import Path

    shutil.rmtree(Path(sh) / "manifest")
    spark.createDataFrame([("garbage",)], "junk string").coalesce(1).write.json(
        str(Path(sh) / "manifest")
    )
    with pytest.raises(ValueError, match="corrupt"):
        dedup_against_simhash_index(
            spark, batch, "doc_id", "text", sh, max_hamming=8
        ).count()


def test_embedding_index_roundtrip(spark, sf_dir, tmp_path):
    """Persisted embedding band index: batch-vs-index must equal the
    cross-side subset of embedding_near_pairs over corpus ∪ batch (both
    paths band with the same planes, so blocking is identical); then
    append and dedup a later batch against the grown index."""
    from dbt_foundation_spark.operators.dedup_index import (
        append_to_embedding_index,
        build_embedding_index,
        dedup_against_embedding_index,
    )
    from dbt_foundation_spark.operators.similarity import embedding_near_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") % 10 > 1)
    batch1 = emb.filter(F.col("vec_id") % 10 == 0)
    batch2 = emb.filter(F.col("vec_id") % 10 == 1)
    path = str(tmp_path / "emb_index")
    thr = 0.25  # the synthetic embeddings' pair-yielding threshold

    def cross(full_df, batch_ids):
        out = set()
        for r in embedding_near_pairs(
            full_df, "vec_id", "embedding", threshold=thr
        ).collect():
            a, b = r["id_a"], r["id_b"]
            if (a in batch_ids) != (b in batch_ids):
                n, c = (a, b) if a in batch_ids else (b, a)
                out.add((n, c, r["cosine_sim"]))
        return sorted(out)

    # cosine_sim compared exactly: the batch detector's per-side-norm
    # form and the probe's fused V.cosine are bit-identical
    build_embedding_index(corpus, "vec_id", "embedding", path, threshold=thr)
    got = sorted(
        (r["new_id"], r["corpus_id"], r["cosine_sim"])
        for r in dedup_against_embedding_index(
            spark, batch1, "vec_id", "embedding", path, threshold=thr
        ).collect()
    )
    b1_ids = {r["vec_id"] for r in batch1.select("vec_id").collect()}
    want = cross(corpus.unionByName(batch1), b1_ids)
    assert got == want and len(got) > 0

    append_to_embedding_index(batch1, "vec_id", "embedding", path)
    got2 = sorted(
        (r["new_id"], r["corpus_id"], r["cosine_sim"])
        for r in dedup_against_embedding_index(
            spark, batch2, "vec_id", "embedding", path, threshold=thr
        ).collect()
    )
    b2_ids = {r["vec_id"] for r in batch2.select("vec_id").collect()}
    want2 = cross(corpus.unionByName(batch1).unionByName(batch2), b2_ids)
    assert got2 == want2

    # manifest: hash-family params must match; dim resolves from the
    # manifest (no caller value, no sniff); lower threshold refused
    with pytest.raises(ValueError, match="seed"):
        dedup_against_embedding_index(
            spark, batch2, "vec_id", "embedding", path, threshold=thr, seed=7
        ).count()
    with pytest.raises(ValueError, match="threshold"):
        dedup_against_embedding_index(
            spark, batch2, "vec_id", "embedding", path, threshold=0.1
        ).count()
    with pytest.raises(ValueError, match="flavor"):
        from dbt_foundation_spark.operators.dedup_index import (
            dedup_against_index,
        )

        dedup_against_index(spark, batch2, "vec_id", "embedding", path).count()


def test_minhash_lsh_join_equals_cross_side_pairs(spark, sf_dir):
    """The incremental join must reproduce exactly the cross-side subset
    of the full self-join dedup (same signatures on both paths)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kw = dict(num_hashes=16, bands=4, shingle_len=3, jaccard_threshold=0.5)
    full = minhash_lsh_pairs(docs, "doc_id", "text", **kw).collect()
    want = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        if r["id_a"] % 10 == 0
        else (r["id_b"], r["id_a"], r["jaccard"])
        for r in full
        if (r["id_a"] % 10 == 0) != (r["id_b"] % 10 == 0)
    )
    new_batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    inc = minhash_lsh_join(new_batch, corpus, "doc_id", "text", **kw).collect()
    got = sorted((r["new_id"], r["corpus_id"], r["jaccard"]) for r in inc)
    assert got == want and len(got) > 0


@pytest.mark.parametrize(
    "flavor, shuffles",
    [("minhash", 2), ("simhash", 2), ("containment", 2), ("embedding", 1)],
)
def test_index_probe_plan_shapes_pinned(
    spark, sf_dir, tmp_path, monkeypatch, flavor, shuffles
):
    """Exact shuffle count of each index probe's plan — the probe runs on
    every ingest op, so a refactor that adds an exchange or a Python row
    UDF to it fails here. Counts are of the plan as built (before AQE):
    the index's live reads plus the batch side's pinned signature
    frames, which are RDD scans.

    The streaming ingest's append frames are pinned the same way: one
    micro-batch through ``run_dedup_ingest``, each frame handed to the
    index append recorded. Each is a signed frame (a lazily pinned RDD
    scan) semi-joined to the pinned survivor ids: a broadcast join, no
    shuffle."""
    from dbt_foundation_spark.operators import dedup_index as D
    from dbt_foundation_spark.operators import index_core
    from dbt_foundation_spark.plans.inspect import plan_summary
    from dbt_foundation_spark.streaming.pipeline import run_dedup_ingest

    path = str(tmp_path / flavor)
    if flavor == "embedding":
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        corpus, batch = (emb.filter(F.col("vec_id") % 10 != 0),
                         emb.filter(F.col("vec_id") % 10 == 0))
        D.build_embedding_index(corpus, "vec_id", "embedding", path)
        probe = D.dedup_against_embedding_index(
            spark, batch, "vec_id", "embedding", path
        )
    else:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        corpus, batch = (docs.filter(F.col("doc_id") % 10 != 0),
                         docs.filter(F.col("doc_id") % 10 == 0))
        build, query = {
            "minhash": (D.build_minhash_index, D.dedup_against_index),
            "simhash": (D.build_simhash_index, D.dedup_against_simhash_index),
            "containment": (
                D.build_containment_index, D.containment_against_index,
            ),
        }[flavor]
        build(corpus, "doc_id", "text", path)
        probe = query(spark, batch, "doc_id", "text", path)
    s = plan_summary(probe)
    assert s["shuffles"] == shuffles, s
    assert s["python_row_udfs"] == 0

    shapes = {}
    real_append = index_core.Index.append

    def recording_append(self, frames, owner=None):
        for sub, frame in frames.items():
            summary = plan_summary(frame)
            shapes[sub] = (summary["shuffles"], summary["python_row_udfs"])
        return real_append(self, frames, owner)

    monkeypatch.setattr(index_core.Index, "append", recording_append)
    stream_dir = str(tmp_path / "stream")
    batch.write.parquet(stream_dir)
    run_dedup_ingest(
        spark.readStream.schema(batch.schema).parquet(stream_dir),
        "vec_id" if flavor == "embedding" else "doc_id",
        "text",
        path,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        detector=flavor,
        vec_col="embedding" if flavor == "embedding" else None,
    )
    want = {sub.name: (0, 0) for sub in index_core.FLAVORS[flavor]}
    assert shapes == want, shapes


def test_budget_select_equals_naive_greedy(spark):
    """The two-phase bin decomposition must pick the byte-identical
    prefix the naive global running-sum window picks — swept across
    budgets that land mid-bin, on a bin boundary, zero, and beyond the
    corpus total, and across bin widths down to bins=1 (everything in
    one boundary bin, pure phase-B) and up to bins=10**6 (every row its
    own bin, pure phase-A)."""
    import random

    from pyspark.sql import Window

    from dbt_foundation_spark.operators.sampling import budget_select

    rng = random.Random(7)
    rows = [
        (i, round(rng.random(), 3), rng.randint(1, 40)) for i in range(400)
    ]
    # force score ties so the id tiebreak matters inside and across bins
    rows += [(1000 + i, rows[i][1], rows[i][2] + 1) for i in range(40)]
    df = spark.createDataFrame(rows, "id bigint, score double, cost bigint")
    total = sum(c for _, _, c in rows)

    w = Window.orderBy(F.col("score").desc(), "id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    naive = df.withColumn("_run", F.sum("cost").over(w))

    for budget in (0, 1, total // 10, total // 3, total - 1, total, total + 5):
        want = sorted(
            r["id"] for r in naive.filter(F.col("_run") <= budget).collect()
        )
        for bins in (1, 10, 1000, 10**6):
            got = sorted(
                r["id"]
                for r in budget_select(
                    df,
                    id_col="id",
                    score_col="score",
                    cost_col="cost",
                    budget=budget,
                    bins=bins,
                ).collect()
            )
            assert got == want, (budget, bins, len(got), len(want))


def test_budget_select_scalar_budget_dataframe(spark):
    """The 1-row-DataFrame budget form (the shape queries derive from
    sum(cost)) selects the same prefix as the equivalent int."""
    from dbt_foundation_spark.operators.sampling import budget_select

    df = spark.createDataFrame(
        [(i, (i % 7) / 7.0, 5) for i in range(100)],
        "id bigint, score double, cost bigint",
    )
    bdf = df.agg(F.floor(F.sum("cost") * 0.3).cast("bigint").alias("budget"))
    got = budget_select(
        df, id_col="id", score_col="score", cost_col="cost", budget=bdf
    )
    want = budget_select(
        df, id_col="id", score_col="score", cost_col="cost", budget=150
    )
    assert sorted(r["id"] for r in got.collect()) == sorted(
        r["id"] for r in want.collect()
    )


def test_serpentine_shards_equals_naive_and_balances(spark):
    """serpentine_shards' two-phase rank must assign exactly the shard
    the naive global-window plan assigns (any ordering drift breaks the
    DuckDB oracle), and the serpentine deal must balance: row counts
    differ by <=1, token totals near-equal."""
    from pyspark.sql import Window

    from dbt_foundation_spark.operators.packing import serpentine_shards

    n_shards = 5
    # heavy tie blocks (cost 0 and 7) exercise the sub-bucket split
    rows = [(i, (i * 37) % 23 if i % 11 else 7) for i in range(400)]
    df = spark.createDataFrame(rows, "id bigint, cost bigint")

    got = {
        r["id"]: r["shard"]
        for r in serpentine_shards(
            df, id_col="id", cost_col="cost", n_shards=n_shards
        ).collect()
    }

    naive_rank = F.row_number().over(
        Window.orderBy(F.col("cost").desc(), (F.col("id") % 64).asc(), F.col("id").asc())
    )
    r0 = naive_rank - 1
    pos = r0 % n_shards
    naive_shard = F.when(
        F.floor(r0 / n_shards) % 2 == 0, pos
    ).otherwise(n_shards - 1 - pos)
    want = {
        r["id"]: r["shard"]
        for r in df.select("id", naive_shard.cast("int").alias("shard")).collect()
    }
    assert got == want

    per_shard = (
        serpentine_shards(df, id_col="id", cost_col="cost", n_shards=n_shards)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cost").alias("tot"))
        .collect()
    )
    ns = [r["n"] for r in per_shard]
    tots = [r["tot"] for r in per_shard]
    assert len(per_shard) == n_shards
    assert max(ns) - min(ns) <= 1
    # serpentine LPT: totals within one max-cost item of each other
    assert max(tots) - min(tots) <= max(c for _, c in rows)


def test_serpentine_shards_null_costs_kept(spark):
    """Rows with a NULL cost must survive shard assignment (r4 ADVICE:
    the offset join silently dropped them) and rank last, matching the
    naive plan's desc NULLS LAST in both Spark and ANSI engines."""
    from pyspark.sql import Window

    from dbt_foundation_spark.operators.packing import serpentine_shards

    rows = [(i, None if i % 4 == 0 else (i * 13) % 7) for i in range(40)]
    df = spark.createDataFrame(rows, "id bigint, cost bigint")
    out = serpentine_shards(df, id_col="id", cost_col="cost", n_shards=3)
    got = {r["id"]: r["shard"] for r in out.collect()}
    assert len(got) == 40, "NULL-cost rows must not be dropped"

    naive_rank = F.row_number().over(
        Window.orderBy(
            F.col("cost").desc(), (F.col("id") % 64).asc(), F.col("id").asc()
        )
    )
    r0 = naive_rank - 1
    pos = r0 % 3
    naive_shard = F.when(F.floor(r0 / 3) % 2 == 0, pos).otherwise(2 - pos)
    want = {
        r["id"]: r["shard"]
        for r in df.select("id", naive_shard.cast("int").alias("shard")).collect()
    }
    assert got == want


def test_export_shards_layout_and_roundtrip(spark, tmp_path):
    """export_shards writes shard=N/ JSONL dirs that round-trip and
    partition-prune on re-read."""
    from pathlib import Path

    from dbt_foundation_spark.operators.packing import (
        export_shards,
        serpentine_shards,
    )

    df = spark.createDataFrame(
        [(i, 10 + i % 5) for i in range(40)], "id bigint, cost bigint"
    )
    assigned = serpentine_shards(df, id_col="id", cost_col="cost", n_shards=4)
    out = str(tmp_path / "shards")
    export_shards(assigned, out, shard_col="shard", fmt="json")

    dirs = sorted(p.name for p in Path(out).iterdir() if p.name.startswith("shard="))
    assert dirs == ["shard=0", "shard=1", "shard=2", "shard=3"]
    # one data file per shard (files_per_shard=1)
    for d in dirs:
        files = [p for p in (Path(out) / d).glob("part-*")]
        assert len(files) == 1
    back = spark.read.json(out)
    assert back.count() == 40
    assert {r["shard"] for r in back.select("shard").distinct().collect()} == {0, 1, 2, 3}
    # pruned read touches one partition directory
    one = spark.read.json(out).filter(F.col("shard") == 2)
    assert one.count() == 10


def test_dedup_exact_seeds_non_vacuous(spark, sf_dir):
    """VERDICT r8 #4: the exact-dup queries must assert on a NON-EMPTY
    result at every scale.  The seeded literal duplicates guarantee
    that; pin their clusters exactly (sf0.001 testdata itself has no
    exact-duplicate texts, so the seeds are the entire result here)."""
    from dbt_foundation_spark.queries.llm import q_dedup_exact, q_dedup_fingerprint

    rows = {r["text"]: r for r in q_dedup_exact(spark, sf_dir).collect()}
    assert "exact dedup gate-scale canary alpha" in rows
    assert "exact dedup gate-scale canary beta" in rows
    alpha = rows["exact dedup gate-scale canary alpha"]
    assert (alpha["keeper_id"], alpha["n_members"]) == (-3, 3)
    beta = rows["exact dedup gate-scale canary beta"]
    assert (beta["keeper_id"], beta["n_members"]) == (-5, 2)

    # fingerprint seeds: raw texts differ, normalized fingerprints agree
    fps = {r["keeper_id"]: r for r in q_dedup_fingerprint(spark, sf_dir).collect()}
    assert fps[-12]["n_members"] == 2  # fox pair: (-11, -12) keep min=-12
    assert fps[-14]["n_members"] == 2  # canary-two pair: (-13, -14)
