"""Persisted near-dup indexes — incremental dedup without recomputing
the corpus (SURVEY §2.L D2), one flavor per detector:

- **minhash bands** (`build_minhash_index`): the production flank of
  :func:`minhash_lsh_join`;
- **simhash chunks** (`build_simhash_index`): the flank of
  :func:`simhash_near_pairs`;
- **containment prefixes** (`build_containment_index`): the flank of
  :func:`containment_pairs`;
- **embedding bands** (`build_embedding_index`): the flank of
  :func:`~dbt_foundation_spark.operators.similarity
  .embedding_near_pairs` — banded hyperplane-LSH rows plus the raw
  vectors as verify payload.

At 100 TB each corpus's signatures/postings are computed ONCE, stored,
and every daily ingest joins against the stored index; each
``*_against_index`` equals its recompute-both-sides twin restricted to
cross-side pairs — pytest pins that equivalence per flavor. Each
``append_to_*`` folds a verified batch in (dedup-then-admit), keeping
the index one incremental write per ingest instead of a corpus-wide
rebuild. The manifest, batch conform, append marker, write order and
tombstone-subtracted reads every flavor shares live in
operators/index_core.py; a flavor here is its parameter dict plus its
signature and candidate/verify code.

Minhash layout:

- ``{path}/bands``:    (band, bucket, id) — the LSH candidate index,
  written repartitioned by (band, bucket) so at read time the
  new-batch join shuffles only the (tiny) batch side and index
  partitions irrelevant to the batch's buckets are skippable.
- ``{path}/shingles``: (id, shingles array<bigint>) — the verify-side
  payload, keyed by id for the candidate re-attach join.

Simhash layout: ``{path}/chunks`` = (chunk, ck, id, simhash),
repartitioned by the (chunk, ck) join key; the 8-byte signature rides
the candidate rows so the hamming verify needs no re-attach join.

Containment layout: ``{path}/postings`` (s, id, n) — the full inverted
index, repartitioned by shingle hash; ``{path}/prefixes`` — the
corpus-side rare-shingle prefix postings at the BUILD threshold;
``{path}/hashsets`` (id, hs array<bigint>) — the verify payload.
Cross-side exactness needs candidates from BOTH directions (a new doc
quoting a corpus doc, and vice versa): new-prefix ⋈ corpus-postings
catches C(new, corpus) ≥ t, corpus-prefix ⋈ new-postings catches
C(corpus, new) ≥ t — the prefix pigeonhole bound holds for any prefix
ordering, so the stored corpus prefixes (ordered by corpus df) stay
exact against any future batch.

On a real cluster, write the bands/chunks/postings datasets as bucketed
tables (``bucketBy(n, key)``) so the per-ingest join is shuffle-free on
the index side; path-based parquet keeps this module warehouse-free.

Candidate generation and verify are the batch detectors' own pair
kernel in operators/dedup.py (``_candidate_pairs``, ``_verify_pairs``
and each detector's scoring helper); a probe differs from its
recompute twin only in reading the corpus side from the index.

Multi-version contract: ``append_to_*`` does NOT check whether an id
is already live (an existence probe would anti-join the full index on
every micro-batch). Re-appending an id with changed content therefore
leaves SEVERAL live signature/payload rows for that id, all of which
participate as candidates; the verify folds them to the strongest
evidence per pair (``dedup._verify_pairs``). The supported
content-REPLACE path is retract → clear_tombstones → append (or a
rebuild); compaction's distinct-fold collapses byte-identical
re-appends only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_foundation_spark.functions import vectors as V
from dbt_foundation_spark.operators.dedup import (
    SIGNATURE_MAX_TOKENS,
    _CROSS,
    _candidate_pairs,
    _containment_verify,
    _hamming_pairs,
    _hash_sets,
    _jaccard_pairs,
    _minhash_sign,
    _verify_pairs,
    banding_geometry,
    containment_postings,
    hamming_radius,
    identified,
    signature_chunks,
    similarity_threshold,
    simhash,
)
from dbt_foundation_spark.operators.index_core import open_index, write_index
from dbt_foundation_spark.operators.similarity import (
    hyperplane_banded,
    random_hyperplanes,
    sniff_dim,
)
from dbt_foundation_spark.operators.tombstones import assert_literal_path
from dbt_foundation_spark.parallelism import fan_out

# The giant-document cap (``max_tokens``) is part of every text flavor's
# signature space exactly like num_hashes/shingle_len: build and batch
# sides must agree, or a capped document would band differently per side
# and its re-ingest would be silently admitted.


def _minhash_params(num_hashes, bands, shingle_len, portable, max_tokens) -> dict:
    return {
        "flavor": "minhash",
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_len": shingle_len,
        "portable": portable,
        "max_tokens": max_tokens,
    }


def build_minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_len: int = 3,
    portable: bool = False,
    index_partitions: int = 32,
    max_tokens: int | None = SIGNATURE_MAX_TOKENS,
) -> None:
    """Materialize the corpus band index + shingle store at ``path``.

    One pass over the corpus (signature → bands), then two writes. The
    bands dataset is repartitioned by (band, bucket) — the join key of
    every future ingest — so its files are bucket-clustered.
    ``max_tokens`` (the giant-document cap) is recorded in the manifest
    and enforced on every append/query: it defines the signature space
    like num_hashes/shingle_len do."""
    assert_literal_path(path, "index path")
    # undersized-scan fan-out (parallelism.py): a corpus arriving as
    # fewer splits than cores would serialize the shingling/signature
    # stage on those tasks; identity on a real many-file corpus
    df = fan_out(df)
    banded, shingles = _minhash_sign(
        df, id_col, text_col, num_hashes, bands, shingle_len, portable, max_tokens
    )
    write_index(
        df,
        id_col,
        path,
        _minhash_params(num_hashes, bands, shingle_len, portable, max_tokens),
        {
            "bands": banded.repartition(index_partitions, "band", "bucket"),
            "shingles": shingles,
        },
    )


def dedup_against_index(
    spark: SparkSession,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_len: int = 3,
    jaccard_threshold: float = 0.7,
    max_tokens: int | None = SIGNATURE_MAX_TOKENS,
    portable: bool = False,
) -> DataFrame:
    """(new_id, corpus_id, jaccard ≥ threshold) for a new batch vs the
    stored index — same semantics as minhash_lsh_join(new, corpus, ...)
    but the corpus side costs one index read, not a recompute.

    The signature parameters MUST match the ones the index was built
    with (they define the hash family) — validated against the stored
    manifest, raising on mismatch. ``jaccard_threshold`` is query-time
    only and free to vary."""
    idx = open_index(
        spark,
        path,
        _minhash_params(num_hashes, bands, shingle_len, portable, max_tokens),
    )
    similarity_threshold(jaccard_threshold, "jaccard_threshold")
    new_df = idx.conform(new_df, id_col)
    return _jaccard_pairs(
        *_minhash_sign(
            new_df, id_col, text_col, num_hashes, bands, shingle_len, portable,
            max_tokens,
        ),
        jaccard_threshold,
        corpus=(idx.live("bands"), idx.live("shingles")),
    )


def append_to_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_len: int = 3,
    portable: bool = False,
    owner: str | None = None,
    max_tokens: int | None = SIGNATURE_MAX_TOKENS,
) -> None:
    """Admit a (deduped) batch into the index: append its shingle sets,
    then its band rows (index_core's verify-first append). Appends —
    never rewrites — so the index grows by one file set per ingest; fold
    accumulated micro-batch files back to target-sized, key-clustered
    files with operators.maintenance.compact_index. ``owner`` is the
    streaming ingests' stable append-marker reclaim identity."""
    idx = open_index(
        df.sparkSession,
        path,
        _minhash_params(num_hashes, bands, shingle_len, portable, max_tokens),
    )
    df = idx.conform(df, id_col)
    banded, shingles = _minhash_sign(
        df, id_col, text_col, num_hashes, bands, shingle_len, portable, max_tokens
    )
    idx.append({"shingles": shingles, "bands": banded}, owner)


# ---------- simhash chunk index ----------


def _simhash_params(max_hamming, portable, max_tokens) -> dict:
    return {
        "flavor": "simhash",
        "max_hamming": max_hamming,
        "portable": portable,
        "max_tokens": max_tokens,
    }


def _simhash_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int,
    portable: bool,
    max_tokens: int | None = SIGNATURE_MAX_TOKENS,
) -> DataFrame:
    sh = simhash(df, id_col, text_col, portable=portable, max_tokens=max_tokens)
    return signature_chunks(sh, max_hamming).select(
        "chunk", "ck", F.col("_id").alias("id"), "simhash"
    )


def build_simhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    max_hamming: int = 3,
    portable: bool = False,
    index_partitions: int = 32,
    max_tokens: int | None = SIGNATURE_MAX_TOKENS,
) -> None:
    """Materialize the corpus simhash chunk index at ``path``: one
    signature pass (the expensive tokenize+hash+64-sum aggregate), then
    a chunk explode written clustered on the (chunk, ck) join key.
    ``max_hamming`` fixes the chunking — queries may use the same or a
    TIGHTER radius (the manifest enforces caller ≤ build)."""
    assert_literal_path(path, "index path")
    write_index(
        df,
        id_col,
        path,
        _simhash_params(max_hamming, portable, max_tokens),
        {
            "chunks": _simhash_chunks(
                df, id_col, text_col, max_hamming, portable, max_tokens
            ).repartition(index_partitions, "chunk", "ck")
        },
    )


def dedup_against_simhash_index(
    spark: SparkSession,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    max_hamming: int = 3,
    portable: bool = False,
    max_tokens: int | None = SIGNATURE_MAX_TOKENS,
) -> DataFrame:
    """(new_id, corpus_id, hamming ≤ max_hamming) for a new batch vs the
    stored chunk index — :func:`simhash_near_pairs` semantics restricted
    to cross-side pairs, with the corpus side one index read instead of
    a recompute. Signatures ride the candidate rows, so the hamming
    verify is a codegen'd filter with no re-attach join.

    ``max_hamming`` may be TIGHTER than the build radius (manifest-
    enforced caller ≤ build): the batch chunks at the BUILD radius so
    the equi-join lines up with the stored layout — any pair within the
    caller radius is within the build radius, so some chunk still
    matches — and the hamming filter applies the caller's radius."""
    hamming_radius(max_hamming)
    idx = open_index(
        spark,
        path,
        _simhash_params(max_hamming, portable, max_tokens),
        ranges={"max_hamming": "lte"},
    )
    new_df = idx.conform(new_df, id_col)
    new_chunks = _simhash_chunks(
        new_df, id_col, text_col, int(idx.params["max_hamming"]), portable, max_tokens
    )
    return _hamming_pairs(
        new_chunks, idx.live("chunks"), max_hamming, _CROSS, ("id", "id")
    )


def append_to_simhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    max_hamming: int = 3,
    portable: bool = False,
    owner: str | None = None,
    max_tokens: int | None = SIGNATURE_MAX_TOKENS,
) -> None:
    """Admit a (deduped) batch's chunk rows into the index (append-only,
    same contract as :func:`append_to_index` — single sub-dataset, so
    the chunk rows carry discovery and verify together). Chunking must
    match the index layout exactly, so ``max_hamming`` must EQUAL the
    build value here (manifest-enforced) — only queries may tighten the
    radius."""
    idx = open_index(
        df.sparkSession, path, _simhash_params(max_hamming, portable, max_tokens)
    )
    df = idx.conform(df, id_col)
    idx.append(
        {
            "chunks": _simhash_chunks(
                df, id_col, text_col, max_hamming, portable, max_tokens
            )
        },
        owner,
    )


# ---------- containment prefix-posting index ----------


def _containment_params(shingle_len, threshold, max_tokens) -> dict:
    return {
        "flavor": "containment",
        "shingle_len": shingle_len,
        "threshold": threshold,
        "max_tokens": max_tokens,
    }


def build_containment_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    shingle_len: int = 3,
    threshold: float = 0.8,
    index_partitions: int = 32,
    max_tokens: int | None = SIGNATURE_MAX_TOKENS,
) -> None:
    """Materialize the corpus containment index at ``path``: full
    inverted postings (clustered on the shingle-hash join key), the
    corpus-side prefix postings at the BUILD threshold (query with the
    same or a higher threshold — a longer prefix than required only adds
    candidates, never loses one), and the hash-set verify payload."""
    assert_literal_path(path, "index path")
    hs = _hash_sets(df, id_col, text_col, shingle_len, max_tokens)
    post, pref = containment_postings(hs, threshold)
    write_index(
        df,
        id_col,
        path,
        _containment_params(shingle_len, threshold, max_tokens),
        {
            "postings": post.select("id", "n", "s").repartition(
                index_partitions, "s"
            ),
            "prefixes": pref,
            "hashsets": hs,
        },
    )


def containment_against_index(
    spark: SparkSession,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    shingle_len: int = 3,
    threshold: float = 0.8,
    max_tokens: int | None = SIGNATURE_MAX_TOKENS,
) -> DataFrame:
    """(new_id, corpus_id, containment_new, containment_corpus) for
    pairs where EITHER direction reaches ``threshold`` —
    :func:`containment_pairs` semantics restricted to cross-side pairs,
    with the corpus side read from the stored index.

    Exactness: C(new, corpus) ≥ t pairs are proposed by the new batch's
    prefixes joined against the full corpus postings; C(corpus, new) ≥ t
    pairs by the STORED corpus prefixes joined against the batch's full
    postings (the direction the batch alone cannot see). Union of the
    two candidate sets + hash-space verify = every qualifying pair.

    ``threshold`` may be HIGHER than the build threshold (manifest-
    enforced caller ≥ build): stored corpus prefixes are then longer
    than the query needs — extra candidates, never a lost pair — while
    the batch's own prefixes and the verify use the caller's value."""
    idx = open_index(
        spark,
        path,
        _containment_params(shingle_len, threshold, max_tokens),
        ranges={"threshold": "gte"},
    )
    similarity_threshold(threshold, "threshold")
    new_df = idx.conform(new_df, id_col)
    hs_new = _hash_sets(new_df, id_col, text_col, shingle_len, max_tokens)
    post_new, pref_new = containment_postings(hs_new, threshold)
    c1 = pref_new.select(F.col("id").alias("new_id"), "s").join(
        idx.live("postings").select(F.col("id").alias("corpus_id"), "s"), "s"
    )
    c2 = post_new.select(F.col("id").alias("new_id"), "s").join(
        idx.live("prefixes").select(F.col("id").alias("corpus_id"), "s"), "s"
    )
    cand = (
        c1.select("new_id", "corpus_id")
        .union(c2.select("new_id", "corpus_id"))
        .dropDuplicates(["new_id", "corpus_id"])
    )
    return _containment_verify(
        cand,
        _CROSS,
        ("containment_new", "containment_corpus"),
        (hs_new, idx.live("hashsets")),
        threshold,
    )


def append_to_containment_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    shingle_len: int = 3,
    threshold: float = 0.8,
    owner: str | None = None,
    max_tokens: int | None = SIGNATURE_MAX_TOKENS,
) -> None:
    """Admit a (deduped) batch into the containment index: append its
    hash sets, then its postings and its prefix postings (ordered by the
    BATCH's own df — any ordering preserves the pigeonhole bound).
    Appended prefixes must be at least as long as the build threshold
    demands, so ``threshold`` must EQUAL the build value here
    (manifest-enforced) — only queries may raise it."""
    idx = open_index(
        df.sparkSession, path, _containment_params(shingle_len, threshold, max_tokens)
    )
    df = idx.conform(df, id_col)
    hs = _hash_sets(df, id_col, text_col, shingle_len, max_tokens)
    post, pref = containment_postings(hs, threshold)
    idx.append(
        {"hashsets": hs, "postings": post.select("id", "n", "s"), "prefixes": pref},
        owner,
    )


# ---------- embedding (banded hyperplane-LSH) index ----------


def _embedding_params(m, bands, seed, dim, **extra) -> dict:
    params = {"flavor": "embedding", "m": m, "bands": bands, "seed": seed, **extra}
    if dim is not None:
        params["dim"] = dim
    return params


def _embedding_bands(df, id_col, vec_col, m, bands, seed, dim) -> DataFrame:
    return hyperplane_banded(
        df,
        id_col,
        vec_col,
        random_hyperplanes(dim, m, seed),
        bands,
        banding_geometry(m, bands, "m"),
    )


def _dim(idx, df: DataFrame, vec_col: str) -> int:
    """The recorded (or caller-validated) dim; sniffed from the batch only
    for pre-manifest indexes — sniffing risks a silent plane mismatch if
    the batch's vectors drifted, which the recorded dim prevents."""
    dim = idx.params.get("dim")
    return sniff_dim(df, vec_col) if dim is None else int(dim)


def build_embedding_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    m: int = 16,
    bands: int = 4,
    seed: int = 42,
    threshold: float = 0.9,
    dim: int | None = None,
    index_partitions: int = 32,
) -> None:
    """Materialize the corpus embedding near-dup index at ``path`` —
    the persisted flank of :func:`~dbt_foundation_spark.operators
    .similarity.embedding_near_pairs` (same banded hyperplane-LSH
    blocking, same recall math: 4×4-bit default ≈ 96 % recall at
    cosine 0.9).

    Layout: ``{path}/bands`` (band, bucket, id) clustered on the future
    ingest join key; ``{path}/vectors`` (id, vec) — the verify payload.
    ``threshold`` is the recall DESIGN POINT recorded in the manifest:
    queries may use the same or a HIGHER cosine threshold (bit-agreement
    probability rises with cosine, so banding recall at a stricter
    threshold is at least the designed recall), never a lower one.
    ``dim`` is sniffed from the first row when omitted and recorded, so
    queries and appends never need to re-sniff."""
    assert_literal_path(path, "index path")
    banding_geometry(m, bands, "m")
    # degenerate-identity gate BEFORE the dim sniff: an id-less stored
    # row could never be paired, retracted, or folded, and sniffing
    # first could fix the index's dim from a corrupt NULL-id row's
    # vector — or raise the misleading empty-frame error when that
    # row's vector is NULL
    df = identified(df, id_col)
    if dim is None:
        dim = sniff_dim(df, vec_col)
    write_index(
        df,
        id_col,
        path,
        _embedding_params(
            m,
            bands,
            seed,
            dim,
            threshold=threshold,
            vec_type=df.schema[vec_col].dataType.simpleString(),
        ),
        {
            "bands": _embedding_bands(df, id_col, vec_col, m, bands, seed, dim)
            .withColumnRenamed("_id", "id")
            .repartition(index_partitions, "band", "bucket"),
            "vectors": df.select(
                F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
            ),
        },
    )


def dedup_against_embedding_index(
    spark: SparkSession,
    new_df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    threshold: float = 0.9,
    m: int = 16,
    bands: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """(new_id, corpus_id, cosine_sim ≥ threshold) for a new batch vs
    the stored index — embedding_near_pairs restricted to cross-side
    pairs, with the corpus side read from the index (one band join of
    |batch| × collision-rate rows; corpus vectors touched only for the
    candidate set). (m, bands, seed, dim) define the hash family and
    must equal the build values (manifest-enforced); ``threshold`` may
    be ≥ the build design point."""
    banding_geometry(m, bands, "m")
    idx = open_index(
        spark,
        path,
        _embedding_params(m, bands, seed, dim, threshold=threshold),
        ranges={"threshold": "gte"},
    )
    dim = _dim(idx, new_df, vec_col)
    new_df = idx.conform(new_df, id_col, vec_col)
    cand = _candidate_pairs(
        _embedding_bands(new_df, id_col, vec_col, m, bands, seed, dim),
        idx.live("bands"),
        ["band", "bucket"],
        _CROSS,
        ("_id", "id"),
    )
    # per-pair V.cosine, not embedding_near_pairs' per-side norms: a
    # per-side norm here would run over every stored vector the live
    # read scans, not over the candidates (the two forms are
    # bit-identical)
    return _verify_pairs(
        cand,
        _CROSS,
        {"cosine_sim": V.cosine("_va", "_vb")},
        F.max,
        F.col("cosine_sim") >= threshold,
        sides=(
            (new_df, id_col, {"_va": vec_col}),
            (idx.live("vectors"), "id", {"_vb": "vec"}),
        ),
    )


def append_to_embedding_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    m: int = 16,
    bands: int = 4,
    seed: int = 42,
    dim: int | None = None,
    owner: str | None = None,
) -> None:
    """Admit a (deduped) batch into the embedding index: append its
    vectors, then its band rows. The index content is
    threshold-independent (bands + raw vectors), so only the hash-family
    parameters are validated."""
    banding_geometry(m, bands, "m")
    idx = open_index(df.sparkSession, path, _embedding_params(m, bands, seed, dim))
    # identity gate before any dim resolution sniffs the frame (see
    # build_embedding_index)
    df = identified(df, id_col)
    dim = _dim(idx, df, vec_col)
    df = idx.conform(df, id_col, vec_col)
    idx.append(
        {
            "vectors": df.select(
                F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
            ),
            "bands": _embedding_bands(
                df, id_col, vec_col, m, bands, seed, dim
            ).withColumnRenamed("_id", "id"),
        },
        owner,
    )
