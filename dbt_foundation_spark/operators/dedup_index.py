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
operators/index_core.py. A flavor here is three pieces, listed in
:data:`DETECTORS`: its parameter dict (``_*_params``), ``sign`` (a
conformed frame → its rows in the index layout, one frame per
sub-dataset) and ``pairs`` (the pair kernel over signed frames: within
one frame, or against the index's live rows). Build, append and probe
all sign through it, and so does the streaming ingest
(``streaming.run_dedup_ingest``), which signs each micro-batch once for
its probe, its within-batch pairs and its append.

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

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_foundation_spark.functions import vectors as V
from dbt_foundation_spark.operators.dedup import (
    SIGNATURE_MAX_TOKENS,
    _CROSS,
    _SELF,
    _candidate_pairs,
    _containment_self_pairs,
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
from dbt_foundation_spark.operators.index_core import Index, open_index, write_index
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


def _minhash_frames(df, id_col, text_col, p) -> dict[str, DataFrame]:
    banded, shingles = _minhash_sign(
        df, id_col, text_col, p["num_hashes"], p["bands"], p["shingle_len"],
        p["portable"], p["max_tokens"],
    )
    return {"shingles": shingles, "bands": banded}


def _minhash_pairs(signed, jaccard_threshold, idx: Index | None = None):
    similarity_threshold(jaccard_threshold, "jaccard_threshold")
    return _jaccard_pairs(
        signed["bands"],
        signed["shingles"],
        jaccard_threshold,
        corpus=None if idx is None else (idx.live("bands"), idx.live("shingles")),
    )


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
    p = _minhash_params(num_hashes, bands, shingle_len, portable, max_tokens)
    frames = _minhash_frames(df, id_col, text_col, p)
    frames["bands"] = frames["bands"].repartition(index_partitions, "band", "bucket")
    write_index(df, id_col, path, p, frames)


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
    signed = _minhash_frames(idx.conform(new_df, id_col), id_col, text_col, idx.params)
    return _minhash_pairs(signed, jaccard_threshold, idx)


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
    idx.append(
        _minhash_frames(idx.conform(df, id_col), id_col, text_col, idx.params), owner
    )


# ---------- simhash chunk index ----------


def _simhash_params(max_hamming, portable, max_tokens) -> dict:
    return {
        "flavor": "simhash",
        "max_hamming": max_hamming,
        "portable": portable,
        "max_tokens": max_tokens,
    }


def _simhash_frames(df, id_col, text_col, p) -> dict[str, DataFrame]:
    """Chunked at ``p["max_hamming"]``: the BUILD radius wherever an
    index exists, so the equi-join lines up with the stored layout."""
    sh = simhash(
        df, id_col, text_col, portable=p["portable"], max_tokens=p["max_tokens"]
    )
    return {
        "chunks": signature_chunks(sh, p["max_hamming"]).select(
            "chunk", "ck", F.col("_id").alias("id"), "simhash"
        )
    }


def _simhash_pairs(signed, max_hamming, idx: Index | None = None):
    corpus = None if idx is None else idx.live("chunks")
    return _hamming_pairs(signed["chunks"], corpus, max_hamming, ("id", "id"))


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
    p = _simhash_params(max_hamming, portable, max_tokens)
    frames = _simhash_frames(df, id_col, text_col, p)
    frames["chunks"] = frames["chunks"].repartition(index_partitions, "chunk", "ck")
    write_index(df, id_col, path, p, frames)


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
    signed = _simhash_frames(idx.conform(new_df, id_col), id_col, text_col, idx.params)
    return _simhash_pairs(signed, max_hamming, idx)


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
    idx.append(
        _simhash_frames(idx.conform(df, id_col), id_col, text_col, idx.params), owner
    )


# ---------- containment prefix-posting index ----------


def _containment_params(shingle_len, threshold, max_tokens) -> dict:
    return {
        "flavor": "containment",
        "shingle_len": shingle_len,
        "threshold": threshold,
        "max_tokens": max_tokens,
    }


def _containment_frames(df, id_col, text_col, p) -> dict[str, DataFrame]:
    """Hash sets, full postings and prefix postings at ``p["threshold"]``
    (prefixes ordered by this frame's own df — any ordering preserves
    the pigeonhole bound)."""
    threshold = similarity_threshold(p["threshold"], "threshold")
    hs = _hash_sets(df, id_col, text_col, p["shingle_len"], p["max_tokens"])
    post, pref = containment_postings(hs, threshold)
    return {"hashsets": hs, "postings": post.select("id", "n", "s"), "prefixes": pref}


def _containment_pairs(signed, threshold, idx: Index | None = None):
    """Within one signed frame, or cross-side against the index with
    candidates from both directions (:func:`containment_against_index`)."""
    hs, post, pref = signed["hashsets"], signed["postings"], signed["prefixes"]
    if idx is None:
        return _containment_self_pairs(hs, pref, post, threshold)
    c1 = pref.select(F.col("id").alias("new_id"), "s").join(
        idx.live("postings").select(F.col("id").alias("corpus_id"), "s"), "s"
    )
    c2 = post.select(F.col("id").alias("new_id"), "s").join(
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
        (hs, idx.live("hashsets")),
        threshold,
    )


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
    p = _containment_params(shingle_len, threshold, max_tokens)
    frames = _containment_frames(df, id_col, text_col, p)
    frames["postings"] = frames["postings"].repartition(index_partitions, "s")
    write_index(df, id_col, path, p, frames)


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
    # the batch's own prefixes at the CALLER's threshold (idx.params
    # holds the build value)
    signed = _containment_frames(
        idx.conform(new_df, id_col), id_col, text_col,
        {**idx.params, "threshold": threshold},
    )
    return _containment_pairs(signed, threshold, idx)


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
    idx.append(
        _containment_frames(idx.conform(df, id_col), id_col, text_col, idx.params),
        owner,
    )


# ---------- embedding (banded hyperplane-LSH) index ----------


def _embedding_params(m, bands, seed, dim, **extra) -> dict:
    params = {"flavor": "embedding", "m": m, "bands": bands, "seed": seed, **extra}
    if dim is not None:
        params["dim"] = dim
    return params


def _embedding_frames(df, id_col, vec_col, p) -> dict[str, DataFrame]:
    """Vectors and hyperplane-band rows at the recorded (or
    caller-validated) ``p["dim"]``; the dim is sniffed from the frame
    only for pre-manifest indexes — sniffing risks a silent plane
    mismatch if the batch's vectors drifted, which the recorded dim
    prevents."""
    dim = p.get("dim")
    dim = sniff_dim(df, vec_col) if dim is None else int(dim)
    m, bands = p["m"], p["bands"]
    banded = hyperplane_banded(
        df,
        id_col,
        vec_col,
        random_hyperplanes(dim, m, p["seed"]),
        bands,
        banding_geometry(m, bands, "m"),
    )
    return {
        "vectors": df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
        "bands": banded.withColumnRenamed("_id", "id"),
    }


def _embedding_pairs(signed, threshold, idx: Index | None = None):
    """Per-pair V.cosine, not embedding_near_pairs' per-side norms: a
    per-side norm against the index would run over every stored vector
    the live read scans, not over the candidates (the two forms are
    bit-identical)."""
    pair = _SELF if idx is None else _CROSS
    bands, vecs = (
        (None, signed["vectors"])
        if idx is None
        else (idx.live("bands"), idx.live("vectors"))
    )
    return _verify_pairs(
        _candidate_pairs(signed["bands"], bands, ["band", "bucket"], pair),
        pair,
        {"cosine_sim": V.cosine("_va", "_vb")},
        F.max,
        F.col("cosine_sim") >= threshold,
        sides=(
            (signed["vectors"], "id", {"_va": "vec"}),
            (vecs, "id", {"_vb": "vec"}),
        ),
    )


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
    p = _embedding_params(
        m,
        bands,
        seed,
        dim,
        threshold=threshold,
        vec_type=df.schema[vec_col].dataType.simpleString(),
    )
    frames = _embedding_frames(df, id_col, vec_col, p)
    frames["bands"] = frames["bands"].repartition(index_partitions, "band", "bucket")
    write_index(df, id_col, path, p, frames)


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
    signed = _embedding_frames(
        idx.conform(new_df, id_col, vec_col), id_col, vec_col, idx.params
    )
    return _embedding_pairs(signed, threshold, idx)


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
    df = idx.conform(identified(df, id_col), id_col, vec_col)
    idx.append(_embedding_frames(df, id_col, vec_col, idx.params), owner)


# ---------- the detector table ----------


@dataclass(frozen=True)
class Detector:
    """One dedup flavor as an ingest drives it.

    ``params`` maps the ingest's options (``run_dedup_ingest``'s
    keywords, ``max_tokens`` resolved) to the flavor's manifest keys,
    validated by equality except where ``ranges`` allows a range (a key
    only a query checks); ``threshold`` names the option holding the
    query threshold; ``vector``: the signed column is ``vec_col``,
    conformed as a vector, else ``text_col``.
    ``sign(frame, id_col, col, params)`` → ``{sub: rows}`` in the index
    layout; ``pairs(signed, threshold)`` → the within-frame pairs
    (id_a < id_b, score), ``pairs(signed, threshold, idx)`` → the
    (new_id, corpus_id, score) pairs against the index's live rows."""

    params: Callable[[dict], dict]
    threshold: str
    sign: Callable[..., dict[str, DataFrame]]
    pairs: Callable[..., DataFrame]
    ranges: dict = field(default_factory=dict)
    vector: bool = False


DETECTORS: dict[str, Detector] = {
    "minhash": Detector(
        lambda o: _minhash_params(
            o["num_hashes"], o["bands"], o["shingle_len"], o["portable"],
            o["max_tokens"],
        ),
        "jaccard_threshold",
        _minhash_frames,
        _minhash_pairs,
    ),
    "simhash": Detector(
        lambda o: _simhash_params(o["max_hamming"], o["portable"], o["max_tokens"]),
        "max_hamming",
        _simhash_frames,
        _simhash_pairs,
    ),
    "containment": Detector(
        lambda o: _containment_params(
            o["shingle_len"], o["containment_threshold"], o["max_tokens"]
        ),
        "containment_threshold",
        _containment_frames,
        _containment_pairs,
    ),
    # the stored bands and vectors do not depend on the threshold: it
    # is the build's recall design point, which queries may raise
    "embedding": Detector(
        lambda o: _embedding_params(
            o["m"], o["embed_bands"], o["seed"], o["dim"],
            threshold=o["cosine_threshold"],
        ),
        "cosine_threshold",
        _embedding_frames,
        _embedding_pairs,
        ranges={"threshold": "gte"},
        vector=True,
    ),
}
