"""Deduplication operators for LLM-data pipelines (SURVEY §2.L D1/D2).

Four tiers, all shuffle-bounded (never O(n²) across the corpus):

- exact: hash-groupBy on the raw or fingerprint-normalized text.
- minhash_lsh: shingles → k minhash values → b bands; candidate pairs
  share a band bucket (the classic MinHash-LSH banding scheme); verify
  with true Jaccard on token shingles. Hashes are xxhash64-derived —
  deterministic (fixed seed) and JVM-native; only oracle-checked ops
  (fingerprint) keep the portable md5.
- simhash: 64-bit weighted-bit signature; candidates share one of four
  16-bit chunks (pigeonhole: hamming ≤ 3 ⇒ some chunk equal); verify
  with bit_count(xor).
- embedding near-dup: random-hyperplane LSH buckets → within-bucket
  cosine (functions/vectors.py).

Every step is DataFrame-native: the only joins are equi-joins on bucket
keys, so the shuffles are keyed and AQE-skew-splittable at 100 TB.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dbt_foundation_spark.checkpoint import pin
from dbt_foundation_spark.functions.text import (
    fast_hash64,
    fingerprint,
    md5_hash64,
    token_ngrams,
    tokenize,
)

# Mersenne prime 2^31-1: universal-hash modulus small enough that
# (h % P) * a < 2^62 — no int64 overflow under Spark 4 ANSI mode
_P = (1 << 31) - 1

# Giant-document guard: every signature/shingle path
# computes over AT MOST this many leading whitespace tokens per
# document. A single pathological multi-hundred-MB document otherwise
# materializes its whole distinct-shingle array — and its explode —
# inside ONE task (a per-row explode cannot be split across tasks), an
# executor-OOM hazard invisible to the plan-shape scale gate, which
# checks operator topology, not row size. 100k tokens ≈ 0.5–1 MB of
# text — three orders of magnitude above the corpus P99 (the testdata
# documents top out near 100 tokens) — so documents under the cap
# sign/shingle identically to an uncapped run, and an over-cap doc's
# signature is "the signature of its first 100k tokens", the standard
# production truncation for near-dup fingerprinting. Pass
# ``max_tokens=None`` to any operator to disable; pass a custom value
# CONSISTENTLY to both sides of any index lifecycle (build vs batch)
# or capped docs would sign differently per side.
SIGNATURE_MAX_TOKENS: int | None = 100_000


def identified(df: DataFrame, id_col: str) -> DataFrame:
    """The degenerate-identity entry gate shared by every dedup-family
    signature/shingle/banding path: drop rows whose ``id_col`` is NULL.
    No stable identity means nothing to pair, retract, or keep (the
    sampler rule), and pre-contract such rows fell out SILENTLY through
    NULL comparisons downstream. One helper, one contract — any future
    refinement (per the no-silent-caps rule, e.g. an excluded-row
    metric) lands here once instead of at every call site. See
    :func:`minhash_signature` for the duplicate-id half of the
    contract (one signature per distinct text, strongest-evidence pair
    folds)."""
    return df.filter(F.col(id_col).isNotNull())


def exact_dedup(df: DataFrame, cols: list[str], keep_order: list | None = None) -> DataFrame:
    """D1: exactly one row per value-combination. With keep_order, the
    winner is deterministic (row_number); otherwise dropDuplicates
    (cheaper: partial dedup map-side before the shuffle).

    keep_order TIES (duplicate or NULL order values within a group)
    fall through to an md5-over-the-whole-row tiebreak — the same
    rerun-stable, engine-portable keeper cdc_snapshot uses — so the
    kept row never depends on partition order. Exact full-row
    duplicates share the hash and are interchangeable by definition."""
    if keep_order is None:
        return df.dropDuplicates(cols)
    w = Window.partitionBy(*cols).orderBy(
        *keep_order,
        # UTC-rendered to_json: without the option the hash of a
        # timestamp column depends on spark.sql.session.timeZone and
        # the "deterministic" keeper flips between cluster configs
        F.md5(F.to_json(F.struct(*df.columns), {"timeZone": "UTC"})).asc(),
    )
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def duplicate_clusters(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact-dup clusters on the normalized fingerprint: (fingerprint,
    keeper_id, n_members) for clusters of size > 1."""
    fp = df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
    return (
        fp.groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > 1)
    )


def minhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    shingle_len: int = 3,
    portable: bool = False,
    max_tokens: int | None = SIGNATURE_MAX_TOKENS,
) -> DataFrame:
    """(id, minhash array<bigint> of length num_hashes) per document
    VERSION — one row per (id, distinct text). Signature input is the
    doc's first ``max_tokens`` tokens (:data:`SIGNATURE_MAX_TOKENS` —
    the giant-document guard).

    Degenerate identities: a duplicated id with DIFFERENT text must not
    fold both texts into one aggregate — a groupBy(id) would merge the
    two shingle streams into one signature that bands like NEITHER
    version, so one corrupt duplicate row could silently change which
    pairs a CLEAN doc matches. The group key is (id, xxhash64(text)):
    unique-id corpora produce one row per id, exact full-row duplicates
    collapse, and a multi-version id yields one signature per version —
    the same per-version rows the persisted index stores, folded to
    strongest evidence by :func:`_verify_pairs`. NULL-id rows are
    excluded up front: with no stable identity there is nothing to
    pair, retract, or keep (the sampler contract).

    h_i(s) = (a_i * (H(s) mod P) + b_i) mod P over xxhash64-derived H
    with P = 2^31-1 — deterministic (fixed seed), and every intermediate
    product < 2^62 (ANSI-safe).

    Shape chosen for codegen, not elegance: explode the shingles, hash
    ONCE per (doc, shingle) row inside whole-stage codegen, then compute
    the k mins as grouped aggregates. Higher-order-function lambdas are
    interpreted and re-evaluate subtrees per element (k× the hashing per
    shingle); grouped min-aggs are fused JVM loops with map-side partial
    aggregation, so the doc_id shuffle carries k longs per doc — not the
    shingle set.

    ``portable=True`` swaps the base hash to :func:`md5_hash64` so the
    identical signature math can be replayed in any engine with md5
    (the cross-engine-oracle path); default xxhash64 stays the fast
    engine-internal choice."""
    if num_hashes < 1:
        raise ValueError(
            f"num_hashes={num_hashes}: a minhash signature needs >= 1 "
            "hash (0 surfaced as an opaque empty-aggregate assertion)"
        )
    return _minhash_sig_from_arrays(
        _shingle_array_frame(df, id_col, text_col, shingle_len, max_tokens),
        num_hashes,
        portable,
    )


def _shingle_array_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_len: int,
    max_tokens: int | None,
    hashed: bool = False,
) -> DataFrame:
    """(_id, _ver, _sh) — one row per input row with the document's
    DISTINCT shingle array. The single tokenize/shingle pass every
    minhash stage derives from: the signature explodes it, the verify
    re-attaches it. :func:`_minhash_sign` pins this frame so the
    corpus is tokenized ONCE per query (otherwise the signature subtree
    and each verify attach re-tokenize it — 3 full scans; at 100 TB the
    pin is a disk-backed cache the size of one posting shuffle, strictly
    cheaper than re-running the dominant map stage).

    ``hashed=True`` (the fast, non-portable flavor) stores
    ``_sh array<bigint>`` = the xxhash64'd shingle set instead of the
    strings — ~3× lighter to pin, ship and compare (containment's
    long-hash pattern). Signature math is BIT-IDENTICAL because the
    fast signature's base hash is xxhash64(shingle) — exactly the
    stored long (``_minhash_sig_from_arrays`` just skips the re-hash).
    The outer ``array_distinct`` guards an intra-doc 64-bit collision
    (two distinct shingles → one hash slot), mirroring
    :func:`hashed_shingle_sets`; signatures are unaffected either way
    (equal hashes share every h_i, min-aggs collapse duplicates). The
    PORTABLE flavor must keep strings — its md5 base hash is replayed
    from shingle strings by the DuckDB oracle."""
    sh = F.array_distinct(token_ngrams(text_col, shingle_len, max_tokens))
    if hashed:
        sh = F.array_distinct(F.transform(sh, lambda s: F.xxhash64(s)))
    return identified(df, id_col).select(
        F.col(id_col).alias("_id"),
        # version key: engine-internal grouping only (never replayed by
        # an oracle — with unique ids it is constant within each group)
        F.xxhash64(F.col(text_col)).alias("_ver"),
        sh.alias("_sh"),
    )


def _hashed_attach(arr: DataFrame, hashed: bool) -> DataFrame:
    """The verify-attach view of a :func:`_shingle_array_frame`, in the
    persisted index's shingles layout: (id, shingles array<bigint>).
    Renames only for a ``hashed`` frame; for a
    portable (string) frame it xxhash64's the arrays AFTER the pin read
    and BEFORE the attach join, so the join exchange ships longs and
    the pair-level intersect/union compares longs (the measured ~2.5×
    verify win containment_pairs documents). Hash-space jaccard
    equals string-space jaccard unless two distinct shingles of the
    compared pair collide in 64 bits (expected colliding pairs
    S²/2⁶⁵ ≈ 2·10⁻⁹ at S=260 k — the containment collision-odds
    contract), so the emitted doubles match the string-space DuckDB
    oracles with overwhelming probability."""
    sh = F.col("_sh")
    if not hashed:
        sh = F.array_distinct(F.transform(sh, lambda s: F.xxhash64(s)))
    return arr.select(F.col("_id").alias("id"), sh.alias("shingles"))


def _minhash_sig_from_arrays(
    arr: DataFrame, num_hashes: int, portable: bool, hashed: bool = False
) -> DataFrame:
    """minhash signatures from a :func:`_shingle_array_frame` — the
    explode + k-min-aggregate half of :func:`minhash_signature`,
    separated so callers that already hold (and pin) the shingle arrays
    do not pay a second tokenize pass. ``hashed`` arrays already carry
    xxhash64(shingle) — the fast flavor's base hash — so the explode
    feeds pmod directly (bit-identical signatures, zero re-hash)."""
    if hashed and portable:
        raise ValueError(
            "portable signatures hash md5 over shingle STRINGS — a "
            "hashed (xxhash64) shingle frame cannot feed them"
        )
    coeffs = _hash_coeffs(num_hashes)
    base_hash = md5_hash64 if portable else fast_hash64
    exploded = arr.select("_id", "_ver", F.explode("_sh").alias("_s"))
    hashed_col = F.col("_s") if hashed else base_hash("_s")
    h = exploded.select(
        "_id", "_ver", F.pmod(hashed_col, F.lit(_P)).alias("_h")
    )
    # k-min aggs as ONE SQL string each: the Column-by-Column form
    # costs ~6 Py4J driver roundtrips per hash (~200 for k=32), a
    # measured ~0.4 s of per-OPERATION driver constant on the index
    # append/query paths. F.expr parses the identical arithmetic in one
    # JVM call, to the same expression tree.
    aggs = [
        F.expr(f"min((_h * {a} + {b}) % {_P}) AS _mh{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    mhs = ", ".join(f"_mh{i}" for i in range(num_hashes))
    return (
        h.groupBy("_id", "_ver")
        .agg(*aggs)
        .select("_id", F.expr(f"array({mhs}) AS minhash"))
    )


def _hash_coeffs(k: int) -> list[tuple[int, int]]:
    """Fixed (a, b) pairs from a deterministic LCG (seed baked in so
    signatures are stable across runs and engines)."""
    coeffs, x = [], 88172645463325252
    for _ in range(k):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x % (_P - 1)) + 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = x % _P
        coeffs.append((a, b))
    return coeffs


def banding_geometry(num_hashes: int, bands: int, what: str = "num_hashes") -> int:
    """Validated rows-per-band for minhash / hyperplane banding:
    ``bands < 1`` would die in an integer division, ``num_hashes <
    bands`` would produce empty buckets that surface as an
    xxhash64-arity error deep inside codegen, and a non-dividing
    ``bands`` would SILENTLY ignore the trailing ``num_hashes % bands``
    hashes — narrower banding than the caller designed. All three get
    one named error at the operator boundary."""
    if num_hashes < 1 or bands < 1:
        raise ValueError(
            f"{what}={num_hashes} and bands={bands} must both be >= 1"
        )
    if num_hashes < bands:
        raise ValueError(
            f"bands={bands} exceeds {what}={num_hashes} — every band "
            "needs at least one hash"
        )
    if num_hashes % bands:
        raise ValueError(
            f"bands={bands} does not divide {what}={num_hashes} — the "
            f"last {num_hashes % bands} hash(es) would be silently "
            "ignored; pick a dividing band count. If these values come "
            "from an existing index's manifest (built before this check, "
            "when the trailing hashes were silently dropped), the index "
            "signatures were narrower than designed all along and the "
            "only heal is a rebuild with a dividing geometry"
        )
    return num_hashes // bands


def similarity_threshold(threshold: float, name: str) -> float:
    """Validated similarity threshold for the set-overlap detectors:
    jaccard/containment live in [0, 1], and
    the inverted-index candidate generation only materializes pairs
    sharing at least one shingle — so a threshold <= 0, instead of
    meaning "all pairs", SILENTLY under-reports (zero-overlap pairs
    never surface). Out-of-domain thresholds raise at the operator
    boundary; cosine thresholds are NOT routed here (cosine is
    legitimately negative)."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(
            f"{name}={threshold}: must be in (0, 1] — a threshold <= 0 "
            "would silently under-report (the inverted index never "
            "materializes zero-overlap pairs) and > 1 can never match"
        )
    return threshold


def _band_buckets(
    sig: DataFrame, bands: int, rows_per_band: int, portable: bool
) -> DataFrame:
    """(id, band, bucket) — one row per (doc, band), bucket = the band's
    r consecutive minhash values collapsed to a string key. Portable mode
    keeps the raw values joined with '|' (replayable anywhere); the fast
    flavor compresses them through xxhash64 (shorter shuffle keys).

    Built as ONE F.expr: the Column-by-Column form costs ~8 Py4J
    roundtrips per band — per-operation driver constant on the ingest
    hot path (see _minhash_sig_from_arrays)."""

    def bucket_sql(b: int) -> str:
        vals = [f"minhash[{b * rows_per_band + r}]" for r in range(rows_per_band)]
        if portable:  # cross-engine-replayable bucket key (no xxhash64)
            return (
                "concat_ws('|', "
                + ", ".join(f"cast({v} AS string)" for v in vals)
                + ")"
            )
        return f"cast(xxhash64({', '.join(vals)}) AS string)"

    rows = ", ".join(
        f"named_struct('band', {b}, 'bucket', {bucket_sql(b)})"
        for b in range(bands)
    )
    return sig.select(
        "_id", F.expr(f"explode(array({rows})) AS bb")
    ).select(F.col("_id").alias("id"), "bb.band", "bb.bucket")


# Output id columns of the pair kernel: a batch paired with itself, and
# a batch paired with a corpus (recomputed or a persisted index).
_SELF = ("id_a", "id_b")
_CROSS = ("new_id", "corpus_id")


def _minhash_sign(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_len: int,
    portable: bool,
    max_tokens: int | None,
    pin_signature: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """(bands (band, bucket, id), shingles (id, shingles array<bigint>))
    — a frame's minhash blocking rows and verify payload, in the
    persisted index's layout. The one signing path of every minhash
    operator: batch, recomputed corpus, index build and index append.
    ``max_tokens`` caps BOTH the signature and the verify shingles, so
    candidate space and verify space agree.

    One tokenize pass: the shingle-array frame is lazily pinned and
    feeds both the signature and the verify shingles. The verify
    shingles are xxhash64 longs on both flavors (:func:`_hashed_attach`):
    the fast flavor pins the hashed frame outright (bit-identical
    signatures, ~3× smaller pin), the portable flavor pins strings (its
    md5 signature needs them) and hashes at attach time.

    ``pin_signature`` also pins the signature, for a self-join whose two
    sides both read the bands: unpinned, AQE broadcasts one side of the
    band self-join, no exchange is reused, and the k-min aggregate runs
    twice. The pinned signatures are k longs per doc; at 100 TB both
    pins are disk-backed caches, cheaper than re-running the dominant
    map stages."""
    rows_per_band = banding_geometry(num_hashes, bands)
    hashed = not portable
    arr = pin(
        _shingle_array_frame(
            df, id_col, text_col, shingle_len, max_tokens, hashed=hashed
        ),
        eager=False,
    )
    sig = _minhash_sig_from_arrays(arr, num_hashes, portable, hashed=hashed)
    if pin_signature:
        sig = pin(sig, eager=False)
    return (
        _band_buckets(sig, bands, rows_per_band, portable),
        _hashed_attach(arr, hashed),
    )


def _candidate_pairs(
    left: DataFrame,
    right: DataFrame | None,
    keys: list[str],
    pair: tuple[str, str] = _SELF,
    ids: tuple[str, str] = ("id", "id"),
    ride: str | None = None,
) -> DataFrame:
    """Blocking: distinct ``pair`` = (a, b) id pairs whose ``left`` and
    ``right`` rows agree on every equi-join ``keys`` column. ``right=
    None`` joins ``left`` with itself and keeps a < b, so each unordered
    pair is proposed once. ``ids`` names each side's id column.

    Only keys and ids cross the join: the heavy verify payload is
    re-attached to the (much smaller) candidate set afterwards
    (:func:`_verify_pairs`), so the blocking shuffle is
    bytes-per-row-bounded and AQE-skew-splittable; shipping the payload
    through it would multiply shuffle volume by the number of bands.

    ``ride`` names a payload column carried through the join instead, as
    ``sh_a``/``sh_b`` — for a detector whose payload is its own 8-byte
    blocking signature (simhash). The rows then come back once per key
    collision, not deduplicated: the verify filters them before the pair
    fold, so the fold's shuffle carries only true pairs."""
    a, b = pair
    ride_a = [F.col(ride).alias("sh_a")] if ride else []
    ride_b = [F.col(ride).alias("sh_b")] if ride else []
    rows = left.select(*keys, F.col(ids[0]).alias(a), *ride_a).join(
        (left if right is None else right).select(
            *keys, F.col(ids[1]).alias(b), *ride_b
        ),
        keys,
    )
    if right is None:
        rows = rows.filter(F.col(a) < F.col(b))
    return rows if ride else rows.select(a, b).dropDuplicates([a, b])


def _verify_pairs(
    rows: DataFrame,
    pair: tuple[str, str],
    scores: dict[str, Column],
    fold: Callable[[str], Column],
    keep: Column,
    sides: tuple = (),
) -> DataFrame:
    """The verify-and-fold every near-dup detector ends in: attach each
    side's payload by id, score each row, apply the threshold, fold to
    one row per ``pair``.

    ``sides`` holds, for a then b, ``(payload frame, its id column,
    {alias: payload column})``, joined to ``rows`` on the pair's id
    column; it is empty when the payload already rides the rows.
    ``scores`` maps each output column to its expression over the
    attached payload, ``keep`` is the threshold predicate over the
    scores, and ``fold`` (``F.max`` or ``F.min``) picks the stronger of
    two scores.

    Multi-version contract: a duplicated id — or an index id re-appended
    with changed content — has one signature and payload row per
    distinct text or vector, so one candidate pair can verify once per
    version pair. The fold leaves ONE row per pair carrying the
    strongest evidence across versions (max jaccard, min hamming,
    column-wise max containment, max cosine): callers see "near-dup if
    ANY version matches", never duplicate pairs or an arbitrary
    version's score. A single score is thresholded before the fold (the
    two commute, and the fold's shuffle then carries only passing rows).
    Several scores fold column-wise first and gate on the folded values:
    a version failing the combined gate can still carry the strongest
    one-sided evidence, so the reported maxima may come from different
    versions."""
    for name, (frame, id_col, cols) in zip(pair, sides):
        rows = rows.join(
            frame.select(
                F.col(id_col).alias(name),
                *[F.col(c).alias(alias) for alias, c in cols.items()],
            ),
            name,
        )
    for name, expr in scores.items():
        rows = rows.withColumn(name, expr)
    folded = [fold(name).alias(name) for name in scores]
    if len(scores) == 1:
        return rows.filter(keep).groupBy(*pair).agg(*folded)
    return rows.groupBy(*pair).agg(*folded).filter(keep)


def _jaccard_pairs(
    bands: DataFrame,
    shingles: DataFrame,
    jaccard_threshold: float,
    corpus: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Minhash band candidates verified by true shingle Jaccard: within
    one signed frame (``corpus=None``; id_a < id_b), or between a batch
    and a corpus. Each side is the (bands, shingles) pair
    :func:`_minhash_sign` returns — or the persisted index stores.

    The verify runs in xxhash64 space: the intersect/union sizes equal
    the string-space ones unless two distinct shingles of the compared
    pair collide in 64 bits (S²/2⁶⁵ ≈ 10⁻⁹ — :func:`_hashed_attach`), so
    the emitted doubles match the string-space DuckDB oracles w.o.p."""
    pair = _SELF if corpus is None else _CROSS
    corpus_bands, corpus_shingles = corpus or (None, shingles)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return _verify_pairs(
        _candidate_pairs(bands, corpus_bands, ["band", "bucket"], pair),
        pair,
        {"jaccard": F.try_divide(inter, union)},
        F.max,
        F.col("jaccard") >= jaccard_threshold,
        sides=(
            (shingles, "id", {"sh_a": "shingles"}),
            (corpus_shingles, "id", {"sh_b": "shingles"}),
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_len: int = 3,
    jaccard_threshold: float = 0.7,
    portable: bool = False,
    max_tokens: int | None = SIGNATURE_MAX_TOKENS,
) -> DataFrame:
    """D2: near-duplicate pairs (id_a < id_b, jaccard ≥ threshold).

    banding: rows/band r = num_hashes/bands; a pair collides iff some
    band's r minhashes all agree → candidate. Verification computes true
    shingle Jaccard only on candidates (:func:`_jaccard_pairs`).

    Hot buckets are the quadratic flank AQE cannot fix (k co-bucketed
    docs → C(k, 2) join-output pairs): collapse exact duplicates FIRST
    (:func:`duplicate_clusters`; the fused ``corpus_pipeline`` does
    this ordering) and pre-flight residual bucket sizes with
    :func:`lsh_bucket_profile`.
    """
    similarity_threshold(jaccard_threshold, "jaccard_threshold")
    return _jaccard_pairs(
        *_minhash_sign(
            df, id_col, text_col, num_hashes, bands, shingle_len, portable,
            max_tokens, pin_signature=True,
        ),
        jaccard_threshold,
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_len: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
    max_tokens: int | None = SIGNATURE_MAX_TOKENS,
) -> DataFrame:
    """Near-subset detection: pairs where either containment direction
    C(A,B) = |A∩B| / |A| (or C(B,A)) reaches ``threshold`` — catches a
    document quoted or wholly embedded inside another, which symmetric
    Jaccard (and therefore minhash banding, whose recall tracks Jaccard)
    under-scores when sizes differ.

    Candidate generation is rare-shingle PREFIX FILTERING, which is
    EXACT at the threshold: order each doc's distinct shingles by
    (global document frequency, shingle) and keep a prefix of length
    ⌊(1−t)·|A|⌋ + 1. If C(A,B) ≥ t then at most (1−t)·|A| of A's
    shingles are absent from B, so any prefix longer than that must
    share a shingle with B — joining prefix postings against the full
    inverted index therefore proposes EVERY qualifying pair (the
    qualifying direction always belongs to the smaller set, and every
    doc emits a prefix). Output equals brute-force all-pairs
    containment, at inverted-index cost.

    Scale shape: the df-count window partitions on the same shingle key
    the candidate join shuffles on (no extra exchange); rarity ordering
    makes prefix postings land on LOW-df shingles, so the posting join
    is Σ_s df_prefix(s)·df(s) with small df — never all-pairs. The join
    keeps only rows where the PREFIX side is the smaller document: the
    greater containment direction always belongs to the smaller set
    (same intersection, smaller denominator), so larger→smaller prefix
    hits are redundant — recall stays exact, candidates drop ~10-25 %.
    ``max_df`` optionally drops index postings above a df cap (the
    stopword guard from ngram_jaccard_pairs); that trades exactness for
    a hard candidate bound when a pathological corpus needs it.

    Posting keys AND the verify arrays are xxhash64(shingle) — longs
    shuffle, hash and compare far cheaper than shingle strings (the
    verify carries two ~|sh| arrays through the candidate join, so its
    bytes dominate; at sf0.1 switching it from string to long arrays
    cut the warm verify stage ~2.5×). Collisions only MERGE shingles:
    in candidate generation that can only raise hash-space containment
    above shingle containment, so every qualifying pair is still
    proposed (recall-safe). The verify computes containment in hash
    space too; it equals string-shingle containment unless two DISTINCT
    shingles in the compared pair collide in 64 bits — across a corpus
    of S distinct shingles the expected number of colliding pairs is
    S²/2⁶⁵ (≈2·10⁻⁹ at S=260 k), so the emitted values are the exact
    string-space values with overwhelming probability, and the DuckDB
    string-space oracle stays green."""
    similarity_threshold(threshold, "threshold")
    hs = _hash_sets(df, id_col, text_col, shingle_len, max_tokens)
    post, pref = containment_postings(hs, threshold)
    index = post if max_df is None else post.filter(F.col("df") <= max_df)
    return _containment_self_pairs(hs, pref, index, threshold)


def _containment_self_pairs(
    hs: DataFrame, pref: DataFrame, index: DataFrame, threshold: float
) -> DataFrame:
    """Within-frame containment pairs (id_a < id_b) from one frame's
    hash sets, prefix postings and (id, n, s) postings: each prefix
    joined against the postings of a document at least as large, then
    verified in hash space (:func:`containment_pairs`)."""
    cand = (
        pref.select(F.col("id").alias("_pid"), F.col("n").alias("_pn"), "s")
        .join(
            index.select(F.col("id").alias("_iid"), F.col("n").alias("_in"), "s"),
            "s",
        )
        .filter((F.col("_pid") != F.col("_iid")) & (F.col("_pn") <= F.col("_in")))
        .select(
            F.least("_pid", "_iid").alias("id_a"),
            F.greatest("_pid", "_iid").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return _containment_verify(
        cand, _SELF, ("containment_a", "containment_b"), (hs, hs), threshold
    )


def _containment_verify(
    cand: DataFrame,
    pair: tuple[str, str],
    names: tuple[str, str],
    sets: tuple[DataFrame, DataFrame],
    threshold: float,
) -> DataFrame:
    """Hash-space containment of each candidate pair in both directions,
    ``names`` = (|a∩b|/|a|, |a∩b|/|b|), kept where either reaches
    ``threshold``. ``sets`` are each side's :func:`hashed_shingle_sets`
    frame (id, hs)."""
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return _verify_pairs(
        cand,
        pair,
        {
            names[0]: F.try_divide(inter, F.size("sh_a")),
            names[1]: F.try_divide(inter, F.size("sh_b")),
        },
        F.max,
        F.greatest(*names) >= threshold,
        sides=((sets[0], "id", {"sh_a": "hs"}), (sets[1], "id", {"sh_b": "hs"})),
    )


def _hash_sets(df, id_col, text_col, shingle_len, max_tokens) -> DataFrame:
    """Lazily pinned :func:`hashed_shingle_sets`: the postings, the
    prefixes and both verify attaches all derive from this one frame, so
    the tokenize+hash pass runs once (unpinned it runs once for the
    postings and once per broadcast attach side). The pin is ~8 bytes
    per distinct shingle per doc — the bytes the posting exchange ships
    anyway."""
    return pin(
        hashed_shingle_sets(df, id_col, text_col, shingle_len, max_tokens),
        eager=False,
    )


def hashed_shingle_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_len: int = 3,
    max_tokens: int | None = SIGNATURE_MAX_TOKENS,
) -> DataFrame:
    """(id, hs array<bigint>) — each document's DISTINCT xxhash64'd
    shingle set, the canonical hash space for containment detection.

    array_distinct AFTER hashing: an intra-doc 64-bit collision would
    otherwise waste a prefix slot and void the pigeonhole guarantee;
    |hs| is the distinct-HASH count so the prefix bound is exact in the
    space the join actually runs in.

    Shared by :func:`containment_pairs` and the persisted prefix index
    (operators/dedup_index.py) — the persisted-vs-recompute equivalence
    contract requires both paths to hash and dedup identically, so
    neither may inline its own copy."""
    # NULL-id rows are excluded: no stable identity, nothing to pair
    # or retract (see minhash_signature's degenerate-identity contract)
    return identified(df, id_col).select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            F.transform(
                F.array_distinct(token_ngrams(text_col, shingle_len, max_tokens)),
                lambda s: F.xxhash64(s),
            )
        ).alias("hs"),
    )


def containment_postings(
    hs: DataFrame, threshold: float
) -> tuple[DataFrame, DataFrame]:
    """(full postings (id, n, s, df), prefix postings (id, n, s)) for a
    :func:`hashed_shingle_sets` frame.

    The prefix keeps ⌊(1−t)·n⌋ + 1 shingles per doc ordered by
    within-frame document frequency — the pigeonhole bound holds for
    ANY ordering (it is purely count-based), rarity only minimizes the
    posting-join cost. +1e-9 counters float round-down of (1−t)·n
    (e.g. 0.4·35 → 13.999999…); overshooting only ADDS candidates —
    recall-safe. The lazy checkpoint materializes the exploded +
    df-counted postings once for both returned frames (no job at
    plan-build time). Shared with the persisted index — see
    :func:`hashed_shingle_sets`."""
    post = hs.select("id", F.size("hs").alias("n"), F.explode("hs").alias("s"))
    post = pin(
        post.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("s"))
        ),
        eager=False,
    )
    prefix_len = F.floor((1.0 - threshold) * F.col("n") + 1e-9) + 1
    rarity = Window.partitionBy("id").orderBy("df", "s")
    pref = (
        post.withColumn("_rn", F.row_number().over(rarity))
        .filter(F.col("_rn") <= prefix_len)
        .select("id", "n", "s")
    )
    return post, pref


def minhash_lsh_join(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_len: int = 3,
    jaccard_threshold: float = 0.7,
    portable: bool = False,
    max_tokens: int | None = SIGNATURE_MAX_TOKENS,
) -> DataFrame:
    """Incremental dedup: near-dup pairs between a NEW batch and an
    existing corpus — (new_id, corpus_id, jaccard ≥ threshold) — with
    candidates generated ONLY across the two sides, never within either.

    This is the daily-ingest shape at 100 TB: the corpus side's
    signatures/bands are a precomputed, incrementally-maintained index.
    They are recomputed here; ``dedup_index.dedup_against_index`` runs
    this same pair code with the corpus's (bands, shingles) read from a
    persisted index clustered by (band, bucket).
    Cost scales with |new| × collision rate, not |corpus|² — re-running
    the full self-join dedup per ingest would be quadratic in corpus
    size over time.

    Same banding math as :func:`minhash_lsh_pairs`, so a doc's signature
    is identical whether it arrives in the batch or sat in the corpus —
    the incremental result equals the cross-side subset of the full
    self-join's output (the property the DuckDB oracle checks).
    """
    similarity_threshold(jaccard_threshold, "jaccard_threshold")

    def sign(side: DataFrame) -> tuple[DataFrame, DataFrame]:
        return _minhash_sign(
            side, id_col, text_col, num_hashes, bands, shingle_len, portable,
            max_tokens,
        )

    return _jaccard_pairs(*sign(new_df), jaccard_threshold, corpus=sign(corpus_df))


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Collapse near-dup pairs into duplicate clusters: (id, component)
    where component = the minimum id reachable through the pair graph —
    the step that turns pairwise LSH output into "keep one doc per
    cluster" at corpus scale.

    Iterative min-label propagation: each round is one keyed equi-join +
    groupBy-min (map-side combined), and a lineage-truncating pin keeps
    the plan O(1) across rounds (``checkpoint.pin`` — executor-local by
    default; set ``spark.dbt_foundation_spark.checkpointDir`` for
    cluster-durable reliable checkpoints). Rounds needed = component
    diameter; near-dup clusters are small (2-5 docs), so this converges
    in 2-3 rounds — never O(|V|) like a driver-side union-find. The
    convergence probe is the strictly-decreasing exact sum of labels
    (decimal — no bigint overflow at any corpus size), one scalar per
    round.

    Degenerate edges: a pair with a NULL endpoint is dropped at entry —
    an edge to an unknown document is no evidence (the detectors never
    emit one, but a user-supplied pair list can). Kept, the NULL
    endpoints would fabricate a (NULL, component) output row, since all
    NULL "nodes" collapse into one groupBy key while the propagation
    join (NULL equality) never reaches them. Self-loops (id_a == id_b) are harmless — the node
    labels itself — and pass through."""
    fwd = pairs.filter(
        F.col(id_a).isNotNull() & F.col(id_b).isNotNull()
    ).select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # checkpoint the edge list too: it usually hangs off an expensive
    # upstream DAG (the whole LSH pipeline) that would otherwise
    # re-execute on every propagation round. All pins here are LAZY
    # (eager=False): every round already runs one full-pass action —
    # the convergence probe — so the probe materializes the round's
    # checkpoint as a side effect and each round costs ONE Spark job
    # instead of two (the eager pin job + the probe job); the initial
    # edges+labels pair folds into the first probe the same way
    # (guide §1.2: remove passes before tuning anything else).
    edges = pin(
        fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ),
        eager=False,
    )
    labels = pin(
        edges.groupBy("src")
        .agg(F.min("dst").alias("_nbr"))
        .select(F.col("src").alias("id"), F.least("src", "_nbr").alias("comp")),
        eager=False,
    )

    def _probe(df: DataFrame):
        return df.agg(F.sum(F.col("comp").cast("decimal(38,0)"))).first()[0]

    prev = _probe(labels)
    for _ in range(max_iterations):
        prop = (
            edges.alias("e")
            .join(labels.alias("l"), F.col("e.src") == F.col("l.id"))
            .select(F.col("e.dst").alias("id"), F.col("l.comp").alias("comp"))
        )
        labels = pin(
            labels.unionByName(prop)
            .groupBy("id")
            .agg(F.min("comp").alias("comp")),
            eager=False,  # the probe below materializes it (one job)
        )
        cur = _probe(labels)
        if cur == prev:
            break
        prev = cur
    return labels


def repeated_ngram_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_docs: int = 2,
    max_tokens: int | None = SIGNATURE_MAX_TOKENS,
) -> DataFrame:
    """Cross-document repeated-span signal: per document, how much of it
    re-occurs VERBATIM elsewhere in the corpus — the memorization /
    boilerplate risk metric behind exact-substring dedup (near-dup
    pair detection answers "which docs are similar"; this answers "which
    spans are shared", catching templated headers/footers and quoted
    passages that pairwise metrics dilute).

    Returns (id, n_spans, n_repeated, repeated_ratio, max_span_docs):
    distinct n-token spans per doc, how many of them appear in ≥
    ``min_docs`` distinct documents, and the widest such spread.
    NULL-text documents produce no spans and are absent from the
    output (the NULL-shingle contract).

    Shape: distinct spans exploded per doc make the span's window
    count(*) EQUAL its distinct-doc frequency (no countDistinct), so the
    whole thing is one span-keyed window + one doc-keyed aggregate — two
    keyed shuffles, both AQE-skew-splittable, no joins, no arrays
    crossing a shuffle."""
    # NULL-id rows get no OUTPUT row (no stable identity to report
    # under) but their grams STAY in the cross-document window — a
    # boilerplate copy whose id was corrupted is still repetition
    # evidence, and filtering it before the window would silently
    # LOWER clean documents' repeated_ratio/max_span_docs (unlike the
    # pair detectors, where NULL ids contribute nothing downstream,
    # here they carry signal for OTHER rows). Per-document
    # metrics otherwise assume UNIQUE ids — run the corpus gate /
    # exact dedup first (the fused pipeline's ordering); a duplicated
    # id counts each of its rows as a document, the honest reading for
    # repetition ("two copies = repeated") though it inflates that
    # id's own n_spans.
    grams = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(token_ngrams(text_col, n, max_tokens))).alias("_g"),
    )
    w = Window.partitionBy("_g")
    gdf = grams.withColumn("_span_docs", F.count(F.lit(1)).over(w))
    rep = (F.col("_span_docs") >= min_docs).cast("bigint")
    return gdf.filter(F.col("_id").isNotNull()).groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(rep).alias("n_repeated"),
        F.round(F.try_divide(F.sum(rep), F.count(F.lit(1))), 6).alias(
            "repeated_ratio"
        ),
        F.max("_span_docs").alias("max_span_docs"),
    )


def keep_best_per_cluster(
    labels: DataFrame,
    scores: DataFrame,
    id_col: str = "id",
    comp_col: str = "comp",
    score_col: str = "score",
) -> DataFrame:
    """Keeper selection for duplicate clusters: given (id, comp) labels
    (connected_components output) and per-id scores, pick the HIGHEST-
    scoring member of each cluster (ties broken by id — deterministic)
    — the "keep the best copy, not the first" policy a quality-aware
    corpus dedup wants.

    Returns (comp, keeper_id, n_members, best_score) — one row per
    cluster, ALWAYS. Eligibility contract: a member whose score is NULL
    (the scoring stage failed for it) is as ineligible as one missing
    from ``scores`` entirely — otherwise a NULL-scored member could
    "win" purely because it had a row while a better member's row was
    absent, emitting a keeper with best_score NULL as if chosen on
    merit. A cluster with NO eligible member keeps its
    row with NULL keeper_id/best_score (an explicit
    nothing-safe-to-keep signal, not a silent vanish) — route those to
    re-scoring, do not drop their members on a keeper that does not
    exist. n_members counts ALL labeled members, eligible or not.
    NaN scores are as ineligible as NULL ones: Spark orders NaN ABOVE
    every finite double, so a failed-scoring member with score=NaN
    would otherwise beat every legitimately scored member — the same
    non-finite hazard the ANN family gates."""
    sc = F.col(score_col).cast("double")
    eligible = scores.where(sc.isNotNull() & ~F.isnan(sc))
    joined = labels.join(eligible, id_col)
    w = Window.partitionBy(comp_col).orderBy(F.desc(score_col), F.col(id_col))
    keepers = (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col(comp_col),
            F.col(id_col).alias("keeper_id"),
            F.col(score_col).alias("best_score"),
        )
    )
    sizes = labels.groupBy(comp_col).agg(F.count(F.lit(1)).alias("n_members"))
    return sizes.join(keepers, comp_col, "left").select(
        comp_col, "keeper_id", "n_members", "best_score"
    )


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    out_col: str = "simhash",
    portable: bool = False,
    max_tokens: int | None = SIGNATURE_MAX_TOKENS,
) -> DataFrame:
    """(id, simhash bigint) per document. Bit i of the signature = sign
    of the sum over distinct tokens of ±1 according to bit i of the
    token hash.

    Same codegen-first shape as minhash_signature: explode tokens, hash
    once per (doc, token) row, then 64 grouped ±1 sums (fused JVM
    aggregate with map-side combine → the shuffle is 64 longs per doc).

    ``portable=True`` mirrors minhash: the token hash becomes two md5
    halves (hex chars 1-15 → bits 0-59, chars 16-30 → bits 60-63), so
    the identical bit math replays in any engine with md5 — the
    cross-engine-oracle path. Default xxhash64 stays the fast flavor.

    Cold-vs-warm note: the 65-buffer hash aggregate compiles ~3 s of generated code, so a
    single cold run ≈ 2× the steady-state cost and small bench deltas
    on this query are compile noise. A lane-packed alternative (4×16-bit
    ones-counts per long, 17 buffers) was measured: ~4 s less compile
    but ~25 % more per-row map work — rejected, because at 100 TB the
    plan compiles once and the map stage is the bill. The pair stage's
    hamming-before-fold filter (:func:`_hamming_pairs`) is what halves
    the query's steady-state wall (3.3 s → 1.85 s at sf0.1). bench.py reports warm timings for the
    slowest queries so the scaling number stays readable."""
    toks = tokenize(text_col)
    if max_tokens is not None:
        # giant-document guard, same contract as token_ngrams(max_tokens)
        toks = F.slice(toks, 1, max_tokens)
    # one signature per (id, distinct text) and no NULL ids — the same
    # degenerate-identity contract as minhash_signature (a groupBy(id)
    # would sum BOTH versions' ±1 bit votes into one signature that
    # matches neither text)
    exploded = identified(df, id_col).select(
        F.col(id_col).alias("_id"),
        F.xxhash64(F.col(text_col)).alias("_ver"),
        F.explode(F.array_distinct(toks)).alias("_tok"),
    )
    if portable:
        md5c = F.md5("_tok")
        hashed = exploded.select(
            "_id",
            "_ver",
            F.conv(F.substring(md5c, 1, 15), 16, 10).cast("bigint").alias("_h"),
            F.conv(F.substring(md5c, 16, 15), 16, 10).cast("bigint").alias("_h2"),
        )
        def bit_sql(i: int) -> str:
            return f"getbit(_h, {i})" if i < 60 else f"getbit(_h2, {i - 60})"
    else:
        hashed = exploded.select("_id", "_ver", fast_hash64("_tok").alias("_h"))
        def bit_sql(i: int) -> str:
            return f"getbit(_h, {i})"
    # ±1 as arithmetic (2*bit − 1), not CaseWhen: 64 fewer branch nodes
    # per row in the codegen'd aggregate. Each aggregate (and the whole
    # 64-term packed fold below) is built as a parsed SQL string: the
    # Column-by-Column form costs ~8 Py4J driver roundtrips per bit —
    # ~0.6 s of per-query/per-ingest constant on every simhash path —
    # and parses to the IDENTICAL expression tree.
    bit_sums = [
        F.expr(f"sum({bit_sql(i)} * 2 - 1) AS _b{i}")
        for i in range(64)
    ]
    # bit 63 of a signed long is the sign bit → its power is -2^63
    # (spelled -9223372036854775807 - 1: the positive literal would
    # overflow the SQL parser's bigint range before negation applies)
    powers = [str(1 << i) for i in range(63)] + ["-9223372036854775807 - 1"]
    packed = F.expr(
        " | ".join(
            f"(CASE WHEN _b{i} > 0 THEN CAST({p} AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END)"
            for i, p in enumerate(powers)
        )
    )
    return (
        hashed.groupBy("_id", "_ver")
        .agg(*bit_sums)
        .select("_id", packed.alias(out_col))
    )


def hamming_radius(max_hamming: int) -> int:
    """Validated simhash radius, shared by the batch detector and the
    index probe so neither accepts a radius the other refuses."""
    if not 0 <= max_hamming <= 31:
        raise ValueError(
            f"max_hamming={max_hamming}: need 0 <= max_hamming <= 31 "
            "(chunks below 2 bits make LSH blocking meaningless)"
        )
    return max_hamming


def signature_chunks(sh: DataFrame, max_hamming: int) -> DataFrame:
    """Explode a (_id, simhash) frame into its pigeonhole chunks:
    (_id, simhash, chunk, ck). The 64 signature bits split into
    ``max_hamming + 1`` chunks — a pair within the radius differs in at
    most ``max_hamming`` bits, so at least one chunk matches exactly and
    candidate generation reduces to an equi-join on (chunk, ck).

    Shared by the in-memory detector (:func:`simhash_near_pairs`) and
    the persisted chunk index (operators/dedup_index.py) so a signature
    chunks identically whether it arrives in a batch or sits in the
    stored corpus index — the property the persisted-vs-recompute
    equivalence tests pin."""
    n_chunks = hamming_radius(max_hamming) + 1
    base, rem = divmod(64, n_chunks)
    widths = [base + 1] * rem + [base] * (n_chunks - rem)
    offsets = [sum(widths[:c]) for c in range(n_chunks)]

    def chunk_val(c: int):
        if widths[c] == 64:  # max_hamming=0: the chunk IS the signature
            return F.col("simhash")  # ((1<<64)-1 would overflow BIGINT)
        return (
            F.shiftright("simhash", offsets[c])
            .bitwiseAND(F.lit((1 << widths[c]) - 1))
        )

    return sh.select(
        "_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("chunk"), chunk_val(c).alias("ck"))
                    for c in range(n_chunks)
                ]
            )
        ).alias("cc"),
    ).select("_id", "simhash", "cc.chunk", "cc.ck")


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    portable: bool = False,
    max_tokens: int | None = SIGNATURE_MAX_TOKENS,
) -> DataFrame:
    """D2 (simhash flavor): pairs with hamming(simhash) ≤ max_hamming.

    Blocking: the 64 signature bits are split into ``max_hamming + 1``
    chunks — a pair within the radius differs in at most ``max_hamming``
    bits, so by pigeonhole at least one chunk is identical and candidates
    reduce to an equi-join per chunk. Deriving the chunk count from the
    radius (rather than a fixed 4×16-bit split, whose guarantee stops at
    hamming ≤ 3) keeps recall exact at ANY configured radius. Note the
    recall/cost trade: more chunks = narrower chunks = bigger buckets;
    radii ≳ 15 (chunks ≤ 4 bits) degenerate toward all-pairs.

    Identical texts share every chunk, so the same quadratic hot-bucket
    flank as minhash applies: collapse exact duplicates first
    (:func:`duplicate_clusters`) — see :func:`lsh_bucket_profile`'s
    docstring for the math.
    """
    # lazily pin the signatures: 5-70 bytes per doc, but the frame is
    # the output of THE dominant stage (tokenize + 64-bit-sum
    # aggregate). Unpinned, AQE broadcasts one side of the chunk
    # self-join, no exchange is reused and that whole stage runs TWICE
    # per query.
    sh = pin(
        simhash(df, id_col, text_col, portable=portable, max_tokens=max_tokens),
        eager=False,
    )
    return _hamming_pairs(signature_chunks(sh, max_hamming), None, max_hamming)


def _hamming_pairs(
    chunks: DataFrame,
    corpus_chunks: DataFrame | None,
    max_hamming: int,
    ids: tuple[str, str] = ("_id", "_id"),
) -> DataFrame:
    """Simhash chunk candidates (:func:`signature_chunks` rows) verified
    by hamming distance ≤ ``max_hamming``: within one frame
    (``corpus_chunks=None``; id_a < id_b) or between a batch and a
    corpus (new_id, corpus_id). The
    signature rides the chunk rows, so the hamming filter — a codegen'd
    bit_count(xor) — runs BEFORE the pair fold, with nothing to
    re-attach: the fold's shuffle carries only true pairs, not every
    multi-chunk collision."""
    pair = _SELF if corpus_chunks is None else _CROSS
    return _verify_pairs(
        _candidate_pairs(
            chunks, corpus_chunks, ["chunk", "ck"], pair, ids, ride="simhash"
        ),
        pair,
        {"hamming": F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))},
        F.min,
        F.col("hamming") <= max_hamming,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    shingle_len: int = 3,
    threshold: float = 0.5,
    max_df: int = 100_000,
    max_tokens: int | None = SIGNATURE_MAX_TOKENS,
) -> DataFrame:
    """D2 (exact-Jaccard flavor): within explicit blocks (e.g. language
    + length bucket), all-pairs shingle Jaccard via an inverted index.

    Shape: explode distinct shingles → self-equi-join on (block,
    shingle) → count co-occurrences per pair → |A∪B| = |A|+|B|−|A∩B|.
    No arrays ever cross a shuffle, pairs with zero overlap are never
    materialized (jaccard ≥ t > 0 needs ≥1 common shingle), and every
    join is keyed. The candidate bound is Σ_shingle df(s)² per block —
    ``max_df`` caps it by dropping postings whose per-block document
    frequency exceeds the cap BEFORE the self-join (stopword shingles
    contribute pairs, not signal; one posting with df=10⁶ alone is 10¹²
    candidates). The df-count window partitions on the SAME key the
    self-join shuffles on, so the guard adds no extra exchange. Set
    sizes stay full-set (zero-shuffle F.size), so a binding cap yields a
    LOWER-BOUND jaccard (dropped shingles count in |A∪B| but not |A∩B|)
    — exact whenever no shingle exceeds the cap, which the default
    guarantees at test scale. ``max_df=None`` disables the guard."""
    similarity_threshold(threshold, "threshold")
    if max_df is not None and max_df < 1:
        raise ValueError(
            f"max_df={max_df}: the document-frequency cap must be >= 1 "
            "(0 drops EVERY posting and silently reports zero pairs); "
            "pass None to disable"
        )
    # degenerate identities (see minhash_signature): NULL ids are
    # excluded; each (id, distinct text) VERSION keys the postings, so
    # a duplicated id cannot merge two texts' co-occurrence counts into
    # one incoherent sum (full-row duplicates collapse to one version
    # row first — a doubled row would double its own intersection
    # counts, pushing "jaccard" past 1.0). The collapse runs on the RAW
    # text BEFORE shingling: collapsing after shingling would shuffle
    # the _sh arrays (~shingle_len× the text bytes) and compute n-grams
    # once per duplicate row; collapsing first keeps the "no arrays
    # cross a shuffle" property and shingles once per distinct version.
    # duplicate collapse as a plain DISTINCT: _ver = xxhash64(_txt)
    # functionally determines _txt, so adding _txt to the key changes no
    # groups — but dropDuplicates on a SUBSET of columns plans as
    # first(_txt), and first() over a string demotes the whole dedup to
    # two Sort + SortAggregate pairs carrying the full text; the
    # all-column form is one HashAggregate with map-side partial dedup.
    base = (
        identified(df, id_col)
        .select(
            *[F.col(c) for c in block_cols],
            F.col(id_col).alias("_id"),
            F.col(text_col).alias("_txt"),
            F.xxhash64(F.col(text_col)).alias("_ver"),
        )
        .dropDuplicates([*block_cols, "_id", "_ver", "_txt"])
    )
    # postings are xxhash64(shingle) longs (the containment pattern):
    # the exploded posting frame, its df-window sort, the pin
    # materialization and the self-join keys all carry an 8-byte long
    # instead of the shingle string. |A∩B| / |A| counts in hash space
    # equal the string-space ones unless two distinct shingles of a
    # compared pair collide in 64 bits (S²/2⁶⁵ ≈ 10⁻⁹ — the
    # containment_pairs collision contract), so the emitted jaccard
    # doubles match the string-space DuckDB oracle w.o.p.
    sh = base.select(
        *[F.col(c) for c in block_cols],
        "_id",
        "_ver",
        F.array_distinct(
            F.transform(
                F.array_distinct(token_ngrams("_txt", shingle_len, max_tokens)),
                lambda s: F.xxhash64(s),
            )
        ).alias("_sh"),
    )
    # set size RIDES the posting rows (one long per row) and folds into
    # the pair group key — _n is functionally determined by (_id, _ver),
    # so grouping on it adds no groups. The alternative (a separate
    # sizes frame joined back per side) costs two keyed join exchanges
    # that would dominate this operator's shuffle budget.
    inv = sh.select(
        *block_cols,
        "_id",
        "_ver",
        F.size("_sh").alias("_n"),
        F.explode("_sh").alias("_s"),
    )
    if max_df is not None:
        dfreq = Window.partitionBy(*block_cols, "_s")
        inv = (
            inv.withColumn("_df", F.count(F.lit(1)).over(dfreq))
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
    # lazily pin the postings: unpinned, AQE broadcasts the right side
    # of the self-join, so the ENTIRE posting subtree (scan, dedup,
    # shingling, explode, df-window) executes twice per query. The pin
    # also preserves the window's (block, _s) partitioning and sort
    # order, which are exactly the self-join's keys — both join sides
    # read one cached materialization with no further exchange. The
    # cache is the exploded postings, the same bytes the join exchange
    # shipped anyway (disk-backed at scale).
    inv = pin(inv, eager=False)
    left = inv.select(
        *block_cols, F.col("_id").alias("id_a"), F.col("_ver").alias("_va"),
        F.col("_n").alias("_na"), "_s",
    )
    right = inv.select(
        *block_cols, F.col("_id").alias("id_b"), F.col("_ver").alias("_vb"),
        F.col("_n").alias("_nb"), "_s",
    )
    common = (
        left.join(right, block_cols + ["_s"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "_va", "_na", "id_b", "_vb", "_nb")
        .agg(F.count(F.lit(1)).alias("_common"))
    )
    jac = F.try_divide(
        F.col("_common"), F.col("_na") + F.col("_nb") - F.col("_common")
    )
    return _verify_pairs(
        common, _SELF, {"jaccard": jac}, F.max, F.col("jaccard") >= threshold
    )



def lsh_bucket_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_len: int = 3,
    portable: bool = False,
    top: int = 20,
    max_tokens: int | None = SIGNATURE_MAX_TOKENS,
) -> DataFrame:
    """Pre-flight skew check for the banding self-join: the ``top``
    largest (band, bucket) member counts with their candidate-pair
    yield ``est_pairs = n·(n−1)/2``.

    The quadratic failure mode of LSH dedup at corpus scale is not the
    shuffle (AQE splits skewed partitions) but the JOIN OUTPUT: k docs
    sharing a band bucket emit C(k, 2) candidate pairs in that band —
    100k boilerplate copies are 5×10⁹ pairs before any verify runs.
    Exact-duplicate collapse must run FIRST (``duplicate_clusters`` /
    the fused ``corpus_pipeline`` ordering) so identical texts enter
    banding as one representative; this profile is the cheap check that
    the residual bucket sizes are sane before launching the pair join —
    one banding pass plus a top-N aggregate, no self-join."""
    sig = minhash_signature(
        df, id_col, text_col, num_hashes, shingle_len, portable, max_tokens
    )
    banded = _band_buckets(sig, bands, banding_geometry(num_hashes, bands), portable)
    n = F.count(F.lit(1))
    return (
        banded.groupBy("band", "bucket")
        .agg(n.alias("n_members"))
        .withColumn(
            "est_pairs",
            (F.col("n_members") * (F.col("n_members") - 1) / 2).cast("bigint"),
        )
        .orderBy(F.desc("n_members"), "band", "bucket")
        .limit(top)
    )
