"""LLM-data-pipeline catalog queries (SURVEY §2.L, Cat D).

Dedup (exact / fingerprint / minhash-LSH / simhash / n-gram Jaccard /
embedding), similarity search (brute-force + LSH ANN), text analysis
(tokens, quality, language-ID, BPE-ish counts), JSON/VARIANT and array
ops, multimodal plumbing. Oracle-checked wherever DuckDB can express the
same deterministic computation — including the LSH pipelines whose
hash/banding math is portable (md5-based minhash replayed in SQL,
seeded hyperplane signatures inlined as literals); only xxhash64-based
signatures (engine-internal by design) and catalog/stateful ops stay
rows-only, with components unit-tested instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_foundation_spark.checkpoint import pin
from dbt_foundation_spark.local_data import local_frame
from dbt_foundation_spark.functions import text as X
from dbt_foundation_spark.functions import vectors as V
from dbt_foundation_spark.queries import query
from dbt_foundation_spark.queries._util import fan_out, t

# ---------- dedup ----------


# Deterministic duplicate seeds unioned into the exact-dup queries so
# the oracle assertion is NON-VACUOUS at every scale (VERDICT r8 #4:
# the testdata plants no exact-duplicate texts below sf0.1, so without
# seeds the sf0.01 driver gate matched on 0 rows — a schema-only
# check).  Negative doc_ids keep the seeds disjoint from real rows;
# the identical literals are replayed in the DuckDB oracle, so the
# comparison still exercises grouping, keeper-min, and counts on a
# guaranteed-non-empty result.
_DUP_SEEDS: tuple[tuple[int, str], ...] = (
    (-1, "exact dedup gate-scale canary alpha"),
    (-2, "exact dedup gate-scale canary alpha"),
    (-3, "exact dedup gate-scale canary alpha"),
    (-4, "exact dedup gate-scale canary beta"),
    (-5, "exact dedup gate-scale canary beta"),
)


def _seeds_sql(seeds: tuple[tuple[int, str], ...]) -> str:
    """The seeds as a DuckDB VALUES relation — the oracle's replay of
    the Spark-side union.  Seed texts must be plain SQL-literal-safe
    strings (enforced here, not by comment: a future seed with an
    apostrophe or backslash would otherwise interpolate into a broken
    or silently-wrong oracle query)."""
    for i, s in seeds:
        if "'" in s or "\\" in s:
            raise ValueError(
                f"seed text for doc_id={i} contains a quote/backslash; "
                "_seeds_sql interpolates raw literals"
            )
    return "(VALUES " + ", ".join(
        f"(CAST({i} AS BIGINT), '{s}')" for i, s in seeds
    ) + ") seeds(doc_id, text)"


def _docs_with_seeds(
    spark: SparkSession, sf_dir: str, seeds: tuple[tuple[int, str], ...]
) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.unionByName(
        local_frame(spark, list(seeds), "doc_id bigint, text string")
    )


_DUP_SEEDS_SQL = _seeds_sql(_DUP_SEEDS)


@query(
    "q_dedup_exact",
    oracle=f"""
    SELECT text, CAST(MIN(doc_id) AS BIGINT) AS keeper_id, COUNT(*) AS n_members
    FROM (SELECT doc_id, text FROM documents
          UNION ALL SELECT * FROM {_DUP_SEEDS_SQL})
    GROUP BY text HAVING COUNT(*) > 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 exact dedup: hash-groupBy duplicate clusters (keeper = min id).

    Map-side partial aggregation makes this one keyed shuffle of the
    distinct texts, not the corpus.  Seeded with deterministic literal
    duplicates (replayed in the oracle) so the check is non-vacuous at
    gate scale."""
    return (
        _docs_with_seeds(spark, sf_dir, _DUP_SEEDS)
        .groupBy("text")
        .agg(F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > 1)
    )


# Fingerprint seeds: raw texts DIFFER (case / padding / interior runs
# of spaces) but normalize to the same fingerprint — non-vacuously
# exercising trim + lower + whitespace-collapse, not just the groupBy.
_FP_SEEDS: tuple[tuple[int, str], ...] = (
    (-11, "  The   QUICK brown Fox  "),
    (-12, "the quick BROWN fox"),
    (-13, "Fingerprint   Canary TWO"),
    (-14, " fingerprint canary two "),
)

_FP_SEEDS_SQL = _seeds_sql(_FP_SEEDS)


@query(
    "q_dedup_fingerprint",
    oracle=rf"""
    SELECT fp, CAST(MIN(doc_id) AS BIGINT) AS keeper_id, COUNT(*) AS n_members
    FROM (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM (SELECT doc_id, text FROM documents
              UNION ALL SELECT * FROM {_FP_SEEDS_SQL})
    )
    GROUP BY fp HAVING COUNT(*) > 1
    """,
)
def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 fingerprint dedup: md5 over whitespace-normalized lowercase
    text — exact-dup detection robust to formatting noise.  Seeded with
    literal formatting-variant duplicates (replayed in the oracle) so
    the normalization path is asserted non-vacuously at gate scale."""
    from dbt_foundation_spark.operators.dedup import duplicate_clusters

    return duplicate_clusters(
        _docs_with_seeds(spark, sf_dir, _FP_SEEDS), "doc_id", "text"
    )


@query(
    "q_dedup_minhash",
    oracle=r"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct(
                   CASE WHEN len(tok) < 3 THEN [array_to_string(tok, ' ')]
                        ELSE list_transform(range(1, len(tok) - 1),
                                            i -> array_to_string(tok[i:i+2], ' '))
                   END
               ) AS toks
        FROM (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tok
            FROM documents
        )
    ), posts AS (
        SELECT doc_id, unnest(toks) AS s FROM sh
    ), cand AS (
        SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
        FROM posts a JOIN posts b USING (s)
        WHERE a.doc_id < b.doc_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
           TRUE AS fast_recall_ok
    FROM cand
    JOIN sh sa ON sa.doc_id = ia
    JOIN sh sb ON sb.doc_id = ib
    WHERE CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE)
          / len(list_distinct(list_concat(sa.toks, sb.toks))) >= 0.5
    """,
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 MinHash-LSH near-dup pairs (fast xxhash64 flavor): shingle →
    32 seeded-universal-hash minhashes → 8 bands → bucket equi-join →
    true-Jaccard verify ≥ 0.5 — validated INSIDE the query against
    ground truth (VERDICT r4 ask #3's pattern, extended).

    The xxhash64 hash family has no DuckDB twin, so the
    driver-comparable output is the EXACT count of true ≥0.5-Jaccard
    pairs (computed by an inverted-index join — any qualifying pair
    shares a shingle — and hash-compared against DuckDB's string-space
    replay) plus a boolean asserting the fast banding recalled ≥ 90 %
    of them (measured 100 % at sf0.001/0.01/0.1: the corpus's real
    near-dups sit far above the threshold where banding recall
    approaches 1). Both sides deterministic; hash-space vs string-space
    Jaccard differs only on 64-bit collisions (S²/2⁶⁵ ≈ 10⁻⁹)."""
    from dbt_foundation_spark.operators.dedup import (
        hashed_shingle_sets,
        minhash_lsh_pairs,
    )

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    fast = minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=32, bands=8, jaccard_threshold=0.5
    ).select("id_a", "id_b")
    # Ground-truth harness, count-based (guide §2.3 "shuffle fewer
    # bytes"): the inverted-index self-join already co-locates every
    # shared shingle of a pair, so |A∩B| is a map-side-combinable
    # COUNT per (id_a, id_b) and |A∪B| = n_a + n_b − |A∩B| with the
    # set sizes riding the posting rows as one long each. The previous
    # shape paid three more exchanges on the same candidate volume —
    # a distinct over the raw pair stream, then two joins shipping the
    # full shingle arrays back to every pair for array_intersect /
    # array_union — to compute the identical integers (sizes of the
    # same distinct-hash sets), hence the identical jaccard doubles
    # and the identical pair set.
    hs = hashed_shingle_sets(docs, "doc_id", "text", 3)
    # lazy pin (r13): both sides of the inverted-index self-join read
    # one materialization of the postings — pre-pin AQE broadcast one
    # side and the tokenize+hash subtree executed twice.
    post = pin(
        hs.select("id", F.size("hs").alias("n"), F.explode("hs").alias("s")),
        eager=False,
    )
    common = (
        post.alias("a")
        .join(post.alias("b"), "s")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("a.n").alias("_na"),
            F.col("b.id").alias("id_b"),
            F.col("b.n").alias("_nb"),
        )
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    verified = pin(
        common.filter(
            F.try_divide(
                F.col("_inter"),
                F.col("_na") + F.col("_nb") - F.col("_inter"),
            )
            >= 0.5
        ).select("id_a", "id_b"),
        eager=False,  # consumed by both aggregates below
    )
    n_true = verified.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    n_found = fast.join(verified, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("_found")
    )
    return n_true.crossJoin(F.broadcast(n_found)).select(  # 1-row scalars
        F.col("n_true_pairs").cast("bigint").alias("n_true_pairs"),
        (F.col("_found") >= 0.9 * F.col("n_true_pairs")).alias("fast_recall_ok"),
    )


_MINHASH_JAC_SQL = (
    "CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE)"
    " / len(list_distinct(list_concat(sa.toks, sb.toks)))"
)

# (doc_id, toks = distinct 3-token shingles) — the tokenization every
# shingle-based oracle shares (identical to functions/text.token_ngrams)
_SH_CTE_SQL = r"""sh AS (
        SELECT doc_id,
               list_distinct(
                   CASE WHEN len(tok) < 3 THEN [array_to_string(tok, ' ')]
                        ELSE list_transform(range(1, len(tok) - 1),
                                            i -> array_to_string(tok[i:i+2], ' '))
                   END
               ) AS toks
        FROM (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tok
            FROM documents
        )
    )"""


def _minhash_portable_ctes(
    num_hashes: int,
    bands: int,
    pair_select: str = "a.doc_id AS id_a, b.doc_id AS id_b",
    pair_pred: str = "a.doc_id < b.doc_id",
    source: str = "documents",
) -> str:
    """Shared CTE body replaying the PORTABLE minhash pipeline in
    DuckDB: identical 3-token shingles, identical base hash (md5 60-bit
    → mod P), identical LCG coefficients, identical banding — so the
    full LSH candidate set (not just verified pairs) is cross-engine
    checked. Ends at the ``cand`` CTE; callers append the verify (and
    optionally the cluster-collapse recursion). ``pair_select`` /
    ``pair_pred`` reshape the candidate join (the incremental dedup
    oracle restricts it to cross-side pairs); ``source`` renames the
    scanned relation/CTE (the fused pipeline oracle shingles its GATED
    survivor set, not raw documents)."""
    from dbt_foundation_spark.operators.dedup import _P, _hash_coeffs

    coeffs = _hash_coeffs(num_hashes)
    r = num_hashes // bands
    mins = ",\n           ".join(
        f"MIN((h0 * {a} + {b}) % {_P}) AS mh{i}" for i, (a, b) in enumerate(coeffs)
    )
    band_rows = "\n        UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat_ws('|', "
        + ", ".join(f"mh{b * r + j}" for j in range(r))
        + ") AS bucket FROM sig"
        for b in range(bands)
    )
    sh_cte = _SH_CTE_SQL.replace("FROM documents", f"FROM {source}")
    return rf"""{sh_cte}, posting AS (
        SELECT doc_id, unnest(toks) AS s FROM sh
    ), hashed AS (
        SELECT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT % {_P} AS h0 FROM posting
    ), sig AS (
        SELECT doc_id,
           {mins}
        FROM hashed GROUP BY doc_id
    ), banded AS (
        {band_rows}
    ), cand AS (
        SELECT DISTINCT {pair_select}
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND {pair_pred}
    )"""


def _minhash_portable_oracle(num_hashes: int, bands: int, threshold: float) -> str:
    return f"""
    WITH {_minhash_portable_ctes(num_hashes, bands)}
    SELECT id_a, id_b, round({_MINHASH_JAC_SQL}, 6) AS jaccard
    FROM cand
    JOIN sh sa ON sa.doc_id = cand.id_a
    JOIN sh sb ON sb.doc_id = cand.id_b
    WHERE {_MINHASH_JAC_SQL} >= {threshold}
    """


@query("q_dedup_minhash_portable", oracle=_minhash_portable_oracle(16, 4, 0.5))
def q_dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 MinHash-LSH with the PORTABLE (md5-based) signature: the
    DuckDB oracle replays the exact shingle/hash/band math, so the whole
    LSH pipeline — not just the verified output — is correctness-gated.
    3-token shingles (the production default): this synthetic corpus
    draws words from a shared vocabulary, so word-set similarity is high
    between unrelated docs and len=1 shingles explode the candidate set
    ~50× — the same selectivity reasoning applies to any 100 TB corpus
    with a narrow vocabulary."""
    from dbt_foundation_spark.operators.dedup import minhash_lsh_pairs

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    pairs = minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        shingle_len=3,
        jaccard_threshold=0.5,
        portable=True,
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@query(
    "q_dedup_components",
    oracle=f"""
    WITH RECURSIVE {_minhash_portable_ctes(16, 4)},
    pairs AS (
        SELECT id_a, id_b FROM cand
        JOIN sh sa ON sa.doc_id = cand.id_a
        JOIN sh sb ON sb.doc_id = cand.id_b
        WHERE {_MINHASH_JAC_SQL} >= 0.5
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b, id_a FROM pairs
    ), reach(id, lab) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
    )
    SELECT id AS doc_id, MIN(lab) AS component
    FROM reach GROUP BY id ORDER BY doc_id
    """,
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER collapse: portable minhash-LSH pairs →
    connected components via iterative min-label propagation (one keyed
    shuffle per round, lineage-truncated) → (doc_id, component=min id
    reachable), the "keep one doc per cluster" step of corpus dedup.
    The DuckDB oracle replays the ENTIRE pipeline: md5 minhash +
    banding + Jaccard verify, then the transitive closure as a
    recursive CTE — so both the pair graph and the clustering are
    cross-engine checked."""
    from dbt_foundation_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    pairs = minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        shingle_len=3,
        jaccard_threshold=0.5,
        portable=True,
    )
    comps = connected_components(pairs, "id_a", "id_b")
    return comps.select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    ).orderBy("doc_id")


@query(
    "q_dedup_corpus",
    oracle=f"""
    WITH RECURSIVE {_minhash_portable_ctes(16, 4)},
    pairs AS (
        SELECT id_a, id_b FROM cand
        JOIN sh sa ON sa.doc_id = cand.id_a
        JOIN sh sb ON sb.doc_id = cand.id_b
        WHERE {_MINHASH_JAC_SQL} >= 0.5
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b, id_a FROM pairs
    ), reach(id, lab) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
    ), comp AS (
        SELECT id, MIN(lab) AS component FROM reach GROUP BY id
    )
    SELECT d.lang, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN c.id IS NULL OR c.id = c.component
                         THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
    FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    GROUP BY d.lang ORDER BY d.lang
    """,
)
def q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus dedup: minhash-LSH pairs → cluster collapse →
    drop every doc that is not its cluster's canonical (min-id) member.
    Reports per-language corpus size and removals — the actual
    training-data dedup materialization, with the whole pipeline
    (hashing, banding, verify, clustering, filter) replayed in the
    DuckDB oracle."""
    from dbt_foundation_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text",
        num_hashes=16, bands=4, shingle_len=3,
        jaccard_threshold=0.5, portable=True,
    )
    comps = connected_components(pairs, "id_a", "id_b")
    removed = F.when(
        F.col("comp").isNull() | (F.col("id") == F.col("comp")), 0
    ).otherwise(1)
    return (
        docs.join(comps, docs["doc_id"] == comps["id"], "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(removed).alias("n_removed"),
        )
        .orderBy("lang")
    )


@query(
    "q_dedup_simhash",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
           TRUE AS simhash_found_all
    FROM documents WHERE doc_id < 20
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 SimHash near-dup pairs: 64-bit weighted-bit signature with
    radius-derived chunk blocking (``max_hamming + 1`` chunks; pigeonhole
    guarantees exact recall at ANY configured radius), bit_count(xor)
    verify. xxhash64 flavor (fast path); the md5-portable twin below is
    the cross-engine-verified one.

    The fast signature is engine-internal, so the driver-comparable
    output is a PLANTED-duplicate canary (VERDICT r4 ask #3's pattern):
    the docs with doc_id < 20 are re-keyed NEGATIVE (−(doc_id+1) —
    collision-free against the non-negative real id space at ANY scale,
    where a fixed +offset would collide once the table outgrew it) and
    unioned in, and the query emits how many were planted
    (hash-compared against DuckDB) plus a boolean asserting simhash
    recovered EVERY planted (copy, original) pair — guaranteed by
    construction (identical text → identical signature → hamming 0,
    same chunks), so any miss is a pipeline bug, not noise.
    Chunk-blocking == brute-force equality at every radius is
    separately property-tested (tests/test_properties.py)."""
    from dbt_foundation_spark.operators.dedup import simhash_near_pairs

    docs = fan_out(spark, t(spark, sf_dir, "documents")).select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") < 20)
    aug = docs.unionByName(
        planted.select((-(F.col("doc_id") + 1)).alias("doc_id"), "text")
    )
    pairs = simhash_near_pairs(aug, "doc_id", "text", max_hamming=3)
    # copy id is negative < any real id, so it is id_a under the
    # detector's id_a < id_b emission
    expected = planted.select(
        (-(F.col("doc_id") + 1)).alias("id_a"),
        F.col("doc_id").alias("id_b"),
    )
    n_exp = expected.agg(F.count(F.lit(1)).alias("n_planted"))
    n_found = expected.join(pairs.select("id_a", "id_b"), ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("_found")
    )
    return n_exp.crossJoin(F.broadcast(n_found)).select(  # 1-row scalars
        F.col("n_planted").cast("bigint").alias("n_planted"),
        (F.col("_found") == F.col("n_planted")).alias("simhash_found_all"),
    )


def _simhash_portable_oracle(max_hamming: int) -> str:
    """DuckDB replay of the PORTABLE simhash pipeline: identical
    tokenization, identical md5-half token hashes (hex 1-15 → bits
    0-59, hex 16-30 → bits 60-63), identical ±1 bit sums / packing /
    chunk blocking / xor-bit_count verify — the full near-dup pipeline
    cross-engine checked, not just its output."""
    n_chunks = max_hamming + 1
    base, rem = divmod(64, n_chunks)
    widths = [base + 1] * rem + [base] * (n_chunks - rem)
    offsets = [sum(widths[:c]) for c in range(n_chunks)]
    bit_sums = ",\n           ".join(
        f"SUM(CASE WHEN (({f'h1 >> {i}' if i < 60 else f'h2 >> {i - 60}'}) & 1) = 1 "
        f"THEN 1 ELSE -1 END) AS b{i}"
        for i in range(64)
    )
    # bit 63 is the BIGINT sign bit: its power is -2^63 (matches the
    # Spark-side packing); terms are bit-disjoint so + == OR
    pack = " + ".join(
        f"CASE WHEN b{i} > 0 THEN {(1 << i) if i < 63 else -(1 << 63)} ELSE 0 END"
        for i in range(64)
    )
    chunk_rows = "\n        UNION ALL ".join(
        f"SELECT doc_id, sig, {c} AS chunk, "
        + ("sig AS ck" if widths[c] == 64 else f"(sig >> {offsets[c]}) & {(1 << widths[c]) - 1} AS ck")
        + " FROM sig"
        for c in range(n_chunks)
    )
    return rf"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS tok
        FROM documents
    ), hashed AS (
        SELECT doc_id,
               ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h1,
               ('0x' || substring(md5(tok), 16, 15))::BIGINT AS h2
        FROM toks
    ), bits AS (
        SELECT doc_id,
           {bit_sums}
        FROM hashed GROUP BY doc_id
    ), sig AS (
        SELECT doc_id, {pack} AS sig FROM bits
    ), chunked AS (
        {chunk_rows}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               xor(a.sig, b.sig) AS x
        FROM chunked a JOIN chunked b
          ON a.chunk = b.chunk AND a.ck = b.ck AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(x) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(x) <= {max_hamming}
    """


@query("q_dedup_simhash_portable", oracle=_simhash_portable_oracle(3))
def q_dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 SimHash with the PORTABLE (md5-half) token hash: the DuckDB
    oracle replays the exact bit sums, signature packing, chunk blocking
    and hamming verify — the last D2 flavor gains a cross-engine check
    (round-2 ask #3)."""
    from dbt_foundation_spark.operators.dedup import simhash_near_pairs

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    pairs = simhash_near_pairs(docs, "doc_id", "text", max_hamming=3, portable=True)
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    )


@query(
    "q_ngram_jaccard",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, n_chars // 50 AS len_bucket,
               list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS tok
        FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.tok, b.tok))), 6) AS jaccard
    FROM toks a JOIN toks b
      ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
          / len(list_distinct(list_concat(a.tok, b.tok))) >= 0.6
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 n-gram Jaccard near-dup (token-set flavor: shingle_len=1),
    blocked by (lang, length-bucket), computed via the inverted-index
    formulation in operators/dedup.py — no arrays cross any shuffle."""
    from dbt_foundation_spark.operators.dedup import ngram_jaccard_pairs

    docs = fan_out(spark, t(spark, sf_dir, "documents")).withColumn(
        "len_bucket", (F.col("n_chars") / 50).cast("long")
    )
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", ["lang", "len_bucket"], shingle_len=1, threshold=0.6
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _plane_sig_sql(m: int = 8, dim: int = 64, seed: int = 42) -> str:
    """DuckDB expression for the hyperplane-LSH signature of column
    ``emb`` (DOUBLE[]): bit i = sign(emb · plane_i), planes inlined as
    literals from the same seeded generator the Spark side uses —
    signatures are therefore bit-identical across engines (both dot
    products accumulate sequentially in array order)."""
    from dbt_foundation_spark.operators.similarity import random_hyperplanes

    planes = random_hyperplanes(dim, m, seed)
    terms = [
        f"CASE WHEN list_dot_product(emb, [{', '.join(repr(x) for x in p)}]) >= 0 "
        f"THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes)
    ]
    return " + ".join(terms)


_COS_SQL = (
    "list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


# banded LSH candidate predicate: band b of an m-bit signature is bits
# [r*b, r*b+r) → (sig // (2^r)^b) % 2^r; a pair is a candidate iff ANY
# band agrees (replayed as an OR-join so DuckDB checks the banding math)
_BAND_MATCH_SQL = " OR ".join(
    f"((a.sig // {16**b}) % 16) = ((b.sig // {16**b}) % 16)" for b in range(4)
)


@query(
    "q_embedding_neardup",
    oracle=f"""
    WITH sigs AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb,
               {_plane_sig_sql(m=16)} AS sig
        FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_COS_SQL.format(a="a.emb", b="b.emb")}, 6) AS cosine_sim
    FROM sigs a JOIN sigs b
      ON a.label = b.label AND a.vec_id < b.vec_id AND ({_BAND_MATCH_SQL})
    WHERE {_COS_SQL.format(a="a.emb", b="b.emb")} >= 0.25
    """,
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 embedding near-dup: BANDED random-hyperplane LSH (4 bands ×
    4 bits — any-band match; single-signature equality capped recall at
    ~29% for cosine-0.9 pairs, the round-2 weakness, while 2-bit bands
    would admit ~68% of random pairs) + label block → cosine verify on
    candidates. The DuckDB oracle replays the seeded hyperplanes as
    literals AND the band-match predicate, checking the banding itself.
    The synthetic embeddings are random (no planted near-dups;
    within-bucket cosine tops out ~0.36), so the catalog query
    thresholds at 0.25 to exercise the emit path with real rows —
    production near-dup filtering would use the operator default 0.9."""
    from dbt_foundation_spark.operators.similarity import embedding_near_pairs

    emb = fan_out(spark, t(spark, sf_dir, "embeddings"))
    # dim=64 is pinned by the testdata generator AND by the oracle's
    # inlined hyperplane literals (_plane_sig_sql default) — passing it
    # avoids the one-row dim-sniff job at plan-build time
    pairs = embedding_near_pairs(
        emb, "vec_id", "embedding", threshold=0.25, m=16, bands=4, block_col="label",
        dim=64,
    )
    return pairs.select("id_a", "id_b", F.round("cosine_sim", 6).alias("cosine_sim"))


# ---------- similarity search ----------


def _query_vector(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    row = (
        t(spark, sf_dir, "embeddings").filter(F.col("vec_id") == vec_id).select("embedding").first()
    )
    return [float(x) for x in row[0]]


@query(
    "q_cosine_topk",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                 / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
    FROM embeddings e, q
    WHERE e.vec_id != 0
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 brute-force cosine top-k: codegen'd dot products +
    TakeOrderedAndProject — the correctness baseline every ANN variant
    is measured against."""
    from dbt_foundation_spark.operators.similarity import cosine_topk

    emb = t(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir, 0)
    top = cosine_topk(emb, "vec_id", "embedding", qv, k=10, exclude_id=0)
    return top.select("vec_id", F.round("cosine_sim", 6).alias("cosine_sim")).orderBy(
        F.desc("cosine_sim"), "vec_id"
    )


@query(
    "q_cosine_topk_lsh",
    oracle=f"""
    WITH sigs AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               {_plane_sig_sql()} AS sig
        FROM embeddings
    ), q AS (
        SELECT sig AS qsig, emb AS qv FROM sigs WHERE vec_id = 0
    )
    SELECT s.vec_id,
           round({_COS_SQL.format(a="s.emb", b="q.qv")}, 6) AS cosine_sim
    FROM sigs s, q
    WHERE s.vec_id != 0
      AND (s.sig = q.qsig OR xor(s.sig, q.qsig) IN (1,2,4,8,16,32,64,128))
    ORDER BY {_COS_SQL.format(a="s.emb", b="q.qv")} DESC, s.vec_id
    LIMIT 10
    """,
)
def q_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 ANN: hyperplane-LSH bucket + hamming-1 multi-probe, then exact
    cosine within the probed slice (the 100 TB scale path). Oracle
    replays the seeded hyperplane signatures and the multi-probe set in
    DuckDB — the ANN pruning itself is cross-engine checked."""
    from dbt_foundation_spark.operators.similarity import cosine_topk_lsh

    emb = t(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir, 0)
    top = cosine_topk_lsh(emb, "vec_id", "embedding", qv, k=10, m=8, exclude_id=0)
    return top.select("vec_id", F.round("cosine_sim", 6).alias("cosine_sim"))


@query(
    "q_cosine_topk_ivf",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 1)
    SELECT vec_id,
           round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                 / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim,
           TRUE AS ivf_recall_ok
    FROM embeddings e, q
    WHERE e.vec_id != 1
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """,
)
def q_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 ANN, IVF flavor, validated INSIDE the query: k-means coarse
    quantizer, probe the n_probe nearest inverted lists, exact cosine
    within them (the partition-pruned alternative to hyperplane LSH).

    The k-means lists are engine-side, so the driver-comparable output
    is the EXACT brute-force top-10 (hash-compared against DuckDB) plus
    a boolean asserting the IVF answer recalled ≥ 7 of them — the same
    recall bound the property test pins. Deterministic: the quantizer
    fit canonicalizes its sample order before the seeded k-means++
    draws, so the IVF answer is a pure function of the dataset, not of
    partition layout (same pattern as q_sketch_rollup /
    q_approx_distinct, VERDICT r4 ask #3)."""
    from dbt_foundation_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivf,
    )

    emb = fan_out(spark, t(spark, sf_dir, "embeddings"))
    qv = _query_vector(spark, sf_dir, 1)
    # lazily pin the exact answer (10 rows): it is consumed twice (the
    # output AND the recall join), and unpinned, the full brute-force
    # scan+cosine pass executed once per consumer — the plan held a
    # TakeOrderedAndProject subtree over its own parquet scan for each.
    exact = pin(
        cosine_topk(emb, "vec_id", "embedding", qv, k=10, exclude_id=1),
        eager=False,
    )
    ivf = cosine_topk_ivf(
        emb, "vec_id", "embedding", qv, k=10, n_lists=8, n_probe=5, exclude_id=1
    )
    overlap = (
        exact.select("vec_id")
        .join(ivf.select("vec_id"), "vec_id")
        .agg(F.count(F.lit(1)).alias("_ov"))
    )
    return (
        exact.crossJoin(F.broadcast(overlap))  # 1-row scalar attach
        .select(
            "vec_id",
            F.round("cosine_sim", 6).alias("cosine_sim"),
            (F.col("_ov") >= 7).alias("ivf_recall_ok"),
        )
        .orderBy(F.desc("cosine_sim"), "vec_id")
    )


# ---------- text analysis ----------


@query(
    "q_token_counts",
    oracle=r"""
    SELECT token, COUNT(*) AS n
    FROM (
        SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        FROM documents
    )
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 20
    """,
)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 token counting: explode(tokenize) → count, top-20."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(X.tokenize("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


@query(
    "q_doc_quality",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, text,
               string_split_regex(lower(trim(text)), '\s+') AS tok
        FROM documents
    )
    SELECT doc_id,
           CAST(len(tok) AS BIGINT) AS n_tokens,
           round(CAST(len(list_distinct(tok)) AS DOUBLE) / greatest(len(tok), 1), 6)
               AS uniq_ratio,
           round(CAST(list_sum(list_transform(tok, x -> length(x))) AS DOUBLE)
                 / greatest(len(tok), 1), 6) AS mean_token_len,
           round(CAST(length(regexp_replace(text, '[\w\s]', '', 'g')) AS DOUBLE)
                 / greatest(length(text), 1), 6) AS punct_ratio
    FROM toks
    """,
)
def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 quality signals per document (length/uniqueness/word-shape/
    punctuation) — all codegen'd arithmetic."""
    # fan_out (r13): pure per-row compute over a one-split local scan
    # otherwise runs on one core (identity on many-file corpora)
    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        X.token_count("text").cast("bigint").alias("n_tokens"),
        F.round(X.uniq_token_ratio("text"), 6).alias("uniq_ratio"),
        F.round(X.mean_token_length("text"), 6).alias("mean_token_len"),
        F.round(X.punct_ratio("text"), 6).alias("punct_ratio"),
    )


# DuckDB twin of functions.text.quality_score — shared by the quality
# gate here and the per-language quantile cut in queries/curation.py
QUALITY_SCORE_SQL = r"""(CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) BETWEEN 5 AND 10000
                     THEN 1.0 ELSE 0.0 END
                + CAST(len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS DOUBLE)
                  / greatest(len(string_split_regex(lower(trim(text)), '\s+')), 1)
                + CASE WHEN CAST(list_sum(list_transform(string_split_regex(lower(trim(text)), '\s+'), x -> length(x))) AS DOUBLE)
                            / greatest(len(string_split_regex(lower(trim(text)), '\s+')), 1)
                            BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END
                + CASE WHEN CAST(length(regexp_replace(text, '[\w\s]', '', 'g')) AS DOUBLE)
                            / greatest(length(text), 1) <= 0.3 THEN 1.0 ELSE 0.0 END
               ) / 4"""


@query(
    "q_quality_filter",
    oracle=f"""
    WITH scored AS (
        SELECT lang,
               {QUALITY_SCORE_SQL} AS quality
        FROM documents
    )
    SELECT lang, COUNT(*) AS n_pass FROM scored WHERE quality >= 0.75
    GROUP BY lang ORDER BY lang
    """,
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 quality-gate filter: corpus survivors per language under the
    composite score (the filter step of a training-data pipeline)."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.withColumn("quality", X.quality_score("text"))
        .filter(F.col("quality") >= 0.75)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_pass"))
        .orderBy("lang")
    )


@query(
    "q_lang_id",
    oracle=r"""
    WITH scored AS (
        SELECT doc_id, lang,
               len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                   t -> list_contains(['der','die','das','und','zu','den','ist'], t))) AS s_de,
               len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                   t -> list_contains(['the','a','of','and','to','in','is'], t))) AS s_en,
               len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                   t -> list_contains(['el','la','de','y','que','en','los'], t))) AS s_es,
               len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                   t -> list_contains(['le','la','de','et','que','les','des'], t))) AS s_fr,
               len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                   t -> list_contains(['de5','shi4','le5','zai4','he2','you3','wo3'], t))) AS s_zh
        FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                WHEN s_zh = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
                WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                ELSE 'de' END AS pred_lang
    FROM scored
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 language-ID: marker-token scoring, argmax with deterministic
    tiebreak (lexicographically-last language — matches the struct-sort
    in functions/text.py::lang_id)."""
    docs = fan_out(spark, t(spark, sf_dir, "documents"))  # r13: see q_doc_quality
    return docs.select("doc_id", "lang", X.lang_id("text").alias("pred_lang"))


@query(
    "q_bpe_token_count",
    oracle=r"""
    SELECT doc_id,
           CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
                w -> CAST(ceil(length(regexp_replace(w, '[^\w]', '', 'g')) / 4.0) AS BIGINT)
                     + length(regexp_replace(w, '[\w]', '', 'g'))))
                AS BIGINT) AS n_bpe_tokens
    FROM documents
    """,
)
def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 BPE-ish token estimate (~4 chars/token heuristic + symbol
    pieces) — the LLM-budget counter, vocab-free."""
    docs = fan_out(spark, t(spark, sf_dir, "documents"))  # r13: see q_doc_quality
    return docs.select(
        "doc_id", X.bpe_ish_token_count("text").alias("n_bpe_tokens")
    )


def _ngram_sql(n: int) -> str:
    """DuckDB twin of functions.text.token_ngrams over the ``tok``
    token array (short texts yield one shingle of all tokens)."""
    return (
        f"CASE WHEN len(tok) < {n} THEN [array_to_string(tok, ' ')] "
        f"ELSE list_transform(range(1, len(tok) - {n} + 2), "
        f"i -> array_to_string(tok[i:i+{n - 1}], ' ')) END"
    )


def _dup_ratio_sql(grams: str) -> str:
    return (
        f"round(1.0 - CAST(len(list_distinct({grams})) AS DOUBLE)"
        f" / len({grams}), 6)"
    )


@query(
    "q_repetition_signals",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tok
        FROM documents
    )
    SELECT doc_id,
           round(1.0 - CAST(len(list_distinct(tok)) AS DOUBLE) / len(tok), 6)
               AS dup_token_ratio,
           {_dup_ratio_sql(_ngram_sql(2))} AS dup_bigram_ratio,
           {_dup_ratio_sql(_ngram_sql(3))} AS dup_trigram_ratio
    FROM toks
    """,
)
def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 Gopher-style repetition filters: duplicate token / bigram /
    trigram fractions per document — the standard boilerplate and
    generated-text detectors in a training-data pipeline. Pure Column
    arithmetic (one scan + the fan_out repartition — the signals
    themselves add no shuffle); the DuckDB oracle replays the
    identical shingle construction."""
    docs = fan_out(spark, t(spark, sf_dir, "documents"))  # r13: see q_doc_quality
    return docs.select(
        "doc_id",
        F.round(F.lit(1.0) - X.uniq_token_ratio("text"), 6).alias("dup_token_ratio"),
        F.round(X.dup_ngram_ratio("text", 2), 6).alias("dup_bigram_ratio"),
        F.round(X.dup_ngram_ratio("text", 3), 6).alias("dup_trigram_ratio"),
    )


# ---------- JSON / VARIANT + array ops ----------


@query(
    "q_json_props",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           COUNT(*) AS n,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY 1 ORDER BY 1
    """,
)
def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 semi-structured: VARIANT path extraction (Spark 4
    try_parse_json + try_variant_get — the engine twin of Snowflake's
    TRY_PARSE_JSON / ``:`` paths, README.md:109-116).

    try_variant_get, not variant_get: the strict form THROWS
    INVALID_VARIANT_CAST on the first non-castable value — one dirty
    record in a 100 TB scan kills the whole aggregation (r9 probe:
    ``{"k": "abc"}`` aborts the job). The try_ form NULLs exactly
    where the DuckDB oracle's TRY_CAST does on every dirty shape
    (unparseable JSON, missing path, non-numeric string, null, array
    root); only non-integer coercion corners differ (5.9: variant
    truncates, string-cast rounds; true: variant 1, TRY_CAST NULL) —
    outside this dataset's domain (k is always an integer)."""
    events = t(spark, sf_dir, "events")
    k = F.try_variant_get(F.try_parse_json("props"), "$.k", "bigint")
    return (
        events.select((k % 10).alias("k_bucket"), k.alias("k"))
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("k_bucket")
    )


@query(
    "q_array_ops",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER) AS dim,
           round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))), 6) AS l2_norm,
           round(list_sum(CAST(embedding AS DOUBLE[])) / len(embedding), 6) AS mean_val
    FROM embeddings
    """,
)
def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 array<float> first-class ops: size / L2 norm / mean via
    higher-order functions (no UDF)."""
    emb = t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.array_size("embedding").alias("dim"),
        F.round(V.norm("embedding"), 6).alias("l2_norm"),
        F.round(V.mean("embedding"), 6).alias("mean_val"),
    )


# ---------- multimodal plumbing (rows-only: synthetic media) ----------


@query(
    "q_multimodal_features",
    oracle="""
    WITH m AS (SELECT unnest(range(0, 128)) AS i)
    SELECT CASE WHEN i % 3 = 0 THEN 'audio/wav' ELSE 'image/png' END AS mime_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(256.0 AS DOUBLE) AS avg_bytes,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_payloads
    FROM m GROUP BY 1 ORDER BY 1
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 multimodal: binary payload → mapInPandas featurize (stubbed
    decode, real Arrow batch plumbing) → per-mime feature stats.

    The synthetic media table is a deterministic pure function of the
    row index (mime by i%3, 256-byte sha256-derived payload, distinct
    per row), so the per-mime rollup IS DuckDB-replayable arithmetic —
    the oracle re-derives it from the generator's formula, turning the
    Arrow-plumbing smoke check into a full hash-compared row: a decode
    worker that drops/duplicates batch rows, mangles n_bytes, or
    collides payload hashes breaks the match."""
    from dbt_foundation_spark.operators.multimodal import extract_features, synthetic_media

    media = synthetic_media(spark, n=128)
    feats = extract_features(media, dim=8, target_partitions=4)
    return (
        feats.groupBy("mime_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("n_bytes").alias("avg_bytes"),
            F.countDistinct("sha256").alias("n_distinct_payloads"),
        )
        .orderBy("mime_type")
    )


@query(
    "q_frame_sample",
    oracle="""
    WITH m AS (
        SELECT i AS media_id, 1000 * (i % 7) AS dur
        FROM (SELECT unnest(range(0, 128)) AS i)
    )
    SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(CASE WHEN dur = 0 THEN 1 ELSE (dur - 1) // 500 + 1 END
                AS BIGINT) AS n_frames
    FROM m ORDER BY media_id
    """,
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 multimodal: per-media frame-sampling plan (metadata-driven
    explode; decode happens downstream per planned frame).

    duration_ms is 1000·(i%7) by the deterministic generator, and the
    frame plan is sequence(0, max(dur−1, 0), 500) — pure arithmetic the
    DuckDB oracle re-derives, so the per-media frame counts are a full
    hash-compared row (was rows-only)."""
    from dbt_foundation_spark.operators.multimodal import frame_sample_plan, synthetic_media

    media = synthetic_media(spark, n=128)
    plan = frame_sample_plan(media, every_ms=500)
    return (
        plan.groupBy("media_id")
        .agg(F.count(F.lit(1)).alias("n_frames"))
        .orderBy("media_id")
    )


# ---------- temporal (as-of join) ----------


@query(
    "q_asof_join",
    oracle="""
    WITH l AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
    ), r AS (
        SELECT user_id, ts, CAST(MAX(CAST(value AS DECIMAL(18,8))) AS DOUBLE) AS purchase_value
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    )
    SELECT l.user_id, l.event_id, l.ts,
           r.purchase_value, r.ts AS ts_right
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cat-D temporal: for every click, the user's most recent prior
    purchase (point-in-time correct — no future leakage). Oracle is
    DuckDB's native ASOF LEFT JOIN; right side pre-aggregated to one
    row per (user, ts) so as-of tie semantics are engine-independent."""
    from dbt_foundation_spark.operators.asof import asof_join

    events = t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max(F.col("value").cast("decimal(18,8)"))
            .cast("double")
            .alias("purchase_value")
        )
    )
    return asof_join(
        clicks, purchases, on=["user_id"], left_ts="ts", right_cols=["purchase_value"]
    )


@query(
    "q_range_bin_join",
    oracle="""
    WITH iv AS (
        SELECT CAST(a AS DOUBLE) AS lo, CAST(a + 7 AS DOUBLE) AS hi,
               'band' || CAST(a AS VARCHAR) AS band
        FROM (SELECT unnest(range(0, 50, 5)) AS a)
    )
    SELECT band, COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,8))) AS DOUBLE) AS sum_price
    FROM lineitem JOIN iv
      ON l_quantity >= lo AND l_quantity < hi
    GROUP BY band
    """,
)
def q_range_bin_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cat-D range join via the binned equi-join rewrite (operators/
    rangejoin.py) — identical results to the theta join, keyed-shuffle
    cost instead of nested-loop."""
    from dbt_foundation_spark.operators.rangejoin import point_in_interval_join
    from dbt_foundation_spark.queries._util import dsum

    li = t(spark, sf_dir, "lineitem").select("l_quantity", "l_extendedprice")
    iv = local_frame(
        spark,
        [(float(a), float(a + 7), f"band{a}") for a in range(0, 50, 5)],
        "lo double, hi double, band string",
    )
    joined = point_in_interval_join(li, iv, "l_quantity", "lo", "hi", bin_width=5.0)
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_extendedprice", "sum_price")
    )


@query(
    "q_epoch_shuffle",
    oracle="""
    SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':epoch1') AS shuffle_key
    FROM documents
    ORDER BY shuffle_key, doc_id
    LIMIT 100
    """,
)
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data epoch shuffle: a deterministic, engine-portable
    global order from md5(id || epoch) — a new permutation per epoch,
    reproducible across runs and engines, and a plain range-partitioned
    sort at scale (no driver-side randomness)."""
    docs = t(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":epoch1")))
    return (
        docs.select("doc_id", key.alias("shuffle_key"))
        .orderBy("shuffle_key", "doc_id")
        .limit(100)
    )


@query(
    "q_stratified_sample",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':sample'), 1, 8)
          < CASE lang WHEN 'en' THEN '19999999'
                      WHEN 'de' THEN '80000000'
                      ELSE '33333333' END
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data stratified sampling: per-language keep rates via
    content-hash thresholds (operators/sampling.py) — stable under
    repartitioning and incremental reruns, oracle-checkable row-for-row."""
    from dbt_foundation_spark.operators.sampling import stratified_sample

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(
        docs,
        "doc_id",
        "lang",
        fractions={"en": 0.1, "de": 0.5},
        default_fraction=0.2,
    )


@query(
    "q_doc_chunks",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tok
        FROM documents
    )
    SELECT doc_id, i AS chunk_idx,
           array_to_string(tok[(i*5+1):(i*5+10)], ' ') AS chunk_text
    FROM toks, (SELECT unnest(range(0, 10000)) AS i)
    WHERE i*5 < len(tok)
    """,
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data chunking: overlapping token windows (10 tokens,
    stride 5) per document. Explode the span index first so the token
    array is a row attribute when sliced — one tokenize per document,
    chunk construction fully in codegen, and chunk rows co-partitioned
    with their document (no shuffle at all)."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", X.tokenize("text").alias("_toks"))
    spans = toks.select(
        "doc_id", "_toks", F.explode(X.chunk_spans(F.col("_toks"), 10, 5)).alias("chunk_idx")
    )
    return spans.select(
        "doc_id",
        "chunk_idx",
        F.concat_ws(" ", F.slice(F.col("_toks"), F.col("chunk_idx") * 5 + 1, F.lit(10))).alias(
            "chunk_text"
        ),
    )


@query(
    "q_cdc_snapshot",
    oracle="""
    WITH log AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus,
               (o_orderkey % 3) AS version,
               CASE WHEN md5(CAST(o_orderkey AS VARCHAR)) < '1a' THEN 'D'
                    WHEN (o_orderkey % 3) = 0 THEN 'I' ELSE 'U' END AS op
        FROM orders
    )
    SELECT o_orderkey, o_totalprice, o_orderstatus, version, op
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY o_orderkey
            ORDER BY version DESC, CASE WHEN op = 'D' THEN 1 ELSE 0 END DESC
        ) AS rn
        FROM log
    )
    WHERE rn = 1 AND op != 'D'
    """,
)
def q_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC fold: synthesize a deterministic change log over orders
    (op/version derived from the key), collapse to the latest
    non-deleted version per key (operators/cdc.py) — the batch core of
    incremental ingestion."""
    from dbt_foundation_spark.operators.cdc import cdc_snapshot

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    log = orders.withColumn("version", F.col("o_orderkey") % 3).withColumn(
        "op",
        F.when(F.md5(F.col("o_orderkey").cast("string")) < "1a", "D")
        .when(F.col("o_orderkey") % 3 == 0, "I")
        .otherwise("U"),
    )
    return cdc_snapshot(log, ["o_orderkey"], "version")


@query(
    "q_vocab_encode",
    oracle=r"""
    WITH vocab AS (
        SELECT token, ROW_NUMBER() OVER (ORDER BY n DESC, token) - 1 AS token_id
        FROM (
            SELECT token, COUNT(*) AS n FROM (
                SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
                FROM documents
            ) GROUP BY token
        )
        QUALIFY token_id < 64
    ), split AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tok
        FROM documents
    ), pos AS (
        SELECT doc_id, tok, unnest(range(1, len(tok) + 1)) AS ord FROM split
    ), toks AS (
        SELECT doc_id, tok[ord] AS token, ord FROM pos
    )
    SELECT doc_id,
           array_to_string(list(COALESCE(CAST(v.token_id AS VARCHAR), '<unk>')
                                ORDER BY ord), ' ') AS input_ids
    FROM toks LEFT JOIN vocab v USING (token)
    GROUP BY doc_id
    """,
)
def q_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize-at-scale: corpus-derived top-64 vocabulary (frequency
    then lexicographic ids), then token→id encoding per document via a
    BROADCAST join of the vocab against the exploded token stream —
    the standard shape for vocab encoding at 100 TB (the vocab is tiny,
    the stream is not; order restored by position)."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(X.tokenize("text")).alias("pos", "token")
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        # top-K cut FIRST (TakeOrderedAndProject: per-partition heaps, K
        # rows to the driver-side merge) so the id-assigning global
        # window below runs over ≤ 64 rows — never the full distinct
        # vocabulary through a single reducer.
        .orderBy(F.desc("n"), "token")
        .limit(64)
        .withColumn(
            "token_id",
            F.row_number().over(Window.orderBy(F.desc("n"), "token")) - 1,
        )
        .select("token", "token_id")
    )
    encoded = (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "token_id"))
                    ),
                    lambda s: F.coalesce(s["token_id"].cast("string"), F.lit("<unk>")),
                ),
                " ",
            ).alias("input_ids")
        )
    )
    return encoded


# ---------- training-sequence assembly ----------


@query(
    "q_sequence_pack",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, lang,
               CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)
                   AS n_tokens,
               doc_id % 4 AS bucket
        FROM documents
    ), cum AS (
        SELECT doc_id, lang, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY lang, bucket ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens AS before
        FROM toks
    )
    SELECT doc_id, lang, n_tokens,
           CAST(floor(before / 512) AS BIGINT) AS seq_id,
           CAST(before - CAST(floor(before / 512) AS BIGINT) * 512 AS BIGINT)
               AS seq_offset
    FROM cum
    """,
)
def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (operators/packing.py): contiguous-fill
    documents into 512-token sequences, packed independently per
    (lang, doc_id%4) group — one window shuffle, no global ordering, so
    the 100 TB corpus packs with per-group parallelism. The exact
    first-fit flavor (pack_sequences_greedy) is applyInPandas-backed and
    pytest-verified against a reference implementation."""
    from dbt_foundation_spark.operators.packing import pack_sequences

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", X.token_count("text").cast("bigint").alias("n_tokens")
    )
    return pack_sequences(
        docs,
        "n_tokens",
        budget=512,
        order_cols=["doc_id"],
        partition_cols=["lang"],
        bucket_by=("doc_id", 4),
    )


@query(
    "q_contamination",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tok
        FROM documents
    ), grams AS (
        SELECT DISTINCT doc_id, md5(array_to_string(tok[i:i+4], ' ')) AS g
        FROM toks, (SELECT unnest(range(1, 100001)) AS i) r
        WHERE i <= greatest(len(tok) - 4, 1)
    ), bench AS (
        SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
    )
    SELECT c.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN b.g IS NULL THEN 0 ELSE 1 END) AS BIGINT)
               AS n_contaminated,
           round(CAST(SUM(CASE WHEN b.g IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
                 / COUNT(*), 6) AS contamination
    FROM (SELECT * FROM grams WHERE doc_id % 97 <> 0) c
    LEFT JOIN bench b USING (g)
    GROUP BY c.doc_id
    """,
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/contamination.py): score
    every corpus document by the fraction of its distinct 5-gram
    shingles that appear in a held-out benchmark slice (doc_id % 97).
    Bench grams broadcast (eval sets are tiny vs the 100 TB corpus);
    md5-portable gram hashes let DuckDB replay the whole pipeline."""
    from dbt_foundation_spark.operators.contamination import ngram_contamination

    docs = fan_out(spark, t(spark, sf_dir, "documents"))
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return ngram_contamination(corpus, bench, "doc_id", "text", n=5, portable=True)


@query(
    "q_knn_join",
    oracle="""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id % 125 = 0
    ), c AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
    ), sims AS (
        SELECT q.query_id, c.vec_id AS corpus_id,
               list_dot_product(cv, qv)
                 / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv)))
                 AS sim
        FROM q, c
        WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, corpus_id, round(sim, 6) AS cosine_sim
    FROM sims
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, corpus_id) <= 5
    ORDER BY query_id, sim DESC, corpus_id
    """,
)
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join (operators/similarity.py knn_join): exact top-5
    cosine neighbors for every query vector (vec_id % 125) at once —
    query side broadcast, salted two-phase top-k so no per-query single
    reducer. Ranking on the exact double (bit-identical fold order in
    both engines); rounded only for output."""
    from dbt_foundation_spark.operators.similarity import knn_join

    emb = fan_out(spark, t(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") % 125 == 0)
    out = knn_join(
        queries, emb, "vec_id", "vec_id", "embedding", "embedding", k=5
    )
    return out.select(
        "query_id",
        "corpus_id",
        F.round("cosine_sim", 6).alias("cosine_sim"),
    ).orderBy("query_id", F.desc("cosine_sim"), "corpus_id")


@query(
    "q_domain_mix",
    oracle="""
    WITH w(source, wt) AS (
        VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)
    ), counts AS (
        SELECT source, COUNT(*) AS n FROM documents GROUP BY source
    ), cap AS (
        -- absent requested domain counts 0 -> cap 0 -> empty sample
        -- (mixture_resample's absent-domain contract; identity here,
        -- every source is present in testdata)
        SELECT MIN(COALESCE(n, 0) / wt) AS c
        FROM w LEFT JOIN counts USING (source)
    ), sized AS (
        SELECT counts.source, n, wt FROM counts JOIN w USING (source)
    ), rates AS (
        SELECT source,
               CASE WHEN (cap.c * wt / n) >= 1.0 THEN 'ffffffffff'
                    ELSE lpad(lower(hex(CAST(floor((cap.c * wt / n) * 4294967296.0)
                                             AS BIGINT))), 8, '0')
               END AS thr
        FROM sized, cap
    )
    SELECT d.source, d.doc_id, d.lang
    FROM documents d JOIN rates USING (source)
    WHERE substr(md5(CAST(d.doc_id AS VARCHAR) || ':mix'), 1, 8) < thr
    """,
)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture resampling (operators/sampling.py
    mixture_resample): downsample sources to a 50/30/20 target mix —
    the largest sample hitting the ratios with no upsampling.
    Content-hash membership (stable under repartitioning, replayed
    row-for-row by the oracle); two corpus passes, zero shuffles of
    the corpus itself."""
    from dbt_foundation_spark.operators.sampling import mixture_resample

    docs = t(spark, sf_dir, "documents").select("source", "doc_id", "lang")
    return mixture_resample(
        docs, "doc_id", "source", {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    )


@query(
    "q_fuzzy_match",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS distance
    FROM names a JOIN names b ON a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    ORDER BY name_a, name_b
    """,
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D-family fuzzy matching: distinct part-name pairs within edit
    distance 3 via operators/fuzzy.fuzzy_pairs — exact q-gram
    count-filter blocking (multiset gram join + vacuous-bound short
    band), never the all-pairs cross join the oracle runs. The oracle
    IS brute force, so the blocking must lose nothing to stay green —
    same exactness contract as q_containment. Distance must agree
    cross-engine (unit-cost Levenshtein in both)."""
    from dbt_foundation_spark.operators.fuzzy import fuzzy_pairs

    names = t(spark, sf_dir, "part").select("p_name").distinct()
    return (
        fuzzy_pairs(names, "p_name", "p_name", max_distance=3, q=2)
        .select(
            F.col("id_a").alias("name_a"),
            F.col("id_b").alias("name_b"),
            "distance",
        )
        .orderBy("name_a", "name_b")
    )
