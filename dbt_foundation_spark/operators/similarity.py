"""Similarity search over embedding columns (SURVEY §2.L D3).

- brute-force cosine top-k: the correctness baseline. One scan, dot
  products in codegen, TakeOrdered for the top-k — no shuffle at all
  for a single query vector.
- LSH-bucketed ANN: random-hyperplane signatures (functions/vectors.py)
  turn the corpus into 2^m buckets; a query probes its own bucket plus
  all hamming-1 neighbors (multi-probe). Recall/latency tunable via m.
  This is the 100 TB path: the scan prunes to ~ (1+m)/2^m of the data.
  (cf. PAPERS.md: top-k similarity EDBT'20, REPOSE ICDE'21 — reference
  for the block-and-verify pattern, no code derived.)
- pairwise near-dup: embedding_near_pairs in operators/dedup.py style —
  BANDED hyperplane-LSH blocking (any-band match), cosine verify on the
  candidate set only.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dbt_foundation_spark.checkpoint import pin
from dbt_foundation_spark.functions import vectors as V
from dbt_foundation_spark.local_data import local_frame
from dbt_foundation_spark.operators.dedup import (
    _SELF,
    _candidate_pairs,
    _verify_pairs,
    banding_geometry,
    identified,
)
from dbt_foundation_spark.operators.index_core import (
    Index,
    ivf_id_col,
    open_index,
    write_index,
)
from dbt_foundation_spark.operators.tombstones import assert_literal_path
from dbt_foundation_spark.parallelism import fan_out


def random_hyperplanes(dim: int, m: int, seed: int = 42) -> list[list[float]]:
    """m fixed unit hyperplanes (Box-Muller from a seeded PRNG —
    deterministic across runs/engines)."""
    rng = random.Random(seed)
    planes = []
    for _ in range(m):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def sniff_dim(df: DataFrame, vec_col: str) -> int:
    """Vector dimensionality from the first row — raises a named error
    on an EMPTY frame (there is nothing to sniff; callers building over
    empty day-0 corpora must pass dim explicitly)."""
    row = df.select(vec_col).first()
    if row is None or row[0] is None:
        raise ValueError(
            "cannot sniff the vector dimensionality from an empty frame - "
            "pass dim= explicitly (required for the day-0 empty-corpus "
            "bootstrap and cheap everywhere else)"
        )
    return len(row[0])


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    exclude_id=None,
) -> DataFrame:
    """Brute-force top-k by cosine similarity to a constant query vector.

    Plan: scan → codegen'd dot product → TakeOrderedAndProject(k).
    Deterministic tiebreak on id.
    """
    q = V.lit_vec(query_vec)
    out = df.select(
        F.col(id_col),
        V.cosine(F.col(vec_col), q).alias("cosine_sim"),
    )
    if exclude_id is not None:
        out = out.filter(F.col(id_col) != exclude_id)
    return out.orderBy(F.desc("cosine_sim"), F.col(id_col)).limit(k)


def cosine_topk_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    m: int = 8,
    seed: int = 42,
    exclude_id=None,
) -> DataFrame:
    """ANN top-k: probe the query's LSH bucket + hamming-1 neighbors.

    At 100 TB the signature column is precomputed and the table is
    bucketed/partitioned by it, making the probe a partition-pruned
    scan; here the signature is computed inline.
    """
    dim = len(query_vec)
    planes = random_hyperplanes(dim, m, seed)
    sig = V.hyperplane_signature(F.col(vec_col), planes)

    qsig = 0
    for i, plane in enumerate(planes):
        d = sum(float(a) * float(b) for a, b in zip(query_vec, plane))
        if d >= 0:
            qsig |= 1 << i
    probes = [qsig] + [qsig ^ (1 << i) for i in range(m)]

    q = V.lit_vec(query_vec)
    out = (
        df.withColumn("_sig", sig)
        .filter(F.col("_sig").isin(probes))  # partition-prunable predicate
        .select(F.col(id_col), V.cosine(F.col(vec_col), q).alias("cosine_sim"))
    )
    if exclude_id is not None:
        out = out.filter(F.col(id_col) != exclude_id)
    return out.orderBy(F.desc("cosine_sim"), F.col(id_col)).limit(k)


def cosine_topk_quantized(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 30,
    exclude_id=None,
) -> DataFrame:
    """Two-stage ANN over int8-quantized vectors: rank everything on the
    dequantized (lossy) codes, exact-cosine re-score the shortlist only.

    The 100 TB shape: the scan stage reads the quantized copy (4× fewer
    bytes than float32 — see functions/vectors.int8_quantize), and the
    full-precision column is touched for ``shortlist`` rows per query,
    not the corpus. Here both live in one table, so the win is the
    pattern, not local bytes. Both stages are codegen'd expressions +
    TakeOrderedAndProject; quantization noise is why shortlist > k.

    Measured recall@10 vs brute force (sf0.001, 64-dim synthetic
    embeddings, 10 sampled queries): 1.0 at EVERY shortlist in
    {10, 15, 20, 30, 50} — per-vector int8 codes shift cosines by
    ~1e-3, far below the inter-neighbor gaps of random vectors. The
    default shortlist=30 (3×k) is margin for clustered real-world
    embeddings where neighbor gaps shrink below quantization noise;
    tests/test_properties.py pins recall ≥ 0.9 so any change to the
    quantizer or shortlist re-justifies itself by measurement.
    """
    q = V.lit_vec(query_vec)
    out = df.withColumn("_z", V.int8_quantize(F.col(vec_col)))
    scale = F.greatest((F.col("_z.hi") - F.col("_z.lo")) / 255.0, F.lit(1e-12))
    deq = F.transform(F.col("_z.codes"), lambda c: F.col("_z.lo") + c * scale)
    out = out.withColumn("approx_sim", V.cosine(deq, q))
    if exclude_id is not None:
        out = out.filter(F.col(id_col) != exclude_id)
    short = out.orderBy(F.desc("approx_sim"), F.col(id_col)).limit(shortlist)
    return (
        short.select(
            F.col(id_col),
            "approx_sim",
            V.cosine(F.col(vec_col), q).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.col(id_col))
        .limit(k)
    )


def ivf_assignments(
    df: DataFrame,
    vec_col: str,
    n_lists: int = 16,
    seed: int = 42,
    fit_fraction: float | None = None,
    max_iter: int = 8,
    target_fit_rows: int = 100_000,
    id_col: str | None = None,
):
    """IVF coarse quantizer: k-means centroids + per-row list assignment.

    Returns (assigned_df with ``_ivf_list`` column, centroids as
    list[list[float]]). The fit is a SEEDED driver-side Lloyd's over an
    Arrow-collected sample capped at ``target_fit_rows`` (100k × 64
    doubles ≈ 50 MB — a coarse quantizer needs a representative subset,
    never a multi-pass distributed ML job over the 100 TB corpus; the
    earlier MLlib KMeans formulation spent seconds of job-scheduling
    overhead to fit 2000 sampled rows). Below the cap the sample is the
    whole input, so test-scale fits are exact and deterministic.

    Assignment is DISTRIBUTED and single-pass: the centroids fold into
    the plan as literals and ``_ivf_list`` is argmin over the n_lists
    squared-distance expressions — a map-only stage, no model object,
    streaming/foreachBatch-safe."""
    import numpy as np

    if fit_fraction is None:
        n = df.count()  # parquet metadata count — one cheap job
        fit_fraction = min(1.0, target_fit_rows / max(n, 1))
    if fit_fraction < 1.0:
        # content-hash sampling, NOT df.sample: sample() draws
        # per-partition, so the selected row SET would depend on
        # partition layout (executor count / fan-out width) and the
        # fitted centroids would differ between cluster configs on
        # identical data. Hashing the vector itself keeps membership a
        # pure function of content (same property the sampling
        # operators use), layout-independent at any scale.
        bound = int(fit_fraction * 1_000_000)
        fit_on = df.filter(
            F.pmod(F.xxhash64(F.col(vec_col), F.lit(seed)), F.lit(1_000_000))
            < bound
        )
    else:
        fit_on = df
    # Admission gate BEFORE the collect: a NaN/Inf vector in the fit
    # sample poisons every centroid mean it touches (or crashes the
    # k-means++ D² draw with NaN probabilities) — one corrupt row must
    # not bend the quantizer geometry for the whole corpus. Filtered
    # rows are still ASSIGNED below (to the -1 quarantine list, see
    # _ivf_assign); they are only excluded from fitting.
    fit_on = fit_on.filter(V.is_finite_vector(F.col(vec_col)))
    vals = (
        fit_on.select(F.col(vec_col).cast("array<double>").alias("v"))
        .toPandas()["v"]
        .tolist()
    )
    # Ragged corpora (mixed dims — corrupt upstream) would make the
    # sample matrix inhomogeneous; fit on the MODAL dimensionality
    # (ties → smaller dim, deterministic), quarantine the rest.
    if vals:
        from collections import Counter

        dim_counts = Counter(len(v) for v in vals)
        modal_dim = min(
            (d for d in dim_counts if dim_counts[d] == max(dim_counts.values()))
        )
        if len(dim_counts) > 1:
            # no silent caps: a mixed-dim corpus (e.g. mid-migration
            # between embedding models) fits on the modal dim only and
            # quarantines the rest to list -1 — say so, with the
            # sample's per-dim counts, instead of half the corpus
            # quietly disappearing from ANN answers
            import logging

            logging.getLogger(__name__).warning(
                "IVF fit: mixed vector dims in sample %s — fitting on "
                "modal dim=%d; other dims will be QUARANTINED to list "
                "-1 (unsearchable). Split the corpus by dim and build "
                "one index per dim if they are all legitimate.",
                dict(sorted(dim_counts.items())), modal_dim,
            )
        vals = [v for v in vals if len(v) == modal_dim]
    X = np.array(vals, dtype=np.float64)
    if len(X) < n_lists:
        raise ValueError(f"need >= {n_lists} sample vectors, got {len(X)}")
    # canonicalize the sample ORDER before seeding: toPandas row order
    # follows partition layout (executor count, fan-out width), and the
    # k-means++ draws index into X — without this sort the fitted
    # centroids (and every downstream IVF answer) would differ between
    # a local[8] driver and a local[32] bench on identical data
    X = X[np.lexsort(X.T[::-1])]
    rng = np.random.default_rng(seed)
    # k-means++ seeding (D² sampling): matches the init quality of
    # MLlib's k-means|| at this scale — uniform init measurably lost
    # list balance (recall@10 at n_probe=8/16 dropped 0.88 -> 0.81 on
    # the synthetic corpus)
    first = int(rng.integers(len(X)))
    centers = [X[first]]
    d2min = ((X - centers[0]) ** 2).sum(axis=1)
    for _ in range(n_lists - 1):
        probs = d2min / d2min.sum() if d2min.sum() > 0 else None
        nxt = int(rng.choice(len(X), p=probs))
        centers.append(X[nxt])
        d2min = np.minimum(d2min, ((X - centers[-1]) ** 2).sum(axis=1))
    centers = np.array(centers)
    for _ in range(max_iter):
        d2 = ((X[:, None, :] - centers[None, :, :]) ** 2).sum(axis=-1)
        labels = d2.argmin(axis=1)
        for j in range(n_lists):
            members = X[labels == j]
            if len(members):
                centers[j] = members.mean(axis=0)
    centroids = [[float(x) for x in c] for c in centers]

    return _ivf_assign(df, vec_col, centroids, id_col=id_col), centroids


def _lit_vec(vec: list[float]):
    """A literal array<double> column from a Python vector, built as
    ONE parsed SQL expression: the F.lit-per-element form costs a
    Py4J driver roundtrip per element — ~1100 roundtrips (~0.7 s of
    per-operation driver constant) for a 16×64 centroid set on every
    IVF assign/probe. ``repr(float)`` round-trips the exact IEEE double
    through Spark's parser (shortest-unique decimal → parseDouble), so
    the literal values are bit-identical to F.lit's. Non-finite
    elements (no finite-vector quantizer produces them, but a
    hand-written store could) fall back to the element-wise form —
    'inf'/'nan' have no SQL literal."""
    return V.lit_vec(vec)


def _sqdist(v, centroid: list[float]):
    """Squared distance between a vector COLUMN and a literal centroid
    — the single distance expression every IVF path (fit assignment,
    append, batch probe ranking) builds from, so the quantizer
    geometry cannot drift between them."""
    return F.aggregate(
        F.zip_with(
            v,
            _lit_vec(centroid),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )


def _sqdist_sql(v_sql: str, centroid: list[float]) -> str:
    """The SQL-string twin of :func:`_sqdist`: parses to the
    IDENTICAL expression tree (same zip_with/aggregate lambdas, same
    repr-round-tripped double literals — see :func:`~dbt_foundation_
    spark.functions.vectors.lit_vec`), but an n-centroid family builds
    in ONE driver roundtrip instead of ~30 per centroid (each PySpark
    higher-order lambda costs several Py4J calls; the measured
    construction constant was ~0.6 s per IVF assign at n_lists=16,
    paid on EVERY append/probe/build). Callers must pre-check the
    centroids are finite (lit_vec's fallback condition)."""
    arr = "array(" + ", ".join(f"{float(x)!r}D" for x in centroid) + ")"
    return (
        f"aggregate(zip_with({v_sql}, {arr}, (a, b) -> (a - b) * (a - b)), "
        "0.0D, (acc, z) -> acc + z)"
    )


def _dists_vec(vec_col: str, centroids: list[list[float]]):
    """array<double> column of squared distances from ``vec_col`` to
    each centroid — one F.expr when every centroid is finite, the
    Column-by-Column fallback otherwise."""
    import math

    if all(math.isfinite(x) for c in centroids for x in c):
        v_sql = f"cast(`{vec_col}` as array<double>)"
        return F.expr(
            "array(" + ", ".join(_sqdist_sql(v_sql, c) for c in centroids) + ")"
        )
    v = F.col(vec_col).cast("array<double>")
    return F.array(*[_sqdist(v, c) for c in centroids])


def _ivf_assign(
    df: DataFrame, vec_col: str, centroids: list[list[float]],
    id_col: str | None = None,
) -> DataFrame:
    """Tag each row with ``_ivf_list`` = argmin squared distance to the
    given centroids — the distributed, map-only half of the coarse
    quantizer (centroids fold into the plan as literals; no model
    object, streaming/foreachBatch-safe). Shared by the initial fit
    and :func:`append_to_ivf_index`, which must assign new batches
    with the INDEX's centroids, never a refit.

    Quarantine contract: a vector that is non-finite (NaN/Inf/NULL
    element) or whose length differs from the quantizer's dim gets
    ``_ivf_list = -1`` — and so does a row whose ``id_col`` is NULL
    when the caller names one (the degenerate-identity class: an
    id-less vector can appear in top-k results but can never be
    fetched, deduplicated, or retracted — no stable identity means it
    must not be searchable, same rule as the dedup detectors). Probes
    rank real centroids (ids 0..n_lists-1) so list -1 is never scanned
    by a query; the rows stay in the index dataset so
    retract/compact/takedown still see them. Without the gate a NaN
    vector's all-NaN distance row silently lands in list 0 (NaN-aware
    array_position) and a ragged vector gets a NULL list — two
    different accidental behaviors instead of one deliberate one."""
    v = F.col(vec_col).cast("array<double>")
    dists = _dists_vec(vec_col, centroids)
    ok = V.is_finite_vector(v) & (F.size(v) == len(centroids[0]))
    if id_col is not None:
        ok = ok & F.col(id_col).isNotNull()
    # argmin = position of the min element (ties -> first, like numpy)
    argmin = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
    return df.withColumn(
        "_ivf_list",
        F.when(F.coalesce(ok, F.lit(False)), argmin).otherwise(F.lit(-1)),
    )


def cosine_topk_ivf(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    exclude_id=None,
) -> DataFrame:
    """ANN top-k, IVF flavor: probe the ``n_probe`` inverted lists whose
    centroids are nearest the query, brute-force cosine inside them.

    The scan prunes to ~n_probe/n_lists of the corpus; at scale the
    assignment is precomputed and the table is partitioned by
    ``_ivf_list`` so probing is partition pruning, not a filter.

    Measured recall@10 vs brute force (sf0.001, 64-dim RANDOM synthetic
    embeddings — IVF's worst case, neighbors scatter across lists):
    0.88 at n_probe=8/16; 0.56-0.62 at n_probe=4/16 (seed-sensitive at
    that probe fraction on random vectors — list boundaries are
    arbitrary when there is no cluster structure to find).
    tests/test_properties.py pins ≥0.7 at n_probe=8 to catch
    assignment bugs; clustered real-world embeddings recall far higher
    at the same probe fraction.
    """
    assigned, centroids = ivf_assignments(df, vec_col, n_lists, seed)

    def l2(a: list[float], b: list[float]) -> float:
        return sum((x - y) ** 2 for x, y in zip(a, b))

    probes = sorted(range(len(centroids)), key=lambda i: l2(centroids[i], query_vec))[
        :n_probe
    ]
    q = V.lit_vec(query_vec)
    out = (
        assigned.filter(F.col("_ivf_list").isin([int(p) for p in probes]))
        .select(F.col(id_col), V.cosine(F.col(vec_col), q).alias("cosine_sim"))
    )
    if exclude_id is not None:
        out = out.filter(F.col(id_col) != exclude_id)
    return out.orderBy(F.desc("cosine_sim"), F.col(id_col)).limit(k)


def hyperplane_banded(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: list[list[float]],
    bands: int,
    r: int,
    block_col: str | None = None,
) -> DataFrame:
    """(_id[, block], band, bucket) banded hyperplane-LSH rows: the m
    signature bits split into ``bands`` bands of ``r`` bits, one row per
    band. The blocking primitive shared by :func:`embedding_near_pairs`
    and the persisted embedding index (operators/dedup_index.py) — both
    sides of an index join must band IDENTICALLY or candidates are
    silently lost, so there is exactly one implementation."""
    sig = df.select(
        F.col(id_col).alias("_id"),
        *([F.col(block_col)] if block_col else []),
        V.hyperplane_signature(F.col(vec_col), planes).alias("_sig"),
    )
    return sig.select(
        "_id",
        *([block_col] if block_col else []),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("_sig", b * r)
                        .bitwiseAND(F.lit((1 << r) - 1))
                        .alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", *([block_col] if block_col else []), "bb.band", "bb.bucket")


def embedding_near_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    m: int = 16,
    bands: int = 4,
    seed: int = 42,
    block_col: str | None = None,
    dim: int | None = None,
) -> DataFrame:
    """D2 (embedding flavor): pairs with cosine ≥ threshold.

    Blocking: BANDED hyperplane LSH — the m signature bits are split
    into ``bands`` bands of r = m/bands bits; a pair is a candidate iff
    ANY band agrees (the minhash banding scheme applied to hyperplane
    signs). Single-signature equality (bands=1) silently caps recall:
    at cosine 0.9 a bit agrees with p = 1 − θ/π ≈ 0.86, so all 8 bits
    agree only ~29% of the time. The default 4 bands × 4 bits keeps
    recall 1 − (1 − p⁴)⁴ ≈ 96% at cosine 0.9 while admitting only
    1 − (1 − 0.5⁴)⁴ ≈ 23% of UNCORRELATED pairs as candidates — band
    width is the recall/selectivity dial (fewer bits per band ≈
    all-pairs; the r=2 variant admits ~68% of random pairs). Optional
    block_col (e.g. a label/partition) further bounds buckets.

    Scale shape (mirrors minhash_lsh_pairs): the band self-join carries
    only (band, bucket[, block], id) — vectors are re-attached to the
    much smaller candidate-pair set by two keyed equi-joins before the
    cosine verify, so the banding shuffle is bytes-per-row-bounded.
    The banded rows are lazily local-checkpointed, so the m dot products
    per row run ONCE even though both self-join sides (and the verify)
    hang off them — no eager job at plan-build time.

    ``dim`` (vector dimensionality) parameterizes the hyperplanes; when
    omitted it is sniffed from the first row, which runs a one-row Spark
    job at plan-BUILD time — pass it explicitly in streaming /
    foreachBatch contexts or when the upstream plan is expensive.
    """
    banding_geometry(m, bands, "m")
    r = m // bands
    if dim is None:
        dim = sniff_dim(df, vec_col)
    planes = random_hyperplanes(dim, m, seed)
    # NULL-id rows are excluded (no stable identity to pair — the
    # dedup-family degenerate-identity contract); a duplicated id with
    # different vectors keeps one banded row per version and the
    # verify folds to the strongest cosine
    df = identified(df, id_col)
    banded = hyperplane_banded(df, id_col, vec_col, planes, bands, r, block_col)
    # lazy (non-eager) checkpoint: materialized by the first action, then
    # shared by both self-join sides — the signature dot products run once
    banded = pin(banded, eager=False)
    keys = ["band", "bucket"] + ([block_col] if block_col else [])
    cand = _candidate_pairs(banded, None, keys, ids=("_id", "_id"))
    # Per-SIDE squared norms ride the vector rows (don't compute per
    # pair what is a per-row quantity): the fused V.cosine re-derives
    # |a|² and |b|² inside every candidate pair's verify lambda — 3
    # accumulator fields per element per PAIR. Computed once per id
    # (one cheap pass over the input rows), the per-pair work is the dot
    # product alone — measured 2.3× faster on the verify stage at sf0.1
    # (3.51 → 1.52 s) with bit-identical output: each sum accumulates
    # in the same array order as V.cosine's fused struct fields, and
    # V.dot's finite_or_null gate fires on every input V.cosine's final
    # gate would catch (any non-finite element makes the dot
    # accumulation non-finite). The index probe keeps V.cosine on
    # purpose: there the per-side pass would scan every stored vector.
    sq_norm = F.aggregate(
        F.transform(V.to_double_array(vec_col), lambda x: x * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    vecs = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        sq_norm.alias("_nsq"),
    )
    cosine = V.finite_or_null(
        F.try_divide(
            V.dot("_va", "_vb"), F.sqrt(F.col("_na")) * F.sqrt(F.col("_nb"))
        )
    )
    return _verify_pairs(
        cand,
        _SELF,
        {"cosine_sim": cosine},
        F.max,
        F.col("cosine_sim") >= threshold,
        sides=(
            (vecs, "_id", {"_va": "_v", "_na": "_nsq"}),
            (vecs, "_id", {"_vb": "_v", "_nb": "_nsq"}),
        ),
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int = 5,
    exclude_self: bool = True,
    num_salts: int = 32,
) -> DataFrame:
    """Batch k-NN: the exact top-k cosine neighbors in ``corpus`` for
    EVERY query vector (the many-query generalization of
    :func:`cosine_topk`). Returns (query_id, corpus_id, cosine_sim),
    exact sim ranking, deterministic id tiebreak.

    Scale shape (100 TB corpus, thousands of queries): the query side is
    BROADCAST (nested-loop against each corpus partition — the scan
    stays partition-parallel, no corpus shuffle), then top-k is taken in
    TWO phases (:func:`_two_phase_topk`, shared with
    :func:`knn_join_ivf`) so no single reducer ever sees a whole
    query's candidate list. Salting by a hash of the corpus id is
    deterministic — results are identical for any num_salts >= 1.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if num_salts < 1:
        raise ValueError(f"num_salts must be >= 1, got {num_salts}")
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("_qv")
    )
    pairs = corpus.crossJoin(F.broadcast(q))
    if exclude_self:
        pairs = pairs.filter(F.col(corpus_id) != F.col("query_id"))
    sims = pairs.select(
        "query_id",
        F.col(corpus_id).alias("corpus_id"),
        V.cosine(F.col(corpus_vec), F.col("_qv")).alias("cosine_sim"),
    )
    return _two_phase_topk(sims, k, num_salts)


def recommended_n_lists(n_vectors: int) -> int:
    """The √N rule of thumb for IVF list count (the FAISS guidance —
    ``n_lists ≈ sqrt(corpus)`` balances per-list scan cost against
    centroid-ranking cost: probes then touch ~n_probe·√N vectors each),
    clamped to [4, 65536] so tiny corpora still get a usable quantizer
    and huge ones don't drown the driver in centroid literals."""
    import math

    return max(4, min(int(math.isqrt(max(1, n_vectors))), 65536))


def build_ivf_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    n_lists: int | None = None,
    seed: int = 42,
    target_fit_rows: int = 100_000,
) -> list[list[float]]:
    """Materialize an IVF index at ``path``: the corpus written as
    parquet PARTITIONED BY its coarse-quantizer list, plus the centroids
    as a one-row-per-list dataset.

    This is the production flank of :func:`cosine_topk_ivf` (mirror of
    operators/dedup_index for the similarity family): assignment runs
    once at build time, and every query's probe becomes PARTITION
    PRUNING — the scan physically reads only the n_probe list
    directories, which is how a 100 TB ANN corpus answers in
    sub-corpus-scan time. Returns the centroids it wrote.

    ``n_lists=None`` (default) sizes the quantizer by the √N rule
    (:func:`recommended_n_lists`) from a one-pass corpus count — cheap
    next to the fit + full assignment write this function already does.
    Pass an explicit ``n_lists`` to pin it (e.g. a few × the cluster's
    cores when the query side, not the corpus, bounds parallelism);
    :func:`ivf_sizing_advice` reports when a pinned choice has drifted
    >4× from the rule as the corpus grows through appends."""
    assert_literal_path(path, "index path")
    # undersized-scan fan-out (parallelism.py): the per-row n_lists
    # centroid-distance assignment would otherwise serialize on a
    # few-split scan; identity on a real many-file corpus
    df = fan_out(df)
    if n_lists is None:
        n_lists = recommended_n_lists(df.count())
    assigned, centroids = ivf_assignments(
        df, vec_col, n_lists=n_lists, seed=seed,
        target_fit_rows=target_fit_rows, id_col=id_col,
    )
    spark = df.sparkSession
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    # local_frame: the classic list createDataFrame + coalesce(1) fetches
    # its defaultParallelism pickled slices SERIALLY in the one coalesced
    # task — measured ~7 s of fixed overhead per build on local[32]
    # (local_data.py); the Arrow route writes the same file in ~0.2 s
    write_index(
        df,
        id_col,
        path,
        {
            "flavor": "ivf",
            "n_lists": n_lists,
            "seed": seed,
            "dim": len(centroids[0]),
            # stored lists schema, recorded so appends can refuse drift
            # without a per-ingest directory walk (_refuse_schema_drift)
            "id_name": id_col,
            "vec_name": vec_col,
            "vec_type": df.schema[vec_col].dataType.simpleString(),
        },
        {
            "lists": assigned.select(id_col, vec_col, "_ivf_list").repartition(
                "_ivf_list"
            ),
            "centroids": local_frame(
                spark, rows, "list_id int, centroid array<double>"
            ).coalesce(1),
        },
    )
    return centroids


def _load_ivf(spark: SparkSession, path: str):
    """(index handle, centroids in list_id order, dim) for a persisted
    IVF index, with the manifest flavor validated — the single load path
    for append/search/batch-search, so loaders cannot diverge."""
    idx = open_index(spark, path, {"flavor": "ivf"})
    return (idx, *_centroids(idx))


def _centroids(idx: Index) -> tuple[list[list[float]], int]:
    cents = sorted(idx.read("centroids").collect(), key=lambda r: r["list_id"])
    centroids = [[float(x) for x in r["centroid"]] for r in cents]
    return centroids, int(idx.params.get("dim") or len(centroids[0]))


def _dim_guarded(df: DataFrame, vec_col: str, dim: int, context: str) -> DataFrame:
    """Replace ``vec_col`` with a copy that raises on a wrong-length,
    NULL, or non-finite vector. Without the length check, ``zip_with``
    NULL-pads the short side, every centroid distance goes NULL, and
    the row is silently mis-assigned / mis-ranked; without the
    finiteness check a NaN/Inf QUERY vector ranked every centroid at
    NaN distance, probed arbitrary lists, and silently returned zero
    neighbors instead of the promised caller-error raise —
    all three shapes get the same loud treatment. The guard is woven
    INSIDE the vector column via when/raise_error — a never-referenced
    ``assert_true`` side column would be column-pruned out of the plan
    and the check silently skipped."""
    v = F.col(vec_col)
    return df.withColumn(
        vec_col,
        F.when((F.size(v) == F.lit(dim)) & V.is_finite_vector(v), v)
        .when(
            F.size(v) == F.lit(dim),
            F.raise_error(
                F.lit(
                    f"{context}: query vector contains NaN/Inf — a "
                    "non-finite query is a caller error (every centroid "
                    "distance would be NaN and the probe lists arbitrary)"
                )
            ),
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"{context}: index built for dim={dim}, row has "),
                    F.coalesce(F.size(v).cast("string"), F.lit("NULL")),
                )
            )
        ),
    )


def _check_batch_schema(
    df: DataFrame, id_col: str, vec_col: str, stored_schema
) -> None:
    """Refuse a batch whose id/vector column names or types differ from
    the persisted lists dataset. Parquet would happily append the
    mismatched files, after which the merged dataset's resolved schema
    depends on WHICH footer Spark samples — the appended rows read as
    all-NULL or the whole index stops resolving, and a later
    ``compact_index`` bakes the damage in. Nullability is ignored
    (``simpleString`` comparison): it varies by writer, not by data.

    Columns are derived by TYPE (:func:`ivf_id_col` + the array field),
    the same derivation every read/fold path uses — a store whose
    column order diverged from (id, vec) must still accept appends, or
    an index whose reads work would permanently refuse ingest."""
    stored_id = stored_schema[ivf_id_col(stored_schema)]
    stored_vec = stored_schema[ivf_vec_col(stored_schema)]
    _refuse_schema_drift(
        df,
        id_col,
        vec_col,
        stored_id.name,
        stored_vec.name,
        stored_id.dataType.simpleString(),
        stored_vec.dataType.simpleString(),
    )


def _refuse_schema_drift(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    stored_id_name: str,
    stored_vec_name: str,
    stored_id_type: str,
    stored_vec_type: str,
) -> None:
    """The comparison half of :func:`_check_batch_schema`, split out
    so the stored names/types can come from the index MANIFEST
    (recorded at build) instead of a per-append schema probe of the
    partitioned lists dataset — a directory-walk + footer read of
    driver constant on every ingest. Same refusals, same messages."""
    if (id_col, vec_col) != (stored_id_name, stored_vec_name):
        raise ValueError(
            f"index stores columns ({stored_id_name!r}, {stored_vec_name!r}) "
            f"but the batch was addressed as ({id_col!r}, {vec_col!r}) — "
            "rename the batch columns; appending under different names "
            "would corrupt the dataset's resolved schema"
        )
    batch = {f.name: f for f in df.schema.fields}
    for name, want in ((id_col, stored_id_type), (vec_col, stored_vec_type)):
        got = batch[name].dataType.simpleString()
        if got != want:
            raise ValueError(
                f"batch column {name!r} is {got} but the index stores "
                f"{want} — cast the batch before appending"
            )


def _append_assigned(
    idx: Index,
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    dim: int,
    refuse_all_dirty: bool = True,
) -> None:
    """Assignment + append with pre-loaded quantizer state — the core
    :func:`append_to_ivf_index` and the streaming ingest sink share
    (the sink loads centroids/schema ONCE, not per micro-batch).

    Quarantine accounting (no silent caps): the batch is pinned once
    (micro-batch-sized), its quarantined-row count measured, and an
    all-quarantined batch REFUSED when ``refuse_all_dirty`` — in the
    synchronous :func:`append_to_ivf_index` API an all-dirty batch is a
    systematic error (truncated vectors, wrong embedding model) the
    caller can react to, and appending it would "succeed" while making
    nothing searchable. The STREAMING ingest sink passes
    ``refuse_all_dirty=False``: there the raise fires before the
    ``(app_id, batch_id)`` marker is written, so every restart replays
    the identical batch and crashes again — one corrupt vector arriving
    alone in a micro-batch would become a permanent poison pill. The
    stream instead logs an ERROR, lands the rows in
    list -1 (where ``index_stats`` and retract/compact still see them),
    and lets the marker commit. A partial quarantine is logged with
    counts and written the same way in both modes."""
    path = idx.path
    assigned = pin(_assigned_rows(df, id_col, vec_col, path, centroids, dim))
    counts = assigned.groupBy(F.col("_ivf_list") == -1).count().collect()
    n_quar = sum(r["count"] for r in counts if r[0])
    n_ok = sum(r["count"] for r in counts if not r[0])
    if n_quar and not n_ok:
        if refuse_all_dirty:
            raise ValueError(
                f"IVF index {path}: every row of the {n_quar}-row batch was "
                f"quarantined (wrong dim={dim}, NULL, or non-finite vectors) "
                "— refusing an all-dirty append; fix the batch or rebuild "
                "the index for the new dimensionality"
            )
        import logging

        logging.getLogger(__name__).error(
            "IVF index %s: every row of the %d-row streamed batch was "
            "quarantined to list -1 (wrong dim=%d/NULL/non-finite vectors) "
            "— ingested as quarantine so the stream can commit its batch "
            "marker and advance; an all-dirty stream is a systematic "
            "upstream error (wrong embedding model?), check the source",
            path, n_quar, dim,
        )
    elif n_quar:
        import logging

        logging.getLogger(__name__).warning(
            "IVF index %s: quarantined %d/%d batch rows to list -1 "
            "(wrong dim/NULL/non-finite vectors)",
            path, n_quar, n_quar + n_ok,
        )
    idx.write({"lists": assigned})


def _assigned_rows(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    centroids: list[list[float]],
    dim: int,
) -> DataFrame:
    """The assignment plan of :func:`_append_assigned` WITHOUT the
    write — split out so the streaming ingest can run the pre-execution
    scale gate on the exact plan it is about to execute.

    Corrupt rows (wrong dim / NULL / non-finite) quarantine to list -1
    via :func:`_ivf_assign` — the SAME fate they get at build time, so
    one dirty row never aborts an ingest batch. The loud `_dim_guarded` raise
    stays on the QUERY side only, where a mis-sized vector is a
    caller/config error, not dirty data."""
    return (
        _ivf_assign(df, vec_col, centroids, id_col=id_col)
        .select(id_col, vec_col, "_ivf_list")
        .repartition("_ivf_list")
    )


def append_to_ivf_index(
    df: DataFrame, id_col: str, vec_col: str, path: str, owner: str | None = None
) -> None:
    """Admit a new batch into a persisted IVF index: assign each vector
    to its nearest EXISTING centroid (the index's quantizer — never a
    refit, which would orphan every previously-written list) and append
    the rows into the matching list partitions.

    This is the daily-ingest flank the dedup indexes already have
    (``dedup_index.append_to_*``): the corpus is assigned once at build,
    each ingest appends one small file set, and
    ``maintenance.compact_index`` periodically folds the micro-files
    back to target size per list. Appending never moves old rows, so
    :func:`search_ivf_index`'s partition-pruning contract is unchanged.

    Guards: a wrong-length / NULL / non-finite vector QUARANTINES to
    list -1 (:func:`_ivf_assign`) — the same fate as at build time, so
    one dirty row never aborts an ingest — and a batch whose column
    names/types differ from the stored lists schema is refused before
    any file lands (:func:`_check_batch_schema`). K-means
    quality degrades if the data distribution shifts far from the
    build sample; re-run :func:`build_ivf_index` on that signal
    (:func:`ivf_list_profile` skew), not per ingest.

    The write holds the ``__appending`` marker (index_core) —
    concurrent appends and append-during-compaction are refused loudly;
    ``owner`` is the streaming ingest's stable reclaim identity."""
    idx, centroids, dim = _load_ivf(df.sparkSession, path)
    mft = idx.manifest or {}
    if {"id_name", "vec_name", "id_type", "vec_type"} <= set(mft):
        # manifest-recorded stored schema: same refusals, no per-append
        # directory walk of the partitioned lists dataset
        _refuse_schema_drift(
            df, id_col, vec_col,
            mft["id_name"], mft["vec_name"],
            mft["id_type"], mft["vec_type"],
        )
    else:  # pre-record manifest: probe the stored dataset
        _check_batch_schema(df, id_col, vec_col, idx.read("lists").schema)
    with idx.appending(owner):
        _append_assigned(idx, df, id_col, vec_col, centroids, dim)


def ivf_vec_col(schema) -> str:
    """The vector column of a persisted IVF lists dataset — the array
    field, by TYPE (mirror of :func:`ivf_id_col`; a bare ``next`` here
    would surface a corrupt store as an opaque StopIteration)."""
    name = next(
        (
            f.name
            for f in schema.fields
            if f.name != "_ivf_list" and f.dataType.typeName() == "array"
        ),
        None,
    )
    if name is None:
        raise ValueError(
            "IVF lists dataset has no array-typed vector column — the "
            f"store is corrupt or hand-edited; fields: {schema.fieldNames()}"
        )
    return name


def ivf_list_profile(spark: SparkSession, path: str) -> DataFrame:
    """Per-list member counts for a persisted IVF index, with each
    list's share of the corpus — the rebuild signal for
    :func:`append_to_ivf_index`'s no-refit contract. Appends assign
    with the BUILD centroids, so a drifting ingest distribution shows
    up here as list skew (a few lists absorbing most new vectors):
    probes into fat lists scan ever more of the corpus and the
    partition-pruning advantage decays. Rebuild (re-fit) when the top
    list's share is many times 1/n_lists; until then appends are fine.
    :func:`ivf_sizing_advice` is the complementary count-vs-√N-rule
    signal — kept a SEPARATE call so this profile stays a pure, lazy,
    metadata-speed plan (no extra jobs, no logging side effects).

    Cost: a scan that reads ONLY the partition column — parquet opens
    no data pages, so this is metadata-speed even on a 100 TB index
    (mirror of ``lsh_bucket_profile`` / ``embedding_bucket_profile``
    for the similarity flavor). With a live tombstone log
    (operators/tombstones.py) the subtraction additionally reads the id
    column, so counts reflect LIVE members; compaction restores the
    metadata-only scan.

    A ``_ivf_list = -1`` row is the QUARANTINE list (wrong-dim / NULL /
    non-finite vectors, unsearchable by construction); a non-zero share
    there is the fix-upstream-or-rebuild signal."""
    lists = open_index(spark, path, {"flavor": "ivf"}).live("lists")
    counts = lists.groupBy("_ivf_list").agg(F.count(F.lit(1)).alias("n_members"))
    total = Window.partitionBy()
    return (
        counts.withColumn(
            "share", F.col("n_members") / F.sum("n_members").over(total)
        )
        .orderBy(F.desc("n_members"), "_ivf_list")
    )


def ivf_sizing_advice(spark: SparkSession, path: str) -> dict:
    """Is this index's list count still right for its corpus size?
    Appends grow the corpus under a FIXED quantizer, so an index built
    at √N drifts as N grows; this compares the stored ``n_lists``
    against :func:`recommended_n_lists` for the LIVE vector count and
    recommends a rebuild when they disagree by >4× either way (under-
    listed: probes scan ever-fatter lists; over-listed: centroid
    ranking + tiny files dominate). Cost: one count over the lists
    dataset's id/partition columns — no vector pages are read. The
    list count comes from the CENTROIDS dataset, not the manifest, so
    pre-manifest indexes (mft=None) are advised too."""
    idx, centroids, _ = _load_ivf(spark, path)
    n_lists = len(centroids)
    if n_lists == 0:
        raise ValueError(
            f"IVF index {path} has an empty centroids dataset — the "
            "store is corrupt or hand-edited; rebuild with "
            "build_ivf_index"
        )
    n_vectors = idx.live("lists").count()
    rec = recommended_n_lists(n_vectors)
    ratio = max(n_lists / rec, rec / n_lists)
    advice = {
        "n_vectors": n_vectors,
        "n_lists": n_lists,
        "recommended_n_lists": rec,
        "ratio": round(ratio, 2),
        "rebuild_recommended": ratio > 4.0,
    }
    if advice["rebuild_recommended"]:
        import logging

        logging.getLogger(__name__).warning(
            "%s: n_lists=%d is %.1fx off the sqrt-N rule for %d live "
            "vectors — rebuild with n_lists~%d (build_ivf_index "
            "default does this)",
            path, n_lists, advice["ratio"], n_vectors, rec,
        )
    return advice


def knn_join_ivf(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    query_id: str,
    query_vec: str,
    k: int = 10,
    n_probe: int = 4,
    exclude_self: bool = False,
    num_salts: int = 32,
    prune: bool = True,
) -> DataFrame:
    """Batch ANN over the persisted IVF index: for EVERY query row, the
    top-k cosine neighbors among the vectors in that query's ``n_probe``
    nearest lists — the many-query generalization of
    :func:`search_ivf_index`, and the index-backed (sub-corpus-scan)
    alternative to the exact :func:`knn_join`. Returns
    (query_id, corpus_id, cosine_sim), per-query rows identical to a
    :func:`search_ivf_index` call with the same k/n_probe.

    Scale shape: each query expands to its ``n_probe`` probe rows (the
    centroid argsort folds into the plan as literals — a map-only
    stage), then probes ⋈ lists joins on the PARTITION column
    ``_ivf_list``. With ``prune=True`` (default) the union of probed
    list ids — BOUNDED by n_lists, computed by one job over the query
    side only — is applied as a static ``isin`` partition filter, so
    unprobed list directories are never read (PartitionFilters pinned
    in test; measured here because Spark's dynamic partition pruning
    does NOT fire on this shape — the probe side carries no selective
    filter predicate, so the optimizer's heuristic declines). Pass
    ``prune=False`` for query batches broad enough to probe every
    list — it skips the extra query-side job that buys nothing there.
    The join's parallelism is bounded by ``n_lists``: size it to a few
    × the cluster's cores at build time (tens of rows per list is
    centroid-starved anyway). Top-k reuses :func:`knn_join`'s two-phase
    salted ranking so no reducer materializes a whole query's candidate
    list.

    ``exclude_self`` drops corpus rows whose id equals the query's
    (queries drawn from the indexed corpus itself). Query vectors carry
    the wrong-dim/NULL RAISE guard (:func:`_dim_guarded`) — unlike the
    corpus/append side, where a dirty row quarantines, a mis-sized
    QUERY is a caller/config error that would probe meaningless lists
    and return NULL similarities as "neighbors"."""
    assert_literal_path(path, "index path")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if num_salts < 1:
        raise ValueError(f"num_salts must be >= 1, got {num_salts}")
    idx, centroids, dim = _load_ivf(spark, path)
    if not 1 <= n_probe <= len(centroids):
        raise ValueError(f"n_probe must be in [1, {len(centroids)}], got {n_probe}")

    guarded = _dim_guarded(queries, query_vec, dim, f"IVF index {path} (query)")
    qv = F.col(query_vec).cast("array<double>")
    import math as _math

    if all(_math.isfinite(x) for c in centroids for x in c):
        # one parsed expression (see _sqdist_sql): identical tree,
        # ~30× fewer driver roundtrips per probe ranking
        qv_sql = f"cast(`{query_vec}` as array<double>)"
        ranked = F.expr(
            "array_sort(array("
            + ", ".join(
                f"named_struct('d', {_sqdist_sql(qv_sql, c)}, 'i', {i})"
                for i, c in enumerate(centroids)
            )
            + "))"
        )
    else:
        ranked = F.array_sort(
            F.array(
                *[
                    F.struct(_sqdist(qv, c).alias("d"), F.lit(i).alias("i"))
                    for i, c in enumerate(centroids)
                ]
            )
        )
    probes = guarded.select(
        F.col(query_id).alias("query_id"),
        # double-cast so the verify sim is bit-identical to
        # search_ivf_index's double-literal query vector
        qv.alias("_qv"),
        F.explode(
            F.slice(F.transform(ranked, lambda s: s["i"]), 1, n_probe)
        ).alias("_ivf_list"),
    )
    lists = idx.live("lists")
    # derive by TYPE, not position, and through the same helper the
    # tombstone fold uses (ivf_id_col) — a store whose column order
    # ever diverged from (id, vec) would otherwise silently swap the
    # two and return vectors as "corpus_id"
    corpus_id = ivf_id_col(lists.schema)
    corpus_vec = ivf_vec_col(lists.schema)
    if prune:
        # pin the probe rows before the collect: the join below re-uses
        # this SAME materialization, so (a) a nondeterministic queries
        # plan (sample/limit/rand) cannot produce a filter that
        # excludes lists the join then probes, and (b) the per-query
        # centroid-ranking map stage runs once, not twice
        probes = pin(probes, eager=False)
        probe_ids = sorted(
            r["_ivf_list"]
            for r in probes.select("_ivf_list").distinct().collect()
        )
        lists = lists.filter(F.col("_ivf_list").isin(probe_ids))
    cand = lists.join(probes, "_ivf_list")
    if exclude_self:
        cand = cand.filter(F.col(corpus_id) != F.col("query_id"))
    sims = cand.select(
        "query_id",
        F.col(corpus_id).alias("corpus_id"),
        V.cosine(F.col(corpus_vec), F.col("_qv")).alias("cosine_sim"),
    )
    return _two_phase_topk(sims, k, num_salts)


def _two_phase_topk(sims: DataFrame, k: int, num_salts: int) -> DataFrame:
    """Per-query top-k over (query_id, corpus_id, cosine_sim) rows in
    two phases so no single reducer materializes a whole query's
    candidate list: phase 1 ranks within (query, salt=xxhash64(corpus
    id) % num_salts) groups keeping k rows per group, phase 2 ranks the
    surviving k·num_salts rows per query. Salting is deterministic —
    results are identical for any num_salts >= 1 (pinned in tests).
    Shared by :func:`knn_join` and :func:`knn_join_ivf` so the ranking
    contract (desc cosine, id tiebreak) cannot drift between them."""
    order = [F.desc("cosine_sim"), F.col("corpus_id")]
    partial = Window.partitionBy(
        "query_id", F.pmod(F.xxhash64(F.col("corpus_id")), F.lit(num_salts))
    ).orderBy(*order)
    final = Window.partitionBy("query_id").orderBy(*order)
    return (
        sims.withColumn("_r", F.row_number().over(partial))
        .filter(F.col("_r") <= k)
        .withColumn("_r", F.row_number().over(final))
        .filter(F.col("_r") <= k)
        .drop("_r")
    )


def search_ivf_index(
    spark: SparkSession,
    path: str,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    exclude_id=None,
) -> DataFrame:
    """Top-k cosine against a persisted IVF index: pick the ``n_probe``
    nearest centroids driver-side (centroids are a tiny one-row-per-list
    read), then scan ONLY those list partitions.

    The probe filter is on the PARTITION column, so it resolves to
    directory pruning before any data file opens — `.explain` shows the
    pruned `PartitionFilters`, and the test pins that the scan touches
    n_probe/n_lists of the files. Same ranking contract as
    :func:`cosine_topk` (desc cosine, id tiebreak)."""
    assert_literal_path(path, "index path")
    idx, centroids, dim = _load_ivf(spark, path)
    if len(query_vec) != dim:
        raise ValueError(
            f"IVF index {path} built for dim={dim}, query has {len(query_vec)}"
        )
    if any(x is None or not math.isfinite(float(x)) for x in query_vec):
        # same caller-error contract as knn_join_ivf's _dim_guarded: a
        # NaN/Inf/NULL-element query would rank every centroid at NaN
        # distance and probe arbitrary lists (and NaN sims sort ABOVE
        # real ones descending, so garbage would rank first). The
        # explicit None check keeps this the documented ValueError —
        # float(None) would otherwise TypeError out of the guard
        # (_ivf_assign classifies NULL elements as non-finite).
        raise ValueError(
            f"IVF index {path}: query vector contains NaN/Inf/NULL — fix "
            "the query; a non-finite query cannot rank centroids or "
            "neighbors"
        )

    def l2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    probe_ids = sorted(
        range(len(centroids)), key=lambda i: l2(centroids[i], query_vec)
    )[:n_probe]
    q = V.lit_vec(query_vec)
    out = (
        idx.live("lists")
        .filter(F.col("_ivf_list").isin(probe_ids))
        .select(F.col(id_col), V.cosine(F.col(vec_col), q).alias("cosine_sim"))
    )
    if exclude_id is not None:
        out = out.filter(F.col(id_col) != exclude_id)
    return out.orderBy(F.desc("cosine_sim"), F.col(id_col)).limit(k)


def embedding_bucket_profile(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 16,
    bands: int = 4,
    seed: int = 42,
    dim: int | None = None,
    top: int = 20,
) -> DataFrame:
    """Pre-flight skew check for :func:`embedding_near_pairs` — the
    ``top`` largest (band, bucket) member counts with their
    candidate-pair yield ``est_pairs = n·(n−1)/2``, mirroring
    ``operators.dedup.lsh_bucket_profile``. k co-bucketed vectors emit
    C(k, 2) join-output pairs per band regardless of AQE, so collapse
    exact-duplicate vectors first and check the residual bucket sizes
    before launching the pair join. One banding pass + a top-N
    aggregate, no self-join."""
    banding_geometry(m, bands, "m")
    if dim is None:
        dim = sniff_dim(df, vec_col)
    planes = random_hyperplanes(dim, m, seed)
    banded = hyperplane_banded(df, id_col, vec_col, planes, bands, m // bands)
    return (
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .withColumn(
            "est_pairs",
            (F.col("n_members") * (F.col("n_members") - 1) / 2).cast("bigint"),
        )
        .orderBy(F.desc("n_members"), "band", "bucket")
        .limit(top)
    )
