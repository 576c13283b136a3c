"""``dedup_ingest``: near-duplicate ingest against a persisted minhash index.

The curation write path at scale: each op takes one seeded batch (a
recorded share of it planted near-duplicates of corpus documents),
probes it with ``dedup_against_index`` and admits the survivors with
``append_to_index``. Every ``RETRACT_EVERY``-th op also retracts a
seeded id set and compacts the index — the periodic maintenance spikes
``op_tail_s`` carries and a median hides.

Checks: every reported pair's jaccard is recomputed exactly in Python;
planted pairs must be found; after each compaction the index's id set
equals corpus + admitted - retracted.
"""

from __future__ import annotations

import re
from pathlib import Path

import duckdb
from pyspark.sql import functions as F

from dbt_foundation_spark.operators.dedup_index import (
    append_to_index,
    build_minhash_index,
    dedup_against_index,
)
from dbt_foundation_spark.operators.maintenance import compact_index, index_stats
from dbt_foundation_spark.operators.tombstones import retract_from_index

from inputs import dedup_inputs
from spans import median_or_zero

PARAMS = dict(num_hashes=32, bands=8, shingle_len=3)
THRESHOLD = 0.7
RETRACT_EVERY = 3
RECALL_FLOOR = 0.9  # per op; planted pairs sit near jaccard 0.9


def shingles(text: str, n: int = 3) -> set[str]:
    """The engine's token n-gram definition: lowercase, trim, split on
    whitespace, space-joined n-grams (one shingle for shorter texts)."""
    toks = re.split(r"\s+", text.strip().lower())
    return {" ".join(toks[i:i + n]) for i in range(max(len(toks) - n + 1, 1))}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


class DedupIngest:
    name = "dedup_ingest"
    cycle = RETRACT_EVERY

    def __init__(self, seed: int, work: Path, n_ops: int, cpus: int, tracer):
        self.seed, self.work, self.n_ops, self.tr = seed, work, n_ops, tracer
        self.layer: dict[str, list[float]] = {}

    def upkeep(self, i: int) -> bool:
        """The last op of each cycle also retracts and compacts."""
        return i > 0 and i % RETRACT_EVERY == 0

    def job_groups(self):
        return []

    def input_job(self):
        return dedup_inputs, (self.seed, self.work / "inputs", self.n_ops, RETRACT_EVERY)

    def load(self, inp) -> dict:
        self.inp = inp
        return dict(inp.props, jaccard_threshold=THRESHOLD, **PARAMS)

    def setup(self, spark) -> None:
        self.spark = spark
        self.path = str(self.work / "index")
        corpus = spark.read.parquet(str(self.inp.corpus))
        build_minhash_index(corpus, "doc_id", "text", self.path, **PARAMS)
        self.live = set(range(self.inp.props["corpus_docs"]))
        self.n_retractions = 0
        self.last = None

    def op(self, i: int) -> int:
        batch = self.spark.read.parquet(str(self.inp.batches[i]))
        with self.tr.span("dedup_index.probe_plan"):
            hits = dedup_against_index(self.spark, batch, "doc_id", "text", self.path,
                                       jaccard_threshold=THRESHOLD, **PARAMS)
        with self.tr.span("dedup_index.probe_exec"):
            pairs = [(r.new_id, r.corpus_id, r.jaccard) for r in hits.collect()]
        dupes = sorted({p[0] for p in pairs})
        survivors = batch.filter(~F.col("doc_id").isin(dupes)) if dupes else batch
        with self.tr.span("dedup_index.append"):
            append_to_index(survivors, "doc_id", "text", self.path, **PARAMS)
        retracted = []
        if self.upkeep(i):
            retracted = self.inp.retract[self.n_retractions]
            self.n_retractions += 1
            with self.tr.span("tombstones.retract"):
                retract_from_index(self.spark, self.path, retracted)
            with self.tr.span("maintenance.compact"):
                compact_index(self.spark, self.path)
        self.last = (pairs, dupes, retracted)
        return len(self.inp.batch_ids[i])

    # ---------------------------------------------------------- checks

    def _index_ids(self) -> dict[str, set[int]]:
        """Distinct ids stored in each sub-dataset, read from the files."""
        con = duckdb.connect()
        try:
            return {
                sub: {r[0] for r in con.execute(
                    f"SELECT DISTINCT id FROM read_parquet('{self.path}/{sub}/*.parquet')"
                ).fetchall()}
                for sub in ("shingles", "bands")
            }
        finally:
            con.close()

    def _ids_match(self) -> str | None:
        for sub, ids in self._index_ids().items():
            if ids != self.live:
                return (f"index {sub} ids: {len(ids - self.live)} extra, "
                        f"{len(self.live - ids)} missing")
        return None

    def check(self, i: int) -> list[str]:
        if i < 0:  # after set-up: the index holds exactly the corpus
            err = self._ids_match()
            return [err] if err else []
        pairs, dupes, retracted = self.last
        errors = []
        texts = self.inp.texts
        for new_id, corpus_id, jac in pairs:
            exact = jaccard(texts[new_id], texts[corpus_id])
            if abs(exact - jac) > 1e-9 or exact < THRESHOLD:
                errors.append(f"pair ({new_id}, {corpus_id}) jaccard {jac} vs exact {exact}")
        planted = self.inp.planted[i]
        found = {(n, c) for n, c, _ in pairs}
        hit = sum((n, c) in found for n, c in planted.items())
        recall = hit / len(planted)
        if recall < RECALL_FLOOR:
            errors.append(f"planted recall {recall:.3f} < {RECALL_FLOOR}")
        admitted = set(self.inp.batch_ids[i].tolist()) - set(dupes)
        self.live |= admitted
        self.live -= set(retracted)
        if retracted:
            err = self._ids_match()
            if err:
                errors.append(f"after compaction: {err}")
        self.recall = recall
        self.admit = len(admitted) / len(self.inp.batch_ids[i])
        return errors

    # ---------------------------------------------------------- layers

    def record_layers(self, i: int) -> None:
        sample = {
            "dedup_index.probe_plan_s": self.tr.duration("dedup_index.probe_plan", i),
            "dedup_index.probe_exec_s": self.tr.duration("dedup_index.probe_exec", i),
            "dedup_index.append_s": self.tr.duration("dedup_index.append", i),
            "dedup_index.planted_recall": self.recall,
            "dedup_index.admit_ratio": self.admit,
        }
        if self.last[2]:  # this op retracted and compacted
            for name in ("tombstones.retract", "maintenance.compact"):
                sample[f"{name}_s"] = self.tr.duration(name, i)
        stats = index_stats(self.spark, self.path)
        files = sum(d["n_files"] for d in stats["datasets"].values())
        nbytes = sum(d["total_bytes"] for d in stats["datasets"].values())
        sample["index.files"] = files
        sample["index.bytes_per_doc"] = nbytes / len(self.live)
        for k, v in sample.items():
            self.layer.setdefault(k, []).append(v)

    def layer_metrics(self) -> dict[str, float]:
        return {k: median_or_zero(v) for k, v in self.layer.items()}
