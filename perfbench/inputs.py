"""Seeded input generation for the benchmark workloads.

Every input is a pure function of ``(workload, seed)``: numpy's PCG64
drives all randomness and pyarrow writes the parquet files with fixed
options, so one seed always yields byte-identical files (``digest``
proves it). The program under test only ever sees the files written
here; the generators return plain Python/numpy values the checks use
as ground truth.

Shapes, schemas and row counts follow the repository's sf0.1 test data
(TPC-H-like star schema, an ``events`` stream and a ``documents`` text
corpus; see ``SF01``). The benchmark makes
them itself, so it reads nothing outside its checkout.
"""

from __future__ import annotations

import datetime as dt
import hashlib
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1)
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def write_parquet(table: pa.Table, path: Path) -> int:
    """Write one parquet file deterministically; returns its size."""
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return path.stat().st_size


def digest(root: Path) -> str:
    """sha256 over every file under ``root`` (relative path + bytes)."""
    h = hashlib.sha256()
    for p in sorted(root.rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def _ts(seconds: np.ndarray) -> pa.Array:
    """Seconds since EPOCH -> timestamp[us] (microsecond integers)."""
    us = np.round(np.asarray(seconds, dtype=np.float64) * 1e6).astype(np.int64)
    epoch_us = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(us + epoch_us, type=pa.timestamp("us"))


# ---------------------------------------------------------------- DAG


@dataclass
class DagInputs:
    """Source directories plus per-op delta files for ``dag_refresh``.

    ``sources`` maps table -> directory the project reads; each op lands
    the files of ``deltas[i]`` (table -> staged file) into those
    directories by rename."""

    sources: dict[str, Path]
    deltas: list[dict[str, Path]]
    delta_rows: list[int]
    props: dict = field(default_factory=dict)


def _customers(rng, keys: np.ndarray, day: int) -> pa.Table:
    n = len(keys)
    return pa.table(
        {
            "c_custkey": pa.array(keys, pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
            "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, len(SEGMENTS), n)]),
            "updated_at": _ts(np.full(n, day * 86400.0)),
        }
    )


def _orders(rng, first_key: int, n: int, n_cust: int, day_lo: int, day_hi: int):
    keys = np.arange(first_key, first_key + n, dtype=np.int64)
    odays = rng.integers(day_lo, day_hi, n)
    orders = pa.table(
        {
            "o_orderkey": pa.array(keys),
            "o_custkey": pa.array(rng.integers(1, n_cust + 1, n), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(np.round(rng.uniform(900.0, 500000.0, n), 2)),
            "o_orderdate": _ts(odays * 86400.0),
            "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, len(PRIORITIES), n)]),
        }
    )
    per = rng.integers(1, 8, n)
    lk = np.repeat(keys, per)
    m = len(lk)
    ln = (np.arange(m) - np.repeat(np.cumsum(per) - per, per) + 1).astype(np.int32)
    ship = np.repeat(odays, per) + rng.integers(1, 122, m)
    qty = rng.integers(1, 51, m).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(lk),
            "l_partkey": pa.array(rng.integers(1, 20_001, m), pa.int64()),
            "l_suppkey": pa.array(rng.integers(1, 1_001, m), pa.int64()),
            "l_linenumber": pa.array(ln),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, m), 2)),
            "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, m)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, m)]),
            "l_shipdate": _ts(ship * 86400.0),
        }
    )
    return orders, lineitem


def _events(rng, first_id: int, n: int, day: int, late_share: float, n_users: int,
            days: int = 1):
    """``days`` days of events from ``day`` on; ``late_share`` of them
    arrive late, stamped a day early (inside the microbatch lookback)."""
    secs = day * 86400.0 + rng.uniform(0, days * 86400.0, n)
    late = rng.random(n) < late_share
    secs[late] -= 86400.0
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": _ts(np.round(secs, 3)),
            "user_id": pa.array(rng.integers(1, n_users + 1, n), pa.int64()),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(np.round(rng.exponential(40.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


# Row counts of the repository's sf0.1 test data (TESTDATA.md): the
# benchmark regenerates inputs of that size and shape from the seed.
SF01 = {"customer": 15_000, "orders": 150_000, "events": 100_000, "event_days": 30,
        "event_users": 1_500, "documents": 5_000}


def dag_inputs(seed: int, root: Path, n_ops: int, scale: float) -> DagInputs:
    """Base sources at ``scale`` x sf0.1 plus ``n_ops`` staged deltas.

    A delta is TPC-H's refresh function RF1 at the same scale (SF x 1500
    new orders with their lineitems) plus one new events day and 1 % of
    the customers changed."""
    rng = np.random.default_rng([seed, 1])
    n_cust = int(SF01["customer"] * scale)
    n_orders = int(SF01["orders"] * scale)
    ev_days = SF01["event_days"]
    ev_per_day = int(SF01["events"] * scale) // ev_days
    d_orders, d_cust = int(1500 * 0.1 * scale), n_cust // 100
    src = {t: root / "sources" / t for t in
           ("region", "nation", "customer", "orders", "lineitem", "events")}
    nbytes = 0
    nbytes += write_parquet(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    }), src["region"] / "part-0.parquet")
    nbytes += write_parquet(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i:02d}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), src["nation"] / "part-0.parquet")
    nbytes += write_parquet(
        _customers(rng, np.arange(1, n_cust + 1), 0), src["customer"] / "part-0.parquet"
    )
    orders, lineitem = _orders(rng, 1, n_orders, n_cust, -700, -1)
    nbytes += write_parquet(orders, src["orders"] / "part-0.parquet")
    nbytes += write_parquet(lineitem, src["lineitem"] / "part-0.parquet")
    users = SF01["event_users"]
    ev = _events(rng, 0, ev_per_day * ev_days, 0, 0.0, users, days=ev_days)
    nbytes += write_parquet(ev, src["events"] / "part-0.parquet")
    base_rows = {"customer": n_cust, "orders": n_orders,
                 "lineitem": lineitem.num_rows, "events": ev.num_rows}

    deltas, delta_rows, delta_bytes = [], [], 0
    next_order, next_event = n_orders + 1, ev_days * ev_per_day
    for i in range(n_ops):
        stage = root / "deltas" / f"{i:04d}"
        o, li = _orders(rng, next_order, d_orders, n_cust, i, i + 1)
        e = _events(rng, next_event, ev_per_day, ev_days + i, 0.1, users)
        c = _customers(rng, np.sort(rng.choice(np.arange(1, n_cust + 1), d_cust,
                                                replace=False)), i + 1)
        next_order += d_orders
        next_event += ev_per_day
        files = {}
        for t, tbl in (("orders", o), ("lineitem", li), ("events", e), ("customer", c)):
            files[t] = stage / f"{t}-{i:04d}.parquet"
            delta_bytes += write_parquet(tbl, files[t])
        deltas.append(files)
        delta_rows.append(o.num_rows + li.num_rows + e.num_rows + c.num_rows)
    props = {
        "scale_of_sf0.1": scale,
        "base_rows": base_rows,
        "base_bytes": nbytes,
        "delta_rows_per_op": delta_rows[0] if delta_rows else 0,
        "delta_bytes_total": delta_bytes,
        "staged_deltas": n_ops,
        "delta_batch": {"orders": d_orders, "customers_changed": d_cust,
                        "events": ev_per_day, "events_late_share": 0.1},
    }
    return DagInputs(src, deltas, delta_rows, props)


# ---------------------------------------------------------------- text


def _vocab(rng, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, n)
    words = {"".join(letters[rng.integers(0, 26, k)]) for k in lens}
    return np.array(sorted(words))


@dataclass
class DedupInputs:
    """Corpus file, per-op batch files and the planted ground truth.

    ``planted[i]`` maps each planted new id of batch ``i`` to the corpus
    id it was copied from; ``retract[j]`` is the id set of the j-th
    retraction (drawn from ids never used as plant sources)."""

    corpus: Path
    texts: dict[int, str]
    batches: list[Path]
    batch_ids: list[np.ndarray]
    planted: list[dict[int, int]]
    retract: list[list[int]]
    props: dict = field(default_factory=dict)


def _doc(rng, vocab, lo=10, hi=101) -> list[str]:
    return list(vocab[rng.integers(0, len(vocab), rng.integers(lo, hi))])


def dedup_inputs(seed: int, root: Path, n_ops: int, retract_every: int) -> DedupInputs:
    """An sf0.1-sized corpus (10-100 words per document over a small
    vocabulary, as in the test data) plus ``n_ops`` ingest batches."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 40)
    n_corpus, batch, plant_share, retract_n = SF01["documents"], 100, 0.2, 15
    texts = {i: " ".join(_doc(rng, vocab)) for i in range(n_corpus)}
    # ids divisible by 10 are the takedown pool; the rest seed plants, so
    # a planted near-duplicate never points at a retracted document.
    # Plants copy documents of 40+ words: one substituted word then
    # keeps the 3-shingle jaccard above 0.85.
    plant_pool = np.array([i for i in range(n_corpus)
                           if i % 10 and texts[i].count(" ") >= 39])
    take_pool = rng.permutation(np.arange(0, n_corpus, 10))
    corpus = root / "corpus" / "part-0.parquet"
    cbytes = write_parquet(pa.table({
        "doc_id": pa.array(list(texts), pa.int64()),
        "text": pa.array(list(texts.values())),
    }), corpus)
    batches, batch_ids, planted, bbytes = [], [], [], 0
    next_id = 1_000_000
    n_plant = int(round(batch * plant_share))
    for i in range(n_ops):
        ids = np.arange(next_id, next_id + batch, dtype=np.int64)
        next_id += batch
        src = rng.choice(plant_pool, n_plant, replace=False)
        out, plant = [], {}
        for j, nid in enumerate(ids):
            if j < n_plant:
                toks = texts[int(src[j])].split(" ")
                k = int(rng.integers(0, len(toks)))
                toks[k] = str(vocab[(np.searchsorted(vocab, toks[k]) + 1) % len(vocab)])
                out.append(" ".join(toks))
                plant[int(nid)] = int(src[j])
            else:
                out.append(" ".join(_doc(rng, vocab)))
        perm = rng.permutation(batch)
        ids, out = ids[perm], [out[k] for k in perm]
        path = root / "batches" / f"batch-{i:04d}.parquet"
        bbytes += write_parquet(pa.table({"doc_id": pa.array(ids), "text": pa.array(out)}), path)
        batches.append(path)
        batch_ids.append(ids)
        planted.append(plant)
        texts.update(zip(ids.tolist(), out))
    n_retract = n_ops // retract_every + 1
    retract = [take_pool[j * retract_n:(j + 1) * retract_n].tolist() for j in range(n_retract)]
    props = {
        "corpus_docs": n_corpus,
        "corpus_bytes": cbytes,
        "vocab_words": len(vocab),
        "batch_docs": batch,
        "planted_share": plant_share,
        "batch_bytes_total": bbytes,
        "staged_batches": n_ops,
        "retract_ids_per_takedown": retract_n,
        "retract_every_ops": retract_every,
    }
    return DedupInputs(corpus, texts, batches, batch_ids, planted, retract, props)


if __name__ == "__main__":
    # run.py's input child: a pickled (generator, args) on stdin, the
    # pickled inputs on stdout
    import pickle
    import sys

    fn, args = pickle.load(sys.stdin.buffer)
    pickle.dump(fn(*args), sys.stdout.buffer)
