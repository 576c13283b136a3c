"""The persisted-index core (operators/index_core.py): the flavor table's
verify-first append order, and the refusal of a manifest whose flavor
the table does not know."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from dbt_foundation_spark.operators.index_core import FLAVORS
from dbt_foundation_spark.operators.tombstones import (
    append_marker_path,
    compaction_marker_path,
)


def _exists(spark, path: str) -> bool:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def _text_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _vec_docs(spark, ids):
    return spark.createDataFrame(
        [(i, [float(i % 5 + 1), float(i % 3), 1.0, 0.5]) for i in ids],
        "doc_id bigint, vec array<double>",
    )


def _build_and_batch(spark, flavor: str, path: str):
    """Build a small ``flavor`` index at ``path``; return (batch, append)."""
    from dbt_foundation_spark.operators import dedup_index as D

    if flavor == "embedding":
        D.build_embedding_index(_vec_docs(spark, range(8)), "doc_id", "vec", path)
        return _vec_docs(spark, [100, 101]), lambda b: D.append_to_embedding_index(
            b, "doc_id", "vec", path
        )
    corpus = _text_docs(
        spark, [(i, f"alpha beta gamma doc {i} delta epsilon") for i in range(8)]
    )
    batch = _text_docs(
        spark,
        [(100, "fresh words one two three four"), (101, "other new words five six")],
    )
    if flavor == "minhash":
        D.build_minhash_index(corpus, "doc_id", "text", path, num_hashes=16, bands=4)
        return batch, lambda b: D.append_to_index(
            b, "doc_id", "text", path, num_hashes=16, bands=4
        )
    D.build_containment_index(
        corpus, "doc_id", "text", path, shingle_len=2, threshold=0.6
    )
    return batch, lambda b: D.append_to_containment_index(
        b, "doc_id", "text", path, shingle_len=2, threshold=0.6
    )


@pytest.mark.parametrize("flavor", ["minhash", "containment", "embedding"])
def test_append_writes_verify_store_before_discovery(
    spark, tmp_path, monkeypatch, flavor
):
    """A concurrent reader mid-append may under-discover the batch but
    never proposes a candidate whose verify row is missing: the verify
    store (the table's first sub-dataset) is written before every
    discovery sub-dataset. Fail the first discovery write and the
    verify store must already hold the batch, no discovery store may."""
    path = str(tmp_path / flavor)
    batch, append = _build_and_batch(spark, flavor, path)
    verify, *discovery = [s.name for s in FLAVORS[flavor]]
    assert discovery, f"{flavor} has a single sub-dataset"
    batch_ids = [100, 101]

    def batch_rows(sub: str) -> int:
        return (
            spark.read.parquet(f"{path}/{sub}")
            .filter(F.col("id").isin(batch_ids))
            .select("id")
            .distinct()
            .count()
        )

    real_parquet = DataFrameWriter.parquet

    def failing_parquet(self, target, *args, **kwargs):
        if str(target).rstrip("/").endswith(f"/{discovery[0]}"):
            raise OSError(f"injected failure writing {target}")
        return real_parquet(self, target, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
    with pytest.raises(OSError, match="injected failure"):
        append(batch)
    monkeypatch.undo()

    assert batch_rows(verify) == len(batch_ids)
    for sub in discovery:
        assert batch_rows(sub) == 0, sub
    # the failed append released its claim, so the heal (re-run) works
    assert not _exists(spark, append_marker_path(path))
    append(batch)
    for sub in discovery:
        assert batch_rows(sub) == len(batch_ids), sub


def test_unknown_manifest_flavor_refused_before_any_marker(spark, tmp_path):
    """A manifest recording a flavor the table does not know (another
    version's, or a corrupt one) is refused with a ValueError naming the
    manifest and the known flavors — before compact_index puts down its
    __compacting marker, which would otherwise block every later append
    and revive."""
    from dbt_foundation_spark.operators.dedup_index import build_minhash_index
    from dbt_foundation_spark.operators.maintenance import compact_index, index_stats

    path = str(tmp_path / "mh")
    build_minhash_index(
        _text_docs(spark, [(i, f"alpha beta gamma doc {i}") for i in range(4)]),
        "doc_id",
        "text",
        path,
        num_hashes=16,
        bands=4,
    )
    parts = [
        f
        for f in glob.glob(f"{path}/manifest/*")
        if not os.path.basename(f).startswith(("_", "."))
    ]
    assert len(parts) == 1
    m = json.loads(open(parts[0]).read())
    m["flavor"] = "hnsw"
    # drop the local-FS CRC sidecar: a real object store serves the
    # rewritten bytes, it does not checksum-reject them
    for crc in glob.glob(f"{path}/manifest/.*.crc"):
        os.remove(crc)
    with open(parts[0], "w") as fh:
        fh.write(json.dumps(m) + "\n")

    for op in (compact_index, index_stats):
        with pytest.raises(ValueError, match="unknown index flavor 'hnsw'") as e:
            op(spark, path)
        assert f"{path}/manifest" in str(e.value)
        assert all(f in str(e.value) for f in FLAVORS)
        assert not _exists(spark, compaction_marker_path(path))
