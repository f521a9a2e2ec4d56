"""Packed-encoder external-bucket spill (round-6 batch 3): when a
reduce partition's buffered token bytes exceed
``spark.golr_loader.build.packed_spill_mb``, the unpack stage routes
rows into term-hash sub-bucket spill files (disjoint (term, fcode)
group sets) and sorts+encodes them one sub-bucket at a time — bounded
memory, and the block table must stay EXACTLY the flat reference
plan's (tests/flat_reference.py).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from flat_reference import build_postings_flat
from golr_loader_spark.config import IndexConfig
from golr_loader_spark.corpus import synth_corpus
from golr_loader_spark.plans import build_index as bi
from golr_loader_spark.plans.build_index import build_postings_packed
from golr_loader_spark.plans.documents import assign_dense_ids, flatten_documents

N = 1200
SPILL_CONF = "spark.golr_loader.build.packed_spill_mb"


@pytest.fixture(scope="module")
def docs(spark):
    return flatten_documents(synth_corpus(spark, N, seed=42, partitions=6)).cache()


@pytest.fixture(scope="module")
def dense(docs):
    return assign_dense_ids(docs).cache()


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(cols).collect())


@pytest.fixture(scope="module")
def hot(dense):
    # one term in every document: its groups span all 16 doc buckets
    return dense.withColumn("content", F.concat(F.lit("hotterm "), "content"))


@pytest.mark.parametrize(
    "corpus, positional",
    [
        pytest.param("dense", False, id="False"),
        pytest.param("dense", True, id="True"),
        pytest.param("hot", False, id="hot-False"),
        pytest.param("hot", True, id="hot-True"),
    ],
)
def test_spilled_equals_flat(spark, request, corpus, positional):
    docs = request.getfixturevalue(corpus)
    cfg = IndexConfig(
        bucket_bits=4,
        id_space_bits=max(2, (N - 1).bit_length()),
        positions=positional,
    )
    flat = build_postings_flat(docs, cfg)
    try:
        # ~50 KB threshold: every reduce partition trips the spill
        spark.conf.set(SPILL_CONF, "0.05")
        spilled = build_postings_packed(docs, cfg)
        cols = flat.columns
        assert _rows(spilled, cols) == _rows(flat, cols)
    finally:
        spark.conf.unset(SPILL_CONF)


def test_spilled_equals_flat_hash_ids(spark, docs):
    # 64-bit hash ids (negative doc_ids, sparse buckets) through the
    # spill path
    cfg = IndexConfig(bucket_bits=5, id_space_bits=64)
    flat = build_postings_flat(docs, cfg)
    try:
        spark.conf.set(SPILL_CONF, "0.05")
        spilled = build_postings_packed(docs, cfg)
        cols = flat.columns
        assert _rows(spilled, cols) == _rows(flat, cols)
    finally:
        spark.conf.unset(SPILL_CONF)


def test_zero_disables_spill(spark, dense):
    # packed_spill_mb=0 → pure in-memory path (the pre-spill behavior)
    cfg = IndexConfig(bucket_bits=4, id_space_bits=max(2, (N - 1).bit_length()))
    flat = build_postings_flat(dense, cfg)
    try:
        spark.conf.set(SPILL_CONF, "0")
        packed = build_postings_packed(dense, cfg)
        cols = flat.columns
        assert _rows(packed, cols) == _rows(flat, cols)
    finally:
        spark.conf.unset(SPILL_CONF)


# --- driver-side checks of the unpack stage (no Spark job) ---------------

_CFG = IndexConfig(bucket_bits=4, id_space_bits=10)


def _blob_rows(blobs: list[bytes]) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array(np.zeros(len(blobs), np.int32)), pa.array(blobs, pa.binary())],
        names=["pid", "blob"],
    )


def _hot_term_blob(ids: np.ndarray) -> bytes:
    """Token rows of one term in field 0 for the given doc ids."""
    n = len(ids)
    ones = pa.array(np.ones(n, np.int32))
    rb = pa.RecordBatch.from_arrays(
        [pa.array(["hotterm"] * n), pa.array(np.zeros(n, np.int32)),
         pa.array(ids.astype(np.int64)), ones, ones],
        schema=bi._token_arrow_schema(_CFG),
    )
    return rb.serialize().to_pybytes()


def _spill_fds(root) -> list[str]:
    out = []
    for fd in os.listdir("/proc/self/fd"):
        try:
            target = os.readlink(f"/proc/self/fd/{fd}")
        except OSError:
            continue
        if target.startswith(str(root)):
            out.append(target)
    return out


def test_spill_failure_closes_files(tmp_path, monkeypatch):
    """A blob that fails to decode after the spill started must leave
    no open spill file and no spill directory behind."""
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path))
    ids = np.arange(1024)
    rows = _blob_rows(
        [_hot_term_blob(ids[:512]), _hot_term_blob(ids[512:]), b"not an arrow message"]
    )
    # `failure` keeps the traceback, and with it the failed stage's
    # frame, alive while the descriptors are checked
    with pytest.raises(pa.ArrowInvalid) as failure:
        list(bi._unpack_encode(_CFG, spill_bytes=1)(iter([rows])))
    assert failure.type is pa.ArrowInvalid
    assert _spill_fds(tmp_path) == []
    assert list(tmp_path.glob("golr_spill_*")) == []


def test_hot_term_spreads_over_spill_sub_buckets(tmp_path, monkeypatch):
    """One term spanning all 16 doc buckets must not land in a single
    spill sub-bucket, and the spilled blocks equal the in-memory ones."""
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path))
    ids = np.arange(1024)
    rows = _blob_rows([_hot_term_blob(ids[:512]), _hot_term_blob(ids[512:])])
    in_memory = list(bi._unpack_encode(_CFG)(iter([rows])))

    sizes = []
    sort = bi._sort_token_batches

    def recording_sort(parts, schema):
        sizes.append(sum(p.num_rows for p in parts))
        return sort(parts, schema)

    monkeypatch.setattr(bi, "_sort_token_batches", recording_sort)
    spilled = list(bi._unpack_encode(_CFG, spill_bytes=1)(iter([rows])))
    assert sum(1 for n in sizes if n) > 1
    assert sum(sizes) == len(ids)

    def blocks(out):
        return sorted(
            tuple(r.values()) for rb in out for r in rb.to_pylist()
        )

    assert blocks(spilled) == blocks(in_memory)
