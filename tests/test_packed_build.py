"""Packed-boundary build path (plans.build_index.build_postings_packed):
the blob-exchange plan must produce the EXACT block table of the flat
tokenize→shuffle→sort→encode reference plan (tests/flat_reference.py)
— base, positional, and hash-id (sparse bucket) corpora — and
build_index must produce that same table.
"""

from __future__ import annotations

import pytest

from flat_reference import build_postings_flat
from golr_loader_spark.config import IndexConfig
from golr_loader_spark.corpus import synth_corpus
from golr_loader_spark.plans.build_index import (
    build_index,
    build_postings_packed,
    derived_term_stats,
)
from golr_loader_spark.plans.documents import assign_dense_ids, flatten_documents

N = 1200


@pytest.fixture(scope="module")
def docs(spark):
    return flatten_documents(synth_corpus(spark, N, seed=42, partitions=6)).cache()


@pytest.fixture(scope="module")
def dense(docs):
    return assign_dense_ids(docs).cache()


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(cols).collect())


@pytest.mark.parametrize("positional", [False, True])
def test_packed_equals_flat_dense(spark, dense, positional):
    cfg = IndexConfig(
        bucket_bits=4,
        id_space_bits=max(2, (N - 1).bit_length()),
        positions=positional,
    )
    flat = build_postings_flat(dense, cfg)
    packed = build_postings_packed(dense, cfg)
    cols = flat.columns
    assert _rows(packed, cols) == _rows(flat, cols)


def test_packed_equals_flat_hash_ids(spark, docs):
    # 64-bit hash ids: negative doc_ids, arithmetic-shift buckets,
    # sparse id space — exercises the packed path's bucket/pid math
    # away from the dense fast case
    cfg = IndexConfig(bucket_bits=5, id_space_bits=64)
    flat = build_postings_flat(docs, cfg)
    packed = build_postings_packed(docs, cfg)
    cols = flat.columns
    assert _rows(packed, cols) == _rows(flat, cols)


def test_build_index_equals_flat_reference(spark, dense):
    cfg = IndexConfig(bucket_bits=4, id_space_bits=max(2, (N - 1).bit_length()))
    ix = build_index(dense, cfg, n_docs=N)
    flat = build_postings_flat(dense, cfg)
    cols = flat.columns
    assert _rows(ix.postings, cols) == _rows(flat, cols)
    ts = sorted(tuple(r) for r in ix.term_stats.collect())
    ts2 = sorted(tuple(r) for r in derived_term_stats(flat).collect())
    assert ts == ts2
    ix.postings.unpersist()
