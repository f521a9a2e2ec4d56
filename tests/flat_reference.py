"""Flat Tungsten-sort reference plan for the packed index builder.

One row per (doc, field, term) from ``tokenize``, hash-repartitioned on
(term, fcode, doc bucket), Tungsten-sorted within partitions on
(term, fcode, doc_id), and each whole partition handed to the library
block encoder. The parity tests assert that ``build_postings_packed``
produces exactly this block table.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import functions as F

from golr_loader_spark.functions.tokenize import tokenize
from golr_loader_spark.plans.build_index import _encode_sorted, bucket_of

_SCHEMA = (
    "term string, field string, bucket int, block_id int, n int, "
    "doc_id_first long, doc_ids binary, tfs binary, dls binary, "
    "max_tf int, min_dl int, tf_sum long"
)


def build_postings_flat(documents, cfg, n_partitions: int = 8):
    """documents → postings through the flat plan (see module doc)."""
    names = F.array(*[F.lit(f) for f in cfg.fields])
    fcode = (F.array_position(names, F.col("field")) - 1).cast("int")
    cols = [F.col("term"), fcode.alias("fcode"), "doc_id", "tf", "dl"]
    if cfg.positions:
        cols.append("positions")
    bucket = bucket_of(F.col("doc_id"), cfg.bucket_bits, cfg.id_space_bits)
    flat = (
        tokenize(documents, cfg)
        .select(*cols)
        .repartition(n_partitions, "term", "fcode", bucket)
        .sortWithinPartitions("term", "fcode", "doc_id")
    )

    def encode(batches):
        parts = [b for b in batches if b.num_rows]
        if parts:
            whole = pa.Table.from_batches(parts).combine_chunks()
            yield _encode_sorted(whole.to_batches()[0], cfg)

    schema = _SCHEMA + (", poss binary" if cfg.positions else "")
    return flat.mapInArrow(encode, schema).withColumn("segment", F.lit(0))
