"""Dump .explain('formatted') plans for the round-6-touched queries.

Usage: python scripts/dump_plans_r06.py <repo_root> <suffix>
Writes plans/r06/<name>_<suffix>.txt under THIS repo (cwd repo), with
the query implementations imported from <repo_root> — so the same
script produces the _before (round-start worktree) and _after (current
tree) plan dumps the judge compares.
"""

from __future__ import annotations

import os
import sys


def main() -> None:
    root, suffix = sys.argv[1], sys.argv[2]
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    sys.path.insert(0, root)

    from golr_loader_spark.config import IndexConfig
    from golr_loader_spark.corpus import synth_corpus
    from golr_loader_spark.operators.relational import QUERIES
    from golr_loader_spark.plans.build_index import build_postings_packed
    from golr_loader_spark.plans.documents import (
        assign_dense_ids,
        flatten_documents,
    )
    from golr_loader_spark.session import get_spark

    spark = get_spark(cores=8, app_name=f"plans_{suffix}")
    sf = "/root/testdata/sf0.01"

    def dump(name: str, df) -> None:
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(name, "ok")

    for q in ["q17_ngram_jaccard", "q24_bm25_topk", "q41_semdedup",
              "q42_bigram_logprob"]:
        fn, _sql = QUERIES[q]
        dump(q, fn(spark, sf))

    n = 20000
    docs = flatten_documents(synth_corpus(spark, n, seed=42, partitions=8))
    dd = assign_dense_ids(docs)
    dump("assign_dense_ids", dd)
    cfg = IndexConfig(bucket_bits=5, id_space_bits=max(2, (n - 1).bit_length()))
    cfgp = IndexConfig(
        bucket_bits=5, id_space_bits=max(2, (n - 1).bit_length()), positions=True
    )
    dump("index_build_packed", build_postings_packed(dd, cfg))
    dump("index_build_packed_positional", build_postings_packed(dd, cfgp))
    spark.stop()


if __name__ == "__main__":
    main()
