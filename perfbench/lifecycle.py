"""One engine lifecycle per benchmark run, through the public functions.

ingest → spark_query → serve on one seeded corpus in one local[nproc]
session, with one closed-loop client; a traced run goes on with
shard → update → compact. Every phase checks
the engine's outputs, and each wrong or failed operation counts into
``failed``. Latencies come from spans around the calls into each layer
(see trace.py); the traced run adds stage metrics from the event log.

A span is named after the layer it calls into (``build_index``,
``serve.search``, ...), except the benchmark's own work: ``run``,
``phase.*``, ``check.*`` and ``bench.*`` spans.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass

from perfbench import streams
from perfbench.trace import ProcTree, Tracer, attribute_stages, read_event_log

K = 10  # top-k of every query


BUCKET_BITS = 1  # 2 doc-range buckets: about 1,000 docs each
UPDATE_CYCLES = 1  # one upsert+delete cycle, then one compaction


BENCH_SPANS = ("run", "phase.", "check.", "bench.")


def is_layer(span_name: str) -> bool:
    return not span_name.startswith(BENCH_SPANS)


@dataclass(frozen=True)
class Scale:
    n_docs: int
    setup_reps: int  # corpus preparations; setup_s takes their median
    spark_batch: int  # queries per bm25.search_batch call
    min_spark_ops: int  # per kind (batch, phrase); even, so OR and AND batches pair up
    serve_rounds: int  # a round: 8 searches and 1 phrase
    update_batch: int  # docs upserted per cycle
    update_deletes: int  # docs deleted per cycle
    burst: int  # queries after each refresh


FULL = Scale(
    n_docs=2000, setup_reps=5, spark_batch=8, min_spark_ops=4, serve_rounds=125,
    update_batch=20, update_deletes=4, burst=100,
)
SMOKE = Scale(
    n_docs=300, setup_reps=2, spark_batch=4, min_spark_ops=1, serve_rounds=3,
    update_batch=8, update_deletes=2, burst=5,
)

# share of --seconds given to the spark_query loop, which also runs until
# its minimum operation count is reached. The serve loop runs a fixed
# number of rounds, so that its cache hits do not depend on host speed.
SPARK_SHARE = 0.5

END_TO_END_UNITS = {
    "setup_s": "s",
    "py_peak_rss_mb": "MB",
    "ingest_docs_per_s": "docs/s",
    "ingest_cpu_s": "s",
    "index_bytes_per_doc": "B/doc",
    "spark_bm25_batch_p50_ms": "ms",
    "spark_phrase_p50_ms": "ms",
    "serve_p50_ms": "ms",
    "serve_p90_ms": "ms",
    "serve_phrase_p50_ms": "ms",
}


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[max(0, math.ceil(len(v) * p / 100.0) - 1)]


def same_ranking(a: list[tuple[int, float]], b: list[tuple[int, float]]) -> bool:
    return len(a) == len(b) and all(
        int(x[0]) == int(y[0]) and math.isclose(x[1], y[1], rel_tol=1e-9, abs_tol=1e-12)
        for x, y in zip(a, b)
    )


def tree_bytes(root: str) -> tuple[int, int, dict[str, tuple[int, float]]]:
    """(bytes, files, {path: (size, mtime)}) of the data files under
    ``root``; hidden and ``_``-prefixed files (checksums, markers) are
    not index data."""
    files = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            if n.startswith((".", "_")):
                continue
            p = os.path.join(d, n)
            st = os.stat(p)
            files[p] = (st.st_size, st.st_mtime)
    return sum(s for s, _m in files.values()), len(files), files


def bytes_written(before: dict, after: dict) -> int:
    return sum(s for p, (s, m) in after.items() if before.get(p) != (s, m))


def add_cache_counts(acc: dict[str, int], searcher) -> None:
    """Add a LocalSearcher's decoded-list and term-block cache hits and
    misses to ``acc``; refresh() replaces both caches."""
    for name, cache in (("list", searcher._list_cache), ("term", searcher._term_blocks)):
        acc[f"{name}.hits"] += cache.hits
        acc[f"{name}.misses"] += cache.misses


def jvm_heap_peak(spark) -> int:
    """Sum of the peak used bytes of the driver JVM's heap pools."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(
        int(pool.getPeakUsage().getUsed())
        for pool in mf.getMemoryPoolMXBeans()
        if pool.getType().toString() == "Heap memory"
    )


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Lifecycle:
    """One run: its session, its seeded inputs, its counters and results."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 workdir: str, out_dir: str, scale: Scale, spark_conf: dict[str, str],
                 cores: int):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.out_dir = out_dir
        self.scale, self.workdir, self.cores = scale, workdir, cores
        self.spark_conf = spark_conf
        self.tr = Tracer(trace, run_id=f"{workload}-{seed}-{os.getpid()}")
        self.proc = ProcTree()
        self.attempted = 0
        self.failed = 0
        self.lat: dict[str, list[float]] = defaultdict(list)  # seconds
        self.v: dict[str, float] = {}
        self.root = f"{workdir}/index"
        self.plan = streams.UpdatePlan(
            seed, scale.n_docs, scale.update_batch, scale.update_deletes, UPDATE_CYCLES
        )
        from golr_loader_spark.config import IndexConfig

        self.cfg = IndexConfig(
            bucket_bits=BUCKET_BITS,
            id_space_bits=max(2, (self.plan.id_ceiling - 1).bit_length()),
            positions=True,
        )

    # ------------------------------------------------------------ ops

    def check(self, ok: bool, what: str) -> None:
        """One output check that is not itself a timed operation."""
        self.op(what, lambda: None, lambda _r: ok)

    def call(self, span: str, fn, jobs: bool = False):
        """``fn()`` timed in a span of its own: a call into a layer made
        by a check, so its time counts as that layer's."""
        with self.tr.span(span, jobs=jobs):
            return fn()

    def op(self, what: str, fn, verify=None, span: str | None = None,
           lat: str | None = None, jobs: bool = False):
        """Run one operation; it fails if it raises, and is wrong if
        ``verify`` rejects its result. With ``span``, ``fn`` alone (not
        ``verify``) is timed in that span, and its seconds are appended
        to ``self.lat[lat]``. Returns the result or None."""
        self.attempted += 1
        try:
            if span is None:
                res = fn()
            else:
                with self.tr.span(span, jobs=jobs) as sp:
                    res = fn()
                if lat is not None:
                    self.lat[lat].append(sp.seconds)
        except Exception:  # the benchmark keeps running and reports it
            self.failed += 1
            log(f"FAILED: {what}\n{traceback.format_exc()}")
            return None
        if verify is not None and not verify(res):
            self.failed += 1
            log(f"WRONG: {what}")
        return res

    # ------------------------------------------------------------ run

    def run(self) -> dict:
        spark = None
        try:
            with self.tr.span("run"):
                spark = self.setup()
                for phase in (self.ingest, self.setup_serving, self.spark_query, self.serve):
                    phase(spark)
                    self.proc.sample()
                walls = {k: self.v[f"{k}.wall_s"] for k in ("ingest", "spark", "serve")}
                log(f"phases {json.dumps(walls)}")
                if self.tr.enabled:
                    # sharding, writes and compaction: traced runs only,
                    # their wall would not fit the untraced runs' budget
                    for phase in (self.shard, self.update, self.compact):
                        phase(spark)
                        self.proc.sample()
                    self.v["jvm.heap_peak_mb"] = jvm_heap_peak(spark) / 2**20
        finally:
            from perfbench.host import stop_spark

            if spark is not None:
                stop_spark(spark, self.proc)
        return self.result()

    def setup(self):
        from golr_loader_spark.corpus import synth_corpus
        from golr_loader_spark.session import get_spark

        s = self.scale
        with self.tr.span("session.start") as sp:
            spark = get_spark(
                cores=self.cores, app_name="perfbench", shuffle_partitions=self.cores,
                extra_conf=self.spark_conf, driver_mem=self.spark_conf["spark.driver.memory"],
            )
        self.v["session.start_s"] = sp.seconds
        self.tr.attach(spark.sparkContext if self.tr.enabled else None)
        with self.tr.span("session.first_py_worker", jobs=True) as sp:
            spark.range(self.cores, numPartitions=self.cores).mapInPandas(
                lambda it: it, "id long"
            ).count()
        self.v["session.first_py_worker_s"] = sp.seconds
        reps = []
        for _ in range(s.setup_reps):
            # CacheManager matches by plan: without this a repeated
            # preparation is served from the previous one's cache
            spark.catalog.clearCache()
            with self.tr.span("corpus.synth", jobs=True) as sp:
                self.corpus = synth_corpus(
                    spark, s.n_docs, seed=self.seed, partitions=self.cores
                ).persist()
                self.corpus.count()
            reps.append(sp.seconds)
        self.v["corpus.synth_s"] = statistics.median(reps)
        log(f"session {self.v['session.start_s']:.1f}s, first worker "
            f"{self.v['session.first_py_worker_s']:.1f}s, corpus "
            f"{[round(x, 3) for x in reps]}")
        return spark

    def ingest(self, spark) -> None:
        from pyspark.sql import functions as F

        from golr_loader_spark.functions.tokenize import tokenize
        from golr_loader_spark.plans.build_index import build_index, write_index
        from golr_loader_spark.plans.documents import assign_dense_ids, flatten_documents

        n = self.scale.n_docs
        cpu0 = self.proc.cpu_seconds()
        with self.tr.span("phase.ingest") as phase:
            with self.tr.span("documents.flatten", jobs=True) as sp:
                docs = flatten_documents(self.corpus).persist()
                docs.count()
            self.v["documents.flatten_s"] = sp.seconds
            with self.tr.span("documents.dense_ids", jobs=True) as sp:
                self.docs = assign_dense_ids(docs).persist()
                self.docs.count()
            self.v["documents.dense_ids_s"] = sp.seconds
            with self.tr.span("build_index", jobs=True) as sp:
                ix = build_index(self.docs, self.cfg, n_docs=n)
                ix.term_stats = ix.term_stats.persist()
                ix.term_stats.count()
            self.v["build_index.s"] = sp.seconds
            with self.tr.span("write_index", jobs=True) as sp:
                write_index(ix, self.root, term_partitions=self.cores, documents=self.docs)
            self.v["write_index.s"] = sp.seconds
        self.ix = ix
        self.v["ingest_cpu_s"] = self.proc.cpu_seconds() - cpu0
        self.v["ingest.wall_s"] = phase.seconds
        self.v["ingest_docs_per_s"] = n / phase.seconds
        size, files, _ = tree_bytes(self.root)
        self.v["write_index.bytes"], self.v["write_index.files"] = size, files
        self.v["index_bytes_per_doc"] = size / n

        # exact count: every (doc, field, term) row of the tokenizer is
        # one posting
        with self.tr.span("check.ingest", jobs=True):
            agg = ix.postings.agg(
                F.count("*").alias("blocks"),
                F.sum("n").alias("postings"),
                F.sum(F.length("doc_ids")).alias("id_bytes"),
                F.sum(F.length("poss")).alias("pos_bytes"),
            ).collect()[0]
            with self.tr.span("tokenize", jobs=True) as sp:
                tokens = tokenize(self.docs, self.cfg).count()
            self.v["tokenize.s"], self.v["tokenize.tokens"] = sp.seconds, tokens
        blocks, postings = int(agg["blocks"]), int(agg["postings"])
        self.v["build_index.blocks"], self.v["build_index.postings"] = blocks, postings
        self.v["build_index.id_bytes_per_posting"] = agg["id_bytes"] / postings
        self.v["build_index.pos_bytes_per_posting"] = agg["pos_bytes"] / postings
        self.check(postings == tokens, f"postings {postings} != token rows {tokens}")
        self.check(ix.n_docs == n, f"index n_docs {ix.n_docs} != {n}")
        log(f"ingest {phase.seconds:.1f}s: {blocks} blocks, {postings} postings")

    def setup_serving(self, spark) -> None:
        """The term dictionary the streams draw from; in traced runs also
        the update content, the 2-shard split and the block table."""
        from pyspark.sql import functions as F

        from golr_loader_spark.corpus import synth_corpus
        from golr_loader_spark.plans.documents import flatten_documents
        from golr_loader_spark.plans.shard import shard_index

        with self.tr.span("bench.vocab", jobs=True) as sp:
            field = next(iter(self.cfg.fields))
            rows = (
                self.ix.term_stats.filter(F.col("field") == field)
                .select("term", "df").collect()
            )
            self.vocab = [r["term"] for r in sorted(rows, key=lambda r: (-r["df"], r["term"]))]
        self.v["bench.vocab_s"] = sp.seconds
        log(f"term dictionary: {len(self.vocab)} terms in {sp.seconds:.2f}s")
        if not self.tr.enabled:
            return
        with self.tr.span("bench.update_rows", jobs=True):
            self.update_rows = (
                flatten_documents(
                    synth_corpus(spark, self.plan.corpus_rows, seed=self.plan.corpus_seed,
                                 partitions=1)
                )
                .select("repo", "path", "commit", "lang", "content", "content_sha256")
                .toPandas()
            )
        with self.tr.span("shard.index", jobs=True) as sp:
            self.shard_roots = shard_index(
                spark, self.root, f"{self.workdir}/shards", 2, cfg=self.cfg
            )
        self.v["shard.index_s"] = sp.seconds
        # per-(term, field) block counts: candidate blocks of a query
        with self.tr.span("bench.block_counts", jobs=True):
            self.block_counts = {
                (r["term"], r["field"]): int(r["c"])
                for r in self.ix.postings.groupBy("term", "field")
                .agg(F.count("*").alias("c")).collect()
            }

    def _candidate_blocks(self, terms: list[str], fields) -> int:
        return sum(self.block_counts.get((t, f), 0) for t in terms for f in fields)

    def spark_query(self, spark) -> None:
        from golr_loader_spark.functions.tokenize import analyze_phrase, analyze_query
        from golr_loader_spark.plans.bm25 import query_analyzer, search_batch
        from golr_loader_spark.plans.phrase import phrase_search_positional
        from golr_loader_spark.plans.serve import LocalSearcher

        s, cfg = self.scale, self.cfg
        # a searcher of its own, so these checks leave the serve
        # phase's caches cold
        ref = self.call("serve.open", lambda: LocalSearcher(self.root))
        n_ops = s.min_spark_ops * 8
        queries = streams.query_stream(
            self.workload, self.vocab, self.seed, (n_ops + 1) * s.spark_batch)
        phrases = streams.phrase_stream(self.vocab, self.seed, n_ops + 1)
        field = next(iter(cfg.fields))
        qan = query_analyzer(cfg)

        def batch(i: int, mode: str, timed: bool = True) -> bool:
            qs = dict(enumerate(queries[i * s.spark_batch : (i + 1) * s.spark_batch]))
            with self.tr.span("bm25.search_batch", jobs=True) as sp:
                rows = search_batch(self.ix, qs, k=K, cfg=cfg, mode=mode).collect()
            got = defaultdict(list)
            for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
                got[r["query_id"]].append((r["doc_id"], r["score"]))
            ok = all(
                same_ranking(got.get(qid, []),
                             self.call("serve.search", lambda: ref.search(q, k=K, mode=mode)))
                for qid, q in qs.items()
            )
            if not timed:
                return ok
            self.lat["spark_batch"].append(sp.seconds)
            if self.tr.enabled:
                self.lat["bm25.search_batch.candidate_blocks"].append(sum(
                    self._candidate_blocks(analyze_query(q, qan, cfg.chain), cfg.fields)
                    for q in qs.values()
                ))
            return ok

        def phrase(i: int, timed: bool = True) -> bool:
            ph = phrases[i]
            with self.tr.span("phrase.positional", jobs=True) as sp:
                rows = phrase_search_positional(self.ix, ph, k=K, cfg=cfg).collect()
            ok = same_ranking([(r["doc_id"], r["score"]) for r in rows],
                              self.call("serve.phrase", lambda: ref.search_phrase(ph, k=K)))
            if not timed:
                return ok
            self.lat["spark_phrase"].append(sp.seconds)
            if self.tr.enabled:
                terms = sorted({t for t, _p in analyze_phrase(
                    ph, cfg.fields[field][0], cfg.min_term_len, cfg.chain)})
                self.lat["phrase.positional.candidate_blocks"].append(
                    self._candidate_blocks(terms, [field]))
            return ok

        # the JVM is still compiling these plans on the first calls
        with self.tr.span("phase.spark_query.warmup"):
            self.op("warmup search_batch", lambda: batch(n_ops, "or", False), bool)
            self.op("warmup phrase", lambda: phrase(n_ops, False), bool)
        deadline = time.perf_counter() + SPARK_SHARE * self.seconds
        i = 0
        with self.tr.span("phase.spark_query") as phase:
            while i < n_ops and (
                time.perf_counter() < deadline or i < 2 * s.min_spark_ops
            ):
                if i % 2 == 0:
                    mode = "or" if i % 4 == 0 else "and"
                    self.op(f"search_batch {mode} #{i // 2} vs LocalSearcher",
                            lambda: batch(i // 2, mode), bool)
                else:
                    self.op(f"phrase_search_positional #{i // 2} vs LocalSearcher",
                            lambda: phrase(i // 2), bool)
                i += 1
        self.v["spark.wall_s"] = phase.seconds
        log(f"spark_query {phase.seconds:.1f}s: {len(self.lat['spark_batch'])} batches, "
            f"{len(self.lat['spark_phrase'])} phrases")

    def serve(self, spark) -> None:
        from golr_loader_spark.functions.tokenize import analyze_query
        from golr_loader_spark.plans.bm25 import query_analyzer, search
        from golr_loader_spark.plans.serve import LocalSearcher

        s, cfg, tr = self.scale, self.cfg, self.tr
        n_rounds = s.serve_rounds
        queries = streams.query_stream(self.workload, self.vocab, self.seed + 1, 8 * n_rounds)
        phrases = streams.phrase_stream(self.vocab, self.seed + 1, n_rounds)
        qan = query_analyzer(cfg)
        with tr.span("serve.open") as sp:
            ls = LocalSearcher(self.root)
        self.v["serve.open_ms"] = sp.seconds * 1e3
        self.searcher = ls
        passes = (streams.dictionary_passes(queries, len(self.vocab))
                  if self.workload == "cold" else [0] * len(queries))
        hits = defaultdict(int)  # cache counters of the searcher's earlier passes
        with tr.span("phase.serve") as phase:
            for r in range(n_rounds):
                for j in range(8):
                    i = 8 * r + j
                    q = queries[i]
                    mode = "and" if j % 2 else "or"
                    if i and passes[i] != passes[i - 1]:
                        add_cache_counts(hits, ls)
                        self.call("maintenance.refresh", ls.refresh)
                    if tr.enabled:
                        with tr.span("serve.analyze") as sp:
                            analyze_query(q, qan, cfg.chain)
                        self.lat["serve.analyze"].append(sp.seconds)
                    self.op(f"search {q!r}", lambda: ls.search(q, k=K, mode=mode),
                            span="serve.search", lat="serve")
                self.op(f"search_phrase {phrases[r]!r}", lambda: ls.search_phrase(phrases[r], k=K),
                        span="serve.phrase", lat="serve_phrase")
        self.v["serve.wall_s"] = phase.seconds
        add_cache_counts(hits, ls)
        for cache in ("list", "term"):
            self.v[f"serve.{cache}_cache_hit_ratio"] = hits[f"{cache}.hits"] / max(
                1, hits[f"{cache}.hits"] + hits[f"{cache}.misses"])
        log(f"serve {phase.seconds:.1f}s: {n_rounds} rounds, {passes[-1]} refreshes, "
            f"list cache {self.v['serve.list_cache_hit_ratio']:.2f} hits, "
            f"term cache {self.v['serve.term_cache_hit_ratio']:.2f} hits")
        # the serving path against the distributed one on the same index
        q = queries[0]
        self.op(
            f"LocalSearcher {q!r} vs bm25.search",
            lambda: [(r["doc_id"], r["score"])
                     for r in search(self.ix, q, k=K, cfg=cfg).collect()],
            lambda dist: same_ranking(self.call("serve.search", lambda: ls.search(q, k=K)), dist),
            span="bm25.search", jobs=True,
        )
        self.serve_queries = queries[::8]

    def shard(self, spark) -> None:
        """The 2-shard scatter-gather against the unsharded searcher, and
        the coordinator's merge timed on per-shard results."""
        from golr_loader_spark.plans.serve import LocalSearcher
        from golr_loader_spark.plans.shard import ShardedSearcher, _merge_ranked

        ls, tr, queries = self.searcher, self.tr, self.serve_queries
        with tr.span("phase.shard"):
            with self.tr.span("shard.open"):
                sharded = ShardedSearcher(self.shard_roots, parallel=True)
            with sharded:
                for i, q in enumerate(queries):
                    mode = "and" if i % 2 else "or"
                    self.op(
                        f"sharded search {q!r} vs unsharded",
                        lambda: sharded.search(q, k=K, mode=mode),
                        lambda got: same_ranking(got, self.call(
                            "serve.search", lambda: ls.search(q, k=K, mode=mode))),
                        span="shard.search", lat="sharded",
                    )
                self.proc.sample()  # the shard workers are alive
            shards = [self.call("serve.open", lambda: LocalSearcher(r)) for r in self.shard_roots]
            for q in queries[:40]:
                parts = [self.call("serve.search", lambda: sh.search(q, k=K)) for sh in shards]
                with tr.span("shard.merge") as sp:
                    _merge_ranked(parts, K)
                self.lat["shard.merge"].append(sp.seconds)

    def update(self, spark) -> None:
        from golr_loader_spark.plans.maintenance import delete_docs, upsert_docs_fast

        s, cfg, ls, plan = self.scale, self.cfg, self.searcher, self.plan
        queries = streams.query_stream(
            self.workload, self.vocab, self.seed + 2, s.burst * (UPDATE_CYCLES + 1)
        )
        self.update_queries = queries[s.burst * UPDATE_CYCLES :]
        cols = ["doc_id", "repo", "path", "commit", "lang", "content", "content_sha256"]
        dead: set[int] = set()

        def burst(b: int) -> None:
            for q in queries[b * s.burst : (b + 1) * s.burst]:
                self.op(f"search after update {q!r}", lambda: ls.search(q, k=K),
                        lambda res: not dead & {d for d, _s in res},
                        span="serve.search", lat="update_query")

        with self.tr.span("phase.update") as phase:
            for c in range(UPDATE_CYCLES):
                cyc = plan.next_cycle()
                ids = cyc.upserted
                pdf = self.update_rows.iloc[cyc.first_row : cyc.first_row + len(ids)].copy()
                pdf.insert(0, "doc_id", ids)
                batch = spark.createDataFrame(pdf[cols])
                _, _, before = tree_bytes(self.root)
                out = self.op(
                    "upsert_docs_fast",
                    lambda: upsert_docs_fast(spark, self.root, batch, cfg, term_partitions=2),
                    lambda out: (out["updated"], out["added"])
                    == (len(cyc.replaced), len(cyc.added)),
                    span="maintenance.upsert", lat="upsert", jobs=True,
                )
                _, _, after = tree_bytes(self.root)
                self.lat["upsert_bytes"].append(bytes_written(before, after))
                if out is not None:
                    self.v["maintenance.segments"] = out["segment"] + 1
                self.op("delete_docs", lambda: delete_docs(spark, self.root, cyc.deleted.tolist()),
                        span="maintenance.delete", lat="delete", jobs=True)
                dead.update(cyc.deleted.tolist())
                with self.tr.span("maintenance.refresh") as sp:
                    ls.refresh()
                self.lat["refresh"].append(sp.seconds)
                burst(c)
        self.v["update.wall_s"] = phase.seconds
        with self.tr.span("check.update"):
            self.check(ls.n_docs == plan.n_base + plan.added,
                       f"n_docs after upserts {ls.n_docs} != {plan.n_base + plan.added}")
            self.match_distributed(spark, ls, queries[0], "after upserts")
        log(f"update {phase.seconds:.1f}s: {plan.cycles} cycles")

    def match_distributed(self, spark, ls, q: str, when: str) -> None:
        """LocalSearcher over the persisted root against bm25.search over
        the same root, tombstones applied on both sides."""
        from golr_loader_spark.plans.bm25 import search
        from golr_loader_spark.plans.build_index import read_index
        from golr_loader_spark.plans.maintenance import load_tombstones

        ix = self.call("read_index", lambda: read_index(spark, self.root, self.cfg), jobs=True)
        excl = self.call("maintenance.load_tombstones",
                         lambda: load_tombstones(spark, self.root), jobs=True)
        self.op(
            f"LocalSearcher {q!r} vs bm25.search {when}",
            lambda: [(r["doc_id"], r["score"]) for r in search(
                ix, q, k=K, cfg=self.cfg, exclude_ids=excl).collect()],
            lambda dist: same_ranking(self.call("serve.search", lambda: ls.search(q, k=K)), dist),
            span="bm25.search", jobs=True,
        )

    def compact(self, spark) -> None:
        """One compact_root after the update cycles."""
        from golr_loader_spark.plans.maintenance import compact_root

        ls, queries = self.searcher, self.update_queries
        with self.tr.span("phase.compact"):
            _, _, before = tree_bytes(self.root)
            self.op("compact_root", lambda: compact_root(spark, self.root, self.cfg),
                    span="maintenance.compact", lat="compact", jobs=True)
            self.v["maintenance.compact_s"] = (self.lat["compact"] or [math.nan])[-1]
            _, _, after = tree_bytes(self.root)
            self.v["maintenance.compact_bytes_rewritten"] = bytes_written(before, after)
            with self.tr.span("maintenance.refresh") as sp:
                ls.refresh()
            self.lat["refresh"].append(sp.seconds)
            self.check(ls.n_docs == len(self.plan.live),
                       f"n_docs after compaction {ls.n_docs} != live {len(self.plan.live)}")
            for q in queries:
                self.op(f"search after compaction {q!r}", lambda: ls.search(q, k=K),
                        span="serve.search")
            with self.tr.span("check.compacted"):
                self.match_distributed(spark, ls, queries[0], "after compaction")
        log(f"compact {self.v['maintenance.compact_s']:.1f}s")

    # ------------------------------------------------------------ report

    def end_to_end(self) -> dict[str, float]:
        lat, v = self.lat, self.v
        ms = lambda key, p: percentile(lat[key], p) * 1e3  # noqa: E731
        return {
            "setup_s": v["corpus.synth_s"] + v["bench.vocab_s"],
            "py_peak_rss_mb": self.proc.peak_rss / 2**20,
            "ingest_docs_per_s": v["ingest_docs_per_s"],
            "ingest_cpu_s": v["ingest_cpu_s"],
            "index_bytes_per_doc": v["index_bytes_per_doc"],
            "spark_bm25_batch_p50_ms": ms("spark_batch", 50),
            "spark_phrase_p50_ms": ms("spark_phrase", 50),
            "serve_p50_ms": ms("serve", 50),
            "serve_p90_ms": ms("serve", 90),
            "serve_phrase_p50_ms": ms("serve_phrase", 50),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        lat, v = self.lat, self.v
        mean = lambda key: statistics.fmean(lat[key]) if lat[key] else 0.0  # noqa: E731
        jobs, stages = read_event_log(f"{self.workdir}/eventlog")
        per_span = attribute_stages(self.tr, jobs, stages)
        by_name: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        calls: dict[str, int] = defaultdict(int)
        for sp in self.tr.spans:
            calls[sp.name] += 1
            for k, x in per_span.get(sp.id, {}).items():
                by_name[sp.name][k] += x

        def per_call(name: str, key: str) -> float:
            return by_name[name][key] / max(1, calls[name])
        b = by_name["build_index"]
        self_s = self.tr.self_seconds()
        run = next(sp for sp in self.tr.spans if sp.name == "run")
        covered = sum(self_s[sp.id] for sp in self.tr.spans if is_layer(sp.name))
        return {
            "session.start_s": (v["session.start_s"], "s"),
            "session.first_py_worker_s": (v["session.first_py_worker_s"], "s"),
            "documents.flatten_s": (v["documents.flatten_s"], "s"),
            "documents.dense_ids_s": (v["documents.dense_ids_s"], "s"),
            "tokenize.s": (v["tokenize.s"], "s"),
            "tokenize.tokens": (v["tokenize.tokens"], "count"),
            "build_index.s": (v["build_index.s"], "s"),
            "build_index.cpu_s": (b["cpu_s"], "s"),
            "build_index.py_worker_s": (b["py_run_s"], "s"),
            "build_index.py_bytes_in": (b["py_bytes_in"], "B"),
            "build_index.py_bytes_out": (b["py_bytes_out"], "B"),
            "build_index.shuffle_write_bytes": (b["shuffle_write_bytes"], "B"),
            "build_index.spill_bytes": (b["spill_bytes"] + b["spill_mem_bytes"], "B"),
            "build_index.gc_s": (b["gc_s"], "s"),
            "build_index.blocks": (v["build_index.blocks"], "count"),
            "build_index.postings": (v["build_index.postings"], "count"),
            "build_index.id_bytes_per_posting": (v["build_index.id_bytes_per_posting"], "B"),
            "build_index.pos_bytes_per_posting": (v["build_index.pos_bytes_per_posting"], "B"),
            "write_index.s": (v["write_index.s"], "s"),
            "write_index.bytes": (v["write_index.bytes"], "B"),
            "write_index.files": (v["write_index.files"], "count"),
            "bm25.search_batch.s": (mean("spark_batch"), "s"),
            "bm25.search_batch.jobs": (per_call("bm25.search_batch", "jobs"), "count"),
            "bm25.search_batch.py_worker_s": (per_call("bm25.search_batch", "py_run_s"), "s"),
            "bm25.search_batch.py_bytes_in": (per_call("bm25.search_batch", "py_bytes_in"), "B"),
            "bm25.search_batch.shuffle_bytes": (
                per_call("bm25.search_batch", "shuffle_write_bytes"), "B"),
            "bm25.search_batch.candidate_blocks": (
                mean("bm25.search_batch.candidate_blocks"), "count"),
            "phrase.positional.s": (mean("spark_phrase"), "s"),
            "phrase.positional.jobs": (per_call("phrase.positional", "jobs"), "count"),
            "phrase.positional.py_worker_s": (per_call("phrase.positional", "py_run_s"), "s"),
            "phrase.positional.candidate_blocks": (
                mean("phrase.positional.candidate_blocks"), "count"),
            "serve.open_ms": (v["serve.open_ms"], "ms"),
            "serve.analyze_us": (mean("serve.analyze") * 1e6, "us"),
            "serve.search_ms": (mean("serve") * 1e3, "ms"),
            "serve.phrase_ms": (mean("serve_phrase") * 1e3, "ms"),
            "serve.search_p99_ms": (percentile(lat["serve"], 99) * 1e3, "ms"),
            "serve.phrase_p90_ms": (percentile(lat["serve_phrase"], 90) * 1e3, "ms"),
            "serve.term_cache_hit_ratio": (v["serve.term_cache_hit_ratio"], "ratio"),
            "serve.list_cache_hit_ratio": (v["serve.list_cache_hit_ratio"], "ratio"),
            "shard.index_s": (v["shard.index_s"], "s"),
            "shard.search_ms": (mean("sharded") * 1e3, "ms"),
            "shard.search_p90_ms": (percentile(lat["sharded"], 90) * 1e3, "ms"),
            "shard.merge_ms": (mean("shard.merge") * 1e3, "ms"),
            "maintenance.upsert_s": (mean("upsert"), "s"),
            "maintenance.upsert_docs_per_s": (
                self.scale.update_batch * len(lat["upsert"]) / sum(lat["upsert"]), "docs/s"),
            "maintenance.query_after_refresh_p90_ms": (
                percentile(lat["update_query"], 90) * 1e3, "ms"),
            "maintenance.upsert_bytes_written": (mean("upsert_bytes"), "B"),
            "maintenance.delete_s": (mean("delete"), "s"),
            "maintenance.refresh_ms": (mean("refresh") * 1e3, "ms"),
            "maintenance.segments": (v.get("maintenance.segments", 0), "count"),
            "maintenance.compact_s": (v["maintenance.compact_s"], "s"),
            "maintenance.compact_bytes_rewritten": (
                v["maintenance.compact_bytes_rewritten"], "B"),
            "jvm.heap_peak_mb": (v["jvm.heap_peak_mb"], "MB"),
            "trace.uncovered_share": (1.0 - covered / run.seconds, "ratio"),
        }

    def result(self) -> dict:
        if self.tr.enabled:
            os.makedirs(self.out_dir, exist_ok=True)
            self.tr.write(f"{self.out_dir}/spans-{self.tr.run_id}.jsonl")
            metrics = {k: {"value": float(x), "unit": u} for k, (x, u) in self.per_layer().items()}
        else:
            metrics = {
                k: {"value": float(x), "unit": END_TO_END_UNITS[k]}
                for k, x in self.end_to_end().items()
            }
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }
