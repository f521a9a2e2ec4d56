"""Seeded inputs for the engine benchmark.

Pure numpy, no Spark: a workload name, a seed and the corpus term
dictionary determine every query, phrase and update batch, so two runs
with one seed send the engine identical inputs and a different seed
sends different ones.

Workloads (see README.md for why each exists):

* ``zipf`` — queries draw 1-3 terms by Zipf rank (s=1.1) over the whole
  term dictionary, so head terms repeat and the serving caches mostly
  hit after their first touch.
* ``cold`` — queries walk the term dictionary in a seeded random order,
  1-3 terms each, every term once per pass; the serving phase refreshes
  its searcher at the start of each pass (``dictionary_passes``), so
  the term-keyed caches miss on most lookups.

Both workloads send the same phrases: two terms from the most frequent
ones, banded by frequency.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

WORKLOADS = ("zipf", "cold")

ZIPF_S = 1.1
PHRASE_TERMS = 200  # phrases draw from the top terms only
# frequency bands (term rank ranges); phrase j draws its terms from band
# j % len(bands), so a few consecutive phrases mix cheap and costly
# position lists alike whatever the seed
PHRASE_BANDS = ((0, 10), (10, 40), (40, 100), (100, PHRASE_TERMS))


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), *stream])


def _check(vocab: list[str], workload: str = WORKLOADS[0]) -> None:
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    if len(vocab) < PHRASE_TERMS:
        raise ValueError(f"term dictionary too small: {len(vocab)} < {PHRASE_TERMS}")


def query_stream(workload: str, vocab: list[str], seed: int, n: int) -> list[str]:
    """``n`` query strings of 1-3 terms; ``vocab`` is the term dictionary
    ordered by document frequency, most frequent first. ``zipf`` draws
    each term by Zipf rank; ``cold`` takes the terms from consecutive
    seeded permutations of the dictionary."""
    _check(vocab, workload)
    rng = _rng(seed, 1 if workload == "zipf" else 3)
    lens = rng.integers(1, 4, size=n)
    total = int(lens.sum())
    if workload == "zipf":
        w = 1.0 / np.arange(1, len(vocab) + 1, dtype=np.float64) ** ZIPF_S
        ranks = rng.choice(len(vocab), size=total, p=w / w.sum())
    else:
        passes = -(-total // len(vocab))
        ranks = np.concatenate([rng.permutation(len(vocab)) for _ in range(passes)])
    bounds = np.concatenate([[0], np.cumsum(lens)])
    return [" ".join(vocab[r] for r in ranks[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]


def dictionary_passes(queries: list[str], n_terms: int) -> list[int]:
    """For each query, the pass over an ``n_terms`` dictionary that its
    first term belongs to (``cold`` streams walk one permutation per
    pass)."""
    out, seen = [], 0
    for q in queries:
        out.append(seen // n_terms)
        seen += len(q.split())
    return out


def phrase_stream(vocab: list[str], seed: int, n: int) -> list[str]:
    """``n`` two-term phrases; phrase ``j`` draws both terms from
    frequency band ``j % 4`` of the top 200 terms."""
    _check(vocab)
    rng = _rng(seed, 4)
    out = []
    for j in range(n):
        lo, hi = PHRASE_BANDS[j % len(PHRASE_BANDS)]
        out.append(" ".join(vocab[t] for t in rng.integers(lo, hi, size=2)))
    return out


@dataclass(frozen=True)
class UpdateCycle:
    """One write batch: ``replaced`` ids get new content, ``added`` ids
    are new documents, ``deleted`` ids are removed. The new content of
    ``upserted`` is rows ``first_row..first_row+len(upserted)`` of the
    plan's update corpus."""

    replaced: np.ndarray
    added: np.ndarray
    deleted: np.ndarray
    first_row: int

    @property
    def upserted(self) -> np.ndarray:
        return np.concatenate([self.replaced, self.added])


class UpdatePlan:
    """Deterministic sequence of update cycles over a base of ``n_base``
    dense ids ``0..n_base-1``. Each cycle replaces ``batch // 2`` live
    documents, adds ``batch - batch // 2`` new ids and deletes
    ``deletes`` live documents it did not touch. ``live`` tracks the
    expected live id set, which compaction must reproduce exactly.
    New content comes from ``synth_corpus(corpus_rows, corpus_seed)``."""

    def __init__(self, seed: int, n_base: int, batch: int, deletes: int, max_cycles: int):
        self.seed = seed
        self.n_base = n_base
        self.added = 0
        self.batch = batch
        self.deletes = deletes
        self.max_cycles = max_cycles
        self.live = set(range(n_base))
        self.next_id = n_base
        self.cycles = 0
        self.corpus_seed = int(_rng(seed, 100).integers(1, 2**31))
        self.corpus_rows = max_cycles * batch
        # one past the largest id any cycle can add
        self.id_ceiling = n_base + max_cycles * (batch - batch // 2)

    def next_cycle(self) -> UpdateCycle:
        if self.cycles >= self.max_cycles:
            raise RuntimeError("update plan exhausted")
        rng = _rng(self.seed, 101, self.cycles)
        live = np.array(sorted(self.live), dtype=np.int64)
        n_rep = self.batch // 2
        pick = rng.choice(len(live), size=n_rep + self.deletes, replace=False)
        replaced = np.sort(live[pick[:n_rep]])
        deleted = np.sort(live[pick[n_rep:]])
        n_add = self.batch - n_rep
        added = np.arange(self.next_id, self.next_id + n_add, dtype=np.int64)
        self.next_id += n_add
        self.added += n_add
        self.live.update(added.tolist())
        self.live.difference_update(deleted.tolist())
        cycle = UpdateCycle(replaced, added, deleted, self.cycles * self.batch)
        self.cycles += 1
        return cycle
