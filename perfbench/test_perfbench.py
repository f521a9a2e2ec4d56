"""Self-tests of the engine benchmark: ``python3 -m pytest perfbench -q``.

The stream, plan and trace tests run in milliseconds. The smoke tests
start Spark and run every workload end to end at a tiny scale, so they
take a few minutes."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

from perfbench import streams
from perfbench.trace import Job, Tracer, attribute_stages, read_event_log

REPO = Path(__file__).resolve().parent.parent
VOCAB = [f"t{i:03d}" for i in range(300)]


@pytest.mark.parametrize(
    "fn",
    [lambda seed: streams.query_stream(w, VOCAB, seed, 200) for w in streams.WORKLOADS]
    + [lambda seed: streams.phrase_stream(VOCAB, seed, 200)],
    ids=[*streams.WORKLOADS, "phrases"],
)
def test_streams_repeat_per_seed_and_change_across_seeds(fn):
    a = fn(7)
    assert a == fn(7)
    assert a != fn(8)
    assert len(a) == 200 and all(a)


def test_cold_stream_touches_each_term_once_per_pass_and_zipf_repeats():
    queries = streams.query_stream("cold", VOCAB, 1, 250)
    cold = [t for q in queries for t in q.split()]
    assert len(cold) > len(VOCAB)
    assert sorted(cold[: len(VOCAB)]) == sorted(VOCAB)
    passes = streams.dictionary_passes(queries, len(VOCAB))
    starts = [i for i in range(1, len(queries)) if passes[i] != passes[i - 1]]
    assert len(starts) == 1
    assert sum(len(q.split()) for q in queries[: starts[0]]) >= len(VOCAB)
    assert sum(len(q.split()) for q in queries[: starts[0] - 1]) < len(VOCAB)
    zipf = [t for q in streams.query_stream("zipf", VOCAB, 1, 250) for t in q.split()]
    assert len(set(zipf)) < len(zipf) // 2


def test_phrases_cycle_through_frequency_bands():
    ph = streams.phrase_stream(VOCAB, 1, 8)
    for j, p in enumerate(ph):
        lo, hi = streams.PHRASE_BANDS[j % len(streams.PHRASE_BANDS)]
        assert all(lo <= VOCAB.index(t) < hi for t in p.split())


def test_unknown_workload_and_small_vocab_are_rejected():
    with pytest.raises(ValueError):
        streams.query_stream("nope", VOCAB, 1, 10)
    with pytest.raises(ValueError):
        streams.phrase_stream(VOCAB[:50], 1, 10)


def _cycles(seed: int, n: int = 4):
    plan = streams.UpdatePlan(seed, n_base=100, batch=10, deletes=3, max_cycles=n)
    return plan, [plan.next_cycle() for _ in range(n)]


def test_update_plan_repeats_per_seed_and_tracks_live_ids():
    plan, cyc = _cycles(5)
    _, again = _cycles(5)
    _, other = _cycles(6)
    key = lambda cs: [(c.replaced.tolist(), c.added.tolist(), c.deleted.tolist()) for c in cs]  # noqa: E731
    assert key(cyc) == key(again)
    assert key(cyc) != key(other)
    live = set(range(100))
    for c in cyc:
        assert set(c.replaced) <= live and set(c.deleted) <= live
        assert not set(c.replaced) & set(c.deleted)
        assert not set(c.added) & live
        assert c.added.max() < plan.id_ceiling
        live = (live | set(c.added.tolist())) - set(c.deleted.tolist())
    assert live == plan.live
    assert plan.added == 4 * 5 and plan.corpus_rows == 4 * 10
    with pytest.raises(RuntimeError):
        plan.next_cycle()


def _tracer_with(spans):
    """Tracer holding spans given as (name, parent index, start, end)."""
    tr = Tracer(True, "t")
    for i, (name, parent, start, end) in enumerate(spans):
        with tr.span(name) as sp:
            pass
        sp.id, sp.parent, sp.start, sp.end = i, parent, start, end
    return tr


def test_self_time_subtracts_children():
    tr = _tracer_with([("run", None, 0, 10), ("a", 0, 1, 4), ("b", 0, 5, 9), ("a.x", 1, 1, 2)])
    assert tr.self_seconds() == {0: 3, 1: 2, 2: 4, 3: 1}


def test_disabled_tracer_times_but_records_nothing():
    tr = Tracer(False, "t")
    with tr.span("x", jobs=True) as sp:
        pass
    assert sp.seconds >= 0 and tr.spans == []


def test_stages_go_to_the_labelled_span_else_the_innermost_open_one():
    tr = _tracer_with([("run", None, 0, 10), ("build", 0, 1, 4), ("write", 0, 5, 9)])
    stage = lambda x: {"cpu_s": x, "py_run_s": 2 * x}  # noqa: E731
    jobs = [
        Job(0, 1.5, "build#1", [0]),
        Job(1, 6.0, None, [1, 2]),  # pool thread: no label, inside "write"
        Job(2, 7.0, "write#2", [2]),  # stage 2 already counted by job 1
        Job(3, 4.5, None, [3]),  # between spans: belongs to "run"
    ]
    got = attribute_stages(tr, jobs, {0: stage(1.0), 1: stage(2.0), 2: stage(3.0), 3: stage(4.0)})
    assert got[1]["jobs"] == 1 and got[1]["cpu_s"] == 1.0
    assert got[2]["jobs"] == 2 and got[2]["cpu_s"] == 5.0 and got[2]["py_run_s"] == 10.0
    assert got[0]["jobs"] == 1 and got[0]["cpu_s"] == 4.0


def test_read_event_log(tmp_path):
    log = tmp_path / "eventlog_v2_app" / "events_1_app"
    log.parent.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 2500,
         "Stage IDs": [0], "Properties": {"spark.job.description": "build#1"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Accumulables": [
            {"Name": "internal.metrics.executorCpuTime", "Value": 2_000_000_000},
            {"Name": "time to run Python workers", "Value": "1500"},
            {"Name": "data sent to Python workers", "Value": "10"},
            {"Name": "data sent to Python workers", "Value": "5"},
        ]}},
    ]
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    (log.parent / "appstatus_app").write_text("")
    jobs, stages = read_event_log(str(tmp_path))
    assert [(j.id, j.submitted, j.description, j.stages) for j in jobs] == [(0, 2.5, "build#1", [0])]
    assert stages[0]["cpu_s"] == 2.0 and stages[0]["py_run_s"] == 1.5
    assert stages[0]["py_bytes_in"] == 15


# ------------------------------------------------------------ smoke runs


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


_SMOKE: dict[tuple[str, str, str], dict] = {}


def _smoke(workload: str, seed: str, trace: str, fresh: bool = False) -> dict:
    """Result of a tiny-scale run; runs are shared between tests unless
    ``fresh``."""
    key = (workload, seed, trace)
    if fresh or key not in _SMOKE:
        p = _run(REPO, "--smoke", "--workload", workload, "--seed", seed,
                 "--seconds", "1", "--trace", trace)
        assert p.returncode == 0, p.stderr[-4000:]
        _SMOKE[key] = json.loads(p.stdout.strip().splitlines()[-1])
    return _SMOKE[key]


def _metrics(kind: str) -> dict[str, str]:
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


@pytest.mark.parametrize("workload", streams.WORKLOADS)
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run_reports_every_metric_and_no_failure(workload, trace):
    out = _smoke(workload, "3", trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    want = _metrics("per_layer" if trace == "1" else "end_to_end")
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(np.isfinite(v["value"]) for v in out["metrics"].values())


def test_index_counts_repeat_exactly_per_seed():
    def counts(out: dict) -> tuple[float, float]:
        m = out["metrics"]
        return m["build_index.blocks"]["value"], m["build_index.postings"]["value"]

    first = counts(_smoke("zipf", "3", "1"))
    assert first == counts(_smoke("zipf", "3", "1", fresh=True))
    assert first != counts(_smoke("zipf", "4", "1"))


def test_fails_without_the_engine(tmp_path):
    shutil.copy(REPO / "BENCHMARK.json", tmp_path)
    shutil.copytree(REPO / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", "zipf", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0 and p.stdout == ""
