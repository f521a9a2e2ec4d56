"""Host hygiene for a benchmark run: everything the run writes stays in
one work directory inside the checkout, the Spark driver heap is sized from
host RAM, and every process the run starts has ended before it exits."""

from __future__ import annotations

import os
import signal
import sys
import tempfile

from perfbench.trace import ProcTree, wait_gone


def host_ram_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem() -> str:
    """An eighth of host RAM, between 1 and 2 GiB: the benchmark's
    corpus needs far less, and the machine is shared."""
    gib = host_ram_bytes() // 8 // 2**30
    return f"{max(1, min(2, gib))}g"


def prepare(repo: str, workdir: str, trace: bool) -> dict[str, str]:
    """Point the Python workers, Spark's scratch space and every temp
    file at ``workdir``; return the benchmark's Spark conf."""
    for sub in ("local", "tmp", "eventlog", "warehouse"):
        os.makedirs(f"{workdir}/{sub}", exist_ok=True)
    # workers import the engine from the checkout, wherever it is
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = f"{workdir}/local"
    os.environ["TMPDIR"] = f"{workdir}/tmp"
    tempfile.tempdir = f"{workdir}/tmp"
    mem = driver_mem()
    conf = {
        "spark.driver.memory": mem,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{workdir}/warehouse",
        # JVM temp files into the work dir; no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={workdir}/tmp -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{workdir}/eventlog",
            "spark.eventLog.compress": "false",
        })
    return conf


def stop_spark(spark, tree: ProcTree, timeout: float = 30.0) -> None:
    """Stop the session, then the JVM the session started, and wait for
    the JVM, its Python workers and any other descendant to end."""
    from pyspark import SparkContext

    pids = tree.descendants()
    spark.stop()
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None) if gateway is not None else None
    if jvm is not None:
        # the session is stopped: nothing is left for shutdown hooks to
        # flush, and the work directory is removed by the caller
        jvm.kill()
        jvm.wait(timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None
    left = wait_gone(pids, timeout)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if wait_gone(left, 5.0):
        print(f"[perfbench] processes still alive: {left}", file=sys.stderr)
