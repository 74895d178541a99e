"""Spark session, store facts and environment record shared by the
library-side workloads and the HTTP server process."""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every temporary file of this process tree (Python, the driver
    JVM, Spark's local dirs, Python workers) inside ``work``, and let
    worker processes import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM (the spark-submit launcher too): temporary files in
    # ``work``, and no hsperfdata file in the system temporary directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def conf(work: str, eventlog: str | None) -> dict:
    c = {
        "spark.master": f"local[{CORES}]",
        "spark.app.name": "perfbench",
        "spark.sql.shuffle.partitions": str(CORES),
        "spark.sql.adaptive.enabled": "true",
        "spark.driver.memory": "1g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if eventlog:
        c.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return c


def start_spark(settings: dict):
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in settings.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop this process's Spark JVM, if it started one, and wait until it
    has ended. PySpark leaves the JVM to exit by itself once its stdin
    pipe from this process closes, which can be after this process ends."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def become_subreaper() -> None:
    """Make this process the parent of every orphaned descendant (a server
    process's JVM or Python workers), so ``reap_descendants`` sees them."""
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _live_descendants() -> list[int]:
    children: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def reap_descendants(grace: float = 30.0) -> None:
    """Wait until every process started below this one has ended: give
    them ``grace`` seconds to exit, then SIGTERM, then SIGKILL."""
    deadline, sig = time.monotonic() + grace, signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        pids = _live_descendants()
        if not pids:
            return
        if time.monotonic() >= deadline:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline, sig = time.monotonic() + 10, signal.SIGKILL
        time.sleep(0.1)


def store_facts(path: str) -> dict:
    """Size facts of a materialized store directory."""
    from fourstore_spark.store import read_manifest

    from perfbench.trace import disk_bytes

    files = [os.path.join(d, f) for d, _, fs in os.walk(path)
             for f in fs if f.endswith(".parquet")]
    total = sum(os.path.getsize(f) for f in files)
    sub = os.path.join(path, "_subjects")
    pt = disk_bytes(sub) if os.path.isdir(sub) else 0
    quads = (read_manifest(path) or {}).get("rows", 0)
    return {
        "store.quads": quads,
        "store.bytes": total,
        "store.files": len(files),
        "store.bytes_per_quad": total / quads if quads else 0.0,
        "store.property_table_share": pt / total if total else 0.0,
    }


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over all CPUs. A run with much of it ran on a contended host."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = int(fh.readline().split()[8])
    return ticks / os.sysconf("SC_CLK_TCK")


def environment(seed: int, settings: dict) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    java = [line for line in subprocess.run(
        ["java", "-version"], capture_output=True, text=True).stderr.splitlines()
        if " version " in line]
    return {
        "nproc": CORES,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "java": java[0] if java else None,
        "java_tool_options": os.environ.get("JAVA_TOOL_OPTIONS"),
        "python": sys.version.split()[0],
        "seed": seed,
        "conf": settings,
    }
