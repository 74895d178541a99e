"""Span recording around the program's public entry points, the Spark
event-log fold, and the process-tree memory sampler.

Spans are recorded from the benchmark's side only: ``install`` replaces
each public name where its caller looks it up with a wrapper that opens a
span, and nothing under ``fourstore_spark/`` changes. Each span also sets
the Spark job group of the calling thread to its own id, so the event log
attributes every Spark job to the innermost span that launched it.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import re
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. Spans are dicts with ``id``, ``parent``,
    ``request`` (shared by every span of one request), ``name``, ``t0``
    and ``dur`` (seconds, ``time.perf_counter`` base). Nothing is recorded
    while ``enabled`` is false."""

    def __init__(self, prefix: str, sc=None):
        self.prefix = prefix
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, sid):
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", sid)

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = f"{self.prefix}{next(self._ids)}"
        rec = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "request": request or (parent["request"] if parent else sid),
            "name": name,
            "t0": time.perf_counter(),
        }
        stack.append(rec)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - rec["t0"]
            stack.pop()
            self._set_group(parent["id"] if parent else None)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, before=None, after=None):
        """Replace ``owner.attr`` with a spanned wrapper. ``before(args)``
        runs inside the span ahead of the call; ``after(rec, out)`` sees
        the result."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            with self.span(name) as rec:
                if before is not None:
                    before(args)
                out = orig(*args, **kwargs)
                if after is not None:
                    after(rec, out)
                return out

        setattr(owner, attr, wrapper)


class TimedLock:
    """Drop-in for a ``threading.Lock`` used as a context manager that
    adds every acquire wait to ``wait_s`` while the tracer is enabled."""

    def __init__(self, tracer: Tracer):
        self._lock = threading.Lock()
        self._tracer = tracer
        self.wait_s = 0.0

    def __enter__(self):
        t0 = time.perf_counter()
        self._lock.acquire()
        if self._tracer.enabled:
            self.wait_s += time.perf_counter() - t0
        return self

    def __exit__(self, *exc):
        self._lock.release()
        return False


def _force_plan(tracer: Tracer, df) -> None:
    """Catalyst analysis, optimization and physical planning of ``df``,
    timed as its own span; the later action reuses the planned Dataset."""
    with tracer.span("catalyst.plan"):
        df._jdf.queryExecution().executedPlan()


def install(tracer: Tracer) -> None:
    """Wrap every public entry point the benchmark attributes time to."""
    import fourstore_spark.operators.dedup as dedup
    import fourstore_spark.operators.fulltext as fulltext
    import fourstore_spark.operators.graph as graph
    import fourstore_spark.operators.lm as lm
    import fourstore_spark.operators.similarity as similarity
    import fourstore_spark.operators.textstats as textstats
    import fourstore_spark.sources.rdfio as rdfio
    import fourstore_spark.sparql.engine as engine
    import fourstore_spark.sparql.update as update
    import fourstore_spark.store as store
    from fourstore_spark.sparql.translator import Translator

    w = tracer.wrap
    w(engine, "parse_query", "parser.parse_query")
    w(update, "parse_update", "parser.parse_update")
    w(Translator, "translate_query", "translator.translate_query")
    w(engine.SparqlEngine, "__init__", "engine.init")
    w(engine.SparqlEngine, "query", "engine.query")
    w(engine.SparqlEngine, "select", "engine.select")
    w(engine.SparqlResult, "flat", "engine.flat",
      after=lambda rec, df: _force_plan(tracer, df))

    def count_bytes(rec, out):
        rec["bytes"] = len(out.encode("utf-8"))

    w(engine.SparqlResult, "serialize", "results_io.serialize",
      before=lambda args: _force_plan(tracer, args[0].df), after=count_bytes)
    w(update.UpdateEngine, "update", "update.update")
    w(update.UpdateEngine, "add_quads", "update.add_quads")
    w(update.UpdateEngine, "commit", "update.commit")
    w(rdfio, "quads_from_turtle", "rdfio.quads_from_turtle")
    w(rdfio, "quads_from_nt_text", "rdfio.quads_from_nt_text")
    w(fulltext, "fulltext_config", "fulltext.config")
    w(fulltext, "derive_fulltext_quads", "fulltext.derive")
    w(store, "write_store", "store.write_store")
    w(textstats, "text_stats", "operator.text_stats")
    w(dedup, "minhash_lsh_candidates", "operator.minhash_lsh_candidates")
    w(similarity, "cosine_topk", "operator.cosine_topk")
    w(lm, "lm_score", "operator.lm_score")
    w(graph, "pagerank", "operator.pagerank")


def install_httpd(tracer: Tracer, server) -> TimedLock:
    """Root span per HTTP request, keyed by the client's request id
    header, and a timed write lock. Returns the lock."""
    handler = server._handler_cls
    for verb in ("do_GET", "do_POST", "do_PUT", "do_DELETE"):
        orig = getattr(handler, verb)

        def wrapper(self, _orig=orig):
            rid = self.headers.get("X-Perfbench-Request")
            with tracer.span("httpd.request", request=rid):
                return _orig(self)

        setattr(handler, verb, wrapper)
    lock = TimedLock(tracer)
    server._write_lock = lock
    return lock


# ----------------------------------------------------------- event log
_LOCATION = re.compile(r"Location: \w+ \[([^\]]*)\]")


def fold_eventlog(log_dir: str) -> dict:
    """Fold the Spark event log(s) in ``log_dir`` into per-job-group
    totals: jobs, tasks, job wall, executor run/GC time, input and
    shuffle bytes, and whether (and where) the group scanned parquet."""
    execs: dict[str, dict] = {}
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, dict] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith("SQLExecutionStart"):
                    desc = ev.get("physicalPlanDescription") or ""
                    locs = set()
                    for m in _LOCATION.finditer(desc):
                        for p in m.group(1).split(", "):
                            if p.startswith("file:") and not p.endswith("..."):
                                locs.add(p[len("file:"):])
                    execs[str(ev["executionId"])] = {
                        "parquet": "Scan parquet" in desc, "locations": locs}
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "execution": props.get("spark.sql.execution.id"),
                        "t0": ev.get("Submission Time", 0), "t1": None}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["t1"] = ev.get("Completion Time")
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    agg = tasks.setdefault(ev["Stage ID"], {
                        "tasks": 0, "run_ms": 0, "gc_ms": 0, "input": 0,
                        "shuffle_read": 0, "shuffle_write": 0})
                    agg["tasks"] += 1
                    agg["run_ms"] += tm.get("Executor Run Time", 0)
                    agg["gc_ms"] += tm.get("JVM GC Time", 0)
                    agg["input"] += (tm.get("Input Metrics") or {}).get(
                        "Bytes Read", 0)
                    agg["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0)
                    agg["shuffle_write"] += (
                        tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
    groups: dict[str, dict] = {}
    for jid, job in jobs.items():
        if job["group"] is None:
            continue
        g = groups.setdefault(job["group"], {
            "jobs": 0, "tasks": 0, "job_s": 0.0, "run_s": 0.0, "gc_s": 0.0,
            "input_bytes": 0, "shuffle_read": 0, "shuffle_write": 0,
            "parquet": False, "locations": set()})
        g["jobs"] += 1
        if job["t1"]:
            g["job_s"] += (job["t1"] - job["t0"]) / 1000.0
        ex = execs.get(str(job["execution"]))
        if ex is not None:
            g["parquet"] |= ex["parquet"]
            g["locations"] |= ex["locations"]
    for sid, agg in tasks.items():
        job = jobs.get(stage_job.get(sid))
        if job is None or job["group"] is None:
            continue
        g = groups[job["group"]]
        g["tasks"] += agg["tasks"]
        g["run_s"] += agg["run_ms"] / 1000.0
        g["gc_s"] += agg["gc_ms"] / 1000.0
        g["input_bytes"] += agg["input"]
        g["shuffle_read"] += agg["shuffle_read"]
        g["shuffle_write"] += agg["shuffle_write"]
    sizes: dict[str, int] = {}
    for g in groups.values():
        for loc in g["locations"]:
            if loc not in sizes:
                sizes[loc] = disk_bytes(loc) if os.path.exists(loc) else 0
        g["disk_bytes"] = sum(sizes[loc] for loc in g["locations"])
        g["locations"] = sorted(g["locations"])
    return groups


def disk_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# ------------------------------------------------------ process memory
def _tree_rss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{d}/statm") as fh:
                rss[int(d)] = int(fh.read().split()[1]) * page
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo += children.get(pid, [])
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM, Python workers, a server process), sampled every 0.2 s."""

    def __init__(self, interval: float = 0.2):
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(root))
            self._stop.wait(self._interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; the peak in MB."""
        self._stop.set()
        self._thread.join()
        return self.peak / 1e6


# ------------------------------------------------------------- layers
OPERATORS = ["text_stats", "minhash_lsh_candidates", "cosine_topk",
             "lm_score", "pagerank"]


def layer_metrics(spans: list[dict], groups: dict, window_s: float,
                  cores: int, write_wait_s: float = 0.0) -> dict:
    """Per-layer totals over one traced window.

    Times ending in ``_s`` are summed SELF times (a span's duration minus
    its children's), so the layers of one request add up to its wall
    time. Spark figures come from the jobs each span launched itself;
    operator figures roll up the whole subtree of the operator's span."""
    kids: dict[str, list] = {}
    for s in spans:
        if s["parent"]:
            kids.setdefault(s["parent"], []).append(s)

    def self_s(s):
        return s["dur"] - sum(c["dur"] for c in kids.get(s["id"], []))

    def named(*names):
        return [s for s in spans if s["name"] in names]

    def total_self(*names):
        return sum(self_s(s) for s in named(*names))

    empty = {"jobs": 0, "tasks": 0, "job_s": 0.0, "run_s": 0.0, "gc_s": 0.0,
             "input_bytes": 0, "shuffle_read": 0, "shuffle_write": 0,
             "parquet": False, "disk_bytes": 0}

    def grp(s):
        return groups.get(s["id"], empty)

    def subtree(s):
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo += kids.get(x["id"], [])
        return out

    m: dict[str, float] = {}
    parse = named("parser.parse_query", "parser.parse_update")
    m["parser.parse_s"] = sum(s["dur"] for s in parse)
    m["parser.calls"] = len(parse)
    tr = named("translator.translate_query")
    m["translator.translate_s"] = total_self("translator.translate_query")
    m["translator.calls"] = len(tr)

    lookups = named("engine.query")
    misses = sum(1 for s in lookups if any(
        c["name"] == "parser.parse_query" for c in kids.get(s["id"], [])))
    m["engine.query_s"] = total_self("engine.query", "engine.select")
    m["engine.flat_s"] = total_self("engine.flat")
    m["engine.plan_cache_lookups"] = len(lookups)
    m["engine.plan_cache_hit_ratio"] = (
        (len(lookups) - misses) / len(lookups) if lookups else 0.0)
    m["engine.rebuilds"] = len(named("engine.init"))
    m["catalyst.plan_s"] = sum(s["dur"] for s in named("catalyst.plan"))

    gs = [g for g in groups.values()]
    m["spark.jobs"] = sum(g["jobs"] for g in gs)
    m["spark.tasks"] = sum(g["tasks"] for g in gs)
    m["spark.exec_s"] = sum(g["job_s"] for g in gs)
    m["spark.executor_run_s"] = sum(g["run_s"] for g in gs)
    m["spark.gc_s"] = sum(g["gc_s"] for g in gs)
    scans = [g for g in gs if g["parquet"]]
    reported = [g for g in scans if g["input_bytes"] > 0]
    # a parquet scan with no bytes reported is MISSING, never 0 MB
    m["spark.scan_spans"] = len(scans)
    m["spark.input_missing_spans"] = len(scans) - len(reported)
    m["spark.input_mb"] = sum(g["input_bytes"] for g in reported) / 1e6
    disk = sum(g["disk_bytes"] for g in reported)
    m["spark.input_disk_mb"] = disk / 1e6
    m["spark.input_to_disk_ratio"] = (
        sum(g["input_bytes"] for g in reported) / disk if disk else 0.0)
    m["spark.shuffle_read_mb"] = sum(g["shuffle_read"] for g in gs) / 1e6
    m["spark.shuffle_write_mb"] = sum(g["shuffle_write"] for g in gs) / 1e6
    m["spark.core_busy_ratio"] = (
        m["spark.executor_run_s"] / (window_s * cores) if window_s else 0.0)

    ser = named("results_io.serialize")
    m["results_io.serialize_s"] = sum(self_s(s) - grp(s)["job_s"] for s in ser)
    m["results_io.bytes"] = sum(s.get("bytes", 0) for s in ser)
    m["results_io.results"] = len(ser)
    m["results_io.jobs_per_result"] = (
        sum(grp(s)["jobs"] for s in ser) / len(ser) if ser else 0.0)

    handled = {s["request"]: s for s in named("httpd.request")}
    client = [s for s in named("http") if s["request"] in handled]
    m["httpd.requests"] = len(handled)
    m["httpd.overhead_s"] = sum(
        s["dur"] - handled[s["request"]]["dur"] for s in client)
    m["httpd.self_s"] = total_self("httpd.request")
    m["httpd.write_wait_s"] = write_wait_s

    m["update.update_s"] = total_self("update.update")
    m["update.add_quads_s"] = total_self("update.add_quads")
    m["update.commit_s"] = total_self("update.commit")
    writes = [s for s in named("http") if s.get("kind") == "write"]
    m["update.writes"] = len(writes)
    write_spans = [s for s in spans if s["name"].startswith(
        ("update.", "rdfio.", "fulltext."))]
    m["update.input_mb_per_write"] = (
        sum(grp(s)["input_bytes"] for s in write_spans) / 1e6 / len(writes)
        if writes else 0.0)
    m["rdfio.parse_s"] = total_self("rdfio.quads_from_turtle",
                                    "rdfio.quads_from_nt_text")
    m["fulltext.config_s"] = total_self("fulltext.config")
    m["fulltext.derive_s"] = total_self("fulltext.derive")

    for op in OPERATORS:
        ops = named(f"op.{op}")
        sub = [x for s in ops for x in subtree(s)]
        dur = sum(s["dur"] for s in ops)
        run = sum(grp(x)["run_s"] for x in sub)
        m[f"{op}_s"] = dur
        m[f"{op}.tasks"] = sum(grp(x)["tasks"] for x in sub)
        m[f"{op}.core_busy_ratio"] = run / (dur * cores) if dur else 0.0
    return m
