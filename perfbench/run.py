"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload update-mix --seed 1 \
        --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off;
``--trace 1`` reports the per-layer metrics of a traced window (see
perfbench/README.md). The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``; a fuller record with
the environment, store facts and any wrong answers is written to
``.perfbench_results/`` and summarized on stderr.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

if importlib.util.find_spec("fourstore_spark") is None:
    sys.exit("perfbench: the fourstore_spark package is not in this checkout")

from perfbench import session, trace, workloads  # noqa: E402

# name -> (unit, better); the end-to-end metrics are measured with
# tracing off, every workload reports every one of them
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_gmean_s": ("s", "lower"),
    "ops_per_s": ("1/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}

PER_LAYER = {
    "setup.session_s": ("s", "lower"),
    "setup.store_build_s": ("s", "lower"),
    "setup.open_s": ("s", "lower"),
    "setup.warmup_s": ("s", "lower"),
    "store.quads": ("count", "higher"),
    "store.files": ("count", "lower"),
    "store.bytes_per_quad": ("B/quad", "lower"),
    "store.property_table_share": ("ratio", "lower"),
    "parser.parse_s": ("s", "lower"),
    "parser.calls": ("count", "lower"),
    "translator.translate_s": ("s", "lower"),
    "translator.calls": ("count", "lower"),
    "engine.query_s": ("s", "lower"),
    "engine.flat_s": ("s", "lower"),
    "engine.plan_cache_hit_ratio": ("ratio", "higher"),
    "engine.plan_cache_lookups": ("count", "higher"),
    "engine.rebuilds": ("count", "lower"),
    "catalyst.plan_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.exec_s": ("s", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.input_mb": ("MB", "lower"),
    "spark.scan_spans": ("count", "lower"),
    "spark.input_missing_spans": ("count", "lower"),
    "spark.input_disk_mb": ("MB", "lower"),
    "spark.input_to_disk_ratio": ("ratio", "lower"),
    "spark.shuffle_read_mb": ("MB", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.core_busy_ratio": ("ratio", "higher"),
    "results_io.serialize_s": ("s", "lower"),
    "results_io.bytes": ("B", "lower"),
    "results_io.results": ("count", "higher"),
    "results_io.jobs_per_result": ("count", "lower"),
    "httpd.requests": ("count", "higher"),
    "httpd.overhead_s": ("s", "lower"),
    "httpd.self_s": ("s", "lower"),
    "httpd.write_wait_s": ("s", "lower"),
    "update.update_s": ("s", "lower"),
    "update.add_quads_s": ("s", "lower"),
    "update.commit_s": ("s", "lower"),
    "update.writes": ("count", "higher"),
    "update.input_mb_per_write": ("MB", "lower"),
    "rdfio.parse_s": ("s", "lower"),
    "fulltext.config_s": ("s", "lower"),
    "fulltext.derive_s": ("s", "lower"),
    **{k: v for op in trace.OPERATORS for k, v in (
        (f"{op}_s", ("s", "lower")),
        (f"{op}.tasks", ("count", "lower")),
        (f"{op}.core_busy_ratio", ("ratio", "higher")))},
    "split.read_p50_s": ("s", "lower"),
    "split.reads_per_s": ("1/s", "higher"),
    "split.write_p50_s": ("s", "lower"),
    "split.writes_per_s": ("1/s", "higher"),
    "split.confirm_p50_s": ("s", "lower"),
    "fail_ratio": ("ratio", "lower"),
    "traced.setup_s": ("s", "lower"),
    "traced.peak_rss_mb": ("MB", "lower"),
    "trace_overhead.op_gmean_s": ("s", "lower"),
    "trace_overhead.ops_per_s": ("1/s", "higher"),
}


def p50(xs: list) -> float:
    return statistics.median(xs) if xs else 0.0


def window_metrics(w: workloads.Window) -> dict:
    # A window holds one cycle: 10-26 ops of 5-22 kinds whose latencies
    # span 0.1-6 s. Its median lands on a different kind from seed to
    # seed, so the typical op latency is the geometric mean, which moves
    # with every op and weighs a given share of gain on any op alike. No
    # percentile above the median has ten samples beyond it.
    return {"op_gmean_s": statistics.geometric_mean(w.ops),
            "ops_per_s": len(w.ops) / w.wall}


def summarize(res: workloads.Result, traced: bool) -> dict:
    if not traced:
        return {"setup_s": res.setup["setup_s"], **window_metrics(res.windows[0]),
                "peak_rss_mb": res.peak_rss_mb}
    off, on = res.windows
    m = trace.layer_metrics(res.spans, res.groups, on.wall, session.CORES,
                            res.write_wait_s)
    for k in ("setup.session_s", "setup.store_build_s", "setup.open_s",
              "setup.warmup_s"):
        m[k] = res.setup.get(k, 0.0)
    for k in ("store.quads", "store.files", "store.bytes_per_quad",
              "store.property_table_share"):
        m[k] = res.facts.get(k, 0)
    m.update({
        "split.read_p50_s": p50(on.reads),
        "split.reads_per_s": len(on.reads) / on.wall,
        "split.write_p50_s": p50(on.writes),
        "split.writes_per_s": len(on.writes) / on.wall,
        "split.confirm_p50_s": p50(on.confirms),
        "fail_ratio": (on.failed / on.attempted) if on.attempted else 0.0,
        "traced.setup_s": res.setup["setup_s"],
        "traced.peak_rss_mb": res.peak_rss_mb,
    })
    a, b = window_metrics(off), window_metrics(on)
    for k in a:
        m[f"trace_overhead.{k}"] = b[k] - a[k]
    return m


def op_kinds(w: workloads.Window) -> dict:
    """Count and median latency of each op kind in a window."""
    by: dict = {}
    for kind, dt in zip(w.kinds, w.ops):
        by.setdefault(kind, []).append(dt)
    return {k: [len(v), round(p50(v), 4)] for k, v in sorted(by.items())}


# ratio or per-unit figure -> the count it is taken over
RATIO_BASE = {
    "store.bytes_per_quad": "store.quads",
    "store.property_table_share": "store.quads",
    "engine.plan_cache_hit_ratio": "engine.plan_cache_lookups",
    "spark.input_to_disk_ratio": "spark.scan_spans",
    "spark.core_busy_ratio": "spark.tasks",
    "results_io.jobs_per_result": "results_io.results",
    "update.input_mb_per_write": "update.writes",
    **{f"{op}.core_busy_ratio": f"{op}.tasks" for op in trace.OPERATORS},
}


def unavailable(m: dict) -> dict:
    """Per-layer figures that read 0 in the result line because nothing
    was measured, with the reason. Counts, and ratios over a nonzero
    base, are measurements even when 0."""
    out = {}
    for k, v in m.items():
        if v != 0 or PER_LAYER[k][0] == "count" or k == "fail_ratio":
            continue
        base = RATIO_BASE.get(k)
        if base is None:
            out[k] = "no work of this workload reached it in the traced cycles"
        elif m[base] == 0:
            out[k] = f"its base, {base}, is 0"
    if m["spark.input_missing_spans"]:
        out["spark.input_mb"] = (f"{m['spark.input_missing_spans']} parquet-scan "
                                 "spans reported no input bytes; not summed")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    session.prepare_env(work)
    ctx = workloads.Ctx(args.seed, args.seconds, bool(args.trace), work)
    # every process this run starts has ended before it reports, on
    # every path out, a SIGTERM included
    session.become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    steal0 = session.steal_s()
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
    finally:
        session.stop_jvm()
        session.reap_descendants()
        shutil.rmtree(work, ignore_errors=True)
    steal = session.steal_s() - steal0

    metrics = summarize(res, ctx.trace)
    table = PER_LAYER if ctx.trace else END_TO_END
    attempted = sum(w.attempted for w in res.windows) + len(res.checks)
    failed = (sum(w.failed for w in res.windows)
              + sum(1 for ok, _ in res.checks if not ok))
    out = {
        "correct": failed == 0 and not res.errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": table[k][0]} for k in table},
    }
    record = {
        "workload": args.workload, "trace": args.trace,
        "unavailable": unavailable(metrics) if ctx.trace else {},
        "environment": session.environment(
            args.seed, session.conf(work, os.path.join(work, "eventlog")
                                    if ctx.trace else None)),
        "cpu_steal_s": steal,
        "store": res.facts, "setup": res.setup,
        "ops": [op_kinds(w) for w in res.windows],
        "errors": res.errors[:50], **out,
    }
    rdir = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(rdir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(rdir, name), "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps({k: record[k] for k in (
        "environment", "cpu_steal_s", "store", "ops", "unavailable", "errors")},
                     default=str), file=sys.stderr)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
