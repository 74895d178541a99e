"""The benchmark's HTTP server process: builds the quad store from a
quads parquet file, serves it with ``SparqlHttpServer`` and takes
commands on stdin.

    python3 perfbench/server.py <config.json>

The config names the work directory, the quads parquet to build the
store from, and whether to trace. Protocol, one line each way:

- server -> client ``ready {"port": ..., "setup": {...}}`` once serving;
- client -> server ``trace on`` / ``trace off`` (answered ``ok``) toggles
  span recording;
- client -> server ``stop``: the server shuts down, stops Spark, folds
  its event log, writes its spans to ``<work>/server_trace.json`` and
  answers ``done``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import session  # noqa: E402


def main(config_path: str) -> None:
    with open(config_path, encoding="utf-8") as fh:
        cfg = json.load(fh)
    work = cfg["work"]
    session.prepare_env(work)
    eventlog = os.path.join(work, "server_eventlog") if cfg["trace"] else None
    if eventlog:
        os.makedirs(eventlog, exist_ok=True)

    import fourstore_spark.store as store
    from fourstore_spark.httpd import SparqlHttpServer
    from fourstore_spark.sparql.update import UpdateEngine

    from perfbench import trace

    t0 = time.perf_counter()
    spark = session.start_spark(session.conf(work, eventlog))
    t1 = time.perf_counter()
    tracer = trace.Tracer("s", spark.sparkContext)
    if cfg["trace"]:
        trace.install(tracer)
    store_dir = os.path.join(work, "store")
    store.write_store(spark.read.parquet(cfg["quads"]), store_dir)
    t2 = time.perf_counter()
    ue = UpdateEngine(spark, store.read_store(spark, store_dir),
                      wildcard_delete=True)
    server = SparqlHttpServer(spark, ue, port=0)
    lock = trace.install_httpd(tracer, server) if cfg["trace"] else None
    server.start()
    t3 = time.perf_counter()
    setup = {"setup.session_s": t1 - t0, "setup.store_build_s": t2 - t1,
             "setup.open_s": t3 - t2, **session.store_facts(store_dir)}
    print("ready " + json.dumps({"port": server.port, "setup": setup}),
          flush=True)
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "trace on":
            tracer.enabled = True
        elif cmd == "trace off":
            tracer.enabled = False
        elif cmd == "stop":
            break
        print("ok", flush=True)
    server.stop()
    spark.stop()
    session.stop_jvm()
    if cfg["trace"]:
        out = {"spans": tracer.spans,
               "groups": trace.fold_eventlog(eventlog),
               "write_wait_s": lock.wait_s}
        with open(os.path.join(work, "server_trace.json"), "w",
                  encoding="utf-8") as fh:
            json.dump(out, fh)
    print("done", flush=True)


if __name__ == "__main__":
    main(sys.argv[1])
