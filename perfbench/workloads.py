"""The benchmark's workloads. Each takes a ``Ctx`` and returns a
``Result``: set-up phase times, the per-op latencies of every measured
window, failure counts and, in a traced run, the spans and event-log fold.
"""

from __future__ import annotations

import csv
import http.client
import importlib.util
import io
import itertools
import json
import os
import random
import re
import subprocess
import sys
import time
import urllib.parse
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field

import pyarrow as pa

from perfbench import gen, oracle, session, trace

P = "urn:col:"
FS = "http://4store.org/fulltext#"
BENCH_TEXT = "urn:bench:text"
BENCH_P = "urn:bench:p"
GRAPHS = [f"urn:bench:g{i}" for i in range(4)]
WARM_GRAPH = "urn:bench:warm"

# input sizes: the whole schedule (4 + 22 runs per workload, set-up
# included) must end within 3,420 s on 4 cores, so these are far below
# the sf0.1 / sf0.01 fixture stores
HTTP_LINEITEMS = 4_000
CORPUS_VARIANTS = 2
CORPUS_DOCS = 800
CORPUS_DUP_SHARE = 0.15
GRAPH_LINEITEMS = 30_000  # sizes the customer/supplier entity graph


@dataclass
class Ctx:
    seed: int
    seconds: float
    trace: bool
    work: str


@dataclass
class Window:
    """Closed-loop measurements of the cycles run with one tracing state.
    Only whole cycles run, so every window holds the workload's fixed mix."""

    ops: list = field(default_factory=list)     # op latencies, s
    kinds: list = field(default_factory=list)   # the kind of each op
    reads: list = field(default_factory=list)   # read requests, s
    writes: list = field(default_factory=list)  # write requests, s
    confirms: list = field(default_factory=list)  # write + its checks, s
    attempted: int = 0
    failed: int = 0
    wall: float = 0.0  # seconds spent in this window's cycles

    def op(self, kind: str, seconds: float) -> None:
        self.ops.append(seconds)
        self.kinds.append(kind)

    def count(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1


@dataclass
class Result:
    setup: dict
    windows: list            # [Window]; traced runs: [untraced, traced]
    checks: list = field(default_factory=list)  # (ok, what) outside windows
    spans: list = field(default_factory=list)
    groups: dict = field(default_factory=dict)
    write_wait_s: float = 0.0
    peak_rss_mb: float = 0.0
    facts: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)


def _measure(ctx: Ctx, toggle, cycle) -> list:
    """Closed loop of whole cycles, ``cycle(window, step)`` each, until
    ``--seconds`` have passed. A traced run measures twice as long and
    runs cycles in pairs, one with span recording off and one on
    (``toggle(on)``), so both windows see the same warm-up trend and their
    difference is the tracing overhead. ``step`` advances once per pair,
    so both cycles of a pair get the same inputs, and the untraced cycle
    goes first in even pairs and second in odd ones."""
    windows = [Window(), Window()] if ctx.trace else [Window()]
    deadline = time.perf_counter() + ctx.seconds * len(windows)
    for k in itertools.count():
        # only whole pairs run, so the traced window is never empty
        if k % len(windows) == 0 and time.perf_counter() >= deadline:
            break
        step = k // len(windows)
        w = windows[(k + step) % len(windows)]
        if ctx.trace:
            toggle(w is windows[1])
        ts = time.perf_counter()
        cycle(w, step)
        w.wall += time.perf_counter() - ts
    if ctx.trace:
        toggle(False)
    return windows


# ====================================================== analytic shapes
def _flagship() -> str:
    sys.path.insert(0, session.ROOT)
    import __spark_entry__ as entry

    return entry._FLAGSHIP


def analytic_templates() -> list[dict]:
    """bench.py's five SPARQL shapes plus a WatDiv-style star, linear and
    snowflake, each with a small constant pool (47 texts in all, inside
    the engine's 256-entry plan cache) and its matched DuckDB SQL."""
    region_path = ("?nat <{P}nation#n_regionkey> ?r . "
                   "?r <{P}region#r_name> \"{c}\"").replace("{P}", P)
    region_sql = ("JOIN nation ON c_nationkey = n_nationkey JOIN region "
                  "ON n_regionkey = r_regionkey WHERE r_name = '{c}'")
    return [
        {"name": "q1_agg", "pool": [None], "sparql": _flagship(),
         "sql": "SELECT l_returnflag, l_linestatus, sum(l_quantity), "
                "sum(l_extendedprice), avg(l_discount), count(*) "
                "FROM lineitem GROUP BY 1, 2"},
        {"name": "q2_join", "pool": gen.REGIONS,
         "sparql": f"SELECT ?cname ?nname WHERE {{ ?c <{P}customer#c_name> "
                   f"?cname ; <{P}customer#c_nationkey> ?nat . ?nat "
                   f"<{P}nation#n_name> ?nname . {region_path} }}",
         "sql": "SELECT c_name, n_name FROM customer " + region_sql},
        {"name": "q3_optional", "pool": ["F", "O", "P"],
         "sparql": f"SELECT (COUNT(?o) AS ?n) (COUNT(?pk) AS ?npk) WHERE {{ "
                   f"?o <{P}orders#o_orderstatus> \"{{c}}\" . OPTIONAL {{ "
                   f"?li <{P}lineitem#l_orderkey> ?o ; "
                   f"<{P}lineitem#l_partkey> ?pk }} }}",
         "sql": "SELECT count(*), count(l_partkey) FROM orders LEFT JOIN "
                "lineitem ON l_orderkey = o_orderkey "
                "WHERE o_orderstatus = '{c}'"},
        {"name": "q4_topk", "ordered": True,
         "pool": [(s, k) for s in gen.SEGMENTS for k in (10, 50)],
         "sparql": f"SELECT ?c ?bal WHERE {{ ?c <{P}customer#c_acctbal> ?bal"
                   f" ; <{P}customer#c_mktsegment> \"{{c[0]}}\" }} "
                   f"ORDER BY DESC(?bal) ?c LIMIT {{c[1]}}",
         "sql": "SELECT 'urn:customer:' || c_custkey AS c, c_acctbal FROM "
                "customer WHERE c_mktsegment = '{c[0]}' "
                "ORDER BY c_acctbal DESC, c LIMIT {c[1]}"},
        {"name": "q5_groupjoin", "pool": gen.REGIONS,
         "sparql": f"SELECT ?nname (SUM(?tp) AS ?total) (COUNT(?o) AS ?n) "
                   f"WHERE {{ ?o <{P}orders#o_custkey> ?c ; "
                   f"<{P}orders#o_totalprice> ?tp . ?c <{P}customer#"
                   f"c_nationkey> ?nat . ?nat <{P}nation#n_name> ?nname . "
                   f"{region_path} }} GROUP BY ?nname",
         "sql": "SELECT n_name, sum(o_totalprice), count(*) FROM orders "
                "JOIN customer ON o_custkey = c_custkey " + region_sql
                + " GROUP BY n_name"},
        {"name": "star", "pool": list(range(1, 11)),
         "sparql": f"SELECT ?p ?name ?type ?size ?price WHERE {{ ?p "
                   f"<{P}part#p_brand> \"Brand#{{c}}\" ; <{P}part#p_name> "
                   f"?name ; <{P}part#p_type> ?type ; <{P}part#p_size> ?size"
                   f" ; <{P}part#p_retailprice> ?price }}",
         "sql": "SELECT 'urn:part:' || p_partkey, p_name, p_type, p_size, "
                "p_retailprice FROM part WHERE p_brand = 'Brand#{c}'"},
        {"name": "linear", "pool": gen.REGIONS,
         "sparql": f"SELECT (COUNT(?li) AS ?n) (SUM(?q) AS ?qty) WHERE {{ "
                   f"?li <{P}lineitem#l_orderkey> ?o ; "
                   f"<{P}lineitem#l_quantity> ?q . ?o <{P}orders#o_custkey> "
                   f"?c . ?c <{P}customer#c_nationkey> ?nat . "
                   f"{region_path} }}",
         "sql": "SELECT count(*), sum(l_quantity) FROM lineitem JOIN orders "
                "ON l_orderkey = o_orderkey JOIN customer "
                "ON o_custkey = c_custkey " + region_sql},
        {"name": "snowflake", "pool": list(range(11, 19)),
         "sparql": f"SELECT ?nname (SUM(?q) AS ?qty) (COUNT(?li) AS ?n) "
                   f"WHERE {{ ?li <{P}lineitem#l_partkey> ?p ; "
                   f"<{P}lineitem#l_suppkey> ?s ; <{P}lineitem#l_quantity> "
                   f"?q . ?p <{P}part#p_brand> \"Brand#{{c}}\" . ?s "
                   f"<{P}supplier#s_nationkey> ?nat . ?nat <{P}nation#n_name>"
                   f" ?nname }} GROUP BY ?nname",
         "sql": "SELECT n_name, sum(l_quantity), count(*) FROM lineitem "
                "JOIN part ON l_partkey = p_partkey JOIN supplier "
                "ON l_suppkey = s_suppkey JOIN nation "
                "ON s_nationkey = n_nationkey WHERE p_brand = 'Brand#{c}' "
                "GROUP BY n_name"},
    ]


def _fill(template: str, c) -> str:
    if isinstance(c, tuple):
        return template.replace("{c[0]}", str(c[0])).replace("{c[1]}", str(c[1]))
    return template if c is None else template.replace("{c}", str(c))


def _eventlog_dir(ctx: Ctx) -> str | None:
    if not ctx.trace:
        return None
    d = os.path.join(ctx.work, "eventlog")
    os.makedirs(d, exist_ok=True)
    return d


def _toggle(tracer):
    return lambda on: setattr(tracer, "enabled", on)


# ============================================================ update-mix
class Server:
    """``perfbench/server.py`` in its own process (its own GIL), driven
    over stdin/stdout."""

    def __init__(self, ctx: Ctx, quads: str):
        cfg = os.path.join(ctx.work, "server.json")
        with open(cfg, "w", encoding="utf-8") as fh:
            json.dump({"work": ctx.work, "quads": quads, "trace": ctx.trace}, fh)
        self.log = open(os.path.join(ctx.work, "server.log"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(session.ROOT, "perfbench", "server.py"),
             cfg], stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.log, text=True, cwd=session.ROOT)
        try:
            line = self._line()
            if not line.startswith("ready "):
                raise RuntimeError(f"server failed to start: {line!r}")
        except BaseException:
            self.proc.kill()
            self.proc.wait()
            self.log.close()
            raise
        info = json.loads(line[len("ready "):])
        self.port = info["port"]
        self.setup = info["setup"]

    def _line(self) -> str:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("server exited; see server.log")
        return line.strip()

    def command(self, cmd: str) -> str:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self._line()

    def close(self) -> None:
        try:
            if self.proc.poll() is None:
                self.command("stop")
                self.proc.wait(timeout=60)
        finally:
            if self.proc.poll() is None:
                self.proc.kill()
                self.proc.wait()
            self.log.close()


class Client:
    """SPARQL protocol client: one connection per request, each timed
    and, in a traced window, recorded as an ``http`` span whose request
    id the server's spans share (``X-Perfbench-Request``)."""

    def __init__(self, port: int, tracer: trace.Tracer):
        self.port = port
        self.tracer = tracer

    def post(self, kind: str, rid: str, path: str, params: dict | None = None,
             body: str | None = None, ctype: str | None = None):
        """(reply body, seconds); a non-200 reply raises."""
        if params is not None:
            body = urllib.parse.urlencode(params)
            ctype = "application/x-www-form-urlencoded"
        with self.tracer.span("http", request=rid) as sp:
            if sp is not None:
                sp["kind"] = kind
            ts = time.perf_counter()
            conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
            try:
                conn.request("POST", path, body.encode("utf-8"),
                             {"Content-Type": ctype, "X-Perfbench-Request": rid})
                resp = conn.getresponse()
                text = resp.read().decode("utf-8")
            finally:
                conn.close()
            dt = time.perf_counter() - ts
        if resp.status != 200:
            raise RuntimeError(f"HTTP {resp.status}: {text[:200]}")
        return text, dt

    def query(self, rid: str, text: str, fmt: str):
        return self.post("read", rid, "/sparql/", {"query": text, "output": fmt})


def parse_select(text: str, fmt: str) -> list[tuple]:
    if fmt == "json":
        doc = json.loads(text)
        names = doc["head"]["vars"]
        return [tuple(b.get(v, {}).get("value") for v in names)
                for b in doc["results"]["bindings"]]
    if fmt == "xml":
        ns = "{http://www.w3.org/2005/sparql-results#}"
        root = ET.fromstring(text)
        names = [v.get("name") for v in root.iter(ns + "variable")]
        rows = []
        for r in root.iter(ns + "result"):
            vals = {b.get("name"): (b[0].text or "") for b in r.iter(ns + "binding")}
            rows.append(tuple(vals.get(v) for v in names))
        return rows
    rows = list(csv.reader(io.StringIO(text)))
    return [tuple(r) for r in rows[1:]]


def parse_ask(text: str, fmt: str) -> bool:
    if fmt == "json":
        return json.loads(text)["boolean"]
    return "<boolean>true</boolean>" in text


_NT = re.compile(r'^<([^>]*)> <([^>]*)> (?:<([^>]*)>|"(.*)"(?:\^\^<[^>]*>|@\S+)?) \.$')


def parse_ntriples(text: str) -> list[tuple]:
    rows = []
    for line in text.splitlines():
        m = _NT.match(line.strip())
        if m:
            o = m.group(3) if m.group(3) is not None else m.group(4)
            rows.append((m.group(1), m.group(2), o))
        elif line.strip():
            rows.append(("unparsed", line, None))
    return rows


class Reads:
    """The reader's protocol requests over the base tables. A cycle holds
    one request of each kind, always in the order of ``ADHOC`` and then
    the analytic shapes. The first read after each write pays for the
    engine rebuild that the write caused. An order drawn from the seed
    would move that cost between kinds whose latencies differ several
    times over, and with it the window's geometric mean:

    - ad-hoc texts, each unique in the run: a subject point lookup, a
      FILTER range, a LIMIT/OFFSET page, an ASK, a DESCRIBE and a
      CONSTRUCT of seeded subjects and a 2,000-2,500 row result;
    - every analytic shape (bench.py's five plus star, linear and
      snowflake) with constants from small pools, so their texts repeat
      from cycle to cycle (a write lies between any two of them and
      rebuilds the engine, which empties the plan cache).

    The analytic constants come from the cycle's stream, so two cycles
    given the same stream send the same requests but for the ad-hoc
    constants, which come from the run's stream and keep their texts
    unique. Each kind's output format (json, xml, csv; ASK json or
    xml; DESCRIBE and CONSTRUCT N-Triples) moves on by one every cycle, so
    it depends on the cycle's step and not on the seed."""

    ADHOC = ["point", "range", "page", "ask", "describe", "construct", "large"]

    def __init__(self, seed: int, tables: dict):
        self.rng = random.Random(seed + 2)
        self.n_orders = tables["orders"].num_rows
        self.n_cust = tables["customer"].num_rows
        self.prices = sorted(tables["lineitem"]["l_extendedprice"].to_pylist())
        self.templates = {t["name"]: t for t in analytic_templates()}
        self.seen: set = set()

    def cycle(self, crng: random.Random, step: int) -> list[dict]:
        kinds = self.ADHOC + list(self.templates)
        fmts = {}
        for i, k in enumerate(kinds):
            forms = ["json", "xml"] if k == "ask" else ["json", "xml", "csv"]
            fmts[k] = forms[(i + step) % len(forms)]
        return [self._make(k, fmts[k], crng) for k in kinds]

    def _make(self, kind: str, fmt: str, crng: random.Random) -> dict:
        if kind in self.templates:
            return {**self._analytic(crng, self.templates[kind]), "fmt": fmt,
                    "name": kind}
        while True:
            q = getattr(self, "_" + kind)(self.rng)
            if q["text"] not in self.seen:
                self.seen.add(q["text"])
                return {"fmt": fmt, **q, "name": kind}

    def warmup(self) -> list[dict]:
        """One SELECT, ASK and DESCRIBE, and one analytic shape: one
        request per output format."""
        r = random.Random(0)
        out = [{**self._point(r), "fmt": "json"}, {**self._ask(r), "fmt": "xml"},
               self._describe(r),
               {**self._analytic(r, self.templates["q1_agg"]), "fmt": "csv"}]
        self.seen.update(q["text"] for q in out)
        return out

    def _analytic(self, r, t):
        c = r.choice(t["pool"])
        return {"kind": "select",
                "ordered": t.get("ordered", False),
                "text": _fill(t["sparql"], c), "sql": _fill(t["sql"], c)}

    def _point(self, r):
        s = (f"urn:orders:{r.randrange(self.n_orders)}" if r.random() < .5
             else f"urn:customer:{r.randrange(self.n_cust)}")
        return {"kind": "select",
                "text": f"SELECT ?p ?o WHERE {{ <{s}> ?p ?o }}",
                "sql": f"SELECT p, o_lex FROM quads WHERE s = '{s}'"}

    def _range(self, r):
        lo = round(r.uniform(-999, 9000), 2)
        hi = round(lo + r.uniform(50, 800), 2)
        p = f"{P}customer#c_acctbal"
        return {"kind": "select",
                "text": f"SELECT ?c ?bal WHERE {{ ?c <{p}> ?bal "
                        f"FILTER(?bal >= {lo} && ?bal < {hi}) }}",
                "sql": f"SELECT s, o_lex FROM quads WHERE p = '{p}' "
                       f"AND o_num >= {lo} AND o_num < {hi}"}

    def _page(self, r):
        lim, off = r.randint(5, 60), r.randrange(self.n_orders - 60)
        p = f"{P}orders#o_totalprice"
        return {"kind": "select", "ordered": True,
                "text": f"SELECT ?o ?tp WHERE {{ ?o <{p}> ?tp }} "
                        f"ORDER BY ?tp ?o LIMIT {lim} OFFSET {off}",
                "sql": f"SELECT s, o_lex FROM quads WHERE p = '{p}' "
                       f"ORDER BY o_num, s LIMIT {lim} OFFSET {off}"}

    def _ask(self, r):
        o, c = r.randrange(self.n_orders), r.randrange(self.n_cust)
        p = f"{P}orders#o_custkey"
        return {"kind": "ask",
                "text": f"ASK {{ <urn:orders:{o}> <{p}> <urn:customer:{c}> }}",
                "sql": f"SELECT count(*) > 0 FROM quads WHERE s = "
                       f"'urn:orders:{o}' AND p = '{p}' AND "
                       f"o_lex = 'urn:customer:{c}'"}

    def _describe(self, r):
        s = f"urn:customer:{r.randrange(self.n_cust)}"
        return {"kind": "graph", "fmt": "ntriples", "text": f"DESCRIBE <{s}>",
                "sql": f"SELECT s, p, o_lex FROM quads WHERE s = '{s}'"}

    def _construct(self, r):
        s = f"urn:orders:{r.randrange(self.n_orders)}"
        return {"kind": "graph", "fmt": "ntriples",
                "text": f"CONSTRUCT {{ <{s}> ?p ?o }} WHERE {{ <{s}> ?p ?o }}",
                "sql": f"SELECT s, p, o_lex FROM quads WHERE s = '{s}'"}

    def _large(self, r):
        # a price threshold leaving 2,000 to 2,500 rows above it
        n = len(self.prices)
        k = r.randint(max(n - 2500, 0), max(n - 2000, 0))
        lo = self.prices[k] - 0.005
        p = f"{P}lineitem#l_extendedprice"
        return {"kind": "select",
                "text": f"SELECT ?li ?price WHERE {{ ?li <{p}> ?price "
                        f"FILTER(?price > {lo:.3f}) }}",
                "sql": f"SELECT s, o_lex FROM quads WHERE p = '{p}' "
                       f"AND o_num > {lo:.3f}"}


def check_read(con, q: dict, body: str) -> bool:
    want = con.execute(q["sql"]).fetchall()
    if q["kind"] == "ask":
        return parse_ask(body, q["fmt"]) == bool(want[0][0])
    got = (parse_ntriples(body) if q["kind"] == "graph"
           else parse_select(body, q["fmt"]))
    return oracle.same_rows(got, want, q.get("ordered", False))


class Writer:
    """One writer with its own model of the benchmark graphs. Each write
    is confirmed by reads: ASK true for inserted triples, ASK false for
    deleted ones, COUNT per graph equal to the model after bulk changes.
    A cycle sends one write of each kind, in the order of ``KINDS``; each
    write's sizes and triples come from the random stream it is given."""

    KINDS = ["insert", "post", "delete_data", "delete_where", "clear"]

    def __init__(self, seed: int, client: Client):
        self.rng = random.Random(seed + 3)
        self.client = client
        self.model: dict[str, set] = {g: set() for g in GRAPHS + [WARM_GRAPH]}
        self.inserted: dict[str, list] = {g: [] for g in self.model}
        self.uid = 0

    def _id(self) -> int:
        self.uid += 1
        return self.uid

    def _insert(self, g, r):
        ts = [(f"urn:bench:s{u}", BENCH_P, f"v{u}")
              for u in (self._id() for _ in range(r.randint(1, 20)))]
        body = " . ".join(f'<{s}> <{p}> "{o}"' for s, p, o in ts)
        write = ("update", f"INSERT DATA {{ GRAPH <{g}> {{ {body} }} }}")
        self.model[g] |= set(ts)
        self.inserted[g] += ts
        return write, [("ask", self._ask(g, ts[:3]), True)]

    def _post(self, g, r):
        n = r.randint(50, 500) // 2
        ts, token = [], None
        for _ in range(n):
            u = self._id()
            words = r.choices(gen.WORDS, k=r.randint(3, 12))
            token = token or (f"urn:bench:d{u}", words[0])
            ts += [(f"urn:bench:d{u}", BENCH_TEXT, " ".join(words)),
                   (f"urn:bench:d{u}", BENCH_P, f"x{u}")]
        self.model[g] |= set(ts)
        body = "\n".join(f'<{s}> <{p}> "{o}" .' for s, p, o in ts)
        tok = f'ASK {{ GRAPH <{g}> {{ <{token[0]}> <{FS}token> "{token[1]}" }} }}'
        return ("data", g, body), [("count", g, None), ("ask", tok, True)]

    def _delete_data(self, g, r):
        # the cycle's INSERT DATA went to this graph, so some are live;
        # which ones go is drawn from the run's stream, how many from ``r``
        live = [t for t in self.inserted[g] if t in self.model[g]]
        ts = self.rng.sample(live, min(len(live), r.randint(1, 10)))
        self.model[g] -= set(ts)
        body = " . ".join(f'<{s}> <{p}> "{o}"' for s, p, o in ts)
        asks = " UNION ".join(
            f'{{ GRAPH <{g}> {{ <{s}> <{p}> "{o}" }} }}' for s, p, o in ts[:3])
        return (("update", f"DELETE DATA {{ GRAPH <{g}> {{ {body} }} }}"),
                [("ask", f"ASK {{ {asks} }}", False)])

    def _delete_where(self, g, r):
        self.model[g] = {t for t in self.model[g] if t[1] != BENCH_P}
        return (("update", f"DELETE WHERE {{ GRAPH <{g}> {{ ?s <{BENCH_P}> ?o }} }}"),
                [("count", g, None)])

    def _clear(self, g, r):
        self.model[g] = set()
        return ("update", f"CLEAR GRAPH <{g}>"), [("count", g, None)]

    @staticmethod
    def _ask(g, ts):
        body = " . ".join(f'<{s}> <{p}> "{o}"' for s, p, o in ts)
        return f"ASK {{ GRAPH <{g}> {{ {body} }} }}"

    def targets(self, crng: random.Random) -> list:
        """(kind, graph, stream) of a cycle's writes: the INSERT DATA,
        import and DELETE DATA go to one graph, DELETE WHERE and CLEAR
        GRAPH to graphs of their own. Every draw from ``crng`` is made
        here, so the cycle's stream does not depend on the store's state."""
        g, g_where, g_clear = (crng.choice(GRAPHS) for _ in range(3))
        return [(kind, graph, random.Random(crng.getrandbits(64)))
                for kind, graph in zip(self.KINDS, [g, g, g, g_where, g_clear])]

    def run(self, kind, write, verify, rid: str, w: Window | None) -> bool:
        """Send the write, then its confirming reads; False on any
        wrong answer."""
        c = self.client
        if write[0] == "update":
            _, dt = c.post("write", rid, "/update/", {"update": write[1]})
        else:
            _, dt = c.post("write", rid,
                           "/data/?graph=" + urllib.parse.quote(write[1]),
                           body=write[2], ctype="text/turtle")
        if w is not None:
            w.writes.append(dt)
            w.op("write." + kind, dt)
        ok = True
        for n, (check, arg, expect) in enumerate(verify):
            if check == "ask":
                text, dt = c.query(f"{rid}.{n}", arg, "json")
                got = parse_ask(text, "json")
            else:
                text, dt = c.query(f"{rid}.{n}", (
                    f"SELECT (COUNT(?s) AS ?n) WHERE {{ GRAPH <{arg}> {{ ?s ?p ?o "
                    f"FILTER(STRSTARTS(STR(?p), \"urn:bench:\")) }} }}"), "json")
                got, expect = int(parse_select(text, "json")[0][0]), len(self.model[arg])
            if w is not None:
                w.reads.append(dt)
                w.op("confirm." + check, dt)
            ok &= got == expect
        return ok


def update_mix(ctx: Ctx) -> Result:
    """SPARQL protocol over HTTP against a built store: a writer that
    confirms each write with read-your-writes checks, and a reader. Every
    protocol request of either is an op."""
    data = os.path.join(ctx.work, "data")
    tables = gen.tpch_tables(ctx.seed, HTTP_LINEITEMS)
    quads = pa.concat_tables([gen.quads_of(tables), gen.config_quads(BENCH_TEXT)])
    gen.write({**tables, "quads": quads}, data)

    rss = trace.RssSampler().start()
    t0 = time.perf_counter()
    server = Server(ctx, os.path.join(data, "quads.parquet"))
    res = Result(setup={}, windows=[])
    try:
        t1 = time.perf_counter()
        tracer = trace.Tracer("c")
        reader = Client(server.port, tracer)
        writer = Writer(ctx.seed, Client(server.port, tracer))
        reads = Reads(ctx.seed, tables)
        read_log: list = []  # (query, reply body, window)

        # warm-up: one write down each server path (SPARQL Update; RDF
        # import with fulltext indexing, which starts the Python workers)
        # and one read per result form
        for kind in ("insert", "post"):
            write, verify = getattr(writer, "_" + kind)(WARM_GRAPH, writer.rng)
            ok = writer.run(kind, write, verify, f"warm-{kind}", None)
            res.checks.append((ok, f"warm-up {kind}"))
        for k, q in enumerate(reads.warmup()):
            read_log.append((q, reader.query(f"warm-r{k}", q["text"], q["fmt"])[0], None))
        t2 = time.perf_counter()
        cycles = itertools.count()

        def cycle(w: Window, step: int):
            # writer and reader in lock-step: each confirmed write is
            # followed by a share of the reader's cycle against the store
            # it left, so every run sees the same interleaving whatever the
            # timing. The cycle's inputs come from its own stream, seeded
            # by ``step``: every cycle holds every write kind and every
            # read shape, and the two cycles of a traced pair the same
            # sizes and analytic constants.
            n = next(cycles)
            crng = random.Random(ctx.seed * 1_000_003 + step)
            queries = reads.cycle(crng, step)
            per_write = len(Writer.KINDS)
            for i, (kind, g, r) in enumerate(writer.targets(crng)):
                # the model moves on when a write is made, so each is made
                # only after the one before it is confirmed
                write, verify = getattr(writer, "_" + kind)(g, r)
                ts = time.perf_counter()
                try:
                    ok = writer.run(kind, write, verify, f"c{n}.w{i}", w)
                except (RuntimeError, OSError) as exc:
                    ok = False
                    res.errors.append(f"{kind} c{n}.w{i}: {exc}")
                w.confirms.append(time.perf_counter() - ts)
                w.count(ok)
                if not ok:
                    res.errors.append(f"{kind} c{n}.w{i}: read-your-writes failed")
                for k, q in enumerate(queries[i::per_write]):
                    try:
                        text, dt = reader.query(f"c{n}.r{i}.{k}", q["text"], q["fmt"])
                    except (RuntimeError, OSError) as exc:
                        w.count(False)
                        res.errors.append(f"read {q['text'][:80]}: {exc}")
                        continue
                    w.op(q["name"], dt)
                    w.reads.append(dt)
                    read_log.append((q, text, w))

        def toggle(on):
            tracer.enabled = on
            server.command("trace on" if on else "trace off")

        res.windows = _measure(ctx, toggle, cycle)
    finally:
        server.close()
        res.peak_rss_mb = rss.stop()
    res.setup = {"setup_s": t2 - t0, "setup.warmup_s": t2 - t1, **{
        k: v for k, v in server.setup.items() if k.startswith("setup.")}}
    res.facts = {k: v for k, v in server.setup.items() if k.startswith("store.")}
    if ctx.trace:
        with open(os.path.join(ctx.work, "server_trace.json"), encoding="utf-8") as fh:
            st = json.load(fh)
        res.spans = tracer.spans + st["spans"]
        res.groups = st["groups"]
        res.write_wait_s = st["write_wait_s"]
    con = oracle.connect(data)
    for q, text, w in read_log:
        ok = check_read(con, q, text)
        if w is None:
            res.checks.append((ok, f"warm-up read {q['text'][:60]}"))
        else:
            w.count(ok)
        if not ok:
            res.errors.append(f"wrong answer: {q['text'][:120]}")
    return res


# ========================================================== pipeline-ops
def _load(relpath: str):
    """Import a repo script by path (they are not packages)."""
    name = "perfbench_" + os.path.basename(relpath)[:-3]
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(session.ROOT, relpath))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# same text_stats replay as bench.py's DuckDB q8_textstats
TEXT_STATS_SQL = r"""
WITH s AS (SELECT
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\s+')) END ntok,
    length(text) nchars,
    length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) punct,
    md5(trim(regexp_replace(regexp_replace(lower(text),
      '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) fp
  FROM documents),
q AS (SELECT ntok, fp,
    (least(ntok / 100.0, 1.0)
     + greatest(0.0, 1.0 - (CASE WHEN nchars > 0
         THEN punct::DOUBLE / nchars ELSE 1.0 END) * 5.0)
     + CASE WHEN ntok > 0 AND nchars::DOUBLE / ntok
            BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.5 END) / 3.0 q
  FROM s)
SELECT SUM(ntok), AVG(q), COUNT(DISTINCT fp) FROM q"""

COSINE_SQL = """
WITH q AS (SELECT vec_id qid, embedding qe FROM embeddings WHERE vec_id < 10)
SELECT count(*) FROM (
  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
    ORDER BY list_cosine_similarity(qe, embedding) DESC) rn
  FROM q CROSS JOIN embeddings) WHERE rn <= 10"""


def _operator_calls(spark, data: str):
    """(name, variant or None, call) for one pass; each call runs the
    operator and its checksum action, as bench.py and
    scripts/bench_llm_trend.py do."""
    from pyspark.sql import functions as F

    import fourstore_spark.operators.dedup as dedup
    import fourstore_spark.operators.graph as graph
    import fourstore_spark.operators.lm as lm
    import fourstore_spark.operators.similarity as similarity
    import fourstore_spark.operators.textstats as textstats

    def docs(v):
        return spark.read.parquet(os.path.join(data, f"documents_{v}.parquet"))

    def emb(v):
        return spark.read.parquet(os.path.join(data, f"embeddings_{v}.parquet"))

    def edges():
        t = {n: spark.read.parquet(os.path.join(data, f"{n}.parquet"))
             for n in ("nation", "customer", "supplier")}
        n = t["nation"].select(
            F.concat(F.lit("urn:nation:"), "n_nationkey").alias("src"),
            F.concat(F.lit("urn:region:"), "n_regionkey").alias("dst"))
        c = t["customer"].select(
            F.concat(F.lit("urn:customer:"), "c_custkey").alias("src"),
            F.concat(F.lit("urn:nation:"), "c_nationkey").alias("dst"))
        s = t["supplier"].select(
            F.concat(F.lit("urn:supplier:"), "s_suppkey").alias("src"),
            F.concat(F.lit("urn:nation:"), "s_nationkey").alias("dst"))
        return n.unionByName(c).unionByName(s)

    def text_stats(v):
        r = textstats.text_stats(docs(v)).agg(
            F.sum("n_tokens"), F.avg("quality"),
            F.count_distinct("fingerprint")).head()
        return tuple(r)

    def minhash(v):
        return dedup.minhash_lsh_candidates(
            docs(v), "text", "doc_id", num_hashes=32, bands=8).collect()

    def cosine(v):
        e = emb(v)
        q = e.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding")
        return (similarity.cosine_topk(e, q, k=10).count(),)

    def lm_score(v):
        r = lm.lm_score(docs(v)).agg(
            F.count("*"), F.sum("logprob_micro"), F.sum("n_bigrams")).head()
        return tuple(r)

    def pagerank(v):
        r = graph.pagerank(edges(), iters=6).agg(
            F.count("*"), F.sum("rank")).head()
        return tuple(r)

    return [("text_stats", text_stats), ("minhash_lsh_candidates", minhash),
            ("cosine_topk", cosine), ("lm_score", lm_score),
            ("pagerank", pagerank)]


def _near_duplicates(docs: pa.Table, planted: list) -> set:
    """Planted pairs whose shingle Jaccard is at least 0.95: 32 hashes in
    8 bands miss such a pair with probability below 2e-6, so every one
    must be a candidate. (bench.py's DuckDB minhash replay hashes with
    DuckDB's hash(), not xxhash64, so its chance collisions, and hence
    its pair count, differ from Spark's by design.)"""
    text = docs["text"].to_pylist()
    out = set()
    for a, b in planted:
        sa, sb = gen.shingles(text[a]), gen.shingles(text[b])
        if len(sa & sb) >= 0.95 * len(sa | sb):
            out.add((min(a, b), max(a, b)))
    return out


def _operator_oracles(data: str):
    import duckdb

    trend = _load("scripts/bench_llm_trend.py")
    sys.path.insert(0, session.ROOT)
    import __spark_entry__ as entry

    sql = {
        "text_stats": TEXT_STATS_SQL,
        "cosine_topk": COSINE_SQL,
        "lm_score": trend.DUCK_LM,
        "pagerank": "SELECT count(*), CAST(sum(rank) AS BIGINT) FROM ("
                    + entry._pagerank_oracle_sql() + ")",
    }
    cache: dict = {}

    def want(name, v):
        if (name, v) not in cache:
            con = duckdb.connect()
            for t in ("nation", "customer", "supplier"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                            f"'{os.path.join(data, t + '.parquet')}')")
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                            f"'{os.path.join(data, f'{t}_{v}.parquet')}')")
            cache[(name, v)] = con.execute(sql[name]).fetchall()
            con.close()
        return cache[(name, v)]

    return want


def pipeline_ops(ctx: Ctx) -> Result:
    """Library operators over seeded corpus variants, one client; an op
    is one operator call with its checksum action, and a cycle is one
    pass of all five over each variant."""
    data = os.path.join(ctx.work, "data")
    tables = gen.tpch_tables(ctx.seed, GRAPH_LINEITEMS)
    files = {n: tables[n] for n in ("nation", "customer", "supplier")}
    must_pair = {}
    for v in range(CORPUS_VARIANTS):
        docs, emb, planted = gen.corpus(ctx.seed * 31 + v, CORPUS_DOCS,
                                        CORPUS_DUP_SHARE)
        files[f"documents_{v}"], files[f"embeddings_{v}"] = docs, emb
        must_pair[v] = _near_duplicates(docs, planted)
    gen.write(files, data)

    rss = trace.RssSampler().start()
    eventlog = _eventlog_dir(ctx)
    t0 = time.perf_counter()
    spark = session.start_spark(session.conf(ctx.work, eventlog))
    t1 = time.perf_counter()
    tracer = trace.Tracer("c", spark.sparkContext)
    if ctx.trace:
        trace.install(tracer)
    calls = _operator_calls(spark, data)
    results: list = []  # (name, variant, checksum, window)
    for name, fn in calls:
        results.append((name, 0, fn(0), None))
    t2 = time.perf_counter()

    def cycle(w: Window, step: int):
        for v in range(CORPUS_VARIANTS):
            for name, fn in calls:
                with tracer.span(f"op.{name}"):
                    ts = time.perf_counter()
                    out = fn(v)
                    dt = time.perf_counter() - ts
                w.op(name, dt)
                results.append((name, v, out, w))

    windows = _measure(ctx, _toggle(tracer), cycle)
    peak = rss.stop()
    spark.stop()
    res = Result(
        setup={"setup_s": t2 - t0, "setup.session_s": t1 - t0,
               "setup.store_build_s": 0.0, "setup.open_s": 0.0,
               "setup.warmup_s": t2 - t1},
        windows=windows, peak_rss_mb=peak, spans=tracer.spans)
    if eventlog:
        res.groups = trace.fold_eventlog(eventlog)
    want = _operator_oracles(data)
    for name, v, got, w in results:
        if name == "minhash_lsh_candidates":
            pairs = {(r[0], r[1]) for r in got}
            ok = must_pair[v] <= pairs and all(a < b for a, b in pairs)
            got, expect = len(pairs), f"all of {len(must_pair[v])} near-duplicates"
        else:
            expect = want(name, v)
            ok = oracle.same_rows([got], expect)
        if w is None:
            res.checks.append((ok, f"warm-up {name}"))
        else:
            w.count(ok)
        if not ok:
            res.errors.append(f"{name} variant {v}: {got} != {expect}")
    return res


WORKLOADS = {
    "update-mix": update_mix,
    "pipeline-ops": pipeline_ops,
}
