"""HTTP endpoint tests, shaped like the reference's tests/httpd/scripts
(insert -> query -> delete cycles over the SPARQL protocol)."""

import json
import re
import urllib.error
import urllib.parse
import urllib.request

import pytest

from fourstore_spark.httpd import SparqlHttpServer


@pytest.fixture(scope="module")
def server(spark):
    srv = SparqlHttpServer(spark, port=0)  # ephemeral port
    srv.start()
    yield srv
    srv.stop()


def _get(srv, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{srv.port}{path}") as r:
        return r.status, r.read().decode()


def _post(srv, path, data: dict):
    body = urllib.parse.urlencode(data).encode()
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}",
        data=body,
        headers={"Content-Type": "application/x-www-form-urlencoded"},
    )
    with urllib.request.urlopen(req) as r:
        return r.status, r.read().decode()


def _put(srv, path, body: str):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}",
        data=body.encode(),
        method="PUT",
        headers={"Content-Type": "application/n-triples"},
    )
    with urllib.request.urlopen(req) as r:
        return r.status, r.read().decode()


def test_http_cycle(server):
    # insert via /update/
    st, _ = _post(
        server,
        "/update/",
        {"update": 'INSERT DATA { <urn:s> <urn:p> "hello" }'},
    )
    assert st == 200
    # query via GET /sparql/
    q = urllib.parse.quote("SELECT ?o WHERE { <urn:s> <urn:p> ?o }")
    st, body = _get(server, f"/sparql/?query={q}&output=json")
    assert st == 200
    doc = json.loads(body)
    assert doc["results"]["bindings"][0]["o"]["value"] == "hello"
    # status endpoints (HTML reports, httpd.c:832-1002)
    st, body = _get(server, "/status/size/")
    assert st == 200 and "<tr><th>Total</th><td>1</td></tr>" in body
    st, body = _get(server, "/status/")
    assert st == 200 and "/test/" in body and "/status/cache/" in body
    # /test/ query widget (httpd.c:1070-1100)
    st, body = _get(server, "/test/")
    assert st == 200 and '<form action="/sparql/"' in body
    # /description/ — Turtle service description (httpd.c:1003-1069)
    st, body = _get(server, "/description/")
    assert st == 200 and "sd:Service" in body
    # plan cache is shared across requests on the same store snapshot:
    # re-running the query registers a hit
    st, _ = _get(server, f"/sparql/?query={q}&output=json")
    assert st == 200
    st, body = _get(server, "/status/cache/")
    assert st == 200
    m = re.search(r"cache_hits</td><td>(\d+)", body)
    assert m and int(m.group(1)) >= 1


def test_http_put_data_and_delete(server):
    graph = urllib.parse.quote("urn:g:put", safe="")
    st, _ = _put(server, f"/data/{graph}", '<urn:a> <urn:p> "v1" .')
    assert st == 201
    q = urllib.parse.quote(
        "SELECT ?o WHERE { GRAPH <urn:g:put> { ?s ?p ?o } }"
    )
    st, body = _get(server, f"/sparql/?query={q}&output=tsv")
    assert '"v1"' in body
    # PUT replaces
    st, _ = _put(server, f"/data/{graph}", '<urn:a> <urn:p> "v2" .')
    st, body = _get(server, f"/sparql/?query={q}&output=tsv")
    assert '"v2"' in body and '"v1"' not in body
    # DELETE drops the graph
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/data/{graph}", method="DELETE"
    )
    with urllib.request.urlopen(req) as r:
        assert r.status == 200
    st, body = _get(server, f"/sparql/?query={q}&output=json")
    assert json.loads(body)["results"]["bindings"] == []


def test_http_bad_query_is_400(server):
    q = urllib.parse.quote("SELECT WHERE this is not sparql")
    try:
        _get(server, f"/sparql/?query={q}")
        raised = False
    except urllib.error.HTTPError as e:
        raised = True
        assert e.code == 400
    assert raised


def test_http_construct_ntriples(server):
    q = urllib.parse.quote(
        "CONSTRUCT { ?s <urn:copy> ?o } WHERE { <urn:s> <urn:p> ?o . ?s <urn:p> ?o }"
    )
    st, body = _get(server, f"/sparql/?query={q}")
    assert st == 200
    assert '<urn:s> <urn:copy> "hello" .' in body


def _get_hdrs(srv, path, headers=None):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}", headers=headers or {}
    )
    with urllib.request.urlopen(req) as r:
        return r.status, r.read().decode(), dict(r.headers)


def test_http_jsonp_callback(server):
    _post(
        server,
        "/update/",
        {"update": 'INSERT DATA { <urn:jp> <urn:v> "1" }'},
    )
    q = urllib.parse.quote("SELECT ?o WHERE { <urn:jp> <urn:v> ?o }")
    st, body, hdrs = _get_hdrs(
        server, f"/sparql/?query={q}&callback=handle.it"
    )
    assert st == 200
    assert body.startswith("handle.it(") and body.endswith(")")
    assert "javascript" in hdrs["Content-Type"]
    json.loads(body[len("handle.it("):-1])  # payload is valid JSON
    # a non-identifier callback is rejected, not reflected
    try:
        _get_hdrs(server, f"/sparql/?query={q}&callback=alert(1)%3B")
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400


def test_http_cors_headers(server):
    q = urllib.parse.quote("ASK { ?s ?p ?o }")
    # Origin header present -> CORS grant on the response (IS_CORS)
    st, _, hdrs = _get_hdrs(
        server, f"/sparql/?query={q}", {"Origin": "http://example.org"}
    )
    assert st == 200
    assert hdrs.get("Access-Control-Allow-Origin") == "*"
    # no Origin -> no CORS header
    st, _, hdrs = _get_hdrs(server, f"/sparql/?query={q}")
    assert "Access-Control-Allow-Origin" not in hdrs
    # OPTIONS preflight
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/sparql/",
        method="OPTIONS",
        headers={
            "Origin": "http://example.org",
            "Access-Control-Request-Headers": "content-type",
        },
    )
    with urllib.request.urlopen(req) as r:
        assert r.status == 200
        assert r.headers["Access-Control-Allow-Origin"] == "*"
        assert "GET" in r.headers["Access-Control-Allow-Methods"]
        assert r.headers["Access-Control-Allow-Headers"] == "content-type"


def test_http_default_graph_uri(server):
    _post(
        server,
        "/update/",
        {
            "update": "INSERT DATA { "
            'GRAPH <urn:g:a> { <urn:dg> <urn:v> "in-a" } '
            'GRAPH <urn:g:b> { <urn:dg> <urn:v> "in-b" } }'
        },
    )
    q = urllib.parse.quote("SELECT ?o WHERE { <urn:dg> <urn:v> ?o }")
    dg = urllib.parse.quote("urn:g:a")
    st, body = _get(
        server, f"/sparql/?query={q}&default-graph-uri={dg}"
    )
    vals = [
        b["o"]["value"]
        for b in json.loads(body)["results"]["bindings"]
    ]
    assert vals == ["in-a"]
    # both graphs via repeated param
    dgb = urllib.parse.quote("urn:g:b")
    st, body = _get(
        server,
        f"/sparql/?query={q}&default-graph-uri={dg}"
        f"&default-graph-uri={dgb}",
    )
    vals = sorted(
        b["o"]["value"]
        for b in json.loads(body)["results"]["bindings"]
    )
    assert vals == ["in-a", "in-b"]


def test_http_restricted_soft_limit(server):
    _post(
        server,
        "/update/",
        {
            "update": "INSERT DATA { "
            + " ".join(
                f'<urn:rs:{i}> <urn:rsv> "{i}" .' for i in range(1200)
            )
            + " }"
        },
    )
    q = urllib.parse.quote("SELECT ?s WHERE { ?s <urn:rsv> ?o }")
    st, body = _get(server, f"/sparql/?query={q}&restricted")
    n = len(json.loads(body)["results"]["bindings"])
    assert n == 998  # RESTRICTED_SOFT_LIMIT capped the pattern
    st, body = _get(server, f"/sparql/?query={q}")
    assert len(json.loads(body)["results"]["bindings"]) == 1200


def test_http_apikey_acl(spark):
    from fourstore_spark.httpd import SparqlHttpServer

    srv = SparqlHttpServer(
        spark,
        port=0,
        graph_access_control={
            "alice-key": ["urn:g:open"],
            "admin-key": ["urn:g:open", "urn:g:secret"],
        },
    )
    srv.start()
    try:
        _post(
            srv,
            "/update/",
            {
                "update": "INSERT DATA { "
                'GRAPH <urn:g:open> { <urn:d> <urn:v> "pub" } '
                'GRAPH <urn:g:secret> { <urn:d> <urn:v> "sec" } }',
                "apikey": "admin-key",
            },
        )
        q = urllib.parse.quote("SELECT ?o WHERE { <urn:d> <urn:v> ?o }")
        # no apikey -> 403 with the reference's wording
        try:
            _get(srv, f"/sparql/?query={q}")
            raise AssertionError("expected 403")
        except urllib.error.HTTPError as e:
            assert e.code == 403 and "apikey" in e.read().decode()
        # alice sees only the open graph
        st, body = _get(srv, f"/sparql/?query={q}&apikey=alice-key")
        vals = [
            b["o"]["value"]
            for b in json.loads(body)["results"]["bindings"]
        ]
        assert vals == ["pub"]
        # admin sees both
        st, body = _get(srv, f"/sparql/?query={q}&apikey=admin-key")
        assert (
            len(json.loads(body)["results"]["bindings"]) == 2
        )
        # unknown key: deny-all, not error
        st, body = _get(srv, f"/sparql/?query={q}&apikey=mallory")
        assert json.loads(body)["results"]["bindings"] == []
        # writes without a KNOWN key -> 403
        try:
            _post(
                srv,
                "/update/",
                {"update": "INSERT DATA { <urn:x> <urn:y> <urn:z> }"},
            )
            raise AssertionError("expected 403")
        except urllib.error.HTTPError as e:
            assert e.code == 403
    finally:
        srv.stop()


def test_http_data_driven_acl(spark):
    """The reference's -A mode (graph_access_control=True): ACLs are
    quads in system:config (rdf-constants.h:52-55). Admin handoff,
    default admin, onlyAccessBy visibility, and the admin-only write
    gate (httpd.c:494-500) — the httpd-extras goldens replay the same
    flows end-to-end; this pins the engine-level semantics directly."""
    import json
    import urllib.error
    import urllib.parse

    from fourstore_spark.httpd import SparqlHttpServer

    srv = SparqlHttpServer(spark, port=0, graph_access_control=True)
    srv.start()
    try:
        def upd(text, key=None, expect=200):
            fields = {"update": text}
            if key:
                fields["apikey"] = key
            try:
                st, body = _post(srv, "/update/", fields)
            except urllib.error.HTTPError as e:
                st, body = e.code, e.read().decode()
            assert st == expect, (st, body)
            return body

        def q(text, key=None):
            qs = urllib.parse.quote(text)
            url = f"/sparql/?query={qs}&output=json"
            if key:
                url += f"&apikey={key}"
            st, body = _get(srv, url)
            return [
                tuple(b[v]["value"] for v in sorted(b))
                for b in json.loads(body)["results"]["bindings"]
            ]

        # non-admin (ANY key, store has no acl quads yet -> default
        # admin only) cannot write
        body = upd(
            "INSERT DATA { <urn:x> <urn:y> <urn:z> }", key="user1",
            expect=403,
        )
        assert "admin API KEY" in body
        # missing key on a write gets the same admin message
        body = upd(
            "INSERT DATA { <urn:x> <urn:y> <urn:z> }", expect=403
        )
        assert "admin API KEY" in body
        # default admin 4sadminuser writes
        upd(
            'INSERT DATA { GRAPH <urn:g:a> { <urn:d> <urn:v> "a" } '
            'GRAPH <urn:g:b> { <urn:d> <urn:v> "b" } }',
            key="4sadminuser",
        )
        # reads need SOME key (httpd.c:1156-1157) but any key works
        # for unrestricted graphs
        try:
            _get(srv, "/sparql/?query=SELECT%20%2A%20WHERE%20%7B%3Fs%20%3Fp%20%3Fo%7D")
            raise AssertionError("expected 403")
        except urllib.error.HTTPError as e:
            assert e.code == 403 and "apikey" in e.read().decode()
        assert len(q("SELECT ?o WHERE { <urn:d> <urn:v> ?o }", "user1")) == 2
        # restrict urn:g:b to user2
        upd(
            "INSERT DATA { GRAPH <system:config> { <urn:g:b> "
            '<http://4store.org/acl#onlyAccessBy> "user2" } }',
            key="4sadminuser",
        )
        assert q("SELECT ?o WHERE { <urn:d> <urn:v> ?o }", "user1") == [("a",)]
        assert len(q("SELECT ?o WHERE { <urn:d> <urn:v> ?o }", "user2")) == 2
        # admin still sees everything, including system:config
        admin_g = q(
            "SELECT DISTINCT ?g WHERE { GRAPH ?g { ?s ?p ?o } }",
            "4sadminuser",
        )
        assert ("system:config",) in admin_g and ("urn:g:b",) in admin_g
        # GRAPH ?g must not leak even the NAME of a denied graph
        user1_g = q(
            "SELECT DISTINCT ?g WHERE { GRAPH ?g { ?s ?p ?o } }", "user1"
        )
        assert ("urn:g:b",) not in user1_g
        assert ("system:config",) not in user1_g
        assert ("urn:g:a",) in user1_g
        # GRAPH <denied> directly yields nothing (not an error)
        assert q(
            "SELECT ?o WHERE { GRAPH <urn:g:b> { ?s ?p ?o } }", "user1"
        ) == []
        # ACL filter composes with restricted mode / soft-limit (the
        # reference applies ACLs inside the bind cache,
        # query-cache.c:242-243 — truncation must not bypass them)
        qs = urllib.parse.quote("SELECT ?o WHERE { ?s <urn:v> ?o }")
        st, body = _get(
            srv, f"/sparql/?{urllib.parse.urlencode({'query': 'SELECT ?o WHERE { ?s <urn:v> ?o }'})}&restricted&output=json&apikey=user1"
        )
        vals = [
            b["o"]["value"]
            for b in json.loads(body)["results"]["bindings"]
        ]
        assert vals == ["a"]
        # admin handoff: naming an acl#admin DEMOTES the default admin
        # (query-cache.c:214-217 — the default only exists while no
        # admin quad does)
        upd(
            "INSERT DATA { GRAPH <system:config> { [] "
            '<http://4store.org/acl#admin> "root2" } }',
            key="4sadminuser",
        )
        body = upd(
            "INSERT DATA { <urn:n> <urn:n> <urn:n> }", key="4sadminuser",
            expect=403,
        )
        assert "admin API KEY" in body
        upd("INSERT DATA { <urn:n> <urn:n> <urn:n2> }", key="root2")
        # new admin sees restricted graphs without being listed
        assert len(q("SELECT ?o WHERE { <urn:d> <urn:v> ?o }", "root2")) == 2
        # dropping system:config restores the default admin
        upd("CLEAR GRAPH <system:config>", key="root2")
        upd("INSERT DATA { <urn:n> <urn:n> <urn:n3> }", key="4sadminuser")
    finally:
        srv.stop()


def test_http_accept_content_negotiation(server):
    import json as _json
    import urllib.parse
    import urllib.request

    _post(server, "/update/", {"update":
        'INSERT DATA { <urn:cn:s> <urn:cn:p> "v" }'})
    q = urllib.parse.quote("SELECT ?o WHERE { <urn:cn:s> <urn:cn:p> ?o }")
    for accept, want_ct, probe in [
        ("text/csv", "text/csv", lambda b: b.splitlines()[0] == "o"),
        ("application/sparql-results+xml", "application/sparql-results+xml",
         lambda b: b.startswith("<?xml")),
        ("application/json;q=0.9", "application/sparql-results+json",
         lambda b: _json.loads(b)["results"]["bindings"][0]["o"]["value"]
         == "v"),
        ("text/tab-separated-values", "text/tab-separated-values",
         lambda b: b.splitlines()[0] == "?o"),
    ]:
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/sparql/?query={q}",
            headers={"Accept": accept},
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
            assert r.headers["Content-Type"].startswith(want_ct), accept
            assert probe(r.read().decode()), accept
    # explicit output parameter overrides Accept
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/sparql/?query={q}&output=csv",
        headers={"Accept": "application/sparql-results+xml"},
    )
    with urllib.request.urlopen(req) as r:
        assert r.headers["Content-Type"].startswith("text/csv")


def test_http_status_pages_gated_under_acl(spark):
    # ADVICE r4: /status/size and /status/cache must not leak store
    # shape (predicate IRIs, counts) or run full-store scans for
    # unauthenticated clients when graph access control is enabled —
    # and the size report must be scoped to the key's graphs
    from fourstore_spark.httpd import SparqlHttpServer

    srv = SparqlHttpServer(
        spark,
        port=0,
        graph_access_control={
            "alice-key": ["urn:g:open"],
            "admin-key": ["urn:g:open", "urn:g:secret"],
        },
    )
    srv.start()
    try:
        _post(
            srv,
            "/update/",
            {
                "update": "INSERT DATA { "
                'GRAPH <urn:g:open> { <urn:d> <urn:v> "pub" } '
                'GRAPH <urn:g:secret> { <urn:d> <urn:w> "sec" } }',
                "apikey": "admin-key",
            },
        )
        for page in ("/status/size/", "/status/cache/"):
            try:
                _get(srv, page)
                raise AssertionError(f"expected 403 for {page}")
            except urllib.error.HTTPError as e:
                assert e.code == 403 and "apikey" in e.read().decode()
        # alice's size report shows only her graph's predicates
        st, body = _get(srv, "/status/size/?apikey=alice-key")
        assert st == 200 and "urn:v" in body and "urn:w" not in body
        assert "models: 1" in body
        # admin sees both
        st, body = _get(srv, "/status/size/?apikey=admin-key")
        assert "urn:v" in body and "urn:w" in body and "models: 2" in body
        st, body = _get(srv, "/status/cache/?apikey=alice-key")
        assert st == 200 and "cache_entries" in body
    finally:
        srv.stop()


def test_http_data_content_type_and_extension_formats(server):
    # reference tests/httpd/scripts/formats: POST /data/ parses the body
    # by Content-Type (turtle, rdf+xml) or, for generic types, by the
    # GRAPH URI's file extension
    import urllib.request

    def post_data(graph, body, ctype):
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/data/?graph="
            + urllib.parse.quote(graph, safe=""),
            data=body.encode(),
            headers={"Content-Type": ctype} if ctype else
            {"Content-Type": "application/octet-stream"},
        )
        with urllib.request.urlopen(req) as r:
            return r.status

    assert post_data(
        "urn:fmt:1", '<urn:fa> <urn:fb> "turtle" .', "text/turtle"
    ) == 200
    rdfxml = (
        '<?xml version="1.0" encoding="utf-8"?>'
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
        ' xmlns:t="urn:t:">'
        '<rdf:Description rdf:about="urn:fx"><t:y>rdfxml</t:y>'
        "</rdf:Description></rdf:RDF>"
    )
    assert post_data("urn:fmt:2", rdfxml, "application/rdf+xml") == 200
    # extension sniffing for generic content types
    assert post_data(
        "http://example.org/t.ttl", '<urn:fe> <urn:fb> "ext-ttl" .', ""
    ) == 200
    assert post_data(
        "http://example.org/t.rdf", rdfxml, ""
    ) == 200
    q = urllib.parse.quote(
        "SELECT ?g ?o WHERE { GRAPH ?g { ?s ?p ?o } "
        "FILTER(STRSTARTS(STR(?g), 'urn:fmt') || "
        "STRSTARTS(STR(?g), 'http://example.org/t')) }"
    )
    st, body = _get(server, f"/sparql/?query={q}")
    vals = sorted(
        b["o"]["value"]
        for b in json.loads(body)["results"]["bindings"]
    )
    assert vals == ["ext-ttl", "rdfxml", "rdfxml", "turtle"]


def _fail_fulltext_config(monkeypatch):
    """Fail every /data/ import after its quads are added: the
    full-text config lookup runs between add_quads and commit."""
    import fourstore_spark.operators.fulltext as fulltext

    def boom(quads):
        raise RuntimeError("injected fulltext_config failure")

    monkeypatch.setattr(fulltext, "fulltext_config", boom)


def _ask(srv, text):
    st, body = _get(srv, f"/sparql/?query={urllib.parse.quote(text)}")
    assert st == 200
    return json.loads(body)["boolean"]


def test_http_post_data_failing_after_add_is_undone(spark, monkeypatch):
    srv = SparqlHttpServer(spark, port=0)
    srv.start()
    try:
        _fail_fulltext_config(monkeypatch)
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/data/?graph=urn:g:postfail",
            data=b'<urn:pf> <urn:p> "lost" .',
            headers={"Content-Type": "application/n-triples"},
        )
        with pytest.raises(urllib.error.HTTPError) as exc:
            urllib.request.urlopen(req)
        assert exc.value.code == 400
        assert exc.value.read().decode().startswith(
            "400 RDF parser reported errors: injected"
        )
        assert not _ask(
            srv, 'ASK { GRAPH <urn:g:postfail> { <urn:pf> <urn:p> "lost" } }'
        )
    finally:
        srv.stop()


def test_http_put_data_failing_after_add_keeps_old_graph(spark, monkeypatch):
    srv = SparqlHttpServer(spark, port=0)
    srv.start()
    try:
        graph = urllib.parse.quote("urn:g:putfail", safe="")
        st, _ = _put(srv, f"/data/{graph}", '<urn:a> <urn:p> "old" .')
        assert st == 201
        _fail_fulltext_config(monkeypatch)
        with pytest.raises(urllib.error.HTTPError) as exc:
            _put(srv, f"/data/{graph}", '<urn:a> <urn:p> "new" .')
        assert exc.value.code == 400
        q = urllib.parse.quote(
            "SELECT ?o WHERE { GRAPH <urn:g:putfail> { ?s ?p ?o } }"
        )
        st, body = _get(srv, f"/sparql/?query={q}")
        vals = [b["o"]["value"] for b in json.loads(body)["results"]["bindings"]]
        assert vals == ["old"]
    finally:
        srv.stop()


def test_http_status_cache_reports_requesters_engine(spark):
    # under graph access control a key's queries share one cached
    # engine per store snapshot, and /status/cache reports that engine
    srv = SparqlHttpServer(
        spark, port=0, graph_access_control={"alice-key": ["urn:g:open"]}
    )
    srv.start()
    try:
        q = urllib.parse.quote("SELECT ?o WHERE { ?s ?p ?o }")
        for _ in range(2):
            st, _ = _get(srv, f"/sparql/?query={q}&apikey=alice-key")
            assert st == 200
        st, body = _get(srv, "/status/cache/?apikey=alice-key")
        assert st == 200
        assert "<tr><td>cache_entries</td><td>1</td></tr>" in body
        assert "<tr><td>cache_hits</td><td>1</td></tr>" in body
    finally:
        srv.stop()


def test_http_concurrent_writes_and_scoped_reads(spark):
    # more request threads than cores, on the data-driven ACL server:
    # every write goes through the write lock and its transaction, and
    # readers share the per-snapshot engine cache while writes replace
    # the snapshot under them; a lost update would drop a triple
    import sys
    import threading

    srv = SparqlHttpServer(spark, port=0, graph_access_control=True)
    srv.start()
    n_writers, errors = 6, []
    q = urllib.parse.quote(
        "SELECT ?s WHERE { GRAPH <urn:g:conc> { ?s <urn:p> ?o } }"
    )

    def write(i):
        try:
            req = urllib.request.Request(
                f"http://127.0.0.1:{srv.port}/data/?graph=urn:g:conc"
                "&apikey=4sadminuser",
                data=f'<urn:w{i}> <urn:p> "{i}" .'.encode(),
                headers={"Content-Type": "application/n-triples"},
            )
            with urllib.request.urlopen(req) as r:
                assert r.status == 200
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    def read():
        try:
            for _ in range(3):
                st, _ = _get(srv, f"/sparql/?query={q}&apikey=reader")
                assert st == 200
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    threads = [threading.Thread(target=write, args=(i,))
               for i in range(n_writers)]
    threads += [threading.Thread(target=read) for _ in range(4)]
    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors
        st, body = _get(srv, f"/sparql/?query={q}&apikey=reader")
        got = {b["s"]["value"] for b in json.loads(body)["results"]["bindings"]}
        assert got == {f"urn:w{i}" for i in range(n_writers)}
    finally:
        sys.setswitchinterval(old_interval)
        srv.stop()
