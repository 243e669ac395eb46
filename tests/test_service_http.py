"""HTTP/SSE service surface tests — a live ThreadingHTTPServer sharing the
test SparkSession, driven over real sockets with http.client.

Parity target: /root/reference/routes.py:36-141 (GET /health, GET /,
POST /invoke-streaming with SSE envelope {"type","session_id","data"},
stream_complete terminator, stream_error in-band) and services.py:67-72
(session-id shape)."""

import json
import shutil
import threading
from http.client import HTTPConnection

import pytest


@pytest.fixture()
def server(spark, tmp_path):
    from case_uco_ontology_map_spark.service import serve

    srv = serve(spark, port=0, sessions_dir=str(tmp_path / "sessions"))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv
    srv.shutdown()
    srv.server_close()
    t.join(timeout=10)


def _request(server, method, path, body=None):
    host, port = server.server_address
    conn = HTTPConnection(host, port, timeout=120)
    headers = {"Content-Type": "application/json"} if body else {}
    conn.request(method, path, body=body, headers=headers)
    resp = conn.getresponse()
    data = resp.read()
    conn.close()
    return resp.status, data


def _sse_events(raw: bytes):
    """Parse SSE framing: one `data: {json}` frame per blank-line-separated
    block."""
    events = []
    for block in raw.decode("utf-8").split("\n\n"):
        block = block.strip()
        if block.startswith("data: "):
            events.append(json.loads(block[len("data: "):]))
    return events


def test_health_and_root(server):
    status, data = _request(server, "GET", "/health")
    assert status == 200
    body = json.loads(data)
    assert body["status"] == "healthy"
    assert body["service"]

    status, data = _request(server, "GET", "/")
    assert status == 200
    body = json.loads(data)
    assert body["endpoints"]["streaming_analysis"] == "/invoke-streaming"

    status, _ = _request(server, "GET", "/nope")
    assert status == 404


def test_invoke_streaming_json_payload(server, tmp_path):
    payload = {
        "user_identifier": "analyst",
        "input_artifacts": {
            "case_name": "svc case",
            "records": [
                {"url": "https://a.example.org", "n_chars": 10},
                {"url": "https://b.example.org", "n_chars": 20},
            ],
        },
        "class_names": ["URL"],
    }
    status, raw = _request(
        server, "POST", "/invoke-streaming", body=json.dumps(payload)
    )
    assert status == 200
    events = _sse_events(raw)
    types = [e["type"] for e in events]
    assert types == [
        "session_start", "ingest", "ontology", "graph", "validation",
        "complete", "stream_complete",
    ]
    sid = events[0]["session_id"]
    # reference session-id shape: {user[:10]}_{ts}_{uuid4[:8]}
    assert sid.startswith("analyst_") and len(sid.split("_")) == 4
    assert all(e["session_id"] == sid for e in events)
    # envelope: payload under "data", session_id not duplicated inside
    for e in events[:-1]:
        assert "session_id" not in e["data"]
    graph_ev = next(e for e in events if e["type"] == "graph")
    assert graph_ev["data"]["triples"] > 0
    validation_ev = next(e for e in events if e["type"] == "validation")
    assert validation_ev["data"]["is_clean"]
    complete = next(e for e in events if e["type"] == "complete")
    session = complete["data"]["session"]
    assert session["records"] == 2
    # session artifacts landed under sessions_dir/<session_id>
    out_dir = tmp_path / "sessions" / sid
    assert (out_dir / "graph.jsonld").exists()
    assert (out_dir / "session.json").exists()
    with open(out_dir / "session.json") as fh:
        assert json.load(fh)["session_id"] == sid


def test_invoke_streaming_csv_with_metadata(server, tmp_path):
    payload = {
        "user_identifier": "csvuser",
        "input_artifacts": "url,n_chars\nhttps://a.example.org,10\n",
        "artifact_type": "Browser History",
        "description": "exported rows",
        "source": "unit-test",
        "class_names": ["URL"],
    }
    status, raw = _request(
        server, "POST", "/invoke-streaming", body=json.dumps(payload)
    )
    assert status == 200
    events = _sse_events(raw)
    assert [e["type"] for e in events][-1] == "stream_complete"
    # the ingest event reports what actually arrived, even though the
    # metadata wrap turned the CSV into a records dict
    ingest = next(e for e in events if e["type"] == "ingest")
    assert ingest["data"]["format"] == "csv"
    # metadata wrap reached the pipeline: the ontology_map artifacts slot
    # is fed from shared artifact_type, which shows up in the session graph
    sid = events[0]["session_id"]
    with open(tmp_path / "sessions" / sid / "graph.jsonld") as fh:
        graph = json.load(fh)
    assert graph["@graph"]


def test_invoke_streaming_bad_body(server):
    status, data = _request(server, "POST", "/invoke-streaming", body="{not json")
    assert status == 422
    status, data = _request(
        server, "POST", "/invoke-streaming", body=json.dumps({"x": 1})
    )
    assert status == 422
    assert b"input_artifacts" in data
    # explicit null is as absent: reject before streaming (pydantic parity)
    status, data = _request(
        server, "POST", "/invoke-streaming",
        body=json.dumps({"input_artifacts": None}),
    )
    assert status == 422


def test_stream_error_in_band(server):
    """A payload that fails mid-pipeline MUST surface as an in-band
    stream_error event (the stream already started → no HTTP error)."""
    payload = {
        "user_identifier": "bad",
        # empty records list → createDataFrame cannot infer a schema →
        # deterministic mid-stream failure
        "input_artifacts": {"records": []},
    }
    status, raw = _request(
        server, "POST", "/invoke-streaming", body=json.dumps(payload)
    )
    assert status == 200
    events = _sse_events(raw)
    assert events, "stream must carry at least one event"
    assert events[-1]["type"] == "stream_error"
    assert events[-1]["error"]


def test_session_dir_traversal_blocked(server, tmp_path):
    """A hostile user_identifier must not escape sessions_dir."""
    payload = {
        "user_identifier": "../../evil",
        "input_artifacts": {"records": [{"url": "https://a.example.org"}]},
        "class_names": ["URL"],
    }
    status, raw = _request(
        server, "POST", "/invoke-streaming", body=json.dumps(payload)
    )
    assert status == 200
    events = _sse_events(raw)
    sid = events[0]["session_id"]
    assert "/" not in sid and ".." not in sid
    assert (tmp_path / "sessions" / sid).exists()
    # nothing was written outside sessions_dir
    assert not (tmp_path.parent / "evil").exists()


def test_concurrent_streaming_sessions_no_crosstalk(server, tmp_path):
    """ThreadingHTTPServer under two OVERLAPPING /invoke-streaming sessions:
    both must stream to completion with distinct session ids, every event
    on each connection carrying ONLY its own session id (no cross-talk),
    and both session dirs materialized. The two requests are launched
    simultaneously and the slow Spark pipeline guarantees their lifetimes
    overlap."""
    import queue

    results = queue.Queue()

    def run(user, url):
        payload = {
            "user_identifier": user,
            "input_artifacts": {
                "case_name": f"case {user}",
                "records": [{"url": url, "n_chars": len(url)}],
            },
            "class_names": ["URL"],
        }
        status, raw = _request(
            server, "POST", "/invoke-streaming", body=json.dumps(payload)
        )
        results.put((user, status, _sse_events(raw)))

    threads = [
        threading.Thread(target=run, args=("alice", "https://a.example.org")),
        threading.Thread(target=run, args=("bob", "https://b.example.org")),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive(), "streaming request hung"

    by_user = {}
    while not results.empty():
        user, status, events = results.get()
        assert status == 200
        by_user[user] = events
    assert set(by_user) == {"alice", "bob"}

    sids = {}
    for user, events in by_user.items():
        types = [e["type"] for e in events]
        assert types == [
            "session_start", "ingest", "ontology", "graph", "validation",
            "complete", "stream_complete",
        ], f"{user}: {types}"
        sid = events[0]["session_id"]
        assert sid.startswith(user + "_")
        # no cross-talk: every frame on this connection is this session's
        assert all(e["session_id"] == sid for e in events)
        sids[user] = sid
        assert (tmp_path / "sessions" / sid / "session.json").exists()
    assert sids["alice"] != sids["bob"]


def test_request_body_cap_413(spark, tmp_path):
    """Bodies over max_body_bytes are rejected 413 BEFORE the server reads
    them; right-sized requests on the same server still stream fine."""
    from case_uco_ontology_map_spark.service import serve

    srv = serve(
        spark, port=0, sessions_dir=str(tmp_path / "s"), max_body_bytes=2048
    )
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        big = json.dumps(
            {"user_identifier": "hog", "input_artifacts": "x" * 4096}
        )
        status, data = _request(srv, "POST", "/invoke-streaming", body=big)
        assert status == 413
        assert b"too large" in data

        ok = {
            "user_identifier": "small",
            "input_artifacts": {
                "records": [{"url": "https://a.example.org", "n_chars": 5}]
            },
            "class_names": ["URL"],
        }
        status, raw = _request(
            srv, "POST", "/invoke-streaming", body=json.dumps(ok)
        )
        assert status == 200
        assert _sse_events(raw)[-1]["type"] == "stream_complete"
    finally:
        srv.shutdown()
        srv.server_close()
        t.join(timeout=10)


def test_sessions_listing_and_ui(server, tmp_path):
    """Read-only status surface: /sessions lists completed session audit
    rows (and flags in-flight dirs), /ui serves the static status page."""
    status, data = _request(server, "GET", "/sessions")
    assert status == 200
    assert json.loads(data) == {"sessions": [], "in_progress": []}

    payload = {
        "user_identifier": "lister",
        "input_artifacts": {
            "records": [{"url": "https://a.example.org", "n_chars": 7}]
        },
        "class_names": ["URL"],
    }
    _, raw = _request(
        server, "POST", "/invoke-streaming", body=json.dumps(payload)
    )
    sid = _sse_events(raw)[0]["session_id"]
    # an in-flight dir (no session.json yet) is reported separately
    (tmp_path / "sessions" / "lister_inflight_x").mkdir()

    status, data = _request(server, "GET", "/sessions")
    assert status == 200
    body = json.loads(data)
    assert [s["session_id"] for s in body["sessions"]] == [sid]
    assert body["sessions"][0]["triples"] > 0
    assert body["in_progress"] == ["lister_inflight_x"]

    status, data = _request(server, "GET", "/ui")
    assert status == 200
    assert data.startswith(b"<!doctype html>")
    assert b"/sessions" in data


def test_generate_session_id_shape():
    from datetime import datetime

    from case_uco_ontology_map_spark.service import generate_session_id

    sid = generate_session_id(
        "averylonguseridentifier",
        now=datetime(2026, 8, 17, 12, 0, 0),
        unique="abcd1234",
    )
    assert sid == "averylongu_20260817_120000_abcd1234"
    assert generate_session_id(
        "", now=datetime(2026, 8, 17, 12, 0, 0), unique="x"
    ).startswith("user_")
    # filename-unsafe characters in the prefix are neutralized
    evil = generate_session_id(
        "../../x", now=datetime(2026, 8, 17, 12, 0, 0), unique="x"
    )
    assert "/" not in evil and ".." not in evil


def test_sparql_endpoint(server, spark, tmp_path):
    rows = [
        ("kb:r1", "uco-core:hasFacet", "kb:f1"),
        ("kb:f1", "rdf:type", "uco-observable:ContentDataFacet"),
        ("kb:f1", "uco-observable:hash", "abc"),
    ]
    path = str(tmp_path / "triples.parquet")
    spark.createDataFrame(
        rows, "subj string, pred string, obj string"
    ).write.parquet(path)
    q = """SELECT ?rec ?h WHERE {
      ?rec uco-core:hasFacet ?f .
      ?f uco-observable:hash ?h . }"""
    status, data = _request(
        server,
        "POST",
        "/sparql",
        body=json.dumps({"query": q, "triples_path": path}),
    )
    assert status == 200
    out = json.loads(data)
    assert out["columns"] == ["rec", "h"]
    assert out["rows"] == [["kb:r1", "abc"]]
    assert out["truncated"] is False
    # row cap → truncated flag
    status, data = _request(
        server,
        "POST",
        "/sparql",
        body=json.dumps(
            {
                "query": "SELECT * WHERE { ?s ?p ?o }",
                "triples_path": path,
                "max_rows": 2,
            }
        ),
    )
    out = json.loads(data)
    assert status == 200 and out["row_count"] == 2 and out["truncated"]
    # syntax error → 422 naming the problem
    status, data = _request(
        server,
        "POST",
        "/sparql",
        body=json.dumps(
            {
                "query": 'SELECT * WHERE { ?s ?p ?o FILTER regex(?o, "x") }',
                "triples_path": path,
            }
        ),
    )
    assert status == 422 and b"REGEX" in data
    # missing triples path (no server default) → 422
    status, _ = _request(
        server, "POST", "/sparql", body=json.dumps({"query": "ASK { ?s ?p ?o }"})
    )
    assert status == 422


def test_graph_view_and_artifact_download(server, tmp_path):
    """GET /graph renders the session's JSON-LD as an SVG node-edge view
    (the reference app.py:362-381 shows st.json + download; this is the
    same surface with an actual graph rendering); GET /artifact serves
    raw session outputs, traversal-proof."""
    payload = {
        "user_identifier": "viewer",
        "input_artifacts": {
            "records": [{"url": "https://g.example.org", "n_chars": 3}]
        },
        "class_names": ["URL"],
    }
    _, raw = _request(
        server, "POST", "/invoke-streaming", body=json.dumps(payload)
    )
    events = _sse_events(raw)
    sid = events[0]["session_id"]
    n_nodes = [e for e in events if e["type"] == "graph"][0]["data"]["nodes"]

    status, data = _request(server, "GET", f"/graph?session={sid}")
    assert status == 200
    page = data.decode("utf-8")
    assert "<svg" in page and "kb:" in page
    # every @graph node appears as a circle; hasFacet edges as lines
    assert page.count("<circle") == n_nodes
    assert page.count("<line") >= 1 and "hasFacet" in page
    assert f"/artifact?session={sid}&amp;name=graph.jsonld" in page

    status, data = _request(
        server, "GET", f"/artifact?session={sid}&name=graph.jsonld"
    )
    assert status == 200
    doc = json.loads(data)
    assert len(doc["@graph"]) == n_nodes

    # hostile inputs: bad session id, unknown session, traversal name,
    # directory artifact (triples.parquet is a dir — not servable)
    for path in (
        "/graph?session=../evil",
        "/graph?session=nope_123",
        f"/artifact?session={sid}&name=../../etc/passwd",
        f"/artifact?session={sid}&name=.hidden",
        f"/artifact?session={sid}&name=triples.parquet",
        "/graph?session=",
    ):
        status, _ = _request(server, "GET", path)
        assert status in (400, 404), path


def test_graph_view_model_and_svg_shapes():
    """Pure-function contract: reference values vs hand-built JSON-LD,
    external targets materialized, node cap note."""
    from case_uco_ontology_map_spark.service import (
        graph_svg,
        graph_view_model,
        render_graph_page,
    )

    doc = {
        "@graph": [
            {
                "@id": "kb:a",
                "@type": ["uco-observable:URL"],
                "uco-core:hasFacet": [{"@id": "kb:f1"}],
                "uco-core:name": "A",
            },
            {
                "@id": "kb:f1",
                "@type": ["uco-observable:URLFacet"],
                "uco-observable:fullValue": "https://x.test",
            },
            {
                "@id": "kb:rel",
                "@type": ["uco-core:Relationship"],
                "uco-core:source": {"@id": "kb:a"},
                "uco-core:target": {"@id": "kb:external"},
            },
        ]
    }
    nodes, edges = graph_view_model(doc)
    assert {n["id"] for n in nodes} == {"kb:a", "kb:f1", "kb:rel", "kb:external"}
    assert {(e["src"], e["dst"], e["label"]) for e in edges} == {
        ("kb:a", "kb:f1", "uco-core:hasFacet"),
        ("kb:rel", "kb:a", "uco-core:source"),
        ("kb:rel", "kb:external", "uco-core:target"),
    }
    ext = [n for n in nodes if n["id"] == "kb:external"][0]
    assert ext["types"] == [] and ext["n_literals"] == 0
    a = [n for n in nodes if n["id"] == "kb:a"][0]
    assert a["n_literals"] == 1  # uco-core:name, not the hasFacet ref

    svg = graph_svg(nodes, edges)
    assert svg.count("<circle") == 4 and svg.count("<line") == 3
    # facet nodes get the facet color
    assert "#f2b84b" in svg and "#4b7bec" in svg

    # cap: 301 synthetic nodes → truncation note, no 301st circle
    many = [
        {"id": f"kb:n{i:04d}", "label": f"n{i}", "types": [],
         "n_literals": 0}
        for i in range(301)
    ]
    svg = graph_svg(many, [])
    assert svg.count("<circle") == 300 and "showing 300 of 301" in svg

    page = render_graph_page("s_1", doc)
    assert page.startswith("<!doctype html>")
    assert "4 nodes, 3 edges" in page


def _count_parquet_reads(monkeypatch):
    """Wrap DataFrameReader.parquet and return the list its calls land in."""
    from pyspark.sql.readwriter import DataFrameReader

    calls = []
    real = DataFrameReader.parquet

    def counted(self, *paths, **kw):
        calls.append(paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counted)
    return calls


def _sparql(server, path):
    query = "SELECT ?s ?o WHERE { ?s kb:p ?o . }"
    status, data = _request(
        server,
        "POST",
        "/sparql",
        body=json.dumps({"query": query, "triples_path": path}),
    )
    return status, json.loads(data)


def _write_bucketed(spark, path, n, mode="errorifexists"):
    rows = [(f"kb:s{i}", "kb:p", f"o{i}", i % 4) for i in range(n)]
    spark.createDataFrame(
        rows, "subj string, pred string, obj string, bucket int"
    ).write.mode(mode).partitionBy("bucket").parquet(path)


def test_sparql_reads_each_table_snapshot_once(
    server, spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "triples")
    _write_bucketed(spark, path, 6)
    calls = _count_parquet_reads(monkeypatch)
    first = _sparql(server, path)
    again = _sparql(server, path)
    assert first == again and first[0] == 200
    assert sorted(first[1]["rows"]) == [[f"kb:s{i}", f"o{i}"] for i in range(6)]
    assert len(calls) == 1

    # an overwrite is a new snapshot: read again, serve the new rows
    _write_bucketed(spark, path, 3, mode="overwrite")
    status, out = _sparql(server, path)
    assert status == 200 and len(calls) == 2
    assert sorted(out["rows"]) == [[f"kb:s{i}", f"o{i}"] for i in range(3)]

    # a deleted table is Spark's PATH_NOT_FOUND, never the stale rows
    shutil.rmtree(path)
    status, out = _sparql(server, path)
    assert status == 500 and "PATH_NOT_FOUND" in out["detail"]
    assert not server.tables._tables


def test_sparql_table_map_is_bounded(server, spark, tmp_path):
    seed = str(tmp_path / "t0")
    _write_bucketed(spark, seed, 2)
    bound = server.tables.MAX_TABLES
    paths = [seed]
    for i in range(1, bound + 2):
        paths.append(str(tmp_path / f"t{i}"))
        shutil.copytree(seed, paths[-1])
    for p in paths:
        status, out = _sparql(server, p)
        assert status == 200 and out["row_count"] == 2
    assert len(server.tables._tables) == bound
