"""HTTP/SSE service surface — the reference's FastAPI app re-expressed on
the standard library.

Reference: ``routes.py:36-141`` defines ``GET /health``, ``GET /`` and
``POST /invoke-streaming`` (Server-Sent Events wrapping the session event
stream, envelope ``{"type", "session_id", "data"}`` per event, terminated
by ``stream_complete`` / ``stream_error``); ``services.py:67-72`` mints the
session id as ``{user[:10]}_{YYYYmmdd_HHMMSS}_{uuid4[:8]}``. The LLM agent
behind the reference stream is replaced by the deterministic
``plans.artifacts.analyze_payload`` pipeline; the event *sequence*
(session start → ingest → ontology mapping → graph → validation →
complete) and the SSE wire framing are preserved so a reference client can
consume this stream unchanged.

Design notes for the batch engine:
  * One long-lived SparkSession is shared across requests (the server is a
    thin control plane; all heavy lifting is Spark jobs). The handler is
    ``ThreadingHTTPServer`` so a slow analysis does not block /health —
    SparkSession is thread-safe for job submission.
  * Events stream as each pipeline stage's Spark action completes — the
    client sees progress, not a buffered dump (``wfile.flush()`` per
    event, chunked via Content-Type: text/event-stream semantics).
  * No FastAPI/pydantic/uvicorn: this container is stdlib-only, and a
    control-plane endpoint has no need for an ASGI stack.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import threading
import uuid
from collections import OrderedDict
from datetime import datetime
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any, Dict, Iterator, Optional, Sequence, Tuple

SERVICE_NAME = "case-uco-ontology-mapping-spark"


def generate_session_id(
    user_identifier: str = "user",
    now: Optional[datetime] = None,
    unique: Optional[str] = None,
) -> str:
    """Session id with the reference's shape (services.py:67-72):
    ``{user[:10]}_{YYYYmmdd_HHMMSS}_{uuid4[:8]}``. ``now``/``unique`` are
    injectable for deterministic tests (the F15 pattern — wall clock and
    uuid4 never leak into pipeline state, only into the session label)."""
    ts = (now or datetime.now()).strftime("%Y%m%d_%H%M%S")
    uid = unique if unique is not None else str(uuid.uuid4())[:8]
    # The id names an on-disk session directory: restrict the
    # caller-controlled prefix to filename-safe characters so a hostile
    # user_identifier ("../../x", "a/b") cannot traverse out of
    # sessions_dir.
    prefix = re.sub(r"[^A-Za-z0-9_-]", "_", user_identifier[:10]) or "user"
    return f"{prefix}_{ts}_{uid}"


def session_events(
    spark,
    payload: Any,
    out_dir: str,
    session_id: Optional[str] = None,
    class_names: Optional[Sequence[str]] = None,
    raw: Optional[bytes] = None,
    fmt: Optional[str] = None,
    memory: Optional[Dict[str, Any]] = None,
) -> Iterator[Dict[str, Any]]:
    """Run one analysis session, yielding progress events as each stage
    completes — the stream behind both the CLI runner
    (scripts/analyze_session.py) and ``POST /invoke-streaming``.

    Event sequence (field-for-field what run_session printed):
      session_start → ingest → ontology → graph → validation → complete
    The ``complete`` event carries the full session record under
    ``"session"`` (the audit row persisted to session.json).

    ``memory`` is the caller-owned memory state dict (the reference keeps
    it on the LangGraph State, checkpointed per session — memory.py:9-18).
    A dirty validation enters the reference's bounded retry loop
    (graph.py:117-143, MAX_VALIDATION_ATTEMPTS config.py:11): each failed
    attempt learns a failure pattern (memory.py:21-37), persists it, and
    threads the refreshed memory context into the next attempt as the
    supervisor does on every routing step (graph.py:37-39). Our generator
    is deterministic, so the "regeneration" between attempts is a no-op
    re-validation — exactly what the reference's deterministic fallback
    path produces. Pass the same dict across sessions to accumulate
    patterns the way the reference's checkpointer would.
    """
    from .plans.artifacts import analyze_payload
    from .refmap.memory import (
        MAX_VALIDATION_ATTEMPTS,
        learn_from_validation_result,
        persist_learned_memory,
        update_memory_context,
        violations_to_feedback,
    )
    from .refmap.ontology import load_dictionary
    from .validation import validate_all

    if raw is None:
        raw = (
            payload.encode("utf-8")
            if isinstance(payload, str)
            else json.dumps(payload, sort_keys=True).encode("utf-8")
        )
    input_sha = hashlib.sha256(raw).hexdigest()
    session_id = session_id or f"session-{input_sha[:16]}"
    yield {
        "event": "session_start",
        "session_id": session_id,
        "input_sha256": input_sha,
    }

    is_csv = isinstance(payload, dict) and "csv" in payload
    if is_csv:
        payload = payload["csv"]
    yield {
        "event": "ingest",
        "format": fmt or ("csv" if is_csv else "json"),
    }

    result = analyze_payload(spark, payload, class_names=class_names)
    yield {
        "event": "ontology",
        "classes": result["ontology_map"].get("classes", []),
        "facets": result["ontology_map"].get("facets", []),
    }

    os.makedirs(out_dir, exist_ok=True)
    graph_path = os.path.join(out_dir, "graph.jsonld")
    with open(graph_path, "w") as fh:
        json.dump(result["graph"], fh, indent=2, sort_keys=True)
    triples_path = os.path.join(out_dir, "triples.parquet")
    result["triples"].write.mode("overwrite").parquet(triples_path)
    if result["ttl"]:
        with open(os.path.join(out_dir, "extension_facets.ttl"), "w") as fh:
            fh.write(result["ttl"])
    n_triples = spark.read.parquet(triples_path).count()
    n_nodes = len(result["graph"]["@graph"])
    yield {
        "event": "graph",
        "nodes": n_nodes,
        "triples": n_triples,
        "path": graph_path,
    }

    from .validation import is_conformant

    memory_state = memory if memory is not None else {}
    dictionary = load_dictionary()
    attempt = 0
    while True:
        attempt += 1
        violations = validate_all(
            spark.read.parquet(triples_path),
            result["ontology_map"],
            dictionary,
        )
        clean = is_conformant(violations)
        yield {
            "event": "validation",
            "is_clean": clean,
            "violations": violations,
            "attempt": attempt,
        }
        if clean or attempt >= MAX_VALIDATION_ATTEMPTS:
            break
        # graph.py:117-143 — dirty + attempts left → learn, refresh the
        # memory context, and route back to the generator (deterministic
        # here, so the retry is a re-validation of the regenerated graph).
        learn_from_validation_result(
            memory_state,
            {
                "is_clean": False,
                "violations": violations_to_feedback(violations),
            },
        )
        persist_learned_memory(memory_state)
        memory_state["memory_context"] = update_memory_context(memory_state)
        yield {
            "event": "memory",
            "context": memory_state["memory_context"],
            "attempt": attempt,
        }

    session = {
        "session_id": session_id,
        "input_sha256": input_sha,
        "records": result["records"].count(),
        "nodes": n_nodes,
        "triples": n_triples,
        "violations": violations,
        "validation_attempts": attempt,
        "memory_context": memory_state.get("memory_context", ""),
        "outputs": sorted(set(os.listdir(out_dir)) | {"session.json"}),
    }
    with open(os.path.join(out_dir, "session.json"), "w") as fh:
        json.dump(session, fh, indent=2, sort_keys=True)
    yield {
        "event": "complete",
        "session_id": session_id,
        "out_dir": out_dir,
        "session": session,
    }


def _sse(obj: Dict[str, Any]) -> bytes:
    """One Server-Sent Event frame, the reference's exact framing
    (routes.py:101: ``data: {json}\\n\\n``)."""
    return f"data: {json.dumps(obj)}\n\n".encode("utf-8")


def _envelope(event: Dict[str, Any], session_id: str) -> Dict[str, Any]:
    """routes.py:88-99 — {"type", "session_id", "data"} with the session id
    removed from data to avoid duplication."""
    data = {k: v for k, v in event.items() if k not in ("event", "session_id")}
    return {"type": event["event"], "session_id": session_id, "data": data}


def build_payload(body: Dict[str, Any]) -> Tuple[Any, str]:
    """AnalysisInput → (pipeline payload, sniffed format) (routes.py:19-26,
    70-78): pass JSON artifacts through; wrap a CSV string with the
    optional artifact_type / description / source metadata. The format is
    returned so the ingest event reports what actually arrived — a
    metadata-wrapped CSV still streams as "csv"."""
    artifacts = body.get("input_artifacts")
    meta = {
        k: body[k]
        for k in ("artifact_type", "description", "source")
        if body.get(k)
    }
    if isinstance(artifacts, str):
        from .sources.ingest import sniff_payload, wrap_csv_rows

        fmt, parsed = sniff_payload(artifacts)
        if fmt == "csv" and meta:
            return wrap_csv_rows(parsed, **meta), "csv"
        return artifacts, fmt
    return artifacts, "json"


# Reference app.py is a Streamlit browser UI (467 LoC of widget code over
# the same /invoke-streaming stream). The batch engine's supported surface
# is the HTTP/SSE API; this read-only status page is its UI equivalent:
# sessions land on disk as they complete, /sessions lists them, and the
# page polls it. No framework — the page is static and the data is JSON.
_UI_HTML = """<!doctype html>
<html lang="en"><head><meta charset="utf-8">
<title>CASE/UCO KG construction — sessions</title>
<style>
 body{font-family:system-ui,sans-serif;margin:2rem;color:#222}
 table{border-collapse:collapse;width:100%}
 th,td{border:1px solid #ccc;padding:.4rem .6rem;text-align:left;
       font-size:.9rem}
 th{background:#f2f2f2}
 .clean{color:#0a7a0a}.dirty{color:#b00020}
 #meta{color:#666;font-size:.85rem;margin-bottom:1rem}
</style></head><body>
<h1>KG construction sessions</h1>
<div id="meta">read-only status over <code>GET /sessions</code>;
refreshes every 5s</div>
<table id="t"><thead><tr>
 <th>session</th><th>records</th><th>nodes</th><th>triples</th>
 <th>validation</th><th>attempts</th><th>outputs</th>
</tr></thead><tbody></tbody></table>
<script>
async function refresh(){
  const r = await fetch('/sessions'); const body = await r.json();
  const tb = document.querySelector('#t tbody'); tb.innerHTML = '';
  for (const s of body.sessions){
    const tr = document.createElement('tr');
    const clean = (s.violations||[]).length === 0;
    tr.innerHTML = `<td><a href="/graph?session=${s.session_id}">${s.session_id}</a></td><td>${s.records}</td>
      <td>${s.nodes}</td><td>${s.triples}</td>
      <td class="${clean?'clean':'dirty'}">${clean?'clean':'violations'}</td>
      <td>${s.validation_attempts||1}</td>
      <td>${(s.outputs||[]).join(', ')}</td>`;
    tb.appendChild(tr);
  }
  document.querySelector('#meta').textContent =
    `${body.sessions.length} session(s) — ` + new Date().toLocaleString();
}
refresh(); setInterval(refresh, 5000);
</script></body></html>"""


def _local_name(iri: str) -> str:
    """Display label: the segment after the last '/', '#' or ':'."""
    parts = re.split(r"[/#:]", iri)
    return parts[-1] or iri


def graph_view_model(
    graph_doc: Dict[str, Any],
) -> Tuple[list, list]:
    """JSON-LD ``@graph`` → (nodes, edges) for the graph view. A node
    per ``@graph`` entry; an edge per ``{"@id": ...}`` object value
    (including inside lists) — the same reference-vs-literal distinction
    the triple emitter uses. Targets not in the document (external IRIs)
    appear as label-only nodes so no edge dangles."""
    nodes, edges, seen = [], [], set()
    for entry in graph_doc.get("@graph", []):
        nid = entry.get("@id")
        if not isinstance(nid, str):
            continue
        types = entry.get("@type", [])
        if isinstance(types, str):
            types = [types]
        n_lit = 0
        for key in sorted(k for k in entry if not k.startswith("@")):
            vals = entry[key]
            if not isinstance(vals, list):
                vals = [vals]
            for item in vals:
                if isinstance(item, dict) and set(item) == {"@id"}:
                    edges.append(
                        {"src": nid, "dst": item["@id"], "label": key}
                    )
                else:
                    n_lit += 1
        nodes.append(
            {
                "id": nid,
                "label": _local_name(nid),
                "types": types,
                "n_literals": n_lit,
            }
        )
        seen.add(nid)
    for e in edges:
        if e["dst"] not in seen:
            seen.add(e["dst"])
            nodes.append(
                {
                    "id": e["dst"],
                    "label": _local_name(e["dst"]),
                    "types": [],
                    "n_literals": 0,
                }
            )
    return nodes, edges


_SVG_NODE_CAP = 300


def graph_svg(nodes: list, edges: list, size: int = 720) -> str:
    """Deterministic circular-layout SVG (no JS, no external libs):
    nodes sorted by id on a circle, straight edges with the predicate's
    local name as a hover <title>. Documents over _SVG_NODE_CAP nodes
    render the first cap by sorted id with a visible truncation note —
    the session graphs this serves are small; huge graphs belong in the
    SPARQL endpoint, not a picture."""
    import html as _h
    import math

    ordered = sorted(nodes, key=lambda n: n["id"])[:_SVG_NODE_CAP]
    idx = {n["id"]: i for i, n in enumerate(ordered)}
    n = max(len(ordered), 1)
    c = size / 2.0
    r = c - 80
    pos = {
        node["id"]: (
            c + r * math.cos(2 * math.pi * i / n - math.pi / 2),
            c + r * math.sin(2 * math.pi * i / n - math.pi / 2),
        )
        for i, node in enumerate(ordered)
    }
    out = [
        f'<svg xmlns="http://www.w3.org/2000/svg" viewBox="0 0 {size} '
        f'{size}" width="{size}" height="{size}">'
    ]
    for e in edges:
        if e["src"] not in idx or e["dst"] not in idx:
            continue
        x1, y1 = pos[e["src"]]
        x2, y2 = pos[e["dst"]]
        out.append(
            f'<line x1="{x1:.1f}" y1="{y1:.1f}" x2="{x2:.1f}" '
            f'y2="{y2:.1f}" stroke="#9aa7b5" stroke-width="1">'
            f"<title>{_h.escape(_local_name(e['label']))}</title></line>"
        )
    for node in ordered:
        x, y = pos[node["id"]]
        facet = any("Facet" in t for t in node["types"])
        fill = "#f2b84b" if facet else "#4b7bec"
        label = _h.escape(node["label"][:28])
        tip = _h.escape(
            node["id"] + " a " + ", ".join(node["types"] or ["(external)"])
        )
        out.append(
            f'<circle cx="{x:.1f}" cy="{y:.1f}" r="7" fill="{fill}">'
            f"<title>{tip}</title></circle>"
            f'<text x="{x:.1f}" y="{y - 11:.1f}" text-anchor="middle" '
            f'font-size="9" fill="#333">{label}</text>'
        )
    if len(nodes) > _SVG_NODE_CAP:
        out.append(
            f'<text x="{c:.1f}" y="{size - 8}" text-anchor="middle" '
            f'font-size="12" fill="#b00020">showing {_SVG_NODE_CAP} of '
            f"{len(nodes)} nodes</text>"
        )
    out.append("</svg>")
    return "".join(out)


def render_graph_page(session_id: str, graph_doc: Dict[str, Any]) -> str:
    """Server-rendered graph view for one session — the interactive
    counterpart of the reference Streamlit result pane (app.py:362-381:
    st.json of the final graph + download button), upgraded with an
    actual node-edge rendering. Pure HTML+SVG, zero client JS deps."""
    import html as _h

    nodes, edges = graph_view_model(graph_doc)
    rows = "".join(
        "<tr><td><code>{i}</code></td><td>{t}</td><td>{e}</td>"
        "<td>{l}</td></tr>".format(
            i=_h.escape(n["id"]),
            t=_h.escape(", ".join(_local_name(t) for t in n["types"])
                        or "(external)"),
            e=sum(1 for e in edges if e["src"] == n["id"]),
            l=n["n_literals"],
        )
        for n in sorted(nodes, key=lambda n: n["id"])
    )
    doc_json = _h.escape(json.dumps(graph_doc, indent=2, sort_keys=True))
    sid = _h.escape(session_id)
    return f"""<!doctype html>
<html lang="en"><head><meta charset="utf-8">
<title>graph — {sid}</title>
<style>
 body{{font-family:system-ui,sans-serif;margin:2rem;color:#222}}
 table{{border-collapse:collapse}}
 th,td{{border:1px solid #ccc;padding:.3rem .5rem;font-size:.85rem}}
 th{{background:#f2f2f2}}
 svg{{border:1px solid #ddd;background:#fff}}
 details pre{{background:#f7f7f7;padding:1rem;overflow:auto}}
</style></head><body>
<h1>Knowledge graph — {sid}</h1>
<p>{len(nodes)} nodes, {len(edges)} edges —
<a href="/artifact?session={sid}&amp;name=graph.jsonld">download
graph.jsonld</a> · <a href="/ui">all sessions</a></p>
{graph_svg(nodes, edges)}
<h2>Nodes</h2>
<table><thead><tr><th>@id</th><th>@type</th><th>out-edges</th>
<th>literals</th></tr></thead><tbody>{rows}</tbody></table>
<details><summary>raw JSON-LD</summary><pre>{doc_json}</pre></details>
</body></html>"""


_SESSION_ID_RE = re.compile(r"^[A-Za-z0-9_-]+$")
_ARTIFACT_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]*$")


def list_sessions(sessions_dir: str) -> Dict[str, Any]:
    """Read-only session census: every completed session directory's
    session.json audit row, newest name last (ids embed the timestamp, so
    lexicographic order is chronological per user). Directories without a
    session.json (in-flight or failed before the complete event) are
    reported by id only under "in_progress"."""
    sessions, in_progress = [], []
    try:
        names = sorted(os.listdir(sessions_dir))
    except OSError:
        names = []
    for name in names:
        path = os.path.join(sessions_dir, name, "session.json")
        try:
            with open(path) as fh:
                sessions.append(json.load(fh))
        except OSError:
            if os.path.isdir(os.path.join(sessions_dir, name)):
                in_progress.append(name)
        except json.JSONDecodeError:
            in_progress.append(name)
    return {"sessions": sessions, "in_progress": in_progress}


class TableResolver:
    """Path → parquet ``DataFrame``, read once per table snapshot.

    ``spark.read.parquet`` lists every file under the table and infers
    its schema: two Spark jobs (a parallel listing job once the table has
    more than 32 partition directories) before a query's own jobs run.
    The resolver keeps the resolved relation (file index plus schema) per
    path and reuses it while the snapshot token is unchanged. The token
    is one Hadoop ``FileSystem.listStatus`` of the table root — name,
    modification time and length of each entry — so it works the same on
    ``file:``, ``hdfs:`` and ``s3a:`` paths. A Spark commit rewrites
    ``_SUCCESS``, an overwrite recreates every partition directory, and
    adding or removing a file inside a partition directory changes that
    directory's modification time; each changes the token.

    Depth limit: the token reads only the root, so a non-Spark edit two
    partition levels deep (``a=1/b=2/part-*``) is not seen until something
    at the root changes.

    Only plans are held (no ``cache()``/``persist``, so no blocks), for at
    most ``MAX_TABLES`` paths, the oldest resolved first out. When the
    listing fails (say, a missing path), the resolver falls through to a
    plain read, which raises Spark's own error, and caches nothing. Safe
    to call from concurrent handler threads."""

    MAX_TABLES = 8

    def __init__(self, spark):
        self._spark = spark
        self._lock = threading.Lock()
        self._tables: "OrderedDict[str, Tuple[list, Any]]" = OrderedDict()

    def _snapshot(self, path: str) -> list:
        sc = self._spark.sparkContext
        root = sc._jvm.org.apache.hadoop.fs.Path(path)
        fs = root.getFileSystem(sc._jsc.hadoopConfiguration())
        return sorted(
            (st.getPath().getName(), st.getModificationTime(), st.getLen())
            for st in fs.listStatus(root)
        )

    def __call__(self, path: str):
        try:
            token = self._snapshot(path)
        except Exception:  # noqa: BLE001 — let the read raise Spark's error
            with self._lock:
                self._tables.pop(path, None)
            return self._spark.read.parquet(path)
        with self._lock:
            hit = self._tables.get(path)
        if hit is not None and hit[0] == token:
            return hit[1]
        df = self._spark.read.parquet(path)
        with self._lock:
            self._tables.pop(path, None)
            self._tables[path] = (token, df)
            while len(self._tables) > self.MAX_TABLES:
                self._tables.popitem(last=False)
        return df


class _Handler(BaseHTTPRequestHandler):
    """Routes mirror the reference app: GET /health, GET /,
    POST /invoke-streaming — plus the read-only status surface
    (GET /sessions, GET /ui) standing in for the reference's Streamlit
    front end (app.py)."""

    protocol_version = "HTTP/1.1"

    # Silence per-request stderr logging (tests and bench runs).
    def log_message(self, fmt: str, *args: Any) -> None:
        pass

    def _json(self, code: int, obj: Dict[str, Any]) -> None:
        body = json.dumps(obj).encode("utf-8")
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self) -> None:  # noqa: N802 (http.server API)
        if self.path == "/health":
            self._json(
                200,
                {
                    "status": "healthy",
                    "message": "KG construction API is running",
                    "service": SERVICE_NAME,
                },
            )
        elif self.path == "/":
            self._json(
                200,
                {
                    "message": "CASE/UCO Ontology Mapping Spark API",
                    "version": "1.0.0",
                    "endpoints": {
                        "health": "/health",
                        "streaming_analysis": "/invoke-streaming",
                    },
                },
            )
        elif self.path == "/sessions":
            self._json(200, list_sessions(self.server.sessions_dir))
        elif self.path == "/ui":
            body = _UI_HTML.encode("utf-8")
            self.send_response(200)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        elif self.path.startswith("/graph?") or self.path.startswith(
            "/artifact?"
        ):
            self._do_session_artifact()
        else:
            self._json(404, {"detail": "Not Found"})

    def _do_session_artifact(self) -> None:
        """GET /graph?session=<id> (server-rendered graph view) and
        GET /artifact?session=<id>&name=<file> (raw session output).
        Both ids are whitelist-validated (no separators, no dot-prefix)
        and resolved strictly inside sessions_dir — the same traversal
        posture as session-id minting."""
        from urllib.parse import parse_qs, urlsplit

        parts = urlsplit(self.path)
        qs = parse_qs(parts.query)
        sid = (qs.get("session") or [""])[0]
        if not _SESSION_ID_RE.match(sid):
            self._json(400, {"detail": "bad or missing session id"})
            return
        sdir = os.path.join(self.server.sessions_dir, sid)
        if not os.path.isdir(sdir):
            self._json(404, {"detail": "unknown session"})
            return
        if parts.path == "/graph":
            try:
                with open(os.path.join(sdir, "graph.jsonld")) as fh:
                    graph_doc = json.load(fh)
            except (OSError, json.JSONDecodeError):
                self._json(404, {"detail": "session has no graph"})
                return
            body = render_graph_page(sid, graph_doc).encode("utf-8")
            self.send_response(200)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return
        name = (qs.get("name") or [""])[0]
        path = os.path.join(sdir, name)
        if not _ARTIFACT_RE.match(name) or not os.path.isfile(path):
            self._json(404, {"detail": "unknown artifact"})
            return
        with open(path, "rb") as fh:
            data = fh.read()
        ctype = (
            "application/ld+json"
            if name.endswith(".jsonld")
            else "application/json"
            if name.endswith(".json")
            else "text/plain; charset=utf-8"
        )
        self.send_response(200)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def do_POST(self) -> None:  # noqa: N802
        if self.path == "/sparql":
            self._do_sparql()
            return
        if self.path != "/invoke-streaming":
            self._json(404, {"detail": "Not Found"})
            return
        try:
            length = int(self.headers.get("Content-Length", "0"))
        except ValueError:
            self.close_connection = True
            self._json(422, {"detail": "invalid Content-Length"})
            return
        # Bound the request body BEFORE reading it: an unbounded
        # rfile.read(Content-Length) lets one request allocate arbitrary
        # driver memory. FastAPI deployments put this limit at the ASGI
        # server; stdlib puts it here. 413 = Payload Too Large.
        if length > self.server.max_body_bytes:
            # the unread body is still on the socket — drop the connection
            # so keep-alive reuse can't misparse it as the next request
            self.close_connection = True
            self._json(
                413,
                {
                    "detail": "request body too large: "
                    f"{length} > {self.server.max_body_bytes} bytes"
                },
            )
            return
        try:
            raw = self.rfile.read(length)
            body = json.loads(raw)
            if not isinstance(body, dict) or body.get("input_artifacts") is None:
                raise ValueError("input_artifacts is required")
        except (ValueError, json.JSONDecodeError) as exc:
            # Malformed request → 4xx before any stream starts
            # (FastAPI/pydantic's 422 role).
            self._json(422, {"detail": f"invalid request body: {exc}"})
            return

        session_id = generate_session_id(
            str(body.get("user_identifier") or "user")
        )
        out_dir = os.path.join(self.server.sessions_dir, session_id)

        self.send_response(200)
        self.send_header("Content-Type", "text/event-stream")
        self.send_header("Cache-Control", "no-cache")
        self.send_header("Access-Control-Allow-Origin", "*")
        # SSE is open-ended: signal end-of-stream by closing the connection
        # (no Content-Length), exactly like StreamingResponse.
        self.send_header("Connection", "close")
        self.end_headers()
        try:
            payload, fmt = build_payload(body)
            events = session_events(
                self.server.spark,
                payload,
                out_dir,
                session_id=session_id,
                class_names=body.get("class_names"),
                raw=raw,
                fmt=fmt,
            )
            for event in events:
                self.wfile.write(_sse(_envelope(event, session_id)))
                self.wfile.flush()
            self.wfile.write(
                _sse({"type": "stream_complete", "session_id": session_id})
            )
        except Exception as exc:  # stream already started → in-band error
            self.wfile.write(
                _sse(
                    {
                        "type": "stream_error",
                        "session_id": session_id,
                        "error": str(exc),
                    }
                )
            )
        self.wfile.flush()
        self.close_connection = True

    def _do_sparql(self) -> None:
        """POST /sparql — run a SPARQL text query (operators/sparql.py
        subset) against a triple parquet table and return JSON bindings.
        Body: ``{"query": "...", "triples_path": "...", "max_rows": N}``
        (``triples_path`` may be preconfigured server-side). Results are
        capped at ``max_rows`` (default 1000, server-bounded) with a
        ``truncated`` flag — a query surface must never collect an
        unbounded binding frame onto the driver."""
        try:
            length = int(self.headers.get("Content-Length", "0"))
        except ValueError:
            self.close_connection = True
            self._json(422, {"detail": "invalid Content-Length"})
            return
        if length > self.server.max_body_bytes:
            self.close_connection = True
            self._json(413, {"detail": "request body too large"})
            return
        try:
            body = json.loads(self.rfile.read(length))
            if not isinstance(body, dict) or not body.get("query"):
                raise ValueError("query is required")
        except (ValueError, json.JSONDecodeError) as exc:
            self._json(422, {"detail": f"invalid request body: {exc}"})
            return
        path = body.get("triples_path") or self.server.triples_path
        if not path:
            self._json(
                422,
                {"detail": "triples_path is required (no server default)"},
            )
            return
        cap = min(
            int(body.get("max_rows") or 1000), self.server.max_query_rows
        )
        try:
            from .operators.sparql import SparqlSyntaxError, sparql_query

            try:
                df = sparql_query(self.server.tables(path), body["query"])
            except SparqlSyntaxError as exc:
                self._json(422, {"detail": f"SPARQL syntax: {exc}"})
                return
            rows = df.limit(cap + 1).collect()
            truncated = len(rows) > cap
            rows = rows[:cap]
            self._json(
                200,
                {
                    "columns": df.columns,
                    "rows": [list(r) for r in rows],
                    "row_count": len(rows),
                    "truncated": truncated,
                },
            )
        except Exception as exc:  # noqa: BLE001 — surface as 500 JSON
            self._json(500, {"detail": str(exc)})


def serve(
    spark,
    host: str = "127.0.0.1",
    port: int = 0,
    sessions_dir: Optional[str] = None,
    max_body_bytes: int = 10 * 1024 * 1024,
    triples_path: Optional[str] = None,
    max_query_rows: int = 10000,
) -> ThreadingHTTPServer:
    """Bind the service and return the (not yet serving) server. Callers run
    ``server.serve_forever()`` — tests in a daemon thread, the CLI script in
    the main thread. ``port=0`` binds an ephemeral port
    (``server.server_address[1]``). Requests with bodies over
    ``max_body_bytes`` are rejected 413 before the body is read.
    ``triples_path``: default parquet table for POST /sparql;
    ``max_query_rows`` bounds what /sparql will collect to the driver;
    /sparql reads each table once per snapshot (``TableResolver``)."""
    server = ThreadingHTTPServer((host, port), _Handler)
    server.spark = spark
    server.sessions_dir = sessions_dir or os.path.join(
        os.getcwd(), "sessions"
    )
    server.max_body_bytes = max_body_bytes
    server.triples_path = triples_path
    server.max_query_rows = max_query_rows
    server.tables = TableResolver(spark)
    return server
