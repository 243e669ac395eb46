"""WARC ingestion: spec-shaped synthetic archives (no external data)
round-tripped through the distributed reader, gzip-member handling,
HTTP-envelope stripping, strict-mode errors, and the hand-off into the
byte-exact HTML extraction pipeline."""

import gzip

import pytest

from case_uco_ontology_map_spark.refmap.extract import (
    extract_text,
    render_html,
)
from case_uco_ontology_map_spark.sources.warc import (
    read_warc,
    read_warc_documents,
    split_http_payload,
    warc_record_bytes,
)


def http_response_bytes(
    body: bytes,
    status: int = 200,
    content_type: str = "text/html; charset=utf-8",
) -> bytes:
    """An HTTP/1.1 response envelope around ``body`` — what a crawl's
    ``response`` record payload looks like on the wire."""
    head = (
        f"HTTP/1.1 {status} OK\r\n"
        f"Content-Type: {content_type}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode()
    return head + body


def _warc_documents_reference(spark, path):
    """Driver-side reference for ``read_warc_documents``: ``read_warc``'s
    response records that carry a url, HTTP envelope stripped, body
    decoded UTF-8 with replacement (the decode rule of refmap/extract.py),
    as sorted ``(url, fetched_at, status, content_type, html)`` tuples."""
    out = []
    for r in read_warc(spark, path).collect():
        if r.warc_type != "response" or r.url is None:
            continue
        status, ctype, body = split_http_payload(bytes(r.payload))
        out.append((
            r.url,
            r.warc_date,
            status,
            ctype,
            body.decode("utf-8", errors="replace"),
        ))
    return sorted(out)


def _archive_bytes():
    """warcinfo + request + two responses (one HTML, one plain)."""
    html = render_html("Hello WARC world\nSecond paragraph", title="t")
    recs = [
        warc_record_bytes(
            "warcinfo", b"software: test\r\n", "rec-0",
            content_type="application/warc-fields",
        ),
        warc_record_bytes(
            "request", b"GET / HTTP/1.1\r\n\r\n", "rec-1",
            url="http://example.test/a",
        ),
        warc_record_bytes(
            "response", http_response_bytes(html), "rec-2",
            url="http://example.test/a",
            content_type="application/http; msgtype=response",
        ),
        warc_record_bytes(
            "response",
            http_response_bytes(
                b"plain body", content_type="text/plain"
            ),
            "rec-3",
            url="http://example.test/b",
            content_type="application/http; msgtype=response",
        ),
    ]
    return recs, html


def test_read_warc_roundtrip(spark, tmp_path):
    recs, html = _archive_bytes()
    p = tmp_path / "x.warc"
    p.write_bytes(b"".join(recs))
    got = read_warc(spark, str(p)).collect()
    assert [r.warc_type for r in sorted(got, key=lambda r: r.record_offset)] \
        == ["warcinfo", "request", "response", "response"]
    by_id = {r.record_id: r for r in got}
    assert set(by_id) == {"rec-0", "rec-1", "rec-2", "rec-3"}
    r2 = by_id["rec-2"]
    # Content-Length-driven payload is byte-exact, envelope included
    assert bytes(r2.payload) == http_response_bytes(html)
    assert r2.url == "http://example.test/a"
    assert r2.content_length == len(http_response_bytes(html))
    assert by_id["rec-0"].url is None


def test_read_warc_gzip_members(spark, tmp_path):
    """Common Crawl layout: one gzip member per record, concatenated."""
    recs, _ = _archive_bytes()
    p = tmp_path / "x.warc.gz"
    p.write_bytes(b"".join(gzip.compress(r) for r in recs))
    plain = tmp_path / "x.warc"
    plain.write_bytes(b"".join(recs))
    a = sorted(
        map(tuple, read_warc(spark, str(p)).drop("src_file").collect())
    )
    b = sorted(
        map(tuple, read_warc(spark, str(plain)).drop("src_file").collect())
    )
    assert a == b and len(a) == 4


def test_payload_containing_warc_marker(spark, tmp_path):
    """Content-Length delimiting: a body that embeds 'WARC/1.0' must not
    split the record (boundary sniffing would)."""
    body = b"look: WARC/1.0\r\n\r\n is just text"
    rec = warc_record_bytes("resource", body, "rec-x",
                            url="http://example.test/r")
    p = tmp_path / "m.warc"
    p.write_bytes(rec)
    got = read_warc(spark, str(p)).collect()
    assert len(got) == 1 and bytes(got[0].payload) == body


def test_strict_errors_and_lenient_skip(spark, tmp_path):
    recs, _ = _archive_bytes()
    truncated = b"".join(recs)[:-40]  # cut into the last payload
    p = tmp_path / "bad.warc"
    p.write_bytes(truncated)
    with pytest.raises(Exception, match="truncated"):
        read_warc(spark, str(p)).collect()
    got = read_warc(spark, str(p), strict=False).collect()
    assert len(got) == 3  # the complete records survive, the tail skips

    q = tmp_path / "nolen.warc"
    q.write_bytes(b"WARC/1.0\r\nWARC-Type: resource\r\n\r\nxx\r\n\r\n")
    with pytest.raises(Exception, match="Content-Length"):
        read_warc(spark, str(q)).collect()


def test_warc_to_documents_and_extract_parity(spark, tmp_path):
    recs, html = _archive_bytes()
    p = tmp_path / "x.warc"
    p.write_bytes(b"".join(recs))
    docs = read_warc_documents(spark, str(p)).collect()
    # responses only — warcinfo/request never reach the document frame
    assert {r.url for r in docs} == {
        "http://example.test/a", "http://example.test/b"
    }
    by_url = {r.url: r for r in docs}
    a = by_url["http://example.test/a"]
    assert a.status == 200
    assert a.content_type == "text/html; charset=utf-8"
    # envelope stripped: the body is the rendered page, byte-decoded the
    # same way the extraction pipeline decodes — extractor parity holds
    assert a.html == html.decode("utf-8")
    assert extract_text(a.html) == extract_text(html)
    assert "Hello WARC world" in extract_text(a.html)
    assert by_url["http://example.test/b"].html == "plain body"


def test_write_warc_roundtrip(spark, tmp_path):
    """Export → import identity: the re-read record set equals the
    original (payload bytes included), across a repartition."""
    from case_uco_ontology_map_spark.sources.warc import write_warc

    recs, _ = _archive_bytes()
    src = tmp_path / "in.warc"
    src.write_bytes(b"".join(recs))
    original = read_warc(spark, str(src))
    out = tmp_path / "out"
    n_files = write_warc(original.repartition(3), str(out))
    assert 1 <= n_files <= 3
    reread = read_warc(spark, str(out / "*.warc.gz"))
    key = ["record_id", "warc_type", "url", "warc_date", "content_type",
           "payload"]
    a = sorted(map(tuple, original.select(*key).collect()))
    b = sorted(map(tuple, reread.select(*key).collect()))
    assert a == b


def test_documents_to_warc_end_to_end(spark, tmp_path, sf_dir):
    """web corpus → JVM-side response records → write_warc →
    read_warc_documents recovers every url with the exact html body."""
    from case_uco_ontology_map_spark.sources.corpus import web_corpus
    from case_uco_ontology_map_spark.sources.warc import (
        documents_to_warc,
        write_warc,
    )

    docs = (
        web_corpus(spark, sf_dir)
        .select("url", "html")
        .orderBy("url")
        .limit(20)
        .cache()
    )
    rec_frame = documents_to_warc(docs)
    out = tmp_path / "export"
    write_warc(rec_frame, str(out))
    back = read_warc_documents(spark, str(out / "*.warc.gz"))
    # the corpus html column is binary (byte-exact extraction contract);
    # read_warc_documents lands it as the same UTF-8 decode
    want = {
        (r.url, bytes(r.html).decode("utf-8")) for r in docs.collect()
    }
    got = {(r.url, r.html) for r in back.select("url", "html").collect()}
    assert got == want
    st = back.select("status", "content_type").distinct().collect()
    assert [(r.status, r.content_type) for r in st] == [
        (200, "text/html; charset=utf-8")
    ]


def test_cdx_index(spark, tmp_path):
    """urlkey SURT form, hex sha1 digest, and seek fields — checked
    against hand-built values (hashlib for the digest)."""
    import hashlib

    from case_uco_ontology_map_spark.sources.warc import cdx_index

    recs, _ = _archive_bytes()
    p = tmp_path / "x.warc"
    p.write_bytes(b"".join(recs))
    warc = read_warc(spark, str(p))
    rows = cdx_index(warc).collect()
    # warcinfo has no url: excluded; the request + both responses index
    assert {(r.url, r.warc_type) for r in rows} == {
        ("http://example.test/a", "request"),
        ("http://example.test/a", "response"),
        ("http://example.test/b", "response"),
    }
    a = next(
        r for r in rows
        if r.url == "http://example.test/a" and r.warc_type == "response"
    )
    assert a.urlkey == "test,example)/a"
    assert a.filename.endswith("x.warc")
    # digest = sha1 of the stored payload bytes, hand-computed
    want_digest = hashlib.sha1(
        http_response_bytes(_archive_bytes()[1])
    ).hexdigest()
    assert a.digest_sha1 == want_digest
    # offset + length let a reader slice the payload out of the file
    raw = p.read_bytes()
    head_end = raw.find(b"\r\n\r\n", a.offset)
    assert raw[head_end + 4:head_end + 4 + a.length] == \
        http_response_bytes(_archive_bytes()[1])
    # bare-host url: path defaults to /
    rec = warc_record_bytes("resource", b"x", "r",
                            url="https://Example.ORG")
    q = tmp_path / "bare.warc"
    q.write_bytes(rec)
    bare = cdx_index(read_warc(spark, str(q))).collect()[0]
    assert bare.urlkey == "org,example)/"


def test_split_http_payload_edge_cases():
    # no envelope: body passes through
    assert split_http_payload(b"raw") == (None, None, b"raw")
    # unparseable status line: body still recovered
    s, c, b = split_http_payload(b"HTTP/1.1\r\nContent-Type: t/x\r\n\r\nB")
    assert (s, c, b) == (None, "t/x", b"B")


def test_cdx_delta_statuses(spark):
    from case_uco_ontology_map_spark.sources.warc import cdx_delta

    prior = spark.createDataFrame(
        [("A", "d1"), ("A", "d2"), ("B", "d3")],
        "urlkey string, digest_sha1 string",
    )
    current = spark.createDataFrame(
        [("A", "d1"), ("A", "d9"), ("B", "d3"), ("C", "d4")],
        "urlkey string, digest_sha1 string",
    )
    got = {
        (r.urlkey, r.digest_sha1): r.status
        for r in cdx_delta(current, prior).collect()
    }
    assert got == {
        ("A", "d1"): "unchanged",  # digest in prior's set for A
        ("A", "d9"): "changed",  # A known, content differs
        ("B", "d3"): "unchanged",
        ("C", "d4"): "new",  # urlkey never crawled
    }


def test_read_warc_documents_fused_equals_two_stage(spark, tmp_path):
    """The fused single-crossing reader must equal the record-level
    reference over read_warc row-for-row — including the chunk boundary
    path (chunk_records=2)."""
    recs, _ = _archive_bytes()
    # two files, one gzipped per-member, one plain
    (tmp_path / "a.warc").write_bytes(b"".join(recs))
    (tmp_path / "b.warc.gz").write_bytes(
        b"".join(gzip.compress(r, mtime=0) for r in recs)
    )
    fused = read_warc_documents(
        spark, str(tmp_path / "*.warc*"), chunk_records=2
    )
    rows = sorted(
        (r.url, r.fetched_at, r.status, r.content_type, r.html)
        for r in fused.collect()
    )
    assert rows == _warc_documents_reference(spark, str(tmp_path / "*.warc*"))
    assert len(rows) == 4  # 2 responses per file; others filtered


def test_redirect_edges_from_archive(spark, tmp_path):
    from case_uco_ontology_map_spark.sources.warc import redirect_edges

    redirect = (
        b"HTTP/1.1 301 Moved Permanently\r\n"
        b"Location: /new/home\r\n"
        b"Content-Length: 0\r\n\r\n"
    )
    absolute = (
        b"HTTP/1.1 302 Found\r\n"
        b"Location: https://other.test/x\r\n\r\n"
    )
    ok = http_response_bytes(b"fine")
    recs = [
        warc_record_bytes("response", redirect, "r1",
                          url="http://a.test/old"),
        warc_record_bytes("response", absolute, "r2",
                          url="http://a.test/two"),
        warc_record_bytes("response", ok, "r3", url="http://a.test/ok"),
    ]
    p = tmp_path / "r.warc"
    p.write_bytes(b"".join(recs))
    got = sorted(
        (r.src, r.dst, r.status)
        for r in redirect_edges(read_warc(spark, str(p))).collect()
    )
    assert got == [
        ("http://a.test/old", "http://a.test/new/home", 301),
        ("http://a.test/two", "https://other.test/x", 302),
    ]


def test_resolve_redirects_chain_cycle_bound(spark):
    from case_uco_ontology_map_spark.sources.warc import resolve_redirects

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"), ("c", "d"),  # chain to terminal d
            ("x", "y"), ("y", "x"),  # 2-cycle — never resolves
            # 9-hop chain, over the max_hops=8 bound
            *[(f"l{i}", f"l{i+1}") for i in range(9)],
        ],
        "src string, dst string",
    )
    got = {
        r.src: (r.final_dst, r.hops, r.resolved)
        for r in resolve_redirects(edges, max_hops=8).collect()
    }
    assert got["a"] == ("d", 3, True)
    assert got["b"] == ("d", 2, True)
    assert got["x"][2] is False and got["x"][1] == 8  # cycle hits bound
    assert got["l0"] == ("l8", 8, False)  # truncated at the bound
    assert got["l1"] == ("l9", 8, True)  # 8 hops away IS reachable


def test_documents_to_wat_payload_and_roundtrip(spark, tmp_path):
    """WAT metadata records: JSON payload byte shape, in-row link
    extraction/resolution (document order preserved), escaping, and the
    write_warc -> read_warc round trip."""
    import gzip
    import json

    from case_uco_ontology_map_spark.sources.warc import (
        documents_to_wat,
        read_warc,
        write_warc,
    )

    html = (
        '<html><body><a href="/a">First</a>'
        '<a href="b.html">Sec "quoted"</a>'
        '<a href="#frag">Dropped</a></body></html>'
    )
    docs = spark.createDataFrame(
        [("https://h.test/d/page.html", html)], "url string, html string"
    )
    wat = documents_to_wat(docs)
    row = wat.collect()[0]
    assert row.warc_type == "metadata"
    assert row.content_type == "application/json"
    assert row.record_id != "urn:md5:" and "urn:md5:" in row.record_id
    payload = json.loads(bytes(row.payload).decode("utf-8"))
    env = payload["Envelope"]["WARC-Header-Metadata"]
    assert env["WARC-Target-URI"] == "https://h.test/d/page.html"
    assert payload["Envelope"]["Payload-Metadata"][
        "Actual-Content-Length"
    ] == len(html.encode())
    # document order preserved, fragment dropped, quote escaped
    assert payload["Links"] == [
        {"url": "https://h.test/a", "text": "First"},
        {"url": "https://h.test/d/b.html", "text": 'Sec "quoted"'},
    ]
    out = str(tmp_path / "wat")
    write_warc(wat.repartition(1), out)
    back = read_warc(spark, out + "/*.warc.gz").collect()
    assert len(back) == 1
    assert bytes(back[0].payload) == bytes(row.payload)
    assert back[0].warc_type == "metadata"


def test_wat_to_links_roundtrip_equals_direct_extraction(spark):
    """documents -> documents_to_wat -> wat_to_links must reproduce
    extract_links exactly (src, dst, anchor, document order) — the
    JSON assembly + parse composition is the identity on links."""
    from case_uco_ontology_map_spark.functions.links import extract_links
    from case_uco_ontology_map_spark.sources.warc import (
        documents_to_wat,
        wat_to_links,
    )

    html = (
        '<a href="/a">A "q"</a><a href="b.html">B\\s</a>'
        '<a href="#f">skip</a><a href="//cdn.t/x">C</a>'
    )
    docs = spark.createDataFrame(
        [("https://h.test/d/p.html", html), ("https://g.test/", "<p>no</p>")],
        "url string, html string",
    )
    got = [
        (r.src, r.dst, r.anchor, r.pos)
        for r in wat_to_links(documents_to_wat(docs))
        .orderBy("src", "pos").collect()
    ]
    direct = extract_links(docs).orderBy("src", "dst").collect()
    assert got == [
        ("https://h.test/d/p.html", "https://h.test/a", 'A "q"', 0),
        ("https://h.test/d/p.html", "https://h.test/d/b.html", "B\\s", 1),
        ("https://h.test/d/p.html", "https://cdn.t/x", "C", 2),
    ]
    assert sorted((r.src, r.dst, r.anchor) for r in direct) == sorted(
        (s, d, a) for s, d, a, _ in got
    )


def test_wat_to_links_strict_and_lenient(spark):
    import pytest as _pt
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from case_uco_ontology_map_spark.sources.warc import wat_to_links

    rows = [
        ("metadata", bytearray(b"not json at all")),
        (
            "metadata",
            bytearray(
                b'{"Envelope":{"WARC-Header-Metadata":'
                b'{"WARC-Target-URI":"https://ok.test/"}},'
                b'"Links":[{"url":"https://d.test/","text":"t"}]}'
            ),
        ),
        ("response", bytearray(b"ignored entirely")),
    ]
    df = spark.createDataFrame(rows, "warc_type string, payload binary")
    lenient = wat_to_links(df, strict=False).collect()
    assert [(r.src, r.dst, r.anchor, r.pos) for r in lenient] == [
        ("https://ok.test/", "https://d.test/", "t", 0)
    ]
    with _pt.raises(SparkRuntimeException, match="malformed WAT payload"):
        wat_to_links(df, strict=True).collect()


def test_wat_to_links_empty_links_array(spark):
    from case_uco_ontology_map_spark.sources.warc import wat_to_links

    df = spark.createDataFrame(
        [(
            "metadata",
            bytearray(
                b'{"Envelope":{"WARC-Header-Metadata":'
                b'{"WARC-Target-URI":"https://empty.test/"}},"Links":[]}'
            ),
        )],
        "warc_type string, payload binary",
    )
    assert wat_to_links(df).count() == 0
