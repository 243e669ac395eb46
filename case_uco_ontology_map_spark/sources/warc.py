"""WARC (ISO 28500) ingestion — the canonical web-crawl source format.

The reference ingests JSON/CSV/free-text evidence payloads
(/root/reference/services.py:23-64); a web-scale KG-construction run
starts one step earlier, at the crawl archive itself. Common Crawl ships
WARC files (~1 GB each, gzip members, one member per record), and a
100 TB crawl is simply ~100k such files — so the honest Spark shape is
ONE TASK PER FILE:

  * ``spark.read.format("binaryFile")`` lists the files distributedly and
    hands each task one file's bytes (no driver-side listing loop, no
    ``collect``); Spark's binaryFile source also prunes on path glob and
    ``modificationTime`` pushdown for incremental crawls.
  * The record parser runs inside ``mapInPandas`` (Arrow-batched), one
    yielded pandas frame per WARC file, so peak memory is one file's
    parsed records — the same granularity every production WARC consumer
    (warcio, Sparkling, cc-pyspark) uses, because gzip members make
    sub-file splits impossible without a sync scan.
  * Records are delimited by ``Content-Length`` per the spec — never by
    boundary sniffing — so payloads containing ``WARC/1.0`` parse
    correctly; malformed records raise loudly with file + byte offset
    (same strict-raise philosophy as the N-Triples importer,
    operators/render.py) unless ``strict=False`` skips them.

``read_warc_documents`` fuses that scan with the HTTP-envelope strip of
response records and emits the ``(url, html)`` frame the existing
byte-exact extraction pipeline (refmap/extract.py, plans/pipeline.py)
consumes — WARC in, triples out, with zero changes to the downstream
operators.
"""

from __future__ import annotations

import gzip
from typing import Iterator, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_WARC_SCHEMA = StructType([
    StructField("src_file", StringType()),
    StructField("record_offset", LongType()),
    StructField("warc_type", StringType()),
    StructField("record_id", StringType()),
    StructField("url", StringType()),
    StructField("warc_date", StringType()),
    StructField("content_type", StringType()),
    StructField("content_length", LongType()),
    StructField("payload", BinaryType()),
])

_GZIP_MAGIC = b"\x1f\x8b"
_VERSIONS = (b"WARC/1.0", b"WARC/1.1")


def warc_record_bytes(
    warc_type: str,
    payload: bytes,
    record_id: str,
    date: str = "2026-01-01T00:00:00Z",
    url: Optional[str] = None,
    content_type: str = "application/octet-stream",
) -> bytes:
    """One spec-shaped WARC/1.0 record — the deterministic synthesizer
    used by tests and corpus generation (no external data; the sandbox's
    counterpart of a real crawl snippet)."""
    headers = [
        b"WARC/1.0",
        b"WARC-Type: " + warc_type.encode(),
        b"WARC-Record-ID: <" + record_id.encode() + b">",
        b"WARC-Date: " + date.encode(),
        b"Content-Type: " + content_type.encode(),
        b"Content-Length: " + str(len(payload)).encode(),
    ]
    if url is not None:
        headers.insert(3, b"WARC-Target-URI: " + url.encode())
    return b"\r\n".join(headers) + b"\r\n\r\n" + payload + b"\r\n\r\n"


def _parse_warc_bytes(
    data: bytes, src: str, strict: bool
) -> Iterator[Tuple]:
    """Yield parsed record tuples from one (decompressed) WARC stream."""
    pos, n = 0, len(data)
    while pos < n:
        # tolerate inter-record padding newlines
        while pos < n and data[pos:pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            return
        if not data.startswith(_VERSIONS, pos):
            if strict:
                raise ValueError(
                    f"{src}: no WARC version marker at byte {pos}"
                )
            return
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            if strict:
                raise ValueError(
                    f"{src}: unterminated WARC header at byte {pos}"
                )
            return
        headers = {}
        for line in data[pos:head_end].split(b"\r\n")[1:]:
            k, sep, v = line.partition(b":")
            if sep:
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers[b"content-length"])
        except (KeyError, ValueError):
            if strict:
                raise ValueError(
                    f"{src}: record at byte {pos} has no valid "
                    "Content-Length"
                )
            return
        body_start = head_end + 4
        if body_start + length > n:
            if strict:
                raise ValueError(
                    f"{src}: record at byte {pos} truncated "
                    f"(Content-Length {length} past end of stream)"
                )
            return
        rid = headers.get(b"warc-record-id", b"").strip(b"<>")
        uri = headers.get(b"warc-target-uri")
        yield (
            src,
            pos,
            headers.get(b"warc-type", b"").decode("ascii", "replace"),
            rid.decode("ascii", "replace") or None,
            uri.decode("utf-8", "replace") if uri is not None else None,
            headers.get(b"warc-date", b"").decode("ascii", "replace")
            or None,
            headers.get(b"content-type", b"").decode("ascii", "replace")
            or None,
            length,
            bytes(data[body_start:body_start + length]),
        )
        pos = body_start + length


def read_warc(
    spark: SparkSession, path: str, strict: bool = True
) -> DataFrame:
    """Distributed WARC scan → one row per record.

    ``path`` accepts the same globs as ``binaryFile`` (e.g.
    ``crawl/segment-*/warc/*.warc.gz``). Gzip is detected per file by
    magic bytes; Python's ``gzip.decompress`` consumes concatenated
    members, which is exactly Common Crawl's record-per-member layout.
    """
    files = spark.read.format("binaryFile").load(path).select(
        "path", "content"
    )
    return files.mapInPandas(_parse_files_factory(strict), _WARC_SCHEMA)


def surt_urlkey(url: "F.Column") -> "F.Column":
    """SURT-form CDX urlkey: host labels reversed and comma-joined, then
    ``)`` and the lowercased path (``/`` when empty). Pure JVM string
    expression — replayable in ANSI SQL, which the ``warc_export_index``
    contract row exercises cross-engine."""
    host = F.lower(
        F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://([^/?#]*)", 1)
    )
    path = F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://[^/?#]*(.*)$", 1)
    return F.concat(
        F.array_join(F.reverse(F.split(host, r"\.")), ","),
        F.lit(")"),
        F.when(path == "", F.lit("/")).otherwise(F.lower(path)),
    )


def cdx_index(warc_df: DataFrame) -> DataFrame:
    """CDX-style capture index over a record frame — the random-access
    companion every crawl archive ships (pywb/OpenWayback replay, dedup
    against prior crawls, segment planning all key off it).

    Pure-JVM projection: ``urlkey`` is the SURT form (host labels
    reversed and comma-joined, then the path — lowercased, default
    ports and ``www.`` kept verbatim: canonicalize upstream with
    ``functions.urls.url_normalize`` if you want fuzzy matching),
    ``digest_sha1`` is the payload sha1 as HEX (the classic CDX uses
    base32 of the same sha1; hex is fixed-width and engine-portable, and
    the column name says which). offset/length/filename come straight
    from the scan; note ``offset`` is the DECOMPRESSED-stream offset —
    directly seekable for ``.warc`` files, while ``.warc.gz`` replay
    additionally needs the member boundary (re-scan or store members
    individually), which this scan does not retain."""
    return warc_df.where(F.col("url").isNotNull()).select(
        surt_urlkey(F.col("url")).alias("urlkey"),
        F.col("warc_date").alias("timestamp"),
        "url",
        "warc_type",
        F.col("content_type").alias("mime"),
        F.sha1(F.col("payload")).alias("digest_sha1"),
        F.col("record_offset").alias("offset"),
        F.col("content_length").alias("length"),
        F.col("src_file").alias("filename"),
    )


def cdx_delta(
    current: DataFrame,
    prior: DataFrame,
    key_col: str = "urlkey",
    digest_col: str = "digest_sha1",
) -> DataFrame:
    """Incremental-crawl change detection — the consumer every CDX index
    exists for (pywb/Common Crawl revisit-dedup: a capture whose payload
    digest matches a prior capture of the same url is stored as a
    revisit record, not a second payload copy).

    Returns ``current`` plus a ``status`` column:

      * ``new``       — urlkey absent from the prior index
      * ``unchanged`` — prior holds a capture of this urlkey with the
        SAME digest (re-fetch found identical content)
      * ``changed``   — urlkey known, but no prior capture matches

    Scale shape: the prior index collapses to ONE row per urlkey
    carrying its (bounded — one entry per distinct historical content)
    digest set, so each side shuffles exactly once on the key and the
    digest probe is an in-row ``array_contains`` — no (urlkey, digest)
    pair-join, no second pass for key existence. On a cluster, bucket
    both indexes by urlkey to make the join co-partitioned across
    crawls."""
    pk = (
        prior.select(key_col, digest_col)
        .groupBy(F.col(key_col).alias("_pk"))
        .agg(F.collect_set(digest_col).alias("_pdigests"))
    )
    return (
        current.join(pk, current[key_col] == pk["_pk"], "left")
        .withColumn(
            "status",
            F.when(F.col("_pdigests").isNull(), F.lit("new"))
            .when(
                F.array_contains(F.col("_pdigests"), F.col(digest_col)),
                F.lit("unchanged"),
            )
            .otherwise(F.lit("changed")),
        )
        .drop("_pk", "_pdigests")
    )


def documents_to_warc(
    docs: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    ts_col: Optional[str] = None,
) -> DataFrame:
    """Documents frame → ``response`` record frame for ``write_warc`` —
    the HTTP envelope is assembled with BINARY ``concat`` entirely
    JVM-side (no Python crossing); record ids are md5(url), so the
    export is deterministic and repartition-invariant. ``html_col`` may
    be string (cast = UTF-8 bytes) or already binary (the web corpus's
    byte-exact ``html`` column passes through untouched)."""
    body = F.col(html_col).cast("binary")
    envelope = F.encode(
        F.concat_ws(
            "",
            F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; "
                  "charset=utf-8\r\nContent-Length: "),
            F.octet_length(body).cast("string"),
            F.lit("\r\n\r\n"),
        ),
        "UTF-8",
    )
    date = (
        F.col(ts_col).cast("string")
        if ts_col
        else F.lit("2026-01-01T00:00:00Z")
    )
    return docs.select(
        F.lit("response").alias("warc_type"),
        F.concat(F.lit("urn:md5:"), F.md5(F.col(url_col))).alias(
            "record_id"
        ),
        F.col(url_col).alias("url"),
        date.alias("warc_date"),
        F.lit("application/http; msgtype=response").alias("content_type"),
        F.concat(envelope, body).alias("payload"),
    )


def write_warc(warc_df: DataFrame, out_dir: str) -> int:
    """Export a record frame (the ``read_warc`` schema, minus the scan
    columns) back to WARC: one ``part-{pid:05d}.warc.gz`` per non-empty
    partition, one gzip member per record — Common Crawl's own layout,
    so the output is consumable by any WARC reader including
    ``read_warc`` (round trip pinned by test).

    The writer is a ``foreachPartition`` action: each task streams its
    records straight to its own file — no ``collect``, no driver
    bottleneck, records-per-file controlled by ``repartition`` upstream.
    Files land on storage every executor can reach (local dir in
    local[*], NFS/fuse mounts on a cluster); for object stores, write
    the same bytes as a parquet-of-binary table instead and materialize
    WARC at the edge. Returns the number of partitions written.
    """
    import os

    os.makedirs(out_dir, exist_ok=True)
    cols = ["warc_type", "record_id", "url", "warc_date",
            "content_type", "payload"]
    frame = warc_df.select(*cols)

    def dump(rows) -> None:
        import os as _os

        from pyspark import TaskContext

        _os.makedirs(out_dir, exist_ok=True)  # task-side: cluster-safe
        pid = TaskContext.get().partitionId()
        path = _os.path.join(out_dir, f"part-{pid:05d}.warc.gz")
        wrote = False
        with open(path, "wb") as fh:
            for r in rows:
                rec = warc_record_bytes(
                    r.warc_type,
                    bytes(r.payload),
                    r.record_id or f"part{pid}-anon",
                    date=r.warc_date or "2026-01-01T00:00:00Z",
                    url=r.url,
                    content_type=r.content_type
                    or "application/octet-stream",
                )
                # mtime=0: byte-deterministic members (gzip headers
                # otherwise embed wall-clock time)
                fh.write(gzip.compress(rec, mtime=0))
                wrote = True
        if not wrote:
            _os.remove(path)

    frame.foreachPartition(dump)
    return len(
        [f for f in os.listdir(out_dir) if f.endswith(".warc.gz")]
    )


def _parse_files_factory(strict: bool):
    def parse(batches) -> Iterator["object"]:
        import io

        import pandas as pd

        cols = [f.name for f in _WARC_SCHEMA.fields]
        for pdf in batches:
            for src, blob in zip(pdf["path"], pdf["content"]):
                data = bytes(blob)
                if data[:2] == _GZIP_MAGIC:
                    # GzipFile, NOT gzip.decompress: decompress() handles
                    # concatenated members by re-slicing unused_data per
                    # member — O(members × bytes), QUADRATIC in members
                    # per file (found by the tier-2 slope measurement:
                    # 3.86 at 10k members/file; a real Common Crawl file
                    # has ~50k). GzipFile streams the member loop over a
                    # BytesIO cursor — linear.
                    with gzip.GzipFile(fileobj=io.BytesIO(data)) as gz:
                        data = gz.read()
                rows: List[Tuple] = list(
                    _parse_warc_bytes(data, src, strict)
                )
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    return parse


_DOC_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("fetched_at", StringType()),
    StructField("status", IntegerType()),
    StructField("content_type", StringType()),
    StructField("html", StringType()),
])


def split_http_payload(payload: bytes) -> Tuple[Optional[int], Optional[str], bytes]:
    """(status, header content-type, body) from an HTTP response payload;
    a payload without an HTTP envelope passes through as the body."""
    if not payload.startswith(b"HTTP/"):
        return None, None, payload
    head_end = payload.find(b"\r\n\r\n")
    if head_end < 0:
        return None, None, payload
    head_lines = payload[:head_end].split(b"\r\n")
    try:
        status: Optional[int] = int(head_lines[0].split()[1])
    except (IndexError, ValueError):
        status = None
    ctype = None
    for line in head_lines[1:]:
        k, sep, v = line.partition(b":")
        if sep and k.strip().lower() == b"content-type":
            ctype = v.strip().decode("ascii", "replace")
    return status, ctype, payload[head_end + 4:]


def read_warc_documents(
    spark: SparkSession,
    path: str,
    strict: bool = True,
    chunk_records: int = 2048,
) -> DataFrame:
    """Fused crawl→documents scan: parse + response filter + HTTP strip
    + text decode in ONE Python crossing, yielding bounded chunks.

    A two-stage plan (``read_warc``, then a second ``mapInPandas`` that
    strips the envelope) ships every payload through Arrow twice
    (Python→JVM→Python) — measured as the dominant cost of the ingest
    stage at the 640k-doc tier (the parse kernel itself is flat
    ~24 µs/record): the tier-2 slope read 1.81
    with the two-crossing plan and the working set doubled through the
    JVM as binary rows. This fused reader never materializes payload
    bytes outside the task, transfers only the final text columns, and
    yields every ``chunk_records`` records so peak memory is bounded by
    chunk size, not archive size. Use ``read_warc`` when you need
    record-level access (CDX, non-response records); use THIS for
    crawl→KG ingestion."""
    files = spark.read.format("binaryFile").load(path).select(
        "path", "content"
    )
    doc_cols = [f.name for f in _DOC_SCHEMA.fields]

    def parse(batches) -> Iterator["object"]:
        import io

        import pandas as pd

        for pdf in batches:
            for src, blob in zip(pdf["path"], pdf["content"]):
                data = bytes(blob)
                if data[:2] == _GZIP_MAGIC:
                    with gzip.GzipFile(fileobj=io.BytesIO(data)) as gz:
                        data = gz.read()
                out = []
                for rec in _parse_warc_bytes(data, src, strict):
                    warc_type, url, date, payload = (
                        rec[2], rec[4], rec[5], rec[8]
                    )
                    if warc_type != "response" or url is None:
                        continue
                    status, ctype, body = split_http_payload(payload)
                    out.append((
                        url,
                        date,
                        status,
                        ctype,
                        body.decode("utf-8", errors="replace"),
                    ))
                    if len(out) >= chunk_records:
                        yield pd.DataFrame(out, columns=doc_cols)
                        out = []
                if out:
                    yield pd.DataFrame(out, columns=doc_cols)

    return files.mapInPandas(parse, _DOC_SCHEMA)


def redirect_edges(warc_df: DataFrame) -> DataFrame:
    """3xx ``response`` records → ``(src, dst, status)`` redirect edges.
    The Python crossing extracts only (status, raw Location) from the
    HTTP head; the Location is resolved against the source url JVM-side
    (functions/links.resolve_href — same subset rules as hyperlinks).
    Redirect tables are tiny next to the crawl (a few % of captures),
    so the crossing ships headers, never bodies."""
    from case_uco_ontology_map_spark.functions.links import resolve_href

    responses = warc_df.where(
        (F.col("warc_type") == "response") & F.col("url").isNotNull()
    ).select("url", "payload")

    def heads(batches) -> Iterator["object"]:
        import pandas as pd

        for pdf in batches:
            out = []
            for url, payload in zip(pdf["url"], pdf["payload"]):
                data = bytes(payload)
                if not data.startswith(b"HTTP/"):
                    continue
                head_end = data.find(b"\r\n\r\n")
                head_lines = data[: head_end if head_end >= 0 else len(data)].split(b"\r\n")
                try:
                    status = int(head_lines[0].split()[1])
                except (IndexError, ValueError):
                    continue
                if not 300 <= status <= 399:
                    continue
                loc = None
                for line in head_lines[1:]:
                    k, sep, v = line.partition(b":")
                    if sep and k.strip().lower() == b"location":
                        loc = v.strip().decode("utf-8", "replace")
                if loc:
                    out.append((url, status, loc))
            if out:
                yield pd.DataFrame(
                    out, columns=["src", "status", "_loc"]
                )

    raw = responses.mapInPandas(
        heads, "src string, status int, _loc string"
    )
    return (
        raw.withColumn(
            "dst", resolve_href(F.col("src"), F.col("_loc"))
        )
        .where(F.col("dst").isNotNull())
        .select("src", "dst", "status")
    )


def resolve_redirects(edges: DataFrame, max_hops: int = 8) -> DataFrame:
    """Final landing url per redirect source: follow ``dst`` while it is
    itself a redirect source, bounded at ``max_hops``. Returns
    ``(src, final_dst, hops, resolved)`` — ``resolved`` false means the
    chain was still open at the bound (a cycle, or longer than
    max_hops; real crawlers cap at 5-10 and give up the same way).

    Plan shape: the edge set is first made FUNCTIONAL (one out-edge per
    src, deterministic min(dst)), then ``max_hops - 1`` chained
    left joins advance every chain in ONE lazy plan — no driver loop
    actions, no fixed-point count checks; at 100 TB the redirect table
    is a few % of captures and each join shuffles only that table.
    DuckDB replays the identical bounded walk with a recursive CTE
    (``crawl_redirects`` contract row)."""
    e = edges.groupBy("src").agg(F.min("dst").alias("dst"))
    cur = e.select(
        "src",
        F.col("dst").alias("cur"),
        F.lit(1).cast("int").alias("hops"),
    )
    hop = e.select(
        F.col("src").alias("_s"), F.col("dst").alias("_d")
    )
    for _ in range(max_hops - 1):
        cur = (
            cur.join(hop, cur["cur"] == hop["_s"], "left")
            .select(
                "src",
                F.coalesce(F.col("_d"), F.col("cur")).alias("cur"),
                F.when(
                    F.col("_d").isNotNull(), F.col("hops") + 1
                )
                .otherwise(F.col("hops"))
                .cast("int")
                .alias("hops"),
            )
        )
    out = (
        cur.join(
            hop.select(F.col("_s")), cur["cur"] == F.col("_s"), "left"
        )
        .select(
            "src",
            F.col("cur").alias("final_dst"),
            "hops",
            F.col("_s").isNull().alias("resolved"),
        )
    )
    return out


def _json_escape(col: "F.Column") -> "F.Column":
    """Minimal JSON string escape (backslash then double-quote) as a
    JVM expression — enough for URL/anchor text, deterministic, and
    replayable in ANSI SQL with two nested ``replace`` calls. Control
    characters are out of the documented subset (crawl URLs and the
    anchor regex's ``[^<]*`` group never contain raw newlines)."""
    return F.replace(
        F.replace(col, F.lit("\\"), F.lit("\\\\")),
        F.lit('"'),
        F.lit('\\"'),
    )


def documents_to_wat(
    docs: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    ts_col: Optional[str] = None,
) -> DataFrame:
    """Documents frame → WAT ``metadata`` record frame (Common Crawl's
    third archive format: one JSON document per capture describing the
    envelope plus extracted metadata — here the resolved outlinks, the
    payload every WAT consumer actually reads).

    Payload shape (subset of the Common Crawl WAT envelope)::

        {"Envelope":{"WARC-Header-Metadata":{
            "WARC-Target-URI":"<url>","WARC-Type":"response",
            "WARC-Date":"<date>"},
          "Payload-Metadata":{"Actual-Content-Length":<n>}},
         "Links":[{"url":"<resolved>","text":"<anchor>"},...]}

    The JSON is assembled by string ``concat`` with an explicit escape
    (``_json_escape``) rather than ``to_json`` so the bytes are
    engine-replayable verbatim (the ``wat_metadata`` contract row
    rebuilds them in DuckDB). Links are extracted IN-ROW with
    ``regexp_extract_all`` + higher-order ``transform``/``filter`` over
    the zipped (href, text) arrays — document order is preserved by
    construction (an explode → groupBy → collect_list round trip would
    cost a shuffle AND lose ordering determinism). The HOF path is
    interpreted, not codegen'd, but it touches only the ~10-100 anchor
    strings per page, never the html body.

    Record ids are md5 of ``"wat:" + url`` so a WAT record never
    collides with its ``response`` sibling (md5(url)) in a combined
    store; ``write_warc`` serializes the frame like any other.
    """
    from case_uco_ontology_map_spark.functions.links import (
        ANCHOR_RE,
        resolve_href,
    )

    url = F.col(url_col)
    html_str = F.col(html_col).cast("string")
    body = F.col(html_col).cast("binary")
    hrefs = F.regexp_extract_all(html_str, F.lit(ANCHOR_RE), F.lit(1))
    texts = F.regexp_extract_all(html_str, F.lit(ANCHOR_RE), F.lit(2))
    pairs = F.arrays_zip(hrefs.alias("href"), texts.alias("text"))
    resolved = F.transform(
        pairs,
        lambda p: F.struct(
            resolve_href(url, p["href"]).alias("u"),
            p["text"].alias("t"),
        ),
    )
    kept = F.filter(resolved, lambda s: s["u"].isNotNull())
    link_objs = F.transform(
        kept,
        lambda s: F.concat(
            F.lit('{"url":"'),
            _json_escape(s["u"]),
            F.lit('","text":"'),
            _json_escape(s["t"]),
            F.lit('"}'),
        ),
    )
    date = (
        F.col(ts_col).cast("string")
        if ts_col
        else F.lit("2026-01-01T00:00:00Z")
    )
    payload_json = F.concat(
        F.lit('{"Envelope":{"WARC-Header-Metadata":{"WARC-Target-URI":"'),
        _json_escape(url),
        F.lit('","WARC-Type":"response","WARC-Date":"'),
        date,
        F.lit('"},"Payload-Metadata":{"Actual-Content-Length":'),
        F.octet_length(body).cast("string"),
        F.lit('}},"Links":['),
        F.array_join(link_objs, ","),
        F.lit("]}"),
    )
    return docs.select(
        F.lit("metadata").alias("warc_type"),
        F.concat(
            F.lit("urn:md5:"), F.md5(F.concat(F.lit("wat:"), url))
        ).alias("record_id"),
        url.alias("url"),
        date.alias("warc_date"),
        F.lit("application/json").alias("content_type"),
        F.encode(payload_json, "UTF-8").alias("payload"),
    )


_WAT_SCHEMA = (
    "Envelope struct<`WARC-Header-Metadata`:"
    "struct<`WARC-Target-URI`:string>>, "
    "Links array<struct<url:string,text:string>>"
)


def wat_to_links(
    wat_df: DataFrame,
    strict: bool = True,
) -> DataFrame:
    """WAT import — the read side of ``documents_to_wat``: metadata
    records back to one ``(src, dst, anchor)`` row per outlink, in the
    payload's document order (``posexplode`` ordinal kept as ``pos`` so
    consumers that care about order don't have to re-derive it).

    Everything is JVM-side: ``from_json`` against an explicit schema
    (never schema inference — an inference pass over 100 TB of payloads
    is a second full scan), then one ``posexplode``. Non-metadata
    records are filtered BEFORE the decode so a mixed archive costs
    only its WAT share. ``strict=True`` (default) raises on a payload
    that doesn't parse — the gate rides the SELECTED src column, like
    the N-Triples importer, so the optimizer can't prune it;
    ``strict=False`` drops bad records, the lenient-crawl convention
    used by ``read_warc``."""
    meta = wat_df.where(F.col("warc_type") == "metadata")
    parsed = meta.select(
        F.col("payload"),
        F.from_json(F.decode(F.col("payload"), "UTF-8"), _WAT_SCHEMA)
        .alias("_j"),
    )
    uri = F.col("_j")["Envelope"]["WARC-Header-Metadata"]["WARC-Target-URI"]
    ok = F.col("_j").isNotNull() & uri.isNotNull()
    links = F.coalesce(F.col("_j")["Links"], F.array())
    if strict:
        # the gate must ride the GENERATOR INPUT: a malformed payload
        # parses to an empty Links array, so posexplode would emit zero
        # rows and a check on any output column would never evaluate
        links = F.when(ok, links).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("malformed WAT payload: "),
                    F.substring(F.decode(F.col("payload"), "UTF-8"), 1, 120),
                )
            ).cast("array<struct<url:string,text:string>>")
        )
    else:
        parsed = parsed.where(ok)
    return parsed.select(
        uri.alias("src"),
        F.posexplode(links).alias("pos", "_lnk"),
    ).select(
        "src",
        F.col("_lnk")["url"].alias("dst"),
        F.col("_lnk")["text"].alias("anchor"),
        "pos",
    )
