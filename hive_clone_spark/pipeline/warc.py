"""WARC ingestion + HTML text extraction — the front door of a
web-crawl training-data pipeline (Common Crawl arrives as WARC files of
HTTP responses wrapped in length-framed records).

Two driver entries:

  * ``p_warc_extract`` — REAL byte-level WARC/1.1 parsing: synthesize
    genuine multi-record WARC files (warcinfo + request + response
    records, CRLF header blocks, Content-Length framing, decoy
    ``\\r\\n\\r\\nWARC/1.1`` sequences INSIDE payloads so a
    split-on-blank-line parser provably breaks; half the files are
    genuine ``.warc.gz`` — one gzip MEMBER per record, concatenated,
    the layout Common Crawl ships — walked member-by-member with
    stdlib zlib), walk the records by
    declared length, keep only ``WARC-Type: response``, parse the HTTP
    status line + headers, and extract visible text from the HTML body
    (script/comment removal, tag stripping, entity unescape, whitespace
    collapse). The DuckDB oracle rebuilds the same HTML/text from the
    synthesis rule and pins URL, status, HTML byte length, link count,
    word count, and a portable hash of the EXACT extracted string.

  * ``p_html_strip`` — the same boilerplate-stripping transform kept
    entirely JVM-side (regexp_replace chains over a constructed HTML
    column; zero Python) — the form you run in the scan stage when the
    HTML is already a string column. Oracle mirrors the identical
    regexes in DuckDB.

Reference parity: the reference engine has no IO surface (SURVEY.md §2
note) — this belongs to the LLM-pipeline surface the driver contract
adds.

Scale notes (100 TB): in production the WARC bytes are the SOURCE
(``spark.read.format("binaryFile")`` or a parquet payload column) and
record splitting is scan-stage mapInPandas — embarrassingly parallel,
zero shuffle, only narrow typed rows leave Python. The synth stage here
groups ~8 docs per file only because the testdata ships no WARC column;
its single groupBy shuffle is fixture plumbing, not the operator. HTML
stripping is regex-only and stays in whole-stage codegen in the
JVM-side entry. Record parsing is O(bytes) with no cross-record state,
so files split cleanly across executors at any corpus size.
"""

from __future__ import annotations

import re
import zlib

import numpy as np  # noqa: F401  (kept with the codec family imports)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_clone_spark.catalog import table
from hive_clone_spark.pipeline.common import (
    SQL_WORDS,
    ordered,
    portable_hash,
    spread,
    sql_portable_hash,
    words_col,
)
from hive_clone_spark.registry import register

_CRLF = "\r\n"
# constant decoy inside every HTML payload: contains a blank CRLF line
# followed by a record header — only Content-Length framing survives it
_DECOY = "<!--\r\n\r\nWARC/1.1 decoy-->"
_DOCS_PER_FILE = 8


# ---------------------------------------------------------------------------
# synthesis rule (mirrored by the oracles)
#
#   n_links(doc) = doc_id % 5
#   html(doc) = <html><head><title>doc {id}</title>
#               <script>var x = {id};</script></head>
#               <body><p>{escaped text}</p>
#               {<a href="https://ex.test/{id}/{k}">link {k}</a> ...}
#               {decoy comment}</body></html>
#   extracted(doc) = collapse_ws("doc {id} " + text + " link 1 .. link n")
# ---------------------------------------------------------------------------
def _escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def synth_html(doc_id: int, text: str) -> str:
    n_links = doc_id % 5
    links = "".join(
        f'<a href="https://ex.test/{doc_id}/{k}">link {k}</a>'
        for k in range(1, n_links + 1)
    )
    return (
        f"<html><head><title>doc {doc_id}</title>"
        f"<script>var x = {doc_id};</script></head>"
        f"<body><p>{_escape(text)}</p>{links}{_DECOY}</body></html>"
    )


def _gzip_member(raw: bytes) -> bytes:
    """One record as one INDEPENDENT gzip member (WARC/1.1 annex D /
    the Common Crawl convention: record-at-a-time compression so a
    reader can seek to any member boundary without decompressing the
    prefix — THE property that makes .warc.gz splittable at scale).
    Fixed mtime/OS header bytes keep the fixture bytes deterministic."""
    co = zlib.compressobj(9, zlib.DEFLATED, 31)
    body = co.compress(raw) + co.flush()
    # zero the MTIME (bytes 4-8) and OS (byte 9) header fields
    return body[:4] + b"\x00\x00\x00\x00" + body[8:9] + b"\xff" + body[10:]


def synth_warc_file(docs: list[tuple[int, str]], gzip_records: bool = False) -> bytes:
    """One WARC/1.1 file: warcinfo, then (request, response) per doc.
    Real framing: header block, CRLF CRLF, Content-Length payload
    bytes, CRLF CRLF. With ``gzip_records`` the file is a genuine
    ``.warc.gz``: each record compressed as its own gzip member, all
    members concatenated (how Common Crawl actually ships)."""

    def record(headers: list[tuple[str, str]], payload: bytes) -> bytes:
        head = "WARC/1.1" + _CRLF
        for k, v in headers:
            head += f"{k}: {v}" + _CRLF
        head += f"Content-Length: {len(payload)}" + _CRLF + _CRLF
        raw = head.encode() + payload + _CRLF.encode() + _CRLF.encode()
        return _gzip_member(raw) if gzip_records else raw

    out = bytearray()
    out += record(
        [("WARC-Type", "warcinfo"), ("Content-Type", "application/warc-fields")],
        b"software: hive-clone-spark synthetic crawler",
    )
    for doc_id, text in docs:
        url = f"https://ex.test/{doc_id}"
        out += record(
            [
                ("WARC-Type", "request"),
                ("WARC-Target-URI", url),
                ("Content-Type", "application/http;msgtype=request"),
            ],
            f"GET /{doc_id} HTTP/1.1{_CRLF}Host: ex.test{_CRLF}{_CRLF}".encode(),
        )
        html = synth_html(doc_id, text).encode()
        if doc_id % 6 == 1:
            # chunked transfer-encoding (RFC 9112): fixed 100-byte
            # chunks, a chunk EXTENSION on the first chunk of every
            # 12th doc (parsers must ignore it), zero-chunk terminator
            chunks = [html[i : i + 100] for i in range(0, len(html), 100)]
            framed = bytearray()
            for ci, c in enumerate(chunks):
                ext = ";synthetic=1" if ci == 0 and doc_id % 12 == 1 else ""
                framed += f"{len(c):x}{ext}{_CRLF}".encode()
                framed += c + _CRLF.encode()
            framed += f"0{_CRLF}{_CRLF}".encode()
            http = (
                f"HTTP/1.1 200 OK{_CRLF}Content-Type: text/html{_CRLF}"
                f"Transfer-Encoding: chunked{_CRLF}{_CRLF}"
            ).encode() + bytes(framed)
        else:
            http = (
                f"HTTP/1.1 200 OK{_CRLF}Content-Type: text/html{_CRLF}"
                f"Content-Length: {len(html)}{_CRLF}{_CRLF}"
            ).encode() + html
        out += record(
            [
                ("WARC-Type", "response"),
                ("WARC-Target-URI", url),
                ("Content-Type", "application/http;msgtype=response"),
            ],
            http,
        )
    return bytes(out)


# ---------------------------------------------------------------------------
# parsing + extraction
# ---------------------------------------------------------------------------
def gunzip_members(data: bytes) -> list[bytes]:
    """Split concatenated gzip members and inflate each independently
    (stdlib zlib, wbits=31 so every member's own header/trailer is
    consumed). ``unused_data`` after a member's end marks the next
    member boundary — the walk a .warc.gz reader needs, since a naive
    single-stream gzip.decompress would hide the record boundaries that
    make the format seekable/splittable."""
    members = []
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(31)
        chunk = d.decompress(data[pos:]) + d.flush()
        if not d.eof:
            raise ValueError("warc.gz: truncated gzip member")
        members.append(chunk)
        pos = len(data) - len(d.unused_data)
    return members


def parse_warc(data: bytes) -> list[dict]:
    """Walk a WARC file by Content-Length framing; returns one dict per
    record (headers lowercased, payload bytes). A parser that splits on
    blank lines instead of trusting Content-Length breaks on the decoy
    sequence the synthetic payloads carry.

    Accepts both plain .warc bytes and .warc.gz bytes (gzip magic
    sniffed): gzipped input is walked member-by-member — per the spec
    each member holds one record, but any records-per-member layout
    parses, since each inflated member goes through the same
    Content-Length walk."""
    if data[:2] == b"\x1f\x8b":
        records = []
        for member in gunzip_members(data):
            records.extend(parse_warc(member))
        return records
    records = []
    pos = 0
    n = len(data)
    while pos < n:
        end_head = data.index(b"\r\n\r\n", pos)
        head_lines = data[pos:end_head].decode().split(_CRLF)
        if not head_lines[0].startswith("WARC/"):
            raise ValueError(f"warc: bad version line {head_lines[0]!r}")
        headers = {}
        for line in head_lines[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        length = int(headers["content-length"])
        payload = data[end_head + 4 : end_head + 4 + length]
        records.append({"headers": headers, "payload": payload})
        pos = end_head + 4 + length + 4  # skip the two trailing CRLFs
    return records


def _dechunk(raw: bytes) -> bytes:
    """HTTP/1.1 chunked transfer-encoding decoder (RFC 9112 §7.1):
    hex-size line (chunk extensions after ';' ignored), CRLF, data,
    CRLF, ...; terminated by a zero-size chunk + empty trailer. Real
    crawl captures store the response bytes AS SENT, so de-chunking
    is part of WARC ingestion, not an upstream nicety."""
    body = bytearray()
    pos = 0
    while True:
        eol = raw.index(b"\r\n", pos)
        size = int(raw[pos:eol].split(b";")[0], 16)
        pos = eol + 2
        if size == 0:
            if raw[pos : pos + 2] != b"\r\n":
                raise ValueError("warc: chunked trailers not supported")
            return bytes(body)
        body += raw[pos : pos + size]
        if raw[pos + size : pos + size + 2] != b"\r\n":
            raise ValueError("warc: chunk missing terminating CRLF")
        pos += size + 2


def parse_http_response(payload: bytes) -> tuple[int, dict, bytes]:
    """(status, lowercased headers, body) from an HTTP response block.
    A `Transfer-Encoding: chunked` body is de-chunked here — the
    framing is verified structurally (sizes + CRLFs + terminator), the
    role Content-Length plays for identity-framed bodies."""
    end_head = payload.index(b"\r\n\r\n")
    lines = payload[:end_head].decode().split(_CRLF)
    status = int(lines[0].split(" ")[1])
    headers = {}
    for line in lines[1:]:
        k, _, v = line.partition(":")
        headers[k.strip().lower()] = v.strip()
    body = payload[end_head + 4 :]
    if headers.get("transfer-encoding", "").lower() == "chunked":
        body = _dechunk(body)
    return status, headers, body


_SCRIPT_RE = re.compile(r"(?s)<script.*?</script>")
_COMMENT_RE = re.compile(r"(?s)<!--.*?-->")
_TAG_RE = re.compile(r"<[^>]*>")
_WS_RE = re.compile(r"\s+")


def extract_text(html: str) -> str:
    """Visible text: drop script blocks and comments, replace tags with
    spaces (so adjacent text nodes don't merge into one token), unescape
    the three named entities the escaper emits, collapse whitespace."""
    s = _SCRIPT_RE.sub(" ", html)
    s = _COMMENT_RE.sub(" ", s)
    s = _TAG_RE.sub(" ", s)
    s = s.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")
    return _WS_RE.sub(" ", s).strip()


# ---------------------------------------------------------------------------
# driver entries
# ---------------------------------------------------------------------------
_SQL_EXTRACTED = """
    trim(regexp_replace(
      'doc ' || doc_id || ' ' || text ||
      CASE WHEN doc_id % 5 = 0 THEN '' ELSE
        array_to_string(list_transform(generate_series(1, doc_id % 5),
                                       k -> ' link ' || k), '')
      END,
      '\\s+', ' ', 'g'))
"""

_SQL_HTML_LEN = """
    length('<html><head><title>doc ' || doc_id || '</title>'
      || '<script>var x = ' || doc_id || ';</script></head><body><p>'
      || replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'),
                 '>', '&gt;')
      || '</p>'
      || CASE WHEN doc_id % 5 = 0 THEN '' ELSE
           array_to_string(list_transform(generate_series(1, doc_id % 5),
             k -> '<a href="https://ex.test/' || doc_id || '/' || k
                  || '">link ' || k || '</a>'), '')
         END
      || '<!--' || chr(13) || chr(10) || chr(13) || chr(10)
      || 'WARC/1.1 decoy-->' || '</body></html>')
"""


@register(
    "p_warc_extract",
    # Oracle rebuilds url/status/html length/link count from the
    # synthesis rule and the extracted STRING itself (portable hash) —
    # a parser that mis-frames records, keeps request records, loses
    # the script strip, or merges text nodes fails the value hash.
    oracle=f"""
    SELECT doc_id,
      'https://ex.test/' || doc_id AS url,
      200 AS http_status,
      CAST({_SQL_HTML_LEN} AS BIGINT) AS content_length,
      CAST(doc_id % 5 AS BIGINT) AS n_links,
      CAST(len(list_filter(str_split_regex({_SQL_EXTRACTED}, '\\s+'),
                           w -> w <> '')) AS BIGINT) AS n_words,
      {sql_portable_hash(_SQL_EXTRACTED)} AS text_hash
    FROM documents
    ORDER BY doc_id
    """,
)
def p_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WARC ingestion: build genuine multi-record WARC files
    (stage A, fixture plumbing), then parse the actual bytes —
    Content-Length framing past in-payload decoys, record-type filter,
    HTTP status/header parse, HTML text extraction (stage B)."""
    import pandas as pd

    from pyspark import cloudpickle as _cp
    import hive_clone_spark.pipeline.warc as _mod

    _cp.register_pickle_by_value(_mod)

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("doc_id") / _DOCS_PER_FILE).cast("long").alias("bucket")
    )

    def build_files(pdf):
        rows = sorted(zip(pdf["doc_id"], pdf["text"]))
        bucket = int(pdf["bucket"].iloc[0])
        # odd buckets ship as genuine .warc.gz (per-record gzip members,
        # the Common Crawl layout); even buckets stay plain — one corpus
        # exercises BOTH framings through the same parser
        payload = synth_warc_file(
            [(int(i), str(t)) for i, t in rows], gzip_records=bucket % 2 == 1
        )
        return pd.DataFrame({"bucket": [bucket], "payload": [payload]})

    # per-file build + parse run in parallel despite the 1-split
    # testdata scan
    files = (
        spread(docs, "bucket")
        .groupBy("bucket")
        .applyInPandas(build_files, "bucket BIGINT, payload BINARY")
    )

    def parse_batches(batches):
        for pdf in batches:
            rows = []
            for payload in pdf["payload"]:
                for rec in parse_warc(bytes(payload)):
                    if rec["headers"].get("warc-type") != "response":
                        continue
                    url = rec["headers"]["warc-target-uri"]
                    status, http_headers, body = parse_http_response(rec["payload"])
                    # the header's Content-Length is a BYTE count and
                    # is verified against the framed body here; the
                    # emitted column is the CHARACTER count of the
                    # decoded HTML so it matches the oracle's length()
                    # regardless of non-ASCII text (bytes != chars
                    # under UTF-8).
                    if http_headers.get("transfer-encoding", "") != "chunked":
                        # identity framing: header byte count must match
                        # the framed body (chunked bodies were verified
                        # structurally by the de-chunker instead)
                        if int(http_headers["content-length"]) != len(body):
                            raise ValueError("Content-Length / body mismatch")
                    html = body.decode()
                    text = extract_text(html)
                    rows.append(
                        (
                            int(url.rsplit("/", 1)[1]),
                            url,
                            status,
                            len(html),
                            html.count("<a href="),
                            text,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "url", "http_status", "content_length",
                    "n_links", "extracted",
                ],
            )

    parsed = files.mapInPandas(
        parse_batches,
        "doc_id BIGINT, url STRING, http_status INT, content_length BIGINT, "
        "n_links BIGINT, extracted STRING",
    )
    return parsed.select(
        "doc_id",
        "url",
        "http_status",
        "content_length",
        "n_links",
        F.size(words_col(F.col("extracted"))).cast("long").alias("n_words"),
        portable_hash(F.col("extracted")).alias("text_hash"),
    ).transform(ordered, "doc_id")


@register(
    "p_html_strip",
    # Same strip, zero Python: the oracle runs the IDENTICAL regex
    # chain over the identically-constructed HTML string.
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
        '<html><head><title>doc ' || doc_id || '</title>'
          || '<script>var x = ' || doc_id || ';</script></head><body><p>'
          || replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'),
                     '>', '&gt;')
          || '</p>'
          || CASE WHEN doc_id % 5 = 0 THEN '' ELSE
               array_to_string(list_transform(generate_series(1, doc_id % 5),
                 k -> '<a href="https://ex.test/' || doc_id || '/' || k
                      || '">link ' || k || '</a>'), '')
             END
          || '<!--' || chr(13) || chr(10) || chr(13) || chr(10)
          || 'WARC/1.1 decoy-->' || '</body></html>' AS html
      FROM documents),
    s AS (
      SELECT doc_id, length(html) AS html_chars,
        trim(regexp_replace(
          replace(replace(replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(html, '(?s)<script.*?</script>', ' ', 'g'),
                '(?s)<!--.*?-->', ' ', 'g'),
              '<[^>]*>', ' ', 'g'),
            '&lt;', '<'), '&gt;', '>'), '&amp;', '&'),
          '\\s+', ' ', 'g')) AS text
      FROM h)
    SELECT doc_id,
      CAST(html_chars AS BIGINT) AS html_chars,
      CAST(length(text) AS BIGINT) AS text_chars,
      CAST(len(list_filter(str_split_regex(text, '\\s+'), w -> w <> ''))
           AS BIGINT) AS n_words,
      {sql_portable_hash("text")} AS text_hash
    FROM s ORDER BY doc_id
    """,
)
def p_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate stripping as a pure JVM-side regexp_replace chain
    (whole-stage codegen, no Python in the hot path) over an HTML
    column constructed by the same rule p_warc_extract synthesizes."""
    d = table(spark, sf_dir, "documents")
    esc = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
            F.lit("<"),
            F.lit("&lt;"),
        ),
        F.lit(">"),
        F.lit("&gt;"),
    )
    links = F.when(F.col("doc_id") % 5 == 0, F.lit("")).otherwise(
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), (F.col("doc_id") % 5).cast("int")),
                lambda k: F.concat(
                    F.lit('<a href="https://ex.test/'),
                    F.col("doc_id").cast("string"),
                    F.lit("/"),
                    k.cast("string"),
                    F.lit('">link '),
                    k.cast("string"),
                    F.lit("</a>"),
                ),
            ),
            "",
        )
    )
    html = F.concat(
        F.lit("<html><head><title>doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><script>var x = "),
        F.col("doc_id").cast("string"),
        F.lit(";</script></head><body><p>"),
        esc,
        F.lit("</p>"),
        links,
        F.lit(_DECOY),
        F.lit("</body></html>"),
    )
    h = d.select("doc_id", html.alias("html"))
    s = h.select(
        "doc_id",
        F.length("html").cast("long").alias("html_chars"),
        F.trim(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(
                        F.regexp_replace(
                            F.regexp_replace(
                                F.regexp_replace(
                                    F.regexp_replace(
                                        F.col("html"),
                                        F.lit("(?s)<script.*?</script>"),
                                        F.lit(" "),
                                    ),
                                    F.lit("(?s)<!--.*?-->"),
                                    F.lit(" "),
                                ),
                                F.lit("<[^>]*>"),
                                F.lit(" "),
                            ),
                            F.lit("&lt;"),
                            F.lit("<"),
                        ),
                        F.lit("&gt;"),
                        F.lit(">"),
                    ),
                    F.lit("&amp;"),
                    F.lit("&"),
                ),
                F.lit(r"\s+"),
                F.lit(" "),
            )
        ).alias("text"),
    )
    return s.select(
        "doc_id",
        "html_chars",
        F.length("text").cast("long").alias("text_chars"),
        F.size(words_col(F.col("text"))).cast("long").alias("n_words"),
        portable_hash(F.col("text")).alias("text_hash"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# p_robots_parse — robots.txt evaluation (RFC 9309): before a crawl
# pipeline fetches anything, every URL must clear the origin's
# robots.txt — parse the file, collect the allow/disallow groups, and
# apply the longest-match rule (most specific path prefix wins; a tie
# goes to Allow). One robots.txt is generated per document source
# (20 origins) with the layouts real files have — comments, blank
# lines, an unknown directive (Crawl-delay) the parser must skip, a
# broad Disallow with a narrower Allow carve-out, and a
# language-section Disallow — and every document contributes a URL
# path. The per-origin census counts allowed/disallowed plus RESCUED
# paths (a Disallow matched but a longer Allow overrode it — the
# carve-out case naive first-match parsers get wrong).
#
# Both the FILE and its parse are under the oracle: DuckDB rebuilds
# the same robots text, splits lines, applies the same directive
# regex, and evaluates the same longest-match rule.
#
# Scale design: rules are origins x O(1) lines — a broadcast dim;
# the path-vs-rule prefix join is per-origin (equi on origin +
# starts_with predicate against the broadcast), then one struct-max
# argmax per path and a map-side-combinable census. At
# full-web scale origins shard naturally; no all-pairs anywhere.
# ---------------------------------------------------------------------------
_ROBOTS_LANGS = ("de", "en", "es", "fr", "zh")


def _robots_text_sql() -> str:
    """The per-source robots.txt body, as identical SQL/Spark string
    arithmetic: n = the numeric source suffix."""
    return (
        "'# robots for ' || source || chr(10)"
        " || 'User-agent: *' || chr(10)"
        " || 'Crawl-delay: 5' || chr(10)"
        " || 'Disallow: /a' || chr(10)"
        " || 'Allow: /a/' || lang_allow || chr(10)"
        " || chr(10)"
        " || 'Disallow: /' || lang_block || chr(10)"
    )


@register(
    "p_robots_parse",
    oracle=f"""
    WITH langs(i, lang) AS (VALUES (0, 'de'), (1, 'en'), (2, 'es'),
                                   (3, 'fr'), (4, 'zh')),
    origins AS (
      SELECT source, CAST(substr(source, 4) AS BIGINT) AS n
      FROM (SELECT DISTINCT source FROM documents)),
    cfg AS (
      SELECT o.source, la.lang AS lang_allow, lb.lang AS lang_block
      FROM origins o
      JOIN langs la ON la.i = o.n % 5
      JOIN langs lb ON lb.i = (o.n + 2) % 5),
    robots AS (
      SELECT source, {_robots_text_sql()} AS body FROM cfg),
    lines AS (
      SELECT source, unnest(str_split(body, chr(10))) AS line FROM robots),
    rules AS (
      SELECT source,
        lower(regexp_extract(line, '^(Allow|Disallow):\\s*(\\S+)$', 1))
          AS verb,
        regexp_extract(line, '^(Allow|Disallow):\\s*(\\S+)$', 2) AS prefix
      FROM lines
      WHERE regexp_matches(line, '^(Allow|Disallow):')),
    paths AS (
      SELECT source,
        CASE WHEN doc_id % 3 = 0
             THEN '/a/' || lang || '/' || CAST(doc_id AS VARCHAR)
             ELSE '/' || lang || '/' || CAST(doc_id AS VARCHAR) END AS path
      FROM documents),
    matched AS (
      SELECT p.source, p.path,
        MAX(struct_pack(l := length(r.prefix),
                        a := CASE WHEN r.verb = 'allow' THEN 1 ELSE 0 END))
          AS best,
        SUM(CASE WHEN r.verb = 'disallow' THEN 1 ELSE 0 END) AS n_dis
      FROM paths p
      LEFT JOIN rules r
        ON r.source = p.source AND starts_with(p.path, r.prefix)
      GROUP BY p.source, p.path),
    verdicts AS (
      SELECT source, path,
        best.l IS NULL OR best.a = 1 AS allowed,
        best.l IS NOT NULL AND best.a = 1 AND n_dis > 0 AS rescued
      FROM matched)
    SELECT source,
      CAST(COUNT(*) AS BIGINT) AS n_paths,
      CAST(SUM(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
      CAST(SUM(CASE WHEN NOT allowed THEN 1 ELSE 0 END) AS BIGINT)
        AS n_disallowed,
      CAST(SUM(CASE WHEN rescued THEN 1 ELSE 0 END) AS BIGINT) AS n_rescued
    FROM verdicts GROUP BY source ORDER BY source
    """,
)
def p_robots_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    langs = spark.createDataFrame(
        list(enumerate(_ROBOTS_LANGS)), "i BIGINT, lang STRING"
    )
    origins = docs.select("source").distinct().select(
        "source", F.expr("CAST(substr(source, 4) AS BIGINT)").alias("n")
    )
    cfg = (
        origins.join(
            F.broadcast(langs.withColumnRenamed("lang", "lang_allow")),
            origins.n % 5 == F.col("i"),
        )
        .drop("i")
        .join(
            F.broadcast(langs.withColumnRenamed("lang", "lang_block")),
            (origins.n + 2) % 5 == F.col("i"),
        )
        .select("source", "lang_allow", "lang_block")
    )
    body = F.expr(_robots_text_sql())  # chr(10) parses in both dialects
    robots = cfg.select("source", body.alias("body"))
    lines = robots.select(
        "source", F.explode(F.split("body", "\n")).alias("line")
    )
    rules = (
        lines.where(F.col("line").rlike("^(Allow|Disallow):"))
        .select(
            "source",
            F.lower(
                F.regexp_extract("line", r"^(Allow|Disallow):\s*(\S+)$", 1)
            ).alias("verb"),
            F.regexp_extract("line", r"^(Allow|Disallow):\s*(\S+)$", 2)
            .alias("prefix"),
        )
    )
    paths = docs.select(
        "source",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("/a/"), "lang", F.lit("/"),
                F.col("doc_id").cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("/"), "lang", F.lit("/"),
                F.col("doc_id").cast("string"),
            )
        )
        .alias("path"),
    )
    rules_r = rules.withColumnRenamed("source", "rsource")
    matched = (
        paths.join(
            F.broadcast(rules_r),
            (F.col("source") == F.col("rsource"))
            & F.col("path").startswith(F.col("prefix")),
            "left",
        )
        .drop("rsource")
        .groupBy("source", "path")
        .agg(
            F.max(
                F.struct(
                    F.length("prefix").alias("l"),
                    F.when(F.col("verb") == "allow", 1)
                    .otherwise(0)
                    .alias("a"),
                )
            ).alias("best"),
            F.sum(
                F.when(F.col("verb") == "disallow", 1).otherwise(0)
            ).alias("n_dis"),
        )
    )
    verdicts = matched.select(
        "source",
        (F.col("best.l").isNull() | (F.col("best.a") == 1)).alias("allowed"),
        (
            F.col("best.l").isNotNull()
            & (F.col("best.a") == 1)
            & (F.col("n_dis") > 0)
        ).alias("rescued"),
    )
    return (
        verdicts.groupBy("source")
        .agg(
            F.count("*").alias("n_paths"),
            F.sum(F.when(F.col("allowed"), 1).otherwise(0))
            .cast("long")
            .alias("n_allowed"),
            F.sum(F.when(~F.col("allowed"), 1).otherwise(0))
            .cast("long")
            .alias("n_disallowed"),
            F.sum(F.when(F.col("rescued"), 1).otherwise(0))
            .cast("long")
            .alias("n_rescued"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# p_boilerplate_strip — link-density boilerplate removal (the
# jusText/Readability heuristic, the cleaning pass between raw HTML
# and a pretraining corpus): segment the document into blocks, score
# each block by LINK DENSITY (characters inside <a> tags / total
# visible characters), keep only content-dense blocks. On the synth
# pages the <p> body block has zero link density and the trailing
# link list is 100% links — so the kept text is exactly the article
# body, while p_html_strip (which keeps everything visible) retains
# the "link k" tokens; the oracle pins both the kept text hash and
# the per-doc density census that justified the cut.
#
# 100 TB: block split + densities are scan-stage regex arithmetic in
# the same Arrow pass as the parse; no new shuffle. The 500-permille
# threshold is the standard starting point; it is data here, not a
# buried constant.
# ---------------------------------------------------------------------------
_BLOCK_RE = re.compile(r"(?s)<(p|div)[^>]*>(.*?)</\1>")
_A_TEXT_RE = re.compile(r"(?s)<a [^>]*>(.*?)</a>")


def block_link_density_permille(block_html: str) -> int:
    """permille of visible characters that sit inside <a> tags."""
    link_chars = sum(len(extract_text(m)) for m in _A_TEXT_RE.findall(block_html))
    total = len(extract_text(block_html))
    return 1000 * link_chars // max(total, 1)


@register(
    "p_boilerplate_strip",
    oracle=f"""
    WITH body AS (
      SELECT doc_id,
        trim(regexp_replace(text, '\\s+', ' ', 'g')) AS kept,
        CAST(doc_id % 5 AS BIGINT) AS n_links
      FROM documents)
    SELECT doc_id,
      CAST(CASE WHEN n_links > 0 THEN 2 ELSE 1 END AS BIGINT) AS n_blocks,
      CAST(1 AS BIGINT) AS n_kept,
      -- each anchor's text is 6 chars ("link k"); the joined block
      -- adds n-1 separator spaces: density = 6000n // (7n - 1)
      CAST(CASE WHEN n_links > 0
                THEN 6000 * n_links // (7 * n_links - 1) ELSE -1 END
           AS BIGINT) AS dropped_density_permille,
      CAST(len(list_filter(str_split_regex(kept, '\\s+'), w -> w <> ''))
           AS BIGINT) AS n_words,
      {sql_portable_hash("kept")} AS kept_hash
    FROM body ORDER BY doc_id
    """,
)
def p_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage A builds the same real HTML as p_warc_extract's records;
    stage B splits blocks, measures link density, keeps blocks under
    500 permille. The title block lives in <head> (not a content
    block); the link list is wrapped as its own block for the census.
    Cited threshold: jusText's default link-density stopword is 0.5."""
    import pandas as pd

    from pyspark import cloudpickle as _cp
    import hive_clone_spark.pipeline.warc as _mod

    _cp.register_pickle_by_value(_mod)

    docs = spread(table(spark, sf_dir, "documents").select("doc_id", "text"))

    def strip_batches(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                html = synth_html(doc_id, str(text))
                # wrap the trailing link run as its own block so the
                # segmentation sees the page's two content units
                html2 = re.sub(
                    r"(?s)(</p>)(<a .*?</a>)(<!--)",
                    r"\1<div>\2</div>\3",
                    html,
                )
                blocks = [m.group(0) for m in _BLOCK_RE.finditer(html2)]
                kept_parts, dropped_density = [], -1
                for b in blocks:
                    d = block_link_density_permille(b)
                    if d < 500:
                        kept_parts.append(extract_text(b))
                    else:
                        dropped_density = max(dropped_density, d)
                kept = " ".join(kept_parts)
                rows.append(
                    (
                        doc_id,
                        len(blocks),
                        len(kept_parts),
                        dropped_density,
                        kept,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_blocks", "n_kept",
                    "dropped_density_permille", "kept",
                ],
            )

    out = docs.mapInPandas(
        strip_batches,
        "doc_id BIGINT, n_blocks BIGINT, n_kept BIGINT, "
        "dropped_density_permille BIGINT, kept STRING",
    )
    return out.select(
        "doc_id",
        "n_blocks",
        "n_kept",
        "dropped_density_permille",
        F.size(words_col(F.col("kept"))).cast("long").alias("n_words"),
        portable_hash(F.col("kept")).alias("kept_hash"),
    ).transform(ordered, "doc_id")
