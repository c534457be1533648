"""WARC (Web ARChive, ISO 28500) source — the container format Common Crawl
actually ships, parsed in pure Python/numpy (no warcio dependency).

Reader path is Spark-idiomatic for an unsplittable record format:
``spark.read.format("binaryFile")`` scans the *.warc / *.warc.gz files (one
task per file — WARC members are not splittable mid-stream, exactly like
.gz text files), and a mapInPandas stage parses records and emits the
engine's canonical pages schema (url, warc_ts, html, text, lang). Dedup
then proceeds on the extracted text. At crawl scale parallelism comes from
file count (Common Crawl segments are ~1 GB × ~64k files per crawl), which
is the same execution shape the format gets in every production reader.

The parser understands:
- plain and gzipped archives (including the standard member-per-record
  concatenated-gzip layout — ``gzip.decompress`` consumes all members);
- WARC/1.0 and 1.1 named-field headers, Content-Length framing;
- ``response`` records carrying an HTTP response: status line + headers are
  stripped, the body is the page payload (``html``);
- ``resource``/``conversion`` records: payload used as-is.

``html_to_text`` is the deterministic extraction used for the ``text``
column: drop script/style/head blocks, strip tags, decode the common
entities, collapse whitespace. It is intentionally simple and FIXED — the
per-row invariant of this engine is byte-stable extracted text per url, so
determinism beats cleverness; swap in a real boilerplate remover per corpus
if needed.

A ``build_warc`` writer emits spec-shaped archives for tests (plain or
gzip), so the round trip is validated with self-generated vectors.
"""

from __future__ import annotations

import datetime as _dt
import gzip as _gzip
import re
from collections.abc import Iterator

import pandas as pd

_CRLF = b"\r\n"


# --------------------------------------------------------------------------
# parsing
# --------------------------------------------------------------------------

# no ^ anchor: Pattern.match(data, pos) anchors at pos itself (a ^ would
# only match at pos 0 / after a newline in MULTILINE mode)
_VERSION_RE = re.compile(rb"WARC/\d+(\.\d+)?\r\n")
# RFC 7230 token characters for a header field name
_HEADER_LINE_RE = re.compile(rb"^[!#$%&'*+.^_`|~0-9A-Za-z-]+:")


def _looks_like_record(data: bytes, cand: int) -> bool:
    """True if `cand` plausibly begins a REAL WARC record: an exact
    ``WARC/<version>\\r\\n`` line followed by a header block (every line a
    ``name: value`` header, terminated by a blank line) that carries a
    numeric Content-Length. Prose that merely mentions 'WARC/1.0' fails
    this — its following lines are not all header-shaped."""
    m = _VERSION_RE.match(data, cand)
    if not m:
        return False
    hdr_end = data.find(_CRLF + _CRLF, cand)
    if hdr_end < 0:
        return False
    lines = data[m.end() : hdr_end].split(_CRLF)
    if not lines or not all(_HEADER_LINE_RE.match(ln) for ln in lines):
        return False
    headers = {}
    for ln in lines:
        k, v = ln.split(b":", 1)
        headers[k.strip().lower()] = v.strip()
    return headers.get(b"content-length", b"").isdigit()


def _find_record_boundary(data: bytes, start: int) -> int:
    """Next offset that plausibly begins a real WARC record (validated by
    `_looks_like_record`, not just the magic bytes — a payload that happens
    to contain the text 'WARC/1.0' must not be resynced into a bogus record
    whose fabricated headers/payload would enter the corpus). -1 if none."""
    pos = start
    while True:
        cand = data.find(b"WARC/", pos)
        if cand < 0:
            return -1
        pos = cand + 1
        if _looks_like_record(data, cand):
            return cand


def parse_warc(data: bytes, errors_out: list | None = None) -> list[dict]:
    """Parse a WARC archive (plain or gzipped bytes) into a list of dicts:
    {url, warc_ts (datetime|None), record_type, payload (bytes)}. Only
    records with a WARC-Target-URI are returned (warcinfo/request records
    are skipped).

    Malformed framing is TOLERATED, not fatal: real Common-Crawl archives
    contain truncated tails and inter-record garbage, and raising here would
    kill the whole file's Spark task (and with default retry semantics, the
    job). On a framing error the parser resynchronizes at the next
    ``WARC/`` magic (or stops at end of data); every skip/truncation is
    counted into `errors_out` (append count per event) when provided."""
    if data[:2] == b"\x1f\x8b":
        data = _gzip.decompress(data)

    def _err():
        if errors_out is not None:
            errors_out.append(1)

    records = []
    pos = 0
    n = len(data)
    while pos < n:
        # tolerate inter-record CRLFs
        while pos < n and data[pos : pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            break
        if not data.startswith(b"WARC/", pos):
            # garbage between records: resync at the next record BOUNDARY,
            # not at any 'WARC/' substring — a payload that merely mentions
            # 'WARC/1.0' (an HTTP body discussing WARC) must not be resynced
            # into a bogus record with fabricated headers. A candidate must
            # sit at start-of-line AND its header block must actually parse
            # (version line + a Content-Length header before the blank line).
            _err()
            nxt = _find_record_boundary(data, pos + 1)
            if nxt < 0:
                break
            pos = nxt
            continue
        hdr_end = data.find(_CRLF + _CRLF, pos)
        if hdr_end < 0:
            # truncated header block at end of archive
            _err()
            break
        header_block = data[pos : hdr_end].decode("utf-8", "replace")
        headers: dict[str, str] = {}
        for line in header_block.split("\r\n")[1:]:
            if ":" in line:
                k, v = line.split(":", 1)
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get("content-length", "0"))
        except ValueError:
            _err()
            pos = hdr_end + 4
            continue
        body_start = hdr_end + 4
        body = data[body_start : body_start + length]
        if len(body) < length:
            # truncated final record: the declared payload ran past EOF
            _err()
            break
        pos = body_start + length

        rtype = headers.get("warc-type", "")
        url = headers.get("warc-target-uri")
        if url is not None and rtype in ("response", "resource", "conversion"):
            payload = body
            if rtype == "response" and body[:5] in (b"HTTP/", b"http/"):
                # strip the HTTP status line + headers
                sep = body.find(_CRLF + _CRLF)
                payload = body[sep + 4 :] if sep >= 0 else b""
            ts = None
            raw_ts = headers.get("warc-date")
            if raw_ts:
                ts = _dt.datetime.fromisoformat(raw_ts.replace("Z", "+00:00")).replace(
                    tzinfo=None
                )
            records.append(
                {"url": url, "warc_ts": ts, "record_type": rtype, "payload": payload}
            )
    return records


_RE_DROP = re.compile(
    r"(?is)<(script|style|head)\b[^>]*>.*?</\1\s*>"
)
_RE_TAG = re.compile(r"(?s)<[^>]*>")
_RE_WS = re.compile(r"\s+")
_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),  # last, so double-escapes resolve one level only
]


def html_to_text(html: bytes | str) -> str:
    """Deterministic html → text extraction (see module docstring)."""
    s = html.decode("utf-8", "replace") if isinstance(html, (bytes, bytearray)) else html
    s = _RE_DROP.sub(" ", s)
    s = _RE_TAG.sub(" ", s)
    for ent, rep in _ENTITIES:
        s = s.replace(ent, rep)
    return _RE_WS.sub(" ", s).strip()


# --------------------------------------------------------------------------
# Spark reader
# --------------------------------------------------------------------------

def read_warc(spark, path: str, extract_text: bool = True):
    """WARC directory/glob → DataFrame(url, warc_ts, html, text, lang) — the
    engine's canonical pages schema. One task per archive file (binaryFile
    source; WARC members aren't splittable), record parsing + text
    extraction Arrow-batched in mapInPandas."""
    from ..streaming.incremental import PAGES_SCHEMA

    files = spark.read.format("binaryFile").load(path).select("path", "content")

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                for rec in parse_warc(bytes(content)):
                    rows.append(
                        (
                            rec["url"],
                            rec["warc_ts"],
                            rec["payload"],
                            html_to_text(rec["payload"]) if extract_text else None,
                            None,
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return files.mapInPandas(_parse, PAGES_SCHEMA)


# --------------------------------------------------------------------------
# writer (test vectors)
# --------------------------------------------------------------------------

def build_warc(
    records: list[tuple[str, _dt.datetime, bytes]], compress: bool = False
) -> bytes:
    """Build a WARC/1.0 archive of ``response`` records from (url, ts,
    html_payload) tuples — each payload wrapped in a minimal HTTP/1.1 200
    response, headers Content-Length-framed per spec. With compress=True the
    archive is one gzip member per record concatenated (the Common Crawl
    layout)."""
    members = []
    for i, (url, ts, payload) in enumerate(records):
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nContent-Length: "
            + str(len(payload)).encode()
            + _CRLF * 2
            + payload
        )
        header = (
            "WARC/1.0\r\n"
            f"WARC-Type: response\r\n"
            f"WARC-Record-ID: <urn:uuid:deadbeef-0000-0000-0000-{i:012d}>\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n"
            f"Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(http)}\r\n\r\n"
        ).encode()
        member = header + http + _CRLF * 2
        members.append(_gzip.compress(member) if compress else member)
    return b"".join(members)
