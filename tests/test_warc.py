"""WARC source: record framing round trip (plain + concatenated-gzip), HTTP
header stripping, deterministic html→text extraction, the Spark
binaryFile → mapInPandas reader emitting the canonical pages schema, and
the pages table's byte-identical write → read round trip."""

import datetime as dt

import pytest

from minhash_spark.sources.pages import generate_corpus, write_pages, read_pages
from minhash_spark.sources.warc import (
    build_warc,
    html_to_text,
    parse_warc,
    read_warc,
)

TS = dt.datetime(2026, 2, 3, 4, 5, 6)
HTML_A = (
    b"<html><head><title>T</title><style>p{color:red}</style></head>"
    b"<body><script>var x=1;</script><p>Hello &amp; <b>world</b>!</p>\n"
    b"<p>second   line</p></body></html>"
)
HTML_B = b"<html><body>&lt;tag&gt; text &#39;quoted&#39;</body></html>"


def _archive(compress: bool) -> bytes:
    return build_warc(
        [
            ("https://a.example.com/x", TS, HTML_A),
            ("https://b.example.com/y", TS.replace(hour=9), HTML_B),
        ],
        compress=compress,
    )


@pytest.mark.parametrize("compress", [False, True])
def test_parse_roundtrip(compress):
    recs = parse_warc(_archive(compress))
    assert [r["url"] for r in recs] == [
        "https://a.example.com/x",
        "https://b.example.com/y",
    ]
    # HTTP status line + headers stripped, payload byte-identical
    assert recs[0]["payload"] == HTML_A
    assert recs[1]["payload"] == HTML_B
    assert recs[0]["warc_ts"] == TS
    assert all(r["record_type"] == "response" for r in recs)


def test_html_to_text_spec():
    assert html_to_text(HTML_A) == "Hello & world ! second line"
    assert html_to_text(HTML_B) == "<tag> text 'quoted'"
    assert html_to_text(b"") == ""
    assert html_to_text("no tags  at\nall") == "no tags at all"


def test_parse_tolerates_garbage():
    # pure garbage: no records, one counted parse error, no exception —
    # a bad file must not kill the Spark task (ADVICE r3)
    errs: list = []
    assert parse_warc(b"NOT A WARC FILE AT ALL................", errs) == []
    assert len(errs) == 1


def test_parse_resyncs_and_truncates():
    good = _archive(False)
    # leading garbage, then the archive, then a truncated record tail
    truncated = build_warc([("https://t.example.com/t", TS, HTML_A)], compress=False)
    blob = b"\x00\x01garbage" + good + truncated[: len(truncated) - 40]
    errs: list = []
    recs = parse_warc(blob, errs)
    # both full records recovered; the truncated tail dropped, errors counted
    assert [r["url"] for r in recs] == [
        "https://a.example.com/x",
        "https://b.example.com/y",
    ]
    assert len(errs) == 2  # one resync skip + one truncation
    # garbage BETWEEN records: resync recovers the following record
    blob2 = good + b"JUNKJUNKJUNK" + truncated
    recs2 = parse_warc(blob2)
    assert [r["url"] for r in recs2][-1] == "https://t.example.com/t"


def test_read_warc_spark(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("warc")
    (base / "part0.warc").write_bytes(_archive(False))
    (base / "part1.warc.gz").write_bytes(
        build_warc([("https://c.example.com/z", TS, HTML_A)], compress=True)
    )

    df = read_warc(spark, str(base))
    assert df.columns == ["url", "warc_ts", "html", "text", "lang"]
    rows = {r["url"]: r for r in df.collect()}
    assert set(rows) == {
        "https://a.example.com/x",
        "https://b.example.com/y",
        "https://c.example.com/z",
    }
    # html byte-identity per url, deterministic extracted text
    assert bytes(rows["https://a.example.com/x"]["html"]) == HTML_A
    assert rows["https://c.example.com/z"]["text"] == "Hello & world ! second line"
    assert rows["https://a.example.com/x"]["warc_ts"] == TS

    # the read feeds straight into the signature stage (pages contract)
    from minhash_spark.config import DedupConfig
    from minhash_spark.operators.signatures import with_minhash_signature

    sigs = with_minhash_signature(df.select("url", "text"), DedupConfig())
    got = sigs.select("url", "minhash").collect()
    # 128 packed little-endian int32 cells per document
    assert len(got) == 3 and all(len(r["minhash"]) == 4 * 128 for r in got)


def test_resync_not_fooled_by_warc_mention_in_garbage():
    # ADVICE r4: broken framing followed by garbage whose TEXT contains
    # 'WARC/1.0' (e.g. an HTTP body discussing the WARC format) must not be
    # resynced into a bogus record — the candidate's header block does not
    # parse, so the scanner skips it and recovers at the REAL next record.
    good = _archive(False)
    prose = (
        b"\x00\xffbroken"
        b"See the WARC/1.0\r\nspecification for details. It is great.\r\n"
        b"WARC/1.0\r\nnot a header line at all\r\n\r\n"
    )
    errs: list = []
    recs = parse_warc(prose + good, errs)
    assert [r["url"] for r in recs] == [
        "https://a.example.com/x",
        "https://b.example.com/y",
    ]
    assert len(errs) == 1  # exactly one resync skip over ALL the prose

    # a fabricated header block whose Content-Length would SWALLOW the real
    # record is rejected because its following line is not header-shaped
    trap = b"\x00junk WARC/1.0\r\nContent-Length: 99999\r\nplain prose\r\n\r\n"
    recs2 = parse_warc(trap + good)
    assert [r["url"] for r in recs2] == [
        "https://a.example.com/x",
        "https://b.example.com/y",
    ]


def test_text_byte_identity_roundtrip(spark, tmp_path_factory):
    """The per-row invariant (BASELINE input_hint): extracted text survives
    write → read byte-identically per url; html bytes too."""
    pages, _, _ = generate_corpus(200, seed=17)
    path = str(tmp_path_factory.mktemp("roundtrip") / "pages")
    write_pages(spark, pages, path)
    back = {
        r["url"]: (r["text"], bytes(r["html"]))
        for r in read_pages(spark, path).collect()
    }
    assert len(back) == 200
    for _, row in pages.iterrows():
        t, h = back[row["url"]]
        assert t == row["text"]
        assert h == row["html"]
