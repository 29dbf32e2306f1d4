"""WARC ingest gates: byte-identical round-trip, every HTTP framing path,
per-record corruption totality + resync, and the distributed encode.

The reader is the engine's Common-Crawl ingest seam (io/warc.py), so the
gates mirror the multimodal decoders' discipline: one bad record = one
error row, never a dead task; payload bytes survive framing round-trips
byte-identically (the B:15 byte-identity invariant starts at ingest)."""

from __future__ import annotations

from datetime import datetime

import pandas as pd
from pyspark.sql import Row
from pyspark.sql import functions as F

from wikidataquality_spark.io.warc import (
    build_warc,
    build_warc_record,
    encode_warc_partitions,
    iter_warc_records,
    read_warc,
    warc_to_documents,
)

TS1 = datetime(2025, 3, 2, 17, 40, 42)
TS2 = datetime(2025, 3, 3, 1, 2, 3)

HTML_A = "<html><body>héllo wörld — naïve 中文</body></html>".encode("utf-8")
HTML_B = b""
HTML_C = b"<html>gone</html>"


def _three_records() -> list[bytes]:
    return [
        build_warc_record("http://a.example/x", TS1, HTML_A),
        build_warc_record("http://b.example/", TS2, HTML_B),
        build_warc_record("http://c.example/404", TS1, HTML_C, status=404),
    ]


def _rows(blob: bytes):
    return list(iter_warc_records(blob, warc_file="f"))


def test_round_trip_plain_and_per_record_gzip():
    recs = _three_records()
    for per_gzip in (False, True):
        rows = _rows(build_warc(recs, per_record_gzip=per_gzip))
        assert [r["err"] for r in rows] == [None, None, None]
        assert [r["url"] for r in rows] == [
            "http://a.example/x",
            "http://b.example/",
            "http://c.example/404",
        ]
        assert rows[0]["html"] == HTML_A  # byte-identical through framing
        assert rows[1]["html"] == HTML_B
        assert rows[2]["html"] == HTML_C
        assert [r["http_status"] for r in rows] == [200, 200, 404]
        assert [r["warc_ts"] for r in rows] == [TS1, TS2, TS1]
        assert all(r["warc_type"] == "response" for r in rows)
        assert rows[0]["content_type"] == "text/html; charset=utf-8"
        # offsets are the decompressed-stream lineage pointers: strictly
        # increasing, first at 0
        offs = [r["record_offset"] for r in rows]
        assert offs[0] == 0 and offs == sorted(offs)


def test_unicode_url_and_null_fields_round_trip():
    # IRIs round-trip through UTF-8 headers (latin-1 would crash the writer)
    iri = "http://example.com/中文/ß?q=naïve"
    rows = _rows(build_warc([build_warc_record(iri, TS1, HTML_A)]))
    assert rows[0]["err"] is None and rows[0]["url"] == iri
    # NULL url omits WARC-Target-URI (never the string 'None'); None/NaT
    # timestamps fall back to the epoch instead of raising
    rows = _rows(build_warc([build_warc_record(None, None, HTML_C)]))
    assert rows[0]["err"] is None and rows[0]["url"] is None
    assert rows[0]["warc_ts"] == datetime(1970, 1, 1)
    assert rows[0]["html"] == HTML_C


def test_http_transfer_and_content_encodings_decode():
    # chunked, gzip, and chunked-over-gzip all decode back to the original
    recs = [
        build_warc_record("http://a.example/chunked", TS1, HTML_A, chunked=7),
        build_warc_record("http://a.example/gz", TS1, HTML_A, gzip_payload=True),
        build_warc_record(
            "http://a.example/both", TS1, HTML_A, chunked=5, gzip_payload=True
        ),
    ]
    rows = _rows(build_warc(recs))
    assert [r["err"] for r in rows] == [None, None, None]
    assert all(r["html"] == HTML_A for r in rows)


def test_corrupt_record_is_one_error_row_and_resyncs():
    good1, good2 = build_warc_record("http://a.example/1", TS1, HTML_A), (
        build_warc_record("http://a.example/2", TS2, HTML_C)
    )
    # bad Content-Length (points past EOF of its own block region)
    bad = good1.replace(b"WARC-Target-URI: http://a.example/1", b"WARC-Target-URI: http://bad.example/")
    bad = bad.replace(b"Content-Length: ", b"Content-Length: 9", 1)
    rows = _rows(bad + good2)
    assert len(rows) == 2
    assert rows[0]["err"] is not None and "truncated record block" in rows[0]["err"]
    assert rows[0]["url"] == "http://bad.example/"  # parsed headers preserved
    assert rows[0]["html"] is None
    assert rows[1]["err"] is None and rows[1]["url"] == "http://a.example/2"

    # garbage between records: one error row, following record still parses
    rows = _rows(b"not-a-warc-header\r\n\r\n" + good1)
    assert len(rows) == 2
    assert rows[0]["err"] is not None and "bad record version line" in rows[0]["err"]
    assert rows[1]["err"] is None and rows[1]["html"] == HTML_A


def test_unreadable_gzip_costs_exactly_one_error_row():
    blob = b"\x1f\x8b" + b"\x00" * 40
    rows = _rows(blob)
    assert len(rows) == 1
    assert rows[0]["err"] is not None and "gzip" in rows[0]["err"]
    # truncated member (valid prefix of a real stream)
    whole = build_warc(_three_records(), per_record_gzip=True)
    rows = _rows(whole[: len(whole) // 2])
    errs = [r for r in rows if r["err"] is not None]
    assert len(errs) == 1 and "truncated gzip member" in errs[0]["err"]


def test_non_response_records_pass_through_without_payload():
    info_block = b"software: test\r\n"
    info = (
        b"WARC/1.0\r\n"
        b"WARC-Type: warcinfo\r\n"
        b"WARC-Record-ID: <urn:x:1>\r\n"
        b"WARC-Date: 2025-03-02T17:40:42Z\r\n"
        b"Content-Type: application/warc-fields\r\n"
        b"Content-Length: %d\r\n\r\n" % len(info_block)
    ) + info_block + b"\r\n\r\n"
    conv = (
        b"WARC/1.0\r\n"
        b"WARC-Type: conversion\r\n"
        b"WARC-Record-ID: <urn:x:2>\r\n"
        b"WARC-Target-URI: http://a.example/wet\r\n"
        b"WARC-Date: 2025-03-02T17:40:42Z\r\n"
        b"Content-Type: text/plain\r\n"
        b"Content-Length: 5\r\n\r\n"
    ) + b"plain" + b"\r\n\r\n"
    rows = _rows(info + conv)
    assert [r["err"] for r in rows] == [None, None]
    assert rows[0]["warc_type"] == "warcinfo" and rows[0]["html"] is None
    # conversion (WET) records surface the block as the payload
    assert rows[1]["warc_type"] == "conversion" and rows[1]["html"] == b"plain"


def test_read_warc_and_projection(spark, tmp_path):
    d = tmp_path / "warc_in"
    d.mkdir()
    (d / "seg-00000.warc.gz").write_bytes(
        build_warc(_three_records(), per_record_gzip=True)
    )
    (d / "seg-00001.warc").write_bytes(
        build_warc([build_warc_record("http://d.example/", TS2, HTML_C)])
        + b"garbage-tail-that-is-not-a-record"
    )
    warc = read_warc(spark, str(d)).cache()
    rows = {r["url"]: r for r in warc.collect() if r["err"] is None}
    assert set(rows) == {
        "http://a.example/x",
        "http://b.example/",
        "http://c.example/404",
        "http://d.example/",
    }
    assert bytes(rows["http://a.example/x"]["html"]) == HTML_A
    errs = warc.filter(F.col("err").isNotNull()).collect()
    assert len(errs) == 1 and errs[0]["warc_file"].endswith("seg-00001.warc")

    docs = warc_to_documents(warc)
    assert set(docs.columns) == {"url", "warc_ts", "html", "text", "lang"}
    kept = {r["url"] for r in docs.collect()}
    # 404 and the error row are filtered; clean 2xx responses remain
    assert kept == {"http://a.example/x", "http://b.example/", "http://d.example/"}
    warc.unpersist()


def test_property_arbitrary_payloads_and_urls_round_trip():
    """Hypothesis: ANY payload bytes and any printable-ish url survive the
    encode→parse cycle — payload byte-identical, url identical up to the
    whitespace/CR-LF percent-encoding the header-injection guard applies.
    For urls with NO literal whitespace (every spec-clean RFC 3986 url,
    percent-encodings included) encode∘decode must be the IDENTITY — '%' is
    deliberately not escaped (r04 ADVICE: escaping it rewrote 'a%20b' to
    'a%2520b' on export, mutating url values on a write→read cycle)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        payload=st.binary(max_size=2048),
        url=st.text(min_size=1, max_size=80).map(lambda s: "http://e.x/" + s),
        gz=st.booleans(),
        chunked=st.integers(min_value=0, max_value=9),
    )
    def prop(payload, url, gz, chunked):
        rec = build_warc_record(url, TS1, payload, gzip_payload=gz, chunked=chunked)
        rows = list(iter_warc_records(build_warc([rec], per_record_gzip=True)))
        assert len(rows) == 1 and rows[0]["err"] is None
        assert rows[0]["html"] == payload
        import re

        expect = re.sub(
            r"[ \t\r\n\x0b\x0c]", lambda m: f"%{ord(m.group(0)):02X}", url
        )
        assert rows[0]["url"] == expect
        if not re.search(r"[ \t\r\n\x0b\x0c]", url):
            assert rows[0]["url"] == url  # identity on spec-clean urls

    prop()


def test_percent_encoded_urls_round_trip_verbatim():
    """The re-ingest value-identity contract: urls already carrying percent
    escapes (ubiquitous in real crawls) must come back byte-identical — the
    old '%'-escaping turned 'a%20b' into 'a%2520b' and shifted every
    url-keyed artifact (doc ids, url dedup, blocklist verdicts)."""
    urls = [
        "http://e.x/a%20b",
        "http://e.x/p?q=100%25+done",
        "http://e.x/%E4%B8%AD%E6%96%87/path",
    ]
    recs = [build_warc_record(u, TS1, b"x") for u in urls]
    rows = _rows(build_warc(recs, per_record_gzip=True))
    assert [r["err"] for r in rows] == [None] * 3
    assert [r["url"] for r in rows] == urls
    # documented residual collision: a spec-INVALID literal-space url
    # serializes identically to its pre-encoded twin
    r_ws = _rows(build_warc([build_warc_record("http://e.x/a b", TS1, b"x")]))
    assert r_ws[0]["url"] == "http://e.x/a%20b"


def test_empty_and_recordless_files_yield_one_error_row(spark, tmp_path):
    """Per-file totality: a zero-byte or record-less WARC costs exactly one
    error row instead of silently vanishing from the output (r04 ADVICE)."""
    assert [r["err"] for r in _rows(b"")] == ["warc: empty file"]
    assert [r["err"] for r in _rows(b"\r\n\r\n")] == ["warc: no records"]
    import zlib as _z

    comp = _z.compressobj(9, _z.DEFLATED, 31)
    empty_gz = comp.compress(b"") + comp.flush()
    assert [r["err"] for r in _rows(empty_gz)] == ["warc: no records"]

    # Spark-level: binaryFile DROPS zero-byte files before the parser ever
    # sees them (verified live; documented in read_warc), so the spark-side
    # totality gate uses a record-less-but-nonempty file
    d = tmp_path / "warcs"
    d.mkdir()
    (d / "good.warc").write_bytes(build_warc(_three_records()))
    (d / "padding.warc").write_bytes(b"\r\n\r\n")
    out = read_warc(spark, str(d)).collect()
    errs = [r for r in out if r["err"] is not None]
    assert len(errs) == 1 and errs[0]["warc_file"].endswith("padding.warc")
    assert errs[0]["err"] == "warc: no records"
    assert len([r for r in out if r["err"] is None]) == 3


def test_gunzip_many_small_members_feed_forward():
    """50 small per-record gzip members through the feed-forward decompressor
    (members ≪ _GZ_CHUNK, so every member boundary lands mid-feed and the
    unused_data carry path is exercised member-to-member)."""
    urls = [f"http://m.example/{i}" for i in range(50)]
    recs = [build_warc_record(u, TS1, f"payload-{u}".encode()) for u in urls]
    rows = _rows(build_warc(recs, per_record_gzip=True))
    assert [r["err"] for r in rows] == [None] * 50
    assert [r["url"] for r in rows] == urls
    assert rows[37]["html"] == b"payload-http://m.example/37"


def test_header_injection_is_neutralized():
    evil = "http://e.x/a\r\nWARC-Type: warcinfo\r\nX-Smuggled: yes"
    rows = _rows(build_warc([build_warc_record(evil, TS1, b"body")]))
    assert len(rows) == 1 and rows[0]["err"] is None
    assert rows[0]["warc_type"] == "response"  # nothing smuggled
    assert "%0D%0AWARC-Type" in rows[0]["url"]
    assert rows[0]["html"] == b"body"


def test_wet_ingest_round_trips_text_byte_exactly(spark, tmp_path):
    """WET conversion records → the extractor-canonical wrap → the DAG's
    extract() must invert it byte-for-byte, entities and all; malformed
    UTF-8 payloads are excluded rather than job-killing."""
    from wikidataquality_spark.io.warc import build_wet_record, wet_to_documents
    from wikidataquality_spark.operators.extract import extracted_text

    texts = {
        "http://w.example/1": "plain text\nwith lines",
        "http://w.example/2": "angle <main> & amp </main> brackets",
        "http://w.example/3": "literal entities: &amp; &lt;already&gt;",
        "http://w.example/4": "unicode — 中文 ß naïve",
    }
    recs = [build_wet_record(u, TS1, t) for u, t in texts.items()]
    # one malformed-UTF-8 conversion payload, hand-framed
    bad = (
        b"WARC/1.0\r\nWARC-Type: conversion\r\n"
        b"WARC-Record-ID: <urn:x:9>\r\n"
        b"WARC-Target-URI: http://w.example/bad\r\n"
        b"WARC-Date: 2025-03-02T17:40:42Z\r\n"
        b"Content-Type: text/plain\r\nContent-Length: 4\r\n\r\n"
        b"a\xff\xfeb" + b"\r\n\r\n"
    )
    d = tmp_path / "wet"
    d.mkdir()
    (d / "seg.warc.wet.gz").write_bytes(build_warc(recs + [bad], per_record_gzip=True))

    warc = read_warc(spark, str(d))
    docs = wet_to_documents(warc)
    rows = {
        r["url"]: r
        for r in docs.withColumn("roundtrip", extracted_text("html")).collect()
    }
    assert set(rows) == set(texts)  # malformed payload excluded, 4 kept
    for u, t in texts.items():
        assert rows[u]["text"] == t
        assert rows[u]["roundtrip"] == t  # extract() inverts the wrap exactly
        assert rows[u]["lang"] is None


def test_pipeline_from_wet_runs_the_full_dag(spark, tmp_path):
    import json
    import sys
    from io import StringIO

    # tools dir is on sys.path via conftest
    import run_pipeline

    from wikidataquality_spark.datagen import generate_pages
    from wikidataquality_spark.io.warc import build_wet_record

    pdf = generate_pages(30, seed=61)
    recs = [
        build_wet_record(u, ts.to_pydatetime(), t)
        for u, ts, t in zip(pdf["url"], pdf["warc_ts"], pdf["text"])
    ]
    d = tmp_path / "wet"
    d.mkdir()
    (d / "seg.warc.wet.gz").write_bytes(build_warc(recs, per_record_gzip=True))
    buf, old = StringIO(), sys.stdout
    sys.stdout = buf
    try:
        rc = run_pipeline.main(
            ["--input", str(d), "--input-format", "wet",
             "--output", str(tmp_path / "out"), "--metrics", str(tmp_path / "met")]
        )
    finally:
        sys.stdout = old
    res = json.loads([l for l in buf.getvalue().splitlines() if l.startswith("{")][-1])
    assert rc == 0 and res["docs"] == 30
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 30
    # the DAG really ran: language detection + keep decisions happened
    assert out.filter(F.col("lang_pred").isNotNull()).count() == 30
    assert 0 < out.filter("keep").count() < 30


def test_pipeline_from_warc_matches_parquet(spark, tmp_path):
    """--input-format warc runs the IDENTICAL validation DAG: same corpus
    fed once as parquet pages and once as a gzip WARC segment produces the
    same keep decisions and byte-identical scrubbed text per url."""
    import json
    import sys
    from io import StringIO

    # tools dir is on sys.path via conftest
    import run_pipeline

    from wikidataquality_spark.datagen import generate_pages

    pdf = generate_pages(40, seed=11)
    # warc_to_documents yields text/lang NULL (both are DAG products); the
    # parquet arm must carry the same NULLs for row-for-row comparability
    pdf["text"] = None
    pdf["lang"] = None
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    pq_dir = str(tmp_path / "pages.parquet")
    spark.createDataFrame(pdf, schema=schema).write.parquet(pq_dir)
    warc_dir = tmp_path / "crawl"
    warc_dir.mkdir()
    recs = [
        build_warc_record(u, ts.to_pydatetime(), bytes(h))
        for u, ts, h in zip(pdf["url"], pdf["warc_ts"], pdf["html"])
    ]
    (warc_dir / "seg-00000.warc.gz").write_bytes(build_warc(recs, per_record_gzip=True))

    def run(args):
        buf, old = StringIO(), sys.stdout
        sys.stdout = buf
        try:
            rc = run_pipeline.main(args)
        finally:
            sys.stdout = old
        line = [l for l in buf.getvalue().splitlines() if l.startswith("{")][-1]
        return rc, json.loads(line)

    out_pq, met_pq = str(tmp_path / "out_pq"), str(tmp_path / "met_pq")
    out_wc, met_wc = str(tmp_path / "out_wc"), str(tmp_path / "met_wc")
    rc1, res1 = run(["--input", pq_dir, "--output", out_pq, "--metrics", met_pq])
    rc2, res2 = run(
        ["--input", str(warc_dir), "--input-format", "warc",
         "--output", out_wc, "--metrics", met_wc]
    )
    assert rc1 == 0 and rc2 == 0
    assert res1["docs"] == res2["docs"] == 40

    cols = ["url", "warc_ts", "keep", "scrubbed_text", "lang_pred", "perplexity"]
    a = sorted(map(tuple, spark.read.parquet(out_pq).select(*cols).collect()))
    b = sorted(map(tuple, spark.read.parquet(out_wc).select(*cols).collect()))
    assert a == b


def test_pipeline_warc_dedups_recrawl_captures(spark, tmp_path):
    """The ingest path must collapse repeat captures of one url (earliest
    wins) before the DAG: its dedup anchors key on url, so two rows sharing
    a url could never flag each other, and the per-url byte-identity
    invariant would break."""
    import json
    import sys
    from io import StringIO

    # tools dir is on sys.path via conftest
    import run_pipeline

    from wikidataquality_spark.datagen import generate_pages

    pdf = generate_pages(4, seed=21)
    recs = [
        build_warc_record(u, ts.to_pydatetime(), bytes(h))
        for u, ts, h in zip(pdf["url"], pdf["warc_ts"], pdf["html"])
    ]
    # a later recrawl of page 0 with different bytes — must NOT survive
    recrawl_url = pdf["url"][0]
    recs.append(build_warc_record(recrawl_url, TS2, b"<html>recrawl</html>"))
    d = tmp_path / "crawl"
    d.mkdir()
    (d / "seg.warc.gz").write_bytes(build_warc(recs, per_record_gzip=True))

    buf, old = StringIO(), sys.stdout
    sys.stdout = buf
    try:
        rc = run_pipeline.main(
            ["--input", str(d), "--input-format", "warc",
             "--output", str(tmp_path / "out"), "--metrics", str(tmp_path / "met")]
        )
    finally:
        sys.stdout = old
    res = json.loads([l for l in buf.getvalue().splitlines() if l.startswith("{")][-1])
    assert rc == 0 and res["docs"] == 4  # 5 captures → 4 documents
    out = spark.read.parquet(str(tmp_path / "out"))
    dup_rows = out.filter(F.col("url") == recrawl_url).collect()
    assert len(dup_rows) == 1
    # earliest capture survives: its warc_ts is the original, not TS2
    assert dup_rows[0]["warc_ts"] == pdf["warc_ts"][0].to_pydatetime()


def test_encode_warc_partitions_round_trips(spark):
    schema = "url string, warc_ts timestamp, html binary"
    docs = spark.createDataFrame(
        [
            ("http://a.example/1", TS1, HTML_A),
            ("http://a.example/2", TS2, HTML_C),
            ("http://a.example/3", TS1, None),
            # NULL url + NULL ts arrive as None/NaT in pandas — the encode
            # must stay total (one such row used to kill the whole task)
            (None, None, HTML_B),
        ],
        schema=schema,
    ).repartition(2)
    out = encode_warc_partitions(docs).collect()
    assert sum(r["n_records"] for r in out) == 4
    assert 1 <= len(out) <= 2  # one blob row per non-empty partition
    parsed = [
        rec
        for r in out
        for rec in iter_warc_records(bytes(r["warc_blob"]), warc_file="p")
    ]
    assert all(r["err"] is None for r in parsed)
    by_url = {r["url"]: r for r in parsed}
    assert by_url["http://a.example/1"]["html"] == HTML_A
    assert by_url["http://a.example/2"]["html"] == HTML_C
    assert by_url["http://a.example/3"]["html"] == b""  # NULL html → empty body
    assert by_url["http://a.example/1"]["warc_ts"] == TS1
    # the NULL-url/NaT row survives as an anonymous epoch-dated record
    assert by_url[None]["html"] == HTML_B
    assert by_url[None]["warc_ts"] == datetime(1970, 1, 1)


def test_encoded_partitions_reingest_through_spark(spark, tmp_path):
    """Re-ingest gate on the Spark path: encode_warc_partitions → segment
    files → read_warc → warc_to_documents gives back every source row with
    a url, url/warc_ts/html byte for byte — a whitespace-bearing url as its
    documented %XX serialization (build_warc_record's _WS_RE contract),
    percent-encoded and unicode (IRI) urls verbatim — and filters the
    NULL-url row. Timestamps are whole seconds: WARC-Date has no finer
    resolution."""
    import re

    rows = [
        ("http://e.x/a%20b", TS1, HTML_A),
        ("http://e.x/p?q=100%25+done", TS2, HTML_C),
        ("http://e.x/%E4%B8%AD%E6%96%87/path", TS1, b"<p>encoded</p>"),
        ("http://e.x/a b\tc", TS2, b"<p>whitespace</p>"),
        ("http://example.com/中文/ß?q=naïve", TS1, HTML_A),
        ("http://e.x/empty", TS2, HTML_B),
        (None, TS1, HTML_C),
    ]
    docs = spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")
    docs = docs.repartition(3)
    d = tmp_path / "reingest"
    d.mkdir()
    for i, r in enumerate(encode_warc_partitions(docs).collect()):
        (d / f"seg-{i:05d}.warc.gz").write_bytes(bytes(r["warc_blob"]))
    back = warc_to_documents(read_warc(spark, str(d))).collect()

    def ws_escaped(url: str) -> str:
        return re.sub(r"[ \t\r\n\x0b\x0c]", lambda m: f"%{ord(m.group(0)):02X}", url)

    expect = sorted(
        (ws_escaped(r["url"]), r["warc_ts"], bytes(r["html"]))
        for r in docs.collect()
        if r["url"] is not None
    )
    got = sorted((r["url"], r["warc_ts"], bytes(r["html"])) for r in back)
    assert got == expect
    assert ("http://e.x/a%20b%09c", TS2, b"<p>whitespace</p>") in got


def test_wet_wrap_inversion_property():
    """Hypothesis: the extractor-canonical wrap is inverted by the REAL
    extractor for arbitrary unicode text — entities, angle brackets,
    embedded </main>, anything st.text generates."""
    import html as html_mod

    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from wikidataquality_spark.operators.extract import extract_text_series

    @settings(max_examples=120, deadline=None)
    @given(text=st.text(max_size=300))
    def prop(text):
        # the same wrap wet_to_documents builds in Column space, mirrored
        # in python (& first, then < and >) over one hypothesis example
        esc = text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        wrapped = ("<main>" + esc + "</main>").encode("utf-8")
        out = extract_text_series(pd.Series([wrapped]))
        assert out.iloc[0] == text
        # sanity on the mirror itself
        assert html_mod.unescape(esc) == text

    prop()
