"""WARC container ingest contract (operators/warc.py — round-10/11
verdict ask #1).

Crafted-fixture coverage the analytic catalog oracle can't plant without
breaking its one-row-per-doc shape: multi-record gzip members, truncated
member → quarantine + RESYNC at the next member, raw-stream (non-gzip)
files, malformed header / truncated block / missing trailer corruption
signatures, HTTP Content-Length trimming and truncation, non-HTML
content-type routing, and the charset ladder inside the HTML lane.
"""

from __future__ import annotations

import gzip

import pytest

from zio_analytics_spark.operators.warc import (
    encode_warc,
    encode_warc_record,
    parse_http_response,
    parse_warc_records,
    warc_html_lane,
    warc_records,
)


def _http(body: bytes, ctype: str = "text/html; charset=utf-8") -> bytes:
    return (
        f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode("ascii") + body


def _response(uri: str, body: bytes, ctype: str = "text/html; charset=utf-8"):
    return (
        {
            "WARC-Type": "response",
            "WARC-Target-URI": uri,
            "WARC-Date": "2026-01-01T00:00:00Z",
            "Content-Type": "application/http; msgtype=response",
        },
        _http(body, ctype),
    )


_BASIC = [
    ({"WARC-Type": "warcinfo", "Content-Type": "application/warc-fields"},
     b"software: test\r\n"),
    ({"WARC-Type": "request", "WARC-Target-URI": "https://ex.org/1",
      "Content-Type": "application/http; msgtype=request"},
     b"GET /1 HTTP/1.1\r\nHost: ex.org\r\n\r\n"),
    _response("https://ex.org/1", b"<html><body>one</body></html>"),
    ({"WARC-Type": "resource", "WARC-Target-URI": "https://ex.org/b.bin",
      "Content-Type": "application/octet-stream"}, b"\x00\x01\x02"),
]


def test_roundtrip_gzip_and_raw():
    for gz in (True, False):
        out = parse_warc_records(encode_warc(_BASIC, gzip_members=gz))
        assert [s for s, *_ in out] == ["ok"] * 4
        types = [h["warc-type"] for _, h, _, _ in out]
        assert types == ["warcinfo", "request", "response", "resource"]
        # resource block passes through verbatim (no HTTP parse)
        assert out[3][2] == b"\x00\x01\x02"


def test_multi_record_member():
    """A single gzip member holding several records (legal per ISO 28500
    even though Common Crawl writes one per member) walks fully."""
    raw = b"".join(encode_warc_record(h, b) for h, b in _BASIC)
    payload = gzip.compress(raw, mtime=0)
    out = parse_warc_records(payload)
    assert [s for s, *_ in out] == ["ok"] * 4


def test_truncated_member_quarantines_and_resyncs():
    members = [gzip.compress(encode_warc_record(h, b), mtime=0) for h, b in _BASIC]
    members[1] = members[1][:12]  # truncate the request member
    out = parse_warc_records(b"".join(members))
    assert [s for s, *_ in out] == ["ok", "err", "ok", "ok"]
    assert "gzip" in out[1][3]
    # the records AFTER the corrupt member still parsed
    assert out[2][1]["warc-type"] == "response"


def test_raw_corruption_signatures():
    good = encode_warc(_BASIC, gzip_members=False)
    # malformed version line: quarantine, tail unrecoverable in raw mode
    out = parse_warc_records(good.replace(b"WARC/1.0", b"JUNK/1.0", 1))
    assert out[0][0] == "err" and len(out) == 1
    # truncated block
    rec = encode_warc_record({"WARC-Type": "metadata"}, b"abcdef")
    out = parse_warc_records(rec[:-9])
    assert out[0][0] == "err" and "truncated" in out[0][3]
    # missing Content-Length
    bad = b"WARC/1.0\r\nWARC-Type: metadata\r\n\r\nbody\r\n\r\n"
    out = parse_warc_records(bad)
    assert out[0][0] == "err" and "Content-Length" in out[0][3]
    # header block never terminated
    out = parse_warc_records(b"WARC/1.0\r\nWARC-Type: metadata\r\n")
    assert out[0][0] == "err" and "not terminated" in out[0][3]


def test_http_parse_contract():
    st, hh, body = parse_http_response(_http(b"hello", "text/plain"))
    assert (st, hh["content-type"], body) == (200, "text/plain", b"hello")
    # Content-Length trims trailing junk
    block = _http(b"hello") + b"JUNKJUNK"
    assert parse_http_response(block)[2] == b"hello"
    # Content-Length longer than the bytes present -> corrupt contract
    with pytest.raises(ValueError, match="truncated"):
        parse_http_response(_http(b"hello")[:-2])
    with pytest.raises(ValueError, match="status line"):
        parse_http_response(b"NOT HTTP\r\n\r\nx")
    # 404 status + headerless body
    assert parse_http_response(b"HTTP/1.1 404 Not Found\r\n\r\ngone")[0] == 404


def test_warc_records_dataframe(spark):
    members_ok = encode_warc(_BASIC, gzip_members=True)
    broken = [gzip.compress(encode_warc_record(h, b), mtime=0) for h, b in _BASIC]
    broken[2] = broken[2][:10]
    df = spark.createDataFrame(
        [(1, bytearray(members_ok)), (2, bytearray(b"".join(broken)))],
        "file_id long, content binary",
    )
    rows = {(r["file_id"], r["rec_idx"]): r for r in warc_records(df).collect()}
    assert len(rows) == 8
    r = rows[(1, 2)]
    assert r["ok"] and r["warc_type"] == "response" and r["http_status"] == 200
    assert bytes(r["body"]) == b"<html><body>one</body></html>"
    assert r["target_uri"] == "https://ex.org/1"
    bad = rows[(2, 2)]
    assert not bad["ok"] and "gzip" in bad["error"] and bad["body"] is None
    # resource record after the corrupt member still present (resync)
    assert rows[(2, 3)]["ok"] and rows[(2, 3)]["warc_type"] == "resource"


def test_html_lane_charset_and_routing(spark):
    """The composed head: response+text/html rows only, charset ladder
    honored (declared Shift-JIS and lying ISO-8859-1 labels recover),
    non-HTML and non-response records routed away."""
    sj = "<html><body>日本語</body></html>".encode("shift_jis")
    cp = "<html><body>café</body></html>".encode("cp1252")
    recs = list(_BASIC) + [
        _response("https://ex.org/jp", sj, "text/html; charset=Shift_JIS"),
        _response("https://ex.org/fr", cp, "text/html; charset=ISO-8859-1"),
        _response("https://ex.org/api", b'{"a": 1}', "application/json"),
    ]
    df = spark.createDataFrame(
        [(7, bytearray(encode_warc(recs)))], "file_id long, content binary"
    )
    out = {r["target_uri"]: r for r in warc_html_lane(df).collect()}
    # 3 text/html responses; json, request, warcinfo, resource filtered
    assert set(out) == {"https://ex.org/1", "https://ex.org/jp", "https://ex.org/fr"}
    assert out["https://ex.org/jp"]["html"] == "<html><body>日本語</body></html>"
    assert out["https://ex.org/jp"]["charset"] == "shift_jis"
    assert out["https://ex.org/fr"]["html"] == "<html><body>café</body></html>"
    assert out["https://ex.org/fr"]["charset"] == "cp1252"
    assert all(r["ok"] for r in out.values())


def test_html_lane_media_type_is_case_insensitive(spark):
    """``Text/HTML`` is the same media type as ``text/html`` (RFC 9110
    §8.3.1), so both responses reach the lane."""
    recs = [
        _response("https://ex.org/lower", b"<p>a</p>", "text/html"),
        _response("https://ex.org/mixed", b"<p>b</p>", "Text/HTML; charset=utf-8"),
    ]
    df = spark.createDataFrame(
        [(3, bytearray(encode_warc(recs)))], "file_id long, content binary"
    )
    out = {r["target_uri"]: r["html"] for r in warc_html_lane(df).collect()}
    assert out == {"https://ex.org/lower": "<p>a</p>", "https://ex.org/mixed": "<p>b</p>"}


def test_html_lane_feeds_extraction(spark):
    """End-to-end composition: WARC bytes → html lane → html_text_expr —
    the llm_pipeline_v4 head on a crafted fixture."""
    from pyspark.sql import functions as F

    from zio_analytics_spark.operators.html import html_text_expr

    body = "<html><body><h1>Title</h1><p>caf&eacute; &amp; tea</p></body></html>"
    df = spark.createDataFrame(
        [(1, bytearray(encode_warc([_response("https://ex.org/x", body.encode())])))],
        "file_id long, content binary",
    )
    lane = warc_html_lane(df)
    got = lane.select(html_text_expr(F.col("html")).alias("t")).collect()[0]["t"]
    assert got == "Title café & tea"


# ---------------------------------------------------------------------
# CDX index (round 12)
# ---------------------------------------------------------------------

def test_cdx_fields_and_range_replay_gzip():
    """Every ok row's (offset, length) must slice the COMPRESSED member
    back out of the file byte-exactly: gunzip the span and the record
    replays — the contract a CDX range reader depends on."""
    import hashlib
    import zlib

    from zio_analytics_spark.operators.warc import parse_warc_cdx

    buf = encode_warc(_BASIC, gzip_members=True)
    rows = parse_warc_cdx(buf)
    assert [r["ok"] for r in rows] == [True] * 4
    resp = rows[2]
    assert resp["warc_type"] == "response"
    assert resp["target_uri"] == "https://ex.org/1"
    assert resp["ts"] == "20260101000000"
    assert resp["mime"] == "text/html"
    assert resp["http_status"] == 200
    assert resp["digest"] == hashlib.md5(b"<html><body>one</body></html>").hexdigest()
    # non-http records digest the raw block; mime is the WARC content-type
    assert rows[0]["mime"] == "application/warc-fields"
    assert rows[3]["digest"] == hashlib.md5(b"\x00\x01\x02").hexdigest()
    # spans tile the file and each replays independently
    assert rows[0]["offset"] == 0
    assert sum(r["length"] for r in rows) == len(buf)
    for r, (hdrs, block) in zip(rows, _BASIC):
        span = buf[r["offset"] : r["offset"] + r["length"]]
        replay = zlib.decompress(span, 47)
        assert replay == encode_warc_record(hdrs, block)


def test_cdx_raw_mode_spans():
    from zio_analytics_spark.operators.warc import parse_warc_cdx

    buf = encode_warc(_BASIC, gzip_members=False)
    rows = parse_warc_cdx(buf)
    assert [r["ok"] for r in rows] == [True] * 4
    assert sum(r["length"] for r in rows) == len(buf)
    for r, (hdrs, block) in zip(rows, _BASIC):
        assert buf[r["offset"] : r["offset"] + r["length"]] == encode_warc_record(
            hdrs, block
        )


def test_cdx_corrupt_member_row_carries_span():
    from zio_analytics_spark.operators.warc import parse_warc_cdx

    good = gzip.compress(encode_warc_record(*_BASIC[0]), mtime=0)
    bad = bytearray(gzip.compress(encode_warc_record(*_BASIC[2]), mtime=0))
    bad[12] ^= 0xFF  # corrupt the deflate stream, keep the magic
    tail = gzip.compress(encode_warc_record(*_BASIC[3]), mtime=0)
    buf = good + bytes(bad) + tail
    rows = parse_warc_cdx(buf)
    assert [r["ok"] for r in rows] == [True, False, True]
    assert rows[1]["offset"] == len(good)
    assert rows[0]["length"] == len(good) and rows[2]["length"] == len(tail)
    assert "corrupt gzip member" in rows[1]["error"]


def test_warc_cdx_dataframe(spark):
    from pyspark.sql import functions as F

    from zio_analytics_spark.operators.url import surt_key_expr
    from zio_analytics_spark.operators.warc import warc_cdx

    buf = encode_warc(_BASIC, gzip_members=True)
    df = spark.createDataFrame([(1, bytearray(buf))], "file_id long, content binary")
    rows = (
        warc_cdx(df)
        .withColumn("urlkey", surt_key_expr(F.col("target_uri")))
        .orderBy("rec_idx")
        .collect()
    )
    assert len(rows) == 4
    assert rows[2]["urlkey"] == "org,ex)/1"
    assert rows[2]["http_status"] == 200
    assert rows[2]["offset"] > 0 and rows[2]["length"] > 0


def _crawl(pages):
    """pages: list of (uri, body_str) → one gzip-member WARC file's bytes."""
    recs = []
    for uri, body in pages:
        b = body.encode("utf-8")
        http = (
            f"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
            f"Content-Length: {len(b)}\r\n\r\n"
        ).encode("ascii") + b
        recs.append((
            {"WARC-Type": "response", "WARC-Target-URI": uri,
             "WARC-Date": "2026-02-01T00:00:00Z",
             "Content-Type": "application/http; msgtype=response"},
            http,
        ))
    return encode_warc(recs, gzip_members=True)


def test_recrawl_delta_classification_and_cost(spark):
    """Change detection + the O(delta) contract: unchanged pages never
    reach the fetch/extract stage (span count == changed + new)."""
    from pyspark.sql import functions as F

    from zio_analytics_spark.operators.url import surt_key_expr
    from zio_analytics_spark.operators.warc import (
        fetch_member_records,
        recrawl_delta,
        warc_cdx,
    )

    prior = _crawl([
        ("https://ex.org/a", "<title>A</title>old"),
        ("https://ex.org/b", "<title>B</title>same"),
        ("https://ex.org/c", "<title>C</title>same"),
    ])
    new = _crawl([
        ("https://ex.org/a", "<title>A2</title>NEW BODY"),   # changed
        ("https://ex.org/b", "<title>B</title>same"),        # unchanged
        ("https://ex.org/c", "<title>C</title>same"),        # unchanged
        ("https://ex.org/d", "<title>D</title>brand new"),   # new
    ])
    mk = lambda b: spark.createDataFrame(  # noqa: E731
        [(1, bytearray(b))], "file_id long, content binary"
    )
    key = lambda ix: ix.where(F.col("ok")).withColumn(  # noqa: E731
        "urlkey", surt_key_expr(F.col("target_uri"))
    )
    new_files = mk(new)
    delta = recrawl_delta(key(warc_cdx(new_files)), key(warc_cdx(mk(prior))))
    verdicts = {r.urlkey.split("/")[-1]: r.change_status for r in delta.collect()}
    assert verdicts == {"a": "changed", "b": "unchanged",
                        "c": "unchanged", "d": "new"}

    todo = delta.where(F.col("change_status") != "unchanged")
    # THE cost contract: exactly the changed+new spans replay — never the
    # unchanged ones, never a second full walk
    assert todo.count() == 2
    fetched = fetch_member_records(
        new_files, todo.select("file_id", "offset", "length")
    )
    rows = fetched.collect()
    assert len(rows) == 2
    got = {r.target_uri.split("/")[-1]: bytes(r.body) for r in rows}
    assert got["a"] == b"<title>A2</title>NEW BODY"
    assert got["d"] == b"<title>D</title>brand new"
    assert all(r.http_status == 200 for r in rows)


def test_recrawl_delta_prior_dedup_latest_capture_wins(spark):
    """A prior index with multiple captures of the same urlkey must
    classify against the LATEST capture's digest."""
    from pyspark.sql import functions as F

    from zio_analytics_spark.operators.url import surt_key_expr
    from zio_analytics_spark.operators.warc import recrawl_delta, warc_cdx

    old1 = _crawl([("https://ex.org/a", "v1")])
    old2 = _crawl([("https://ex.org/a", "v2")])
    new = _crawl([("https://ex.org/a", "v2")])  # matches the LATEST capture

    key = lambda ix: ix.where(F.col("ok")).withColumn(  # noqa: E731
        "urlkey", surt_key_expr(F.col("target_uri"))
    )

    def cdx(b, ts):
        df = spark.createDataFrame(
            [(1, bytearray(b))], "file_id long, content binary"
        )
        return key(warc_cdx(df)).withColumn("ts", F.lit(ts))

    prior = cdx(old1, "20260101000000").unionByName(cdx(old2, "20260115000000"))
    delta = recrawl_delta(cdx(new, "20260201000000"), prior)
    assert [r.change_status for r in delta.collect()] == ["unchanged"]


def test_cdx_raw_mode_resyncs_after_malformed_record():
    """Raw (non-gzip) CDX indexing quarantines ONLY the malformed span and
    resumes at the next 'WARC/' magic — the same granularity as the gzip
    branch's member-by-member resync (round-12 ADVICE)."""
    from zio_analytics_spark.operators.warc import parse_warc_cdx

    good1 = encode_warc_record(
        {"WARC-Type": "resource", "WARC-Target-URI": "https://ex.org/1"}, b"one"
    )
    garbage = b"this is not a record at all\r\n\r\n"
    good2 = encode_warc_record(
        {"WARC-Type": "resource", "WARC-Target-URI": "https://ex.org/2"}, b"two"
    )
    rows = parse_warc_cdx(good1 + garbage + good2)
    assert [r["ok"] for r in rows] == [True, False, True]
    assert rows[2]["target_uri"] == "https://ex.org/2"
    # the quarantine span covers exactly the skipped garbage
    assert rows[1]["offset"] == len(good1)
    assert rows[1]["length"] == len(garbage)
