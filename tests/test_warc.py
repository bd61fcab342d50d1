"""sources/warc.py — WARC container parsing (tolerance is the contract)."""

from __future__ import annotations

import gzip

import pytest

from hades_spark.sources.warc import (
    iter_warc_records,
    make_http_response,
    make_warc_bytes,
    parse_warc_date,
    split_http_response,
    warc_pages_df,
    warc_records_df,
)


def _fixture_records():
    return [
        {"warc_type": "warcinfo", "payload": b"software: fixture\r\n"},
        {"warc_type": "request", "url": "https://e.com/a",
         "payload": b"GET /a HTTP/1.1\r\n\r\n"},
        {"warc_type": "response", "url": "https://e.com/a",
         "date": "2024-03-01T10:00:00Z",
         "payload": make_http_response(b"<html>hello A</html>"),
         "headers": {"Content-Type": "application/http; msgtype=response"}},
        {"warc_type": "response", "url": "https://e.com/b",
         "date": "2024-03-01T10:00:05Z",
         "payload": make_http_response(b"gone", status=404),
         "headers": {"Content-Type": "application/http; msgtype=response"}},
    ]


class TestWarcParser:
    @pytest.mark.parametrize("mode", ["none", "whole", "member"])
    def test_roundtrip_all_compress_modes(self, mode):
        blob = make_warc_bytes(_fixture_records(), compress=mode)
        recs = list(iter_warc_records(blob))
        assert [r["headers"]["warc-type"] for r in recs] == \
            ["warcinfo", "request", "response", "response"]
        assert recs[2]["headers"]["warc-target-uri"] == "https://e.com/a"
        status, hh, body = split_http_response(recs[2]["payload"])
        assert (status, body) == (200, b"<html>hello A</html>")
        assert hh["content-type"] == "text/html"

    def test_http_split_non_http_payload(self):
        status, hh, body = split_http_response(b"not an http message")
        assert status is None and body == b"not an http message"

    def test_date_parse(self):
        import datetime as dt

        assert parse_warc_date("2024-03-01T10:00:00Z") == \
            dt.datetime(2024, 3, 1, 10, 0, 0)
        assert parse_warc_date("2024-03-01T10:00:00.123456Z") == \
            dt.datetime(2024, 3, 1, 10, 0, 0, 123456)
        assert parse_warc_date("not a date") is None
        assert parse_warc_date(None) is None

    def test_garbage_between_records_resyncs(self):
        recs = _fixture_records()
        a = make_warc_bytes(recs[:2])
        b = make_warc_bytes(recs[2:])
        blob = a + b"\x00GARBAGE not a record\xff\xfe" + b
        parsed = list(iter_warc_records(blob))
        assert [r["headers"]["warc-type"] for r in parsed] == \
            ["warcinfo", "request", "response", "response"]

    def test_bad_content_length_skips_record_only(self):
        blob = (b"WARC/1.0\r\nWARC-Type: metadata\r\n"
                b"Content-Length: NaN\r\n\r\nxx\r\n\r\n"
                + make_warc_bytes(_fixture_records()[:1]))
        parsed = list(iter_warc_records(blob))
        assert [r["headers"]["warc-type"] for r in parsed] == ["warcinfo"]

    def test_truncated_tail_stops_silently(self):
        blob = make_warc_bytes(_fixture_records())
        for cut in (len(blob) - 10, len(blob) // 2, 7, 1):
            parsed = list(iter_warc_records(blob[:cut]))  # must not raise
            assert all(r["headers"].get("content-length") is not None
                       for r in parsed)

    def test_corrupt_gzip_yields_nothing(self):
        blob = make_warc_bytes(_fixture_records(), compress="whole")
        assert list(iter_warc_records(blob[:2] + b"\x00" * 10)) == []

    def test_mutation_fuzz_never_raises(self):
        blob = bytearray(make_warc_bytes(_fixture_records()))
        for i in range(0, len(blob), 13):
            mutated = bytes(blob[:i]) + bytes([blob[i] ^ 0xFF]) \
                + bytes(blob[i + 1:])
            list(iter_warc_records(mutated))        # tolerance contract

    def test_header_continuation_lines(self):
        blob = (b"WARC/1.0\r\nWARC-Type: metadata\r\n"
                b"X-Long: first\r\n  folded tail\r\n"
                b"Content-Length: 2\r\n\r\nok\r\n\r\n")
        recs = list(iter_warc_records(blob))
        assert recs[0]["headers"]["x-long"] == "first folded tail"
        assert recs[0]["payload"] == b"ok"


class TestWarcSpark:
    def test_records_and_pages_df(self, spark, tmp_path):
        (tmp_path / "f1.warc.gz").write_bytes(
            make_warc_bytes(_fixture_records(), compress="member"))
        (tmp_path / "f2.warc").write_bytes(
            make_warc_bytes([{
                "warc_type": "response", "url": "https://e.com/c",
                "date": "2024-03-02T00:00:00Z",
                "payload": make_http_response(b"page C"),
                "headers": {"Content-Type":
                            "application/http; msgtype=response"}}]))
        recs = warc_records_df(spark, str(tmp_path))
        assert recs.count() == 5
        by_url = {r["url"]: r for r in recs.collect()}
        assert by_url["https://e.com/a"] is not None
        # HTTP split happened on response records: payload is the body,
        # content_type comes from the HTTP headers, status filled
        resp = [r for r in recs.collect()
                if r["warc_type"] == "response" and r["http_status"] == 200]
        assert sorted(bytes(r["payload"]) for r in resp) == \
            [b"<html>hello A</html>", b"page C"]
        assert all(r["content_type"] == "text/html" for r in resp)

        pages = warc_pages_df(spark, str(tmp_path))
        rows = {r["url"]: r for r in pages.collect()}
        # 404 response and non-response records are dropped
        assert sorted(rows) == ["https://e.com/a", "https://e.com/c"]
        assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
        assert bytes(rows["https://e.com/a"]["html"]) == \
            b"<html>hello A</html>"

    def test_pages_feed_extraction(self, spark, tmp_path):
        # the parsed pages flow straight into the existing extractor seam
        from hades_spark.functions.html_text import with_extracted_text

        (tmp_path / "f.warc.gz").write_bytes(make_warc_bytes([{
            "warc_type": "response", "url": "https://e.com/x",
            "payload": make_http_response(
                b"<html><body><p>Alpha beta.</p></body></html>"),
            "headers": {"Content-Type":
                        "application/http; msgtype=response"}}],
            compress="member"))
        pages = warc_pages_df(spark, str(tmp_path)).drop("text")
        out = with_extracted_text(pages).collect()
        assert "Alpha beta." in out[0]["text"]


class TestHttpCodings:
    """split_http_response — chunked transfer coding + content encodings."""

    def _msg(self, body: bytes, extra: str) -> bytes:
        return (f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                f"{extra}\r\n\r\n").encode("latin-1") + body

    def test_chunked(self):
        chunks = b"5\r\nhello\r\n6\r\n world\r\n0\r\n\r\n"
        status, hh, body = split_http_response(
            self._msg(chunks, "Transfer-Encoding: chunked"))
        assert (status, body) == (200, b"hello world")

    def test_chunked_with_extensions_and_truncation(self):
        ext = b"5;name=v\r\nhello\r\nA\r\ntrunc"
        _, _, body = split_http_response(
            self._msg(ext, "Transfer-Encoding: chunked"))
        assert body == b"hellotrunc"          # decoded prefix, no raise
        bad = b"ZZ\r\nxx\r\n0\r\n\r\n"
        _, _, body = split_http_response(
            self._msg(bad, "Transfer-Encoding: chunked"))
        assert body == b""                    # malformed size: stop clean

    def test_content_encoding_gzip_and_deflate(self):
        import gzip as _gz
        import zlib

        plain = b"<html>compressed page</html>"
        _, _, body = split_http_response(
            self._msg(_gz.compress(plain), "Content-Encoding: gzip"))
        assert body == plain
        _, _, body = split_http_response(
            self._msg(zlib.compress(plain), "Content-Encoding: deflate"))
        assert body == plain
        # raw-deflate variant (IE-era servers) also handled
        raw = zlib.compressobj(wbits=-zlib.MAX_WBITS)
        _, _, body = split_http_response(self._msg(
            raw.compress(plain) + raw.flush(), "Content-Encoding: deflate"))
        assert body == plain

    def test_chunked_then_gzip_composes(self):
        import gzip as _gz

        plain = b"chunked and gzipped"
        gz = _gz.compress(plain)
        chunks = (f"{len(gz):x}\r\n".encode() + gz + b"\r\n0\r\n\r\n")
        _, _, body = split_http_response(self._msg(
            chunks,
            "Transfer-Encoding: chunked\r\nContent-Encoding: gzip"))
        assert body == plain

    def test_corrupt_encoding_falls_back_to_raw(self):
        _, _, body = split_http_response(
            self._msg(b"not gzip", "Content-Encoding: gzip"))
        assert body == b"not gzip"


class TestGzipTolerance:
    """review finding: a bad trailing member must not lose the file."""

    def test_truncated_trailing_member_keeps_intact_records(self):
        good = make_warc_bytes(_fixture_records(), compress="member")
        extra = make_warc_bytes([{
            "warc_type": "response", "url": "https://e.com/tail",
            "payload": make_http_response(b"tail page"),
            "headers": {"Content-Type": "application/http"}}],
            compress="member")
        for bad_tail in (extra[: len(extra) // 2],      # truncated member
                         b"\x1f\x8b\x00corrupt"):        # corrupt member
            parsed = list(iter_warc_records(good + bad_tail))
            assert [r["headers"]["warc-type"] for r in parsed] == \
                ["warcinfo", "request", "response", "response"]

    def test_naive_warc_date_is_utc_not_local(self):
        import datetime as dt

        # zone-less dirt: interpreted as UTC, never the executor's zone
        assert parse_warc_date("2024-03-01T10:00:00") == \
            dt.datetime(2024, 3, 1, 10, 0, 0)
        # explicit offsets still convert
        assert parse_warc_date("2024-03-01T10:00:00+02:00") == \
            dt.datetime(2024, 3, 1, 8, 0, 0)


class TestWarcToKg:
    """End-to-end: the WARC front door feeds the KG pipeline with
    byte-identical html — edges match the direct-synthesis run exactly."""

    def test_warc_roundtrip_preserves_kg_edges(self, spark, tmp_path):
        from hades_spark.pipeline.corpus import gen_pages, pages_df
        from hades_spark.pipeline.kg import canonical_triples, distinct_edges

        n = 120   # spans html/markdown/latex routing + the invalid-utf8
                  # page (i % 97 == 13) that must survive HTTP+gzip intact
        pages = gen_pages(n, compute_text=False)
        groups: dict[int, list] = {k: [] for k in range(4)}
        for i, p in enumerate(pages):
            groups[i % 4].append({
                "warc_type": "response", "url": p.url,
                "date": p.warc_ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
                "payload": make_http_response(p.html),
                "headers": {"Content-Type": "application/http"}})
        for k, recs in groups.items():
            (tmp_path / f"p{k}.warc.gz").write_bytes(
                make_warc_bytes(recs, compress="member"))

        from_warc = warc_pages_df(spark, str(tmp_path))
        direct = pages_df(spark, n, with_text=False)

        a = {r["url"]: (bytes(r["html"]), r["warc_ts"])
             for r in from_warc.collect()}
        b = {r["url"]: (bytes(r["html"]), r["warc_ts"])
             for r in direct.collect()}
        assert a == b                      # byte-identical html + exact ts

        e_warc = sorted(map(tuple, distinct_edges(
            canonical_triples(from_warc)).collect()))
        e_direct = sorted(map(tuple, distinct_edges(
            canonical_triples(direct)).collect()))
        assert len(e_warc) > 0
        assert e_warc == e_direct


class TestWarcSubmit:
    def test_submit_entry_reads_warc_input(self, tmp_path):
        """Deployment seam: submit_kg.py --input-format warc ingests raw
        crawl files and produces edges (full pipeline in a fresh JVM)."""
        import json
        import os
        import subprocess

        from hades_spark.pipeline.corpus import gen_pages

        warc_dir = tmp_path / "crawl"
        warc_dir.mkdir()
        pages = gen_pages(60, compute_text=False)
        for k in range(2):
            recs = [{"warc_type": "response", "url": p.url,
                     "date": p.warc_ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
                     "payload": make_http_response(p.html),
                     "headers": {"Content-Type": "application/http"}}
                    for i, p in enumerate(pages) if i % 2 == k]
            (warc_dir / f"c{k}.warc.gz").write_bytes(
                make_warc_bytes(recs, compress="member"))

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = dict(os.environ)
        env["PYTHONPATH"] = repo
        r = subprocess.run(
            ["python", f"{repo}/scripts/submit_kg.py",
             "--input", str(warc_dir), "--input-format", "warc",
             "--output", str(tmp_path / "kg"), "--run-id", "warc1"],
            capture_output=True, text=True, timeout=420, env=env,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        payload = json.loads(
            [ln for ln in r.stdout.splitlines() if ln.startswith("{")][-1])
        assert payload["edges"] > 0
        assert set(payload["stages"]) == {"extract", "project", "edges"}
        import glob
        kg = tmp_path / "kg"
        assert glob.glob(f"{kg}/edges/pred=*/*.parquet")
        assert glob.glob(f"{kg}/metrics/*.parquet")
        assert glob.glob(f"{kg}/manifest/*.parquet")
