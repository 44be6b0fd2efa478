"""WARC reader/builder round-trips (pure kernel + Spark source)."""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_search_spark.kernels.warc import parse_warc
from ocr_search_spark.kernels.warc_build import (
    build_http_response,
    build_warc,
    build_warc_record,
)


class TestWarcKernel:
    def _records(self):
        return [
            ("warcinfo", b"software: test-crawler/1.0\r\n", None),
            (
                "response",
                build_http_response(b"<html>hello</html>"),
                "https://a.example/x",
            ),
            (
                "response",
                build_http_response(
                    "тело по-русски".encode("utf-8"),
                    content_type="text/plain; charset=utf-8",
                    status=404,
                ),
                "https://b.example/y",
            ),
        ]

    @pytest.mark.parametrize("gz", [False, True])
    def test_roundtrip(self, gz):
        out = parse_warc(build_warc(self._records(), gzip=gz))
        assert [r["warc_type"] for r in out] == [
            "warcinfo",
            "response",
            "response",
        ]
        assert out[0]["target_uri"] is None
        assert out[1]["target_uri"] == "https://a.example/x"
        assert out[1]["http_status"] == 200
        assert out[1]["http_content_type"] == "text/html; charset=utf-8"
        assert out[1]["body"] == b"<html>hello</html>"
        assert out[2]["http_status"] == 404
        assert out[2]["body"].decode("utf-8") == "тело по-русски"
        # non-HTTP payload: body == payload
        assert out[0]["body"] == out[0]["payload"]

    def test_fail_soft(self):
        assert parse_warc(b"") == []
        assert parse_warc(b"not a warc at all") == []
        good = build_warc_record("response", build_http_response(b"ok"),
                                 target_uri="https://a.example/")
        # truncated second record: first still parses
        out = parse_warc(good + b"WARC/1.0\r\nContent-Length: 999\r\n\r\nxx")
        assert len(out) == 1 and out[0]["body"] == b"ok"
        # corrupt gzip tail after one good member
        gz = build_warc([("response", build_http_response(b"ok"), "u")],
                        gzip=True)
        assert len(parse_warc(gz + b"\x1f\x8b garbage")) == 1

    def test_gzip_bomb_capped(self, monkeypatch):
        """A member expanding past MAX_MEMBER_BYTES is dropped fail-soft
        (never decompressed in full) — attacker-supplied crawl bytes must
        not be able to exhaust executor memory."""
        import ocr_search_spark.kernels.warc as w

        bomb = build_warc(
            [("resource", b"\0" * (8 * 1024 * 1024), "u")], gzip=True
        )
        monkeypatch.setattr(w, "MAX_MEMBER_BYTES", 1024 * 1024)
        assert w.parse_warc(bomb) == []
        # and a small member under the cap still parses
        ok = build_warc([("resource", b"tiny", "u")], gzip=True)
        assert len(w.parse_warc(ok)) == 1

    @settings(max_examples=40, deadline=None)
    @given(st.binary(max_size=200), st.booleans())
    def test_property_arbitrary_payload_roundtrip(self, body, gz):
        """Content-Length framing must survive payloads containing CRLF,
        CRLFCRLF, or 'WARC/1.0' — exactly the bytes that break
        delimiter-scanning parsers."""
        payload = b"\r\n\r\nWARC/1.0\r\n" + body  # adversarial prefix
        data = build_warc(
            [("resource", payload, "https://p.example/z")] * 2, gzip=gz
        )
        out = parse_warc(data)
        assert len(out) == 2
        assert all(r["payload"] == payload for r in out)


class TestWarcSource:
    def test_scan_warc_folder(self, spark, tmp_path):
        from ocr_search_spark.sources import scan_warc_folder

        plain = build_warc(
            [
                ("warcinfo", b"software: t\r\n", None),
                (
                    "response",
                    build_http_response(b"page one"),
                    "https://s.example/1",
                ),
            ]
        )
        gz = build_warc(
            [
                (
                    "response",
                    build_http_response(b"page two"),
                    "https://s.example/2",
                )
            ],
            gzip=True,
        )
        (tmp_path / "a.warc").write_bytes(plain)
        (tmp_path / "b.warc.gz").write_bytes(gz)
        (tmp_path / "noise.txt").write_bytes(b"ignored")
        rows = scan_warc_folder(spark, str(tmp_path)).collect()
        got = {
            (r.target_uri, r.warc_type, bytes(r.body) if r.body else None)
            for r in rows
        }
        assert ("https://s.example/1", "response", b"page one") in got
        assert ("https://s.example/2", "response", b"page two") in got
        assert sum(r.warc_type == "warcinfo" for r in rows) == 1
        assert all(not r.path.endswith("noise.txt") for r in rows)

    def test_roundtrip_md5_matches(self, spark):
        """The WARC round-trip contract: build → parse → md5(body) equals
        md5 of the original text, plain and gzip alike."""
        texts = ["alpha", "тело документа", ""]
        for i, t in enumerate(texts):
            body = t.encode("utf-8")
            data = build_warc(
                [("response", build_http_response(body), f"u/{i}")],
                gzip=(i % 2 == 1),
            )
            (rec,) = parse_warc(data)
            assert (
                hashlib.md5(rec["body"]).hexdigest()
                == hashlib.md5(body).hexdigest()
            )
