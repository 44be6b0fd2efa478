"""Tests for the folder-scan source chain (S1-S5) and the text sink (S8)."""

from __future__ import annotations

import os

import pytest

from ocr_search_spark.pipeline.extract import explode_spans, extract_documents
from ocr_search_spark.sources import (
    folder_to_documents,
    scan_folder_df,
    write_text_sink,
)


@pytest.fixture(scope="module")
def folder(tmp_path_factory):
    root = tmp_path_factory.mktemp("ingest")
    (root / "sub").mkdir()
    (root / "a.txt").write_text("hello world")
    (root / "sub" / "b.txt").write_bytes("привет мир".encode("cp1251"))
    (root / "c.html").write_text("<p>visible</p><script>no</script>")
    (root / "noext").write_text("no extension")
    (root / ".hidden.txt").write_text("hidden")
    (root / "~$lock.txt").write_text("lock")
    (root / "tempy.tmp").write_text("tmp")
    (root / "img.png").write_bytes(b"\x89PNG fake")
    (root / "doc.pdf").write_bytes(b"%PDF fake")
    return str(root)


class TestScanFolder:
    def test_filters_and_kinds(self, spark, folder):
        rows = {
            r.filename: r.kind
            for r in scan_folder_df(spark, folder, allowed_ext=None).collect()
        }
        assert ".hidden.txt" not in rows  # S2
        assert "~$lock.txt" not in rows
        assert "tempy.tmp" not in rows
        assert rows["a.txt"] == "txt"  # S5
        assert rows["b.txt"] == "txt"
        assert rows["c.html"] == "html"
        assert rows["img.png"] == "image"
        assert rows["doc.pdf"] == "pdf"
        assert rows["noext"] == "uns"  # extension-less → uns (bug fixed)

    def test_allowlist(self, spark, folder):
        rows = {r.filename for r in scan_folder_df(spark, folder).collect()}
        assert rows == {"img.png", "doc.pdf"}  # default ingest allowlist

    def test_recursive(self, spark, folder):
        rows = {r.filename for r in scan_folder_df(spark, folder, None).collect()}
        assert "b.txt" in rows  # from sub/


class TestFolderToDocuments:
    def test_decode_cascade_and_spans(self, spark, folder):
        docs = folder_to_documents(scan_folder_df(spark, folder, allowed_ext=None))
        by_id = {r.doc_id: r.spans for r in docs.collect()}
        assert by_id["a.txt"][0]["text"] == "hello world"
        assert by_id["b.txt"][0]["text"] == "привет мир"  # cp1251 via cascade
        assert by_id["img.png"][0]["media_ref"].endswith("img.png")
        assert by_id["img.png"][0]["text"] == ""

    def test_filename_collision_keeps_one_bare_name(self, spark, tmp_path):
        """Reference _unique_path parity: the first file of a collision
        group (deterministically min(path)) keeps its bare name; only
        subsequent colliders get the #md5(path) suffix."""
        root = tmp_path / "coll"
        (root / "d1").mkdir(parents=True)
        (root / "d2").mkdir()
        (root / "d1" / "same.txt").write_text("one")
        (root / "d2" / "same.txt").write_text("two")
        (root / "solo.txt").write_text("alone")
        docs = folder_to_documents(
            scan_folder_df(spark, str(root), allowed_ext=None)
        )
        ids = sorted(r.doc_id for r in docs.collect())
        assert "solo.txt" in ids
        bare = [i for i in ids if i == "same.txt"]
        suffixed = [i for i in ids if i.startswith("same.txt#")]
        assert len(bare) == 1 and len(suffixed) == 1
        # min(path) is d1's file: its text keeps the bare name
        texts = {r.doc_id: r.spans[0]["text"] for r in docs.collect()}
        assert texts["same.txt"] == "one"

    def test_end_to_end_extraction(self, spark, folder):
        docs = folder_to_documents(scan_folder_df(spark, folder, allowed_ext=None))
        flat = explode_spans(extract_documents(docs, num_partitions=4))
        texts = {r.doc_id: r.text for r in flat.collect()}
        assert texts["c.html"] == "visible"  # html boilerplate stripped

    def test_msg_and_eml_files_route_by_magic(self, spark, tmp_path):
        """A real user's email corpus through the folder path: .eml files
        parse as RFC-822; .msg files (CFB containers, .msg ext maps to
        the email kind like the reference's _guess_ext) are sniffed by
        magic and routed to the MSG kernel — the decode cascade must not
        corrupt the binary (reference email.py:45-50 is_msg dispatch)."""
        from datetime import datetime, timezone

        from ocr_search_spark.kernels.cfb_build import build_msg

        root = tmp_path / "mail"
        root.mkdir()
        (root / "note.eml").write_text(
            "Subject: hello note\nFrom: a@corp.ru\nTo: b@x.io\n"
            "Content-Type: text/plain; charset=utf-8\n\nplain body here\n",
            encoding="utf-8",
        )
        ft = int(
            (datetime(2024, 7, 1, 10, 0, tzinfo=timezone.utc)
             - datetime(1601, 1, 1, tzinfo=timezone.utc)).total_seconds() * 10**7
        )
        (root / "memo.msg").write_bytes(
            build_msg(subject="msg subject", sender="s@corp.ru",
                      to="t@x.io", body="ole body", delivery_filetime=ft)
        )
        docs = folder_to_documents(
            scan_folder_df(spark, str(root), allowed_ext=None)
        )
        flat = explode_spans(extract_documents(docs, num_partitions=2))
        texts = {r.doc_id: r.text for r in flat.collect()}
        assert "hello note" in texts["note.eml"]
        assert "plain body here" in texts["note.eml"]
        assert "msg subject" in texts["memo.msg"]
        assert "ole body" in texts["memo.msg"]

    def test_real_xlsx_through_folder_ingest(self, spark, tmp_path):
        """A real .xlsx workbook (ZIP container) survives ingest with its
        bytes latin-1-preserved and flattens via the stdlib OOXML reader
        to the reference's sheet template."""
        from tests.test_optional_kinds import build_xlsx

        root = tmp_path / "office"
        root.mkdir()
        (root / "book.xlsx").write_bytes(
            build_xlsx({"Лист1": [["итог", 42]]})
        )
        docs = folder_to_documents(
            scan_folder_df(spark, str(root), allowed_ext=None)
        )
        flat = explode_spans(extract_documents(docs, num_partitions=2))
        texts = {r.doc_id: r.text for r in flat.collect()}
        assert "Лист: Лист1" in texts["book.xlsx"]
        assert "итог" in texts["book.xlsx"] and "42" in texts["book.xlsx"]


class TestTextSink:
    def test_one_file_per_doc(self, spark, folder, tmp_path):
        docs = folder_to_documents(scan_folder_df(spark, folder, allowed_ext=None))
        flat = explode_spans(extract_documents(docs, num_partitions=4))
        out = str(tmp_path / "texts")
        n = write_text_sink(flat, out)
        files = set(os.listdir(out))
        assert n == len(files)
        assert "a.txt.txt" in files
        assert open(os.path.join(out, "a.txt.txt")).read() == "hello world"
