"""Unit tests for the pure extraction kernels (no SparkSession needed).

Expected values hand-derived from the reference's semantics
(bytes_xtractor.py:23-39 normalization, html.py:22-76 stripping,
pdf_fast.py:177-185 block join, pdf.py:25-29 russian score,
txt.py:20-25 decode cascade).
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_search_spark.kernels.decode import decode_bytes
from ocr_search_spark.kernels.dispatch import extract_texts
from ocr_search_spark.kernels.html_extract import html_main_text, html_to_text
from ocr_search_spark.kernels.lang import looks_like_russian, russian_score
from ocr_search_spark.kernels.normalize import normalize_series, preprocess_text_layer
from ocr_search_spark.kernels.ocr_stub import ocr_stub_text
from ocr_search_spark.kernels.pdf_extract import extract_pdf_page_text
from ocr_search_spark.kernels.reference_impl import extract_document_spans, extract_span_text


class TestNormalize:
    @pytest.mark.parametrize(
        "raw,expected",
        [
            ("", ""),
            ("plain", "plain"),
            ("a-\nb", "ab"),  # de-hyphenation
            ("уро-\nвень", "уровень"),  # \w matches Cyrillic (Python re)
            ("x\ny", "x y"),  # single newline -> space
            ("keep\n\nme", "keep\n\nme"),  # double newline survives
            ("p\n\n\n\nq", "p\nq"),  # 3+ newlines -> one
            ("a \t  b", "a b"),  # whitespace collapse
            ("a\u00a0\u00a0b", "a b"),  # NBSP collapse
            ("ctl\x01\x07x\x00y", "ctlxy"),  # control char strip
            ("a\r\nb\r c", "a b c"),  # CRLF/CR -> LF first
            ("  pad  ", "pad"),  # final strip
            ("é́combining", "é́combining"),  # NFC NOT applied (ref bug)
        ],
    )
    def test_scalar(self, raw, expected):
        assert preprocess_text_layer(raw) == expected

    @given(
        st.lists(
            st.text(
                alphabet=st.characters(
                    codec="utf-8", categories=("L", "N", "P", "Z", "Cc")
                ),
                max_size=200,
            ),
            max_size=30,
        )
    )
    @settings(max_examples=200, deadline=None)
    def test_vectorized_matches_scalar(self, texts):
        want = [preprocess_text_layer(t) for t in texts]
        # Arrow/RE2 formulation (the production path)
        assert list(normalize_series(pd.Series(texts, dtype=object))) == want

    def test_sentinel_bytes_take_exact_path(self):
        # input containing the \x02/\x03 sentinel bytes must not be corrupted
        texts = ["a\x02b\nc", "x\x03\n\n\ny", "plain\ntext"]
        got = list(normalize_series(pd.Series(texts, dtype=object)))
        assert got == [preprocess_text_layer(t) for t in texts]


class TestHtml:
    def test_drops_boilerplate_and_comments(self):
        html = (
            "<html><head><script>var x=1;</script><style>.a{}</style>"
            "<link rel='x'><meta charset='utf-8'></head>"
            "<body><nav><a href='/'>Home</a></nav><!-- hidden -->"
            "<header>hd</header><p>Hello <b>world</b></p>"
            "<aside>side</aside><form><input></form>"
            "<iframe>if</iframe><svg>s</svg><canvas>c</canvas>"
            "<noscript>ns</noscript><footer>ft</footer></body></html>"
        )
        assert html_to_text(html) == "Hello world"

    def test_separator_and_strip_semantics(self):
        # each text node stripped, empties skipped, joined with one space
        assert html_to_text("<p>  a  </p><p></p><p>b</p>") == "a b"
        assert html_to_text("a<br>b") == "a b"

    def test_entities_decoded(self):
        assert html_to_text("<p>Дом &amp; сад &lt;3</p>") == "Дом & сад <3"

    def test_empty_and_broken(self):
        assert html_to_text("") == ""
        assert html_to_text("<div><p>unclosed") == "unclosed"

    def test_main_text_drops_link_heavy_blocks(self):
        html = (
            "<body><div><a href='1'>l1</a> <a href='2'>l2</a> <a href='3'>l3</a></div>"
            "<p>real content with <a href='4'>one link</a> inside a long sentence</p></body>"
        )
        main = html_main_text(html)
        assert "real content" in main
        assert "l1" not in main


class TestPdf:
    def test_block_join(self):
        assert extract_pdf_page_text("b1\n\nb2") == "b1\n\nb2"
        assert extract_pdf_page_text("b1\n\n\n\nb2") == "b1\n\nb2"  # empty block dropped
        assert extract_pdf_page_text("") == ""

    def test_internal_newlines_kept(self):
        assert extract_pdf_page_text("l1\nl2\n\nl3") == "l1\nl2\n\nl3"


class TestOcrStub:
    def test_deterministic_and_bounded(self):
        for ref in ("media://doc_00000001/3", "media://x/0", "media://y/7"):
            a, b = ocr_stub_text(ref), ocr_stub_text(ref)
            assert a == b
            assert a.startswith("OCR ")
            assert 3 <= len(a.split()) - 1 <= 40

    def test_distinct_refs_differ(self):
        assert ocr_stub_text("media://a/0") != ocr_stub_text("media://a/1")

    def test_empty(self):
        assert ocr_stub_text("") == ""


class TestRussianScore:
    def test_reference_examples(self):
        assert looks_like_russian("привет мир!")
        assert not looks_like_russian("hello world")
        assert not looks_like_russian("")
        assert russian_score("аб12xy") == pytest.approx(4 / 6)


class TestDecode:
    def test_cascade(self):
        assert decode_bytes("привет".encode("utf-8")) == "привет"
        assert decode_bytes("привет".encode("cp1251")) == "привет"
        assert decode_bytes(b"") == ""
        # invalid everywhere -> utf-8/ignore fallback never raises
        assert isinstance(decode_bytes(b"\xff\xfe\xff\xff\x80plain"), str)


class TestDispatch:
    def test_vectorized_matches_scalar(self):
        rows = [
            ("txt", "a-\nb", ""),
            ("docx", "para1\npara2\tcell", ""),
            ("html", "<p>x</p><script>no</script>", ""),
            ("pdf", "b1\n\n\n\nb2", ""),
            ("image", "", "media://d/0"),
            ("uns", "junk", ""),
            ("weird_kind", "junk", ""),
        ]
        got, failed = extract_texts(
            pd.Series([r[0] for r in rows]),
            pd.Series([r[1] for r in rows]),
            pd.Series([r[2] for r in rows]),
        )
        assert list(got) == [extract_span_text(*r) for r in rows]
        assert list(failed) == [False, False, False, False, False, True, True]

    def test_document_reorders_by_offset(self):
        spans = [
            {"kind": "txt", "text": "second", "media_ref": "", "offset": 1},
            {"kind": "txt", "text": "first", "media_ref": "", "offset": 0},
        ]
        out = extract_document_spans(spans)
        assert [s["text"] for s in out] == ["first", "second"]
        assert [s["order"] for s in out] == [0, 1]


class TestHtmlFastParity:
    """The fast scanner must match the parser-based golden path exactly."""

    CASES = [
        "<html><head><script>var x='<div>';</script><style>.a{}</style></head>"
        "<body><nav><a href='/'>Home</a> <a>About</a></nav><!-- c -->"
        "<p>Hello <b>world</b></p><div>Дом &amp; сад &lt;3</div>"
        "<aside>side</aside><form><input></form><iframe>if</iframe>"
        "<footer>ft</footer></body></html>",
        "<p>  a  </p><p></p><p>b</p>",
        "a<br>b",
        "<div><p>unclosed",
        "",
        "plain no tags &amp; entity",
        "<script>never closed",
        "<nav><script>x</script>dropped</nav>kept",
        "<IFRAME>upper</IFRAME>after",
        "<svg><circle/></svg>text",
        "<p>&nbsp;</p><p>x</p>",
        "<meta charset='utf-8'><link rel='x'>visible",
        "<!DOCTYPE html><html><body>doc</body></html>",
        "<iframe/>selfclosed",
    ]

    def test_hand_cases(self):
        from ocr_search_spark.kernels.html_fast import html_to_text_fast

        for case in self.CASES:
            assert html_to_text_fast(case) == html_to_text(case), case

    def test_corpus_parity(self, base_texts=None):
        from ocr_search_spark.corpus import build_local, load_base_texts
        from ocr_search_spark.kernels.html_fast import html_to_text_fast

        base = load_base_texts("/root/testdata/sf0.001")
        n = 0
        for d in build_local(base, 300):
            for s in d["spans"]:
                if s["kind"] == "html":
                    assert html_to_text_fast(s["text"]) == html_to_text(s["text"])
                    n += 1
        assert n > 100

    MAIN_CASES = [
        # link-density boilerplate dropped, mixed block
        "<body><div><a href='1'>l1</a> <a href='2'>l2</a></div>"
        "<p>real content with <a href='4'>one link</a> in a long sentence</p></body>",
        # block segmentation tags
        "<h1>t</h1><ul><li><a>x</a></li><li>keep this item text</li></ul>",
        "<table><tr><td>c1</td><td><a>only link</a></td></tr></table>",
        "a<br><a href='x'>linkonly</a><br>b",
        # anchors straddling block boundaries (unbalanced nesting)
        "<a href='x'>before<p>after</a>plain</p>tail",
        "<div>text <a>anchor <div>nested block inside anchor</div> more</a></div>",
        # drop containers with anchors inside
        "<nav><a>n1</a><a>n2</a></nav><p>body text here</p>",
        "<p>x</p><aside><a>a</a>side</aside><p>y</p>",
        # entities, selfclosed, unclosed
        "<p>&amp; &nbsp;</p><p><a>&lt;3</a></p>",
        "<a/>selfclosed anchor<p>para</p>",
        "<div><p>unclosed <a>link",
        "",
        "plain no tags",
    ]

    def test_main_text_fast_parity_hand_cases(self):
        from ocr_search_spark.kernels.html_fast import html_main_text_fast

        for case in self.CASES + self.MAIN_CASES:
            assert html_main_text_fast(case) == html_main_text(case), case

    def test_main_text_fast_parity_corpus(self):
        from ocr_search_spark.corpus import build_local, load_base_texts
        from ocr_search_spark.kernels.html_fast import html_main_text_fast

        base = load_base_texts("/root/testdata/sf0.001")
        n = 0
        for d in build_local(base, 300):
            for s in d["spans"]:
                if s["kind"] == "html":
                    assert html_main_text_fast(s["text"]) == html_main_text(s["text"])
                    n += 1
        assert n > 100


class TestFastScannerCdataFidelity:
    """Round-4 review: the fast scanner's CDATA close rule and
    consumed-region re-tokenization must match HTMLParser exactly."""

    CASES = [
        # wrong-name / attributed close tags stay CDATA data
        "<script>var a;</scripty> hidden</script>visible",
        "<script>a</script x>hidden</script>visible",
        # whitespace-after-slash closes per endtagfind
        "<script>x</ script>visible",
        # a comment straddling the close: the tail must RE-tokenize
        "<script>a<!--</script><b>B</b>-->tail",
        "<script>no close at all",
        "<script>a</SCRIPT>UP",
        "<script>x</script\t >y",
        "<style>p{}</style><nav>drop</nav>keep",
    ]

    def test_visible_text_parity(self):
        from ocr_search_spark.kernels.html_extract import html_to_text
        from ocr_search_spark.kernels.html_fast import html_to_text_fast

        for c in self.CASES:
            assert html_to_text_fast(c) == html_to_text(c), c

    def test_main_content_parity(self):
        from ocr_search_spark.kernels.html_extract import html_main_text
        from ocr_search_spark.kernels.html_fast import html_main_text_fast

        for c in self.CASES:
            assert html_main_text_fast(c) == html_main_text(c), c


class TestMsgDifatBound:
    def test_crafted_difat_loop_terminates(self):
        """A self-looping DIFAT chain with a huge header count must parse
        (or fail) in bounded time, never grow for hours."""
        import struct
        import time

        from ocr_search_spark.kernels.msg_extract import msg_to_text

        # minimal CFB header: sig + shift 9, huge n_difat, first_difat=0,
        # one 512-byte "DIFAT sector" whose last entry loops back to 0
        hdr = bytearray(512)
        hdr[0:8] = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
        struct.pack_into("<H", hdr, 30, 9)      # sector shift
        struct.pack_into("<I", hdr, 44, 1)      # n_fat
        struct.pack_into("<I", hdr, 68, 0)      # first_difat -> sector 0
        struct.pack_into("<I", hdr, 72, 0xFFFFFFF0)  # absurd n_difat
        sector = bytearray(512)
        struct.pack_into("<I", sector, 508, 0)  # chain loops to itself
        data = bytes(hdr) + bytes(sector)
        t0 = time.monotonic()
        msg_to_text(data)  # never-throw contract: returns '' on garbage
        assert time.monotonic() - t0 < 5.0
