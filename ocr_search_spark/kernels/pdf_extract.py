"""PDF text-layer page extraction (operators E4/E5).

In the span data model a ``pdf`` span carries one *page* whose raw payload is
the page's layout-sorted text blocks joined by ``"\\n\\n"`` (blocks themselves
contain no blank lines — corpus invariant). The kernel replicates
``_extract_from_text_page`` (reference: app/services/extractors/pdf_fast.py:
177-185): keep only non-empty text blocks and re-join them with ``"\\n\\n"``.

Pages with no text layer (the "scan page" case, ``_page_has_text`` false —
pdf_fast.py:49-60) arrive as empty payloads and stay empty: real scan pages
are modeled as separate ``image`` spans routed to the OCR stub by
``media_ref`` (pdf_fast.py:246-254 routes them to Tesseract).

Whole-document note: ``PDFExtractorFast`` joins pages with ``""``
(pdf_fast.py:258) — in the span model pages remain separate spans, so that
join never materializes; span-sequence equality is checked per page-span.
"""

from __future__ import annotations


def extract_pdf_page_text(raw: str) -> str:
    """Non-empty blocks of one page, joined with a blank line."""
    if not raw:
        return ""
    return "\n\n".join(block for block in raw.split("\n\n") if block)
