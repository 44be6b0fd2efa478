"""Per-kind extraction dispatch (operator E1), vectorized over a flat batch.

The reference dispatches one document at a time through a class registry
(reference: app/services/bytes_xtractor.py:50-88, registry at 73-83). Here
dispatch is *batch-level*: given the flat columns of one Arrow batch of
spans, each kind's rows are selected with a boolean mask and transformed by
that kind's kernel, then the whole batch goes through one vectorized
normalization pass (``extract_text_file`` applies ``_preprocess_text_layer``
to every extraction result — bytes_xtractor.py:101-109).

Kind semantics (FIXTURES.md §1 kind registry):

==========  ====================================================to===========
kind        kernel
==========  ================================================================
``txt``     passthrough (decode cascade already applied upstream; txt.py:8-25)
``docx``    passthrough of pre-extracted paragraph/table text (doc.py:29-35)
``pdf``     page text blocks: drop empties, join "\\n\\n" (pdf_fast.py:177-185)
``html``    boilerplate strip + visible text (html.py:22-76)
``image``   OCR stub keyed by media_ref (pdf.py:203-222 → stub)
``uns``     empty text, counted as a skip/failure (txt.py:27-31)
unknown     treated as ``uns`` (bytes_xtractor.py:70 returns 'uns')
==========  ================================================================
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .email_fast import eml_to_text_fast
from .msg_extract import msg_to_text
from .html_fast import html_to_text_fast
from .normalize import normalize_series
from .ocr_stub import ocr_stub_text
from .pdf_extract import extract_pdf_page_text
from .rtf_extract import rtf_to_text
from .xls_extract import xls_any_to_text

#: kinds with a dedicated kernel; anything else falls through to ``uns``.
#: core kinds first (FIXTURES.md §1), then the optional kinds (rtf/xls/email
#: — bytes_xtractor.py registry 73-83).
KNOWN_KINDS = (
    "txt", "docx", "pdf", "html", "image", "rtf", "xls", "email", "msg", "uns"
)

_PASSTHROUGH = ("txt", "docx")

#: per-row scalar kernels for the optional kinds (looped inside the batch).
#: email uses the fast-scanner twin (email_fast, ~23x the stdlib parser);
#: the golden path keeps stdlib eml_to_text, parity enforced by the
#: span-equality suite — the html_fast/html_extract discipline.
_SCALAR_KERNELS = {
    "rtf": rtf_to_text,
    "xls": xls_any_to_text,
    "email": eml_to_text_fast,
    "msg": msg_to_text,
}


def extract_texts(
    kind: pd.Series, text: pd.Series, media_ref: pd.Series
) -> tuple[pd.Series, pd.Series]:
    """Extract + normalize one flat batch of spans.

    Returns ``(extracted, failed)`` — the normalized text Series and a bool
    Series marking spans that produced no text by construction (``uns`` and
    unknown kinds), feeding the ``failures`` audit metric (P5 semantics:
    extractors swallow errors and return "" — e.g. pdf_fast.py:218-220).
    """
    kind = kind.fillna("uns")
    text = text.fillna("")
    media_ref = media_ref.fillna("")

    out = pd.Series(np.full(len(kind), "", dtype=object), index=kind.index)

    mask = kind.isin(_PASSTHROUGH)
    if mask.any():
        out[mask] = text[mask]

    mask = kind == "pdf"
    if mask.any():
        # document-level loop inside the Arrow batch (allowed; the Spark-level
        # operator is one vectorized mapInArrow call)
        out[mask] = text[mask].map(extract_pdf_page_text)

    mask = kind == "html"
    if mask.any():
        # fast scanner; parity with the parser-based golden path is enforced
        # by the span-equality suite (reference_impl uses html_to_text)
        out[mask] = text[mask].map(html_to_text_fast)

    mask = kind == "image"
    if mask.any():
        refs = media_ref[mask]
        # OCR-stub each distinct media_ref once, then broadcast back.
        uniq = {r: ocr_stub_text(r) for r in pd.unique(refs)}
        out[mask] = refs.map(uniq)

    for k, kernel in _SCALAR_KERNELS.items():
        mask = kind == k
        if mask.any():
            out[mask] = text[mask].map(kernel)

    failed = ~kind.isin(KNOWN_KINDS[:-1])  # uns + unknown kinds
    # single vectorized normalization pass over the whole batch (E18)
    return normalize_series(out), failed
