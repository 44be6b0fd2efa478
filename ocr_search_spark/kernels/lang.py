"""Russian-ness scoring (operator E9).

Replicates ``looks_like_russian`` (reference: app/services/extractors/
pdf.py:8,25-29; duplicated at pdf_fast.py:35,43-47): the fraction of
characters belonging to a fixed 75-char set (Cyrillic letters both cases +
digits + a little punctuation) compared against a 0.40 threshold.
"""

from __future__ import annotations

RUSSIAN_CHARS = set(
    r".:,-+=()!0123456789абвгдеёжзийклмнопрстуфхцчшщъыьэюя"
    r"АБВГДЕЁЖЗИЙКЛМНОПРСТУФХЦЧШЩЪЫЬЭЮЯ"
)


def russian_score(text: str) -> float:
    """Fraction of chars in the Russian charset (0.0 for empty text)."""
    if not text:
        return 0.0
    ru = sum(1 for ch in text if ch in RUSSIAN_CHARS)
    return ru / max(1, len(text))


def looks_like_russian(text: str, threshold: float = 0.40) -> bool:
    if not text:
        return False
    return russian_score(text) >= threshold
