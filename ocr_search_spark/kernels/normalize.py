"""Text-layer normalization (operator E18).

Replicates ``_preprocess_text_layer`` of the reference bug-for-bug
(reference: app/services/bytes_xtractor.py:17-39):

1. CRLF / CR -> LF
2. de-hyphenate line breaks:  ``(\\w)-\\s*\\n(\\w)`` -> ``\\1\\2``
3. single ``\\n`` (not part of ``\\n\\n``) -> space
4. collapse runs of space / tab / NBSP -> single space
5. ``\\n{3,}`` -> ``\\n``  (note: runs of exactly 2 newlines survive)
6. strip control chars ``[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]`` and NUL
7. **no NFC normalization** — the reference's ``unicodedata`` import is
   missing, so its NFC step silently NameErrors and is skipped
   (bytes_xtractor.py:33-37); we match that observable behavior.
8. ``.strip()``

The regexes are Python ``re`` with default (unicode) semantics — ``\\w``
matches Cyrillic, exactly as in the reference.
"""

from __future__ import annotations

import re

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

_WS_RE = re.compile(r"[ \t ]+")
_HYPHEN_RE = re.compile(r"(\w)-\s*\n(\w)")
_SINGLE_NL_RE = re.compile(r"(?<!\n)\n(?!\n)")
_MULTI_NL_RE = re.compile(r"\n{3,}")
_CTRL_RE = re.compile(r"[\x00-\x08\x0B\x0C\x0E-\x1F]")


def preprocess_text_layer(text: str) -> str:
    """Scalar normalization, mirrors bytes_xtractor.py:23-39 step for step."""
    if not text:
        return ""
    text = text.replace("\r\n", "\n").replace("\r", "\n")
    text = _HYPHEN_RE.sub(r"\1\2", text)
    text = _SINGLE_NL_RE.sub(" ", text)
    text = _WS_RE.sub(" ", text)
    text = _MULTI_NL_RE.sub("\n", text)
    text = _CTRL_RE.sub("", text)
    text = text.replace("\x00", "")
    # NFC intentionally NOT applied (reference bug, see module docstring).
    return text.strip()


# --- RE2 (pyarrow.compute) formulation -------------------------------------
#
# Python-re semantics translated to RE2 (no lookarounds, ASCII \w/\s):
#   \w        -> [\p{L}\p{N}_]          (letters+digits+underscore, same set)
#   \s        -> [\t-\r \x1c-\x1f\x85\p{Z}]   (Python's isspace() set)
#   (?<!\n)\n(?!\n) -> sentinel decomposition: \n{3,}->SENT3, \n\n->SENT2,
#       \n->' ', then restore SENT3->'\n', SENT2->'\n\n'. Equivalent because
#       newline-run resolution commutes with the [ \t ]-only collapse
#       (which can neither create nor merge newline runs), and runs map
#       k=1->' ', k=2->'\n\n', k>=3->'\n' in both formulations.
# Sentinels are PRIVATE-USE codepoints (U+E000/U+E001), not control
# bytes: \x02/\x03 appear in ~18% of corpus spans (the ctrl-char fixture
# content that rule 6 strips), and a colliding row must take the exact
# scalar path — with ctrl-byte sentinels that fallback was the COMMON
# case (r6; ~3 s of the 39 s single-core kernel, plus a whole-batch
# to_pylist). PUA chars are absent from any realistic input; rows that
# do contain them still fall back correctly, and the fallback now
# rewrites only the colliding rows instead of round-tripping the whole
# batch through Python lists. The sentinels only need to survive the
# space-collapse between insertion and restoration, which PUA chars do
# (they are none of space/tab/NBSP/newline).
_SENT3 = "\ue000"  # stands for \n{3,}, restored to '\n'
_SENT2 = "\ue001"  # stands for \n\n,   restored to '\n\n'
_HYPHEN_RE2 = r"([\p{L}\p{N}_])-[\t-\r \x1c-\x1f\x85\p{Z}]*\n([\p{L}\p{N}_])"
_CTRL_RE2 = r"[\x00-\x08\x0B\x0C\x0E-\x1F]"


def normalize_arrow(arr: pa.Array) -> pa.Array:
    """Arrow-native normalization: the full E18 chain as RE2/C++ kernels.

    ~10× faster than per-row Python ``re`` — this is the hot half of the
    extraction kernel. Exactness vs :func:`preprocess_text_layer` is
    enforced by the hypothesis parity suite.
    """
    if pa.types.is_null(arr.type):
        arr = arr.cast(pa.string())
    if arr.null_count:
        arr = pc.fill_null(arr, "")
    has_sentinel = pc.or_(
        pc.match_substring(arr, _SENT2), pc.match_substring(arr, _SENT3)
    )
    def masked(x, mask, fn):
        # apply fn only to triggered rows, scatter back — exact, since each
        # rule can only change a string containing its trigger
        if not pc.any(mask).as_py():
            return x
        return pc.replace_with_mask(x, mask, fn(pc.filter(x, mask)))

    x = masked(
        arr,
        pc.match_substring(arr, "\r"),
        lambda v: pc.replace_substring(
            pc.replace_substring(v, "\r\n", "\n"), "\r", "\n"
        ),
    )

    def newline_rules(v):
        v = pc.replace_substring_regex(v, _HYPHEN_RE2, "\\1\\2")
        v = pc.replace_substring_regex(v, "\\n{3,}", _SENT3)
        v = pc.replace_substring(v, "\n\n", _SENT2)
        return pc.replace_substring(v, "\n", " ")

    x = masked(x, pc.match_substring(x, "\n"), newline_rules)
    x = masked(
        x,
        pc.match_substring_regex(x, "[\t\u00a0]|  "),
        lambda v: pc.replace_substring_regex(v, "[ \t\u00a0]+", " "),
    )
    x = pc.replace_substring(x, _SENT3, "\n")
    x = pc.replace_substring(x, _SENT2, "\n\n")
    x = masked(
        x,
        pc.match_substring_regex(x, _CTRL_RE2),
        lambda v: pc.replace_substring_regex(v, _CTRL_RE2, ""),
    )
    # post-ctrl-strip, Python str.strip()'s char set equals Unicode
    # White_Space (the \x1c-\x1f difference was just removed)
    x = pc.utf8_trim_whitespace(x)
    if pc.any(has_sentinel).as_py():
        # row-limited fallback: re-run the exact scalar chain only on the
        # colliding rows and scatter back (no whole-batch to_pylist)
        fixed = pa.array(
            [
                preprocess_text_layer(v)
                for v in pc.filter(arr, has_sentinel).to_pylist()
            ],
            pa.string(),
        )
        return pc.replace_with_mask(x, has_sentinel, fixed)
    return x


def normalize_series(s: pd.Series) -> pd.Series:
    """Vectorized normalization of a pandas string Series (E18).

    Delegates to the Arrow/RE2 chain — one C++ pass over the batch — and
    converts back to an object-dtype Series for the dispatch kernel.
    """
    out = normalize_arrow(pa.Array.from_pandas(s.fillna("").astype(object)))
    return pd.Series(out.to_pandas().astype(object).values, index=s.index)
