"""Text normalization, cell-type detection and value coercion.

Pure-Python re-expression of the reference semantics (NOT a port):
  - normalization mirrors docpact ``normalize.py:14-46`` (NBSP → space,
    smart quotes → ASCII, en/em dash → hyphen, zero-width removal,
    whitespace collapse; lossless + idempotent);
  - cell-type lattice mirrors ``heuristics.py:103-172``
    (DATE > NUMBER > ENUM > STRING);
  - value coercion mirrors ``serialize.py:435-495`` (thousand separators,
    EU decimals, accounting negatives, currency strip, yes/no bools).

These Python functions run inside the extraction kernels' Python
workers and in the oracle.
"""

from __future__ import annotations

import re

_ZERO_WIDTH = dict.fromkeys(map(ord, "​‌‍﻿"), None)
_CHAR_MAP = str.maketrans(
    {
        " ": " ",  # NBSP
        "‘": "'",
        "’": "'",
        "“": '"',
        "”": '"',
        "–": "-",  # en dash
        "—": "-",  # em dash
    }
)
_MULTISPACE = re.compile(r" {2,}")

_DATE_RES = [
    re.compile(r"^\d{4}-\d{2}-\d{2}$"),
    re.compile(r"^\d{1,2}/\d{1,2}/\d{2,4}$"),
    re.compile(r"^\d{1,2}-(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)-\d{2,4}$", re.I),
    re.compile(r"^(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]* \d{1,2},? \d{4}$", re.I),
    re.compile(r"^\d{1,2} (Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]* \d{4}$", re.I),
]
_NUMBER_RE = re.compile(
    r"^\(?[+-]?[$€£]?\s?\d{1,3}(?:[ ,. ]\d{3})*(?:[.,]\d+)?%?\)?$"
)


def normalize_text(s: str) -> str:
    """Lossless, idempotent normalization (docpact normalize.py:14-46)."""
    if not s:
        return ""
    # fast path: every mapped char (NBSP, smart quotes, dashes,
    # zero-width) is non-ASCII, so clean ASCII without doubled spaces
    # only needs the strip — the overwhelmingly common case
    if s.isascii() and "  " not in s:
        return s.strip()
    s = s.translate(_ZERO_WIDTH).translate(_CHAR_MAP)
    s = _MULTISPACE.sub(" ", s)
    return s.strip()


def detect_cell_type(s: str) -> str:
    """Content-type lattice (docpact heuristics.py:117-172): DATE, NUMBER,
    ENUM (resolved by the caller from distinct stats), STRING."""
    s = s.strip()
    if not s:
        return "STRING"
    for rx in _DATE_RES:
        if rx.match(s):
            return "DATE"
    if _NUMBER_RE.match(s):
        return "NUMBER"
    return "STRING"


_BOOL_MAP = {"yes": "true", "no": "false", "y": "true", "n": "false"}
_CURRENCY = "$€£"


def coerce_value(s: str) -> str:
    """Canonicalize a cell value (docpact serialize.py:435-495 semantics):

    - "1,234"   -> "1234"      (US thousands)
    - "1 234"   -> "1234"      (space thousands)
    - "55826,3" -> "55826.3"   (EU decimal)
    - "(123)"   -> "-123"      (accounting negative)
    - "$1,000"  -> "1000"      (currency strip)
    - "12.5%"   -> "12.5"      (percent strip)
    - "yes"/"no" -> "true"/"false"
    Non-coercible strings are returned unchanged (post-normalization).
    """
    s = normalize_text(s)
    low = s.lower()
    if low in _BOOL_MAP:
        return _BOOL_MAP[low]
    t = s
    neg = False
    if t.startswith("(") and t.endswith(")"):
        t, neg = t[1:-1].strip(), True
    t = t.lstrip(_CURRENCY).strip()
    if t.endswith("%"):
        t = t[:-1].strip()
    if not re.match(r"^[+-]?[\d ,. ]+$", t) or not re.search(r"\d", t):
        return s
    # Decide separator roles: a trailing group of 1-2 digits after a comma
    # with no dot means EU decimal comma ("55826,3"); otherwise commas and
    # spaces are thousands separators.
    t = t.replace(" ", " ")
    if "," in t and "." not in t:
        head, _, tail = t.rpartition(",")
        if len(tail) != 3:
            t = head.replace(",", "").replace(" ", "") + "." + tail
        else:
            t = t.replace(",", "").replace(" ", "")
    else:
        t = t.replace(",", "").replace(" ", "")
    if not re.match(r"^[+-]?\d+(\.\d+)?$", t):
        return s
    if t.startswith("+"):
        t = t[1:]
    if neg and not t.startswith("-"):
        t = "-" + t
    return t


# ------------------------------------------------------------- OCR repair
# OCR-text span recovery (north_star stage): within number-shaped
# tokens, map the classic glyph confusions O→0 o→0 l→1 I→1 S→5 B→8;
# word tokens pass untouched.
_OCR_TOKEN_RE = re.compile(r"^[0-9OolISB.,]+$")
_OCR_HAS_CONFUSABLE = re.compile(r"[0-9OolISB]")
_OCR_TRANS = str.maketrans("OolISB", "001158")
# fast pre-filter: a whole space-delimited token of class chars must
# exist somewhere, else the string is returned untouched (word cells —
# the overwhelmingly common case — never pay the split/join)
_OCR_CANDIDATE = re.compile(r"(?:^| )[0-9OolISB.,]+(?= |$)")


def ocr_repair(s: str) -> str:
    if " " not in s:
        # single-token case (typical table cell): no split/join
        if _OCR_TOKEN_RE.match(s) and _OCR_HAS_CONFUSABLE.search(s):
            return s.translate(_OCR_TRANS)
        return s
    if not _OCR_CANDIDATE.search(s):
        return s
    return " ".join(
        t.translate(_OCR_TRANS)
        if _OCR_TOKEN_RE.match(t) and _OCR_HAS_CONFUSABLE.search(t)
        else t
        for t in s.split(" ")
    )
