"""Mixed interleaved text+media kernel: OCR-span recovery, normalization,
coercion and contract validation (pure Python).

Re-expresses docpact's contract validation as data-level drop/flag rules
(the Spark layer additionally exposes them as DataFrame filter/assert
columns — BASELINE.json north_star "contract validation re-expressed as
DataFrame filter/assert columns rather than SHACL metadata"):

  - normalization cases ........ docpact normalize.py:14-46
  - value coercion ............. serialize.py:435-495
  - valid-value validation ..... semantics.py:375-448 (value must be in
    the contract's valid set; violations counted as invalid_value)
  - required-field gating ...... retrieval.py:341-366

Contract shape (a plain broadcastable dict):
    {"valid_values": ["A1", "B2", ...],      # allowed enum values
     "enum_pattern": "grade",                # field name carrying enums
     "required_fields": ["title"]}           # doc must contain field
"""

from __future__ import annotations

import re

from .common import KIND_MEDIA, KIND_TEXT, drop, finalize, new_metrics
from .normalize import coerce_value, normalize_text

_FIELD_RE = re.compile(r"^([a-z_][a-z0-9_]*):\s*(.*)$", re.S)

DEFAULT_CONTRACT = {
    "valid_values": ["A1", "A2", "B1", "B2", "C1"],
    "enum_pattern": "grade",
    "required_fields": ["title"],
}


def extract_mixed(spans: list[tuple], contract: dict | None = None) -> tuple[list, dict]:
    """Normalize, coerce and validate interleaved text+media spans.

    Input offsets are a monotone sequence index (FIXTURES.md corpus 3);
    output preserves that order, re-sequenced 0..n-1. Media spans pass
    through untouched, in place among the text spans."""
    contract = contract or DEFAULT_CONTRACT
    valid = set(contract.get("valid_values", []))
    enum_field = contract.get("enum_pattern", "grade")
    required = set(contract.get("required_fields", []))
    metrics = new_metrics(len(spans))

    seen_fields: set[str] = set()
    out: list[tuple[str, str, str, int]] = []
    for kind, text, ref, off in sorted(spans, key=lambda s: s[3]):
        if kind == "media":
            out.append((KIND_MEDIA, "", ref or "", off))
            continue
        norm = normalize_text(text or "")
        if not norm:
            drop(metrics, "empty")
            continue
        m = _FIELD_RE.match(norm)
        if m:
            field, value = m.group(1), m.group(2)
            seen_fields.add(field)
            if field == enum_field:
                if value not in valid:
                    drop(metrics, "invalid_value")
                    continue
                out.append((KIND_TEXT, f"{field}: {value}", "", off))
                continue
            out.append((KIND_TEXT, f"{field}: {coerce_value(value)}", "", off))
            continue
        out.append((KIND_TEXT, coerce_value(norm), "", off))

    missing = required - seen_fields
    if missing:
        drop(metrics, "missing_required_field", len(missing))
    return finalize(out, metrics)
