"""PDF-style layout extraction kernel (pure Python, no Spark imports).

Re-expresses the semantics (NOT the code) of the reference pipeline:
  - y-clustering of spans into rows ......... docpact spatial_text.py:310-325
  - reading-order render (rows asc, x asc) .. spatial_text.py:350-373
  - recursive XY-cut block segmentation (Nagy & Seth 1984); the x-cut
    base case is the reference's side-by-side split (gap > 3x median
    column gap) ........................... compress.py:1885-1934
  - table-run detection via shared column anchors
    ....................................... compress.py:1048-1383
  - single-span numeric table continuation .. compress.py:1192-1208
  - section-label test (all caps, >3 chars, no colon)
    ....................................... compress.py:1211-1238
  - footnote rejection patterns ............. filter.py:40-56
  - header estimation: H7 bottom-up span-count signature (bottom 2/3
    establishes the data pattern; all rows above the first data-like
    row are headers, stacked headers included), with a non-numeric
    first-row fallback when the signature is ambiguous
    ....................................... compress.py:1469-1509
  - key-value regions (runs of two-span non-table rows) rendered as
    'key: value' text lines ................ compress.py:1111-1137, 2026-2060
  - median char width over width-carrying spans
    ....................................... spatial_text.py:297-308
  - span splitting at column boundaries owned by other rows
    (word-boundary only, min_gap 5 chars) .. compress.py:948-1032
  - VH1 visual-grid detection from ruling-line spans + rescue of
    text-missed rows inside the grid ....... compress.py:123-165, 2251-2256

Input spans carry a packed ``offset``: ``page*1_000_000 + y_centi*1_000
+ x`` (integer centipoint grid — float-free determinism, FIXTURES.md).
Output spans are ordered reading-order with ``offset = 0..n-1``.

Pages are independent: ``extract_page`` is the unit of work so skewed
mega-documents can be exploded to ``(doc_id, page)`` grain on Spark and
reassembled by page order (SURVEY.md §4 item 1).
"""

from __future__ import annotations

import re
from collections import Counter
from statistics import median

from .common import (
    KIND_CELL,
    KIND_HEADING,
    KIND_MEDIA,
    KIND_SECTION,
    KIND_TEXT,
    drop,
    finalize,
    new_metrics,
)
from .normalize import normalize_text, ocr_repair

Y_CLUSTER_TOL = 8  # centipoints; generator jitter is <= 3
COL_ANCHOR_TOL = 15  # x tolerance for shared column anchors
MIN_SHARED_ANCHORS = 2  # table-run rule (compress.py:1340-1365 analogue)

_FOOTNOTE_RES = [
    re.compile(r"^\*+\s"),
    re.compile(r"^note[:\s]", re.I),
    re.compile(r"^\d+[.)]\s*(source|note)", re.I),
    re.compile(r"^source[:\s]", re.I),
    re.compile(r"^[†‡§]"),
]
_SECTION_RE = re.compile(r"^[A-Z][A-Z &/-]{3,}$")
_NUMERIC_CELL_RE = re.compile(r"^\(?[+-]?[\d,. ]+%?\)?$")


def decode_offset(off: int) -> tuple[int, int, int]:
    """packed offset -> (page, y_centi, x)."""
    page, rem = divmod(off, 1_000_000)
    y, x = divmod(rem, 1_000)
    return page, y, x


def _cluster_rows(items: list[tuple[int, int, str, str, str]]) -> list[list]:
    """Greedy y-clustering: sort by y, merge gaps <= Y_CLUSTER_TOL
    (spatial_text.py:310-325 semantics). items = (y, x, kind, text, ref)."""
    if not items:
        return []
    # full-tuple sort: output must not depend on input span order (the
    # skew path reassembles spans via sort_array, the whole-doc path gets
    # generation order — both must cluster identically; SURVEY.md §7.3)
    items = sorted(items)
    rows: list[list] = [[items[0]]]
    last_y = items[0][0]
    for it in items[1:]:
        if it[0] - last_y <= Y_CLUSTER_TOL:
            rows[-1].append(it)
        else:
            rows.append([it])
        last_y = it[0]
    for r in rows:
        r.sort(key=lambda s: s[1])
    return rows


def _split_side_by_side(rows: list[list]) -> list[list[list]]:
    """X-cut primitive (compress.py:1885-1934 semantics): find an
    x-gap > 3x the median inter-span gap present in >= 60% of multi-span
    rows; emit the left block's rows, then the right block's."""
    gaps = []
    for r in rows:
        for a, b in zip(r, r[1:]):
            gaps.append(b[1] - a[1])
    if len(gaps) < 4:
        return [rows]
    med = median(gaps)
    threshold = 3 * med
    # candidate cut x: midpoints of gaps exceeding the threshold
    cut_votes: dict[int, int] = {}
    multi = [r for r in rows if len(r) >= 2]
    for r in multi:
        for a, b in zip(r, r[1:]):
            if b[1] - a[1] > threshold:
                mid = (a[1] + b[1]) // 2
                bucket = mid // 50 * 50
                cut_votes[bucket] = cut_votes.get(bucket, 0) + 1
    if not cut_votes:
        return [rows]
    cut, votes = max(cut_votes.items(), key=lambda kv: (kv[1], -kv[0]))
    if votes < max(2, int(0.6 * len(multi))):
        return [rows]
    left = [[s for s in r if s[1] < cut] for r in rows]
    right = [[s for s in r if s[1] >= cut] for r in rows]
    left = [r for r in left if r]
    right = [r for r in right if r]
    if not left or not right:
        return [rows]
    return [left, right]


MAX_XY_DEPTH = 4


def _split_y(rows: list[list]) -> list[list[list]]:
    """Y-cut primitive: cut between consecutive rows whose y-gap exceeds
    3x the median inter-row gap (and is visually significant). Row order
    is preserved; cutting only scopes table-run detection and the x-cut
    votes to one vertical band at a time."""
    if len(rows) < 4:
        return [rows]
    ys = [r[0][0] for r in rows]
    gaps = [b - a for a, b in zip(ys, ys[1:])]
    med = median(gaps)
    if med <= 0:
        return [rows]
    cuts = [
        i
        for i, g in enumerate(gaps)
        if g > 3 * med and g > 3 * Y_CLUSTER_TOL
    ]
    if not cuts:
        return [rows]
    blocks, prev = [], 0
    for i in cuts:
        blocks.append(rows[prev : i + 1])
        prev = i + 1
    blocks.append(rows[prev:])
    return [b for b in blocks if b]


def _xy_cut(rows: list[list], depth: int = 0) -> list[list[list]]:
    """Recursive XY-cut page-block segmentation (Nagy & Seth 1984 — the
    published generalization the north_star names; the reference's
    one-level split at compress.py:1885-1934 is the x-axis base case).

    Alternates: y-cut into vertical bands at large whitespace valleys,
    then x-cut each band at the voted column gap, recursing into each
    side so 3+-column layouts and mixed full-width/columnar pages
    segment correctly. Depth-capped; every cut strictly shrinks the
    block, so termination is structural."""
    if depth >= MAX_XY_DEPTH or len(rows) < 2:
        return [rows]
    ybands = _split_y(rows)
    if len(ybands) > 1:
        return [b for band in ybands for b in _xy_cut(band, depth + 1)]
    parts = _split_side_by_side(rows)
    if len(parts) > 1:
        return [b for part in parts for b in _xy_cut(part, depth + 1)]
    return [rows]


def _is_footnote(text: str) -> bool:
    return any(rx.match(text) for rx in _FOOTNOTE_RES)


def _is_section_label(row: list) -> bool:
    """All-caps, >3 chars, no colon, single span (compress.py:1211-1238).
    Any non-media text kind qualifies (pdf_text here, box in the slide
    kernel — the primitives are shared, parameterized by span kind)."""
    if len(row) != 1 or row[0][2] == "media":
        return False
    t = row[0][3].strip()
    return bool(_SECTION_RE.match(t)) and ":" not in t


def _is_numeric_continuation(row: list) -> bool:
    """Single numeric/parenthesized span stays in a table run
    (compress.py:1192-1208). Kind-agnostic for the same reason as
    :func:`_is_section_label`."""
    if len(row) != 1 or row[0][2] == "media":
        return False
    return bool(_NUMERIC_CELL_RE.match(row[0][3].strip()))


def _unify_xs(rows: list[list], tol: int = COL_ANCHOR_TOL) -> list[int]:
    """X-column unification (compress.py:1645-1687 semantics): sorted
    greedy clustering of span x positions with a RUNNING-MEAN cluster
    representative — a new x joins the current cluster iff it is within
    ``tol`` of the cluster mean, else starts a new column. Returns the
    sorted canonical column x positions."""
    xs = sorted(s[1] for r in rows for s in r if s[2] != "media")
    if not xs:
        return []
    # running sum == sum(cluster) accumulated left-to-right: identical
    # float mean, O(1) per element instead of O(cluster)
    out: list[int] = []
    cur_sum, cur_n = float(xs[0]), 1
    for x in xs[1:]:
        if x - cur_sum / cur_n <= tol:
            cur_sum += x
            cur_n += 1
        else:
            out.append(int(cur_sum / cur_n))
            cur_sum, cur_n = float(x), 1
    out.append(int(cur_sum / cur_n))
    return out


def _col_of(x: int, cols: list[int], tol: int = COL_ANCHOR_TOL) -> int:
    """Nearest unified column index for a span x (ties -> leftmost)."""
    best, bi = None, 0
    for i, c in enumerate(cols):
        d = abs(x - c)
        if best is None or d < best:
            best, bi = d, i
    return bi


def _is_transposed_run(block: list[list], run: list[int]) -> bool:
    """Structural transposed-table check (compress.py:1762-1803
    semantics): >= 3 rows; unified column count <= 5; span-count
    variance < 2.0; first column stable (a span at the leftmost unified
    column in >= 80% of rows)."""
    rows = [[s for s in block[k] if s[2] != "media"] for k in run]
    rows = [r for r in rows if r]
    if len(rows) < 3:
        return False
    cols = _unify_xs(rows)
    if not cols or len(cols) > 5 or len(cols) < 2:
        return False
    counts = [len(r) for r in rows]
    mean = sum(counts) / len(counts)
    var = sum((c - mean) ** 2 for c in counts) / len(counts)
    if var > 2.0:
        return False
    first_col = sum(
        1 for r in rows if abs(r[0][1] - cols[0]) <= COL_ANCHOR_TOL
    )
    return first_col >= 0.8 * len(rows)


# Contract label vocabulary for transposed mapping (the reference matches
# first-column labels against the CONTRACT's schema aliases,
# interpret.py:1738-1816; the pipeline passes the broadcast contract's
# alias set here — this default is the synthetic corpus contract).
TRANSPOSED_LABELS = frozenset(
    {"vessel", "port", "tonnage", "eta", "grade", "cargo"}
)


def _detranspose(
    block: list[list], run: list[int], labels: frozenset[str], metrics: dict
) -> list[tuple[str, str, str]] | None:
    """Deterministic transposed mapping (interpret.py:1738-1816
    semantics): first-column cells are field labels matched against the
    contract alias set (normalized lower); requires >= 50% of the run's
    label rows matched (and >= 2). Emits the de-transposed sequence —
    the matched labels as one HEADING row, then ONE record per data
    column (cells in label order) — exactly what the flat twin of the
    table emits. Returns None when the label-coverage gate fails (the
    run then flows through the standard table path)."""
    rows = [[s for s in block[k] if s[2] != "media"] for k in run]
    rows = [r for r in rows if r]
    cols = _unify_xs(rows)
    matched: list[tuple[str, list]] = []  # (label, row spans)
    unmatched_spans = 0
    for r in rows:
        label = normalize_text(r[0][3]).strip()
        if label.lower() in labels:
            matched.append((label, r))
        else:
            unmatched_spans += len(r)
    if len(matched) < 2 or len(matched) < 0.5 * len(rows):
        # gate failed: NOT a transposed table — no metrics side effects,
        # the run flows through the standard table path untouched
        return None
    if unmatched_spans:
        drop(metrics, "transposed_unmatched", unmatched_spans)
    out: list[tuple[str, str, str]] = []
    for label, _r in matched:
        out.append((KIND_HEADING, label, ""))
    for ci in range(1, len(cols)):
        for _label, r in matched:
            vals = [
                s[3]
                for s in r[1:]
                if _col_of(s[1], cols) == ci and (s[3] or "").strip()
            ]
            for v in vals:
                out.append((KIND_CELL, ocr_repair(normalize_text(v)), ""))
    return out


def _detect_multirow_period(counts: list[int]) -> tuple[int, int] | None:
    """Multi-row record periodicity (compress.py:1390-1427 semantics):
    try periods (3, 2, 4) x header offsets 0..min(10, n/2); the first
    ``period`` body rows form the span-count pattern (skipped when
    uniform — uniform rows are ordinary data); >= 70% of groups must
    repeat the pattern and there must be >= 2 groups. Returns
    (header_rows, period) or None."""
    max_header = min(10, len(counts) // 2)
    for period in (3, 2, 4):
        for header in range(max_header + 1):
            body = counts[header:]
            if len(body) < period * 2:
                continue
            pattern = body[:period]
            if len(set(pattern)) <= 1:
                continue
            total = len(body) // period
            hits = sum(
                1
                for g in range(total)
                if body[g * period : (g + 1) * period] == pattern
            )
            if total >= 2 and hits >= 0.7 * total:
                return header, period
    return None


def _merge_multirow(
    body_rows: list[list], period: int
) -> list[list[tuple[int, str]]]:
    """Merge groups of ``period`` rows into single logical records
    (compress.py:1430-1466 semantics): spans of the group are bucketed
    by unified column; multiple values in one column join with a space.
    Returns merged rows as (col_x, text) lists, columns ascending."""
    cols = _unify_xs(body_rows)
    merged: list[list[tuple[int, str]]] = []
    for g in range(0, len(body_rows), period):
        group = body_rows[g : g + period]
        col_values: dict[int, list[str]] = {}
        for r in group:
            for s in r:
                if s[2] == "media":
                    continue
                ci = _col_of(s[1], cols)
                col_values.setdefault(ci, []).append(s[3])
        merged.append(
            [(cols[ci], " ".join(col_values[ci])) for ci in sorted(col_values)]
        )
    return merged


def _shares_anchors(
    xs_a: list[int], xs_b: list[int], tol: int = COL_ANCHOR_TOL
) -> bool:
    # both lists ascending (rows are x-sorted by _cluster_rows /
    # _split_merged_spans): two-pointer sweep with early success exit
    need = max(MIN_SHARED_ANCHORS, int(0.6 * min(len(xs_a), len(xs_b))))
    shared = 0
    j = 0
    nb = len(xs_b)
    for xa in xs_a:
        lo = xa - tol
        while j < nb and xs_b[j] < lo:
            j += 1
        if j < nb and xs_b[j] <= xa + tol:
            shared += 1
            if shared >= need:
                return True
    return False


# ----------------- style / visual evidence channel (FH2, FH3, VH3)
# The reference runs a parallel font channel (compress.py:552-852) and a
# visual-fill channel (compress.py:232-292) as table/header evidence.
# The input span-struct shape (kind, text, media_ref, offset) is fixed
# by the pipeline contract, so OPTIONAL style flags ride the otherwise-
# unused media_ref of TEXT spans: "st:<flags>[#<fill>][@<width>]" with
# flags a subset of {b, i, m} (bold / italic / monospace), <fill> a row
# fill-color id, and <width> the rendered span width in layout x-units
# (the glyph-geometry signal behind median char width + span splitting).
# Output text spans always emit media_ref "" (tested), so the channel is
# input-only evidence and the golden span-sequence invariant
# (kind, text, media_ref, order) is untouched.


def span_style(ref: str) -> tuple[str, str | None]:
    """(flags, fill_color_id) parsed from a span's media_ref; ('', None)
    for unstyled spans and media refs."""
    if not ref or not ref.startswith("st:"):
        return "", None
    tok = ref[3:]
    if "@" in tok:
        tok = tok.split("@", 1)[0]
    if "#" in tok:
        flags, fill = tok.split("#", 1)
        return flags, fill or None
    return tok, None


def span_width(ref: str) -> int:
    """Optional rendered span WIDTH (layout x-units) from the style
    token's ``@<width>`` suffix ("st:[flags][#fill][@width]"); 0 when
    the corpus carries no width signal. The width channel feeds the two
    glyph-geometry operators (median char width, span splitting) that
    are otherwise undefined on a positions-only span model."""
    if not ref or not ref.startswith("st:") or "@" not in ref:
        return 0
    try:
        return int(ref.rsplit("@", 1)[1])
    except ValueError:
        return 0


def _median_char_width(rows: list[list]) -> float:
    """Median char width over the page's width-carrying spans (docpact
    spatial_text.py:297-308: median of bbox_width / char_count) —
    0.0 when no span carries the width channel."""
    ratios = [
        span_width(s[4]) / len(s[3])
        for r in rows
        for s in r
        if s[2] != "media" and (s[3] or "") and span_width(s[4]) > 0
    ]
    return median(ratios) if ratios else 0.0


def _split_merged_spans(rows: list[list]) -> list[list]:
    """Split text spans that merge multiple column values into one span
    (docpact compress.py:948-1032 semantics): column x positions are
    collected from ALL rows; when a span's rendered extent
    ``[x, x + width)`` crosses a position owned by OTHER rows — beyond
    ``min_gap`` (5 chars) from the span start — and the corresponding
    character index lands on a word boundary, the span splits there
    (word-boundary only, never mid-word). The char index comes from the
    page's median char width; rows without the width channel pass
    through untouched, so positions-only corpora are unaffected."""
    cw = _median_char_width(rows)
    if cw <= 0:
        return rows
    col_rows: dict[int, set[int]] = {}
    for ri, r in enumerate(rows):
        for s in r:
            if s[2] != "media":
                col_rows.setdefault(s[1], set()).add(ri)
    positions = sorted(col_rows)
    if len(positions) < 2:
        return rows
    min_gap = 5 * cw
    out_rows: list[list] = []
    for ri, r in enumerate(rows):
        new_r: list = []
        for s in r:
            text = s[3] or ""
            w = span_width(s[4]) if s[2] != "media" else 0
            if w <= 0 or " " not in text:
                new_r.append(s)
                continue
            span_end = s[1] + w
            splits: list[int] = []  # char indices, ascending
            for pos in positions:
                if pos <= s[1] + min_gap:
                    continue
                if pos >= span_end:
                    break
                if ri in col_rows[pos]:
                    continue
                ci = int(round((pos - s[1]) / cw))
                if 0 < ci <= len(text) and (
                    text[ci - 1] == " "
                    or (ci < len(text) and text[ci] == " ")
                ):
                    splits.append(ci)
            if not splits:
                new_r.append(s)
                continue

            # each fragment gets its OWN width suffix (the merged
            # span's full width would inflate the page's median char
            # width and stretch stacked-header column bounds across
            # neighbour columns on pages containing split rows)
            def frag_ref(fragment: str) -> str:
                base = s[4].rsplit("@", 1)[0]
                return f"{base}@{max(1, round(len(fragment) * cw))}"

            cur = 0
            for ci in splits:
                left = text[cur:ci].rstrip()
                if left:
                    new_r.append(
                        (s[0], s[1] + round(cur * cw), s[2], left,
                         frag_ref(left))
                    )
                cur = ci
                while cur < len(text) and text[cur] == " ":
                    cur += 1
            rem = text[cur:].rstrip()
            if rem:
                new_r.append(
                    (s[0], s[1] + round(cur * cw), s[2], rem, frag_ref(rem))
                )
        new_r.sort(key=lambda t: (t[1], t[3]))
        out_rows.append(new_r)
    return out_rows


def _bold_header_prefix(block: list[list], run: list[int]) -> int:
    """FH2 bold-header evidence (compress.py:600-646 semantics): leading
    run rows where >50% of spans are bold are header rows — valid only
    when the remaining (data) rows' aggregate bold ratio stays < 0.5
    ('bold = labels, not values' needs the header/data contrast).
    Returns the bold header-prefix length, 0 when the pattern is absent."""
    ratios: list[float] = []
    for k in run:
        texts = [s for s in block[k] if s[2] != "media"]
        if not texts:
            ratios.append(0.0)
            continue
        nb = sum(1 for s in texts if "b" in span_style(s[4])[0])
        ratios.append(nb / len(texts))
    prefix = 0
    for rt in ratios:
        if rt > 0.5:
            prefix += 1
        else:
            break
    if prefix == 0 or prefix >= len(ratios):
        return 0
    data = ratios[prefix:]
    if sum(data) / len(data) >= 0.5:
        return 0
    return prefix


def _fill_header_prefix(block: list[list], run: list[int]) -> int:
    """VH2 header-fill evidence (compress.py:169-226 semantics): leading
    run rows whose spans all share ONE fill-color id are header rows —
    valid only when that color does not also dominate the remaining
    (data) rows ('header highlight' needs the header/data contrast,
    mirroring the reference's most-common-color + first-rows check).
    Returns the filled header-prefix length, 0 when absent."""
    fills: list[str | None] = []
    for k in run:
        texts = [s for s in block[k] if s[2] != "media"]
        row_fills = {span_style(s[4])[1] for s in texts}
        fills.append(
            next(iter(row_fills))
            if len(row_fills) == 1 and None not in row_fills
            else None
        )
    if not fills or fills[0] is None:
        return 0
    color = fills[0]
    prefix = 0
    for f in fills:
        if f == color:
            prefix += 1
        else:
            break
    if prefix == 0 or prefix >= len(fills):
        return 0
    data = fills[prefix:]
    if sum(1 for f in data if f == color) / len(data) >= 0.5:
        return 0
    return prefix


def _italic_ratio(texts: list) -> float:
    """Fraction of a row's text spans flagged italic (FH3 input)."""
    if not texts:
        return 0.0
    ni = sum(1 for s in texts if "i" in span_style(s[4])[0])
    return ni / len(texts)


def _detect_zebra_rows(
    block: list[list], in_table: list[bool], kv: list[bool]
) -> set[int]:
    """VH3 zebra rescue (compress.py:232-292 semantics): maximal
    sequences of consecutive rows the text heuristics did NOT claim
    (not in a run, not key-value) whose spans all carry one fill-color
    id per row; >= 4 alternations between exactly 2 colors confirm a
    zebra-striped table, and the rows emit as cells. This is the
    reference's cross-validation 'visual detects table but text didn't'
    path made deterministic."""
    rescued: set[int] = set()
    i = 0
    n = len(block)
    while i < n:
        seq: list[tuple[int, str]] = []
        j = i
        while j < n:
            texts = [s for s in block[j] if s[2] != "media"]
            fills = {
                span_style(s[4])[1]
                for s in texts
            }
            if (
                texts
                and not in_table[j]
                and not kv[j]
                and len(fills) == 1
                and None not in fills
            ):
                seq.append((j, next(iter(fills))))
                j += 1
            else:
                break
        if len(seq) >= 2:
            alt = sum(1 for (_, a), (_, b) in zip(seq, seq[1:]) if a != b)
            colors = {c for _, c in seq}
            if alt >= 4 and len(colors) == 2:
                rescued.update(k for k, _ in seq)
        i = max(j, i + 1)
    return rescued


def _parse_line_ref(ref: str) -> tuple[str, int, int] | None:
    """('h'|'v', start, end) from a ruling-line span's media_ref
    ("ln:h:<start>:<end>" h-line extent in x / "ln:v:<start>:<end>"
    v-line extent in y); None for malformed refs."""
    parts = (ref or "").split(":")
    if len(parts) != 4 or parts[0] != "ln" or parts[1] not in ("h", "v"):
        return None
    try:
        return parts[1], int(parts[2]), int(parts[3])
    except ValueError:
        return None


PAGE_WIDTH = 1000  # packed-offset x-range (x < 1000 by construction)


def _detect_visual_grid(
    lines: list[tuple[int, int, str]],
) -> tuple[int, int, int, int] | None:
    """VH1 grid detection (docpact compress.py:123-165 semantics): a
    table grid exists when >= 3 SIGNIFICANT horizontal lines (extent
    >= 10% of page width) and >= 3 significant vertical lines (extent
    >= 2% of page height) are present. Returns the grid bbox
    (x0, y0, x1, y1) — min/max v-line x positions x min/max h-line y
    positions — or None. lines = (y, x, media_ref)."""
    sig_h: list[int] = []  # y positions
    sig_v: list[int] = []  # x positions
    for y, x, ref in lines:
        parsed = _parse_line_ref(ref)
        if parsed is None:
            continue
        orient, start, end = parsed
        if orient == "h" and end - start >= 0.1 * PAGE_WIDTH:
            sig_h.append(y)
        elif orient == "v" and end - start >= 0.02 * PAGE_HEIGHT:
            sig_v.append(x)
    if len(sig_h) < 3 or len(sig_v) < 3:
        return None
    return min(sig_v), min(sig_h), max(sig_v), max(sig_h)


def _detect_grid_rows(
    block: list[list],
    in_table: list[bool],
    kv: list[bool],
    grid: tuple[int, int, int, int] | None,
) -> set[int]:
    """VH1 rescue: rows the text heuristics did NOT claim whose y falls
    inside the visual grid bbox emit as table cells. This resolves the
    reference's cross-validation gap — 'visual grid detected (VH1) but
    no TABLE region found' (compress.py:2251-2256), which it can only
    log and defer to the LLM fallback — deterministically."""
    if grid is None:
        return set()
    _x0, y0, _x1, y1 = grid
    return {
        idx
        for idx, row in enumerate(block)
        if not in_table[idx]
        and not kv[idx]
        and any(s[2] != "media" for s in row)
        and y0 - Y_CLUSTER_TOL <= row[0][0] <= y1 + Y_CLUSTER_TOL
    }


def _detect_table_runs(
    rows: list[list], tol: int = COL_ANCHOR_TOL
) -> tuple[list[bool], list[list[int]]]:
    """Find table runs: maximal sequences of multi-span rows sharing
    column anchors, plus numeric single-span continuations
    (compress.py:1048-1383 semantics, simplified); rows that look like
    flowing prose (avg span length > 2x median) are rejected
    (compress.py:1316-1325). ``tol`` is the column-anchor x tolerance —
    15pt for PDF layouts, 10pt for slides (pptx_extractor.py:309).
    Returns (per-row in-table flags, list of runs as row-index lists)."""
    # per-row stripped non-media span lengths, computed once: shared by
    # the median and every flowing-text test (rows are re-tested across
    # the i/j loops below)
    row_lens = [
        [len((s[3] or "").strip()) for s in r if s[2] != "media"]
        for r in rows
    ]
    span_lens = [ln for tl in row_lens for ln in tl if ln]
    med_len = median(span_lens) if span_lens else 0.0
    flowing = [
        len(tl) >= 2 and med_len > 0 and sum(tl) / len(tl) > 2.0 * med_len
        for tl in row_lens
    ]
    row_xs = [[s[1] for s in r] for r in rows]
    in_table = [False] * len(rows)
    runs: list[list[int]] = []
    i = 0
    while i < len(rows):
        if len(rows[i]) < 2 or flowing[i]:
            i += 1
            continue
        run = [i]
        j = i + 1
        while j < len(rows):
            if flowing[j]:
                break
            if len(rows[j]) >= 2:
                if _shares_anchors(row_xs[run[-1]], row_xs[j], tol):
                    run.append(j)
                    j += 1
                    continue
                break
            if _is_numeric_continuation(rows[j]):
                run.append(j)
                j += 1
                continue
            break
        if len([k for k in run if len(rows[k]) >= 2]) >= 2:
            for k in run:
                in_table[k] = True
            runs.append(run)
        i = max(j, i + 1)
    return in_table, runs


def _stacked_header_names(
    block: list[list], header_idx: list[int], body_idx: list[int]
) -> list[str]:
    """Compound column names from stacked header rows (docpact
    compress.py:1549-1644 ``_build_stacked_headers`` + 1512-1546
    ``_compute_column_bounds`` semantics): body rows define the unified
    columns and their horizontal bounds; each header span joins the
    column with maximum bounds overlap (ties -> nearest start), with
    extents from the width channel and the reference's 5-char left
    margin. Spans without a width signal fall back to nearest-anchor
    assignment (the positions-only span model has no extents). Per
    column, row fragments dedup consecutive repeats and join " / " (the
    DOCX-convention separator the grid kernel also uses). Returns []
    when no body columns exist (compound does not apply)."""
    body_rows = [
        [s for s in block[k] if s[2] != "media"] for k in body_idx
    ]
    cols = _unify_xs(body_rows)
    if not cols:
        return []
    bounds: list[list[int | None]] = [[None, None] for _ in cols]
    for r in body_rows:
        for s in r:
            ci = _col_of(s[1], cols)
            b = bounds[ci]
            b[0] = s[1] if b[0] is None else min(b[0], s[1])
            e = s[1] + max(span_width(s[4]), 0)
            b[1] = e if b[1] is None else max(b[1], e)
    cw = _median_char_width(
        [block[k] for k in list(body_idx) + list(header_idx)]
    )
    margin = 5 * cw if cw > 0 else COL_ANCHOR_TOL
    frags: list[list[str]] = [[] for _ in cols]
    for k in header_idx:
        row_assign: dict[int, str] = {}
        for s in sorted(
            (s for s in block[k] if s[2] != "media"), key=lambda s: s[1]
        ):
            if not (s[3] or "").strip():
                continue
            w = span_width(s[4])
            ci = None
            if w > 0:
                h0, h1 = s[1], s[1] + w
                best_ov, best_dist = 0, None
                for cj, (d0, d1) in enumerate(bounds):
                    if d0 is None:
                        continue
                    if h0 < d1 and h1 > d0 - margin:
                        ov = min(h1, d1) - max(h0, d0 - margin)
                        dist = abs(h0 - d0)
                        if ov > best_ov or (
                            ov == best_ov
                            and (best_dist is None or dist < best_dist)
                        ):
                            ci, best_ov, best_dist = cj, ov, dist
            if ci is None:
                ci = _col_of(s[1], cols)
            txt = normalize_text(s[3])
            row_assign[ci] = (
                row_assign[ci] + " " + txt if ci in row_assign else txt
            )
        for ci, txtv in row_assign.items():
            frags[ci].append(txtv)
    names: list[str] = []
    for fl in frags:
        deduped: list[str] = []
        for f in fl:
            f = f.strip()
            if f and (not deduped or f != deduped[-1]):
                deduped.append(f)
        if deduped:
            names.append(" / ".join(deduped))
    return names


def _estimate_header_count(span_counts: list[int]) -> int:
    """H7 bottom-up header estimation (compress.py:1469-1509 semantics):
    the bottom 2/3 of a run establishes the data span-count signature
    (top-3 counts with count >= 2 and frequency >= 2); the header block
    is every row above the first data-like row. A row with MORE spans
    than the signature max is still data (a more complete row)."""
    n = len(span_counts)
    if n <= 2:
        return 0
    bottom = span_counts[max(1, n // 3):]
    freq = Counter(bottom)
    data_counts = {
        c for c, cnt in freq.most_common(3) if c >= 2 and cnt >= 2
    }
    if not data_counts:
        return 0
    mx = max(data_counts)
    for i, c in enumerate(span_counts):
        if c in data_counts or c > mx:
            return i
    return 0


def _detect_kv_runs(block: list[list], in_table: list[bool]) -> list[bool]:
    """Mark key-value regions (compress.py:1111-1137 semantics): runs of
    >= 2 consecutive non-table rows with exactly two text spans — the
    left span is the label. Rendered as one 'key: value' text span per
    row (compress.py:2026-2060 render)."""
    kv = [False] * len(block)
    i = 0
    while i < len(block):
        run = []
        j = i
        while j < len(block):
            texts = [s for s in block[j] if s[2] != "media"]
            if not in_table[j] and len(texts) == 2:
                run.append(j)
                j += 1
            else:
                break
        if len(run) >= 2:
            for k in run:
                kv[k] = True
        i = max(j, i + 1)
    return kv


def _row_is_header(row: list) -> bool:
    """A table-run row with no numeric cell is a header row
    (compress.py:1469-1509 simplified: data rows carry numbers)."""
    texts = [s[3] for s in row if s[2] == "pdf_text"]
    return bool(texts) and not any(_NUMERIC_CELL_RE.match(t.strip()) for t in texts)


def extract_page(
    items: list[tuple[int, int, str, str, str]],
    metrics: dict,
    transposed_labels: frozenset[str] = TRANSPOSED_LABELS,
) -> list:
    """Extract one page. items = (y, x, kind, text, media_ref) tuples.
    Returns ordered (kind, text, media_ref) triples for the page."""
    out: list[tuple[str, str, str]] = []
    # ruling-line spans are structural evidence (VH1), never content:
    # route them to the visual channel before row clustering and count
    # them as consumed ("ruling" reason keeps spans_in/out accounting)
    lines = [(y, x, ref) for y, x, k, _t, ref in items if k == "pdf_line"]
    if lines:
        items = [it for it in items if it[2] != "pdf_line"]
        drop(metrics, "ruling", len(lines))
    grid = _detect_visual_grid(lines) if lines else None
    rows = _split_merged_spans(_cluster_rows(items))
    for block in _xy_cut(rows):
        in_table, runs = _detect_table_runs(block)
        kv = _detect_kv_runs(block, in_table)
        zebra_rows = _detect_zebra_rows(block, in_table, kv)
        grid_rows = _detect_grid_rows(block, in_table, kv, grid)
        # per-row non-media span counts, shared by the multi-row and
        # header-signature passes below (each run consumed them twice)
        nonmedia = [sum(1 for s in row if s[2] != "media") for row in block]
        # per-run SPECIAL handling, checked in the reference's order
        # (compress.py:2351 transposed first, then 2386-2400 multi-row):
        # a matched run pre-builds its whole emission at the run's first
        # row; its remaining rows are skipped (media still emits per row)
        special_emit: dict[int, list] = {}
        special_rows: set[int] = set()
        for run in runs:
            if _is_transposed_run(block, run):
                det = _detranspose(block, run, transposed_labels, metrics)
                if det is not None:
                    special_emit[run[0]] = det
                    special_rows.update(run)
                    continue
            counts = [nonmedia[k] for k in run]
            mp = _detect_multirow_period(counts)
            if mp is not None:
                hdr, period = mp
                emit: list[tuple[str, str, str]] = []
                for k in run[:hdr]:
                    texts = [s for s in block[k] if s[2] != "media"]
                    kind = (
                        KIND_HEADING if _row_is_header(texts) else KIND_CELL
                    )
                    for s in texts:
                        txt = normalize_text(s[3])
                        emit.append(
                            (kind, txt if kind == KIND_HEADING
                             else ocr_repair(txt), "")
                        )
                body = [
                    [s for s in block[k] if s[2] != "media"]
                    for k in run[hdr:]
                ]
                for mrow in _merge_multirow(body, period):
                    for _x, txt in mrow:
                        emit.append(
                            (KIND_CELL, ocr_repair(normalize_text(txt)), "")
                        )
                special_emit[run[0]] = emit
                special_rows.update(run)
        # per-run header block: H7 span-count signature, falling back to
        # "first non-numeric run row" when the signature is ambiguous
        header_rows: set[int] = set()
        for run in runs:
            if run[0] in special_emit:
                continue
            counts = [nonmedia[k] for k in run]
            hc = _estimate_header_count(counts)
            # FH2 bold / VH2 header-fill evidence can extend (never
            # shrink) the structural estimate: with a uniform span-count
            # signature and all-word rows, structure alone finds at most
            # one header row — the style channel is the only signal
            hc = max(
                hc,
                _bold_header_prefix(block, run),
                _fill_header_prefix(block, run),
            )
            if hc > 0:
                # H7 signature found: every row above the first data-like
                # row is a header (compress.py:1469-1509 — no content
                # gate; years/numbers are legitimate in stacked headers)
                header_rows.update(run[:hc])
            else:
                # ambiguous signature: fall back to the non-numeric
                # first-row rule
                first = [s for s in block[run[0]] if s[2] != "media"]
                if first and _row_is_header(first):
                    header_rows.add(run[0])
        # preceding-header scan (compress.py:1810-1878 semantics): short
        # label rows directly above a run whose x positions align with
        # the run's column anchors join the header block; single-span
        # rows are gated harder (start-aligned, <= 15 chars, not a
        # section label) so document titles stay text
        pre_header_rows: set[int] = set()
        pre_by_run: dict[int, list[int]] = {}
        for run in runs:
            if run[0] in special_emit:
                continue
            anchors = [s[1] for s in block[run[0]] if s[2] != "media"]
            # adjacency gate (the reference's "gap > 2 rows stops the
            # scan" in y-space): a header row must sit within 2x the
            # run's own row pitch of the row below it
            run_ys = [block[k][0][0] for k in run]
            pitch = (
                median(b - a for a, b in zip(run_ys, run_ys[1:]))
                if len(run_ys) >= 2
                else 2 * Y_CLUSTER_TOL
            )
            prev_y = run_ys[0]
            for idx2 in range(run[0] - 1, -1, -1):
                if in_table[idx2] or kv[idx2]:
                    break
                y2 = block[idx2][0][0]
                if prev_y - y2 > 2 * max(pitch, 1):
                    break
                texts2 = [s for s in block[idx2] if s[2] != "media"]
                if not texts2:
                    break
                if len(texts2) == 1:
                    s0 = texts2[0]
                    aligned = any(
                        abs(s0[1] - a) <= COL_ANCHOR_TOL for a in anchors
                    )
                    t0 = s0[3].strip()
                    if (
                        not aligned
                        or len(t0) > 15
                        or _SECTION_RE.match(t0)
                    ):
                        break
                    pre_header_rows.add(idx2)
                    pre_by_run.setdefault(run[0], []).append(idx2)
                    prev_y = y2
                else:
                    if any(
                        any(abs(s[1] - a) <= COL_ANCHOR_TOL for a in anchors)
                        for s in texts2
                    ):
                        pre_header_rows.add(idx2)
                        pre_by_run.setdefault(run[0], []).append(idx2)
                        prev_y = y2
                    else:
                        break
        # stacked-header compound naming (compress.py:2534-2552: the
        # preceding header rows plus the in-run header block feed
        # _build_stacked_headers): a run whose total header block spans
        # >= 2 rows emits ONE " / "-joined compound heading per body
        # column (the grid kernel's convention), each header span
        # assigned to the column with maximum bounding-box overlap when
        # the width channel is present, nearest-anchor otherwise.
        # Single-row headers keep the span-per-cell emission unchanged.
        compound_emit: dict[int, list] = {}
        compound_rows: set[int] = set()
        for run in runs:
            if run[0] in special_emit:
                continue
            allh = sorted(pre_by_run.get(run[0], [])) + [
                k for k in run if k in header_rows
            ]
            if len(allh) < 2:
                continue
            body_idx = [k for k in run if k not in header_rows]
            names = _stacked_header_names(block, allh, body_idx)
            if names:
                compound_emit[allh[0]] = [
                    (KIND_HEADING, nm, "") for nm in names
                ]
                compound_rows.update(allh)
        # re-header detection (interpret.py:1192-1220 semantics): a
        # mid-run row whose cells ALL match the run's global header
        # texts is a section re-header — consumed (its data columns are
        # already aligned to the global header), never re-emitted
        header_texts: dict[int, frozenset] = {}
        # re-header COLUMN REMAP (interpret.py:1185-1240 Phase A): when
        # a consumed re-header's column ORDER differs from the global
        # header, the section's data cells re-emit in global-header
        # order (name-matched mapping). reheader_perm[row] holds the
        # active emission order for each post-re-header data row.
        reheader_perm: dict[int, list[int]] = {}
        for run in runs:
            if run[0] in special_emit:
                continue
            hdr = [k for k in run if k in header_rows]
            names = frozenset(
                normalize_text(s[3]).strip().lower()
                for k in hdr
                for s in block[k]
                if s[2] != "media" and (s[3] or "").strip()
            )
            if not names:
                continue
            # global header name -> position (leaf row = last header
            # row, cells in x order; first match wins like the
            # reference's global_index)
            global_order: dict[str, int] = {}
            if hdr:
                leaf = sorted(
                    (s for s in block[hdr[-1]] if s[2] != "media"),
                    key=lambda s: s[1],
                )
                for gi, s in enumerate(leaf):
                    key = normalize_text(s[3]).strip().lower()
                    if key and key not in global_order:
                        global_order[key] = gi
            perm: list[int] | None = None
            for k in run:
                if k in header_rows:
                    continue
                header_texts[k] = names
                texts_k = sorted(
                    (s for s in block[k] if s[2] != "media"),
                    key=lambda s: s[1],
                )
                cells = [normalize_text(s[3]).strip().lower()
                         for s in texts_k]
                if (
                    len(cells) >= 2
                    and all(c in names for c in cells)
                ):
                    # this row WILL be consumed as a re-header at
                    # emission: derive the section's column mapping
                    gidx = [global_order.get(c) for c in cells]
                    if None not in gidx and gidx != sorted(gidx):
                        # permuted vs global order -> remap follows
                        perm = sorted(range(len(gidx)),
                                      key=lambda j: gidx[j])
                    else:
                        perm = None
                elif perm is not None:
                    reheader_perm[k] = perm

        for idx, row in enumerate(block):
            # media spans are emitted at their reading-order position
            media = [s for s in row if s[2] == "media"]
            texts = [s for s in row if s[2] != "media"]
            for s in media:
                out.append((KIND_MEDIA, "", s[4]))
            if idx in special_rows:
                out.extend(special_emit.get(idx, ()))
                continue
            if not texts:
                continue
            if len(texts) == 1 and _is_footnote(texts[0][3].strip()):
                drop(metrics, "footnote")
                continue
            if idx in compound_rows:
                # stacked header block: the first row emits the compound
                # " / " names; the remaining header rows are consumed
                out.extend(compound_emit.get(idx, ()))
                continue
            if idx in pre_header_rows:
                for s in texts:
                    out.append((KIND_HEADING, normalize_text(s[3]), ""))
                continue
            if kv[idx]:
                out.append(
                    (
                        KIND_TEXT,
                        f"{normalize_text(texts[0][3])}: "
                        f"{normalize_text(texts[1][3])}",
                        "",
                    )
                )
                continue
            if idx in zebra_rows or idx in grid_rows:
                # VH3 zebra / VH1 grid: the visual channel confirmed a
                # table the text heuristics missed — rows emit as cells
                for s in texts:
                    out.append(
                        (KIND_CELL, ocr_repair(normalize_text(s[3])), "")
                    )
                continue
            if in_table[idx]:
                if idx in header_rows:
                    for s in texts:
                        out.append((KIND_HEADING, normalize_text(s[3]), ""))
                elif _italic_ratio(texts) > 0.8:
                    # FH3: an in-run row that is >80% italic is secondary
                    # content (caption / metadata), demoted to text
                    for s in texts:
                        out.append((KIND_TEXT, normalize_text(s[3]), ""))
                elif (
                    idx in header_texts
                    and len(texts) >= 2
                    and all(
                        normalize_text(s[3]).strip().lower()
                        in header_texts[idx]
                        for s in texts
                    )
                ):
                    drop(metrics, "reheader", len(texts))
                else:
                    # OCR-text span recovery on recovered table cells:
                    # glyph-confusion repair of number-shaped tokens
                    # (north_star stage; normalize.ocr_repair)
                    cells = texts
                    perm = reheader_perm.get(idx)
                    if perm is not None and len(perm) == len(cells):
                        # re-header column remap: emit in global-header
                        # order (interpret.py:1216-1220); rows whose
                        # cell count diverges keep natural order (the
                        # span model never drops unmatched text)
                        cells = sorted(cells, key=lambda s: s[1])
                        cells = [cells[j] for j in perm]
                    for s in cells:
                        out.append(
                            (KIND_CELL, ocr_repair(normalize_text(s[3])), "")
                        )
            elif _is_section_label(texts):
                out.append((KIND_SECTION, normalize_text(texts[0][3]), ""))
            else:
                for s in texts:
                    out.append((KIND_TEXT, normalize_text(s[3]), ""))
    return out


def extract_pdfish(spans: list[tuple]) -> tuple[list, dict]:
    """Whole-document extraction: group by page, extract each page in
    order, re-sequence offsets 0..n-1. Returns (out_spans, metrics)."""
    pages: dict[int, list] = {}
    metrics = new_metrics(len(spans))
    for kind, text, ref, off in spans:
        page, y, x = decode_offset(off)
        if kind not in ("media", "pdf_line") and not (text or "").strip():
            drop(metrics, "empty")
            continue
        pages.setdefault(page, []).append((y, x, kind, text or "", ref or ""))
    out: list[tuple[str, str, str]] = []
    for page in sorted(pages):
        out.extend(extract_page(pages[page], metrics))
    return finalize([(k, t, m, 0) for k, t, m in out], metrics)


PAGE_HEIGHT = 1000  # centipoint y-range of the packed-offset grid
HEADER_FRAC = 0.15  # retrieval.py:115-164 zone bands
FOOTER_FRAC = 0.85
TITLE_FRAC = 0.40


def extract_zones(spans: list[tuple]) -> dict[str, list[str]]:
    """Zone extraction (docpact retrieval.py:115-164 semantics): page
    header = rows with y in the top 15 % of the page, footer = bottom
    15 %, title zone = first page's top 40 %. Returns normalized row
    texts per zone in reading order (page asc, y asc, x asc).

    Spark shape: a pure column predicate — ``y / page_height`` band
    filters over the span table before any kernel work, so zone pulls
    (metadata retrieval, title scans) never run the full extraction."""
    rows: dict[str, list[tuple]] = {"header": [], "footer": [], "title": []}
    for kind, text, _ref, off in spans:
        if kind == "media" or not (text or "").strip():
            continue
        page, y, x = decode_offset(off)
        frac = y / PAGE_HEIGHT
        if frac < HEADER_FRAC:
            rows["header"].append((page, y, x, text))
        elif frac >= FOOTER_FRAC:
            rows["footer"].append((page, y, x, text))
        if page == 0 and frac < TITLE_FRAC:
            rows["title"].append((page, y, x, text))
    return {
        zone: [normalize_text(t) for _p, _y, _x, t in sorted(items)]
        for zone, items in rows.items()
    }


def _fuzzy_score(a: str, b: str) -> float:
    """Containment-boosted similarity in [0, 100] — the reference's
    WRatio-style scorer (filter.py:130-160) re-expressed with stdlib
    difflib (deterministic, no external deps)."""
    from difflib import SequenceMatcher

    a, b = a.lower().strip(), b.lower().strip()
    if not a or not b:
        return 0.0
    if a in b or b in a:
        return 100.0
    return 100.0 * SequenceMatcher(None, a, b).ratio()


def filter_pages_by_titles(
    spans: list[tuple],
    terms: list[str],
    threshold: float = 90.0,
    pages: list[int] | None = None,
) -> tuple[list[int], list[tuple]]:
    """Fuzzy page filter (docpact filter.py:224-347 semantics): keep
    pages whose title-zone rows fuzzy-match any search term at
    score >= threshold, unioned with an explicit page list. Returns
    (kept pages sorted, the surviving spans).

    This is the engine's predicate-pushdown analogue — the cheap fuzzy
    filter runs before expensive extraction, so at scale it is a
    vectorized score UDF + filter ahead of the kernel stage."""
    by_page: dict[int, list[str]] = {}
    for kind, text, _ref, off in spans:
        if kind == "media" or not (text or "").strip():
            continue
        page, y, _x = decode_offset(off)
        if y / PAGE_HEIGHT < TITLE_FRAC:
            by_page.setdefault(page, []).append(text)
    kept = set(pages or [])
    for page, texts in by_page.items():
        if page in kept:
            continue
        for t in texts:
            if any(_fuzzy_score(t, term) >= threshold for term in terms):
                kept.add(page)
                break
    out = [s for s in spans if decode_offset(s[3])[0] in kept]
    return sorted(kept), out
