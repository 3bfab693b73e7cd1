"""Deterministic synthetic interleaved-document corpus (FIXTURES.md).

Every document is a PURE function of ``(doc_id, seed)`` — any row can be
regenerated independently on any executor, and the pytest oracle can
evaluate per-document without the full corpus in memory. No external data.

Corpora (doc_id prefix selects the kernel):
  pdfish-NNNNNN  positioned text spans + media, packed offsets
                 ``page*1_000_000 + y_centi*1_000 + x``
  html-NNNNNN    one ``kind='html'`` span holding the page source
  mixed-NNNNNN   sequence-indexed text/media spans with coercion /
                 validation cases

Archetypes mirror the reference's test fixtures (SURVEY.md §5,
docpact tests/test_deterministic.py, tests/test_table_runs.py).
"""

from __future__ import annotations

import random

DEFAULT_SEED = 42

_WORDS = (
    "wheat barley canola iron coal grain cargo vessel port berth tonne "
    "export terminal draft laycan charter bulk panamax handy freight "
    "market report summary outlook stable strong weak rising falling"
).split()
_PORTS = ["GERALDTON", "KWINANA", "ALBANY", "ESPERANCE", "BUNBURY", "NEWCASTLE"]
_HEADERS = ["Port", "Vessel", "Tonnage", "ETA", "Cargo", "Grade"]
_GRADES_VALID = ["A1", "A2", "B1", "B2", "C1"]
_GRADES_BAD = ["ZZ", "Q9", "XX"]


def _rng(doc_id: str, seed: int) -> random.Random:
    return random.Random(f"{seed}:{doc_id}")


def _word(r: random.Random) -> str:
    return r.choice(_WORDS)


def _sentence(r: random.Random, n: int | None = None) -> str:
    n = n or r.randint(5, 12)
    return " ".join(_word(r) for _ in range(n)).capitalize() + "."


def _pack(page: int, y: int, x: int) -> int:
    return page * 1_000_000 + y * 1_000 + x


# ----------------------------------------------------------------- pdfish


_Y_BUDGET = 860  # keep all span y < 1000 (packed-offset page band)


def _pdfish_table_rows(r, spans, page, y, cols, n_rows, with_header=True):
    if with_header:
        for ci, x in enumerate(cols):
            spans.append(
                ("pdf_text", _HEADERS[ci % len(_HEADERS)], "", _pack(page, y, x))
            )
        y += 20
    for _ in range(n_rows):
        if y > _Y_BUDGET:
            break
        for ci, x in enumerate(cols):
            jitter = r.randint(0, 3)
            if ci == 0:
                cell = r.choice(_PORTS).title()
            elif ci == 2 or ci >= 4:
                cell = f"{r.randint(1, 99)},{r.randint(100, 999)}"
            else:
                cell = _word(r)
            spans.append(("pdf_text", cell, "", _pack(page, y + jitter, x)))
        y += 20
    return y


def _gen_pdfish(doc_id: str, r: random.Random, mega: bool = False) -> list[tuple]:
    spans: list[tuple] = []
    archetype = r.choice(
        ["flat", "sectioned", "multirow", "side_by_side", "transposed",
         "reheadered"]
    )
    n_pages = r.randint(40, 120) if mega else r.randint(1, 3)
    for page in range(n_pages):
        y = 50
        ncols = r.randint(3, 6)
        cols = sorted(r.sample(range(10, 900, 40), ncols))
        # leading title text
        spans.append(("pdf_text", _sentence(r, 6), "", _pack(page, y, 10)))
        y += 100
        if archetype == "flat" or mega:
            y = _pdfish_table_rows(r, spans, page, y, cols, r.randint(5, 50))
        elif archetype == "sectioned":
            for _ in range(r.randint(2, 4)):
                if y > _Y_BUDGET - 120:
                    break
                spans.append(("pdf_text", r.choice(_PORTS), "", _pack(page, y, cols[0])))
                y += 30
                y = _pdfish_table_rows(r, spans, page, y, cols, r.randint(3, 8))
                # aggregation total row: single numeric span
                spans.append(
                    ("pdf_text", f"{r.randint(100, 999)},000", "",
                     _pack(page, y, cols[2] if len(cols) > 2 else cols[-1]))
                )
                y += 30
        elif archetype == "multirow":
            y = _pdfish_table_rows(r, spans, page, y, cols, 0)
            for _ in range(r.randint(4, 10)):
                if y > _Y_BUDGET - 40:
                    break
                for ci, x in enumerate(cols):
                    spans.append(
                        ("pdf_text", _word(r), "", _pack(page, y + r.randint(0, 3), x))
                    )
                y += 20
                for x in cols[:2]:
                    spans.append(
                        ("pdf_text", f"{r.randint(10, 99)}:{r.randint(10, 59)}", "",
                         _pack(page, y + r.randint(0, 3), x))
                    )
                y += 20
        elif archetype == "side_by_side":
            lcols = [c // 3 + 10 for c in cols[: max(2, ncols // 2)]]
            rcols = [c // 3 + 600 for c in cols[: max(2, ncols // 2)]]
            y0 = y
            y = _pdfish_table_rows(r, spans, page, y0, lcols, r.randint(4, 9))
            y2 = _pdfish_table_rows(r, spans, page, y0, rcols, r.randint(4, 9))
            y = max(y, y2)
        elif archetype == "transposed":
            labels = ["Vessel", "Port", "Tonnage", "ETA", "Grade"]
            for li, lab in enumerate(labels[: r.randint(3, 5)]):
                spans.append(("pdf_text", lab, "", _pack(page, y, cols[0])))
                spans.append(
                    ("pdf_text", f"{r.randint(1, 9)},{r.randint(100, 999)}", "",
                     _pack(page, y + r.randint(0, 3), cols[1]))
                )
                y += 20
        else:  # reheadered: one run where the header row repeats mid-table
            y = _pdfish_table_rows(r, spans, page, y, cols, r.randint(3, 6))
            # section re-header (same names, same columns) then more data
            for ci, x in enumerate(cols):
                spans.append(
                    ("pdf_text", _HEADERS[ci % len(_HEADERS)], "",
                     _pack(page, y, x))
                )
            y += 20
            y = _pdfish_table_rows(
                r, spans, page, y, cols, r.randint(3, 6), with_header=False
            )
        # interleave media spans between blocks (fixed tail band keeps the
        # packed y inside the 0..999 page range)
        for k in range(r.randint(0, 2)):
            spans.append(
                ("media", "", f"img://{doc_id}/p{page}/{k}",
                 _pack(page, 900 + 15 * k, 100))
            )
        # trailing footnotes at fixed bottom-of-page positions
        if r.random() < 0.7:
            spans.append(
                ("pdf_text", f"* Note: {_sentence(r, 5)}", "", _pack(page, 950, 10))
            )
        if r.random() < 0.3:
            spans.append(
                ("pdf_text", f"Source: {_word(r)} bureau", "", _pack(page, 970, 10))
            )
        if r.random() < 0.1:
            spans.append(("pdf_text", "   ", "", _pack(page, 990, 10)))
    return spans


# ------------------------------------------------------------------- html


def _gen_html(doc_id: str, r: random.Random) -> list[tuple]:
    nav_links = "".join(
        f'<li><a href="/{_word(r)}">{_word(r).title()}</a></li>' for _ in range(5)
    )
    paras = "".join(f"<p>{_sentence(r)} {_sentence(r)}</p>" for _ in range(r.randint(2, 5)))
    n_imgs = r.randint(0, 3)
    imgs = "".join(
        f'<img src="img://{doc_id}/{k}" alt="fig{k}">' for k in range(n_imgs)
    )
    # table with a colspan header and one rowspan cell
    body_rows = "".join(
        f"<tr><td>{r.choice(_PORTS).title()}</td><td>{_word(r)}</td>"
        f"<td>{r.randint(1, 99)},{r.randint(100, 999)}</td></tr>"
        for _ in range(r.randint(2, 6))
    )
    table = (
        "<table><thead><tr><th colspan=\"2\">Shipment</th><th>Tonnage</th></tr></thead>"
        f"<tbody><tr><td rowspan=\"2\">{r.choice(_PORTS).title()}</td>"
        f"<td>{_word(r)}</td><td>{r.randint(1, 9)},{r.randint(100, 999)}</td></tr>"
        f"<tr><td>{_word(r)}</td><td>{r.randint(1, 9)},{r.randint(100, 999)}</td></tr>"
        f"{body_rows}</tbody></table>"
    )
    sidebar = "".join(f'<a href="/{_word(r)}">{_word(r)}</a> ' for _ in range(8))
    html = (
        "<html><head><title>report</title><style>p{color:#000}</style></head><body>"
        f"<nav><ul>{nav_links}</ul></nav>"
        f"<header><p>{_word(r).title()} weekly — your {_word(r)} portal</p></header>"
        f'<div class="cookie-banner"><p>We use cookies. <a href="#">Accept</a></p></div>'
        f"<aside><p>{sidebar}</p></aside>"
        f"<main><h1>{_sentence(r, 4)[:-1]}</h1>{paras}{imgs}{table}"
        f"<p>{_sentence(r)}</p></main>"
        f'<footer><p>© 2026 {_word(r)} inc — <a href="/privacy">Privacy</a></p></footer>'
        "</body></html>"
    )
    return [("html", html, "", 0)]


# ------------------------------------------------------------------ mixed


def _gen_mixed(doc_id: str, r: random.Random) -> list[tuple]:
    spans: list[tuple] = []
    idx = 0

    def add(kind, text, ref=""):
        nonlocal idx
        spans.append((kind, text, ref, idx))
        idx += 1

    add("text", f"title: {_sentence(r, 4)}")
    for _ in range(r.randint(5, 15)):
        kind_roll = r.random()
        if kind_roll < 0.15:
            add("media", "", f"img://{doc_id}/{idx}")
        elif kind_roll < 0.35:
            # coercion cases (docpact tests/test_serialize_coerce.py)
            add("text", r.choice([
                "amount: 1,234", "amount: 55826,3", "amount: (123)",
                "amount: 12.5%", "amount: $4,500", "flag: yes", "flag: no",
                "amount: 1 234",
            ]))
        elif kind_roll < 0.5:
            grade = r.choice(_GRADES_VALID + _GRADES_BAD)
            add("text", f"grade: {grade}")
        elif kind_roll < 0.6:
            # normalization cases (docpact tests/test_normalize.py)
            add("text", "the quick  “brown” — fox​")
        elif kind_roll < 0.65:
            add("text", "   ")  # drops as empty
        else:
            add("text", _sentence(r))
    return spans


# ------------------------------------------------------------------- grid


def _gen_grid(doc_id: str, r: random.Random) -> list[tuple]:
    """Spreadsheet-shaped doc: 1-2 sheets of header+data cells with merged
    ranges, hidden rows/cols, aggregation totals, trailing footnotes and
    trailing empty columns (docpact xlsx_extractor.py synthetic-fixture
    analogue, tests/generate_synthetic_xlsx.py)."""
    spans: list[tuple] = []

    def pack(sheet, row, col):
        return sheet * 1_000_000 + row * 1_000 + col

    for sheet in range(r.randint(1, 2)):
        ncols = r.randint(3, 5)
        nrows = r.randint(4, 10)
        # ~20%: an XH5 annotation block (sparse metadata rows + blank
        # separator) sits above the table when it is wide enough for the
        # sparsity gate (xlsx_extractor.py:707-787)
        base_row = 0
        ncols_wide = ncols >= 4
        if ncols_wide and r.random() < 0.2:
            spans.append(
                ("grid_cell", f"{_word(r).title()} Workbook", "",
                 pack(sheet, 0, 0))
            )
            spans.append(
                ("grid_cell", "Author:", "", pack(sheet, 1, 0))
            )
            spans.append(
                ("grid_cell", _word(r).title(), "", pack(sheet, 1, 1))
            )
            base_row = 3  # row 2 stays blank (single-row separator)
        # header block: usually one row; ~35% a multi-row header with a
        # horizontal group merge (DH2, xlsx_extractor.py:377-430) and
        # optionally an XH2 title row (full-width merge, single cell)
        h = base_row + 1
        if r.random() < 0.35 and ncols_wide:
            base = base_row
            if r.random() < 0.5:
                spans.append(
                    ("grid_cell", f"{_word(r).title()} Report", "",
                     pack(sheet, base, 0))
                )
                spans.append(
                    ("grid_merge", f"{base},0,{base},{ncols - 1}", "",
                     pack(sheet, base, 0))
                )
                base += 1
            # group row: left label + group label merged over data cols
            spans.append(
                ("grid_cell", _HEADERS[0], "", pack(sheet, base, 0))
            )
            spans.append(
                ("grid_cell", "Traffic by period", "", pack(sheet, base, 2))
            )
            spans.append(
                ("grid_merge", f"{base},2,{base},{ncols - 1}", "",
                 pack(sheet, base, 2))
            )
            # leaf header row
            for c in range(ncols):
                spans.append(
                    ("grid_cell", _HEADERS[c % len(_HEADERS)], "",
                     pack(sheet, base + 1, c))
                )
            h = base + 2
        else:
            for c in range(ncols):
                spans.append(
                    ("grid_cell", _HEADERS[c % len(_HEADERS)], "",
                     pack(sheet, base_row, c))
                )
        # data rows h..h+nrows-1
        for row in range(h, h + nrows):
            for c in range(ncols):
                val = (
                    r.choice(_PORTS).title()
                    if c == 0
                    else f"{r.randint(1, 99)},{r.randint(100, 999)}"
                    if c >= 2
                    else _word(r)
                )
                spans.append(("grid_cell", val, "", pack(sheet, row, c)))
        # merged range in the data area (top-left keeps its value)
        if r.random() < 0.6 and nrows >= 3:
            r0 = r.randint(h, h + nrows - 2)
            spans.append(
                ("grid_merge", f"{r0},0,{r0 + 1},0", "", pack(sheet, r0, 0))
            )
        # hidden row / column
        if r.random() < 0.5:
            spans.append(
                ("grid_hidden_row", str(r.randint(h, h + nrows - 1)), "",
                 pack(sheet, 0, 0))
            )
        if r.random() < 0.3:
            spans.append(
                ("grid_hidden_col", str(ncols - 1), "", pack(sheet, 0, 0))
            )
        # aggregation total row
        agg_row = h + nrows
        spans.append(("grid_cell", "Total", "", pack(sheet, agg_row, 0)))
        spans.append(
            ("grid_cell", f"{r.randint(100, 999)},000", "",
             pack(sheet, agg_row, 2 if ncols > 2 else ncols - 1))
        )
        # trailing footnote row(s)
        if r.random() < 0.7:
            spans.append(
                ("grid_cell", f"* Note: {_sentence(r, 4)}", "",
                 pack(sheet, agg_row + 1, 0))
            )
        # ~15%: an XH1 second table region after a >=2-blank-row gap
        # (xlsx_extractor.py:593-649 multi-table sheets)
        if r.random() < 0.15:
            t2 = agg_row + 4
            n2c, n2r = r.randint(2, 3), r.randint(2, 3)
            for c in range(n2c):
                spans.append(
                    ("grid_cell", _HEADERS[(c + 2) % len(_HEADERS)], "",
                     pack(sheet, t2, c))
                )
            for ri in range(1, n2r + 1):
                for c in range(n2c):
                    val = (
                        r.choice(_PORTS).title()
                        if c == 0
                        else f"{r.randint(1, 99)},{r.randint(100, 999)}"
                    )
                    spans.append(
                        ("grid_cell", val, "", pack(sheet, t2 + ri, c))
                    )
        # trailing empty column (value-less cells)
        spans.append(("grid_cell", "  ", "", pack(sheet, h, ncols)))
        # embedded chart/image
        if r.random() < 0.4:
            spans.append(
                ("media", "", f"img://{doc_id}/s{sheet}",
                 pack(sheet, r.randint(h, h + nrows - 1), 1))
            )
    return spans


# ----------------------------------------------------------- twin pairs


def transposed_pair(pair_id: int, seed: int = DEFAULT_SEED) -> tuple[list, list]:
    """A transposed document and its FLAT TWIN (same labels/values,
    rotated layout). The kernel's transposed mapping (docpact
    compress.py:1762-1803 detection + interpret.py:1738-1816 mapping)
    must make both extract to the SAME span sequence."""
    r = _rng(f"pairt-{pair_id}", seed)
    labels = ["Vessel", "Port", "Tonnage", "ETA", "Grade"][: r.randint(3, 5)]
    values = [f"{r.randint(1, 9)},{r.randint(100, 999)}" for _ in labels]
    title = _sentence(r, 6)
    # evenly-spaced columns: an uneven draw can legitimately trigger the
    # side-by-side x-cut, which is not what this twin pair tests
    cols = [10 + 170 * ci for ci in range(len(labels))]
    # transposed: one (label, value) row per field, label column stable
    t_spans = [("pdf_text", title, "", _pack(0, 50, 10))]
    y = 150
    for lab, val in zip(labels, values):
        t_spans.append(("pdf_text", lab, "", _pack(0, y, cols[0])))
        t_spans.append(("pdf_text", val, "", _pack(0, y, cols[1])))
        y += 20
    # flat twin: header row of the labels, one data row of the values
    f_spans = [("pdf_text", title, "", _pack(0, 50, 10))]
    for ci, lab in enumerate(labels):
        f_spans.append(("pdf_text", lab, "", _pack(0, 150, cols[ci])))
    for ci, val in enumerate(values):
        f_spans.append(("pdf_text", val, "", _pack(0, 170, cols[ci])))
    return t_spans, f_spans


def multirow_pair(pair_id: int, seed: int = DEFAULT_SEED) -> tuple[list, list]:
    """A period-2 multi-row-record document and its PRE-MERGED twin
    (each 2-row record collapsed to one row, same cell texts space-
    joined in the overlapping columns). The kernel's periodicity merge
    (docpact compress.py:1390-1466) must extract both to the SAME span
    sequence."""
    r = _rng(f"pairm-{pair_id}", seed)
    ncols = r.randint(3, 5)
    # evenly spaced — see transposed_pair
    cols = [10 + 170 * ci for ci in range(ncols)]
    title = _sentence(r, 6)
    n_recs = r.randint(4, 8)
    recs = []
    for _ in range(n_recs):
        words = [_word(r) for _ in range(ncols)]
        times = [f"{r.randint(10, 99)}:{r.randint(10, 59)}" for _ in range(2)]
        recs.append((words, times))
    m_spans = [("pdf_text", title, "", _pack(0, 50, 10))]
    f_spans = [("pdf_text", title, "", _pack(0, 50, 10))]
    y = 150
    for ci, x in enumerate(cols):
        h = _HEADERS[ci % len(_HEADERS)]
        m_spans.append(("pdf_text", h, "", _pack(0, y, x)))
        f_spans.append(("pdf_text", h, "", _pack(0, y, x)))
    ym, yf = y + 20, y + 20
    for words, times in recs:
        for ci, x in enumerate(cols):
            m_spans.append(("pdf_text", words[ci], "", _pack(0, ym, x)))
        ym += 20
        for ci, x in enumerate(cols[:2]):
            m_spans.append(("pdf_text", times[ci], "", _pack(0, ym, x)))
        ym += 20
        for ci, x in enumerate(cols):
            cell = f"{words[ci]} {times[ci]}" if ci < 2 else words[ci]
            f_spans.append(("pdf_text", cell, "", _pack(0, yf, x)))
        yf += 20
    return m_spans, f_spans


def merged_pair(pair_id: int, seed: int = DEFAULT_SEED) -> tuple[list, list]:
    """A document whose data rows carry PDF-merged spans — two adjacent
    cell values in ONE span, geometry intact — plus the width channel
    ("st:@<w>" tokens, 10 layout units per char), and its UNMERGED twin.
    The kernel's median char width (docpact spatial_text.py:297-308) and
    span splitting at column boundaries owned by other rows
    (compress.py:948-1032) must extract both to the SAME span sequence —
    the 'width' family of the twin-suite oracle.

    Geometry: the first column holds fixed-width 5-char time tokens, so
    col1 sits exactly 6 chars (60 units) right of col0 and the merged
    span's single space lands on the boundary's char index."""
    r = _rng(f"pairw-{pair_id}", seed)
    cw = 10
    ncols = r.randint(3, 4)
    cols = [10, 70] + [70 + 170 * ci for ci in range(1, ncols - 1)]
    title = _sentence(r, 6)

    def tok():
        return f"{r.randint(10, 99)}:{r.randint(10, 59)}"  # 5 chars

    def styled(text, extra=0):
        return f"st:@{cw * len(text) + extra}"

    n_rows = r.randint(4, 8)
    recs = []
    for _ in range(n_rows):
        recs.append([tok()] + [_word(r) for _ in range(ncols - 1)])
    m_spans = [("pdf_text", title, styled(title), _pack(0, 50, 10))]
    u_spans = [("pdf_text", title, styled(title), _pack(0, 50, 10))]
    y = 150
    for ci, x in enumerate(cols):
        h = _HEADERS[ci % len(_HEADERS)]
        for spans in (m_spans, u_spans):
            spans.append(("pdf_text", h, styled(h), _pack(0, y, x)))
    y += 20
    for ri, rec in enumerate(recs):
        # odd rows merge cells 0+1 into one span in the merged doc: the
        # text keeps ONE space but the rendered width spans the gap
        if ri % 2 == 1:
            merged = f"{rec[0]} {rec[1]}"
            w = (cols[1] - cols[0]) + cw * len(rec[1])
            m_spans.append(
                ("pdf_text", merged, f"st:@{w}", _pack(0, y, cols[0]))
            )
            for ci in range(2, ncols):
                m_spans.append(
                    ("pdf_text", rec[ci], styled(rec[ci]),
                     _pack(0, y, cols[ci]))
                )
        else:
            for ci in range(ncols):
                m_spans.append(
                    ("pdf_text", rec[ci], styled(rec[ci]),
                     _pack(0, y, cols[ci]))
                )
        for ci in range(ncols):
            u_spans.append(
                ("pdf_text", rec[ci], styled(rec[ci]), _pack(0, y, cols[ci]))
            )
        y += 20
    return m_spans, u_spans


def stacked_pair(pair_id: int, seed: int = DEFAULT_SEED) -> tuple[list, list]:
    """A PDF-layout doc with a STACKED header — a group-label row above
    the run (preceding header, docpact compress.py:1810-1878) over an
    in-run leaf header row — and its FLAT TWIN whose single header row
    carries the pre-stacked compound " / " names. The kernel's
    bounds-overlap assignment (_build_stacked_headers,
    compress.py:1549-1644) must make both extract to the SAME span
    sequence.

    Geometry (cw=10): 4 columns 170 units apart. Group label 1 starts
    AT column 0 (start-aligned — this is what admits the row into the
    preceding-header scan). Group label 2 is centered BETWEEN columns 2
    and 3 (equidistant from both anchors, where nearest-anchor
    assignment would tie-break WRONG to column 2) with a rendered
    extent that overlaps only column 3's data bounds — so the pair
    only extracts equal if the bounds-overlap channel, not the anchor
    fallback, assigns it."""
    r = _rng(f"pairs-{pair_id}", seed)
    cw = 10
    cols = [10 + 170 * ci for ci in range(4)]
    title = _sentence(r, 6)

    def styled(text):
        return f"st:@{cw * len(text)}"

    leaf = [_word(r).title() for _ in range(4)]
    g1 = _word(r).title()
    g2 = _word(r).title()
    n_rows = r.randint(4, 8)
    recs = []
    for _ in range(n_rows):
        recs.append(
            [r.choice(_PORTS).title()]
            + [f"{r.randint(1, 9)},{r.randint(100, 999)}" for _ in range(3)]
        )
    # stacked side: title, group row, leaf row, data
    s_spans = [("pdf_text", title, "", _pack(0, 50, 10))]
    y = 150
    s_spans.append(("pdf_text", g1, styled(g1), _pack(0, y, cols[0])))
    # centered between col2 (350) and col3 (520): x = 435, extent
    # [435, 435+150) overlaps only col3's margin-extended data bounds
    g2_x = (cols[2] + cols[3]) // 2
    s_spans.append(("pdf_text", g2, "st:@150", _pack(0, y, g2_x)))
    y += 20
    for ci, x in enumerate(cols):
        s_spans.append(("pdf_text", leaf[ci], styled(leaf[ci]), _pack(0, y, x)))
    y += 20
    data_y = y
    for rec in recs:
        for ci, x in enumerate(cols):
            s_spans.append(
                ("pdf_text", rec[ci], styled(rec[ci]), _pack(0, y, x))
            )
        y += 20
    # flat twin: ONE header row carrying the pre-stacked compound names
    # (consecutive-repeat dedup mirrors _build_stacked_headers)
    names = [
        leaf[0] if g1 == leaf[0] else f"{g1} / {leaf[0]}",
        leaf[1],
        leaf[2],
        leaf[3] if g2 == leaf[3] else f"{g2} / {leaf[3]}",
    ]
    f_spans = [("pdf_text", title, "", _pack(0, 50, 10))]
    for ci, x in enumerate(cols):
        f_spans.append(
            ("pdf_text", names[ci], styled(names[ci]), _pack(0, 170, x))
        )
    y = data_y
    for rec in recs:
        for ci, x in enumerate(cols):
            f_spans.append(
                ("pdf_text", rec[ci], styled(rec[ci]), _pack(0, y, x))
            )
        y += 20
    return s_spans, f_spans


def grid_header_pair(pair_id: int, seed: int = DEFAULT_SEED) -> tuple[list, list]:
    """A grid doc with a MULTI-ROW header (horizontal group merge over
    the data columns + leaf header row, docpact
    xlsx_extractor.py:377-430) and its FLAT TWIN whose single header row
    carries the pre-stacked compound " / " names
    (xlsx_extractor.py:434-476). The grid kernel's DH2 estimation +
    compound stacking must extract both to the SAME span sequence —
    the 'gridheader' family of the twin-suite oracle."""
    r = _rng(f"pairg-{pair_id}", seed)
    ncols = r.randint(4, 5)
    nrows = r.randint(3, 6)
    group = f"Traffic {_word(r).title()}"
    leaf = [_HEADERS[c % len(_HEADERS)] for c in range(ncols)]

    def pack(row, col):
        return row * 1_000 + col

    # multi-row side: group row repeats the label columns' leaf names
    # (consecutive-duplicate collapse keeps them single) and merges the
    # group label over the numeric columns
    m_spans: list[tuple] = []
    for c in range(2):
        m_spans.append(("grid_cell", leaf[c], "", pack(0, c)))
    m_spans.append(("grid_cell", group, "", pack(0, 2)))
    m_spans.append(("grid_merge", f"0,2,0,{ncols - 1}", "", pack(0, 2)))
    for c in range(ncols):
        m_spans.append(("grid_cell", leaf[c], "", pack(1, c)))
    # flat twin: one header row of compound names
    f_spans: list[tuple] = []
    for c in range(ncols):
        name = leaf[c] if c < 2 else f"{group} / {leaf[c]}"
        f_spans.append(("grid_cell", name, "", pack(0, c)))
    # identical data rows on both sides
    for ri in range(nrows):
        for c in range(ncols):
            val = (
                r.choice(_PORTS).title()
                if c == 0
                else _word(r)
                if c == 1
                else f"{r.randint(1, 99)},{r.randint(100, 999)}"
            )
            m_spans.append(("grid_cell", val, "", pack(2 + ri, c)))
            f_spans.append(("grid_cell", val, "", pack(1 + ri, c)))
    return m_spans, f_spans


def grid_format_pair(pair_id: int, seed: int = DEFAULT_SEED) -> tuple[list, list]:
    """A grid doc whose date column holds Excel SERIALS under a
    date-type number format (XH4 hint "fmt:yyyy-mm-dd" on the cell's
    media_ref, docpact xlsx_extractor.py:348-374) and its EXPLICITLY
    TYPED TWIN carrying the ISO date strings directly. The currency and
    percentage columns carry fmt hints on the hinted side too — those
    are display-only in openpyxl, so both sides must extract to the
    SAME span sequence: the hint converts date serials to date VALUES
    and nothing else. The 'gridformat' family of the twin-suite
    oracle."""
    import datetime as _dt

    r = _rng(f"pairfmt-{pair_id}", seed)
    nrows = r.randint(3, 6)
    headers = ["Port", "Date", "Price", "Share"]

    def pack(row, col):
        return row * 1_000 + col

    h_spans: list[tuple] = []  # hinted side
    t_spans: list[tuple] = []  # explicitly-typed twin
    for c, h in enumerate(headers):
        h_spans.append(("grid_cell", h, "", pack(0, c)))
        t_spans.append(("grid_cell", h, "", pack(0, c)))
    excel_epoch = _dt.date(1899, 12, 30).toordinal()
    for ri in range(1, nrows + 1):
        port = r.choice(_PORTS).title()
        serial = 44000 + r.randint(0, 2000)
        iso = _dt.date.fromordinal(excel_epoch + serial).isoformat()
        price = f"{r.randint(1, 99)},{r.randint(100, 999)}"
        share = f"0.{r.randint(10, 99)}"
        h_spans.append(("grid_cell", port, "", pack(ri, 0)))
        h_spans.append(("grid_cell", str(serial), "fmt:yyyy-mm-dd", pack(ri, 1)))
        h_spans.append(("grid_cell", price, "fmt:$#,##0.00", pack(ri, 2)))
        h_spans.append(("grid_cell", share, "fmt:0.0%", pack(ri, 3)))
        t_spans.append(("grid_cell", port, "", pack(ri, 0)))
        t_spans.append(("grid_cell", iso, "", pack(ri, 1)))
        t_spans.append(("grid_cell", price, "", pack(ri, 2)))
        t_spans.append(("grid_cell", share, "", pack(ri, 3)))
    return h_spans, t_spans


# ----------------------------------------------------------------- styled

# Style flags ride the otherwise-unused media_ref of text spans
# ("st:<flags>[#<fill>]", see kernels/pdfish.py span_style) — the
# contract's span-struct shape is untouched. Column-0 words avoid the
# transposed-label vocabulary so the structural transposed check can
# never fire on an all-word styled table.
_SAFE_WORDS = [w for w in _WORDS if w not in ("vessel", "port", "cargo")]


def styled_doc(i: int, seed: int = DEFAULT_SEED) -> tuple[list[tuple], dict]:
    """A style-signaled document PLUS its generator ground truth — the
    expected per-kind span counts, computed from how the doc was BUILT,
    independent of any kernel (golden tests assert exact sequences).
    Four archetypes
    that only extract correctly via the style/visual channel:

      i%5==0  FH2: two bold all-word header rows over all-word data
              rows — the H7 span-count signature is uniform and every
              row is numeric-free, so structure alone finds at most one
              header row (compress.py:600-646)
      i%5==1  VH3: zebra list — single-span rows with alternating fill
              ids, structurally prose (compress.py:232-292)
      i%5==2  FH3: an all-italic caption row INSIDE a numeric table run
              (shares the run's anchors — structurally cells)
              (compress.py:651-693 metadata_rows)
      i%5==3  VH1: a ruled grid (>= 3 significant h- and v-lines as
              kind='pdf_line' spans) over single-span multi-word rows —
              structurally prose, rescued as cells only by the visual
              grid (compress.py:123-165 detection; 2251-2256 is the
              reference's logged-and-deferred gap)
      i%5==4  VH2: two header rows sharing one fill id over unfilled
              all-word data rows — same structural ambiguity as FH2,
              the header fill is the only signal (compress.py:169-226)
    """
    r = _rng(f"styled-{i:06d}", seed)
    variant = i % 5
    cols = [10 + 170 * ci for ci in range(4)]
    spans: list[tuple] = [
        ("pdf_text", _sentence(r, 6), "", _pack(0, 50, 10))
    ]
    truth = {"heading": 0, "cell": 0, "text": 1, "media": 0}
    y = 150
    if variant == 0:
        for _hr in range(2):
            for ci, x in enumerate(cols):
                w = r.choice(_SAFE_WORDS).title()
                spans.append(("pdf_text", w, "st:b", _pack(0, y, x)))
            y += 20
        # the 2-row stacked header emits ONE compound " / " heading per
        # column (compress.py:1549-1644 _build_stacked_headers)
        truth["heading"] += len(cols)
        for _ in range(r.randint(4, 8)):
            for ci, x in enumerate(cols):
                spans.append(
                    ("pdf_text", r.choice(_SAFE_WORDS), "", _pack(0, y, x))
                )
            truth["cell"] += len(cols)
            y += 20
    elif variant == 1:
        n = 8 + 2 * r.randint(0, 3)
        for k in range(n):
            spans.append(
                ("pdf_text", _sentence(r, 3), f"st:#{k % 2}", _pack(0, y, 10))
            )
            truth["cell"] += 1
            y += 20
    elif variant == 2:
        for x in cols:
            spans.append(
                ("pdf_text", r.choice(_SAFE_WORDS).title(), "", _pack(0, y, x))
            )
        truth["heading"] += len(cols)
        y += 20
        for _ in range(r.randint(4, 8)):
            for x in cols:
                spans.append(
                    ("pdf_text", f"{r.randint(1, 9)},{r.randint(100, 999)}",
                     "", _pack(0, y, x))
                )
            truth["cell"] += len(cols)
            y += 20
        # all-italic caption row inside the run (2 spans on the run's
        # first two anchors — joins the run structurally)
        for x in cols[:2]:
            spans.append(
                ("pdf_text", r.choice(_SAFE_WORDS), "st:i", _pack(0, y, x))
            )
        truth["text"] += 2
        y += 20
    elif variant == 3:
        # VH1 ruled grid: single-span multi-word rows (structurally
        # prose — one span never starts a run) bounded by ruling lines
        x0, x1 = 10, 400
        n = r.randint(4, 7)
        y0 = y - 10
        for _ in range(n):
            txt = " ".join(r.choice(_SAFE_WORDS) for _ in range(3))
            spans.append(("pdf_text", txt, "", _pack(0, y, x0 + 5)))
            truth["cell"] += 1
            y += 20
        y1 = y - 10
        for k in range(n + 1):
            spans.append(
                ("pdf_line", "", f"ln:h:{x0}:{x1}", _pack(0, y0 + 20 * k, x0))
            )
        for lx in (x0, (x0 + x1) // 2, x1):
            spans.append(
                ("pdf_line", "", f"ln:v:{y0}:{y1}", _pack(0, y0, lx))
            )
    else:
        # VH2 header fill: two rows sharing one fill id over unfilled
        # all-word data rows — uniform span counts + numeric-free rows,
        # so only the fill contrast identifies the 2-row header
        for _hr in range(2):
            for x in cols:
                spans.append(
                    ("pdf_text", r.choice(_SAFE_WORDS).title(), "st:#7",
                     _pack(0, y, x))
                )
            y += 20
        # 2-row stacked header -> one compound heading per column
        truth["heading"] += len(cols)
        for _ in range(r.randint(4, 8)):
            for x in cols:
                spans.append(
                    ("pdf_text", r.choice(_SAFE_WORDS), "", _pack(0, y, x))
                )
            truth["cell"] += len(cols)
            y += 20
    return spans, truth


# -------------------------------------------------------------- boxes


def _gen_boxes(doc_id: str, r: random.Random) -> list[tuple]:
    """Slide-deck-shaped doc (PPTX family, docpact pptx_extractor.py):
    1-3 slides, each with a title box, usually an aligned text-box
    table (>=3 rows so the slide gates pass), free-text bullets, and
    sometimes a 2-row aligned pair that must STAY text
    (pptx_extractor.py:352-380 gates) or an embedded image."""
    spans: list[tuple] = []
    for slide in range(r.randint(1, 3)):
        spans.append(
            ("box", f"{_word(r).title()} {_word(r)}", "", _pack(slide, 40, 60))
        )
        if r.random() < 0.75:
            ncols = r.randint(2, 4)
            nrows = r.randint(3, 6)
            xs = [100 + 150 * c for c in range(ncols)]
            for c in range(ncols):
                spans.append(
                    ("box", _HEADERS[c % len(_HEADERS)], "",
                     _pack(slide, 200, xs[c]))
                )
            for ri in range(1, nrows):
                for c in range(ncols):
                    val = (
                        r.choice(_PORTS).title()
                        if c == 0
                        else f"{r.randint(1, 99)},{r.randint(100, 999)}"
                    )
                    spans.append(
                        ("box", val, "", _pack(slide, 200 + 60 * ri, xs[c]))
                    )
        # free-text bullets below the table zone
        y = 700
        for _ in range(r.randint(1, 3)):
            spans.append(("box", _sentence(r, 5), "", _pack(slide, y, 80)))
            y += 40
        if r.random() < 0.3:
            # 2-row aligned pair: the run-length gate keeps it text
            for ri in range(2):
                for c in range(2):
                    spans.append(
                        ("box", _word(r), "",
                         _pack(slide, y + 50 * ri, 120 + 200 * c))
                    )
            y += 120
        if r.random() < 0.3:
            spans.append(
                ("media", "", f"img://{doc_id}/s{slide}", _pack(slide, y, 400))
            )
    return spans


def reheader_pair(pair_id: int, seed: int = DEFAULT_SEED) -> tuple[list, list]:
    """A PDF-layout doc whose mid-run section RE-HEADER permutes the
    global column order — its data cells must re-emit in GLOBAL header
    order (docpact interpret.py:1185-1240 Phase A name-matched column
    remap) — and its FLAT TWIN carrying every row in global order with
    no re-header."""
    r = _rng(f"pairr-{pair_id}", seed)
    ncols = r.randint(3, 4)
    cols = [10 + 170 * ci for ci in range(ncols)]
    hdrs = _HEADERS[:ncols]
    title = _sentence(r, 6)
    perm = list(range(ncols))
    while perm == list(range(ncols)):
        r.shuffle(perm)

    def rec():
        out = []
        for ci in range(ncols):
            out.append(
                r.choice(_PORTS).title() if ci == 0
                else f"{r.randint(1, 9)},{r.randint(100, 999)}"
            )
        return out

    first = [rec() for _ in range(r.randint(2, 5))]
    second = [rec() for _ in range(r.randint(2, 5))]

    a: list[tuple] = [("pdf_text", title, "", _pack(0, 50, 10))]
    y = 150
    for ci, x in enumerate(cols):
        a.append(("pdf_text", hdrs[ci], "", _pack(0, y, x)))
    y += 20
    for row in first:
        for ci, x in enumerate(cols):
            a.append(("pdf_text", row[ci], "", _pack(0, y, x)))
        y += 20
    # permuted re-header: column j shows global header perm[j]
    for j, x in enumerate(cols):
        a.append(("pdf_text", hdrs[perm[j]], "", _pack(0, y, x)))
    y += 20
    for row in second:
        # the section lays its data out in the re-header's order
        for j, x in enumerate(cols):
            a.append(("pdf_text", row[perm[j]], "", _pack(0, y, x)))
        y += 20

    b: list[tuple] = [("pdf_text", title, "", _pack(0, 50, 10))]
    y = 150
    for ci, x in enumerate(cols):
        b.append(("pdf_text", hdrs[ci], "", _pack(0, y, x)))
    y += 20
    for row in first + second:
        for ci, x in enumerate(cols):
            b.append(("pdf_text", row[ci], "", _pack(0, y, x)))
        y += 20
    return a, b


def flow_header_pair(pair_id: int, seed: int = DEFAULT_SEED) -> tuple[list, list]:
    """A flow (DOCX-family) doc with a hierarchical merged header whose
    index label would BLEED into the data columns under plain forward
    fill — and its FLAT TWIN carrying the pre-stacked compound " / "
    names. Equality pins DH4's boundary-aware fill
    (docx_extractor.py:390-450): without it the index label pollutes
    the first data column's compound name ("Region / 2020") and the
    pair diverges — the 'flowheader' family of the twin-suite oracle.

    Header shape (side a):
      r0: [Region, "", "", Group(merge c3-c4), <expanded>]
      r1: ["", 2020, 2021, 2020, 2021]
    so column 1's name must be plain "2020" (no Region bleed), while
    column 3 legitimately inherits "Group / 2020" via the merge."""
    r = _rng(f"pairf-{pair_id}", seed)

    def B(b, row=0, col=0):
        return b * 1_000_000 + row * 1_000 + col

    group = _word(r).title()
    years = [str(2019 + pair_id % 4), str(2020 + pair_id % 4)]
    n_rows = r.randint(3, 7)
    recs = []
    for _ in range(n_rows):
        recs.append(
            [r.choice(_PORTS).title()]
            + [f"{r.randint(1, 9)},{r.randint(100, 999)}" for _ in range(4)]
        )
    intro = _sentence(r, 7)
    a: list[tuple] = [("para", intro, "", B(0))]
    a.append(("cell", _HEADERS[0], "", B(1, 0, 0)))
    a.append(("cell", group, "", B(1, 0, 3)))
    a.append(("merge", "0,3,0,4", "", B(1)))
    for ci, yr in enumerate(years + years):
        a.append(("cell", yr, "", B(1, 1, 1 + ci)))
    for ri, rec in enumerate(recs):
        for ci, v in enumerate(rec):
            a.append(("cell", v, "", B(1, 2 + ri, ci)))
    # flat twin: single pre-stacked header row, same data
    names = [
        _HEADERS[0], years[0], years[1],
        f"{group} / {years[0]}", f"{group} / {years[1]}",
    ]
    b: list[tuple] = [("para", intro, "", B(0))]
    for ci, nm in enumerate(names):
        b.append(("cell", nm, "", B(1, 0, ci)))
    for ri, rec in enumerate(recs):
        for ci, v in enumerate(rec):
            b.append(("cell", v, "", B(1, 1 + ri, ci)))
    return a, b


# --------------------------------------------------------------- flow


def _gen_flow(doc_id: str, r: random.Random) -> list[tuple]:
    """Document-flow doc (DOCX family, docpact docx_extractor.py):
    paragraphs (some heading-styled) interleaved with explicit-grid
    tables carrying hierarchical merged headers (DH2), occasional
    in-grid title rows (DH3), vMerge row-label groups, and sometimes a
    sparse leaf row whose empty index-column cell must NOT inherit the
    data-column fill (DH4 boundary case)."""

    def B(b, row=0, col=0):
        return b * 1_000_000 + row * 1_000 + col

    spans: list[tuple] = []
    b = 0
    for _sec in range(r.randint(1, 3)):
        # section heading + intro paragraph(s)
        if r.random() < 0.7:
            spans.append(
                ("para", _word(r).upper(), "st:h", B(b))
            )
            b += 1
        for _ in range(r.randint(0, 2)):
            spans.append(("para", _sentence(r, 8), "", B(b)))
            b += 1
        if r.random() < 0.85:
            # table block with 1-2 header tiers
            n_groups = r.randint(1, 2)
            per = r.randint(2, 3)
            ncols = 1 + n_groups * per
            row = 0
            if r.random() < 0.3:
                # DH3 in-grid title row merged across the width
                spans.append(
                    ("cell", f"{_word(r).title()} summary", "", B(b, 0, 0))
                )
                spans.append(
                    ("merge", f"0,0,0,{ncols - 1}", "", B(b))
                )
                row = 1
            tiered = r.random() < 0.75
            if tiered:
                # group tier: label merged over its columns; the index
                # column label vMerges down over both header rows
                spans.append(("cell", _HEADERS[0], "", B(b, row, 0)))
                spans.append(
                    ("merge", f"{row},0,{row + 1},0", "", B(b))
                )
                for g in range(n_groups):
                    c0 = 1 + g * per
                    spans.append(
                        ("cell", _word(r).title(), "", B(b, row, c0))
                    )
                    spans.append(
                        ("merge", f"{row},{c0},{row},{c0 + per - 1}", "",
                         B(b))
                    )
                row += 1
                for g in range(n_groups):
                    for k in range(per):
                        spans.append(
                            ("cell", str(2020 + k), "",
                             B(b, row, 1 + g * per + k))
                        )
                row += 1
            else:
                spans.append(("cell", _HEADERS[0], "", B(b, row, 0)))
                for c in range(1, ncols):
                    spans.append(
                        ("cell", _HEADERS[c % len(_HEADERS)], "", B(b, row, c))
                    )
                row += 1
            for _ in range(r.randint(3, 8)):
                spans.append(
                    ("cell", r.choice(_PORTS).title(), "", B(b, row, 0))
                )
                for c in range(1, ncols):
                    spans.append(
                        ("cell",
                         f"{r.randint(1, 9)},{r.randint(100, 999)}", "",
                         B(b, row, c))
                    )
                row += 1
            b += 1
        if r.random() < 0.25:
            spans.append(("media", "", f"img://{doc_id}/b{b}", B(b)))
            b += 1
    if not spans:
        spans.append(("para", _sentence(r, 6), "", B(0)))
    return spans


# --------------------------------------------------- generator ground truth
# The styled_doc pattern extended to the html/boxes/mixed families: each
# function builds a document AND its exact expected OUTPUT span sequence
# from construction knowledge alone — no kernel is consulted — so
# tests/test_extract_truth.py checks the Spark pipeline against truth
# the shared kernels cannot have produced.

# value-coercion outcomes (docpact serialize.py:435-495; the same table
# the mixed generator exercises — outcomes fixed by the REFERENCE spec,
# not by our kernel)
_MIXED_COERCE = {
    "amount: 1,234": "amount: 1234",
    "amount: 55826,3": "amount: 55826.3",
    "amount: (123)": "amount: -123",
    "amount: 12.5%": "amount: 12.5",
    "amount: $4,500": "amount: 4500",
    "flag: yes": "flag: true",
    "flag: no": "flag: false",
    "amount: 1 234": "amount: 1234",
}
# normalization outcome (docpact normalize.py:14-46: NBSP -> space,
# smart quotes -> ASCII, em dash -> hyphen, zero-width strip, collapse)
_MIXED_NORM_RAW = "the\xa0quick  “brown” — fox​"
_MIXED_NORM_EXPECTED = 'the quick "brown" - fox'


def mixed_truth_doc(i: int, seed: int = DEFAULT_SEED):
    """An interleaved text+media document PLUS its exact expected output
    span sequence: every add() outcome (coercion, enum validation,
    normalization, empty drop, media passthrough) is decided at
    construction time. Returns (input spans, expected (kind, text,
    media_ref) sequence, expected dropped count)."""
    doc_id = f"mixed-tr{i:06d}"
    r = _rng(doc_id, seed)
    spans: list[tuple] = []
    exp: list[tuple] = []
    dropped = 0
    idx = 0

    def add(kind, text, ref=""):
        nonlocal idx
        spans.append((kind, text, ref, idx))
        idx += 1

    title = f"title: {_sentence(r, 4)}"
    add("text", title)
    exp.append(("text", title, ""))
    for _ in range(r.randint(5, 15)):
        roll = r.random()
        if roll < 0.15:
            ref = f"img://{doc_id}/{idx}"
            add("media", "", ref)
            exp.append(("media", "", ref))
        elif roll < 0.35:
            raw = r.choice(list(_MIXED_COERCE))
            add("text", raw)
            exp.append(("text", _MIXED_COERCE[raw], ""))
        elif roll < 0.5:
            grade = r.choice(_GRADES_VALID + _GRADES_BAD)
            add("text", f"grade: {grade}")
            if grade in _GRADES_VALID:
                exp.append(("text", f"grade: {grade}", ""))
            else:
                dropped += 1
        elif roll < 0.6:
            add("text", _MIXED_NORM_RAW)
            exp.append(("text", _MIXED_NORM_EXPECTED, ""))
        elif roll < 0.65:
            add("text", "   ")
            dropped += 1
        else:
            s = _sentence(r)
            add("text", s)
            exp.append(("text", s, ""))
    return spans, exp, dropped


def html_truth_doc(i: int, seed: int = DEFAULT_SEED):
    """An HTML document PLUS its exact expected main-content sequence.
    The boilerplate outcomes are fixed by construction: nav links (5 li
    blocks), the header/cookie-banner/aside/footer paragraphs are
    boilerplate (9 dropped blocks); the h1, body paragraphs, images,
    table cells (colspan/rowspan-expanded, row-major) and closing
    paragraph are content — Readability/Boilerpipe-style semantics,
    docpact region classification compress.py:1048-1189 +
    html_extractor.py:194-332 grid expansion."""
    doc_id = f"html-tr{i:06d}"
    r = _rng(doc_id, seed)
    nav_links = "".join(
        f'<li><a href="/{_word(r)}">{_word(r).title()}</a></li>'
        for _ in range(5)
    )
    para_texts = [
        f"{_sentence(r)} {_sentence(r)}" for _ in range(r.randint(2, 5))
    ]
    paras = "".join(f"<p>{p}</p>" for p in para_texts)
    n_imgs = r.randint(0, 3)
    img_refs = [f"img://{doc_id}/{k}" for k in range(n_imgs)]
    imgs = "".join(
        f'<img src="{ref}" alt="fig{k}">' for k, ref in enumerate(img_refs)
    )
    body_vals = [
        (r.choice(_PORTS).title(), _word(r),
         f"{r.randint(1, 99)},{r.randint(100, 999)}")
        for _ in range(r.randint(2, 6))
    ]
    body_rows = "".join(
        f"<tr><td>{a}</td><td>{b}</td><td>{c}</td></tr>"
        for a, b, c in body_vals
    )
    rs_port = r.choice(_PORTS).title()
    r1 = (_word(r), f"{r.randint(1, 9)},{r.randint(100, 999)}")
    r2 = (_word(r), f"{r.randint(1, 9)},{r.randint(100, 999)}")
    table = (
        '<table><thead><tr><th colspan="2">Shipment</th><th>Tonnage</th>'
        f'</tr></thead><tbody><tr><td rowspan="2">{rs_port}</td>'
        f"<td>{r1[0]}</td><td>{r1[1]}</td></tr>"
        f"<tr><td>{r2[0]}</td><td>{r2[1]}</td></tr>"
        f"{body_rows}</tbody></table>"
    )
    sidebar = "".join(f'<a href="/{_word(r)}">{_word(r)}</a> ' for _ in range(8))
    h1 = _sentence(r, 4)[:-1]
    closing = _sentence(r)
    html = (
        "<html><head><title>report</title><style>p{color:#000}</style>"
        "</head><body>"
        f"<nav><ul>{nav_links}</ul></nav>"
        f"<header><p>{_word(r).title()} weekly — your {_word(r)} portal</p></header>"
        '<div class="cookie-banner"><p>We use cookies. <a href="#">Accept</a></p></div>'
        f"<aside><p>{sidebar}</p></aside>"
        f"<main><h1>{h1}</h1>{paras}{imgs}{table}"
        f"<p>{closing}</p></main>"
        f'<footer><p>© 2026 {_word(r)} inc — <a href="/privacy">Privacy</a></p></footer>'
        "</body></html>"
    )
    exp: list[tuple] = [("heading", h1, "")]
    exp += [("text", p, "") for p in para_texts]
    exp += [("media", "", ref) for ref in img_refs]
    # grid expansion: colspan duplicates 'Shipment'; the rowspan port
    # carries into the second body row at column 0
    cells = ["Shipment", "Shipment", "Tonnage",
             rs_port, r1[0], r1[1], rs_port, r2[0], r2[1]]
    for a, b, c in body_vals:
        cells += [a, b, c]
    exp += [("cell", c, "") for c in cells]
    exp.append(("text", closing, ""))
    return [("html", html, "", 0)], exp, 9


def boxes_truth_doc(i: int, seed: int = DEFAULT_SEED):
    """A slide-deck document PLUS its exact expected sequence. Outcomes
    are construction-decided: the title box and bullets are free text;
    the aligned >=3-row grid is a table (first all-word row = headers,
    pptx_extractor.py:352-430 gates all pass by construction); the
    2-row aligned pair stays text (run < 3 rows); media pass through in
    reading order."""
    doc_id = f"boxes-tr{i:06d}"
    r = _rng(doc_id, seed)
    spans: list[tuple] = []
    exp: list[tuple] = []
    for slide in range(r.randint(1, 3)):
        title = f"{_word(r).title()} {_word(r)}"
        spans.append(("box", title, "", _pack(slide, 40, 60)))
        exp.append(("text", title, ""))
        if r.random() < 0.75:
            ncols = r.randint(2, 4)
            nrows = r.randint(3, 6)
            xs = [100 + 150 * c for c in range(ncols)]
            for c in range(ncols):
                spans.append(
                    ("box", _HEADERS[c % len(_HEADERS)], "",
                     _pack(slide, 200, xs[c]))
                )
                exp.append(("heading", _HEADERS[c % len(_HEADERS)], ""))
            for ri in range(1, nrows):
                for c in range(ncols):
                    val = (
                        r.choice(_PORTS).title()
                        if c == 0
                        else f"{r.randint(1, 99)},{r.randint(100, 999)}"
                    )
                    spans.append(
                        ("box", val, "", _pack(slide, 200 + 60 * ri, xs[c]))
                    )
                    exp.append(("cell", val, ""))
        y = 700
        for _ in range(r.randint(1, 3)):
            s = _sentence(r, 5)
            spans.append(("box", s, "", _pack(slide, y, 80)))
            exp.append(("text", s, ""))
            y += 40
        if r.random() < 0.3:
            for ri in range(2):
                for c in range(2):
                    w = _word(r)
                    spans.append(
                        ("box", w, "", _pack(slide, y + 50 * ri, 120 + 200 * c))
                    )
                    exp.append(("text", w, ""))
            y += 120
        if r.random() < 0.3:
            ref = f"img://{doc_id}/s{slide}"
            spans.append(("media", "", ref, _pack(slide, y, 400)))
            exp.append(("media", "", ref))
    return spans, exp, 0


# ------------------------------------------------------------------- API


def corpus_of(doc_id: str) -> str:
    return doc_id.split("-", 1)[0]


def generate_doc(doc_id: str, seed: int = DEFAULT_SEED) -> list[tuple]:
    """Input spans for one document — pure function of (doc_id, seed)."""
    r = _rng(doc_id, seed)
    c = corpus_of(doc_id)
    if c == "pdfish":
        return _gen_pdfish(doc_id, r)
    if c == "mega":
        return _gen_pdfish(doc_id, r, mega=True)
    if c == "html":
        return _gen_html(doc_id, r)
    if c == "mixed":
        return _gen_mixed(doc_id, r)
    if c == "grid":
        return _gen_grid(doc_id, r)
    if c == "boxes":
        return _gen_boxes(doc_id, r)
    if c == "flow":
        return _gen_flow(doc_id, r)
    if c == "styled":
        return styled_doc(int(doc_id.split("-", 1)[1]), seed)[0]
    raise ValueError(f"unknown corpus for doc_id {doc_id!r}")


def doc_ids(
    n_docs: int,
    skew_docs: int = 0,
    corpora=("pdfish", "html", "mixed", "grid", "boxes", "flow"),
) -> list[str]:
    """Deterministic doc_id list: round-robin across corpora plus
    ``skew_docs`` mega documents (FIXTURES.md scale tiers)."""
    ids = [f"{corpora[i % len(corpora)]}-{i:06d}" for i in range(n_docs)]
    ids += [f"mega-{i:06d}" for i in range(skew_docs)]
    return ids
