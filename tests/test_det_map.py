"""Deterministic dimension/measure mapping (operators/det_map.py):
phase 2-4 semantics of docpact interpret.py:1335-1618 on an inline
fixture — int+float shared-alias rule, group vs constant dimensions,
shared columns, one record per (row x group)."""

from __future__ import annotations

import pytest

from pdf_ocr_spark.operators.det_map import (
    classify_parts,
    map_deterministic,
    roles_kernel,
    typed_alias_table,
)

SCHEMA = {
    "region": ("string", []),
    "crop": ("string", ["spring crops", "spring grain"]),
    "unit": ("string", ["th.ha."]),
    "area": ("float", ["th.ha."]),
    "source": ("string", ["plan", "fact"]),
    "year": ("int", ["2025"]),
    "value": ("float", ["2025"]),
}
HEADERS = [
    (0, "Region"),
    (1, "Spring crops / Th.ha."),
    (2, "Spring grain / Th.ha."),
    (3, "Plan / 2025"),
    (4, "Fact / 2025"),
]
RECORD_COLS = ["region", "crop", "unit", "source", "year", "area", "value"]


@pytest.fixture(scope="module")
def fixture(spark):
    headers = spark.createDataFrame(
        [("d1", i, h) for i, h in HEADERS],
        "doc_id string, col_idx int, header string",
    )
    cells = spark.createDataFrame(
        [
            ("d1", 0, 0, "Moscow"),
            ("d1", 0, 1, "120"),
            ("d1", 0, 2, "40"),
            ("d1", 0, 3, "500"),
            ("d1", 0, 4, "510"),
            ("d1", 1, 0, "Kazan"),
            ("d1", 1, 1, "80"),
            # row 1 col 2 missing -> null field in that group's record
            ("d1", 1, 3, "300"),
            ("d1", 1, 4, "290"),
        ],
        "doc_id string, row_id int, col_idx int, cell string",
    )
    aliases = typed_alias_table(spark, SCHEMA)
    return headers, cells, aliases


def _tagged(rows, kind, *fields):
    """The ``fields`` tuples of roles_kernel's rows tagged ``kind``."""
    return {tuple(x[f] for f in fields) for x in rows if x.kind == kind}


def test_roles(spark, fixture):
    headers, _cells, aliases = fixture
    rows = roles_kernel(classify_parts(headers, aliases)).collect()
    assert _tagged(rows, "s", "col_idx", "canonical") == {(0, "region")}
    groups = {gk for (gk,) in _tagged(rows, "g", "group_key")}
    assert groups == {
        "crop=Spring crops",
        "crop=Spring grain",
        "source=Plan",
        "source=Fact",
    }
    # crop and source vary across headers -> group dims
    assert {gk.split("=")[0] for gk in groups} == {"crop", "source"}
    # th.ha. and 2025 each appear twice with one value -> constants;
    # 2025 is a dimension at all only via the int+float rule (year).
    # Each group's dimension values are the constants plus its own
    # group dimension.
    dims = _tagged(rows, "d", "group_key", "canonical", "value")
    assert dims == {
        (gk, c, v)
        for gk in groups
        for c, v in [("unit", "Th.ha."), ("year", "2025"), tuple(gk.split("="))]
    }
    # the float twin of each both-typed alias is the measure
    meas = _tagged(rows, "m", "group_key", "canonical")
    assert meas == {
        ("crop=Spring crops", "area"),
        ("crop=Spring grain", "area"),
        ("source=Plan", "value"),
        ("source=Fact", "value"),
    }


def test_records(spark, fixture):
    headers, cells, aliases = fixture
    out = map_deterministic(cells, headers, aliases, RECORD_COLS)
    rows = {
        (x.row_id, x.group_key): x.asDict() for x in out.collect()
    }
    # 2 data rows x 4 groups
    assert len(rows) == 8
    r = rows[(0, "crop=Spring crops")]
    assert (r["region"], r["crop"], r["unit"], r["year"], r["area"]) == (
        "Moscow", "Spring crops", "Th.ha.", "2025", "120",
    )
    assert r["source"] is None and r["value"] is None
    r = rows[(1, "source=Fact")]
    assert (r["region"], r["source"], r["value"], r["unit"]) == (
        "Kazan", "Fact", "290", "Th.ha.",
    )
    assert r["crop"] is None and r["area"] is None
    # missing cell (row 1, col 2) -> null measure, record still emitted
    r = rows[(1, "crop=Spring grain")]
    assert r["area"] is None and r["crop"] == "Spring grain"


# ---------------------------------------------------------------------
# Independent sequential oracle: a pure-Python implementation written
# from the REFERENCE's loop structure (interpret.py:1335-1618), compared
# against the Spark operator over seeded randomized layouts, so the
# relational algorithm cannot drift from the reference's sequential one.
# Deliberate shared deviation (documented in operators/det_map.py): the
# shared-column pick uses min(canonical) where the reference takes
# alias-dict insertion order.


def _norm(s: str) -> str:
    import re

    s = s.lower().replace('"', "")
    s = re.sub(r"\s+", " ", s)
    s = re.sub(r"\s*\(", " (", s)
    return s.strip()


def _ref_map(schema, headers_by_doc, cells, record_cols):
    """Sequential phases 2-4. cells: {(doc,row,col): value}."""
    DIM = ("string", "date")
    amap = {}
    for canonical, (ty, aliases) in schema.items():
        for a in {canonical, *aliases}:
            # dedupe aliases that normalize identically, like
            # typed_alias_table's .distinct()
            if (canonical, ty) not in amap.setdefault(_norm(a), []):
                amap[_norm(a)].append((canonical, ty))
    out = {}
    rows_by_doc = {}
    for (doc, row, _c) in cells:
        rows_by_doc.setdefault(doc, set()).add(row)
    for doc, headers in headers_by_doc.items():
        # phase 2: classify each header column's parts
        infos = []
        for header in headers:
            parts = [p.strip() for p in header.split(" / ")]
            info = {"dims": [], "meas": [], "n_match": 0, "all_dim": True}
            for part in parts:
                matched = amap.get(_norm(part), [])
                if matched:
                    info["n_match"] += len(matched)
                has_float = any(t == "float" for _c2, t in matched)
                for canonical, ty in matched:
                    if ty in DIM or (ty == "int" and has_float):
                        info["dims"].append((canonical, part))
                    else:
                        info["meas"].append(canonical)
                    if ty not in DIM:
                        info["all_dim"] = False
            info["single"] = len(parts) == 1
            infos.append(info)
        shared = {}  # col_idx -> canonical
        for hi, info in enumerate(infos):
            if info["single"] and info["n_match"] >= 1 and info["all_dim"]:
                shared[hi] = min(c for c, _v in info["dims"])
        # phase 3: group / constant dims
        dim_values = {}
        for info in infos:
            for canonical, value in info["dims"]:
                dim_values.setdefault(canonical, []).append(value)
        group_names = {
            c for c, vs in dim_values.items() if len(set(vs)) >= 2
        }
        const_dims = {
            c: vs[0]
            for c, vs in dim_values.items()
            if c not in group_names and len(set(vs)) == 1 and len(vs) >= 2
        }
        groups = {}  # key tuple -> {"dims": {...}, "meas": [(col, canonical)]}
        for hi, info in enumerate(infos):
            if hi in shared:
                continue
            gdims = sorted(
                {(c, v) for c, v in info["dims"] if c in group_names}
            )
            if not gdims and not info["meas"]:
                continue
            key = tuple(gdims)
            if key not in groups:
                d = dict(const_dims)
                d.update({c: v for c, v in gdims})
                groups[key] = {"dims": d, "meas": []}
            groups[key]["meas"].extend((hi, c) for c in info["meas"])
        # implicit single group (interpret.py:1531-1537): no group dims
        # anywhere, no measure column formed a group, but shared columns
        # exist -> one record per data row (shared values + constants)
        if not groups and shared and not group_names:
            groups[()] = {"dims": dict(const_dims), "meas": []}
        # phase 4: records (shared -> dims -> measures, later wins)
        for row in sorted(rows_by_doc.get(doc, ())):
            for key, g in groups.items():
                rec = {}
                for hi, canonical in shared.items():
                    if (doc, row, hi) in cells:
                        rec[canonical] = cells[(doc, row, hi)]
                rec.update(g["dims"])
                for hi, canonical in g["meas"]:
                    if (doc, row, hi) in cells:
                        rec[canonical] = cells[(doc, row, hi)]
                gk = "|".join(f"{c}={v}" for c, v in key)
                out[(doc, row, gk)] = tuple(
                    rec.get(c) for c in record_cols
                )
    return out


def _gen_layout(seed):
    import random

    rng = random.Random(seed)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
             "eta", "theta", "iota", "kappa", "Th.ha.", "2025", "plan"]
    types = ["string", "string", "date", "float", "float", "int"]
    cols = [f"col{i}" for i in range(rng.randint(4, 7))]
    schema = {}
    for c in cols:
        schema[c] = (rng.choice(types), [])
    # alias entries: each word maps to 1-2 canonicals (sometimes mixed
    # types -> exercises the both-types and int+float rules)
    entries = []
    for w in rng.sample(words, rng.randint(6, 10)):
        targets = rng.sample(cols, rng.randint(1, 2))
        for t in targets:
            schema[t][1].append(w)
        entries.append((w, set(targets)))
    headers_by_doc = {}
    cells = {}
    for doc in ("da", "db"):
        n_cols = rng.randint(3, 6)
        headers = []
        for _ in range(n_cols):
            n_parts = rng.randint(1, 3)
            # parts with disjoint canonical sets (see operator docstring:
            # intra-column same-canonical repeats are out of scope)
            chosen, used = [], set()
            for w, tg in rng.sample(entries, len(entries)):
                if len(chosen) == n_parts:
                    break
                if tg & used:
                    continue
                chosen.append(w)
                used |= tg
            if rng.random() < 0.3:
                chosen.append(f"unknown{rng.randint(0, 9)}")
            rng.shuffle(chosen)
            headers.append(" / ".join(chosen) if chosen else "blank")
        headers_by_doc[doc] = headers
        for row in range(rng.randint(2, 4)):
            for ci in range(n_cols):
                if rng.random() < 0.85:
                    cells[(doc, row, ci)] = f"{doc}r{row}c{ci}"
    return schema, headers_by_doc, cells


def test_matches_sequential_reference_semantics(spark):
    """Spark operator == sequential reference implementation over 6
    seeded randomized layouts (2 docs each, distinct layouts)."""
    record_cols_of = lambda schema: sorted(schema)
    for seed in range(6):
        schema, headers_by_doc, cells = _gen_layout(seed)
        record_cols = record_cols_of(schema)
        expected = _ref_map(schema, headers_by_doc, cells, record_cols)
        hdr_rows = [
            (doc, i, h)
            for doc, hs in headers_by_doc.items()
            for i, h in enumerate(hs)
        ]
        cell_rows = [(d, r, c, v) for (d, r, c), v in cells.items()]
        headers = spark.createDataFrame(
            hdr_rows, "doc_id string, col_idx int, header string"
        )
        cdf = spark.createDataFrame(
            cell_rows, "doc_id string, row_id int, col_idx int, cell string"
        )
        out = map_deterministic(
            cdf, headers, typed_alias_table(spark, schema), record_cols
        )
        got = {
            (x["doc_id"], x["row_id"], x["group_key"]): tuple(
                x[c] for c in record_cols
            )
            for x in out.collect()
        }
        assert got == expected, f"seed {seed} diverged"


def test_shared_only_doc_emits_implicit_group(spark):
    """A doc whose matched columns are ALL shared dimensions (no
    measures, no group dims) still emits one record per data row
    carrying the shared values (interpret.py:1531-1537)."""
    schema = {
        "region": ("string", ["Region"]),
        "port": ("string", ["Port"]),
        "qty": ("float", ["Tonnes"]),
    }
    headers = spark.createDataFrame(
        [("d1", 0, "Region"), ("d1", 1, "Port")],
        "doc_id string, col_idx int, header string",
    )
    cells = spark.createDataFrame(
        [
            ("d1", 0, 0, "North"), ("d1", 0, 1, "Albany"),
            ("d1", 1, 0, "South"), ("d1", 1, 1, "Kwinana"),
        ],
        "doc_id string, row_id int, col_idx int, cell string",
    )
    rc = ["port", "qty", "region"]
    out = map_deterministic(
        cells, headers, typed_alias_table(spark, schema), rc
    )
    got = {
        (x["doc_id"], x["row_id"], x["group_key"]): tuple(x[c] for c in rc)
        for x in out.collect()
    }
    assert got == {
        ("d1", 0, ""): ("Albany", None, "North"),
        ("d1", 1, ""): ("Kwinana", None, "South"),
    }
    # oracle parity on the same shape
    exp = _ref_map(
        schema,
        {"d1": ["Region", "Port"]},
        {("d1", 0, 0): "North", ("d1", 0, 1): "Albany",
         ("d1", 1, 0): "South", ("d1", 1, 1): "Kwinana"},
        rc,
    )
    assert got == exp


def test_blank_header_inference(spark):
    """Phase-2.5 (interpret.py:1440-1460): exactly one blank-header
    text-data column + exactly one unmatched string schema column ->
    assigned as a shared column; numeric blank columns and two-way
    ambiguity are rejected."""
    schema = {
        "region": ("string", []),       # never matched -> the ONE free string col
        "area": ("float", ["th.ha."]),
        "crop": ("string", ["crop"]),   # matched by header
    }
    headers = spark.createDataFrame(
        [
            # d1: blank col 0 with text data -> inferred as region
            ("d1", 0, " "), ("d1", 1, "Th.ha."), ("d1", 2, "Crop"),
            # d2: blank col is NUMERIC data -> no inference
            ("d2", 0, ""), ("d2", 1, "Th.ha."),
            # d3: TWO blank text columns -> ambiguous, no inference
            ("d3", 0, ""), ("d3", 1, ""), ("d3", 2, "Th.ha."),
        ],
        "doc_id string, col_idx int, header string",
    )
    cells = spark.createDataFrame(
        [
            ("d1", 0, 0, "Moscow"), ("d1", 0, 1, "12"), ("d1", 0, 2, "rye"),
            ("d1", 1, 0, "Kazan"), ("d1", 1, 1, "1 234,5"), ("d1", 1, 2, "oat"),
            ("d2", 0, 0, "1 234,5"), ("d2", 0, 1, "9"),
            ("d2", 1, 0, "77"), ("d2", 1, 1, "8"),
            ("d3", 0, 0, "a"), ("d3", 0, 1, "b"), ("d3", 0, 2, "3"),
        ],
        "doc_id string, row_id int, col_idx int, cell string",
    )
    from pdf_ocr_spark.operators.det_map import infer_blank_header_shared

    al = typed_alias_table(spark, schema)
    extra = infer_blank_header_shared(
        cells, headers, classify_parts(headers, al), al
    )
    assert [(r.doc_id, r.col_idx, r.canonical) for r in extra.collect()] == [
        ("d1", 0, "region")
    ]
    # end-to-end: the inferred shared column lands in the records
    out = map_deterministic(
        cells, headers, al, ["region", "crop", "area"], infer_blank=True
    )
    recs = {(r.doc_id, r.row_id): r for r in out.collect()}
    assert recs[("d1", 0)].region == "Moscow"
    assert recs[("d1", 1)].region == "Kazan"
    assert recs[("d2", 0)].region is None


def test_reclassify_promotes_label_columns(spark):
    """Re-classify branch (interpret.py:1504-1526): 'Th.ha. / Region'
    promotes Region to a shared cell column and Th.ha. to a constant;
    a column whose dims are all already covered is skipped."""
    schema = {
        "crop": ("string", []),
        "unit": ("string", ["th.ha."]),
        "region": ("string", []),
        "moa": ("string", ["moa 2024"]),
    }
    headers = spark.createDataFrame(
        [
            ("d1", 0, "Crop"),               # shared (phase 2)
            ("d1", 1, "Th.ha. / Region"),    # promote: unit const, region shared
            ("d1", 2, "Th.ha. / MOA 2024"),  # second th.ha. -> phase-3 constant;
                                             # moa + covered unit -> promote moa? no:
                                             # last dim at col2 is moa -> shared
        ],
        "doc_id string, col_idx int, header string",
    )
    al = typed_alias_table(spark, schema)
    cls = classify_parts(headers, al)
    plain = roles_kernel(cls).collect()
    promoted = roles_kernel(cls, reclassify=True).collect()
    assert _tagged(plain, "s", "col_idx", "canonical") == {(0, "crop")}
    # phase 3 already made unit a constant (2 entries, 1 value), so the
    # const parts of both columns are covered; the LAST dim of each
    # promotes to shared
    assert _tagged(promoted, "s", "col_idx", "canonical") == {
        (0, "crop"),
        (1, "region"),
        (2, "moa"),
    }
    # no new constant: the implicit group carries phase 3's one constant
    assert _tagged(promoted, "d", "group_key", "canonical", "value") == {
        ("", "unit", "Th.ha.")
    }


def test_reclassify_skips_fully_covered_columns(spark):
    """Every dim canonical occurring in >= 2 columns is already a
    phase-3 constant (one value) or a group dimension (>= 2 values), so
    repeated-label columns arrive fully covered and are skipped — which
    also proves the reference's left-to-right constant accumulation
    (interpret.py:1504-1526) can never change the outcome: promotions
    only add canonicals that phase 3 would already have covered."""
    schema = {"u1": ("string", ["alpha"]), "u2": ("string", ["beta"])}
    headers = spark.createDataFrame(
        [
            ("d1", 0, "alpha / beta"),  # alpha, beta both 2 entries /
            ("d1", 1, "beta / alpha"),  # 1 value -> phase-3 constants
        ],
        "doc_id string, col_idx int, header string",
    )
    al = typed_alias_table(spark, schema)
    cls = classify_parts(headers, al)
    promoted = roles_kernel(cls, reclassify=True).collect()
    assert _tagged(promoted, "s", "col_idx", "canonical") == set()
    assert set(promoted) == set(roles_kernel(cls).collect())


def test_reclassify_end_to_end(spark):
    """map_deterministic(reclassify=True): the promoted shared column
    carries cell values and the promoted constant rides every group."""
    schema = {
        "unit": ("string", ["th.ha."]),
        "region": ("string", []),
        "crop": ("string", ["spring crops", "spring grain"]),
        "area": ("float", ["area"]),
    }
    headers = spark.createDataFrame(
        [
            ("d1", 0, "Th.ha. / Region"),        # label column -> promoted
            ("d1", 1, "Spring crops / Area"),    # group crop=Spring crops
            ("d1", 2, "Spring grain / Area"),    # group crop=Spring grain
        ],
        "doc_id string, col_idx int, header string",
    )
    cells = spark.createDataFrame(
        [
            ("d1", 0, 0, "Moscow"), ("d1", 0, 1, "10"), ("d1", 0, 2, "20"),
        ],
        "doc_id string, row_id int, col_idx int, cell string",
    )
    al = typed_alias_table(spark, schema)
    out = map_deterministic(
        cells, headers, al, ["unit", "region", "crop", "area"],
        reclassify=True,
    )
    rows = {x.group_key: x for x in out.collect()}
    assert set(rows) == {"crop=Spring crops", "crop=Spring grain"}
    r = rows["crop=Spring crops"]
    assert (r.region, r.unit, r.crop, r.area) == (
        "Moscow", "Th.ha.", "Spring crops", "10",
    )
