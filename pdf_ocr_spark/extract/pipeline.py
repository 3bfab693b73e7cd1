"""The Spark extraction pipeline (the engine's hot path).

Design (SURVEY.md §7, BASELINE.json north_rule):

  - **DataFrame + vectorized Arrow/pandas UDFs only** — each document
    batch is processed whole inside ``mapInArrow`` (small docs; flattened
    primitive arrays, no per-span dicts) or ``mapInPandas`` (page grain);
    there is no per-row Python and no driver-side loop over documents.
    Mega-doc reassembly is pure Catalyst (``_reassemble_columnar``).
  - **No shuffle for the common case**: a document is one row, so the
    small-doc path is a pure map — scan → mapInPandas → write. At 10^12
    docs the only shuffles are (a) the optional explicit repartition by
    salted doc-hash for balanced task sizing and (b) page-grain
    reassembly for the few skewed mega-documents.
  - **Skew handling**: docs with > ``big_doc_threshold`` spans are
    exploded to ``(doc_id, page)`` grain (pages are independent in the
    layout kernel), extracted in parallel, and reassembled with
    ``sort_array(collect_list(struct(page, ...)))`` so ordering never
    depends on partition iteration order (SURVEY.md §7.3).
  - **Media routing**: for sequence-offset corpora, ``kind='media'``
    spans bypass the text kernel entirely (columnar ``filter`` on the
    span array), and are merged back by original offset with
    ``array_sort`` + an index-``transform`` re-sequencing — the
    north_rule's "repartition media-heavy spans separately before
    ordered reassembly".

Kernel dispatch is by doc_id prefix (corpus), mirroring the reference's
per-format extractor dispatch (docpact pipeline.py:94-149).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..corpus import corpus_of
from ..kernels.common import new_metrics
from ..kernels.boxish import extract_boxish
from ..kernels.flowk import extract_flow_doc
from ..kernels.gridk import extract_grid_doc
from ..kernels.htmlk import extract_html_doc
from ..kernels.mixed import extract_mixed, extract_mixed_text
from ..kernels.pdfish import extract_pdfish, extract_pdfish_page_spans
from .schema import (
    OUTPUT_SCHEMA,
    PAGE_OUTPUT_SCHEMA,
    metrics_dict,
    span_dicts,
    span_tuples,
)

BIG_DOC_THRESHOLD = 4000  # spans; FIXTURES.md median doc is ~10^2

_KERNELS = {
    "pdfish": extract_pdfish,
    "mega": extract_pdfish,
    "styled": extract_pdfish,  # pdfish + style flags riding media_ref
    "html": extract_html_doc,
    "mixed": extract_mixed,
    "grid": extract_grid_doc,
    "boxes": extract_boxish,
    "flow": extract_flow_doc,
}


# --------------------------------------------------------- UDF batch fns


def _extract_batch_arrow(batches):
    """mapInArrow kernel for the small-doc path.

    The pandas route materializes every span as a Python dict twice
    (Arrow->pandas object column in, pandas->Arrow inference out); that
    object churn is ~40% of worker CPU and is memory-bandwidth-bound,
    which is exactly what degrades multi-worker scaling.  Here the
    nested list<struct> column is flattened ONCE into four primitive
    arrays, kernels consume zip()-ed tuples, and the output is rebuilt
    with ListArray.from_arrays -- no dicts, no pandas, no type inference.
    """
    import pyarrow as pa

    map_ty = pa.map_(pa.string(), pa.int32())
    metrics_ty = pa.struct(
        [
            ("spans_in", pa.int32()),
            ("spans_out", pa.int32()),
            ("dropped", pa.int32()),
            ("drop_reasons", map_ty),
        ]
    )
    def _tolist(arr):
        # bulk numpy conversion: ~10x faster than to_pylist for string
        # arrays. Only safe when null-free: for NUMERIC arrays
        # to_numpy(zero_copy_only=False) widens nulls to float64 NaN,
        # which would silently poison offset sorting downstream — fall
        # back to to_pylist (nulls -> None, kernels fail loudly) then.
        if arr.null_count:
            return arr.to_pylist()
        return arr.to_numpy(zero_copy_only=False).tolist()

    for rb in batches:
        doc_ids = _tolist(pa.compute.fill_null(rb.column(0), ""))
        la = rb.column(1)
        if isinstance(la, pa.ChunkedArray):
            la = la.combine_chunks()
        # NULL list (dirty table) -> 0-length doc, not a crash
        lengths = _tolist(
            pa.compute.fill_null(pa.compute.list_value_length(la), 0)
        )
        flat = la.flatten()
        # Dirty-input detection is O(1) per batch (Arrow validity-bitmap
        # null counts) — the common clean batch pays NOTHING extra. On a
        # dirty batch, spans with NULL kind/offset are dropped per doc
        # under the 'invalid_span' reason and NULL text/media_ref are
        # coerced to '' (the kernels' empty-span handling then applies).
        dirty = any(flat.field(i).null_count for i in range(4))
        tuples = list(
            zip(
                _tolist(flat.field(0)),
                _tolist(flat.field(1)),
                _tolist(flat.field(2)),
                _tolist(flat.field(3)),
            )
        )
        out_k: list = []
        out_t: list = []
        out_m: list = []
        out_o: list = []
        offsets = [0]
        metrics = []
        pos = 0
        for doc_id, n in zip(doc_ids, lengths):
            doc_spans = tuples[pos : pos + n]
            pos += n
            n_invalid = 0
            if dirty:
                cleaned = []
                for k, t, mr, o in doc_spans:
                    if k is None or o is None:
                        n_invalid += 1
                    else:
                        cleaned.append((k, t or "", mr or "", o))
                doc_spans = cleaned
            kernel = _KERNELS.get(corpus_of(doc_id))
            if kernel is None:
                m = new_metrics(len(doc_spans))
                m["dropped"] = len(doc_spans)
                m["drop_reasons"] = (
                    {"unknown_corpus": len(doc_spans)} if doc_spans else {}
                )
                spans_out = []
            else:
                spans_out, m = kernel(doc_spans)
            if n_invalid:
                m["spans_in"] += n_invalid
                m["dropped"] += n_invalid
                m["drop_reasons"]["invalid_span"] = n_invalid
            for k, t, mr, o in spans_out:
                out_k.append(k)
                out_t.append(t)
                out_m.append(mr)
                out_o.append(o)
            offsets.append(len(out_k))
            metrics.append(
                {
                    "spans_in": int(m["spans_in"]),
                    "spans_out": int(m["spans_out"]),
                    "dropped": int(m["dropped"]),
                    "drop_reasons": list(m["drop_reasons"].items()),
                }
            )
        spans_struct = pa.StructArray.from_arrays(
            [
                pa.array(out_k, pa.string()),
                pa.array(out_t, pa.string()),
                pa.array(out_m, pa.string()),
                pa.array(out_o, pa.int32()),
            ],
            names=["kind", "text", "media_ref", "offset"],
        )
        spans_out_arr = pa.ListArray.from_arrays(
            pa.array(offsets, pa.int32()), spans_struct
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(doc_ids, pa.string()),
                spans_out_arr,
                pa.array(metrics, metrics_ty),
            ],
            names=["doc_id", "spans", "metrics"],
        )


def _extract_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Whole-document extraction over an Arrow batch (small-doc path)."""
    for pdf in batches:
        out_spans, out_metrics = [], []
        for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
            kernel = _KERNELS.get(corpus_of(doc_id))
            if kernel is None:
                # a malformed row must never kill a 10^12-doc job: emit
                # zero spans and count the drop (surfaces in the ledger)
                n = len(spans)
                m = new_metrics(n)
                m["dropped"] = n
                m["drop_reasons"] = {"unknown_corpus": n} if n else {}
                out_spans.append([])
                out_metrics.append(metrics_dict(m))
                continue
            spans_out, m = kernel(span_tuples(spans))
            out_spans.append(span_dicts(spans_out))
            out_metrics.append(metrics_dict(m))
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"], "spans": out_spans, "metrics": out_metrics}
        )


def _extract_page_stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Page-grain extraction over a FLAT, partition-sorted span stream
    (mega-doc path, opt-in). Input rows (doc_id, page, kind, text,
    media_ref, offset) are hash-partitioned on (doc_id, page) and sorted
    by those keys within the partition, so every page group is a
    contiguous run; runs are found with numpy boundary detection and the
    trailing (possibly incomplete) run is buffered across Arrow batch
    boundaries. This replaces the earlier groupBy(collect_list) page
    grouping: the exchange now carries flat primitive rows — no nested
    list building in a hash aggregation, no list<struct> Arrow
    conversion — and the kernel consumes each run straight off the
    sorted stream. Span order within a run is partition-layout-dependent,
    which is safe: the kernels are span-order invariant (full-tuple
    sort, tests/test_properties.py)."""
    import numpy as np

    cur_key: tuple | None = None
    cur_spans: list[tuple] = []

    def _flush() -> dict:
        spans_out, m = extract_pdfish_page_spans(cur_spans)
        return {
            "doc_id": cur_key[0],
            "page": int(cur_key[1]),
            "spans": span_dicts(spans_out),
            "metrics": metrics_dict(m),
        }

    for pdf in batches:
        n = len(pdf)
        if not n:
            continue
        doc = pdf["doc_id"].to_numpy()
        page = pdf["page"].to_numpy()
        cols = [
            pdf["kind"].to_numpy(),
            pdf["text"].to_numpy(),
            pdf["media_ref"].to_numpy(),
            pdf["offset"].to_numpy(),
        ]
        change = (
            np.flatnonzero((doc[1:] != doc[:-1]) | (page[1:] != page[:-1])) + 1
        )
        starts = [0, *change.tolist(), n]
        out_rows: list[dict] = []
        for i, j in zip(starts, starts[1:]):
            key = (str(doc[i]), int(page[i]))
            spans = list(
                zip(*(c[i:j].tolist() for c in cols))
            )
            if cur_key == key:
                cur_spans.extend(spans)
                continue
            if cur_key is not None:
                out_rows.append(_flush())
            cur_key, cur_spans = key, spans
        if out_rows:
            yield pd.DataFrame(out_rows)
    if cur_key is not None:
        yield pd.DataFrame([_flush()])


def _valid_spans(spans: list[tuple]) -> tuple[int, list[tuple]]:
    """(invalid count, the spans with non-NULL kind and offset). A NULL
    offset arrives as NaN when pandas widens the column to float, so the
    valid offsets are cast back to int."""
    valid = [
        (k, t, r, int(o))
        for k, t, r, o in spans
        if k is not None and o is not None and o == o
    ]
    return len(spans) - len(valid), valid


def _extract_doc_stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Doc-grain streaming extraction + reassembly (mega-doc path,
    opt-in): input rows (doc_id, page, kind, text, media_ref, offset)
    are hash-partitioned on doc_id and sorted by (doc_id, page, offset)
    within the partition, so every DOCUMENT is a contiguous run of page
    runs in ascending page order. Page kernels run per page run and the
    document's ordered output assembles in-stream — the mega branch
    becomes ONE flat primitive-row shuffle with NO hash aggregation
    anywhere (no page-grain collect_list, no final wide agg building
    10^6-element nested rows in the JVM heap). Trailing (possibly
    incomplete) documents buffer across Arrow batch boundaries.

    Spans with a NULL kind or offset are dropped under 'invalid_span',
    as in ``_extract_batch_arrow``; the check runs only on a batch that
    holds one. A document whose spans are all invalid still yields its
    row, with no spans."""
    import numpy as np

    cur_doc: str | None = None
    cur_page: int | None = None
    cur_pages: list[list[tuple]] = []  # page runs in arrival (sorted) order
    cur_invalid = 0

    def _flush() -> dict:
        spans_out: list[tuple] = []
        si = dr = cur_invalid
        reasons: dict[str, int] = {"invalid_span": cur_invalid} if cur_invalid else {}
        for page_spans in cur_pages:
            if not page_spans:
                continue
            po, m = extract_pdfish_page_spans(page_spans)
            spans_out.extend(po)
            si += m["spans_in"]
            dr += m["dropped"]
            for k, v in m["drop_reasons"].items():
                reasons[k] = reasons.get(k, 0) + v
        seq = [
            {"kind": k, "text": t, "media_ref": r, "offset": i}
            for i, (k, t, r, _o) in enumerate(spans_out)
        ]
        return {
            "doc_id": cur_doc,
            "spans": seq,
            "metrics": {
                "spans_in": si,
                "spans_out": len(seq),
                "dropped": dr,
                "drop_reasons": dict(sorted(reasons.items())),
            },
        }

    for pdf in batches:
        n = len(pdf)
        if not n:
            continue
        dirty = pdf["kind"].hasnans or pdf["offset"].hasnans
        doc = pdf["doc_id"].to_numpy()
        page = pdf["page"].to_numpy()
        cols = [
            pdf["kind"].to_numpy(),
            pdf["text"].to_numpy(),
            pdf["media_ref"].to_numpy(),
            pdf["offset"].to_numpy(),
        ]
        change = (
            np.flatnonzero((doc[1:] != doc[:-1]) | (page[1:] != page[:-1])) + 1
        )
        starts = [0, *change.tolist(), n]
        out_rows: list[dict] = []
        for i, j in zip(starts, starts[1:]):
            d, p = str(doc[i]), int(page[i])
            spans = list(zip(*(c[i:j].tolist() for c in cols)))
            n_invalid = 0
            if dirty:
                n_invalid, spans = _valid_spans(spans)
            if cur_doc == d:
                cur_invalid += n_invalid
                if cur_page == p:
                    # same page split across Arrow batches: extend the
                    # open run (a page must reach its kernel whole)
                    cur_pages[-1].extend(spans)
                else:
                    cur_pages.append(spans)
                    cur_page = p
                continue
            if cur_doc is not None:
                out_rows.append(_flush())
            cur_doc, cur_page, cur_pages = d, p, [spans]
            cur_invalid = n_invalid
        if out_rows:
            yield pd.DataFrame(out_rows)
    if cur_doc is not None:
        yield pd.DataFrame([_flush()])


def _extract_page_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Page-grain extraction (mega-doc path, pre-grouped variant kept for
    A/B measurement). Offsets stay page-local; the reassembly stage
    re-sequences them document-wide."""
    for pdf in batches:
        out_spans, out_metrics = [], []
        for spans in pdf["spans"]:
            spans_out, m = extract_pdfish_page_spans(span_tuples(spans))
            out_spans.append(span_dicts(spans_out))
            out_metrics.append(metrics_dict(m))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "page": pdf["page"],
                "spans": out_spans,
                "metrics": out_metrics,
            }
        )


# ------------------------------------------------------------- pipeline


def extract(
    df: DataFrame,
    big_doc_threshold: int = BIG_DOC_THRESHOLD,
    salt_partitions: int | None = None,
    use_arrow: bool = True,
    page_stream: bool = False,
    doc_stream: bool = True,
) -> DataFrame:
    """input (doc_id, spans[, n_spans]) -> output (doc_id, spans, metrics),
    one output row per input row (the opt-in page-grain mega shapes drop
    a mega doc whose spans are all invalid).

    ``salt_partitions``: explicit repartition by salted doc-hash before the
    UDF so a pathological input layout (e.g. all mega-docs in one input
    file) cannot pin a single task. Defaults to None = trust the scan's
    split sizing (maxPartitionBytes) — the right default when the input
    is well-laid-out Parquet/Iceberg.

    Mega-doc branch strategy (three shapes, all byte-identical output):

    ``doc_stream`` (True, DEFAULT): ONE flat primitive-row shuffle on
    doc_id + in-partition sort by (doc_id, page, offset); page kernels
    and whole-document reassembly stream off the sorted run — no
    page-grain collect_list, no final wide agg. Measured on the
    1200-mega-doc corpus: ~30% faster at 16 cores (18.5s vs 25.9s) and
    ~5% slower at 4 cores than the agg shape; N→4N phase ratio 0.81 vs
    0.54 — the scaling-correct default. Parallelism is doc-grain (one
    document's pages run serially inside its partition): right when
    doc count >> cores; for a SINGLE colossal document prefer
    ``doc_stream=False`` so page kernels fan out across tasks.

    ``doc_stream=False, page_stream=False``: groupBy(doc_id, page)
    collect_list page grouping → page kernels → one fused wide agg
    reassembly (page-grain kernel parallelism, heavier shuffle).

    ``doc_stream=False, page_stream=True``: flat shuffle on
    (doc_id, page) + sorted run grouping → page kernels → fused wide
    agg (bounds agg memory for pathological page sizes).
    """
    # Branch size ``n``: the ingest-materialized ``n_spans`` when the
    # input carries it (sources/synthetic.py writes it), else the computed
    # ``size(spans)``. On the plain column the big branch's ``n_spans > t``
    # reaches the parquet scan as a pushed filter, so row-group min/max
    # stats skip the small-doc groups; a computed size never pushes down.
    has_n = "n_spans" in df.columns
    df = df.select("doc_id", "spans", *(["n_spans"] if has_n else []))
    n = F.col("n_spans") if has_n else F.size("spans")
    if salt_partitions:
        # Salted repartition BEFORE the small/big branch split: both
        # branches then read the SAME shuffle stage output instead of
        # each re-scanning (and re-decoding the nested spans column of)
        # the full input — with a computed-size split that filter can
        # never push down to the scan. One shuffle also spreads
        # mega-docs (which cluster in few input splits — size-based
        # split planning can't see row cost) so the 10^6-span explode
        # parallelizes instead of running in one task. At 10^12 docs
        # prefer the ingest-materialized n_spans column (pushdown-able)
        # over this shuffle; with salt_partitions=None the plan stays
        # shuffle-free and trusts the scan's split sizing.
        df = df.repartition(
            salt_partitions, F.pmod(F.xxhash64("doc_id"), F.lit(salt_partitions))
        )

    # The page-grain skew split is only valid for packed-offset corpora
    # (pdfish/mega: offset = page*1e6 + y*1e3 + x, pages independent).
    # Other corpora (html/grid/boxes/mixed) have whole-doc kernels, so an
    # over-threshold doc there must still take the whole-doc path rather
    # than be silently extracted with pdfish page semantics.
    #
    # Null tolerance (production tables are nullable): a NULL count is
    # small and a NULL doc_id is not pageable, so every row passes exactly
    # one of the two branch filters (a bare NULL comparison passes
    # neither); the small branch's Arrow kernel emits such rows.
    pageable = F.coalesce(
        F.substring_index("doc_id", "-", 1).isin("pdfish", "mega"), F.lit(False)
    )
    small = df.filter(n.isNull() | (n <= big_doc_threshold) | ~pageable).select(
        "doc_id", "spans"
    )
    if use_arrow:
        small_out = small.mapInArrow(_extract_batch_arrow, schema=OUTPUT_SCHEMA)
    else:
        small_out = small.mapInPandas(_extract_batch, schema=OUTPUT_SCHEMA)

    big = df.filter((n > big_doc_threshold) & pageable).select("doc_id", "spans")
    # explode to page grain (pages are independent in the layout kernel)
    if doc_stream and not page_stream:
        # ONE flat primitive-row shuffle on doc_id, in-partition sort by
        # (doc_id, page, offset), then page kernels + whole-document
        # reassembly stream off the sorted run — no page-grain
        # collect_list, no final wide agg. Parallelism is doc-grain
        # (each doc's pages run serially inside its partition), which
        # is the right trade when doc count >> cores; the page-grain
        # paths remain for single-colossal-doc layouts.
        flat = _flat_spans(big)
        if salt_partitions:
            flat = flat.repartition(salt_partitions, "doc_id")
        else:
            flat = flat.repartition("doc_id")
        grain = flat.sortWithinPartitions("doc_id", "page", "offset")
        big_out = grain.mapInPandas(_extract_doc_stream, schema=OUTPUT_SCHEMA)
        return small_out.unionByName(big_out)
    if page_stream:
        # flat-row shuffle + in-partition sort + streaming run grouping:
        # the ONE exchange of the mega branch carries primitive rows, and
        # page groups come off the sorted stream with no hash aggregation
        flat = _flat_spans(big).filter(_VALID_SPAN)
        if salt_partitions:
            flat = flat.repartition(salt_partitions, "doc_id", "page")
        else:
            flat = flat.repartition("doc_id", "page")
        grain = flat.sortWithinPartitions("doc_id", "page")
        big_pages = grain.mapInPandas(
            _extract_page_stream, schema=PAGE_OUTPUT_SCHEMA
        )
    else:
        pages = (
            _flat_spans(big)
            .filter(_VALID_SPAN)
            .select("doc_id", "page", F.struct(
                "kind", "text", "media_ref", "offset").alias("s"))
            .groupBy("doc_id", "page")
            .agg(F.sort_array(F.collect_list("s")).alias("spans"))
        )
        big_pages = pages.mapInPandas(
            _extract_page_batch, schema=PAGE_OUTPUT_SCHEMA
        )
    big_out = _reassemble_columnar(big_pages)

    return small_out.unionByName(big_out)


def _flat_spans(big: DataFrame) -> DataFrame:
    """Mega-branch explode to primitive rows. Every span survives: NULL
    text/media_ref coerce to '' (as in the small branch), and a NULL
    offset gets page -1, so its span sorts first in its document and
    ``_extract_doc_stream`` counts it, like a NULL kind, as an
    'invalid_span' drop. The opt-in page-grain shapes filter such spans
    out with ``_VALID_SPAN`` instead and do not count them."""
    return big.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.coalesce(
            (F.col("s.offset") / F.lit(1_000_000)).cast("long"), F.lit(-1)
        ).alias("page"),
        F.col("s.kind").alias("kind"),
        F.coalesce(F.col("s.text"), F.lit("")).alias("text"),
        F.coalesce(F.col("s.media_ref"), F.lit("")).alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


_VALID_SPAN = "kind IS NOT NULL AND `offset` IS NOT NULL"


def _reassemble_columnar(big_pages: DataFrame) -> DataFrame:
    """Mega-doc reassembly entirely in Catalyst (no Python): ONE
    ``groupBy(doc_id)`` produces the ordered span sequence AND the merged
    metrics. Pages ascend via sort_array(collect_list), offsets are
    re-sequenced by an index transform, and drop-reason maps fold with
    ``aggregate`` + ``map_zip_with`` (key-union sum) inside the same
    aggregation — an earlier shape computed reasons as a second
    aggregation over ``big_pages``, which re-executed the Python page
    kernel and added two shuffles plus a join; fusing makes the mega
    branch exactly explode-shuffle -> kernel -> one wide agg. Ordering
    never depends on partition iteration order (SURVEY.md §7.3);
    semantics identical to the oracle's kernels.pdfish.reassemble_pages
    (drop-reason keys re-sorted for byte-stable output)."""
    return big_pages.groupBy("doc_id").agg(
        F.expr(
            "transform("
            "  flatten(transform(array_sort(collect_list(struct(page, spans))),"
            "          p -> p.spans)),"
            "  (s, i) -> struct(s.kind as kind, s.text as text,"
            "                   s.media_ref as media_ref, i as offset))"
        ).alias("spans"),
        F.sum("metrics.spans_in").cast("int").alias("_si"),
        F.sum("metrics.dropped").cast("int").alias("_dr"),
        F.expr(
            "aggregate(collect_list(metrics.drop_reasons),"
            "  cast(map() as map<string,int>),"
            "  (acc, m) -> map_zip_with(acc, m,"
            "    (k, a, b) -> coalesce(a, 0) + coalesce(b, 0)))"
        ).alias("_reasons"),
    ).select(
        "doc_id",
        "spans",
        F.struct(
            F.col("_si").alias("spans_in"),
            F.size("spans").alias("spans_out"),
            F.col("_dr").alias("dropped"),
            F.map_from_entries(
                F.array_sort(F.map_entries("_reasons"))
            ).alias("drop_reasons"),
        ).alias("metrics"),
    )


def extract_routed_media(df: DataFrame) -> DataFrame:
    """Sequence-offset corpora (mixed): route ``kind='media'`` spans
    around the text kernel columnar-side, then ordered-merge by original
    offset. Equivalent to ``extract`` on mixed docs (tested); demonstrates
    the north_rule media-separation plan shape.

    All the routing/merging below is pure Catalyst (higher-order array
    functions) — only the text kernel crosses into Python."""
    routed = df.select(
        "doc_id",
        F.expr("filter(spans, s -> s.kind = 'media')").alias("media_spans"),
        F.expr("filter(spans, s -> s.kind != 'media')").alias("spans"),
        F.size("spans").alias("_spans_in"),
    )

    def _text_only(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_spans, out_metrics = [], []
            for spans in pdf["spans"]:
                # keep ORIGINAL offsets so media interleaves back exactly
                spans_out, m = extract_mixed_text(span_tuples(spans))
                out_spans.append(span_dicts(spans_out))
                out_metrics.append(metrics_dict(m))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_spans": pdf["media_spans"],
                    "_spans_in": pdf["_spans_in"],
                    "spans": out_spans,
                    "metrics": out_metrics,
                }
            )

    schema = (
        "doc_id string, media_spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>, _spans_in int, spans array<struct<"
        "kind:string,text:string,media_ref:string,offset:int>>, metrics "
        "struct<spans_in:int,spans_out:int,dropped:int,"
        "drop_reasons:map<string,int>>"
    )
    extracted = routed.mapInPandas(_text_only, schema=schema)

    # Ordered reassembly, fully columnar: union text output (original
    # offsets preserved by extract_mixed_text) with the routed media spans,
    # sort by original offset (offset is the struct's sort-significant
    # field once reordered first), then re-sequence to 0..n-1.
    merged = extracted.select(
        "doc_id",
        F.expr(
            "transform("
            "  array_sort("
            "    concat(spans, media_spans),"
            "    (a, b) -> case when a.offset < b.offset then -1"
            "                   when a.offset > b.offset then 1 else 0 end),"
            "  (s, i) -> struct(s.kind as kind, s.text as text,"
            "                   s.media_ref as media_ref, i as offset))"
        ).alias("spans"),
        F.struct(
            F.col("_spans_in").alias("spans_in"),
            (F.col("metrics.spans_out") + F.size("media_spans")).alias("spans_out"),
            F.col("metrics.dropped").alias("dropped"),
            F.col("metrics.drop_reasons").alias("drop_reasons"),
        ).alias("metrics"),
    )
    return merged
