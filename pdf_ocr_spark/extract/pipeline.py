"""The Spark extraction pipeline (the engine's hot path).

Design (SURVEY.md §7, BASELINE.json north_rule):

  - **DataFrame + vectorized Arrow batches only** — each branch hands
    its rows to Python through ``mapInArrow``, flattened to primitive
    arrays (no per-span dicts, no pandas); there is no per-row Python
    UDF and no driver-side loop over documents. Both branches share the
    flattening, the invalid-span cleaning, the per-document kernel
    dispatch (``kernels.KERNELS``) and the output batch builder.
  - **No shuffle for the common case**: a document is one row, so the
    small-doc branch is a pure map — scan → mapInArrow → write.
  - **Skew handling**: pageable docs with more than ``big_doc_threshold``
    spans are exploded to flat span rows, hash-partitioned on doc_id and
    sorted by (doc_id, page, offset) within the partition, so each
    document arrives as one contiguous run that may straddle Arrow
    batches; the shell buffers the run and extracts the document whole
    when it ends. The layout kernel sorts its own input, so the output
    never depends on partition iteration order (SURVEY.md §7.3). One
    document's pages run serially in one task.

Kernel dispatch is by doc_id prefix (corpus), mirroring the reference's
per-format extractor dispatch (docpact pipeline.py:94-149).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F, types as T

from ..corpus import corpus_of
from ..kernels import KERNELS
from ..kernels.common import new_metrics
from .schema import FP_FIELD, OUTPUT_SCHEMA

BIG_DOC_THRESHOLD = 4000  # spans; FIXTURES.md median doc is ~10^2

_METRICS_TYPE = pa.struct(
    [
        ("spans_in", pa.int32()),
        ("spans_out", pa.int32()),
        ("dropped", pa.int32()),
        ("drop_reasons", pa.map_(pa.string(), pa.int32())),
    ]
)


# --------------------------------------------------------- Arrow shell


def _tolist(arr) -> list:
    # bulk numpy conversion: ~10x faster than to_pylist for string
    # arrays. Only safe when null-free: for NUMERIC arrays
    # to_numpy(zero_copy_only=False) widens nulls to float64 NaN, which
    # would silently poison offset sorting downstream — fall back to
    # to_pylist (nulls -> None) then.
    if arr.null_count:
        return arr.to_pylist()
    return arr.to_numpy(zero_copy_only=False).tolist()


def _span_tuples(kind, text, media_ref, offset) -> tuple[list[tuple], bool]:
    """Four span field arrays -> ((kind, text, media_ref, offset) tuples,
    dirty). Dirty-input detection is O(1) per batch (Arrow validity-bitmap
    null counts), so a clean batch pays nothing for the cleaning."""
    cols = (kind, text, media_ref, offset)
    dirty = any(c.null_count for c in cols)
    return list(zip(*(_tolist(c) for c in cols))), dirty


def _valid_spans(spans: list[tuple]) -> tuple[int, list[tuple]]:
    """(invalid count, the spans with non-NULL kind and offset, NULL
    text/media_ref coerced to '' so the kernels' empty-span handling
    applies)."""
    valid = [
        (k, t or "", r or "", o)
        for k, t, r, o in spans
        if k is not None and o is not None
    ]
    return len(spans) - len(valid), valid


def _extract_doc(doc_id: str, spans: list[tuple], dirty: bool) -> tuple[list, dict]:
    """One document through its corpus kernel. Spans with a NULL kind or
    offset drop under 'invalid_span'; an unknown corpus drops every span
    under 'unknown_corpus' — a malformed row never kills the job."""
    n_invalid = 0
    if dirty:
        n_invalid, spans = _valid_spans(spans)
    kernel = KERNELS.get(corpus_of(doc_id))
    if kernel is None:
        m = new_metrics(len(spans))
        m["dropped"] = len(spans)
        m["drop_reasons"] = {"unknown_corpus": len(spans)} if spans else {}
        spans_out = []
    else:
        spans_out, m = kernel(spans)
    if n_invalid:
        m["spans_in"] += n_invalid
        m["dropped"] += n_invalid
        m["drop_reasons"]["invalid_span"] = n_invalid
    return spans_out, m


def _output_batch(doc_ids: list[str], results: list[tuple[list, dict]], fp=None):
    """(doc_id, spans, metrics[, fp]) RecordBatch, rebuilt from primitive
    arrays with ListArray.from_arrays — no dicts, no type inference."""
    out_k: list = []
    out_t: list = []
    out_m: list = []
    out_o: list = []
    offsets = [0]
    metrics = []
    for spans_out, m in results:
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
    cols = [
        pa.array(doc_ids, pa.string()),
        pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), spans_struct),
        pa.array(metrics, _METRICS_TYPE),
    ]
    if fp is not None:
        cols.append(pa.array(fp, pa.int64()))
    names = ["doc_id", "spans", "metrics", "fp"]
    return pa.RecordBatch.from_arrays(cols, names=names[: len(cols)])


def _extract_batch_arrow(batches):
    """Small-doc branch: each row (doc_id, spans[, fp]) is one whole
    document (``fp`` passes through). The nested list<struct> column is
    flattened ONCE into four primitive arrays and sliced per document by
    the list lengths."""
    for rb in batches:
        doc_ids = _tolist(pc.fill_null(rb.column(0), ""))
        la = rb.column(1)
        # NULL list (dirty table) -> 0-length doc, not a crash
        lengths = _tolist(pc.fill_null(pc.list_value_length(la), 0))
        flat = la.flatten()
        spans, dirty = _span_tuples(*(flat.field(i) for i in range(4)))
        results = []
        pos = 0
        for doc_id, n in zip(doc_ids, lengths):
            results.append(_extract_doc(doc_id, spans[pos : pos + n], dirty))
            pos += n
        fp = rb.column(2) if rb.num_columns > 2 else None
        yield _output_batch(doc_ids, results, fp)


def _extract_sorted_docs(batches):
    """Mega-doc branch: flat rows (doc_id, page, kind, text, media_ref,
    offset[, fp]), hash-partitioned on doc_id and sorted by (doc_id, page,
    offset) within the partition, so every document is one contiguous
    run. A run that reaches the end of an Arrow batch stays open and
    continues in the next one; the document is extracted when its run
    ends. A document whose spans are all invalid still yields its row,
    with the ``fp`` of its run's first row."""
    cur_doc: str | None = None
    cur_spans: list[tuple] = []
    cur_dirty = False
    cur_fp = fps = None
    for rb in batches:
        n = rb.num_rows
        if not n:
            continue
        doc = rb.column(0)
        ids = _tolist(doc)
        fps = _tolist(rb.column(6)) if rb.num_columns > 6 else None
        spans, dirty = _span_tuples(*(rb.column(i) for i in range(2, 6)))
        change = pc.indices_nonzero(pc.not_equal(doc.slice(1), doc.slice(0, n - 1)))
        starts = [0, *(i + 1 for i in _tolist(change)), n]
        done_ids: list[str] = []
        done_fps: list[int] = []
        done: list[tuple[list, dict]] = []
        for i, j in zip(starts, starts[1:]):
            if ids[i] != cur_doc:
                if cur_doc is not None:
                    done_ids.append(cur_doc)
                    done_fps.append(cur_fp)
                    done.append(_extract_doc(cur_doc, cur_spans, cur_dirty))
                cur_doc, cur_spans, cur_dirty = ids[i], [], False
                cur_fp = fps and fps[i]
            cur_spans.extend(spans[i:j])
            cur_dirty = cur_dirty or dirty
        if done:
            yield _output_batch(done_ids, done, None if fps is None else done_fps)
    if cur_doc is not None:
        last = _extract_doc(cur_doc, cur_spans, cur_dirty)
        yield _output_batch([cur_doc], [last], None if fps is None else [cur_fp])


# ------------------------------------------------------------- pipeline


def extract(df: DataFrame, big_doc_threshold: int = BIG_DOC_THRESHOLD) -> DataFrame:
    """input (doc_id, spans[, n_spans][, fp]) -> output (doc_id, spans,
    metrics[, fp]), one output row per input row.

    Documents with at most ``big_doc_threshold`` spans (and every
    non-pageable document) take the small-doc branch, a pure map. Larger
    pdfish/mega documents take the mega branch: ONE flat primitive-row
    shuffle on doc_id plus an in-partition sort, with no hash
    aggregation; the document's kernel runs off the sorted run."""
    # Branch size ``n``: the ingest-materialized ``n_spans`` when the
    # input carries it (sources/synthetic.py writes it), else the computed
    # ``size(spans)``. On the plain column the big branch's ``n_spans > t``
    # reaches the parquet scan as a pushed filter, so row-group min/max
    # stats skip the small-doc groups; a computed size never pushes down.
    has_n = "n_spans" in df.columns
    carry = ["fp"] if "fp" in df.columns else []
    schema = T.StructType(OUTPUT_SCHEMA.fields + ([FP_FIELD] if carry else []))
    df = df.select("doc_id", "spans", *carry, *(["n_spans"] if has_n else []))
    n = F.col("n_spans") if has_n else F.size("spans")

    # The skew split is only valid for packed-offset corpora (pdfish/mega:
    # offset = page*1e6 + y*1e3 + x, sortable into page order). Other
    # corpora (html/grid/boxes/mixed) keep an over-threshold doc on the
    # whole-doc path.
    #
    # Null tolerance (production tables are nullable): a NULL count is
    # small and a NULL doc_id is not pageable, so every row passes exactly
    # one of the two branch filters (a bare NULL comparison passes
    # neither); the small branch emits such rows.
    pageable = F.coalesce(
        F.substring_index("doc_id", "-", 1).isin("pdfish", "mega"), F.lit(False)
    )
    small = df.filter(n.isNull() | (n <= big_doc_threshold) | ~pageable).drop("n_spans")
    small_out = small.mapInArrow(_extract_batch_arrow, schema=schema)

    big = df.filter((n > big_doc_threshold) & pageable).drop("n_spans")
    grain = _flat_spans(big).repartition("doc_id").sortWithinPartitions(
        "doc_id", "page", "offset"
    )
    big_out = grain.mapInArrow(_extract_sorted_docs, schema=schema)
    return small_out.unionByName(big_out)


def _flat_spans(big: DataFrame) -> DataFrame:
    """Mega-branch explode to primitive rows. Every span survives: NULL
    text/media_ref coerce to '' (as in the small branch), and a NULL
    offset gets page -1, so its span sorts first in its document and
    ``_extract_doc`` counts it, like a NULL kind, as an 'invalid_span'
    drop. An ``fp`` column rides on every flat row."""
    carry = big.columns[2:]
    return big.select("doc_id", F.explode("spans").alias("s"), *carry).select(
        "doc_id",
        F.coalesce(
            (F.col("s.offset") / F.lit(1_000_000)).cast("long"), F.lit(-1)
        ).alias("page"),
        F.col("s.kind").alias("kind"),
        F.coalesce(F.col("s.text"), F.lit("")).alias("text"),
        F.coalesce(F.col("s.media_ref"), F.lit("")).alias("media_ref"),
        F.col("s.offset").alias("offset"),
        *carry,
    )
