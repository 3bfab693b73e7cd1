"""Property-based invariants (hypothesis) for the extraction kernels.

The north_rule's span-sequence equality only holds at 10^12 docs if
kernel output NEVER depends on input span order — the skew path
reassembles spans from an arbitrary partition layout (SURVEY.md §7.3).
These properties drive randomized permutations and doc shapes through
the kernels; pytest seeds are deterministic (hypothesis derandomized
profile) so CI stays reproducible.
"""

from __future__ import annotations

import random

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pdf_ocr_spark.corpus import generate_doc
from pdf_ocr_spark.kernels import KERNELS

# mega docs are pdfish docs of ~10^6 spans: too slow for a property
_CORPORA = sorted(set(KERNELS) - {"mega"})

_doc_ids = st.tuples(
    st.sampled_from(_CORPORA), st.integers(0, 2000)
).map(lambda t: f"{t[0]}-{t[1]:06d}")


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(doc_id=_doc_ids, seed=st.integers(0, 2**32 - 1))
def test_extraction_is_span_order_invariant(doc_id, seed):
    """Permuting input spans never changes the output span sequence."""
    corpus = doc_id.split("-")[0]
    kernel = KERNELS[corpus]
    spans = [tuple(s) for s in generate_doc(doc_id)]
    base_out, base_m = kernel(list(spans))
    shuffled = list(spans)
    random.Random(seed).shuffle(shuffled)
    out, m = kernel(shuffled)
    assert out == base_out
    assert m == base_m


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(doc_id=_doc_ids)
def test_extraction_output_contract(doc_id):
    """Offsets are a contiguous 0..n-1 re-sequencing; kinds come from the
    documented set; media refs survive; metrics add up."""
    corpus = doc_id.split("-")[0]
    kernel = KERNELS[corpus]
    spans = [tuple(s) for s in generate_doc(doc_id)]
    out, m = kernel(list(spans))
    assert [o for _, _, _, o in out] == list(range(len(out)))
    assert {k for k, _, _, _ in out} <= {
        "text", "heading", "section", "cell", "media", "html"
    }
    # media refs come from input span refs — except the html kernel,
    # which parses them out of <img src> inside the html source text
    in_text = "".join(t for _k, t, _r, _o in spans)
    in_refs = {r for _k, _t, r, _o in spans if r}
    out_refs = {r for _k, _t, r, _o in out if r}
    assert all(r in in_refs or r in in_text for r in out_refs)
    assert m["spans_out"] == len(out)
    assert m["dropped"] == sum(m["drop_reasons"].values())


# ---------------------------------------------------------- skyline
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_sky_rows = st.lists(
    st.tuples(
        st.integers(0, 2),      # partition (brand)
        st.integers(0, 20),     # cost
        st.integers(0, 20),     # gain
    ),
    min_size=1,
    max_size=40,
)


@settings(
    max_examples=20, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(rows=_sky_rows)
def test_pareto_skyline_property(spark, rows):
    """pareto_skyline equals the O(N^2) dominance definition on
    arbitrary (partition, cost, gain) multisets — duplicates of a
    frontier point all survive, dominated rows never do."""
    from pdf_ocr_spark.queries.analytics_ext import pareto_skyline

    df = spark.createDataFrame(
        [(i, b, c, g) for i, (b, c, g) in enumerate(rows)],
        "rid long, brand int, cost int, gain int",
    )
    got = {
        r["rid"]
        for r in pareto_skyline(df, "brand", "cost", "gain").collect()
    }
    expect = set()
    for i, (b, c, g) in enumerate(rows):
        dominated = any(
            b2 == b and c2 <= c and g2 >= g and (c2 < c or g2 > g)
            for _j, (b2, c2, g2) in enumerate(rows)
        )
        if not dominated:
            expect.add(i)
    assert got == expect, rows


# --------------------------------------------------- sequence match
import datetime as _dt

_seq_events = st.lists(
    st.tuples(
        st.integers(0, 2),                      # user
        st.integers(0, 59),                     # minute
        st.sampled_from(["a", "b", "c", "x"]),  # type incl. noise
    ),
    min_size=1,
    max_size=30,
)
_patterns = st.sampled_from([("a", "b"), ("a", "b", "c"), ("b", "b")])


@settings(
    max_examples=20, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(rows=_seq_events, pattern=_patterns)
def test_sequence_matches_property(spark, rows, pattern):
    """sequence_matches equals a sequential Python scan for arbitrary
    event streams and patterns, including repeated-stage patterns and
    same-minute ties (resolved by event_id in both)."""
    from pdf_ocr_spark.queries.windows import sequence_matches

    data = [
        (eid, _dt.datetime(2024, 1, 1, 12, m), u, ty, None)
        for eid, (u, m, ty) in enumerate(rows)
    ]
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    got = {
        r["user_id"]: (r["n_matches"], r["first_match_event_id"])
        for r in sequence_matches(
            spark.createDataFrame(data, schema), pattern
        ).collect()
    }
    streams = {}
    for eid, (u, m, ty) in enumerate(rows):
        streams.setdefault(u, []).append((m, eid, ty))
    expect = {}
    k = len(pattern)
    for u, evs in streams.items():
        evs.sort()
        hits = [
            evs[i][1]
            for i in range(k - 1, len(evs))
            if tuple(evs[i - k + 1 + j][2] for j in range(k))
            == pattern
        ]
        if hits:
            expect[u] = (len(hits), hits[0])
    assert got == expect, (rows, pattern)


# ------------------------------------------------------- round-4 algebra
@settings(max_examples=200, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(st.integers(-50, 50), min_size=1, max_size=120),
    b=st.integers(2, 9),
)
def test_v15_ntile_rank_range_formula(vals, b):
    """The closed-form ntile bucket formula v15 inlines into BOTH
    engines (bucket of 1-based rank r with q = n div b base-size
    tiles, first n mod b tiles one larger) reproduces the sort-based
    ntile's per-bucket sizes and value bounds for ANY multiset and
    tie layout."""
    n = len(vals)
    q, m = divmod(n, b)

    def bucket(r):  # the SQL CASE, 0-based
        if r <= (q + 1) * m:
            return (r - 1) // (q + 1)
        return m + (r - 1 - (q + 1) * m) // max(q, 1)

    # reference: literal ntile over the sorted values
    svals = sorted(vals)
    ref = {}
    i = 0
    for tile in range(b):
        size = q + (1 if tile < m else 0)
        if size == 0:
            continue
        chunk = svals[i : i + size]
        i += size
        ref[tile] = (size, chunk[0], chunk[-1])

    # the v15 construction: per distinct value, its cumulative rank
    # range [cum-c+1, cum] spans buckets bucket(lo)..bucket(hi)
    from collections import Counter

    got_bounds = {}
    cum = 0
    for v in sorted(Counter(vals)):
        c = Counter(vals)[v]
        lo_r, hi_r = cum + 1, cum + c
        cum += c
        for t in range(bucket(lo_r), bucket(hi_r) + 1):
            lo, hi = got_bounds.get(t, (v, v))
            got_bounds[t] = (min(lo, v), max(hi, v))
    got = {
        t: (q + (1 if t < m else 0), lo, hi)
        for t, (lo, hi) in got_bounds.items()
    }
    assert got == ref
