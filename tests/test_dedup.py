"""Batch dedup queries over the sf testdata documents: d13's incremental
LSH verdicts against d02's verified pairs, d14's banded-recall audit and
d15's 1-bit minhash estimator, each against a pure-Python replication."""

from __future__ import annotations


def test_d13_incremental_lsh_agrees_with_d02_pairs(spark):
    """d13: every dup verdict is backed by a d02-style verified pair
    that crosses the batch boundary correctly, holders are minimal,
    and all three verdict branches occur on the corpus."""
    from pdf_ocr_spark.queries.dedup import _D13_TH_MILLI, QUERIES

    sf = "/root/testdata/sf0.001"
    out = {r["doc_id"]: r for r in QUERIES["d13_incremental_lsh"](spark, sf).collect()}
    # ground truth from the standalone pair query: jaccard >= threshold
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["d02_minhash_lsh_dedup"](spark, sf).collect()
        if int(1000 * r["jaccard"]) >= _D13_TH_MILLI
    ]
    prior_of, batch_of = {}, {}
    for a, b in pairs:
        lo, hi = min(a, b), max(a, b)
        for new, old in ((a, b), (b, a)):
            if new % 2 != 1:
                continue
            if old % 2 == 0:
                prior_of.setdefault(new, set()).add(old)
            elif old < new:
                batch_of.setdefault(new, set()).add(old)
    verdicts = set()
    for doc_id, r in out.items():
        verdicts.add(r["verdict"])
        if doc_id in prior_of:
            assert r["verdict"] == "dup_prior", doc_id
            assert r["holder"] == min(prior_of[doc_id]), doc_id
        elif doc_id in batch_of:
            assert r["verdict"] == "dup_batch", doc_id
            assert r["holder"] == min(batch_of[doc_id]), doc_id
        else:
            assert r["verdict"] == "kept" and r["holder"] == doc_id, doc_id
    assert verdicts == {"kept", "dup_prior", "dup_batch"}


def test_d14_lsh_quality_audit(spark):
    """d14: truth pairs match a pure-Python exact-Jaccard scan over
    the shared shingle definition; banded recall is PERFECT for
    genuinely similar pairs (jac >= 0.1) and collapses at the weak
    0.02 floor — the banding S-curve doing its job."""
    import re as _re

    import duckdb

    from pdf_ocr_spark.queries.dedup import _D14_TH_MILLI, QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["d14_lsh_quality"](spark, sf).collect()
    got_truth = {
        (r["doc_a"], r["doc_b"]): r["jac_milli"]
        for r in rows
        if r["is_truth"]
    }
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf}/documents.parquet'"
    ).fetchall()
    tok_re = _re.compile("[a-z0-9]+")
    sh = {}
    for d, text in docs:
        toks = tok_re.findall(text.lower())
        sh[d] = {
            " ".join(toks[i : i + 3])
            for i in range(len(toks) - 2)
        }
    expect = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sh[a] & sh[b])
            if not inter:
                continue
            jac = 1000 * inter // (len(sh[a]) + len(sh[b]) - inter)
            if jac >= _D14_TH_MILLI:
                expect[(a, b)] = jac
    assert got_truth == expect
    strong = [r for r in rows if r["is_truth"] and r["jac_milli"] >= 100]
    assert strong and all(r["is_cand"] for r in strong), (
        "bands must catch every strong pair"
    )
    weak_recall = sum(
        1 for r in rows if r["is_truth"] and r["is_cand"]
    ) / len(got_truth)
    assert weak_recall < 0.5, "the weak floor must show S-curve misses"


def test_d15_bbit_estimator_matches_python(spark):
    """d15: the 1-bit signatures, agreements, and the closed-form
    resemblance estimates match a hashlib replication; the estimator
    tracks exact Jaccard within the b=1/n=64 variance envelope."""
    import hashlib
    import re as _re

    import duckdb

    from pdf_ocr_spark.queries.dedup import _D15_N, QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["d15_bbit_minhash"](spark, sf).collect()
    assert rows
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf}/documents.parquet'"
    ).fetchall()
    tok_re = _re.compile("[a-z0-9]+")
    sh = {}
    for d, text in docs:
        toks = tok_re.findall(text.lower())
        sh[d] = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }

    def bits(doc):
        out = []
        for i in range(_D15_N):
            m = min(
                hashlib.md5(f"{i}#{s}".encode()).hexdigest()
                for s in sh[doc]
            )
            out.append(int(m[-1], 16) % 2)
        return out

    cache = {}
    for r in rows:
        a, b = r["doc_a"], r["doc_b"]
        for d in (a, b):
            if d not in cache:
                cache[d] = bits(d)
        agree = sum(
            1 for x, y in zip(cache[a], cache[b]) if x == y
        )
        assert r["n_agree"] == agree, (a, b)
        assert r["est_milli"] == 2000 * agree // _D15_N - 1000
        inter = len(sh[a] & sh[b])
        jac = 1000 * inter // (len(sh[a]) + len(sh[b]) - inter)
        assert r["jac_milli"] == jac
        assert r["err_milli"] == r["est_milli"] - jac
        # b=1/n=64 variance: |err| stays inside ~4 sigma of the
        # binomial envelope (sigma_est ~ 2*sqrt(p(1-p)/64) <= 0.125)
        assert abs(r["err_milli"]) <= 500, (a, b, r["err_milli"])
