"""Incremental re-extraction (extract/incremental.py): content-hash CDC
routes only added/changed docs through the kernels; unchanged docs carry
forward; the merged output is bit-identical to a full re-extraction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import rows_to_tuples


def _spans_by_doc(df):
    return {
        r["doc_id"]: rows_to_tuples(r["spans"]) for r in df.collect()
    }


@pytest.fixture(scope="module")
def corpora(tmp_path_factory):
    return str(tmp_path_factory.mktemp("inc"))


def test_incremental_matches_full_reextraction(spark, corpora):
    from pdf_ocr_spark.extract.checkpoint import read_output
    from pdf_ocr_spark.extract.incremental import run_incremental
    from pdf_ocr_spark.sources.synthetic import write_corpus_table

    base = f"{corpora}/base"
    write_corpus_table(spark, base, n_docs=24, skew_docs=1)
    a = spark.read.parquet(base)
    ids = sorted(r["doc_id"] for r in a.select("doc_id").collect())
    changed_ids = ids[:3]
    removed_id = ids[3]

    # corpus B: 3 docs mutated (first span's text edited), 1 removed,
    # 2 added (clones of existing docs under new ids)
    mutated = a.withColumn(
        "spans",
        F.when(
            F.col("doc_id").isin(changed_ids),
            F.expr(
                "transform(spans, (s, i) -> IF(i = 0,"
                " named_struct('kind', s.kind,"
                "  'text', concat(s.text, ' EDITED'),"
                "  'media_ref', s.media_ref, 'offset', s.offset),"
                " s))"
            ),
        ).otherwise(F.col("spans")),
    ).filter(F.col("doc_id") != removed_id)
    added = (
        a.orderBy("doc_id")
        .limit(2)
        .withColumn("doc_id", F.concat(F.lit("new-"), F.col("doc_id")))
    )
    b = mutated.unionByName(added)
    n_b = b.count()

    # cold start on A seeds the manifest
    m1 = run_incremental(spark, a, f"{corpora}/out1")
    assert m1["n_carried"] == 0
    assert m1["n_reextracted"] == m1["n_total"]

    # full re-extraction of B (the ground truth)
    mf = run_incremental(spark, b, f"{corpora}/outF")
    full = _spans_by_doc(read_output(spark, f"{corpora}/outF"))

    # incremental B against A's output
    m2 = run_incremental(
        spark, b, f"{corpora}/out2", prev_dir=f"{corpora}/out1"
    )
    assert m2["n_reextracted"] == 5, m2  # 3 changed + 2 added
    assert m2["n_deleted"] == 1, m2
    assert m2["n_carried"] == n_b - 5, m2
    assert m2["n_total"] == mf["n_total"] == n_b

    inc = _spans_by_doc(read_output(spark, f"{corpora}/out2"))
    assert set(inc) == set(full)
    for doc_id in full:
        assert inc[doc_id] == full[doc_id], doc_id
    assert removed_id not in inc
    # the mutation must actually change extraction output (the CDC is
    # doing real work, not carrying everything)
    out_a = _spans_by_doc(read_output(spark, f"{corpora}/out1"))
    assert any(inc[i] != out_a[i] for i in changed_ids)


def test_incremental_refuses_in_place_refresh(spark, corpora):
    from pdf_ocr_spark.extract.incremental import run_incremental

    a = spark.read.parquet(f"{corpora}/base")
    with pytest.raises(ValueError, match="must differ"):
        run_incremental(
            spark, a, f"{corpora}/out1", prev_dir=f"{corpora}/out1"
        )


def test_incremental_noop_when_nothing_changed(spark, corpora, monkeypatch):
    """An unchanged corpus carries every doc from either writer's
    snapshot (run_incremental's or run_resumable's), and none from a
    snapshot whose ledger records other kernel sources."""
    from pdf_ocr_spark.extract import checkpoint
    from pdf_ocr_spark.extract.checkpoint import read_output, run_resumable
    from pdf_ocr_spark.extract.incremental import run_incremental

    a = spark.read.parquet(f"{corpora}/base")
    m = run_incremental(
        spark, a, f"{corpora}/out3", prev_dir=f"{corpora}/out1"
    )
    assert m["n_reextracted"] == 0, m
    assert m["n_deleted"] == 0
    assert m["n_carried"] == m["n_total"]
    assert _spans_by_doc(
        read_output(spark, f"{corpora}/out3")
    ) == _spans_by_doc(read_output(spark, f"{corpora}/out1"))

    n = a.count()
    run_resumable(spark, a, f"{corpora}/res", n_buckets=4, chunk_buckets=2)
    m = run_incremental(
        spark, a, f"{corpora}/out_res", prev_dir=f"{corpora}/res"
    )
    assert m == {
        "n_total": n, "n_reextracted": 0, "n_carried": n, "n_deleted": 0,
    }

    with monkeypatch.context() as mp:
        mp.setattr(checkpoint, "kernel_version", lambda: "older-kernels")
        run_incremental(spark, a, f"{corpora}/old")
    m = run_incremental(
        spark, a, f"{corpora}/out_old", prev_dir=f"{corpora}/old"
    )
    assert m["n_carried"] == 0 and m["n_reextracted"] == n, m


def test_reused_out_dir_does_not_resurrect_deleted_buckets(
    spark, corpora
):
    """A full-snapshot rewrite into a previously used out_dir must not
    keep stale bucket files (the snapshot write is a DYNAMIC partition
    overwrite, which only replaces buckets present in the new data — a
    refresh deletes the old snapshot before it writes)."""
    from pyspark.sql import functions as F

    from pdf_ocr_spark.extract.checkpoint import read_output
    from pdf_ocr_spark.extract.incremental import run_incremental

    a = spark.read.parquet(f"{corpora}/base")
    out_x = f"{corpora}/reuse_x"
    out_y = f"{corpora}/reuse_y"
    run_incremental(spark, a, out_x, n_buckets=4)
    n_a = a.count()
    assert read_output(spark, out_x).count() == n_a
    # shrink the corpus to 2 docs (most buckets become empty), ping-pong
    # through out_y and back into the REUSED out_x
    small = a.orderBy("doc_id").limit(2)
    run_incremental(spark, small, out_y, prev_dir=out_x, n_buckets=4)
    m = run_incremental(spark, small, out_x, prev_dir=out_y, n_buckets=4)
    got = read_output(spark, out_x)
    assert got.count() == 2, (
        "stale bucket files resurrected deleted docs"
    )
    assert m["n_total"] == 2
    assert sorted(r["doc_id"] for r in got.select("doc_id").collect()) == sorted(
        r["doc_id"] for r in small.select("doc_id").collect()
    )


def test_path_alias_cannot_bypass_in_place_guard(spark, corpora):
    import pytest as _pytest

    from pdf_ocr_spark.extract.incremental import run_incremental

    a = spark.read.parquet(f"{corpora}/base")
    with _pytest.raises(ValueError, match="must differ"):
        run_incremental(
            spark, a, f"{corpora}/out1", prev_dir=f"{corpora}/./out1/"
        )


def test_incremental_check_unique_rejects_duplicate_doc_ids(
    spark, corpora, tmp_path
):
    """check_unique=True fails fast on a CDC batch that violates the
    doc_id-uniqueness precondition (audit finding: duplicates would
    fan out the semi joins and corrupt the next run's accounting)."""
    from pdf_ocr_spark.extract.incremental import run_incremental

    a = spark.read.parquet(f"{corpora}/base")
    dup = a.unionByName(a.limit(1))
    with pytest.raises(ValueError, match="not doc_id-unique"):
        run_incremental(
            spark, dup, str(tmp_path / "dup_out"), check_unique=True
        )
    # the clean batch passes with the check enabled
    m = run_incremental(
        spark, a, str(tmp_path / "ok_out"), check_unique=True
    )
    assert m["n_total"] == a.count()


def test_refresh_write_is_hash_distributed(spark, tmp_path):
    """Round-5 pin: the snapshot write repartitions on the bucket key,
    so the data tree holds exactly ONE file per non-empty bucket at
    ANY task parallelism — the small-file count must not grow with
    cluster width (it measured 2x more files at 4N before the fix)."""
    import os

    from pdf_ocr_spark.extract.incremental import run_incremental
    from pdf_ocr_spark.sources.synthetic import write_corpus_table

    src = str(tmp_path / "hd_corpus")
    write_corpus_table(spark, src, n_docs=40, skew_docs=0)
    a = spark.read.parquet(src)
    out = str(tmp_path / "hd_out")
    run_incremental(spark, a, out, n_buckets=4)
    for name in os.listdir(f"{out}/data"):
        if not name.startswith("bucket="):
            continue
        files = [
            f
            for f in os.listdir(f"{out}/data/{name}")
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, (name, files)


def test_corrupt_ledger_raises_and_releases_the_cache(spark, tmp_path):
    """A previous snapshot with an unreadable ledger fails the refresh
    loudly, and the failed refresh leaves nothing cached."""
    from pdf_ocr_spark.extract.incremental import run_incremental
    from pdf_ocr_spark.sources.synthetic import synthetic_corpus

    prev = tmp_path / "prev"
    (prev / "_progress").mkdir(parents=True)
    (prev / "_progress" / "part-0.parquet").write_bytes(b"junk")
    spark.catalog.clearCache()
    with pytest.raises(Exception, match="part-0.parquet"):
        run_incremental(
            spark,
            synthetic_corpus(spark, 6),
            str(tmp_path / "out"),
            prev_dir=str(prev),
            n_buckets=4,
        )
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_refresh_killed_before_its_ledger_row_leaves_no_snapshot(
    spark, tmp_path, monkeypatch
):
    """A refresh into a reused out_dir, killed after its data commit and
    before its ledger row, leaves an incomplete snapshot: ``read_output``
    refuses it, and a refresh from it runs cold instead of carrying a
    deleted doc back."""
    from pyspark.sql import DataFrameWriter

    from pdf_ocr_spark.extract.checkpoint import read_output
    from pdf_ocr_spark.extract.incremental import run_incremental
    from pdf_ocr_spark.sources.synthetic import write_corpus_table

    src = str(tmp_path / "corpus")
    write_corpus_table(spark, src, n_docs=25, skew_docs=0)
    v2 = spark.read.parquet(src)
    added = sorted(r["doc_id"] for r in v2.select("doc_id").collect())[-1]
    v1 = v2.filter(F.col("doc_id") != added)
    a, b, c = (str(tmp_path / d) for d in "abc")

    run_incremental(spark, v1, a, n_buckets=4)
    run_incremental(spark, v2, b, prev_dir=a, n_buckets=4)

    parquet = DataFrameWriter.parquet

    def killed_at_ledger(self, path, *args, **kwargs):
        if path.endswith("/_progress"):
            raise RuntimeError("killed before the ledger row")
        return parquet(self, path, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", killed_at_ledger)
        with pytest.raises(RuntimeError, match="killed before the ledger"):
            run_incremental(spark, v2, a, prev_dir=b, n_buckets=4)

    with pytest.raises(ValueError, match="no complete snapshot"):
        read_output(spark, a)
    summary = run_incremental(spark, v1, c, prev_dir=a, n_buckets=4)
    got = [r["doc_id"] for r in read_output(spark, c).select("doc_id").collect()]
    assert len(got) == 24
    assert added not in got
    assert summary == {
        "n_total": 24, "n_reextracted": 24, "n_carried": 0, "n_deleted": 0,
    }


def test_fingerprint_tells_null_placements_apart(spark, tmp_path):
    """Docs whose spans differ only in which field is NULL (or by a NULL
    span) get different ``fp`` in the snapshot rows; the struct hash
    ``xxhash64(spans)`` gives all three one value."""
    from pdf_ocr_spark.extract.checkpoint import read_output, run_resumable
    from pdf_ocr_spark.extract.incremental import input_fingerprint

    nullable = (
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    )
    df = spark.createDataFrame(
        [
            ("pdfish-000001", [(None, "x", None, 0)]),
            ("pdfish-000002", [("x", None, None, 0)]),
            ("pdfish-000003", [("x", None, None, 0), None]),
        ],
        nullable,
    )
    out = str(tmp_path / "out")
    run_resumable(spark, df, out, n_buckets=2, chunk_buckets=2)
    fps = {r.doc_id: r.fp for r in read_output(spark, out).collect()}
    assert len(set(fps.values())) == 3, fps
    assert fps == {r.doc_id: r.fp for r in input_fingerprint(df).collect()}
