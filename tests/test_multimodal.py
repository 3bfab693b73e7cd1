"""Unit tests for the multimodal mapInPandas kernels (no Spark session:
the kernels are plain batch-iterator functions, tested at the pandas
level exactly as executors run them)."""

import hashlib

import pandas as pd
import pytest

from pdf_ocr_spark.operators.multimodal import (
    IMG_FORMATS,
    decode_batches,
    decode_image_real,
    fake_decode,
    feature_batches,
)


def _blob(text: str) -> bytes:
    return hashlib.md5(text.encode()).digest()


def test_real_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_image_real(b"\x89PNG")


def test_fake_decode_deterministic_and_bounded():
    b = _blob("hello")
    assert fake_decode(b) == fake_decode(b)
    w, h, fmt = fake_decode(b)
    assert 16 <= w < 1936 and 16 <= h < 1096
    assert fmt in IMG_FORMATS


def test_decode_batches_one_row_per_input_across_batches():
    batches = [
        pd.DataFrame({"doc_id": [1, 2], "media_blob": [_blob("a"), _blob("b")]}),
        pd.DataFrame({"doc_id": [3], "media_blob": [_blob("c")]}),
    ]
    out = list(decode_batches(iter(batches)))
    assert len(out) == 2  # batch shape preserved (streamed, not concat)
    all_rows = pd.concat(out)
    assert list(all_rows.columns) == [
        "doc_id", "width", "height", "format", "n_bytes",
    ]
    assert list(all_rows["doc_id"]) == [1, 2, 3]
    assert (all_rows["n_bytes"] == 16).all()


def test_feature_mean_byte_matches_manual_sum():
    b = _blob("xyz")
    out = pd.concat(
        feature_batches(iter([pd.DataFrame({"doc_id": [7], "media_blob": [b]})]))
    )
    assert out["mean_byte"].iloc[0] == sum(b) / len(b)


def test_registry_is_consistent():
    from pdf_ocr_spark.queries import FULL_ORACLES, FULL_QUERIES

    assert set(FULL_ORACLES) <= set(FULL_QUERIES)
    # every new training-data operator family is registered
    for prefix in ("d0", "s0", "t0", "m0"):
        assert any(k.startswith(prefix) for k in FULL_QUERIES), prefix


def test_resize_plan_integer_math_and_noop():
    from pdf_ocr_spark.operators.multimodal import resize_plan

    assert resize_plan(100, 50, 256) == (100, 50)        # already fits
    assert resize_plan(256, 256, 256) == (256, 256)      # boundary no-op
    assert resize_plan(512, 256, 256) == (256, 128)      # exact halving
    assert resize_plan(1920, 1080, 256) == (256, 144)    # floor, long side w
    assert resize_plan(300, 1000, 256) == (76, 256)      # long side h
    # long side always lands exactly on max_side when shrinking
    for w, h in [(257, 17), (1000, 999), (123, 4567)]:
        nw, nh = resize_plan(w, h, 256)
        assert max(nw, nh) == 256 and nw <= w and nh <= h


def test_resize_batches_blob_roundtrip_and_schema():
    from pdf_ocr_spark.operators.multimodal import (
        fake_decode,
        resize_batches,
        resize_plan,
    )

    blobs = [_blob("a"), _blob("bb"), _blob("ccc")]
    out = pd.concat(
        resize_batches(256)(
            iter(
                [pd.DataFrame({"doc_id": [1, 2, 3], "media_blob": blobs})]
            )
        )
    )
    assert list(out.columns) == [
        "doc_id", "width", "height", "new_width", "new_height",
        "media_out", "n_bytes",
    ]
    for i, b in enumerate(blobs):
        w, h, _ = fake_decode(b)
        nw, nh = resize_plan(w, h, 256)
        row = out.iloc[i]
        assert (row["width"], row["height"]) == (w, h)
        assert (row["new_width"], row["new_height"]) == (nw, nh)
        assert bytes(row["media_out"]) == b  # stub passthrough, intact


def test_m06_scene_segmentation_reference(spark, tmp_path):
    """m06: luma fake, boundary threshold, and running shot id match a
    hashlib reference over the sampled frame stream."""
    import hashlib

    import pandas as pd

    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "lang": ["en", "en"],
            "text": ["x" * 7, "y" * 250],  # durations 8 s and 11 s
            "n_chars": [7, 250],
        }
    ).to_parquet(str(tmp_path / "documents.parquet"))
    from pdf_ocr_spark.queries.multimodal_q import (
        _SCENE_TH,
        _SHOT_FRAMES,
        QUERIES,
    )

    rows = sorted(
        QUERIES["m06_scene_segments"](spark, str(tmp_path)).collect(),
        key=lambda r: (r["doc_id"], r["frame_idx"]),
    )

    def luma(doc_id, frame_idx):
        key = f"{doc_id}#{frame_idx // _SHOT_FRAMES}"
        return int(hashlib.md5(key.encode()).hexdigest()[:2], 16)

    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {1, 2}
    for doc_id, rs in by_doc.items():
        dur = (7 if doc_id == 1 else 250) % 120 + 1
        assert [r["frame_idx"] for r in rs] == list(
            range(0, dur * 30, 15)
        )
        prev, shots = None, 0
        for r in rs:
            lu = luma(doc_id, r["frame_idx"])
            assert r["luma"] == lu
            exp_b = prev is not None and abs(lu - prev) >= _SCENE_TH
            assert r["is_boundary"] == exp_b, (doc_id, r["frame_idx"])
            shots += int(exp_b)
            assert r["shot_id"] == shots
            prev = lu


def _md5i(s: str, n: int) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:n], 16)


def _interleave_ref(doc_id: int, text: str):
    """Independent hashlib reference for the m08/m09 deterministic
    interleaved-span construction."""
    words = text.split(" ")
    n_sent = (len(words) + 7) // 8
    n_media = _md5i(str(doc_id), 2) % 3 + 1
    anchors = [_md5i(f"{doc_id}#{k}", 4) % n_sent for k in range(n_media)]
    sents = [
        " ".join(words[8 * i : 8 * i + 8]) for i in range(n_sent)
    ]
    return n_sent, n_media, anchors, sents


@pytest.fixture()
def ilv_docs(tmp_path):
    texts = [
        " ".join(f"w{d}x{i}" for i in range(5 + 9 * d)) for d in range(8)
    ]
    pd.DataFrame(
        {
            "doc_id": list(range(8)),
            "lang": ["en"] * 8,
            "text": texts,
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path), texts


def test_m08_caption_pairing_reference(spark, ilv_docs):
    """m08: anchor-restricted candidates, md5 milli-score + bonus,
    per-media argmax and per-sentence conflict resolution all match a
    hashlib reference."""
    sf, texts = ilv_docs
    from pdf_ocr_spark.queries.multimodal_q import _M08_BONUS, QUERIES

    rows = QUERIES["m08_caption_pair"](spark, sf).collect()
    got = {(r["doc_id"], r["media_ref"]): r for r in rows}

    n_expected = 0
    kept_by_sent = {}
    for d, text in enumerate(texts):
        n_sent, n_media, anchors, sents = _interleave_ref(d, text)
        for k in range(n_media):
            n_expected += 1
            a = anchors[k]
            ref = f"img://{d}/{k}"
            cands = range(max(a - 1, 0), min(a + 1, n_sent - 1) + 1)
            scored = [
                (
                    _md5i(f"{ref}|{sents[c]}", 6) % 1000
                    + (_M08_BONUS if c == a else 0),
                    c,
                )
                for c in cands
            ]
            score, seq = max(scored, key=lambda t: (t[0], -t[1]))
            r = got[(d, ref)]
            assert (r["sent_seq"], r["caption"], r["score_milli"]) == (
                seq,
                sents[seq],
                score,
            ), (d, k)
            kept_by_sent.setdefault((d, seq), []).append(
                (score, k, ref)
            )
    assert len(rows) == n_expected
    for (d, seq), lst in kept_by_sent.items():
        lst.sort(key=lambda t: (-t[0], t[1]))
        for i, (_, _, ref) in enumerate(lst):
            assert got[(d, ref)]["kept"] == (i == 0), (d, seq, ref)


def test_m09_interleave_profile_reference(spark, ilv_docs):
    """m09: kinds sequence, run-length max, alternation count and the
    keep verdict match a hashlib reference."""
    sf, texts = ilv_docs
    from pdf_ocr_spark.queries.multimodal_q import (
        _M09_HI,
        _M09_LO,
        _M09_MAX_RUN,
        QUERIES,
    )

    rows = {
        r["doc_id"]: r
        for r in QUERIES["m09_interleave_profile"](spark, sf).collect()
    }
    assert len(rows) == len(texts)
    for d, text in enumerate(texts):
        n_sent, n_media, anchors, _ = _interleave_ref(d, text)
        kinds = []
        for i in range(n_sent):
            kinds.append("text")
            kinds.extend("media" for a in anchors if a == i)
        best = run = 0
        for x in kinds:
            run = run + 1 if x == "media" else 0
            best = max(best, run)
        alt = sum(
            1 for j in range(1, len(kinds)) if kinds[j] != kinds[j - 1]
        )
        pm = n_media * 1000 // (n_sent + n_media)
        r = rows[d]
        assert r["n_text"] == n_sent and r["n_media"] == n_media
        assert r["n_spans"] == n_sent + n_media
        assert r["media_permille"] == pm
        assert r["max_media_run"] == best
        assert r["n_alternations"] == alt
        assert r["ends_with_media"] == (kinds[-1] == "media")
        assert r["keep"] == (
            _M09_LO <= pm <= _M09_HI and best <= _M09_MAX_RUN
        )


def test_x18_pairs_compose_gate_and_kept(spark, ilv_docs):
    """x18: exactly the m08-kept pairs of m09-kept documents, with the
    document's media_permille riding along."""
    sf, _ = ilv_docs
    from pdf_ocr_spark.queries.multimodal_q import QUERIES

    pairs = {
        (r["doc_id"], r["media_ref"]): r
        for r in QUERIES["m08_caption_pair"](spark, sf).collect()
    }
    gate = {
        r["doc_id"]: r
        for r in QUERIES["m09_interleave_profile"](spark, sf).collect()
    }
    out = QUERIES["x18_interleaved_pairs"](spark, sf).collect()
    expected = {
        k for k, r in pairs.items() if r["kept"] and gate[k[0]]["keep"]
    }
    assert {(r["doc_id"], r["media_ref"]) for r in out} == expected
    for r in out:
        p = pairs[(r["doc_id"], r["media_ref"])]
        assert (r["caption"], r["score_milli"]) == (
            p["caption"],
            p["score_milli"],
        )
        assert r["media_permille"] == gate[r["doc_id"]]["media_permille"]
    assert out, "fixture must keep at least one pair"


def test_m10_two_budget_packing_reference(spark, tmp_path):
    """m10: cumulative two-budget bin assignment matches a running
    Python reference, and the image cap forces a bin break the token
    budget alone would not."""
    from pdf_ocr_spark.queries.multimodal_q import (
        _M10_BIN,
        _M10_IMG_CAP,
        _M10_IMG_COST,
        QUERIES,
    )

    # short docs: token budget never fills, so every bin break beyond
    # bin 0 must come from the image cap
    texts = [" ".join(f"w{d}x{i}" for i in range(10)) for d in range(30)]
    pd.DataFrame(
        {
            "doc_id": list(range(30)),
            "lang": ["en"] * 30,
            "text": texts,
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(str(tmp_path / "documents.parquet"))

    rows = {
        r["doc_id"]: r
        for r in QUERIES["m10_multimodal_packing"](
            spark, str(tmp_path)
        ).collect()
    }
    c_cost = c_img = 0
    img_broke = False
    for d in range(30):
        n_tok = 10
        n_media = _md5i(str(d), 2) % 3 + 1
        cost = n_tok + _M10_IMG_COST * n_media
        bt, bi = c_cost // _M10_BIN, c_img // _M10_IMG_CAP
        r = rows[d]
        assert (r["n_tok"], r["n_media"], r["cost"]) == (
            n_tok,
            n_media,
            cost,
        ), d
        assert (r["bin_tok"], r["bin_img"], r["bin"]) == (
            bt,
            bi,
            max(bt, bi),
        ), d
        img_broke |= bi > bt
        c_cost += cost
        c_img += n_media
    assert img_broke, "fixture must exercise the image-cap budget"
