"""End-to-end extraction pipeline tests (the north-star invariants).

The span-sequence-equality check mirrors the reference's golden-fixture
prediction tests (reference: calamari_ocr/test/test_prediction.py:107-118)
lifted to document granularity, and the CER gate mirrors
test_eval.py:56 (avg_ler threshold).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from calamari_spark.plans import extraction as X

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus(spark):
    return X.load_interleaved(spark, SF)


def test_span_sequence_equality(spark, corpus):
    docs, media = corpus
    report = X.span_equality_report(
        X.extract_documents(docs, media), X.golden_documents(docs, media)
    ).collect()[0]
    assert report["total_docs"] == X.N_DOCS["0.001"]
    assert report["mismatch_docs"] == 0
    assert report["equal_docs"] == report["total_docs"]


def test_media_recognition_exact(spark, corpus):
    docs, media = corpus
    rec = X.x_media_text(spark, SF)
    joined = rec.join(media.select("media_ref", "gt"), "media_ref")
    n_bad = joined.filter(F.col("sentence") != F.col("gt")).count()
    assert n_bad == 0
    # CER quality gate (reference: test_eval.py:56 — ours must be exactly 0)
    cer = X.x_extract_cer(spark, SF).collect()[0]
    assert cer["avg_ler"] == 0.0
    assert cer["total_chars"] > 0


def test_extract_output_schema_matches_input(spark, corpus):
    docs, media = corpus
    out = X.extract_documents(docs, media)
    assert [f.name for f in out.schema["spans"].dataType.elementType.fields] == [
        "kind", "text", "media_ref", "offset",
    ]
    # every media span now carries text; offsets are the full 0..n-1 range
    row = out.filter(F.size("spans") >= 3).first()
    offsets = [s["offset"] for s in row["spans"]]
    assert offsets == list(range(len(offsets)))
    assert all(s["text"] is not None for s in row["spans"])


def test_reassembly_salting_preserves_order(spark):
    # adversarial ordering: arrival order reversed vs offset order
    rows = [("d1", "text", f"t{i}", None, i) for i in reversed(range(200))]
    df = spark.createDataFrame(
        rows, "doc_id string, kind string, text string, media_ref string, offset int"
    )
    out = X.reassemble_spans(df, n_salt=8).collect()
    assert len(out) == 1
    texts = [s["text"] for s in out[0]["spans"]]
    assert texts == [f"t{i}" for i in range(200)]


def test_recognize_positions_nested_output(spark, corpus):
    preds = X._recognized_with_positions(spark, SF).limit(20).collect()
    assert preds
    for r in preds:
        assert 0.0 < r["avg_char_probability"] <= 1.0
        assert r["n_folds"] == X.N_FOLDS
        starts = [p["global_start"] for p in r["positions"]]
        assert starts == sorted(starts)  # left-to-right reading order
        for p in r["positions"]:
            assert p["global_end"] >= p["global_start"]
            assert p["global_start_ext"] <= p["global_start"]
    # the DRIVER-facing variant serializes the tree to a sortable string
    json_rows = X.x_recognize_positions(spark, SF).limit(5).collect()
    assert all(isinstance(r["positions_json"], str) for r in json_rows)


def test_cnn_path_runs_and_is_deterministic(spark, corpus):
    out = X.x_extract_cnn(spark, SF).limit(10)
    a = [r.asDict() for r in out.collect()]
    b = [r.asDict() for r in out.collect()]
    assert a == b
    assert all(r["out_len"] > 0 and r["n_frames"] >= r["out_len"] for r in a)


def test_text_span_path_stays_jvm_side(spark, corpus):
    docs, _ = corpus
    spans = X.explode_spans(docs).filter(F.col("kind") == "text")
    from calamari_spark.functions.text import regularize_column

    plan = spans.select(
        regularize_column(F.col("text"), rulesets=X.TEXT_RULESETS).alias("t")
    )._jdf.queryExecution().executedPlan().toString()
    # the boilerplate strip must not fall out of whole-stage codegen into
    # Python — no row-at-a-time UDF nodes in the text path
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_word_segmentation_arithmetic():
    # glyph/space metrics: gap = 10 + 6k px for k spaces, frame-quantized
    for prev, cur, expect in [(4, 12, 0), (4, 14, 0), (8, 24, 1), (0, 16, 1), (4, 26, 2)]:
        assert X._spaces_between(prev, cur) == expect


def test_empty_and_null_span_docs_pass_through(spark, corpus):
    """A document with an empty (or null) spans array must still appear in
    the output with an empty spans array — explode() would silently drop it
    (the output-schema==input-schema contract)."""
    _, media = corpus
    docs = spark.createDataFrame(
        [
            ("empty", []),
            ("null", None),
            ("all_null", [None]),
            ("one", [("text", " hi  there ", None, 0)]),
        ],
        f"doc_id string, spans {X.SPANS_TYPE}",
    )
    out = {r["doc_id"]: r["spans"] for r in X.extract_documents(docs, media).collect()}
    assert set(out) == {"empty", "null", "all_null", "one"}
    assert out["empty"] == [] and out["null"] == [] and out["all_null"] == []
    assert out["one"][0]["text"] == "hi there"
    golden = {r["doc_id"]: r["spans"] for r in X.golden_documents(docs, media).collect()}
    assert set(golden) == {"empty", "null", "all_null", "one"}


def test_null_span_element_does_not_duplicate_doc(spark, corpus):
    """A null ELEMENT inside a real spans array must not emit the doc twice
    (once empty, once reassembled)."""
    _, media = corpus
    docs = spark.createDataFrame(
        [("d", [None, ("text", " a  b ", None, 0)])],
        f"doc_id string, spans {X.SPANS_TYPE}",
    )
    rows = X.extract_documents(docs, media).collect()
    assert len(rows) == 1
    assert [s["text"] for s in rows[0]["spans"]] == ["a b"]


def _recognize_one_reference(png, n_folds, precomputed=None):
    """The r6.0 text-only kernel (all-fold softmax + RLE unanimity probe)
    kept verbatim as the equivalence reference for the r6.2 provable-
    unanimity shortcut: the shortcut may only change WHICH folds get
    computed, never the returned tuple."""
    from calamari_spark.model.template import STRIDE
    from calamari_spark.operators.ctc import (
        greedy_decode,
        greedy_labels,
        top1_prediction,
    )
    from calamari_spark.operators.vote import (
        make_out_to_in,
        map_global_positions,
        vote_prediction,
    )
    from calamari_spark.sources.pngio import decode_png

    codec, recs = X._get_recognizers(n_folds)
    if precomputed is not None:
        img, pooled = precomputed
    else:
        img = decode_png(bytes(png))
        pooled = recs[0].pooled_scores(img)
    line_width = img.shape[1] if img.ndim == 2 else 0
    ident_meta = {"pad": 0, "m1": 1.0, "m2": 1.0, "line_width": line_width}
    sms = [
        rec.softmax_from_scores(pooled) if pooled is not None else rec._blank_softmax(img)
        for rec in recs
    ]
    fold_labels = [[c for c, _, _ in greedy_labels(sm)] for sm in sms]
    unanimous = all(l == fold_labels[0] for l in fold_labels[1:])
    if unanimous:
        voted = top1_prediction(sms[0])
        out_to_in = make_out_to_in(ident_meta, model_factor=float(STRIDE))
        map_global_positions(voted, out_to_in, sms[0].shape[0], codec.code2char)
    else:
        folds, fold_chars = [], []
        for sm in sms:
            pred = greedy_decode(sm)
            out_to_in = make_out_to_in(ident_meta, model_factor=float(STRIDE))
            map_global_positions(pred, out_to_in, sm.shape[0], codec.code2char)
            folds.append(pred)
            fold_chars.append([codec.code2char[l] for l in pred.labels])
        if all(c == fold_chars[0] for c in fold_chars[1:]):
            voted = folds[0]
        else:
            voted = vote_prediction(folds, fold_chars)
    parts, prev_start = [], None
    for pos in voted.positions:
        if not pos.chars:
            continue
        if prev_start is not None:
            parts.append(" " * X._spaces_between(prev_start, pos.global_start))
        parts.append(pos.chars[0].char)
        prev_start = pos.global_start
    from calamari_spark.functions.text import regularize_str

    sentence = regularize_str("".join(parts), rulesets=X.TEXT_RULESETS)
    return sentence, float(voted.avg_char_probability), []


def test_provable_unanimity_matches_full_probe(spark, corpus):
    """r6.2 kernel shortcut equivalence: for every fixture line, the
    provable-unanimity path returns the exact tuple the full per-fold
    probe returned — and synthetic threshold-straddling pooled matrices
    (the non-provable branch, absent from the deterministic corpus) agree
    too, including one where the straddle frame merges into an adjacent
    run (fallback still finds unanimity) and one where folds genuinely
    disagree (vote path)."""
    _, media = corpus
    pngs = [bytes(r["png"]) for r in media.select("png").collect()]
    assert len(pngs) > 100
    for png in pngs:
        assert X._recognize_one(png, 3, with_positions=False) == \
            _recognize_one_reference(png, 3)

    # synthetic straddle cases injected via precomputed pooled scores
    codec, recs = X._get_recognizers(3)
    classes = len(codec.charset)
    img = np.zeros((48, 64), dtype=np.uint8) + 255
    cases = [
        [(0, 0.993)],                       # lone straddle char: folds disagree
        [(0, 0.999), (1, 0.993)],           # distinct chars: disagree -> vote
        [(0, 0.999), (2, 0.2), (1, 0.993)],
        [(0, 0.999), (0, 0.993)],           # SAME char adjacent: the straddle
                                            # frame merges into the run, so the
                                            # fallback probe still finds
                                            # unanimity (fold RLEs equal)
    ]
    for case in cases:
        pooled = np.zeros((2 + len(case), classes), dtype=np.float32)
        for t, (ch, v) in enumerate(case):
            pooled[t + 1, 2 + ch] = v
        pre = (img, pooled)
        assert X._recognize_pooled(img, pooled, 3, with_positions=False) == \
            _recognize_one_reference(b"", 3, precomputed=pre)
