"""The flagship end-to-end extraction pipeline (the north star).

Input: an interleaved-document table
``documents(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``
plus a ``line_images(media_ref, png, gt, width, height)`` media store
(BASELINE.json input_hint). Text spans are boilerplate-stripped with
Catalyst-native expressions; media spans are OCR'd through the
Calamari-equivalent recognize path — PNG batch-decode, center-normalization
preprocessing, template/CNN recognition across K ensemble folds, greedy CTC
decode with alternatives, confidence voting, global position mapping — all
inside Arrow-batched ``mapInPandas`` stages. The recombined span sequence
``(kind, text, media_ref, offset)`` is reassembled per document with a
two-level salted aggregation.

Lifecycle parity: this is the Spark shape of ``calamari-predict``
(reference: calamari_ocr/scripts/predict.py:94-180; pipeline stages
predict/predictor.py:36-78, voting/adapter.py:24-57). The span routing /
ordered reassembly mirrors the PageXML line-cut + sequential store-back
(reference: calamari_ocr/ocr/dataset/datareader/pagexml/reader.py:283-391,
398-429) with the order restored by the offset column instead of arrival
order.

Scale notes (the 100 TB plan):
* images shuffle exactly once (the media_ref equi-join); everything after
  runs map-side inside Arrow batches;
* per-fold model state loads once per Python worker (module-level cache),
  never per row or per batch;
* document reassembly is a salted two-level collect_list so a 10^6-span
  document cannot stall a single reducer; AQE skew-join splitting is on;
* text spans never leave the JVM (whole-stage-codegen regexp chain).
"""

from __future__ import annotations

import os
from typing import Callable, Dict, Iterator, List, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from calamari_spark.functions.text import regularize_column, regularize_str
from calamari_spark.plans.common import fan_out
from calamari_spark.plans.golden import golden_oracle as _golden

# ---------------------------------------------------------------------------
# corpus materialization (deterministic; committed fixtures for oracle SFs)
# ---------------------------------------------------------------------------

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
FIXTURE_ROOT = os.path.join(REPO_ROOT, "fixtures", "interleaved")
CACHE_ROOT = os.path.join(REPO_ROOT, ".data", "interleaved")

# docs per scale factor: committed fixtures for the oracle SFs (0.001 smoke,
# 0.01 correctness gate), generated-on-demand cache for bench SFs; the
# dedicated "scaling" corpus is sized so per-core OCR work dominates fixed
# session overheads in the strong-scaling measurement
N_DOCS = {"0.001": 24, "0.01": 96, "0.1": 768, "0.5": 3840, "scaling": 6144}
COMMITTED_SFS = ("0.001", "0.01")

TEXT_RULESETS = ["quotes", "spaces"]  # the boilerplate-strip chain
N_FOLDS = 3
SEQ_SEP = "\x1f"  # unit separator for the flattened span-sequence oracle


def sf_of(sf_dir: str) -> str:
    tail = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    if tail.startswith("sf"):
        tail = tail[2:]
    return tail if tail in N_DOCS else "0.01"


def interleaved_dir_path(sf_dir: str) -> str:
    sf = sf_of(sf_dir)
    root = FIXTURE_ROOT if sf in COMMITTED_SFS else CACHE_ROOT
    return os.path.join(root, f"sf{sf}")


def interleaved_dir(spark: SparkSession, sf_dir: str) -> str:
    """Path holding {documents_spans,line_images}.parquet for this SF;
    committed under fixtures/ for oracle SFs, generated into .data/
    otherwise. Generation is deterministic (sha256-seeded), so any
    materialization of the same SF is value-identical."""
    sf = sf_of(sf_dir)
    out = interleaved_dir_path(sf_dir)
    if not os.path.exists(os.path.join(out, "documents_spans.parquet")):
        from calamari_spark.sources.synth import write_corpus

        write_corpus(spark, out, N_DOCS[sf], corpus="main", skew_tail=True)
    if not (
        os.path.exists(os.path.join(out, "vocab.json"))
        and os.path.exists(os.path.join(out, "vocab_bigrams.json"))
    ):
        # corpora materialized before vocab (or bigram) shipping: backfill
        # the model constants once (the offline LM-training step, not
        # query work)
        from calamari_spark.sources.synth import write_vocab

        write_vocab(spark, out)
    return out


def load_vocab(sf_dir: str) -> Dict[str, int]:
    """word -> count model constant written by the corpus materialization
    (sources/synth.py write_vocab); a tiny local JSON read, no Spark job."""
    import json

    with open(os.path.join(interleaved_dir_path(sf_dir), "vocab.json")) as f:
        return json.load(f)


def load_vocab_bigrams(sf_dir: str) -> Dict[tuple, int]:
    """(w1, w2) -> count model constant (write_vocab ships it as
    vocab_bigrams.json keyed "w1 w2")."""
    import json

    with open(
        os.path.join(interleaved_dir_path(sf_dir), "vocab_bigrams.json")
    ) as f:
        raw = json.load(f)
    return {tuple(k.split(" ", 1)): n for k, n in raw.items()}


def load_interleaved(spark: SparkSession, sf_dir: str) -> Tuple[DataFrame, DataFrame]:
    # schema-cached reads: every x_* query calls this, and each plain
    # spark.read.parquet() pays a one-task schema-inference job (~0.15 s
    # of driver latency each — see sources/tables.py)
    from calamari_spark.sources.tables import read_parquet_cached_schema

    d = interleaved_dir(spark, sf_dir)
    docs = read_parquet_cached_schema(spark, os.path.join(d, "documents_spans.parquet"))
    media = read_parquet_cached_schema(spark, os.path.join(d, "line_images.parquet"))
    return docs, media


def load_interleaved_tables(spark: SparkSession, docs_table: str,
                            media_table: str) -> Tuple[DataFrame, DataFrame]:
    """Catalog-table corpus load — the cluster path of the north rule
    (`spark.read.table` over catalog-qualified Iceberg table names, e.g.
    ``iceberg.web.documents_spans``). The sandbox has no Iceberg runtime
    jar, so tests exercise the same catalog API against warehouse-managed
    tables; only the catalog implementation behind the name differs on a
    real cluster, not this code path. Iceberg partition pruning / metadata
    filtering arrives through the SAME declarative scan Catalyst builds
    here."""
    return spark.read.table(docs_table), spark.read.table(media_table)


# ---------------------------------------------------------------------------
# media recognize stage (decode -> preprocess -> infer -> CTC -> vote)
# ---------------------------------------------------------------------------

RECOGNIZE_SCHEMA = (
    "doc_id string, offset int, media_ref string, sentence string,"
    " avg_char_probability double, n_folds int,"
    " positions array<struct<char:string, probability:double,"
    " global_start:int, global_end:int, global_start_ext:int,"
    " global_end_ext:int,"
    " alts:array<struct<char:string, probability:double>>>>"
)

_WORKER_STATE: Dict[str, object] = {}  # per-Python-worker model cache


def _worker_cached(key: str, build: Callable[[], object]):
    """``build()``'s result, built once per executor Python worker and
    reused by every later task there (the reference loads checkpoints once
    per process; predictor.py:36-62). ``key`` must name everything the
    result depends on."""
    if key not in _WORKER_STATE:
        _WORKER_STATE[key] = build()
    return _WORKER_STATE[key]


def _get_recognizers(n_folds: int):
    """(codec, template-ensemble folds 0..n_folds-1), cached per worker."""

    def build():
        from calamari_spark.codec import default_codec
        from calamari_spark.model.template import TemplateRecognizer

        codec = default_codec()
        return codec, [TemplateRecognizer(codec.charset, fold=k) for k in range(n_folds)]

    return _worker_cached(f"template:{n_folds}", build)


def _decoded(rec, png: bytes):
    """(img, pooled): the PNG decode and the fold-independent template
    correlation, the expensive half of recognition that folds share."""
    from calamari_spark.sources.pngio import decode_png

    img = decode_png(bytes(png))
    return img, rec.pooled_scores(img)


def _fold_softmax(rec, img, pooled):
    """One fold's blank-first softmax from the shared pooled scores (an
    image too small to correlate has none and decodes to all-blank)."""
    return rec.softmax_from_scores(pooled) if pooled is not None else rec._blank_softmax(img)


def line_stage(lines: DataFrame, setup: Callable[[], Callable[[tuple], tuple]],
               schema: str, on_error: str = "fail") -> DataFrame:
    """The one per-line Python stage that every OCR query runs its kernel in.

    Partitioning: ``fan_out(lines, "media_ref")``. The stage is
    compute-bound, not byte-bound: about 1.9 ms of task time per line
    without positions and 3.7 ms with them (perfbench's traced `extract`
    run on a 4-core AVX-512 Xeon), plus about 20 ms of Python worker CPU
    per task in a `get_spark` session. So AQE's byte-based coalescing is
    the wrong heuristic here — at small inputs it would collapse the
    exchange to one partition and serialize the OCR. An explicit hash
    repartition on the unique media_ref pins the stage's parallelism to
    the cluster's cores (user-specified repartitions are exempt from AQE
    coalescing); at 100 TB the same repartition is what balances compute
    across executors.

    Per task, ``setup()`` runs once and returns ``kernel(row) -> tuple``,
    where ``row`` is a namedtuple of the input columns. Output columns of
    ``schema`` that the input also has pass through unchanged; the kernel
    returns the rest, in schema order.

    ``on_error``: a 10^12-doc corpus WILL contain corrupt blobs, and a
    deterministic per-record raise fails the task on every retry — one bad
    byte kills the job. "fail" (default) keeps that strict contract for
    the driver-attested queries; "quarantine" catches per-record failures,
    emits the row with NULL kernel outputs plus an ``error`` column
    (schema gains ``error string``, at most 500 chars), and lets the
    job-level metrics count failures per partition instead of dying."""
    if on_error not in ("fail", "quarantine"):
        raise ValueError(f"on_error must be 'fail' or 'quarantine', got {on_error!r}")
    quarantine = on_error == "quarantine"
    names = StructType.fromDDL(schema).fieldNames()
    passed = [c for c in names if c in lines.columns]
    computed = [c for c in names if c not in passed]
    nulls = (None,) * len(computed)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kernel = setup()
        for b in batches:
            results, errors = [], []
            for row in b.itertuples(index=False):
                if not quarantine:
                    results.append(kernel(row))
                    continue
                try:
                    results.append(kernel(row))
                    errors.append(None)
                except Exception as exc:  # noqa: BLE001 — quarantine by design
                    results.append(nulls)
                    errors.append(f"{type(exc).__name__}: {exc}"[:500])
            kernel_cols = dict(zip(computed, zip(*results)))
            out = {
                c: b[c].to_numpy() if c in passed else list(kernel_cols.get(c, ()))
                for c in names
            }
            if quarantine:
                out["error"] = errors
            yield pd.DataFrame(out)

    out_schema = schema + (", error string" if quarantine else "")
    return fan_out(lines, "media_ref").mapInPandas(run, schema=out_schema)


# word segmentation from decoded glyph positions: the synthetic font has
# fixed metrics (glyph 10 px, space 6 px), so the pixel gap between
# consecutive decoded glyph starts determines the inter-word space count
# exactly: gap = 10 + 6k for k spaces; positions are frame-quantized
# (stride 4) so round((gap - 10) / 6) recovers k without ambiguity.
from calamari_spark.sources.font import GLYPH_W, SPACE_W  # noqa: E402


def _spaces_between(prev_start: int, cur_start: int) -> int:
    return max(0, int(round((cur_start - prev_start - GLYPH_W) / SPACE_W)))


def _recognize_one(png: bytes, n_folds: int,
                   with_positions: bool = True) -> Tuple[str, float, List[dict]]:
    """Full per-line recognize path: decode and correlate once, then
    _recognize_pooled. Returns (sentence, avg_conf, positions)."""
    _, recs = _get_recognizers(n_folds)
    img, pooled = _decoded(recs[0], png)
    return _recognize_pooled(img, pooled, n_folds, with_positions)


def _recognize_pooled(img, pooled, n_folds: int,
                      with_positions: bool = True) -> Tuple[str, float, List[dict]]:
    """Recognition of a decoded line from its shared pooled scores:
    per-fold softmax, CTC decode, vote, word segmentation and text
    postprocessing. Returns (sentence, avg_conf, positions).

    with_positions=False is the text-only fast path used by document
    reassembly: the nested per-character position/alternative tree is not
    built, and when every fold decodes the identical label sequence the
    confidence merge is skipped (the voted sentence provably equals the
    unanimous one; confidences are only approximated by fold 0's)."""
    from calamari_spark.model.template import STRIDE
    from calamari_spark.operators.ctc import greedy_decode, greedy_labels
    from calamari_spark.operators.vote import (
        make_out_to_in,
        map_global_positions,
        vote_prediction,
    )

    codec, recs = _get_recognizers(n_folds)

    # The template recognizer is translation-invariant (it slides over the
    # full vertical band), so it consumes the raw line directly and its
    # position map is the identity transform; the center-normalize + scale
    # preprocessing chain runs in the CNN path (x_extract_cnn), which
    # genuinely needs the dewarped fixed-height tensor and its inverse
    # transform meta (reference: default_image_processors.py:17-21).
    line_width = img.shape[1] if img.ndim == 2 else 0
    ident_meta = {"pad": 0, "m1": 1.0, "m2": 1.0, "line_width": line_width}
    # template recognizer emits in raw-image coordinates / STRIDE
    out_to_in = make_out_to_in(ident_meta, model_factor=float(STRIDE))

    # cheap unanimity probe first (r6): label equality == char equality
    # (code2char is injective), and on the unanimous fast path — the
    # common case: folds share the correlation and differ only in softmax
    # temperature/threshold — only fold 0 pays the full decode + position
    # map, exactly the prediction the r5 path returned for it.
    #
    # r6.2: unanimity is first PROVEN from the shared pooled scores so the
    # provable case (virtually every line) skips folds 1..K-1 entirely —
    # no softmax, no RLE. Per softmax_from_scores, a fold's frame label is
    # blank off-peak (blank 0.9 vs <= 0.1) and on-peak the temperature-
    # invariant argmax of the pooled row — unless 0.02 blank outweighs
    # 0.98 * p_top, which (p_top being monotone in beta) can only happen
    # at the SMALLEST beta, fold 0. So if (a) no frame's best correlation
    # falls in [min_threshold, max_threshold) — every fold sees the same
    # peak set — and (b) fold 0's argmax on each peak frame is a char,
    # not blank, then every fold's frame-label sequence (hence its RLE)
    # is provably identical. Lines failing the cheap test fall through to
    # the exact per-fold softmax + RLE comparison (which can still find
    # unanimity, e.g. a threshold-straddling frame that merges into an
    # adjacent run). Equivalence old-vs-new asserted per line in
    # tests/test_extraction.py::test_provable_unanimity_matches_full_probe.
    if with_positions:
        unanimous = False  # positions path always builds every fold's tree
        sms = [_fold_softmax(rec, img, pooled) for rec in recs]
    else:
        sms = [_fold_softmax(recs[0], img, pooled)]
        if pooled is None:
            unanimous = True  # every fold emits the identical blank matrix
        else:
            best = pooled[:, 1:].max(axis=1, initial=0.0)
            thresholds = [rec.peak_threshold for rec in recs]
            lo, hi = min(thresholds), max(thresholds)
            unanimous = not np.any((best >= lo) & (best < hi))
            if unanimous:
                peaks = best >= hi  # == every fold's peak mask here
                unanimous = bool(
                    np.all(np.argmax(sms[0][peaks], axis=1) != 0)
                )
        if not unanimous:
            sms += [_fold_softmax(rec, img, pooled) for rec in recs[1:]]
            fold_labels = [[c for c, _, _ in greedy_labels(sm)] for sm in sms]
            unanimous = all(l == fold_labels[0] for l in fold_labels[1:])

    if unanimous:
        # top-1-only decode: this path never reads alternatives (the
        # sentence builds from chars[0] + global_start spacing), and
        # top1_prediction's chars[0]/avg_char_probability are
        # value-identical to the full find_alternatives ranking
        from calamari_spark.operators.ctc import top1_prediction

        voted = top1_prediction(sms[0])
        map_global_positions(voted, out_to_in, sms[0].shape[0], codec.code2char)
    else:
        # text-only folds reach here only after the exact label probe
        # found them unequal
        folds, fold_chars = [], []
        for sm in sms:
            pred = greedy_decode(sm)
            map_global_positions(pred, out_to_in, sm.shape[0], codec.code2char)
            folds.append(pred)
            fold_chars.append([codec.code2char[l] for l in pred.labels])
        voted = vote_prediction(folds, fold_chars)

    # word segmentation + final text postproc (the post chain of §2.C)
    parts: List[str] = []
    prev_start = None
    positions = []
    for pos in voted.positions:
        if not pos.chars:
            continue
        if prev_start is not None:
            parts.append(" " * _spaces_between(prev_start, pos.global_start))
        parts.append(pos.chars[0].char)
        prev_start = pos.global_start
        if not with_positions:
            continue
        positions.append(
            {
                "char": pos.chars[0].char,
                "probability": float(pos.chars[0].probability),
                "global_start": int(pos.global_start),
                "global_end": int(pos.global_end),
                "global_start_ext": int(pos.global_start_ext),
                "global_end_ext": int(pos.global_end_ext),
                "alts": [
                    {"char": c.char, "probability": float(c.probability)}
                    for c in pos.chars[1:]
                ],
            }
        )
    sentence = regularize_str("".join(parts), rulesets=TEXT_RULESETS)
    return sentence, float(voted.avg_char_probability), positions


def recognize_media(media_with_spans: DataFrame, n_folds: int = N_FOLDS,
                    with_positions: bool = True,
                    on_error: str = "fail") -> DataFrame:
    """The line_stage OCR over (doc_id, offset, media_ref, png): one
    RECOGNIZE_SCHEMA row per input row, plus ``error`` when ``on_error`` is
    "quarantine" (see line_stage)."""

    def kernel(row):
        if row.png is None:
            # a left-joined dangling media_ref: silently dropping the span
            # would break the span-sequence contract, so strict mode fails
            # the job loudly
            raise ValueError(f"missing media blob {row.media_ref}")
        # a NULL offset with a good blob is itself a corrupt record; it is
        # checked after the blob so a missing blob reports the root cause
        int(row.offset)
        return _recognize_one(row.png, n_folds, with_positions)

    lines = media_with_spans.withColumn("n_folds", F.lit(n_folds))
    return line_stage(lines, lambda: kernel, RECOGNIZE_SCHEMA, on_error)


# ---------------------------------------------------------------------------
# span routing + salted reassembly
# ---------------------------------------------------------------------------

# the reassembled span struct type (and the empty-doc placeholder's type)
SPANS_TYPE = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"


def explode_spans(docs: DataFrame) -> DataFrame:
    """One row per span. explode_outer, not explode: a document whose spans
    array is empty or null must still reach the output (contract: output
    doc_id set == input doc_id set) — it surfaces here as a single row with
    kind NULL, which the kind-routed branches naturally skip and
    extract_documents re-emits with an empty spans array."""
    return docs.select(
        "doc_id", F.explode_outer("spans").alias("span")
    ).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def _payload_cols(kind, text, media_ref, offset) -> F.Column:
    """A span carries content if ANY field is non-null; a null element and
    an all-null struct are both contentless placeholders. The SINGLE
    definition behind _span_has_payload / _passthrough_spans /
    x_span_integrity — one edit point when the span struct grows a field
    (the DuckDB oracle in x_span_integrity_oracle mirrors it by hand)."""
    return (
        kind.isNotNull()
        | text.isNotNull()
        | media_ref.isNotNull()
        | offset.isNotNull()
    )


def _span_has_payload(s) -> F.Column:
    return _payload_cols(s["kind"], s["text"], s["media_ref"], s["offset"])


def _empty_span_docs(docs: DataFrame) -> DataFrame:
    """Docs whose spans array is null, empty, or holds ONLY contentless
    elements (null elements or all-null structs), re-emitted with an empty
    array (output doc_id set == input doc_id set). Judged from the INPUT:
    a null element alongside a real span must not duplicate the document,
    while a spans array of nothing but nulls (e.g. [null] or one all-null
    struct) would otherwise vanish — its explode_outer rows carry no
    routable fields and a bare size(spans)==0 test misses it."""
    return docs.filter(
        F.col("spans").isNull()
        | (
            F.size(
                F.filter("spans", lambda s: s.isNotNull() & _span_has_payload(s))
            )
            == 0
        )
    ).select("doc_id", F.array().cast(SPANS_TYPE).alias("spans"))


def _passthrough_spans(spans: DataFrame) -> DataFrame:
    """Spans that are neither text nor media but DO carry payload (unknown
    kind, or kind NULL with populated fields — classic corrupt-write
    shapes). Routing only the two known kinds would silently drop these
    from the reassembled sequence — the same silent-loss class as a
    dangling media_ref — so they pass through unmodified instead.
    Contentless placeholder rows (explode_outer's null/empty markers) are
    excluded; those docs are preserved by _empty_span_docs."""
    payload = _payload_cols(
        F.col("kind"), F.col("text"), F.col("media_ref"), F.col("offset")
    )
    return spans.filter(
        ((F.col("kind").isNull() & payload) | ~F.col("kind").isin("text", "media"))
    ).select("doc_id", "kind", "text", "media_ref", "offset")


def reassemble_spans(span_df: DataFrame, n_salt: int = 8) -> DataFrame:
    """Two-level salted ordered reassembly: level 1 aggregates
    (doc_id, salt) shards, level 2 merges the shards and sorts by offset.
    A 10^6-span document spreads over ``n_salt`` reducers at level 1
    (SURVEY.md §4 custom piece #2)."""
    part = F.collect_list(F.struct("offset", "kind", "text", "media_ref")).alias("part")
    level1 = (
        span_df.withColumn("salt", F.pmod(F.col("offset"), F.lit(n_salt)))
        .groupBy("doc_id", "salt")
        .agg(part)
    )
    merged = level1.groupBy("doc_id").agg(
        F.array_sort(F.flatten(F.collect_list("part"))).alias("ordered")
    )
    return merged.select(
        "doc_id",
        F.transform(
            "ordered",
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            ),
        ).alias("spans"),
    )


def extract_documents(
    docs: DataFrame, media: DataFrame, n_folds: int = N_FOLDS,
    on_error: str = "fail",
) -> DataFrame:
    """The full pipeline: explode -> route -> (strip | OCR) -> union ->
    salted ordered reassembly. Output schema == input schema with every
    span's text filled (media spans carry their recognized sentence).

    on_error="quarantine" (see line_stage) keeps a document whose
    media blob fails to decode/recognize: the failed span stays in the
    sequence with text NULL, and the job-level metrics count it."""
    spans = explode_spans(docs)

    text_spans = spans.filter(F.col("kind") == "text").select(
        "doc_id",
        "kind",
        regularize_column(F.col("text"), rulesets=TEXT_RULESETS).alias("text"),
        "media_ref",
        "offset",
    )

    media_spans = spans.filter(F.col("kind") == "media").select(
        "doc_id", "offset", "media_ref"
    )
    # LEFT join: a dangling media_ref (blob absent from the media store —
    # inevitable at 10^12 docs) must not silently vanish from the span
    # sequence, which an inner join would do. The NULL png row reaches the
    # recognize stage, which fails loudly (on_error="fail") or quarantines
    # the span with text NULL (on_error="quarantine").
    with_png = media_spans.join(
        media.select("media_ref", "png"), "media_ref", "left"
    )
    recognized = recognize_media(
        with_png, n_folds, with_positions=False, on_error=on_error
    ).select(
        "doc_id",
        F.lit("media").alias("kind"),
        F.col("sentence").alias("text"),
        "media_ref",
        "offset",
    )

    return reassemble_spans(
        text_spans.unionByName(recognized).unionByName(_passthrough_spans(spans))
    ).unionByName(_empty_span_docs(docs))


def flagship_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs, media = load_interleaved(spark, sf_dir)
    return extract_documents(docs, media)


# ---------------------------------------------------------------------------
# golden / equality checking (the north rule's span-sequence oracle)
# ---------------------------------------------------------------------------

def golden_documents(docs: DataFrame, media: DataFrame) -> DataFrame:
    """Expected output built WITHOUT the OCR path: media text comes from the
    media store's ground truth, text spans go through the same strip chain.
    extract == golden per document is the span-sequence-equality invariant."""
    spans = explode_spans(docs)
    text_spans = spans.filter(F.col("kind") == "text").select(
        "doc_id",
        "kind",
        regularize_column(F.col("text"), rulesets=TEXT_RULESETS).alias("text"),
        "media_ref",
        "offset",
    )
    media_spans = (
        spans.filter(F.col("kind") == "media")
        .join(media.select("media_ref", "gt"), "media_ref")
        .select(
            "doc_id", F.lit("media").alias("kind"), F.col("gt").alias("text"),
            "media_ref", "offset",
        )
    )
    return reassemble_spans(
        text_spans.unionByName(media_spans).unionByName(_passthrough_spans(spans))
    ).unionByName(_empty_span_docs(docs))


def _seq_col() -> F.Column:
    """Flatten the spans array into one deterministic per-doc string
    (kind/offset/text/media_ref joined) for hashing and oracle comparison."""
    return F.array_join(
        F.transform(
            "spans",
            lambda s: F.concat_ws(
                "#",
                s["kind"],
                s["offset"].cast("string"),
                F.coalesce(s["text"], F.lit("")),
                F.coalesce(s["media_ref"], F.lit("")),
            ),
        ),
        SEQ_SEP,
    )


def span_equality_report(extracted: DataFrame, golden: DataFrame) -> DataFrame:
    """One-row report: total docs, docs whose full span sequence is equal,
    mismatches (the reference's per-line golden-fixture equality,
    test_prediction.py:107-118, lifted to document granularity)."""
    e = extracted.select("doc_id", _seq_col().alias("seq_e"))
    g = golden.select("doc_id", _seq_col().alias("seq_g"))
    j = e.join(g, "doc_id", "full")
    return j.agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.sum((F.col("seq_e") == F.col("seq_g")).cast("int")).alias("equal_docs"),
        F.sum(
            (F.col("seq_e").isNull() | F.col("seq_g").isNull()
             | (F.col("seq_e") != F.col("seq_g"))).cast("int")
        ).alias("mismatch_docs"),
    )


# ---------------------------------------------------------------------------
# driver-contract queries + DuckDB oracles
# ---------------------------------------------------------------------------

def _fixture_glob(sf_dir: str, table: str) -> str:
    sf = sf_of(sf_dir)
    root = FIXTURE_ROOT if sf in COMMITTED_SFS else CACHE_ROOT
    return os.path.join(root, f"sf{sf}", f"{table}.parquet", "*.parquet")


# DuckDB rendition of the quotes+spaces regularizer chain (must match
# calamari_spark.functions.text rule order exactly)
_REG_QUOTES = (
    "replace(replace(replace(replace(replace(replace(replace(replace("
    "replace(replace(replace(replace(replace({col},"
    " '\"', ''''''), '`', ''''),"
    " '“', ''''''), '”', ''''''), '´', ''''),"
    " '‘', ''''), '’', ''''), '„', ',,'),"
    " '…', '...'), '′', ''''), '″', ''''''),"
    " '‴', ''''''''), '〃', '''''')"
)
_REG_SPACES = (
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace({col},"
    " '\\s+', ' ', 'g'), '\\n', '', 'g'), '^\\s+', ''), '\\s+$', '')"
)


def _reg_sql(col: str) -> str:
    return _REG_SPACES.format(col=_REG_QUOTES.format(col=col))


def x_extract_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship extraction flattened to (doc_id, seq) for value-hash
    comparison against the gt-reconstruction oracle."""
    out = flagship_extraction(spark, sf_dir)
    return out.select("doc_id", _seq_col().alias("seq")).orderBy("doc_id")


def x_extract_docs_quarantine(
    spark: SparkSession, sf_dir: str, corrupt_per_mille: int = 1
) -> DataFrame:
    """Fault-path bench variant of the flagship extraction: a deterministic
    ``corrupt_per_mille``/1000 fraction of media blobs is replaced with
    garbage bytes and the pipeline runs with on_error="quarantine" — the
    production setting for a 10^12-doc corpus, where corrupt blobs are a
    certainty. Timing this against the clean x_extract_docs quantifies the
    per-record error-capture overhead (BENCH "quarantine" section). Not a
    registry row: its output differs from the oracle by exactly the
    quarantined spans."""
    docs, media = load_interleaved(spark, sf_dir)
    media_bad = media.withColumn(
        "png",
        F.when(
            F.pmod(F.xxhash64("media_ref"), F.lit(1000)) < corrupt_per_mille,
            F.lit(bytearray(b"corrupt blob (bench injection)")),
        ).otherwise(F.col("png")),
    )
    out = extract_documents(docs, media_bad, on_error="quarantine")
    return out.select("doc_id", _seq_col().alias("seq")).orderBy("doc_id")


def x_extract_docs_oracle(sf_dir: str) -> str:
    docs = _fixture_glob(sf_dir, "documents_spans")
    media = _fixture_glob(sf_dir, "line_images")
    return f"""
WITH spans AS (
  SELECT doc_id, unnest(spans, recursive := true)
  FROM read_parquet('{docs}')
),
resolved AS (
  SELECT s.doc_id, s.kind, s."offset" AS off, s.media_ref,
         CASE WHEN s.kind = 'media' THEN li.gt ELSE {_reg_sql('s.text')} END AS text
  FROM spans s
  LEFT JOIN read_parquet('{media}') li ON s.media_ref = li.media_ref
)
SELECT doc_id,
       string_agg(kind || '#' || off || '#' || coalesce(text, '') || '#'
                  || coalesce(media_ref, ''), chr(31) ORDER BY off) AS seq
FROM resolved GROUP BY doc_id ORDER BY doc_id
"""


def _media_lines(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """The corpus's media spans inner-joined to the media store, as
    (media_ref, *cols); ``cols`` name span columns (doc_id, offset) or
    media-store columns (png, gt, width)."""
    docs, media = load_interleaved(spark, sf_dir)
    spans = explode_spans(docs).filter(F.col("kind") == "media")
    return spans.join(media, "media_ref").select("media_ref", *cols)


def _fold0_beam_sentence(codec, rec, img, pooled, beam_width: int = 5) -> str:
    """Prefix-beam decode of one line's fold-0 softmax — the single
    definition shared by the fused driver row (x_media_text) and its shadow
    twin (x_media_text_beam), so the two cannot drift."""
    from calamari_spark.operators.ctc import prefix_beam_decode

    labels = prefix_beam_decode(_fold_softmax(rec, img, pooled), blank=0, beam_width=beam_width)
    return "".join(codec.code2char[l] for l in labels)


def x_media_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OCR sentence per media line through the full ensemble+vote path,
    PLUS the CTC prefix-beam decode of the fold-0 softmax in the same fused
    UDF (x_media_text_beam merged here: the template correlation — the
    expensive half — is shared, so one stage attests both decoders; the
    standalone beam query remains in SHADOW_QUERIES). Oracle: the ground
    truth for the voted sentence, the space-less ground truth for the beam
    (the beam carries no per-frame positions, so no word segmentation)."""

    def setup():
        codec, recs = _get_recognizers(N_FOLDS)

        def kernel(row):
            img, pooled = _decoded(recs[0], row.png)
            sentence, _, _ = _recognize_pooled(img, pooled, N_FOLDS, with_positions=False)
            return sentence, _fold0_beam_sentence(codec, recs[0], img, pooled)

        return kernel

    schema = "media_ref string, sentence string, sentence_beam string"
    return line_stage(_media_lines(spark, sf_dir, "png"), setup, schema).orderBy("media_ref")


def x_media_text_oracle(sf_dir: str) -> str:
    media = _fixture_glob(sf_dir, "line_images")
    return (
        f"SELECT media_ref, gt AS sentence, replace(gt, ' ', '') AS sentence_beam"
        f" FROM read_parquet('{media}') ORDER BY media_ref"
    )


def x_span_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs, media = load_interleaved(spark, sf_dir)
    return span_equality_report(
        extract_documents(docs, media), golden_documents(docs, media)
    )


def x_span_equality_oracle(sf_dir: str) -> str:
    docs = _fixture_glob(sf_dir, "documents_spans")
    return (
        f"SELECT count(*) AS total_docs, count(*) AS equal_docs,"
        f" 0 AS mismatch_docs FROM read_parquet('{docs}')"
    )


def _recognized_with_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Internal: full nested prediction tree (positions + alternatives) —
    the extended-prediction sink shape (reference: scripts/predict.py:151-175)."""
    return recognize_media(_media_lines(spark, sf_dir, "doc_id", "offset", "png"))


def x_recognize_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested prediction output serialized for the driver: the positions
    tree is emitted as its extended-prediction JSON payload (a plain
    sortable string; the nested variant stays internal via
    _recognized_with_positions). Probabilities/extents are model internals
    but value-deterministic under the pinned seeded weights (same argument
    as x_extract_cnn's logits), so the oracle is a committed golden parquet;
    the GT-derivable slice is additionally SQL-oracled in x_position_chars."""
    rec = _recognized_with_positions(spark, sf_dir)
    return rec.select(
        "media_ref", "sentence", F.to_json("positions").alias("positions_json")
    ).orderBy("media_ref")


def x_position_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GT-derivable slice of the nested prediction tree: the per-glyph
    position chars concatenate to the space-less sentence and there is one
    position per glyph (reference semantics: predict/params.py:141-167 maps
    one PredictionPosition per decoded char)."""
    rec = _recognized_with_positions(spark, sf_dir)
    return rec.select(
        "media_ref",
        "sentence",
        F.concat_ws(
            "", F.transform("positions", lambda p: p["char"])
        ).alias("pos_chars"),
        F.size("positions").cast("long").alias("n_positions"),
    ).orderBy("media_ref")


def x_position_chars_oracle(sf_dir: str) -> str:
    media = _fixture_glob(sf_dir, "line_images")
    return f"""
SELECT media_ref, gt AS sentence,
       replace(gt, ' ', '') AS pos_chars,
       CAST(length(replace(gt, ' ', '')) AS BIGINT) AS n_positions
FROM read_parquet('{media}') ORDER BY media_ref
"""


def x_media_text_beam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recognize with CTC prefix beam search instead of greedy decode (the
    north star's prefix-beam option; reference wrapper:
    ctcwordbeamsearchdecoder.py:9-26). The beam carries no per-frame
    positions, so the sentence is the raw label decode (space-less); the
    oracle is the ground truth with spaces removed."""

    def setup():
        codec, (rec,) = _get_recognizers(1)
        return lambda row: (_fold0_beam_sentence(codec, rec, *_decoded(rec, row.png)),)

    schema = "media_ref string, sentence string"
    return line_stage(_media_lines(spark, sf_dir, "png"), setup, schema).orderBy("media_ref")


def x_media_text_beam_oracle(sf_dir: str) -> str:
    media = _fixture_glob(sf_dir, "line_images")
    return (
        f"SELECT media_ref, replace(gt, ' ', '') AS sentence"
        f" FROM read_parquet('{media}') ORDER BY media_ref"
    )


def _lm_charset(codec) -> Tuple[str, str]:
    """(charset, word_chars) of the word-beam decoders: labels 1..N with
    the blank excluded, and the same without the space."""
    charset = "".join(codec.charset[1:])
    return charset, "".join(c for c in charset if c != " ")


def x_media_text_wbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-beam search over the REAL template-ensemble softmax: the beam
    is constrained to the corpus dictionary (prefix tree), chaining words
    with allow_word_to_word since the synthetic font decodes no space
    label. use_ngrams stays off here — with LM scoring on, chained beams
    score zero (a reference-faithful quirk: the vendored algorithm zeroes
    prSum when the forced word_dev reset races next_words; verified
    fixture-equal) — so this query attests the dictionary-constrained
    decode on real optics while x_media_text_wordlm attests LM rescoring.
    Oracle: the space-less ground truth, exactly."""
    _, media = load_interleaved(spark, sf_dir)

    # dictionary = the corpus vocab.json MODEL CONSTANT (written once by
    # the corpus materialization, sources/synth.py write_vocab) — no
    # query-time corpus-wide collect
    lm_corpus = " ".join(sorted(load_vocab(sf_dir)))

    def setup():
        import hashlib as _hl

        from calamari_spark.operators.ctc import WordLM, word_beam_decode
        from calamari_spark.sources.pngio import decode_png

        codec, (rec,) = _get_recognizers(1)
        charset, word_chars = _lm_charset(codec)
        key = "wbslm:" + _hl.sha256(f"{charset}|{lm_corpus}".encode()).hexdigest()
        lm = _worker_cached(key, lambda: WordLM(lm_corpus, charset, word_chars))

        def kernel(row):
            sm = rec.forward_single(decode_png(bytes(row.png)))
            # roll blank-first -> blank-last (this decoder's convention)
            mat = np.concatenate([sm[:, 1:], sm[:, :1]], axis=1)
            return (word_beam_decode(
                mat, charset, lm, beam_width=10,
                use_ngrams=False, allow_word_to_word=True,
            ),)

        return kernel

    schema = "media_ref string, sentence string"
    return line_stage(media.select("media_ref", "png"), setup, schema).orderBy("media_ref")


def x_media_text_wbs_oracle(sf_dir: str) -> str:
    media = _fixture_glob(sf_dir, "line_images")
    return (
        f"SELECT media_ref, replace(gt, ' ', '') AS sentence"
        f" FROM read_parquet('{media}') ORDER BY media_ref"
    )


def tokenpass_dictionary(counts, dictionary_topk=None):
    """Decode dictionary for token passing, optionally bounded to the
    ``dictionary_topk`` most frequent vocabulary words (count desc, word
    asc tiebreak — deterministic). Token passing is O(words x states x
    frames) PER LINE; at a 100k-word dictionary the full DP is the slowest
    per-line operator in the engine by orders of magnitude, so the at-scale
    mode bounds the dictionary from the same vocab.json counts the word LM
    uses. ``None`` (or k >= |vocab|) keeps the exact full-vocabulary
    behavior of the reference (token_passing_ctc_decoder.py:182-192)."""
    if dictionary_topk is None or dictionary_topk >= len(counts):
        return sorted(counts)
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:dictionary_topk]
    return sorted(w for w, _ in top)


def x_media_text_tokenpass(
    spark: SparkSession, sf_dir: str, dictionary_topk: int = None
) -> DataFrame:
    """Graves token passing as a distributed stage (reference:
    token_passing_ctc_decoder.py:92-179): the FULL line is decoded from the
    REAL template softmax through the word-level DP over the corpus
    dictionary (vocab.json model constant, 37 words at sf0.01; token
    passing is O(words x states x frames), so dictionaries stay small by
    design — the reference ships it with the same caveat). The DP models
    no separator, so recovering the exact word sequence from real optics
    IS the attestation. Oracle: the full ground truth. ``dictionary_topk``
    selects the at-scale bounded-dictionary mode (tokenpass_dictionary);
    the default decodes the full vocabulary, fixture-exact."""
    _, media = load_interleaved(spark, sf_dir)
    vocab = tokenpass_dictionary(load_vocab(sf_dir), dictionary_topk)

    def setup():
        from calamari_spark.operators.ctc import token_passing_decode
        from calamari_spark.sources.pngio import decode_png

        codec, (rec,) = _get_recognizers(1)

        def kernel(row):
            sm = rec.forward_single(decode_png(bytes(row.png)))  # blank-first [T, classes]
            return (token_passing_decode(sm, codec.charset, vocab, blank=0),)

        return kernel

    schema = "media_ref string, sentence string"
    return line_stage(media.select("media_ref", "png"), setup, schema).orderBy("media_ref")


def x_media_text_tokenpass_oracle(sf_dir: str) -> str:
    media = _fixture_glob(sf_dir, "line_images")
    return (
        f"SELECT media_ref, gt AS sentence"
        f" FROM read_parquet('{media}') ORDER BY media_ref"
    )


def _wordlm_prefix_query(
    spark: SparkSession, sf_dir: str, n_words: int, out_col: str
) -> DataFrame:
    """Shared engine for the word-LM prefix decodes: slice each line's REAL
    template softmax at its ``n_words``-th inter-word gap (glyph-start gaps
    of >= 4 pooled frames = 16 px, the fixed font metric _spaces_between
    uses; intra-word gaps are 2-3) and run the slice through the
    LM-constrained word beam with use_ngrams scoring. The LM is built by
    WordLM.from_counts from the vocab.json + vocab_bigrams.json MODEL
    CONSTANTS (trained offline by the corpus materialization, shipped like
    the IVF centroids — no corpus string, no query-time collect)."""
    _, media = load_interleaved(spark, sf_dir)

    # (word -> count) model constants, fed straight to the count-aware LM
    # constructor: no repeated-word corpus string is ever materialized (at a
    # 10^7-word vocabulary that expansion is multi-GB per executor and its
    # per-word cap quantizes the unigram distribution)
    vocab_counts = dict(sorted(load_vocab(sf_dir).items()))
    bigram_counts = load_vocab_bigrams(sf_dir)

    def setup():
        import hashlib as _hl
        import json as _json

        from calamari_spark.operators.ctc import WordLM, word_beam_decode
        from calamari_spark.sources.pngio import decode_png

        codec, (rec,) = _get_recognizers(1)
        charset, word_chars = _lm_charset(codec)
        # key on the count-table CONTENT: same-size vocabularies from
        # different corpora must not reuse a stale cached LM
        digest = _hl.sha256(
            (
                f"{charset}|{_json.dumps(vocab_counts, sort_keys=True)}"
                f"|{sorted(bigram_counts.items())!r}"
            ).encode()
        ).hexdigest()
        lm = _worker_cached("wordlm:" + digest, lambda: WordLM.from_counts(
            vocab_counts, charset, word_chars, bigram_counts=bigram_counts
        ))

        def kernel(row):
            sm = rec.forward_single(decode_png(bytes(row.png)))  # blank-first [T, classes]
            peaks = np.flatnonzero(sm.argmax(axis=1) != 0)
            # word-slice boundaries at the inter-word gaps; spaces are
            # BLANK RUNS in the optics (no space label), so each word
            # decodes from its own slice with the word history threaded
            # through initial_words — word k >= 2 is then scored by
            # bigram(word_{k-1}, .) exactly as a full-line beam would
            bounds = [0]
            for a, c in zip(peaks, peaks[1:]):
                if c - a >= 4:  # inter-word gap
                    bounds.append(int(a) + 2)
                    if len(bounds) == n_words + 1:
                        break
            while len(bounds) < n_words + 1:
                bounds.append(sm.shape[0])
            words_out = []
            for k in range(n_words):
                lo, hi = bounds[k], bounds[k + 1]
                if hi <= lo:
                    break
                # roll blank-first -> blank-last (decoder convention)
                mat = np.concatenate([sm[lo:hi, 1:], sm[lo:hi, :1]], axis=1)
                w = word_beam_decode(
                    mat, charset, lm, beam_width=10, use_ngrams=True,
                    initial_words=tuple(words_out),
                )
                if w == "":
                    break
                words_out.append(w)
            return (" ".join(words_out),)

        return kernel

    schema = f"media_ref string, {out_col} string"
    return line_stage(media.select("media_ref", "png"), setup, schema).orderBy("media_ref")


def x_media_text_wordlm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-beam search WITH unigram-LM scoring as a distributed stage
    (reference: ctcwordbeamsearchdecoder.py:9-26 + thirdparty LM): each
    line's FIRST word from the real softmax. Oracle: the GT's first
    word."""
    return _wordlm_prefix_query(spark, sf_dir, 1, "first_word")


def x_media_text_wordlm_oracle(sf_dir: str) -> str:
    media = _fixture_glob(sf_dir, "line_images")
    return (
        f"SELECT media_ref, string_split(gt, ' ')[1] AS first_word"
        f" FROM read_parquet('{media}') ORDER BY media_ref"
    )


def x_media_text_wordlm_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BIGRAM path of the word LM exercised distributed: the first TWO
    words decode through the beam, so completing word 2 scores
    bigram(word1, word2) from the shipped vocab_bigrams.json counts
    (reference LM semantics: LanguageModel.py:40-64; our count-aware
    construction: operators/ctc.py WordLM.from_counts). Oracle: the GT's
    first two words."""
    return _wordlm_prefix_query(spark, sf_dir, 2, "first_two")


def x_media_text_wordlm_bigram_oracle(sf_dir: str) -> str:
    media = _fixture_glob(sf_dir, "line_images")
    return (
        f"SELECT media_ref,"
        f" array_to_string(string_split(gt, ' ')[1:2], ' ') AS first_two"
        f" FROM read_parquet('{media}') ORDER BY media_ref"
    )


def x_extract_cnn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CNN-BiLSTM ensemble plumbing on pinned seeded weights (reference
    weights are absent — .MISSING_LARGE_BLOBS — so the decoded text is not
    meaningful; this query proves the preprocess -> pad_batch -> K-fold
    forward -> mean-softmax -> decode path at Spark level). Oracled against
    its committed golden fixture (plans/golden.py): the output is a pure
    function of the pinned weights and each line's own pixels — forwards
    run per padded-length group so the BiLSTM's backward pass sees padding
    determined by the line's OWN length, never by batch composition —
    which makes the value-hash stable under any partitioning."""
    # width bucketing: sort by width within partitions so each Arrow batch
    # holds few distinct padded lengths — the reference's bucket_boundaries
    # length bucketing (data.py:88-92, test_prediction.py:209-213). The
    # kernel below forwards per padded-length GROUP (correctness requires
    # batch-composition independence), so the sort's win is GROUP SIZE: few
    # big GEMMs instead of many one-line ones (measured A/B: BASELINE.md
    # width-bucketing section, scripts/bucket_evidence.py)
    with_png = fan_out(_media_lines(spark, sf_dir, "png", "width"), "media_ref")
    return _extract_cnn_over(with_png.sortWithinPartitions("width")).orderBy("media_ref")


def _extract_cnn_over(with_png: DataFrame) -> DataFrame:
    """The CNN ensemble kernel over a prepared (media_ref, png, width)
    frame — split out so the bucketing A/B (scripts/bucket_evidence.py) can
    run the identical kernel minus the width sort. It stays outside
    line_stage because it forwards per padded-length group of a batch,
    not per line."""
    schema = "media_ref string, sentence string, out_len int, n_frames int"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from calamari_spark.codec import default_codec
        from calamari_spark.model.numpy_net import RecognitionNet, pad_batch
        from calamari_spark.operators.ctc import greedy_labels
        from calamari_spark.operators.imaging import preprocess_line
        from calamari_spark.sources.pngio import decode_png

        def build():
            codec = default_codec()
            return codec, [
                RecognitionNet.pinned(len(codec), fold=k, conv1=8, conv2=12, lstm=16)
                for k in range(2)
            ]

        codec, nets = _worker_cached("cnn:2", build)

        for b in batches:
            lines, refs = [], []
            for ref, png in zip(b["media_ref"], b["png"]):
                processed, _ = preprocess_line(decode_png(bytes(png)))
                lines.append(processed)
                refs.append(ref)
            if not lines:
                yield pd.DataFrame(columns=["media_ref", "sentence", "out_len", "n_frames"])
                continue
            # forward per padded-length group: lines whose own
            # ceil(len/4)*4 agree batch together (GEMM efficiency intact),
            # and the padded T equals what a batch-of-1 would use, so the
            # backward LSTM output is independent of batch composition
            groups: dict = {}
            for ref, line in zip(refs, lines):
                t_pad = -(-line.shape[0] // 4) * 4
                groups.setdefault(t_pad, []).append((ref, line))
            rows = []
            for t_pad in sorted(groups):
                items = groups[t_pad]
                batch, lengths = pad_batch([l for _, l in items])
                sm = np.mean([net.forward(batch) for net in nets], axis=0)
                for i, (ref, _) in enumerate(items):
                    out_len = RecognitionNet.out_len(int(lengths[i]))
                    labels = greedy_labels(sm[i, :out_len])
                    rows.append(
                        {
                            "media_ref": ref,
                            "sentence": "".join(codec.code2char[l] for l, _, _ in labels),
                            "out_len": out_len,
                            "n_frames": int(sm.shape[1]),
                        }
                    )
            yield pd.DataFrame(rows, columns=["media_ref", "sentence", "out_len", "n_frames"])

    return with_png.mapInPandas(run, schema=schema)


def x_extract_cnn_oracle(sf_dir: str) -> str:
    return _golden("x_extract_cnn")


def x_fold_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """predict-and-eval (reference: scripts/predict_and_eval.py:65-142):
    every fold's own sentence AND the voted sentence are scored against the
    ground truth; one row per fold plus 'voted'. Fold sentences come out of
    the same UDF pass that votes (EnsembleGraph's per-fold outputs,
    ensemblegraph.py:24-45), from the one decode and correlation per line.
    Voter internals are not SQL: rows-only."""

    def setup():
        from calamari_spark.operators.ctc import greedy_decode

        codec, recs = _get_recognizers(N_FOLDS)

        def kernel(row):
            img, pooled = _decoded(recs[0], row.png)
            sentence, _, _ = _recognize_pooled(img, pooled, N_FOLDS, with_positions=False)
            folds = [{"fold": "voted", "sentence": sentence, "gt": row.gt}]
            for k, rec in enumerate(recs):
                pred = greedy_decode(_fold_softmax(rec, img, pooled))
                folds.append({
                    "fold": f"fold_{k}",
                    "sentence": "".join(codec.code2char[l] for l in pred.labels),
                    "gt": row.gt.replace(" ", ""),
                })
            return (folds,)

        return kernel

    schema = "folds array<struct<fold:string, sentence:string, gt:string>>"
    per_line = line_stage(_media_lines(spark, sf_dir, "png", "gt"), setup, schema)
    return (
        per_line.select(F.inline("folds"))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.length("gt")).alias("total_chars"),
            F.sum(F.levenshtein("gt", "sentence")).alias("total_errs"),
            F.round(F.sum(F.levenshtein("gt", "sentence")) / F.sum(F.length("gt")), 6).alias("avg_ler"),
        )
        .orderBy("fold")
    )


def x_fold_eval_oracle(sf_dir: str) -> str:
    """GT-derivable because recognition is exact (CER == 0 is the quality
    gate): every fold decodes the space-less ground truth, the voted text
    equals the full ground truth, so all error totals are 0."""
    media = _fixture_glob(sf_dir, "line_images")
    folds = ", ".join([f"('fold_{k}')" for k in range(N_FOLDS)] + ["('voted')"])
    return f"""
SELECT f.fold,
       count(*) AS n_lines,
       CAST(sum(CASE WHEN f.fold = 'voted' THEN length(gt)
                     ELSE length(replace(gt, ' ', '')) END) AS BIGINT) AS total_chars,
       CAST(0 AS BIGINT) AS total_errs,
       CAST(0.0 AS DOUBLE) AS avg_ler
FROM read_parquet('{media}')
CROSS JOIN (VALUES {folds}) f(fold)
GROUP BY f.fold ORDER BY f.fold
"""


def x_extract_cer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CER of the recognize path vs media ground truth — the reference's
    quality gate (test_eval.py:56: avg_ler < 0.0009). With the template
    ensemble this must be exactly 0."""
    _, media = load_interleaved(spark, sf_dir)
    rec = recognize_media(
        _media_lines(spark, sf_dir, "doc_id", "offset", "png"), with_positions=False
    ).select("media_ref", "sentence")
    joined = rec.join(media.select("media_ref", "gt"), "media_ref")
    per_line = joined.select(
        F.length("gt").alias("chars"), F.levenshtein("gt", "sentence").alias("errs")
    )
    return per_line.agg(
        F.count(F.lit(1)).alias("total_instances"),
        F.sum("chars").alias("total_chars"),
        F.sum("errs").alias("total_char_errs"),
        F.round(F.sum("errs") / F.sum("chars"), 6).alias("avg_ler"),
    )


def x_extract_cer_oracle(sf_dir: str) -> str:
    media = _fixture_glob(sf_dir, "line_images")
    return f"""
SELECT count(*) AS total_instances,
       CAST(sum(length(gt)) AS BIGINT) AS total_chars,
       CAST(0 AS BIGINT) AS total_char_errs,
       CAST(0.0 AS DOUBLE) AS avg_ler
FROM read_parquet('{media}')
"""


def _sfq(fn, oracle_fn=None):
    if oracle_fn is None:
        return (fn, None)
    # oracles are per-SF because they embed the fixture path; the driver
    # runs them at sf0.01 — bind that path (queries still honor sf_dir)
    return (fn, oracle_fn("/root/testdata/sf0.01"))


def x_span_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight referential/shape validation over the interleaved corpus —
    the check a production run executes BEFORE burning cluster-hours on a
    10^12-doc extraction: dangling media_refs (blob absent from the media
    store), unknown span kinds, media spans with NULL refs, negative
    offsets. One wide conditional agg + one anti join (broadcast-able
    against the ref column); every count is 0 on a clean corpus."""
    docs, media = load_interleaved(spark, sf_dir)
    # keep every span that CARRIES anything — including kind-NULL structs
    # with populated fields (counted as bad_kind: extract_documents can only
    # pass such spans through, never process them); drop only contentless
    # placeholders (explode_outer's null/empty markers)
    spans = explode_spans(docs).filter(
        _payload_cols(F.col("kind"), F.col("text"), F.col("media_ref"), F.col("offset"))
    )
    shape = spans.agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(
            (F.col("kind").isNull() | ~F.col("kind").isin("text", "media")).cast("long")
        ).alias("bad_kind"),
        F.sum(
            ((F.col("kind") == "media") & F.col("media_ref").isNull()).cast("long")
        ).alias("media_null_ref"),
        F.sum((F.coalesce(F.col("offset"), F.lit(-1)) < 0).cast("long")).alias(
            "bad_offset"
        ),
    )
    dangling = (
        spans.filter((F.col("kind") == "media") & F.col("media_ref").isNotNull())
        .join(media.select("media_ref"), "media_ref", "left_anti")
        .agg(F.count(F.lit(1)).alias("dangling_refs"))
    )
    return shape.crossJoin(F.broadcast(dangling))


def x_span_integrity_oracle(sf_dir: str) -> str:
    docs = _fixture_glob(sf_dir, "documents_spans")
    media = _fixture_glob(sf_dir, "line_images")
    return f"""
WITH spans AS (
  SELECT s.kind AS kind, s.media_ref AS media_ref, s."offset" AS off
  FROM (SELECT unnest(spans) AS s FROM read_parquet('{docs}'))
  WHERE s.kind IS NOT NULL OR s.text IS NOT NULL
     OR s.media_ref IS NOT NULL OR s."offset" IS NOT NULL
),
shape AS (
  SELECT count(*) AS n_spans,
         CAST(sum(CASE WHEN kind IS NULL OR kind NOT IN ('text', 'media') THEN 1 ELSE 0 END) AS BIGINT) AS bad_kind,
         CAST(sum(CASE WHEN kind = 'media' AND media_ref IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS media_null_ref,
         CAST(sum(CASE WHEN coalesce(off, -1) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_offset
  FROM spans
),
dang AS (
  -- NOT EXISTS, not NOT IN: a single NULL media_ref row in the media
  -- store would make NOT IN never-true (three-valued logic) and report 0
  -- dangling refs on exactly the dirty corpora this query is for
  SELECT count(*) AS dangling_refs FROM spans sp
  WHERE sp.kind = 'media' AND sp.media_ref IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM read_parquet('{media}') m
                    WHERE m.media_ref = sp.media_ref)
)
SELECT n_spans, bad_kind, media_null_ref, bad_offset, dangling_refs
FROM shape, dang
"""


EXTRACTION_QUERIES = {
    "x_extract_docs": _sfq(x_extract_docs, x_extract_docs_oracle),
    "x_media_text": _sfq(x_media_text, x_media_text_oracle),
    "x_media_text_wbs": _sfq(x_media_text_wbs, x_media_text_wbs_oracle),
    "x_media_text_tokenpass": _sfq(x_media_text_tokenpass, x_media_text_tokenpass_oracle),
    "x_media_text_wordlm": _sfq(x_media_text_wordlm, x_media_text_wordlm_oracle),
    "x_span_equality": _sfq(x_span_equality, x_span_equality_oracle),
    "x_extract_cer": _sfq(x_extract_cer, x_extract_cer_oracle),
    "x_position_chars": _sfq(x_position_chars, x_position_chars_oracle),
    "x_extract_cnn": _sfq(x_extract_cnn, x_extract_cnn_oracle),
    "x_fold_eval": _sfq(x_fold_eval, x_fold_eval_oracle),
}

# merged/subsumed shapes, still pytest-verified: the beam decode rides in
# x_media_text now; x_recognize_positions is a strict superset serialization
# of x_position_chars' oracled slice (kept for the extended-prediction sink;
# its full positions tree is golden-fixture oracled — deterministic under
# the pinned seeded weights)
EXTRACTION_SHADOW_QUERIES = {
    "x_media_text_beam": _sfq(x_media_text_beam, x_media_text_beam_oracle),
    "x_recognize_positions": (x_recognize_positions, _golden("x_recognize_positions")),
    "x_span_integrity": _sfq(x_span_integrity, x_span_integrity_oracle),
    "x_media_text_wordlm_bigram": _sfq(
        x_media_text_wordlm_bigram, x_media_text_wordlm_bigram_oracle
    ),
}
