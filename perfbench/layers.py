"""Per-layer metrics of a traced run.

Two sources, both measured from outside the program:

* spans of the traced operations (``observe.Tracer``): self time per
  layer call, Spark stage metrics from the status store, and the share of
  wall time the named layers cover;
* probes run after the operation loop (``probe``): single-thread kernel
  timings over a sample of the workload's lines, and isolated Spark stages
  (OCR alone, reassembly alone, the job's extract-only path, its resume,
  and the dedup steps one by one).

A layer a workload does not run reports 0.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

from observe import median, self_times, stage_summary

KERNEL_SAMPLE = 96  # lines timed single-threaded per traced run

STAGE_LAYERS = ("python", "scan", "shuffle")  # observe.SparkStats.stage_layer

# layer spans whose self time is reported as self.<name>_s
SELF_LAYERS = (
    "extraction.extract_documents",
    "lineage.run_extraction_job",
    "dedup.minhash_pairs",
    "dedup.connected_components",
    "spark.collect",
    "spark.job",
    *(f"spark.stage.{k}" for k in STAGE_LAYERS),
    "trace.collect",
)
# spans whose self time is the driver's time outside any named layer: the
# benchmark's own op frame, and a collect's time outside any Spark job
# (query planning, adaptive re-planning between jobs, result transfer)
UNATTRIBUTED = ("bench.op", "spark.collect")

SPARK_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "task_s": "s",
    "cpu_s": "s", "gc_s": "s", "spill_mb": "MB", "slot_busy_frac": "frac",
    "tail_s": "s", "shuffle_write_mb": "MB", "shuffle_read_mb": "MB",
    "output_mb": "MB",
}

PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.first_get_spark_s": "s",
    "sources.scan_s": "s",
    "sources.decode_png_us": "us",
    "model.pooled_scores_us": "us",
    "model.softmax_us": "us",
    "operators.greedy_decode_us": "us",
    "operators.top1_us": "us",
    "operators.vote_us": "us",
    "operators.positions_us": "us",
    "operators.folds_agree_frac": "frac",
    "functions.regularize_us": "us",
    "extraction.recognize_line_us": "us",
    "extraction.recognize_line_positions_us": "us",
    "extraction.recognize_media_s": "s",
    "extraction.ocr_task_us_per_line": "us",
    "extraction.ocr_gap": "ratio",
    "extraction.recognize_positions_s": "s",
    "extraction.ocr_positions_task_us_per_line": "us",
    "extraction.ocr_positions_gap": "ratio",
    "extraction.build_s": "s",
    "extraction.reassemble_s": "s",
    **{f"spark.{k}": u for k, u in SPARK_UNITS.items()},
    "lineage.job_s": "s",
    "lineage.extract_only_s": "s",
    "lineage.commit_overhead_frac": "frac",
    "lineage.jobs_per_wave": "count",
    "lineage.resume_s": "s",
    "dedup.signatures_s": "s",
    "dedup.pairs_s": "s",
    "dedup.cc_s": "s",
    "dedup.cc_rounds": "count",
    "dedup.candidates": "count",
    "dedup.pairs": "count",
    "dedup.pair_yield": "frac",
    "trace.op_s": "s",
    "trace.unattributed_s": "s",
    "trace.coverage_frac": "frac",
    "trace.docs_per_s": "1/s",
    "trace.overhead_frac": "frac",
    **{f"self.{n}_s": "s" for n in SELF_LAYERS},
}


# ---------------------------------------------------------------------------
# probes
# ---------------------------------------------------------------------------

def kernel_probe(in_dir: str) -> dict:
    """Mean per-line microseconds of each kernel call, single thread in the
    driver, over an evenly spaced sample of the corpus' lines."""
    import pyarrow.parquet as pq

    from calamari_spark.codec import default_codec
    from calamari_spark.functions.text import regularize_str
    from calamari_spark.model.template import STRIDE, TemplateRecognizer
    from calamari_spark.operators.ctc import greedy_decode, top1_prediction
    from calamari_spark.operators.vote import (
        make_out_to_in,
        map_global_positions,
        vote_prediction,
    )
    from calamari_spark.plans.extraction import N_FOLDS, TEXT_RULESETS, _recognize_one
    from calamari_spark.sources.pngio import decode_png

    table = pq.read_table(os.path.join(in_dir, "line_images.parquet"),
                          columns=["png", "gt"]).to_pylist()
    step = max(1, len(table) // KERNEL_SAMPLE)
    sample = table[::step][:KERNEL_SAMPLE]
    codec = default_codec()
    recs = [TemplateRecognizer(codec.charset, fold=k) for k in range(N_FOLDS)]
    acc = dict.fromkeys(
        ("decode", "pooled", "softmax", "greedy", "top1", "positions", "vote",
         "regularize", "line", "line_pos"), 0
    )
    agree = 0
    clock = time.perf_counter_ns
    for row in sample:
        png = row["png"]
        t0 = clock(); img = decode_png(png)
        t1 = clock(); pooled = recs[0].pooled_scores(img)
        t2 = clock(); sms = [r.softmax_from_scores(pooled) for r in recs]
        t3 = clock(); preds = [greedy_decode(sm) for sm in sms]
        t4 = clock(); top1_prediction(sms[0])
        t5 = clock()
        out_to_in = make_out_to_in(
            {"pad": 0, "m1": 1.0, "m2": 1.0, "line_width": img.shape[1]},
            model_factor=float(STRIDE),
        )
        for pred, sm in zip(preds, sms):
            map_global_positions(pred, out_to_in, sm.shape[0], codec.code2char)
        t6 = clock()
        fold_chars = [[codec.code2char[l] for l in p.labels] for p in preds]
        vote_prediction(preds, fold_chars)
        t7 = clock(); regularize_str(row["gt"], rulesets=TEXT_RULESETS)
        t8 = clock(); _recognize_one(png, N_FOLDS, with_positions=False)
        t9 = clock(); _recognize_one(png, N_FOLDS, with_positions=True)
        t10 = clock()
        for k, a, b in (("decode", t0, t1), ("pooled", t1, t2), ("softmax", t2, t3),
                        ("greedy", t3, t4), ("top1", t4, t5), ("positions", t5, t6),
                        ("vote", t6, t7), ("regularize", t7, t8), ("line", t8, t9),
                        ("line_pos", t9, t10)):
            acc[k] += b - a
        agree += all(list(p.labels) == list(preds[0].labels) for p in preds[1:])
    us = {k: v / 1e3 / len(sample) for k, v in acc.items()}
    return {
        "sources.decode_png_us": us["decode"],
        "model.pooled_scores_us": us["pooled"],
        "model.softmax_us": us["softmax"],
        "operators.greedy_decode_us": us["greedy"],
        "operators.top1_us": us["top1"],
        "operators.positions_us": us["positions"],
        "operators.vote_us": us["vote"],
        "functions.regularize_us": us["regularize"],
        "extraction.recognize_line_us": us["line"],
        "extraction.recognize_line_positions_us": us["line_pos"],
        "operators.folds_agree_frac": agree / len(sample),
    }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(tr, name: str, fn, reps: int = 2):
    """Last of ``reps`` traced calls: (seconds, its span, result)."""
    for _ in range(reps):
        result = tr.call(name, fn)
    span = next(s for s in reversed(tr.spans) if s.name == name)
    return span.end - span.start, span, result


def extraction_probe(spark, frames, expected, in_dir, tr, mismatches) -> dict:
    """recognize_media alone over a cached pre-joined input (text-only, to a
    noop sink; and with positions, collected and checked), and
    reassemble_spans alone over cached spans."""
    from calamari_spark.functions.text import regularize_column
    from calamari_spark.plans.extraction import (
        TEXT_RULESETS,
        explode_spans,
        reassemble_spans,
        recognize_media,
    )
    from workloads import positions_mismatches, read_input

    media = read_input(spark, in_dir, "line_images.parquet")
    spans = explode_spans(frames["documents_spans"])
    lines = spans.filter(F.col("kind") == "media").select(
        "doc_id", "offset", "media_ref"
    ).join(media.select("media_ref", "png", "gt"), "media_ref").persist()
    n_lines = max(lines.count(), 1)
    pngs = lines.drop("gt")

    def ocr_task_us(span):
        task_s = sum(st["task_s"] for st in tr.stages_under(span) if st["layer"] == "python")
        return task_s / n_lines * 1e6

    rec_s, rec_span, _ = _timed(tr, "probe.recognize_media", lambda: _noop(
        recognize_media(pngs, with_positions=False)))
    pos_s, pos_span, rows = _timed(tr, "probe.recognize_positions", lambda: recognize_media(
        pngs, with_positions=True).select(
            "media_ref",
            "sentence",
            F.concat_ws("", F.transform("positions", lambda p: p["char"])).alias("pos_chars"),
            F.size("positions").alias("n_positions"),
        ).collect())
    mismatches.extend(f"positions probe: {m}" for m in positions_mismatches(rows, expected))

    cached = spans.filter(F.col("kind") == "text").select(
        "doc_id", "kind",
        regularize_column(F.col("text"), rulesets=TEXT_RULESETS).alias("text"),
        "media_ref", "offset",
    ).unionByName(
        lines.select("doc_id", F.lit("media").alias("kind"), F.col("gt").alias("text"),
                     "media_ref", "offset")
    ).persist()
    cached.count()
    reas_s, _, _ = _timed(tr, "probe.reassemble_spans", lambda: _noop(reassemble_spans(cached)))
    cached.unpersist()
    lines.unpersist()
    return {
        "extraction.recognize_media_s": rec_s,
        "extraction.ocr_task_us_per_line": ocr_task_us(rec_span),
        "extraction.recognize_positions_s": pos_s,
        "extraction.ocr_positions_task_us_per_line": ocr_task_us(pos_span),
        "extraction.reassemble_s": reas_s,
    }


def lineage_probe(spark, frames, expected, in_dir, tr, work, mismatches) -> dict:
    """The job_dirty operation (run_extraction_job with quarantine over the
    dirty media table, output checked), the same docs through
    extract_documents to a noop sink, and the resume of a two-wave job
    killed after its first wave."""
    from calamari_spark.plans.extraction import extract_documents
    from calamari_spark.plans.lineage import run_extraction_job
    from workloads import JOB_BUCKETS, JOB_BUCKETS_PER_WAVE, WORKLOADS, read_input

    job = WORKLOADS["job_dirty"]
    frames = {"documents_spans": frames["documents_spans"],
              "line_images_dirty": read_input(spark, in_dir, "line_images_dirty.parquet")}
    docs, media = frames["documents_spans"], frames["line_images_dirty"]

    def job_op():
        out = job.op(spark, frames, tr, work)
        mismatches.extend(f"job probe: {m}" for m in job.check(spark, out, expected))

    _timed(tr, "probe.job", job_op)
    job_span = next(s for s in reversed(tr.spans) if s.name == "lineage.run_extraction_job")
    job_s = job_span.end - job_span.start
    n_jobs = sum(s.name == "spark.job" and s.parent == job_span.span_id for s in tr.spans)

    only_s, _, _ = _timed(tr, "probe.extract_only", lambda: _noop(
        extract_documents(docs, media, on_error="quarantine")))
    out_dir = os.path.join(work, "resume_out")
    shutil.rmtree(out_dir, ignore_errors=True)
    kw = dict(n_buckets=JOB_BUCKETS, buckets_per_wave=JOB_BUCKETS // 2,
              on_error="quarantine")
    run_extraction_job(spark, docs, media, out_dir, fail_after_waves=1, **kw)
    resume_s, _, _ = _timed(tr, "probe.resume", lambda: run_extraction_job(
        spark, docs, media, out_dir, **kw), reps=1)
    shutil.rmtree(out_dir, ignore_errors=True)
    return {
        "lineage.job_s": job_s,
        "lineage.jobs_per_wave": n_jobs / (JOB_BUCKETS / JOB_BUCKETS_PER_WAVE),
        "lineage.extract_only_s": only_s,
        "lineage.commit_overhead_frac": 1 - only_s / job_s,
        "lineage.resume_s": resume_s,
    }


def dedup_probe(spark, frames, tr) -> dict:
    """Signatures, pairs and connected components timed one at a time."""
    from calamari_spark.plans.dedup import (
        banded_candidates,
        band_keys,
        connected_components,
        minhash_pairs,
        minhash_signatures,
    )

    docs = frames["documents"]
    sig_s, _, sig = _timed(tr, "probe.minhash_signatures", lambda: minhash_signatures(docs))
    n_cand = banded_candidates(band_keys(sig), "doc_id", "doc_a", "doc_b").count()
    pairs = minhash_pairs(docs).select("doc_a", "doc_b").persist()
    pairs_s, _, n_pairs = _timed(tr, "probe.minhash_pairs", pairs.count, reps=1)
    stats: dict = {}
    cc_s, _, _ = _timed(tr, "probe.connected_components", lambda: connected_components(
        pairs, stats=stats).count())
    pairs.unpersist()
    return {
        "dedup.signatures_s": sig_s,
        "dedup.pairs_s": pairs_s,
        "dedup.cc_s": cc_s,
        "dedup.cc_rounds": stats.get("rounds", 0),
        "dedup.candidates": n_cand,
        "dedup.pairs": n_pairs,
        "dedup.pair_yield": n_pairs / n_cand if n_cand else 0.0,
    }


def probe(wl, spark, frames, expected, in_dir, tr, work, mismatches) -> dict:
    """Probe metrics of the workload's layers; wrong probe outputs are
    appended to ``mismatches``."""
    with tr.span("bench.probes"):
        if wl.corpus == "curate":
            return dedup_probe(spark, frames, tr)
        out = kernel_probe(in_dir)
        out.update(extraction_probe(spark, frames, expected, in_dir, tr, mismatches))
        # OCR task time per line over the isolated per-line path it runs
        out["extraction.ocr_gap"] = (
            out["extraction.ocr_task_us_per_line"] / out["extraction.recognize_line_us"])
        out["extraction.ocr_positions_gap"] = (
            out["extraction.ocr_positions_task_us_per_line"]
            / out["extraction.recognize_line_positions_us"])
        out.update(lineage_probe(spark, frames, expected, in_dir, tr, work, mismatches))
        return out


# ---------------------------------------------------------------------------
# span arithmetic -> metrics
# ---------------------------------------------------------------------------

def per_layer(spans, probes: dict, cores: int, n_docs: int,
              untraced_s: float, traced_s: float) -> dict:
    """Every PER_LAYER_UNITS metric: (value, unit)."""
    st = self_times(spans)
    roots = [s for s in spans if s.name == "bench.op"]
    ops = {s.trace_id for s in roots}
    in_ops = [s for s in spans if s.trace_id in ops]
    n = max(len(roots), 1)
    m = dict.fromkeys(PER_LAYER_UNITS, 0.0)

    def durations(name, pool=spans):
        return [s.end - s.start for s in pool if s.name == name]

    gets = durations("session.get_spark")
    m["session.get_spark_s"] = median(gets)
    m["session.first_get_spark_s"] = gets[0] if gets else 0.0
    m["sources.scan_s"] = median(durations("sources.scan"))

    # the tracer's own stage fetches are not op time
    wall = sum(s.end - s.start for s in roots) - sum(durations("trace.collect", in_ops))
    unattributed = sum(st[s.span_id] for s in in_ops if s.name in UNATTRIBUTED)
    m["trace.op_s"] = wall / n
    m["trace.unattributed_s"] = unattributed / n
    m["trace.coverage_frac"] = 1 - unattributed / wall if wall else 0.0
    m["trace.docs_per_s"] = n_docs / traced_s if traced_s else 0.0
    m["trace.overhead_frac"] = traced_s / untraced_s - 1 if untraced_s else 0.0
    for name in SELF_LAYERS:
        m[f"self.{name}_s"] = sum(st[s.span_id] for s in in_ops if s.name == name) / n

    stages = [s.attrs for s in in_ops if s.name.startswith("spark.stage.")]
    for k, v in stage_summary(stages, cores).items():
        m[f"spark.{k}"] = v if k == "slot_busy_frac" else v / n

    build = durations("extraction.extract_documents", in_ops)
    if build:
        m["extraction.build_s"] = median(build)
    m.update(probes)
    return {k: (float(v), PER_LAYER_UNITS[k]) for k, v in m.items()}
