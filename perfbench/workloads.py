"""The workloads: the timed operation, its input registration and the
correctness check of its output against the expected result from
``inputs``. An operation calls the program only through public functions,
each call wrapped in a tracer span (free when tracing is off)."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

JOB_BUCKETS = 8  # run_extraction_job doc_id buckets ...
JOB_BUCKETS_PER_WAVE = 8  # ... committed in one wave

ERROR_REASON = {"corrupt": "not a PNG", "dangling": "missing media blob"}


def read_input(spark, in_dir: str, name: str):
    from calamari_spark.sources.tables import read_parquet_cached_schema

    return read_parquet_cached_schema(spark, os.path.join(in_dir, name))


def _spans_of(row_spans) -> list:
    return [[s["kind"], s["text"], s["media_ref"], s["offset"]] for s in row_spans]


def _diff_docs(rows, expected_docs: dict, limit: int = 5) -> list:
    got = {r["doc_id"]: _spans_of(r["spans"]) for r in rows}
    bad = []
    if len(rows) != len(got):
        bad.append(f"{len(rows) - len(got)} duplicate doc rows")
    for doc_id in sorted(set(got) | set(expected_docs)):
        if got.get(doc_id) != expected_docs.get(doc_id):
            bad.append(f"doc {doc_id}: span sequence differs")
    return bad[:limit] + ([f"... {len(bad) - limit} more"] if len(bad) > limit else [])


class Workload:
    name = ""
    corpus = ""  # inputs.MAKERS key
    tables: tuple = ()  # parquet files registered during setup
    # untimed (but checked) operations between the cold and the warm ones:
    # after the cold call the JVM's JIT is still compiling hot paths and
    # the Python workers' task time is still falling, so on extract op time
    # falls by a quarter over the next five calls; a count, not a time,
    # gives every run the same warm-up on a fast or a slow host
    warmup_ops = 5

    def register(self, spark, in_dir: str) -> dict:
        """Input registration + schema read (part of set-up)."""
        return {t: read_input(spark, in_dir, f"{t}.parquet") for t in self.tables}

    def docs(self, expected: dict) -> int:
        return len(expected["docs"])

    def lines(self, expected: dict) -> int:
        return expected["n_media_spans"]


class Extract(Workload):
    name = "extract"
    corpus = "interleaved"
    tables = ("documents_spans", "line_images")

    def op(self, spark, frames, tr, work):
        from calamari_spark.plans.extraction import extract_documents

        out = tr.call("extraction.extract_documents", extract_documents,
                      frames["documents_spans"], frames["line_images"])
        return tr.call("spark.collect", out.collect)

    def check(self, spark, out, expected) -> list:
        return _diff_docs(out, expected["docs"])


def positions_mismatches(rows, expected: dict) -> list:
    """x_position_chars oracle semantics for recognize_media(...,
    with_positions=True) rows (media_ref, sentence, pos_chars,
    n_positions): the sentence is the ground truth, the position chars
    concatenate to it without spaces, one position per glyph."""
    lines = expected["lines"]
    bad = [] if len(rows) == expected["n_media_spans"] else [
        f"{len(rows)} rows for {expected['n_media_spans']} media spans"
    ]
    for r in rows:
        gt = lines.get(r["media_ref"])
        glyphs = gt.replace(" ", "") if gt is not None else None
        if (r["sentence"], r["pos_chars"], r["n_positions"]) != (gt, glyphs, len(glyphs or "")):
            bad.append(f"line {r['media_ref']}: {r['sentence']!r} != {gt!r}")
    return bad[:5]


class JobDirty(Workload):
    name = "job_dirty"
    corpus = "interleaved"
    tables = ("documents_spans", "line_images_dirty")

    def op(self, spark, frames, tr, work):
        from calamari_spark.plans.lineage import run_extraction_job

        out_dir = os.path.join(work, "job_out")
        shutil.rmtree(out_dir, ignore_errors=True)
        summary = tr.call(
            "lineage.run_extraction_job", run_extraction_job, spark,
            frames["documents_spans"], frames["line_images_dirty"], out_dir,
            n_buckets=JOB_BUCKETS, buckets_per_wave=JOB_BUCKETS_PER_WAVE,
            on_error="quarantine",
        )
        return out_dir, summary

    def check(self, spark, out, expected) -> list:
        """Read back with DuckDB: non-failed spans equal the clean
        expectation; failed spans, the n_failed sum and the quarantine rows
        (committed buckets only) are exactly the injected ones; every bucket
        is committed once in the lineage table."""
        import duckdb

        out_dir, summary = out
        failed = {q[1] for q in expected["quarantine"]}
        want = {
            doc_id: [[k, None if ref in failed else t, ref, off] for k, t, ref, off in seq]
            for doc_id, seq in expected["docs"].items()
        }
        tbl = {t: f"read_parquet('{os.path.join(out_dir, t)}/**/*.parquet')"
               for t in ("extracted", "metrics", "quarantine", "lineage")}
        con = duckdb.connect()
        try:
            con.execute("SET enable_progress_bar = false")
            docs = con.execute(f"SELECT doc_id, spans FROM {tbl['extracted']}").fetchall()
            committed = f"SEMI JOIN {tbl['lineage']} l USING (bucket, run_id)"
            n_failed = con.execute(
                f"SELECT sum(n_failed) FROM {tbl['metrics']} {committed}").fetchone()[0]
            got_q = sorted(list(r) for r in con.execute(
                f'SELECT doc_id, media_ref, "offset", error FROM {tbl["quarantine"]} {committed}'
            ).fetchall())
            lineage = con.execute(f"SELECT bucket, run_id FROM {tbl['lineage']}").fetchall()
        finally:
            con.close()
        shutil.rmtree(out_dir, ignore_errors=True)

        bad = _diff_docs([{"doc_id": d, "spans": s} for d, s in docs], want)
        if summary["status"] != "complete":
            bad.append(f"job status {summary['status']}")
        want_q = expected["quarantine"]
        if n_failed != len(want_q):
            bad.append(f"n_failed {n_failed} != {len(want_q)} injected")
        if len(got_q) != len(want_q) or any(
            g[:3] != w[:3] or ERROR_REASON[w[3]] not in g[3] for g, w in zip(got_q, want_q)
        ):
            bad.append(f"quarantine rows differ: {len(got_q)} rows for {len(want_q)} injected")
        if sorted(b for b, _ in lineage) != list(range(JOB_BUCKETS)) or {
            r for _, r in lineage
        } != {summary["run_id"]}:
            bad.append("lineage buckets differ from one commit per bucket")
        return bad


class Curate(Workload):
    name = "curate"
    corpus = "curate"
    tables = ("documents",)
    warmup_ops = 3  # no Python workers: op time stops falling after two calls

    def docs(self, expected: dict) -> int:
        return expected["n_docs"]

    def lines(self, expected: dict) -> int:
        # no media here: each document's text is one line
        return expected["n_docs"]

    def op(self, spark, frames, tr, work):
        from calamari_spark.plans.dedup import connected_components, minhash_pairs

        pairs = tr.call("dedup.minhash_pairs", minhash_pairs, frames["documents"])
        stats: dict = {}
        labels = tr.call("dedup.connected_components", connected_components,
                         pairs.select("doc_a", "doc_b"), stats=stats)
        return tr.call("spark.collect", labels.collect)

    def check(self, spark, out, expected) -> list:
        got = {str(r["doc_id"]): int(r["keeper"]) for r in out}
        want = expected["clusters"]
        if len(out) != len(got):
            return [f"{len(out) - len(got)} duplicate cluster rows"]
        diff = [d for d in set(got) | set(want) if got.get(d) != want.get(d)]
        return [f"{len(diff)} docs with a wrong keeper, e.g. {sorted(diff)[:3]}"] if diff else []


WORKLOADS = {w.name: w for w in (Extract(), JobDirty(), Curate())}
