"""Per-partition checkpoint / lineage / metrics for the extraction job.

The north rule requires a killed run to resume at partition granularity
with per-partition lineage and throughput metrics emitted to tables
(SURVEY.md §4 custom pieces #3 and #4; the reference's closest analog is
trainer stage/epoch resume, reference: calamari_ocr/ocr/training/params.py:47,
trainer.py:199-205 — partition-granular resume is what Spark adds).

Design (all shuffle-aware):
* work unit = doc_id bucket: ``bucket = pmod(xxhash64(doc_id), n_buckets)``
  — deterministic, uniform, independent of input split layout;
* output written ``partitionBy(bucket)`` with dynamic partition overwrite,
  so re-processing a bucket atomically replaces exactly its directory;
* lineage table (parquet, append-only) records one row per completed
  bucket per run; resume anti-joins pending = all buckets minus lineage;
* metrics table records per-bucket docs/spans/media counts and wall time —
  the skew evidence (a salted reassembly keeps the wall-time spread small
  even though span counts are skewed);
* a bucket is "committed" only after its output write succeeds: a kill
  between write and lineage append just re-does that bucket (idempotent
  thanks to dynamic overwrite).

Iceberg mapping (a cluster with the Iceberg runtime): the three parquet
path sinks become catalog tables — `extracted` via
``df.writeTo(tbl).overwritePartitions()`` (the transactional analog of
dynamic partition overwrite; same bucket-replacement semantics),
`lineage`/`metrics` via ``writeTo(tbl).append()``; ``completed_buckets``
reads ``spark.table``. The wave/commit protocol is unchanged — Iceberg
just makes each bucket replacement a snapshot commit.
"""

from __future__ import annotations

import os
import time
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_N_BUCKETS = 16


def with_bucket(docs: DataFrame, n_buckets: int = DEFAULT_N_BUCKETS) -> DataFrame:
    return docs.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )


def completed_buckets(spark: SparkSession, lineage_dir: str) -> List[int]:
    if not os.path.exists(lineage_dir):
        return []
    try:
        rows = spark.read.parquet(lineage_dir).select("bucket").distinct().collect()
    except Exception:
        return []
    return sorted(r["bucket"] for r in rows)


def run_extraction_job(
    spark: SparkSession,
    docs: DataFrame,
    media: DataFrame,
    out_dir: str,
    n_buckets: int = DEFAULT_N_BUCKETS,
    buckets_per_wave: int = 4,
    fail_after_waves: Optional[int] = None,
    on_error: str = "fail",
    sink: str = "overwrite",
) -> Dict:
    """Resumable extraction: processes pending doc_id buckets in waves,
    committing output + lineage + metrics after each wave. Returns a
    summary dict. ``fail_after_waves`` simulates a mid-run kill (tests).
    ``on_error="quarantine"`` (see extraction.line_stage) survives corrupt media
    blobs: the failed span lands with text NULL and the metrics table
    counts it per bucket (``n_failed``).

    Wave sizing: each wave is one Spark job over ``buckets_per_wave``
    buckets — large enough to keep every core busy, small enough that a
    kill loses at most one wave of work. At 10^12 docs a bucket maps to an
    Iceberg partition and the same loop runs over partition ids.

    ``sink``: ``overwrite`` (default) replaces a re-processed bucket's
    directory in place via dynamic partition overwrite; ``snapshot``
    (plans/snaptable.py) writes append-only data files and commits a
    manifest per wave — concurrent readers keep a consistent pinned view
    and old snapshots remain time-travelable until expired, at the cost
    of deferred garbage collection (the Iceberg trade).
    """
    from calamari_spark.plans.extraction import extract_documents

    if sink not in ("overwrite", "snapshot"):
        raise ValueError(f"sink must be 'overwrite' or 'snapshot', got {sink!r}")
    output_dir = os.path.join(out_dir, "extracted")
    snap_dir = os.path.join(out_dir, "extracted_snap")
    lineage_dir = os.path.join(out_dir, "lineage")
    metrics_dir = os.path.join(out_dir, "metrics")
    quarantine_dir = os.path.join(out_dir, "quarantine")

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    done = set(completed_buckets(spark, lineage_dir))
    pending = [b for b in range(n_buckets) if b not in done]
    bdocs = with_bucket(docs, n_buckets)

    run_id = f"run_{int(time.time() * 1000):x}"
    waves = [
        pending[i : i + buckets_per_wave]
        for i in range(0, len(pending), buckets_per_wave)
    ]
    n_done_waves = 0
    for wave in waves:
        if fail_after_waves is not None and n_done_waves >= fail_after_waves:
            return {
                "run_id": run_id,
                "status": "killed",
                "completed_buckets": sorted(done),
                "pending_buckets": [b for b in pending if b not in done],
            }
        t0 = time.perf_counter()
        wave_docs = bdocs.filter(F.col("bucket").isin([int(b) for b in wave]))
        extracted = extract_documents(wave_docs.drop("bucket"), media, on_error=on_error)
        out = with_bucket(extracted, n_buckets)
        if sink == "snapshot":
            from calamari_spark.plans.snaptable import snap_commit, snap_write_wave

            new_paths = snap_write_wave(spark, snap_dir, out, wave, run_id)
            snap_commit(spark, snap_dir, new_paths, run_id)
        else:
            out.write.mode("overwrite").partitionBy("bucket").parquet(output_dir)
        wall = time.perf_counter() - t0

        # per-bucket metrics from the just-written output (scan is cheap:
        # partition-pruned to the wave's directories): sizes, throughput,
        # and — when the media store carries ground truth — per-bucket CER
        # (the north rule's per-partition throughput + CER metrics table)
        if sink == "snapshot":
            from calamari_spark.plans.snaptable import snap_read

            written = snap_read(spark, snap_dir).filter(
                F.col("bucket").isin([int(b) for b in wave])
            )
        else:
            written = spark.read.parquet(output_dir).filter(
                F.col("bucket").isin([int(b) for b in wave])
            )
        stats = written.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("spans")).alias("n_spans"),
            F.sum(
                F.size(F.filter("spans", lambda s: s["kind"] == F.lit("media")))
            ).alias("n_media"),
            # quarantined records (on_error="quarantine"): a media span whose
            # recognition failed carries text NULL; always 0 under "fail"
            F.sum(
                F.size(F.filter(
                    "spans",
                    lambda s: (s["kind"] == F.lit("media")) & s["text"].isNull(),
                ))
            ).alias("n_failed"),
        )
        if "gt" in media.columns:
            # quarantined (NULL-text) spans are excluded: they are counted
            # by n_failed, not silently folded into the CER denominator
            media_out = written.select(
                "bucket", F.explode("spans").alias("s")
            ).filter(
                (F.col("s.kind") == "media") & F.col("s.text").isNotNull()
            ).select(
                "bucket",
                F.col("s.media_ref").alias("media_ref"),
                F.col("s.text").alias("sentence"),
            )
            cer = (
                media_out.join(media.select("media_ref", "gt"), "media_ref")
                .groupBy("bucket")
                .agg(
                    F.round(
                        F.sum(F.levenshtein("gt", "sentence")) / F.sum(F.length("gt")), 6
                    ).alias("cer")
                )
            )
            stats = stats.join(cer, "bucket", "left")
        else:
            stats = stats.withColumn("cer", F.lit(None).cast("double"))
        stats = (
            stats.withColumn("run_id", F.lit(run_id))
            .withColumn("wave_wall_s", F.lit(round(wall, 3)))
            .withColumn(
                "lines_per_sec", F.round(F.col("n_media") / F.lit(max(wall, 1e-9)), 2)
            )
        )
        # quarantine table: the error REASONS. The extracted output only
        # shows WHICH spans failed (text NULL); re-running the quarantine
        # recognize over just those spans reproduces the deterministic
        # error messages at O(n_failed) cost, not O(corpus)
        if on_error == "quarantine":
            failed = written.select(
                "bucket", "doc_id", F.explode("spans").alias("s")
            ).filter(
                (F.col("s.kind") == "media") & F.col("s.text").isNull()
            ).select(
                "bucket", "doc_id",
                F.col("s.media_ref").alias("media_ref"),
                F.col("s.offset").alias("offset"),
            )
            if failed.limit(1).count() > 0:
                from calamari_spark.plans.extraction import recognize_media

                with_png = failed.join(
                    media.select("media_ref", "png"), "media_ref", "left"
                )
                rerun = recognize_media(
                    with_png.select("doc_id", "offset", "media_ref", "png"),
                    with_positions=False, on_error="quarantine",
                ).select("doc_id", "media_ref", "offset", "error")
                # every n_failed span gets a quarantine row even when the
                # re-run does not reproduce the failure (a transient error
                # caught by the blanket except) — the table and the metric
                # must never disagree. Join carries offset: a document that
                # references the same media_ref at two offsets and fails at
                # both would otherwise fan out 2x2 here while n_failed
                # counts 2 (a null re-run offset simply falls through to the
                # transient label — still exactly one row per failed span).
                (
                    failed.join(rerun, ["doc_id", "media_ref", "offset"], "left")
                    .withColumn(
                        "error",
                        F.coalesce(
                            F.col("error"),
                            F.lit("unreproduced transient failure"),
                        ),
                    )
                    .select("bucket", "doc_id", "media_ref", "offset", "error")
                    .withColumn("run_id", F.lit(run_id))
                    .write.mode("append").parquet(quarantine_dir)
                )

        # lineage commits FIRST: a kill between the two writes loses this
        # wave's metrics rows but never leaves a stale metrics row claiming
        # output that a later run overwrote; read_metrics additionally
        # filters to (bucket, run_id) pairs present in lineage, so a stale
        # row from a kill-between-metrics-and-lineage in the OLD order (or
        # hand-edited tables) can't double-count either
        lineage = spark.createDataFrame(
            [(int(b), run_id) for b in wave], "bucket int, run_id string"
        )
        lineage.write.mode("append").parquet(lineage_dir)
        stats.write.mode("append").parquet(metrics_dir)
        done.update(wave)
        n_done_waves += 1

    return {
        "run_id": run_id,
        "status": "complete",
        "completed_buckets": sorted(done),
        "pending_buckets": [],
    }


def read_extracted(
    spark: SparkSession,
    out_dir: str,
    sink: str = "overwrite",
    snapshot_id: int | None = None,
) -> DataFrame:
    if sink == "snapshot":
        from calamari_spark.plans.snaptable import snap_read

        return snap_read(
            spark, os.path.join(out_dir, "extracted_snap"), snapshot_id
        ).drop("bucket")
    return spark.read.parquet(os.path.join(out_dir, "extracted")).drop("bucket")


def read_quarantine(spark: SparkSession, out_dir: str) -> DataFrame:
    """Quarantined records with their error reasons (empty frame if the run
    had none): (bucket, doc_id, media_ref, offset, error, run_id).
    Filtered to lineage-committed (bucket, run_id) pairs exactly like
    read_metrics: the quarantine write precedes the lineage commit, so a
    kill between the two leaves stale rows that a resumed run would
    otherwise double-report."""
    qdir = os.path.join(out_dir, "quarantine")
    if not os.path.exists(qdir):
        return spark.createDataFrame(
            [],
            "bucket int, doc_id string, media_ref string, offset int,"
            " error string, run_id string",
        )
    q = spark.read.parquet(qdir)
    try:
        lineage = spark.read.parquet(os.path.join(out_dir, "lineage"))
    except Exception:
        # quarantine written, killed before the FIRST lineage commit:
        # no wave is committed, so no quarantine row is either
        return q.limit(0)
    return q.join(lineage, ["bucket", "run_id"], "left_semi")


def read_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    """Metrics rows for committed buckets only: a (bucket, run_id) row
    counts only if that exact pair is in the lineage table — stale rows
    from interrupted runs are invisible to consumers."""
    # mergeSchema: a resumed --out may mix metrics files written by an
    # older code version (e.g. pre-n_failed); plain read infers the schema
    # from one arbitrary footer and could silently drop newer columns
    metrics = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out_dir, "metrics")
    )
    lineage = spark.read.parquet(os.path.join(out_dir, "lineage"))
    return metrics.join(lineage, ["bucket", "run_id"], "left_semi")
