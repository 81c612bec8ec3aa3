#!/usr/bin/env python
"""spark-submit entrypoint for the extraction job.

Packaging + launch (the north star's deployment shape):

    zip -r calamari_spark.zip calamari_spark
    spark-submit --master <cluster> \\
        --py-files calamari_spark.zip \\
        job.py --sf-dir /root/testdata/sf0.01 --out /data/run1

On a cluster the corpus comes from catalog tables instead of a path
(the north rule's Iceberg shape — same code, catalog impl differs):

    job.py --docs-table iceberg.web.documents_spans \\
           --media-table iceberg.web.line_images --out /data/run1

The job is resumable: re-submitting with the same --out picks up at
partition (doc_id-bucket) granularity via the lineage table
(calamari_spark.plans.lineage). Prints one JSON summary line.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001",
                   help="scale-factor dir selecting the interleaved corpus")
    p.add_argument("--docs-table", default=None,
                   help="catalog-qualified documents table (Iceberg on a "
                        "cluster); overrides --sf-dir when given with "
                        "--media-table")
    p.add_argument("--media-table", default=None,
                   help="catalog-qualified line-images table")
    p.add_argument("--out", required=True, help="output root (extracted/lineage/metrics)")
    p.add_argument("--n-buckets", type=int, default=16)
    p.add_argument("--buckets-per-wave", type=int, default=4)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--materialize-backend",
                   choices=["local", "reliable", "parquet"], default=None,
                   help="how multiply-referenced intermediates are "
                        "materialized: local (localCheckpoint; single-JVM "
                        "default), reliable (fault-tolerant checkpoint()), "
                        "or parquet (write-before-reuse to durable "
                        "storage) — set 'reliable' or 'parquet' plus "
                        "CALAMARI_SPARK_DURABLE_DIR on shared storage for "
                        "clusters with executor decommissioning")
    p.add_argument("--cc-algorithm", choices=["minlabel", "star"], default=None,
                   help="connected-components backend for dedup cluster "
                        "resolution: minlabel (O(graph diameter) rounds; "
                        "the oracle-checked default) or star (alternating "
                        "large-star/small-star, O(log n) rounds — the "
                        "at-scale setting for graphs with long duplicate "
                        "chains)")
    p.add_argument("--sink", choices=["overwrite", "snapshot"], default="overwrite",
                   help="extraction sink: overwrite (dynamic partition "
                        "overwrite in place) or snapshot (Iceberg-analog "
                        "append-only data files + atomic manifest commits; "
                        "concurrent readers keep a pinned consistent view, "
                        "old snapshots are time-travelable until expired)")
    p.add_argument("--on-error", choices=["fail", "quarantine"], default="fail",
                   help="per-record failure policy: fail the job (strict) or "
                        "quarantine the record (NULL span text + n_failed "
                        "metric) — the production setting for corpora with "
                        "corrupt blobs")
    args = p.parse_args(argv)

    # validate BEFORE the (expensive) SparkSession bring-up; empty strings
    # must error, not silently fall back to the --sf-dir corpus
    if (args.docs_table is None) != (args.media_table is None):
        p.error("--docs-table and --media-table must be given together")
    if args.docs_table is not None and not (args.docs_table and args.media_table):
        p.error("--docs-table/--media-table must be non-empty table names")

    if args.materialize_backend:
        import os

        from calamari_spark.plans.common import BACKEND_ENV

        os.environ[BACKEND_ENV] = args.materialize_backend

    if args.cc_algorithm:
        import os

        from calamari_spark.plans.dedup import CC_ALGORITHM_ENV

        os.environ[CC_ALGORITHM_ENV] = args.cc_algorithm

    from pyspark.sql import SparkSession

    # master/deploy settings come from spark-submit; only engine-level
    # configs are set here (mirrors calamari_spark.session.get_spark).
    # Unlike get_spark, this does not set spark.python.daemon.module to
    # calamari_spark._worker_daemon: under --py-files the package reaches
    # an executor's workers only after its Python daemon has started, so
    # the daemon could not import it.
    builder = (
        SparkSession.builder.appName("calamari_spark_extract")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
    )
    if args.shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from calamari_spark.plans.extraction import (
        load_interleaved,
        load_interleaved_tables,
    )
    from calamari_spark.plans.lineage import run_extraction_job

    if args.docs_table:
        docs, media = load_interleaved_tables(spark, args.docs_table, args.media_table)
    else:
        docs, media = load_interleaved(spark, args.sf_dir)
    summary = run_extraction_job(
        spark, docs, media, args.out,
        n_buckets=args.n_buckets, buckets_per_wave=args.buckets_per_wave,
        on_error=args.on_error, sink=args.sink,
    )
    print(json.dumps(summary))
    # crash leftovers from materialize(backend="parquet") (normal runs
    # release per-handle inside the loops that create them)
    from calamari_spark.plans.common import sweep_materialize_scratch

    sweep_materialize_scratch(spark)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
