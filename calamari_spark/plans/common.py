"""Shared plan utilities."""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame

# Backend switch for materialize(); settable per-process (job.py flag) or
# via the environment for test harnesses.
BACKEND_ENV = "CALAMARI_SPARK_MATERIALIZE"
DURABLE_DIR_ENV = "CALAMARI_SPARK_DURABLE_DIR"
MATERIALIZE_BACKENDS = ("local", "reliable", "parquet")


def _durable_dir(spark) -> str:
    """Root for durable intermediates: explicit env var, else the session's
    already-configured checkpoint dir, else a warehouse-adjacent scratch
    dir (single-box default; on a cluster this MUST be shared storage —
    HDFS/object store — which is exactly what the env var / job flag is
    for)."""
    d = os.environ.get(DURABLE_DIR_ENV)
    if d:
        return d
    existing = spark.sparkContext.getCheckpointDir()
    if existing is not None:
        return existing
    return os.path.join(os.getcwd(), "spark-warehouse", "_materialize")


def materialize(df: DataFrame, backend: str | None = None) -> DataFrame:
    """Materialize a frame that downstream plans reference MORE THAN ONCE.

    Spark inserts no ReusedExchange across separate subtrees that contain
    the same logical frame (verified: 0 ReusedExchange in the adaptive
    final plans of the LSH/jaccard/eval queries), so an expensive frame —
    an LSH signature table, a shingle set, a levenshtein map — referenced
    by N subtrees executes N times unless it is materialized first.
    Same-box A/B at sf0.1: q_ngram_jaccard_pairs 9.2s -> 3.9s,
    q_minhash_lsh_pairs 5.3s -> 3.6s.

    Backends (``backend`` arg, else $CALAMARI_SPARK_MATERIALIZE, default
    "local"):

    * ``local`` — ``localCheckpoint``: eager, block-manager storage, NO
      lineage fallback. Right for a single JVM; on a cluster a lost
      executor loses blocks unrecoverably.
    * ``reliable`` — Spark's fault-tolerant ``checkpoint()`` to the
      session checkpoint dir (set from $CALAMARI_SPARK_DURABLE_DIR when
      unset). Survives executor loss/decommissioning; the 100 TB setting.
    * ``parquet`` — write the frame to a durable scratch path and read it
      back (the write-before-band pattern production MinHash pipelines
      use anyway). Strongest: survives driver restart too, and the
      columnar read-back benefits from pruning/pushdown downstream.
    """
    out, _ = materialize_tracked(df, backend)
    return out


@dataclass
class MatHandle:
    """Release handle for one materialize_tracked() call: exactly what that
    call created and nothing else. ``rdd_id`` for local (block-manager
    blocks), ``path`` for reliable/parquet (durable files)."""

    backend: str
    rdd_id: int | None = None
    path: str | None = None


def _owned_internal_rdd(out: DataFrame):
    """The JVM RDD backing a just-checkpointed DataFrame — read off the
    frame's own LogicalRDD node, NOT inferred by diffing the session-global
    getPersistentRDDs() map (the diff attributed any RDD a CONCURRENT query
    persisted inside the window to this caller, and unpersisting a foreign
    localCheckpoint'ed RDD is fatal to its owner: no lineage fallback)."""
    return out._jdf.queryExecution().analyzed().rdd()


def _hadoop_delete(spark, path: str) -> None:
    """Recursive delete through the Hadoop FileSystem API so release works
    on whatever scheme the durable dir lives on (HDFS/object store on a
    cluster, file:/ here) — a python shutil.rmtree only covers local disk."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    fs.delete(jpath, True)


def materialize_tracked(
    df: DataFrame, backend: str | None = None
) -> tuple[DataFrame, MatHandle]:
    """materialize() that also returns a release handle, for iterative
    plans (connected_components) whose per-round intermediates are
    corpus-sized: without explicit release the loop accumulates R copies —
    pinned block-manager blocks under ``local``, checkpoint files under
    ``reliable``, one uuid-named table per round under ``parquet``
    (unbounded scratch growth in exactly the at-scale configuration the
    durable backends exist for). Call release_materialized(handle) once the
    NEXT round is materialized and nothing references this one."""
    backend = backend or os.environ.get(BACKEND_ENV, "local")
    if backend not in MATERIALIZE_BACKENDS:
        raise ValueError(
            f"materialize backend must be one of {MATERIALIZE_BACKENDS}, "
            f"got {backend!r}"
        )
    spark = df.sparkSession
    if backend == "local":
        out = df.localCheckpoint()
        return out, MatHandle("local", rdd_id=_owned_internal_rdd(out).id())
    if backend == "reliable":
        sc = spark.sparkContext
        if sc.getCheckpointDir() is None:
            sc.setCheckpointDir(os.path.join(_durable_dir(spark), "ckpt"))
        # NOTE on the persist-before-checkpoint idiom: a reliable
        # checkpoint's file-writing job re-computes the plan, and
        # persist-first halves a COMPUTE-HEAVY frame (A/B on a 2M-row
        # sha2 frame: 1.00 s plain vs 0.46 s persist-first). It was
        # nevertheless A/B'd SLOWER for the loops that actually use this
        # backend here — the CC rounds' per-round frames are cheap to
        # recompute from the already-materialized edges, so the extra
        # cache write+read pass costs more than the recompute
        # (interleaved q_dedup_clusters under reliable at sf0.1: plain
        # won 4 of 5 pairs, mins 2.97 s vs 3.35 s). A 100 TB deployment
        # checkpointing an expensive un-cached frame should persist
        # first; for these loop shapes plain checkpoint is the right
        # default.
        out = df.checkpoint()
        ckpt = _owned_internal_rdd(out).getCheckpointFile()
        path = ckpt.get() if ckpt.isDefined() else None
        return out, MatHandle("reliable", path=path)
    # parquet: one durable intermediate per call, unique path
    # application id in the name: the end-of-job sweep must be able to
    # tell THIS job's scratch from a concurrently running job's (two jobs
    # sharing one durable root is the documented cluster configuration)
    app = spark.sparkContext.applicationId.replace("-", "_")
    path = os.path.join(_durable_dir(spark), f"mat-{app}-{uuid.uuid4().hex}")
    df.write.parquet(path)
    return spark.read.parquet(path), MatHandle("parquet", path=path)


def materialize_tracked_counting(
    df: DataFrame, predicate_col: str, backend: str | None = None
) -> tuple[DataFrame, MatHandle, int]:
    """materialize_tracked() that ALSO returns count(rows where
    ``predicate_col``) — the shape of an iterative loop's convergence
    check. Under the ``local`` backend the checkpoint is LAZY and the
    count is the materializing action, so the round pays ONE job instead
    of two (eager-checkpoint job + count job): the full count touches
    every partition (no limit short-circuit), the marked RDD's blocks
    persist as they compute, and Spark's post-action doCheckpoint finds
    nothing left to compute. Under ``reliable``/``parquet`` the eager path
    is kept — their lazy doCheckpoint RE-RUNS the plan to write files, so
    laziness would compute the round twice — and the count is a cheap scan
    of the durable files."""
    backend = backend or os.environ.get(BACKEND_ENV, "local")
    if backend == "local":
        out = df.localCheckpoint(eager=False)
        cnt = out.filter(out[predicate_col]).count()
        return out, MatHandle("local", rdd_id=_owned_internal_rdd(out).id()), cnt
    out, handle = materialize_tracked(df, backend)
    return out, handle, out.filter(out[predicate_col]).count()


def release_materialized(spark, handle: MatHandle | None) -> None:
    """Free ONE materialize_tracked() intermediate. Only call when no live
    plan still reads it (for local there is no lineage fallback after
    unpersist; for reliable/parquet the files ARE the data). Best-effort:
    a failed release is a leak, not a wrong answer."""
    if handle is None:
        return
    try:
        if handle.backend == "local" and handle.rdd_id is not None:
            jmap = spark.sparkContext._jvm.scala.collection.JavaConverters.mapAsJavaMapConverter(
                spark.sparkContext._jsc.sc().getPersistentRDDs()
            ).asJava()
            for e in jmap.entrySet():
                if e.getKey() == handle.rdd_id:
                    e.getValue().unpersist(False)
                    break
        elif handle.path is not None:
            _hadoop_delete(spark, handle.path)
    except Exception:
        pass


SWEEP_FOREIGN_MIN_AGE_S = 24 * 3600


def sweep_materialize_scratch(
    spark, foreign_min_age_s: int = SWEEP_FOREIGN_MIN_AGE_S
) -> int:
    """Session-end sweep of mat-* parquet scratch dirs under the durable
    root (crash leftovers; normal runs release per-handle). Returns the
    number of dirs removed. Only touches the ``mat-…`` naming this module
    creates — never checkpoint dirs, which Spark cleans itself when
    spark.cleaner.referenceTracking.cleanCheckpoints is set.

    Ownership guard: dirs carry the creating job's application id, and
    the sweep deletes (a) THIS application's dirs unconditionally and
    (b) foreign dirs only once they are older than ``foreign_min_age_s``
    (default 24 h — standard TTL garbage collection). An unconditional
    sweep would delete the in-flight intermediates of a concurrently
    running job sharing the durable root, failing its next read
    mid-query."""
    root = _durable_dir(spark)
    sc = spark.sparkContext
    own = f"mat-{sc.applicationId.replace('-', '_')}-"
    try:
        jpath = sc._jvm.org.apache.hadoop.fs.Path(root)
        fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
        if not fs.exists(jpath):
            return 0
        now_ms = int(time.time() * 1000)
        removed = 0
        for st in fs.listStatus(jpath):
            name = st.getPath().getName()
            if not name.startswith("mat-"):
                continue
            is_own = name.startswith(own)
            old = now_ms - st.getModificationTime() >= foreign_min_age_s * 1000
            if is_own or old:
                fs.delete(st.getPath(), True)
                removed += 1
        return removed
    except Exception:
        return 0


def fan_out(df: DataFrame, *cols: str, per_core: int = 2) -> DataFrame:
    """Explicit hash repartition pinning a compute-bound map stage's
    parallelism to the cluster's cores (same rationale as the OCR stage,
    extraction.line_stage): a single-file parquet scan arrives as ONE
    partition and a map-only plan never re-spreads it, so an expensive
    per-row kernel (levenshtein, image decode) runs on one core; AQE's
    byte-based coalescing would likewise serialize small-but-expensive
    stages, but user-specified repartitions are exempt. A/B at sf0.1:
    the q_cer_eval levenshtein map 3.48s -> 0.94s on local[32].

    Pass key columns when a deterministic partitioning key exists
    (preferred); bare round-robin otherwise (Spark sorts before
    round-robin repartition, so retries stay deterministic)."""
    n = df.sparkSession.sparkContext.defaultParallelism * per_core
    return df.repartition(n, *cols) if cols else df.repartition(n)
