#!/usr/bin/env python3
"""calamari_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates (or reuses) the seed's
inputs under ``perfbench/.work/`` in a child process, brings up a fresh
``local[nproc]`` SparkSession seven times (set-up), calls the workload's
operation once cold, then ``warmup_ops`` times untimed, and then in a closed
loop with one client for ``--seconds`` (at least three times), checks
every output against the expected result, and prints one metric per line
followed by a JSON result as the last line of standard output.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` interleaves
untraced and traced operations, runs the per-layer probes
(``layers.py``), writes the spans to ``perfbench/.work/`` and reports the
per-layer metrics. A wrong output makes ``correct`` false and the exit
code 1. See README.md for the metric table.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

SETUPS = 7  # fresh sessions per run; setup_s is their median
MIN_WARM = 3  # timed warm operations per run even when --seconds is short

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_s": "s",
    "docs_per_s": "1/s",
    "lines_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def _env() -> None:
    """The benchmark's own process environment, set before the JVM starts:
    driver memory sized for a small box, and every scratch file inside the
    work directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def spark_conf() -> dict:
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def fresh_session(wl, in_dir: str, cores: int, tr):
    from calamari_spark.session import get_spark

    with tr.span("session.get_spark"):
        spark = get_spark("perfbench", cores=cores, extra_conf=spark_conf())
    with tr.span("sources.scan"):
        frames = wl.register(spark, in_dir)
    return spark, frames


def shutdown(spark) -> None:
    """Stop the session, then the driver JVM, and wait until every process
    this run started (JVM, Python worker daemon and workers) has ended. The
    process list is taken first: workers outliving the JVM are re-parented
    and would no longer show up as descendants."""
    from pyspark import SparkContext

    from observe import alive, descendants

    started = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while any(alive(p) for p in started) and time.time() < deadline:
        time.sleep(0.1)
    for pid in started:
        if alive(pid):
            os.kill(pid, 9)
    deadline = time.time() + 10
    while any(alive(p) for p in started) and time.time() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the self-tests")
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "calamari_spark")):
        print(f"no calamari_spark package next to {HERE}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    _env()

    import inputs
    import layers
    from observe import (
        NullTracer,
        RssSampler,
        SparkStats,
        Tracer,
        box_stamp,
        cpu_jiffies,
        median,
    )
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    load_before, cpu_before = os.getloadavg()[0], cpu_jiffies()
    null = NullTracer()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)

    attempted, failures = 0, []

    def attempt(spark, frames, tr):
        """One operation: timed call, then the (untimed) output check."""
        nonlocal attempted
        attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("bench.op"):
                out = wl.op(spark, frames, tr, run_dir)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            failures.append(f"op {attempted} raised {type(exc).__name__}: {exc}")
            return None
        wall = time.perf_counter() - t0
        try:
            bad = wl.check(spark, out, expected)
        except Exception as exc:  # noqa: BLE001 — an unreadable output is a failure
            bad = [f"check raised {type(exc).__name__}: {exc}"]
        if bad:
            failures.append(f"op {attempted}: " + "; ".join(bad))
        return wall

    # generated in a child process, so the measured process only reads the
    # cached files and carries none of the generator's memory or imports
    gen = subprocess.run(
        [sys.executable, os.path.join(HERE, "inputs.py"), "--work", WORK,
         "--kind", wl.corpus, "--seed", str(args.seed), "--scale", args.scale],
        capture_output=True, text=True,
    )
    if gen.returncode != 0:
        print(gen.stderr[-4000:], file=sys.stderr)
        return 2
    gen_s = json.loads(gen.stdout.strip().splitlines()[-1])["inputs_gen_s"]
    in_dir, expected = inputs.load(WORK, wl.corpus, args.seed, args.scale)

    spark = None
    try:
        with RssSampler() as rss:
            tr = Tracer() if args.trace else null
            setups = []
            for i in range(SETUPS):
                t0 = time.perf_counter()
                with tr.span("bench.setup"):
                    spark, frames = fresh_session(wl, in_dir, cores, tr)
                setups.append(time.perf_counter() - t0)
                if i < SETUPS - 1:
                    spark.stop()
            stamp = box_stamp(spark)

            if args.trace:
                tr.stats = SparkStats(spark)
            cold = attempt(spark, frames, null)
            for _ in range(wl.warmup_ops):
                attempt(spark, frames, null)
            warm, traced = [], []
            t_end = time.perf_counter() + args.seconds
            while len(warm) < MIN_WARM or time.perf_counter() < t_end:
                if not args.trace:
                    warm.append(attempt(spark, frames, null))
                    continue
                # alternate which goes first: warm times still trend down,
                # and a fixed order would bias the tracing overhead
                pair = [(warm, null), (traced, tr)]
                for sink, tracer in pair if len(warm) % 2 == 0 else pair[::-1]:
                    sink.append(attempt(spark, frames, tracer))
            probes = {}
            if args.trace and not failures:
                bad: list = []
                probes = layers.probe(wl, spark, frames, expected, in_dir, tr, run_dir, bad)
                if bad:
                    attempted += 1
                    failures.append("; ".join(bad))
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    n_docs, n_lines = wl.docs(expected), wl.lines(expected)
    # throughput of the warm closed loop, from its median op time: one op
    # slowed by a neighbour on the shared host does not move it
    ok_warm = [w for w in warm if w is not None]
    op_s = median(ok_warm)
    e2e = {
        "setup_s": median(setups),
        "cold_s": cold or 0.0,
        "docs_per_s": n_docs / op_s if op_s else 0.0,
        "lines_per_s": n_lines / op_s if op_s else 0.0,
        "peak_rss_mb": rss.peak / 1e6,
    }
    info = {
        "workload": wl.name,
        "seed": args.seed,
        "scale": args.scale,
        "inputs_gen_s": gen_s,
        "setups_s": setups,
        "warm_s": warm,
        "docs_per_op": n_docs,
        "lines_per_op": n_lines,
        "fail_frac": len(failures) / attempted,
        "rss_at_peak": rss.split,
        "box": dict(stamp, load1_before=load_before, load1_after=os.getloadavg()[0],
                    cpu_steal_frac=cpu_jiffies().steal_share_since(cpu_before)),
    }
    if args.trace:
        ok_traced = [t for t in traced if t is not None]
        metrics = layers.per_layer(
            tr.spans, probes, cores, n_docs,
            untraced_s=sum(ok_warm) / len(ok_warm) if ok_warm else 0.0,
            traced_s=sum(ok_traced) / len(ok_traced) if ok_traced else 0.0,
        )
        tr.dump(os.path.join(WORK, f"spans-{wl.name}-{args.seed}.jsonl"))
    else:
        metrics = {k: (v, END_TO_END_UNITS[k]) for k, v in e2e.items()}
    for f in failures:
        print(f"MISMATCH {f}", file=sys.stderr)
    print("# info " + json.dumps(info))
    for k, (v, unit) in metrics.items():
        print(f"{k:44s} {v:14.6g} {unit}")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
