#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarize each metric.

    python3 perfbench/sweep.py --workloads extract job_dirty curate \\
        --seeds 1-10 --seconds 5 --out perfbench/.work/sweep.json

For every workload and metric it reports the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread: the distance
between the quartiles as a share of the median. That spread is what the
bounds in BENCHMARK.json are judged against. Runs are sequential, one
Spark session at a time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec: str) -> list:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: list) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def write(path: str, report: dict) -> None:
    """Rewritten after every run, so a long sweep can be read while it runs."""
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as f:
        json.dump(report, f, indent=1)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", nargs="+", required=True)
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)

    report = {"seconds": args.seconds, "trace": args.trace, "summary": {}, "runs": []}
    for wl in args.workloads:
        per_metric: dict = {}
        for seed in seeds_of(args.seeds):
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(args.seconds),
                 "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True,
            )
            lines = proc.stdout.strip().splitlines()
            info = next((json.loads(l[len("# info "):]) for l in lines
                         if l.startswith("# info ")), None)
            result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
            run = {"workload": wl, "seed": seed, "rc": proc.returncode,
                   "wall_s": time.time() - t0}
            print(json.dumps(run), flush=True)
            if result is None or info is None:
                report["runs"].append(run)
                print(proc.stderr[-2000:], file=sys.stderr)
                continue
            box = info.pop("box")
            report.setdefault("box", box)
            run.update(
                {k: result[k] for k in ("correct", "attempted", "failed")},
                metrics={k: m["value"] for k, m in result["metrics"].items()},
                load1=[box["load1_before"], box["load1_after"]],
                cpu_steal_frac=box["cpu_steal_frac"],
                info=info,
            )
            report["runs"].append(run)
            for name, value in run["metrics"].items():
                per_metric.setdefault(name, []).append(value)
            report["summary"][wl] = {k: summarize(v) for k, v in per_metric.items()}
            write(args.out, report)
        for k, s in report["summary"][wl].items():
            print(f"{wl:10s} {k:44s} median {s['median']:12.6g} spread {s['spread']:.3f}")
    return 0 if all(r["rc"] == 0 for r in report["runs"]) else 1


if __name__ == "__main__":
    sys.exit(main())
