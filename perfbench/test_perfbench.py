"""Self-tests of the benchmark (run from the repository root):

    python -m pytest perfbench -q

The smoke tests run every workload end to end on the tiny inputs, so they
take a few minutes; the span arithmetic test is instant.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
from observe import Span, self_times, union_length  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_self_time_with_overlapping_children():
    # parent [0, 10]; children [1, 4] and [3, 6] overlap on [3, 4], and
    # [9, 12] sticks out of the parent: covered = [1, 6] + [9, 10] = 6
    spans = [
        Span("p", 0.0, 10.0, 1, None, 1),
        Span("a", 1.0, 4.0, 2, 1, 1),
        Span("b", 3.0, 6.0, 3, 1, 1),
        Span("c", 9.0, 12.0, 4, 1, 1),
        Span("a.child", 1.0, 2.0, 5, 2, 1),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(4.0)
    assert st[2] == pytest.approx(2.0)  # grandchildren count only for their parent
    assert st[3] == pytest.approx(3.0)
    assert union_length([(1, 4), (3, 6), (9, 12)], 0, 10) == pytest.approx(6.0)
    assert union_length([], 0, 10) == 0.0


@pytest.mark.parametrize("workload", ["extract", "curate", "job_dirty"])
def test_smoke_prints_every_end_to_end_metric(workload):
    res = _run(workload, trace=0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 3
    want = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", ["extract", "curate"])
def test_traced_run_prints_every_per_layer_metric(workload):
    res = _run(workload, trace=1)
    assert res["correct"]
    want = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    # coverage is what the driver's time outside named layers leaves
    assert 0 < m["trace.coverage_frac"] <= 1
    assert m["trace.coverage_frac"] == pytest.approx(
        1 - m["trace.unattributed_s"] / m["trace.op_s"])
    if workload == "extract":
        assert m["self.spark.stage.python_s"] > 0  # the OCR stage is labelled


def test_curate_corpus_has_the_sf01_documents_shape(tmp_path):
    # README.md "Curate corpus": the figures measured on sf0.1 documents
    inputs.prepare(str(tmp_path), "curate", 3, "tiny")
    shape = inputs.corpus_shape(os.path.join(
        inputs.cache_dir(str(tmp_path), "curate", 3, "tiny"), "documents.parquet"))
    assert shape["docs"] == inputs.SCALES["tiny"].n_curate
    assert shape["vocabulary"] == 31  # 30 words + the duplicate mark
    assert shape["words_min"] >= 10 and shape["words_max"] <= 100
    assert shape["dup_share"] == pytest.approx(0.05)
    assert set(shape["cluster_diameters"]) == {1}
    assert shape["sources"] == 20
