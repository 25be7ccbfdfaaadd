"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The first group is pure Python (span arithmetic, the tail statistic, the
images sweep check). The second runs every workload once at test size
(workloads.TEST_SF tables, a 1000-row images table) in its own process, untraced and
traced, and checks the result line, every metric and the per-call
time identity of the written span trees.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spantrace  # noqa: E402
from run import tail_stat  # noqa: E402
from spantrace import Span, jobs_excl, self_time  # noqa: E402
from workloads import TEST_SF  # noqa: E402


def _span(name, layer, start, end, parent=None, jobs=()):
    s = Span(name, name, layer, parent)
    s.start, s.end = start, end
    s.jobs = [{"id": i, "start": a, "end": b, "stage_ids": [], "stages": []}
              for i, (a, b) in enumerate(jobs)]
    if parent is not None:
        parent.children.append(s)
    return s


def test_self_time_arithmetic_on_a_synthetic_tree():
    root = _span("call", "call", 0.0, 10.0, jobs=[(9.0, 9.5)])
    dedup = _span("dedup.near_dup_groups", "dedup", 1.0, 6.0, root,
                  jobs=[(1.5, 2.5), (2.0, 3.0), (5.5, 7.0)])  # overlap + overrun
    inner = _span("dedup.minhash_lsh_pairs", "dedup", 3.0, 4.0, dedup, jobs=[(3.2, 3.6)])
    final = _span("final", "spark", 7.0, 9.8, root, jobs=[(7.1, 9.7)])

    # union of [1.5,3.0] and [5.5,6.0] (clipped), nothing inside the child
    assert jobs_excl(dedup) == pytest.approx(1.5 + 0.5)
    assert self_time(dedup) == pytest.approx(5.0 - 1.0 - 2.0)
    assert jobs_excl(inner) == pytest.approx(0.4)
    assert self_time(inner) == pytest.approx(0.6)
    assert jobs_excl(final) == pytest.approx(2.6)
    # the root's own job overlaps the final span: only [9.8, 9.5] is outside
    assert jobs_excl(root) == pytest.approx(0.0)
    assert self_time(root) == pytest.approx(10.0 - 5.0 - 2.8)
    parts = sum(self_time(s) + jobs_excl(s) for s in root.walk())
    assert parts == pytest.approx(root.wall)


def test_jobs_inside_children_are_not_counted_twice():
    root = _span("call", "call", 0.0, 4.0, jobs=[(0.5, 3.5)])
    _span("runner.validate", "runner", 1.0, 2.0, root)
    assert jobs_excl(root) == pytest.approx(2.0)
    assert sum(self_time(s) + jobs_excl(s) for s in root.walk()) == pytest.approx(4.0)


def test_call_facts_split_eager_and_final_jobs():
    root = _span("call", "call", 0.0, 10.0)
    d = _span("dedup.near_dup_groups", "dedup", 0.5, 5.0, root, jobs=[(1.0, 2.0), (2.5, 3.0)])
    _span("catalyst", "spark", 5.0, 5.5, root)
    _span("final", "spark", 5.5, 9.0, root, jobs=[(5.6, 8.9)])
    f = spantrace.call_facts(root, {"python_rows": 0, "python_stages": set()}, 4, 7, None)
    assert f["spark.eager_jobs"] == 2 and f["dedup.eager_jobs"] == 2
    assert f["spark.jobs"] == 3
    assert f["spark.eager_s"] == pytest.approx(1.5)
    assert f["spark.final_s"] == pytest.approx(3.5)
    assert f["spark.catalyst_s"] == pytest.approx(0.5)
    assert f["dedup.call_s"] == pytest.approx(d.wall)
    total = f["spark.build_s"] + f["spark.eager_s"] + f["spark.catalyst_s"] + f["spark.final_s"]
    assert total == pytest.approx(root.wall)


def test_tail_statistic():
    walls = [float(i) for i in range(1, 41)]  # 40 calls
    v, p = tail_stat(walls)
    assert p == 75 and v == 30.0 and sum(w > v for w in walls) >= 10
    v, p = tail_stat([1.0, 2.0, 3.0])  # too few calls for the definition
    assert p == 90 and v == 3.0


def test_image_sweep_check_accepts_the_seeded_classes_and_rejects_drift():
    from ndto_spark import fixtures

    from workloads import check_image_sweep, expected_image_violations

    n = 1000
    exp = expected_image_violations(n)
    img = lambda i: fixtures.image_id_str(0, i)  # noqa: E731
    rows = []
    for path, ids in exp["by_path"].items():
        rows += [{"image_id": img(i), "column": "x", "schema_path": path,
                  "keyword": "k", "description": "", "bucket": 0} for i in ids]
    rows += [{"image_id": img(i), "column": "caption", "schema_path": "$.caption_equality",
              "keyword": "caption_equality", "description": "", "bucket": 0}
             for i in exp["caption_equality_min"]]
    rows += [{"image_id": None, "column": "image_id", "schema_path": "$.type",
              "keyword": "type", "description": "", "bucket": 0}] * exp["null_id"]
    rows += [{"image_id": img(i - 12), "column": "image_id", "schema_path": "$.unique",
              "keyword": "unique", "description": "Key appears 2 times", "bucket": 0}
             for i in fixtures.expected_violation_classes(n)[8]]
    manifests = [{"bucket": 0, "n_rows": n, "n_violations": len(rows)}]
    assert check_image_sweep(rows, manifests, n) is None
    assert check_image_sweep(rows[1:], manifests, n) is not None
    extra = dict(rows[0], image_id=img(10), schema_path="$.w")  # a clean row flagged
    assert "clean" in check_image_sweep(rows + [extra], [dict(manifests[0], n_violations=len(rows) + 1)], n)
    assert "manifest" in check_image_sweep(rows, [dict(manifests[0], n_rows=n - 1)], n)


# ---------------------------------------------------------------------------
# one short pass per workload, in a fresh process each


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace),
           "--sf", str(TEST_SF), "--images-rows", "1000"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    print(p.stdout)
    return json.loads(p.stdout.strip().splitlines()[-1])


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", ["gate_scan", "images_resume"])
def test_workload_short_pass_prints_every_metric(workload):
    res = _run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert {k: m["unit"] for k, m in res["metrics"].items()} == want
    assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload", ["gate_scan", "images_resume"])
def test_traced_pass_reports_every_layer_metric_and_closes_the_time_books(workload):
    res = _run(workload, 1)
    assert res["correct"]
    want = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert {k: m["unit"] for k, m in res["metrics"].items()} == want
    with open(os.path.join(ROOT, ".perfbench_out", f"{workload}-seed3-spans.json")) as f:
        calls = json.load(f)
    assert calls

    def parts(s):
        return s["self"] + s["jobs_excl"] + sum(parts(c) for c in s["children"])

    for c in calls:
        assert parts(c) == pytest.approx(c["wall"], abs=1e-6)
