"""The benchmark's own tests. Run from the root of a checkout:

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests start Spark and run each workload end to end at the
smallest op counts (about a minute each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import spans as tr  # noqa: E402


def _mats(seed=0):
    rng = np.random.default_rng(seed)
    return {lib: rng.standard_normal((gen.lib_rows(lib), gen.DIM)).astype(np.float32)
            for lib in gen.small_libs() + [gen.BIG]}


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_ops_are_deterministic_per_seed(workload):
    mats = _mats()
    counts = gen.counts_for(gen.BASE_SECONDS)
    a = gen.build_ops(3, workload, mats, counts)
    b = gen.build_ops(3, workload, mats, counts)
    c = gen.build_ops(4, workload, mats, counts)
    assert gen.digest(a) == gen.digest(b)
    assert gen.digest(a) != gen.digest(c)
    kinds = [o["op"] for o in a]
    assert kinds.count("upsert") == kinds.count("delete") == counts["pair"]
    # every upsert is followed by a search expecting it first, and deleted later
    for i, o in enumerate(a):
        if o["op"] == "upsert":
            assert a[i + 1].get("first") == o["id"]
            assert any(d["op"] == "delete" and d["id"] == o["id"] for d in a[i + 1:])
        if o["op"] == "delete":
            assert a[i + 1].get("absent") == o["id"]


def test_corpus_is_deterministic():
    a, b = gen.clustered(50, 16, 0.25, 7), gen.clustered(50, 16, 0.25, 7)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, gen.clustered(50, 16, 0.25, 8))
    assert np.allclose(np.linalg.norm(a, axis=1), 1.0, atol=1e-6)


def test_exact_topk_matches_brute_force():
    rng = np.random.default_rng(1)
    mat = rng.standard_normal((300, 8)).astype(np.float32)
    mat[7] = mat[3]  # an exact tie: broken by id
    ids = [f"c{i:03d}" for i in range(300)]
    q = mat[3].astype(np.float64)
    got_ids, got_scores = gen.exact_topk(mat, ids, q, 10)
    brute = []
    for i, v in enumerate(mat.astype(np.float64)):
        brute.append((-float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q))), ids[i]))
    brute.sort()
    assert got_ids == [i for _, i in brute[:10]]
    assert np.allclose(got_scores, [-s for s, _ in brute[:10]], atol=1e-12)
    assert got_ids[:2] == ["c003", "c007"]
    assert gen.topk_matches(got_ids, got_scores, got_ids, got_scores)
    swapped = [got_ids[1], got_ids[0]] + got_ids[2:]
    assert gen.topk_matches(swapped, got_scores, got_ids, got_scores)  # tie swap
    assert not gen.topk_matches(got_ids[::-1], got_scores[::-1], got_ids, got_scores)


def _span(t0, t1, parent=None):
    s = tr.Span(1, "x", "f", t0, parent)
    s.t1 = t1
    if parent is not None:
        parent.children.append(s)
    return s


def test_self_time_with_overlapping_children():
    root = _span(0.0, 10.0)
    _span(1.0, 4.0, root)
    _span(3.0, 6.0, root)   # overlaps the first child
    _span(8.0, 12.0, root)  # runs past the parent's end
    assert tr.covered(0.0, 10.0, [(1, 4), (3, 6), (8, 12)]) == 7.0
    assert tr.self_ms(root) == pytest.approx(3000.0)
    assert tr.covered(0.0, 10.0, []) == 0.0


def test_self_times_partition_the_root():
    root = _span(0.0, 10.0)
    a = _span(1.0, 5.0, root)
    _span(2.0, 3.0, a)
    b = _span(6.0, 9.0, root)
    spans = [root, a, a.children[0], b]
    for s, layer in zip(spans, ("facade", "service", "store", "store")):
        s.layer = layer
    totals = tr.op_layer_totals(spans, {1: "search_small"})[1]
    assert sum(v for (layer, kind), v in totals.items() if kind == "self") == pytest.approx(10000.0)
    assert totals[("store", "calls")] == 2


def test_wrappers_install_and_uninstall():
    from vector_db_api_spark.sources import fsio

    orig = fsio.read_json
    t = tr.Tracer()
    t.install()
    try:
        assert fsio.read_json is not orig
        t.active, t.op = True, 5
        assert fsio.read_json(fsio.LOCAL, os.path.join(HERE, "missing.json")) is None
        assert [(s.op, s.layer, s.name) for s in t.spans] == [(5, "fsio", "read_json")]
    finally:
        t.uninstall()
    assert fsio.read_json is orig


def _run(workload, trace, cwd=ROOT):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return out


@pytest.mark.parametrize("workload,trace", [("hot", 0), ("cold", 1)])
def test_smoke_run(workload, trace):
    out = _run(workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert set(res["metrics"]) == want


def test_refuses_to_run_without_the_package(tmp_path):
    out = _run("hot", 0, cwd=str(tmp_path))
    assert out.returncode != 0
    assert out.stdout.strip() == ""
