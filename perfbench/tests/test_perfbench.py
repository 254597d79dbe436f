"""The benchmark's own tests: deterministic inputs, checks that catch
wrong answers, and a tiny-size smoke of every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import tempfile

import numpy as np
import pytest

import checks
import gen

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


def _tree_digest(path: str) -> dict[str, str]:
    out = {}
    for d, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_generator_is_byte_identical_per_seed():
    # scratch space inside the benchmark's own (git-ignored) work dir
    os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(BENCH, ".work")) as tmp:
        a = gen.corpus_inputs(os.path.join(tmp, "a"), 5, 300, 16, 4, 20)
        b = gen.corpus_inputs(os.path.join(tmp, "b"), 5, 300, 16, 4, 20)
        assert _tree_digest(a["dir"]) == _tree_digest(b["dir"])
        c = gen.corpus_inputs(os.path.join(tmp, "c"), 6, 300, 16, 4, 20)
        assert not np.array_equal(a["vecs"], c["vecs"])
    assert gen.hotel_requests(5, 300) == gen.hotel_requests(5, 300)
    assert gen.hotel_requests(5, 300) != gen.hotel_requests(6, 300)
    assert gen.replicated_documents(5, 500, 50) == gen.replicated_documents(5, 500, 50)
    live = list(range(500))
    assert (gen.refresh_delta(5, 3, live, 500, 10, 10, 10)
            == gen.refresh_delta(5, 3, live, 500, 10, 10, 10))


def test_generated_inputs_have_the_intended_shape():
    reqs = gen.hotel_requests(1, 400)
    texts = [t for t, _ in reqs]
    assert len(set(texts)) < len(texts) / 4          # repeated phrasings
    assert {k for _, k in reqs} == set(range(1, 11))  # the slider range
    q = gen.near_cluster_queries(1, 50, 16, 4)
    assert len({tuple(r) for r in q}) == 50           # distinct queries
    _, labels = gen.clustered_corpus(1, 2000, 16, 8)
    sizes = np.bincount(labels, minlength=8)
    assert sizes.max() > 3 * sizes.min()              # uneven clusters
    docs = gen.replicated_documents(1, 400, 100)
    assert len(set(docs)) == 400
    d = gen.refresh_delta(1, 0, list(range(400)), 400, 5, 7, 9)
    assert d["new"] == list(range(400, 405))
    assert not set(d["changed"]) & set(d["retired"])
    assert d["retired"] == list(range(d["retired"][0], d["retired"][0] + 9)) \
        or len(set(d["retired"])) == 9


def test_reference_topk_matches_brute_force():
    m = gen.clustered_corpus(2, 200, 8, 3)[0].astype(np.float64)
    q = gen.near_cluster_queries(2, 1, 8, 3)[0]
    ids = np.arange(200)
    got_ids, got_d = checks.topk(ids, checks.fold_distances(m, checks.fold_norms(m), q), 5)
    brute = sorted((1 - float(np.dot(v, q)) / (np.linalg.norm(v) * np.linalg.norm(q)), i)
                   for i, v in enumerate(m))[:5]
    assert got_ids == [i for _, i in brute]
    assert np.allclose(got_d, [d for d, _ in brute], atol=1e-12)


def test_checker_flags_a_perturbed_topk():
    chk = checks.Checker()
    want_ids, want_d = [3, 1, 7], [0.1, 0.2, 0.3]
    with chk.operation():
        checks.check_topk(chk, "ok", [3, 1, 7], [0.1, 0.2, 0.3], want_ids, want_d)
    assert (chk.attempted, chk.failed) == (1, 0)
    with chk.operation():   # two neighbours swapped
        checks.check_topk(chk, "swapped", [1, 3, 7], [0.2, 0.1, 0.3], want_ids, want_d)
    with chk.operation():   # right ids, a distance off by more than 1e-6
        checks.check_topk(chk, "far", [3, 1, 7], [0.1, 0.2, 0.30001], want_ids, want_d)
    with chk.operation():   # a wrong match score
        checks.check_match_scores(chk, "score", [0.1234], [87.65])
    assert (chk.attempted, chk.failed) == (4, 3)


def test_checker_flags_a_retired_id_left_in_the_store():
    chk = checks.Checker()
    live, retired = {1, 2, 3}, {4}
    with chk.operation():
        checks.check_store(chk, "clean", {1, 2, 3}, live, retired, {2: [0.5]}, {2: [0.5]})
    with chk.operation():
        checks.check_store(chk, "stale", {1, 2, 3, 4}, live, retired, {2: [0.5]}, {2: [0.5]})
    with chk.operation():
        checks.check_store(chk, "old vector", {1, 2, 3}, live, retired, {2: [0.4]}, {2: [0.5]})
    assert (chk.attempted, chk.failed) == (3, 2)
    assert any("retired ids survive" in m for m in chk.messages)


def test_stolen_operations_leave_the_medians():
    from workloads import SIZES, HotelSearch
    wl = HotelSearch(checks.Checker(), 1, SIZES["tiny"]["hotel_search"], "", "")
    wl.lat = {"request": [(0.20, True), (0.90, False), (0.21, True), (0.22, True)]}
    assert wl.latencies("request") == [0.20, 0.21, 0.22]
    wl.lat = {"request": [(0.20, True), (0.90, False), (0.21, True)]}
    assert wl.latencies("request") == [0.20, 0.90, 0.21]   # too few clean
    wl.cycles = [(1.0, True), (3.0, False), (1.1, True), (1.2, True)]
    assert wl.cycle_times() == [1.0, 1.1, 1.2]
    wl.cycles = [(1.0, True), (3.0, False)]
    assert wl.cycle_times() == [1.0, 3.0]   # too few clean


def test_spark_round_is_half_up_on_the_decimal_string():
    assert checks.spark_round(0.125, 2) == 0.13
    assert checks.spark_round(2.675, 2) == 2.68
    assert checks.spark_round(87.6549, 2) == 87.65


def test_benchmark_json_matches_the_metric_tables():
    sys.path.insert(0, BENCH)
    from layers import PER_LAYER
    from run import END_TO_END
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == [
        "hotel_search", "corpus_search", "corpus_refresh"]


@pytest.mark.parametrize("workload", ["hotel_search", "corpus_search", "corpus_refresh"])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_smoke(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        capture_output=True, text=True, timeout=300, cwd=ROOT)
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, out.stdout[-3000:]
    from layers import PER_LAYER
    from run import END_TO_END
    assert set(result["metrics"]) == set(PER_LAYER if trace else END_TO_END)
