"""Tests of the benchmark's own parts.

    python3 -m pytest dedupbench -q

The oracle cases are computed by hand from Mash's merge loop; the smoke
tests run every workload end to end on a tiny corpus (about a minute
and a half each, most of it Spark start-up and warm-up).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import run  # noqa: E402

u64 = lambda *xs: np.array(xs, dtype=np.uint64)  # noqa: E731


# -- oracle: hand-computed cases ------------------------------------------

def test_identity():
    a = u64(3, 5, 9, 12)
    assert oracle.mash_compare(a, a, 1000) == (4, 4)
    assert oracle.mash_distance(4, 4, 21) == 0.0


def test_disjoint():
    # every loop step consumes one union element: 7 steps until a runs
    # out after 7<8, then the leftover 8 tops the denominator up to 8
    assert oracle.mash_compare(u64(1, 3, 5, 7), u64(2, 4, 6, 8), 1000) == (0, 8)
    # a runs out after 5 steps; leftovers 6, 8 of b -> 7
    assert oracle.mash_compare(u64(1, 3, 5), u64(2, 4, 6, 8), 1000) == (0, 7)
    assert oracle.mash_distance(0, 7, 21) == 1.0


def test_merge_cap_at_sketch_size():
    # 1==1, 2==2, 3<5: denom reaches s=3 and the merge stops before 5, 6
    assert oracle.mash_compare(u64(1, 2, 3, 4), u64(1, 2, 5, 6), 3) == (2, 3)
    # leftovers top the denominator up but never past s
    assert oracle.mash_compare(u64(1), u64(2, 3, 4, 5, 6), 4) == (0, 4)
    assert oracle.mash_compare(u64(1), u64(2, 3), 10) == (0, 3)


def test_empty_vs_empty_is_distance_one():
    empty = u64()
    assert oracle.mash_compare(empty, empty, 1000) == (0, 0)
    assert oracle.jaccard(0, 0) == 0.0
    assert oracle.mash_distance(0, 0, 21) == 1.0


def test_distance_formula():
    j = 0.5
    assert oracle.mash_distance(1, 2, 21) == pytest.approx(-np.log(2 * j / (1 + j)) / 21)


def test_murmur3_smhasher_verification_value():
    assert oracle.smhasher_verification() == 0x6384BA69


def test_sketch_text():
    assert len(oracle.sketch_text("too short", 21, 1000, 42)) == 0
    text = "the quick brown fox jumps over the lazy dog " * 3
    sk = oracle.sketch_text(text, 21, 10, 42)
    assert len(sk) == 10 and np.all(np.diff(sk) > 0)
    full = oracle.sketch_text(text, 21, 1000, 42)
    assert np.array_equal(sk, full[:10])  # bottom-s is a prefix of bottom-more


def test_decode_blob_roundtrip():
    h = u64(1, 2**63, 2**64 - 1)
    blob = (h ^ np.uint64(2**63)).view(np.int64).astype("<i8").tobytes()
    assert np.array_equal(oracle.decode_blob(blob), h)
    assert len(oracle.decode_blob(b"")) == 0


def test_true_pairs_matches_brute_force():
    rng = np.random.default_rng(3)
    base = np.unique(rng.integers(0, 2**40, 60, dtype=np.uint64))
    sk = {}
    for d in range(12):
        keep = rng.random(len(base)) < (0.95 if d % 3 else 0.5)
        extra = rng.integers(0, 2**40, 5, dtype=np.uint64)
        sk[d] = np.unique(np.concatenate([base[keep], extra]))[:50]
    sk[12] = u64()
    sk[13] = u64()
    brute = {(a, b) for a in sk for b in sk if a < b
             and oracle.jaccard(*oracle.mash_compare(sk[a], sk[b], 50)) >= 0.7}
    assert oracle.true_pairs(sk, 50, 0.7) == brute
    assert brute  # the case exercises real pairs


def test_digest_is_order_independent():
    a, b = np.array([3, 1, 2]), np.array([30, 10, 20])
    assert oracle.digest(a, b) == oracle.digest(a[::-1], b[::-1])
    assert oracle.digest(a, b) != oracle.digest(a, b[::-1])


def test_pair_recall():
    labels = {1: 1, 2: 1, 3: 3, 4: 3}
    assert oracle.pair_recall({(1, 2), (3, 4)}, labels) == 1.0
    assert oracle.pair_recall({(1, 2), (2, 3)}, labels) == 0.5
    assert oracle.pair_recall(set(), labels) == 1.0


# -- metric names ---------------------------------------------------------

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_metric_names_and_units():
    for names in (run.END_TO_END, run.per_layer_metrics()):
        assert len({n for n, _ in names}) == len(names)
        for name, unit in names:
            assert NAME.match(name), name
            assert UNIT.match(unit), (name, unit)


def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_metrics()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


# -- end to end -----------------------------------------------------------

def _run(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "dedupbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "dedupbench/run.py", "--workload", "web_sparse",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def _result(p) -> dict:
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_smoke_end_to_end_metrics():
    r = _result(_run("--workload", "web_sparse", "--seed", "5", "--seconds", "1",
                     "--trace", "0", "--scale", "tiny"))
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 2
    assert [n for n in r["metrics"]] == [n for n, _ in run.END_TO_END]
    assert r["metrics"]["recall"]["value"] >= run.MIN_RECALL
    assert all(m["value"] > 0 for m in r["metrics"].values())


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_traced(workload):
    r = _result(_run("--workload", workload, "--seed", "5", "--seconds", "1",
                     "--trace", "1", "--scale", "tiny"))
    assert r["correct"] and r["failed"] == 0
    assert [n for n in r["metrics"]] == [n for n, _ in run.per_layer_metrics()]
    m = {n: v["value"] for n, v in r["metrics"].items()}
    assert m["verify.rows_in"] == m["lsh.candidates"]
    # candidates are distinct pairs drawn from band buckets, star pairs
    # of hot buckets included, so never more than all in-bucket pairs
    assert m["verify.pairs"] <= m["lsh.candidates"] <= m["lsh.predicted_candidates"]
    assert m["pipeline.assign.rows_out"] == m["sketch.rows_in"]
