"""The benchmark's own tests.

    python3 -m pytest perfbench -q            # checks only, seconds
    python3 -m pytest perfbench -q --runslow  # plus a tiny run of every workload, minutes

The tiny runs start the benchmark with the command BENCHMARK.json names,
at about 300 records, and compare the printed metric names with BENCHMARK.json.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

import checks

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- entity-resolution checks --------------------------------------------------
def _labels(rows):
    return pd.DataFrame(rows, columns=["record_id", "cluster_id", "oversized"])


GOOD = [("a", 0, False), ("b", 0, False), ("c", 1, False), ("d", 1, False)]
IDS = {"a", "b", "c", "d", "e"}


def test_good_labels_pass():
    checks.check_labels(_labels(GOOD), IDS, 2, 100)
    assert checks.dup_links(_labels(GOOD)) == 2


@pytest.mark.parametrize(
    "rows, msg",
    [
        (GOOD + [("a", 1, False)], "more than one label row"),
        (GOOD + [("z", 1, False)], "unknown record"),
        (GOOD + [("e", 2, False)], "below min_cluster_size"),
        ([("a", 0, True), ("b", 0, True)] + GOOD[2:], "oversized flag"),
    ],
)
def test_corrupted_labels_fail(rows, msg):
    with pytest.raises(checks.CheckFailed, match=msg):
        checks.check_labels(_labels(rows), IDS, 2, 100)


def test_oversized_cluster_must_be_flagged():
    rows = [(r, 0, False) for r in "abc"]
    with pytest.raises(checks.CheckFailed, match="oversized"):
        checks.check_labels(_labels(rows), set("abc"), 2, 2)
    checks.check_labels(_labels([(r, 0, True) for r in "abc"]), set("abc"), 2, 2)


LABELED = pd.DataFrame(
    {"left": ["a", "c", "a", "b"], "right": ["b", "d", "c", "e"], "match": [True, True, False, False]}
)


def test_precision_check():
    counts = checks.pairwise_counts(_labels(GOOD), LABELED)
    assert counts == {"tp": 2, "fp": 0, "fn": 0}
    assert checks.check_precision(counts, dict(counts), 0.99) == 1.0
    merged = _labels([(r, 0, False) for r in "abcd"])  # one cluster: a~c is a false positive
    bad = checks.pairwise_counts(merged, LABELED)
    assert bad == {"tp": 2, "fp": 1, "fn": 0}
    with pytest.raises(checks.CheckFailed, match="precision"):
        checks.check_precision(bad, dict(bad), 0.99)
    with pytest.raises(checks.CheckFailed, match="engine reports"):
        checks.check_precision(counts, {**counts, "tp": 3}, 0.99)


# -- dedup checks --------------------------------------------------------------
TEXTS = {
    "d1": "Smith, John | The history of Baceldi | London",
    "d2": "Smith, John | The history of Baceldi | London",
    "d3": "Smith, John | The history of Baceldi | Londo",
    "d4": "Tanaka, Yuki | Poems",
}


def _pairs(rows, col):
    return pd.DataFrame(rows, columns=["id1", "id2", col])


def test_exact_check():
    good = pd.DataFrame({"canonical_id": ["d1"], "dup_count": [2]})
    assert checks.check_exact(good, TEXTS) == [("d1", "d2")]
    with pytest.raises(checks.CheckFailed, match="exact"):
        checks.check_exact(pd.DataFrame({"canonical_id": ["d2"], "dup_count": [2]}), TEXTS)


@pytest.mark.parametrize(
    "family, sets",
    [
        ("minhash", {k: checks.char_shingles(t, 5) for k, t in TEXTS.items()}),
        ("winnow", {k: checks.winnow_fingerprints(t) for k, t in TEXTS.items()}),
    ],
)
def test_jaccard_checks(family, sets):
    sim = lambda a, b: checks.jaccard(sets[a], sets[b])  # noqa: E731
    checks.check_similar(_pairs([("d1", "d3", 0.9)], "jaccard"), family, sim, 0.8)
    with pytest.raises(checks.CheckFailed, match="recomputes"):
        checks.check_similar(_pairs([("d1", "d4", 0.9)], "jaccard"), family, sim, 0.8)
    with pytest.raises(checks.CheckFailed, match="not ordered"):
        checks.check_similar(_pairs([("d3", "d1", 0.9)], "jaccard"), family, sim, 0.8)
    with pytest.raises(checks.CheckFailed, match="twice"):
        checks.check_similar(_pairs([("d1", "d3", 0.9)] * 2, "jaccard"), family, sim, 0.8)


def test_simhash_check():
    sims = {k: checks.simhash64(t) for k, t in TEXTS.items()}
    assert sims["d1"] == sims["d2"]
    checks.check_hamming(_pairs([("d1", "d2", 0)], "hamming"), sims, 3)
    with pytest.raises(checks.CheckFailed, match="Hamming"):
        checks.check_hamming(_pairs([("d1", "d4", 0)], "hamming"), sims, 3)


def test_cosine_check():
    vecs = {"a": np.array([1.0, 0.0]), "b": np.array([0.99, 0.05]), "c": np.array([0.0, 1.0])}
    checks.check_similar(_pairs([("a", "b", 0.99)], "cosine"), "embedding", checks.cosine(vecs), 0.95)
    with pytest.raises(checks.CheckFailed, match="recomputes"):
        checks.check_similar(_pairs([("a", "c", 0.99)], "cosine"), "embedding", checks.cosine(vecs), 0.95)


def test_exact_jaccard_pairs_matches_brute_force():
    rng = random.Random(7)
    sets = {f"d{i:02d}": frozenset(rng.sample(range(30), rng.randint(1, 12))) for i in range(60)}
    for i in range(0, 60, 6):  # plant near-duplicates
        sets[f"e{i:02d}"] = sets[f"d{i:02d}"] | {99}
    for t in (0.5, 0.8):
        want = {
            (a, b)
            for a, b in itertools.combinations(sorted(sets), 2)
            if checks.jaccard(sets[a], sets[b]) >= t
        }
        assert checks.exact_jaccard_pairs(sets, t) == want


def test_pair_links_count_spanning_forest_edges():
    assert checks.pair_links([("a", "b"), ("b", "c"), ("a", "c"), ("d", "e")]) == 3
    assert checks.pair_links([]) == 0


def test_f1():
    assert checks.f1({1, 2}, {1, 2}) == 1.0
    assert checks.f1({1, 2}, {1, 3}) == 0.5
    assert checks.f1(set(), {1}) == 0.0


# -- tiny end-to-end runs ------------------------------------------------------
def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.slow
@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["er_batch", "er_attach", "corpus_dedup"])
def test_tiny_run_prints_declared_metrics(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--records", "300"],
        cwd=ROOT, capture_output=True, text=True, timeout=200,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    declared = _spec()["per_layer" if trace else "end_to_end"]
    assert list(out["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
    if trace:
        # layer self times plus the uncovered driver gap add up to the traced wall
        m = {k: v["value"] for k, v in out["metrics"].items()}
        parts = [k for k in m if k.endswith(".busy_s")] + ["sinks.bookkeeping_s", "pipeline.driver_gap_s"]
        parts += [f"dedup.{f}_s" for f in ("exact", "minhash", "winnow", "simhash")] + ["simsearch.gemm_s"]
        assert sum(m[k] for k in parts) == pytest.approx(m["trace.wall_s"], abs=1e-6)


def test_run_refuses_a_directory_without_the_engine(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", "er_batch",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
