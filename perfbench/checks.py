"""Output checks with the benchmark's own code.

Nothing here imports the engine: near-dup similarities are recomputed
from the raw text with independent implementations of each family's
definition, and cluster labels are checked with plain pandas. Every
check raises ``CheckFailed`` with the first offending row.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import defaultdict

import numpy as np
import pandas as pd


class CheckFailed(Exception):
    pass


# -- entity resolution -------------------------------------------------------
def check_labels(labels: pd.DataFrame, record_ids: set[str], min_size: int, max_size: int) -> None:
    """One row per record, only known records, every cluster at least
    ``min_size`` and flagged ``oversized`` exactly when above ``max_size``."""
    dup = labels["record_id"][labels["record_id"].duplicated()]
    if len(dup):
        raise CheckFailed(f"record {dup.iloc[0]} has more than one label row")
    unknown = set(labels["record_id"]) - record_ids
    if unknown:
        raise CheckFailed(f"label for unknown record {sorted(unknown)[0]}")
    size = labels.groupby("cluster_id")["record_id"].transform("size")
    small = labels[size < min_size]
    if len(small):
        raise CheckFailed(f"cluster {small['cluster_id'].iloc[0]} is below min_cluster_size {min_size}")
    wrong = labels[labels["oversized"].astype(bool) != (size > max_size)]
    if len(wrong):
        raise CheckFailed(f"cluster {wrong['cluster_id'].iloc[0]} has a wrong oversized flag")


def pairwise_counts(labels: pd.DataFrame, labeled: pd.DataFrame) -> dict[str, int]:
    """tp/fp/fn of "same cluster" over the labeled pairs; a record
    without a label is in no cluster."""
    cid = dict(zip(labels["record_id"], labels["cluster_id"]))
    c1 = labeled["left"].map(cid)
    c2 = labeled["right"].map(cid)
    pred = (c1.notna() & c2.notna() & (c1 == c2)).to_numpy()
    match = labeled["match"].astype(bool).to_numpy()
    return {"tp": int((pred & match).sum()), "fp": int((pred & ~match).sum()),
            "fn": int((~pred & match).sum())}


def check_precision(counts: dict[str, int], engine: dict, floor: float) -> float:
    """Pairwise precision at least ``floor``, and the engine's
    ``reports.pairwise_metrics`` agreeing with the recount. Returns the
    precision."""
    for k in ("tp", "fp", "fn"):
        if counts[k] != engine[k]:
            raise CheckFailed(f"pairwise {k}: engine reports {engine[k]}, recount gives {counts[k]}")
    prec = counts["tp"] / max(counts["tp"] + counts["fp"], 1)
    if prec < floor:
        raise CheckFailed(f"pairwise precision {prec:.4f} below {floor}")
    return prec


def dup_links(labels: pd.DataFrame) -> int:
    """Duplicate pairs the labels declare, one per link: clustered
    records minus clusters, the edge count of a spanning forest of the
    clusters (the records a dedup pass would drop)."""
    return int(len(labels) - labels["cluster_id"].nunique())


def pair_links(pairs) -> int:
    """The same count for a set of duplicate pairs: records touched
    minus connected components of the pair graph."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    links = 0
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            links += 1
    return links


# -- near-dup definitions ----------------------------------------------------
def char_shingles(text: str, k: int) -> frozenset[str]:
    """Distinct k-codepoint substrings; a shorter text is one shingle."""
    if len(text) < k:
        return frozenset([text])
    return frozenset(text[i : i + k] for i in range(len(text) - k + 1))


_MASK64 = (1 << 64) - 1
_FNV_PRIME = 1099511628211


def winnow_fingerprints(text: str, k: int = 5, w: int = 4) -> frozenset[int]:
    """Winnowing (Schleimer et al. SIGMOD'03): Karp-Rabin hash of every
    k-byte gram, sum of b[i+j]*P^j mod 2^64 reduced mod 2^62, then the
    distinct minima of every window of w hashes."""
    data = text.encode("utf-8")
    if len(data) < k:
        return frozenset()
    powers = [pow(_FNV_PRIME, j, 1 << 64) for j in range(k)]
    hashes = [
        (sum(data[i + j] * powers[j] for j in range(k)) & _MASK64) % (1 << 62)
        for i in range(len(data) - k + 1)
    ]
    if len(hashes) <= w:
        return frozenset([min(hashes)])
    return frozenset(min(hashes[i : i + w]) for i in range(len(hashes) - w + 1))


_WORD_SPLIT = re.compile(r"\W+", re.ASCII)


def simhash64(text: str) -> int:
    """64-bit SimHash over the distinct lowercase word tokens: bit b of
    the result is set when more tokens have bit b set in the little-
    endian first 8 bytes of their md5 than have it clear."""
    tokens = {t for t in _WORD_SPLIT.split(text.lower()) if t}
    acc = [0] * 64
    for t in tokens:
        h = int.from_bytes(hashlib.md5(t.encode("utf-8")).digest()[:8], "little")
        for b in range(64):
            acc[b] += 1 if (h >> b) & 1 else -1
    return sum(1 << b for b in range(64) if acc[b] > 0)


def jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    union = len(a) + len(b) - inter
    return inter / union if union else 0.0


def exact_jaccard_pairs(sets: dict, threshold: float) -> set[tuple]:
    """Every pair (id1 < id2) with Jaccard >= threshold, exactly: prefix
    filtering over tokens ordered by corpus frequency (a pair at or above
    the threshold shares a token among both prefixes), then a full
    verify of each candidate."""
    freq: dict = defaultdict(int)
    for s in sets.values():
        for t in s:
            freq[t] += 1
    index: dict = defaultdict(list)
    out = set()
    for doc in sorted(sets, key=lambda d: (len(sets[d]), d)):
        s = sets[doc]
        if not s:
            continue
        ordered = sorted(s, key=lambda t: (freq[t], t))
        # a longer prefix only adds candidates: round t*|s| down on ties
        prefix = ordered[: len(s) - math.ceil(threshold * len(s) - 1e-9) + 1]
        cands = set()
        for t in prefix:
            cands.update(index[t])
            index[t].append(doc)
        for other in cands:
            if jaccard(s, sets[other]) >= threshold:
                out.add((min(doc, other), max(doc, other)))
    return out


# -- corpus dedup checks -----------------------------------------------------
def check_exact(rows: pd.DataFrame, texts: dict[str, str]) -> list[tuple]:
    """The engine's duplicate groups (canonical_id, dup_count > 1) equal
    the groups of identical texts. Returns (canonical, member) pairs
    linking each group."""
    groups: dict[str, list[str]] = defaultdict(list)
    for doc, text in texts.items():
        groups[text].append(doc)
    dups = [ids for ids in groups.values() if len(ids) > 1]
    want = {(min(ids), len(ids)) for ids in dups}
    got = set(zip(rows["canonical_id"], rows["dup_count"].astype(int)))
    if got != want:
        diff = sorted(got ^ want)[0]
        raise CheckFailed(f"exact duplicate groups differ, e.g. {diff}")
    return [(min(ids), d) for ids in dups for d in ids if d != min(ids)]


def _check_pairs(pairs: pd.DataFrame, family: str) -> None:
    bad = pairs[~(pairs["id1"] < pairs["id2"])]
    if len(bad):
        raise CheckFailed(f"{family}: pair {tuple(bad.iloc[0][['id1', 'id2']])} is not ordered id1 < id2")
    if pairs.duplicated(["id1", "id2"]).any():
        raise CheckFailed(f"{family}: a pair is emitted twice")


def check_similar(pairs: pd.DataFrame, family: str, sim, threshold: float) -> None:
    """Recompute ``sim(id1, id2)`` for every emitted pair; fail on any
    pair below ``threshold``."""
    _check_pairs(pairs, family)
    for a, b in zip(pairs["id1"], pairs["id2"]):
        v = sim(a, b)
        if v < threshold:
            raise CheckFailed(f"{family}: pair ({a}, {b}) recomputes to {v:.6f} < {threshold}")


def check_hamming(pairs: pd.DataFrame, simhashes: dict[str, int], max_hamming: int) -> None:
    _check_pairs(pairs, "simhash")
    for a, b in zip(pairs["id1"], pairs["id2"]):
        d = bin(simhashes[a] ^ simhashes[b]).count("1")
        if d > max_hamming:
            raise CheckFailed(f"simhash: pair ({a}, {b}) recomputes to Hamming {d} > {max_hamming}")


def cosine(vectors: dict[str, np.ndarray]):
    def sim(a, b):
        va, vb = vectors[a], vectors[b]
        den = float(np.linalg.norm(va) * np.linalg.norm(vb))
        return float(va @ vb) / den if den > 0 else 0.0

    return sim


def f1(found: set, truth: set) -> float:
    tp = len(found & truth)
    if not tp:
        return 0.0
    prec, rec = tp / len(found), tp / len(truth)
    return 2 * prec * rec / (prec + rec)
