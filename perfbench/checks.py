"""Reference computations the benchmark compares the program against.

Each check returns a list of failure messages; an empty list passes.
"""

from __future__ import annotations

import hashlib
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

F1_FLOOR = 0.99


def pair_f1(labeled: pd.DataFrame, pairs: pd.DataFrame,
            matches: pd.DataFrame) -> float:
    """Pairwise F1 over labeled pairs that share a block (i.e. appear
    among the candidate pairs); a pair not marked a match is a negative."""
    blocked = set(zip(pairs["id_a"], pairs["id_b"]))
    matched = set(zip(matches["id_a"], matches["id_b"]))
    tp = fp = fn = 0
    for a, b, label in zip(labeled["id_a"], labeled["id_b"], labeled["label"]):
        if (a, b) not in blocked:
            continue
        hit = (a, b) in matched
        tp += label and hit
        fp += (not label) and hit
        fn += label and not hit
    if tp == 0:
        return 0.0
    precision, recall = tp / (tp + fp), tp / (tp + fn)
    return 2 * precision * recall / (precision + recall)


def union_find_clusters(ids, edges) -> dict:
    """id -> min id of its connected component."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def check_components(record_ids, matches: pd.DataFrame,
                     components: pd.DataFrame) -> list[str]:
    want = union_find_clusters(record_ids,
                               zip(matches["id_a"], matches["id_b"]))
    got = dict(zip(components["id"], components["cluster_id"]))
    if got != want:
        bad = sum(got.get(i) != c for i, c in want.items())
        return [f"components differ from union-find on {bad} of "
                f"{len(want)} records"]
    return []


def resolution_rows(resolution: pd.DataFrame) -> list[tuple]:
    """Order-free canonical form of a resolution table."""
    return sorted(
        (r.id, r.cluster_id, r.survivor_id, bool(r.is_survivor),
         tuple(r.superseded_by), tuple(r.supersedes))
        for r in resolution.itertuples(index=False))


def resolution_checksum(resolution: pd.DataFrame) -> str:
    return hashlib.sha256(
        repr(resolution_rows(resolution)).encode()).hexdigest()


def _gram_hash(gram: str) -> int:
    # functions.hashing.token_hash64: first 15 hex digits of md5
    return int(hashlib.md5(gram.encode()).hexdigest()[:15], 16)


def ngram_jaccard(a: str, b: str, n: int) -> float:
    """Jaccard of distinct hashed char n-grams (texts shorter than n are
    one gram), rounded half-up to 6 decimals like the program."""
    def grams(s):
        if len(s) < n:
            return {_gram_hash(s)}
        return {_gram_hash(s[i:i + n]) for i in range(len(s) - n + 1)}

    ga, gb = grams(a), grams(b)
    inter = len(ga & gb)
    union = len(ga) + len(gb) - inter
    jac = inter / union if union else 0.0
    return float(Decimal(repr(jac)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def check_ngram_sample(out: pd.DataFrame, text: dict, n: int,
                       threshold: float, sample: int,
                       rng: np.random.Generator) -> list[str]:
    fails = []
    if (out["jaccard"] < threshold).any():
        fails.append("ngram_jaccard emitted pairs below the threshold")
    if not (out["id_a"] < out["id_b"]).all():
        fails.append("ngram_jaccard emitted unordered pairs")
    rows = out.iloc[rng.permutation(len(out))[:sample]]
    for a, b, jac in zip(rows["id_a"], rows["id_b"], rows["jaccard"]):
        want = ngram_jaccard(text[a], text[b], n)
        if want != jac:
            fails.append(f"jaccard({a[:8]},{b[:8]}) = {jac}, python sets "
                         f"give {want}")
    return fails


def labeled_recall(labeled: pd.DataFrame, found: pd.DataFrame) -> float:
    """Share of labeled duplicate pairs present in ``found``."""
    pos = labeled[labeled["label"]]
    got = set(zip(found["id_a"], found["id_b"]))
    hits = sum((a, b) in got for a, b in zip(pos["id_a"], pos["id_b"]))
    return hits / max(1, len(pos))


def exact_topk(vecs: np.ndarray, qids: np.ndarray, k: int) -> dict:
    """query id -> its k nearest item ids by cosine rounded to 6
    decimals, ties broken by the smaller id, self excluded."""
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = np.round(unit[qids] @ unit.T, 6)
    out = {}
    for row, q in zip(cos, qids):
        row[q] = -np.inf
        order = np.lexsort((np.arange(len(row)), -row))
        out[int(q)] = [int(i) for i in order[:k]]
    return out


def topk_lists(res: pd.DataFrame) -> dict:
    res = res.sort_values(["query_id", "rank"])
    return {int(q): [int(i) for i in g["item_id"]]
            for q, g in res.groupby("query_id")}


def check_topk(got: dict, want: dict, vecs: np.ndarray) -> list[str]:
    """Exact equality, except that two items whose cosines differ by less
    than the 6-decimal rounding step may swap (summation order differs
    between the program and numpy)."""
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    fails = []
    for q, ids in want.items():
        if got.get(q) == ids:
            continue
        mine = got.get(q, [])
        if len(mine) == len(ids):
            cos_got = unit[mine] @ unit[q]
            cos_want = unit[ids] @ unit[q]
            if np.allclose(np.sort(cos_got), np.sort(cos_want), atol=1e-6):
                continue
        fails.append(f"bruteforce top-k of query {q} differs from numpy")
    return fails


def recall_at_k(got: dict, want: dict) -> float:
    hits = sum(len(set(got.get(q, [])) & set(ids)) for q, ids in want.items())
    return hits / max(1, sum(len(ids) for ids in want.values()))
