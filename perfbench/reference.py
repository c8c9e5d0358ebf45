"""Exact pure-Python references for the dedup tier's output contracts.

The registry's DuckDB oracles for k20 and k18 are all-pairs SQL that
runs for minutes on a 5000-document corpus, too long to run once per
benchmark run.  These references compute the same contracts (the oracle
SQL in plans/llm.py) exactly, with a prefix-filtered candidate set:
under one global token order, two sets with Jaccard >= t share a token
within the first ``|X| - ceil(t*|X|) + 1`` tokens of each, so no pair
that passes is skipped.  Rounding follows the engines' ROUND: half up on
the double's shortest decimal form.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal


def round6(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def _candidates(sets: list[frozenset], t: float) -> set[tuple[int, int]]:
    df = Counter(tok for s in sets for tok in s)
    order = {tok: r for r, tok in enumerate(sorted(df, key=lambda tok: (df[tok], tok)))}
    index: dict[int, list[int]] = defaultdict(list)
    out: set[tuple[int, int]] = set()
    for i, s in enumerate(sets):
        ranks = sorted(order[tok] for tok in s)
        # 1e-9 below t: a float product just above an integer must not
        # shorten the prefix
        prefix = len(ranks) - math.ceil((t - 1e-9) * len(ranks)) + 1
        for r in ranks[:prefix]:
            posting = index[r]
            out.update((j, i) for j in posting)
            posting.append(i)
    return out


def _jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def token_shingles(text: str) -> frozenset:
    t = text.split(" ")
    if len(t) < 3:
        return frozenset([text])
    return frozenset(" ".join(t[i : i + 3]) for i in range(len(t) - 2))


def char_grams(text: str) -> frozenset:
    if len(text) < 10:
        return frozenset([text])
    return frozenset(text[i : i + 10] for i in range(len(text) - 9))


def near_dup_pairs(doc_ids: list[int], texts: list[str]) -> list[tuple[int, int, float]]:
    """k2's contract: (a, b, jaccard) for a < b with rounded token-3-shingle
    Jaccard >= 0.5."""
    sets = [token_shingles(t) for t in texts]
    out = []
    for i, j in _candidates(sets, 0.5):
        jac = round6(_jaccard(sets[i], sets[j]))
        if jac >= 0.5:
            a, b = sorted((doc_ids[i], doc_ids[j]))
            out.append((a, b, jac))
    return out


def dedup_clusters(doc_ids: list[int], texts: list[str]) -> list[tuple[int, int]]:
    """k20's contract: (doc_id, cluster_keeper) for every document in a
    near-dup pair, the keeper being the lowest id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in near_dup_pairs(doc_ids, texts):
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return [(d, find(d)) for d in list(parent)]


def ngram_jaccard_pairs(
    doc_ids: list[int], texts: list[str], n_chars: list[int]
) -> list[tuple[int, int, float]]:
    """k18's contract: (a, b, jaccard) for a < b whose lengths pass the
    0.7 ratio window and whose char-10-gram Jaccard is >= 0.7."""
    sets = [char_grams(t) for t in texts]
    out = []
    for i, j in _candidates(sets, 0.7):
        if doc_ids[i] > doc_ids[j]:
            i, j = j, i
        na, nb = n_chars[i], n_chars[j]
        if not math.trunc(na * 0.7) <= nb <= math.trunc(na / 0.7):
            continue
        jac = _jaccard(sets[i], sets[j])
        if jac >= 0.7:
            out.append((doc_ids[i], doc_ids[j], round6(jac)))
    return out
