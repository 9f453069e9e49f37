"""Driver-side reference computations the benchmark checks outputs against.

Each takes plain Python rows (tuples collected from Spark) so it can be
tested without a Spark session.
"""

from __future__ import annotations

from collections.abc import Iterable


def union_find_clusters(
    entity_keys: Iterable[str], edges: Iterable[tuple[str, str]]
) -> dict[str, str]:
    """Connected components over ``edges``; every entity maps to the
    smallest key of its component (singletons map to themselves) — the
    engine's min-key cluster id."""
    parent: dict[str, str] = {k: k for k in entity_keys}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {k: find(k) for k in parent}


def best_rank1(
    dict_rows: Iterable[tuple[str, str, float]], success_threshold: float = 0.5
) -> dict[str, tuple[str, float]]:
    """Rank-1 dictionary match per entity over rows with score above the
    threshold, ordered by score descending, then ``right_key`` ascending."""
    best: dict[str, tuple[str, float]] = {}
    for left, right, score in dict_rows:
        if score is None or not score > success_threshold:
            continue
        cur = best.get(left)
        if cur is None or (-score, right) < (-cur[1], cur[0]):
            best[left] = (right, score)
    return best


def ranked_candidates(
    dict_rows: Iterable[tuple[str, str, float]], top_k: int
) -> dict[str, list[tuple[str, float]]]:
    """Top-k (right_key, score) per entity, score descending then
    right_key ascending."""
    per: dict[str, list[tuple[str, float]]] = {}
    for left, right, score in dict_rows:
        per.setdefault(left, []).append((right, score))
    return {
        k: sorted(v, key=lambda rs: (-rs[1], rs[0]))[:top_k] for k, v in per.items()
    }


def review_page(
    dict_rows: Iterable[tuple[str, str, float]],
    page: int,
    per_page: int,
    top_k: int = 10,
) -> list[tuple[str, float, list[str]]]:
    """(left_key, highest score, ranked match ids) for one review page:
    entities ordered by key, paginated."""
    ranked = ranked_candidates(dict_rows, top_k)
    keys = sorted(ranked)[(page - 1) * per_page : page * per_page]
    return [(k, ranked[k][0][1], [r for r, _ in ranked[k]]) for k in keys]


def job_status(
    dict_rows: Iterable[tuple[str, str, float]], success_threshold: float = 0.5
) -> tuple[int, int]:
    """(total entities, entities whose best score beats the threshold)."""
    top: dict[str, float] = {}
    for left, _, score in dict_rows:
        top[left] = max(top.get(left, float("-inf")), score)
    return len(top), sum(1 for s in top.values() if s > success_threshold)


def pair_f1(
    labeled: Iterable[tuple[str, str, bool]], predicted: set[tuple[str, str]]
) -> tuple[float, int, int, int]:
    """F1 of ``predicted`` match pairs against labeled pairs; pairs are
    compared unordered. Returns (f1, tp, fp, fn)."""
    pred = {tuple(sorted(p)) for p in predicted}
    tp = fp = fn = 0
    for a, b, is_match in labeled:
        hit = tuple(sorted((a, b))) in pred
        if is_match and hit:
            tp += 1
        elif is_match:
            fn += 1
        elif hit:
            fp += 1
    denom = 2 * tp + fp + fn
    return (2 * tp / denom if denom else 1.0), tp, fp, fn


def positive_recall(
    labeled: Iterable[tuple[str, str, bool]], candidates: set[tuple[str, str]]
) -> float:
    """Share of labeled positive pairs present among the candidate pairs."""
    cand = {tuple(sorted(p)) for p in candidates}
    pos = [tuple(sorted((a, b))) for a, b, m in labeled if m]
    return sum(1 for p in pos if p in cand) / len(pos) if pos else 1.0


def best_match_accuracy(
    best: dict[str, str | None], true_auth: dict[str, str]
) -> float:
    """Share of entities (those with a known true authority id) whose best
    ``right_key`` is that id; an entity with no best match counts as wrong."""
    keys = [k for k in best if k in true_auth]
    if not keys:
        return 0.0
    return sum(1 for k in keys if best[k] == true_auth[k]) / len(keys)
