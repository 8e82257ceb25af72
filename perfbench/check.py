"""Output checks. Each returns an error string, or None when the output
is right; a wrong output counts as a failed op."""

from __future__ import annotations

import numpy as np

TOL = 1e-6


def topk(hits: list[dict], ids: np.ndarray, vecs: np.ndarray, q, k: int,
         id_col: str = "id") -> str | None:
    """Tie-aware check of a cosine top-k against numpy brute force over
    the allowed rows (``ids``/``vecs``): the score at every rank must
    match the true k-th best scores, and every returned id must carry
    its true score, so ids may differ only among tied scores."""
    q = np.asarray(q, dtype=np.float64)
    scores = vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    want = np.sort(scores)[::-1][:k]
    if len(hits) != len(want):
        return f"expected {len(want)} hits, got {len(hits)}"
    true = dict(zip(ids.tolist(), scores.tolist()))
    seen = set()
    for rank, (h, w) in enumerate(zip(hits, want), 1):
        hid, hs = h[id_col], h["score"]
        if hid in seen:
            return f"id {hid} returned twice"
        seen.add(hid)
        if hid not in true:
            return f"id {hid} is not an allowed live row"
        if abs(hs - w) > TOL or abs(hs - true[hid]) > TOL:
            return f"rank {rank}: id {hid} score {hs} (true {true[hid]}, expected {w})"
    return None


def ranked(hits: list[dict], k: int, *, ranks: bool, id_col: str = "id") -> str | None:
    """fulltext/hybrid: at most k hits, distinct ids, non-increasing
    scores, and ranks 1..n where the op returns them."""
    if len(hits) > k:
        return f"{len(hits)} hits > limit {k}"
    if len({h[id_col] for h in hits}) != len(hits):
        return "duplicate ids"
    s = [h["score"] for h in hits]
    if any(a < b for a, b in zip(s, s[1:])):
        return f"scores not non-increasing: {s}"
    if ranks and [h["rank"] for h in hits] != list(range(1, len(hits) + 1)):
        return f"ranks {[h['rank'] for h in hits]}"
    return None


def repeatable(memo: dict, key, hits: list[dict], id_col: str = "id") -> str | None:
    """The same query on an unchanged snapshot must give the same answer,
    up to float summation order: rank-wise scores agree within 1e-9, an
    id in both answers keeps its score, and ids differ only at a tied
    cut-off score."""
    prev = memo.setdefault(key, hits)
    if len(prev) != len(hits):
        return f"repeated query {key!r}: {len(prev)} then {len(hits)} hits"
    a = {h[id_col]: h["score"] for h in prev}
    b = {h[id_col]: h["score"] for h in hits}
    for x, y in zip(prev, hits):
        if abs(x["score"] - y["score"]) > 1e-9:
            return f"repeated query {key!r}: scores {x['score']} then {y['score']}"
    cut = hits[-1]["score"] if hits else 0.0
    for i in a.keys() | b.keys():
        if i in a and i in b:
            if abs(a[i] - b[i]) > 1e-9:
                return f"repeated query {key!r}: id {i} score changed"
        elif abs(a.get(i, b.get(i)) - cut) > 1e-9:
            return f"repeated query {key!r}: id {i} appeared or vanished"
    return None


def equal(what: str, got, want) -> str | None:
    return None if got == want else f"{what}: got {got!r}, expected {want!r}"
