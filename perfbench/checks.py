"""Output checks. Each returns a list of problems; empty means correct."""

from __future__ import annotations

import numpy as np

SCORE_TOL = 1e-9


def exact_topk(q: np.ndarray, mat: np.ndarray, ids: np.ndarray, k: int,
               metric: str = "ip") -> tuple[np.ndarray, np.ndarray]:
    """NumPy exact top-k: (ids, scores) per query, best first, ties to the
    lower id. ``metric`` is "ip" (higher is better) or "l2" (lower)."""
    if metric == "ip":
        key = -(q @ mat.T)
    else:
        key = ((q[:, None, :] - mat[None, :, :]) ** 2).sum(axis=2)
    order = np.lexsort((np.broadcast_to(ids, key.shape), key), axis=1)[:, :k]
    return ids[order], np.take_along_axis(key, order, axis=1)


def group_rows(rows, qid: str, rank: str = "rank") -> dict:
    out: dict = {}
    for r in rows:
        out.setdefault(r[qid], []).append(r)
    return {q: sorted(v, key=lambda r: r[rank]) for q, v in out.items()}


def topk_shape(rows, n_queries: int, k: int, valid: set, id_col: str,
               score_col: str | None, descending: bool = True) -> list[str]:
    """Every query has ranks 1..k over k distinct valid ids, with scores
    that do not get better down the list."""
    problems = []
    groups = group_rows(rows, "query_id")
    if sorted(groups) != list(range(n_queries)):
        problems.append(f"query ids {sorted(groups)} != 0..{n_queries - 1}")
    for q, rs in groups.items():
        ids = [r[id_col] for r in rs]
        if [r["rank"] for r in rs] != list(range(1, k + 1)):
            problems.append(f"q{q}: ranks {[r['rank'] for r in rs]}")
        if len(set(ids)) != len(ids):
            problems.append(f"q{q}: duplicate ids {ids}")
        bad = [i for i in ids if i not in valid]
        if bad:
            problems.append(f"q{q}: ids outside the corpus {bad[:5]}")
        if score_col is not None:
            s = np.array([r[score_col] for r in rs], dtype="float64")
            step = np.diff(s) if descending else -np.diff(s)
            if (step > SCORE_TOL).any():
                problems.append(f"q{q}: scores out of order {s.tolist()}")
    return problems


def matches_exact(got_ids: list, ref_ids: np.ndarray, ref_key: dict) -> bool:
    """True when ``got_ids`` equals the exact ranking, or differs from it
    only where reference scores tie within SCORE_TOL."""
    if list(got_ids) == ref_ids.tolist():
        return True
    if len(got_ids) != len(ref_ids) or any(i not in ref_key for i in got_ids):
        return False
    return all(
        abs(ref_key[g] - ref_key[r]) <= SCORE_TOL
        for g, r in zip(got_ids, ref_ids.tolist())
    )


def recall(got_ids, ref_ids) -> float:
    return len(set(got_ids) & set(ref_ids.tolist())) / len(ref_ids)
