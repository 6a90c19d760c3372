"""Correctness checks for the benchmark's outputs.

Each check returns a list of mismatch strings; an empty list means the
output is correct. The runner counts every op with a mismatch as
failed, so mismatches land in ``error_rate``.
"""

from __future__ import annotations

import os
import sys

import numpy as np

SCORE_DECIMALS = 6
# cosine scores are rounded to 6 decimals by the engine; numpy and the
# JVM may round a value sitting on a rounding boundary differently
SCORE_TOL = 1.5e-6


def unit_rows(m: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Row-normalised copy and a mask of zero-norm rows."""
    m = np.asarray(m, dtype=np.float64)
    n = np.linalg.norm(m, axis=1, keepdims=True)
    return m / np.maximum(n, 1e-300), (n == 0).ravel()


def numpy_topk(
    ids: np.ndarray, vecs: np.ndarray, queries: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Brute-force cosine top-k: (top ids, top scores, full score
    matrix). Order: score rounded to 6 decimals desc, then id asc —
    the engine's ranking contract."""
    V, vz = unit_rows(vecs)
    Q, _ = unit_rows(queries)
    S = np.round(Q @ V.T, SCORE_DECIMALS)
    S[:, vz] = -np.inf
    top = np.empty((len(Q), min(k, len(ids))), dtype=np.int64)
    for i in range(len(Q)):
        order = np.lexsort((ids, -S[i]))
        top[i] = order[: top.shape[1]]
    return ids[top], np.take_along_axis(S, top, axis=1), S


def topk_mismatches(
    got_ids, got_scores, exp_ids, exp_scores, true_score, tol=SCORE_TOL
) -> list[str]:
    """``got`` is a correct top-k iff it has the expected length, no
    repeated id, each reported score is the id's true score, and the
    rank-ordered scores equal the expected ones (ids may differ only
    where scores tie within ``tol``). ``true_score(id)`` gives the
    brute-force score of any id."""
    got_ids, exp_ids = list(got_ids), list(exp_ids)
    if len(got_ids) != len(exp_ids):
        return [f"{len(got_ids)} results, expected {len(exp_ids)}"]
    if len(set(got_ids)) != len(got_ids):
        return [f"repeated ids {got_ids}"]
    out = []
    for r, (gi, gs, ei, es) in enumerate(
        zip(got_ids, got_scores, exp_ids, exp_scores)
    ):
        if gs is None or abs(gs - es) > tol:
            out.append(f"rank {r + 1}: score {gs} expected {es}")
        elif gi != ei and abs(true_score(gi) - gs) > tol:
            out.append(
                f"rank {r + 1}: id {gi} (true score {true_score(gi)}) "
                f"expected {ei}"
            )
    return out


def recall(got: list, exact: list) -> float:
    """Share of the exact top-k ids that the approximate result holds."""
    return len(set(got) & set(exact)) / max(1, len(exact))


def ranks_and_metadata(rows: list[dict], k: int) -> list[str]:
    """Search response shape: ranks exactly 1..k, metadata non-null."""
    out = []
    ranks = sorted(r["rank"] for r in rows)
    if ranks != list(range(1, k + 1)):
        out.append(f"ranks {ranks}, expected 1..{k}")
    for r in rows:
        for c in ("match_id", "match_stem", "class_id", "class_name", "score"):
            if r.get(c) is None:
                out.append(f"rank {r['rank']}: null {c}")
    return out


def index_mismatches(rows: list[dict], expected_rows: int) -> list[str]:
    """Built index: expected surviving box count, dense unique ids
    1..n, unit-norm embeddings."""
    out = []
    if len(rows) != expected_rows:
        out.append(f"{len(rows)} index rows, expected {expected_rows}")
    ids = sorted(r["id"] for r in rows)
    if ids != list(range(1, len(rows) + 1)):
        out.append(f"ids not dense 1..{len(rows)}")
    if rows:
        norms = np.linalg.norm(
            np.array([r["embedding"] for r in rows], dtype=np.float64), axis=1
        )
        worst = float(np.max(np.abs(norms - 1.0)))
        if worst > 1e-6:
            out.append(f"embedding norm off unit by {worst:.3g}")
    return out


def _oracle_tools():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tools = os.path.join(root, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import oracle_check

    return oracle_check


def duck_connection(sf_dir: str):
    return _oracle_tools().duck_connection(sf_dir)


def analytics_mismatches(name: str, spark_pdf, oracle_pdf) -> list[str]:
    """Registry result vs its DuckDB oracle, with the repo's own
    comparison rules (``tools/oracle_check.compare``); dtype notes are
    informational there and here."""
    issues = _oracle_tools().compare(name, spark_pdf, oracle_pdf)
    return [i for i in issues if not i.startswith("dtype note")]
