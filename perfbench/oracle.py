"""Expected selections, computed with NumPy only.

An independent re-statement of the greedy selection contract the package
documents (Brown et al. 2012 criteria, scores compared at 5 decimals via
``floor(score * 1e5 + 0.5)``, ties to the lowest feature index, MI rounded
to float32 before the criterion algebra).  Nothing here imports the
package, so a defect in the code under test cannot hide in its own
expected output.
"""

from __future__ import annotations

import math

import numpy as np

TIE_DECIMALS = 5


def _mi_from_joint(joint: np.ndarray, n: int) -> float:
    p = joint.astype(np.float64) / float(n)
    px = p.sum(axis=1, keepdims=True)
    py = p.sum(axis=0, keepdims=True)
    nz = p > 0
    with np.errstate(divide="ignore", invalid="ignore"):
        return float((p * np.log2(p / (px * py)))[nz].sum())


def mutual_info(x: np.ndarray, y: np.ndarray, dx: int, dy: int) -> float:
    """MI(x; y) in bits, float32-rounded, from two integer code vectors."""
    joint = np.bincount(x.astype(np.int64) * dy + y, minlength=dx * dy)
    return float(np.float32(_mi_from_joint(joint.reshape(dx, dy), len(x))))


def _tie_key(score: float) -> int:
    return math.floor(score * 10.0**TIE_DECIMALS + 0.5)


def greedy_select(columns: list[np.ndarray], label: np.ndarray, k: int, criterion: str) -> list[int]:
    """Indices of the k features picked greedily under ``criterion``.

    Supports ``mim`` (top-k relevance) and ``mrmr`` (relevance minus the
    mean MI with the already-selected features) — the two criteria the
    benchmark's workloads fit.
    """
    if criterion not in ("mim", "mrmr"):
        raise ValueError(f"oracle has no criterion {criterion!r}")
    dims = [int(c.max()) + 1 for c in columns]
    dy = int(label.max()) + 1
    label = label.astype(np.int64)
    rel = [mutual_info(c, label, d, dy) for c, d in zip(columns, dims)]
    redundancy = [0.0] * len(columns)
    remaining = list(range(len(columns)))
    path: list[int] = []
    while len(path) < k:
        def score(i: int) -> float:
            if criterion == "mim" or not path:
                return rel[i]
            return rel[i] - redundancy[i] / len(path)

        best = max(remaining, key=lambda i: (_tie_key(score(i)), -i))
        path.append(best)
        remaining.remove(best)
        if criterion == "mrmr" and len(path) < k:
            sel = columns[best].astype(np.int64)
            for i in remaining:
                redundancy[i] += mutual_info(columns[i], sel, dims[i], dims[best])
    return path


def bucketize(values: np.ndarray, splits: list[float]) -> np.ndarray:
    """Bucket ids under Spark ``Bucketizer`` semantics: bucket i holds
    ``splits[i] <= v < splits[i+1]``, the last bucket also holds its upper
    bound."""
    s = np.asarray(splits, dtype=np.float64)
    ids = np.searchsorted(s, values.astype(np.float64), side="right") - 1
    return np.minimum(ids, len(s) - 2)
