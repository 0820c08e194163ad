"""Pure helpers shared by the runner, the workloads and the steadiness
script: percentile selection, recall, exact top-k over numpy, result
checks, on-disk byte accounting and the metric-name rule.

Nothing here imports Spark, so the unit tests run in milliseconds.
"""

from __future__ import annotations

import math
import os
import re
import statistics

import numpy as np

# BENCHMARK.json names: a letter or digit first, then at most 63 more
# letters, digits, "_", "." or "-".
METRIC_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# Samples a tail percentile needs beyond it before it is reported.
TAIL_SAMPLES_BEYOND = 10


def valid_metric_name(name: str) -> bool:
    return bool(METRIC_NAME_RE.match(name))


def percentile(values, q: float) -> float:
    """Linear-interpolation percentile (numpy's default), q in [0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    return float(np.percentile(np.asarray(values, dtype=float), q))


def tail_percentile(n: int) -> float | None:
    """The highest percentile, in whole percents, that leaves at least
    TAIL_SAMPLES_BEYOND of ``n`` samples above it; None when n is too
    small for any percentile at or above the median."""
    if n <= 0:
        return None
    q = math.floor(100.0 * (n - TAIL_SAMPLES_BEYOND) / n)
    return float(q) if q >= 50 else None


def median(values) -> float:
    return float(statistics.median(values))


def quartile_spread(values) -> tuple[float, float, float, float]:
    """(q1, median, q3, (q3 - q1) / median) as statistics.quantiles(n=4)
    gives them; the spread is inf for a zero median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / abs(q2) if q2 else math.inf
    return q1, q2, q3, spread


# -- exact top-k and result checks ------------------------------------------

DIST_TOL = 1e-6


def sq_dists(live_vecs: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Squared L2 from ``q`` to every row, in float64 (Spark's knn casts
    the stored float32 vectors to double before the fold)."""
    diff = live_vecs.astype(np.float64) - q.astype(np.float64)
    return np.einsum("ij,ij->i", diff, diff)


def exact_topk(live_ids: np.ndarray, live_vecs: np.ndarray, q, k: int,
               d: np.ndarray | None = None):
    """(ids, dists) of the k nearest live rows, ties broken by id.
    ``d`` may carry precomputed sq_dists(live_vecs, q)."""
    if d is None:
        d = sq_dists(live_vecs, np.asarray(q, dtype=np.float32))
    kk = min(k, len(d))
    part = np.argpartition(d, kk - 1)[:kk] if kk < len(d) else np.arange(len(d))
    # widen to every row within tolerance of the k-th distance, so the id
    # tie-break sees all candidates
    cut = d[part].max() + DIST_TOL
    cand = np.nonzero(d <= cut)[0]
    order = np.lexsort((live_ids[cand], d[cand]))[:kk]
    sel = cand[order]
    return live_ids[sel], d[sel]


def recall_at_k(returned_ids, true_ids) -> float:
    """|returned ∩ true| / |true| — 1.0 when the truth is empty."""
    truth = set(int(i) for i in true_ids)
    if not truth:
        return 1.0
    return len(truth & set(int(i) for i in returned_ids)) / len(truth)


def check_knn_result(
    returned: list[tuple[int, float]],
    dist_of,
    true_ids,
    true_dists,
    k: int,
    exact: bool,
) -> str | None:
    """None when ``returned`` is a valid answer, else the reason.
    ``dist_of(id)`` gives a live id's true distance, None for others.

    Every answer: at most k rows, distinct live ids, each reported
    distance within DIST_TOL of the true one, nearest-first with the id
    tie-break. An exact answer also has exactly min(k, live) rows whose
    distances match the true top k rank by rank within DIST_TOL (so rows
    tied within DIST_TOL may swap).
    """
    ids = [int(i) for i, _ in returned]
    if len(ids) > k or len(set(ids)) != len(ids):
        return f"{len(ids)} rows or duplicate ids"
    for i, d in returned:
        true = dist_of(int(i))
        if true is None:
            return f"id {i} is not live"
        if abs(float(d) - true) > DIST_TOL:
            return f"id {i} distance {d} != {true}"
    for (i0, d0), (i1, d1) in zip(returned, returned[1:]):
        if d1 < d0 or (d1 == d0 and i1 < i0):
            return "not nearest-first with id tie-break"
    if exact:
        if len(ids) != len(true_ids):
            return f"{len(ids)} rows, want {len(true_ids)}"
        for j, ((_, d), ti, td) in enumerate(zip(returned, true_ids, true_dists)):
            if abs(float(d) - float(td)) > DIST_TOL:
                return f"rank {j} at distance {d}: true neighbour {ti} at {td} missing"
    return None


# -- space accounting --------------------------------------------------------

def dir_bytes(path: str) -> int:
    """Bytes of every regular file under ``path`` (0 when absent)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def vector_row_bytes(dim: int, metadata_bytes: int = 0) -> int:
    """User bytes of one (id BIGINT, vec float[dim], metadata) row."""
    return 8 + 4 * dim + metadata_bytes


def space_amp(paths, live_user_bytes: int) -> float:
    """Bytes on disk under ``paths`` per live user byte."""
    if live_user_bytes <= 0:
        raise ValueError("space_amp needs live user bytes")
    return sum(dir_bytes(p) for p in paths) / live_user_bytes


def files_per_cluster(rows_dir: str) -> float:
    """Mean parquet part files per ``cluster=<c>`` directory."""
    counts = []
    for entry in os.scandir(rows_dir):
        if entry.is_dir() and entry.name.startswith("cluster="):
            counts.append(
                sum(1 for f in os.listdir(entry.path) if f.endswith(".parquet"))
            )
    return sum(counts) / len(counts) if counts else 0.0
