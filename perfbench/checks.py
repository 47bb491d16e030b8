"""Reference answers computed in numpy, independent of the program."""

from __future__ import annotations

import numpy as np

# the program rounds distances to 6 decimals after summing in its own
# order; two keys whose float64 distances differ by less than this may
# legitimately swap places
TOL = 2e-6


def l2(base: np.ndarray, q) -> np.ndarray:
    d = base.astype(np.float64) - np.asarray(q, dtype=np.float64)[None, :]
    return np.sqrt(np.einsum("ij,ij->i", d, d))


def topk_ok(got: list[tuple[str, float]], keys: list[str], dist: np.ndarray,
            k: int) -> bool:
    """``got`` (key, distance) rows equal the brute-force top-k over
    (``keys``, ``dist``), ordered by distance then key. Each returned
    distance must match its key's true distance; the returned set must
    be the true top-k, except that keys within TOL of the k-th distance
    are interchangeable."""
    if len(got) != min(k, len(keys)):
        return False
    pos = {key: i for i, key in enumerate(keys)}
    prev = None
    for key, d in got:
        i = pos.get(key)
        if i is None or d is None or abs(d - dist[i]) > TOL:
            return False
        cur = (round(d, 6), key)
        if prev is not None and cur < prev and abs(cur[0] - prev[0]) > TOL:
            return False
        prev = cur
    if not got:
        return True
    order = np.lexsort((np.array(keys), np.round(dist, 6)))
    kth = dist[order[len(got) - 1]]
    must = {keys[i] for i in order[:len(got)] if dist[i] < kth - TOL}
    allowed = {keys[i] for i in np.nonzero(dist <= kth + TOL)[0]}
    have = {key for key, _ in got}
    return must <= have <= allowed
