"""Numpy correctness oracle for the store-serving benchmark.

Everything here is computed from the generated inputs alone; nothing
imports the engine. It reproduces the three facts a result check needs:

- a store row's ``id`` (Spark's ``xxhash64`` of the ARRAY<FLOAT> key,
  seed 42, one ``hashInt`` of each element's float bits in turn);
- the AI stub featurizer documented in ``ahnlich_spark/ai/embedder.py``
  (integer polynomial over code points, so it is exact);
- exact top-k by closeness with ties broken by ascending id.

Result checks return an error string, or None when the result matches.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence

import numpy as np

COSINE = "cosine_similarity"
EUCLIDEAN = "euclidean_distance"

# ----------------------------------------------------------------- ids --
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P5 = np.uint64(0x27D4EB2F165667C5)
_SEED = 42


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _hash_int(bits: np.ndarray, seed: np.ndarray) -> np.ndarray:
    h = seed + _P5 + np.uint64(4)
    h ^= bits.astype(np.uint64) * _P1
    h = _rotl(h, 23) * _P2 + _P3
    h ^= h >> np.uint64(33)
    h *= _P2
    h ^= h >> np.uint64(29)
    h *= _P3
    h ^= h >> np.uint64(32)
    return h


def key_ids(keys: np.ndarray) -> np.ndarray:
    """int64 ids of f32 key rows, equal to Spark ``xxhash64(key)``."""
    keys = np.ascontiguousarray(keys, dtype=np.float32)
    keys = np.where(keys == 0, np.float32(0), keys)  # -0.0 hashes as 0
    bits = keys.view(np.uint32)
    h = np.full(keys.shape[0], _SEED, dtype=np.uint64)
    with np.errstate(over="ignore"):  # uint64 arithmetic wraps, as in Java
        for j in range(keys.shape[1]):
            h = _hash_int(bits[:, j], h)
    return h.view(np.int64)


# ------------------------------------------------------ stub embedding --
_P = 1_000_003
_RANGE = 2001


def stub_embed(text: str, dim: int) -> np.ndarray:
    """The engine's deterministic text featurizer, re-derived from its
    documented formula (not imported)."""
    codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    j = np.arange(1, len(codes) + 1, dtype=np.int64)
    s1 = int((codes * j).sum() % _P)
    s2 = int(codes.sum() % _P)
    i = np.arange(1, dim + 1, dtype=np.int64)
    return (((s1 * i + s2) % _RANGE - 1000) / 1000.0).astype(np.float32)


# --------------------------------------------------------------- top-k --
def scores(keys: np.ndarray, probe: np.ndarray, metric: str) -> np.ndarray:
    """float64 score of every key row against ``probe``."""
    x = keys.astype(np.float64)
    q = np.asarray(probe, dtype=np.float64)
    if metric == COSINE:
        return (x @ q) / (np.linalg.norm(x, axis=1) * np.linalg.norm(q))
    if metric == EUCLIDEAN:
        return np.linalg.norm(x - q, axis=1)
    raise ValueError(f"metric {metric!r} has no oracle")


def closeness(s: np.ndarray, metric: str) -> np.ndarray:
    return s if metric == COSINE else -s


def ranked(ids: np.ndarray, s: np.ndarray, metric: str) -> np.ndarray:
    """Row order closest first, ties by ascending id."""
    return np.lexsort((ids, -closeness(s, metric)))


def tol(score: float) -> float:
    """f32 accumulation error allowed on one reported score."""
    return 1e-4 * max(1.0, abs(score))


def check_topk(got_ids: Sequence[int], got_scores: Sequence[float],
               ids: np.ndarray, s: np.ndarray, metric: str, k: int,
               exact: bool = True) -> Optional[str]:
    """Compare a returned top-k against the oracle over candidate rows
    (``ids``, ``s``). Every reported score must be the oracle's score
    for that id, the list must be ordered closest first with exact ties
    by ascending id, and its length must be min(k, candidates). With
    ``exact`` the list must also be the oracle's top-k position by
    position; a different id is allowed only where the two scores agree
    within f32 tolerance (a near-tie), and the set may differ only by
    near-ties of the k-th score."""
    n_want = min(k, len(ids))
    if len(got_ids) != n_want:
        return f"returned {len(got_ids)} rows, expected {n_want}"
    pos = {int(i): p for p, i in enumerate(ids)}
    for gid, gs in zip(got_ids, got_scores):
        p = pos.get(int(gid))
        if p is None:
            return f"id {gid} is not a live candidate row"
        if abs(float(gs) - s[p]) > tol(s[p]):
            return f"id {gid} scored {gs}, oracle {s[p]:.7g}"
    c = closeness(np.asarray(got_scores, dtype=np.float64), metric)
    for a in range(len(got_ids) - 1):
        if c[a] < c[a + 1] or (c[a] == c[a + 1] and got_ids[a] > got_ids[a + 1]):
            return f"rows {a} and {a + 1} are out of order"
    if not exact:
        return None
    order = ranked(ids, s, metric)[:n_want]
    want_ids, want_s = ids[order], s[order]
    for p in range(n_want):
        if abs(float(got_scores[p]) - want_s[p]) > tol(want_s[p]):
            return (f"rank {p + 1}: score {got_scores[p]}, oracle "
                    f"{want_s[p]:.7g} (id {want_ids[p]})")
    kth = want_s[-1]
    boundary = {int(i) for i, v in zip(ids, s) if abs(v - kth) <= tol(kth)}
    missing = {int(i) for i in want_ids} - {int(i) for i in got_ids}
    if missing - boundary:
        return f"top-{k} misses ids {sorted(missing - boundary)}"
    return None


def recall(got_ids: Sequence[int], ids: np.ndarray, s: np.ndarray,
           metric: str, k: int) -> float:
    want = ids[ranked(ids, s, metric)[:k]]
    return len({int(i) for i in want} & {int(i) for i in got_ids}) / len(want)


# ------------------------------------------------------- store model --
class StoreModel:
    """The generator's model of one store: live rows by id."""

    def __init__(self, dim: int):
        self.dim = dim
        self.rows: Dict[int, tuple] = {}  # id -> (f32 key, {meta key: str})

    def put(self, keys: np.ndarray, metas: List[dict]) -> tuple:
        """Apply a SET batch; returns the (inserted, updated) counts the
        engine must report (later duplicates in a batch win)."""
        ids = key_ids(keys)
        fresh = set()
        updated = set()
        for i, k, m in zip(ids, keys, metas):
            i = int(i)
            if i in self.rows and i not in fresh:
                updated.add(i)
            elif i not in self.rows:
                fresh.add(i)
            self.rows[i] = (k, dict(m))
        return len(fresh), len(updated)

    def delete(self, keys: np.ndarray) -> int:
        n = 0
        for i in key_ids(keys):
            n += self.rows.pop(int(i), None) is not None
        return n

    def arrays(self):
        """(ids, keys) of the live rows, in insertion order."""
        ids = np.fromiter(self.rows.keys(), dtype=np.int64, count=len(self.rows))
        keys = np.stack([v[0] for v in self.rows.values()]) if self.rows else (
            np.zeros((0, self.dim), np.float32))
        return ids, keys

    def logical_bytes(self) -> int:
        """Bytes of live vectors and metadata as the user supplied them."""
        meta = sum(len(k.encode()) + len(v.encode())
                   for _k, m in self.rows.values() for k, v in m.items())
        return len(self.rows) * self.dim * 4 + meta
