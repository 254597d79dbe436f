"""Answer checks: independent numpy references for every answer the
engine returns.

The exact references fold each dot product and squared norm dimension by
dimension, in element order, in float64 — the same IEEE operation order
as the engine's ``aggregate(zip_with(...))`` fold — so exact answers are
compared id-for-id (distance, then id, ascending) and distance-for-
distance within 1e-6.
"""

from __future__ import annotations

import contextlib
import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

DIST_TOL = 1e-6


class Checker:
    """Counts operations and the ones whose answer failed any check;
    keeps the first few failure messages."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.checks = 0
        self.messages: list[str] = []
        self._op_failed = False

    @contextlib.contextmanager
    def operation(self):
        """Scope of one operation and its checks: it fails if any check
        does or if it raises."""
        self._op_failed = False
        try:
            yield self
        except Exception:
            self._op_failed = True
            raise
        finally:
            self.attempted += 1
            self.failed += self._op_failed

    def record(self, ok: bool, what: str) -> bool:
        self.checks += 1
        if not ok:
            self._op_failed = True
            if len(self.messages) < 20:
                self.messages.append(what)
        return ok


# ---------------------------------------------------------------- references

def fold_norms(m: np.ndarray) -> np.ndarray:
    """sqrt of the sequential sum of squares, per row."""
    acc = np.zeros(m.shape[0], dtype=np.float64)
    for i in range(m.shape[1]):
        acc = acc + m[:, i] * m[:, i]
    return np.sqrt(acc)


def fold_distances(m: np.ndarray, norms: np.ndarray,
                   q: np.ndarray) -> np.ndarray:
    """Cosine distance of every row of ``m`` to ``q`` with the engine's
    evaluation order: ``1 - dot / (|row| * |q|)``."""
    acc = np.zeros(m.shape[0], dtype=np.float64)
    for i in range(m.shape[1]):
        acc = acc + m[:, i] * q[i]
    qnorm = math.sqrt(sum(float(x) * float(x) for x in q))
    with np.errstate(invalid="ignore", divide="ignore"):
        return 1.0 - acc / (norms * qnorm)


def topk(ids: np.ndarray, dist: np.ndarray, k: int) -> tuple[list, list]:
    """(ids, distances) of the k smallest by (distance, id)."""
    order = np.lexsort((ids, dist))[:k]
    return [ids[i].item() for i in order], [float(dist[i]) for i in order]


def spark_round(x: float, places: int) -> float:
    """Spark's ``round`` on a double: HALF_UP on the value's decimal
    string."""
    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


# ---------------------------------------------------------------- checks

def check_topk(chk: Checker, what: str, got_ids: list, got_dist: list,
               want_ids: list, want_dist: list) -> bool:
    if list(got_ids) != list(want_ids):
        return chk.record(False, f"{what}: ids {list(got_ids)[:10]} != "
                                 f"{list(want_ids)[:10]}")
    bad = [i for i, (g, w) in enumerate(zip(got_dist, want_dist))
           if g is None or abs(g - w) > DIST_TOL]
    return chk.record(not bad, f"{what}: distance mismatch at ranks {bad}")


def check_match_scores(chk: Checker, what: str, dists: list,
                       scores: list) -> bool:
    bad = [i for i, (d, s) in enumerate(zip(dists, scores))
           if s != spark_round((1.0 - d) * 100, 2)]
    return chk.record(not bad, f"{what}: match_score != round((1-d)*100, 2) "
                               f"at ranks {bad}")


def check_equal(chk: Checker, what: str, got, want) -> bool:
    return chk.record(got == want, f"{what}: {got!r} != {want!r}")


def check_store(chk: Checker, what: str, store_ids: set, live_ids: set,
                retired: set, vectors: dict, want_vectors: dict) -> bool:
    """After a refresh: the store holds exactly the live corpus, no
    retired id, and every re-embedded doc carries the vector of its new
    text."""
    ok = chk.record(store_ids == live_ids,
                    f"{what}: store ids differ from the corpus "
                    f"({len(store_ids - live_ids)} extra, "
                    f"{len(live_ids - store_ids)} missing)")
    ok &= chk.record(not (store_ids & retired),
                     f"{what}: retired ids survive: "
                     f"{sorted(store_ids & retired)[:5]}")
    stale = [i for i, v in want_vectors.items() if vectors.get(i) != v]
    ok &= chk.record(not stale, f"{what}: re-embedded vectors differ for "
                                f"ids {sorted(stale)[:5]}")
    return ok
