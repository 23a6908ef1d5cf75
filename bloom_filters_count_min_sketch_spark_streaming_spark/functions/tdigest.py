"""t-digest: the merging-digest quantile sketch (Dunning & Ertl,
"Computing extremely accurate quantiles using t-digests",
arXiv:1902.04023) — the industry-standard companion of the KLL sketch
already in functions/kll.py. Where KLL is comparison-based with uniform
rank error, the t-digest's k1 scale function concentrates capacity at the
tails, so extreme quantiles (p99/p999 latencies, loss spikes) get far
tighter error at the same memory.

Division of labor mirrors the repo's other sketch tables: per-partition
digests built executor-side (one sorted merging pass per batch), merged
on the driver (or in a reduce) by centroid concatenation + one more
merging pass — the digest is a mergeable summary whose size is O(delta)
forever.

Determinism: every merging pass runs over centroids sorted by
(mean, weight) via np.lexsort (stable, total order), weighted means
accumulate in a fixed left-to-right order, and there is no RNG anywhere —
the same input multiset in the same partition layout yields a
bit-identical digest.

Saturation regime (the exactness-witness discipline, CLAUDE.md): with
compression delta >= ~pi*n the k1 size limit is below 2/n everywhere, so
no merging pass ever combines two points — every centroid stays a
singleton and quantile() degenerates to exact midpoint interpolation over
order statistics, which is SQL-expressible. tdigest_saturated_exact
derives delta from a count pre-pass and asserts the all-singletons state.
"""

from __future__ import annotations

import numpy as np

__all__ = ["TDigest"]


class TDigest:
    __slots__ = ("compression", "means", "weights")

    def __init__(
        self, compression: int, means=None, weights=None
    ) -> None:
        self.compression = int(compression)
        self.means = np.asarray(
            [] if means is None else means, dtype=np.float64
        )
        self.weights = np.asarray(
            [] if weights is None else weights, dtype=np.int64
        )

    # -- k1 scale function and its inverse ---------------------------------
    # k1(q) = d/(2*pi) * arcsin(2q - 1): one k-unit per centroid, so bin
    # width in q-space is ~2*pi/d * sqrt(q(1-q)) — tightest at the tails.

    def _k(self, q: float) -> float:
        q = min(1.0, max(0.0, q))
        return self.compression / (2.0 * np.pi) * float(np.arcsin(2.0 * q - 1.0))

    def _k_inv(self, k: float) -> float:
        x = 2.0 * np.pi * k / self.compression
        x = min(np.pi / 2.0, max(-np.pi / 2.0, x))
        return (float(np.sin(x)) + 1.0) / 2.0

    # -- merging pass -------------------------------------------------------

    def _merge_sorted(self, means: np.ndarray, weights: np.ndarray) -> None:
        """One Dunning merging pass over (mean, weight)-sorted centroids."""
        if len(means) == 0:
            self.means = means.astype(np.float64)
            self.weights = weights.astype(np.int64)
            return
        n = float(weights.sum())
        out_m: list[float] = []
        out_w: list[int] = []
        cm = float(means[0])
        cw = int(weights[0])
        q0 = 0.0
        q_limit = self._k_inv(self._k(q0) + 1.0)
        for m, w in zip(means[1:], weights[1:]):
            m = float(m)
            w = int(w)
            q = q0 + (cw + w) / n
            if q <= q_limit:
                # incremental weighted mean, fixed left-to-right order
                cm = cm + (m - cm) * (w / (cw + w))
                cw += w
            else:
                out_m.append(cm)
                out_w.append(cw)
                q0 += cw / n
                q_limit = self._k_inv(self._k(q0) + 1.0)
                cm, cw = m, w
        out_m.append(cm)
        out_w.append(cw)
        self.means = np.array(out_m, dtype=np.float64)
        self.weights = np.array(out_w, dtype=np.int64)

    @staticmethod
    def _sorted(means: np.ndarray, weights: np.ndarray):
        order = np.lexsort((weights, means))  # total order: (mean, weight)
        return means[order], weights[order]

    # -- public API ---------------------------------------------------------

    @classmethod
    def from_values(cls, values, compression: int) -> "TDigest":
        td = cls(compression)
        v = np.asarray(values, dtype=np.float64)
        if len(v):
            m, w = cls._sorted(v, np.ones(len(v), dtype=np.int64))
            td._merge_sorted(m, w)
        return td

    def add_values(self, values) -> None:
        v = np.asarray(values, dtype=np.float64)
        if not len(v):
            return
        m = np.concatenate([self.means, v])
        w = np.concatenate([self.weights, np.ones(len(v), dtype=np.int64)])
        m, w = self._sorted(m, w)
        self._merge_sorted(m, w)

    def merge(self, other: "TDigest") -> None:
        """Centroid concatenation + one merging pass: the mergeable-summary
        algebra (size stays O(compression) no matter how many partials)."""
        if not len(other.means):
            return
        m = np.concatenate([self.means, other.means])
        w = np.concatenate([self.weights, other.weights])
        m, w = self._sorted(m, w)
        self._merge_sorted(m, w)

    @property
    def total(self) -> int:
        return int(self.weights.sum())

    def quantile(self, q: float) -> float:
        """Midpoint interpolation over cumulative centroid weights (Dunning
        §2.9): centroid i sits at c_i = W_{<i} + w_i/2; interpolate means
        linearly between straddling centroids, clamped at the extremes.
        In the all-singletons regime c_i = i + 0.5 and this is exact
        interpolation between order statistics."""
        if not len(self.means):
            raise ValueError("empty digest")
        n = float(self.total)
        target = q * n
        cum = np.cumsum(self.weights, dtype=np.float64)
        mid = cum - self.weights / 2.0
        if target <= mid[0]:
            return float(self.means[0])
        if target >= mid[-1]:
            return float(self.means[-1])
        i = int(np.searchsorted(mid, target, side="right")) - 1
        span = mid[i + 1] - mid[i]
        frac = (target - mid[i]) / span
        return float(self.means[i] + frac * (self.means[i + 1] - self.means[i]))

    def rank(self, x: float) -> float:
        """Estimated rank (cumulative weight strictly-below + half the
        straddling centroid), midpoint-consistent with quantile()."""
        below = self.weights[self.means < x].sum()
        at = self.weights[self.means == x].sum()
        return float(below + at / 2.0)

    # -- serde for sketch-at-rest tables ------------------------------------

    def to_bytes(self) -> tuple[bytes, bytes]:
        return self.means.tobytes(), self.weights.tobytes()

    @classmethod
    def from_bytes(
        cls, compression: int, means_b: bytes, weights_b: bytes
    ) -> "TDigest":
        return cls(
            compression,
            np.frombuffer(means_b, dtype=np.float64),
            np.frombuffer(weights_b, dtype=np.int64),
        )

    def __reduce__(self):
        return type(self).from_bytes, (self.compression, *self.to_bytes())

    def is_saturated(self) -> bool:
        """True iff every centroid is a singleton (the exact regime)."""
        return bool(len(self.weights)) and bool((self.weights == 1).all())
