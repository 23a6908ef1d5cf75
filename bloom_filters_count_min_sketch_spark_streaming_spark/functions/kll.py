"""KLL quantile sketch (Karnin, Lang, Liberty, FOCS 2016): the modern
comparison-based mergeable quantile summary — O(k log(n/k)) stored items
for eps ~ 1/k rank error, independent of the VALUE DOMAIN (the repo's
histogram sketch tables need bounded known ranges; KLL does not).

Determinism (the repo's seed rule): the compaction offset bit — the only
randomness in KLL — is drawn from md5(seed | level | compaction-counter),
so identical inputs produce identical sketches in any run or engine, and
the state-store bytes are reproducible.

Level semantics: compactors[h] holds items of weight 2^h. Compacting a
level sorts it and promotes every other item (seeded offset) to level
h+1; capacities shrink geometrically (2/3) from the top level so total
space stays O(k).
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np


class KLLSketch:
    __slots__ = ("k", "seed", "compactors", "n", "n_compactions")

    def __init__(self, k: int = 200, seed: int = 0) -> None:
        self.k = int(k)
        self.seed = int(seed)
        self.compactors: list[list[float]] = [[]]
        self.n = 0
        self.n_compactions = 0

    # -- capacity rule: top level holds k, each lower level 2/3 of the
    # one above (floored, min 2) --------------------------------------
    def _capacity(self, level: int) -> int:
        depth = len(self.compactors) - 1 - level
        c = self.k
        for _ in range(depth):
            c = c * 2 // 3
        return max(2, c)

    def _total_capacity(self) -> int:
        return sum(self._capacity(h) for h in range(len(self.compactors)))

    def _offset_bit(self, level: int, items: list) -> int:
        # content-dependent (but deterministic) draw: a pure compaction
        # counter correlates with structured inserts (sorted runs of tied
        # values systematically bias which replica survives); folding the
        # compacted span into the hash decorrelates without breaking the
        # same-input-same-sketch guarantee.
        digest = hashlib.md5(
            f"{self.seed}|{level}|{self.n_compactions}|"
            f"{items[0]!r}|{items[-1]!r}|{len(items)}".encode()
        ).digest()
        return digest[0] & 1

    def _compress(self) -> None:
        while sum(len(c) for c in self.compactors) > self._total_capacity():
            for h in range(len(self.compactors)):
                if len(self.compactors[h]) > self._capacity(h):
                    if h + 1 == len(self.compactors):
                        self.compactors.append([])
                    items = sorted(self.compactors[h])
                    off = self._offset_bit(h, items)
                    self.n_compactions += 1
                    self.compactors[h + 1].extend(items[off::2])
                    self.compactors[h] = []
                    break
            else:
                break

    def add_many(self, values) -> None:
        for v in values:
            self.compactors[0].append(float(v))
            self.n += 1
            if len(self.compactors[0]) > self._capacity(0):
                self._compress()

    def merge(self, other: "KLLSketch") -> "KLLSketch":
        """Levelwise concatenation + re-compression: the mergeable-summary
        algebra (order-insensitive up to the seeded offsets)."""
        while len(self.compactors) < len(other.compactors):
            self.compactors.append([])
        for h, items in enumerate(other.compactors):
            self.compactors[h].extend(items)
        self.n += other.n
        self.n_compactions += other.n_compactions  # keeps offsets evolving
        self._compress()
        return self

    def _weighted(self) -> tuple[np.ndarray, np.ndarray]:
        vs, ws = [], []
        for h, items in enumerate(self.compactors):
            vs.extend(items)
            ws.extend([1 << h] * len(items))
        v = np.array(vs, dtype=np.float64)
        w = np.array(ws, dtype=np.int64)
        order = np.argsort(v, kind="stable")
        return v[order], w[order]

    def quantile(self, q: float) -> float:
        """Smallest stored value whose cumulative weight reaches
        ceil(q * n) — the same rank convention the SQL twins use."""
        if self.n == 0:
            raise ValueError("empty sketch")
        v, w = self._weighted()
        target = max(1, int(np.ceil(q * self.n)))
        cum = np.cumsum(w)
        idx = int(np.searchsorted(cum, target, side="left"))
        idx = min(idx, len(v) - 1)
        return float(v[idx])

    def rank(self, x: float) -> int:
        """Estimated number of items <= x."""
        v, w = self._weighted()
        return int(w[v <= x].sum())

    def stored_items(self) -> int:
        return sum(len(c) for c in self.compactors)

    # -- state-store serialization -------------------------------------
    def to_bytes(self) -> bytes:
        parts = [
            struct.pack("<qqqq", self.k, self.seed, self.n, self.n_compactions),
            struct.pack("<q", len(self.compactors)),
        ]
        for items in self.compactors:
            parts.append(struct.pack("<q", len(items)))
            parts.append(np.array(items, dtype=np.float64).tobytes())
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, raw: bytes) -> "KLLSketch":
        k, seed, n, nc = struct.unpack_from("<qqqq", raw, 0)
        (n_levels,) = struct.unpack_from("<q", raw, 32)
        sk = cls(k=k, seed=seed)
        sk.n, sk.n_compactions = n, nc
        sk.compactors = []
        off = 40
        for _ in range(n_levels):
            (ln,) = struct.unpack_from("<q", raw, off)
            off += 8
            sk.compactors.append(
                list(np.frombuffer(raw, dtype=np.float64, count=ln, offset=off))
            )
            off += 8 * ln
        return sk

    def __reduce__(self):
        return type(self).from_bytes, (self.to_bytes(),)
