"""Pure-numpy cuckoo filter — one shard of the distributed URL-seen set.

Standard 2-choice cuckoo filter (Fan et al., CoNEXT'14 — public
algorithm): 16-bit fingerprints, 4-slot buckets, partial-key cuckoo
hashing with a bounded, *deterministic* eviction walk (no RNG — resume
must be bit-reproducible).  ~16 bits/key ⇒ a 10^10-URL frontier is
~20 GB of state across shards; shards are sized so one shard's array
fits comfortably in an executor core's memory and is processed by a
single ``applyInPandas`` group (see seen.py).

Blob layout (``to_bytes``): an int64 header ``(±n_buckets, max_kicks,
count, overflow)``, then the dense uint16 bucket array (+n_buckets,
the original fixed-size layout) or, while smaller, the occupied slots
only (-n_buckets): uint32 flat slot indexes then their uint16
fingerprints, 6 bytes per key.  State bytes scale with occupied slots
and never exceed the dense size; ``from_bytes`` reads both layouts.
"""

from __future__ import annotations

import numpy as np

_EMPTY = 0          # slot sentinel; real fingerprints are remapped off 0
_MIX = 0x5BD1E995   # odd multiplier decorrelating bucket choice from fp
_MASK64 = (1 << 64) - 1


class CuckooShard:
    """One shard: ``buckets`` is (n_buckets, 4) uint16."""

    __slots__ = ("buckets", "n_buckets", "max_kicks", "count", "overflow")

    def __init__(self, n_buckets: int = 1 << 16, max_kicks: int = 500,
                 buckets: np.ndarray | None = None, count: int = 0,
                 overflow: int = 0):
        self.n_buckets = int(n_buckets)
        # power-of-two bucket count keeps signed-int64 and uint64 index
        # arithmetic congruent (Python ints vs numpy vectorized path)
        if self.n_buckets & (self.n_buckets - 1):
            raise ValueError("n_buckets must be a power of two")
        self.max_kicks = max_kicks
        self.buckets = (
            buckets if buckets is not None
            else np.zeros((self.n_buckets, 4), dtype=np.uint16)
        )
        self.count = count
        self.overflow = overflow  # keys dropped after a full eviction walk

    # -- hashing ------------------------------------------------------------

    def _fp(self, h: int) -> int:
        fp = (h >> 48) & 0xFFFF
        return fp if fp != _EMPTY else 1

    def _i1(self, h: int) -> int:
        return h % self.n_buckets

    def _alt(self, i: int, fp: int) -> int:
        return (i ^ ((fp * _MIX) & _MASK64)) % self.n_buckets

    # -- single-key ops -----------------------------------------------------

    def contains(self, h: int) -> bool:
        fp = self._fp(h)
        i1 = self._i1(h)
        if fp in self.buckets[i1]:
            return True
        return fp in self.buckets[self._alt(i1, fp)]

    def insert(self, h: int) -> bool:
        """Insert (caller has already checked membership).  Returns False
        only if the deterministic eviction walk exhausts ``max_kicks``."""
        fp = self._fp(h)
        i1 = self._i1(h)
        for i in (i1, self._alt(i1, fp)):
            row = self.buckets[i]
            empty = np.nonzero(row == _EMPTY)[0]
            if empty.size:
                row[empty[0]] = fp
                self.count += 1
                return True
        # deterministic eviction walk: alternate buckets, rotate victim slot
        i = self._alt(i1, fp) if (h & 1) else i1
        cur = fp
        for kick in range(self.max_kicks):
            slot = (kick + (cur & 3)) & 3  # deterministic victim slot
            victim = int(self.buckets[i][slot])
            self.buckets[i][slot] = cur
            cur = victim
            i = self._alt(i, cur)
            row = self.buckets[i]
            empty = np.nonzero(row == _EMPTY)[0]
            if empty.size:
                row[empty[0]] = cur
                self.count += 1
                return True
        self.overflow += 1
        return False

    def delete(self, h: int) -> bool:
        """Remove one copy of ``h``'s fingerprint — THE operation
        cuckoo filters exist to offer over Bloom (Fan et al. 2014):
        a recrawl scheduler evicts due URLs from the seen set so they
        re-enter the frontier, without rebuilding the filter.  Safe
        only for keys actually inserted (the standard cuckoo-delete
        contract; deleting a never-inserted key may erase a colliding
        fingerprint).  Returns False if the fingerprint is absent
        from both candidate buckets (e.g. it was dropped as overflow).
        """
        fp = self._fp(h)
        i1 = self._i1(h)
        for i in (i1, self._alt(i1, fp)):
            row = self.buckets[i]
            hit = np.nonzero(row == fp)[0]
            if hit.size:
                row[hit[0]] = _EMPTY
                self.count -= 1
                return True
        return False

    # -- vectorized batch probe ----------------------------------------------

    def contains_many(self, hashes: np.ndarray) -> np.ndarray:
        """Vectorized membership for an int64/uint64 array."""
        h = hashes.astype(np.uint64)
        fp = ((h >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
        fp = np.where(fp == _EMPTY, np.uint16(1), fp)
        i1 = (h % np.uint64(self.n_buckets)).astype(np.int64)
        alt = ((i1.astype(np.uint64)
                ^ ((fp.astype(np.uint64) * np.uint64(_MIX)) & np.uint64(_MASK64)))
               % np.uint64(self.n_buckets)).astype(np.int64)
        hit1 = (self.buckets[i1] == fp[:, None]).any(axis=1)
        hit2 = (self.buckets[alt] == fp[:, None]).any(axis=1)
        return hit1 | hit2

    # -- serialization (checkpoint blob) --------------------------------------

    def to_bytes(self) -> bytes:
        flat = self.buckets.ravel()
        slots = np.flatnonzero(flat)
        dense = 6 * len(slots) >= flat.nbytes
        header = np.array([self.n_buckets if dense else -self.n_buckets,
                           self.max_kicks, self.count, self.overflow],
                          dtype=np.int64).tobytes()
        if dense:
            return header + self.buckets.tobytes()
        return header + slots.astype(np.uint32).tobytes() + flat[slots].tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CuckooShard":
        header = np.frombuffer(blob[:32], dtype=np.int64)
        n_buckets, max_kicks, count, overflow = (int(x) for x in header)
        flat = np.zeros(abs(n_buckets) * 4, dtype=np.uint16)
        if n_buckets > 0:
            flat[:] = np.frombuffer(blob, np.uint16, offset=32)
        else:
            n = (len(blob) - 32) // 6
            flat[np.frombuffer(blob, np.uint32, n, 32)] = (
                np.frombuffer(blob, np.uint16, n, 32 + 4 * n))
        return cls(abs(n_buckets), max_kicks, flat.reshape(-1, 4), count,
                   overflow)
