"""Static cuckoo filter — batch-vectorized port of the reference semantics
(``CF/cuckoo_filter.h``): insert-with-relocation, two-index contains, delete
with victim re-insertion, one-element victim cache, "full" ⇔ victim pending.

Differences from the reference (documented, semantics-preserving):
- All operations are NumPy batch kernels (the reference is one element at a
  time, ``Demo/cf_demo.cpp:20-26``).  A batch insert bulk-places the
  collision-free majority at i1 then i2, and runs the bounded kick loop only
  on the residue, in original input order.
- Once the victim cache is occupied the filter is "full": every later insert
  in the batch fails, matching ``insertElement``'s early return
  (``CF/cuckoo_filter.h:232``).  Items bulk-placed earlier in the same batch
  keep their slots (within a batch, bulk placement happens before any kick
  loop can park a victim; cross-item ordering inside one batch is the only
  deviation from strict element-at-a-time order and is unobservable through
  the membership API).
"""

from __future__ import annotations

import numpy as np

from cuckoofilter_spark.core.cuckoo_table import CuckooTable
from cuckoofilter_spark.hashing import hash64
from cuckoofilter_spark.params import CuckooParams


class CuckooFilter:
    """Single-table cuckoo filter over integer keys."""

    __slots__ = ("params", "table", "victim", "rng")

    def __init__(self, params: CuckooParams, table: CuckooTable | None = None,
                 victim: tuple[int, int] | None = None, rng_seed: int = 0):
        self.params = params
        self.table = table if table is not None else CuckooTable(params)
        self.victim = victim  # (index, fp) or None
        self.rng = np.random.default_rng(np.uint64(params.seed) ^ np.uint64(rng_seed) ^ np.uint64(0xC0FFEE))

    # -- hashing ------------------------------------------------------------
    def first_pass(self, keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Vectorized ``firstPass`` (``CF/cuckoo_filter.h:181-188``):
        ``i1 = (h >> 32) & (size-1)``, ``fp = h & fp_mask`` forced non-zero."""
        h = hash64(np.asarray(keys), seed=self.params.seed)
        mask = np.uint64(self.params.table_size - 1)
        i1 = ((h >> np.uint64(32)) & mask).astype(np.int64)
        fp = (h & np.uint64(self.params.fp_mask)).astype(np.uint32)
        fp += (fp == 0).astype(np.uint32)
        return fp, i1

    # -- insert ---------------------------------------------------------------
    def insert(self, keys: np.ndarray) -> np.ndarray:
        """Batch insert; returns per-key success booleans
        (``insertElement``, ``CF/cuckoo_filter.h:226-236``)."""
        return self.insert_fps(*self.first_pass(keys))

    def insert_fps(self, fps: np.ndarray, bidx: np.ndarray) -> np.ndarray:
        """Insert pre-computed (fp, bucket) pairs — the merge path.  Either
        stored index of a pair is valid (partner recoverable)."""
        n = len(fps)
        ok = np.zeros(n, dtype=bool)
        if n == 0 or self.victim is not None:
            return ok  # victim pending: filter full
        placed1 = self.table.bulk_place(fps, bidx)
        ok |= placed1
        pend = ~placed1
        if pend.any():
            i2 = self.table.complement(bidx[pend], fps[pend])
            placed2 = self.table.bulk_place(fps[pend], i2)
            ok[np.nonzero(pend)[0][placed2]] = True
            # residue: bounded kick loop, original order
            res_pos = np.nonzero(pend)[0][~placed2]
            res_i2 = i2[~placed2]
            for k, pos in enumerate(res_pos):
                if self.victim is not None:
                    break  # full: remaining items fail
                leftover = self.table.kick_insert(int(fps[pos]), int(res_i2[k]), self.rng)
                ok[pos] = True  # reference insert() returns true even when parking
                if leftover is not None:
                    self.victim = leftover
        return ok

    # -- contains ---------------------------------------------------------------
    def contains(self, keys: np.ndarray) -> np.ndarray:
        """Batch membership (``containsElement``, ``CF/cuckoo_filter.h:274-289``):
        probe i1, i2, then the victim cache.  No false negatives."""
        keys = np.asarray(keys)
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        fp, i1 = self.first_pass(keys)
        i2 = self.table.complement(i1, fp)
        res = self.table.contains_at(i1, fp) | self.table.contains_at(i2, fp)
        if self.victim is not None:
            vi, vfp = self.victim
            res |= (fp == np.uint32(vfp)) & ((i1 == vi) | (i2 == vi))
        return res

    # -- delete -----------------------------------------------------------------
    def delete(self, keys: np.ndarray) -> np.ndarray:
        """Batch delete (``deleteElement``, ``CF/cuckoo_filter.h:239-271``):
        remove one fp copy from i1 else i2 else victim; a successful delete
        re-inserts a pending victim.  Same caveat as the reference: deleting
        a never-inserted key can remove a colliding fingerprint.  Sequential
        per key (duplicate keys in one batch must each consume one copy)."""
        keys = np.asarray(keys)
        n = len(keys)
        out = np.zeros(n, dtype=bool)
        if n == 0:
            return out
        fp, i1 = self.first_pass(keys)
        i2 = self.table.complement(i1, fp)
        for k in range(n):
            f, a, b = int(fp[k]), int(i1[k]), int(i2[k])
            if self.table.delete_at(a, f) or self.table.delete_at(b, f):
                out[k] = True
            elif self.victim is not None and self.victim[1] == f and self.victim[0] in (a, b):
                self.victim = None
                out[k] = True
                continue
            else:
                continue
            if self.victim is not None:
                vi, vfp = self.victim
                self.victim = None
                leftover = self.table.kick_insert(vfp, vi, self.rng)
                if leftover is not None:
                    self.victim = leftover
        return out

    # -- stats --------------------------------------------------------------------
    @property
    def element_count(self) -> int:
        return self.table.element_count

    def load_factor(self) -> float:
        return self.table.load_factor()

    def availability(self) -> float:
        return self.table.availability()

    @property
    def table_size(self) -> int:
        return self.params.table_size

    def is_full(self) -> bool:
        return self.victim is not None

    def memory_bytes(self) -> int:
        return self.table.table.nbytes
