"""Packed fingerprint table — the NumPy replacement for the reference's
``CuckooTable`` + ``BitManager`` (``CF/cuckoo_table.h``, ``Utils/bit_manager.*``).

Layout: a ``(table_size, entries_per_bucket)`` NumPy array of the smallest
unsigned dtype holding ``bits_per_fp`` (4/12-bit configs live in uint8/uint16
*lanes*; dense packing happens only at serialization).  0 encodes an empty
slot, so fingerprints are forced non-zero upstream
(``CF/cuckoo_filter.h:172-178``).

Invariant: buckets are **left-packed** — the ``occ[i]`` occupied slots of
bucket *i* are slots ``0..occ[i]-1``.  The reference does not maintain this
(it scans for the first empty slot, ``CF/cuckoo_table.h:223-241``); we do
because it turns bulk insertion into a fully vectorized
sort → rank → scatter, with identical membership semantics (slot position
within a bucket is unobservable through the filter API).

Where the reference probes one bucket with a 64-bit SWAR word trick
(``CF/cuckoo_table.h:244-263``, ``Utils/bit_manager.cpp``), we compare the
whole probe batch against all candidate buckets in one broadcasted NumPy
``==`` — vectorized across the batch, not just within a bucket.
"""

from __future__ import annotations

import numpy as np

from cuckoofilter_spark.params import KICKS_MAX_COUNT, MURMUR_CONST, CuckooParams

_U32_MASK = np.uint64(0xFFFFFFFF)


class CuckooTable:
    """One fixed-size packed fingerprint table."""

    __slots__ = ("params", "table", "occ", "element_count")

    def __init__(self, params: CuckooParams, table: np.ndarray | None = None):
        self.params = params
        if table is None:
            self.table = np.zeros((params.table_size, params.entries_per_bucket), dtype=params.dtype)
        else:
            assert table.shape == (params.table_size, params.entries_per_bucket)
            self.table = table
        self.occ = np.count_nonzero(self.table, axis=1).astype(np.int8)
        self.element_count = int(self.occ.sum())

    # -- index math -------------------------------------------------------
    def complement(self, idx: np.ndarray, fp: np.ndarray) -> np.ndarray:
        """Partner index i2 = (i1 XOR (fp * MURMUR_CONST)) & (size-1)
        (``Utils/hash_function.h:36-38`` + ``CF/cuckoo_filter.h:191-196``).
        Involutive under the power-of-two mask, so either index recovers the
        other — the property that makes tables mergeable without raw keys."""
        mask = np.uint64(self.params.table_size - 1)
        i = idx.astype(np.uint64, copy=False)
        f = fp.astype(np.uint64, copy=False)
        with np.errstate(over="ignore"):
            h = (f * MURMUR_CONST) & _U32_MASK
        return ((i ^ h) & mask).astype(np.int64)

    # -- bulk placement ---------------------------------------------------
    def bulk_place(self, fps: np.ndarray, bidx: np.ndarray) -> np.ndarray:
        """Place as many (fp, bucket) pairs as fit without eviction.

        Fully vectorized first-fit: stable-sort by bucket, rank within
        bucket, admit ranks below the bucket's free-slot count, scatter into
        the left-packed slots.  Returns a boolean mask of placed items.
        Semantics match repeated ``replacingFingerprintInsertion(..,
        eject=false)`` (``CF/cuckoo_table.h:223-241``): duplicates are
        stored as a multiset, full buckets reject.
        """
        n = len(fps)
        if n == 0:
            return np.zeros(0, dtype=bool)
        epb = self.params.entries_per_bucket
        order = np.argsort(bidx, kind="stable")
        sb = bidx[order]
        uniq, start, counts = np.unique(sb, return_index=True, return_counts=True)
        rank = np.arange(n, dtype=np.int64) - np.repeat(start, counts)
        occ_u = self.occ[uniq].astype(np.int64)
        free_u = epb - occ_u
        ok_sorted = rank < np.repeat(free_u, counts)
        slots_sorted = np.repeat(occ_u, counts) + rank
        rows = sb[ok_sorted]
        cols = slots_sorted[ok_sorted]
        self.table[rows, cols] = fps[order][ok_sorted].astype(self.table.dtype)
        self.occ[uniq] += np.minimum(counts, free_u).astype(np.int8)
        placed = np.zeros(n, dtype=bool)
        placed[order[ok_sorted]] = True
        self.element_count += int(ok_sorted.sum())
        return placed

    # -- kick loop ---------------------------------------------------------
    def kick_insert(self, fp: int, idx: int, rng: np.random.Generator):
        """Eviction chain for one residual item, reference
        ``CF/cuckoo_filter.h:199-223``: bounded at KICKS_MAX_COUNT (500),
        random in-bucket eviction (``CF/cuckoo_table.h:236``; our RNG is a
        seeded ``np.random.Generator`` for determinism and resume-safety).

        Returns ``None`` on success, else the ``(index, fp)`` pair left over
        when the bound is hit (the reference parks it in the victim cache).
        """
        epb = self.params.entries_per_bucket
        cur_fp = int(fp)
        cur_i = int(idx)
        mask = self.params.table_size - 1
        mc = int(MURMUR_CONST)
        tbl = self.table
        occ = self.occ
        # Futile-eviction fast path: when BOTH candidate buckets are full
        # of this very fingerprint (multiset mode piling copies of one hot
        # key), every kick swaps fp for fp and the complement bounces
        # between the same two buckets — 500 iterations that provably
        # cannot place anything.  Park it immediately instead (measured:
        # 500 duplicate inserts 38 s → linear without this).
        alt = (cur_i ^ ((cur_fp * mc) & 0xFFFFFFFF)) & mask
        if (occ[cur_i] == epb and occ[alt] == epb
                and (tbl[cur_i] == cur_fp).all() and (tbl[alt] == cur_fp).all()):
            return (cur_i, cur_fp)
        for _ in range(KICKS_MAX_COUNT):
            o = occ[cur_i]
            if o < epb:
                tbl[cur_i, o] = cur_fp
                occ[cur_i] = o + 1
                self.element_count += 1
                return None
            j = int(rng.integers(epb))
            prev = int(tbl[cur_i, j])
            tbl[cur_i, j] = cur_fp
            cur_fp = prev
            cur_i = (cur_i ^ ((cur_fp * mc) & 0xFFFFFFFF)) & mask
        return (cur_i, cur_fp)

    # -- probing ------------------------------------------------------------
    def contains_at(self, idx: np.ndarray, fps: np.ndarray) -> np.ndarray:
        """Vectorized bucket probe: for each (bucket, fp) pair, does the
        bucket hold fp?  (batch analog of ``containsFingerprint``,
        ``CF/cuckoo_table.h:244-263``)."""
        if len(idx) == 0:
            return np.zeros(0, dtype=bool)
        return (self.table[idx] == fps[:, None].astype(self.table.dtype)).any(axis=1)

    # -- deletion ------------------------------------------------------------
    def delete_at(self, idx: int, fp: int) -> bool:
        """Remove one copy of fp from bucket idx, keeping the bucket
        left-packed (semantics of ``deleteFingerprint``,
        ``CF/cuckoo_table.h:266-275``)."""
        row = self.table[idx]
        hits = np.nonzero(row == row.dtype.type(fp))[0]
        if hits.size == 0:
            return False
        j = int(hits[0])
        last = int(self.occ[idx]) - 1
        row[j] = row[last]
        row[last] = 0
        self.occ[idx] = last
        self.element_count -= 1
        return True

    def delete_in_order(self, bidx: np.ndarray, fps: np.ndarray) -> np.ndarray:
        """``[delete_at(b, f) for b, f in zip(bidx, fps)]`` with the loop's
        exact bytes (``bulk_delete_at`` keeps only the multiset), vectorized
        in as many rounds as the most-requested bucket has requests —
        ``entries_per_bucket`` at most when every request names a distinct
        stored copy.  Round r applies each bucket's r-th request (in input
        order) as ``delete_at`` does: first matching slot <- last occupied
        slot, last slot <- 0; one request per bucket per round, so the
        scatters never collide.  Returns the per-request deleted mask."""
        n = len(bidx)
        out = np.zeros(n, dtype=bool)
        if n == 0:
            return out
        order = np.argsort(bidx, kind="stable")
        sb = bidx[order]
        sf = fps[order].astype(self.table.dtype)
        _, start, counts = np.unique(sb, return_index=True, return_counts=True)
        rank = np.arange(n, dtype=np.int64) - np.repeat(start, counts)
        for r in range(int(counts.max())):
            pos = np.nonzero(rank == r)[0]
            match = self.table[sb[pos]] == sf[pos, None]
            hit = match.any(axis=1)
            pos, match = pos[hit], match[hit]
            rows = sb[pos]
            j = match.argmax(axis=1)
            last = self.occ[rows].astype(np.int64) - 1
            self.table[rows, j] = self.table[rows, last]
            self.table[rows, last] = 0
            self.occ[rows] -= 1
            out[order[pos]] = True
        self.element_count -= int(out.sum())
        return out

    def bulk_delete_at(self, bidx: np.ndarray, fps: np.ndarray) -> np.ndarray:
        """Vectorized batch of ``delete_at``: for each (bucket, fp) request
        remove ONE stored copy if present; duplicate requests consume one
        copy each while copies last.  Returns the per-request deleted mask.

        Fully vectorized: requests collapse to unique (bucket, fp) pairs
        with multiplicities; per pair ``min(requested, stored)`` copies are
        cleared (different fps in one bucket occupy disjoint slots, so the
        scatter is conflict-free), then touched buckets re-left-pack in one
        argsort.  Semantically identical to looping ``delete_at`` — copies
        of one (bucket, fp) are interchangeable."""
        n = len(bidx)
        out = np.zeros(n, dtype=bool)
        if n == 0:
            return out
        key = (bidx.astype(np.uint64) << np.uint64(32)) | fps.astype(np.uint64)
        order = np.argsort(key, kind="stable")
        sk = key[order]
        uniq, start, req = np.unique(sk, return_index=True, return_counts=True)
        ub = (uniq >> np.uint64(32)).astype(np.int64)
        uf = (uniq & np.uint64(0xFFFFFFFF)).astype(self.table.dtype)
        rows = self.table[ub]                      # (m, epb) gathered copies
        match = rows == uf[:, None]
        avail = match.sum(axis=1)
        ndel = np.minimum(avail, req)
        if not ndel.any():
            return out
        # grant the first ndel requests of each run (sorted order)
        rank = np.arange(n, dtype=np.int64) - np.repeat(start, req)
        granted_sorted = rank < np.repeat(ndel, req)
        out[order[granted_sorted]] = True
        # clear ndel matched slots per pair; within a bucket different fps
        # match disjoint slots, so (bucket, col) writes never collide
        mrank = np.cumsum(match, axis=1) - match
        clear = match & (mrank < ndel[:, None])
        pi, cols = np.nonzero(clear)
        self.table[ub[pi], cols] = 0
        # re-left-pack every touched bucket (occupied slots first, stable)
        tb = np.unique(ub[ndel > 0])
        trows = self.table[tb]
        pack = np.argsort(trows == 0, axis=1, kind="stable")
        self.table[tb] = np.take_along_axis(trows, pack, axis=1)
        self.occ[tb] = np.count_nonzero(self.table[tb], axis=1).astype(np.int8)
        self.element_count -= int(ndel.sum())
        return out

    # -- stats ---------------------------------------------------------------
    @property
    def free_entries(self) -> int:
        return self.params.slots - self.element_count

    def load_factor(self) -> float:
        return self.element_count / self.params.slots

    def availability(self) -> float:
        """% free slots, reference ``CF/cuckoo_filter.h:305-310``."""
        return self.free_entries / self.params.slots * 100.0

    def nonzero_entries(self) -> tuple[np.ndarray, np.ndarray]:
        """All stored (bucket_index, fp) pairs — the mergeable content."""
        rows, cols = np.nonzero(self.table)
        return rows.astype(np.int64), self.table[rows, cols].astype(np.uint32)
