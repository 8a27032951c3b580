"""Single-process replay of a workload's inputs through the library's public
kernel functions: the per-layer kernel numbers and the single-core
baseline.

The filter replay follows ``build_filter_from_parquet`` step by step: one
``DynamicCuckooFilter`` per input file (the benchmark writes one row group
per file, so file = split) seeded by its split id, serialized, folded in
fan-in-8 groups by ascending split id, folded again on the "driver", then
compacted.  Kernel classes are instrumented only for the replay's duration.
"""

from __future__ import annotations

import time
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from cuckoofilter_spark.core.cuckoo_table import CuckooTable
from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
from cuckoofilter_spark.core.serde import deserialize_filter, serialize_filter
from cuckoofilter_spark.hashing import hash64

FANIN = 8
#: rows per Arrow batch the library reads a split with
BATCH_ROWS = 8192


def flat_keys(col) -> np.ndarray:
    """An Arrow int or list<int> column as one flat NumPy array."""
    if pa.types.is_list(col.type):
        col = col.flatten()
    return col.to_numpy(zero_copy_only=False)


def split_batches(files: list[str], col: str):
    """Per file, the key arrays the library's build task would see."""
    for f in files:
        pf = pq.ParquetFile(f)
        if pf.metadata.num_row_groups != 1:
            raise ValueError(f"{f}: replay assumes one row group per file")
        yield [flat_keys(rb.column(0)) for rb in pf.iter_batches(columns=[col],
                                                                batch_size=BATCH_ROWS)]


class _Counters:
    """Temporarily wraps kernel methods to count work and time it."""

    def __init__(self):
        self.c = defaultdict(float)
        self._orig = []

    def _patch(self, cls, attr, fn):
        self._orig.append((cls, attr, getattr(cls, attr)))
        setattr(cls, attr, fn)

    def __enter__(self):
        c = self.c
        place, kick, probe = CuckooTable.bulk_place, CuckooTable.kick_insert, CuckooTable.contains_at

        def bulk_place(t, fps, bidx):
            t0 = time.perf_counter()
            placed = place(t, fps, bidx)
            c["bulk_place.s"] += time.perf_counter() - t0
            c["bulk_place.pairs"] += len(fps)
            c["bulk_place.placed"] += int(placed.sum())
            return placed

        def kick_insert(t, fp, idx, rng):
            t0 = time.perf_counter()
            res = kick(t, fp, idx, rng)
            c["kick_insert.s"] += time.perf_counter() - t0
            c["kick_insert.calls"] += 1
            return res

        def contains_at(t, idx, fps):
            t0 = time.perf_counter()
            res = probe(t, idx, fps)
            c["contains_at.s"] += time.perf_counter() - t0
            c["contains_at.probes"] += len(idx)
            return res

        self._patch(CuckooTable, "bulk_place", bulk_place)
        self._patch(CuckooTable, "kick_insert", kick_insert)
        self._patch(CuckooTable, "contains_at", contains_at)
        return c

    def __exit__(self, *exc):
        for cls, attr, orig in reversed(self._orig):
            setattr(cls, attr, orig)


def _raw_bytes(f: DynamicCuckooFilter) -> int:
    return sum(t.table.nbytes for t in f.tables)


def filter_build(files: list[str], col: str, params) -> dict:
    """Replay one build; returns kernel metrics."""
    batches = list(split_batches(files, col))
    allkeys = np.concatenate([b for bs in batches for b in bs])
    out: dict[str, float] = {}

    t0 = time.perf_counter()
    hash64(allkeys, seed=params.seed)
    out["hash64.keys_per_s"] = len(allkeys) / (time.perf_counter() - t0)
    t0 = time.perf_counter()
    DynamicCuckooFilter(params).first_pass(allkeys)
    out["first_pass.keys_per_s"] = len(allkeys) / (time.perf_counter() - t0)

    with _Counters() as c:
        wall0 = time.perf_counter()
        insert_s = ser_s = de_s = merge_s = 0.0
        stored = raw = blob_bytes = merged_fps = 0
        blobs = []
        for sid, bs in enumerate(batches):
            filt = DynamicCuckooFilter(params, rng_seed=sid, dedup=True)
            t0 = time.perf_counter()
            for k in bs:
                if len(k):
                    filt.insert(k)
            insert_s += time.perf_counter() - t0
            stored += filt.element_count
            t0 = time.perf_counter()
            blob = serialize_filter(filt)
            ser_s += time.perf_counter() - t0
            raw += _raw_bytes(filt)
            blob_bytes += len(blob)
            blobs.append((sid, blob))
        insert_counts = dict(c)

        def fold(group):
            nonlocal de_s, merge_s, merged_fps
            acc = None
            for _, b in group:
                t0 = time.perf_counter()
                f = deserialize_filter(b)
                de_s += time.perf_counter() - t0
                if acc is None:
                    acc = f
                else:
                    merged_fps += f.element_count
                    t0 = time.perf_counter()
                    acc.merge(f)
                    merge_s += time.perf_counter() - t0
            return acc

        while len(blobs) > FANIN:
            groups = defaultdict(list)
            for pid, b in blobs:
                groups[pid // FANIN].append((pid, b))
            blobs = []
            for gid in sorted(groups):
                f = fold(groups[gid])
                t0 = time.perf_counter()
                b = serialize_filter(f)
                ser_s += time.perf_counter() - t0
                raw += _raw_bytes(f)
                blob_bytes += len(b)
                blobs.append((gid, b))
        final = fold(blobs)
        out["compact.chain_before"] = final.cf_count
        t0 = time.perf_counter()
        final.compact()
        out["compact.s"] = time.perf_counter() - t0
        out["build_wall_s"] = time.perf_counter() - wall0

    out.update({
        "insert.keys_per_s": len(allkeys) / insert_s,
        "insert.admit_ratio": stored / len(allkeys),
        "bulk_place.pairs_per_s": insert_counts["bulk_place.pairs"] / insert_counts["bulk_place.s"],
        "bulk_place.placed_ratio": insert_counts["bulk_place.placed"] / insert_counts["bulk_place.pairs"],
        "kick_insert.calls": c["kick_insert.calls"],
        "kick_insert.s": c["kick_insert.s"],
        "merge.fps_per_s": merged_fps / merge_s if merge_s else 0.0,
        "compact.chain_after": final.cf_count,
        "cf_count": final.cf_count,
        "load_factor": final.load_factor(),
        "serialize.mb_per_s": raw / 1e6 / ser_s,
        "deserialize.mb_per_s": raw / 1e6 / de_s if de_s else 0.0,
        "blob_bytes": len(serialize_filter(final)),
        "compression_ratio": raw / blob_bytes,
    })
    return {_QUALIFIED[k.split(".")[0]] + k: v for k, v in out.items()}


#: replay quantity -> the module that owns the measured function
_QUALIFIED = {
    "hash64": "hashing.",
    "first_pass": "core.dynamic_filter.", "insert": "core.dynamic_filter.",
    "merge": "core.dynamic_filter.", "compact": "core.dynamic_filter.",
    "cf_count": "core.dynamic_filter.", "load_factor": "core.dynamic_filter.",
    "bulk_place": "core.cuckoo_table.", "kick_insert": "core.cuckoo_table.",
    "serialize": "core.serde.", "deserialize": "core.serde.",
    "blob_bytes": "core.serde.", "compression_ratio": "core.serde.",
    "build_wall_s": "",
}


def probe(filt: DynamicCuckooFilter, keys: np.ndarray) -> dict:
    """Probe ``filt`` once with ``keys``: kernel throughput at its chain
    length."""
    with _Counters() as c:
        t0 = time.perf_counter()
        filt.contains(keys)
        contains_s = time.perf_counter() - t0
    return {"core.cuckoo_table.contains_at.probes_per_s":
            c["contains_at.probes"] / c["contains_at.s"],
            "core.dynamic_filter.contains.keys_per_s": len(keys) / contains_s}


def sketch_build(files: list[str], col: str, factory) -> dict:
    """Replay one sketch build: update per file, fold in file order."""
    upd_s = merge_s = 0.0
    n = 0
    acc = None
    wall0 = time.perf_counter()
    for pid, bs in enumerate(split_batches(files, col)):
        sk = factory(pid)
        t0 = time.perf_counter()
        for k in bs:
            sk.update(k)
            n += len(k)
        upd_s += time.perf_counter() - t0
        t0 = time.perf_counter()
        acc = sk if acc is None else acc.merge(sk)
        merge_s += time.perf_counter() - t0
    return {"update.keys_per_s": n / upd_s, "merge.s": merge_s,
            "build_wall_s": time.perf_counter() - wall0}


def probe_kernel(udf, filt, slice_files: list[str], batch_rows: int) -> dict:
    """Replay the membership UDF's Python body over the same Arrow batches
    a query feeds it: seconds per query of lookup + contains, with the
    worker's filter cache already warm (as it is after a worker's first
    batch), plus the cold deserialize of the broadcast blob."""
    blob = serialize_filter(filt)
    t0 = time.perf_counter()
    deserialize_filter(blob)
    de_s = time.perf_counter() - t0
    fn = udf.func
    fn(pd.Series(np.zeros(1, dtype=np.int64)))  # warm the filter cache
    per_query = []
    for f in slice_files:
        keys = pq.read_table(f, columns=["key"]).column("key").to_numpy()
        t0 = time.perf_counter()
        for s in range(0, len(keys), batch_rows):
            fn(pd.Series(keys[s:s + batch_rows]))
        per_query.append(time.perf_counter() - t0)
    raw = _raw_bytes(filt)
    return {"operators.membership.kernel_s": float(np.median(per_query)),
            "core.serde.deserialize.mb_per_s": raw / 1e6 / de_s,
            "operators.membership.broadcast_bytes": len(blob)}
