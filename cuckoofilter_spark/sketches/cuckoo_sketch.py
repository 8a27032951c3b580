"""Cuckoo filter as a `Sketch`-protocol member: lets the dynamic cuckoo
filter ride every generic driver (``operators/sketch_build``, the
streaming ``foreachBatch`` builder) exactly like Bloom/HLL/CMS — one build
pipeline for the whole library (north_star: "companion sketches sharing
the same serialize/merge protocol")."""

from __future__ import annotations

import numpy as np

from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
from cuckoofilter_spark.core.serde import deserialize_filter, serialize_filter
from cuckoofilter_spark.params import CuckooParams
from cuckoofilter_spark.sketches.base import register


@register
class CuckooSketch:
    """Thin adapter: `update` = batch insert, estimate = membership."""

    TAG = 7

    def __init__(self, params: CuckooParams | None = None, seed: int = 0,
                 dedup: bool = True,
                 filt: DynamicCuckooFilter | None = None):
        self.filt = filt if filt is not None else DynamicCuckooFilter(
            params or CuckooParams(), rng_seed=seed, dedup=dedup)

    def update(self, batch: np.ndarray) -> None:
        # native integer width: hash64 widens without an int64 copy
        self.filt.insert(batch)

    def merge(self, other: "CuckooSketch") -> "CuckooSketch":
        self.filt.merge(other.filt)
        return self

    def contains(self, keys: np.ndarray) -> np.ndarray:
        return self.filt.contains(np.asarray(keys, dtype=np.int64))

    # estimate() for protocol symmetry: membership of a key batch
    def estimate(self, keys: np.ndarray) -> np.ndarray:
        return self.contains(keys)

    @property
    def element_count(self) -> int:
        return self.filt.element_count

    def to_bytes(self) -> bytes:
        return serialize_filter(self.filt)

    @classmethod
    def from_bytes(cls, data: bytes) -> "CuckooSketch":
        return cls(filt=deserialize_filter(data))
