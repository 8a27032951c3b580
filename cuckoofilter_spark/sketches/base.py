"""Shared mergeable-sketch protocol (SURVEY.md §7 Phase 3).

Every sketch is a commutative monoid value:

    create(params) / update(np_batch) / merge(other) /
    to_bytes() / from_bytes() / estimate(...)

which is exactly what the distributed driver needs: per-partition ``update``
over Arrow batches inside ``mapInArrow`` (the partial aggregate), ``merge``
in the deterministic tree's ``applyInArrow`` levels and driver fold (the
final aggregate), ``to_bytes`` for the shuffle and broadcast.  The
cuckoo/Bloom filters answer membership, HLL distinct counts, count-min
frequencies, KLL/t-digest quantiles — all over the same build driver
(``operators/build.py``, via ``operators/sketch_build.py``).

Wire format: 1-byte type tag + pickle-free struct/numpy payload per sketch
(each class owns its layout); ``serialize_sketch``/``deserialize_sketch``
dispatch on the tag.
"""

from __future__ import annotations

from typing import Protocol, runtime_checkable

import numpy as np


@runtime_checkable
class Sketch(Protocol):
    TAG: int

    def update(self, batch: np.ndarray) -> None: ...

    def merge(self, other: "Sketch") -> "Sketch": ...

    def to_bytes(self) -> bytes: ...


_REGISTRY: dict[int, type] = {}


def register(cls):
    _REGISTRY[cls.TAG] = cls
    return cls


def serialize_sketch(s) -> bytes:
    return bytes([s.TAG]) + s.to_bytes()


def deserialize_sketch(data: bytes):
    cls = _REGISTRY[data[0]]
    return cls.from_bytes(data[1:])
