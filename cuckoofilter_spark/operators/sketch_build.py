"""Generic distributed sketch build over the ``Sketch`` protocol
(Bloom/HLL/count-min/KLL/t-digest/top-k, and the cuckoo filter itself as
``CuckooSketch``): the one per-partition build → deterministic tree-merge
driver of ``operators/build.py`` with the tagged sketch codec.

One partial aggregate per input partition; merge levels shrink the blob
count by ``fanin``; fold order inside each group is ascending partition id —
a pure function of partition ids, identical at any cluster size.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame

from cuckoofilter_spark.operators.build import BlobCodec, _keys_from_arrow, build_partials
# SKETCH_CODEC looks both up in this module's globals
from cuckoofilter_spark.sketches.base import deserialize_sketch, serialize_sketch  # noqa: F401

#: tagged sketch blobs (``sketches/base``)
SKETCH_CODEC = BlobCodec(__name__, "serialize_sketch", "deserialize_sketch")


def _numeric_from_arrow(col) -> np.ndarray:
    """Flatten an Arrow scalar/list numeric column to float64 (nulls → NaN,
    dropped by quantile sketches); zero-copy offset arithmetic."""
    import pyarrow as pa

    if pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
        col = col.flatten()
    return col.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)


def _strings_from_arrow(col) -> np.ndarray:
    """Flatten an Arrow string (or list<string>) column to an object array
    — for labeled sketches (top-k heavy hitters keep the actual keys)."""
    import pyarrow as pa

    if pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
        col = col.flatten()
    if col.null_count:
        col = col.drop_null()
    return col.to_numpy(zero_copy_only=False)


def build_sketch(df: DataFrame, col: str, factory: Callable[[int], object],
                 fanin: int = 64, num_partitions: int | None = None,
                 values: str = "int"):
    """Build one global sketch over ``df[col]``.

    ``factory(partition_id)`` returns a fresh sketch (seed partition-local
    randomness off the id).  ``values``: "int" for key sketches
    (Bloom/HLL/CMS), "float" for quantile sketches (KLL/t-digest),
    "str" for labeled sketches (space-saving top-k).
    """
    extract = {"int": _keys_from_arrow, "float": _numeric_from_arrow,
               "str": _strings_from_arrow}[values]
    return build_partials(df, col, factory, extract, SKETCH_CODEC, fanin,
                          num_partitions)
