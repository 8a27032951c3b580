"""Query side: broadcast the global filter, probe columns with a vectorized
pandas UDF — the distributed analog of ``containsElement``
(``CF/cuckoo_filter.h:274-289``) and the same shape as Spark's own
bloom-filter runtime join pruning (broadcast sketch + ``might_contain``).

The zlib-packed wire blob is serialized and broadcast once per filter
content per SparkContext: the driver keys its broadcasts by
``content_digest`` (an md5 over the exact bytes CKF2 encodes, ~14× cheaper
than the zlib pass), so repeated queries against an unchanged filter reuse
one ``Broadcast``, while a mutated filter (insert, delete, merge, compact,
direct table writes) digests differently and gets a new one — no answer is
ever stale.  Each Python worker deserializes lazily on first batch and
caches the filter process-wide, so the cost is O(executors), not O(tasks)
— the pattern that survives a 1000-executor fan-out.
"""

from __future__ import annotations

import hashlib
import threading
from collections import OrderedDict

import pandas as pd
from pyspark import Broadcast
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from cuckoofilter_spark.core.serde import content_digest, deserialize_filter, serialize_filter

#: driver-side: (applicationId, content digest) -> Broadcast of the CKF2
#: blob, least recently used first.  An evicted entry is only dropped, never
#: destroyed: a lazy DataFrame built earlier may still hold it.
_BROADCASTS: OrderedDict[tuple[str, bytes], Broadcast] = OrderedDict()
_BROADCASTS_MAX = 8
_BROADCASTS_LOCK = threading.Lock()

# per-worker-process cache: full-blob digest -> deserialized filter, least
# recently used first, bounded by the filters' total table bytes (the
# entry just used is always kept, however large).
# The digest costs one pass over the blob per batch — far less than the
# deserialize it saves; a truncated prefix key could alias two filters
# sharing a header (same params, payloads diverging later) and silently
# serve the wrong filter's answers.
_FILTER_CACHE: OrderedDict[bytes, object] = OrderedDict()
_FILTER_CACHE_BYTES = 256 << 20


def _get_filter(blob: bytes):
    key = hashlib.md5(blob).digest()
    f = _FILTER_CACHE.get(key)
    if f is not None:
        _FILTER_CACHE.move_to_end(key)
        return f
    f = deserialize_filter(blob)
    _FILTER_CACHE[key] = f
    total = sum(g.memory_bytes() for g in _FILTER_CACHE.values())
    while total > _FILTER_CACHE_BYTES and len(_FILTER_CACHE) > 1:
        _, old = _FILTER_CACHE.popitem(last=False)
        total -= old.memory_bytes()
    return f


def broadcast_filter(spark: SparkSession, filt) -> Broadcast:
    """The ``Broadcast`` of *filt*'s CKF2 blob, serialized and broadcast only
    the first time this SparkContext sees this filter content."""
    sc = spark.sparkContext
    key = (sc.applicationId, content_digest(filt))
    with _BROADCASTS_LOCK:  # driver threads may query concurrently
        bc = _BROADCASTS.get(key)
        if bc is not None:
            _BROADCASTS.move_to_end(key)
            return bc
        bc = sc.broadcast(serialize_filter(filt))
        _BROADCASTS[key] = bc
        if len(_BROADCASTS) > _BROADCASTS_MAX:
            _BROADCASTS.popitem(last=False)
        return bc


def cf_contains_udf(spark: SparkSession, filt) -> "callable":
    """Return a pandas UDF ``contains(col) -> boolean`` bound to a broadcast
    of *filt*.  Usable in DataFrame code and registrable for SQL:
    ``spark.udf.register("cf_contains", cf_contains_udf(spark, f))``."""
    bc = broadcast_filter(spark, filt)

    @pandas_udf("boolean")
    def contains(keys: pd.Series) -> pd.Series:
        f = _get_filter(bc.value)
        res = f.contains(keys.to_numpy(dtype="int64", na_value=0))
        null_mask = keys.isna().to_numpy()
        if null_mask.any():
            res = res & ~null_mask  # NULL is never a member (SQL-ish)
        return pd.Series(res)

    return contains


def membership_df(spark: SparkSession, filt, probes: DataFrame, col: str,
                  keep: bool = True) -> DataFrame:
    """Filter *probes* to rows whose ``col`` is (keep=True) / is not
    (keep=False) possibly-in-set.  keep=False has NO false drops (cuckoo
    filters have no false negatives) — the safe direction for pipeline
    pruning, exactly how runtime join filters use Bloom sketches."""
    contains = cf_contains_udf(spark, filt)
    flag = contains(F.col(col))
    return probes.filter(flag if keep else ~flag)
