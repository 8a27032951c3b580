"""Per-key sketch aggregation: the batch GROUP BY whose aggregation value
is a sketch — `SELECT key, approx_ndv(value)` at any key cardinality.

State per key is O(2^p) bytes — reducer memory is bounded regardless of
how many values a key has, which is the entire point at 10^12 rows (an
exact distinct per key materializes the full value set per reducer).

Skew: a hot key's values all route to one group, but the sketch update is
a streaming linear pass at O(2^p) memory; for extreme hot keys,
``salt_buckets`` builds partial HLLs per (key, salt) and register-max
merges them per key — estimates identical (HLL merge is exact on
register state), reducer input bounded by 1/salt_buckets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuckoofilter_spark.sketches.base import deserialize_sketch, serialize_sketch
from cuckoofilter_spark.sketches.hll import HyperLogLog


def _per_key(df: DataFrame, key: str, sketch_of, emit, value_schema: str,
             salt=None) -> DataFrame:
    """One sketch per key: ``sketch_of(group_pdf)`` builds it and
    ``emit(sketch, key_value)`` returns its output rows
    (``{key} <type>, {value_schema}``).  With a ``salt`` column expression
    the sketch is first built per (key, salt) and the partials are merged
    per key — the skew path, exact for every sketch whose merge is exact
    on its state."""
    key_t = dict(df.dtypes)[key]
    schema = f"{key} {key_t}, {value_schema}"
    if salt is None:
        return df.groupBy(key).applyInPandas(
            lambda kdf: emit(sketch_of(kdf), kdf[key].iloc[0]), schema=schema)

    def partial(kdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({key: [kdf[key].iloc[0]],
                             "blob": [serialize_sketch(sketch_of(kdf))]})

    def merge_emit(kdf: pd.DataFrame) -> pd.DataFrame:
        acc = None
        for b in kdf["blob"]:
            s = deserialize_sketch(bytes(b))
            acc = s if acc is None else acc.merge(s)
        return emit(acc, kdf[key].iloc[0])

    return (df.withColumn("_salt", salt).groupBy(key, "_salt")
            .applyInPandas(partial, schema=f"{key} {key_t}, blob binary")
            .groupBy(key).applyInPandas(merge_emit, schema=schema))


def ndv_by_key(df: DataFrame, key: str, value: str, p: int = 12, seed: int = 7,
               salt_buckets: int | None = None) -> DataFrame:
    """(key, ndv_estimate) — one HLL per key."""

    def sketch_of(kdf: pd.DataFrame) -> HyperLogLog:
        hll = HyperLogLog(p=p, seed=seed)
        vals = kdf[value].to_numpy(dtype=np.int64, na_value=0)
        if len(vals):
            hll.update(vals)
        return hll

    def emit(hll: HyperLogLog, kval) -> pd.DataFrame:
        return pd.DataFrame({key: [kval], "ndv_estimate": [int(hll.estimate())]})

    salt = (F.pmod(F.xxhash64(F.col(value)), F.lit(salt_buckets))
            if salt_buckets else None)
    return _per_key(df, key, sketch_of, emit, "ndv_estimate long", salt)


def quantiles_by_key(df: DataFrame, key: str, value: str,
                     qs: tuple[float, ...] = (0.25, 0.5, 0.75),
                     k: int = 200, seed: int = 5) -> DataFrame:
    """(key, q_x100, quantile_estimate) — one KLL sketch per key, the
    `GROUP BY` whose aggregate is a quantile sketch.  State per key is
    O(k·log(n/k)) floats regardless of group size (an exact per-key
    percentile sorts every group).  Rank error ≤ ~1.7/k per the KLL bound,
    checked against exact per-key ranks in tests and the driver oracle."""
    from cuckoofilter_spark.sketches.kll import KLLSketch

    key_t = dict(df.dtypes)[key]
    qarr = np.asarray(qs, dtype=np.float64)

    def per_key(kdf: pd.DataFrame) -> pd.DataFrame:
        kll = KLLSketch(k=k, seed=seed)
        vals = kdf[value].to_numpy(dtype=np.float64, na_value=np.nan)
        vals = vals[~np.isnan(vals)]
        if len(vals):
            kll.update(vals)
            est = kll.quantile(qarr)
        else:
            est = np.full(len(qarr), np.nan)
        return pd.DataFrame({
            key: np.repeat(kdf[key].iloc[0], len(qarr)),
            "q_x100": (qarr * 100).astype(np.int64),
            "quantile_estimate": est,
        })

    return df.groupBy(key).applyInPandas(
        per_key, schema=f"{key} {key_t}, q_x100 long, quantile_estimate double")


def topk_by_key(df: DataFrame, key: str, value: str, k: int = 1024,
                m: int = 10, salt_buckets: int | None = None) -> DataFrame:
    """(key, item, est, err) — per-key heavy-hitter DISCOVERY: one
    space-saving sketch per key, emitting its top-``m`` counters plus the
    key-level deterministic error bound (est ≤ true ≤ est + err for every
    item of that key; any item with true > err is present).

    The `GROUP BY key ORDER BY count DESC LIMIT m` that at 10^12 rows
    needs a full (key, value) count shuffle becomes k labeled counters of
    reducer state per key.  Skew: ``salt_buckets`` routes by VALUE hash to
    (key, salt) partial sketches — each distinct value lands wholly in one
    bucket, so partial per-value counts are exact and the per-key merge
    (pointwise sum, err adds) preserves the space-saving guarantee while
    bounding any one reducer's input to ~1/salt_buckets of the hot key.

    ``item`` is stringified (labels survive the sketch — mixed int/str keys
    normalize); callers gate against exact counts via str(value).
    """
    from cuckoofilter_spark.sketches.spacesaving import SpaceSavingSketch

    def sketch_of(kdf: pd.DataFrame) -> SpaceSavingSketch:
        sk = SpaceSavingSketch(k=k)
        vals = kdf[value].dropna()
        if len(vals):
            sk.update(vals.to_numpy())
        return sk

    def emit(sk: SpaceSavingSketch, kval) -> pd.DataFrame:
        top = sk.top(m)
        return pd.DataFrame({
            key: np.repeat(kval, len(top)),
            "item": [str(i) for i, _ in top],
            "est": np.asarray([c for _, c in top], dtype=np.int64),
            "err": np.full(len(top), sk.err, dtype=np.int64),
        })

    salt = (F.pmod(F.xxhash64(F.col(value).cast("string")), F.lit(salt_buckets))
            if salt_buckets else None)
    return _per_key(df, key, sketch_of, emit, "item string, est long, err long", salt)


def kmv_by_key(df: DataFrame, key: str, value: str, k: int = 1024,
               seed: int = 0, salt_buckets: int | None = None) -> DataFrame:
    """(key, blob) — one KMV bottom-k distinct sketch per key, built in
    ONE grouped aggregation job (vs a per-key driver loop of builds, which
    is S separate Spark jobs at S keys).  The blobs support the theta-
    sketch set operations (`sketches.kmv`): union / intersection /
    Jaccard between any two keys from the collected S·k·8 bytes.

    Skew: ``salt_buckets`` routes by VALUE hash to (key, salt) partial
    sketches merged per key — KMV merge is a set union, so the salted
    result is bit-identical to the unsalted one while any one reducer
    sees ~1/salt_buckets of a hot key's rows.
    """
    from cuckoofilter_spark.sketches.kmv import KMVSketch

    def sketch_of(kdf: pd.DataFrame) -> KMVSketch:
        sk = KMVSketch(k=k, seed=seed)
        vals = kdf[value].dropna()
        if len(vals):
            sk.update(vals.to_numpy(dtype=np.int64))
        return sk

    def emit(sk: KMVSketch, kval) -> pd.DataFrame:
        return pd.DataFrame({key: [kval], "blob": [sk.to_bytes()]})

    salt = (F.pmod(F.xxhash64(F.col(value)), F.lit(salt_buckets))
            if salt_buckets else None)
    return _per_key(df, key, sketch_of, emit, "blob binary", salt)
