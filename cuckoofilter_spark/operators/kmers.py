"""String-key and n-gram membership: parity with the reference's FASTA
k-mer workload (``Tests/cf_fasta_test.cpp``, ``FASTA/fasta_reader.cpp``).

The reference hashes string k-mers with CityHash64 before fingerprinting
(``Utils/hash_function.cpp:64-68``).  The Spark-idiomatic equivalent keeps
string hashing JVM-side: ``xxhash64`` maps any key type (string, struct,
array) to int64 inside whole-stage codegen, and the filter is built over
the hashed column.  FPR depends only on hash uniformity, not on which
64-bit hash is used (SURVEY §2.4 #25), so the error bound is unchanged.

The k-mer *sliding window* (``FastaReader::nextKMere``, stride-1 windows)
maps to token n-grams: ``numpy.sliding_window_view`` over each document's
token array inside the Arrow UDF, combined with a vectorized polynomial
hash — the whole corpus's n-grams are enumerated without materializing
them as rows (no explode, no shuffle).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
from cuckoofilter_spark.operators.build import _build_cuckoo, build_filter
from cuckoofilter_spark.params import CuckooParams

#: odd multiplier for the rolling n-gram combine (Horner form)
NGRAM_MULT = np.uint64(0x9E3779B97F4A7C15)


def hashed_key(col: str | Column, seed: int = 42) -> Column:
    """JVM-side 64-bit hash of any key type — the CityHash64-for-strings
    analog.  Use to build/probe filters over non-integer keys."""
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(c, F.lit(seed))


def build_string_filter(df: DataFrame, col: str, params: CuckooParams,
                        seed: int = 42, **kw) -> DynamicCuckooFilter:
    """Build a membership filter over a string (or any hashable) column."""
    return build_filter(df.select(hashed_key(col, seed).alias("h")), "h",
                        params, **kw)


def ngram_hashes(tokens: np.ndarray, n: int) -> np.ndarray:
    """Vectorized stride-1 n-gram hash of one token array (the k-mer
    window, ``FASTA/fasta_reader.cpp:67-75``): Horner-combine the window
    with an odd 64-bit multiplier.  len(out) = max(0, len(tokens)-n+1)."""
    t = np.asarray(tokens, dtype=np.uint64)
    if len(t) < n:
        return np.empty(0, dtype=np.uint64)
    win = np.lib.stride_tricks.sliding_window_view(t, n)
    acc = np.zeros(len(win), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(n):
            acc = acc * NGRAM_MULT + win[:, j]
    return acc


def _flat_ngram_hashes(ends: np.ndarray, values: np.ndarray, n: int) -> np.ndarray:
    """n-gram hashes for a batch of token lists given per-doc end positions
    into the flat ``values`` array, without a Python-level per-window loop:
    Horner over the flat array, then windows crossing document boundaries
    are masked out."""
    if len(values) < n:
        return np.empty(0, dtype=np.uint64)
    vals = values.astype(np.uint64)
    win = np.lib.stride_tricks.sliding_window_view(vals, n)
    acc = np.zeros(len(win), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(n):
            acc = acc * NGRAM_MULT + win[:, j]
    # a window starting at flat position p is valid iff p+n ≤ the end of
    # the document containing p (first end strictly greater than p)
    starts = np.arange(len(win))
    doc_of = np.searchsorted(ends, starts, side="right")
    valid = (starts + n) <= ends[doc_of]
    return acc[valid]


def _batch_ngram_hashes(colarr, n: int) -> np.ndarray:
    """All stride-1 n-gram hashes of one Arrow ListArray batch (boundary-
    masked flat kernel) — shared by the build and probe paths."""
    if colarr.null_count:
        colarr = colarr.fill_null([])
    raw_off = colarr.offsets.to_numpy(zero_copy_only=False)
    # a sliced ListArray keeps absolute offsets into the full child
    # buffer — trim values and rebase ends to the slice
    values = colarr.values.to_numpy(zero_copy_only=False)[raw_off[0]:raw_off[-1]]
    ends = (raw_off[1:] - raw_off[0]).astype(np.int64)
    if not len(values):
        return np.empty(0, dtype=np.uint64)
    return _flat_ngram_hashes(ends, values, n)


def ngram_hash_df(df: DataFrame, col: str, n: int) -> DataFrame:
    """Enumerate every row's stride-1 n-gram hashes IN-PLAN: one
    ``mapInArrow`` over the array column with the same flat kernel the
    distributed build uses — no explode, no driver round-trip.  Returns a
    single-column relation ``h: long`` (one row per window) suitable for
    probing through ``cf_contains_udf``."""
    import pyarrow as pa

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for b in batches:
            hashes = _batch_ngram_hashes(b.column(0), n)
            yield pa.record_batch(
                {"h": pa.array(hashes.astype(np.int64), pa.int64())})

    return df.select(col).mapInArrow(fn, "h long")


def build_ngram_filter(df: DataFrame, col: str, n: int, params: CuckooParams,
                       fanin: int = 8, dedup: bool = True) -> DynamicCuckooFilter:
    """Distributed n-gram membership filter over an array<int> column —
    the FASTA workload end-to-end: every stride-1 token n-gram of the
    corpus becomes a filter member."""
    return _build_cuckoo(df, col, params,
                         lambda c: _batch_ngram_hashes(c, n).astype(np.int64),
                         fanin=fanin, num_partitions=None, compact=True, dedup=dedup)


def contains_ngrams(filt: DynamicCuckooFilter, tokens: np.ndarray, n: int) -> np.ndarray:
    """Probe every stride-1 window of one token array."""
    return filt.contains(ngram_hashes(tokens, n).astype(np.int64))
