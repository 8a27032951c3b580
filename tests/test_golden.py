"""Frozen bytes: the CKF2 wire format and the output of every distributed
builder.

``tests/golden/`` holds one serialized filter per legal configuration;
each must deserialize to the same answers and re-serialize to the same
bytes.  The builder digests are md5s of each builder's serialized result
on fixed seeded inputs with pinned partition counts, so any change to the
leaf build, the merge tree's shape or fold order, or the codecs shows up
as a changed digest.  Regenerate the blobs with
``PYTHONPATH=. python tests/test_golden.py``; re-record a digest only
together with a note on why the bytes changed.
"""

import hashlib
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
from cuckoofilter_spark.core.serde import deserialize_filter, serialize_filter
from cuckoofilter_spark.params import LEGAL_CONFIGS, CuckooParams

GOLDEN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden")
PROBES = np.arange(0, 40_000, dtype=np.int64)

#: (epb, bits) -> (dedup, n_tables, element_count, md5 of contains(PROBES))
GOLDEN = {
    (2, 32): (True, 4, 1429, "b5df06017db06890bd06ffd2c837db56"),
    (4, 4): (False, 2, 1700, "f0cb77eb666213c8292b49a69de8d1a4"),
    (4, 8): (True, 2, 1420, "82c1e18d1ac4b683ddf692b4b748a100"),
    (4, 12): (False, 2, 1700, "53ff3fed70679d5ca5bca3dc367cb49f"),
    (4, 16): (True, 2, 1442, "86bc88b113f5abaf6e5dccf08c95dc7c"),
}


def _golden_keys(epb: int, bits: int) -> np.ndarray:
    rng = np.random.default_rng(100 * epb + bits)
    keys = rng.integers(0, 20_000, 1_500)
    return np.concatenate([keys, keys[:200]])  # repeats: multiset vs set


def _golden_filter(epb: int, bits: int) -> DynamicCuckooFilter:
    params = CuckooParams(max_table_size=512, entries_per_bucket=epb,
                          bits_per_fp=bits)
    filt = DynamicCuckooFilter(params, rng_seed=3, dedup=bits % 8 == 0)
    filt.insert(_golden_keys(epb, bits))
    return filt


def _golden_path(epb: int, bits: int) -> str:
    return os.path.join(GOLDEN_DIR, f"ckf2_e{epb}_b{bits}.bin")


def _md5(data: bytes) -> str:
    return hashlib.md5(data).hexdigest()


@pytest.mark.parametrize("epb,bits", sorted(LEGAL_CONFIGS))
def test_golden_blob_answers(epb, bits):
    with open(_golden_path(epb, bits), "rb") as fh:
        blob = fh.read()
    filt = deserialize_filter(blob)
    assert (filt.params.entries_per_bucket, filt.params.bits_per_fp) == (epb, bits)
    dedup, n_tables, count, answers = GOLDEN[(epb, bits)]
    assert (filt.dedup, filt.cf_count, filt.element_count) == (dedup, n_tables, count)
    assert filt.contains(_golden_keys(epb, bits)).all()
    assert _md5(filt.contains(PROBES).tobytes()) == answers
    assert serialize_filter(filt) == blob


# -- builder digests ---------------------------------------------------------

#: builder -> md5 of its serialized result
DIGESTS = {
    "build_filter": "0e292da49e5eb3c6dd190b9199c45d5f",
    "build_filter_uncompacted": "d7bfe484d257e3d0d85caaf5123744be",
    "build_filter_from_parquet": "167041955e8b739924a2c4dcb783f76f",
    "build_ngram_filter": "a10e935a9069c0d4fe10f68bd538b12b",
    "build_fasta_filter": "baa21480ff3313a9a8d7b5d2b3c24fc7",
    "checkpointed_finalize": "44dda826ed6998bde192e7a2a816b416",
    "build_sketch_hll": "1f4e022055e9dc68854ae0d50e087ac1",
    "build_sketch_countmin": "b7c92e03028de19557e37ee407988010",
    "build_sketch_kll": "036714a63e4eeb21e6e18c201549bef2",
}

#: small tables: the token builds grow a chain, so compaction changes bytes
P12 = CuckooParams(max_table_size=4096, bits_per_fp=12)
P16 = CuckooParams(max_table_size=65536, bits_per_fp=16)


def _tokens(spark, n_docs=1_000, seed=7, parts=16):
    from cuckoofilter_spark.sources.tokens import synth_tokens_df

    return synth_tokens_df(spark, n_docs, seed=seed, num_partitions=parts)


def _token_parquet(path: str) -> str:
    """One file, twelve row groups of list<int32> tokens (the split build
    makes one task per row group)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(5)
    lens = rng.integers(1, 60, 1_200)
    values = (rng.zipf(1.3, int(lens.sum())) % 50_000).astype(np.int32)
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    tokens = pa.ListArray.from_arrays(pa.array(offsets), pa.array(values))
    pq.write_table(pa.table({"tokens": tokens}), path, row_group_size=100)
    return path


def _build(name: str, spark, tmp_path) -> bytes:
    from cuckoofilter_spark.sketches.base import serialize_sketch

    if name == "build_filter":
        from cuckoofilter_spark.operators.build import build_filter

        return serialize_filter(build_filter(_tokens(spark), "tokens", P12,
                                             num_partitions=16))
    if name == "build_filter_uncompacted":
        from cuckoofilter_spark.operators.build import build_filter

        return serialize_filter(build_filter(_tokens(spark), "tokens", P12,
                                             num_partitions=16, compact=False))
    if name == "build_filter_from_parquet":
        from cuckoofilter_spark.operators.build import build_filter_from_parquet

        path = _token_parquet(str(tmp_path / "tokens.parquet"))
        return serialize_filter(build_filter_from_parquet(spark, path, "tokens", P16))
    if name == "build_ngram_filter":
        from cuckoofilter_spark.operators.kmers import build_ngram_filter

        df = _tokens(spark, n_docs=400, seed=3, parts=12)
        return serialize_filter(build_ngram_filter(df, "tokens", 3, P16))
    if name == "build_fasta_filter":
        from test_fasta import FNA, K

        from cuckoofilter_spark.sources.fasta import build_fasta_filter

        params = CuckooParams(max_table_size=8192, bits_per_fp=16)
        return serialize_filter(build_fasta_filter(spark, [FNA], K, params,
                                                   chunk_bytes=256))
    if name == "checkpointed_finalize":
        from cuckoofilter_spark.operators.checkpointed_build import CheckpointedBuild

        cb = CheckpointedBuild(spark, str(tmp_path / "ckpt"), P16, "tokens",
                               n_shards=16)
        cb.run(_tokens(spark, n_docs=300, seed=42, parts=4))
        return serialize_filter(cb.finalize(fanin=8))
    from cuckoofilter_spark.operators.sketch_build import build_sketch
    from cuckoofilter_spark.sketches.countmin import CountMinSketch
    from cuckoofilter_spark.sketches.hll import HyperLogLog
    from cuckoofilter_spark.sketches.kll import KLLSketch

    if name == "build_sketch_hll":
        sk = build_sketch(_tokens(spark), "tokens", lambda pid: HyperLogLog(p=12),
                          fanin=4, num_partitions=16)
    elif name == "build_sketch_countmin":
        sk = build_sketch(_tokens(spark), "tokens",
                          lambda pid: CountMinSketch(depth=4, width=1024),
                          fanin=4, num_partitions=16)
    else:
        assert name == "build_sketch_kll", name
        df = _tokens(spark).select(F.col("n_tok").cast("double").alias("v"))
        sk = build_sketch(df, "v", lambda pid: KLLSketch(k=32, seed=pid),
                          fanin=4, num_partitions=16, values="float")
    return serialize_sketch(sk)


@pytest.mark.parametrize("name", sorted(DIGESTS))
def test_builder_digest(spark, tmp_path, name):
    assert _md5(_build(name, spark, tmp_path)) == DIGESTS[name]


if __name__ == "__main__":
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    for epb, bits in sorted(LEGAL_CONFIGS):
        f = _golden_filter(epb, bits)
        with open(_golden_path(epb, bits), "wb") as fh:
            fh.write(serialize_filter(f))
        print((epb, bits), (f.dedup, f.cf_count, f.element_count,
                            _md5(f.contains(PROBES).tobytes())))
