"""Distributed build + query tests: the minimum end-to-end slice of
SURVEY.md §7 Phase 1 — "which of these candidate tokens appear anywhere in
the corpus?" — plus the north_rule obligations that need a SparkSession:
parallelism invariance and exact-oracle agreement.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuckoofilter_spark.core.serde import serialize_filter
from cuckoofilter_spark.operators.build import build_filter
from cuckoofilter_spark.operators.membership import cf_contains_udf, membership_df
from cuckoofilter_spark.params import CuckooParams
from cuckoofilter_spark.sources.tokens import synth_tokens_df


@pytest.fixture(scope="module")
def corpus(spark):
    df = synth_tokens_df(spark, n_docs=2_000, seed=42, num_partitions=8)
    df.cache().count()
    return df


def test_synth_corpus_deterministic_across_partitioning(spark):
    # per-row invariant (input_hint): token-array equality at any parallelism
    a = synth_tokens_df(spark, 300, seed=42, num_partitions=2).orderBy("doc_id").collect()
    b = synth_tokens_df(spark, 300, seed=42, num_partitions=7).orderBy("doc_id").collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]
    assert all(r.n_tok == len(r.tokens) for r in a)
    assert all(32 <= r.n_tok <= 512 for r in a)


def test_build_filter_over_token_arrays_no_false_negatives(spark, corpus):
    params = CuckooParams(max_table_size=65536, bits_per_fp=16)
    filt = build_filter(corpus, "tokens", params, num_partitions=8)
    # every distinct token present in the corpus must be a member
    present = np.array(
        [r[0] for r in corpus.select(F.explode("tokens").alias("t")).distinct().collect()],
        dtype=np.int64,
    )
    assert filt.contains(present).all()
    # FPR on a disjoint domain within the chain-scaled bound
    neg = np.arange(60_000, 110_000, dtype=np.int64)
    fpr = filt.contains(neg).mean()
    assert fpr <= params.fpr_bound * filt.cf_count * 1.2
    # set semantics: one stored fingerprint per distinct token, minus the
    # rare (bucket-pair, fp) collisions between distinct tokens
    n_distinct = len(present)
    assert filt.element_count <= n_distinct
    assert filt.element_count >= n_distinct * 0.99


def test_membership_query_matches_exact_semi_join(spark, corpus):
    # flagship query vs the exact relational oracle
    params = CuckooParams(max_table_size=65536, bits_per_fp=16)
    filt = build_filter(corpus, "tokens", params, num_partitions=8)
    probes = spark.range(0, 120_000).select(F.col("id").cast("int").alias("token"))
    got = set(
        r.token for r in membership_df(spark, filt, probes, "token").collect()
    )
    exact = set(
        r.t for r in corpus.select(F.explode("tokens").alias("t")).distinct().collect()
    )
    # no false negatives
    assert exact <= got
    # bounded false positives
    n_probes = 120_000
    fp = len(got - exact)
    assert fp / max(n_probes - len(exact), 1) <= params.fpr_bound * filt.cf_count * 1.2


def test_parallelism_invariance_same_filter_bytes(spark):
    # north_rule: identical estimates at N and 4N executors.  With the input
    # partition count pinned, the build and the merge tree are pure functions
    # of partition ids -> byte-identical filters regardless of core count.
    df = synth_tokens_df(spark, 1_000, seed=7, num_partitions=16)
    params = CuckooParams(max_table_size=32768, bits_per_fp=12)
    a = build_filter(df, "tokens", params, num_partitions=16, compact=False)
    b = build_filter(df, "tokens", params, num_partitions=16, compact=False)
    assert serialize_filter(a) == serialize_filter(b)


def test_cf_contains_udf_registrable_for_sql(spark, corpus):
    params = CuckooParams(max_table_size=65536, bits_per_fp=16)
    filt = build_filter(corpus, "tokens", params, num_partitions=8)
    spark.udf.register("cf_contains", cf_contains_udf(spark, filt))
    present = corpus.select(F.explode("tokens").alias("t")).limit(100)
    present.createOrReplaceTempView("probe_tokens_v")
    n = spark.sql("SELECT count(*) AS n FROM probe_tokens_v WHERE cf_contains(t)").collect()[0].n
    assert n == 100


def test_probe_broadcast_serialized_once_per_filter_content(spark, monkeypatch):
    """Queries against an unchanged filter reuse one broadcast (serialize
    once); every mutation — insert, delete, merge + compact, a direct table
    write — re-serializes, and the answers always match the driver's filter."""
    from collections import OrderedDict

    from cuckoofilter_spark.core import CuckooFilter, DynamicCuckooFilter
    from cuckoofilter_spark.core.serde import content_digest
    from cuckoofilter_spark.operators import membership as M

    monkeypatch.setattr(M, "_BROADCASTS", OrderedDict())
    blobs = []
    real = M.serialize_filter
    monkeypatch.setattr(M, "serialize_filter", lambda f: blobs.append(real(f)) or blobs[-1])

    params = CuckooParams(max_table_size=4096, bits_per_fp=16)
    filt = DynamicCuckooFilter(params, dedup=False)
    filt.insert(np.arange(0, 5_000, dtype=np.int64))
    domain = np.arange(0, 20_000, dtype=np.int64)
    probes = spark.range(0, 20_000).select(F.col("id").alias("k"))

    def query():
        n = membership_df(spark, filt, probes, "k").count()
        assert n == int(filt.contains(domain).sum())  # never stale
        return n

    n1 = query()
    n2 = query()
    assert len(blobs) == 1 and n1 == n2
    assert blobs[0] == serialize_filter(filt)
    cf_contains_udf(spark, filt)
    assert len(blobs) == 1

    filt.insert(np.arange(10_000, 12_000, dtype=np.int64))
    n3 = query()
    assert len(blobs) == 2 and n3 >= n1 + 2_000 - 10
    filt.delete(np.arange(0, 1_000, dtype=np.int64))
    n4 = query()
    assert len(blobs) == 3 and n4 < n3
    other = DynamicCuckooFilter(params, dedup=False)
    other.insert(np.arange(14_000, 17_000, dtype=np.int64))
    filt.merge(other)
    filt.compact()
    n5 = query()
    assert len(blobs) == 4 and n5 >= n4 + 3_000 - 10
    assert filt.contains(np.arange(14_000, 17_000, dtype=np.int64)).all()
    t = filt.tables[0]
    r, c = np.nonzero(t.table)
    t.table[r[0], c[0]] ^= 1
    query()
    assert len(blobs) == 5

    # same tables, different kind byte -> different content
    tbl = filt.tables[0]
    assert len({content_digest(CuckooFilter(params, table=tbl)),
                content_digest(DynamicCuckooFilter(params, tables=[tbl], dedup=False)),
                content_digest(DynamicCuckooFilter(params, tables=[tbl], dedup=True))}) == 3


def test_worker_filter_cache_evicts_least_recently_used(monkeypatch):
    """The per-worker deserialized-filter cache is an LRU bounded by table
    bytes: filling it past the bound evicts the least recently used entry
    and keeps the one just used."""
    import hashlib
    from collections import OrderedDict

    from cuckoofilter_spark.core import DynamicCuckooFilter
    from cuckoofilter_spark.operators import membership as M

    params = CuckooParams(max_table_size=1024, bits_per_fp=16)
    blobs = []
    for lo in (0, 1_000, 2_000):
        f = DynamicCuckooFilter(params)
        f.insert(np.arange(lo, lo + 500, dtype=np.int64))
        blobs.append(serialize_filter(f))
    size = f.memory_bytes()
    monkeypatch.setattr(M, "_FILTER_CACHE", OrderedDict())
    monkeypatch.setattr(M, "_FILTER_CACHE_BYTES", 2 * size)
    a = M._get_filter(blobs[0])
    M._get_filter(blobs[1])
    assert M._get_filter(blobs[0]) is a  # hit, and now most recent
    M._get_filter(blobs[2])
    md5 = [hashlib.md5(b).digest() for b in blobs]
    assert list(M._FILTER_CACHE) == [md5[0], md5[2]]  # blobs[1] evicted
    assert M._FILTER_CACHE[md5[0]] is a
    assert M._get_filter(blobs[1]).contains(np.arange(1_000, 1_500)).all()


def test_skewed_source_build_with_salting(spark, corpus):
    # explicit repartition over a salted key spreads the 0.7-weight 'web'
    # source across tasks; answers must be unchanged vs the unsalted build
    params = CuckooParams(max_table_size=65536, bits_per_fp=16)
    salted = corpus.repartition(8, F.abs(F.hash("doc_id", F.lit(17))) % 8)
    f1 = build_filter(salted, "tokens", params, num_partitions=None)
    f2 = build_filter(corpus, "tokens", params, num_partitions=8)
    probes = np.arange(0, 60_000, dtype=np.int64)
    assert (f1.contains(probes) == f2.contains(probes)).sum() >= len(probes) - int(
        params.fpr_bound * 4 * len(probes) + 10
    )
    # and identically zero false negatives on both
    present = np.array(
        [r[0] for r in corpus.select(F.explode("tokens").alias("t")).distinct().collect()],
        dtype=np.int64,
    )
    assert f1.contains(present).all() and f2.contains(present).all()


def test_distributed_build_all_configs(spark, corpus):
    """Every legal (entries_per_bucket, bits_per_fp) config builds and
    answers through the distributed pipeline, not just the 4x16 default."""
    import numpy as np

    from cuckoofilter_spark.operators.build import build_filter
    from cuckoofilter_spark.params import LEGAL_CONFIGS, CuckooParams

    probes = np.arange(0, 2000, dtype=np.int64)
    for (epb, bits) in sorted(LEGAL_CONFIGS):
        params = CuckooParams(max_table_size=1 << 16,
                              entries_per_bucket=epb, bits_per_fp=bits)
        filt = build_filter(corpus, "tokens", params, num_partitions=4)
        assert filt.contains(probes).all(), (epb, bits)  # Zipf head present


def test_pyarrow_build_splits_row_groups(spark, tmp_path):
    """Single-file tables get row-group-level tasks: a 6-row-group file
    builds the same answers as the generic path, and the split list
    actually fans out past one task."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cuckoofilter_spark.operators.build import (
        _num_row_groups,
        build_filter,
        build_filter_from_parquet,
    )
    from cuckoofilter_spark.params import CuckooParams

    keys = np.arange(60_000, dtype=np.int64)
    f = str(tmp_path / "one_file.parquet")
    pq.write_table(pa.table({"k": keys}), f, row_group_size=10_000)
    assert _num_row_groups(f) == 6

    params = CuckooParams(max_table_size=130_000, bits_per_fp=16)
    via_rg = build_filter_from_parquet(spark, f, "k", params)
    via_jvm = build_filter(spark.read.parquet(f), "k", params, num_partitions=6)
    probes = np.arange(0, 120_000, dtype=np.int64)
    assert np.array_equal(via_rg.contains(probes), via_jvm.contains(probes))
    assert via_rg.contains(keys).all()


def test_distributed_build_all_reference_configs(spark):
    """Every legal (entries_per_bucket, bits_per_fp) reference config
    builds through the distributed path with zero false negatives and
    in-bound FPR (the reference enforces exactly these five,
    CF/cuckoo_table.h:150-168)."""
    import numpy as np
    from pyspark.sql import functions as F

    from cuckoofilter_spark.operators.build import build_filter
    from cuckoofilter_spark.params import CuckooParams

    keys = spark.range(0, 20_000).select(F.col("id").alias("k"))
    probes = np.arange(0, 20_000, dtype=np.int64)
    negs = np.arange(10_000_000, 10_050_000, dtype=np.int64)
    for epb, bits in ((4, 4), (4, 8), (4, 12), (4, 16), (2, 32)):
        params = CuckooParams(max_table_size=40_000, entries_per_bucket=epb,
                              bits_per_fp=bits)
        filt = build_filter(keys, "k", params, num_partitions=6)
        assert filt.contains(probes).all(), (epb, bits)
        fpr = filt.contains(negs).mean()
        assert fpr <= max(params.fpr_bound, 3 / len(negs)) * 3, (epb, bits, fpr)
        # an input with no partitions still honours dedup (CKF2 kind byte
        # 2 = set-semantics filter, 1 = multiset)
        none = spark.range(0).select(F.col("id").alias("k"))
        for dedup, kind in ((True, 2), (False, 1)):
            empty = build_filter(none, "k", params, dedup=dedup)
            assert empty.dedup is dedup and empty.element_count == 0
            assert serialize_filter(empty)[4] == kind, (epb, bits, dedup)


def test_parquet_listing_skips_uncommitted_temporary_files(spark, tmp_path):
    """spark.read semantics: files under _temporary/ (or any _/.-prefixed
    directory) are uncommitted task attempts and must not enter the build."""
    import numpy as np

    from cuckoofilter_spark.operators.build import (_list_parquet_files,
                                                    build_filter_from_parquet)
    from cuckoofilter_spark.params import CuckooParams

    good = str(tmp_path / "tbl")
    spark.range(0, 1000).selectExpr("id AS k").coalesce(1).write.parquet(good)
    # drop an uncommitted attempt with DIFFERENT keys under _temporary/
    tmp_attempt = str(tmp_path / "tbl" / "_temporary" / "0" / "attempt_0")
    (spark.range(900000, 901000).selectExpr("id AS k")
     .coalesce(1).write.parquet(tmp_attempt))

    files = _list_parquet_files(good)
    assert files and all("_temporary" not in f for f in files)

    filt = build_filter_from_parquet(
        spark, good, "k", CuckooParams(max_table_size=8192, bits_per_fp=16))
    assert filt.contains(np.arange(0, 1000, dtype=np.int64)).all()
    leaked = filt.contains(np.arange(900000, 901000, dtype=np.int64)).mean()
    assert leaked <= CuckooParams(max_table_size=8192).fpr_bound * 3
