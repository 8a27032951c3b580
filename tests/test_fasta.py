"""FASTA k-mer workload parity — the reference's own end-to-end test
(``Tests/cf_fasta_test.cpp:25-71``: insert → FPR on random k-mers →
contains-all-inserted → delete-all) run through the distributed build
against the committed synthetic fixture in ``data/fasta/`` (a small
genome plus a random-k-mer probe file, regenerated by
``scripts/make_fasta_fixture.py``)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuckoofilter_spark.params import CuckooParams
from cuckoofilter_spark.sources.fasta import (
    build_fasta_filter,
    cf_contains_kmer_udf,
    fasta_kmers_df,
    hash_kmer_batch,
    kmer_hashes,
    kmer_strings,
    parse_fasta,
)

import cuckoofilter_spark

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(cuckoofilter_spark.__file__)),
                           os.pardir, "data", "fasta")
FNA = os.path.normpath(os.path.join(FIXTURE_DIR, "synth_small.fna"))
RANDOM_KMERS = os.path.normpath(os.path.join(FIXTURE_DIR, "random_synth_small_kmers_10.txt"))
FIXTURE_IDENT = "synth_small seeded ACGT fixture"
FIXTURE_SEED = 11
FIXTURE_BYTES = 3000
#: the line ``_synth_fna(multi_record=True)`` writes after 39 sequence lines
LATER_HEADER = ">rec2 mid-file header-as-sequence"
N_RANDOM_KMERS = 1000
K = 10


def test_parse_fasta_reference_semantics():
    ident, seq = parse_fasta(open(FNA).read())
    assert ident == FIXTURE_IDENT
    # all sequence lines concatenated, no newlines; the later '>' line is
    # sequence bytes (reference reader semantics), the rest is ACGT
    assert seq.count(LATER_HEADER) == 1
    assert set(seq.replace(LATER_HEADER, "")) <= set("ACGT")
    assert len(seq) > FIXTURE_BYTES


def test_fixture_is_reproducible(tmp_path):
    """The committed fixture is exactly what its seeded generator writes,
    and it covers the reader's branches: ragged wrapped lines and several
    byte-range chunks at the query's ``chunk_bytes=256``."""
    from cuckoofilter_spark.sources.fasta import plan_chunks

    again = _synth_fna(tmp_path / "again.fna", n_bytes=FIXTURE_BYTES,
                       seed=FIXTURE_SEED, multi_record=True, ident=FIXTURE_IDENT)
    assert open(again, "rb").read() == open(FNA, "rb").read()
    widths = {len(line) for line in open(FNA).read().splitlines()[1:]}
    assert len(widths) > 10
    assert len(plan_chunks([FNA], 256)) >= 8
    probes = open(RANDOM_KMERS).read().split()
    assert len(probes) == N_RANDOM_KMERS
    assert all(len(p) == K and set(p) <= set("ACGT") for p in probes)


def test_kmer_window_matches_reference_iterator():
    """Our stride-1 windows = FastaReader::nextKMere order and count."""
    _, seq = parse_fasta(open(FNA).read())
    kmers = kmer_strings(seq, K)
    assert len(kmers) == len(seq) - K + 1
    assert kmers[0] == seq[:K] and kmers[-1] == seq[-K:]


def test_hash_kernels_agree():
    _, seq = parse_fasta(open(FNA).read())
    kmers = kmer_strings(seq, K)
    assert np.array_equal(kmer_hashes(seq, K), hash_kmer_batch(kmers, K))


def test_fasta_kmers_df_enumerates_all_windows(spark):
    df = fasta_kmers_df(spark, [FNA], K)
    _, seq = parse_fasta(open(FNA).read())
    assert df.count() == len(seq) - K + 1
    head = df.orderBy("pos").limit(3).collect()
    assert [r["kmer"] for r in head] == kmer_strings(seq, K)[:3]


@pytest.fixture(scope="module")
def fasta_filter(spark):
    _, seq = parse_fasta(open(FNA).read())
    n = len(seq) - K + 1
    params = CuckooParams(max_table_size=2 * n, bits_per_fp=16)
    return build_fasta_filter(spark, [FNA], K, params, dedup=False), params


def test_insert_then_contains_all(spark, fasta_filter):
    """Phase 2 of cf_fasta_test: every inserted k-mer answers member —
    probed through Spark with the k-mer UDF."""
    filt, _ = fasta_filter
    df = fasta_kmers_df(spark, [FNA], K)
    contains = cf_contains_kmer_udf(spark, filt, K)
    assert df.filter(~contains(F.col("kmer"))).count() == 0


def test_fpr_on_random_kmers(spark, fasta_filter):
    """Phase 1 of cf_fasta_test (getFPRate): probe the held-out random
    k-mers file; FP rate within the configured bound."""
    filt, params = fasta_filter
    with open(RANDOM_KMERS) as fh:
        probes = [l.strip() for l in fh if l.strip()]
    assert all(len(p) == K for p in probes)
    h = hash_kmer_batch(np.array(probes), K).astype(np.int64)
    member = filt.contains(h)
    # genuine members are possible (random k-mers may occur in the genome);
    # subtract them before holding the rest to the FP bound
    _, seq = parse_fasta(open(FNA).read())
    truth = np.array([p in seq for p in probes])
    fp = member & ~truth
    assert fp.sum() <= max(3, int(3 * params.fpr_bound * len(probes)))


def test_delete_all_restores_empty(spark, fasta_filter):
    """Phase 3 (deleteAll): deleting every inserted copy empties the
    multiset filter."""
    filt, _ = fasta_filter
    import copy

    f = copy.deepcopy(filt)
    _, seq = parse_fasta(open(FNA).read())
    h = kmer_hashes(seq, K).astype(np.int64)
    ok = f.delete(h)
    assert ok.all()
    assert f.element_count == 0


def test_kmer_probe_handles_null_and_short_strings(spark, fasta_filter):
    """NULL / wrong-length probes answer False (a non-k-length string is
    not a k-mer) instead of crashing the batch (ADVICE r2)."""
    from pyspark.sql.types import StringType, StructField, StructType

    filt, _ = fasta_filter
    contains = cf_contains_kmer_udf(spark, filt, K)
    _, seq = parse_fasta(open(FNA).read())
    rows = [(seq[:K],), (None,), ("ACG",), ("",), (seq[:K + 3],), (seq[5:5 + K],)]
    df = spark.createDataFrame(rows, StructType([StructField("kmer", StringType())]))
    got = [r["m"] for r in
           df.select(contains(F.col("kmer")).alias("m")).collect()]
    assert got == [True, False, False, False, False, True]


def test_hash_kmer_batch_short_strings_no_crash():
    out = hash_kmer_batch(["ACG", "", "ACGTACGTAC"], 10)
    assert out.shape == (3,)
    assert out[2] == kmer_hashes("ACGTACGTAC", 10)[0]


def _synth_fna(path, n_bytes=30000, seed=7, multi_record=False,
               ident="synth test genome"):
    """Deterministic ACGT file with RAGGED line lengths (so newline density
    varies across byte ranges — the thing that makes chunk offsets
    non-trivial); optionally a mid-file '>' line, which the reference
    reader treats as sequence bytes."""
    rng = np.random.default_rng(seed)
    lines = [">" + ident]
    written = 0
    while written < n_bytes:
        n = int(rng.integers(1, 120))
        lines.append("".join("ACGT"[i] for i in rng.integers(0, 4, n)))
        written += n
        if multi_record and len(lines) == 40:
            lines.append(">rec2 mid-file header-as-sequence")
    path.write_text("\n".join(lines) + "\n")
    return str(path)


@pytest.mark.parametrize("multi_record", [False, True])
def test_chunked_kmers_identical_to_wholefile(spark, tmp_path, multi_record):
    """The byte-range scan (k-1 lookahead, counting-pass offsets) emits a
    (seq_id, pos, kmer) relation IDENTICAL to the reference-exact
    whole-file parse on a file that fans into many chunks (VERDICT r3 #4)."""
    from cuckoofilter_spark.sources.fasta import plan_chunks

    fna = _synth_fna(tmp_path / "synth.fna", multi_record=multi_record)
    assert len(plan_chunks([fna], 1024)) > 20
    whole = {(r["seq_id"], r["pos"], r["kmer"]) for r in
             fasta_kmers_df(spark, [fna], K, chunk_bytes=None).collect()}
    chunked = {(r["seq_id"], r["pos"], r["kmer"]) for r in
               fasta_kmers_df(spark, [fna], K, chunk_bytes=1024).collect()}
    assert chunked == whole and len(whole) > 25000


def test_chunked_build_identical_to_wholefile(spark, tmp_path):
    """Chunked filter build: same element_count (per-occurrence multiset,
    so boundary windows are inserted exactly once), contains every k-mer,
    and delete-all still restores empty."""
    fna = _synth_fna(tmp_path / "synth.fna")
    _, seq = parse_fasta(open(fna).read())
    n = len(seq) - K + 1
    params = CuckooParams(max_table_size=2 * n, bits_per_fp=16)
    whole = build_fasta_filter(spark, [fna], K, params, dedup=False,
                               chunk_bytes=None)
    chunked = build_fasta_filter(spark, [fna], K, params, dedup=False,
                                 chunk_bytes=1024)
    assert chunked.element_count == whole.element_count == n
    h = kmer_hashes(seq, K).astype(np.int64)
    assert chunked.contains(h).all()
    assert chunked.delete(h).all() and chunked.element_count == 0


def test_header_scan_junk_and_headerless(tmp_path):
    """Reference semantics at the chunk planner: pre-'>' lines discarded;
    a file with no '>' line at all has an empty sequence region."""
    from cuckoofilter_spark.sources.fasta import header_scan, plan_chunks

    junk = tmp_path / "junk.fna"
    junk.write_text("; comment\nnoise\n>id here\nACGT\n")
    ident, off = header_scan(str(junk))
    assert ident == "id here"
    assert junk.read_text()[off:] == "ACGT\n"

    hdrless = tmp_path / "plain.txt"
    hdrless.write_text("ACGT\nACGT\n")
    ident, off = header_scan(str(hdrless))
    assert ident == "" and off == len(hdrless.read_text())
    # planner still emits one (empty) chunk so the build sees the file
    assert len(plan_chunks([str(hdrless)], 1024)) == 1


def test_multi_record_fasta_matches_oracle_semantics(tmp_path):
    """parse_fasta's verbatim concatenation (reference fasta_reader.cpp
    semantics: later '>' lines are sequence bytes) must equal the DuckDB
    oracle's slicing on a MULTI-record file (ADVICE r2)."""
    import duckdb

    fna = tmp_path / "multi.fna"
    fna.write_text(">rec1\nACGTACGTACGT\nTTAACCGG\n>rec2\nGGGCCCAAATTT\n")
    _, seq = parse_fasta(fna.read_text())
    impl = sorted(set(kmer_strings(seq, K)))
    sql = f"""
    WITH f AS (SELECT string_split(content, chr(10)) AS ls
               FROM read_text('{fna}')),
    h AS (SELECT ls, list_position(list_transform(ls,
                 x -> substr(x, 1, 1) = '>'), TRUE) AS hi FROM f),
    s AS (SELECT list_aggregate(ls[hi+1:], 'string_agg', '') AS seq FROM h)
    SELECT DISTINCT unnest(list_transform(range(1, length(seq) - {K} + 2),
                                          i -> substr(seq, i, {K}))) AS kmer
    FROM s ORDER BY kmer
    """
    oracle = [r[0] for r in duckdb.sql(sql).fetchall()]
    assert impl == oracle


def test_fasta_datasource_matches_iterator_stream(spark, tmp_path):
    """spark.read.format('fasta') = the reference FastaIterator's k-mer
    stream (per-occurrence multiset, order-insensitive), partition-
    parallel over byte-range chunks (SURVEY §2 #30)."""
    from collections import Counter

    from cuckoofilter_spark.sources.fasta_datasource import FastaDataSource

    spark.dataSource.register(FastaDataSource)
    fna = _synth_fna(tmp_path / "ds.fna", n_bytes=8000)
    df = (spark.read.format("fasta")
          .option("path", fna).option("k", K)
          .option("chunk_bytes", 1024).load())
    rows = df.collect()
    _, seq = parse_fasta(open(fna).read())
    want = Counter(kmer_strings(seq, K))
    got = Counter(r["kmer"] for r in rows)
    assert got == want
    assert {r["seq_id"] for r in rows} == {"synth test genome"}
    # it's a real relation: filters/aggregates compose
    top = (df.groupBy("kmer").count().orderBy("count", "kmer")
           .limit(1).collect())
    assert top[0]["count"] >= 1


def test_fasta_datasource_multi_file_and_validation(spark, tmp_path):
    from cuckoofilter_spark.sources.fasta_datasource import FastaDataSource

    spark.dataSource.register(FastaDataSource)
    a = _synth_fna(tmp_path / "a.fna", n_bytes=600, seed=1, ident="rec a")
    b = _synth_fna(tmp_path / "b.fna", n_bytes=600, seed=2, ident="rec b")
    df = (spark.read.format("fasta")
          .option("path", f"{a},{b}").option("k", K).load())
    assert df.select("seq_id").distinct().count() == 2
    n = df.count()
    tot = sum(len(kmer_strings(parse_fasta(open(p).read())[1], K))
              for p in (a, b))
    assert n == tot
    import pytest as _pytest
    with _pytest.raises(Exception, match="requires option 'k'"):
        spark.read.format("fasta").option("path", a).load().count()


def test_fasta_datasource_batch_slicing_preserves_stream(spark, tmp_path):
    """Sliced Arrow emission (batch_windows option, default 64k) changes
    batch boundaries only — the k-mer multiset is identical to the
    one-batch read."""
    from collections import Counter

    from cuckoofilter_spark.sources.fasta_datasource import FastaDataSource

    spark.dataSource.register(FastaDataSource)
    fna = _synth_fna(tmp_path / "slice.fna", n_bytes=4000)

    def stream(**opts):
        r = spark.read.format("fasta").option("path", fna).option("k", K)
        for k_, v in opts.items():
            r = r.option(k_, v)
        return Counter(x["kmer"] for x in r.load().collect())

    assert stream(batch_windows=97) == stream() and sum(stream().values()) > 3000


def test_prewarm_python_datasource_is_idempotent(spark, monkeypatch):
    """First call pays the session-wide DS runtime bring-up once; the
    second is a config lookup only (bench.py relies on this in its warm
    block so fasta_kmers measures its own work, not runtime startup)."""
    from pyspark.sql.readwriter import DataFrameReader

    from cuckoofilter_spark.sources.fasta_datasource import (
        prewarm_python_datasource,
    )

    prewarm_python_datasource(spark)
    assert spark.conf.get("cuckoofilter.ds_runtime_warmed") == "1"
    # spy on every read the second call starts: there must be none
    formats = []
    orig = DataFrameReader.format

    def spy(self, source):
        formats.append(source)
        return orig(self, source)

    monkeypatch.setattr(DataFrameReader, "format", spy)
    prewarm_python_datasource(spark)
    assert formats == []
