"""Core filter tests — pytest ports of the reference's assert-based harnesses
(SURVEY.md §5): insert-then-contains, FPR vs published bound, delete support,
fill-to-failure load factor, DCF growth + compaction, plus our additional
obligations: serde round-trip, merge associativity, 12/4-bit packing.
"""

import itertools

import numpy as np
import pytest

from cuckoofilter_spark.core import CuckooFilter, DynamicCuckooFilter
from cuckoofilter_spark.core.serde import deserialize_filter, serialize_filter
from cuckoofilter_spark.params import LEGAL_CONFIGS, CuckooParams, highest_power_of_two


def test_power_of_two_rounding():
    # reference Utils/util.h:9-19 semantics: 40000 -> 32768, exact pow2 halves
    assert highest_power_of_two(40000) == 32768
    assert highest_power_of_two(8) == 4
    assert highest_power_of_two(10000) == 8192
    assert highest_power_of_two(1) == 1


def test_illegal_config_rejected():
    # reference CF/cuckoo_table.h:150-168 enforces exactly 5 configs
    with pytest.raises(ValueError):
        CuckooParams(entries_per_bucket=3, bits_per_fp=16)
    with pytest.raises(ValueError):
        CuckooParams(entries_per_bucket=4, bits_per_fp=32)


def test_insert_then_contains_zero_false_negatives():
    # Demo/cf_demo.cpp:30-36,100 — every inserted key must hit
    p = CuckooParams(max_table_size=40000, bits_per_fp=16)
    cf = CuckooFilter(p)
    keys = np.arange(100_000, dtype=np.int64)
    ok = cf.insert(keys)
    assert ok.all()  # 100k into 131072 slots fits
    assert cf.contains(keys).all()
    assert cf.element_count == 100_000


@pytest.mark.parametrize("bits", [8, 12, 16])
def test_fpr_within_published_bound(bits):
    # Demo/cf_demo.cpp:38-49 measured; we assert vs eps <= 2b/2^f (Fan et al.)
    p = CuckooParams(max_table_size=65536, bits_per_fp=bits)
    cf = CuckooFilter(p)
    cf.insert(np.arange(150_000, dtype=np.int64))
    neg = np.arange(1_000_000, 1_100_000, dtype=np.int64)
    fpr = cf.contains(neg).mean()
    assert fpr <= p.fpr_bound * 1.15  # small slack over the expectation bound


def test_delete_roundtrip():
    # Demo/cf_demo.cpp:51-57 + post-delete check (SURVEY.md §5.3)
    p = CuckooParams(max_table_size=40000, bits_per_fp=16)
    cf = CuckooFilter(p)
    keys = np.arange(50_000, dtype=np.int64)
    cf.insert(keys)
    dropped = keys[::2]
    kept = keys[1::2]
    assert cf.delete(dropped).all()
    # kept elements: still zero false negatives
    assert cf.contains(kept).all()
    assert cf.element_count == len(kept)
    # delete-all
    assert cf.delete(kept).all()
    assert cf.element_count == 0
    assert not cf.contains(keys).any()


def test_delete_duplicates_consume_copies():
    p = CuckooParams(max_table_size=1024, bits_per_fp=16)
    cf = CuckooFilter(p)
    cf.insert(np.array([7, 7, 7]))
    assert cf.element_count == 3
    res = cf.delete(np.array([7, 7, 7, 7]))
    assert res.tolist() == [True, True, True, False]


def test_fill_to_failure_load_at_least_95_percent():
    # Tests/simple_test.cpp:54-117 analog; b=4 cuckoo filters reach ~95-98%
    p = CuckooParams(max_table_size=10000, bits_per_fp=16)
    cf = CuckooFilter(p)
    keys = np.arange(200_000, dtype=np.int64)
    successes = []
    for i in range(0, len(keys), 1024):
        ok = cf.insert(keys[i : i + 1024])
        successes.append(keys[i : i + 1024][ok])
        if cf.is_full():
            break
    assert cf.is_full()
    assert cf.load_factor() >= 0.95
    # no false negatives among accepted keys, victim included
    s = np.concatenate(successes)
    assert cf.contains(s).all()
    # full filter rejects everything
    assert not cf.insert(np.array([999_999_999])).any()


def test_availability_matches_reference_formula():
    p = CuckooParams(max_table_size=1000, bits_per_fp=16)
    cf = CuckooFilter(p)
    cf.insert(np.arange(100))
    # CF/cuckoo_filter.h:305-310: availability = free/slots*100
    assert cf.availability() == pytest.approx((p.slots - 100) / p.slots * 100)


def test_dcf_growth_and_compaction():
    # Demo/dcf_demo.cpp:52-57 — 100k into 8192-bucket chain (~3.4x overfull)
    p = CuckooParams(max_table_size=10000, bits_per_fp=16)
    dcf = DynamicCuckooFilter(p)
    keys = np.arange(100_000, dtype=np.int64)
    dcf.insert(keys)
    assert dcf.element_count == 100_000
    assert dcf.cf_count >= 4  # ceil(100000 / (0.9*32768))
    assert dcf.contains(keys).all()
    # delete a chunk then compact: chain should shrink
    dcf.delete(keys[:60_000])
    before = dcf.cf_count
    dcf.compact()
    assert dcf.cf_count <= before
    assert dcf.cf_count < 4
    assert dcf.contains(keys[60_000:]).all()
    assert dcf.element_count == 40_000


def test_dcf_fpr_scales_with_chain_length():
    p = CuckooParams(max_table_size=10000, bits_per_fp=16)
    dcf = DynamicCuckooFilter(p)
    dcf.insert(np.arange(100_000, dtype=np.int64))
    neg = np.arange(1_000_000, 1_100_000, dtype=np.int64)
    fpr = dcf.contains(neg).mean()
    assert fpr <= p.fpr_bound * dcf.cf_count * 1.15


@pytest.mark.parametrize("epb,bits", [(4, 4), (4, 8), (4, 12), (4, 16), (2, 32)])
def test_serde_roundtrip_all_configs(epb, bits):
    p = CuckooParams(max_table_size=4096, entries_per_bucket=epb, bits_per_fp=bits)
    f = DynamicCuckooFilter(p)
    keys = np.arange(5_000, dtype=np.int64)
    f.insert(keys)
    g = deserialize_filter(serialize_filter(f))
    probes = np.arange(0, 50_000, dtype=np.int64)
    assert (g.contains(probes) == f.contains(probes)).all()
    assert g.element_count == f.element_count
    # packed wire width: 12-bit blob must be smaller than 16-bit lanes
    if bits == 12:
        assert len(serialize_filter(f)) < p.slots * 2


def test_cf_serde_preserves_victim():
    p = CuckooParams(max_table_size=128, bits_per_fp=16)
    cf = CuckooFilter(p)
    i = 0
    while not cf.is_full():
        cf.insert(np.arange(i, i + 256, dtype=np.int64))
        i += 256
    g = deserialize_filter(serialize_filter(cf))
    assert g.victim == cf.victim
    probes = np.arange(0, i, dtype=np.int64)
    assert (g.contains(probes) == cf.contains(probes)).all()


def test_merge_answers_associative_and_commutative():
    # north_rule: permute partition merge order -> identical answers
    rng = np.random.default_rng(42)
    parts = np.array_split(rng.integers(0, 1_000_000, 40_000), 4)
    filters = []
    for i, part in enumerate(parts):
        f = DynamicCuckooFilter(CuckooParams(max_table_size=8192, bits_per_fp=16), rng_seed=i)
        f.insert(part)
        filters.append(serialize_filter(f))
    probes = rng.integers(0, 2_000_000, 50_000)
    all_keys = np.concatenate(parts)
    answers = []
    for perm in itertools.permutations(range(4)):
        m = DynamicCuckooFilter(CuckooParams(max_table_size=8192, bits_per_fp=16))
        for j in perm:
            m.merge(deserialize_filter(filters[j]))
        a = m.contains(probes)
        answers.append(a)
        assert m.contains(all_keys).all()  # no false negatives post-merge
        assert m.element_count == len(all_keys)
    for a in answers[1:]:
        assert (a == answers[0]).all()


def test_merge_then_compact_preserves_membership():
    rng = np.random.default_rng(7)
    keys = rng.integers(0, 500_000, 20_000)
    halves = np.array_split(keys, 2)
    a = DynamicCuckooFilter(CuckooParams(max_table_size=4096, bits_per_fp=12), rng_seed=0)
    b = DynamicCuckooFilter(CuckooParams(max_table_size=4096, bits_per_fp=12), rng_seed=1)
    a.insert(halves[0])
    b.insert(halves[1])
    a.merge(b)
    a.compact()
    assert a.contains(keys).all()


def test_determinism_across_runs():
    # same input + seeds -> byte-identical serialized filter (resume-safety)
    def build():
        f = DynamicCuckooFilter(CuckooParams(max_table_size=2048, bits_per_fp=16, seed=3), rng_seed=11)
        f.insert(np.arange(20_000, dtype=np.int64))
        return serialize_filter(f)

    assert build() == build()


def test_bulk_delete_matches_sequential_loop():
    """Vectorized chain delete == the per-key delete_at loop: same
    success mask, same surviving multiset (copies of one (bucket-pair,
    fp) are interchangeable)."""
    import numpy as np

    from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
    from cuckoofilter_spark.params import CuckooParams

    rng = np.random.default_rng(11)
    params = CuckooParams(max_table_size=4096, bits_per_fp=12)
    keys = rng.integers(0, 5000, size=20_000)  # heavy duplication
    a = DynamicCuckooFilter(params, dedup=False)
    b = DynamicCuckooFilter(params, dedup=False)
    a.insert(keys)
    b.insert(keys)

    dels = rng.permutation(np.concatenate([keys[:15_000], rng.integers(6000, 7000, 500)]))
    got = a.delete(dels)

    # sequential reference: per-key first-hit loop over the same chain
    fp, i1 = b.first_pass(dels)
    i2 = b.tables[0].complement(i1, fp)
    want = np.zeros(len(dels), dtype=bool)
    for k in range(len(dels)):
        for t in b.tables:
            if t.delete_at(int(i1[k]), int(fp[k])) or t.delete_at(int(i2[k]), int(fp[k])):
                want[k] = True
                break
    assert np.array_equal(got, want)
    assert a.element_count == b.element_count
    # surviving multiset identical: same stored (canonical bucket, fp) bags
    def bag(f):
        out = []
        for t in f.tables:
            r, fps_ = t.nonzero_entries()
            canon = np.minimum(r, t.complement(r, fps_))
            out.append((canon.astype(np.uint64) << np.uint64(32)) | fps_)
        return np.sort(np.concatenate(out))
    assert np.array_equal(bag(a), bag(b))


def _compact_with_delete_loop(f):
    """compact() as it was with a per-fingerprint ``delete_at`` loop for
    the moved copies of a partially drained donor — the byte reference."""
    from cuckoofilter_spark.core.cuckoo_table import CuckooTable

    order = sorted(range(len(f.tables)), key=lambda i: (f.tables[i].element_count, i))
    donors = [f.tables[i] for i in order]
    survivors = list(f.tables)
    for d in donors:
        if len(survivors) <= 1:
            break
        recipients = sorted((t for t in survivors if t is not d), key=lambda t: -t.element_count)
        rows, fps = d.nonzero_entries()
        remaining = np.ones(len(rows), dtype=bool)
        for r in recipients:
            if not remaining.any():
                break
            idx = np.nonzero(remaining)[0]
            placed = r.bulk_place(fps[idx], rows[idx])
            done = placed.copy()
            if (~placed).any():
                alt = r.complement(rows[idx][~placed], fps[idx][~placed])
                placed2 = r.bulk_place(fps[idx][~placed], alt)
                done[np.nonzero(~placed)[0][placed2]] = True
            remaining[idx[done]] = False
        if (~remaining).all():
            survivors.remove(d)
            d.table[:] = 0
            d.occ[:] = 0
            d.element_count = 0
        else:
            for pos in np.nonzero(~remaining)[0]:
                d.delete_at(int(rows[pos]), int(fps[pos]))
    f.tables = survivors if survivors else [CuckooTable(f.params)]


@pytest.mark.parametrize("dedup", [True, False], ids=["dedup", "multiset"])
@pytest.mark.parametrize("epb,bits", sorted(LEGAL_CONFIGS))
def test_compact_matches_delete_at_loop(epb, bits, dedup):
    """The vectorized in-order donor delete in compact() leaves the same
    bytes as the per-fingerprint delete_at loop, on every legal config,
    with set semantics and with duplicate fingerprints (multiset)."""
    params = CuckooParams(max_table_size=2048, entries_per_bucket=epb, bits_per_fp=bits, seed=5)
    rng = np.random.default_rng(3)
    keys = rng.integers(0, 10**9, size=int(params.slots * 2.3))
    if not dedup:
        keys = np.concatenate([keys, keys[:params.slots // 3]])
    f = DynamicCuckooFilter(params, dedup=dedup)
    f.insert(keys)
    ref = deserialize_filter(serialize_filter(f))
    before = [t.element_count for t in f.tables]
    f.compact()
    _compact_with_delete_loop(ref)
    assert serialize_filter(f) == serialize_filter(ref)
    # the partial-move branch ran: no table emptied, but counts moved
    assert len(f.tables) == len(before)
    assert [t.element_count for t in f.tables] != before
    assert f.contains(keys).all()


def test_delete_in_order_matches_delete_at_loop():
    """Requests that miss, repeat a fingerprint, or outnumber a bucket's
    copies give the loop's mask and bytes."""
    params = CuckooParams(max_table_size=256, bits_per_fp=8)
    f = DynamicCuckooFilter(params, dedup=False)
    rng = np.random.default_rng(4)
    f.insert(rng.integers(0, 300, size=700))
    a = f.tables[0]
    b = deserialize_filter(serialize_filter(f)).tables[0]
    rows, fps = a.nonzero_entries()
    pick = rng.integers(0, len(rows), size=900)
    bidx = np.concatenate([rows[pick], rng.integers(0, params.table_size, 100)])
    req = np.concatenate([fps[pick], rng.integers(1, 256, 100).astype(np.uint32)])
    shuffle = rng.permutation(len(bidx))
    bidx, req = bidx[shuffle], req[shuffle]
    got = a.delete_in_order(bidx, req)
    want = np.array([b.delete_at(int(i), int(x)) for i, x in zip(bidx, req)])
    assert got.any() and not got.all()
    assert np.array_equal(got, want)
    assert np.array_equal(a.table, b.table) and np.array_equal(a.occ, b.occ)
    assert a.element_count == b.element_count


def test_bulk_delete_duplicates_consume_distinct_copies():
    import numpy as np

    from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
    from cuckoofilter_spark.params import CuckooParams

    f = DynamicCuckooFilter(CuckooParams(max_table_size=1024), dedup=False)
    f.insert(np.array([42, 42, 42], dtype=np.int64))
    res = f.delete(np.array([42, 42, 42, 42], dtype=np.int64))
    assert res.sum() == 3 and not res[3]
    assert not f.contains(np.array([42]))[0]


def test_multiset_duplicate_pileup_is_fast_not_quadratic():
    """dedup=False stores every copy; piling copies of ONE key used to run
    the full 500-kick loop per copy against buckets already uniform with
    that fingerprint (38 s for 500 copies).  The futile-eviction fast path
    must keep this linear-ish."""
    import time

    import numpy as np

    from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
    from cuckoofilter_spark.params import CuckooParams

    f = DynamicCuckooFilter(CuckooParams(max_table_size=65536), dedup=False)
    t0 = time.time()
    f.insert(np.full(2000, 42, dtype=np.int64))
    took = time.time() - t0
    assert took < 20, f"duplicate pile-up took {took:.1f}s"
    assert f.contains(np.array([42], dtype=np.int64))[0]
    assert f.element_count == 2000


def test_serde_wide_fp_victim_and_large_seed_roundtrip():
    """CKF2 header: 32-bit fingerprints with a parked victim, and uint64
    seeds, must serialize (CKF1 overflowed both fields)."""
    import numpy as np

    from cuckoofilter_spark.core.cuckoo_filter import CuckooFilter
    from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
    from cuckoofilter_spark.core.serde import deserialize_filter, serialize_filter
    from cuckoofilter_spark.params import CuckooParams

    cf = CuckooFilter(CuckooParams(max_table_size=16, entries_per_bucket=2,
                                   bits_per_fp=32))
    keys = np.arange(10_000, dtype=np.int64)
    cf.insert(keys)
    assert cf.victim is not None, "tiny filter should have parked a victim"
    back = deserialize_filter(serialize_filter(cf))
    assert back.victim == cf.victim
    assert (back.contains(keys) == cf.contains(keys)).all()

    big_seed = 2 ** 31 + 12345
    dcf = DynamicCuckooFilter(CuckooParams(max_table_size=64, seed=big_seed))
    dcf.insert(np.arange(100, dtype=np.int64))
    back2 = deserialize_filter(serialize_filter(dcf))
    assert back2.params.seed == big_seed
    assert back2.contains(np.arange(100, dtype=np.int64)).all()


def test_serde_rejects_old_format_blob():
    import pytest

    from cuckoofilter_spark.core.serde import deserialize_filter

    with pytest.raises(ValueError, match="bad filter blob"):
        deserialize_filter(b"CKF1" + b"\x00" * 60)


def test_murmur3_x86_128_smhasher_verification():
    """The murmur3 parity backend IS MurmurHash3_x86_128: SMHasher's
    official VerificationTest (hash keys {0..i-1} with seed 256-i for
    i in 0..255, hash the concatenated digests with seed 0, low 4 bytes)
    must equal the published constant for Murmur3C, 0xB3ECE62A."""
    from cuckoofilter_spark.hashing import murmur3_x86_128

    hashes = b"".join(murmur3_x86_128(bytes(range(i)), 256 - i)
                      for i in range(256))
    final = murmur3_x86_128(hashes, 0)
    assert int.from_bytes(final[:4], "little") == 0xB3ECE62A


def test_murmur3_string_backend_matches_reference_wiring():
    """hash64_bytes_murmur3 = the reference's commented-out call shape:
    MurmurHash3_x86_128(s, len, seed=5, out); return out[0] (low 8 bytes
    little-endian).  str and bytes inputs agree; output is uniform-ish."""
    import numpy as np

    from cuckoofilter_spark.hashing import (
        hash64_bytes_murmur3,
        murmur3_x86_128,
    )

    out = hash64_bytes_murmur3(["abc", b"abc", "", "cuckoo filter"])
    assert out[0] == out[1]
    assert out[0] == int.from_bytes(murmur3_x86_128(b"abc", 5)[:8], "little")
    assert out.dtype == np.uint64 and len(set(out.tolist())) == 3


# (length, CityHash64) vectors produced by compiling the vendored public
# CityHash v1.1 source (/root/reference/Utils/city_hash.cpp, MIT) with a
# 28-input harness; byte inputs are the deterministic corpus
# bytes((i*131+17) & 0xff for i in range(length)).  Every length-class
# branch is covered: 0, 1-3, 4-7, 8-16, 17-32, 33-64, and >64 including
# multi-block (128/200/255/1000 exercise the 64-byte rolling-state loop).
_CITY_LEN_VECTORS = [
    (2, 16479644212507597872), (3, 8156813543280962808),
    (4, 9576656824710289082), (7, 16634063680387903364),
    (8, 1668742482406966573), (9, 6435977205899572716),
    (15, 7539679315945763698), (16, 14559320776956635179),
    (17, 7327678621829093979), (24, 5405474936806680719),
    (31, 2309315602388385704), (32, 6526961488314481880),
    (33, 11176955690067334164), (47, 6542505268235149357),
    (48, 14117006617646811768), (63, 8478130400770890322),
    (64, 10750527045920974587), (65, 1398270373454049446),
    (100, 16503601989387789186), (128, 12464048544463885051),
    (200, 5500651696199201100), (255, 8791588091735925053),
    (1000, 10608802493083015753),
]

_CITY_STR_VECTORS = [
    (b"", 11160318154034397263),  # == k2, the documented len-0 value
    (b"a", 12917804110809363939),
    (b"hello", 13009744463427800296),
    (b"hello, world", 855043215758678039),
    (b"The quick brown fox jumps over the lazy dog", 14008572299481893501),
]


def test_cityhash64_bit_parity_with_reference():
    """The CityHash64 parity backend is bit-exact vs the reference's live
    string-hash path (Utils/hash_function.cpp:64-68 -> city_hash.cpp:365):
    28 vectors from compiling the vendored public source, one per
    length-class branch plus multi-block strings."""
    from cuckoofilter_spark.hashing import cityhash64

    for s, exp in _CITY_STR_VECTORS:
        assert cityhash64(s) == exp, f"string input {s!r}"
    for n, exp in _CITY_LEN_VECTORS:
        data = bytes((i * 131 + 17) & 0xFF for i in range(n))
        assert cityhash64(data) == exp, f"length {n}"


def test_cityhash64_string_backend_matches_reference_wiring():
    """hash64_bytes_city = the reference's live call shape:
    CityHash64(key.c_str(), key.size()) as uint64; str and bytes agree."""
    import numpy as np

    from cuckoofilter_spark.hashing import cityhash64, hash64_bytes_city

    out = hash64_bytes_city(["abc", b"abc", "", "cuckoo filter"])
    assert out[0] == out[1] == cityhash64(b"abc")
    assert out[2] == 0x9AE16A3B2F90404F  # k2
    assert out.dtype == np.uint64 and len(set(out.tolist())) == 3
