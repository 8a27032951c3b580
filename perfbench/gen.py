"""Seeded input generators for the benchmark workloads.

The benchmark owns its inputs: nothing here imports ``cuckoofilter_spark``,
so a change to the library's own synthetic sources can never change what a
workload measures.  Every input is a pure function of (workload, seed, size)
and is cached as parquet under ``<cache>/<workload>-<size>-s<seed>/`` with a
``_manifest.json`` (its underscore hides it from Spark's file listing)
holding a digest of the generated *content* (column values, not parquet
bytes).  ``load`` re-reads the files and recomputes that
digest before every use, and compares it with the digest recorded for the
seed in ``expected.json`` when one is recorded.

Run as a script to (re)generate one input in a fresh process, so that the
generator's memory never shows in the driver's peak RSS:

    python3 perfbench/gen.py <workload> <seed> <size> <cache_dir>
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Input sizes.  "default" is what the benchmark measures; "smoke" is a
#: tiny input that exercises every code path and check in seconds.
SIZES = {
    "zipf_build": {
        # ~272 tokens/doc -> ~1.6 M tokens per build, 16 files (one task
        # per row group, since the library splits by row group below 48
        # files); the filter is ~50 k fingerprints in one 256 KB table
        "default": {"docs": 6_000, "files": 16},
        "smoke": {"docs": 400, "files": 4},
    },
    "distinct_probe": {
        # 24 files -> 24 build tasks, one merge level of 3 groups; tables
        # of 2^14 buckets hold ~59 k fingerprints each, so 150 k distinct
        # keys give a chain of 3.  Each round then probes 50 k-key slices
        # against a filter of the first ``filter_keys`` keys of the same
        # member stream (two 4 MB tables, built in set-up); one probe key
        # in ten is one of those members.
        "default": {"keys": 150_000, "files": 24, "slices": 24,
                    "slice_keys": 50_000, "filter_keys": 2_000_000},
        "smoke": {"keys": 60_000, "files": 8, "slices": 4,
                  "slice_keys": 5_000, "filter_keys": 200_000},
    },
    "neardup_docs": {
        # clusters of a 40-80 word base document and 0-3 near-copies,
        # over a 3000-word vocabulary
        "default": {"docs": 1_000, "files": 4},
        "smoke": {"docs": 300, "files": 2},
    },
}

VOCAB = 50_000
ZIPF_S = 1.1
NEAR_VOCAB = 3_000
#: one probe key in this many is a member
MEMBER_EVERY = 10
#: zipf_build's set-up builds over this many small files: more than the
#: library's merge fan-in of 8, so set-up runs a merge level too, and
#: enough tasks that every local core starts its Python worker
WARM_FILES = 12


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer: a bijection on uint64, so distinct inputs give
    distinct keys."""
    with np.errstate(over="ignore"):
        z = x + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def distinct_keys(seed: int, start: int, n: int, member: bool) -> np.ndarray:
    """Keys ``start .. start+n`` of the seed's member (low bit 0) or
    non-member (low bit 1) stream.  The streams are disjoint by the low bit,
    and each is distinct except for 64-bit collisions of the mix."""
    idx = np.arange(start, start + n, dtype=np.uint64)
    with np.errstate(over="ignore"):
        x = idx + np.uint64(seed) * np.uint64(0x100000001B3) * np.uint64(2**32)
    k = _mix64(x) & ~np.uint64(1)
    if not member:
        k |= np.uint64(1)
    return k.view(np.int64)


# -- content digests -------------------------------------------------------

def _hash_array(h, arr: pa.ChunkedArray | pa.Array) -> None:
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if pa.types.is_list(arr.type):
        h.update(np.asarray(arr.value_lengths().fill_null(0)).astype(np.int64).tobytes())
        _hash_array(h, arr.flatten())
    elif pa.types.is_string(arr.type):
        h.update("\x00".join(arr.to_pylist()).encode())
    else:
        h.update(arr.to_numpy(zero_copy_only=False).tobytes())


def content_digest(paths: list[str]) -> str:
    """sha256 over every column's values of every file, in path order."""
    h = hashlib.sha256()
    for p in paths:
        t = pq.read_table(p)
        h.update(os.path.basename(p).encode())
        for name in t.column_names:
            h.update(name.encode())
            _hash_array(h, t.column(name))
    return h.hexdigest()


# -- generators ------------------------------------------------------------

def _write(dirpath: str, name: str, table: pa.Table) -> str:
    os.makedirs(dirpath, exist_ok=True)
    p = os.path.join(dirpath, name)
    # one row group per file: the library splits a table of <= 48 files
    # by row group, so this pins the task count to the file count
    pq.write_table(table, p, row_group_size=max(table.num_rows, 1),
                   compression="zstd", use_dictionary=False)
    return p


def _gen_zipf(out: str, seed: int, docs: int, files: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    lengths = rng.integers(32, 513, docs)
    ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -ZIPF_S)
    cdf /= cdf[-1]
    tokens = np.searchsorted(cdf, rng.random(int(lengths.sum()))).astype(np.int32)
    sources = np.array(["web", "books", "code", "wiki"])[
        np.searchsorted([0.7, 0.85, 0.95], rng.random(docs), side="right")]
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    def part(sub: str, f: int, a: int, b: int) -> None:
        toks = pa.ListArray.from_arrays(
            pa.array(offsets[a:b + 1] - offsets[a]),
            pa.array(tokens[offsets[a]:offsets[b]]))
        _write(os.path.join(out, sub), f"part-{f:04d}.parquet", pa.table({
            "doc_id": pa.array([f"doc{i:08d}" for i in range(a, b)]),
            "tokens": toks,
            "n_tok": pa.array(lengths[a:b].astype(np.int32)),
            "source": pa.array(sources[a:b].tolist()),
        }))

    bounds = np.linspace(0, docs, files + 1).astype(int)
    for f in range(files):
        part("data", f, bounds[f], bounds[f + 1])
    for f in range(WARM_FILES):
        part("warm", f, f * 20, f * 20 + 20)
    uniq, counts = np.unique(tokens, return_counts=True)
    # Count-Min check keys: the 8 hottest tokens plus 56 drawn at random
    # from the rest (all present in the input)
    hot = uniq[np.argsort(-counts, kind="stable")[:8]]
    rest = np.setdiff1d(uniq, hot)
    sample = np.concatenate([hot, rng.choice(rest, min(56, len(rest)), replace=False)])
    true = counts[np.searchsorted(uniq, sample)]
    return {"n_docs": docs, "n_tokens": int(lengths.sum()), "n_distinct": int(len(uniq)),
            "cms_keys": sample.tolist(), "cms_true": true.tolist()}


def _gen_probe(out: str, seed: int, keys: int, files: int, slices: int,
               slice_keys: int, filter_keys: int) -> dict:
    bounds = np.linspace(0, keys, files + 1).astype(int)
    for f in range(files):
        a, b = bounds[f], bounds[f + 1]
        _write(os.path.join(out, "data"), f"part-{f:04d}.parquet",
               pa.table({"key": distinct_keys(seed, a, b - a, member=True)}))
    rng = np.random.default_rng([seed, 3])
    n_mem = slice_keys // MEMBER_EVERY
    members = distinct_keys(seed, 0, filter_keys, member=True)
    for s in range(slices):
        mem = members[rng.choice(filter_keys, n_mem, replace=False)]
        non = distinct_keys(seed, s * slice_keys, slice_keys - n_mem, member=False)
        key = np.concatenate([mem, non])
        is_mem = np.zeros(slice_keys, dtype=bool)
        is_mem[:n_mem] = True
        perm = rng.permutation(slice_keys)
        _write(os.path.join(out, "probes"), f"slice-{s:04d}.parquet",
               pa.table({"key": key[perm], "member": is_mem[perm]}))
    return {"n_keys": keys, "slices": slices, "slice_keys": slice_keys,
            "slice_members": n_mem, "filter_keys": filter_keys}


def _gen_neardup(out: str, seed: int, docs: int, files: int) -> dict:
    rng = np.random.default_rng([seed, 4])
    vocab = np.array([f"w{i}" for i in range(NEAR_VOCAB)])
    texts: list[str] = []
    c = 0
    while len(texts) < docs:
        # the cluster shape cycles with the cluster index -- 40-80 words,
        # 0-3 near-copies, 0-4 substituted words per copy -- so every seed
        # has the same mix of work; only the words are random.  Each
        # substitution moves up to three 3-grams, so copies land on both
        # sides of a Jaccard threshold of 0.8
        base = rng.integers(0, NEAR_VOCAB, 40 + (7 * c) % 41)
        texts.append(" ".join(vocab[base]))
        for k in range(c % 4):
            v = base.copy()
            pos = rng.choice(len(v), (c + k) % 5, replace=False)
            v[pos] = rng.integers(0, NEAR_VOCAB, len(pos))
            texts.append(" ".join(vocab[v]))
        c += 1
    n_clusters = c
    texts = texts[:docs]
    order = rng.permutation(docs)
    ids = np.arange(docs, dtype=np.int64)
    bounds = np.linspace(0, docs, files + 1).astype(int)
    for f in range(files):
        sel = order[bounds[f]:bounds[f + 1]]
        _write(out, f"part-{f:04d}.parquet", pa.table({
            "doc_id": pa.array(ids[sel]),
            "text": pa.array([texts[i] for i in sel]),
        }))
    return {"n_docs": docs, "n_clusters": n_clusters}


_GENERATORS = {
    "zipf_build": _gen_zipf,
    "distinct_probe": _gen_probe,
    "neardup_docs": _gen_neardup,
}


def data_files(d: str) -> list[str]:
    out = []
    for root, _, names in os.walk(d):
        out += [os.path.join(root, n) for n in names if n.endswith(".parquet")]
    return sorted(out)


def generate(workload: str, seed: int, size: str, cache: str) -> str:
    d = input_dir(workload, seed, size, cache)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = _GENERATORS[workload](tmp, seed, **SIZES[workload][size])
    files = data_files(tmp)
    manifest = {"workload": workload, "seed": seed, "size": size,
                "content_sha256": content_digest(files), "meta": meta}
    with open(os.path.join(tmp, "_manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d


def input_dir(workload: str, seed: int, size: str, cache: str) -> str:
    return os.path.join(cache, f"{workload}-{size}-s{seed}")


def load(workload: str, seed: int, size: str, cache: str,
         expected: dict) -> tuple[str, dict]:
    """Return (input dir, manifest) after checking the files' content
    digest against the manifest and against ``expected`` (the digests
    recorded for known seeds).  A mismatch regenerates once; a second
    mismatch is an error."""
    d = input_dir(workload, seed, size, cache)
    key = f"{workload}/{size}/{seed}"
    for attempt in (0, 1):
        if not os.path.exists(os.path.join(d, "_manifest.json")):
            import subprocess

            subprocess.run([sys.executable, os.path.abspath(__file__),
                            workload, str(seed), size, cache], check=True)
        with open(os.path.join(d, "_manifest.json")) as fh:
            manifest = json.load(fh)
        got = content_digest(data_files(d))
        want = expected.get(key, {}).get("content_sha256", manifest["content_sha256"])
        if got == manifest["content_sha256"] == want:
            return d, manifest
        if attempt == 0:
            shutil.rmtree(d, ignore_errors=True)
    raise RuntimeError(f"input {key}: content digest {got} != recorded {want}")


if __name__ == "__main__":
    wl, sd, sz, cache_dir = sys.argv[1:5]
    generate(wl, int(sd), sz, cache_dir)
