"""The benchmark workloads.  Each drives the library only through its public
entry points, exactly as a user would, and owns the checks on its outputs.

A *round* is the unit the runner times: one pass of the workload's calls
over its whole input.  Calls go through module attributes (``B.build_...``)
so that a traced run's wrappers see them.
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np
import pyarrow.parquet as pq

from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
from cuckoofilter_spark.core.serde import serialize_filter
from cuckoofilter_spark.operators import build as B
from cuckoofilter_spark.operators import dedup as D
from cuckoofilter_spark.operators import membership as M
from cuckoofilter_spark.operators import sketch_build as SB
from cuckoofilter_spark.params import CuckooParams
from cuckoofilter_spark.sketches.countmin import CountMinSketch
from cuckoofilter_spark.sketches.hll import HyperLogLog

import gen
import replay
from layers import BUILD, CMS, HLL, PROBE

LSH = "operators.dedup.minhash_near_dups"
PPJOIN = "operators.dedup.jaccard_pairs_prefix"

#: HLL acceptance: |estimate - true| / true within this many standard
#: errors (1.04/sqrt(m)) -- three standard errors hold with ~99.7 %
HLL_SIGMAS = 3.0
TAU_X1E4 = 8000
#: documents (by id, so whole planted clusters) checked by brute force
BRUTE_DOCS = 240

# factories are lambdas so cloudpickle ships them by value: the benchmark's
# own modules are not importable in Python workers
_hll = lambda pid: HyperLogLog(p=14)  # noqa: E731
_cms = lambda pid: CountMinSketch(depth=5, width=8192)  # noqa: E731


def answers_digest(filt, keys: np.ndarray) -> str:
    return hashlib.md5(filt.contains(keys).tobytes()).hexdigest()


def read_column(files: list[str], col: str) -> np.ndarray:
    return replay.flat_keys(pq.read_table(files, columns=[col]).column(col).combine_chunks())


class Check:
    """Accumulates named pass/fail checks; each is one attempted operation."""

    def __init__(self):
        self.results: list[dict] = []

    def __call__(self, name: str, ok: bool, detail) -> None:
        self.results.append({"check": name, "ok": bool(ok), "detail": detail})


class Workload:
    name = ""
    items_unit = "keys"
    #: measured rounds per run, at least
    min_rounds = 3

    def __init__(self, spark, input_dir: str, manifest: dict, expected: dict):
        self.spark = spark
        self.dir = input_dir
        self.meta = manifest["meta"]
        self.seed = manifest["seed"]
        self.recorded = expected.get(f"{self.name}/{manifest['size']}/{manifest['seed']}", {})
        self.digests: list[str] = []
        #: set by the runner for a traced run
        self.tracer = None

    def call(self, calls: dict, label: str, fn, *args):
        """Time one public call; in a traced run, also record its span and
        label the Spark jobs it runs with ``label``."""
        t0 = time.perf_counter()
        if self.tracer is None:
            res = fn(*args)
        else:
            res = self.tracer.span("call " + label, fn, *args, label=label)
        calls.setdefault(label, []).append(time.perf_counter() - t0)
        return res

    def _check_answers(self, check: Check, keys: np.ndarray, ref_keys: np.ndarray) -> None:
        """Every build of the run answers alike, matches the digest recorded
        for this seed, and matches a one-process reference build over the
        same keys (answers depend only on the key set)."""
        check("answers_identical_across_builds", len(set(self.digests)) == 1,
              sorted(set(self.digests)))
        want = self.recorded.get("answers_md5")
        if want is not None:
            check("answers_match_recorded", self.digests[0] == want,
                  {"got": self.digests[0], "recorded": want})
        ref = DynamicCuckooFilter(self.params, dedup=True)
        ref.insert(ref_keys)
        ref_digest = answers_digest(ref, keys)
        check("answers_match_single_process_build", self.digests[0] == ref_digest,
              {"got": self.digests[0], "reference": ref_digest})

    @staticmethod
    def _check_fpr(check: Check, filt, non_members: np.ndarray) -> float:
        fp = int(filt.contains(non_members).sum())
        fpr = fp / len(non_members)
        # a chain of L tables is L cuckoo filters: the published per-table
        # bound eps = 2b/2^f applies to each, so the chain's is L * eps
        bound = filt.cf_count * filt.params.fpr_bound
        check("fpr_within_bound", fpr <= bound,
              {"fpr": fpr, "false_positives": fp, "non_members": len(non_members),
               "bound": bound, "eps": filt.params.fpr_bound, "cf_count": filt.cf_count})
        return fpr


class ZipfBuild(Workload):
    name = "zipf_build"
    items_unit = "tokens"
    params = CuckooParams(max_table_size=gen.VOCAB, bits_per_fp=16)

    def __init__(self, *a):
        super().__init__(*a)
        self.warm = os.path.join(self.dir, "warm")
        self.dir = os.path.join(self.dir, "data")
        self.files = gen.data_files(self.dir)
        self.items_per_round = self.meta["n_tokens"]
        # every vocabulary id (members iff they occur) plus 200 k ids that
        # cannot occur
        self.answer_keys = np.arange(0, gen.VOCAB + 200_000, dtype=np.int64)

    def setup(self) -> None:
        B.build_filter_from_parquet(self.spark, self.warm, "tokens", self.params)
        df = self.spark.read.parquet(self.warm)
        SB.build_sketch(df, "tokens", _hll)
        SB.build_sketch(df, "tokens", _cms)

    def run_round(self, calls: dict) -> None:
        self.filt = self.call(calls, BUILD, B.build_filter_from_parquet,
                              self.spark, self.dir, "tokens", self.params)
        df = self.spark.read.parquet(self.dir)
        self.hll = self.call(calls, HLL, SB.build_sketch, df, "tokens", _hll)
        self.cms = self.call(calls, CMS, SB.build_sketch, df, "tokens", _cms)
        self.digests.append(answers_digest(self.filt, self.answer_keys))

    def checks(self, check: Check) -> None:
        tokens = read_column(self.files, "tokens")
        uniq = np.unique(tokens)
        check("no_false_negatives", self.filt.contains(uniq).all(),
              {"members": len(uniq)})
        self.fpr = self._check_fpr(
            check, self.filt, np.arange(gen.VOCAB, gen.VOCAB + 1_000_000, dtype=np.int64))
        self._check_answers(check, self.answer_keys, tokens)
        est = self.hll.estimate()
        true = self.meta["n_distinct"]
        check("hll_within_error", abs(est - true) / true <= HLL_SIGMAS * self.hll.rel_error,
              {"estimate": est, "true": true, "rel_error": self.hll.rel_error,
               "sigmas": HLL_SIGMAS})
        keys = np.asarray(self.meta["cms_keys"], dtype=np.int64)
        est = self.cms.estimate(keys)
        under = int((est < np.asarray(self.meta["cms_true"])).sum())
        check("cms_never_under", under == 0, {"keys": len(keys), "under": under})

    def kernel_replay(self) -> dict:
        r = replay.filter_build(self.files, "tokens", self.params)
        r.update(replay.probe(self.filt, self.answer_keys))
        for name, factory in (("hll", _hll), ("countmin", _cms)):
            sk = replay.sketch_build(self.files, "tokens", factory)
            r[f"sketches.{name}.update.keys_per_s"] = sk["update.keys_per_s"]
            r[f"sketches.{name}.merge.s"] = sk["merge.s"]
            r["build_wall_s"] += sk["build_wall_s"]
        return r

    def report(self, calls: dict) -> dict:
        n = self.items_per_round
        sk = [h + c for h, c in zip(calls[HLL], calls[CMS])]
        return {
            "build_keys_per_s": _metric(n / _med(calls[BUILD]), "keys/s", len(calls[BUILD])),
            "sketch_keys_per_s": _metric(2 * n / _med(sk), "keys/s", len(sk)),
            "filter_bytes_per_key": _metric(
                len(serialize_filter(self.filt)) / self.filt.element_count, "B/key"),
        }


class DistinctProbe(Workload):
    """Write side, then read side, of multi-table filters: each round
    builds a filter from distinct keys, then a single closed-loop client
    issues ``QUERIES`` probe queries, each through a fresh
    ``membership_df`` (a new broadcast, as every driver query pays).

    The queries probe a larger filter that set-up builds, two tables of
    4 MB, four times a core's 2 MiB L2, so that a bucket layout's cost on
    probing shows; the round's own filter (three 128 KB tables) stays in
    L2.  Set-up builds each table as its own one-table filter at about
    half load and chains the two: filling a table to the 0.9 growth
    watermark spends seconds in the kick loop, and non-members (nine
    probe keys in ten) walk every table of any two-table chain alike."""

    name = "distinct_probe"
    # 2^14 buckets x 4 slots: ~59 k fingerprints per table before growth
    params = CuckooParams(max_table_size=20_000, bits_per_fp=16)
    # 2^19 buckets x 4 slots x 16 bits: 4 MB per table
    probe_params = CuckooParams(max_table_size=700_000, bits_per_fp=16)
    QUERIES = 4

    def __init__(self, *a):
        super().__init__(*a)
        self.probes = os.path.join(self.dir, "probes")
        self.slices = gen.data_files(self.probes)
        self.dir = os.path.join(self.dir, "data")
        self.files = gen.data_files(self.dir)
        self.slice_keys = self.meta["slice_keys"]
        self.items_per_round = self.meta["n_keys"] + self.QUERIES * self.slice_keys
        self.answer_keys = np.concatenate([
            gen.distinct_keys(self.seed, 0, 100_000, member=True),
            gen.distinct_keys(self.seed, 0, 400_000, member=False)])
        self.answers: list[tuple[int, int]] = []
        self.i = 0
        # the data files hold the first n_keys of these
        self.filter_keys = gen.distinct_keys(self.seed, 0, self.meta["filter_keys"],
                                             member=True)

    def setup(self) -> None:
        half = len(self.filter_keys) // 2
        tables = []
        for part in (self.filter_keys[:half], self.filter_keys[half:]):
            f = DynamicCuckooFilter(self.probe_params, dedup=True)
            f.insert(part)
            tables += f.tables
        self.probe_filt = DynamicCuckooFilter(self.probe_params, tables=tables, dedup=True)
        # a query over one slice per local core runs a task on each, so
        # every Python worker has loaded this filter before measuring
        # starts (the warm-up round warms the build path)
        cores = self.spark.sparkContext.defaultParallelism
        M.membership_df(self.spark, self.probe_filt,
                        self.spark.read.parquet(*self.slices[:cores]), "key").count()

    def run_round(self, calls: dict) -> None:
        self.filt = self.call(calls, BUILD, B.build_filter_from_parquet,
                              self.spark, self.dir, "key", self.params)
        self.digests.append(answers_digest(self.filt, self.answer_keys))
        for _ in range(self.QUERIES):
            s = self.i % len(self.slices)
            self.i += 1
            probes = self.spark.read.parquet(self.slices[s])
            n = self.call(calls, PROBE, lambda: M.membership_df(
                self.spark, self.probe_filt, probes, "key").count())
            self.answers.append((s, n))

    def checks(self, check: Check) -> None:
        keys = read_column(self.files, "key")
        check("no_false_negatives", self.filt.contains(keys).all(), {"members": len(keys)})
        self.fpr = self._check_fpr(
            check, self.filt, gen.distinct_keys(self.seed, 0, 1_000_000, member=False))
        self._check_answers(check, self.answer_keys, keys)
        check("probe_filter_chain", self.probe_filt.cf_count == 2,
              {"cf_count": self.probe_filt.cf_count,
               "bytes": self.probe_filt.memory_bytes()})
        want, fn, fp, non = {}, 0, 0, 0
        for s in sorted({s for s, _ in self.answers}):
            t = pq.read_table(self.slices[s])
            key = t.column("key").to_numpy()
            mem = t.column("member").to_numpy(zero_copy_only=False)
            hit = self.probe_filt.contains(key)
            want[s] = int(hit.sum())
            fn += int((mem & ~hit).sum())
            fp += int((~mem & hit).sum())
            non += int((~mem).sum())
        bad = [(s, n, want[s]) for s, n in self.answers if n != want[s]]
        check("query_counts_match_filter", not bad,
              {"queries": len(self.answers), "mismatched": bad[:5]})
        check("no_false_negatives_in_queries", fn == 0, {"false_negatives": fn})
        bound = self.probe_filt.cf_count * self.probe_params.fpr_bound
        check("query_fpr_within_bound", fp / non <= bound,
              {"fpr": fp / non, "false_positives": fp, "non_members": non, "bound": bound})

    def kernel_replay(self) -> dict:
        queried = [self.slices[s] for s in sorted({s for s, _ in self.answers})]
        keys = np.concatenate([read_column([f], "key") for f in queried])
        r = replay.filter_build(self.files, "key", self.params)
        r.update(replay.probe(self.probe_filt, keys))
        batch = int(self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        r.update(replay.probe_kernel(M.cf_contains_udf(self.spark, self.probe_filt),
                                     self.probe_filt, queried, batch))
        # one round in one process: the build, then the queries' kernel work
        r["build_wall_s"] += self.QUERIES * r["operators.membership.kernel_s"]
        return r

    def report(self, calls: dict) -> dict:
        q = sorted(calls[PROBE])
        n = len(q)
        out = {
            "build_keys_per_s": _metric(self.meta["n_keys"] / _med(calls[BUILD]),
                                        "keys/s", len(calls[BUILD])),
            "filter_bytes_per_key": _metric(
                len(serialize_filter(self.filt)) / self.filt.element_count, "B/key"),
            "fpr": _metric(self.fpr, "ratio"),
            "probe_filter_mb": _metric(self.probe_filt.memory_bytes() / 1e6, "MB"),
            "probe_keys_per_s": _metric(self.slice_keys * n / sum(q), "keys/s", n),
            "probe_query_s_p50": _metric(_med(q), "s", n),
        }
        # the highest percentile with at least ten samples beyond it
        if n > 10:
            p = int(100 * (n - 10) / n)
            out["probe_query_s_tail"] = {**_metric(float(np.percentile(q, p)), "s", n),
                                         "percentile": f"p{p}"}
        return out


class NearDup(Workload):
    name = "neardup_docs"
    items_unit = "docs"
    # rounds are long (~5 s) and steady within a run; a third round would
    # add ~5 s to every run for little change in the median
    min_rounds = 2

    def __init__(self, *a):
        super().__init__(*a)
        self.files = gen.data_files(self.dir)
        self.items_per_round = self.meta["n_docs"]
        self.lsh: list[frozenset] = []
        self.ppj: list[frozenset] = []

    def _lsh(self, docs):
        return D.minhash_near_dups(docs, tau_x1e4=TAU_X1E4).collect()

    def _ppjoin(self, docs):
        sh = D.shingles(docs)
        try:
            return D.jaccard_pairs_prefix(sh, TAU_X1E4).collect()
        finally:
            # jaccard_pairs_prefix persists its input; release it so rounds
            # do not pile up cached relations
            sh.unpersist()

    def setup(self) -> None:
        docs = self.spark.read.parquet(self.files[0])
        self._lsh(docs)
        self._ppjoin(docs)

    def run_round(self, calls: dict) -> None:
        docs = self.spark.read.parquet(self.dir)
        lsh = self.call(calls, LSH, self._lsh, docs)
        ppj = self.call(calls, PPJOIN, self._ppjoin, docs)
        self.lsh.append(frozenset((r["d1"], r["d2"]) for r in lsh))
        self.ppj.append(frozenset((r["d1"], r["d2"]) for r in ppj))

    def checks(self, check: Check) -> None:
        check("lsh_subset_of_ppjoin", all(a <= b for a, b in zip(self.lsh, self.ppj)),
              {"lsh_pairs": len(self.lsh[0]), "ppjoin_pairs": len(self.ppj[0])})
        check("pairs_identical_across_rounds",
              len(set(self.lsh)) == 1 and len(set(self.ppj)) == 1,
              {"rounds": len(self.ppj)})
        t = pq.read_table(self.files)
        ids = t.column("doc_id").to_numpy()
        texts = t.column("text").to_pylist()
        grams = {}
        for i, txt in zip(ids, texts):
            if i < BRUTE_DOCS:
                w = txt.split(" ")
                grams[int(i)] = {"\x01".join(w[j:j + 3]) for j in range(len(w) - 2)}
        brute = set()
        keys = sorted(grams)
        for x, a in enumerate(keys):
            for b in keys[x + 1:]:
                inter = len(grams[a] & grams[b])
                if inter * 10000 // (len(grams[a]) + len(grams[b]) - inter) >= TAU_X1E4:
                    brute.add((a, b))
        got = {p for p in self.ppj[0] if p[0] < BRUTE_DOCS and p[1] < BRUTE_DOCS}
        check("ppjoin_equals_brute_force", got == brute,
              {"docs": len(keys), "pairs": len(brute), "missing": len(brute - got),
               "extra": len(got - brute)})

    def kernel_replay(self) -> dict:
        """The single-core baseline: operators.dedup has no kernel outside
        Spark, so replay one round of the same calls with every stage run
        as a single task (the input coalesced to one partition, one shuffle
        partition), so that at most one core works at a time."""
        conf = self.spark.conf
        old = conf.get("spark.sql.shuffle.partitions")
        conf.set("spark.sql.shuffle.partitions", "1")
        try:
            docs = self.spark.read.parquet(self.dir).coalesce(1)
            t0 = time.perf_counter()
            self._lsh(docs)
            self._ppjoin(docs)
            wall = time.perf_counter() - t0
        finally:
            conf.set("spark.sql.shuffle.partitions", old)
        return {"build_wall_s": wall}

    def materialize(self, tracer) -> None:
        """Run each intermediate of one LSH and one PPJoin plan as its own
        labelled Spark job, caching each input first, so that stage CPU can
        be attributed operator by operator."""
        captured: dict[str, list] = {}
        names = ("shingle_arrays", "minhash_signatures_inrow", "lsh_candidate_pairs",
                 "verify_jaccard_pairs")
        origs = {n: getattr(D, n) for n in names}

        def grab(name):
            def fn(*args, **kwargs):
                res = origs[name](*args, **kwargs)
                captured.setdefault(name, []).append((args, res))
                return res
            return fn

        docs = self.spark.read.parquet(self.dir)
        sh = D.shingles(docs)
        try:
            for n in names:
                setattr(D, n, grab(n))
            D.minhash_near_dups(docs, tau_x1e4=TAU_X1E4)
            D.jaccard_pairs_prefix(sh, TAU_X1E4)
        finally:
            for n in names:
                setattr(D, n, origs[n])
        cached = []

        def run(label, df, persist=True):
            if persist:
                cached.append(df.persist())
            return tracer.span(label, df.count)

        try:
            run("operators.dedup.shingle_arrays", captured["shingle_arrays"][0][1])
            run("operators.dedup.minhash_signatures_inrow",
                captured["minhash_signatures_inrow"][0][1])
            tracer.counts["operators.dedup.lsh_candidate_pairs.count"] = run(
                "operators.dedup.lsh_candidate_pairs", captured["lsh_candidate_pairs"][0][1])
            run("operators.dedup.verify_jaccard_pairs",
                captured["verify_jaccard_pairs"][0][1], persist=False)
            cand = run("operators.dedup.jaccard_pairs_prefix.candidates",
                       captured["verify_jaccard_pairs"][1][0][1], persist=False)
            tracer.counts["operators.dedup.jaccard_pairs_prefix.candidates"] = cand
            tracer.counts["operators.dedup.verified_ratio"] = len(self.ppj[0]) / cand
        finally:
            for df in cached + [sh]:
                df.unpersist()

    def report(self, calls: dict) -> dict:
        n = self.items_per_round
        return {
            "lsh_docs_per_s": _metric(n / _med(calls[LSH]), "docs/s", len(calls[LSH])),
            "ppjoin_docs_per_s": _metric(n / _med(calls[PPJOIN]), "docs/s", len(calls[PPJOIN])),
        }


def _med(xs) -> float:
    return float(np.median(xs))


def _metric(value: float, unit: str, samples: int | None = None) -> dict:
    out = {"value": float(value), "unit": unit}
    if samples is not None:
        out["samples"] = samples
    return out


WORKLOADS = {w.name: w for w in (ZipfBuild, DistinctProbe, NearDup)}
