"""Per-layer metrics of a traced run, named ``<module>.<function>.<quantity>``
after the library's modules.  Every metric is reported on every workload;
a layer a workload does not exercise reports 0 and is left out of the
workload's ``applies`` list in the trace file.

Sources: ``replay`` (one-process kernel replay, see ``replay.py``; on
neardup_docs a single-task replay of a round), Spark's
REST stage metrics of the jobs labelled by each call, and the spans the
tracer recorded.  Spark's ``executorCpuTime`` counts JVM task threads only,
so for stages that run Python UDFs it excludes the Python worker; those
layers also report ``run_s`` (task busy time), and the membership probe's
CPU is taken from the process tree instead.
"""

from __future__ import annotations

from collections import defaultdict
from datetime import datetime

import numpy as np

from tracing import stage_sums

# (name, unit, better)
METRICS = [
    ("hashing.hash64.keys_per_s", "keys/s", "higher"),
    ("core.dynamic_filter.first_pass.keys_per_s", "keys/s", "higher"),
    ("core.dynamic_filter.insert.keys_per_s", "keys/s", "higher"),
    ("core.dynamic_filter.insert.admit_ratio", "ratio", "lower"),
    ("core.cuckoo_table.bulk_place.pairs_per_s", "pairs/s", "higher"),
    ("core.cuckoo_table.bulk_place.placed_ratio", "ratio", "higher"),
    ("core.cuckoo_table.kick_insert.calls", "count", "lower"),
    ("core.cuckoo_table.kick_insert.s", "s", "lower"),
    ("core.dynamic_filter.merge.fps_per_s", "fps/s", "higher"),
    ("core.dynamic_filter.compact.s", "s", "lower"),
    ("core.dynamic_filter.compact.chain_before", "count", "lower"),
    ("core.dynamic_filter.compact.chain_after", "count", "lower"),
    ("core.dynamic_filter.cf_count", "count", "lower"),
    ("core.dynamic_filter.load_factor", "ratio", "higher"),
    ("core.serde.serialize.mb_per_s", "MB/s", "higher"),
    ("core.serde.deserialize.mb_per_s", "MB/s", "higher"),
    ("core.serde.blob_bytes", "B", "lower"),
    ("core.serde.compression_ratio", "ratio", "higher"),
    ("core.cuckoo_table.contains_at.probes_per_s", "probes/s", "higher"),
    ("core.dynamic_filter.contains.keys_per_s", "keys/s", "higher"),
    ("operators.build.stage1.cpu_s", "s", "lower"),
    ("operators.build.stage1.run_s", "s", "lower"),
    ("operators.build.stage1.tasks", "count", "lower"),
    ("operators.build.stage1.task_skew", "ratio", "lower"),
    ("operators.build.merge_levels.cpu_s", "s", "lower"),
    ("operators.build.merge_levels.run_s", "s", "lower"),
    ("operators.build.merge_levels.shuffle_bytes", "B", "lower"),
    ("operators.build.driver_s", "s", "lower"),
    ("operators.build.driver_fold_s", "s", "lower"),
    ("operators.build.driver_compact_s", "s", "lower"),
    ("operators.build.driver_share", "ratio", "lower"),
    ("operators.membership.broadcast_bytes", "B", "lower"),
    ("operators.membership.probe_stage.cpu_s", "s", "lower"),
    ("operators.membership.kernel_s", "s", "lower"),
    ("operators.membership.boundary_s", "s", "lower"),
    ("operators.sketch_build.stage1.cpu_s", "s", "lower"),
    ("operators.sketch_build.stage1.run_s", "s", "lower"),
    ("operators.sketch_build.merge_levels.cpu_s", "s", "lower"),
    ("sketches.hll.update.keys_per_s", "keys/s", "higher"),
    ("sketches.hll.merge.s", "s", "lower"),
    ("sketches.countmin.update.keys_per_s", "keys/s", "higher"),
    ("sketches.countmin.merge.s", "s", "lower"),
    ("operators.dedup.shingle_arrays.cpu_s", "s", "lower"),
    ("operators.dedup.minhash_signatures_inrow.cpu_s", "s", "lower"),
    ("operators.dedup.lsh_candidate_pairs.count", "count", "lower"),
    ("operators.dedup.verify_jaccard_pairs.cpu_s", "s", "lower"),
    ("operators.dedup.jaccard_pairs_prefix.candidates", "count", "lower"),
    ("operators.dedup.verified_ratio", "ratio", "higher"),
    ("spark.shuffle_write_bytes", "B", "lower"),
    ("spark.spill_bytes", "B", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.task_parallelism", "ratio", "higher"),
    ("spark.parallel_speedup", "ratio", "higher"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"),
    # self time per traced round of the spans around library functions
    ("operators.build.build_filter_from_parquet.self_s", "s", "lower"),
    ("operators.build.tree_merge_blobs.self_s", "s", "lower"),
    ("core.serde.deserialize_filter.self_s", "s", "lower"),
    ("core.dynamic_filter.merge.self_s", "s", "lower"),
    ("core.dynamic_filter.compact.self_s", "s", "lower"),
    ("operators.sketch_build.build_sketch.self_s", "s", "lower"),
    ("operators.membership.membership_df.self_s", "s", "lower"),
    ("operators.dedup.minhash_near_dups.self_s", "s", "lower"),
    ("operators.dedup.jaccard_pairs_prefix.self_s", "s", "lower"),
]
UNITS = {n: u for n, u, _ in METRICS}

BUILD = "operators.build.build_filter_from_parquet"
HLL = "operators.sketch_build.build_sketch[HyperLogLog]"
CMS = "operators.sketch_build.build_sketch[CountMinSketch]"
PROBE = "operators.membership.membership_df"


def _jobs_wall(jobs: list[dict]) -> float:
    """Seconds during which at least one of ``jobs`` ran (adaptive query
    execution runs a query as several, overlapping jobs)."""
    fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
    spans = sorted((datetime.strptime(j["submissionTime"], fmt),
                    datetime.strptime(j["completionTime"], fmt)) for j in jobs)
    total, end = 0.0, None
    for a, b in spans:
        if end is None or a > end:
            total += (b - a).total_seconds()
            end = b
        elif b > end:
            total += (b - end).total_seconds()
            end = b
    return total


def _build_stages(m: dict, rest, label: str, prefix: str, n_calls: int) -> None:
    stages = rest.stages.get(label, [])
    first = [s for s in stages if s["shuffleReadBytes"] == 0]
    merge = [s for s in stages if s["shuffleReadBytes"] > 0]
    s1, sm = stage_sums(first), stage_sums(merge)
    m[f"{prefix}.stage1.cpu_s"] += s1["cpu_s"] / n_calls
    m[f"{prefix}.stage1.run_s"] += s1["run_s"] / n_calls
    m[f"{prefix}.merge_levels.cpu_s"] += sm["cpu_s"] / n_calls
    if prefix == "operators.build":
        m[f"{prefix}.stage1.tasks"] = s1["tasks"] / n_calls
        m[f"{prefix}.stage1.task_skew"] = float(np.mean([rest.task_skew(s) for s in first]))
        m[f"{prefix}.merge_levels.run_s"] = sm["run_s"] / n_calls
        m[f"{prefix}.merge_levels.shuffle_bytes"] = sm["shuffle_read_bytes"] / n_calls


def assemble(tracer, rest, replay: dict, untraced: dict, traced: dict,
             calls: dict) -> tuple[dict, list[str]]:
    """Return ({metric: value} for every metric in METRICS, [metrics that
    apply to this workload])."""
    m: dict[str, float] = defaultdict(float)
    rounds = len(traced["walls"])
    for k, v in replay.items():
        if k in UNITS:
            m[k] = v

    labels = set(calls)
    if BUILD in labels:
        n = len(calls[BUILD])
        _build_stages(m, rest, BUILD, "operators.build", n)
        job_s = _jobs_wall(rest.jobs.get(BUILD, []))
        wall = sum(calls[BUILD])
        m["operators.build.driver_s"] = (wall - job_s) / n
        fold = sum(tracer.durations("core.serde.deserialize_filter")
                   + tracer.durations("core.dynamic_filter.merge"))
        m["operators.build.driver_fold_s"] = fold / n
        m["operators.build.driver_compact_s"] = sum(
            tracer.durations("core.dynamic_filter.compact")) / n
        m["operators.build.driver_share"] = m["operators.build.driver_s"] / (wall / n)
    for label in (HLL, CMS):
        if label in labels:
            _build_stages(m, rest, label, "operators.sketch_build", len(calls[label]))
    if PROBE in labels:
        q = [t - o for t, o in zip(tracer.top_cpu(PROBE), tracer.top_own_cpu(PROBE))]
        m["operators.membership.probe_stage.cpu_s"] = float(np.median(q))
        m["operators.membership.boundary_s"] = (m["operators.membership.probe_stage.cpu_s"]
                                                - m["operators.membership.kernel_s"])
    for name, v in tracer.counts.items():
        if name in UNITS:
            m[name] = v
    for label, stages in rest.stages.items():
        if label.startswith("operators.dedup."):
            m[label + ".cpu_s"] = stage_sums(stages)["cpu_s"]

    # the rounds' jobs only: not the operator-by-operator materialization
    # that follows the traced rounds on neardup_docs
    tot = stage_sums([s for lbl in labels for s in rest.stages.get(lbl, [])])
    for k in ("shuffle_write_bytes", "spill_bytes", "gc_s", "tasks"):
        m[f"spark.{k}"] = tot[k] / rounds
    m["spark.task_parallelism"] = tot["run_s"] / sum(traced["walls"])
    if "build_wall_s" in replay:
        m["spark.parallel_speedup"] = replay["build_wall_s"] / float(np.median(untraced["walls"]))
    base = float(np.median(untraced["walls"]))
    m["trace.overhead_s"] = float(np.median(traced["walls"])) - base
    m["trace.overhead_ratio"] = m["trace.overhead_s"] / base
    for name, s in tracer.self_times().items():
        if name + ".self_s" in UNITS:
            m[name + ".self_s"] = s / rounds

    applies = sorted(k for k, v in m.items() if k in UNITS and v != 0)
    return {n: float(m.get(n, 0.0)) for n, _, _ in METRICS}, applies
