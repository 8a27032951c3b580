"""Benchmark for cuckoofilter_spark: three workloads driven through the
library's public entry points on Spark ``local[<nproc>]``.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Run it from the root of a checkout.  Workloads (see ``workloads.py``):

- ``zipf_build``: Zipf token table -> cuckoo filter, HyperLogLog, Count-Min;
- ``distinct_probe``: distinct int64 keys -> multi-table cuckoo filter, then
  one closed-loop client issuing membership queries against a larger
  filter built in set-up;
- ``neardup_docs``: MinHash-LSH and PPJoin near-duplicate detection.

Each run generates (or re-uses and verifies) its seeded inputs, starts
Spark, sets the workload up three times (``setup_s`` is the median), runs
one untimed warm-up round, then repeats rounds for ``--seconds`` (at least
the workload's ``min_rounds``) and checks every output.  With
``--trace 0`` the last line of stdout carries the end-to-end metrics.  With
``--trace 1`` the run measures half its time untraced and half traced,
labels every Spark job with the call that ran it, replays the inputs in
one process through the kernel functions, writes spans and per-layer
metrics to ``.perfbench/trace/<workload>-<size>-s<seed>.jsonl``, and the
last line carries the per-layer metrics.  The line before the last is a
report with every workload metric, the checks and the run configuration.

Exit status: 0 when every round and check passed, 1 when one failed, 2
when the checkout holds no ``cuckoofilter_spark`` package.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3
SMOKE_SECONDS = 1.0
#: the end-to-end metrics BENCHMARK.json gates on
GATED = ("setup_s", "round_s_p50", "items_per_s", "driver_peak_rss_mb")
WORKLOAD_NAMES = ("zipf_build", "distinct_probe", "neardup_docs")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload on its smoke-size input, traced, in one session")
    args = ap.parse_args(argv)
    if not args.smoke and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required unless --smoke")
    return args


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(root: str, work: str, cpus: int):
    """Spark with every setting the benchmark depends on pinned here, never
    inherited: master, worker PYTHONPATH, local dirs, UI/REST on."""
    from cuckoofilter_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    # Python workers inherit the JVM's environment: without the checkout on
    # their path they fail with ModuleNotFoundError: cuckoofilter_spark
    os.environ["PYTHONPATH"] = root + (os.pathsep + old if old else "")
    # SPARK_LOCAL_DIRS overrides spark.local.dir, so pin both
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.pop("SPARK_EXECUTOR_DIRS", None)
    # every JVM, the launcher's too: no perf-data file in /tmp, temp files
    # inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.ui.enabled": "true",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.driver.memory": "4g",
    }
    master = f"local[{cpus}]"
    shuffle = max(cpus, 8)
    spark = get_spark("perfbench", master=master, shuffle_partitions=shuffle, **conf)
    spark.sparkContext.setLogLevel("ERROR")
    recorded = {"master": master, "spark.sql.shuffle.partitions": shuffle,
                "PYTHONPATH": os.environ["PYTHONPATH"],
                "JAVA_TOOL_OPTIONS": os.environ["JAVA_TOOL_OPTIONS"], **conf,
                "ui": spark.sparkContext.uiWebUrl}
    return spark, recorded


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers) to
    exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    # the JVM exits when its stdin closes
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def install_wrappers(tracer) -> None:
    """Spans around the library functions the workloads reach."""
    from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
    from cuckoofilter_spark.operators import build as B
    from cuckoofilter_spark.operators import dedup as D
    from cuckoofilter_spark.operators import membership as M
    from cuckoofilter_spark.operators import sketch_build as SB
    from cuckoofilter_spark.sketches.countmin import CountMinSketch
    from cuckoofilter_spark.sketches.hll import HyperLogLog

    tracer.wrap(B, "build_filter_from_parquet", "operators.build.build_filter_from_parquet")
    tracer.wrap(B, "tree_merge_blobs", "operators.build.tree_merge_blobs")
    # the driver-side fold's deserialize; executors run the library unwrapped
    tracer.wrap(B, "deserialize_filter", "core.serde.deserialize_filter")
    tracer.wrap(DynamicCuckooFilter, "merge", "core.dynamic_filter.merge")
    tracer.wrap(DynamicCuckooFilter, "compact", "core.dynamic_filter.compact")
    tracer.wrap(SB, "build_sketch", "operators.sketch_build.build_sketch")
    tracer.wrap(SB, "deserialize_sketch", "sketches.base.deserialize_sketch")
    tracer.wrap(HyperLogLog, "merge", "sketches.hll.merge")
    tracer.wrap(CountMinSketch, "merge", "sketches.countmin.merge")
    tracer.wrap(M, "membership_df", "operators.membership.membership_df")

    def broadcast(args, kwargs, blob):
        tracer.counts["operators.membership.serialize_filter.bytes"] += len(blob)

    tracer.wrap(M, "serialize_filter", "core.serde.serialize_filter", on_call=broadcast)
    for name in ("minhash_near_dups", "jaccard_pairs_prefix", "shingles"):
        tracer.wrap(D, name, "operators.dedup." + name)


def measure(wl, seconds: float, min_rounds: int, tracer=None) -> dict:
    """Repeat rounds until ``seconds`` have passed (at least ``min_rounds``).
    A round that raises counts as failed."""
    from tracing import tree_cpu

    walls, cpus, calls, failed = [], [], {}, 0
    end = time.perf_counter() + seconds
    while len(walls) + failed < min_rounds or time.perf_counter() < end:
        if tracer is not None:
            tracer.round += 1
        c0, t0 = tree_cpu(), time.perf_counter()
        try:
            wl.run_round(calls)
        except Exception:
            traceback.print_exc()
            failed += 1
            if failed >= min_rounds:
                break
            continue
        walls.append(time.perf_counter() - t0)
        cpus.append(tree_cpu() - c0)
    return {"walls": walls, "cpus": cpus, "calls": calls, "failed": failed}


def end_to_end(wl, setup_times: list[float], m: dict, rss_mb: float) -> dict:
    walls = m["walls"]
    return {
        "setup_s": {"value": statistics.median(setup_times), "unit": "s",
                    "samples": len(setup_times)},
        "round_s_p50": {"value": statistics.median(walls), "unit": "s",
                        "samples": len(walls)},
        "items_per_s": {"value": wl.items_per_round * len(walls) / sum(walls),
                        "unit": "items/s", "items": wl.items_unit,
                        "items_per_round": wl.items_per_round},
        "driver_peak_rss_mb": {"value": rss_mb, "unit": "MB"},
        # reported, not gated: CPU seconds of the whole process tree per round
        "round_cpu_s_p50": {"value": statistics.median(m["cpus"]), "unit": "s",
                            "samples": len(m["cpus"])},
    }


def run_workload(spark, config: dict, name: str, seed: int, size: str, seconds: float,
                 trace: bool, inputs: tuple, expected: dict, root: str) -> tuple[dict, dict]:
    """Set one workload up, measure it, check it; return (report, result).
    At the smoke size it sets up once and measures single rounds."""
    import tracing
    from workloads import WORKLOADS, Check

    input_dir, manifest, input_s = inputs
    wl = WORKLOADS[name](spark, input_dir, manifest, expected)
    setup_reps, min_rounds = (1, 1) if size == "smoke" else (SETUP_REPS, wl.min_rounds)
    setup_times = []
    for _ in range(setup_reps):
        t0 = time.perf_counter()
        wl.setup()
        setup_times.append(time.perf_counter() - t0)

    # one full round, untimed, so that the JVM and the Python workers have
    # run every code path at full size before measuring starts
    warm = measure(wl, 0, 1)
    if not trace:
        m = measure(wl, seconds, min_rounds)
        rss = tracing.peak_rss_mb()
    else:
        half = max(min_rounds - 1, 1)
        m = measure(wl, seconds / 2, half)
        rss = tracing.peak_rss_mb()
        tracer = tracing.Tracer(spark.sparkContext, f"{name}-{size}-s{seed}")
        install_wrappers(tracer)
        wl.tracer = tracer
        try:
            traced = measure(wl, seconds / 2, half, tracer)
        finally:
            tracer.restore()
            wl.tracer = None
        if hasattr(wl, "materialize") and traced["walls"]:
            wl.materialize(tracer)

    check = Check()
    if m["walls"]:
        wl.checks(check)
    attempted = sum(len(r["walls"]) + r["failed"] for r in (warm, m)) + len(check.results)
    failed = warm["failed"] + m["failed"] + sum(not c["ok"] for c in check.results)
    report = {"workload": name, "seed": seed, "size": size, "config": config,
              "input": {"content_sha256": manifest["content_sha256"],
                        **{k: v for k, v in manifest["meta"].items()
                           if not isinstance(v, list)}},
              "input_load_s": input_s, "setup_times_s": setup_times,
              "round_times_s": m["walls"],
              "checks": check.results}
    metrics = {}
    if m["walls"]:
        e2e = end_to_end(wl, setup_times, m, rss)
        report["end_to_end"] = e2e
        report["workload_metrics"] = wl.report(m["calls"])
        metrics = {k: {"value": e2e[k]["value"], "unit": e2e[k]["unit"]} for k in GATED}

    if trace:
        import layers

        attempted += len(traced["walls"]) + traced["failed"]
        failed += traced["failed"]
        metrics = {}
        if m["walls"] and traced["walls"]:
            calls = traced["calls"]
            rest = tracing.StageMetrics(spark)
            rest.collect({s["label"] for s in tracer.spans if "label" in s})
            n_probe = len(calls.get(layers.PROBE, []))
            if n_probe:
                tracer.counts["operators.membership.broadcast_bytes"] = (
                    tracer.counts["operators.membership.serialize_filter.bytes"] / n_probe)
            per_layer, applies = layers.assemble(tracer, rest, wl.kernel_replay(), m,
                                                 traced, calls)
            metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in per_layer.items()}
            path = os.path.join(root, ".perfbench", "trace", f"{name}-{size}-s{seed}.jsonl")
            tracer.write(path, [
                {"type": "self_time_s", **tracer.self_times()},
                {"type": "per_layer", "metrics": per_layer, "applies": applies},
                {"type": "end_to_end", "untraced_round_s": m["walls"],
                 "traced_round_s": traced["walls"]},
            ])
            report["trace_file"] = os.path.relpath(path, root)
            report["per_layer_applies"] = applies

    result = {"correct": failed == 0 and bool(metrics), "attempted": max(attempted, 1),
              "failed": failed if metrics else max(failed, 1), "metrics": metrics}
    return report, result


def load_input(name: str, seed: int, size: str, root: str, expected: dict) -> tuple:
    import gen

    t0 = time.perf_counter()
    d, manifest = gen.load(name, seed, size, os.path.join(root, ".perfbench", "inputs"),
                           expected)
    return d, manifest, time.perf_counter() - t0


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "cuckoofilter_spark", "__init__.py")):
        print("perfbench: no cuckoofilter_spark package in the current directory; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    sys.path[:0] = [HERE, root]
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)

    if args.smoke:
        # every workload at the smoke size in one Spark session, traced:
        # exercises every code path, check and trace output, times nothing
        names, seed, size = WORKLOAD_NAMES, 0, "smoke"
    else:
        names, seed, size = (args.workload,), args.seed, "default"
    # inputs first: generation runs in a child process before Spark starts
    inputs = {n: load_input(n, seed, size, root, expected) for n in names}
    t0 = time.perf_counter()
    spark, config = start_spark(root, work, nproc())
    config["spark_start_s"] = time.perf_counter() - t0
    results = []
    try:
        seconds, trace = (SMOKE_SECONDS, True) if args.smoke else (args.seconds, bool(args.trace))
        for n in names:
            results.append(run_workload(spark, config, n, seed, size, seconds, trace,
                                        inputs[n], expected, root))
    finally:
        stop_spark(spark)

    for report, result in results:
        print(json.dumps({"report": report}))
        print(json.dumps(result))
    return 0 if all(r["correct"] for _, r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
