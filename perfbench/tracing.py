"""Outside-in tracing for the benchmark: spans around the library's public
functions, Spark job labels, process-tree CPU and Spark's REST stage
metrics.  Nothing here changes ``cuckoofilter_spark``; the wrappers are
installed on module attributes of the benchmark's own process and removed
afterwards, so Python workers (fresh processes) always run the library
unmodified.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from collections import defaultdict

_CLK = os.sysconf("SC_CLK_TCK")


# -- process-tree CPU --------------------------------------------------------

def _proc_stats() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds incl. reaped children) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:  # exited between listdir and open
            continue
        rest = raw[raw.rindex(")") + 2:].split()
        # fields after the command: state ppid ... utime(11) stime(12)
        # cutime(13) cstime(14), counted from state = 0
        cpu = sum(int(x) for x in rest[11:15]) / _CLK
        out[int(name)] = (int(rest[1]), cpu)
    return out


def tree_cpu(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` (default: this process) and all
    its descendants: here the driver, the Spark JVM and its Python
    workers."""
    root = os.getpid() if root is None else root
    stats = _proc_stats()
    kids = defaultdict(list)
    for pid, (ppid, _) in stats.items():
        kids[ppid].append(pid)
    total, stack = 0.0, [root]
    while stack:
        pid = stack.pop()
        if pid in stats:
            total += stats[pid][1]
        stack.extend(kids.get(pid, ()))
    return total


def peak_rss_mb() -> float:
    """Peak resident set of this process (VmHWM), in MB."""
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc/self/status")


# -- spans --------------------------------------------------------------------

class Tracer:
    """Records one span per wrapped call: name, start, end, parent, run id.

    Spans stay in memory until :meth:`write`.  Top-level spans (calls the
    benchmark makes itself) also label the Spark jobs they trigger with
    their name and record the process-tree CPU they used."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.round = -1

    def span(self, name: str, fn, *args, label: str | None = None, **kwargs):
        """Run ``fn`` inside a span.  A top-level span labels the Spark jobs
        it triggers with ``label`` (default: its name)."""
        sid = len(self.spans)
        top = not self._stack
        rec = {"run": self.run_id, "id": sid, "name": name, "round": self.round,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        if top:
            self.sc.setJobDescription(label or name)
            rec["label"] = label or name
            rec["cpu0"], rec["own0"] = tree_cpu(), time.process_time()
        rec["start"] = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if top:
                rec["tree_cpu_s"] = tree_cpu() - rec.pop("cpu0")
                rec["own_cpu_s"] = time.process_time() - rec.pop("own0")
                self.sc.setJobDescription(None)

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``on_call(args, kwargs, result)`` may record counts."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            res = tracer.span(name, orig, *args, **kwargs)
            if on_call is not None:
                on_call(args, kwargs, res)
            return res

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- summaries --------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part covered
        by direct children (children of one parent never overlap here)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def top_cpu(self, label: str) -> list[float]:
        return [s["tree_cpu_s"] for s in self.spans if s.get("label") == label]

    def top_own_cpu(self, label: str) -> list[float]:
        return [s["own_cpu_s"] for s in self.spans if s.get("label") == label]

    def write(self, path: str, extra: list[dict]) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({"type": "span", **s}) + "\n")
            for k, v in sorted(self.counts.items()):
                fh.write(json.dumps({"type": "count", "run": self.run_id,
                                     "name": k, "value": v}) + "\n")
            for rec in extra:
                fh.write(json.dumps({"run": self.run_id, **rec}) + "\n")


# -- Spark REST -----------------------------------------------------------------

class StageMetrics:
    """Completed stages of this application, grouped by the description of
    the job that ran them (the job label a :class:`Tracer` set)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.sc = sc

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def collect(self, labels: set[str], timeout: float = 30.0) -> None:
        """Fill ``jobs`` and ``stages``: label -> the succeeded jobs / the
        completed stages of the jobs it labelled.  Waits until the listener
        has seen every job end (the REST store lags the jobs)."""
        deadline = time.time() + timeout
        while True:
            jobs = self._get("/jobs")
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                break
            time.sleep(0.2)
        stages = {(s["stageId"], s["attemptId"]): s
                  for s in self._get("/stages") if s["status"] == "COMPLETE"}
        self.jobs: dict[str, list[dict]] = defaultdict(list)
        keys: dict[str, set] = defaultdict(set)
        for j in jobs:
            label = j.get("description")
            if label not in labels:
                continue
            self.jobs[label].append(j)
            # a stage shared by several jobs (reused shuffle output) is
            # listed under each of them but ran once
            keys[label].update(k for k in stages if k[0] in j["stageIds"])
        self.stages = {label: [stages[k] for k in sorted(ks)] for label, ks in keys.items()}

    def task_skew(self, stage: dict) -> float:
        """max / median task run time of one stage."""
        q = self._get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                      "/taskSummary?quantiles=0.5,1.0")["executorRunTime"]
        return q[1] / q[0] if q[0] else 0.0


def stage_sums(stages: list[dict]) -> dict[str, float]:
    """Sum Spark's per-stage metrics (times in seconds)."""
    return {
        "cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "tasks": float(sum(s["numTasks"] for s in stages)),
        "shuffle_write_bytes": float(sum(s["shuffleWriteBytes"] for s in stages)),
        "shuffle_read_bytes": float(sum(s["shuffleReadBytes"] for s in stages)),
        "spill_bytes": float(sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                                 for s in stages)),
        "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
    }
