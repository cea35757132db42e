"""Spans, counters and Spark status readers for the traced run.

Everything here observes the engine from outside: spans are taken around the
benchmark's own calls into the engine, and Spark's numbers come from its
public status store over py4j. Nothing in the engine is patched except the
index ``build`` entry points and the py4j client, which the traced run wraps
to count calls.
"""

from __future__ import annotations

import json
import math
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# --- spans -----------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: "int | None"
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; ``dump`` writes the spans out at the end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sp = Span(len(self.spans), name, time.time(), math.nan,
                  self._stack[-1] if self._stack else None, attrs)
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.time()

    def add(self, name: str, start: float, end: float, parent: "int | None", **attrs) -> Span:
        sp = Span(len(self.spans), name, start, end, parent, attrs)
        self.spans.append(sp)
        return sp

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def union_length(intervals, lo: float = -math.inf, hi: float = math.inf) -> float:
    """Length of the union of ``intervals``, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (span.end - span.start) - union_length(
        [(c.start, c.end) for c in children], span.start, span.end)


def self_times(tracer: Tracer, root: Span) -> dict[str, float]:
    """Self time (seconds) summed by span name over ``root``'s subtree."""
    out: dict[str, float] = {}
    todo = [root]
    while todo:
        sp = todo.pop()
        kids = tracer.children(sp.id)
        out[sp.name] = out.get(sp.name, 0.0) + self_time(sp, kids)
        todo.extend(kids)
    return out


# --- statistics --------------------------------------------------------------

MIN_BEYOND = 10


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least MIN_BEYOND of ``n`` samples above
    its nearest-rank position; 50 (the median) when there are too few."""
    for p in range(99, 50, -1):
        if n - math.ceil(p / 100 * n) >= MIN_BEYOND:
            return p
    return 50


def percentile(values, p: float) -> float:
    """Nearest-rank percentile."""
    vals = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(vals)))
    return vals[rank - 1]


# --- job attribution -----------------------------------------------------------


def attribute_jobs(jobs: list[dict], group: str, start_ms: float, end_ms: float):
    """Split new jobs into (tagged, untagged) for one operation.

    Tagged jobs carry the operation's job group. Jobs without it, such as
    stream micro-batches that run on their own thread under the stream's
    run id, belong to the operation when they were submitted inside its
    interval; with a single closed-loop client nothing else can submit them.
    """
    tagged, untagged = [], []
    for j in jobs:
        if j.get("jobGroup") == group:
            tagged.append(j)
        elif j.get("submissionTime") is not None and start_ms <= j["submissionTime"] <= end_ms:
            untagged.append(j)
    return tagged, untagged


# --- Spark readers ---------------------------------------------------------------

STAGE_SUMS = {
    "exec.run_ms": "executorRunTime",
    "exec.gc_ms": "jvmGcTime",
    "exec.tasks": "numCompleteTasks",
    "exec.shuffle_read_bytes": "shuffleReadBytes",
    "exec.shuffle_write_bytes": "shuffleWriteBytes",
    "scan.input_bytes": "inputBytes",
    "scan.input_rows": "inputRecords",
    "exec.output_bytes": "outputBytes",
}


class SparkStatus:
    """Reads Spark's status store and codegen counters over py4j."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.sc = sc
        self.jvm = sc._jvm
        self.ssc = sc._jsc.sc()
        self.store = self.ssc.statusStore()
        self.mapper = self.jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(self.jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.mapper.registerModule(getattr(scala_module, "MODULE$"))
        self.codegen = self.jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self.last_job_id = -1

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def drain(self) -> None:
        self.ssc.listenerBus().waitUntilEmpty()

    def new_jobs(self) -> list[dict]:
        """Jobs submitted since the previous call (the bus must be drained)."""
        jobs = self._json(self.store.jobsList(self.jvm.java.util.ArrayList()))
        fresh = sorted((j for j in jobs if j["jobId"] > self.last_job_id), key=lambda j: j["jobId"])
        if fresh:
            self.last_job_id = fresh[-1]["jobId"]
        return fresh

    def stages(self, stage_ids) -> dict[int, list[dict]]:
        """Status-store attempts of each stage id (absent once evicted)."""
        out = {}
        empty_q = self.sc._gateway.new_array(self.jvm.double, 0)
        for sid in sorted(set(stage_ids)):
            try:
                out[sid] = self._json(self.store.stageData(
                    sid, False, self.jvm.java.util.ArrayList(), False, empty_q))
            except Exception:  # noqa: BLE001 - py4j wraps NoSuchElementException
                continue
        return out

    def stage_metrics(self, stage_ids, stages: "dict | None" = None) -> dict[str, float]:
        """Executor metrics summed over the stages that ran (not skipped)."""
        stages = self.stages(stage_ids) if stages is None else stages
        out = dict.fromkeys(list(STAGE_SUMS) + ["exec.cpu_ms", "exec.spill_bytes", "exec.stages"], 0)
        for sid in set(stage_ids):
            for st in stages.get(sid, []):
                if st["status"] == "SKIPPED":
                    continue
                out["exec.stages"] += 1
                for metric, key in STAGE_SUMS.items():
                    out[metric] += st[key]
                out["exec.cpu_ms"] += st["executorCpuTime"] / 1e6
                out["exec.spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        return out

    def codegen_totals(self) -> tuple[int, float]:
        """(compiles, compile ms) so far. The ms figure is count × the
        histogram's mean, exact while its reservoir holds every sample."""
        count = self.codegen.getCount()
        return count, count * self.codegen.getSnapshot().getMean()

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def storage_bytes(self) -> int:
        return sum(e["memoryUsed"] + e["diskUsed"]
                   for e in self._json(self.store.executorList(True)))


def plan_counts(df) -> dict[str, int]:
    """Exchanges and Python-evaluation nodes in the executed (final) plan."""
    text = df._jdf.queryExecution().executedPlan().toString()
    text = text.split("== Initial Plan ==")[0]
    exchanges = python_nodes = 0
    for line in text.splitlines():
        node = line.lstrip(" :+-").split(" ")
        name = node[1] if node[0].startswith("*(") and len(node) > 1 else node[0]
        name = name.split("(")[0]
        if name.endswith("Exchange") and not name.startswith("Reused"):
            exchanges += 1
        if "Python" in name or "InPandas" in name or "InArrow" in name:
            python_nodes += 1
    return {"plan.exchanges": exchanges, "plan.python_nodes": python_nodes}


def catalyst_phases(df) -> dict[str, float]:
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"catalyst.{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# --- counters wrapped around the engine's public entry points -------------------


class CallCounter:
    """Counts and times calls through wrapped callables."""

    def __init__(self) -> None:
        self.calls = 0
        self.seconds = 0.0

    def wrap(self, fn):
        def wrapped(*args, **kwargs):
            t = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self.calls += 1
                self.seconds += time.time() - t
        return wrapped


def wrap_index_builds(counter: CallCounter) -> None:
    """Count the index ``build`` classmethods of the engine's operators."""
    from matrixone_spark.operators.fulltext import FullTextIndex
    from matrixone_spark.operators.knn import IvfIndex, IvfPqIndex, LshAnnIndex

    for cls in (FullTextIndex, IvfIndex, IvfPqIndex, LshAnnIndex):
        cls.build = classmethod(counter.wrap(cls.build.__func__))


def wrap_py4j(spark, counter: CallCounter) -> None:
    client = spark.sparkContext._gateway._gateway_client
    client.send_command = counter.wrap(client.send_command)


# --- memory ------------------------------------------------------------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        if ppid == pid:
            kids.append(int(entry))
    return kids


def peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM of the driver JVM plus this Python process and the Python
    workers the JVM started, in MiB."""
    pids = [jvm_pid, os.getpid()]
    todo = _children(jvm_pid)
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(_children(pid))
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0
