"""One benchmark run in a fresh Python process; ``run.py`` starts it.

The run is a closed loop with one client: set up the engine, run one cold
pass over the workload's operations, one unmeasured warm-up pass, then
measured warm passes until ``--seconds`` of them have elapsed (at least
MIN_WARM_PASSES), each operation sent only after the previous one returned.
Result checks run after the timed passes. The last stdout line is the run's
JSON result.

With ``--trace 1`` warm passes alternate between traced and untraced; the
traced ones give the per-layer metrics and the difference between the two
kinds is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time

import tracing
import workloads

# After the cold pass, one unmeasured warm-up pass (the JIT is still compiling
# the cold pass's hot code), then at least MIN_WARM_PASSES measured passes.
MIN_WARM_PASSES = 2
# per-layer metrics summed over a pass's operations
PASS_SUMS = (
    "queries.build_ms", "queries.build_jobs", "queries.py4j_calls",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "exec.run_ms", "exec.cpu_ms", "exec.gc_ms", "exec.tasks",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "scan.input_bytes", "scan.input_rows", "exec.jobs", "exec.stages", "exec.idle_ms",
    "exec.output_bytes", "streaming.jobs", "streaming.run_ms",
    "codegen.compiles", "codegen.compile_ms", "cache.index_builds", "cache.index_build_ms",
    "plan.exchanges", "plan.python_nodes", "ops.wall_ms",
)
PASS_DERIVED = ("exec.core_util", "queries.build_share", "exec.jobs_per_op",
                "cache.persisted_rdds", "cache.storage_bytes")
SELF_SPANS = ("pass", "op", "queries.build", "collect", "check", "job")
SETUP_LAYERS = ("setup.import_ms", "setup.session_ms", "catalog.load_ms", "setup.warmup_ms")
COLD_LAYERS = ("codegen.compiles", "codegen.compile_ms", "cache.index_builds",
               "cache.index_build_ms", "queries.build_ms", "exec.jobs")
E2E_UNITS = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "op_p50_s": "s"}


def layer_units() -> dict[str, str]:
    """Every per-layer metric of a traced run, in output order, with its unit."""
    names = (SETUP_LAYERS + PASS_SUMS + PASS_DERIVED
             + tuple(f"self.{s}_ms" for s in SELF_SPANS)
             + tuple(f"cold.{n}" for n in COLD_LAYERS)
             + ("trace.pass_ms", "trace.untraced_pass_ms", "trace.overhead_ms", "mem.peak_rss_mb"))
    return {n: "ms" if n.endswith("_ms") else "bytes" if n.endswith("_bytes")
            else "ratio" if n in ("exec.core_util", "queries.build_share")
            else "MiB" if n.endswith("_mb") else "count"
            for n in names}


class Run:
    def __init__(self, args, spark, ops, tracer, status, py4j, builds):
        self.spark = spark
        self.ops = ops
        self.tracer = tracer
        self.status = status
        self.py4j = py4j
        self.builds = builds
        self.ctx = workloads.Context(spark, args.data, os.path.join(args.work, "out"))
        self.cold_rows: dict = {}
        self.cold_cols: dict = {}
        self.digests: dict[str, list] = {op.name: [] for op in ops}
        self.errors: dict[str, list] = {op.name: [] for op in ops}
        self.warm_latencies: list[float] = []
        self.op_latencies: dict[str, list] = {op.name: [] for op in ops}
        self.pass_times: dict[bool, list[float]] = {True: [], False: []}
        self.layer_passes: list[dict] = []
        self.cold_layers: dict = {}
        self.attempted = 0
        self.measuring = False  # false for the cold and warm-up passes
        self.peak_rss = 0.0
        self.jvm_pid = spark.sparkContext._gateway.proc.pid

    def sample_rss(self) -> None:
        self.peak_rss = max(self.peak_rss, tracing.peak_rss_mb(self.jvm_pid))

    def run_pass(self, pass_no: int, traced: bool) -> float:
        self.ctx.pass_no = pass_no
        self.ctx.state = {}
        layers = dict.fromkeys(PASS_SUMS, 0.0)
        t0 = time.time()
        if traced:
            self.status.drain()
            self.status.new_jobs()  # forget the jobs of untraced passes
            with self.tracer.span("pass", pass_no=pass_no) as sp:
                for op in self.ops:
                    self.run_op(op, pass_no, layers)
            self.finish_layers(sp, layers, pass_no)
        else:
            for op in self.ops:
                self.run_op(op, pass_no, None)
        elapsed = time.time() - t0
        self.sample_rss()
        return elapsed

    def run_op(self, op, pass_no: int, layers: "dict | None") -> None:
        self.attempted += 1
        if layers is None:
            t = time.time()
            try:
                df = op.build(self.ctx)
                rows = op.run(df, self.ctx)
            except Exception as exc:  # noqa: BLE001 - a failed operation is counted, not fatal
                self.errors[op.name].append(f"pass {pass_no}: {type(exc).__name__}: {exc}"[:400])
                self.digests[op.name].append(None)
                return
            latency = time.time() - t
        else:
            rows, df, latency = self.run_op_traced(op, pass_no, layers)
            if rows is None:
                return
        self.op_latencies[op.name].append(latency)
        if pass_no == 0:
            self.cold_rows[op.name] = rows
            self.cold_cols[op.name] = list(df.columns)
        elif self.measuring:
            self.warm_latencies.append(latency)
        if layers is None:
            self.digests[op.name].append(workloads.result_digest(rows))

    def run_op_traced(self, op, pass_no: int, layers: dict):
        sc = self.spark.sparkContext
        group = f"perfbench-{pass_no}-{op.name}"
        sc.setJobGroup(group, op.name)
        cg0 = self.status.codegen_totals()
        b0 = (self.builds.calls, self.builds.seconds)
        rows = df = None
        with self.tracer.span("op", op=op.name, pass_no=pass_no) as op_span:
            try:
                with self.tracer.span("queries.build") as build_span:
                    calls0 = self.py4j.calls
                    df = op.build(self.ctx)
                    layers["queries.py4j_calls"] += self.py4j.calls - calls0
                with self.tracer.span("collect") as collect_span:
                    rows = op.run(df, self.ctx)
            except Exception as exc:  # noqa: BLE001 - a failed operation is counted, not fatal
                self.errors[op.name].append(f"pass {pass_no}: {type(exc).__name__}: {exc}"[:400])
            if rows is not None:
                latency = collect_span.end - build_span.start
                with self.tracer.span("check"):
                    self.digests[op.name].append(workloads.result_digest(rows))
            else:
                latency = time.time() - build_span.start
                self.digests[op.name].append(None)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

        self.status.drain()
        jobs = self.status.new_jobs()
        tagged, untagged = tracing.attribute_jobs(
            jobs, group, op_span.start * 1000, op_span.end * 1000)
        layers["ops.wall_ms"] += latency * 1000
        layers["queries.build_ms"] += (build_span.end - build_span.start) * 1000
        intervals = []
        for job in tagged + untagged:
            start = job["submissionTime"] / 1000
            end = (job.get("completionTime") or job["submissionTime"]) / 1000
            intervals.append((start, end))
            parent = op_span
            for child in self.tracer.children(op_span.id):
                if child.start <= start <= child.end:
                    parent = child
            self.tracer.add("job", start, end, parent.id, job_id=job["jobId"],
                            streaming=job not in tagged)
            if build_span.start <= start <= build_span.end:
                layers["queries.build_jobs"] += 1
        layers["exec.jobs"] += len(tagged) + len(untagged)
        layers["streaming.jobs"] += len(untagged)
        layers["exec.idle_ms"] += 1000 * (latency - tracing.union_length(
            intervals, op_span.start, op_span.end))
        stage_ids = [s for j in tagged + untagged for s in j["stageIds"]]
        stages = self.status.stages(stage_ids)
        for k, v in self.status.stage_metrics(stage_ids, stages).items():
            layers[k] += v
        stream_ids = [s for j in untagged for s in j["stageIds"]]
        layers["streaming.run_ms"] += self.status.stage_metrics(stream_ids, stages)["exec.run_ms"]
        cg1 = self.status.codegen_totals()
        layers["codegen.compiles"] += cg1[0] - cg0[0]
        layers["codegen.compile_ms"] += cg1[1] - cg0[1]
        layers["cache.index_builds"] += self.builds.calls - b0[0]
        layers["cache.index_build_ms"] += (self.builds.seconds - b0[1]) * 1000
        if df is not None and hasattr(df, "_jdf"):
            for k, v in tracing.catalyst_phases(df).items():
                layers[k] += v
            if rows is not None:
                for k, v in tracing.plan_counts(df).items():
                    layers[k] += v
        return rows, df, latency

    def finish_layers(self, pass_span, layers: dict, pass_no: int) -> None:
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        wall = max(layers["ops.wall_ms"], 1e-9)
        layers["exec.core_util"] = layers["exec.run_ms"] / (wall * cores)
        layers["queries.build_share"] = layers["queries.build_ms"] / wall
        layers["exec.jobs_per_op"] = layers["exec.jobs"] / len(self.ops)
        layers["cache.persisted_rdds"] = self.status.persisted_rdds()
        layers["cache.storage_bytes"] = self.status.storage_bytes()
        own = tracing.self_times(self.tracer, pass_span)
        for name in SELF_SPANS:
            layers[f"self.{name}_ms"] = own.get(name, 0.0) * 1000
        if pass_no == 0:
            self.cold_layers = layers
        else:
            self.layer_passes.append(layers)


def setup(args, tracer):
    """Import, start the session, load the catalog and warm up; returns the
    handles, setup_s (process start to warm-up done) and the setup layers."""
    with tracer.span("setup.import") as sp_import:
        from matrixone_spark.engine import Engine
        from matrixone_spark.queries import load_all
        from matrixone_spark.session import get_spark

        load_all()
    with tracer.span("setup.session") as sp_session:
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
    with tracer.span("catalog.load") as sp_load:
        Engine(spark).load(args.data)
    with tracer.span("setup.warmup") as sp_warm:
        spark.sql("SELECT 1").collect()
    layers = {
        name: (sp.end - sp.start) * 1000
        for name, sp in (("setup.import_ms", sp_import), ("setup.session_ms", sp_session),
                         ("catalog.load_ms", sp_load), ("setup.warmup_ms", sp_warm))
    }
    return spark, workloads.workload_ops(args.workload), sp_warm.end - args.t0, layers


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--spans", default=None)
    args = ap.parse_args()

    tracer = tracing.Tracer()
    with tracer.span("run", workload=args.workload) as run_span:
        spark, ops, setup_s, setup_layers = setup(args, tracer)
        setup_wall = time.time() - run_span.start
        status = tracing.SparkStatus(spark) if args.trace else None
        py4j, builds = tracing.CallCounter(), tracing.CallCounter()
        if args.trace:
            tracing.wrap_py4j(spark, py4j)
            tracing.wrap_index_builds(builds)
        run = Run(args, spark, ops, tracer, status, py4j, builds)
        run.sample_rss()

        cold_pass_s = run.run_pass(0, traced=bool(args.trace))
        pass_log = [f"warm-up {run.run_pass(1, traced=False):.3f}"]
        run.measuring = True
        warm_start = time.time()
        n = 1
        while n <= MIN_WARM_PASSES or time.time() - warm_start < args.seconds:
            n += 1
            traced = bool(args.trace) and n % 2 == 0
            elapsed = run.run_pass(n, traced)
            run.pass_times[traced].append(elapsed)
            pass_log.append(f"{elapsed:.3f}{'*' if traced else ''}")

        with tracer.span("checks") as sp_checks:
            problems = workloads.check_results(run.cold_rows, run.cold_cols, args.data)
        run.sample_rss()
        with tracer.span("stop") as sp_stop:
            spark.stop()
    print(f"timeline: setup {setup_s:.1f} s, cold and warm passes "
          f"{sp_checks.start - run_span.start - setup_wall:.1f} s, "
          f"checks {sp_checks.end - sp_checks.start:.1f} s, stop {sp_stop.end - sp_stop.start:.1f} s")

    failed = 0
    for op in ops:
        digests = run.digests[op.name]
        cold = digests[0] if digests else None
        bad_check = bool(problems.get(op.name)) or op.name not in run.cold_rows
        for i, d in enumerate(digests):
            if d is None or bad_check or d != cold:
                failed += 1
                if d is not None and d != cold and not bad_check:
                    print(f"FAIL {op.name} pass {i}: result differs from the cold pass")
        for msg in run.errors[op.name]:
            print(f"FAIL {op.name} {msg}")
        for msg in problems.get(op.name, []):
            print(f"FAIL {op.name} check: {msg}")

    for op in ops:
        times = run.op_latencies[op.name]
        if times:
            print(f"op {op.name}: cold {times[0]:.3f} s, warm median "
                  f"{statistics.median(times[2:] or times):.3f} s, {len(run.cold_rows.get(op.name, []))} rows; "
                  "warm-up and measured (s): " + " ".join(f"{t:.3f}" for t in times[1:]))
    lat = run.warm_latencies
    tail_p = tracing.tail_percentile(len(lat))
    beyond = len(lat) - math.ceil(tail_p / 100 * len(lat))
    tail = (f"op tail p{tail_p} {tracing.percentile(lat, tail_p):.3f} s ({beyond} samples beyond it)"
            if beyond >= tracing.MIN_BEYOND else
            f"no op tail: {len(lat)} samples leave fewer than {tracing.MIN_BEYOND} beyond the median")
    print(f"workload {args.workload}: {len(ops)} ops, cold pass {cold_pass_s:.3f} s, "
          f"{n - 1} measured warm passes, {len(lat)} warm op samples; {tail}")
    print("warm passes, traced ones starred (s): " + " ".join(pass_log))
    print(f"peak RSS {run.peak_rss:.1f} MiB (driver JVM + Python processes)")
    print(f"failed_frac {failed / max(run.attempted, 1):.4f} ({failed}/{run.attempted})")
    if args.trace:
        metrics = dict(setup_layers)
        for name in PASS_SUMS + PASS_DERIVED + tuple(f"self.{s}_ms" for s in SELF_SPANS):
            metrics[name] = statistics.median([p[name] for p in run.layer_passes])
        for name in COLD_LAYERS:
            metrics[f"cold.{name}"] = run.cold_layers[name]
        traced_ms = statistics.median(run.pass_times[True]) * 1000
        untraced_ms = statistics.median(run.pass_times[False]) * 1000
        metrics["trace.pass_ms"] = traced_ms
        metrics["trace.untraced_pass_ms"] = untraced_ms
        metrics["trace.overhead_ms"] = traced_ms - untraced_ms
        metrics["mem.peak_rss_mb"] = run.peak_rss
        if args.spans:
            tracer.dump(args.spans)
    else:
        metrics = {
            "setup_s": setup_s,
            "cold_pass_s": cold_pass_s,
            "pass_s": statistics.median(run.pass_times[False]),
            "op_p50_s": statistics.median(lat),
        }
    units = layer_units() if args.trace else E2E_UNITS
    assert list(metrics) == list(units), "metric set must match the declared one"
    result = {
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    # The session is stopped; skip interpreter teardown, which only waits on
    # py4j and the gateway JVM. run.py reaps what is left of the group.
    os._exit(code)
