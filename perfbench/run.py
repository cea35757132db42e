"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. It generates the workload's inputs
from the seed, starts one fresh worker process (``worker.py``) against them
in a private directory under ``.perfbench/``, and prints the worker's JSON
result as the last line of stdout. Everything the run writes (inputs, layout
cache, Spark local dirs, warehouse, checkpoints, outfiles, saved results)
stays in that directory and is removed afterwards; traced runs keep their
spans under ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

RUN_TIMEOUT_S = 170.0
DRIVER_MEMORY = "3g"


def worker_env(work: str) -> dict:
    env = dict(os.environ)
    dirs = {name: os.path.join(work, name) for name in
            ("layout_cache", "local", "tmp", "warehouse", "checkpoint")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}"
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={dirs['warehouse']}",
        "--conf", f"spark.sql.streaming.checkpointLocation={dirs['checkpoint']}",
        "--conf", f"spark.driver.extraJavaOptions={java_opts}",
        "pyspark-shell",
    ]
    env.update({
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_CACHE_DIR": dirs["layout_cache"],
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in submit),
        "PYTHONPATH": os.pathsep.join([ROOT, HERE] + [p for p in [env.get("PYTHONPATH")] if p]),
        "PYTHONHASHSEED": "0",  # same string hashes, so same set order, in every run
    })
    return env


def _group_alive(pgid: int) -> bool:
    """True while a process of the group is running (zombies do not count:
    they have exited, whoever reaps them)."""
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _signal_group(pgid: int, sig: int) -> None:
    try:
        os.killpg(pgid, sig)
    except ProcessLookupError:
        pass  # every member has already exited


def stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker's process group (the JVM and Python workers with it)
    and wait until every member has exited."""
    pgid = proc.pid
    if _group_alive(pgid):
        _signal_group(pgid, signal.SIGTERM)
    try:
        proc.wait(timeout=10)
    except subprocess.TimeoutExpired:
        _signal_group(pgid, signal.SIGKILL)
        proc.wait()
    deadline = time.time() + 10
    while _group_alive(pgid):
        if time.time() > deadline:
            _signal_group(pgid, signal.SIGKILL)
            deadline = time.time() + 10
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tables", default=None,
                    help="copy the workload's parquet tables from this directory over the "
                         "generated ones, to compare timings with a fixture")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "matrixone_spark")):
        print(f"no engine source under {ROOT}: run from a source checkout", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    traces = os.path.join(base, "traces")
    os.makedirs(traces, exist_ok=True)
    try:
        data = os.path.join(work, "data")
        t = time.time()
        sizes = gen.generate(args.workload, args.seed, data)
        for name in sorted(os.listdir(data)) if args.tables else ():
            src = os.path.join(args.tables, name)
            if name.endswith(".parquet") and os.path.exists(src):
                shutil.copyfile(src, os.path.join(data, name))
                sizes[name[:-8]] = f"{args.tables}/{name}"
        print(f"inputs ({time.time() - t:.1f} s): "
              + ", ".join(f"{k}={v}" for k, v in sizes.items()), flush=True)
        cmd = [sys.executable, os.path.join(HERE, "worker.py"),
               "--workload", args.workload, "--data", data, "--work", work,
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--spans", os.path.join(traces, f"{args.workload}-{args.seed}.json")]
        t0 = time.time()
        proc = subprocess.Popen(cmd + ["--t0", repr(t0)], cwd=work, env=worker_env(work),
                                stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                                start_new_session=True)
        try:
            out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"worker exceeded {RUN_TIMEOUT_S:.0f} s", file=sys.stderr)
            return 1
        finally:
            stop_group(proc)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = out.strip().splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    if result is None:
        sys.stderr.write(err[-4000:])
        print(f"worker failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    print("\n".join(lines[:-1]))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
