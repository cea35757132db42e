"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully materialized via a count-ish action (collect on aggregates,
which all headline queries end in) so the measured time covers scan → shuffle →
agg, not lazy plan construction. First query absorbs JVM/session warmup, so a
warmup pass runs a trivial action before timing.
"""

from __future__ import annotations

import json
import os
import time

from matrixone_spark.queries import load_all
from matrixone_spark.session import ensure_sql_surface, get_spark
from tools.ab_bench import total_executor_runtime_ms

# Queries tagged "bench" are the headline set; keep them scan/join/agg heavy.
BENCH_TAG = "bench"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    registry = load_all()
    names = sorted(n for n, q in registry.items() if BENCH_TAG in q.tags)

    spark = get_spark("mospark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # warmup: exercise scan + join + agg + window codegen paths once so the
    # first timed query doesn't absorb JVM/codegen startup
    from pyspark.sql import Window, functions as F

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    w = Window.partitionBy("l_returnflag").orderBy("l_orderkey")
    (
        li.limit(50000)
        .join(o.limit(50000), li.l_orderkey == o.o_orderkey)
        .withColumn("rn", F.row_number().over(w))
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity"), F.max("rn"))
        .collect()
    )
    # ... and the Arrow-Python runner (pandas UDF + mapInArrow) once: the
    # first Arrow job in a process pays ~1.5-2 s of worker launch + runner
    # init, a per-process constant that otherwise lands on whichever Python-
    # path query happens to run first and skews its "cold" number.
    # (mo_conv is a pandas UDF of the SQL surface; mapInArrow warms the
    # Arrow-batch runner path)
    ensure_sql_surface(spark)
    spark.sql("SELECT mo_conv('ff', 16, 10)").collect()
    spark.range(1000).mapInArrow(lambda it: it, "id long").count()

    # Each query runs N times. "queries"/"value" report the min. N was 3
    # for r1–r9 and is 5 since r10 (box-noise robustness): min-of-5 is
    # statistically biased slightly BELOW min-of-3, so cross-round totals
    # straddling r9/r10 carry that small downward skew (r10 advisor) —
    # "queries_runs" publishes every raw run so any round's headline can
    # be re-derived as min-of-first-3 (or median) for like-for-like
    # comparison. Run 1 pays the one-off whole-stage-codegen compile for
    # that plan (a per-process constant, not data work), later runs are
    # the steady-state execution a cluster actually repeats, and min damps
    # local-mode scheduler noise (±30% run-to-run). "queries_cold"/
    # "value_cold" additionally report the first (codegen-inclusive) run.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))
    # Per-query error isolation: a red query costs one row in "errors", never
    # the whole bench file (r2 lesson: one crashed query → rc=1 → no perf
    # signal for the round).
    #
    # Noise robustness (r9 verdict What's-wrong #1): the rounds are
    # INTERLEAVED — round-robin over all queries per pass instead of N
    # back-to-back runs of one query — so a transient box-noise burst
    # (measured ~25% deep, tens of seconds long on this host) cannot land on
    # every run of the same query. "queries_runs" carries every raw run so
    # round-over-round comparison can re-derive min/median without
    # re-litigating which single number was the noisy one.
    raw: dict[str, list[float]] = {name: [] for name in names}
    # r13 (additions-only per the r12 verdict): alongside wall, record the
    # per-run delta of cluster-wide task executorRunTime (ms) read from the
    # live AppStatusStore — CPU-time-ish work tasks actually did, which a
    # co-tenant noise burst inflates far less than wall clock. Lets PERF
    # comparisons separate plan cost from box noise. Read failures degrade
    # to -1 (never fail the bench over a metrics read).
    def _ert_ms() -> int:
        try:
            return total_executor_runtime_ms(spark)
        except Exception:  # noqa: BLE001 — metrics must never break timing
            return -1

    raw_ert: dict[str, list[int]] = {name: [] for name in names}
    errors: dict[str, str] = {}
    for i in range(runs):
        for name in names:
            if name in errors:
                continue
            try:
                e0 = _ert_ms()
                t0 = time.time()
                rows = registry[name].fn(spark, sf_dir).collect()
                dt = time.time() - t0
                e1 = _ert_ms()
                assert rows is not None
                raw[name].append(round(dt, 3))
                raw_ert[name].append(e1 - e0 if e0 >= 0 and e1 >= 0 else -1)
            except Exception as exc:  # noqa: BLE001 — isolation is the point
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                raw.pop(name, None)
                raw_ert.pop(name, None)
    timings = {n: min(r) for n, r in raw.items() if r}
    cold = {n: r[0] for n, r in raw.items() if r}
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_cold": cold,
        "value_cold": round(sum(cold.values()), 3),
        "queries_runs": raw,
        # additions-only (r12 verdict ask #6): per-query executorRunTime in
        # ms — min over runs (noise-robust plan-cost signal) + every raw run
        "queries_ert": {
            n: min((e for e in r if e >= 0), default=-1)
            for n, r in raw_ert.items()
            if r
        },
        "queries_ert_runs": raw_ert,
        "runs": runs,
        "sf": sf_val,
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))


if __name__ == "__main__":
    main()
