"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench/tests -q

The Spark test starts a small local session of its own.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import tracing  # noqa: E402


def _digests(d: str) -> dict:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_generator_is_deterministic(tmp_path, workload):
    gen.generate(workload, 11, str(tmp_path / "a"))
    gen.generate(workload, 11, str(tmp_path / "b"))
    gen.generate(workload, 12, str(tmp_path / "c"))
    a, b, c = (_digests(str(tmp_path / x)) for x in "abc")
    assert a == b
    changed = [n for n in a if a[n] != c[n]]
    assert changed, "a different seed must give different inputs"


def test_planted_near_duplicates():
    docs = gen.build_table("documents", 5).to_pydict()
    texts = docs["text"][: gen.DEDUP_RANGE]

    def shingles(t):
        w = t.split()
        return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}

    sets = [shingles(t) for t in texts]
    close = sum(
        1
        for i in range(len(sets))
        for j in range(i + 1, len(sets))
        if len(sets[i] & sets[j]) / len(sets[i] | sets[j]) >= 0.2
    )
    assert close >= gen.CLUSTERS * math.comb(gen.CLUSTER_SIZE, 2) * 0.9
    phrase = " ".join(gen.BOILERPLATE)
    assert sum(phrase in t for t in texts) >= gen.BOILERPLATE_DOCS


def test_calibration_flags_only_real_differences(tmp_path):
    import calibrate
    import pyarrow.parquet as pq

    got = tmp_path / "generated"
    gen.generate("search_text", 3, str(got))
    assert calibrate.compare(str(got), str(got), 0.05) == 0
    fixture = tmp_path / "fixture"
    fixture.mkdir()
    t = pq.read_table(got / "customer.parquet")
    pq.write_table(t.slice(0, t.num_rows // 2), fixture / "customer.parquet")
    assert calibrate.compare(str(fixture), str(got), 0.05) > 0


def test_self_time_subtracts_union_of_children():
    tr = tracing.Tracer()
    parent = tr.add("op", 0.0, 10.0, None)
    tr.add("build", 1.0, 4.0, parent.id)
    tr.add("collect", 3.0, 6.0, parent.id)   # overlaps build: union is [1, 6]
    tr.add("job", 9.0, 12.0, parent.id)      # clipped to the parent: [9, 10]
    kids = tr.children(parent.id)
    assert tracing.self_time(parent, kids) == pytest.approx(10.0 - 5.0 - 1.0)
    own = tracing.self_times(tr, parent)
    assert own == pytest.approx({"op": 4.0, "build": 3.0, "collect": 3.0, "job": 3.0})


def test_union_length_of_disjoint_and_nested_intervals():
    assert tracing.union_length([(0, 1), (2, 3), (2.5, 2.7)]) == pytest.approx(2.0)
    assert tracing.union_length([]) == 0.0
    assert tracing.union_length([(0, 5)], lo=1, hi=2) == pytest.approx(1.0)


@pytest.mark.parametrize("n,expected", [(20, 50), (21, 52), (36, 72), (100, 90), (1000, 99)])
def test_tail_percentile_examples(n, expected):
    assert tracing.tail_percentile(n) == expected


def test_tail_percentile_keeps_ten_samples_beyond():
    for n in range(20, 2000):
        p = tracing.tail_percentile(n)
        assert n - math.ceil(p / 100 * n) >= tracing.MIN_BEYOND
        if p < 99:
            assert n - math.ceil((p + 1) / 100 * n) < tracing.MIN_BEYOND
    assert tracing.tail_percentile(5) == 50


def test_attribute_jobs_by_group_then_by_time():
    jobs = [
        {"jobId": 1, "jobGroup": "op-a", "submissionTime": 100},
        {"jobId": 2, "jobGroup": "stream-run-id", "submissionTime": 150},
        {"jobId": 3, "jobGroup": None, "submissionTime": 250},
        {"jobId": 4, "jobGroup": "op-a", "submissionTime": 260},
    ]
    tagged, untagged = tracing.attribute_jobs(jobs, "op-a", 90, 200)
    assert [j["jobId"] for j in tagged] == [1, 4]
    assert [j["jobId"] for j in untagged] == [2]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    root = tmp_path_factory.mktemp("spark")
    s = (SparkSession.builder.master("local[2]").appName("perfbench-selftest")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.sql.warehouse.dir", str(root / "warehouse"))
         .config("spark.sql.streaming.checkpointLocation", str(root / "checkpoint"))
         .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_job_attribution_on_a_tiny_query_and_a_stream(spark, tmp_path):
    status = tracing.SparkStatus(spark)
    sc = spark.sparkContext
    src = str(tmp_path / "src")
    spark.range(100).selectExpr("id", "id % 3 AS k").write.parquet(src)
    status.drain()
    status.new_jobs()

    t0 = time.time() * 1000
    sc.setJobGroup("perfbench-test", "tiny query")
    df = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()
    assert len(df.collect()) == 7
    stream = (spark.readStream.schema("id BIGINT, k BIGINT").parquet(src)
              .groupBy("k").count()
              .writeStream.outputMode("complete").format("memory")
              .queryName("perfbench_selftest").trigger(availableNow=True).start())
    stream.awaitTermination()
    t1 = time.time() * 1000
    sc.setLocalProperty("spark.jobGroup.id", None)

    status.drain()
    jobs = status.new_jobs()
    tagged, untagged = tracing.attribute_jobs(jobs, "perfbench-test", t0, t1)
    assert tagged, "the collect's jobs carry the caller's job group"
    assert untagged, "the stream's micro-batch jobs run without the caller's group"
    assert all(j["jobGroup"] != "perfbench-test" for j in untagged)
    assert len(tagged) + len(untagged) == len(jobs)

    m = status.stage_metrics([s for j in tagged for s in j["stageIds"]])
    assert m["exec.stages"] >= 1 and m["exec.tasks"] >= 1 and m["exec.run_ms"] >= 0
    assert tracing.plan_counts(df)["plan.exchanges"] >= 1
    assert set(tracing.catalyst_phases(df)) == {
        "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms"}
    assert status.codegen_totals()[0] >= 1
    assert status.new_jobs() == []


def test_benchmark_json_declares_what_the_worker_prints():
    import json

    import worker

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == worker.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == worker.layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(gen.WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())
