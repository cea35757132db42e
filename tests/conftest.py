"""Shared pytest fixtures: one tuned SparkSession per test session, plus the
DuckDB-oracle comparison helper mirroring the driver's t2 gate (stricter:
bit-exact values)."""

from __future__ import annotations

import os

import pytest

from matrixone_spark.oracle import compare_frames, run_oracle
from matrixone_spark.queries import load_all
from matrixone_spark.session import ensure_sql_surface, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("mospark-tests")
    # several suites run spark.sql(translate(...)) on this session directly,
    # outside the engine entry points that provision the surface themselves
    ensure_sql_surface(s)
    yield s


@pytest.fixture(scope="session")
def registry():
    return load_all()


def assert_matches_oracle(spark, query, sf_dir: str = SF_DIR):
    """Run a registry Query on Spark and DuckDB; assert canonical equality."""
    got = query.fn(spark, sf_dir).toPandas()
    assert query.oracle is not None, f"{query.name} has no oracle (rows-only)"
    exp = run_oracle(query.oracle, sf_dir)
    problems = compare_frames(got, exp)
    assert not problems, f"{query.name} mismatch:\n" + "\n".join(problems)
