"""The MySQL SQL-text surface is registered on first use, not by get_spark.

A session pays for the surface only once something names one of its
functions; engine entry points (registry queries, Engine.sql) provision it
on a miss and retry exactly once. Also pins that an application started
outside the repository, with no PYTHONPATH, can run the engine's Python UDFs."""

from __future__ import annotations

import os
import re
import subprocess
import sys
import textwrap

import pytest
from pyspark.errors import AnalysisException

from matrixone_spark.engine import Engine
from matrixone_spark.session import (
    SQL_SURFACE_TAG,
    ensure_sql_surface,
    with_sql_surface,
)
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_surface_free_query_leaves_surface_unregistered(spark, registry):
    raw = spark.newSession()
    assert registry["tpch_q6"].fn(raw, SF_DIR).collect()
    assert raw.conf.get(SQL_SURFACE_TAG, None) is None


def test_engine_sql_provisions_surface_on_raw_session(spark):
    raw = spark.newSession()
    assert raw.conf.get(SQL_SURFACE_TAG, None) is None
    assert Engine(raw).sql("SELECT mo_conv('a', 16, 10) AS v").collect()[0].v == "10"
    assert raw.conf.get(SQL_SURFACE_TAG, None) == "1"


def test_unknown_function_raises_after_one_retry(spark):
    raw = spark.newSession()
    calls = []

    def build():
        calls.append(1)
        return raw.sql("SELECT mo_no_such_function(1)")

    with pytest.raises(AnalysisException) as exc:
        with_sql_surface(raw, build)
    assert exc.value.getCondition() == "UNRESOLVED_ROUTINE"
    assert len(calls) == 2
    # the surface is now registered, so a further miss is not retried
    calls.clear()
    with pytest.raises(AnalysisException):
        with_sql_surface(raw, build)
    assert len(calls) == 1


class _RecordingSession:
    """Stands in for a SparkSession and records every name
    ensure_sql_surface would register."""

    def __init__(self):
        self.names: "list[str]" = []
        self.conf = self
        self.udf = self

    def get(self, key, default=None):
        return default

    def set(self, key, value):
        pass

    def register(self, name, fn):
        self.names.append(name)

    def sql(self, ddl):
        m = re.match(r"\s*CREATE\s+(?:OR\s+REPLACE\s+)?TEMPORARY\s+FUNCTION\s+(\w+)",
                     ddl, re.IGNORECASE)
        assert m, ddl
        self.names.append(m.group(1))


def test_surface_names_do_not_shadow_builtins(spark):
    """A surface name that Spark already resolves never triggers the
    on-miss registration, so it would silently get Spark's semantics."""
    rec = _RecordingSession()
    ensure_sql_surface(rec)
    assert len(rec.names) > 200
    raw = spark.newSession()
    assert [n for n in rec.names if raw.catalog.functionExists(n)] == []


def test_mysql_sql_geo_name_shared_with_builtin_on_raw_session(spark):
    raw = spark.newSession()
    df = Engine(raw).mysql_sql(
        "SELECT st_srid(g) AS v FROM (SELECT 'SRID=4326;POINT(1 2)' AS g) t"
    )
    assert df.collect()[0].v == 4326


_UDF_FROM_ELSEWHERE = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})
    from pyspark.sql import functions as F
    from matrixone_spark.functions.mysql import _conv_udf
    from matrixone_spark.session import get_spark

    spark = get_spark("wd-check", "local[1]")
    spark.sparkContext.setLogLevel("ERROR")
    print("WORKER_PATH", spark.sparkContext.environment["PYTHONPATH"])
    df = spark.range(3)
    rows = df.select(_conv_udf(df.id.cast("string"), F.lit(10), F.lit(16)).alias("v")).collect()
    print("RESULT", sorted(r.v for r in rows))
    spark.stop()
    """
)


def test_python_udf_runs_from_outside_the_repo(tmp_path):
    """The launching process finds the package through its own sys.path;
    the session must give the Python workers the same path, ahead of (not
    instead of) an executor path the deployment configures."""
    shipped = str(tmp_path / "deps.zip")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.executorEnv.PYTHONPATH={shipped} pyspark-shell"
    )
    proc = subprocess.run(
        [sys.executable, "-c", _UDF_FROM_ELSEWHERE.format(repo=REPO)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert "RESULT ['0', '1', '2']" in proc.stdout, proc.stderr[-2000:]
    assert f"WORKER_PATH {REPO}{os.pathsep}{shipped}\n" in proc.stdout
