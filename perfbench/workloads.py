"""The benchmark's operations and their result checks.

An operation is a ``build`` step that returns a DataFrame (for registry rows:
the registered callable, i.e. Python plan construction plus any eager jobs
it runs) and a ``run`` step that executes it (``DataFrame.collect`` unless the
operation writes files). Checks run after the timed passes, on the results
the passes kept.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any, Callable

import gen

# Execution-bound: TPC-H scans, joins and aggregates, plus CSV ingest and
# local-disk writes read back; no Python operators.
OLAP_OPS = ("tpch_q1", "tpch_q3", "tpch_q6", "tpch_q9", "tpch_q18", "agg_basic",
            "ingest_load_data", "export_result")
# Latency-bound: Python plan construction, pandas UDFs, index caches, pair
# expansion, and a streaming drain whose micro-batch jobs carry no job group.
SEARCH_OPS = ("fulltext_natural_bm25", "dedup_ngram_jaccard", "dedup_minhash_lsh",
              "geo_s2_join_bench", "stream_tumbling_counts")
WORKLOAD_OPS = {"olap_scan": OLAP_OPS, "search_text": SEARCH_OPS}

EVENTS_CSV_SCHEMA = ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
                     "value DOUBLE")

MINHASH_MIN_RECALL = 0.8


@dataclass
class Context:
    """What an operation may touch: the session, the generated inputs, the
    run's private output directory, and state shared by one pass's steps."""

    spark: Any
    data_dir: str
    out_dir: str
    pass_no: int = 0
    state: dict = field(default_factory=dict)


@dataclass(frozen=True)
class Op:
    name: str
    build: Callable[[Context], Any]
    run: Callable[[Any, Context], list]


def _collect(df, ctx: Context) -> list:
    return df.collect()


def registry_op(name: str) -> Op:
    from matrixone_spark.queries import load_all

    fn = load_all()[name].fn
    return Op(name, lambda ctx: fn(ctx.spark, ctx.data_dir), _collect)


def _ingest_build(ctx: Context):
    from matrixone_spark.sources.external import load_data

    df = load_data(ctx.spark, os.path.join(ctx.data_dir, gen.EVENTS_CSV),
                   schema=EVENTS_CSV_SCHEMA, header=True)
    ctx.state["events"] = df
    return df.selectExpr("count(1) AS n_rows",
                         "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS value_sum",
                         "sum(event_id) AS id_sum")


def _export_build(ctx: Context):
    from pyspark.sql import functions as F

    return ctx.state["events"].groupBy("event_type").agg(
        F.expr("count(1) AS n"),
        F.expr("CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS value_sum"),
    )


def _export_run(df, ctx: Context) -> list:
    from matrixone_spark.results import ResultStore
    from matrixone_spark.sources.external import write_outfile

    outfile = os.path.join(ctx.out_dir, "outfile", f"pass-{ctx.pass_no}")
    write_outfile(df, outfile, fmt="csv")
    store = ResultStore(ctx.spark, os.path.join(ctx.out_dir, "results"))
    qid = store.save(df)
    back = store.result_scan(qid).collect()
    csv_back = ctx.spark.read.csv(outfile, header=True,
                                  schema="event_type STRING, n BIGINT, value_sum DECIMAL(18,2)")
    return [("result_scan", *sorted(tuple(r) for r in back)),
            ("outfile", *sorted(tuple(r) for r in csv_back.collect()))]


def workload_ops(workload: str) -> list[Op]:
    custom = {
        "ingest_load_data": Op("ingest_load_data", _ingest_build, _collect),
        "export_result": Op("export_result", _export_build, _export_run),
    }
    return [custom.get(n) or registry_op(n) for n in WORKLOAD_OPS[workload]]


# --- result identity -------------------------------------------------------

def _norm(v):
    if isinstance(v, float):
        return repr(v + 0.0)
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, (list, tuple)):  # also pyspark Rows
        return tuple(_norm(x) for x in v)
    return repr(v)


def result_digest(rows: list) -> str:
    """Order-insensitive digest of a collected result."""
    canon = sorted(repr(_norm(tuple(r))) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


# --- checks ----------------------------------------------------------------

def _oracle_problems(name: str, rows: list, columns: list, data_dir: str) -> list[str]:
    import pandas as pd
    from matrixone_spark.oracle import compare_frames, run_oracle
    from matrixone_spark.queries import load_all

    got = pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)
    return compare_frames(got, run_oracle(load_all()[name].oracle, data_dir))


def _pairs(rows: list) -> set:
    return {(r["id_a"], r["id_b"]) for r in rows}


def _ingest_expected(data_dir: str) -> tuple:
    import pyarrow.csv as pacsv

    t = pacsv.read_csv(os.path.join(data_dir, gen.EVENTS_CSV))
    cents = sum(round(v * 100) for v in t.column("value").to_pylist())
    return t.num_rows, Decimal(cents).scaleb(-2), sum(t.column("event_id").to_pylist())


def _export_expected(data_dir: str) -> list:
    import pyarrow.csv as pacsv

    t = pacsv.read_csv(os.path.join(data_dir, gen.EVENTS_CSV))
    acc: dict[str, list] = {}
    for kind, v in zip(t.column("event_type").to_pylist(), t.column("value").to_pylist()):
        n_cents = acc.setdefault(kind, [0, 0])
        n_cents[0] += 1
        n_cents[1] += round(v * 100)
    return sorted((k, n, Decimal(c).scaleb(-2)) for k, (n, c) in acc.items())


def check_results(results: dict, columns: dict, data_dir: str) -> dict[str, list[str]]:
    """Problems per operation (empty list = pass) for the first result of each
    operation. ``results`` maps an operation to its collected rows."""
    from matrixone_spark.queries import load_all

    registry = load_all()
    problems: dict[str, list[str]] = {}
    for name, rows in results.items():
        probs: list[str] = []
        try:
            if name in registry and registry[name].oracle is not None:
                probs = _oracle_problems(name, rows, columns[name], data_dir)
            elif name == "dedup_minhash_lsh":
                exact = _pairs(results["dedup_ngram_jaccard"])
                got = _pairs(rows)
                extra = got - exact
                recall = len(got & exact) / len(exact) if exact else 0.0
                if extra:
                    probs.append(f"{len(extra)} minhash pairs not in the exact ngram pairs")
                if recall < MINHASH_MIN_RECALL:
                    probs.append(f"minhash recall {recall:.2f} < {MINHASH_MIN_RECALL}")
            elif name == "ingest_load_data":
                r = rows[0]
                got = (r["n_rows"], r["value_sum"], r["id_sum"])
                want = _ingest_expected(data_dir)
                if got != want:
                    probs.append(f"ingest read back {got}, file holds {want}")
            elif name == "export_result":
                scanned, outfile = rows
                want = _export_expected(data_dir)
                for label, *got in (scanned, outfile):
                    if got != want:
                        probs.append(f"{label} read back {list(got)[:3]}..., wrote {want[:3]}...")
            if name in ("dedup_ngram_jaccard", "dedup_minhash_lsh") and not rows:
                probs.append("dedup returned no rows on a corpus with planted near-duplicates")
        except Exception as exc:  # noqa: BLE001 - a check that crashes is a failed check
            probs.append(f"check raised {type(exc).__name__}: {exc}")
        problems[name] = probs
    return problems
