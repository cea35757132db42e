"""Compare the generated inputs with a fixture directory, column by column.

    python3 perfbench/calibrate.py --fixture DIR [--seed N]

``DIR`` holds the engine's parquet fixture tables (``lineitem.parquet`` and
so on). The script generates every workload's inputs for the seed into a
temporary directory under ``.perfbench/`` and prints, for each table and
column both sides have, the statistics the workloads' operations depend on:
row count, distinct values, min, max and mean (string columns: mean
length), plus the shapes that drive joins and text operators (lines per
order, orders per customer, words per document, vocabulary, events per
user). Rows whose generated value differs from the fixture's by more than
``--tolerance`` (relative) are marked ``<<``. The benchmark itself never
reads the fixture.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402


def _counts(col: pa.ChunkedArray) -> np.ndarray:
    return np.asarray(pc.value_counts(col).field("counts"))


def column_stats(t: pa.Table) -> dict[str, float]:
    out: dict[str, float] = {"rows": t.num_rows}
    for name in t.column_names:
        col = t.column(name)
        if pa.types.is_list(col.type):
            continue
        out[f"{name}.distinct"] = pc.count_distinct(col).as_py()
        if pa.types.is_string(col.type):
            col = pc.utf8_length(col)
            prefix = f"{name}.len"
        else:
            prefix = name
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.int64())
            scale = 1 / 86_400_000_000  # days
        else:
            scale = 1.0
        mm = pc.min_max(col).as_py()
        out[f"{prefix}.min"] = mm["min"] * scale
        out[f"{prefix}.max"] = mm["max"] * scale
        out[f"{prefix}.mean"] = pc.mean(col).as_py() * scale
    return out


def shape_stats(tables: dict[str, pa.Table]) -> dict[str, float]:
    """Distributions across columns and tables that set operator work."""
    out: dict[str, float] = {}

    def dist(label: str, values: np.ndarray) -> None:
        for q in (0.5, 0.99):
            out[f"{label}.p{int(q * 100)}"] = float(np.quantile(values, q))
        out[f"{label}.max"] = float(values.max())

    if "lineitem" in tables:
        dist("lines_per_order", _counts(tables["lineitem"].column("l_orderkey")))
        li = tables["lineitem"]
        ship = li.column("l_shipdate").cast(pa.int64()).to_numpy()
        out["l_shipdate.share_before_1998-09-02"] = float(np.mean(ship < 904_694_400_000_000))
    if "orders" in tables:
        dist("orders_per_customer", _counts(tables["orders"].column("o_custkey")))
    if "events" in tables:
        dist("events_per_user", _counts(tables["events"].column("user_id")))
    if "documents" in tables:
        words = [t.split() for t in tables["documents"].column("text").to_pylist()]
        dist("words_per_doc", np.array([len(w) for w in words]))
        freq = _counts(pa.chunked_array([pa.array([x for w in words for x in w])]))
        out["vocabulary"] = len(freq)
        out["top_word_share"] = float(freq.max() / freq.sum())
        texts = tables["documents"].column("text").to_pylist()
        out["exact_duplicate_texts"] = len(texts) - len(set(texts))
    return out


def compare(fixture: str, generated: str, tolerance: float) -> int:
    flagged = 0
    names = sorted(f[:-8] for f in os.listdir(generated) if f.endswith(".parquet"))
    both = [n for n in names if os.path.exists(os.path.join(fixture, f"{n}.parquet"))]
    tables = {side: {n: pq.read_table(os.path.join(d, f"{n}.parquet")) for n in both}
              for side, d in (("fixture", fixture), ("generated", generated))}
    sections = [(n, column_stats(tables["fixture"][n]), column_stats(tables["generated"][n]))
                for n in both]
    sections.append(("shapes", shape_stats(tables["fixture"]), shape_stats(tables["generated"])))
    for title, fix, got in sections:
        print(f"\n{title}")
        print(f"  {'statistic':40s} {'fixture':>14s} {'generated':>14s}")
        for key in fix:
            a, b = fix[key], got.get(key)
            if b is None:
                print(f"  {key:40s} {a:14.6g} {'missing':>14s} <<")
                flagged += 1
                continue
            off = abs(b - a) / max(abs(a), 1e-9) > tolerance and abs(b - a) > 1e-9
            flagged += off
            print(f"  {key:40s} {a:14.6g} {b:14.6g}{' <<' if off else ''}")
        for key in got.keys() - fix.keys():
            print(f"  {key:40s} {'missing':>14s} {got[key]:14.6g} <<")
            flagged += 1
    return flagged


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--fixture", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--tolerance", type=float, default=0.05)
    args = ap.parse_args()
    out = os.path.join(os.path.dirname(HERE), ".perfbench", f"calibrate-{os.getpid()}")
    try:
        for workload in gen.WORKLOADS:
            gen.generate(workload, args.seed, out)
        flagged = compare(args.fixture, out, args.tolerance)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    print(f"\n{flagged} statistics differ by more than {args.tolerance:.0%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
