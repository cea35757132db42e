"""Seeded input generator for the benchmark workloads.

Every table is synthesised from ``--seed`` alone with numpy's PCG64 stream, so
the same seed writes byte-identical parquet/CSV files. The schemas, row
counts and value distributions follow the engine's sf0.1 fixture (TPC-H-ish
tables plus ``events`` and ``documents``; ``calibrate.py`` compares them
column by column); the program under test only ever sees the generated files.

Usage:  python3 perfbench/gen.py --workload olap_scan --seed 7 --out DIR
"""

from __future__ import annotations

import argparse
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Row counts: the shape of the engine's sf0.1 fixture.
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
}
WORKLOAD_TABLES = {
    "olap_scan": ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"),
    "search_text": ("customer", "documents", "events"),
}
WORKLOADS = tuple(WORKLOAD_TABLES)

# Events also arrive as a CSV file for the ingest step of olap_scan.
EVENTS_CSV = "events_ingest.csv"
EVENTS_CSV_ROWS = 50_000

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
# Near-duplicate clusters and a boilerplate phrase are planted among the first
# DEDUP_RANGE documents, the slice the dedup queries read.
DEDUP_RANGE = 250
CLUSTERS = 25
CLUSTER_SIZE = 3
BOILERPLATE = "merge window stream join table spark".split()
BOILERPLATE_DOCS = 120

_EPOCH_US = {
    "1995-01-01": 788_918_400_000_000,
    "2024-01-01": 1_704_067_200_000_000,
}
_DAY_US = 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _str(values: np.ndarray) -> pa.Array:
    return pa.array(values.tolist(), type=pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return cents / 100.0


def region() -> pa.Table:
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": pa.array(names, type=pa.string()),
    })


def nation() -> pa.Table:
    return pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], type=pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    })


def customer(rng: np.random.Generator, n: int) -> pa.Table:
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    keys = np.arange(n)
    return pa.table({
        "c_custkey": pa.array(keys, type=pa.int64()),
        "c_name": _str(np.char.add("Customer#", np.char.zfill(keys.astype(str), 9))),
        "c_nationkey": pa.array(rng.integers(0, 25, n), type=pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": _str(segs[rng.integers(0, 5, n)]),
    })


def supplier(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n)
    return pa.table({
        "s_suppkey": pa.array(keys, type=pa.int64()),
        "s_name": _str(np.char.add("Supplier#", np.char.zfill(keys.astype(str), 9))),
        "s_nationkey": pa.array(rng.integers(0, 25, n), type=pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
    })


def part(rng: np.random.Generator, n: int) -> pa.Table:
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    keys = np.arange(n)
    brand = np.char.add("Brand#", (rng.integers(1, 26, n)).astype(str))
    return pa.table({
        "p_partkey": pa.array(keys, type=pa.int64()),
        "p_name": _str(np.char.add(np.char.add(adj[rng.integers(0, 8, n)], " "),
                                   noun[rng.integers(0, 8, n)])),
        "p_brand": _str(brand),
        "p_type": _str(types[rng.integers(0, 6, n)]),
        "p_size": pa.array(rng.integers(1, 51, n), type=pa.int32()),
        "p_retailprice": pa.array(900.0 + (keys % 1000) / 10.0),
    })


def orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    days = rng.integers(0, 2405, n)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), type=pa.int64()),
        "o_orderstatus": _str(status[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
        "o_orderdate": _ts(_EPOCH_US["1995-01-01"] + days * _DAY_US),
        "o_orderpriority": _str(prio[rng.integers(0, 5, n)]),
    })


def lineitem(rng: np.random.Generator, n: int, n_ord: int, n_part: int, n_supp: int) -> pa.Table:
    # Rows arrive in random order key order, like the fixture (the layout
    # cache clusters them on load).
    okey = rng.integers(0, n_ord, n)
    return pa.table({
        "l_orderkey": pa.array(okey, type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), type=pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _str(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": _str(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": _ts(_EPOCH_US["1995-01-01"] + rng.integers(1, 2500, n) * _DAY_US),
    })


def events(rng: np.random.Generator, n: int) -> pa.Table:
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + _EPOCH_US["2024-01-01"]
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
    return pa.table({
        "event_id": pa.array(np.arange(n), type=pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 1500, n), type=pa.int64()),
        "event_type": _str(kinds[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": _str(props),
    })


def _doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    words = [list(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    # Planted near-duplicate clusters: a long base document and copies of it
    # with one word substituted each, so member pairs have a 3-shingle
    # Jaccard of about 0.8 (well above the dedup threshold of 0.2).
    ids = rng.permutation(DEDUP_RANGE)
    members = ids[: CLUSTERS * CLUSTER_SIZE].reshape(CLUSTERS, CLUSTER_SIZE)
    for group in members:
        base = list(vocab[rng.integers(0, len(vocab), int(rng.integers(60, 101)))])
        for doc in group:
            copy = list(base)
            pos = int(rng.integers(0, len(copy)))
            copy[pos] = str(vocab[(VOCAB.index(copy[pos]) + 1) % len(vocab)])
            words[doc] = copy
    # One boilerplate phrase shared by many unrelated documents: a hot
    # shingle key whose posting list expands to ~BOILERPLATE_DOCS²/2 pairs,
    # none of which pass the Jaccard threshold.
    rest = ids[CLUSTERS * CLUSTER_SIZE:]
    for doc in rest[:BOILERPLATE_DOCS]:
        w = words[doc]
        pos = int(rng.integers(0, len(w) + 1))
        words[doc] = w[:pos] + BOILERPLATE + w[pos:]
    texts = [" ".join(w) for w in words]
    for doc in rng.choice(n, n // 20, replace=False):
        texts[doc] += " dup"
    # a few exact copies outside the dedup slice
    pairs = rng.choice(np.arange(DEDUP_RANGE, n), 16, replace=False).reshape(8, 2)
    for a, b in pairs:
        texts[b] = texts[a]
    return texts


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = _doc_texts(rng, n)
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    return pa.table({
        "doc_id": pa.array(np.arange(n), type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": _str(langs[rng.integers(0, len(langs), n)]),
        "source": _str(np.char.add("src", rng.integers(0, 20, n).astype(str))),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _seed_for(seed: int, table: str) -> np.random.Generator:
    # One independent stream per (seed, table): adding a table never shifts
    # another table's values.
    digest = hashlib.sha256(f"{seed}:{table}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def build_table(name: str, seed: int) -> pa.Table:
    rng = _seed_for(seed, name)
    n = ROWS.get(name, 0)
    if name == "region":
        return region()
    if name == "nation":
        return nation()
    if name == "customer":
        return customer(rng, n)
    if name == "supplier":
        return supplier(rng, n)
    if name == "part":
        return part(rng, n)
    if name == "orders":
        return orders(rng, n, ROWS["customer"])
    if name == "lineitem":
        return lineitem(rng, n, ROWS["orders"], ROWS["part"], ROWS["supplier"])
    if name == "events":
        return events(rng, n)
    if name == "documents":
        return documents(rng, n)
    raise ValueError(f"unknown table {name!r}")


def generate(workload: str, seed: int, out_dir: str) -> dict[str, int]:
    """Write the workload's tables under ``out_dir``; returns rows per file."""
    if workload not in WORKLOAD_TABLES:
        raise ValueError(f"unknown workload {workload!r}")
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name in WORKLOAD_TABLES[workload]:
        t = build_table(name, seed)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
        sizes[name] = t.num_rows
    if workload == "olap_scan":
        ev = events(_seed_for(seed, EVENTS_CSV), EVENTS_CSV_ROWS)
        ev = ev.set_column(1, "ts", ev.column("ts").cast(pa.string()))
        ev = ev.drop_columns(["props"])
        pacsv.write_csv(ev, os.path.join(out_dir, EVENTS_CSV),
                        pacsv.WriteOptions(include_header=True, quoting_style="none"))
        sizes[EVENTS_CSV] = ev.num_rows
    return sizes


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    for name, rows in generate(args.workload, args.seed, args.out).items():
        print(f"{name}: {rows} rows")


if __name__ == "__main__":
    main()
