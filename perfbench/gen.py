"""Seeded input generator for the lakehouse benchmark.

Usage: python3 perfbench/gen.py --workload NAME --seed N --seconds S --out DIR

Writes, for one workload and seed:

- ``DIR/tables/<name>.parquet``: the TPC-H-like star schema plus ``events``
  (adhoc_sql) or ``documents`` and ``embeddings`` (curation_batch), at the
  row counts and value ranges of the package's sf0.1 fixtures;
- ``DIR/batches/bNNNN.json``: JSON arrays of nested order documents
  (medallion_commits), with seeded schema drift and seeded bad batches;
- ``DIR/inputs.json``: the op sequence and what the checks expect.

It imports only numpy, pyarrow and the standard library, and runs in its own
process, so neither the package nor Spark sees anything but the files.
"""

from __future__ import annotations

import argparse
import json
import os
import random
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADHOC_QUERIES = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    "tpch_q12_shipmode",
    "tpch_q13_custdist",
    "tpch_q18_large_orders",
    "join_customer_orders",
    "agg_rollup",
    "window_dedup_latest",
    "scalar_json_extract",
    "topk_orders",
]
CURATION_QUERIES = [
    "dedup_exact_hash",
    "dedup_minhash_lsh",
    "dedup_jaccard_exact_pairs",
    "graph_connected_components_dupes",
    "quality_gopher_rules",
    "text_collocations_lift",
    "dsir_importance_weights",
    "embedding_neardup_blocked",
    # one query each through the ordered, relational and rollup operator
    # modules, which the headline queries do not call
    "user_longest_streak",
    "asof_join_purchase_view",
    "hypertable_rollup_tail",
]
# One bad batch sits at a seeded offset in every block of this many commits,
# and a bronze maintenance op follows each block; with five good commits
# in a block, the median and the tail of a round are good commits, and a
# window of one round holds five samples of them. The warm-up commits a
# good and then a bad batch, so both paths are warm when timing starts.
COMMIT_BLOCK = 6
WARMUP_BATCHES = 2
# Commit latency is flat from the reference's 6-document load to 20k
# documents (fixed per-job overhead; NOTES.md has the measured split); 500
# documents put about 50 drifting documents in every batch and keep
# generation well under a second.
DOCS_PER_BATCH = 500
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
CITIES = [
    ("Hyderabad", "Telangana", "500081"),
    ("Bangalore", "Karnataka", "560001"),
    ("Mumbai", "Maharashtra", "400001"),
    ("Chennai", "Tamil Nadu", "600001"),
    ("Delhi", "Delhi", "110001"),
    ("Pune", "Maharashtra", "411001"),
]
PRODUCTS = [
    ("P001", "Gaming Laptop", 1200.50),
    ("P002", "Monitor 27-inch", 300.00),
    ("P003", "Mechanical Keyboard", 45.00),
    ("P005", "Wireless Mouse", 25.00),
    ("P009", "Mouse Pad", 10.00),
    ("P010", "USB-C Hub", 15.99),
]


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int)) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> np.ndarray:
    return np.array(values)[rng.integers(0, len(values), n)]


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def gen_star_schema(rng, out: str) -> None:
    """sf0.1: 15k customers, 150k orders, 600k line items, 100k events."""
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    _write(out, "region", {
        "r_regionkey": i32(np.arange(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out, "nation", {
        "n_nationkey": i32(np.arange(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32(np.arange(25) % 5),
    })
    n = 15_000
    _write(out, "customer", {
        "c_custkey": np.arange(n),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": i32(rng.integers(0, 25, n)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n),
    })
    n = 1_000
    _write(out, "supplier", {
        "s_suppkey": np.arange(n),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": i32(rng.integers(0, 25, n)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = 20_000
    adj = ["blue", "large", "hot", "old", "cold", "small", "red", "new"]
    noun = ["anvil", "ring", "bolt", "plate", "widget", "gear", "nut", "pipe"]
    _write(out, "part", {
        "p_partkey": np.arange(n),
        "p_name": [f"{adj[i % 8]} {noun[(i // 8) % 8]}" for i in range(n)],
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n),
        "p_size": i32(rng.integers(1, 51, n)),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1),
    })
    n = 150_000
    _write(out, "orders", {
        "o_orderkey": np.arange(n),
        "o_custkey": rng.integers(0, 15_000, n),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000, 500_000, n),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n),
    })
    n = 600_000
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, 150_000, n),
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": i32(rng.integers(1, 8, n)),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
    })
    gen_events(rng, out)


def gen_events(rng, out: str) -> None:
    """sf0.1 events: 100k over 30 days, 1.5k users."""
    n = 100_000
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
    _write(out, "events", {
        "event_id": np.arange(n),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, 1_500, n),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup",
                                  "view"], n),
        "value": np.round(np.minimum(rng.exponential(50.0, n), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def gen_corpus(rng, out: str) -> None:
    """5k documents over a 30-word vocabulary with injected exact and near
    duplicates (a copy with one word replaced by "dup"), plus 2k unit
    embeddings."""
    n = 5_000
    pyrng = random.Random(int(rng.integers(1 << 62)))
    texts: list[str] = []
    for i in range(n):
        roll = pyrng.random()
        if i >= 50 and roll < 0.002:
            texts.append(texts[pyrng.randrange(i)])
        elif i >= 50 and roll < 0.05:
            src = pyrng.randrange(i)
            words = texts[src].split(" ")
            words[pyrng.randrange(len(words))] = "dup"
            texts.append(" ".join(words))
        else:
            k = pyrng.randint(10, 100)
            texts.append(" ".join(pyrng.choice(WORDS) for _ in range(k)))
    _write(out, "documents", {
        "doc_id": np.arange(n),
        "text": texts,
        # the fixture's language shares (DSIR targets "en") and 20 equal sources
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], n,
                           p=[0.14, 0.412, 0.149, 0.148, 0.151]),
        "source": np.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts]),
    })
    n, dim = 2_000, 64
    vec = rng.standard_normal((n, dim)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim), pa.int32())
    _write(out, "embeddings", {
        "vec_id": np.arange(n),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(vec.ravel())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def _order_doc(pyrng, batch: int, i: int, drift: float) -> dict:
    items = []
    for _ in range(pyrng.randint(1, 3)):
        pid, name, price = pyrng.choice(PRODUCTS)
        items.append({"product_id": pid, "product_name": name,
                      "quantity": pyrng.randint(1, 5), "unit_price": price})
    city, state, zipc = pyrng.choice(CITIES)
    day = datetime(2024, 1, 1) + timedelta(minutes=pyrng.randrange(60 * 24 * 90))
    doc = {
        "order_id": f"ORD-{batch:04d}-{i:05d}",
        "customer_id": f"CUST-{pyrng.randrange(5000)}",
        "order_date": day.isoformat(),
        "status": pyrng.choice(["DELIVERED", "PROCESSING", "SHIPPED", "CANCELLED"]),
        "items": items,
        "total_amount": round(sum(x["quantity"] * x["unit_price"] for x in items), 2),
        "shipping_address": {"city": city, "state": state, "zip": zipc},
    }
    if pyrng.random() < drift:
        doc["shipping_address"]["landmark"] = f"near {pyrng.choice(WORDS)}"
        doc["discount"] = pyrng.randint(1, 50)
    return doc


def gen_batches(pyrng, out: str, n_batches: int) -> list[dict]:
    """JSON order batches. Batches 0 (good) and 1 (bad) are the warm-up;
    after them, each block of COMMIT_BLOCK batches holds one bad batch at a
    seeded offset.
    A bad batch breaks one audit rule, so each rule must reject on its own:
    bad batches alternate between negated amounts (the warm-up's) and
    repeated order ids, one to five documents of them, seeded."""
    drift = pyrng.uniform(0.08, 0.12)
    bad_at = {1}
    for start in range(WARMUP_BATCHES, n_batches, COMMIT_BLOCK):
        bad_at.add(start + pyrng.randrange(COMMIT_BLOCK))
    batches = []
    for b in range(n_batches):
        docs = [_order_doc(pyrng, b, i, drift) for i in range(DOCS_PER_BATCH)]
        bad = b in bad_at
        if bad:
            negate = sum(x < b for x in bad_at) % 2 == 0
            for d in pyrng.sample(docs[1:], pyrng.randint(1, 5)):
                if negate:
                    d["total_amount"] = -d["total_amount"]
                else:
                    d["order_id"] = docs[0]["order_id"]
        path = os.path.join(out, f"b{b:04d}.json")
        with open(path, "w") as f:
            json.dump(docs, f)
        gold: dict[str, list] = {}
        for d in docs:
            g = gold.setdefault(d["shipping_address"]["city"], [0.0, 0])
            g[0] += d["total_amount"]
            g[1] += 1
        batches.append({"path": path, "bad": bad, "n_docs": len(docs),
                        "bytes": os.path.getsize(path), "gold": gold})
    return batches


def query_sequence(pyrng, names: list[str], n_ops: int) -> list[str]:
    """Rounds that each run every query once in a fresh seeded order, so
    every round has the same mix."""
    seq: list[str] = []
    while len(seq) < n_ops:
        rnd = list(names)
        pyrng.shuffle(rnd)
        seq += rnd
    return seq


def generate(workload: str, seed: int, seconds: int, out: str) -> dict:
    rng = np.random.Generator(np.random.PCG64(seed))
    pyrng = random.Random(seed)
    tables = os.path.join(out, "tables")
    inputs: dict = {"workload": workload, "seed": seed, "tables": tables}
    if workload == "medallion_commits":
        bdir = os.path.join(out, "batches")
        os.makedirs(bdir)
        # room for commits 16x faster than the package's ~4 s at the time
        # the benchmark was written
        inputs["batches"] = gen_batches(pyrng, bdir, 8 + 4 * seconds)
        inputs["commit_block"] = COMMIT_BLOCK
        inputs["warmup_batches"] = WARMUP_BATCHES
        return inputs
    os.makedirs(tables)
    if workload == "adhoc_sql":
        gen_star_schema(rng, tables)
        inputs["sequence"] = query_sequence(pyrng, ADHOC_QUERIES, 50 * seconds)
        inputs["round"] = len(ADHOC_QUERIES)
    elif workload == "curation_batch":
        gen_corpus(rng, tables)
        gen_events(rng, tables)
        inputs["sequence"] = query_sequence(pyrng, CURATION_QUERIES, 20 * seconds)
        inputs["round"] = len(CURATION_QUERIES)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return inputs


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    inputs = generate(a.workload, a.seed, a.seconds, a.out)
    with open(os.path.join(a.out, "inputs.json"), "w") as f:
        json.dump(inputs, f)


if __name__ == "__main__":
    main()
