"""The three closed-loop workloads and their output checks.

Each workload runs op ``i`` of its seeded sequence through the package's
public API, and checks outputs against an independent source of truth:
a DuckDB oracle (via the repo's ``tests/compare.py``), an exact recomputation
in Python, or the totals the generator wrote down.

- ``adhoc_sql``: the analyst path over lake tables. Relational and TPC-H
  registry queries, written through the noop sink. Reads only, JVM only, no
  construction-time jobs: the control for write-path and curation changes.
- ``curation_batch``: the LLM-curation headline queries (dedup, MinHash,
  components, quality, collocations, DSIR, embedding near-dups). Most of the
  package's code, Python and Arrow UDFs, construction-time jobs, iterative
  loops.
- ``medallion_commits``: the reference's own pipeline, one op per JSON order
  batch: bronze ingest and snapshot, silver transform, write-audit-publish,
  gold snapshot, read of the latest gold. Bad batches must be rejected, and
  a maintenance op (bronze compaction and expiry) follows every block of
  commits.
"""

from __future__ import annotations

import os


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, fn))
        for root, _dirs, files in os.walk(path)
        for fn in files
    )


def manifest_files(store: str) -> int:
    """Manifest parquet files across the snapshot store's tables."""
    return sum(
        fn.endswith(".parquet")
        for root, _dirs, files in os.walk(store)
        if os.path.basename(root) == "_manifests"
        for fn in files
    )


class QueryWorkload:
    """A seeded sequence over registry queries."""

    def __init__(self, spark, inputs: dict, tracer, registry: dict) -> None:
        self.spark = spark
        self.registry = registry
        self.tables = inputs["tables"]
        self.sequence = inputs["sequence"]
        self.round = inputs["round"]
        self.tracer = tracer
        self.results: dict[str, tuple[list, list]] = {}

    def kind(self, i: int) -> str:
        return self.sequence[i]

    def n_ops(self) -> int:
        return len(self.sequence)

    def warm_up(self) -> None:
        """One untimed pass over the distinct queries, which also collects
        each result for the check."""
        from bench import _drop_checkpoint_blocks
        from tests.compare import _collect_tuples

        for name in sorted(set(self.sequence[: self.round])):
            df = self.registry[name].fn(self.spark, self.tables)
            self.results[name] = (df.columns, _collect_tuples(df))
            _drop_checkpoint_blocks(self.spark)

    def op(self, i: int) -> None:
        t = self.tracer
        with t.span("queries.construct", jobs=True):
            df = self.registry[self.sequence[i]].fn(self.spark, self.tables)
        with t.span("spark.action", jobs=True):
            df.write.mode("overwrite").format("noop").save()

    def op_ok(self, i: int) -> bool:
        return True

    def check(self) -> dict[str, str]:
        """Compare each distinct query's warm-up rows with its oracle;
        returns {query: reason} for every mismatch."""
        import duckdb

        from tests.compare import compare_rows_duckdb

        con = duckdb.connect()
        for fn in sorted(os.listdir(self.tables)):
            con.execute(
                f"CREATE VIEW {fn[:-len('.parquet')]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(self.tables, fn)}')"
            )
        bad = check_pair_queries(
            self.results, os.path.join(self.tables, "documents.parquet"))
        for name, (cols, rows) in self.results.items():
            if name in PAIR_CHECKS:
                continue
            ok, why = compare_rows_duckdb(cols, rows, con, self.registry[name].oracle)
            if not ok:
                bad[name] = why
        con.close()
        return bad

    def failed_ops(self, bad: dict[str, str], n: int) -> set[int]:
        return {i for i in range(n) if self.sequence[i] in bad}


# Registry queries whose output is checked by exact recomputation instead
# of their SQL oracle: (word n-gram size, Jaccard threshold, least recall).
# dedup_minhash_lsh has no oracle; dedup_jaccard_exact_pairs' oracle is an
# all-pairs self-join that takes minutes at sf0.1. Recall is measured
# against the near-duplicate pairs: every pair whose word-3-gram Jaccard is
# NEAR_DUP or more, computed exactly, narrowed to those whose Jaccard on the
# query's own n-grams is also NEAR_DUP or more. The exact join promises
# every pair and its threshold is NEAR_DUP, so its output must be exactly
# that set; LSH at 16 bands x 4 rows finds a 0.8 pair with probability
# 0.9998.
PAIR_CHECKS = {
    "dedup_minhash_lsh": (2, 0.2, 0.95),
    "dedup_jaccard_exact_pairs": (3, 0.8, 1.0),
}
NEAR_DUP = 0.8


def shingle_sets(docs_path: str, n: int) -> dict[int, frozenset]:
    """Distinct word n-grams of each document, tokenized as the package
    does (lower case, split on whitespace)."""
    import pyarrow.parquet as pq

    t = pq.read_table(docs_path, columns=["doc_id", "text"]).to_pydict()
    out = {}
    for i, text in zip(t["doc_id"], t["text"]):
        w = text.lower().split()
        out[i] = frozenset(tuple(w[k:k + n]) for k in range(len(w) - n + 1))
    return out


def jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter) if a or b else 0.0


def similar_pairs(sets: dict[int, frozenset], t: float) -> set[tuple[int, int]]:
    """Every pair (a < b) with Jaccard >= ``t``, exactly, by prefix
    filtering: such a pair shares at least ceil(t * |A|) shingles, so with
    shingles in one global rarest-first order, the first
    |A| - ceil(t * |A|) + 1 shingles of A and of B have one in common. Only
    pairs that share a prefix shingle are verified."""
    import math
    from collections import Counter, defaultdict

    freq = Counter(s for x in sets.values() for s in x)
    index: dict = defaultdict(list)
    cand = set()
    for i, x in sets.items():
        toks = sorted(x, key=lambda s: (freq[s], s))
        for s in toks[: len(toks) - math.ceil(t * len(toks) - 1e-9) + 1]:
            cand.update((min(i, j), max(i, j)) for j in index[s])
            index[s].append(i)
    return {(a, b) for a, b in cand if jaccard(sets[a], sets[b]) >= t}


def check_pairs(
    cols: list[str], rows: list[tuple], sets: dict[int, frozenset],
    threshold: float, want: set[tuple[int, int]], min_recall: float,
) -> tuple[bool, str]:
    """Near-duplicate pairs against an exact recomputation on ``sets``:
    every pair is ordered, unique, and carries its true Jaccard at or above
    ``threshold`` (precision), and at least ``min_recall`` of the pairs in
    ``want`` are found (recall)."""
    if sorted(cols) != ["id_a", "id_b", "jaccard"]:
        return False, f"columns {cols}"
    ix = {c: k for k, c in enumerate(cols)}
    seen = set()
    for r in rows:
        a, b, jac = r[ix["id_a"]], r[ix["id_b"]], r[ix["jaccard"]]
        if not a < b or (a, b) in seen:
            return False, f"pair ({a}, {b}) out of order or repeated"
        seen.add((a, b))
        true = jaccard(sets[a], sets[b])
        if abs(true - jac) > 1e-9 or true < threshold:
            return False, f"pair ({a}, {b}) jaccard {jac} vs exact {true}"
    found = len(want & seen)
    if found < min_recall * len(want):
        missed = sorted(want - seen)[:5]
        return False, f"recall {found}/{len(want)}; missed e.g. {missed}"
    return True, "ok"


def check_pair_queries(results: dict, docs_path: str) -> dict[str, str]:
    """check_pairs for each PAIR_CHECKS query in ``results``."""
    names = [q for q in PAIR_CHECKS if q in results]
    if not names:
        return {}
    sizes = {3} | {PAIR_CHECKS[q][0] for q in names}
    sets_by_n = {n: shingle_sets(docs_path, n) for n in sizes}
    near = similar_pairs(sets_by_n[3], NEAR_DUP)
    bad = {}
    for name in names:
        n, threshold, min_recall = PAIR_CHECKS[name]
        sets = sets_by_n[n]
        want = {p for p in near if jaccard(sets[p[0]], sets[p[1]]) >= NEAR_DUP}
        ok, why = check_pairs(*results[name], sets, threshold, want, min_recall)
        if not ok:
            bad[name] = why
    return bad


def commit_ok(entry: dict, batch: dict) -> bool:
    """A bad batch was rejected; a good one was published and its gold
    report equals the generator's revenue and order count per city."""
    if batch["bad"]:
        return entry.get("published") is False
    if not entry.get("published"):
        return False
    got = {r[0]: (r[1], r[2], r[3]) for r in entry["gold"]}
    if len(got) != len(entry["gold"]) or set(got) != set(batch["gold"]):
        return False
    for city, (revenue, count) in batch["gold"].items():
        country, rev, n = got[city]
        if (country != "INDIA" or n != count
                or abs(rev - revenue) > 1e-6 * max(1.0, abs(revenue))):
            return False
    return True


class MedallionWorkload:
    """One op per JSON order batch, after the warm-up batches."""

    def __init__(self, spark, inputs: dict, tracer, store: str) -> None:
        from pyspark.sql import functions as F

        from mongo_iceberg_lakehouse_spark.operators.quality import (
            Check,
            not_null_rate,
            predicate_rate,
            unique_rate,
        )

        self.spark = spark
        self.batches = inputs["batches"]
        self.block = inputs["commit_block"]
        self.round = self.block + 1  # a block of commits, then maintenance
        self.first = inputs["warmup_batches"]
        self.tracer = tracer
        self.store = store
        self.checks = [
            Check("order_id_present", not_null_rate("order_id"), 1.0),
            Check("order_id_unique", unique_rate("order_id"), 1.0),
            Check("amount_positive", predicate_rate(F.col("total_amount") > 0), 1.0),
        ]
        self.log: dict[int, dict] = {}
        self.compacted: list[dict] = []

    def batch(self, i: int) -> int | None:
        """The batch op ``i`` commits, or None for a maintenance op."""
        blk, pos = divmod(i, self.round)
        return None if pos == self.block else self.first + blk * self.block + pos

    def kind(self, i: int) -> str:
        b = self.batch(i)
        if b is None:
            return "maintenance"
        return "bad" if self.batches[b]["bad"] else "good"

    def n_ops(self) -> int:
        return (len(self.batches) - self.first) // self.block * self.round

    def warm_up(self) -> None:
        for b in range(self.first):
            self.commit(b)
        self.maintain()

    def op(self, i: int) -> None:
        b = self.batch(i)
        if b is None:
            self.maintain()
        else:
            self.commit(b)

    def op_ok(self, i: int) -> bool:
        b = self.batch(i)
        return b is None or commit_ok(self.log[b], self.batches[b])

    def commit(self, b: int) -> None:
        from mongo_iceberg_lakehouse_spark.plans.medallion import (
            bronze_ingest,
            gold_city_sales_report,
            silver_transform,
        )
        from mongo_iceberg_lakehouse_spark.plans.wap import wap_publish
        from mongo_iceberg_lakehouse_spark.sources.snapshots import (
            read_snapshot,
            write_snapshot,
        )

        t, spark, store = self.tracer, self.spark, self.store
        entry = self.log[b] = {}
        with t.span("medallion.bronze", jobs=True):
            bronze = bronze_ingest(spark, self.batches[b]["path"])
        with t.span("snapshots.write", jobs=True):
            entry["bronze_version"] = write_snapshot(bronze, store, "orders_bronze")
        with t.span("medallion.silver", jobs=True):
            silver = silver_transform(bronze)
        with t.span("wap.publish", jobs=True):
            ok, version, _ = wap_publish(silver, store, "orders_silver", self.checks)
        entry["published"] = ok
        entry["versions"] = [("orders_bronze", entry["bronze_version"])]
        if ok:
            entry["versions"].append(("orders_silver", version))
            with t.span("snapshots.read", jobs=True):
                published = read_snapshot(spark, store, "orders_silver", version)
            with t.span("medallion.gold", jobs=True):
                gold = gold_city_sales_report(published)
            with t.span("snapshots.write", jobs=True):
                entry["versions"].append(("city_sales_gold", write_snapshot(
                    gold, store, "city_sales_gold")))
            with t.span("snapshots.read", jobs=True):
                latest = read_snapshot(spark, store, "city_sales_gold")
            entry["gold"] = [tuple(r) for r in latest.collect()]

    def maintain(self) -> None:
        """Compact the latest bronze version into one file, then expire all
        but the versions of the last block of commits and its compaction."""
        from mongo_iceberg_lakehouse_spark.sources.maintenance import (
            compact_snapshot,
            expire_snapshots,
        )

        t = self.tracer
        with t.span("maintenance.compact", jobs=True):
            self.compacted.append(compact_snapshot(
                self.spark, self.store, "orders_bronze", target_bytes=None))
        with t.span("maintenance.expire", jobs=True):
            expire_snapshots(self.spark, self.store, "orders_bronze",
                             keep_last=self.block + 1)

    def bytes_written(self, i: int) -> int:
        """Bytes of the table versions op ``i`` committed."""
        import glob

        b = self.batch(i)
        return 0 if b is None else sum(
            dir_bytes(d)
            for table, v in self.log[b].get("versions", [])
            for d in glob.glob(os.path.join(self.store, table, f"v={v}-*"))
        )

    def check(self) -> dict[str, str]:
        """After the window: the warm-up commits were right, no bad batch is
        visible in any committed silver version, and a time-travel read of an
        earlier bronze version returns that batch's row count."""
        from pyspark.sql import functions as F

        from mongo_iceberg_lakehouse_spark.sources.snapshots import (
            read_snapshot,
            snapshot_versions,
        )

        spark, store, bad = self.spark, self.store, {}
        wrong = [b for b in range(self.first)
                 if not commit_ok(self.log[b], self.batches[b])]
        if wrong:
            bad["warm_up"] = f"warm-up batches {wrong} gave wrong output"
        done = sorted(self.log)
        good = [b for b in done if self.log[b].get("published")]
        versions = snapshot_versions(spark, store, "orders_silver")
        if not good or versions != list(range(1, len(good) + 1)):
            bad["silver_versions"] = f"{versions} for {len(good)} good batches"
        else:
            row = read_snapshot(spark, store, "orders_silver").agg(
                F.count("*"), F.min("total_amount")).first()
            if (row[0] != self.batches[good[-1]]["n_docs"]
                    or row[1] is None or row[1] <= 0):
                bad["silver_latest"] = f"count/min amount {tuple(row)}"
        kept = set(snapshot_versions(spark, store, "orders_bronze"))
        earlier = [b for b in done[:-1]
                   if self.log[b].get("bronze_version") in kept]
        if earlier:
            b = earlier[0]
            n = read_snapshot(
                spark, store, "orders_bronze", self.log[b]["bronze_version"]
            ).count()
            if n != self.batches[b]["n_docs"]:
                bad["time_travel"] = f"batch {b}: {n} rows"
        else:
            bad["time_travel"] = "no earlier bronze version retained"
        return bad

    def failed_ops(self, bad: dict[str, str], n: int) -> set[int]:
        # a store-wide failure makes every op's output suspect
        return set(range(n)) if bad else set()

    def rejected_ratio(self) -> float:
        injected = [b for b in self.log if b >= self.first and self.batches[b]["bad"]]
        rejected = [b for b in injected if self.log[b].get("published") is False]
        return len(rejected) / len(injected) if injected else 0.0

    def input_bytes(self) -> int:
        return sum(self.batches[b]["bytes"] for b in self.log)
