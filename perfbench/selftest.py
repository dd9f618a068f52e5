"""Self-test of the benchmark's output checks: a corrupted result must be
counted as a failed op. Needs no Spark session.

Usage (from the root of a checkout): python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import sys
import tempfile
from pathlib import Path
from types import SimpleNamespace

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from workloads import QueryWorkload, check_pair_queries, commit_ok  # noqa: E402


def query_check(tmp: str) -> None:
    tables = os.path.join(tmp, "tables")
    os.makedirs(tables)
    pq.write_table(
        pa.table({"k": ["a", "b", "a"], "v": [1.5, 2.0, 3.25]}),
        os.path.join(tables, "t.parquet"),
    )
    registry = {"q": SimpleNamespace(
        oracle="SELECT k, sum(v) AS s, count(*) AS n FROM t GROUP BY k")}
    inputs = {"tables": tables, "sequence": ["q", "q", "q"], "round": 1}
    wl = QueryWorkload(None, inputs, None, registry)
    cols = ["k", "s", "n"]
    wl.results = {"q": (cols, [("a", 4.75, 2), ("b", 2.0, 1)])}
    assert wl.check() == {}, "the true result must pass"
    for corrupt in ([("a", 4.75, 2), ("b", 2.5, 1)],  # a wrong value
                    [("a", 4.75, 2)]):  # a lost row
        wl.results = {"q": (cols, corrupt)}
        bad = wl.check()
        assert set(bad) == {"q"}, bad
        assert wl.failed_ops(bad, 3) == {0, 1, 2}


def pairs_check(tmp: str) -> None:
    path = os.path.join(tmp, "documents.parquet")
    words = [f"w{i}" for i in range(20)]
    texts = [" ".join(words), " ".join(words),  # an identical pair
             " ".join(words[:-1] + ["dup"]), "p q r s t u"]
    pq.write_table(pa.table({"doc_id": [0, 1, 2, 3], "text": texts}), path)
    cols = ["id_a", "id_b", "jaccard"]
    # word 3-grams: 18 per copy, 17 shared with the edited one
    exact = [(0, 1, 1.0), (0, 2, 17 / 19), (1, 2, 17 / 19)]
    # word 2-grams: 19 per copy, 18 shared
    minhash = [(0, 1, 1.0), (0, 2, 18 / 20), (1, 2, 18 / 20)]

    def check(name, rows):
        return check_pair_queries({name: (cols, rows)}, path)

    assert check("dedup_jaccard_exact_pairs", exact) == {}
    assert check("dedup_minhash_lsh", minhash) == {}
    for name, true in (("dedup_jaccard_exact_pairs", exact),
                       ("dedup_minhash_lsh", minhash)):
        for corrupt in (true[1:],  # the identical pair lost
                        true[:2],  # the pair of two copies lost
                        [true[0], (0, 2, 0.85), true[2]],  # a wrong Jaccard
                        true + [(0, 3, 0.0)],  # a spurious pair
                        [(1, 0, 1.0)] + true[1:]):  # out of order
            assert set(check(name, corrupt)) == {name}, (name, corrupt)


def commit_check() -> None:
    good = {"bad": False, "gold": {"Pune": [30.5, 2], "Delhi": [10.0, 1]}}
    entry = {"published": True,
             "gold": [("Pune", "INDIA", 30.5, 2), ("Delhi", "INDIA", 10.0, 1)]}
    assert commit_ok(entry, good)
    assert not commit_ok(
        {**entry, "gold": [("Pune", "INDIA", 30.5, 2), ("Delhi", "INDIA", 11.0, 1)]},
        good)
    assert not commit_ok({**entry, "gold": entry["gold"][:1]}, good)
    assert not commit_ok({"published": False}, good)
    bad = {"bad": True, "gold": {}}
    assert commit_ok({"published": False}, bad)
    assert not commit_ok(entry, bad), "a published bad batch must fail"


def main() -> None:
    with tempfile.TemporaryDirectory(dir=HERE.parent) as tmp:
        query_check(tmp)
        pairs_check(tmp)
    commit_check()
    print("perfbench selftest: corrupted results are counted as failures")


if __name__ == "__main__":
    main()
