"""Compare the benchmark's generated tables with a directory of fixture
tables of the same schema (the package's sf0.1 test fixtures): row counts,
document length, vocabulary, duplicate and near-duplicate counts, embedding
near pairs and the events mix. Prints one JSON object per table and figure.

Usage (from the root of a checkout):
    python3 perfbench/fidelity.py --fixtures DIR [--seed N]
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import sys
import tempfile
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402
from workloads import NEAR_DUP, jaccard, shingle_sets, similar_pairs  # noqa: E402


def documents(path: str) -> dict:
    t = pq.read_table(path, columns=["text", "lang", "source"]).to_pydict()
    texts = t["text"]
    langs = collections.Counter(t["lang"])
    words = [len(x.split()) for x in texts]
    vocab = collections.Counter(w for x in texts for w in x.split())
    sets3, sets2 = shingle_sets(path, 3), shingle_sets(path, 2)
    near = similar_pairs(sets3, NEAR_DUP)
    return {
        "rows": len(texts),
        "lang_shares": {k: round(n / len(texts), 3) for k, n in sorted(langs.items())},
        "sources": len(set(t["source"])),
        "words_p5_p50_p95": np.percentile(words, [5, 50, 95]).tolist(),
        "vocabulary": len(vocab),
        "exact_duplicate_texts": len(texts) - len(set(texts)),
        "pairs_3gram_jaccard_ge_0.8": len(near),
        "of_which_2gram_jaccard_ge_0.8": sum(
            jaccard(sets2[a], sets2[b]) >= NEAR_DUP for a, b in near),
    }


def embeddings(path: str) -> dict:
    t = pq.read_table(path)
    v = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    sims = (v @ v.T)[np.triu_indices(len(v), 1)]
    return {"rows": len(v), "dim": v.shape[1],
            "labels": len(set(t.column("label").to_pylist())),
            "pairs_cosine_ge_0.4": int((sims >= 0.4).sum())}


def events(path: str) -> dict:
    t = pq.read_table(path).to_pydict()
    kinds = collections.Counter(t["event_type"])
    return {"rows": len(t["event_id"]), "users": len(set(t["user_id"])),
            "event_type_shares": {k: round(n / len(t["event_id"]), 3)
                                  for k, n in sorted(kinds.items())},
            "value_p25_p50_p99": np.percentile(t["value"], [25, 50, 99]).round(1).tolist(),
            "days": (max(t["ts"]) - min(t["ts"])).days + 1}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--fixtures", required=True)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    with tempfile.TemporaryDirectory(dir=HERE.parent) as tmp:
        gen.generate("curation_batch", a.seed, 1, tmp)
        ours = os.path.join(tmp, "tables")
        for name, fn in (("documents", documents), ("embeddings", embeddings),
                         ("events", events)):
            for label, d in (("fixture", a.fixtures), ("generated", ours)):
                print(json.dumps({"table": name, "from": label,
                                  **fn(os.path.join(d, f"{name}.parquet"))}))
    with tempfile.TemporaryDirectory(dir=HERE.parent) as tmp:
        gen.generate("adhoc_sql", a.seed, 1, tmp)
        for fn in sorted(os.listdir(a.fixtures)):
            ours = os.path.join(tmp, "tables", fn)
            if os.path.exists(ours):
                print(json.dumps({
                    "table": fn[:-len(".parquet")],
                    "rows_fixture": pq.read_metadata(os.path.join(a.fixtures, fn)).num_rows,
                    "rows_generated": pq.read_metadata(ours).num_rows}))


if __name__ == "__main__":
    main()
