"""Seeded input generator for the benchmark workloads.

Writes `documents.parquet`, the one table both workloads read, with the
schema and text shape of the engine's sf0.1 test corpus. The figures
below were measured on that corpus (5,000 documents):

- 30 distinct words (`WORDS`), each drawn with equal probability: every
  word's share of all tokens lies within 2.1% of 1/30;
- 10 to 99 words per document, uniform (mean 54.2);
- 5.0% near duplicates: another document's text plus the word "dup";
  the copied document is any document, earlier or later;
- `lang` en 41.2%, de/es/fr/zh 14.0-15.1% each;
- `source` is `src<doc_id % 20>` and `n_chars` the text length.

Table contents are fixed (drawn from `CONTENT_SEED`) and so is the row
count; the workload seed chooses the row order.

Output goes to `<cache>/<workload>-seed<seed>/`; a marker file makes a
second call with the same arguments a no-op.

    python3 perfbench/gen.py medallion_daily 7   # generate and print the dir
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LAYOUT = 3  # bump when the synthesis changes so cached inputs rebuild
CONTENT_SEED = 20250801

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DUP_P = 0.05


def documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    for i in np.flatnonzero(rng.random(n) < DUP_P):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    lang = np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": pa.array(texts),
            "lang": pa.array(lang),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def generate(out_dir: str, seed: int, n_docs: int) -> dict:
    """Write the seeded documents under `out_dir` (reused when already
    built). Returns {table: {"rows": n, "mb": size}}."""
    want = {"layout": LAYOUT, "seed": seed, "documents": n_docs}
    marker = os.path.join(out_dir, "_INPUT.json")
    try:
        with open(marker) as fh:
            got = json.load(fh)
        if got["spec"] == want:
            return got["sizes"]
    except (OSError, ValueError, KeyError):
        pass
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    table = documents(np.random.default_rng(CONTENT_SEED), n_docs)
    table = table.take(pa.array(np.random.default_rng(seed).permutation(n_docs)))
    path = os.path.join(tmp, "documents.parquet")
    pq.write_table(table, path)
    sizes = {"documents": {"rows": n_docs, "mb": round(os.path.getsize(path) / 1e6, 3)}}
    with open(os.path.join(tmp, "_INPUT.json"), "w") as fh:
        json.dump({"spec": want, "sizes": sizes}, fh)
    os.replace(tmp, out_dir)
    return sizes


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from workloads import WORKLOADS, input_dir

    wl = WORKLOADS[sys.argv[1]]
    d = input_dir(sys.argv[1], int(sys.argv[2]))
    print(d, json.dumps(generate(d, int(sys.argv[2]), wl.documents)))
