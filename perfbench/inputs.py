"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the workload seed: the same seed
writes byte-for-byte the same parquet files.  The program under test
only ever sees these files.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# crawl_polite web: the five wide-profile authority shapes, once under
# their real host names (so the finland robots.txt Disallow and the
# ireland 5 s crawl delay both bind) plus CLONES seeded clones of each
POLITE_BASE = ("austria", "ireland", "denmark", "finland", "italy")
POLITE_CLONES = 7
POLITE_SHAPE = dict(n_pages=1, n_items=6, n_files=1)
POLITE_ROUND_SECONDS = 20.0


def polite_authorities(seed: int) -> tuple[str, ...]:
    """Base authorities + seeded clone suffixes.  The suffix moves host
    names, url hashes and shard/salt placement; the shape stays put."""
    rng = random.Random(seed)
    suffixes = rng.sample(range(100, 100_000), POLITE_CLONES)
    return POLITE_BASE + tuple(f"{a}_{s}" for s in suffixes for a in POLITE_BASE)


# analytics_fixpoint tables: the columns the four fixpoint queries and
# their DuckDB twins read, in the schema of the repository's test tables
N_ORDERS = 1_000
N_DOCS = 160
N_VECS = 400
EMB_DIM = 32
_WORDS = (
    "the a data row column table scan join merge sort hash key order part "
    "line customer filter window group agg batch stream spark query value "
    "vector fast slow big small"
).split()
_LANGS = ("en", "fr", "de", "es", "zh")


def analytics_tables(out_dir: str, seed: int) -> dict[str, str]:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    keys = rng.choice(np.arange(1, 10 * N_ORDERS), size=N_ORDERS, replace=False)
    orders = pd.DataFrame(
        {
            "o_orderkey": keys.astype("int64"),
            "o_custkey": rng.integers(1, 1_500, size=N_ORDERS).astype("int64"),
        }
    )
    # documents: random word texts, a quarter of them near-duplicate
    # mutations (1-2 swapped words) of an earlier original, so both pair
    # operators and the components fixpoint have real clusters
    texts: list[str] = []
    originals: list[int] = []
    for i in range(N_DOCS):
        if originals and rng.random() < 0.25:
            toks = texts[originals[int(rng.integers(0, len(originals)))]].split()
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = _WORDS[
                    int(rng.integers(0, len(_WORDS)))
                ]
        else:
            originals.append(i)
            toks = [
                _WORDS[int(w)]
                for w in rng.integers(0, len(_WORDS), size=int(rng.integers(20, 70)))
            ]
        texts.append(" ".join(toks))
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(N_DOCS, dtype="int64"),
            "text": texts,
            "lang": [_LANGS[int(x)] for x in rng.integers(0, len(_LANGS), N_DOCS)],
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    # embeddings: 10 gaussian blobs; vec_ids 0..N_VECS-1 cover the
    # frozen centroid seed ids (0, 100, 200, 300)
    centers = rng.normal(size=(10, EMB_DIM))
    label = rng.integers(0, 10, size=N_VECS)
    emb = (centers[label] + 0.3 * rng.normal(size=(N_VECS, EMB_DIM))).astype("float32")
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS, dtype="int64")),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(label.astype("int32")),
        }
    )
    paths = {}
    for name, tbl in (
        ("orders", pa.Table.from_pandas(orders, preserve_index=False)),
        ("documents", pa.Table.from_pandas(documents, preserve_index=False)),
        ("embeddings", embeddings),
    ):
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, paths[name])
    return paths
