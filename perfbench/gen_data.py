"""Generate the benchmark's input tables as parquet, deterministically.

The pipeline operators read two tables of the battery's layout (see
TESTDATA.md): documents (500 rows of text) and embeddings (500 unit
vectors). Each table is a pure function of SEED and its own generator, so
the expected result fingerprints in expected.json stay valid; the
benchmark's --seed only orders operations.

    python3 perfbench/gen_data.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
N_DOCS = 500
N_VECS = 500
DIM = 64

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def documents(rng):
    """Random word sequences; about 5% are another document's text plus
    " dup", the near-duplicates the dedup operators look for."""
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 100))))
             for _ in range(N_DOCS)]
    for i in range(N_DOCS):
        if rng.random() < 0.05:
            src = int(rng.integers(0, N_DOCS))
            if src != i and not texts[src].endswith(" dup"):
                texts[i] = texts[src] + " dup"
    return pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def embeddings(rng):
    """Unit vectors around one of ten label centroids."""
    labels = rng.integers(0, 10, N_VECS)
    cents = rng.normal(0.0, 0.05, (10, DIM))
    vecs = cents[labels] + rng.normal(0.0, 0.12, (N_VECS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


def main(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for i, make in enumerate([documents, embeddings]):
        table = make(np.random.default_rng([SEED, i]))
        pq.write_table(table, os.path.join(out_dir, f"{make.__name__}.parquet"))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: gen_data.py <out_dir>")
    main(sys.argv[1])
