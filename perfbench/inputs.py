"""Seeded inputs for every workload; the same seed gives the same files.

Street corpora come from the program's own document generator
(`sources.fixtures.generate`); the program is handed only the resulting
`documents.parquet`. The text tables mimic the shape of the shared sf0.1
test tables (TESTDATA.md) that the registry's text leaves read
(`documents`, `embeddings`, `events`), but are generated here from the
seed, inside the benchmark's work directory.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from osm2streets_spark.sources.fixtures import SPAN_TYPE, generate

# the kernel replay's warm-up corpus, fixed seed: the 21 toy topologies once
# each plus 4 heavy documents (two grids, two dense clusters)
WARMUP_TOY, WARMUP_HEAVY, WARMUP_SEED = 21, 4, 42


def street_docs(n: int, seed: int, heavy: bool = False) -> list[tuple]:
    """[(doc_id, spans)] of n generated documents."""
    return [(d["doc_id"], d["spans"]) for d in generate(n, seed, heavy)[0]]


def warmup_docs() -> list[tuple]:
    return street_docs(WARMUP_TOY, WARMUP_SEED) + \
        street_docs(WARMUP_HEAVY, WARMUP_SEED, heavy=True)


def mixed_docs(n_toy: int, n_heavy: int, seed: int) -> list[tuple]:
    """Toy and heavy documents in one seeded, shuffled order."""
    docs = street_docs(n_toy, seed) + street_docs(n_heavy, seed, heavy=True)
    random.Random(seed).shuffle(docs)
    return docs


def write_documents(out_dir: str, docs: list[tuple]) -> str:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array([d for d, _ in docs], pa.string()),
        "spans": pa.array([s for _, s in docs], SPAN_TYPE),
    }), os.path.join(out_dir, "documents.parquet"))
    return out_dir


# --- text tables -----------------------------------------------------------

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = (("en", 0.44), ("zh", 0.15), ("es", 0.145), ("de", 0.14),
         ("fr", 0.125))
NEAR_DUP_SHARE = 0.05     # documents that re-use an earlier text, edited
EDITED_SHARE = 0.9        # of those: words replaced, not the sf0.1 edit
EDIT_RATE = (0.08, 0.11)  # share of words replaced in an edited copy
EXACT_DUP_SHARE = 0.0016  # documents that copy an earlier text verbatim
N_SOURCES = 20
N_LABELS = 10
DIM = 64


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Random-word texts with near-duplicates of two kinds. Some follow the
    sf0.1 test tables: an original with " dup" appended and, half the time,
    its first word dropped (word 3-shingle Jaccard 0.7-1.0 against the
    original). The rest replace 8-11 % of the original's words, which puts
    their Jaccard at about 0.4-0.75: a quarter of the pairs at 0.5 or more
    sit at 0.5-0.6, just above dd_minhash_lsh's threshold, where MinHash
    LSH is most likely to miss a pair."""
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        u = rng.random()
        if originals and u < EXACT_DUP_SHARE:
            texts.append(texts[originals[int(rng.integers(len(originals)))]])
        elif originals and u < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            words = texts[originals[int(rng.integers(len(originals)))]] \
                .split()
            if rng.random() < EDITED_SHARE:
                hit = rng.random(len(words)) < rng.uniform(*EDIT_RATE)
                new = rng.integers(len(VOCAB), size=len(words))
                words = [VOCAB[r] if h else w
                         for w, h, r in zip(words, hit, new)]
            else:
                if rng.random() < 0.5:
                    words = words[1:]
                words = words + ["dup"]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 101))
            originals.append(i)
            texts.append(" ".join(VOCAB[j]
                                  for j in rng.integers(len(VOCAB), size=k)))
    return texts


def write_text_tables(out_dir: str, seed: int, n_docs: int, n_vectors: int,
                      n_events: int) -> str:
    """documents / embeddings / events parquet files under out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    texts = _texts(rng, n_docs)
    langs = rng.choice([lang for lang, _ in LANGS], size=n_docs,
                       p=[w for _, w in LANGS])
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))

    labels = rng.integers(N_LABELS, size=n_vectors).astype(np.int32)
    centers = rng.normal(size=(N_LABELS, DIM))
    vecs = rng.normal(size=(n_vectors, DIM)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)) \
        .astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vectors, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels),
    }), os.path.join(out_dir, "embeddings.parquet"))

    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(30 * 86_400 * 10**6, size=n_events))
    kinds = np.array(["view", "click", "purchase", "signup", "error"])
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(1500, size=n_events)),
        "event_type": pa.array(kinds[rng.integers(len(kinds),
                                                  size=n_events)].tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, size=n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(100, size=n_events)]),
    }), os.path.join(out_dir, "events.parquet"))
    return out_dir
