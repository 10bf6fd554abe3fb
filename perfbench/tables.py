"""Seeded documents table of store_churn.

The table has the schema of the program's `documents` fixture at a reduced
size: random texts over a 31-word vocabulary, 10-100 words; every tenth is a
copy of an earlier text with one word added or removed at the end (a near
duplicate).
"""
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 1000
BLOCK = 250  # = the ingest batch of store_churn
NEAR_DUP_EVERY = 10

VOCAB = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))


def _documents(rnd):
    # Every block of BLOCK documents has the same shape for every seed: the
    # same multiset of lengths (10..100 words) and a near duplicate in the
    # same slots; the seed picks the words, the order of the lengths, and
    # which original each near duplicate copies. The dedup work per ingest
    # batch then depends little on the seed.
    texts, originals = [], []
    for start in range(0, N_DOCS, BLOCK):
        lengths = [10 + k * 90 // (BLOCK - 1) for k in range(BLOCK)]
        rnd.shuffle(lengths)
        for k, length in enumerate(lengths[:min(BLOCK, N_DOCS - start)]):
            if originals and k % NEAR_DUP_EVERY == NEAR_DUP_EVERY - 1:
                # a copy with its end edited, as in the program's fixtures:
                # far above the LSH thresholds, so LSH finds every pair
                words = rnd.choice(originals).split()
                if rnd.random() < 0.5 or len(words) <= 10:
                    words.append(rnd.choice(VOCAB))
                else:
                    words.pop()
            else:
                words = [rnd.choice(VOCAB) for _ in range(length)]
                originals.append(" ".join(words))
            texts.append(" ".join(words))
    langs = [l for l, _ in LANGS]
    weights = [w for _, w in LANGS]
    return pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rnd.choices(langs, weights, k=N_DOCS), pa.string()),
        "source": pa.array([f"src{i * 20 // N_DOCS}" for i in range(N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(out_dir, seed):
    """Writes documents.parquet for `seed` to out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(_documents(random.Random(f"{seed}:documents")),
                   os.path.join(out_dir, "documents.parquet"))
