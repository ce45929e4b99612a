"""Deterministic synthetic `documents`-table generator for scale-step
benchmarks.

The driver-provided `/root/testdata/sf*/documents.parquet` tables stop at
sf0.1 (5,000 docs) and are read-only, so the sf1 scale-step demo
(VERDICT r3 task #5) needs a corpus it can grow 10× with the SAME
generating distribution at both levels — that sameness is what makes
"the candidate-ratio / block-collision health metrics stay flat across
the scale step" a meaningful claim. This generator mirrors the testdata
table's shape (columns doc_id:long, text:string word-salad over a small
query-engine vocabulary, lang in 5 values, source in 20 values,
n_chars:int) and plants a scale-invariant duplicate structure:

- ~2% exact duplicates (verbatim copy of a recent doc's text),
- ~5% near duplicates (a recent doc's tokens with ~4% positions swapped
  for fresh vocab words — lands in minhash-band and simhash-hamming
  range),
- a shared boilerplate sentence prepended to ~3% of docs (exercises the
  max_df guard of the exact-substring ops).

Every doc's token stream is a pure function of (seed, index), so a
near-dup/exact-dup of doc j regenerates j's tokens without holding the
corpus in memory — generation is O(1) memory and embarrassingly
parallel if ever needed at larger scale.
"""

from __future__ import annotations

import random
from typing import List, Tuple

VOCAB = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data a plan join scale shuffle stage task broadcast skew codegen "
    "limit index page cache"
).split()

LANGS = ["en", "de", "es", "fr", "zh"]
SOURCES = [f"src{i}" for i in range(20)]

BOILERPLATE = "terms of service apply to all data in this corpus"

EXACT_DUP_P = 0.02
NEAR_DUP_P = 0.05
BOILER_P = 0.03
NEAR_DUP_SWAP = 0.04
BACKREF_MAX = 50


EN_CUES = ["the", "and", "of", "to", "is"]
CUE_P = 0.033  # testdata sprinkles English cue words at ~3.3% of tokens


def _base_tokens(seed: int, idx: int) -> List[str]:
    rng = random.Random(f"{seed}-{idx}-base")
    n = rng.randint(8, 110)
    return [
        rng.choice(EN_CUES) if rng.random() < CUE_P else rng.choice(VOCAB)
        for _ in range(n)
    ]


def doc_row(seed: int, idx: int) -> Tuple[int, str, str, str, int]:
    """(doc_id, text, lang, source, n_chars) for document `idx` — pure in
    (seed, idx)."""
    rng = random.Random(f"{seed}-{idx}-doc")
    lang = "en" if rng.random() < 0.4 else rng.choice(LANGS[1:])
    source = rng.choice(SOURCES)
    roll = rng.random()
    if idx > 0 and roll < EXACT_DUP_P:
        j = idx - rng.randint(1, min(BACKREF_MAX, idx))
        toks = _base_tokens(seed, j)
    elif idx > 0 and roll < EXACT_DUP_P + NEAR_DUP_P:
        j = idx - rng.randint(1, min(BACKREF_MAX, idx))
        toks = list(_base_tokens(seed, j))
        n_swap = max(1, int(len(toks) * NEAR_DUP_SWAP))
        for _ in range(n_swap):
            toks[rng.randrange(len(toks))] = rng.choice(VOCAB)
    else:
        toks = _base_tokens(seed, idx)
        if rng.random() < BOILER_P:
            toks = BOILERPLATE.split() + toks
    text = " ".join(toks)
    return idx, text, lang, source, len(text)


def write_embeddings_parquet(path: str, n_vecs: int, dim: int = 64,
                             seed: int = 42, neardup_p: float = 0.02) -> None:
    """Deterministic `embeddings`-table twin (vec_id:long,
    embedding:list<double>) for the SemDeDup scale step: unit-ish gaussian
    vectors with ~`neardup_p` planted near-duplicates (a recent vector
    plus small noise — cosine ≈ 0.99, well above any dedup threshold).
    Chunked, O(chunk) memory; every vector is a pure function of
    (seed, index), same property as doc_row."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float64())),
    ])
    writer = pq.ParquetWriter(path, schema)
    chunk = 10_000
    try:
        for lo in range(0, n_vecs, chunk):
            hi = min(lo + chunk, n_vecs)
            ids = list(range(lo, hi))
            vecs = []

            def base_vec(j):
                # pure function of (seed, j): the dup branch regenerates its
                # source exactly. The dup DECISION draws from a separate
                # stream so it never perturbs this one.
                return np.random.RandomState(seed * 1_000_003 + j).randn(dim)

            for i in ids:
                decide = np.random.RandomState(seed * 7 + 13 * i + 1)
                if i > 10 and decide.random_sample() < neardup_p:
                    j = i - 1 - int(decide.random_sample() * 10)
                    v = base_vec(j) + 0.02 * decide.randn(dim)
                else:
                    v = base_vec(i)
                vecs.append([float(x) for x in v])
            writer.write_table(pa.table({"vec_id": ids, "embedding": vecs},
                                        schema=schema))
    finally:
        writer.close()
