"""Seeded inputs: transcript turns and query streams.

Turns come from the engine's own transcript generator
(``sources.transcripts``), which derives each conversation from its
conversation index. The workload seed picks which block of conversation
indices a run uses, so every seed gives a different, reproducible corpus.
Query streams draw from a numpy generator keyed by (seed, stream name).
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from inverted_index_spark.functions.tokenizer import tokenize_text
from inverted_index_spark.sources.transcripts import _gen_conv_batch, turns_per_conv

# conversation-index block per seed slot: ~23k turns, more than any
# workload draws from one seed
CONV_STRIDE = 2048
SEED_SLOTS = 997


def make_turns(seed: int, n_turns: int) -> pd.DataFrame:
    """At least ``n_turns`` turns of whole conversations, doc_id 0..n-1."""
    first = CONV_STRIDE * (seed % SEED_SLOTS)
    per_conv = turns_per_conv(np.arange(first, first + CONV_STRIDE, dtype=np.int64))
    n_convs = int(np.searchsorted(np.cumsum(per_conv), n_turns)) + 1
    if n_convs > CONV_STRIDE:
        raise ValueError(f"{n_turns} turns do not fit in one seed's conversation block")
    turns = _gen_conv_batch(np.arange(first, first + n_convs, dtype=np.int64))
    turns["doc_id"] = np.arange(len(turns), dtype=np.int64)
    return turns


def write_parquet(turns: pd.DataFrame, path: str, n_files: int) -> None:
    """One file per doc-id range, so a scan has ``n_files`` partitions."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(turns)), n_files)):
        if len(part):
            table = pa.Table.from_pandas(turns.iloc[part], preserve_index=False)
            pq.write_table(table, os.path.join(path, f"part-{i:04d}.parquet"))


def text_bytes(turns: pd.DataFrame) -> int:
    return int(sum(len(t.encode("utf-8")) for t in turns["text"]))


class QueryGen:
    """Seeded query parameters over one corpus.

    Terms are drawn half from the token distribution (Zipf head) and half
    uniformly from the vocabulary (tail), so both long and short posting
    lists occur."""

    def __init__(self, seed: int, name: str, index, turns: pd.DataFrame):
        self.rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
        self.refresh(index, turns)

    def refresh(self, index, turns: pd.DataFrame) -> None:
        """Re-point at the live corpus (``index`` is an OracleIndex)."""
        self.terms = np.array(sorted(index.postings), dtype=object)
        df = np.array([len(index.postings[t]) for t in self.terms], dtype=np.float64)
        self.head_p = df / df.sum()
        self.turns = turns
        self.lo = int(turns["doc_id"].min())
        self.hi = int(turns["doc_id"].max())

    def terms_for_query(self, max_terms: int = 5) -> list[str]:
        n = int(self.rng.integers(1, max_terms + 1))
        out = []
        for _ in range(n):
            if self.rng.random() < 0.5:
                out.append(str(self.rng.choice(self.terms, p=self.head_p)))
            else:
                out.append(str(self.rng.choice(self.terms)))
        return out

    def doc_range(self) -> tuple[int, int]:
        span = self.hi - self.lo + 1
        width = max(1, int(span * self.rng.uniform(0.05, 0.5)))
        lo = self.lo + int(self.rng.integers(0, max(1, span - width)))
        return lo, lo + width

    def phrase(self) -> list[str]:
        """An adjacent token pair taken from a random turn."""
        texts = self.turns["text"].to_numpy()
        while True:
            toks = tokenize_text(texts[int(self.rng.integers(0, len(texts)))])
            if len(toks) >= 2:
                i = int(self.rng.integers(0, len(toks) - 1))
                return [toks[i], toks[i + 1]]

    def sample(self, items: list, k: int) -> list:
        idx = self.rng.choice(len(items), size=min(k, len(items)), replace=False)
        return [items[int(i)] for i in sorted(idx)]
