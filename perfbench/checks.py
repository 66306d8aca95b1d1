"""Answer checks against ``inverted_index_spark.oracle`` over the live turns.

Every expected answer is computed in-process from the generated turns
(base plus appended minus deleted): BM25 top-k and range reads from
``OracleIndex``, phrase matches from ``tokenize_text`` token lists, and
built stores from the oracle's posting lists. Tolerances follow the
contract in ``oracle.py``: top-k doc-id order exact, scores within 1e-9;
everything else exact.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from inverted_index_spark.functions.codec import decode_rows_concat
from inverted_index_spark.functions.tokenizer import tokenize_text
from inverted_index_spark.oracle import OracleIndex

SCORE_TOL = 1e-9


class LiveOracle:
    """Expected answers for one set of live turns (doc_id, text)."""

    def __init__(self, docs: pd.DataFrame):
        self.docs = docs
        self.index = OracleIndex.from_docs(docs)
        self._bigrams: dict[tuple[str, str], dict[int, int]] | None = None
        self._postings: pd.DataFrame | None = None

    # ------------------------------------------------------------- queries
    def topk(self, terms: list[str], k: int) -> list[tuple[int, float]]:
        return self.index.bm25_topk(terms, k)

    def read_values(self, terms: list[str], lo: int | None, hi: int | None) -> list[int]:
        return self.index.read_values(terms, lo, hi)

    def phrase(self, a: str, b: str) -> list[tuple[int, int]]:
        """(doc_id, number of positions where ``a`` is followed by ``b``)."""
        if self._bigrams is None:
            grams: dict[tuple[str, str], dict[int, int]] = {}
            for doc_id, text in zip(self.docs["doc_id"], self.docs["text"]):
                toks = tokenize_text(text)
                for pair in zip(toks, toks[1:]):
                    per_doc = grams.setdefault(pair, {})
                    per_doc[int(doc_id)] = per_doc.get(int(doc_id), 0) + 1
            self._bigrams = grams
        return sorted(self._bigrams.get((a, b), {}).items())

    def postings_frame(self) -> pd.DataFrame:
        if self._postings is None:
            rows = [
                (t, d, tf) for t, plist in self.index.postings.items() for d, tf in plist.items()
            ]
            self._postings = _sorted_postings(pd.DataFrame(rows, columns=["term", "doc_id", "tf"]))
        return self._postings


def _sorted_postings(df: pd.DataFrame) -> pd.DataFrame:
    df = df.astype({"doc_id": "int64", "tf": "int64"})
    return df.sort_values(["term", "doc_id"], kind="mergesort").reset_index(drop=True)


# ------------------------------------------------------------------ checks
def topk_ok(rows, expected: list[tuple[int, float]]) -> bool:
    got = [(int(r[0]), float(r[1])) for r in rows]
    if [d for d, _ in got] != [d for d, _ in expected]:
        return False
    return all(abs(s - e) <= SCORE_TOL for (_, s), (_, e) in zip(got, expected))


def read_ok(rows, expected: list[int]) -> bool:
    return [int(r[0]) for r in rows] == list(expected)


def phrase_ok(rows, expected: list[tuple[int, int]]) -> bool:
    return [(int(r[0]), int(r[1])) for r in rows] == list(expected)


def topk_batch_ok(rows, expected: dict[str, list[tuple[int, float]]]) -> bool:
    """``rows`` are (qid, rank, doc_id, score); ``expected`` covers a
    sample of the batch's query ids."""
    by_qid: dict[str, list] = {}
    for r in rows:
        by_qid.setdefault(r["qid"], []).append((int(r["rank"]), int(r["doc_id"]), float(r["score"])))
    for qid, exp in expected.items():
        got = [(d, s) for _, d, s in sorted(by_qid.get(qid, []))]
        if not topk_ok(got, exp):
            return False
    return True


def read_batch_ok(rows, expected: dict[str, list[int]]) -> bool:
    by_qid: dict[str, list[int]] = {}
    for r in rows:
        by_qid.setdefault(r["qid"], []).append(int(r["doc_id"]))
    return all(by_qid.get(qid, []) == exp for qid, exp in expected.items())


def store_ok(store, oracle: LiveOracle, segment_ids: list[str] | None = None) -> bool:
    """The postings and doc lengths of ``segment_ids`` (default: every
    live segment), decoded from the files on disk, equal the oracle's
    posting lists and doc lengths."""
    if segment_ids is None:
        segment_ids = list(store.live_segments()["segment_id"])
    parts, dls = [], []
    for seg in segment_ids:
        seg_dir = store.seg_dir(seg)
        t = pq.read_table(os.path.join(seg_dir, "postings"))
        dec = decode_rows_concat(
            t.column("postings").to_pylist(),
            t.column("tfs").to_pylist(),
            t.column("dls").to_pylist(),
            t.column("blocks").to_pylist(),
        )
        if dec is None:
            return False
        row_lens, docs, tfs, _ = dec
        terms = np.repeat(np.asarray(t.column("term").to_pylist(), dtype=object), row_lens)
        parts.append(pd.DataFrame({"term": terms, "doc_id": docs, "tf": tfs.astype(np.int64)}))
        dls.append(pq.read_table(os.path.join(seg_dir, "docstats")).to_pandas()[["doc_id", "dl"]])
    got = _sorted_postings(pd.concat(parts, ignore_index=True))
    if not got.equals(oracle.postings_frame()):
        return False
    dl = pd.concat(dls, ignore_index=True).sort_values("doc_id").reset_index(drop=True)
    exp_dl = sorted(oracle.index.dl.items())
    return [(int(d), int(n)) for d, n in zip(dl["doc_id"], dl["dl"])] == exp_dl
