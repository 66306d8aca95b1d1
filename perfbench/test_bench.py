"""The benchmark counts raised exceptions and wrong answers as failed calls.

Run from the repository root: python3 -m pytest perfbench/test_bench.py -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks  # noqa: E402
from perfbench.loop import Recorder, tail  # noqa: E402

DOCS = pd.DataFrame(
    {"doc_id": [0, 1, 2, 3], "text": ["alpha beta", "alpha alpha gamma", "beta gamma alpha", "delta"]}
)


@pytest.fixture(scope="module")
def oracle():
    return checks.LiveOracle(DOCS)


def test_right_answers_pass(oracle):
    rec = Recorder()
    rec.call("search.topk", lambda: oracle.topk(["alpha"], 10),
             lambda rows: checks.topk_ok(rows, oracle.topk(["alpha"], 10)))
    rec.call("search.read_values", lambda: [(d,) for d in oracle.read_values(["gamma"], 0, 9)],
             lambda rows: checks.read_ok(rows, oracle.read_values(["gamma"], 0, 9)))
    rec.call("search.phrase", lambda: oracle.phrase("alpha", "beta"),
             lambda rows: checks.phrase_ok(rows, [(0, 1)]))
    assert (rec.attempted, rec.failed) == (3, 0)


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda rows: [(d, s + 1e-6) for d, s in rows],  # score beyond 1e-9
        lambda rows: rows[::-1],  # order swapped
        lambda rows: rows[:-1],  # a hit missing
    ],
)
def test_corrupted_topk_counts_as_failed(oracle, corrupt):
    rec = Recorder()
    expected = oracle.topk(["alpha", "gamma"], 10)
    rec.call("search.topk", lambda: corrupt(expected),
             lambda rows: checks.topk_ok(rows, oracle.topk(["alpha", "gamma"], 10)))
    assert (rec.attempted, rec.failed) == (1, 1)
    assert rec.failures() == ["search.topk: wrong answer"]


def test_corrupted_batch_and_read_count_as_failed(oracle):
    rec = Recorder()
    rows = [{"qid": "q0", "doc_id": 1}]  # doc 2 dropped
    rec.call("search.read_values_batch", lambda: rows,
             lambda got: checks.read_batch_ok(got, {"q0": oracle.read_values(["gamma"], None, None)}))
    rec.call("search.phrase", lambda: [(0, 2)],
             lambda got: checks.phrase_ok(got, oracle.phrase("alpha", "beta")))
    assert (rec.attempted, rec.failed) == (2, 2)


def test_raised_exception_counts_as_failed():
    rec = Recorder()

    def boom():
        raise RuntimeError("engine failed")

    assert rec.call("search.topk", boom, lambda rows: True) is None
    assert (rec.attempted, rec.failed) == (1, 1)
    assert "engine failed" in rec.failures()[0]


def test_check_that_raises_counts_as_failed():
    rec = Recorder()
    rec.call("search.topk", lambda: None, lambda rows: len(rows) > 0)
    assert (rec.attempted, rec.failed) == (1, 1)


def test_tail_needs_ten_samples_beyond():
    assert tail([1.0] * 10) is None
    value, pct, n = tail([float(i) for i in range(40)])
    assert (value, n) == (29.0, 40) and pct == 75.0


def test_wrong_setup_build_counts_as_failed_untimed_call():
    rec = Recorder()
    rec.verify("setup.build_index", lambda: False)
    rec.call("search.topk", lambda: [], lambda rows: True)
    assert (rec.attempted, rec.failed) == (2, 1)
    assert len(rec.seconds()) == 1  # the set-up check is not a timed call
