"""The workloads: ``serve`` (reads only) and ``churn`` (writes beside reads).

Each workload builds its store once and checks it against the oracle,
opens the Searcher on it several times (set-up time counts the median
open), warms every plan shape it times, then drives one closed-loop
client through whole rounds of a fixed call mix until the measured
seconds have passed, so every run times the same mix.

Where a size or ratio below has no source it is marked arbitrary.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from contextlib import contextmanager, nullcontext

import numpy as np
import pandas as pd

from inverted_index_spark.operators.build import build_index
from inverted_index_spark.operators.merge import merge_segments
from inverted_index_spark.operators.search import Searcher
from inverted_index_spark.sources.store import SegmentStore, dir_bytes

from perfbench import checks
from perfbench.corpus import QueryGen, make_turns, text_bytes, write_parquet
from perfbench.loop import Recorder, median, tail

SETUP_REPS = 3
K = 10

# store sizes are set by run time (about a minute a run on 4 vCPUs, JVM
# start and set-up included), not by a source
SERVE_TURNS = 4000
QUERY_KINDS = [
    "search.topk", "search.read_values", "search.phrase",
    "search.topk_batch", "search.read_values_batch",
]
# one round of the serve client, shuffled per round (ratios arbitrary)
SERVE_ROUND = (
    ["search.topk"] * 6 + ["search.read_values"] * 3 + ["search.phrase"] * 2
    + ["search.topk_batch", "search.read_values_batch"]
)
BATCH_QUERIES = 20  # arbitrary
BATCH_CHECKED = 3
CHURN_BASE_TURNS = 2000
CHURN_INCREMENT_TURNS = 150  # arbitrary
# Each delete batch is about 1% of the live turns, as in the 2,000-doc
# batches on 200k turns whose refresh time grew batch by batch (72 s,
# 100 s, 126 s over three batches) in the run that motivated this
# workload. Two batches pile up before a merge, not three: with three a
# churn run took about 89 s, over the run-time budget above.
CHURN_DELETE_FRAC = 0.01
CHURN_MERGE_EVERY = 2
CHURN_PERIODS = 2  # at most this many merge periods per run
CHURN_TOPK, CHURN_READS = 1, 1  # queries per cycle (arbitrary)


class Run:
    """State shared by one benchmark run: session, recorder, inputs."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.rec = Recorder(tracer)
        self.nproc = spark.sparkContext.defaultParallelism
        self._store_n = 0
        # set-up phase → wall seconds of each time it ran: "replica" (open
        # the Searcher on the built store) runs SETUP_REPS times; "inputs",
        # "warm" and "build" once)
        self.setup_times: dict[str, list[float]] = {}
        self.named: dict[str, tuple[float, str]] = {}
        self.sizes: dict[str, int] = {}
        self.live_store: SegmentStore | None = None
        self.live_text_bytes = 0
        self.docs_df = None

    # ------------------------------------------------------------ helpers
    @contextmanager
    def setup_phase(self, phase: str):
        """Time one set-up phase, after a host-speed probe."""
        self.rec.probe()
        t0 = time.perf_counter()
        yield
        self.setup_times.setdefault(phase, []).append(time.perf_counter() - t0)

    def setup_seconds(self, scaled: bool = False) -> float:
        """Median replica time plus the one-off phases."""
        t = self.setup_times
        raw = statistics.median(t["replica"]) + sum(sum(v) for k, v in t.items() if k != "replica")
        return raw * self.rec.scale if scaled else raw

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def new_store(self, tag: str) -> SegmentStore:
        self._store_n += 1
        return SegmentStore(os.path.join(self.work, "stores", f"{self._store_n:04d}-{tag}"))

    def read_docs(self, turns: pd.DataFrame, name: str, n_files: int | None = None):
        path = os.path.join(self.work, "inputs", name)
        write_parquet(turns, path, n_files or self.nproc)
        return self.spark.read.parquet(path)

    def bucket_size(self, n_turns: int) -> int:
        # about four doc buckets per core, so bucket-grouped plans have
        # work for every core
        return max(64, n_turns // (4 * self.nproc))

    def time_left(self, t0: float) -> bool:
        return time.perf_counter() - t0 < self.seconds

    def record_sizes(self, store: SegmentStore, live_turns: int) -> None:
        live = store.live_segments()
        dels = store.live_deletes()
        self.sizes = {
            "turns": live_turns,
            "postings": int(live["n_postings"].sum()),
            "terms": int(live["n_terms"].max()) if len(live) else 0,
            "segments": int(len(live)),
            "tombstones": int(dels["n_docs"].sum()) if len(dels) else 0,
        }

    def store_bytes(self, store: SegmentStore) -> int:
        return sum(dir_bytes(store.seg_dir(s)) for s in store.live_segments()["segment_id"])

    def put_ms(self, name: str, kind: str) -> None:
        """Median and tail latency of one call kind, in ms."""
        secs = self.rec.seconds(kind)
        if secs:
            self.named[f"{name}_p50_ms"] = (1000.0 * median(secs), f"ms n={len(secs)}")
            t = tail(secs)
            if t is not None and t[1] >= 50.0:
                self.named[f"{name}_tail_ms"] = (1000.0 * t[0], f"ms p{t[1]:.1f} n={t[2]}")
            else:
                # no percentile at or above p50 has 10 samples beyond it
                self.named[f"{name}_tail_ms"] = (float("nan"), f"ms n={len(secs)} too few samples")

    def put_rate(self, name: str, kind: str, per_call: float, unit: str) -> None:
        secs = self.rec.seconds(kind)
        if secs:
            self.named[name] = (per_call / median(secs), f"{unit} n={len(secs)}")

    def put_s(self, name: str, kind: str) -> None:
        secs = self.rec.seconds(kind)
        if secs:
            self.named[name] = (median(secs), f"s n={len(secs)}")


# ---------------------------------------------------------------- serve ---
class Serve:
    """A warm Searcher over a single-segment, deletes-free positions store;
    one client sends top-k, range reads, phrases and batches."""

    def __init__(self, run: Run):
        self.run = run
        self.searcher = None

    def setup(self) -> None:
        r = self.run
        turns = make_turns(r.seed, SERVE_TURNS)
        self.oracle = checks.LiveOracle(turns[["doc_id", "text"]])
        self.q = QueryGen(r.seed, "serve", self.oracle.index, turns)
        with r.setup_phase("inputs"), r.span("setup.inputs"):
            docs = r.read_docs(turns, "serve")
        store = r.new_store("serve")
        with r.setup_phase("build"), r.span("build.build_index.positions"):
            build_index(r.spark, docs, store, bucket_size=r.bucket_size(len(turns)), positions=True)
        self.build_s = r.setup_times["build"][0]
        r.rec.verify("setup.build_index.positions", lambda: checks.store_ok(store, self.oracle))
        for _ in range(SETUP_REPS):
            with r.setup_phase("replica"):
                if self.searcher is not None:
                    self.searcher.close()
                with r.span("search.open"):
                    self.searcher = Searcher(r.spark, store).open()
        with r.setup_phase("warm"), r.span("setup.warm"):
            # every query plan shape once, from a stream of its own; the
            # first phrase query also caches the positions artifact
            warm_q = QueryGen(r.seed, "serve-warm", self.oracle.index, turns)
            for kind in QUERY_KINDS:
                self.op(kind, warm_q)[0]()
        self.store = store
        r.docs_df = docs
        r.live_store = store
        r.record_sizes(store, len(turns))
        r.live_text_bytes = text_bytes(turns)

    def op(self, kind: str, q: QueryGen | None = None):
        """(call, check) for one seeded query of ``kind``."""
        s, o, q = self.searcher, self.oracle, q or self.q
        if kind == "search.topk":
            terms = q.terms_for_query()
            return (lambda: s.topk(terms, K).collect(),
                    lambda rows: checks.topk_ok(rows, o.topk(terms, K)))
        if kind == "search.read_values":
            terms = q.terms_for_query(3)
            lo, hi = q.doc_range()
            return (lambda: s.read_values(terms, lo, hi).collect(),
                    lambda rows: checks.read_ok(rows, o.read_values(terms, lo, hi)))
        if kind == "search.phrase":
            pair = q.phrase()
            return (lambda: s.phrase(pair).collect(),
                    lambda rows: checks.phrase_ok(rows, o.phrase(*pair)))
        if kind == "search.topk_batch":
            batch = {f"q{i}": q.terms_for_query() for i in range(BATCH_QUERIES)}
            sample = q.sample(sorted(batch), BATCH_CHECKED)
            return (lambda: s.topk_batch(batch, K).collect(),
                    lambda rows: checks.topk_batch_ok(
                        rows, {qid: o.topk(batch[qid], K) for qid in sample}))
        if kind == "search.read_values_batch":
            batch = {f"q{i}": (q.terms_for_query(3), *q.doc_range()) for i in range(BATCH_QUERIES)}
            sample = q.sample(sorted(batch), BATCH_CHECKED)
            return (lambda: s.read_values_batch(batch).collect(),
                    lambda rows: checks.read_batch_ok(
                        rows, {qid: o.read_values(*batch[qid]) for qid in sample}))
        raise ValueError(kind)

    def loop(self) -> None:
        r = self.run
        rng = np.random.default_rng([r.seed, 7])
        t0 = time.perf_counter()
        while r.time_left(t0):
            for i in rng.permutation(len(SERVE_ROUND)):
                kind = SERVE_ROUND[int(i)]
                fn, check = self.op(kind)
                r.rec.call(kind, fn, check)
        r.named["positions_build_turns_per_s"] = (
            r.sizes["turns"] / self.build_s, "turns/s n=1 set-up build"
        )
        r.put_ms("topk", "search.topk")
        r.put_ms("read", "search.read_values")
        r.put_ms("phrase", "search.phrase")
        secs = r.rec.seconds("search.topk_batch")
        if secs:
            r.named["batch_qps"] = (BATCH_QUERIES / median(secs), f"1/s n={len(secs)}")

    def close(self) -> None:
        if self.searcher is not None:
            self.searcher.close()


# ---------------------------------------------------------------- churn ---
class Churn:
    """Merge periods on a base store. A period is CHURN_MERGE_EVERY cycles
    (append an increment, delete whole conversations, refresh, query the
    multi-segment store with tombstones), then a merge and a refresh."""

    def __init__(self, run: Run):
        self.run = run
        self.searcher = None

    def setup(self) -> None:
        r = self.run
        # the last increment is appended by the warm-up cycle
        n_inc = CHURN_PERIODS * CHURN_MERGE_EVERY + 1
        all_turns = make_turns(r.seed, CHURN_BASE_TURNS + n_inc * CHURN_INCREMENT_TURNS)
        base_n = CHURN_BASE_TURNS
        self.base = all_turns.iloc[:base_n]
        self.bs = r.bucket_size(base_n)
        with r.setup_phase("inputs"), r.span("setup.inputs"):
            docs = r.read_docs(self.base, "churn-base")
            # every increment is a doc-id range of one scan
            inc_turns = all_turns.iloc[base_n:]
            inc_docs = r.read_docs(inc_turns, "churn-increments", n_inc)
        self.increments = []
        for c in range(n_inc):
            inc = inc_turns.iloc[c * CHURN_INCREMENT_TURNS: (c + 1) * CHURN_INCREMENT_TURNS]
            lo, hi = int(inc["doc_id"].min()), int(inc["doc_id"].max())
            self.increments.append((inc, inc_docs.where(f"doc_id between {lo} and {hi}")))
        store = r.new_store("churn")
        with r.setup_phase("build"), r.span("setup.build"):
            build_index(r.spark, docs, store, bucket_size=self.bs)
        self.live = self.base.copy()
        self.oracle = checks.LiveOracle(self.live[["doc_id", "text"]])
        r.rec.verify("setup.build_index", lambda: checks.store_ok(store, self.oracle))
        for _ in range(SETUP_REPS):
            with r.setup_phase("replica"):
                if self.searcher is not None:
                    self.searcher.close()
                with r.span("search.open"):
                    self.searcher = Searcher(r.spark, store).open()
        self.store = store
        r.docs_df = docs
        self.q = QueryGen(r.seed, "churn", self.oracle.index, self.live)
        self.del_rng = np.random.default_rng([r.seed, 11])
        with r.setup_phase("warm"), r.span("setup.warm"):
            # one untimed cycle and merge warm every plan shape the loop times
            untimed = lambda kind, fn, check: fn()  # noqa: E731
            self.cycle(*self.increments[-1], untimed)
            self.merge(untimed)
        r.live_store = store

    def loop(self) -> None:
        r = self.run
        t0 = time.perf_counter()
        # whole periods, so every run times the same call mix
        for p in range(CHURN_PERIODS):
            if not r.time_left(t0):
                break
            for inc, inc_docs in self.increments[p * CHURN_MERGE_EVERY: (p + 1) * CHURN_MERGE_EVERY]:
                self.cycle(inc, inc_docs, r.rec.call)
            self.merge(r.rec.call)
        r.live_text_bytes = text_bytes(self.live)
        r.put_rate("build_turns_per_s", "build.build_index", CHURN_INCREMENT_TURNS, "turns/s")
        r.put_s("delete_s", "store.delete_docs")
        r.put_s("refresh_s", "search.refresh")
        r.put_s("compact_s", "merge.merge_segments")
        r.put_ms("topk", "search.topk")
        r.put_ms("read", "search.read_values")

    def cycle(self, inc: pd.DataFrame, inc_docs, call) -> None:
        """Append ``inc``, delete, refresh, query; each engine call goes
        through ``call(kind, fn, check)``."""
        r, store, s = self.run, self.store, self.searcher
        spark = r.spark
        inc_oracle = checks.LiveOracle(inc[["doc_id", "text"]])
        before = set(store.live_segments()["segment_id"])
        call(
            "build.build_index",
            lambda: build_index(spark, inc_docs, store, bucket_size=self.bs),
            lambda sid: checks.store_ok(store, inc_oracle, [sid])
            and set(store.live_segments()["segment_id"]) == before | {sid},
        )
        self.live = pd.concat([self.live, inc], ignore_index=True)
        picked = self.pick_conversations()
        ids = [int(d) for d in self.live.loc[self.live["conv_id"].isin(picked), "doc_id"]]
        n_batches = len(store.live_deletes())
        call(
            "store.delete_docs",
            lambda: store.delete_docs(spark, ids),
            lambda did: did is not None and len(store.live_deletes()) == n_batches + 1,
        )
        self.live = self.live[~self.live["conv_id"].isin(picked)].reset_index(drop=True)
        self.oracle = checks.LiveOracle(self.live[["doc_id", "text"]])
        self.q.refresh(self.oracle.index, self.live)
        call("search.refresh", s.refresh, lambda _: self.stats_ok())
        # sizes after the last cycle are the period's peak: every increment
        # a segment of its own, every delete batch live
        r.record_sizes(store, len(self.live))
        o, q = self.oracle, self.q
        for _ in range(CHURN_TOPK):
            terms = q.terms_for_query()
            call("search.topk", lambda: s.topk(terms, K).collect(),
                 lambda rows: checks.topk_ok(rows, o.topk(terms, K)))
        for _ in range(CHURN_READS):
            terms = q.terms_for_query(3)
            lo, hi = q.doc_range()
            call("search.read_values", lambda: s.read_values(terms, lo, hi).collect(),
                 lambda rows: checks.read_ok(rows, o.read_values(terms, lo, hi)))

    def merge(self, call) -> None:
        """Merge every live segment into one, purging tombstones, then
        refresh."""
        r, store = self.run, self.store
        call(
            "merge.merge_segments",
            lambda: merge_segments(r.spark, store, min_files=2, max_files=64),
            lambda sid: checks.store_ok(store, self.oracle, [sid])
            and len(store.live_segments()) == 1,
        )
        call("search.refresh", self.searcher.refresh, lambda _: self.stats_ok())

    def pick_conversations(self) -> list[str]:
        """Live conversations in seeded random order, until they hold at
        least CHURN_DELETE_FRAC of the live turns."""
        sizes = self.live.groupby("conv_id").size()
        target = max(1, math.ceil(CHURN_DELETE_FRAC * len(self.live)))
        picked, n = [], 0
        for conv in self.del_rng.permutation(sizes.index.to_numpy()):
            picked.append(conv)
            n += int(sizes[conv])
            if n >= target:
                break
        return picked

    def stats_ok(self) -> bool:
        n, avgdl = self.searcher.stats
        idx = self.oracle.index
        return n == idx.n_docs and abs(avgdl - idx.avgdl) <= 1e-9 * max(1.0, idx.avgdl)

    def close(self) -> None:
        if self.searcher is not None:
            self.searcher.close()


WORKLOADS = {"serve": Serve, "churn": Churn}
