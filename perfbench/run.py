"""ii-spark benchmark: seeded, oracle-checked ``serve`` and ``churn`` workloads.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 5 --trace 0

One closed-loop client drives the engine on local[N], N = the CPUs this
process may run on. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` turns on the Spark event log and prints the per-layer
table instead. Either way the last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. The lines before it give
the answer-check verdict, every named workload metric (topk_p50_ms,
refresh_s, ...) with its unit and sample count, the store sizes and the
host record.

The end-to-end metrics are aggregates every workload has: set-up time,
calls per second over the run's fixed call mix, store bytes per input
byte and the share of calls answered correctly. Their times are scaled
to the reference host speed (see ``loop.py``); the raw values are
printed beside them. ``--trace 1`` prints them too and also reports the
two timed ones as ``trace.setup_s`` and ``trace.ops_per_s``: tracing
overhead is their difference from a ``--trace 0`` run of the same seed.

Everything the run writes goes under ``.perfbench_work/`` in the current
directory; stores, inputs and Spark scratch space are removed at the end,
the trace (spans, jobs, per-layer table) and host record are kept.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
# import the engine and this package from the checkout, not from the
# script's directory
sys.path[0] = ROOT

from inverted_index_spark import get_spark  # noqa: E402  (fails outside a checkout)

from perfbench import spans as tr  # noqa: E402
from perfbench.workloads import SETUP_REPS, WORKLOADS, Run  # noqa: E402

DRIVER_HEAP = "3g"
JOB_FLOOR_REPS = 5
PROBE_REPS = 3
CODEC_ROWS = 4000

E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "bytes_per_input_byte": "ratio",
    "ok_frac": "frac",
}
STAT_UNITS = {
    "calls": "count",
    "wall_ms": "ms",
    "jobs": "count",
    "exec_ms": "ms",
    "driver_ms": "ms",
    "shuffle_bytes": "bytes",
    "failed_tasks": "count",
}
EXTRA_LAYER_UNITS = {
    "spark.job_floor_ms": "ms",
    "codec.decode_postings.postings_per_s": "1/s",
    "codec.decode_rows_concat.postings_per_s": "1/s",
    "codec.encode_postings.postings_per_s": "1/s",
    "store.live_bytes": "bytes",
    "trace.setup_s": "s",
    "trace.ops_per_s": "1/s",
    "trace.unattributed_jobs": "count",
    "trace.misattributed_jobs": "count",
}


def cpu_steal_s() -> float:
    """Cumulative CPU steal time of the host, in seconds."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def start_session(name: str, work: str, nproc: int, trace: bool):
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    # Python workers and Spark scratch space stay inside the work dir
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": local,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update(tr.eventlog_conf(log_dir))
    spark = get_spark(f"perfbench-{name}", cores=nproc, shuffle_partitions=nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)


def job_floor_ms(run: Run) -> float:
    times = []
    for _ in range(JOB_FLOOR_REPS):
        t0 = time.perf_counter()
        with run.span("spark.job_floor"):
            run.spark.range(1).count()
        times.append(1000.0 * (time.perf_counter() - t0))
    return statistics.median(times)


def tokenizer_probe(run: Run) -> None:
    """Time the JVM tokenizer alone, its rows written to a noop sink."""
    from inverted_index_spark.functions.tokenizer import tokenize

    for _ in range(PROBE_REPS):
        with run.span("tokenizer.tokenize"):
            tokenize(run.docs_df).write.format("noop").mode("overwrite").save()


def codec_probe(run: Run) -> dict[str, float]:
    """Postings per second through the codec's public functions, on rows
    sampled from the workload's live store."""
    import numpy as np
    import pyarrow.parquet as pq

    from inverted_index_spark.functions import codec

    store = run.live_store
    cols = {"postings": [], "tfs": [], "dls": [], "blocks": []}
    for seg in store.live_segments()["segment_id"]:
        t = pq.read_table(os.path.join(store.seg_dir(seg), "postings"), columns=list(cols))
        for c in cols:
            cols[c].extend(t.column(c).to_pylist())
    rng = np.random.default_rng([run.seed, 3])
    pick = sorted(rng.choice(len(cols["blocks"]), size=min(CODEC_ROWS, len(cols["blocks"])), replace=False))
    rows = [tuple(cols[c][int(i)] for c in ("postings", "tfs", "dls", "blocks")) for i in pick]
    rows = [r for r in rows if r[3]]
    n = sum(b["n"] for r in rows for b in r[3])
    rates: dict[str, list[float]] = {"decode_postings": [], "decode_rows_concat": [], "encode_postings": []}
    for _ in range(PROBE_REPS):
        t0 = time.perf_counter()
        decoded = [codec.decode_postings(*r) for r in rows]
        rates["decode_postings"].append(n / (time.perf_counter() - t0))
        t0 = time.perf_counter()
        codec.decode_rows_concat(*zip(*rows))
        rates["decode_rows_concat"].append(n / (time.perf_counter() - t0))
        t0 = time.perf_counter()
        for d, tf, dl in decoded:
            codec.encode_postings(d, tf, dl)
        rates["encode_postings"].append(n / (time.perf_counter() - t0))
    return {f"codec.{k}.postings_per_s": statistics.median(v) for k, v in rates.items()}


def end_to_end(run: Run, live_ratio: float, scaled: bool) -> dict[str, float]:
    rec = run.rec
    secs = rec.seconds(scaled=scaled)
    return {
        "setup_s": run.setup_seconds(scaled),
        "ops_per_s": len(secs) / sum(secs),
        "bytes_per_input_byte": live_ratio,
        "ok_frac": 1.0 - rec.failed / rec.attempted,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    os.makedirs(work)
    steal0, wall0 = cpu_steal_s(), time.time()
    t0 = time.perf_counter()
    spark = start_session(args.workload, work, nproc, trace)
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    tracer = tr.Tracer(sc) if trace else None
    run = Run(spark, work, args.seed, args.seconds, tracer)
    workload = WORKLOADS[args.workload](run)
    layer_extra: dict[str, float] = {}
    try:
        workload.setup()
        workload.loop()
        floor_ms = job_floor_ms(run)
        live_bytes = run.store_bytes(run.live_store)
        if trace:
            tokenizer_probe(run)
            layer_extra.update(codec_probe(run))
        host = {
            "nproc": nproc,
            "master": sc.master,
            "driver_heap": spark.conf.get("spark.driver.memory"),
            "spark.job_floor_ms": round(floor_ms, 3),
            "session_start_s": round(session_s, 3),
            "pyspark": __import__("pyspark").__version__,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
        }
    finally:
        workload.close()
        stop_session(spark)
    steal = cpu_steal_s() - steal0
    wall = time.time() - wall0
    host["steal_s"] = round(steal, 3)
    host["steal_frac"] = round(steal / (wall * nproc), 5)
    host["wall_s"] = round(wall, 3)
    host["probe_ms"] = round(statistics.median(run.rec.probes), 3)

    rec = run.rec
    live_ratio = live_bytes / run.live_text_bytes
    e2e = {scaled: end_to_end(run, live_ratio, scaled) for scaled in (True, False)}
    verdict = "PASS" if rec.failed == 0 else "FAIL"
    print(f"workload {args.workload} seed={args.seed} answers={verdict} "
          f"failed={rec.failed}/{rec.attempted}")
    print("  gated metrics, times scaled to the reference host speed (raw in brackets):")
    for name, value in e2e[True].items():
        print(f"  {name} = {value:.6g} {E2E_UNITS[name]} [{e2e[False][name]:.6g}]")
    print("  workload metrics, raw:")
    named = {
        "setup_s": (run.setup_seconds(), f"s median of {SETUP_REPS} replicas + one-off phases"),
        **run.named,
        "bytes_per_input_byte": (live_ratio, "ratio"),
        "failed_frac": (rec.failed / rec.attempted, f"frac {rec.failed}/{rec.attempted}"),
    }
    for name, (value, unit) in named.items():
        print(f"  {name} = {value:.6g} {unit}")
    for f in rec.failures()[:20]:
        print(f"  failed call: {f}")
    print("sizes " + json.dumps(run.sizes))
    print("setup " + json.dumps({k: [round(x, 3) for x in v] for k, v in run.setup_times.items()}))
    print("host " + json.dumps(host))

    if trace:
        jobs = tr.read_eventlog(os.path.join(work, "eventlog"))
        owner, unattributed, mismatched = tr.attribute(tracer.spans, jobs)
        table = tr.layer_table(tracer.spans, jobs, owner)
        layer_extra.update({
            "spark.job_floor_ms": floor_ms,
            "store.live_bytes": live_bytes,
            "trace.unattributed_jobs": unattributed,
            "trace.misattributed_jobs": mismatched,
            "trace.setup_s": e2e[True]["setup_s"],
            "trace.ops_per_s": e2e[True]["ops_per_s"],
        })
        metrics = {}
        print(f"{'span':32s} " + " ".join(f"{s:>13s}" for s in tr.SPAN_STATS))
        for span in tr.LAYER_SPANS:
            row = table.get(span, {s: 0 for s in tr.SPAN_STATS})
            print(f"{span:32s} " + " ".join(f"{row[s]:13.1f}" for s in tr.SPAN_STATS))
            for s in tr.SPAN_STATS:
                metrics[f"{span}.{s}"] = {"value": row[s], "unit": STAT_UNITS[s]}
        for name, unit in EXTRA_LAYER_UNITS.items():
            metrics[name] = {"value": layer_extra[name], "unit": unit}
        print("trace " + json.dumps({k: layer_extra[k] for k in EXTRA_LAYER_UNITS}))
        tr.write_trace(
            os.path.join(work, "trace.json"), tracer.spans, jobs, owner,
            {"table": table, "host": host, "sizes": run.sizes, "named": run.named},
        )
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e[True].items()}
        with open(os.path.join(work, "run.json"), "w") as fh:
            json.dump({"host": host, "sizes": run.sizes, "named": run.named, "metrics": metrics,
                       "calls": [c.__dict__ for c in rec.calls]}, fh)
    for sub in ("stores", "inputs", "spark-local", "tmp", "eventlog", "warehouse"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    print(json.dumps({
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
