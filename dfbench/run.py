"""Benchmark entry point.

    python3 dfbench/run.py --workload stream_catchup --seed 1 --seconds 50 --trace 0

Run from the root of a dataflow_spark checkout. Builds the seeded input
(cached under dfbench/.cache), starts a cold ``local[nproc]`` session,
runs the workload once with fresh output/checkpoint directories, checks
its outputs, and prints one JSON object as the last stdout line:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1`` (spans go to dfbench/traces/). ``--seconds`` is recorded
only: each workload is a fixed amount of work (see NOTES.md).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procstat  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "turns_per_s": "turns/s",
    "cpu_s": "s",
}

# per-layer metric -> unit; every traced run reports all of them, a layer
# the workload bypasses reads 0
_PER_QUERY = {"first_ms": "ms", "steady_ms": "ms", "addBatch_ms": "ms",
              "queryPlanning_ms": "ms", "walCommit_ms": "ms", "commitOffsets_ms": "ms"}
_STATEFUL = {"state_rows": "rows", "state_bytes": "bytes", "state_commit_ms": "ms",
             "rows_out": "rows"}
PER_LAYER = {
    "session.start_s": "s",
    "source.batches": "count", "source.rows_per_batch": "rows",
    "source.latestOffset_ms": "ms", "source.getBatch_ms": "ms",
    **{f"{q}.{k}": u for q in ("clean", "assembly", "pairs", "dedup", "scored", "signals")
       for k, u in _PER_QUERY.items()},
    **{f"{q}.{k}": u for q in ("assembly", "pairs") for k, u in _STATEFUL.items()},
    "dedup.probe_s": "s", "dedup.claim_write_s": "s", "dedup.count_s": "s",
    "dedup.bloom_build_s": "s", "dedup.downstream_s": "s",
    "dedup.units_read": "count", "dedup.bytes_read": "bytes", "dedup.keep_ratio": "ratio",
    "order_rank.s": "s", "dedup_exact.keep_ratio": "ratio",
    "minhash.s": "s", "minhash.jobs": "count", "minhash.keep_ratio": "ratio",
    "pt.s": "s", "pt.jobs": "count", "refine.warm_s": "s", "dedup_exact.warm_s": "s",
    "filter.warm_s": "s", "quality.warm_s": "s", "filter.keep_ratio": "ratio",
    "windows.tumbling_s": "s", "windows.sliding_s": "s", "windows.session_s": "s",
    "windows.rows_out": "rows",
    "train.s": "s", "train.bpe_s": "s", "train.bigram_s": "s",
    "score.s": "s", "score.keep_ratio": "ratio",
    "sink.write_s": "s", "sink.commits": "count", "sink.partition_skew": "ratio",
    "sink.read_s": "s",
    **{f"{st}.{k}": "s" for st in ("pt", "minhash", "windows", "train", "score")
       for k in ("warm_s", "cold_tax_s")},
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "traced.turns_per_s": "turns/s",
    "process.peak_rss_mb": "MB", "process.jvm_rss_mb": "MB", "process.python_rss_mb": "MB",
    "host.steal_frac": "ratio", "host.load_1m": "count",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=50)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=None,
                   help="local[N] master (default: the CPUs this process may use)")
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep Spark's scratch files, Python temp files and worker imports
    inside the checkout; must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    # the JVM would otherwise keep its perf-data file under /tmp
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"{opts} -Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem".strip())
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    import tempfile

    tempfile.tempdir = None


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _batch_latency(samples: list[float]) -> dict:
    """Micro-batch durations, with their median only where at least 10
    samples lie beyond it."""
    from spans import percentile_allowed

    out = {"batch_samples_ms": samples}
    if percentile_allowed(len(samples), 0.5):
        out["batch_p50_ms"] = statistics.median(samples)
    return out


def main(argv=None) -> int:
    t_launch = procstat.process_start_epoch()
    launch_s = time.time() - t_launch  # interpreter start and imports
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "dataflow_spark", "__init__.py")) or \
            not os.path.isfile(os.path.join(ROOT, "bench.py")):
        print(f"dfbench: {ROOT} is not a dataflow_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"dfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    cores = args.cores or len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".run", f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    _isolate(work)

    from inputs import ensure_input, read_back_rows
    from spans import Tracer

    tracer = None
    spark = None
    try:
        t0 = time.perf_counter()
        from dataflow_spark.session import get_spark

        spark = get_spark(f"dfbench-{args.workload}", cores=cores)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        if args.trace:
            from workloads import spark_counts

            tracer = Tracer(lambda: spark_counts(spark))
        t1 = time.perf_counter()
        src, generated = ensure_input(os.path.join(HERE, ".cache"), wl.turns, args.seed, wl.files)
        t2 = time.perf_counter()
        run = Run(spark=spark, src=src, turns=wl.turns, work=work, tracer=tracer)
        rows = read_back_rows(src)
        run.op("input.rows", rows == wl.turns, f"read back {rows} of {wl.turns} turns")
        setup_s = time.time() - t_launch
        phases = {"launch_s": launch_s, "session_s": session_s, "input_s": t2 - t1,
                  "read_back_s": time.perf_counter() - t2}
        res = wl.run(run)
        t3 = time.perf_counter()
    finally:
        if tracer:
            tracer.restore()
        if spark is not None:
            _stop_spark(spark)
        # output dirs stay until the session is gone: the app's metrics
        # listener is never removed and writes into them until then
        shutil.rmtree(work, ignore_errors=True)
    phases["after_timed_s"] = time.perf_counter() - t3

    host = {"host.steal_frac": res["host_steal_frac"], "host.load_1m": res["host_load_1m"]}
    e2e = {
        "setup_s": setup_s,
        "turns_per_s": res.get("turns_done", wl.turns) / res["wall_s"],
        "cpu_s": res["cpu_s"],
    }
    memory = {"process.peak_rss_mb": res["peak_rss_mb"],
              "process.jvm_rss_mb": res["peak_rss_parts_mb"].get("jvm", 0.0),
              "process.python_rss_mb": res["peak_rss_parts_mb"].get("other", 0.0)}
    if args.trace:
        layer = {name: 0.0 for name in PER_LAYER}
        layer.update(run.layer)
        layer.update({"session.start_s": session_s, **host, **memory})
        os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
        tracer.dump(os.path.join(
            HERE, "traces", f"{args.workload}-s{args.seed}-{tracer.run_id}.jsonl"))
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    for k, v in metrics.items():
        if not math.isfinite(v["value"]):
            run.op(f"metric.{k}", False, f"not measured: {v['value']}")
            v["value"] = 0.0
    failed = sum(not o["ok"] for o in run.ops)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "input_generated": generated, "wall_s": res["wall_s"],
        **{k: res[k] for k in ("pass_walls_s", "pass_cpu_s") if k in res},
        **_batch_latency(res.get("batch_samples", [])), "phases": phases,
        "failed_frac": {"value": failed / len(run.ops), "unit": "ratio"},
        "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
        **host, **memory, "ops": run.ops,
    }))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
