"""Repeat runs and the one-time traced report.

    python3 dfbench/report.py sequence
    python3 dfbench/report.py summary
    python3 dfbench/report.py once

``sequence`` makes the 4 + 2 x 22 untraced runs of a benchmark check in
one go, in the order 2 + 2 runs of both workloads, then two sets of ten
seeds per workload, then 2 + 2 more. It appends each run to
dfbench/results/sequence.jsonl and prints the total time, each set's
medians and quartile spreads (Q3 - Q1) / median, the figure the bounds in
BENCHMARK.json are set against, and how far the second set's medians
moved from the first's (``summary`` prints this again). Run it from a fresh copy of the tree, so that inputs are
generated as in a fresh checkout.

``once`` writes dfbench/results/report.json: a traced run of each
workload, ``batch_curate`` at ``local[1]`` as the single-thread baseline,
host steal and load for each run, and the tracing overhead (traced
``turns_per_s`` against the median untraced one from the sequence file).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, "results")


def bench(workload: str, seed: int, trace: int = 0, cores: int | None = None) -> dict:
    cmd = [sys.executable, os.path.join("dfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "50", "--trace", str(trace)]
    if cores:
        cmd += ["--cores", str(cores)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode or len(lines) < 2:
        raise RuntimeError(f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return {"info": json.loads(lines[-2]), "result": json.loads(lines[-1]),
            "process_s": time.time() - t0, "trace": trace, "cores": cores}


def spread_of(values: list[float]) -> tuple[float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


SEQUENCE = (
    [("stream_catchup", 1001), ("batch_curate", 1001),
     ("stream_catchup", 1002), ("batch_curate", 1002)]
    + [(wl, seed) for lo in (1, 11) for wl in ("stream_catchup", "batch_curate")
       for seed in range(lo, lo + 10)]
    + [("stream_catchup", 21), ("batch_curate", 21),
       ("stream_catchup", 22), ("batch_curate", 22)]
)


def _sequence_path() -> str:
    return os.path.join(RESULTS, "sequence.jsonl")


def sequence() -> None:
    os.makedirs(RESULTS, exist_ok=True)
    t0 = time.time()
    with open(_sequence_path(), "a") as f:
        for wl, seed in SEQUENCE:
            rec = {"workload": wl, "seed": seed, **bench(wl, seed)}
            rec["total_s"] = time.time() - t0
            f.write(json.dumps(rec) + "\n")
            f.flush()
            res = rec["result"]
            print(wl, seed, res["correct"], round(rec["process_s"], 1), round(rec["total_s"]),
                  {k: round(v["value"], 2) for k, v in res["metrics"].items()}, flush=True)
    summarize()


def summarize() -> None:
    with open(_sequence_path()) as f:
        recs = [json.loads(x) for x in f]
    print(f"{len(recs)} runs in {recs[-1]['total_s']:.0f} s, "
          f"all correct: {all(r['result']['correct'] for r in recs)}")
    for wl in ("stream_catchup", "batch_curate"):
        runs = [r for r in recs if r["workload"] == wl]
        process = [r["process_s"] for r in runs]
        print(f"{wl}: process_s median {statistics.median(process):.1f}, max {max(process):.1f}")
        medians = {}
        for k, lo in enumerate((1, 11), 1):
            sel = [r for r in runs if lo <= r["seed"] < lo + 10]
            steal = [r["info"]["host.steal_frac"] for r in sel]
            print(f"  set {k} (seeds {lo}-{lo + 9}), host steal median {statistics.median(steal):.3f}"
                  f" max {max(steal):.3f}")
            for name in sel[0]["result"]["metrics"]:
                med, spr = spread_of([r["result"]["metrics"][name]["value"] for r in sel])
                medians.setdefault(name, []).append(med)
                print(f"    {name:14s} median {med:10.3f}  spread {spr:.3f}")
        print("  set 2 against set 1: " + ", ".join(
            f"{n} {m[1] / m[0] - 1:+.3f}" for n, m in medians.items()))


def once() -> None:
    report = {"host": {"nproc": len(os.sched_getaffinity(0))}, "runs": {}}
    for key, wl, trace, cores in (("stream_catchup.traced", "stream_catchup", 1, None),
                                  ("batch_curate.traced", "batch_curate", 1, None),
                                  ("batch_curate.local1", "batch_curate", 0, 1)):
        rec = bench(wl, 101, trace, cores)
        info = rec["info"]
        report["runs"][key] = {
            "seed": 101, "cores": info["cores"], "process_s": rec["process_s"],
            "wall_s": info["wall_s"], "phases": info["phases"],
            "host_steal_frac": info["host.steal_frac"], "host_load_1m": info["host.load_1m"],
            "correct": rec["result"]["correct"], "failed_ops": [
                o for o in info["ops"] if not o["ok"]],
            "metrics": {k: v["value"] for k, v in rec["result"]["metrics"].items()},
        }
        print(key, "done", round(rec["process_s"], 1), flush=True)
    overhead = {}
    with open(_sequence_path()) as f:
        recs = [json.loads(x) for x in f]
    for wl in ("stream_catchup", "batch_curate"):
        untraced = [r["result"]["metrics"]["turns_per_s"]["value"]
                    for r in recs if r["workload"] == wl]
        traced = report["runs"][f"{wl}.traced"]["metrics"]["traced.turns_per_s"]
        base = statistics.median(untraced)
        overhead[wl] = {"untraced_median_turns_per_s": base, "untraced_runs": len(untraced),
                        "traced_turns_per_s": traced, "slowdown_frac": 1 - traced / base}
    report["tracing_overhead"] = overhead
    local1 = report["runs"]["batch_curate.local1"]["metrics"]["turns_per_s"]
    report["batch_curate_local1_turns_per_s"] = local1
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(overhead, indent=1))


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    sub.add_parser("sequence")
    sub.add_parser("summary", help="print the summary of results/sequence.jsonl")
    sub.add_parser("once")
    a = p.parse_args()
    if a.cmd == "sequence":
        sequence()
    elif a.cmd == "summary":
        summarize()
    else:
        once()


if __name__ == "__main__":
    main()
