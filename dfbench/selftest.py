"""Self-tests of the benchmark itself.

    python3 dfbench/selftest.py            # unit checks plus a back-to-back stream run (~3 min)
    python3 dfbench/selftest.py --quick    # unit checks only (seconds, no Spark)

The stream check runs the streaming workload twice in one session on a
small input and asserts that both runs train their models (no artifact
left from the first run is reloaded) and both run four input batches per
query (no checkpoint left from the first run turns the second into a
replay).
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import Tracer, percentile_allowed, self_times  # noqa: E402


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 3.0),   # child
        _span(3, 1, 2.0, 4.0),   # overlaps child 2: union 1..4 covers 3
        _span(4, 1, 9.0, 12.0),  # runs past the parent: only 9..10 counts
        _span(5, 2, 1.5, 2.5),   # grandchild: covered by 2, not subtracted from 1
        _span(6, None, 20.0, 21.0),
    ]
    st = self_times(spans)
    assert abs(st[1] - (10.0 - 3.0 - 1.0)) < 1e-9, st
    assert abs(st[2] - (2.0 - 1.0)) < 1e-9, st
    assert abs(st[3] - 2.0) < 1e-9 and abs(st[5] - 1.0) < 1e-9, st
    assert abs(st[6] - 1.0) < 1e-9, st


def test_tracer_nesting():
    t = Tracer()
    with t.span("outer"):
        with t.span("inner"):
            pass
    by = {s["name"]: s for s in t.spans}
    assert by["inner"]["parent"] == by["outer"]["id"]
    assert by["outer"]["parent"] is None
    assert {s["run"] for s in t.spans} == {t.run_id}

    class Box:
        def f(self, x):
            return x + 1

    t.wrap(Box, "f", "box.f")
    assert Box().f(1) == 2 and t.named("box.f")
    t.restore()
    assert Box().f(1) == 2 and len(t.named("box.f")) == 1


def test_percentile_rule():
    # p50 needs 10 samples beyond it: 20 samples is the least
    assert not percentile_allowed(19, 0.5)
    assert percentile_allowed(20, 0.5)
    assert percentile_allowed(24, 0.5)
    assert not percentile_allowed(24, 0.9)
    assert not percentile_allowed(99, 0.9) and percentile_allowed(100, 0.9)
    assert not percentile_allowed(0, 0.5)
    # the stream's 12 micro-batches (6 queries x 2) get no median
    import run

    assert "batch_p50_ms" not in run._batch_latency([1.0] * 12)
    assert run._batch_latency([1.0] * 20)["batch_p50_ms"] == 1.0


def test_metric_names_match_benchmark_json():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END, (e2e, run.END_TO_END)
    assert per_layer == run.PER_LAYER
    from workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)


def test_back_to_back_stream_runs_both_train():
    import run
    from workloads import STREAM_BATCHES, Run, stream_catchup

    root = os.path.dirname(HERE)
    sys.path.insert(0, root)
    work = os.path.join(HERE, ".run", f"selftest-{os.getpid()}")
    run._isolate(work)
    from dataflow_spark.session import get_spark
    from inputs import ensure_input

    spark = get_spark("dfbench-selftest", cores=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        src, _ = ensure_input(os.path.join(HERE, ".cache"), 800, 11, 8)
        for attempt in (1, 2):
            r = Run(spark=spark, src=src, turns=800, work=work, tracer=None)
            stream_catchup(r)
            ops = {o["op"]: o for o in r.ops}
            assert ops["app.models_trained"]["ok"], (attempt, ops["app.models_trained"])
            for q in ("clean", "assembly", "pairs", "dedup", "scored", "signals"):
                assert ops[f"query.{q}"]["detail"].startswith(
                    f"{STREAM_BATCHES} input batches"), (
                    attempt, ops[f"query.{q}"])
    finally:
        run._stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    tests = [test_self_time, test_tracer_nesting, test_percentile_rule,
             test_metric_names_match_benchmark_json]
    if "--quick" not in sys.argv:
        tests.append(test_back_to_back_stream_runs_both_train)
    for test in tests:
        test()
        print(f"ok  {test.__name__}", flush=True)
