"""The two workloads: a cold streaming catch-up through the composed app,
and one static batch pass over the same operator layers.

Each workload gets a ``Run`` (session, input directory, fresh work
directory, optional tracer) and returns end-to-end measurements; output
checks run after the timed part and are recorded as operations.
"""

from __future__ import annotations

import itertools
import os
import statistics
import time
from dataclasses import dataclass, field

from procstat import TreeMonitor, tree_cpu_s
from spans import Tracer

QUERIES = ("clean", "assembly", "pairs", "dedup", "scored", "signals")
# stream_catchup drains a seeded backlog of 3,000 turns in 8 parquet files,
# 4 files per trigger, 2 micro-batches a query; batch_curate passes over
# 1,000 seeded turns in 8 files
TURNS, FILES, FILES_PER_TRIGGER = 3000, 8, 4
STREAM_BATCHES = FILES // FILES_PER_TRIGGER
BATCH_TURNS = 1000
# engine phases Spark reports per micro-batch besides triggerExecution
PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
DEDUP_PHASES = ("probe", "claim_write", "count", "bloom_build", "downstream")


@dataclass
class Workload:
    turns: int
    files: int
    run: object  # callable(Run) -> dict of measurements


@dataclass
class Run:
    spark: object
    src: str
    turns: int
    work: str
    tracer: Tracer | None
    ops: list = field(default_factory=list)
    layer: dict = field(default_factory=dict)

    def op(self, name: str, ok: bool, detail: str = "") -> bool:
        self.ops.append({"op": name, "ok": bool(ok), "detail": detail})
        return bool(ok)

    def attempt(self, name: str, fn):
        """Run ``fn`` as one operation; a raised error fails the operation."""
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 - any failure is counted, not fatal
            self.op(name, False, f"{type(e).__name__}: {e}"[:500])
            return None
        self.op(name, True)
        return out

    def check(self, name: str, fn) -> bool:
        """Run ``fn`` as one output check: it fails unless it returns true."""
        try:
            ok, detail = bool(fn()), ""
        except Exception as e:  # noqa: BLE001 - a crashing check is a failed check
            ok, detail = False, f"{type(e).__name__}: {e}"[:500]
        return self.op(name, ok, detail or ("" if ok else "check failed"))

    def fresh(self, name: str) -> str:
        """Create and return a new, empty directory under the work dir."""
        for i in itertools.count(1):
            path = os.path.join(self.work, f"{name}-{i}")
            if not os.path.exists(path):
                os.makedirs(path)
                return path

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else _NullSpan()


class _NullSpan:
    def __enter__(self):
        return {}

    def __exit__(self, *exc):
        return None


def spark_counts(spark) -> dict:
    """Jobs, stage attempts and tasks the Spark application has run so far.

    Read from the driver's status store through the JVM gateway: the public
    ``statusTracker()`` lists job ids only per job group, and the streaming
    queries, their foreachBatch callbacks and the driver thread each run
    jobs under a different group, so it cannot give application totals.
    """
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    kv = store.store()
    cls = jvm.java.lang.Class.forName
    execs = store.executorList(True)
    return {
        "jobs": kv.count(cls("org.apache.spark.status.JobDataWrapper")),
        "stages": kv.count(cls("org.apache.spark.status.StageDataWrapper")),
        "tasks": sum(execs.apply(i).totalTasks() for i in range(execs.size())),
    }


def noop(df) -> None:
    """Materialize every row and column without keeping them."""
    df.write.format("noop").mode("overwrite").save()


def noop_cached(df, held: list):
    """Materialize ``df`` to noop while caching its rows, so the output
    checks after the timed part read them instead of recomputing the step
    (the outputs are a few thousand rows)."""
    df = df.persist()
    held.append(df)
    noop(df)
    return df


def _sorted(pdf, keys):
    return pdf.sort_values(list(keys)).reset_index(drop=True)


# --------------------------------------------------------------- streaming

def stream_catchup(r: Run) -> dict:
    from dataflow_spark.streaming.app import TranscriptsApp

    spark = r.spark
    app = TranscriptsApp(src_dir=r.src, out_dir=r.fresh("app"),
                         max_files_per_trigger=FILES_PER_TRIGGER)
    sinks = {
        "clean": app.clean_sink, "assembly": app.assembly_sink, "pairs": app.pairs_sink,
        "dedup": app.dedup_sink, "scored": app.scored_sink, "signals": app.signals_sink,
    }
    if r.tracer:
        _trace_stream_layers(r.tracer)
    mon = TreeMonitor().start()
    c0 = spark_counts(spark)
    t0 = time.perf_counter()
    with r.span("app.start"):
        queries = app.start(spark, available_now=True)
    deadline = time.monotonic() + 150
    with r.span("stream.await"):
        for q in queries:
            q.awaitTermination(max(1, int(deadline - time.monotonic())))
    tables = {}
    with r.span("sink.read"):
        for name, sink in sinks.items():
            tables[name] = r.attempt(f"read.{name}", lambda s=sink: s.read_table(spark).toPandas())
    wall = time.perf_counter() - t0
    usage = mon.stop()
    c1 = spark_counts(spark)

    progress = {}
    for q in queries:
        if q.isActive:
            q.stop()
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        progress[q.name] = batches
        err = q.exception()
        r.op(
            f"query.{q.name}",
            err is None and len(batches) == STREAM_BATCHES,
            f"{len(batches)} input batches" + (f"; {err}" if err else ""),
        )
    trained = getattr(app, "models_loaded_from_artifact", None) is False
    r.op("app.models_trained", trained, "trained in start()" if trained else "no fresh training")
    samples = [float(p["durationMs"]["triggerExecution"]) for b in progress.values() for p in b]

    _check_stream(r, app, sinks, tables)
    if r.tracer:
        _stream_layer_metrics(r, progress, tables, sinks, wall, c0, c1)
    app.release_models()
    return {
        "wall_s": wall,
        "batch_samples": sorted(samples),
        **usage,
    }


def _check_stream(r: Run, app, sinks: dict, tables: dict) -> None:
    from dataflow_spark.functions.filters import apply_filters
    from dataflow_spark.functions.refiners import apply_refiners
    from dataflow_spark.schemas import TRANSCRIPTS

    spark = r.spark
    keys = {name: list(sink.keys) for name, sink in sinks.items()}
    for name, pdf in tables.items():
        if pdf is not None:
            dups = int(pdf.duplicated(keys[name]).sum())
            r.op(f"check.{name}.keys_unique", dups == 0 and len(pdf) > 0,
                 f"{len(pdf)} rows, {dups} duplicate keys")

    def scored_equals_twin():
        got = tables["scored"]
        want = app.scored_batch_twin(spark).toPandas()[got.columns.tolist()]
        return _sorted(got, keys["scored"]).equals(_sorted(want, keys["scored"]))

    def clean_equals_static():
        got = tables["clean"]
        static = spark.read.schema(TRANSCRIPTS).parquet(r.src)
        want = apply_filters(apply_refiners(static, app.refiners), app.filters).toPandas()
        want = want[got.columns.tolist()]
        return _sorted(got, keys["clean"]).equals(_sorted(want, keys["clean"]))

    for name, fn in (("check.scored.equals_batch_twin", scored_equals_twin),
                     ("check.clean.equals_static_chain", clean_equals_static)):
        if tables.get(name.split(".")[1]) is None:
            r.op(name, False, "sink not readable")
        else:
            r.check(name, fn)


def _trace_stream_layers(t: Tracer) -> None:
    from dataflow_spark.operators import bpe, lm
    from dataflow_spark.operators import dedup as op_dedup
    from dataflow_spark.streaming.app import TranscriptsApp
    from dataflow_spark.streaming.dedup import StreamingFirstWinsDedup
    from dataflow_spark.streaming.sink import KeyedMergeSink

    def dedup_after(sp, args, _):
        d = args[0]
        sp["timings"] = dict(getattr(d, "last_timings", {}) or {})
        sp["state_read"] = dict(d.last_state_read or {})

    def sink_after(sp, args, _):
        sp["sink"] = os.path.basename(args[0].table_dir)

    t.wrap(TranscriptsApp, "train_models", "train")
    t.wrap(bpe, "train_bpe_local", "train.bpe")
    t.wrap(lm, "bigram_counts", "train.bigram")
    t.wrap(StreamingFirstWinsDedup, "process_batch", "dedup.process_batch", dedup_after)
    t.wrap(op_dedup, "with_order_rank", "order_rank")
    t.wrap(KeyedMergeSink, "foreach_batch", "sink.foreach_batch", sink_after)
    t.wrap(KeyedMergeSink, "read_table", "sink.read_table", sink_after)


def _state_totals(batches: list[dict]) -> dict:
    last = batches[-1]["stateOperators"] if batches else []
    return {
        "state_rows": float(sum(s["numRowsTotal"] for s in last)),
        "state_bytes": float(sum(s["memoryUsedBytes"] for s in last)),
        "state_commit_ms": float(
            sum(s.get("commitTimeMs", 0) for p in batches for s in p["stateOperators"])
        ),
    }


def _stream_layer_metrics(r, progress, tables, sinks, wall, c0, c1) -> None:
    t, m = r.tracer, r.layer
    every = [p for b in progress.values() for p in b]
    m["source.batches"] = float(len(every))
    m["source.rows_per_batch"] = sum(p["numInputRows"] for p in every) / max(len(every), 1)
    for ph in ("latestOffset", "getBatch"):
        m[f"source.{ph}_ms"] = float(sum(p["durationMs"].get(ph, 0) for p in every))
    for q in QUERIES:
        b = progress.get(q, [])
        trig = [float(p["durationMs"]["triggerExecution"]) for p in b]
        m[f"{q}.first_ms"] = trig[0] if trig else 0.0
        m[f"{q}.steady_ms"] = statistics.fmean(trig[1:]) if len(trig) > 1 else 0.0
        for ph in ("addBatch", "queryPlanning", "walCommit", "commitOffsets"):
            m[f"{q}.{ph}_ms"] = float(sum(p["durationMs"].get(ph, 0) for p in b))
        covered = sum(p["durationMs"].get(ph, 0) for p in b for ph in PHASES)
        r.op(f"trace.{q}.phases_cover_trigger",
             trig and abs(covered - sum(trig)) <= 0.1 * sum(trig),
             f"phases {covered} ms of triggerExecution {sum(trig)} ms")
    for q, key in (("assembly", "assembly"), ("pairs", "pairs")):
        for k, v in _state_totals(progress.get(q, [])).items():
            m[f"{key}.{k}"] = v
        m[f"{key}.rows_out"] = float(sum(x["rows"] for x in sinks[q].lineage()))

    dd = t.named("dedup.process_batch")
    for ph in DEDUP_PHASES:
        m[f"dedup.{ph}_s"] = sum(s.get("timings", {}).get(ph, 0.0) for s in dd)
    m["dedup.units_read"] = float(sum(s.get("state_read", {}).get("units_read", 0) for s in dd))
    m["dedup.bytes_read"] = float(sum(s.get("state_read", {}).get("bytes_read", 0) for s in dd))
    n_in = float(r.turns)
    if tables.get("dedup") is not None:
        m["dedup.keep_ratio"] = len(tables["dedup"]) / n_in
    m["order_rank.s"] = t.total("order_rank")
    if tables.get("clean") is not None:
        m["filter.keep_ratio"] = len(tables["clean"]) / n_in
    m["train.s"] = t.total("train")
    m["train.bpe_s"] = t.total("train.bpe")
    m["train.bigram_s"] = t.total("train.bigram")
    m["score.s"] = sum(s["end"] - s["start"] for s in t.named("sink.foreach_batch")
                       if s.get("sink") == "scored")
    if tables.get("scored") is not None:
        m["score.keep_ratio"] = len(tables["scored"]) / n_in

    lineage = [x for s in sinks.values() for x in s.lineage()]
    m["sink.write_s"] = float(sum(x["wall_s"] for x in lineage))
    m["sink.commits"] = float(len(lineage))
    skews = [max(rows) / statistics.fmean(rows)
             for rows in (list(x["partition_rows"].values()) for x in lineage) if rows]
    m["sink.partition_skew"] = statistics.fmean(skews) if skews else 0.0
    m["sink.read_s"] = t.total("sink.read")
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}"] = float(c1[k] - c0[k])
    m["traced.turns_per_s"] = r.turns / wall


# ------------------------------------------------------------------- batch

WINDOW_FAMILIES = ("tumbling", "sliding", "session")
BATCH_STEPS = ("pt", "minhash", "windows", "train", "score")
# batch_curate: passes over its input in one process, the first one cold
PASSES = 2


def _batch_pass(r: Run, tag: str, capture: dict | None = None, cache: bool = False) -> dict:
    """One pass of the five steps; returns per-step seconds, the step
    outputs (cached with ``cache``, for the output checks) and the app that
    holds the models."""
    import bench
    from dataflow_spark.functions.refiners import apply_refiners
    from dataflow_spark.operators.dedup import dedup_minhash, with_order_rank
    from dataflow_spark.schemas import TRANSCRIPTS
    from dataflow_spark.streaming import windows
    from dataflow_spark.streaming.app import DEFAULT_REFINERS, TranscriptsApp

    spark, out, secs, held = r.spark, {}, {}, []

    def materialize(df):
        if cache:
            return noop_cached(df, held)
        noop(df)
        return df

    def step(name, fn):
        t0 = time.perf_counter()
        with r.span(f"{tag}.{name}"):
            res = r.attempt(f"{tag}.step.{name}", fn)
        secs[name] = time.perf_counter() - t0
        return res

    def pt():
        if capture is not None:
            capture.clear()
        return materialize(bench.pt_pipeline_transcripts(spark, r.src))

    out["pt"] = step("pt", pt)

    def minhash():
        raw = spark.read.schema(TRANSCRIPTS).parquet(r.src)
        ranked = with_order_rank(
            apply_refiners(raw, DEFAULT_REFINERS), ["ts", "turn_idx", "conv_id"], "__ord"
        )
        return ranked, materialize(dedup_minhash(ranked, "__ord"))

    out["minhash"] = step("minhash", minhash)

    def window_families():
        raw = spark.read.schema(TRANSCRIPTS).parquet(r.src)
        frames = {}
        for fam in WINDOW_FAMILIES:
            t0 = time.perf_counter()
            with r.span(f"{tag}.windows.{fam}"):
                frames[fam] = materialize(getattr(windows, f"{fam}_turn_counts")(raw))
            secs[f"windows.{fam}"] = time.perf_counter() - t0
        return frames

    out["windows"] = step("windows", window_families)
    app = TranscriptsApp(src_dir=r.src, out_dir=r.fresh(f"{tag}_app"))
    step("train", lambda: app.train_models(spark))

    def score():
        return materialize(app.scored_batch_twin(spark))

    out["score"] = step("score", score)
    out.update(app=app, secs=secs, held=held)
    return out


def _release(res: dict) -> None:
    for df in res["held"]:
        df.unpersist()
    res["app"].release_models()


def _check_batch(r: Run, res: dict) -> None:
    from pyspark.sql import functions as F

    n = r.turns

    def exact_unique():
        texts = res["pt"].select("text").toPandas()["text"]
        return len(texts) > 0 and not texts.duplicated().any()

    def minhash_subset():
        ranked, kept = res["minhash"]
        cols = ["conv_id", "turn_idx", "text"]
        return kept.count() > 0 and kept.select(cols).exceptAll(ranked.select(cols)).count() == 0

    def window_sums():
        # every turn lies in exactly one tumbling window and one session,
        # and in window/slide = 2 sliding windows (1 minute, 30 seconds)
        want = {"tumbling": n, "sliding": 2 * n, "session": n}
        got = {f: res["windows"][f].agg(F.sum("n_turns")).first()[0]
               for f in WINDOW_FAMILIES}
        return got == want

    def score_band():
        app = res["app"]
        pdf = res["score"].toPandas()
        lo, hi = app.bpe_token_band
        return (len(pdf) > 0 and pdf["ppl"].notna().all()
                and (pdf["ppl"] <= app.max_ppl).all()
                and pdf["n_tokens_bpe"].between(lo, hi).all())

    for name, need, fn in (
        ("check.exact_dedup.unique_texts", "pt", exact_unique),
        ("check.minhash.subset_of_input", "minhash", minhash_subset),
        ("check.windows.n_turns_sum", "windows", window_sums),
        ("check.scored.inside_band", "score", score_band),
    ):
        if res.get(need) is None:
            r.op(name, False, f"step {need} failed")
        else:
            r.check(name, fn)


def batch_curate(r: Run) -> dict:
    """``PASSES`` passes of the five steps over the input, each timed on its
    own. Pass 0 runs cold and caches its outputs; the output checks read
    them between pass 0 and pass 1, outside the timed part."""
    capture = {} if r.tracer else None
    if r.tracer:
        _trace_batch_layers(r.tracer, capture)
    mon = TreeMonitor().start()
    walls, cpus, secs, counts = [], [], [], []
    res0 = None
    for i in range(PASSES):
        c0, cpu0, t0 = spark_counts(r.spark), tree_cpu_s(), time.perf_counter()
        res = _batch_pass(r, f"pass{i}", capture if i == 0 else None, cache=i == 0)
        walls.append(time.perf_counter() - t0)
        cpus.append(tree_cpu_s() - cpu0)
        counts.append({k: v - c0[k] for k, v in spark_counts(r.spark).items()})
        secs.append(res["secs"])
        if i == 0:
            res0 = res
            _check_batch(r, res)
            if r.tracer:
                _batch_keep_ratios(r, res, capture)
        # uncached before the next pass, or Spark would serve it from the cache
        _release(res)
    usage = mon.stop()
    if r.tracer:
        _batch_layer_metrics(r, res0, capture, walls, secs, counts[1])
    return {**usage, "wall_s": sum(walls), "cpu_s": sum(cpus), "turns_done": PASSES * r.turns,
            "pass_walls_s": walls, "pass_cpu_s": cpus}


def _batch_keep_ratios(r: Run, res0: dict, capture: dict) -> None:
    """Keep ratios of the steps, read while the cold pass's outputs are cached."""
    m, n = r.layer, float(r.turns)
    counts = {k: capture[k].count() for k in ("refine", "dedup_exact", "filter") if k in capture}
    if len(counts) == 3:
        m["dedup_exact.keep_ratio"] = counts["dedup_exact"] / counts["refine"]
        m["filter.keep_ratio"] = counts["filter"] / counts["dedup_exact"]
    if res0.get("minhash"):
        ranked, kept = res0["minhash"]
        m["minhash.keep_ratio"] = kept.count() / ranked.count()
    if res0.get("windows"):
        m["windows.rows_out"] = float(sum(f.count() for f in res0["windows"].values()))
    if res0.get("score") is not None:
        m["score.keep_ratio"] = res0["score"].count() / n


def _trace_batch_layers(t: Tracer, capture: dict) -> None:
    from dataflow_spark.functions import filters, refiners
    from dataflow_spark.operators import bpe, lm
    from dataflow_spark.operators import dedup as op_dedup
    from dataflow_spark.streaming.app import TranscriptsApp

    def keep(name):
        def after(_sp, _args, result):
            capture.setdefault(name, result)
        return after

    # pt's prefixes: the first frame each stage returns during a pt call
    t.wrap(refiners, "apply_refiners", "refine", keep("refine"))
    t.wrap(op_dedup, "dedup_exact", "dedup_exact", keep("dedup_exact"))
    t.wrap(filters, "apply_filters", "filter", keep("filter"))
    t.wrap(op_dedup, "with_order_rank", "order_rank")
    t.wrap(op_dedup, "dedup_minhash", "minhash")
    t.wrap(TranscriptsApp, "train_models", "train")
    t.wrap(bpe, "train_bpe_local", "train.bpe")
    t.wrap(lm, "bigram_counts", "train.bigram")


def _batch_layer_metrics(r, res0, capture, walls, secs, counts) -> None:
    """Cold-pass step times (``<step>.s``), the median over the warm passes
    (``<step>.warm_s``), and the warm split of pt's chain."""
    t, m = r.tracer, r.layer
    s0 = res0["secs"]
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}"] = float(counts[k])
    m["traced.turns_per_s"] = len(walls) * r.turns / sum(walls)
    for st in BATCH_STEPS:
        warm = statistics.median(p.get(st, 0.0) for p in secs[1:])
        m[f"{st}.warm_s"] = warm
        m[f"{st}.cold_tax_s"] = s0.get(st, 0.0) - warm
    # pt split, warm: time each prefix of pt's chain (median of three); a
    # stage's share is the difference between consecutive prefixes
    prev = 0.0
    for stage, key in (("refine", "refine"), ("dedup_exact", "dedup_exact"),
                       ("filter", "filter"), ("quality", None)):
        frame = capture.get(key) if key else res0.get("pt")
        if frame is None:
            r.op(f"trace.prefix.{stage}", False, "prefix frame not captured")
            continue
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            with r.span(f"prefix.{stage}"):
                noop(frame)
            reps.append(time.perf_counter() - t0)
        cum = statistics.median(reps)
        m[f"{stage}.warm_s"] = max(cum - prev, 0.0)
        prev = max(cum, prev)

    def pass0(name):
        return t.named(f"pass0.{name}")

    def jobs(spans):
        return float(sum(s["counters1"]["jobs"] - s["counters0"]["jobs"] for s in spans))

    def within(name, outer):
        return sum(s["end"] - s["start"] for s in t.named(name) if _inside(s, outer))

    m["pt.s"], m["pt.jobs"] = s0.get("pt", 0.0), jobs(pass0("pt"))
    m["minhash.s"], m["minhash.jobs"] = s0.get("minhash", 0.0), jobs(pass0("minhash"))
    m["order_rank.s"] = within("order_rank", pass0("minhash"))
    for fam in WINDOW_FAMILIES:
        m[f"windows.{fam}_s"] = s0.get(f"windows.{fam}", 0.0)
    m["train.s"] = s0.get("train", 0.0)
    m["train.bpe_s"] = within("train.bpe", pass0("train"))
    m["train.bigram_s"] = within("train.bigram", pass0("train"))
    m["score.s"] = s0.get("score", 0.0)


def _inside(span: dict, outer: list[dict]) -> bool:
    return any(o["start"] <= span["start"] and span["end"] <= o["end"] for o in outer)


WORKLOADS = {
    "stream_catchup": Workload(turns=TURNS, files=FILES, run=stream_catchup),
    "batch_curate": Workload(turns=BATCH_TURNS, files=FILES, run=batch_curate),
}
