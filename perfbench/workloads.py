"""The benchmark's workloads and the metrics they report.

Two workloads:

- ``llm_dedup``: a closed loop over a fixed list of
  ``nyuki_spark.queries.REGISTRY`` ids. Each op is one id, timed
  from ``Query.run`` through ``toArrow()``; the next op starts only after the
  previous result has been collected and checked against its DuckDB oracle.
- ``bus_live``: an open loop. One generator thread publishes stamped ``events``
  rows to the ``nyuki_bus`` source on a fixed schedule; a long-running query
  applies a compiled pipeline template and writes through the idempotent
  parquet sink. Each op is one published event.

Every timing is taken by the benchmark around its own calls into the engine's
public functions, or read from Spark's public status and streaming-progress
APIs. Spans are recorded only in traced runs (``--trace 1``); end-to-end
metrics come from untraced runs.
"""

from __future__ import annotations

import json
import math
import os
import random
import statistics
import threading
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from perfbench import check, host
from perfbench.trace import Tracer, summary

# Setups per run; setup_s is their median. The first one launches the JVM.
SETUPS = 5
# Unmeasured passes before the measured ones. The first pays for Python
# worker start-up and code generation, about twice a later pass.
WARM_PASSES = 1


# llm_dedup: the registry ids and the tables its set-up registers. With an
# odd number of ids, the median op falls on the samples of the middle id.
# round(--seconds / LLM_PASS_S), at least 2, sets the number of measured
# passes, so a run's sample count does not depend on how fast the code under
# test is; a measured pass takes 8-10 s on a 4-CPU host.
LLM_IDS = ("llm_ngram_jaccard_capped", "llm_substring_spans", "llm_cosine_pairs")
LLM_TABLES = ("documents", "embeddings")
LLM_PASS_S = 9.0

# bus_live: events per second offered by the generator, its tick, and the
# query's trigger interval. A fixed interval keeps the rows per batch (and so
# the batch time) independent of how late the previous batch ran.
BUS_RATE = 500
BUS_TICK_S = 0.1
BUS_TRIGGER_S = 1
BUS_WARM_S = 6.0
BUS_TOPIC = "events"
BUS_PAYLOAD_SCHEMA = (
    "seq long, due_ns long, event_id long, user_id long, event_type string, "
    "value double, props string"
)
BUS_PIPELINE = {
    "name": "perfbench-route",
    "version": 1,
    "steps": [
        {"op": "filter", "condition": "event_type != 'view'"},
        {"op": "extract", "field": "k", "src": "props", "pattern": "(\\d+)"},
        {"op": "set", "field": "route", "value": "alerts"},
        {"op": "branch", "field": "sev",
         "cases": [{"condition": "value > 400", "value": "crit"},
                   {"condition": "value > 100", "value": "warn"}],
         "default": "info"},
        {"op": "select", "fields": ["seq", "due_ns", "event_id", "user_id",
                                    "event_type", "value", "k", "route", "sev"]},
    ],
}

# Streaming progress phases reported per micro-batch (durationMs keys).
STREAM_PHASES = {
    "add_batch": "addBatch",
    "query_planning": "queryPlanning",
    "wal_commit": "walCommit",
    "commit_offsets": "commitOffsets",
    "get_batch": "getBatch",
}

E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "ops_per_s": "1/s"}

# Per-layer metrics and the workloads that measure them. A traced run prints
# all of them; one that its workload does not measure prints 0 from n=0.
_COMMON_LAYERS = {
    "session.get_session_s": "s",
    "catalog.register_tables_s": "s",
    "catalog.warmup_s": "s",
    "recon.residual_frac": "frac",
}
_LLM_LAYERS = {
    "queries.build_s": "s",
    "queries.plan_s": "s",
    "queries.collect_s": "s",
    "queries.jobs": "count",
    "queries.stages": "count",
    "queries.tasks": "count",
    "queries.tasks_failed": "count",
    "queries.op_max_ms": "ms",
    "functions.text.word_ngrams_s": "s",
    "functions.text.minhash_from_grams_s": "s",
    "functions.text.simhash60_s": "s",
    "operators.dedup.ngram_jaccard_pairs_s": "s",
    "operators.similarity.embedding_candidates_lsh_s": "s",
    "workload.pass_wall_s": "s",
    "workload.warm_pass_s": "s",
    "trace.overhead_s": "s",
}
_BUS_LAYERS = {
    "plans.spec.compile_pipeline_s": "s",
    "streaming.batches": "count",
    "streaming.batch_p50_ms": "ms",
    "streaming.batch_tail_ms": "ms",
    **{f"streaming.{k}_{s}_ms": "ms" for k in STREAM_PHASES for s in ("p50", "sum")},
    "streaming.outside_batches_s": "s",
    "streaming.sink.write_p50_ms": "ms",
    "streaming.sink.write_sum_ms": "ms",
    "sources.bus.latest_offset_p50_ms": "ms",
    "sources.bus.latest_offset_sum_ms": "ms",
    "sources.bus.segments": "count",
    "sources.bus.publish_rows_p50_ms": "ms",
    "bus.generator_late_p50_ms": "ms",
    "bus.generator_late_max_ms": "ms",
    "bus.latency_tail_ms": "ms",
    "bus.backlog_end_events": "count",
}
LAYER_UNITS = {**_COMMON_LAYERS, **_LLM_LAYERS, **_BUS_LAYERS}
WORKLOAD_LAYERS = {
    "llm_dedup": (*_COMMON_LAYERS, *_LLM_LAYERS),
    "bus_live": (*_COMMON_LAYERS, *_BUS_LAYERS),
}
# Measured metrics that may be 0 in a healthy run, or of either sign. Spark
# reports progress phases in whole milliseconds, and the bus source's
# getBatch and latestOffset often take less than one.
LAYERS_NOT_POSITIVE = ("queries.tasks_failed", "bus.backlog_end_events",
                       "recon.residual_frac", "trace.overhead_s",
                       "streaming.get_batch_p50_ms", "streaming.get_batch_sum_ms",
                       "sources.bus.latest_offset_p50_ms", "sources.bus.latest_offset_sum_ms")


@dataclass
class Run:
    """State of one benchmark run: arguments, directories, session, results."""

    workload: str
    seed: int
    seconds: int
    traced: bool
    corrupt_oracle: bool
    root: str
    work: str
    run_dir: str
    tables_dir: str = ""
    spark: object = None
    tracer: Tracer = field(default_factory=lambda: Tracer(False))
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    layer_n: dict = field(default_factory=dict)
    report: dict = field(default_factory=dict)
    started: float = field(default_factory=time.perf_counter)

    def mark(self, phase: str) -> None:
        """Record when a phase of the run ended (seconds since start)."""
        self.report.setdefault("phases_s", {})[phase] = time.perf_counter() - self.started

    def put(self, name: str, value: float, n: int) -> None:
        """Record per-layer metric ``name`` measured from ``n`` samples."""
        self.layers[name] = value
        self.layer_n[name] = n

    def fail(self, op: str, reason: str) -> None:
        self.failed += 1
        if len(self.failures) < 50:
            self.failures.append({"op": op, "reason": reason[:500]})


# -- set-up ------------------------------------------------------------------


def _session_conf(run: Run) -> dict[str, str]:
    """Keep every file Spark writes inside the work directory. Engine confs
    (shuffle partitions included) stay at the engine's defaults."""
    return {
        "spark.local.dir": os.path.join(run.work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run.run_dir, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }


def setup(run: Run, tables: tuple[str, ...], extra=None) -> None:
    """Set up ``SETUPS`` times (stopping the previous session in between)
    and keep the last session. The warm-up is one count over ``tables[0]``;
    ``extra(spark)`` runs inside each timed set-up, after it."""
    from nyuki_spark.catalog import register_tables
    from nyuki_spark.session import get_session

    master = f"local[{host.cpus()}]"
    conf = _session_conf(run)
    samples, parts = [], {"get_session": [], "register_tables": [], "warmup": []}
    for i in range(SETUPS):
        if run.spark is not None:
            run.spark.stop()
        with run.tracer.span("setup", op=f"setup{i}"):
            t0 = time.perf_counter()
            with run.tracer.span("session.get_session"):
                spark = get_session("perfbench", master=master, extra_conf=conf)
            t1 = time.perf_counter()
            with run.tracer.span("catalog.register_tables"):
                register_tables(spark, run.tables_dir, tables)
            t2 = time.perf_counter()
            with run.tracer.span("catalog.warmup"):
                spark.sql(f"SELECT COUNT(*) AS n FROM {tables[0]}").toArrow()
            t3 = time.perf_counter()
            if extra is not None:
                extra(spark)
            t4 = time.perf_counter()
        run.spark = spark
        samples.append(t4 - t0)
        parts["get_session"].append(t1 - t0)
        parts["register_tables"].append(t2 - t1)
        parts["warmup"].append(t3 - t2)
    run.e2e["setup_s"] = summary(samples)
    for name, layer in (("get_session", "session.get_session_s"),
                        ("register_tables", "catalog.register_tables_s"),
                        ("warmup", "catalog.warmup_s")):
        run.put(layer, statistics.median(parts[name]), SETUPS)
    run.report["setup_samples_s"] = samples
    run.report["setup_parts_s"] = parts


# -- llm_dedup: registry ids in a closed loop ---------------------------------


@dataclass
class OpSample:
    id: str
    pass_no: int
    traced: bool
    op_s: float = 0.0
    build_s: float = 0.0
    plan_s: float = 0.0
    collect_s: float = 0.0
    ok: bool = False
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0


def _job_counts(sc, group: str) -> tuple[int, int, int, int]:
    """Jobs, stages, tasks and failed tasks of one job group."""
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    tasks = failed = 0
    for sid in stage_ids:
        info = tracker.getStageInfo(sid)
        if info is not None:
            tasks += info.numTasks
            failed += info.numFailedTasks
    return len(job_ids), len(stage_ids), tasks, failed


def _run_op(run: Run, qid: str, expected, sample: OpSample) -> None:
    from nyuki_spark.queries import REGISTRY

    spark, tr = run.spark, run.tracer
    sc = spark.sparkContext
    group = f"{qid}#{sample.pass_no}"
    if sample.traced:
        sc.setJobGroup(group, qid)
    q = REGISTRY[qid]
    try:
        with tr.span("op", op=qid):
            t0 = time.perf_counter()
            with tr.span("queries.build"):
                df = q.run(spark, run.tables_dir)
            t1 = time.perf_counter()
            if sample.traced:
                with tr.span("queries.plan"):
                    df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with tr.span("queries.collect"):
                table = df.toArrow()
            t3 = time.perf_counter()
        sample.op_s, sample.build_s = t3 - t0, t1 - t0
        sample.plan_s, sample.collect_s = t2 - t1, t3 - t2
        spark.catalog.clearCache()
        why = check.mismatch(check.arrow_canon(table), expected)
        sample.ok = why is None
        if why is not None:
            run.fail(qid, why)
    except Exception:  # an op that raises is a failed op; the run goes on
        run.fail(qid, traceback.format_exc())
        spark.catalog.clearCache()
    if sample.traced:
        counts = _job_counts(sc, group)
        sample.jobs, sample.stages, sample.tasks, sample.tasks_failed = counts
        sc.setJobGroup("perfbench", "between ops")


def _corrupt(frame):
    """A wrong expected answer: one row short, or one row too many."""
    if len(frame):
        return frame.iloc[:-1].reset_index(drop=True)
    return frame.reindex([0])


def llm_dedup(run: Run) -> None:
    from nyuki_spark.queries import REGISTRY

    oracle = check.Oracle(run.tables_dir, LLM_TABLES, os.path.join(run.work, "cache", "oracle"))
    try:
        expected = {qid: oracle.answer(REGISTRY[qid].oracle_sql) for qid in LLM_IDS}
    finally:
        oracle.close()
    if run.corrupt_oracle:
        expected[LLM_IDS[0]] = _corrupt(expected[LLM_IDS[0]])

    run.mark("oracle")
    setup(run, LLM_TABLES)
    run.mark("setup")
    rng = random.Random(run.seed)
    passes = max(2, round(run.seconds / LLM_PASS_S))
    samples: list[OpSample] = []
    walls: dict[str, list[float]] = {"warm": [], "untraced": [], "traced": []}
    for pass_no in range(WARM_PASSES + passes):
        # Warm passes run in registry order, measured ones in a seed-permuted
        # order; a traced run alternates untraced and traced measured passes.
        warm = pass_no < WARM_PASSES
        traced = run.traced and not warm and (pass_no - WARM_PASSES) % 2 == 1
        order = list(LLM_IDS)
        if not warm:
            rng.shuffle(order)
        run.tracer.enabled = traced
        t0 = time.perf_counter()
        for qid in order:
            s = OpSample(qid, pass_no, traced)
            _run_op(run, qid, expected[qid], s)
            run.attempted += 1
            if not warm:
                samples.append(s)
        walls["warm" if warm else "traced" if traced else "untraced"].append(
            time.perf_counter() - t0
        )
    run.tracer.enabled = run.traced
    run.mark("passes")

    plain = [s for s in samples if not s.traced and s.ok]
    if plain:
        op_ms = [s.op_s * 1000 for s in plain]
        run.e2e["op_p50_ms"] = summary(op_ms)
        run.e2e["ops_per_s"] = {"value": len(plain) / sum(s.op_s for s in plain),
                                "n": len(plain)}
    run.put("workload.warm_pass_s", sum(walls["warm"]), len(walls["warm"]))
    if walls["untraced"]:
        run.put("workload.pass_wall_s", statistics.median(walls["untraced"]),
                len(walls["untraced"]))
    traced = [s for s in samples if s.traced]
    if traced:
        n_passes = len(walls["traced"])
        for name in ("build_s", "plan_s", "collect_s", "jobs", "stages", "tasks",
                     "tasks_failed"):
            run.put(f"queries.{name}", sum(getattr(s, name) for s in traced) / n_passes,
                    len(traced))
        run.put("queries.op_max_ms", max(s.op_s for s in traced) * 1000, len(traced))
        if walls["untraced"]:
            run.put("trace.overhead_s", statistics.median(walls["traced"])
                    - statistics.median(walls["untraced"]), n_passes)
        # build + plan + collect must account for the traced passes' wall
        # time; the residual is the benchmark's own work between engine calls
        # (result checks, clearCache, status reads).
        wall = sum(walls["traced"])
        parts = sum(s.build_s + s.plan_s + s.collect_s for s in traced)
        run.put("recon.residual_frac", (wall - parts) / wall, len(traced))
        run.report["reconciliation"] = {
            "identity": "pass wall = sum(queries.build + queries.plan + queries.collect)",
            "wall_s": wall, "parts_s": parts, "margin_frac": 0.1,
            "within_margin": 0 <= wall - parts <= 0.1 * wall,
        }
        _direct_kernel_calls(run)
        run.mark("direct_calls")
    run.report["pass_walls_s"] = walls
    run.report["ops"] = _per_op(samples)


def _per_op(samples: list[OpSample]) -> dict:
    """Every op's raw samples, with min and max."""
    out: dict[str, dict] = {}
    for s in samples:
        d = out.setdefault(s.id, {"op_s": [], "build_s": [], "collect_s": [],
                                  "plan_s": [], "traced": [], "ok": []})
        for k in ("op_s", "build_s", "collect_s", "plan_s", "traced", "ok"):
            d[k].append(getattr(s, k))
        if s.traced:
            for k in ("jobs", "stages", "tasks", "tasks_failed"):
                d[k] = getattr(s, k)
    for d in out.values():
        d["min_s"], d["max_s"] = min(d["op_s"]), max(d["op_s"])
    return out


def _direct_kernel_calls(run: Run) -> None:
    """Time the text/dedup/similarity kernels on ``documents`` and
    ``embeddings``, each materialised through a ``noop`` write. The second
    of two calls is reported, so the first pays for worker start-up."""
    from pyspark.sql import functions as F

    from nyuki_spark.catalog import load_table
    from nyuki_spark.functions.text import (
        gram_hashes, minhash_from_grams, simhash60, word_ngram_array, word_ngrams,
    )
    from nyuki_spark.operators.dedup import ngram_jaccard_pairs
    from nyuki_spark.operators.similarity import embedding_candidates_lsh

    spark = run.spark
    docs = load_table(spark, run.tables_dir, "documents")
    emb = load_table(spark, run.tables_dir, "embeddings")
    # MinHash over the first 50 documents, as llm_minhash_signatures does.
    grams = (docs.orderBy("doc_id").limit(50)
             .select("doc_id", word_ngram_array("text", 3).alias("g"))
             .select("doc_id", gram_hashes("g").alias("hs")))
    calls = {
        "functions.text.word_ngrams_s": lambda: word_ngrams(docs, 3),
        "functions.text.minhash_from_grams_s":
            lambda: grams.select("doc_id", minhash_from_grams("hs", 16).alias("sig")),
        "functions.text.simhash60_s":
            lambda: docs.select("doc_id", simhash60(F.col("text")).alias("h")),
        "operators.dedup.ngram_jaccard_pairs_s": lambda: ngram_jaccard_pairs(docs, 0.5),
        "operators.similarity.embedding_candidates_lsh_s":
            lambda: embedding_candidates_lsh(emb, 0.3),
    }
    for name, build in calls.items():
        times = []
        for _ in range(2):
            with run.tracer.span(name.removesuffix("_s"), op=name):
                t0 = time.perf_counter()
                build().write.format("noop").mode("overwrite").save()
                times.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
        run.put(name, times[-1], 1)
        run.report.setdefault("direct_calls_s", {})[name] = times


# -- bus_live: an open loop through the bus source ----------------------------


def _as_dict(p) -> dict:
    """A streaming progress as plain JSON data (offsets included)."""
    return json.loads(p.json) if hasattr(p, "json") else p


def _progress(q) -> list[dict]:
    return [_as_dict(p) for p in q.recentProgress]


def _end_segments(p: dict) -> int:
    off = p["sources"][0].get("endOffset") or {}
    return int(off.get("topics", {}).get(BUS_TOPIC, 0))


def _epoch_s(iso: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class _Generator(threading.Thread):
    """Publishes ``ticks`` segments on a fixed schedule, whether or not the
    query keeps up. Each event carries its due time as its creation stamp."""

    def __init__(self, bus_root: str, ticks: list[list[dict]], start_at: float):
        super().__init__(name="perfbench-generator", daemon=True)
        self.bus_root, self.ticks, self.start_at = bus_root, ticks, start_at
        self.late_s: list[float] = []
        self.publish_s: list[float] = []
        self.error: Exception | None = None

    def run(self) -> None:
        from nyuki_spark.sources.bus import publish_rows

        try:
            for i, rows in enumerate(self.ticks):
                due = self.start_at + i * BUS_TICK_S
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                self.late_s.append(max(0.0, time.time() - due))
                due_ns = int(due * 1e9)
                for r in rows:
                    r["due_ns"] = due_ns
                t0 = time.perf_counter()
                publish_rows(self.bus_root, BUS_TOPIC, rows)
                self.publish_s.append(time.perf_counter() - t0)
        except Exception as exc:  # reported by the main thread
            self.error = exc


def _bus_events(run: Run, n: int) -> list[dict]:
    """``n`` events rows drawn with replacement by the seed."""
    import pyarrow.parquet as pq

    cols = ["event_id", "user_id", "event_type", "value", "props"]
    rows = pq.read_table(os.path.join(run.tables_dir, "events.parquet"), columns=cols).to_pylist()
    rng = random.Random(run.seed)
    return [dict(rows[rng.randrange(len(rows))], seq=i) for i in range(n)]


def bus_live(run: Run) -> None:
    from pyspark.sql import functions as F

    from nyuki_spark.plans.spec import compile_pipeline
    from nyuki_spark.sources.bus import publish_rows, register_bus
    from nyuki_spark.streaming.sink import committed_batches, idempotent_parquet_sink

    bus_root = os.path.join(run.run_dir, "bus")
    out_dir = os.path.join(run.run_dir, "sink")
    ckpt = os.path.join(run.run_dir, "checkpoint")
    compiled = {}
    compile_s: list[float] = []

    def extra(spark):
        with run.tracer.span("sources.bus.register"):
            register_bus(spark)
        with run.tracer.span("plans.spec.compile_pipeline"):
            t0 = time.perf_counter()
            compiled["pipe"] = compile_pipeline(BUS_PIPELINE)
            compile_s.append(time.perf_counter() - t0)

    setup(run, ("events",), extra)
    run.mark("setup")
    run.put("plans.spec.compile_pipeline_s", statistics.median(compile_s), len(compile_s))
    spark, pipe = run.spark, compiled["pipe"]

    # One segment starts the query; then the schedule runs BUS_WARM_S of
    # warm-up ticks followed by --seconds of measured ticks.
    per_tick = int(BUS_RATE * BUS_TICK_S)
    warm_ticks, n_ticks = round(BUS_WARM_S / BUS_TICK_S), round(run.seconds / BUS_TICK_S)
    events = _bus_events(run, (1 + warm_ticks + n_ticks) * per_tick)
    first_seq = (1 + warm_ticks) * per_tick  # first event of the measured phase
    ticks = [events[i:i + per_tick] for i in range(per_tick, len(events), per_tick)]

    def parse(df):
        return df.select(F.from_json("payload", BUS_PAYLOAD_SCHEMA).alias("e")).select("e.*")

    sink = idempotent_parquet_sink(out_dir)
    commits: dict[int, float] = {}
    write_s: dict[int, float] = {}

    def timed_sink(df, batch_id: int) -> None:
        t0 = time.perf_counter()
        sink(df, batch_id)
        write_s[batch_id] = time.perf_counter() - t0
        commits[batch_id] = time.time()

    stream = spark.readStream.format("nyuki_bus").option("path", bus_root).option(
        "topic", BUS_TOPIC).load()
    query = (parse(stream).transform(pipe).writeStream.foreachBatch(timed_sink)
             .trigger(processingTime=f"{BUS_TRIGGER_S} seconds")
             .option("checkpointLocation", ckpt).start())
    try:
        for r in events[:per_tick]:
            r["due_ns"] = time.time_ns()
        publish_rows(bus_root, BUS_TOPIC, events[:per_tick])
        _await_segments(query, 1, 120)
        run.mark("query_started")
        # Spark fires processing-time triggers on whole multiples of the
        # interval (epoch time); ticks fall half a tick after them, so no
        # segment is published while a trigger lists the bus.
        start_at = math.ceil(time.time() + 0.2) + BUS_TICK_S / 2
        rate_start = start_at + warm_ticks * BUS_TICK_S
        rate_end = rate_start + n_ticks * BUS_TICK_S
        gen = _Generator(bus_root, ticks, start_at)
        with run.tracer.span("bus.schedule", op="bus_live"):
            gen.start()
            gen.join()
        if gen.error is not None:
            raise gen.error
        _await_segments(query, 1 + len(ticks), 120)
        run.mark("drained")
    finally:
        query.stop()
    progress = [p for p in _progress(query)
                if p.get("numInputRows", 0) > 0 and _epoch_s(p["timestamp"]) >= rate_start]

    actual = spark.read.parquet(out_dir).where(
        F.col("batch_id").isin(committed_batches(out_dir, spark)))
    got = actual.toPandas()
    reference = parse(spark.createDataFrame(
        [(BUS_TOPIC, json.dumps(e)) for e in events], "topic string, payload string"
    )).transform(pipe).toPandas()
    if run.corrupt_oracle:
        reference = _corrupt(reference)
    run.attempted += len(events)
    _check_bus(run, got, reference)
    run.mark("checked")

    # Latency: from the first trigger time after an event's due time to its
    # batch's sink commit. Counting from the due time itself would add the
    # wait for that trigger, half an interval on average, which no engine
    # change moves; a batch that overruns the interval, or a generator that
    # publishes past the trigger, still delays the events behind it.
    live = got[got["seq"] >= first_seq]
    commit_s = live["batch_id"].map(commits).to_numpy()
    due_s = live["due_ns"].to_numpy() / 1e9
    lat_ms = list((commit_s - np.ceil(due_s / BUS_TRIGGER_S) * BUS_TRIGGER_S) * 1000)
    if lat_ms:
        lat = summary(lat_ms)
        run.e2e["op_p50_ms"] = lat
        run.put("bus.latency_tail_ms", lat.get("tail", lat["max"]), len(lat_ms))
    # Throughput: the median over measured batches of the events taken in per
    # second of micro-batch time (Spark's processedRowsPerSecond). Delivered
    # events per second of schedule would track the offered rate instead.
    rates = [p["numInputRows"] * 1000 / p["durationMs"]["triggerExecution"] for p in progress]
    if rates:
        run.e2e["ops_per_s"] = summary(rates)
    late = gen.late_s[warm_ticks:]
    run.put("bus.backlog_end_events", int((commit_s > rate_end).sum()), len(live))
    run.put("bus.generator_late_p50_ms", statistics.median(late) * 1000, len(late))
    run.put("bus.generator_late_max_ms", max(late) * 1000, len(late))
    publish = gen.publish_s[warm_ticks:]
    run.put("sources.bus.publish_rows_p50_ms", statistics.median(publish) * 1000, len(publish))
    run.put("sources.bus.segments", 1 + len(ticks), 1)
    _stream_layers(run, progress, [write_s.get(p["batchId"], 0.0) for p in progress],
                   rate_start, rate_end)
    run.report["bus"] = {
        "rate_per_s": BUS_RATE, "tick_s": BUS_TICK_S, "warm_s": BUS_WARM_S,
        "measured_s": rate_end - rate_start, "events_published": len(events),
        "first_measured_seq": first_seq, "generator_late_s": gen.late_s,
        "publish_rows_s": gen.publish_s, "sink_write_s": write_s, "batches": progress,
        "latency_by_batch_ms": {
            int(b): [len(g), float(g.min()), float(g.max())]
            for b, g in pd.Series(lat_ms).groupby(live["batch_id"].to_numpy())
        },
    }


def _await_segments(query, n_segments: int, timeout_s: float) -> None:
    """Wait until a committed micro-batch has consumed ``n_segments``."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if query.exception() is not None:
            raise RuntimeError(f"bus query failed: {query.exception()}")
        p = query.lastProgress
        if p is not None:
            p = _as_dict(p)
            if p["sources"] and _end_segments(p) >= n_segments:
                return
        time.sleep(0.02)
    raise TimeoutError(f"bus query did not reach {n_segments} segments in {timeout_s}s")


def _check_bus(run: Run, got, reference) -> None:
    """Every reference row appears exactly once among committed batches,
    with the values the pipeline gives the same events as a batch."""
    cols = list(reference.columns)
    counts = got["seq"].value_counts()
    expected_seqs = set(reference["seq"])
    for seq, c in counts.items():
        if seq not in expected_seqs:
            run.fail(f"event {seq}", "delivered but not expected")
        elif c > 1:
            run.fail(f"event {seq}", f"delivered {c} times")
    for seq in expected_seqs - set(counts.index):
        run.fail(f"event {seq}", "not delivered")
    once = got[got["seq"].map(counts) == 1][cols]
    ref = reference[reference["seq"].isin(once["seq"])]
    why = check.mismatch(check.canon(once), check.canon(ref))
    if why is not None:
        run.fail("bus rows", why)


def _stream_layers(run: Run, progress: list[dict], write_s: list[float],
                   start_at: float, rate_end: float) -> None:
    """Per-batch progress phases of the rate phase, and micro-batch spans."""
    def phase(p, key):
        return float(p.get("durationMs", {}).get(key, 0))

    if not progress:
        return
    n = len(progress)
    trig = [phase(p, "triggerExecution") for p in progress]
    run.put("streaming.batches", n, n)
    s = summary(trig)
    run.put("streaming.batch_p50_ms", s["p50"], n)
    run.put("streaming.batch_tail_ms", s.get("tail", s["max"]), n)
    phases = {f"streaming.{k}": v for k, v in STREAM_PHASES.items()}
    phases["sources.bus.latest_offset"] = "latestOffset"
    for name, key in phases.items():
        vals = [phase(p, key) for p in progress]
        run.put(f"{name}_p50_ms", statistics.median(vals), n)
        run.put(f"{name}_sum_ms", sum(vals), n)
    run.put("streaming.sink.write_p50_ms", statistics.median(write_s) * 1000, n)
    run.put("streaming.sink.write_sum_ms", sum(write_s) * 1000, n)
    # Measured-phase time not covered by any micro-batch (idle polling).
    busy = 0.0
    for p, t in zip(progress, trig):
        begin = _epoch_s(p["timestamp"])
        busy += max(0.0, min(begin + t / 1000, rate_end) - max(begin, start_at))
    run.put("streaming.outside_batches_s", (rate_end - start_at) - busy, n)
    # The sink call runs inside addBatch: the rest of addBatch is Spark's
    # own foreachBatch cost.
    add = sum(phase(p, "addBatch") for p in progress) / 1000
    if add:
        run.put("recon.residual_frac", (add - sum(write_s)) / add, n)
        run.report["reconciliation"] = {
            "identity": "sum(addBatch) >= sum(streaming.sink.write)",
            "add_batch_s": add, "sink_write_s": sum(write_s), "margin_frac": 0.5,
            "within_margin": 0 <= add - sum(write_s) <= 0.5 * add,
        }
    if run.traced:
        parent = next((s.id for s in run.tracer.spans if s.name == "bus.schedule"), None)
        offset = time.perf_counter() - time.time()
        for p, t in zip(progress, trig):
            begin = _epoch_s(p["timestamp"]) + offset
            run.tracer.add("streaming.micro_batch", begin, begin + t / 1000, parent, "bus_live")


# -- one run -----------------------------------------------------------------


def execute(run: Run) -> dict:
    """Run one workload and return the result object the CLI prints."""
    from perfbench import datagen

    load_start = os.getloadavg()
    run.tables_dir = datagen.ensure_tables(os.path.join(run.work, "cache"))
    run.tracer.enabled = run.traced
    try:
        WORKLOADS[run.workload](run)
        run.report["host"] = host.fingerprint(run.spark, run.root, run.seed, load_start)
    finally:
        stop_spark(run)
        run.mark("stopped")
    if run.traced:
        run.report["self_time_s"] = run.tracer.self_times()
    return finish(run)


def stop_spark(run: Run) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    if run.spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    run.spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = SparkContext._jvm = None


def finish(run: Run) -> dict:
    """Build the printed metrics and the report."""
    if run.traced:
        metrics = {
            name: {"value": float(run.layers.get(name, 0.0)), "unit": unit}
            for name, unit in LAYER_UNITS.items()
        }
        detail = {name: dict(m, n=run.layer_n.get(name, 0)) for name, m in metrics.items()}
        measured = all(detail[name]["n"] >= 1 for name in WORKLOAD_LAYERS[run.workload])
    else:
        metrics, detail = {}, {}
        for name, unit in E2E_UNITS.items():
            s = run.e2e.get(name)
            if s is None:
                continue
            value = s["p50"] if "p50" in s else s["value"]
            metrics[name] = {"value": float(value), "unit": unit}
            detail[name] = {"value": float(value), "unit": unit, "n": s["n"]}
            if "tail" in s:
                detail[name]["tail"] = s["tail"]
                detail[name]["tail_pct"] = s["tail_pct"]
        measured = len(metrics) == len(E2E_UNITS)
    run.report.update(
        workload=run.workload, seed=run.seed, seconds=run.seconds,
        traced=run.traced, e2e=run.e2e, layers=run.layers, failures=run.failures,
    )
    return {
        "detail": detail,
        "result": {
            "correct": run.failed == 0 and measured,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        },
    }


WORKLOADS = {"llm_dedup": llm_dedup, "bus_live": bus_live}
