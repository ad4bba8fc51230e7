"""The benchmark's workloads.

Each workload sets up ``SETUPS`` times in one process (the first set-up
launches the JVM, the later ones start a fresh SparkContext in it) and
reports the median set-up time. The last set-up's session then runs the
timed section, after which the workload's output is checked against a
reference computation, outside the timed section.

- ``ingest``: closed-loop drain of a transcript backlog through a
  DSL-built pipeline (mask, parse_regexp, annotate_quality) fanned out
  into two exactly-once parquet sinks, one small file per epoch.
- ``stateful``: closed-loop drain through ``state.routing_counters``
  (``applyInPandasWithState`` on the RocksDB store) into a light sink.
- ``dedup``: repeated batch ``dedup.minhash_lsh_pairs`` (shingles,
  MinHash signatures, LSH banding, exact-Jaccard verification) over a
  corpus with planted near-duplicates. The traced run also times the
  stages after it, up to ``curate.neardup_keep``.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from dataclasses import dataclass, field

import gen
import harness
from spans import ProgressCollector, Tracer, jvm_metrics

SETUPS = 3
# Untimed epochs (iterations) run after the last set-up: JIT compilation
# of the driver's per-epoch path keeps speeding up the first ~10 epochs
# (ingest: ~630 ms -> ~410 ms), and a timed section straddling that
# slope reads a different median on every run.
SETTLE = {"ingest": 10, "stateful": 0, "dedup": 2}
WARMUP_TIMEOUT_S = 120.0
# Backlog files per timed second: well above the fastest drain seen, so a
# closed-loop run never runs dry.
FILES_PER_S = {"ingest": 10, "stateful": 6}
N_DOCS = 1000
# Driver heap: the drains fit in 1g; the dedup pipeline ran GC-bound
# (and 1.5x slower) in 1g, so it gets 2g.
DRIVER_MEMORY = {"ingest": "1g", "stateful": "1g", "dedup": "2g"}
# State-store partitions: each is one Python worker task per epoch.
SHUFFLE_PARTITIONS = {"ingest": 4, "stateful": 1, "dedup": 4}

EMAIL_RE = r"[A-Za-z0-9.]+@example\.com"
TURN_RE = r"^turn (?P<turnno>\d+) of (?P<convref>\S+): sample k=(?P<k>\d+)"
# Far wider than the inputs' event-time span: every conversation's state
# stays live, so each one's last emission is its running total.
STATE_WATERMARK = "3650 days"


@dataclass
class Bench:
    workload: str
    seed: int
    seconds: float
    trace: bool
    run: harness.RunDir
    session: harness.Session
    tracer: Tracer
    collector: ProgressCollector = field(default_factory=ProgressCollector)
    details: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)


@dataclass
class SinkStats:
    """One (start, end, rows, files, bytes) record per traced sink write."""

    lock: threading.Lock = field(default_factory=threading.Lock)
    writes: list = field(default_factory=list)

    def record(self, t0: float, t1: float, rows: int, files: int = 0, nbytes: int = 0) -> None:
        with self.lock:
            self.writes.append((t0, t1, rows, files, nbytes))


class TracedSink:
    """Wraps a sink so every ``write`` is a ``sinks`` span. Only the
    traced run uses it."""

    def __init__(self, inner, tracer: Tracer, stats: SinkStats):
        self.inner, self.tracer, self.stats = inner, tracer, stats

    def write(self, df, epoch_id):
        t0 = time.perf_counter()
        manifest = self.inner.write(df, epoch_id)
        t1 = time.perf_counter()
        self.tracer.add("sinks", "sinks.write", t0, t1)
        parts = manifest.get("partitions", {}).values()
        self.stats.record(
            t0, t1, int(manifest.get("rows", 0)),
            sum(p["files"] for p in parts), sum(p["bytes"] for p in parts),
        )
        return manifest

    def foreach_batch(self):
        return self.write

    def __getattr__(self, name):
        return getattr(self.inner, name)


# --------------------------------------------------------------------------
# streaming workloads
# --------------------------------------------------------------------------


def _ingest_plan(inp: str):
    from vaero_spark.dsl import Vaero

    q = (
        Vaero()
        .source("transcripts", path=inp, max_files_per_trigger=1)
        .mask("text", EMAIL_RE, "<email>")
        .parse_regexp("text", TURN_RE)
        .annotate_quality("text")
    )
    q.filter_regexp("role", "^(user|assistant)$").sink("parquet", name="chat")
    q.filter_regexp("role", "^(tool|system)$").sink("parquet", name="ops")
    return q.plan()


class Ingest:
    def start(self, b: Bench, spark, inp: str, work: str):
        from vaero_spark.sinks.writers import default_sink_factory
        from vaero_spark.streaming.engine import run_streaming_plan

        with b.tracer.span("compiler", "dsl.plan"):
            t0 = time.perf_counter()
            plan = _ingest_plan(inp)
            b.details.setdefault("plan_build_ms", []).append((time.perf_counter() - t0) * 1000)
        factory = default_sink_factory(os.path.join(work, "out"))
        self.stats = SinkStats()
        if b.trace:
            inner = factory
            factory = lambda name, node: TracedSink(inner(name, node), b.tracer, self.stats)  # noqa: E731
        with b.tracer.span("streaming", "engine.run_streaming_plan"):
            self.pipe = run_streaming_plan(spark, plan, os.path.join(work, "ckpt"), factory)
        self.inp = inp
        return self.pipe.query

    def stop(self) -> None:
        self.pipe.stop()

    def check(self, spark, files: list[str], last_epoch: int) -> bool:
        from pyspark.sql import functions as F
        from tools.check_oracle import value_hash
        from vaero_spark.compiler import compile_batch
        from vaero_spark.sources.transcripts import TRANSCRIPTS_SCHEMA

        compiled = compile_batch(
            spark, _ingest_plan(self.inp),
            source_resolver=lambda s, _node: s.read.schema(TRANSCRIPTS_SCHEMA).parquet(*files),
        )
        ok = True
        for name, expected in compiled.sinks.items():
            got = (
                self.pipe.sinks[name].read_committed(spark)
                .where(F.col("epoch") <= last_epoch)
                .select(*expected.columns)
            )
            ok &= value_hash(expected.toPandas()) == value_hash(got.toPandas())
        return ok


class Stateful:
    def start(self, b: Bench, spark, inp: str, work: str):
        from vaero_spark.operators.state import routing_counters
        from vaero_spark.sinks.writers import MemorySink
        from vaero_spark.sources.transcripts import transcripts_stream

        self.sink = MemorySink()
        write = self.sink.foreach_batch()
        self.stats = SinkStats()
        if b.trace:
            inner = write

            def write(df, epoch_id):
                t0 = time.perf_counter()
                inner(df, epoch_id)
                t1 = time.perf_counter()
                # the collect runs the epoch's plan, so this is the state
                # operator's time as much as the (light) sink's
                b.tracer.add("state", "foreachBatch collect", t0, t1)
                self.stats.record(t0, t1, len(self.sink.batches[-1][1]))

        with b.tracer.span("compiler", "state.routing_counters"):
            t0 = time.perf_counter()
            df = routing_counters(transcripts_stream(spark, inp, 1), watermark=STATE_WATERMARK)
            b.details.setdefault("plan_build_ms", []).append((time.perf_counter() - t0) * 1000)
        with b.tracer.span("streaming", "writeStream.start"):
            self.query = (
                df.writeStream.outputMode("update")
                .option("checkpointLocation", os.path.join(work, "ckpt"))
                .foreachBatch(write)
                .start()
            )
        return self.query

    def stop(self) -> None:
        self.query.stop()

    def check(self, spark, files: list[str], last_epoch: int) -> bool:
        import pandas as pd

        final = {}
        for epoch_id, rows in sorted(self.sink.batches, key=lambda b: b[0]):
            if epoch_id <= last_epoch:
                for r in rows:
                    final[r.conv_id] = (r.n_total, r.n_user, r.n_tool, r.n_error)
        pdf = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        is_error = pdf["text"].str.contains("error", regex=False).fillna(False)
        g = pdf.assign(
            u=pdf["role"] == "user", t=pdf["role"] == "tool", e=is_error
        ).groupby("conv_id")
        want = {
            c: (int(n), int(u), int(t), int(e))
            for c, n, u, t, e in zip(
                g.size().index, g.size(), g["u"].sum(), g["t"].sum(), g["e"].sum()
            )
        }
        return final == want


def _committed(ckpt: str) -> tuple[int, list[str]]:
    """(last committed epoch, input files read by epochs up to it). Each
    file maps to the first batch whose source-log entry names it; the
    log is compacted every 10 batches, so entries repeat."""
    import json

    commits = [int(f) for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit()]
    last = max(commits) if commits else -1
    log_dir = os.path.join(ckpt, "sources", "0")

    def batch_no(name: str) -> int:
        return int(name.split(".")[0])

    first: dict[str, int] = {}
    names = [f for f in os.listdir(log_dir) if f.split(".")[0].isdigit()]
    for name in sorted(names, key=batch_no):
        with open(os.path.join(log_dir, name)) as f:
            next(f)  # version header
            for line in f:
                e = json.loads(line)
                first.setdefault(e["path"], e["batchId"])
    files = sorted(p.removeprefix("file://") for p, b in first.items() if b <= last)
    return last, files


def _backlog(b: Bench) -> str:
    n_files = int(b.seconds * FILES_PER_S[b.workload]) + SETUPS + SETTLE[b.workload] + 5
    return gen.transcripts(str(harness.CACHE), b.workload, b.seed, n_files)


def run_streaming(b: Bench, wl) -> dict:
    inp = _backlog(b)
    setups = []
    for k in range(SETUPS):
        t0 = time.perf_counter()
        with b.tracer.span("session", "session.get_spark"):
            spark = b.session.start(shuffle_partitions=SHUFFLE_PARTITIONS[b.workload])
        t_session = time.perf_counter() - t0
        spark.streams.addListener(b.collector)
        work = b.run.sub(f"setup{k}")
        query = wl.start(b, spark, inp, work)
        run_id = str(query.runId)
        warm_t = b.collector.wait_for(run_id, 1, query, WARMUP_TIMEOUT_S)[0][0]
        setups.append(warm_t - t0)
        if k == 0:
            b.layers["session.get_spark_s"] = t_session
            b.layers["session.first_job_s"] = warm_t - t0 - t_session
        if k < SETUPS - 1:
            wl.stop()
            spark.streams.removeListener(b.collector)

    if SETTLE[b.workload]:
        warm_t = b.collector.wait_for(run_id, 1 + SETTLE[b.workload], query, WARMUP_TIMEOUT_S)[-1][0]
    cpu0 = harness.cpu_times()
    deadline = warm_t + b.seconds
    while time.perf_counter() < deadline and query.exception() is None:
        time.sleep(min(0.1, max(0.0, deadline - time.perf_counter())))
    query_failed = query.exception() is not None
    events = b.collector.for_run(run_id)
    wl.stop()
    spark.streams.removeListener(b.collector)
    b.details["steal_frac"] = harness.steal_frac(cpu0, harness.cpu_times())
    rss = b.session.peak_rss_mb()

    timed = [(t, p) for t, p in events if warm_t < t <= deadline]
    if not timed:
        raise RuntimeError("no epoch completed in the timed section")
    wall = timed[-1][0] - warm_t
    rows = sum(p["numInputRows"] for _, p in timed)
    trig = [p["durationMs"]["triggerExecution"] for _, p in timed]

    with b.tracer.span("check", "check"):
        last, files = _committed(os.path.join(work, "ckpt"))
        correct = (not query_failed) and wl.check(spark, files, last)

    if b.trace:
        _stream_layers(b, wl, warm_t, timed, wall)
    return {
        "correct": correct,
        "attempted": len(timed) + 1,
        "failed": int(query_failed) + int(not correct),
        "setups": setups,
        "rows_per_s": rows / wall,
        "latency": trig,
        "peak_rss_mb": rss,
        "timed_wall": (warm_t, timed[-1][0]),
    }


def _stream_layers(b: Bench, wl, warm_t: float, timed, wall: float) -> None:
    def med(key: str) -> float:
        return statistics.median(p["durationMs"].get(key, 0) for _, p in timed)

    L = b.layers
    L["sources.input_rows"] = sum(p["numInputRows"] for _, p in timed)
    L["sources.latest_offset_ms"] = med("latestOffset")
    L["sources.get_batch_ms"] = med("getBatch")
    L["streaming.epochs"] = len(timed)
    L["streaming.trigger_ms_p50"] = med("triggerExecution")
    L["streaming.add_batch_ms_p50"] = med("addBatch")
    L["streaming.query_planning_ms_p50"] = med("queryPlanning")
    L["streaming.wal_commit_ms_p50"] = med("walCommit")
    L["streaming.commit_offsets_ms_p50"] = med("commitOffsets")
    busy = sum(p["durationMs"]["triggerExecution"] for _, p in timed) / 1000.0
    L["streaming.idle_frac"] = max(0.0, 1.0 - busy / wall)
    writes = [w for w in wl.stats.writes if warm_t <= w[0] and w[1] <= timed[-1][0]]
    L["sinks.write_calls"] = len(writes)
    L["sinks.write_ms_p50"] = (
        statistics.median((w[1] - w[0]) * 1000.0 for w in writes) if writes else 0.0
    )
    for i, key in enumerate(("rows_written", "files_written", "bytes_written"), start=2):
        L[f"sinks.{key}"] = sum(w[i] for w in writes)
    ops = [p.get("stateOperators") or [] for _, p in timed]
    last_ops = ops[-1]
    L["state.rows_total"] = sum(o["numRowsTotal"] for o in last_ops)
    L["state.memory_bytes"] = sum(o["memoryUsedBytes"] for o in last_ops)
    L["state.rows_updated"] = sum(o["numRowsUpdated"] for e in ops for o in e)
    L["state.commit_ms"] = sum(o.get("commitTimeMs", 0) for e in ops for o in e)
    L["state.rows_dropped_by_watermark"] = sum(
        o.get("numRowsDroppedByWatermark", 0) for e in ops for o in e
    )
    # each epoch is a child span of the drain, built from its progress
    drain = b.tracer.add("streaming", "streaming.drain", warm_t, timed[-1][0])
    for t, p in timed:
        b.tracer.add("streaming", f"epoch {p['batchId']}",
                     t - p["durationMs"]["triggerExecution"] / 1000.0, t, parent=drain)
    _adopt_sink_spans(b.tracer)


def _adopt_sink_spans(tracer: Tracer) -> None:
    """Make each sink-write span (booked to ``state`` on ``stateful``) a
    child of the epoch span holding it."""
    epochs = [s for s in tracer.spans if s["name"].startswith("epoch ")]
    for s in tracer.spans:
        if s["layer"] in ("sinks", "state") and s["parent"] is None:
            mid = (s["start"] + s["end"]) / 2
            for e in epochs:
                if e["start"] <= mid <= e["end"]:
                    s["parent"] = e["id"]
                    break


# --------------------------------------------------------------------------
# dedup (batch)
# --------------------------------------------------------------------------


def _pairs(spark, corpus: str):
    from vaero_spark.operators.dedup import minhash_lsh_pairs
    from vaero_spark.sources.corpus import documents_with_neardups

    return minhash_lsh_pairs(documents_with_neardups(spark, corpus)).toPandas()


def _n_input_docs(corpus: str) -> int:
    """Rows ``documents_with_neardups`` feeds to the dedup pipeline."""
    import pyarrow.parquet as pq

    from vaero_spark.sources.corpus import DOC_ND_EVERY

    n = pq.read_metadata(os.path.join(corpus, "documents.parquet")).num_rows
    return n + (n + DOC_ND_EVERY - 1) // DOC_ND_EVERY


def _oracle_hash(corpus: str, query: str) -> str:
    """Hash of the query's DuckDB twin from ``oracle_sql()`` over the corpus."""
    import duckdb

    import __spark_entry__ as entry
    from tools.check_oracle import value_hash

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{os.path.join(corpus, 'documents.parquet')}')"
        )
        return value_hash(con.sql(entry.oracle_sql()[query]).df())
    finally:
        con.close()


def run_dedup(b: Bench) -> dict:
    from tools.check_oracle import value_hash
    from vaero_spark.operators.dedup import minhash_lsh_pairs
    from vaero_spark.sources.corpus import documents_with_neardups

    corpus, planted = gen.documents(str(harness.CACHE), b.seed, N_DOCS)
    setups = []
    for k in range(SETUPS):
        t0 = time.perf_counter()
        with b.tracer.span("session", "session.get_spark"):
            spark = b.session.start(shuffle_partitions=SHUFFLE_PARTITIONS[b.workload])
        t_session = time.perf_counter() - t0
        with b.tracer.span("compiler", "dedup.minhash_lsh_pairs.build"):
            t1 = time.perf_counter()
            pairs_df = minhash_lsh_pairs(documents_with_neardups(spark, corpus))
            b.details.setdefault("plan_build_ms", []).append((time.perf_counter() - t1) * 1000)
        with b.tracer.span("dedup", "dedup.minhash_lsh_pairs"):
            pairs_df.toPandas()
        setups.append(time.perf_counter() - t0)
        if k == 0:
            b.layers["session.get_spark_s"] = t_session
            b.layers["session.first_job_s"] = setups[0] - t_session
    for _ in range(SETTLE[b.workload]):
        _pairs(spark, corpus)
    cpu0 = harness.cpu_times()
    samples, results = [], []
    t_start = time.perf_counter()
    while sum(samples) < b.seconds:
        t0 = time.perf_counter()
        with b.tracer.span("dedup", "dedup.minhash_lsh_pairs"):
            results.append(_pairs(spark, corpus))
        samples.append(time.perf_counter() - t0)
    t_end = time.perf_counter()
    b.details["steal_frac"] = harness.steal_frac(cpu0, harness.cpu_times())
    rss = b.session.peak_rss_mb()

    with b.tracer.span("check", "check"):
        want = _oracle_hash(corpus, "dedup_minhash")
        bad = sum(value_hash(r) != want for r in results)
        found = set(zip(results[-1]["id_a"], results[-1]["id_b"]))
        recall = sum((min(p), max(p)) in found for p in planted) / len(planted)
    b.details["planted_recall"] = recall
    if b.trace:
        bad += not _dedup_layers(b, spark, corpus)
    return {
        "correct": bad == 0,
        "attempted": len(samples) + int(b.trace),
        "failed": bad,
        "setups": setups,
        "rows_per_s": _n_input_docs(corpus) / statistics.median(samples),
        "latency": [s * 1000.0 for s in samples],
        "peak_rss_mb": rss,
        "timed_wall": (t_start, t_end),
    }


def _dedup_layers(b: Bench, spark, corpus: str) -> bool:
    """Time each stage of the near-dup pipeline from the input (each call
    recomputes its upstream stages) and check the last one, the kept
    corpus, against its DuckDB twin. Returns whether it matched."""
    from tools.check_oracle import value_hash
    from vaero_spark.operators import dedup
    from vaero_spark.operators.curate import neardup_keep
    from vaero_spark.sources.corpus import documents_with_neardups

    df = documents_with_neardups(spark, corpus)
    stages = {
        "shingles": lambda: dedup.doc_shingles(df),
        "pairs": lambda: dedup.minhash_lsh_pairs(df),
        "clusters": lambda: dedup.neardup_clusters(df),
        "keep": lambda: neardup_keep(df),
    }
    out = {}
    for name, build in stages.items():
        t0 = time.perf_counter()
        with b.tracer.span("dedup", f"dedup.{name}"):
            out[name] = build().toPandas()
        b.layers[f"dedup.{name}_s"] = time.perf_counter() - t0
    b.layers["dedup.pairs"] = len(out["pairs"])
    b.layers["dedup.kept_docs"] = len(out["keep"])
    b.layers["dedup.planted_recall"] = b.details["planted_recall"]
    return value_hash(out["keep"]) == _oracle_hash(corpus, "dedup_keep")


# --------------------------------------------------------------------------
# single-core baseline (traced run only)
# --------------------------------------------------------------------------


def single_core_rows_per_s(b: Bench) -> float:
    """The same workload on a ``local[1]`` SparkContext for a short
    section: the single-threaded baseline."""
    seconds = min(6.0, b.seconds / 2)
    b.session.start(cores=1, shuffle_partitions=SHUFFLE_PARTITIONS[b.workload])
    spark = b.session.spark
    if b.workload == "dedup":
        corpus, _ = gen.documents(str(harness.CACHE), b.seed, N_DOCS)
        _pairs(spark, corpus)  # warm-up
        t0 = time.perf_counter()
        _pairs(spark, corpus)
        return _n_input_docs(corpus) / (time.perf_counter() - t0)
    wl = WORKLOADS[b.workload]()
    inp = _backlog(b)
    quiet = Tracer(False)
    sub = Bench(b.workload, b.seed, seconds, False, b.run, b.session, quiet, b.collector)
    spark.streams.addListener(b.collector)
    q = wl.start(sub, spark, inp, b.run.sub("single"))
    run_id = str(q.runId)
    warm_t = b.collector.wait_for(run_id, 1, q, WARMUP_TIMEOUT_S)[0][0]
    time.sleep(seconds)
    events = b.collector.for_run(run_id)
    wl.stop()
    spark.streams.removeListener(b.collector)
    timed = events[1:]
    if not timed:
        return 0.0
    return sum(p["numInputRows"] for _, p in timed) / (timed[-1][0] - warm_t)


WORKLOADS = {"ingest": Ingest, "stateful": Stateful}


def run(b: Bench) -> dict:
    if b.workload == "dedup":
        res = run_dedup(b)
    else:
        res = run_streaming(b, WORKLOADS[b.workload]())
    if b.trace:
        t0, t1 = res["timed_wall"]
        # perf_counter -> wall-clock ms for matching event-log task times
        off = time.time() - time.perf_counter()
        b.session.stop_context()  # flushes the event log
        b.layers.update(jvm_metrics(b.session.event_log_dir, (t0 + off) * 1000, (t1 + off) * 1000))
        b.layers["compiler.plan_build_ms"] = statistics.median(b.details.get("plan_build_ms", [0.0]))
        one = single_core_rows_per_s(b)
        b.layers["streaming.speedup_4v1"] = res["rows_per_s"] / one if one else 0.0
    return res
