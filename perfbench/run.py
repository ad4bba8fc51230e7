"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it, ``{"perfbench": {...}}``, carries the details: sample counts,
every set-up time, the host controls and, when traced, the layer table.
"""

from __future__ import annotations

import argparse
import json
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "latency_p50_ms": "ms",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.first_job_s": "s",
    "compiler.plan_build_ms": "ms",
    "sources.input_rows": "count",
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "streaming.epochs": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms",
    "streaming.idle_frac": "frac",
    "streaming.speedup_4v1": "x",
    "sinks.write_calls": "count",
    "sinks.write_ms_p50": "ms",
    "sinks.rows_written": "count",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "state.rows_total": "count",
    "state.rows_updated": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "state.rows_dropped_by_watermark": "count",
    "state.python_rows": "count",
    "state.python_bytes": "bytes",
    "state.python_start_ms": "ms",
    "state.python_run_ms": "ms",
    "dedup.shingles_s": "s",
    "dedup.pairs_s": "s",
    "dedup.clusters_s": "s",
    "dedup.keep_s": "s",
    "dedup.pairs": "count",
    "dedup.kept_docs": "count",
    "dedup.planted_recall": "frac",
    "jvm.tasks": "count",
    "jvm.executor_run_ms": "ms",
    "jvm.executor_cpu_ms": "ms",
    "jvm.gc_ms": "ms",
    "jvm.shuffle_write_bytes": "bytes",
    "jvm.shuffle_read_bytes": "bytes",
    "jvm.fetch_wait_ms": "ms",
    "jvm.spill_bytes": "bytes",
    "jvm.task_skew": "x",
    "host.cpu_mhps": "Mhash/s",
    "host.steal_frac": "frac",
    "self.session_ms": "ms",
    "self.compiler_ms": "ms",
    "self.streaming_ms": "ms",
    "self.sinks_ms": "ms",
    "self.state_ms": "ms",
    "self.dedup_ms": "ms",
}

WORKLOADS = ("ingest", "stateful", "dedup")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "vaero_spark" / "__init__.py").is_file():
        print(f"perfbench: no vaero_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    import harness
    import workloads
    from spans import Tracer

    cpu_mhps = harness.cpu_probe()
    with harness.RunDir() as run:
        harness.prepare_env(run, workloads.DRIVER_MEMORY[args.workload])
        session = harness.Session(run, event_log=bool(args.trace))
        b = workloads.Bench(
            args.workload, args.seed, args.seconds, bool(args.trace), run,
            session, Tracer(bool(args.trace)),
        )
        try:
            res = workloads.run(b)
        except Exception:  # noqa: BLE001 - report and fail the run
            traceback.print_exc()
            return 1
        finally:
            session.close()

    lat = res["latency"]
    e2e = {
        "setup_s": statistics.median(res["setups"]),
        "rows_per_s": res["rows_per_s"],
        "latency_p50_ms": statistics.median(lat),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    details = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "end_to_end": e2e,
        "latency_samples": len(lat),
        # a percentile is shown only with >= 10 samples beyond it
        "latency_p90_ms": statistics.quantiles(lat, n=10)[-1] if len(lat) >= 100 else None,
        "setups_s": res["setups"],
        "failed_frac": res["failed"] / res["attempted"],
        "host": {"cpu_mhps": cpu_mhps, "steal_frac": b.details.get("steal_frac")},
    }
    if "planted_recall" in b.details:
        details["planted_recall"] = b.details["planted_recall"]
    if args.trace:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update({k: v for k, v in b.layers.items() if k in PER_LAYER})
        layers["host.cpu_mhps"] = cpu_mhps
        layers["host.steal_frac"] = b.details.get("steal_frac", 0.0)
        self_ms = b.tracer.self_ms_by_layer()
        for layer in ("session", "compiler", "streaming", "sinks", "state", "dedup"):
            layers[f"self.{layer}_ms"] = self_ms.get(layer, 0.0)
        details["self_ms"] = self_ms
        metrics = {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"perfbench": details}))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.perf_counter()
    code = main(sys.argv[1:])
    print(f"perfbench: exit {code} after {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    sys.exit(code)
