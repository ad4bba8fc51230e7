"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --runs 10 [--workloads ingest,stateful] [--first-seed 1]

Runs every workload ``--runs`` times, each run with its own seed, and
interleaves the workloads (ingest, stateful, dedup, ingest, ...) so a
slow window of the host is shared between them instead of landing on
one. For each workload and metric it prints the median and the distance
between the first and third quartiles as a share of the median, next to
the metric's bound from ``BENCHMARK.json``. Each run's result line is
appended to ``--out`` (JSON lines) when given.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """(result line, details line) of one benchmark run."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{proc.stderr[-3000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2])["perfbench"]


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (Q3 - Q1) / median)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--out")
    args = ap.parse_args()

    names = args.workloads.split(",")
    results: dict[str, list[dict]] = {w: [] for w in names}
    for i in range(args.runs):
        for w in names:
            t0 = time.perf_counter()
            res, det = run_once(w, args.first_seed + i, args.seconds, 0)
            results[w].append(res)
            print(f"{w:9s} seed {args.first_seed + i:4d}  {time.perf_counter() - t0:5.1f}s  "
                  f"correct={res['correct']} failed={res['failed']}/{res['attempted']}  "
                  f"samples={det['latency_samples']}  cpu={det['host']['cpu_mhps']:.2f}Mh/s  "
                  + "  ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"workload": w, "result": res, "details": det}) + "\n")

    print(f"\n{'workload':9s} {'metric':16s} {'median':>10s} {'IQR/med':>8s} {'bound':>6s}")
    ok = True
    for w in names:
        ok &= all(r["correct"] and r["failed"] == 0 for r in results[w])
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results[w]]
            if len(vals) < 2:
                continue
            med, sp = spread(vals)
            flag = "" if m["name"] == "setup_s" or sp < m["bound"] / 3 else "  > bound/3"
            print(f"{w:9s} {m['name']:16s} {med:10.4g} {sp:8.3f} {m['bound']:6.2f}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
