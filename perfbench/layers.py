"""Per-layer table and tracing overhead.

    python3 perfbench/layers.py [--workloads ingest,dedup] [--seed 7] [--pairs 1]

For each workload, runs the benchmark untraced and traced on the same
seed, ``--pairs`` times in ABBA order (untraced, traced, traced,
untraced, ...). Prints the traced run's self time per layer, every
per-layer metric grouped by layer, and the tracing overhead: the traced
end-to-end medians minus the untraced ones.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path

from spread import run_once

ROOT = Path(__file__).resolve().parent.parent


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--pairs", type=int, default=1)
    args = ap.parse_args()

    ok = True
    for w in args.workloads.split(","):
        untraced, traced = [], []
        for i in range(args.pairs):
            for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
                res, det = run_once(w, args.seed, args.seconds, trace)
                ok &= res["correct"] and res["failed"] == 0
                (traced if trace else untraced).append((res, det))

        res, det = traced[-1]
        print(f"\n== {w} (seed {args.seed}, {args.seconds}s, {args.pairs} pair(s))")
        print(f"{'layer':10s} {'self ms':>10s}")
        for layer, ms in sorted(det["self_ms"].items(), key=lambda kv: -kv[1]):
            print(f"{layer:10s} {ms:10.0f}")
        groups: dict[str, list[str]] = {}
        for name, m in res["metrics"].items():
            groups.setdefault(name.split(".")[0], []).append(
                f"{name.split('.', 1)[1]}={m['value']:.4g}{'' if m['unit'] == 'count' else m['unit']}"
            )
        for layer, items in groups.items():
            print(f"  {layer:10s} " + "  ".join(items))

        print(f"{'metric':16s} {'untraced':>10s} {'traced':>10s} {'overhead':>9s}")
        for m in spec["end_to_end"]:
            a = statistics.median(d["end_to_end"][m["name"]] for _, d in untraced)
            b = statistics.median(d["end_to_end"][m["name"]] for _, d in traced)
            print(f"{m['name']:16s} {a:10.4g} {b:10.4g} {(b - a) / a:+9.1%}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
