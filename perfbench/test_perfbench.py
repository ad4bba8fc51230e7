"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end test runs one short ``ingest`` run (about 30 s).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pandas as pd

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import gen  # noqa: E402
from spans import Tracer  # noqa: E402


def _bench(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


def _git_status() -> str:
    return subprocess.run(
        ["git", "status", "--porcelain"], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout


def _listing(path: Path) -> dict:
    if not path.exists():
        return {}
    return {str(p): p.stat().st_mtime_ns for p in path.rglob("*")}


def test_run_is_correct_and_leaves_no_trace():
    status, metrics_dir = _git_status(), _listing(ROOT / "vaero_metrics")
    tmp_before = set(os.listdir("/tmp"))
    proc = _bench(ROOT, "--workload", "ingest", "--seed", "5", "--seconds", "3", "--trace", "0")
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(res["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())
    # nothing written into the tree, the metrics listener's default dir
    # untouched, every per-run work dir removed, nothing left in /tmp
    assert _git_status() == status
    assert _listing(ROOT / "vaero_metrics") == metrics_dir
    assert not list((ROOT / ".perfbench_work").glob("run-*"))
    new_tmp = set(os.listdir("/tmp")) - tmp_before
    assert not [n for n in new_tmp if n.startswith(("spark", "blockmgr", "vaero"))], new_tmp


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _bench(tmp_path, "--workload", "ingest", "--seed", "1", "--seconds", "3", "--trace", "0")
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_generators_are_seeded(tmp_path):
    a = gen.transcripts(str(tmp_path / "a"), "stateful", 3, 4)
    b = gen.transcripts(str(tmp_path / "b"), "stateful", 3, 4)
    c = gen.transcripts(str(tmp_path / "c"), "stateful", 4, 4)
    read = lambda d: pd.concat(pd.read_parquet(os.path.join(d, f)) for f in sorted(os.listdir(d)))  # noqa: E731
    pd.testing.assert_frame_equal(read(a), read(b))
    assert not read(a).equals(read(c))
    assert len(os.listdir(a)) == 4
    d1, p1 = gen.documents(str(tmp_path / "a"), 3, 100)
    d2, p2 = gen.documents(str(tmp_path / "b"), 3, 100)
    assert p1 == p2 and len(p1) > 0
    pd.testing.assert_frame_equal(
        pd.read_parquet(os.path.join(d1, "documents.parquet")),
        pd.read_parquet(os.path.join(d2, "documents.parquet")),
    )


def test_self_time_counts_overlapping_children_once():
    t = Tracer(True)
    epoch = t.add("streaming", "epoch", 0.0, 10.0)
    t.add("sinks", "write", 2.0, 5.0, parent=epoch)
    t.add("sinks", "write", 3.0, 6.0, parent=epoch)
    assert t.self_ms_by_layer() == {"streaming": 6000.0, "sinks": 4000.0}
    assert Tracer(False).add("x", "y", 0.0, 1.0) is None
