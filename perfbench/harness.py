"""Process-level plumbing: work dirs, environment, Spark session
lifecycle, host probes and peak RSS.

All files a run writes live under ``<checkout>/.perfbench_work``: the
input cache (kept across runs) and one ``run-*`` dir per run (removed
when the run ends, also on failure).
"""

from __future__ import annotations

import hashlib
import os
import resource
import shutil
import subprocess
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
CACHE = WORK / "cache"

CORES = 4
ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


class RunDir:
    """A per-run scratch dir under ``WORK``, removed on exit."""

    def __enter__(self) -> "RunDir":
        WORK.mkdir(exist_ok=True)
        self.path = tempfile.mkdtemp(prefix="run-", dir=WORK)
        return self

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def prepare_env(run: RunDir, driver_memory: str) -> None:
    """Environment the JVM and its Python workers inherit. Set before the
    first session starts. ``driver_memory`` replaces the session's 48g
    default, which does not fit a small host."""
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = f"{ROOT}{os.pathsep}{path}" if path else str(ROOT)
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory
    tmp = run.sub("tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = run.sub("local")
    tempfile.tempdir = tmp


class Session:
    """One JVM per process; ``start`` creates a fresh SparkContext in it
    (launching the JVM the first time), ``close`` stops the JVM."""

    def __init__(self, run: RunDir, event_log: bool = False):
        self.run = run
        self.event_log_dir = run.sub("eventlog") if event_log else None
        self.spark = None

    def start(self, cores: int = CORES, shuffle_partitions: int = CORES):
        from vaero_spark.session import get_spark

        self.stop_context()
        conf = {
            "spark.sql.streaming.stateStore.providerClass": ROCKSDB,
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.ui.showConsoleProgress": "false",
            # a fixed-size heap (-Xms = -Xmx): the peak RSS no longer
            # depends on when G1 decides to grow the heap
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} "
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
            ),
        }
        if self.event_log_dir:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = f"file://{self.event_log_dir}"
            # one plain-text file per context, parsed after the context stops
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        self.spark = get_spark(
            "perfbench", master=f"local[{cores}]",
            shuffle_partitions=shuffle_partitions, extra_conf=conf,
        )
        return self.spark

    def peak_rss_mb(self) -> float:
        """Peak RSS of the driver JVM plus this Python process."""
        from pyspark import SparkContext

        with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
            hwm_kb = next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (hwm_kb + py_kb) / 1024.0

    def stop_context(self) -> None:
        """Stop the SparkContext (flushes the event log); the JVM stays."""
        if self.spark is not None:
            from vaero_spark.operators.dedup import release_caches

            release_caches()  # dedup's cached intermediates live in this context
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the context and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.stop_context()
        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        proc = gw.proc
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a stuck JVM must still go
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def cpu_probe() -> float:
    """Fixed single-thread md5 chain; Mhash/s. Reported beside each run
    as a host-speed control, never used to adjust a number."""
    acc = b"seed"
    t0 = time.perf_counter()
    for _ in range(200_000):
        acc = hashlib.md5(acc).digest()
    return 0.2 / (time.perf_counter() - t0)


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two
    ``cpu_times`` readings (field 8 of /proc/stat's cpu line)."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return d[7] / total if total > 0 else 0.0
