"""What the run happened on: host noise, memory of the process tree, and
the settings in effect. Recorded next to every result."""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import threading
from pathlib import Path

import bench  # the repo's sweep harness; only its /proc tick readers are used

ROOT = Path(__file__).resolve().parent.parent
_PAGE = os.sysconf("SC_PAGE_SIZE")


class HostNoise:
    """loadavg, hypervisor steal and CPU burned by processes outside this
    process tree, between start() and stop()."""

    def start(self) -> None:
        self.load0 = os.getloadavg()
        self.ticks0 = bench._cpu_ticks()
        self.census0 = bench._tick_census()

    def stop(self) -> dict:
        ticks1, census1 = bench._cpu_ticks(), bench._tick_census()
        out = {"loadavg_before": list(self.load0), "loadavg_after": list(os.getloadavg()),
               "steal_frac": bench._steal_fraction(self.ticks0, ticks1), "foreign_frac": None}
        if self.ticks0 and ticks1 and self.census0 and census1:
            d = [b - a for a, b in zip(self.ticks0, ticks1)]
            busy = sum(d) - d[3] - d[4]
            own = (census1[0] - self.census0[0]) + (census1[1] - self.census0[1])
            out["foreign_frac"] = bench._foreign_fraction(busy, d[7], own)
        return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of `root` and all its descendants (driver, JVM,
    Python workers)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the process tree's RSS on a thread until stopped."""

    def __init__(self, period_s: float = 0.25, enabled: bool = True):
        self.period = period_s
        self.enabled = enabled
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(me))
            if self._stop.wait(self.period):
                return

    def __enter__(self):
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc):
        if self.enabled:
            self._stop.set()
            self._thread.join()


def file_digest(path: Path) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def data_signature(data_dir: Path) -> str:
    """One digest over the content of every parquet file in a directory."""
    h = hashlib.sha256()
    for p in sorted(data_dir.glob("*.parquet")):
        h.update(f"{p.name}:{file_digest(p)}\n".encode())
    return h.hexdigest()[:16]


def source_digest() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "radient_spark").rglob("*.py")):
        h.update(f"{p.relative_to(ROOT)}:{file_digest(p)}\n".encode())
    return h.hexdigest()[:16]


def environment(spark, seed: int, signatures: dict) -> dict:
    import duckdb
    import pyspark

    sha = None  # a benchmark checkout need not be a git repository
    if (ROOT / ".git").exists():
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                 text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "seed": seed,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "graft_env": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
        "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())) if spark else {},
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "git_sha": sha,
        "source_digest": source_digest(),
        "data_signatures": signatures,
    }
