"""Pieces shared by the three workloads: the run context, forcing a
DataFrame to completion, peak-memory sampling and latency statistics."""

from __future__ import annotations

import os
import statistics
import sys
import time
from dataclasses import dataclass
from pathlib import Path

from tracing import Tracer


class CheckFailed(Exception):
    """An operation completed but its output was wrong."""


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    smoke: bool
    tmp: Path
    tracer: Tracer
    rss: "RssMeter"
    attempted: int = 0
    failed: int = 0

    def check(self, ok: bool, msg: str) -> None:
        if not ok:
            raise CheckFailed(msg)

    def note(self, msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run_full(df) -> int:
    """Execute ``df`` completely and return its row count: a noop-sink
    write plus ``observe``, so every projected column is computed and
    nothing is collected to the Spark driver (``count()`` would let the
    optimizer prune the projection)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    return int(obs.get["n"])


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(x) for x in fh.read().split()]
    except OSError:
        return []


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssMeter:
    """Peak resident memory of the Spark JVM and every process under it
    (the Python workers), from each process's own ``VmHWM``.  Sampled
    after every operation, so workers that exit between samples are
    still counted at their last reading."""

    def __init__(self, root_pid: int | None):
        self.root = root_pid
        self.peak_kb: dict[int, int] = {}

    def sample(self) -> None:
        if self.root is None:
            return
        todo = [self.root]
        while todo:
            pid = todo.pop()
            self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), _hwm_kb(pid))
            todo.extend(_children(pid))

    @property
    def peak_mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0


def median(values: list[float]) -> float:
    return statistics.median(values)


def tree_files(root: Path) -> dict[str, int]:
    """path -> size of every regular file under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def count_manifests(root: Path) -> int:
    return sum(
        len(files)
        for dirpath, _d, files in os.walk(root)
        if os.path.basename(dirpath) == "_manifests"
    )


def space_amp(spark, tables: list[str], scratch: Path) -> float:
    """Bytes on disk under the snapshot tables ÷ bytes of their live rows
    written once as plain parquet."""
    from ght2dm_spark.snapshots import read_snapshot

    on_disk = sum(sum(tree_files(Path(t)).values()) for t in tables)
    plain = 0
    for i, t in enumerate(tables):
        df = read_snapshot(spark, t)
        if df is None:
            continue
        dest = scratch / f"plain{i}"
        df.write.mode("overwrite").parquet(str(dest))
        plain += sum(
            s for p, s in tree_files(dest).items() if p.endswith(".parquet")
        )
    return on_disk / plain if plain else 0.0


class Clock:
    def __init__(self, seconds: float):
        self.start = time.perf_counter()
        self.seconds = seconds

    def left(self) -> bool:
        return time.perf_counter() - self.start < self.seconds

    def elapsed(self) -> float:
        return time.perf_counter() - self.start
