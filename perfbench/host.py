"""Host side of a run: the run record, process-tree CPU and memory, JVM
statistics, and shutting the JVM down."""

from __future__ import annotations

import hashlib
import json
import os
import platform
import subprocess
import sys
import time
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_gb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 2**20
    return 4


def calib_s() -> float:
    """A fixed pure-Python reference loop (median of three timings). It
    does not touch the program, so it moves only with host weather."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(500_000):
            x += (i * i) % 7
        times.append(time.perf_counter() - t0)
    return sorted(times)[1]


def _source_hash(root: Path) -> str:
    digest = hashlib.sha256()
    for f in sorted((root / "seng550_a3_etl_spark").rglob("*.py")):
        digest.update(str(f.relative_to(root)).encode() + f.read_bytes())
    return digest.hexdigest()[:16]


def _commit(root: Path) -> str | None:
    if not (root / ".git").exists():
        return None
    try:
        out = subprocess.run(
            ["git", "-C", str(root), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def start_record(args, pinned: dict[str, str], root: Path) -> dict:
    import pyspark

    return {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": nproc(), "mem_total_gb": mem_total_gb(),
        "settings": pinned,
        "versions": {
            "python": platform.python_version(), "pyspark": pyspark.__version__,
        },
        "commit": _commit(root), "source_hash": _source_hash(root),
        "load1_start": os.getloadavg()[0],
        "calib_s_start": calib_s(),
    }


def end_record() -> dict:
    return {"load1_end": os.getloadavg()[0], "calib_s_end": calib_s()}


def jvm_versions(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
    }


def jvm_stats(spark) -> dict:
    """Cumulative GC time and current heap use of the driver JVM."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    rt = jvm.java.lang.Runtime.getRuntime()
    return {
        "gc_s": gc_ms / 1e3,
        "heap_used_mb": (rt.totalMemory() - rt.freeMemory()) / 2**20,
    }


class ProcessTree:
    """This process, the driver JVM and the JVM's Python workers."""

    def __init__(self):
        from pyspark import SparkContext

        self.jvm = SparkContext._gateway.proc.pid

    @staticmethod
    def _children(pid: int) -> list[int]:
        out = []
        try:
            for task in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{task}/children") as f:
                    out += [int(c) for c in f.read().split()]
        except OSError:
            pass
        return out

    def pids(self) -> list[int]:
        todo, seen = [os.getpid()], []
        while todo:
            pid = todo.pop()
            seen.append(pid)
            todo += self._children(pid)
        return seen

    @staticmethod
    def _cpu_s(pid: int) -> float:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            return 0.0
        return (int(fields[11]) + int(fields[12])) / _TICK

    def jvm_cpu_s(self) -> float:
        return self._cpu_s(self.jvm)

    def python_cpu_s(self) -> float:
        """Driver Python plus the JVM's live Python workers."""
        t = os.times()
        workers = [p for p in self.pids() if p not in (os.getpid(), self.jvm)]
        return t.user + t.system + sum(self._cpu_s(p) for p in workers)

    def peak_rss_by_process(self) -> dict[str, float]:
        """Each live process's RSS high-water mark in MB, by pid and name."""
        out = {}
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    fields = dict(line.split(":", 1) for line in f if ":" in line)
            except OSError:
                continue
            if "VmHWM" in fields:
                name = fields["Name"].strip()
                out[f"{pid}:{name}"] = int(fields["VmHWM"].split()[0]) / 1024
        return out

    def peak_rss_mb(self) -> float:
        """Sum over the tree of each process's RSS high-water mark."""
        return sum(self.peak_rss_by_process().values())


def run_id(args) -> str:
    return f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"


def write_json(path: Path, obj) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(obj, indent=1, default=str))


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until it has ended."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    from py4j.protocol import Py4JError

    try:
        gateway.shutdown()
    except Py4JError:  # the JVM is already gone
        pass
    # The JVM exits when its stdin closes.
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    sys.stderr.flush()
