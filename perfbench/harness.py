"""Run context shared by the workloads: fresh per-run directories, the
Spark session sized for this host, the machine-state block, and the
result every workload returns."""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import time
from dataclasses import dataclass, field

from stats import Outcomes
from tracing import Tracer, descendants

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench-out")
DRIVER_MEMORY = "2g"


def process_start_epoch() -> float:
    """When this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> list[int]:
    """Aggregate /proc/stat CPU counters (user nice system idle iowait
    irq softirq steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_shares(before: list[int], after: list[int]) -> dict:
    """Share of all CPU time between two ``cpu_ticks`` readings that was
    busy, waiting on I/O, or stolen by the hypervisor for other guests."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    return {
        "cpu_busy_pct": round(100.0 * (total - d[3] - d[4] - d[7]) / total, 1),
        "cpu_iowait_pct": round(100.0 * d[4] / total, 1),
        "cpu_steal_pct": round(100.0 * d[7] / total, 1),
    }


def machine_state() -> dict:
    """Load, memory and CPUs at run time: runs are only comparable when
    these are comparable."""
    st: dict = {"cpus": cpus()}
    st["load_1m"], st["load_5m"], st["load_15m"] = (round(x, 2) for x in os.getloadavg())
    with open("/proc/meminfo") as f:
        mem = {k.rstrip(":"): int(v) for k, v, *_ in (ln.split() for ln in f if ln.strip())}
    st["mem_available_gb"] = round(mem.get("MemAvailable", 0) / 2**20, 1)
    st["mem_total_gb"] = round(mem.get("MemTotal", 0) / 2**20, 1)
    return st


@dataclass
class Result:
    """What a workload measured.  ``e2e`` keys are the end-to-end metric
    names; ``layers`` the per-layer ones (traced run only); ``notes`` is
    free-form detail printed for the reader (tail percentile used,
    sample counts, phase sizes)."""

    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    notes: dict = field(default_factory=dict)


class Context:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.t_process = process_start_epoch()
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.outcomes = Outcomes()
        self.run_dir = os.path.join(OUT, f"{workload}-s{seed}-p{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        self.tmp = self.path("tmp")
        # Spark's Python data-source workers import the package, so the
        # checkout must be on their path; every scratch file of Spark,
        # the JVM and Python stays inside the run directory
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["SPARK_GRAFT_WAREHOUSE"] = self.path("warehouse")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
        self.spark = None

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def path(self, *parts: str) -> str:
        p = os.path.join(self.run_dir, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def start_spark(self):
        """local[nproc] session with explicit driver memory; returns the
        seconds from process start until the session answered a query."""
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            [
                # no hsperfdata file in the system temp dir either
                f"--conf spark.driver.extraJavaOptions='-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData'",
                "--conf spark.ui.retainedJobs=100000",
                "--conf spark.ui.retainedStages=100000",
                "--conf spark.sql.ui.retainedExecutions=100000",
                "--conf spark.sql.streaming.numRecentProgressUpdates=100000",
                "pyspark-shell",
            ]
        )
        from redis_streams_spark.session import get_spark

        with self.tracer.span("session.start", "session"):
            self.spark = get_spark(f"perfbench-{self.workload}", cpus=cpus())
            self.spark.range(1).collect()
        return time.time() - self.t_process

    def stop_spark(self) -> None:
        """Stop the session and wait until the driver JVM and every
        process it started (Spark's Python workers) have exited."""
        if self.spark is None:
            return
        from py4j.protocol import Py4JError
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        started = descendants(os.getpid())
        self.spark.stop()
        self.spark = None
        if proc is None:
            return
        try:
            gateway.shutdown()
        except (Py4JError, OSError):
            pass  # the JVM side may already be gone; the wait below decides
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.time() + 15
        while time.time() < deadline and any(_alive(p) for p in started):
            time.sleep(0.05)
        for p in started:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass

    def cleanup(self) -> None:
        self.stop_spark()
        shutil.rmtree(self.run_dir, ignore_errors=True)
