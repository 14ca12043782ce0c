"""Tracing for the benchmark's traced run (``--trace 1``).

Everything here observes the engine from outside: spans are opened by
the benchmark's own code around calls into the package's public
functions, and Spark-side child spans and counters are read from
Spark's own progress events, status store and ``QueryExecution``.
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import datetime, timezone

from stats import self_time


@dataclass
class Span:
    name: str
    layer: str
    op: str  # spans of one operation (a consumer batch, a micro-batch,
    # an index round) share this id
    t0: float  # epoch seconds
    t1: float
    parent: int | None = None
    attrs: dict | None = None


class Tracer:
    """In-memory span recorder.  A disabled tracer records nothing and
    its ``span`` context manager returns at once, so the same workload
    code serves traced and untraced runs."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.record_s = 0.0  # time spent inside the recorder itself
        self._lock = threading.Lock()
        self._stack = threading.local()

    @contextmanager
    def span(self, name: str, layer: str, op: str = "", **attrs) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        stack = getattr(self._stack, "ids", None)
        if stack is None:
            stack = self._stack.ids = []
        parent = stack[-1] if stack else None
        idx = self.add(name, layer, op, time.time(), 0.0, parent, attrs or None)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].t1 = time.time()

    def add(
        self,
        name: str,
        layer: str,
        op: str,
        t0: float,
        t1: float,
        parent: int | None = None,
        attrs: dict | None = None,
    ) -> int:
        a = time.perf_counter()
        with self._lock:
            self.spans.append(Span(name, layer, op, t0, t1, parent, attrs))
            idx = len(self.spans) - 1
            self.record_s += time.perf_counter() - a
        return idx

    def summary(self) -> dict[str, dict[str, float]]:
        """Per span name: count, total seconds and self seconds (duration
        minus the part covered by child spans)."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append((s.t0, s.t1))
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            row = out.setdefault(
                s.name, {"layer": s.layer, "count": 0, "total_s": 0.0, "self_s": 0.0}
            )
            row["count"] += 1
            row["total_s"] += s.t1 - s.t0
            row["self_s"] += self_time((s.t0, s.t1), children.get(i, ()))
        return out

    def self_by_layer(self) -> dict[str, float]:
        acc: dict[str, float] = defaultdict(float)
        for row in self.summary().values():
            acc[row["layer"]] += row["self_s"]
        return dict(acc)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                rec = {
                    "id": i,
                    "name": s.name,
                    "layer": s.layer,
                    "op": s.op,
                    "t0": s.t0,
                    "t1": s.t1,
                    "parent": s.parent,
                }
                if s.attrs:
                    rec["attrs"] = s.attrs
                f.write(json.dumps(rec) + "\n")


# -- Spark progress events ------------------------------------------------

# MicroBatchExecution's phase order inside one trigger; progress events
# carry only per-phase durations, so child spans are laid out in this
# order from the trigger's start timestamp.
PHASES = (
    "latestOffset",
    "walCommit",
    "getBatch",
    "queryPlanning",
    "addBatch",
    "commitOffsets",
)


def iso_to_epoch(ts: str) -> float:
    return (
        datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def progress_spans(tracer: Tracer, progress: list[dict]) -> None:
    """One ``microbatch`` span per progress event (``timestamp`` +
    ``durationMs.triggerExecution``) with one child span per phase."""
    for p in progress:
        d = p.get("durationMs", {})
        t0 = iso_to_epoch(p["timestamp"])
        op = f"mb{p['batchId']}"
        parent = tracer.add(
            "microbatch",
            "spark.microbatch",
            op,
            t0,
            t0 + d.get("triggerExecution", 0) / 1000.0,
            attrs={"rows": p.get("numInputRows", 0)},
        )
        t = t0
        for ph in PHASES:
            if ph in d:
                tracer.add(f"microbatch.{ph}", "spark.microbatch", op, t, t + d[ph] / 1000.0, parent)
                t += d[ph] / 1000.0


# -- Spark status store ---------------------------------------------------


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def status_jobs(spark) -> list[dict]:
    """Every job the status store still holds, with its stages' metrics."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    stages = {}
    seq = store.stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList()
    )
    for i in range(seq.size()):
        s = seq.apply(i)
        stages[(s.stageId(), s.attemptId())] = {
            "id": s.stageId(),
            "t0": _opt_ms(s.submissionTime()),
            "t1": _opt_ms(s.completionTime()),
            "tasks": s.numTasks(),
            "run_s": s.executorRunTime() / 1000.0,
            "cpu_s": s.executorCpuTime() / 1e9,
            "shuffle_read": s.shuffleReadBytes(),
            "shuffle_write": s.shuffleWriteBytes(),
            "spill": s.diskBytesSpilled() + s.memoryBytesSpilled(),
        }
    by_stage: dict[int, list[dict]] = defaultdict(list)
    for (sid, _), st in stages.items():
        by_stage[sid].append(st)
    jobs = []
    seq = store.jobsList(None)
    for i in range(seq.size()):
        j = seq.apply(i)
        ids = j.stageIds()
        run = [
            st
            for k in range(ids.size())
            for st in by_stage.get(ids.apply(k), [])
            if st["t0"] is not None  # skipped (reused) stages never ran
        ]
        grp = j.jobGroup()
        desc = j.description()
        jobs.append(
            {
                "id": j.jobId(),
                "group": grp.get() if grp.isDefined() else None,
                "description": desc.get() if desc.isDefined() else "",
                "t0": _opt_ms(j.submissionTime()),
                "t1": _opt_ms(j.completionTime()),
                "stages": run,
            }
        )
    return jobs


def exec_totals(jobs: list[dict]) -> dict[str, float]:
    stages = [s for j in jobs for s in j["stages"]]
    return {
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.executor_run_s": sum(s["run_s"] for s in stages),
        "exec.executor_cpu_s": sum(s["cpu_s"] for s in stages),
        "exec.shuffle_read_bytes": sum(s["shuffle_read"] for s in stages),
        "exec.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
        "exec.spill_bytes": sum(s["spill"] for s in stages),
    }


def job_spans(tracer: Tracer, jobs: list[dict], op_of=lambda job: job["group"] or "") -> None:
    """Spark jobs (with their stages as children) as spans.  A job's
    parent is the innermost already-recorded span of the same operation
    that was open when the job started, so the parent's self time is the
    part of it that no Spark job covered."""
    by_op: dict[str, list[int]] = defaultdict(list)
    for i, s in enumerate(tracer.spans):
        by_op[s.op].append(i)
    for j in jobs:
        if j["t0"] is None or j["t1"] is None:
            continue
        op = op_of(j)
        enclosing = [
            i for i in by_op.get(op, ()) if tracer.spans[i].t0 <= j["t0"] <= tracer.spans[i].t1
        ]
        parent = max(enclosing, key=lambda i: tracer.spans[i].t0, default=None)
        jid = tracer.add("spark.job", "spark.exec", op, j["t0"], j["t1"], parent)
        for s in j["stages"]:
            if s["t1"] is not None:
                tracer.add("spark.stage", "spark.exec", op, s["t0"], s["t1"], jid)


def qe_phases(df) -> dict[str, float]:
    """Catalyst phase times (ms) from a DataFrame's ``QueryExecution``."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


# -- process memory -------------------------------------------------------


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    out: list[int] = []
    todo = [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as f:
                kids = [int(x) for x in f.read().split()]
        except OSError:
            continue
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants (driver JVM,
    Spark's Python workers)."""
    total_kb = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(int(ln.split()[1]) for ln in f if ln.startswith("VmRSS:"))
        except (OSError, StopIteration):
            continue
    return total_kb / 1024.0


class RssSampler:
    """Samples the process tree's RSS every ``period`` seconds and keeps
    the peak; runs only in traced runs."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._t.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._t.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
        return self.peak_mb
