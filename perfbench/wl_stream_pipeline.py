"""Workload ``stream_pipeline``: the engine's Structured Streaming path.

An open-loop generator appends to a file-backed ``StreamLog`` at 2000
msgs/s; 5% of the messages are seeded re-sends of a recent id (producer
retries).  One query runs ``open_stream(batch_size=20000)`` → ``project``
→ ``stream_dedup`` on the id with a watermark on the due time → the
``redislog`` sink, under a processing-time trigger.  After the steady
phase a fixed backlog is appended at once and drained by the same query
under its 20 k-row cap, three times over.

The sink mints each output msgid from the commit's wall-clock
millisecond, so latency is the sink msgid's time minus the generator's
due time, with nothing polled.  All rows of one micro-batch share that
millisecond, so tail samples are counted per micro-batch.
"""

from __future__ import annotations

import json
import math
import time
from collections import Counter

from gen import Message, OpenLoopGenerator
from harness import Context, Result
from stats import batch_latencies, median, percentile, tail
from tracing import RssSampler, exec_totals, job_spans, progress_spans, status_jobs

RATE = 2000.0
DUP_SHARE = 0.05
BATCH_CAP = 20000
BURST = 20000
BURSTS = 3
PREFILL_ID = 10**9
TRIGGER = "100 milliseconds"
WATERMARK = "1 minute"
SETUP_PREFILL = 500
DRAIN_TIMEOUT_S = 90.0


def _start_query(ctx: Context, root: str, name: str):
    from pyspark.sql import functions as F

    from redis_streams_spark.streaming.bridge import open_stream
    from redis_streams_spark.streaming.windows import project, stream_dedup

    src = open_stream(ctx.spark, root, "in", group="bench", batch_size=BATCH_CAP)
    typed = project(src, {"id": "long", "due_ms": "double"}).withColumn(
        "due", (F.col("due_ms") / 1000.0).cast("timestamp")
    )
    deduped = stream_dedup(typed, keys=["id"], ts_col="due", watermark=WATERMARK)
    return (
        deduped.select("id", "due_ms")
        .writeStream.format("redislog")
        .option("path", root)
        .option("stream", "out")
        .option("checkpointLocation", ctx.path(name, "checkpoint"))
        .queryName(name)
        .trigger(processingTime=TRIGGER)
        .start()
    )


def _wait_rows(log, n: int, timeout: float) -> float:
    """Epoch time at which the sink log first held ``n`` rows (NaN on
    timeout)."""
    end = time.time() + timeout
    while time.time() < end:
        if log.count() >= n:
            return time.time()
        time.sleep(0.02)
    return float("nan")


def run(ctx: Context) -> Result:
    from redis_streams_spark.sources.stream_log import StreamLog
    from redis_streams_spark.streaming import Producer

    ready = ctx.start_spark()
    sampler = RssSampler().start() if ctx.traced else None
    root = ctx.path("run", "log")
    producer = Producer(StreamLog(root, "in"), "in", consumer_group="bench")
    sink = StreamLog(root, "out")
    appended: list[tuple[float, int]] = []  # (epoch after append, total appended)
    busy = [0, 0.0]

    def append(batch) -> None:
        a = time.perf_counter()
        with ctx.tracer.span("producer.add_many", "streaming.producer", n=len(batch)):
            producer.add_many([m.payload() for m in batch])
        busy[0] += 1
        busy[1] += time.perf_counter() - a
        appended.append((time.time(), (appended[-1][1] if appended else 0) + len(batch)))

    # -- set-up: start the query on a small prefill and wait for it in the
    # sink (query start, Python workers, planning, code generation).  It
    # runs once: a second start in the same process would meet a warm JVM
    t = time.time()
    with ctx.tracer.span("setup", "harness"):
        prefill = [Message(PREFILL_ID + i, t) for i in range(SETUP_PREFILL)]
        append(prefill)
        q = _start_query(ctx, root, "run")
        first_s = _wait_rows(sink, SETUP_PREFILL, DRAIN_TIMEOUT_S) - t
    setup_s = ready + first_s
    out = ctx.outcomes
    out.check(not math.isnan(first_s), "setup: prefill never reached the sink")

    # -- steady phase ----------------------------------------------------
    gen = OpenLoopGenerator(
        seed=ctx.seed, rate=RATE, seconds=float(ctx.seconds), dup_share=DUP_SHARE, burst_size=BURST
    )
    t_steady = time.time()
    with ctx.tracer.span("steady", "harness"):
        gen.run(append)
        steady_ids = {m.id for m in gen.sent}
        t_steady_done = _wait_rows(sink, SETUP_PREFILL + len(steady_ids), DRAIN_TIMEOUT_S)
    out.check(not math.isnan(t_steady_done), "steady phase never drained into the sink")

    # -- burst phase: BURSTS backlogs of one capped batch each, each
    # drained before the next; the drain rate is their median -----------
    t_burst = time.time()
    rates = []
    backlogs = []
    with ctx.tracer.span("burst", "harness"):
        for _ in range(BURSTS):
            backlog = gen.burst(time.time())
            backlogs.extend(backlog)
            t = time.time()
            append(backlog)
            done = _wait_rows(sink, SETUP_PREFILL + len(steady_ids) + len(backlogs), DRAIN_TIMEOUT_S)
            out.check(not math.isnan(done), f"burst {len(rates)} never drained into the sink")
            rates.append(len(backlog) / (done - t))
    q.processAllAvailable()  # a stray extra batch would show up as duplicates
    q.stop()
    progress = [json.loads(p.json) for p in q.recentProgress]

    # -- correctness: every distinct produced id in the sink exactly once --
    due_of = {m.id: m.due for m in prefill + gen.sent + backlogs}
    rows = sink.read_slice(0, sink.count())
    seen = Counter(int(c["id"]) for _, _, c in rows)
    for i in due_of:
        out.check(seen.get(i, 0) == 1, f"id {i}: reached the sink {seen.get(i, 0)} times")
    for i in set(seen) - set(due_of):
        out.fail(f"sink holds unknown id {i}")
    for _, msgid, c in rows:
        i = int(c["id"])
        if i in due_of and abs(float(c["due_ms"]) / 1000.0 - due_of[i]) > 1e-3:
            out.fail(f"id {i}: due time changed on the way to the sink")

    # -- latency: sink msgid time minus due time, steady phase -------------
    steady_rows = [
        (msgid.split("-")[0], float(c["due_ms"]) / 1000.0, int(msgid.split("-")[0]) / 1000.0)
        for _, msgid, c in rows
        if int(c["id"]) in steady_ids
    ]
    per_row = [e - d for _, d, e in steady_rows]
    t_val, t_pct, t_n = tail(batch_latencies(steady_rows))
    res = Result()
    res.e2e = {
        "setup_s": setup_s,
        "latency_p50_s": median(per_row),
        "latency_tail_s": t_val,
        "throughput_per_s": median(rates),
    }
    res.notes = {
        "latency": "due -> sink commit, steady phase; tail counted per micro-batch",
        "tail_percentile": t_pct,
        "tail_samples": t_n,
        "steady_msgs": len(gen.sent),
        "steady_distinct_ids": len(steady_ids),
        "steady_s": round(t_steady_done - t_steady, 3),
        "burst_msgs": f"{BURSTS} x {BURST}",
        "burst_rates_per_s": [round(x, 1) for x in rates],
        "session_s": round(ready, 3),
        "first_batch_s": round(first_s, 3),
        "batches": len([p for p in progress if p.get("numInputRows", 0) > 0]),
    }
    if ctx.traced:
        res.layers = _layers(ctx, progress, appended, busy, gen, seen, t_steady, t_burst)
        res.layers["session.start_s"] = ready
        res.layers["session.warmup_s"] = first_s
        res.layers["proc.rss_peak_mb"] = sampler.stop()
    return res


def _p50(xs: list[float]) -> float:
    return percentile(xs, 50) if xs else 0.0


def _batch_op(job: dict) -> str:
    """Streaming jobs are described "... batch = <id>"; that id ties them
    to the micro-batch spans read from the progress events."""
    _, sep, rest = job["description"].rpartition("batch = ")
    return f"mb{rest.split()[0]}" if sep else ""


def _layers(ctx, progress, appended, busy, gen, seen, t_steady, t_burst) -> dict:
    from tracing import iso_to_epoch

    timed = [
        p for p in progress if p.get("numInputRows", 0) > 0 and iso_to_epoch(p["timestamp"]) >= t_steady
    ]
    steady = [p for p in timed if iso_to_epoch(p["timestamp"]) < t_burst]

    def phase(name: str) -> list[float]:
        return [p["durationMs"].get(name, 0) for p in steady]

    def appended_by(t: float) -> int:
        n = 0
        for ts, total in appended:
            if ts > t:
                break
            n = total
        return n

    def end_pos(p: dict) -> int:
        o = p["sources"][0]["endOffset"]
        return (json.loads(o) if isinstance(o, str) else o)["pos"]

    lag = [appended_by(iso_to_epoch(p["timestamp"])) - end_pos(p) for p in timed]
    st = [p["stateOperators"][0] for p in timed if p.get("stateOperators")]
    jobs = [j for j in status_jobs(ctx.spark) if j["t0"] is not None and j["t0"] >= t_steady]
    progress_spans(ctx.tracer, timed)
    job_spans(ctx.tracer, jobs, op_of=_batch_op)
    layers = {
        "producer.add_many.calls": busy[0],
        "producer.add_many.busy_s": busy[1],
        "gen.lateness_tail_s": tail(gen.lateness)[0],
        "microbatch.count": len(timed),
        "microbatch.rows_p50": _p50([p["numInputRows"] for p in steady]),
        "microbatch.trigger_ms_p50": _p50(phase("triggerExecution")),
        "microbatch.addBatch_ms_p50": _p50(phase("addBatch")),
        "source.latestOffset_ms_p50": _p50(phase("latestOffset")),
        "source.getBatch_ms_p50": _p50(phase("getBatch")),
        "source.lag_rows_max": max(lag, default=0),
        "checkpoint.walCommit_ms_p50": _p50(phase("walCommit")),
        "checkpoint.commitOffsets_ms_p50": _p50(phase("commitOffsets")),
        "catalyst.queryPlanning_ms_p50": _p50(phase("queryPlanning")),
        "sink.rows": sum(seen.values()),
        "sink.duplicates": sum(n - 1 for n in seen.values()),
        "state.rows_total": st[-1]["numRowsTotal"] if st else 0,
        "state.memory_bytes": max((s["memoryUsedBytes"] for s in st), default=0),
        "state.commit_ms": _p50([s.get("commitTimeMs", 0) for s in st]),
        "state.dropped_by_watermark": sum(s.get("numRowsDroppedByWatermark", 0) for s in st),
    }
    layers.update(exec_totals(jobs))
    return layers
