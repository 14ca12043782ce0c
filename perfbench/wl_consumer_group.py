"""Workload ``consumer_group``: the reference's consumer-group API path,
no Spark.

An open-loop generator ``Producer.add_many``s due messages at 200 msgs/s
while two ``Consumer`` threads collect batches (``batch_size=100``,
``max_wait_time_ms=100``, ``poll_time_ms=10``) and ack every item on its
own with ``remove_item_from_consumer_group``; ``Monitor`` and ``Scaler``
sweep once a second.  After the steady phase a fixed backlog is appended
at once and drained by the same consumers, eight times over.  Group state
(``StreamLog.update_group``: an flock plus a rewrite of the group JSON
on every claim and ack) is the hot path.
"""

from __future__ import annotations

import math
import threading
import time
import traceback

from gen import Message, OpenLoopGenerator
from harness import Context, Result
from stats import median, percentile, tail, windowed_tail
from tracing import RssSampler

STREAM = "cg"
GROUP = "workers"
# well below the per-item-ack drain rate (440-1250 msgs/s on a shared
# 4-vCPU host, depending on how much CPU the hypervisor steals): at
# 300 msgs/s one steal episode cut the drain rate to ~290 msgs/s, the
# group fell behind and p50 went from 0.08 s to 0.7 s within one run
RATE = 200.0
BURST = 600
BURSTS = 8
BATCH_SIZE = 100
SETUP_REPEATS = 5
TAIL_WINDOWS = 5
DRAIN_TIMEOUT_S = 60.0


class Counter:
    """Calls and busy seconds of one layer call site."""

    def __init__(self) -> None:
        self.calls = 0
        self.busy_s = 0.0
        self.samples: list[float] = []
        self._lock = threading.Lock()

    def add(self, dt: float, keep: bool = False) -> None:
        with self._lock:
            self.calls += 1
            self.busy_s += dt
            if keep:
                self.samples.append(dt)


class Group:
    """One fresh stream + group with its producer, two consumers, monitor
    and scaler — what one set-up builds."""

    def __init__(self, ctx: Context, root: str):
        from redis_streams_spark.sources.stream_log import StreamLog
        from redis_streams_spark.streaming import Consumer, Monitor, Producer, Scaler

        self.ctx = ctx
        self.log = StreamLog(root, STREAM)
        self.producer = Producer(self.log, STREAM, consumer_group=GROUP)
        self.consumers = [
            Consumer(
                self.log,
                STREAM,
                GROUP,
                consumer_id=f"worker-{k}",
                batch_size=BATCH_SIZE,
                max_wait_time_ms=100,
                poll_time_ms=10,
            )
            for k in range(2)
        ]
        self.monitor = Monitor(self.log, STREAM, GROUP, batch_size=BATCH_SIZE)
        self.scaler = Scaler(self.log, STREAM, GROUP)
        self.add_many = Counter()
        self.get_items = Counter()
        self.ack = Counter()
        self.sweep = Counter()
        self.decision = Counter()
        self.items = 0
        self.empty_polls = 0
        self.backlog_max = 0
        self.pel_max = 0
        self.deliveries: dict[str, int] = {}
        # msgid -> (logical id, due, ack time, ack result)
        self.acks: dict[str, list[tuple[int, float, float, int]]] = {}
        self.ids: dict[str, Message] = {}  # msgid -> what was sent
        self.errors: list[str] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._threads: list[threading.Thread] = []

    # -- producer side --------------------------------------------------
    def append(self, batch: list[Message]) -> None:
        tr = self.ctx.tracer
        t = time.perf_counter()
        with tr.span("producer.add_many", "streaming.producer", n=len(batch)):
            msgids = self.producer.add_many([m.payload() for m in batch])
        self.add_many.add(time.perf_counter() - t)
        with self._lock:
            self.ids.update(zip(msgids, batch))

    def sweep_once(self) -> None:
        tr = self.ctx.tracer
        t = time.perf_counter()
        with tr.span("monitor.sweep", "streaming.monitor"):
            self.monitor.collect_monitoring_data(auto_cleanup=False)
        t1 = time.perf_counter()
        with tr.span("scaler.decision", "streaming.scaler"):
            self.scaler.get_scale_decision()
        self.sweep.add(t1 - t)
        self.decision.add(time.perf_counter() - t1)
        if self.ctx.traced:
            backlog, pel = self.scaler.collect_metrics()
            self.backlog_max = max(self.backlog_max, backlog)
            self.pel_max = max(self.pel_max, pel)

    # -- consumer side --------------------------------------------------
    def _consume(self, k: int) -> None:
        c = self.consumers[k]
        tr = self.ctx.tracer
        batch_no = 0
        while not self._stop.is_set():
            op = f"c{k}b{batch_no}"
            batch_no += 1
            try:
                t = time.perf_counter()
                with tr.span("consumer.get_items", "streaming.consumer", op):
                    items = c.get_items()
                self.get_items.add(time.perf_counter() - t)
                with self._lock:
                    self.items += len(items)
                    self.empty_polls += not items
                for msg in items:
                    t = time.perf_counter()
                    with tr.span("consumer.ack", "streaming.consumer", op):
                        r = c.remove_item_from_consumer_group(msg.msgid)
                    done = time.time()
                    self.ack.add(time.perf_counter() - t, keep=True)
                    due = float(msg.content.get("due_ms", "nan")) / 1000.0
                    with self._lock:
                        self.deliveries[msg.msgid] = self.deliveries.get(msg.msgid, 0) + 1
                        self.acks.setdefault(msg.msgid, []).append(
                            (int(msg.content.get("id", -1)), due, done, r)
                        )
            except Exception as e:  # a failed call is a failed operation
                traceback.print_exc()
                with self._lock:
                    self.errors.append(f"consumer worker-{k}: {type(e).__name__}: {e}")
                time.sleep(0.01)

    def start(self) -> None:
        for k in range(len(self.consumers)):
            t = threading.Thread(target=self._consume, args=(k,), daemon=True)
            t.start()
            self._threads.append(t)

    def stop(self) -> None:
        self._stop.set()
        for t in self._threads:
            t.join()

    def wait_acked(self, msgids: list[str], timeout: float, on_tick=None) -> float:
        """Epoch time at which every message in ``msgids`` was acked, or
        NaN on timeout.  Scans forward only, so the wait loop stays
        cheap next to the consumer threads it shares the GIL with."""
        end = time.time() + timeout
        i = 0
        while time.time() < end:
            while i < len(msgids) and msgids[i] in self.acks:
                i += 1
            if i == len(msgids):
                return max(self.acks[m][0][2] for m in msgids) if msgids else time.time()
            if on_tick is not None:
                on_tick(time.time())
            time.sleep(0.005)
        return float("nan")


def _setup_once(ctx: Context, k: int) -> float:
    """Fresh stream, group, clients and one message through the whole
    claim → ack path: the work a consumer-group deployment does before
    its first real message."""
    t = time.time()
    g = Group(ctx, ctx.path(f"setup{k}"))
    ids = g.producer.add_many([{"id": -1, "due_ms": "0"}])
    c = g.consumers[0]
    got = c.get_items()
    for m in got:
        c.remove_item_from_consumer_group(m.msgid)
    g.monitor.collect_monitoring_data(auto_cleanup=False)
    g.scaler.get_scale_decision()
    ctx.outcomes.check([m.msgid for m in got] == ids, f"setup {k}: warm-up message not delivered")
    return time.time() - t


def run(ctx: Context) -> Result:
    import redis_streams_spark.streaming  # noqa: F401  (import cost is set-up)

    ready = time.time() - ctx.t_process
    out = ctx.outcomes
    sampler = RssSampler().start() if ctx.traced else None
    with ctx.tracer.span("setup", "harness"):
        setups = [_setup_once(ctx, k) for k in range(SETUP_REPEATS)]
    setup_s = ready + median(setups)

    g = Group(ctx, ctx.path("run"))
    gen = OpenLoopGenerator(seed=ctx.seed, rate=RATE, seconds=float(ctx.seconds), burst_size=BURST)
    g.start()
    next_sweep = [time.time() + 1.0]

    def on_tick(now: float) -> None:
        if now >= next_sweep[0]:
            g.sweep_once()
            next_sweep[0] += 1.0

    t_steady = time.time()
    with ctx.tracer.span("steady", "harness"):
        gen.run(g.append, on_tick=on_tick)
        steady_ids = list(g.ids)
        drained = g.wait_acked(steady_ids, DRAIN_TIMEOUT_S, on_tick)
    steady_end = time.time()
    out.check(not math.isnan(drained), "steady phase never fully acked")
    steady = set(steady_ids)

    # the backlog arrives as BURSTS separate bursts, each drained before
    # the next; the drain rate is their median, so neither one slow
    # second of a shared host nor the faster first bursts of a run (they
    # slow down as the run goes on) decide the figure
    rates = []
    with ctx.tracer.span("burst", "harness"):
        for k in range(BURSTS):
            backlog = gen.burst(time.time())
            known = set(g.ids)
            t_burst = time.time()
            g.append(backlog)
            t_drained = g.wait_acked([m for m in g.ids if m not in known], DRAIN_TIMEOUT_S, on_tick)
            out.check(not math.isnan(t_drained), f"burst {k} never fully acked")
            rates.append(len(backlog) / (t_drained - t_burst))
    g.sweep_once()
    g.stop()

    # -- correctness: every produced message acked exactly once ----------
    for e in g.errors:
        out.fail(e)
    for msgid, sent in g.ids.items():
        acks = g.acks.get(msgid, [])
        ok = len(acks) == 1 and acks[0][3] == 1 and acks[0][0] == sent.id
        out.check(ok, f"message {msgid} (id {sent.id}): acks={[(a[0], a[3]) for a in acks]}")
    for msgid in set(g.acks) - set(g.ids):
        out.fail(f"acked unknown message {msgid}")

    # (due, latency) of every steady message, in due-time order
    lat = sorted((a[0][1], a[0][2] - a[0][1]) for m, a in g.acks.items() if m in steady and a)
    t_val, t_pct, t_n = windowed_tail([x for _, x in lat], TAIL_WINDOWS)
    res = Result()
    res.e2e = {
        "setup_s": setup_s,
        "latency_p50_s": median([x for _, x in lat]),
        "latency_tail_s": t_val,
        "throughput_per_s": median(rates),
    }
    res.notes = {
        "latency": "due -> ack, steady phase, per message",
        "tail": f"median over {TAIL_WINDOWS} consecutive windows of the window tail",
        "tail_percentile": t_pct,
        "tail_samples": f"{TAIL_WINDOWS} x {t_n}",
        "steady_msgs": len(steady_ids),
        "steady_s": round(steady_end - t_steady, 3),
        "burst_msgs": f"{BURSTS} x {BURST}",
        "burst_rates_per_s": [round(x, 1) for x in rates],
        "setup_samples_s": [round(s, 4) for s in setups],
    }
    res.layers = {
        "producer.add_many.calls": g.add_many.calls,
        "producer.add_many.busy_s": g.add_many.busy_s,
        "gen.lateness_tail_s": tail(gen.lateness)[0],
        "consumer.get_items.calls": g.get_items.calls,
        "consumer.get_items.busy_s": g.get_items.busy_s,
        "consumer.fill_ratio": g.items / (BATCH_SIZE * g.get_items.calls),
        "consumer.empty_polls": g.empty_polls,
        "consumer.ack.calls": g.ack.calls,
        "consumer.ack.busy_s": g.ack.busy_s,
        "consumer.ack.p50_ms": percentile(g.ack.samples, 50) * 1000.0,
        "monitor.sweep.busy_s": g.sweep.busy_s,
        "scaler.decision.busy_s": g.decision.busy_s,
        "cg.backlog_max": g.backlog_max,
        "cg.pel_max": g.pel_max,
        "cg.redelivered": sum(n - 1 for n in g.deliveries.values()),
    }
    if ctx.traced:
        res.layers["proc.rss_peak_mb"] = sampler.stop()
    return res
