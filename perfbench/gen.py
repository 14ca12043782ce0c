"""Seeded open-loop message generator shared by the two streaming
workloads.

Open loop: message ``i`` is due at ``t0 + i / rate`` whatever the system
under test is doing, and is stamped with that due time, so latency is
measured from when the message *should* have entered the system.  A
slow consumer therefore shows up as latency instead of silently slowing
the generator down (coordinated omission).  The generator records how
late each append actually happened; a large lateness means the run
measured a different load than it claims.
"""

from __future__ import annotations

import math
import random
import time
from collections.abc import Callable
from dataclasses import dataclass, field

TICK_S = 0.02  # the generator appends what came due once per tick
RECENT_WINDOW = 200  # a re-send repeats one of the last this-many messages


@dataclass
class Message:
    id: int  # logical id; a re-send repeats an earlier one
    due: float  # epoch seconds at which the message was due
    resend: bool = False

    def payload(self) -> dict:
        return {"id": self.id, "due_ms": f"{self.due * 1000.0:.3f}"}


@dataclass
class OpenLoopGenerator:
    """``rate`` msgs/s for ``seconds``; ``dup_share`` of the messages are
    re-sends of a recent id (a producer retry), drawn from the seed.

    ``burst_size`` is the backlog appended at once after the steady
    phase.  ``run`` calls ``append(batch)`` once per ``TICK_S`` tick with
    every message that has come due, and returns when the last one is
    appended."""

    seed: int
    rate: float
    seconds: float
    dup_share: float = 0.0
    burst_size: int = 0
    lateness: list[float] = field(default_factory=list, init=False)
    sent: list[Message] = field(default_factory=list, init=False)
    bursts: int = field(default=0, init=False)

    def schedule(self, t0: float) -> list[Message]:
        """The full message schedule for a start time ``t0``: the same
        seed gives the same ids, re-send pattern and due offsets."""
        rng = random.Random(self.seed)
        n = int(round(self.rate * self.seconds))
        out: list[Message] = []
        next_id = 0
        for i in range(n):
            due = t0 + i / self.rate
            if out and rng.random() < self.dup_share:
                window = out[-RECENT_WINDOW:]
                orig = window[rng.randrange(len(window))]
                out.append(Message(orig.id, orig.due, resend=True))
            else:
                out.append(Message(next_id, due))
                next_id += 1
        return out

    def run(
        self,
        append: Callable[[list[Message]], object],
        on_tick: Callable[[float], None] | None = None,
    ) -> None:
        t0 = time.time()
        plan = self.schedule(t0)
        # a re-send keeps its original due time (it is the same message
        # retried); its place in the schedule is still i / rate
        slot = [t0 + i / self.rate for i in range(len(plan))]
        i = 0
        while i < len(plan):
            now = time.time()
            j = i
            while j < len(plan) and slot[j] <= now:
                j += 1
            if j > i:
                batch = plan[i:j]
                append(batch)
                done = time.time()
                self.lateness.extend(done - slot[k] for k in range(i, j))
                self.sent.extend(batch)
                i = j
            if on_tick is not None:
                on_tick(now)
            if i < len(plan):
                # wake at the next tick boundary that has a message due,
                # so one tick appends everything that came due during it
                nxt = max(slot[i], t0 + (math.floor((now - t0) / TICK_S) + 1) * TICK_S)
                time.sleep(max(0.0, nxt - time.time()))

    def burst(self, now: float) -> list[Message]:
        """A backlog of ``burst_size`` ids, all due ``now``, to append in
        one call.  Ids follow every steady id and every earlier burst."""
        first = 1 + max((m.id for m in self.sent), default=-1) + self.bursts * self.burst_size
        self.bursts += 1
        return [Message(first + k, now) for k in range(self.burst_size)]
