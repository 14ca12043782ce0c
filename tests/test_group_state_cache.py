"""StreamLog's revision-checked group-state cache (no Spark).

``update_group`` reuses the state this instance last committed only
while the group lock file still carries the revision token it wrote;
every other writer replaces the token, so another instance's write is
always seen."""

from __future__ import annotations

import fcntl
import os
import pickle
import select
import sys
import threading

import pytest

from redis_streams_spark.sources import stream_log
from redis_streams_spark.sources.stream_log import StreamLog


def _pair(tmp_path):
    a = StreamLog(str(tmp_path), "s")
    b = StreamLog(str(tmp_path), "s")
    a.create_group("g")
    return a, b


def _incr(key):
    def mutate(state):
        state[key] = state.get(key, 0) + 1
        return state[key]

    return mutate


def test_two_instances_alternating_see_each_others_writes(tmp_path):
    a, b = _pair(tmp_path)
    for i in range(1, 6):
        assert a.update_group("g", _incr("n")) == 2 * i - 1
        assert b.update_group("g", _incr("n")) == 2 * i
    assert a.group_state("g")["n"] == 10


@pytest.fixture
def file_reads(monkeypatch):
    """Records every group-file load ``update_group`` falls back to."""
    reads = []
    real = StreamLog.group_state

    def counting(self, group):
        reads.append(self)
        return real(self, group)

    monkeypatch.setattr(StreamLog, "group_state", counting)
    return reads


def test_cache_is_reused_while_the_token_is_unchanged(tmp_path, file_reads):
    a, _ = _pair(tmp_path)
    a.update_group("g", _incr("n"))
    assert file_reads == [a]
    a.update_group("g", _incr("n"))
    a.update_group("g", _incr("n"))
    assert file_reads == [a]
    with open(a._group_path("g")) as f:
        assert '"n": 3' in f.read()


def test_save_group_from_another_instance_invalidates(tmp_path):
    a, b = _pair(tmp_path)
    a.update_group("g", _incr("n"))
    state = b.group_state("g")
    state["n"] = 100
    b.save_group("g", state)
    assert a.update_group("g", _incr("n")) == 101


def test_destroy_and_recreate_from_another_instance_invalidates(tmp_path):
    a, b = _pair(tmp_path)
    a.update_group("g", _incr("n"))
    a.update_group("g", _incr("n"))
    b.destroy_group("g")
    assert a.list_groups() == []
    # from the empty group, never a resurrection of a's cached state
    assert a.update_group("g", _incr("n")) == 1
    b.destroy_group("g")
    b.create_group("g")
    assert a.update_group("g", _incr("n")) == 1
    assert b.group_state("g")["n"] == 1


def test_raising_mutator_leaves_no_cached_state(tmp_path):
    a, _ = _pair(tmp_path)
    a.update_group("g", _incr("n"))

    def half_then_raise(state):
        state["n"] = 999
        raise RuntimeError("mutator failed")

    with pytest.raises(RuntimeError):
        a.update_group("g", half_then_raise)
    assert "g" not in a._group_cache
    assert a.update_group("g", _incr("n")) == 2


def test_failed_replace_after_token_bump_forces_reload(
    tmp_path, monkeypatch, file_reads
):
    a, b = _pair(tmp_path)
    b.update_group("g", _incr("n"))
    a.update_group("g", _incr("n"))  # a caches n=2
    real_replace = os.replace

    def failing_replace(src, dst):
        if dst == b._group_path("g"):
            os.remove(src)
            raise OSError("replace failed")
        return real_replace(src, dst)

    monkeypatch.setattr(stream_log.os, "replace", failing_replace)
    with pytest.raises(OSError):
        b.update_group("g", _incr("n"))  # token bumped, file still n=2
    monkeypatch.setattr(stream_log.os, "replace", real_replace)
    assert "g" not in b._group_cache
    del file_reads[:]
    # a's cached dict equals the file, but the token is no longer the one
    # a wrote, so a must go back to the file
    assert a.update_group("g", _incr("n")) == 3
    assert file_reads == [a]
    assert b.update_group("g", _incr("n")) == 4
    assert file_reads == [a, b]


def test_pickle_drops_cache_and_lock_files(tmp_path):
    a, _ = _pair(tmp_path)
    a.update_group("g", _incr("n"))
    with a.stream_lock():
        pass
    assert a._group_cache and a._lock_tl.files
    c = pickle.loads(pickle.dumps(a))
    assert c._group_cache == {}
    assert getattr(c._lock_tl, "files", None) is None
    assert c.update_group("g", _incr("n")) == 2
    assert a.update_group("g", _incr("n")) == 3


def test_save_group_inside_group_lock_keeps_the_outer_hold(tmp_path):
    a, _ = _pair(tmp_path)
    with open(a._group_path("g") + ".lock", "rb") as other:
        with a.group_lock("g"):
            state = a.group_state("g")
            state["n"] = 7
            a.save_group("g", state)
            with pytest.raises(BlockingIOError):
                fcntl.flock(other, fcntl.LOCK_EX | fcntl.LOCK_NB)
        fcntl.flock(other, fcntl.LOCK_EX | fcntl.LOCK_NB)
        fcntl.flock(other, fcntl.LOCK_UN)
    assert a.update_group("g", _incr("n")) == 8


def test_recreated_lock_file_is_reopened(tmp_path):
    a, b = _pair(tmp_path)
    a.update_group("g", _incr("n"))
    lock_path = a._group_path("g") + ".lock"
    os.remove(lock_path)
    state = b.group_state("g")
    state["n"] = 50
    b.save_group("g", state)  # creates a fresh lock file with a new token
    assert a.update_group("g", _incr("n")) == 51


def test_fork_child_does_not_share_the_parents_hold(tmp_path):
    """A lock handle inherited across fork shares the parent's open file
    description, so flock would let the child in: the child reopens."""
    a, _ = _pair(tmp_path)
    a.update_group("g", _incr("n"))
    r, w = os.pipe()
    with a.group_lock("g"):
        pid = os.fork()
        if pid == 0:  # child: take the lock, report, exit
            try:
                with a.group_lock("g"):
                    os.write(w, b"1")
            finally:
                os._exit(0)
        ready, _, _ = select.select([r], [], [], 0.5)
        assert ready == []  # child is blocked behind the parent's hold
    ready, _, _ = select.select([r], [], [], 10)
    assert ready == [r] and os.read(r, 1) == b"1"
    _, status = os.waitpid(pid, 0)
    assert status == 0


def test_threads_and_instances_lose_no_update(tmp_path):
    """Threads sharing one instance (and its cache) and threads on their
    own instances increment one counter; a stale cache or a broken
    exclusion would lose increments."""
    a, _ = _pair(tmp_path)
    shared = StreamLog(str(tmp_path), "s")
    logs = [shared] * 4 + [StreamLog(str(tmp_path), "s") for _ in range(4)]
    per_thread = 40
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(
                target=lambda log=log: [
                    log.update_group("g", _incr("n")) for _ in range(per_thread)
                ]
            )
            for log in logs
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(prev)
    total = len(logs) * per_thread
    assert a.group_state("g")["n"] == total
    assert a.update_group("g", _incr("n")) == total + 1
