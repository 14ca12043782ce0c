"""StreamLog — a file-backed append-only message log with consumer-group
state, shaped like a Redis Stream (SURVEY §1.1).

Layout (one directory per stream):
    <root>/<stream>/log.jsonl           {"msgid": "...", "content": {...}} per line
    <root>/<stream>/meta.json           {"appended": N, "first_pos": F,
                                         "last_ms": .., "last_seq": ..}
    <root>/<stream>/groups/<name>.json  cursor + PEL + consumer registry

Semantics mirrored from the reference:
- msgid is ``"<ms-epoch>-<seq>"``, monotonically increasing
  (redis_streams_test/test_producer.py:14); seq disambiguates same-ms adds.
- positions are global append indexes: they never shift on trim, exactly
  like Redis msgids (trim advances ``first_pos``;
  producer.py:26-35 ``maxlen``).
- group state carries ``last_delivered_pos`` (the ``last-delivered-id``),
  a PEL keyed by msgid (common.py:48-73), and per-consumer ``last_seen_ms``
  (the monitor's idle source, monitor.py:154).

This is the test/reference implementation of the storage contract; at
100 TB the same interface maps onto segmented object storage with a
manifest (meta.json generalizes to a manifest of sealed segments, and
read_slice becomes a segment-range scan).  All group-state mutations go
through atomic write-replace so concurrent readers never see torn JSON.

Locking honesty: the advisory flocks assume a POSIX-coherent filesystem
(local disk, or a shared FS with working byte-range locks).  NFS flock
semantics vary by mount options, and object stores have no flock at all
— an object-store deployment replaces both locks with conditional-put
(compare-and-swap on the manifest/group-state etag), which the
update_group(mutator) API is shaped for: the mutator re-runs on a CAS
conflict.

Revision token: each group's ``groups/<name>.json.lock`` file carries a
random token that every writer of the group file replaces (before its
``os.replace``) while holding the flock.  ``update_group`` keeps the
state dict this instance last committed together with the token it
wrote; when the token under the lock is still that one, no other writer
has run since and the cached dict is the file's content, so the commit
skips re-reading and re-parsing the group JSON.  Any other token (another
instance's write, a writer that died between the token and the rename,
a lock file created afresh) makes it reload the file.  The token is the
file-store form of the group-state etag above: an object-store port
compares the same revision in its conditional put.  Because the lock
file now carries state, it must not be deleted while the group is in
use.
"""

from __future__ import annotations

import fcntl
import json
import os
import threading
import time
import uuid
from collections.abc import Callable
from contextlib import contextmanager


_INDEX_STEP = 256  # sparse offset-index granularity for read_slice
_TOKEN_LEN = 32  # bytes of a group revision token (uuid4 hex)


def _atomic_write(path: str, payload: dict) -> None:
    # json.dumps, not json.dump(payload, f): dump streams through the
    # pure-Python iterencode, dumps takes the C encoder
    text = json.dumps(payload)
    # tmp name must be unique per writer (pid AND thread — concurrent
    # consumers may share a process), else writers clobber each other's
    # staging file mid-rename
    tmp = f"{path}.tmp.{os.getpid()}.{threading.get_ident()}.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def _bump_revision(lock) -> bytes:
    """Write a fresh revision token into a held group lock file."""
    token = uuid.uuid4().hex.encode()
    os.pwrite(lock.fileno(), token, 0)
    return token


class StreamLog:
    def __init__(self, root: str, stream: str):
        self.root = root
        self.stream = stream
        self.dir = os.path.join(root, stream)
        self.log_path = os.path.join(self.dir, "log.jsonl")
        self.meta_path = os.path.join(self.dir, "meta.json")
        self.groups_dir = os.path.join(self.dir, "groups")
        # created eagerly: a lazy check-then-set in _flock() would let
        # racing threads clobber each other's threading.local and leak fds
        self._lock_tl = threading.local()
        # group -> (revision token, state this instance last committed)
        self._group_cache: dict[str, tuple[bytes, dict]] = {}
        os.makedirs(self.groups_dir, exist_ok=True)

    # threading.local (and any cached lock fd / offset index / group
    # state) cannot and must not cross a pickle boundary — DataSource
    # partitions serialize StreamLog to executors; each deserialized copy
    # gets fresh locals
    def __getstate__(self) -> dict:
        state = self.__dict__.copy()
        for k in ("_lock_tl", "_group_cache", "_offset_index", "_index_first"):
            state.pop(k, None)
        return state

    def __setstate__(self, state: dict) -> None:
        self.__dict__.update(state)
        self._lock_tl = threading.local()
        self._group_cache = {}

    # -- meta ------------------------------------------------------------
    def _meta(self) -> dict:
        if not os.path.exists(self.meta_path):
            return {"appended": 0, "first_pos": 0, "last_ms": 0, "last_seq": -1}
        with open(self.meta_path) as f:
            return json.load(f)

    def count(self) -> int:
        """Total messages ever appended (= next position)."""
        return self._meta()["appended"]

    def first_pos(self) -> int:
        return self._meta()["first_pos"]

    def xlen(self) -> int:
        """Messages currently retained (post-trim) — Redis XLEN."""
        m = self._meta()
        return m["appended"] - m["first_pos"]

    def last_msgid(self) -> str | None:
        m = self._meta()
        if m["appended"] == 0:
            return None
        return f"{m['last_ms']}-{m['last_seq']:06d}"

    # -- locks -----------------------------------------------------------
    @contextmanager
    def _flock(self, path: str):
        """Hold the advisory exclusive flock on ``path``; yields the lock
        file, opened read-write and never truncated (group lock files
        carry the revision token).

        The handle is cached per (instance, thread, path) — reopening
        per append measurably halves single-message producer throughput.
        flock excludes per open-file-description, so the cache must be
        thread-local: two threads sharing one fd would both "hold" the
        lock; with per-thread fds, threads, instances, and processes all
        exclude each other correctly.  A handle inherited across fork, or
        one whose file was unlinked since it was opened, would no longer
        exclude anyone, so it is reopened.  Re-entrant per thread: a
        nested hold (``save_group`` inside ``group_lock``) must not
        release the outer one early."""
        tl = self._lock_tl
        files = getattr(tl, "files", None)
        if files is None:
            files = tl.files = {}
        pid = os.getpid()
        entry = files.get(path)  # [file, pid, hold depth]
        if entry is not None and entry[1] == pid and entry[2]:
            entry[2] += 1
            try:
                yield entry[0]
            finally:
                entry[2] -= 1
            return
        while True:
            if entry is None or entry[1] != pid:
                fd = os.open(path, os.O_RDWR | os.O_CREAT, 0o666)
                entry = files[path] = [os.fdopen(fd, "r+b", buffering=0), pid, 0]
            f = entry[0]
            fcntl.flock(f, fcntl.LOCK_EX)
            try:
                if os.path.samestat(os.fstat(f.fileno()), os.stat(path)):
                    break
            except FileNotFoundError:
                pass
            fcntl.flock(f, fcntl.LOCK_UN)
            f.close()
            entry = None
        entry[2] = 1
        try:
            yield f
        finally:
            entry[2] = 0
            fcntl.flock(f, fcntl.LOCK_UN)

    def stream_lock(self):
        """Advisory exclusive lock serializing log+meta read-modify-write
        (append/trim).  Redis XADD is atomic server-side; without this,
        two concurrent producers both read appended=N and one message
        becomes permanently invisible (meta undercount) or duplicate
        msgids get minted from a clobbered last_ms/last_seq."""
        return self._flock(os.path.join(self.dir, "stream.lock"))

    def group_lock(self, group: str):
        """Advisory exclusive lock for read-modify-write of group state —
        serializes concurrent consumers/readers of the same group the way
        Redis serializes XREADGROUP/XACK (single-threaded server).  Every
        writer of the group file holds it, and the lock file carries the
        group's revision token (module docstring)."""
        return self._flock(self._group_path(group) + ".lock")

    # -- append / read / trim -------------------------------------------

    def append(self, content: dict, maxlen: int | None = None) -> str:
        """Append one message; returns its msgid.  With ``maxlen`` the log
        is trimmed to the newest ``maxlen`` entries (reference
        producer.py:44-48 — ours is exact rather than ``MAXLEN ~``
        approximate: a strictly stronger guarantee, noted divergence)."""
        with self.stream_lock():
            m = self._meta()
            ms = int(time.time() * 1000)
            seq = m["last_seq"] + 1 if ms == m["last_ms"] else 0
            msgid = f"{ms}-{seq:06d}"
            payload = {
                "msgid": msgid,
                "content": {k: str(v) for k, v in content.items()},
            }
            with open(self.log_path, "a") as f:
                f.write(json.dumps(payload) + "\n")
            m.update(appended=m["appended"] + 1, last_ms=ms, last_seq=seq)
            _atomic_write(self.meta_path, m)
            if maxlen is not None and self.xlen() > maxlen:
                self._trim_locked(maxlen)
        return msgid

    def append_many(self, contents: list[dict], maxlen: int | None = None) -> list[str]:
        """Batch append: one meta write for the whole batch (the
        amortization the reference lacks — producer.py:44-49 is one XADD
        round trip per message)."""
        if not contents:
            return []
        with self.stream_lock():
            m = self._meta()
            ms = int(time.time() * 1000)
            seq = m["last_seq"] + 1 if ms == m["last_ms"] else 0
            ids: list[str] = []
            with open(self.log_path, "a") as f:
                for content in contents:
                    msgid = f"{ms}-{seq:06d}"
                    ids.append(msgid)
                    f.write(
                        json.dumps(
                            {
                                "msgid": msgid,
                                "content": {k: str(v) for k, v in content.items()},
                            }
                        )
                        + "\n"
                    )
                    seq += 1
            m.update(
                appended=m["appended"] + len(contents), last_ms=ms, last_seq=seq - 1
            )
            _atomic_write(self.meta_path, m)
            if maxlen is not None and self.xlen() > maxlen:
                self._trim_locked(maxlen)
        return ids

    def append_many_serialized(
        self, payloads: list[str], maxlen: int | None = None
    ) -> list[str]:
        """Batch append of PRE-SERIALIZED content objects: each element
        is the JSON text of a ``{str: str}`` content dict (exactly what
        ``json.dumps`` inside :meth:`append_many` would produce).  The
        log line is spliced with string formatting — no per-message
        parse/re-serialize on the hot sink path (round-9: the Spark sink
        stages content JSON once at task side and the commit appends it
        byte-for-byte; the read path does the only json.loads).  One
        buffered write + one meta write for the whole batch.

        Payloads are spliced into the line-oriented log byte-for-byte,
        so each is cheaply validated up front (must be a brace-delimited
        JSON object with no raw newline) — a malformed payload from a
        future caller raises here instead of silently corrupting the
        log framing (r09 advice).  The zero-reparse fast path is kept:
        no json.loads, just shape checks."""
        if not payloads:
            return []
        for payload in payloads:
            if (
                "\n" in payload
                or not payload.startswith("{")
                or not payload.endswith("}")
            ):
                raise ValueError(
                    "append_many_serialized payload must be single-line "
                    f"JSON object text, got: {payload[:80]!r}"
                )
        with self.stream_lock():
            m = self._meta()
            ms = int(time.time() * 1000)
            seq = m["last_seq"] + 1 if ms == m["last_ms"] else 0
            ids: list[str] = []
            buf: list[str] = []
            for payload in payloads:
                msgid = f"{ms}-{seq:06d}"
                ids.append(msgid)
                buf.append(
                    '{"msgid": "' + msgid + '", "content": ' + payload + "}\n"
                )
                seq += 1
            with open(self.log_path, "a") as f:
                f.write("".join(buf))
            m.update(
                appended=m["appended"] + len(payloads), last_ms=ms, last_seq=seq - 1
            )
            _atomic_write(self.meta_path, m)
            if maxlen is not None and self.xlen() > maxlen:
                self._trim_locked(maxlen)
        return ids

    def read_slice(self, start_pos: int, end_pos: int) -> list[tuple[int, str, dict]]:
        """Messages with position in [start_pos, end_pos) as
        (pos, msgid, content).  Positions below first_pos are gone
        (trimmed) and silently skipped — same as XRANGE after XTRIM.

        A sparse per-instance (pos → byte offset) index (one entry per
        _INDEX_STEP lines, built as a side effect of scans) makes any
        range read O(step + range) instead of O(log length); invalidated
        by trim (first_pos changes)."""
        if not os.path.exists(self.log_path):
            return []
        first = self.first_pos()
        if getattr(self, "_index_first", None) != first:
            self._index_first = first
            self._offset_index: dict[int, int] = {first: 0}
        idx = self._offset_index
        seek_pos = max(
            (p for p in idx if p <= start_pos), default=first
        )
        out: list[tuple[int, str, dict]] = []
        # binary mode: TextIOWrapper.tell() re-derives codec state per call
        # and was >50% of scan time under profile (round 8); on a binary
        # stream tell() is a buffered-offset read and json.loads accepts
        # the utf-8 bytes directly
        with open(self.log_path, "rb") as f:
            pos = seek_pos
            f.seek(idx[seek_pos])
            while True:
                off = f.tell()
                if pos % _INDEX_STEP == 0:
                    idx[pos] = off
                line = f.readline()
                if not line or pos >= end_pos:
                    break
                if pos >= start_pos:
                    rec = json.loads(line)
                    out.append((pos, rec["msgid"], rec["content"]))
                pos += 1
        return out

    def trim(self, maxlen: int) -> int:
        """Keep only the newest ``maxlen`` messages; returns removed count."""
        with self.stream_lock():
            return self._trim_locked(maxlen)

    def _trim_locked(self, maxlen: int) -> int:
        m = self._meta()
        retained = m["appended"] - m["first_pos"]
        excess = retained - maxlen
        if excess <= 0:
            return 0
        with open(self.log_path) as f:
            lines = f.readlines()
        tmp = f"{self.log_path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            f.writelines(lines[excess:])
        os.replace(tmp, self.log_path)
        m["first_pos"] += excess
        _atomic_write(self.meta_path, m)
        return excess

    def delete(self) -> None:
        """Reset the stream entirely (test-harness op, SURVEY S19)."""
        for p in (self.log_path, self.meta_path):
            if os.path.exists(p):
                os.remove(p)
        for g in self.list_groups():
            self.destroy_group(g)

    # -- consumer groups -------------------------------------------------
    def _group_path(self, group: str) -> str:
        return os.path.join(self.groups_dir, f"{group}.json")

    def create_group(self, group: str) -> None:
        """Idempotent group creation from position 0 (= XGROUP CREATE
        <stream> <group> 0-0 MKSTREAM, common.py:20-41: deliver-from-
        beginning, BUSYGROUP tolerated).

        The existence check re-runs under the group lock: an unlocked
        check-then-write is a TOCTOU — with N consumers constructed
        concurrently on a fresh group, one constructor's delayed empty
        write could land AFTER another consumer's first claim and reset
        last_delivered_pos/PEL, re-delivering the head of the stream
        (caught as an exact-batch-size duplicate burst by
        test_concurrent_consumers.py once the drain was synchronized)."""
        if not os.path.exists(self._group_path(group)):
            with self.group_lock(group) as lock:
                if not os.path.exists(self._group_path(group)):
                    _bump_revision(lock)
                    _atomic_write(self._group_path(group), self._empty_group())

    @staticmethod
    def _empty_group() -> dict:
        return {
            "last_delivered_pos": 0,
            "pel": {},
            "consumers": {},
            "last_planned": 0,
            "last_committed": 0,
        }

    def group_state(self, group: str) -> dict:
        if not os.path.exists(self._group_path(group)):
            return self._empty_group()
        with open(self._group_path(group)) as f:
            return json.load(f)

    def save_group(self, group: str, state: dict) -> None:
        with self.group_lock(group) as lock:
            _bump_revision(lock)
            _atomic_write(self._group_path(group), state)

    def update_group(self, group: str, mutator: Callable[[dict], object]) -> object:
        """Atomically read-modify-write group state under the lock; the
        mutator's return value is passed through.

        The state handed to the mutator is the dict this instance last
        committed when the lock file's revision token is still the one
        it wrote, else the file's content (module docstring).  So a
        mutator must keep the state JSON-shaped (str keys, lists) and
        must not keep references into it after it returns.  The cache
        entry is taken out before the mutator runs: a mutator or write
        that raises leaves nothing cached."""
        with self.group_lock(group) as lock:
            token = os.pread(lock.fileno(), _TOKEN_LEN, 0)
            cached = self._group_cache.pop(group, None)
            if cached is not None and cached[0] == token:
                state = cached[1]
            else:
                state = self.group_state(group)
            result = mutator(state)
            token = _bump_revision(lock)
            _atomic_write(self._group_path(group), state)
            self._group_cache[group] = (token, state)
            return result

    def list_groups(self) -> list[str]:
        if not os.path.isdir(self.groups_dir):
            return []
        return sorted(
            f[:-5] for f in os.listdir(self.groups_dir) if f.endswith(".json")
        )

    def destroy_group(self, group: str) -> None:
        p = self._group_path(group)
        if os.path.exists(p):
            with self.group_lock(group) as lock:
                _bump_revision(lock)
                if os.path.exists(p):
                    os.remove(p)
