"""The segment store: the one on-disk lifecycle every persisted index
family (``invindex``, ``vecindex``, ``dupindex``, ``gramindex``) runs
on.  A family declares only what differs — its stores, each store's
partition sub-key, and the frames and partials it writes — as a
:class:`Family`; naming, replay, deletion, builds, compaction and the
commit point live here.

Stores.  An index GENERATION is a directory of parquet STORES.  Every
store a family declares is partitioned by a ``segment`` column, plus
an optional sub-key (a hash bucket, a cell label) that query-time
partition filters prune on; a store without a sub-key may be declared
``one_file`` (one small file per segment).  Families that delete rows
by id also keep ``tombstones/`` — ``(id, segment)`` rows naming the
exact dead copies, partitioned by ``tseg``, the delete batch's own
segment name — and may write NEGATIVE partials of their aggregate
stores under that same name, so read-time partial sums net the dead
rows out.  Delete batches are named ``del-*`` (or ``<segment>.del`` for
an upsert's delete half); ingest segments may not use that namespace.

Replay rule.  One ingest batch = one segment, and writes are
idempotent: a NAMED segment (a deterministic micro-batch id) is
cleared and rewritten under dynamic partition overwrite, so an
at-least-once redelivery replaces its own partitions instead of
double-counting them (the D-Streams recipe: deterministic batch names
plus idempotent rewrite).  An unnamed batch appends under an opaque
unique name and is safe only for exactly-once callers.  A delete batch
computes liveness against the current state minus its OWN prior
output, so a replay recomputes — and replaces — identical corrections.

Commit ordering.  An index ROOT is either the generation itself or
MANAGED: generation subdirectories (``g00000001``, …) plus a
``MANIFEST`` — JSON ``{"generation": …, "dead": […], "pending": […]}``
— written LAST, via an atomic rename, after every store of the
generation it names is complete.  Readers resolve the live generation
through it and drop ``dead``/``pending`` segments with a
partition-pruned NOT-IN, so compaction (rewrite into the next
generation, then flip), retention (mark a segment dead) and tiered
merge (stage on ``pending``, then flip) are all O(metadata) commit
points, and a crash anywhere leaves readers on the previous one.
Builds and compactions replace whole store trees (static overwrite);
segment writes never touch another segment's partitions.  Single
sequential writer, concurrent readers (Lucene's IndexWriter contract).

Reference basis: none (SURVEY §2.2 extension surface — the reference
has no persistence layer); the discipline is Lucene's commit points
re-expressed as parquet partitions + an atomic pointer file.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

MANIFEST = "MANIFEST"
MERGE_LOCK = "MERGE_IN_PROGRESS"
LAYOUT = "LAYOUT"
FIRST_GENERATION = "g00000001"

# Write kinds: a build or compaction replaces the whole store tree; a
# named segment or delete batch replaces only its own partitions; an
# unnamed segment appends.
TREE = "tree"
SEGMENT = "segment"
APPEND = "append"
_WRITES = {
    TREE: ("overwrite", "static"),
    SEGMENT: ("overwrite", "dynamic"),
    APPEND: ("append", "static"),
}


def write_partitioned(
    df: DataFrame,
    path: str,
    write: str,
    key: str | None = None,
    one_file: bool = False,
    segment: str | None = None,
    part: str = "segment",
) -> None:
    """The one partitioned store write.  ``segment`` (when given) is
    stamped as the ``part`` column; a sub-key repartitions on itself so
    each of its partitions is written by one task set instead of
    |tasks| x |keys| small files; ``one_file`` coalesces instead."""
    if segment is not None:
        df = df.withColumn(part, F.lit(segment))
    if key is not None:
        df = df.repartition(key)
    if one_file:
        df = df.coalesce(1)
    mode, overwrite = _WRITES[write]
    cols = (part, key) if key is not None else (part,)
    (
        df.write.mode(mode)
        .option("partitionOverwriteMode", overwrite)
        .partitionBy(*cols)
        .parquet(path)
    )


def persist_verdicts(
    verdicts: DataFrame, path: str, segment: str, one_file: bool = True
) -> DataFrame:
    """Write an ingest loop's verdicts durably under ``segment`` (a
    replay-safe dynamic partition overwrite) and return them read back:
    materialized BEFORE the batch lands in the index, so a lazy frame
    can never see the batch's own rows."""
    write_partitioned(
        verdicts, path, SEGMENT, one_file=one_file, segment=segment
    )
    return (
        verdicts.sparkSession.read.parquet(path)
        .where(F.col("segment") == segment)
        .drop("segment")
    )


@dataclass(frozen=True)
class Store:
    """One segment-partitioned store: its empty-store fallback schema,
    its partition sub-key, and whether each write is one file."""

    schema: str
    key: str | None = None
    one_file: bool = False


@dataclass(frozen=True)
class Family:
    """What an index family declares.  ``stores`` maps store name to
    :class:`Store`; the FIRST store holds the rows deletes find live
    copies in.  ``id_col`` names the row id tombstones carry (None: the
    family deletes with negative partials only).  ``negate(live, gpath,
    tseg)`` writes a delete batch's negative partials for the live rows
    it kills (None: tombstones alone silence a row)."""

    stores: dict[str, Store]
    id_col: str | None = None
    negate: Callable[[DataFrame, str, str], None] | None = None

    def read(self, spark: SparkSession, gpath: str, store: str) -> DataFrame:
        """A store of a generation, or its empty frame when the store
        does not exist yet (an empty, fully deleted or dropped index
        must answer EMPTY, not crash)."""
        df = read_optional(spark, f"{gpath}/{store}")
        if df is None:
            return spark.createDataFrame([], self.stores[store].schema)
        return df

    def read_segment(
        self, spark: SparkSession, gpath: str, store: str, segment: str
    ) -> DataFrame:
        """The rows of ``segment`` just written to ``store``: the written
        output doubles as the materialized intermediate of the passes
        derived from it.  Explicit schema: an EMPTY batch writes no data
        files and inference would fail."""
        return (
            spark.read.schema(self.stores[store].schema)
            .parquet(f"{gpath}/{store}")
            .where(F.col("segment") == segment)
        )

    def write(
        self,
        df: DataFrame,
        gpath: str,
        store: str,
        write: str,
        segment: str | None = None,
    ) -> None:
        spec = self.stores[store]
        write_partitioned(
            df, f"{gpath}/{store}", write, spec.key, spec.one_file, segment
        )

    def tombstones(self, spark: SparkSession, gpath: str) -> DataFrame | None:
        t = read_optional(spark, f"{gpath}/tombstones")
        return None if t is None else t.select(self.id_col, "segment")

    def live(self, df: DataFrame, tomb: DataFrame | None) -> DataFrame:
        """Drop tombstoned rows.  The tombstone frame is deletion-churn
        sized (and compaction periodically empties it), so the anti-join
        broadcasts; the store never moves."""
        if tomb is None:
            return df
        return df.join(
            F.broadcast(tomb), [self.id_col, "segment"], "left_anti"
        )

    def ingest(
        self,
        docs: DataFrame,
        path: str,
        segment: str | None,
        op: str,
        write_segment: Callable[[str, str, str], None],
        replace: bool = False,
    ) -> None:
        """Land one batch as a segment: name it (an opaque unique name
        when ``segment`` is None), refuse reserved or dead names, with
        ``replace`` first tombstone the live copies of the batch's ids
        elsewhere (delete batch ``<segment>.del``, ignoring this batch's
        own prior output), then ``write_segment(gpath, seg, write)`` —
        clear-and-rewrite for a named segment, append otherwise."""
        gpath, dead = open_index(path)
        seg = segment if segment is not None else uuid.uuid4().hex[:12]
        check_segment_name(seg, op)
        refuse_dead(seg, dead, op)
        if replace:
            self.apply_delete(
                docs.sparkSession,
                gpath,
                docs.select(self.id_col).distinct(),
                tseg=f"{seg}.del",
                exclude_segment=seg,
                dead=dead,
            )
        if segment is not None:
            self.rewrite_segment(gpath, seg, write_segment)
        else:
            write_segment(gpath, seg, APPEND)

    def rewrite_segment(
        self,
        gpath: str,
        seg: str,
        write_segment: Callable[[str, str, str], None],
    ) -> None:
        """A named segment may be a replay OR a re-ingest of CHANGED
        content: clear its partitions first so stale (segment, sub-key)
        pairs the new batch does not rewrite cannot linger, then write
        under dynamic overwrite (see :func:`clear_segment_partitions`)."""
        clear_segment_partitions(gpath, tuple(self.stores), seg)
        write_segment(gpath, seg, SEGMENT)

    def delete(
        self,
        spark: SparkSession,
        path: str,
        delete_ids,
        segment: str | None = None,
    ) -> None:
        """The delete front end: ``delete_ids`` is a list of ids or a
        DataFrame with the id column; ``segment`` names the delete batch
        (deterministic for replay-safe streaming deletes, else
        ``del-<uuid>``)."""
        gpath, dead = open_index(path)
        if isinstance(delete_ids, DataFrame):
            ids = delete_ids.select(self.id_col).distinct()
        else:
            ids = spark.createDataFrame(
                [(int(i),) for i in delete_ids], f"{self.id_col} BIGINT"
            )
        if segment is None:
            segment = "del-" + uuid.uuid4().hex[:12]
        self.apply_delete(spark, gpath, ids, tseg=segment, dead=dead)

    def apply_delete(
        self,
        spark: SparkSession,
        gpath: str,
        ids: DataFrame,
        tseg: str,
        exclude_segment: str | None = None,
        dead: list[str] = (),
    ) -> None:
        """Tombstone the LIVE copies of ``ids`` as delete batch ``tseg``:
        ``tombstones/tseg=…`` rows naming the exact copies now dead, then
        the family's negative partials.  Liveness is computed against
        the current state minus this batch's own prior output (``tseg``
        tombstones, ``exclude_segment`` rows), which is what makes a
        replay recompute — and dynamic-overwrite replace — identical
        corrections instead of compounding them.  Cost: one scan of the
        first store per delete batch (Lucene pays the same to apply
        deletes); query cost is unchanged."""
        rows = read_optional(spark, f"{gpath}/{next(iter(self.stores))}")
        if rows is None:
            return  # empty index (first replace-mode batch): nothing to kill
        rows = drop_dead(rows, list(dead))
        if exclude_segment is not None:
            rows = rows.where(F.col("segment") != exclude_segment)
        prev = read_optional(spark, f"{gpath}/tombstones")
        if prev is not None:
            prev = prev.where(F.col("tseg") != tseg).select(
                self.id_col, "segment"
            )
        live = self.live(
            rows.join(ids.hint("broadcast"), self.id_col, "semi"), prev
        )

        def write_tombstones(live: DataFrame) -> None:
            write_partitioned(
                live.select(self.id_col, "segment").distinct(),
                f"{gpath}/tombstones",
                SEGMENT,
                one_file=True,
                segment=tseg,
                part="tseg",
            )

        if self.negate is None:
            write_tombstones(live)  # rows are only silenced: one pass
            return
        live = live.persist()  # shared by the tombstone and partial passes
        try:
            write_tombstones(live)
            self.negate(live, gpath, tseg)
        finally:
            live.unpersist()


def build_generation(
    path: str, managed: bool, write: Callable[[str], None]
) -> str:
    """Build target: ``write(gpath)`` fills the first generation of a
    managed root (then the MANIFEST is written, last) or the root
    itself.  A build replaces the whole tree, so tombstones a previous
    tree left there are removed first — they would silence rows of the
    new build whose df/stats still count them.  Returns the generation
    path written."""
    import shutil

    os.makedirs(path, exist_ok=True)
    gpath = os.path.join(path, FIRST_GENERATION) if managed else path
    shutil.rmtree(
        os.path.join(_local_path(gpath), "tombstones"), ignore_errors=True
    )
    write(gpath)
    if managed:
        write_manifest(path, FIRST_GENERATION)
    return gpath


def compact_generation(
    src: str,
    dst: str | None,
    op: str,
    write: Callable[[str, list[str], str], None],
) -> str:
    """Compaction target: ``write(gsrc, dead, out)`` rewrites the live
    generation of ``src`` into ``out`` — the explicit ``dst`` (the
    caller owns the swap), or for a managed root the next generation,
    whose MANIFEST flip is written last.  Readers that captured a
    DataFrame before the flip keep reading the old generation's intact
    files; old generations wait for gc.  Returns ``out``."""
    gsrc, dead = open_index(src)
    gen = None
    if dst is None:
        if read_manifest(src) is None:
            raise ValueError(
                f"{op}: {src!r} is not a managed index root (no MANIFEST) "
                "— pass an explicit dst, or build with managed=True"
            )
        gen = next_generation(src)
        dst = os.path.join(src, gen)
    write(gsrc, dead, dst)
    if gen is not None:
        write_manifest(src, gen)
    return dst


def write_layout(gpath: str, layout: dict) -> None:
    """Persist per-generation physical-layout constants (e.g. the term
    bucket count) next to the data they describe.  Pinned by the first
    segment write of a generation (after its first store write
    succeeds) and copied by compaction, so every reader and every later
    ingest of that generation agrees on the layout without a global
    constant."""
    local = _local_path(gpath)
    os.makedirs(local, exist_ok=True)
    write_json(os.path.join(local, LAYOUT), layout)


def write_json(path: str, payload: dict) -> None:
    """Write a small metadata file (MANIFEST, LAYOUT, a family's META)
    by tmp + rename: serialized before disk is touched, and readers see
    the old file or the new one, never a torn one."""
    text = json.dumps(payload) + "\n"
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(text)
    os.replace(tmp, path)


def read_layout(gpath: str) -> dict | None:
    """Layout constants of a generation dir, or None (pre-layout tree:
    readers fall back to the historical defaults)."""
    p = os.path.join(_local_path(gpath), LAYOUT)
    if not os.path.isfile(p):
        return None
    with open(p, encoding="utf-8") as fh:
        return json.load(fh)


def _local_path(p: str) -> str:
    """The ``file://``-stripping seam (see :func:`read_optional`) for
    driver-side filesystem ops on index trees."""
    return p[7:] if p.startswith("file://") else p


def is_delete_batch(seg: str) -> bool:
    return seg.endswith(".del") or seg.startswith("del-")


def check_segment_name(seg: str, op: str) -> None:
    """Reject segment names in the delete-batch namespace.  Tombstone
    batches are stored under ``<segment>.del`` / ``del-<uuid>`` names;
    an ORDINARY ingest segment wearing such a name would be
    misclassified by entanglement checks (permanently undroppable with
    a misleading error), so the namespace is reserved at write time."""
    if is_delete_batch(seg):
        raise ValueError(
            f"{op}: segment name {seg!r} is in the reserved delete-batch "
            "namespace ('*.del' / 'del-*') — pick a different name"
        )


def refuse_dead(seg: str, dead: list[str], op: str) -> None:
    """A segment (or its upsert delete twin) that is dead in the
    MANIFEST cannot be written again: its partitions are invisible to
    readers."""
    if seg in dead or f"{seg}.del" in dead:
        raise ValueError(
            f"{op}: segment {seg!r} is dead in the MANIFEST (dropped or "
            "merged away) — its partitions are invisible to readers; "
            "pick a fresh segment name"
        )


def clear_segment_partitions(
    gpath: str, stores: tuple[str, ...], segment: str
) -> list[str]:
    """Remove an existing segment's partition directories ahead of a
    named-segment rewrite.  Stores are partitioned by ``(segment,
    <subkey>)``, and dynamic partition overwrite replaces only the
    (segment, subkey) pairs PRESENT in the new batch — re-ingesting
    CHANGED content under an existing live segment name would leave the
    old content's other subkey partitions alive (probes silently
    matching superseded rows).  Clearing first makes a named write mean
    "this batch IS the segment" unconditionally; for an at-least-once
    REPLAY (identical content) the clear+rewrite is a no-op on the end
    state.  Crash window: a crash between clear and rewrite loses the
    segment until the batch is re-delivered — the same at-least-once
    contract deterministic segment names already assume.  Driver-side
    filesystem ops (local/HDFS seam).  Returns the removed paths."""
    import shutil

    removed: list[str] = []
    for sub in stores:
        part = os.path.join(_local_path(gpath), sub, f"segment={segment}")
        if os.path.isdir(part):
            shutil.rmtree(part)
            removed.append(part)
    return removed


def require_untangled(
    spark: SparkSession,
    gpath: str,
    segments: list[str],
    op: str,
    compact_op: str,
) -> None:
    """Refuse segment-level ops (drop, merge) on segments entangled with
    tombstones: a segment TARGETED by tombstones has negative partials
    living in OTHER partitions (dropping it would double-subtract), and
    a delete batch's own partitions carry corrections for rows that
    live elsewhere (dropping it would resurrect them).  Either case
    needs the family's full compaction, which nets everything out,
    instead of the O(1) manifest flip."""
    tomb = read_optional(spark, f"{gpath}/tombstones")
    if tomb is None:
        return
    if any(is_delete_batch(s) for s in segments) or tomb.where(
        F.col("tseg").isin(segments) | F.col("segment").isin(segments)
    ).limit(1).count():
        raise ValueError(
            f"{op}: segment(s) {segments} are entangled with tombstones "
            "(targeted by, or themselves, a delete batch) — run "
            f"{compact_op} instead"
        )


def acquire_merge_lock(path: str, op: str) -> None:
    """Mark a staged-but-uncommitted merge in flight.  ``gc`` refuses
    to reclaim pending segments while the marker exists — without it,
    a gc run between a merge's stage flip and commit flip would
    destroy the staged output AND erase the pending record.
    Single-writer contract: a pre-existing marker means a crashed
    merge; the caller decides (gc with force=True cleans up)."""
    lock = os.path.join(_local_path(path), MERGE_LOCK)
    if os.path.exists(lock):
        raise ValueError(
            f"{op}: a merge is already in flight (or crashed) — "
            f"{lock} exists; finish/abort it, or reclaim with "
            "gc(force=True) after verifying no merge is running"
        )
    with open(lock, "w", encoding="utf-8") as fh:
        fh.write(f"{op} pid={os.getpid()}\n")


def release_merge_lock(path: str) -> None:
    try:
        os.unlink(os.path.join(_local_path(path), MERGE_LOCK))
    except FileNotFoundError:
        pass


def _dir_signature(local: str) -> int:
    """Cheap content signature of a parquet tree: a hash over every
    file's (relative path, size, mtime_ns).  Any write Spark can make —
    append (new part files), dynamic partition overwrite (replaced part
    files with fresh names/mtimes), delete/rename — changes it, so it
    is a sound invalidation key for plan reuse.  Walking the few
    hundred files of an index store is microseconds against the
    partition-discovery + footer-read job a fresh
    ``spark.read.parquet`` schedules."""
    acc = 0
    n = 0
    for root, _dirs, files in os.walk(local):
        rel = os.path.relpath(root, local)
        for f in files:
            try:
                st = os.stat(os.path.join(root, f))
            except OSError:
                continue
            n += 1
            acc ^= hash((rel, f, st.st_size, st.st_mtime_ns))
    return hash((n, acc))


def read_optional(spark: SparkSession, p: str) -> DataFrame | None:
    """Read a parquet tree that may not exist yet (empty index, no
    tombstones) — driver-side existence probe for local paths, with the
    AnalysisException fallback for remote schemes.  The one copy of the
    ``file://``-stripping seam an object-store port would extend.

    For local paths the returned DataFrame (an immutable plan) is
    memoized per session, keyed by a directory signature over the
    tree's (name, size, mtime) set: every index read funnels through
    here, and profiling (OPTIMIZATION_r13.md) showed repeated
    ``spark.read.parquet`` partition-discovery jobs over the same
    unchanged store dominating the *_indexed query paths.  Any mutation
    of the tree changes the signature and forces a fresh read, so
    readers never see a stale file listing.  Set
    SPARK_GRAFT_NO_TABLE_CACHE=1 to disable (same switch as
    ``session.load_table``)."""
    local = _local_path(p)
    if "://" not in local and not os.path.isdir(local):
        return None
    if "://" in local or os.environ.get("SPARK_GRAFT_NO_TABLE_CACHE"):
        try:
            return spark.read.parquet(p)
        except AnalysisException:
            return None
    cache = getattr(spark, "_rss_read_cache", None)
    if cache is None:
        cache = spark._rss_read_cache = {}
    sig = _dir_signature(local)
    hit = cache.get(local)
    if hit is not None and hit[0] == sig:
        return hit[1]
    try:
        df = spark.read.parquet(p)
    except AnalysisException:
        return None
    cache[local] = (sig, df)
    return df


def read_manifest(path: str) -> dict | None:
    """Parse the MANIFEST commit point: ``{"generation": g, "dead":
    [...], "pending": [...]}``, or the legacy one-line generation
    pointer, or None for an unmanaged root.

    ``dead`` segments have been dropped or merged away — readers
    exclude their partitions (a partition-pruned NOT-IN, so exclusion
    is free); ``pending`` segments are mid-commit (a merge staged its
    output but has not flipped yet) and are excluded the same way, so
    a crash between staging and commit leaves the index exactly as it
    was."""
    m = os.path.join(path, MANIFEST)
    if not os.path.isfile(m):
        return None
    with open(m, encoding="utf-8") as fh:
        raw = fh.read().strip()
    if raw.startswith("{"):
        d = json.loads(raw)
        return {
            "generation": d["generation"],
            "dead": list(d.get("dead", [])),
            "pending": list(d.get("pending", [])),
        }
    return {"generation": raw, "dead": [], "pending": []}


def resolve_index_path(path: str) -> str:
    """Resolve an index root to its current generation directory: if a
    ``MANIFEST`` pointer exists the root is managed and the pointer
    names the live generation; otherwise the root IS the index.  Every
    reader and maintenance op resolves through this, which is what
    makes compaction's pointer flip atomic from the reader's side."""
    man = read_manifest(path)
    return os.path.join(path, man["generation"]) if man else path


def open_index(path: str) -> tuple[str, list[str]]:
    """(generation path, segments to EXCLUDE) for an index root —
    excluded = manifest dead + pending (see :func:`read_manifest`)."""
    man = read_manifest(path)
    if man is None:
        return path, []
    return (
        os.path.join(path, man["generation"]),
        man["dead"] + man["pending"],
    )


def drop_dead(df: DataFrame, dead: list[str]) -> DataFrame:
    """Partition-pruned NOT-IN on the ``segment`` partition column."""
    return df if not dead else df.where(~F.col("segment").isin(dead))


def write_manifest(
    path: str,
    gen: str,
    dead: list[str] | tuple[str, ...] = (),
    pending: list[str] | tuple[str, ...] = (),
) -> None:
    """Write the commit point LAST, via :func:`write_json`'s rename
    (POSIX/HDFS rename is atomic; an object-store port would use a
    conditional put here)."""
    write_json(
        os.path.join(path, MANIFEST),
        {"generation": gen, "dead": sorted(dead), "pending": sorted(pending)},
    )


def next_generation(path: str) -> str:
    cur = os.path.basename(resolve_index_path(path))
    n = int(cur[1:]) if cur.startswith("g") and cur[1:].isdigit() else 0
    return f"g{n + 1:08d}"


def require_managed(path: str, op: str) -> dict:
    """Manifest of a managed root, or a descriptive error naming the
    maintenance op that needs one."""
    man = read_manifest(path)
    if man is None:
        raise ValueError(
            f"{op} requires a managed index root (build with "
            "managed=True)"
        )
    return man


def drop_segment_metadata(
    path: str,
    segment: str,
    op: str = "drop_segment",
    check: Callable[[str], None] | None = None,
) -> None:
    """The generic O(metadata) retention commit: mark ``segment`` dead
    in the MANIFEST — one atomic pointer flip, no data read or
    written.  Idempotent for an already-dead segment; otherwise
    ``check(gpath)`` runs first and raises to refuse (each family's
    entanglement policy)."""
    man = require_managed(path, op)
    if segment in man["dead"]:
        return  # idempotent
    if check is not None:
        check(os.path.join(path, man["generation"]))
    write_manifest(
        path, man["generation"], man["dead"] + [segment], man["pending"]
    )


def gc_generations(
    path: str, stores: tuple[str, ...], force: bool = False
) -> list[str]:
    """Generic storage reclamation for a managed root: remove
    generation directories other than the live one, and the live
    generation's dead/pending segment partitions under each store
    subtree.  Driver-side filesystem walk (local/HDFS seam); run after
    the reader-drain window.  Returns removed paths and commits a
    clean manifest.

    Tombstone trees are partitioned by ``tseg``, not ``segment``, and
    delete batches cannot be dropped, so dead tombstone partitions
    cannot exist; old generations (with their tombstones) are
    reclaimed whole.

    Pending segments are normally crashed-merge leftovers, safe to
    bulldoze — but a merge STAGED AND STILL RUNNING also sits on the
    pending list, and gc'ing it would destroy the staged output and
    erase the record.  Merges hold a ``MERGE_IN_PROGRESS`` marker for
    exactly that window; gc refuses while it exists unless ``force=
    True`` (crash recovery: verify no merge is running first — the
    forced gc removes the marker along with the pending partitions)."""
    import re
    import shutil

    man = require_managed(path, "gc")
    lock = os.path.join(_local_path(path), MERGE_LOCK)
    if os.path.exists(lock):
        if not force:
            raise ValueError(
                f"gc: merge in flight ({lock} exists) — gc would destroy "
                "its staged pending segments; retry after the merge "
                "commits, or pass force=True if the merge crashed"
            )
        os.unlink(lock)
    removed: list[str] = []
    for entry in sorted(os.listdir(path)):
        full = os.path.join(path, entry)
        if (
            os.path.isdir(full)
            and re.fullmatch(r"g\d{8}", entry)
            and entry != man["generation"]
        ):
            shutil.rmtree(full)
            removed.append(full)
    gpath = os.path.join(path, man["generation"])
    for sub in stores:
        for seg in man["dead"] + man["pending"]:
            part = os.path.join(gpath, sub, f"segment={seg}")
            if os.path.isdir(part):
                shutil.rmtree(part)
                removed.append(part)
    write_manifest(path, man["generation"], [], [])
    return removed
