"""Persisted dedup-signature index — the ingest-side twin of the
persisted inverted index (``operators/invindex.py``).

``incremental_dedup`` (operators/dedup.py) verdicts a new batch against
the accumulated corpus, but recomputes the HISTORY side's digests,
minhash signatures, and shingle sets from raw text on every call — at
100 TB that is a full-corpus tokenize+hash per ingest batch.  This
module persists those derived artifacts ONCE, so per-batch dedup cost
follows the batch: the batch side is hashed fresh (it is new data), the
history side is equi-joined from signature-sized parquet, and only the
near-dup CANDIDATES' shingle sets are fetched for exact verification.

Layout under ``path`` (one index GENERATION; managed roots follow the
shared MANIFEST commit-point discipline of ``operators/segstore.py``):

- ``digests/`` — (doc_id, content_hash) partitioned by
  ``(segment, bucket)``, ``bucket = h32(content_hash) % N_BUCKETS``:
  the exact-dup probe's join side, 40-byte rows.
- ``bands/`` — (doc_id, band_idx, band_hash) partitioned by
  ``(segment, bucket)``, ``bucket = pmod(band_hash, N_BUCKETS)``: the
  LSH candidate join side — 16 band rows of 8-byte hashes per doc,
  NOT the documents.
- ``shingles/`` — (doc_id, sh array<int>) partitioned by
  ``(segment, bucket)``, ``bucket = pmod(doc_id, N_BUCKETS)``: the
  exact-Jaccard verification sets as SORTED h32 HASHES offset-cast to
  int32 (an injective transform — set equality and Jaccard are
  unchanged), not strings: 2.4x fewer bytes (measured 1462 MB strings
  → 613 MB int32 on the 500k realistic corpus), and band-signature
  construction reuses the same hashes (one md5 pass per batch, not
  two).  Verification is exact set-Jaccard at h32 resolution — the
  resolution the minhash candidate stage already lives at; the
  string-set recompute (incremental_dedup(hashed=False)) is the
  collision-free reference and agrees on every verdict at test scale.
  This is the one corpus-sized store (like the positional index's
  ``positions``), but a SMALL batch's probe reads ONLY the buckets
  holding actual candidates: candidate h_ids are aggregated
  driver-side to a ≤``N_BUCKETS``-value partition IN-filter (bounded
  collect), so a streaming trickle's verify scan touches a few
  buckets' files, not the corpus.
- ``tombstones/`` — (doc_id, segment) partitioned by ``tseg``:
  document deletion, applied at read time as a broadcast anti-join.
  Unlike the inverted index there are NO global-stat partials to
  correct — a dead digest/band/shingle row simply stops matching —
  so segment drop/retention never entangles with tombstones.
- ``META`` — JSON ``{"n": shingle_n}`` written at build: probes reuse
  the build's shingle width (a probe with a different n would verify
  against incomparable sets).

The segment lifecycle (replay-safe named segments, tombstones,
MANIFEST commit points) is ``operators/segstore.py``'s;
``update_dedup_index(..., replace=True)`` is the refresh path a
dedup-refresh pipeline needs when documents change.

The probe is value-identical to ``incremental_dedup(hashed=True)``
over the same live corpus (tested, and driver-graded via a DuckDB
oracle that recomputes the hashed verification from first
principles): same md5 content digests, same 32-perm minhash / 16-band
LSH candidates, same exact-Jaccard ≥ threshold verification on the
hashed sets, same exact-over-near precedence and min-doc_id match
selection.

Reference basis: none (SURVEY §2.2 extension surface — the reference
has no dedup layer); the lifecycle mirrors Lucene commit points, the
signature store mirrors the published MinHash-LSH dedup pipelines
(GPT-3/Gopher-style corpus dedup) restated as parquet + Spark joins.
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redis_streams_spark.functions.hashing import h32
from redis_streams_spark.functions.rounding import rnd
from redis_streams_spark.operators.dedup import (
    band_rows_from_hashes,
    hashed_shingle_sets,
    normalized_text,
)
from redis_streams_spark.operators.segstore import (
    TREE,
    Family,
    Store,
    build_generation,
    compact_generation,
    drop_dead,
    drop_segment_metadata,
    gc_generations,
    open_index,
    persist_verdicts,
    read_manifest,
    read_optional,
    write_json,
)

__all__ = [
    "N_BUCKETS",
    "build_dedup_index",
    "init_dedup_index",
    "update_dedup_index",
    "delete_from_dedup_index",
    "probe_dedup_index",
    "probe_dedup_session",
    "dedup_ingest_batch",
    "compact_dedup_index",
    "drop_dedup_segment",
    "gc_dedup_index",
    "dedup_index_status",
    "dedup_index_maintenance_advice",
]

N_BUCKETS = 64

# Probe batches at or below this size get the candidate-bucket-pruned
# verify scan (see probe_dedup_index); larger batches hit most buckets
# anyway and skip the extra candidate materialization it costs.
_PRUNE_BATCH_LIMIT = 4 * N_BUCKETS

# The shingle store keeps h32 hashes offset-cast to INT32 — an
# injective transform of the h32 longs, so set equality (hence exact
# Jaccard) is unchanged while the store drops from 998 MB (longs) to
# 613 MB (vs 1462 MB as strings) on the 500k realistic corpus.  Probe
# batches apply the same transform before comparing.
_I32_OFFSET = 2_147_483_648


def _sh_i32(col):
    return F.transform(col, lambda x: (x - F.lit(_I32_OFFSET)).cast("int"))


# No negative partials: a tombstone row silences a document in all
# three stores (they share the (doc_id, segment) key).
_FAMILY = Family(
    stores={
        "digests": Store(
            "doc_id BIGINT, content_hash STRING, bucket INT, segment STRING",
            key="bucket",
        ),
        "bands": Store(
            "doc_id BIGINT, band_idx INT, band_hash BIGINT, "
            "bucket INT, segment STRING",
            key="bucket",
        ),
        "shingles": Store(
            "doc_id BIGINT, sh ARRAY<INT>, bucket INT, segment STRING",
            key="bucket",
        ),
    },
    id_col="doc_id",
)


# ------------------------------------------------------------------- meta


def _write_meta(path: str, n: int, shingles: bool = True) -> None:
    write_json(os.path.join(path, "META"), {"n": n, "shingles": shingles})


def _read_meta_dict(path: str) -> dict:
    """Build config: shingle width ``n`` plus whether the corpus-sized
    shingle store exists (``shingles``, default True for indexes
    predating the flag — the byte-budget opt-out of r11 advice #6)."""
    p = os.path.join(path, "META")
    if not os.path.isfile(p):
        return {"n": 3, "shingles": True}
    with open(p, encoding="utf-8") as fh:
        d = json.load(fh)
    return {"n": int(d["n"]), "shingles": bool(d.get("shingles", True))}


def _live(df: DataFrame, dead: list[str], tomb: DataFrame | None) -> DataFrame:
    """Live rows of a store frame: drop manifest-dead segments (a
    partition-pruned NOT-IN) and tombstoned (doc_id, segment) rows."""
    return _FAMILY.live(drop_dead(df, dead), tomb)


# ------------------------------------------------------------------ build


def _write_segment(
    docs: DataFrame,
    gpath: str,
    write: str,
    segment: str,
    n: int,
    store_shingles: bool = True,
) -> None:
    """Write one document batch's digest/band/shingle rows as segment
    ``segment``.  One shingle pass feeds both the band build and the
    shingle store (persisted)."""
    digests = docs.select(
        "doc_id", F.md5(normalized_text()).alias("content_hash")
    ).withColumn("bucket", (h32("content_hash") % N_BUCKETS).cast("int"))
    sets_ = hashed_shingle_sets(docs, n).persist()
    try:
        _FAMILY.write(digests, gpath, "digests", write, segment)
        _FAMILY.write(
            band_rows_from_hashes(sets_).withColumn(
                "bucket", F.pmod("band_hash", F.lit(N_BUCKETS)).cast("int")
            ),
            gpath, "bands", write, segment,
        )
        if store_shingles:
            _FAMILY.write(
                sets_.select("doc_id", _sh_i32("sh").alias("sh")).withColumn(
                    "bucket", F.pmod("doc_id", F.lit(N_BUCKETS)).cast("int")
                ),
                gpath, "shingles", write, segment,
            )
    finally:
        sets_.unpersist()


def build_dedup_index(
    docs: DataFrame,
    path: str,
    n: int = 3,
    managed: bool = False,
    store_shingles: bool = True,
) -> str:
    """Write the dedup-signature layout for a ``documents``-shaped
    frame (doc_id, text) as segment ``base``; returns the generation
    path.  ``managed=True`` creates the MANIFEST-committed multi-
    generation root (compaction becomes a pointer flip, retention a
    manifest edit)."""

    def write(gpath: str) -> None:
        _write_segment(docs, gpath, TREE, "base", n, store_shingles)
        _write_meta(path, n, shingles=store_shingles)

    return build_generation(path, managed, write)


def init_dedup_index(
    path: str,
    n: int = 3,
    managed: bool = True,
    store_shingles: bool = True,
) -> str:
    """Create an EMPTY index root — the streaming-first bootstrap: a
    corpus built entirely by ``dedup_ingest_batch`` / ``update_dedup_
    index`` segments still gets the manifest lifecycle (compaction,
    retention, gc) if the root is managed from the start.  Returns the
    generation path writes should land in (resolved by the ordinary
    maintenance ops, so callers never use it directly)."""

    def write(gpath: str) -> None:
        _write_meta(path, n, shingles=store_shingles)
        os.makedirs(gpath, exist_ok=True)

    return build_generation(path, managed, write)


def update_dedup_index(
    docs_new: DataFrame,
    path: str,
    segment: str | None = None,
    replace: bool = False,
) -> None:
    """Add a new document batch as its own segment — no existing
    segment is read or rewritten, so probes against the index answer
    exactly like a rebuild over the union corpus.

    ``segment``: a DETERMINISTIC name (e.g. the foreachBatch batchId)
    makes the write replay-safe via dynamic partition overwrite;
    ``None`` appends under an opaque unique name (exactly-once callers
    only).

    ``replace=True`` is the refresh/upsert: live copies of this
    batch's doc_ids in other segments are tombstoned first (as delete
    batch ``<segment>.del``), then the batch lands — re-ingesting a
    changed document stops it matching its own stale copy.  Replay
    recomputes identical corrections: the delete pass ignores this
    batch's own prior tombstones and its own segment."""

    def write_batch(gpath: str, seg: str, write: str) -> None:
        meta = _read_meta_dict(path)
        _write_segment(
            docs_new, gpath, write, seg, meta["n"], meta["shingles"]
        )

    _FAMILY.ingest(
        docs_new, path, segment, "update_dedup_index", write_batch,
        replace=replace,
    )


# ----------------------------------------------------------------- delete


def delete_from_dedup_index(
    spark: SparkSession,
    path: str,
    delete_ids,
    segment: str | None = None,
) -> None:
    """Tombstone documents without rewriting any store segment.
    ``delete_ids`` is a list of doc_ids or a DataFrame with a
    ``doc_id`` column; ``segment`` names the delete batch (pass a
    deterministic name for replay-safe streaming deletes).  Probes
    immediately stop matching the dead documents — value-identical to
    a rebuild over the survivors (tested); ``compact_dedup_index``
    later drops the rows physically.  Liveness comes from ``digests/``
    (every copy of a doc has exactly one digest row)."""
    _FAMILY.delete(spark, path, delete_ids, segment)


# ------------------------------------------------------------------ probe


def probe_dedup_index(
    batch: DataFrame,
    path: str,
    threshold: float = 0.3,
    exclude_segment: str | None = None,
    batch_count: int | None = None,
    persist: bool = True,
    verify: str = "auto",
) -> DataFrame:
    """See :func:`_probe_frames`; with ``persist=True`` (default) the
    persisted intermediates back the LAZY result and stay cached for
    its lifetime (the shared-stage persist convention of
    minhash_lsh_pairs).  A long-lived driver issuing REPEATED probes
    outside the ingest loop (query services, the registered queries)
    passes ``persist=False`` — the shared stages recompute
    (batch-sized work) and nothing accumulates in the cache (r11
    advice) — or scopes the cache with :func:`probe_dedup_session`.
    Callers that fully materialize the verdicts and loop — the
    streaming ingest path — use :func:`dedup_ingest_batch`, which
    unpersists them per batch."""
    return _probe_frames(
        batch, path, threshold, exclude_segment, batch_count, persist,
        verify,
    )[0]


@contextmanager
def probe_dedup_session(
    batch: DataFrame,
    path: str,
    threshold: float = 0.3,
    exclude_segment: str | None = None,
    batch_count: int | None = None,
    verify: str = "auto",
):
    """Scoped probe: yields the verdict frame with the shared-stage
    caches alive, and unpersists them on exit — the leak-free shape
    for drivers that probe repeatedly without ingesting (r11 advice).
    Fully consume the frame (collect/write) INSIDE the block."""
    out, persisted = _probe_frames(
        batch, path, threshold, exclude_segment, batch_count, verify=verify
    )
    try:
        yield out
    finally:
        for f in persisted:
            f.unpersist()


def _probe_frames(
    batch: DataFrame,
    path: str,
    threshold: float = 0.3,
    exclude_segment: str | None = None,
    batch_count: int | None = None,
    persist: bool = True,
    verify: str = "auto",
) -> tuple[DataFrame, list[DataFrame]]:
    """Verdict a new document batch against the persisted corpus:
    per batch doc ``exact_dup`` / ``near_dup`` / ``keep`` plus
    ``match_id`` (smallest live matching corpus doc_id, exact match
    precedence) — :func:`~redis_streams_spark.operators.dedup.
    incremental_dedup`'s contract with the history side read from the
    index instead of recomputed.

    Scale shape: the batch is digested/shingled/banded fresh (it is
    new data, batch-sized); the exact join carries 40-byte digest
    rows, the candidate join 8-byte band hashes; for SMALL batches
    (≤ _PRUNE_BATCH_LIMIT docs — the streaming-trickle case) the
    shingle fetch for exact-Jaccard verification is pruned to the
    candidates' partition buckets via a bounded (≤ N_BUCKETS values)
    driver-side collect of the distinct candidate buckets.  Nothing
    in the plan scans document text on the history side.

    ``exclude_segment`` removes one segment from the probed corpus —
    the ingest loop's replay guard: a re-delivered micro-batch must
    not match the keepers its own previous delivery appended (see
    :func:`dedup_ingest_batch`).

    ``verify`` picks the near-dup confirmation evidence (r11 advice
    #6 — the shingle store is the index's one corpus-sized store):

    - ``"exact"`` — exact h32-set Jaccard from the ``shingles/``
      store (the default semantics; requires the store).
    - ``"minhash"`` — MINHASH-SIGNATURE agreement from the
      ``bands/`` store alone: a candidate is confirmed when
      ≥ ceil(LSH_BANDS · threshold^ROWS_PER_BAND) of its bands match
      (P[band match] = J^rows, so the cutoff is the threshold mapped
      through the band-collision curve — an integer rule, no float
      seam).  Noisier (quantified by ``dedup_verify_budget`` /
      ``dedup_minhash_accuracy``), but the index needs NO shingle
      store: build with ``store_shingles=False`` to cap index bytes.
    - ``"auto"`` (default) — ``"exact"`` when the store exists,
      ``"minhash"`` otherwise."""
    spark = batch.sparkSession
    gpath, dead = open_index(path)
    if exclude_segment is not None:
        dead = list(dead) + [exclude_segment]
    meta = _read_meta_dict(path)
    n = meta["n"]
    if verify == "auto":
        verify = "exact" if meta["shingles"] else "minhash"
    elif verify == "exact" and not meta["shingles"]:
        raise ValueError(
            "probe_dedup_index: verify='exact' needs the shingle store, "
            "but the index was built with store_shingles=False — use "
            "verify='minhash' (or 'auto')"
        )
    elif verify not in ("exact", "minhash"):
        raise ValueError(f"probe_dedup_index: unknown verify {verify!r}")
    tomb = _FAMILY.tombstones(spark, gpath)

    bnorm = batch.select(
        "doc_id", F.md5(normalized_text()).alias("content_hash")
    )
    hdig = _live(_FAMILY.read(spark, gpath, "digests"), dead, tomb)
    exact = (
        bnorm.join(
            hdig.select(F.col("doc_id").alias("h_id"), "content_hash"),
            "content_hash",
        )
        .groupBy("doc_id")
        .agg(F.min("h_id").alias("exact_match"))
    )

    bsets = hashed_shingle_sets(batch, n)
    persisted: list[DataFrame] = []
    if persist and verify == "exact":
        # exact verify reads bsets twice (band build + verify join);
        # minhash verify reads it once — nothing to share, no persist
        bsets = bsets.persist()
        persisted.append(bsets)
    hbands = _live(_FAMILY.read(spark, gpath, "bands"), dead, tomb)
    bjoin = band_rows_from_hashes(bsets).join(
        hbands.select(
            F.col("doc_id").alias("h_id"), "band_idx", "band_hash"
        ),
        ["band_idx", "band_hash"],
    )
    if verify == "minhash":
        # band-agreement confirmation: count matching bands per pair
        # (each band_idx matches at most once), integer cutoff mapped
        # from the Jaccard threshold through P[band match] = J^rows —
        # no shingle scan anywhere in the plan
        import math

        from redis_streams_spark.functions.hashing import (
            LSH_BANDS,
            ROWS_PER_BAND,
        )

        cutoff = max(1, math.ceil(LSH_BANDS * threshold**ROWS_PER_BAND))
        near = (
            bjoin.groupBy("doc_id", "h_id")
            .agg(F.count(F.lit(1)).alias("n_agree"))
            .where(F.col("n_agree") >= cutoff)
            .groupBy("doc_id")
            .agg(F.min("h_id").alias("near_match"))
        )
        out = _verdict_frame(batch, exact, near)
        return out, persisted
    cands = bjoin.select("doc_id", "h_id").distinct()
    hsh = _FAMILY.read(spark, gpath, "shingles")
    # Candidate-bucket pruning is a SMALL-BATCH optimization: a bounded
    # collect (≤ N_BUCKETS rows) of the candidates' distinct doc_id
    # buckets becomes the verify scan's partition IN-filter, so a
    # trickle batch's exact-Jaccard verification reads a few buckets'
    # files (a batch with no candidates skips the shingle store
    # entirely).  It needs the candidate set twice (bucket collect +
    # verify join), hence the persist — which at a LARGE batch is a
    # full extra materialization of a possibly clique-quadratic pair
    # set for an IN-filter that would name every bucket anyway; large
    # batches therefore keep the single-pass pipeline and scan all
    # buckets (measured at 1000x: the persist+collect pass was the
    # dominant probe cost at high duplicate density).
    #
    # The size gate takes a caller-supplied ``batch_count`` hint when
    # available; otherwise it counts ``bsets`` (one row per batch doc)
    # rather than re-evaluating the source — with the persist enabled
    # that count IS the cache-warming materialization every later
    # stage reuses, so the sizing job does useful work (r11 advice:
    # the old ``batch.limit(...).count()`` re-ran the source pipeline
    # purely to decide, and large batches paid it to take the
    # non-pruned path).
    if batch_count is None:
        batch_count = (
            bsets.count()
            if persist
            else bsets.limit(_PRUNE_BATCH_LIMIT + 1).count()
        )
    if batch_count <= _PRUNE_BATCH_LIMIT:
        if persist:
            cands = cands.persist()
            persisted.append(cands)
        cand_buckets = [
            r[0]
            for r in cands.select(
                F.pmod("h_id", F.lit(N_BUCKETS)).cast("int").alias("b")
            )
            .distinct()
            .collect()
        ]
        if len(cand_buckets) < N_BUCKETS:
            hsh = hsh.where(F.col("bucket").isin(cand_buckets or [-1]))
    hsh = _live(hsh, dead, tomb)
    ver = cands.join(
        bsets.select("doc_id", _sh_i32("sh").alias("sa")), "doc_id"
    ).join(
        hsh.select(F.col("doc_id").alias("h_id"), F.col("sh").alias("sb")),
        "h_id",
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    near = (
        ver.where(rnd(inter * 1.0 / F.greatest(union, F.lit(1)), 6) >= threshold)
        .groupBy("doc_id")
        .agg(F.min("h_id").alias("near_match"))
    )
    return _verdict_frame(batch, exact, near), persisted


def _verdict_frame(
    batch: DataFrame, exact: DataFrame, near: DataFrame
) -> DataFrame:
    """exact-over-near precedence + min-doc_id match selection — shared
    by both verify modes."""
    return (
        batch.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_match").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_match").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("keep"))
            .alias("verdict"),
            F.coalesce("exact_match", "near_match").alias("match_id"),
        )
        .orderBy("doc_id")
    )


def dedup_ingest_batch(
    batch: DataFrame,
    path: str,
    segment: str,
    verdicts_path: str,
    threshold: float = 0.3,
) -> DataFrame:
    """Online-dedup ingest step — the foreachBatch body of a
    continuously-deduplicated corpus: verdict the micro-batch against
    the accumulated index (its own segment EXCLUDED, see below), write
    the verdicts durably, then append only the ``keep``-verdict
    documents as this batch's segment.  Returns the batch's verdict
    frame read back from ``verdicts_path``.

    Ordering contract: verdicts are computed against the keepers of
    all PREVIOUS batches (greedy first-seen-wins, the standard online
    dedup semantics); duplicates WITHIN one micro-batch are both kept
    — intra-batch dedup, if wanted, is a plain ``exact_dedup`` on the
    batch before this call.

    Replay safety (foreachBatch is at-least-once): ``segment`` must be
    the deterministic batch id.  The probe excludes the batch's own
    segment — a re-delivered batch must not match the keepers its own
    previous delivery appended — and both writes are dynamic partition
    overwrites keyed on the segment, so a replay recomputes identical
    verdicts and replaces its own partitions.  The verdicts are
    MATERIALIZED (written, then read back) before the index append:
    computing them lazily after the append would re-list the index
    with the batch's own keepers inside."""
    verdicts, persisted = _probe_frames(
        batch, path, threshold=threshold, exclude_segment=segment
    )
    try:
        stored = persist_verdicts(verdicts, verdicts_path, segment)
        keepers = batch.join(
            stored.where(F.col("verdict") == "keep").select("doc_id"), "doc_id"
        )
        update_dedup_index(keepers, path, segment=segment)
    finally:
        # the verdict write + index update materialized everything the
        # persisted intermediates back; a long-running foreachBatch
        # loop must not accumulate cache entries (r11 review finding)
        for f in persisted:
            f.unpersist()
    return stored


# ---------------------------------------------------------- maintenance


def compact_dedup_index(
    spark: SparkSession, src: str, dst: str | None = None
) -> str:
    """Rewrite the accumulated multi-segment index as one ``base``
    segment with tombstoned rows PHYSICALLY dropped and no tombstones
    carried over.  Probe results are value-identical before and after
    (tested).  For a managed ``src`` (``dst=None``) the rewrite lands
    in the next generation directory and the MANIFEST flips to it
    LAST — readers opened before the flip keep draining the old
    generation, readers after see the compacted one; ``gc_dedup_index``
    reclaims the old generation after the drain window.  Returns the
    compacted data path (the new generation dir for managed, ``dst``
    otherwise)."""
    meta = _read_meta_dict(src)

    def write(gpath: str, dead: list[str], out: str) -> None:
        tomb = _FAMILY.tombstones(spark, gpath)
        for sub in _FAMILY.stores:
            if sub == "shingles" and not meta["shingles"]:
                continue  # the byte-budget opt-out survives compaction
            _FAMILY.write(
                _live(_FAMILY.read(spark, gpath, sub), dead, tomb),
                out, sub, TREE, "base",
            )
        _write_meta(src if dst is None else dst, meta["n"], meta["shingles"])

    return compact_generation(src, dst, "compact_dedup_index", write)


def drop_dedup_segment(spark: SparkSession, path: str, segment: str) -> None:
    """O(metadata) segment retention: mark an ingest segment dead in
    the MANIFEST — one atomic pointer flip, no data read or written.
    Probes stop matching the segment's documents immediately (the
    partition-pruned NOT-IN excludes all three stores' partitions).

    Victim segments never entangle: dupindex tombstones only SILENCE
    rows (no global-stat partials), so a tombstone pointing into a
    dead segment is a harmless no-op, and dropping a replace-batch
    leaves its explicitly-killed older copies dead — the right
    retention semantics (a replaced document was superseded, not
    resurrected).  DELETE batches themselves are refused: the manifest
    dead-list governs the three stores' segment partitions, not the
    tombstone tseg partitions, so "dropping" a delete batch would
    report success while its deletions stayed in force — compaction is
    the way to retire tombstones."""

    def check(gpath: str) -> None:
        t = read_optional(spark, f"{gpath}/tombstones")
        if t is not None and t.where(F.col("tseg") == segment).limit(1).count():
            raise ValueError(
                f"drop_dedup_segment: {segment!r} is a delete batch — its "
                "tombstones live outside the manifest's segment partitions "
                "and would stay in force; compact_dedup_index retires them"
            )

    drop_segment_metadata(path, segment, "drop_dedup_segment", check)


def gc_dedup_index(path: str, force: bool = False) -> list[str]:
    """Reclaim unreferenced storage of a managed root (generic
    segstore gc over this index's stores + tombstones); run after the
    reader-drain window."""
    return gc_generations(path, tuple(_FAMILY.stores), force=force)


def dedup_index_maintenance_advice(
    spark: SparkSession,
    path: str,
    small_frac: float = 0.05,
    dead_frac: float = 0.1,
) -> list[str]:
    """Rule ladder over :func:`dedup_index_status` (the introspection
    parity of invindex's index_maintenance_advice): recommends
    compaction when the tombstoned fraction passes ``dead_frac`` or
    small ingest segments accumulate (dupindex has no tiered merge —
    compaction is the collapse op), and gc when the manifest carries
    dead segments.  Returns human-readable recommendations (empty =
    healthy)."""
    rows = dedup_index_status(spark, path).collect()
    total = sum(r.n_docs for r in rows) or 1
    out: list[str] = []
    small = [r.segment for r in rows if r.n_docs < small_frac * total]
    if len(small) >= 3:
        out.append(
            f"compact_dedup_index: {len(small)} live segments each hold "
            f"<{small_frac:.0%} of the corpus ({sorted(small)})"
        )
    tombstoned = sum(r.n_tombstoned for r in rows)
    if tombstoned > dead_frac * total:
        out.append(
            f"compact_dedup_index: {tombstoned}/{total} documents "
            f"tombstoned (>{dead_frac:.0%})"
        )
    man = read_manifest(path)
    if man and (man["dead"] or man["pending"]):
        out.append(
            f"gc_dedup_index: {len(man['dead'] + man['pending'])} "
            "dead/pending segments reclaimable"
        )
    return out


def dedup_index_status(spark: SparkSession, path: str) -> DataFrame:
    """One row per live segment: (segment, n_docs, n_tombstoned) —
    the maintenance dashboard (which batches exist, how much deletion
    churn has accumulated toward the next compaction)."""
    gpath, dead = open_index(path)
    dig = drop_dead(_FAMILY.read(spark, gpath, "digests"), dead)
    tomb = _FAMILY.tombstones(spark, gpath)
    per = dig.groupBy("segment").agg(F.count(F.lit(1)).alias("n_docs"))
    if tomb is None:
        return per.withColumn("n_tombstoned", F.lit(0).cast("long")).orderBy(
            "segment"
        )
    tper = tomb.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_tombstoned")
    )
    return (
        per.join(tper, "segment", "left")
        .select(
            "segment",
            "n_docs",
            F.coalesce("n_tombstoned", F.lit(0)).cast("long").alias(
                "n_tombstoned"
            ),
        )
        .orderBy("segment")
    )
