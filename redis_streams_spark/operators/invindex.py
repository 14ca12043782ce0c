"""Persisted inverted index for keyword (BM25) retrieval — the lexical
twin of the persisted IVF cell store (operators/similarity.py::
build_ivf_index): build once, query many, with scan cost following the
QUERY's term list instead of the corpus.

Stores of one index GENERATION (the segment lifecycle — replay-safe
named segments, tombstones, MANIFEST commit points — is
``operators/segstore.py``'s):

- ``postings/`` — (tok, doc_id, tf, dl, positions) partitioned by
  ``(segment, bucket)`` with ``bucket = h32(tok) % n_term_buckets``
  (pinned per generation in LAYOUT).  The per-document length is
  DENORMALIZED into each posting row at build time, so query-time
  scoring never joins the corpus-sized doc-length table — the only
  corpus-sized work left at query time is reading the probed buckets.
  ``positions`` is the sorted 1-based token-position list (tf = its
  size), making the index POSITIONAL: phrase adjacency is an in-row
  array intersect at query time.
- ``terms/`` — per-term PARTIALS, same (segment, bucket) partitioning:
  document frequency ``df`` plus ``max_tf``, the segment's largest
  term frequency — the build-time ingredient of the MaxScore upper
  bound (see ``bm25_topk_maxscore``).
- ``stats/`` — corpus-stat partials: (n docs, sum of doc lengths),
  one row per segment.
- ``tombstones/`` — (doc_id, segment) rows naming the EXACT postings
  segment a deleted document lived in.  Deletion never rewrites
  postings: the query path drops dead rows with a broadcast anti-join,
  and the delete batch writes NEGATIVE df/stats partials under its own
  segment so the read-time partial sums net out the dead documents
  with zero query-path changes.

``update_inverted_index`` adds a batch of documents as its own segment
— no other segment is read or rewritten, so updates are safe while
readers run and never touch corpus-sized data.  The query path merges
partials at read time (df = sum per term over the probed buckets,
avgdl = Σsum_dl / Σn — both bounded frames), which keeps queries
value-identical to a from-scratch rebuild over the union corpus
(tested).  A live doc_id belongs to exactly one segment;
``delete_from_inverted_index`` tombstones documents and
``update_inverted_index(..., replace=True)`` re-ingests changed ones
(the dedup-refresh pipeline's upsert).  ``compact_inverted_index``
physically drops tombstoned rows and dead vocabulary; on a managed
root ``drop_segment`` (retention), ``merge_segments`` (tiered merge)
and ``gc_index`` are the O(metadata) maintenance ops.

Query path: the query terms' buckets are computed driver-side with
``h32_py`` (the Python twin of the same md5 hash the build used), and
the bucket IN-filter lands in the scan's PartitionFilters — dynamic
file pruning skips every unprobed bucket's files, so a 3-term query
against a 64-bucket index reads ≤3/64ths of the postings regardless of
corpus size (plan-asserted in tests/test_invindex.py).

Reference basis: none (SURVEY §2.2 extension surface — the reference
has no query layer)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from redis_streams_spark.functions.hashing import h32, h32_py
from redis_streams_spark.functions.rounding import rnd
from redis_streams_spark.operators.segstore import (
    SEGMENT,
    TREE,
    Family,
    Store,
    acquire_merge_lock,
    build_generation,
    compact_generation,
    drop_dead,
    drop_segment_metadata,
    gc_generations,
    open_index,
    read_layout,
    read_manifest,
    read_optional,
    release_merge_lock,
    require_managed,
    require_untangled,
    resolve_index_path,
    write_layout,
    write_manifest,
)

__all__ = [
    "N_TERM_BUCKETS",
    "build_inverted_index",
    "update_inverted_index",
    "delete_from_inverted_index",
    "drop_segment",
    "merge_segments",
    "gc_index",
    "index_status",
    "index_maintenance_advice",
    "compact_inverted_index",
    "bm25_topk_indexed",
    "bm25_topk_maxscore",
    "bm25_topk_auto",
    "phrase_match_indexed",
    "resolve_index_path",
]

N_TERM_BUCKETS = 64

_K1 = 1.2
_B = 0.75


def _negative_partials(live: DataFrame, gpath: str, tseg: str) -> None:
    """A delete batch's NEGATIVE df partials into ``terms/`` and
    negative (n, sum_dl) partial into ``stats/`` under ``tseg``, so the
    read-time partial sums net out the dead docs unchanged."""
    _FAMILY.write(
        live.groupBy("tok", "bucket").agg(
            (-F.count(F.lit(1))).alias("df"),
            # a dead doc may have held the segment max: 0 keeps the
            # merged max_tf an upper bound (loose but sound)
            F.lit(0).cast("long").alias("max_tf"),
        ),
        gpath, "terms", SEGMENT, tseg,
    )
    _FAMILY.write(
        live.groupBy("doc_id")
        .agg(F.min("dl").alias("dl"))
        .agg(
            (-F.count(F.lit(1))).cast("long").alias("n"),
            (-F.coalesce(F.sum("dl"), F.lit(0))).cast("long").alias("sum_dl"),
        )
        .where(F.col("n") < 0),  # no live rows -> write nothing
        gpath, "stats", SEGMENT, tseg,
    )


_FAMILY = Family(
    stores={
        "postings": Store(
            "tok STRING, doc_id BIGINT, tf BIGINT, dl BIGINT, "
            "positions ARRAY<BIGINT>, bucket INT, segment STRING",
            key="bucket",
        ),
        "terms": Store(
            "tok STRING, df BIGINT, max_tf BIGINT, bucket INT, segment STRING",
            key="bucket",
        ),
        "stats": Store("n BIGINT, sum_dl BIGINT, segment STRING"),
    },
    id_col="doc_id",
    negate=_negative_partials,
)


# ------------------------------------------------------------------ build

# Scale-derived bucket count (r14, guide §6): one parquet file lands per
# (segment, bucket) partition per write, so the bucket count IS the
# write's file count.  The historical constant 64 produced hundreds of
# KB-sized files at sf-scale (112 files for 184 KB measured at sf0.001)
# while being far too FEW pruning partitions for a 100 TB corpus.  The
# first segment write of a generation derives the count from the input
# size estimate (parquet plan statistics — metadata, no job) and pins it
# in the generation's LAYOUT file; later ingests and compactions reuse
# it, readers resolve probe buckets against it.  Pre-layout trees fall
# back to N_TERM_BUCKETS.
_TARGET_BUCKET_INPUT_BYTES = 64 << 20  # ~64 MB of input text per bucket
_MIN_BUCKETS = 8
_MAX_BUCKETS = 4096


def _derive_n_buckets(docs: DataFrame) -> int:
    """Bucket count from the input's plan size estimate.  An estimate
    at or above ``spark.sql.defaultSizeInBytes`` means UNKNOWN
    (createDataFrame, RDD-backed and foreachBatch frames report it), not
    huge, and falls back to N_TERM_BUCKETS."""
    try:
        size = int(
            docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        unknown = int(
            docs.sparkSession._jsparkSession.sessionState()
            .conf()
            .defaultSizeInBytes()
        )
    except Exception:
        return N_TERM_BUCKETS
    if size >= unknown:
        return N_TERM_BUCKETS
    n = _MIN_BUCKETS
    while n < _MAX_BUCKETS and n * _TARGET_BUCKET_INPUT_BYTES < size:
        n *= 2
    return n


def _layout_buckets(gpath: str) -> int:
    layout = read_layout(gpath)
    if layout is None:
        return N_TERM_BUCKETS
    return int(layout.get("n_term_buckets", N_TERM_BUCKETS))


def _segment_buckets(
    gpath: str, docs: DataFrame, write: str, n_buckets: int | None = None
) -> tuple[int, bool]:
    """(bucket count, whether this write pins it in LAYOUT).  A segment
    write reuses the generation's pinned layout (appends MUST match the
    live partitioning); a generation holding postings but no LAYOUT
    predates layouts and was written at N_TERM_BUCKETS.  A build
    (``TREE``) and the first write into an empty generation take the
    explicit override or the size-derived count — a build re-pins over
    any layout the replaced tree left behind."""
    if write != TREE:
        if read_layout(gpath) is not None:
            return _layout_buckets(gpath), False
        if os.path.isdir(f"{gpath}/postings"):
            return N_TERM_BUCKETS, True
    if n_buckets is None:
        n_buckets = _derive_n_buckets(docs)
    return n_buckets, True


def _write_segment(
    docs: DataFrame,
    gpath: str,
    write: str,
    segment: str,
    n_buckets: int | None = None,
) -> None:
    from redis_streams_spark.functions.textfns import words

    spark = docs.sparkSession
    n_buckets, pin = _segment_buckets(gpath, docs, write, n_buckets)
    base = docs.select("doc_id", words("text").alias("w"))
    dl = base.where(F.size("w") > 0).select(
        "doc_id", F.size("w").cast("long").alias("dl")
    )
    toks = base.select(
        "doc_id", F.posexplode("w").alias("pos0", "tok")
    ).select("doc_id", "tok", (F.col("pos0") + 1).cast("long").alias("pos"))
    postings = (
        toks.groupBy("tok", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.sort_array(F.collect_list("pos")).alias("positions"),
        )
        .join(dl, "doc_id")
        .withColumn("bucket", h32("tok") % n_buckets)
    )
    _FAMILY.write(postings, gpath, "postings", write, segment)
    # pinned only once the first postings write has succeeded: a failed
    # first write must not leave a layout behind for later writes
    if pin:
        write_layout(gpath, {"n_term_buckets": n_buckets})
    # The terms and stats passes derive from the postings JUST WRITTEN
    # instead of a persist of the postings lineage: the read-back is a
    # compressed, COLUMN-PRUNED parquet scan (neither pass touches
    # ``positions``, the bulk of a positional index) of exactly this
    # segment's partitions.
    written = _FAMILY.read_segment(spark, gpath, "postings", segment)

    # df partial + the segment's max term frequency: max_tf feeds the
    # MaxScore upper bound (an UPPER bound stays sound if loose, so
    # compaction takes max() and delete partials contribute 0)
    def _write_terms() -> None:
        _FAMILY.write(
            written.groupBy("tok", "segment", "bucket").agg(
                F.count(F.lit(1)).alias("df"),
                F.max("tf").alias("max_tf"),
            ),
            gpath, "terms", write,
        )

    def _write_stats() -> None:
        _FAMILY.write(
            written.groupBy("doc_id")
            .agg(F.min("dl").alias("dl"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("dl").cast("long").alias("sum_dl"),
            ),
            gpath, "stats", write, segment,
        )

    # the two derived writes read the same written postings and target
    # DISJOINT subtrees — run them as concurrent jobs so the second
    # write's tasks back-fill the first's tail (guide §2.6)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        for fut in [pool.submit(_write_terms), pool.submit(_write_stats)]:
            fut.result()


def build_inverted_index(
    docs: DataFrame,
    path: str,
    managed: bool = False,
    n_buckets: int | None = None,
) -> str:
    """Write the bucket-partitioned postings/terms/stats layout for the
    ``documents``-shaped frame (doc_id, text) as segment ``base``.

    With ``managed=True`` the index is built under a generation
    subdirectory and a ``MANIFEST`` pointer is written last, enabling
    atomic pointer-flip compaction (``compact_inverted_index`` with no
    dst).  ``n_buckets`` overrides the size-derived term bucket count
    (see ``_segment_buckets``); either way the count is pinned in the
    generation's LAYOUT file so appends and readers agree.  Returns
    the generation path actually written."""
    return build_generation(
        path,
        managed,
        lambda gpath: _write_segment(docs, gpath, TREE, "base", n_buckets),
    )


def update_inverted_index(
    docs_new: DataFrame,
    path: str,
    segment: str | None = None,
    replace: bool = False,
) -> None:
    """Add a new document batch as a segment: postings rows, term-df
    partials, one corpus-stats partial — no existing segment is read or
    rewritten.  Queries merge partials at read time, so the updated
    index answers exactly like a full rebuild over the union corpus.

    ``segment`` names the batch's partition.  Pass a DETERMINISTIC name
    (e.g. the foreachBatch ``batchId``) for replay-safe streaming
    ingestion: a re-delivered micro-batch REPLACES its own segment
    instead of double-counting it (Spark's foreachBatch is
    at-least-once).  With ``segment=None`` a plain append is performed
    under an opaque unique name, which is only safe for exactly-once
    callers.

    ``replace=True`` is the UPSERT: any live copy of this batch's
    doc_ids is tombstoned first (under segment ``<segment>.del``), then
    the batch lands as its own segment — the dedup-refresh pipeline's
    re-ingest of changed documents, which the plain caller contract
    (one segment per doc_id) forbids.  Replay-safe for deterministic
    segments (see ``segstore.Family.ingest``)."""
    _FAMILY.ingest(
        docs_new,
        path,
        segment,
        "update_inverted_index",
        lambda gpath, seg, write: _write_segment(docs_new, gpath, write, seg),
        replace=replace,
    )


# ----------------------------------------------------------------- delete


def delete_from_inverted_index(
    spark: SparkSession,
    path: str,
    delete_ids,
    segment: str | None = None,
) -> None:
    """Tombstone documents without rewriting any postings segment.

    ``delete_ids`` is a list of doc_ids or a DataFrame with a
    ``doc_id`` column.  ``segment`` names the delete batch — pass a
    deterministic name for replay-safe streaming deletes.  Queries over
    the index immediately exclude the dead documents AND their
    df/avgdl contributions (negative partials), value-identical to a
    from-scratch rebuild over the surviving corpus (tested);
    ``compact_inverted_index`` later drops the dead rows physically."""
    _FAMILY.delete(spark, path, delete_ids, segment)


# ---------------------------------------------------------------- compact


def compact_inverted_index(
    spark: SparkSession, src: str, dst: str | None = None
) -> str:
    """Rewrite an accumulated multi-segment index as one segment:
    postings re-bucketed into one file set per bucket with tombstoned
    rows PHYSICALLY dropped, term partials collapsed to one NET row per
    (term, bucket) (delete batches wrote negative df, so the sum nets;
    fully-deleted vocabulary rows vanish), stats partials to one row,
    and no tombstones carried over.  Query results are value-identical
    before and after (tested).

    ``dst`` given: compact the index at ``src`` (root or generation)
    into the explicit ``dst`` tree — the caller owns the swap.
    ``dst=None`` (managed root): compact into the next generation and
    flip ``MANIFEST`` last — the atomic swap (compact-while-querying is
    tested).  Returns the directory the compacted index was written
    to."""

    def write(gsrc: str, dead: list[str], out: str) -> None:
        tomb = _FAMILY.tombstones(spark, gsrc)
        # compaction carries bucket VALUES through unchanged, so the new
        # generation must pin the same bucket count for readers and for
        # any later ingest into it
        src_layout = read_layout(gsrc)
        if src_layout is not None:
            write_layout(out, src_layout)
        postings = _FAMILY.live(
            drop_dead(_FAMILY.read(spark, gsrc, "postings"), dead), tomb
        )
        _FAMILY.write(postings, out, "postings", TREE, "base")
        _FAMILY.write(
            drop_dead(_FAMILY.read(spark, gsrc, "terms"), dead)
            .groupBy("tok", "bucket")
            .agg(F.sum("df").alias("df"), F.max("max_tf").alias("max_tf"))
            .where(F.col("df") > 0),
            out, "terms", TREE, "base",
        )
        _FAMILY.write(
            _stats_totals(spark, gsrc, dead).select(
                "n", F.col("sdl").cast("long").alias("sum_dl")
            ),
            out, "stats", TREE, "base",
        )

    return compact_generation(src, dst, "compact_inverted_index", write)


def drop_segment(spark: SparkSession, path: str, segment: str) -> None:
    """O(1) segment retention (the index-side analog of the stream
    log's bounded retention, SURVEY S2/S19): mark an ingest segment
    dead in the MANIFEST — one atomic pointer flip, no data read or
    written.  Readers exclude dead segments with a partition-pruned
    NOT-IN on the segment partition column, and the read-time partial
    sums (df, n, sum_dl) lose the segment's contributions with them,
    so queries answer exactly like a rebuild over the remaining
    batches (tested).  A time-partitioned corpus drops its oldest
    batch this way for the price of a metadata write.

    Refused for tombstone-entangled segments (see
    ``segstore.require_untangled``); physical reclamation happens at
    ``gc_index`` or the next full compaction."""
    drop_segment_metadata(
        path,
        segment,
        "drop_segment",
        lambda gpath: require_untangled(
            spark, gpath, [segment], "drop_segment", "compact_inverted_index"
        ),
    )


def merge_segments(
    spark: SparkSession,
    path: str,
    segments: list[str],
    merged: str | None = None,
) -> str:
    """Tiered merge (Lucene's merge policy for this layout): collapse a
    set of SMALL segments into one without touching the rest of the
    index — compaction cost follows the merged batches, not the
    corpus.  Two manifest flips bracket the data write:

    1. stage: the merged name goes on the manifest's ``pending`` list
       (readers exclude it), then the merged partitions are written
       with the usual dynamic overwrite;
    2. commit: one atomic flip moves the inputs to ``dead`` and clears
       ``pending`` — readers see either the inputs or the merged
       segment, never both, and a crash anywhere leaves the index
       answering exactly as before.

    Inputs must be live and tombstone-untangled (else use the full
    ``compact_inverted_index``).  Returns the merged segment name."""
    man = require_managed(path, "merge_segments")
    gpath = os.path.join(path, man["generation"])
    segments = sorted(set(segments))
    if len(segments) < 2:
        raise ValueError("merge_segments: need at least two segments")
    if merged is None:
        import hashlib

        digest = hashlib.md5("|".join(segments).encode()).hexdigest()[:12]
        merged = f"m-{digest}"
    gone = set(segments) & set(man["dead"] + man["pending"])
    if gone == set(segments) and merged not in man["dead"] + man["pending"]:
        return merged  # already committed: idempotent replay
    if gone:
        raise ValueError(f"merge_segments: {sorted(gone)} not live")
    require_untangled(
        spark, gpath, segments, "merge_segments", "compact_inverted_index"
    )
    # the lock brackets the stage→commit window so a concurrent/cron
    # gc cannot bulldoze the staged pending segment; a crash inside the
    # window leaves the lock for gc(force=True)
    acquire_merge_lock(path, "merge_segments")
    write_manifest(
        path, man["generation"], man["dead"], man["pending"] + [merged]
    )

    def inputs(store: str) -> DataFrame:
        return spark.read.parquet(f"{gpath}/{store}").where(
            F.col("segment").isin(segments)
        )

    _FAMILY.write(inputs("postings"), gpath, "postings", SEGMENT, merged)
    _FAMILY.write(
        inputs("terms")
        .groupBy("tok", "bucket")
        .agg(F.sum("df").alias("df"), F.max("max_tf").alias("max_tf")),
        gpath, "terms", SEGMENT, merged,
    )
    _FAMILY.write(
        inputs("stats").agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_dl").cast("long").alias("sum_dl"),
        ),
        gpath, "stats", SEGMENT, merged,
    )
    write_manifest(path, man["generation"], man["dead"] + segments, [])
    release_merge_lock(path)
    return merged


def gc_index(path: str, force: bool = False) -> list[str]:
    """Reclaim a managed index's unreferenced storage (generic
    segstore gc over postings/terms/stats): generation directories
    other than the current one, and the current generation's
    dead/pending segment partitions.  DESTRUCTIVE for readers still
    draining those files — run after the reader-drain window; refuses
    while a merge holds the in-flight marker unless ``force=True``
    (see segstore.gc_generations).  Returns the removed paths and
    commits a clean manifest."""
    return gc_generations(path, tuple(_FAMILY.stores), force=force)


def index_status(spark: SparkSession, path: str) -> DataFrame:
    """Per-segment introspection report — the index-side echo of the
    streaming monitor's sweep (SURVEY S12/S15: same
    observe-then-recommend shape, here over index segments instead of
    consumers): one row per segment with

      segment, state ('live' | 'dead' | 'pending'), kind ('ingest' |
      'delete'), n_docs (net; negative partials for delete batches),
      sum_dl, dead_docs (this segment's documents tombstoned by later
      delete batches)

    built from the stats partials, the tombstone partitions, and the
    manifest — all metadata-sized reads, never the postings."""
    gpath, _ = open_index(path)
    man = read_manifest(path)
    dead = set(man["dead"]) if man else set()
    pending = set(man["pending"]) if man else set()
    stats = _FAMILY.read(spark, gpath, "stats").groupBy("segment").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.sum("sum_dl").cast("long").alias("sum_dl"),
    )
    tomb = read_optional(spark, f"{gpath}/tombstones")
    if tomb is not None:
        per_target = tomb.groupBy(F.col("segment").alias("t_seg")).agg(
            F.count(F.lit(1)).cast("long").alias("dead_docs")
        )
        stats = stats.join(
            per_target, stats["segment"] == F.col("t_seg"), "left"
        ).drop("t_seg")
    else:
        stats = stats.withColumn("dead_docs", F.lit(None).cast("long"))
    state = (
        F.when(F.col("segment").isin(sorted(dead)), "dead")
        .when(F.col("segment").isin(sorted(pending)), "pending")
        .otherwise("live")
        if (dead or pending)
        else F.lit("live")
    )
    return stats.select(
        "segment",
        state.alias("state"),
        F.when(F.col("n_docs") < 0, "delete")
        .otherwise("ingest")
        .alias("kind"),
        "n_docs",
        "sum_dl",
        F.coalesce("dead_docs", F.lit(0)).alias("dead_docs"),
    )


def index_maintenance_advice(
    spark: SparkSession,
    path: str,
    small_frac: float = 0.05,
    dead_frac: float = 0.1,
) -> list[str]:
    """Rule ladder over ``index_status`` (the scaler's
    measure-then-decide shape, SURVEY S16–S18, applied to index
    health): recommends merge_segments for accumulations of small live
    ingest segments, compact_inverted_index when the tombstoned
    fraction passes ``dead_frac`` or delete batches pile up, and
    gc_index when dead/pending segments linger.  Returns
    human-readable recommendations (empty = healthy)."""
    rows = index_status(spark, path).collect()
    live = [r for r in rows if r.state == "live" and r.kind == "ingest"]
    total = sum(r.n_docs for r in live) or 1
    out: list[str] = []
    small = [r.segment for r in live if r.n_docs < small_frac * total]
    if len(small) >= 2:
        out.append(
            f"merge_segments: {len(small)} live segments each hold "
            f"<{small_frac:.0%} of the corpus ({sorted(small)})"
        )
    tombstoned = sum(r.dead_docs for r in live)
    if tombstoned > dead_frac * total:
        out.append(
            f"compact_inverted_index: {tombstoned}/{total} documents "
            f"tombstoned (>{dead_frac:.0%})"
        )
    n_del = sum(1 for r in rows if r.kind == "delete" and r.state == "live")
    if n_del >= 5:
        out.append(
            f"compact_inverted_index: {n_del} delete batches accumulated"
        )
    n_gone = sum(1 for r in rows if r.state != "live")
    if n_gone:
        out.append(f"gc_index: {n_gone} dead/pending segments reclaimable")
    return out


# ----------------------------------------------------------------- query


def _query_frames(
    spark: SparkSession, gpath: str, terms: set[str], dead: list[str]
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Bucket-pruned, tombstone-filtered, dead-segment-excluded
    (postings, term-partials, stats) for a query's term set — the
    shared read path."""
    buckets = sorted({h32_py(t) % _layout_buckets(gpath) for t in terms})
    tomb = _FAMILY.tombstones(spark, gpath)
    postings = _FAMILY.live(
        drop_dead(
            _FAMILY.read(spark, gpath, "postings"), dead
        ).where(F.col("bucket").isin(buckets)),
        tomb,
    )
    tpart = drop_dead(_FAMILY.read(spark, gpath, "terms"), dead).where(
        F.col("bucket").isin(buckets)
    )
    stats = _stats_totals(spark, gpath, dead).select(
        "n", (F.col("sdl") * 1.0 / F.col("n")).alias("avgdl")
    )
    return postings, tpart, stats


def _stats_totals(
    spark: SparkSession, gpath: str, dead: list[str]
) -> DataFrame:
    """One-row (n, sdl) corpus totals over the live stats partials."""
    return (
        drop_dead(_FAMILY.read(spark, gpath, "stats"), dead)
        .agg(F.sum("n").cast("long").alias("n"), F.sum("sum_dl").alias("sdl"))
    )


def _term_meta(
    spark: SparkSession,
    gpath: str,
    dead: list[str],
    tpart: DataFrame,
    all_terms: set[str],
) -> tuple[dict[str, tuple[int, int]], int, float]:
    """Everything the MaxScore/router driver math needs in ONE driver
    round-trip: per-term (df, max_tf) over the query's terms AND the
    corpus (n, avgdl) totals, fetched as one collect by cross-joining
    the one-row stats aggregate onto the |query-terms|-row terms
    aggregate (previously two separately scheduled jobs —
    OPTIMIZATION_r13.md §bm25 router).  Returns (meta, n_docs, avgdl,
    sdl) — sdl (the raw live sum of document lengths) rides along so a
    scorer handed this metadata can re-emit the exact one-row stats
    frame as a LocalRelation instead of re-aggregating the store
    (r14; the avgdl division then happens in the SAME Spark expression
    as the frame path, bit-identical).  When no query term exists in
    the index the joined frame is empty and ``({}, 0, 1.0, 0)`` comes
    back; with an empty meta both callers route every query to the
    exact path, where the matched frame is empty and the placeholder
    totals cannot leak into results."""
    rows = (
        tpart.where(F.col("tok").isin(sorted(all_terms)))
        .groupBy("tok")
        .agg(F.sum("df").alias("df"), F.max("max_tf").alias("mtf"))
        .crossJoin(_stats_totals(spark, gpath, dead))
        .collect()
    )
    if not rows:
        return {}, 0, 1.0, 0
    n_docs = rows[0]["n"] or 0
    sdl = rows[0]["sdl"] or 0
    avgdl = sdl * 1.0 / n_docs if n_docs else 1.0
    meta = {r["tok"]: (r["df"], r["mtf"]) for r in rows if r["df"] > 0}
    return meta, n_docs, avgdl, sdl


def _meta_frames(
    spark: SparkSession,
    meta: dict[str, tuple[int, int]],
    n_docs: int,
    sdl: int,
) -> tuple[DataFrame, DataFrame]:
    """Re-emit already-collected router metadata as the (dfreq, stats)
    LocalRelations ``_score_topk`` consumes (r14, the §12
    LocalRelation discipline): the routed scorers used to re-aggregate
    the store's terms/stats partials in-plan even though the router
    had collected the identical values one call earlier — two extra
    bucket scans + aggregations per routed call.  ``dfreq`` carries
    exactly the df>0 terms (a net-df<=0 term is fully tombstoned, so
    the live matched frame has no rows for it and the inner join drops
    nothing either way); ``stats`` applies the same ``sdl*1.0/n``
    Spark expression as ``_stats_totals`` consumers, so the avgdl
    double is bit-identical to the frame path.  An empty corpus total
    (no query term in the index, or every document deleted) goes in as
    a NULL ``n``: nothing is matched then, and a literal 0 would make
    the folded division raise DIVIDE_BY_ZERO under ANSI mode."""
    dfreq = spark.createDataFrame(
        [(t, int(d)) for t, (d, _m) in sorted(meta.items())],
        "df_tok STRING, df BIGINT",
    )
    stats = spark.createDataFrame(
        [(int(n_docs) or None, int(sdl))], "n BIGINT, sdl BIGINT"
    ).select("n", (F.col("sdl") * 1.0 / F.col("n")).alias("avgdl"))
    return dfreq, stats


def _score_topk(
    matched: DataFrame, dfreq: DataFrame, stats: DataFrame, k: int
) -> DataFrame:
    """Exact BM25 scoring + per-query top-k over matched postings —
    shared verbatim by the exact and MaxScore paths so the pruned
    variant is arithmetically identical where it scores."""
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    term_score = idf * (F.col("tf") * (_K1 + 1.0)) / (
        F.col("tf") + _K1 * ((1.0 - _B) + _B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        matched.join(F.broadcast(dfreq), matched["tok"] == F.col("df_tok"))
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(rnd(F.sum(term_score), 6).alias("bm25"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("bm25"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "bm25")
    )


def bm25_topk_indexed(
    spark: SparkSession,
    path: str,
    queries: dict[int, tuple[str, ...]],
    k: int = 10,
    _meta: tuple[dict[str, tuple[int, int]], int, float, int] | None = None,
) -> DataFrame:
    """Okapi BM25 top-k per query against a persisted index — identical
    arithmetic (and oracle) to the from-scratch ``text_bm25_topk``.

    ``queries`` maps query_id → term tuple; only the terms' buckets are
    read (driver-side ``h32_py``, matching the build's ``h32``).  With
    ``_meta`` (the router's collected ``_term_meta``) the df/stats
    side frames are re-emitted as LocalRelations instead of
    re-aggregated from the store (see ``_meta_frames``)."""
    gpath, dead = open_index(path)
    pairs = [(qid, t) for qid, terms in queries.items() for t in terms]
    qterms = F.broadcast(
        spark.createDataFrame(pairs, "query_id INT, term STRING")
    )
    postings, tpart, stats = _query_frames(
        spark, gpath, {t for _, t in pairs}, dead
    )
    matched = postings.join(qterms, postings["tok"] == qterms["term"])
    if _meta is not None:
        meta, n_docs, _avgdl, sdl = _meta
        dfreq, stats = _meta_frames(spark, meta, n_docs, sdl)
        return _score_topk(matched, dfreq, stats, k)
    # merge the append-only segment partials at read time: per-term df
    # over the probed buckets (delete batches contribute negative
    # rows), (n, avgdl) over the stats partials — both bounded frames
    # regardless of segment count
    dfreq = (
        tpart.join(
            qterms.select("term").distinct(), tpart["tok"] == F.col("term")
        )
        .groupBy("tok")
        .agg(F.sum("df").alias("df"))
        .select(F.col("tok").alias("df_tok"), "df")
    )
    return _score_topk(matched, dfreq, stats, k)


def bm25_topk_maxscore(
    spark: SparkSession,
    path: str,
    queries: dict[int, tuple[str, ...]],
    k: int = 10,
    margin: float = 2e-6,
    return_plan: bool = False,
    _meta: tuple[dict[str, tuple[int, int]], int, float, int] | None = None,
):
    """BM25 top-k with static MaxScore pruning (Turtle & Flood 1995) —
    value-identical to ``bm25_topk_indexed`` (same oracle) while
    scoring only a fraction of the matched postings when the query
    mixes rare and common terms.

    Build-time ingredient: ``terms/`` stores each segment's per-term
    ``max_tf``.  Query-time, per term, an avgdl-free UPPER BOUND on
    any document's contribution is

        ub(t) = idf(t) · (k1+1) · mtf / (mtf + k1·(1−b))

    (the true contribution idf·(k1+1)·tf/(tf + k1·(1−b + b·dl/avgdl))
    is increasing in tf and bounded by the dl→0 limit, so mtf gives a
    sound bound whatever avgdl becomes as segments accrue).

    Plan (driver-side over |query-terms| metadata rows — the bounded
    collect adjudication of similarity.py's probes):

    1. Seed a threshold θ per query: the k-th best SINGLE-TERM score of
       the highest-ub term — a lower bound on the true k-th final
       score, since each of those k docs' full scores only grow.
    2. Non-essential terms: the maximal ascending-ub prefix whose ub
       sum stays below θ − margin.  A doc containing ONLY non-essential
       terms scores below θ − margin, so (with margin ≫ the 6-dp
       rounding step and float ulps) it can neither reach the k-th
       score nor tie it — top-k docs all touch an essential term.
    3. Candidates = docs in the essential terms' postings; exact
       scoring (shared ``_score_topk``) runs over ALL query terms but
       only for candidate docs (semi-join), so the common terms'
       postings shrink to the candidates' rows instead of scoring
       their full lists.

    With ``return_plan=True`` returns ``(df, plan)`` where plan maps
    query_id → {theta, essential, skipped} for tests and SCALE
    accounting."""
    gpath, dead = open_index(path)
    all_terms = {t for terms in queries.values() for t in terms}
    postings, tpart, _ = _query_frames(spark, gpath, all_terms, dead)
    # the MaxScore plan makes THREE passes over the bucket-pruned
    # postings (seed top-k, candidate harvest, final scoring); each
    # pass re-scans, but the explicit skinny projection keeps every
    # scan bucket-pruned AND column-pruned — BM25 never touches
    # ``positions``, the bulk of a positional index.  (A persist of
    # the working set was measured SLOWER at 100×: the cache write
    # costs more than two extra 4-column parquet scans — SCALE.md r11.)
    postings = postings.select("tok", "doc_id", "tf", "dl")
    # one metadata round-trip (terms agg × stats agg); the router
    # (``bm25_topk_auto``) collected the identical frame already and
    # hands it down via ``_meta`` so the routed call pays zero
    if _meta is not None:
        meta, n_docs, avgdl, sdl = _meta
    else:
        meta, n_docs, avgdl, sdl = _term_meta(
            spark, gpath, dead, tpart, all_terms
        )
    import math

    def _idf(df_t: int) -> float:
        return math.log((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)

    ub = {
        t: _idf(d) * (_K1 + 1.0) * m / (m + _K1 * (1.0 - _B))
        for t, (d, m) in meta.items()
    }
    # 1. seed thresholds: one job scoring each query's top-ub term alone
    seed_terms = {
        qid: max((t for t in terms if t in ub), key=ub.get, default=None)
        for qid, terms in queries.items()
    }
    seed_pairs = [(q, t) for q, t in seed_terms.items() if t is not None]
    theta: dict[int, float] = {}
    if seed_pairs and n_docs:
        # idf rides on the seed frame itself (driver-computed, same
        # ``_idf`` doubles the old 2-row idf_lit join carried) — one
        # broadcast join instead of two (r14)
        sframe = F.broadcast(
            spark.createDataFrame(
                [(q, t, _idf(meta[t][0])) for q, t in seed_pairs],
                "query_id INT, term STRING, idf DOUBLE",
            )
        )
        single = (
            postings.join(sframe, postings["tok"] == F.col("term"))
            .withColumn(
                "s1",
                F.col("idf")
                * (F.col("tf") * (_K1 + 1.0))
                / (
                    F.col("tf")
                    + _K1 * ((1.0 - _B) + _B * F.col("dl") / F.lit(avgdl))
                ),
            )
        )
        wq = W.partitionBy("query_id").orderBy(F.desc("s1"))
        kth = (
            single.withColumn("r", F.row_number().over(wq))
            .where(F.col("r") == k)
            .select("query_id", "s1")
            .collect()
        )
        theta = {r["query_id"]: r["s1"] for r in kth}
    # 2. split essential / skippable per query
    plan: dict[int, dict] = {}
    ess_pairs: list[tuple[int, str]] = []
    for qid, terms in queries.items():
        present = [t for t in terms if t in ub]
        th = theta.get(qid)
        skipped: list[str] = []
        if th is not None:
            acc = 0.0
            for t in sorted(present, key=ub.get):
                if acc + ub[t] < th - margin:
                    acc += ub[t]
                    skipped.append(t)
                else:
                    break
        essential = [t for t in present if t not in skipped]
        plan[qid] = {"theta": th, "essential": essential, "skipped": skipped}
        ess_pairs.extend((qid, t) for t in essential)
    pruned_qids = [q for q, p in plan.items() if p["skipped"]]
    if not pruned_qids:
        out = bm25_topk_indexed(
            spark, path, queries, k=k, _meta=(meta, n_docs, avgdl, sdl)
        )
        return (out, plan) if return_plan else out
    # 3. candidates from essential postings, for the PRUNED queries
    # only — a query whose terms are all essential gains nothing from
    # the candidate restriction, so it scores straight (otherwise its
    # candidate set is every matched doc and the semi-join is pure
    # overhead).  Pruned queries' candidates are bounded by their
    # essential terms' document frequencies — rare by construction
    # (that's what made their bounds dominate) — so the semi-join
    # broadcasts instead of shuffling the common terms' postings.
    eframe = F.broadcast(
        spark.createDataFrame(
            [(q, t) for q, t in ess_pairs if q in pruned_qids],
            "query_id INT, term STRING",
        )
    )
    cand = (
        postings.join(eframe, postings["tok"] == F.col("term"))
        .select("query_id", "doc_id")
        .distinct()
    )
    qpairs = [(qid, t) for qid, terms in queries.items() for t in terms]
    qterms = F.broadcast(
        spark.createDataFrame(qpairs, "query_id INT, term STRING")
    )
    all_matched = postings.join(qterms, postings["tok"] == qterms["term"])
    matched = all_matched.where(
        F.col("query_id").isin(pruned_qids)
    ).join(F.broadcast(cand), ["query_id", "doc_id"], "semi")
    if len(pruned_qids) < len(queries):
        matched = matched.unionByName(
            all_matched.where(~F.col("query_id").isin(pruned_qids))
        )
    # the router/metadata collect above already holds every df and the
    # corpus totals — re-emit them as LocalRelations instead of
    # re-aggregating the store's terms/stats partials (r14)
    dfreq, stats = _meta_frames(spark, meta, n_docs, sdl)
    out = _score_topk(matched, dfreq, stats, k)
    return (out, plan) if return_plan else out


def bm25_topk_auto(
    spark: SparkSession,
    path: str,
    queries: dict[int, tuple[str, ...]],
    k: int = 10,
    postings_threshold: int = 100_000_000,
    cut_ratio: float = 0.5,
    return_plan: bool = False,
):
    """Cost-based PER-QUERY routing between exact scoring
    (``bm25_topk_indexed``) and MaxScore pruning
    (``bm25_topk_maxscore``) — both value-identical, so routing is
    purely a physical choice (r11 verdict ask #3).

    SCALE.md locates the crossover: MaxScore pays ~4 extra driver
    round-trips (metadata collects, seed top-k, candidate pass), which
    dominate until the scoring shuffle itself is the bottleneck —
    stopword-class posting lists of ~10⁸ rows.  The router reads the
    bounded ``terms/`` df metadata ONCE (the same |query-terms|-row
    collect MaxScore itself pays) and routes each query by the two
    numbers that crossover is made of:

    - ``matched``   = Σ df(t) over the query's terms — the postings the
      exact path scores;
    - ``essential`` = Σ df(t) over the terms a MaxScore plan could NOT
      skip, estimated statically with the optimistic threshold proxy
      θ ≈ max-ub (θ never exceeds the best term's single-doc bound, so
      the estimated skip set is a superset of the real one — an
      OPTIMISTIC candidate bound, fine for routing because both routes
      return identical values).

    A query routes to MaxScore iff something is skippable AND
    ``matched ≥ postings_threshold`` (default: the measured 10⁸
    crossover) AND ``essential ≤ cut_ratio · matched`` (the pruning
    must actually pay for the round-trips).  With ``return_plan=True``
    returns ``(df, plan)`` where plan maps query_id →
    {route, matched, essential, skippable} for tests/accounting."""
    import math

    gpath, dead = open_index(path)
    all_terms = {t for terms in queries.values() for t in terms}
    _, tpart, _ = _query_frames(spark, gpath, all_terms, dead)
    meta, n_docs, avgdl, sdl = _term_meta(
        spark, gpath, dead, tpart, all_terms
    )
    ub = {
        t: math.log((n_docs - d + 0.5) / (d + 0.5) + 1.0)
        * (_K1 + 1.0)
        * m
        / (m + _K1 * (1.0 - _B))
        for t, (d, m) in meta.items()
    }
    plan: dict[int, dict] = {}
    route: dict[int, str] = {}
    for qid, terms in queries.items():
        present = [t for t in terms if t in ub]
        matched = sum(meta[t][0] for t in present)
        skipped: list[str] = []
        if present:
            theta_proxy = max(ub[t] for t in present)
            acc = 0.0
            for t in sorted(present, key=ub.get):
                if acc + ub[t] < theta_proxy:
                    acc += ub[t]
                    skipped.append(t)
                else:
                    break
        essential = sum(meta[t][0] for t in present if t not in skipped)
        use_ms = (
            bool(skipped)
            and matched >= postings_threshold
            and essential <= cut_ratio * matched
        )
        route[qid] = "maxscore" if use_ms else "exact"
        plan[qid] = {
            "route": route[qid],
            "matched": matched,
            "essential": essential,
            "skippable": list(skipped),
        }
    ex = {q: t for q, t in queries.items() if route[q] == "exact"}
    ms = {q: t for q, t in queries.items() if route[q] == "maxscore"}
    parts = []
    if ex:
        parts.append(
            bm25_topk_indexed(
                spark, path, ex, k=k, _meta=(meta, n_docs, avgdl, sdl)
            )
        )
    if ms:
        parts.append(
            bm25_topk_maxscore(
                spark, path, ms, k=k, _meta=(meta, n_docs, avgdl, sdl)
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (out, plan) if return_plan else out


def phrase_match_indexed(
    spark: SparkSession,
    path: str,
    phrases: dict[int, tuple[str, ...]],
) -> DataFrame:
    """Exact n-word phrase matching against the persisted positional
    index (bigrams through arbitrary-length phrases — r10 verdict ask
    #2 generalized the original two-word shape): read only the phrase
    terms' buckets, collect each matched term's position list per
    document, and fold a chained IN-ROW array intersect

        starts = ∩_i (positions(term_i) − i)

    so a surviving entry is a phrase START position — no positional
    explode, no corpus-sized join, and repeated terms inside a phrase
    (e.g. "batch batch batch") fall out naturally because each phrase
    slot intersects its own shifted copy of the shared posting row.
    Returns (phrase_id, doc_id, n_occurrences), the same frame as the
    from-scratch ``text_phrase_ngram``."""
    gpath, dead = open_index(path)
    rows = [
        (pid, i, t, len(terms))
        for pid, terms in phrases.items()
        for i, t in enumerate(terms)
    ]
    postings, _, _ = _query_frames(
        spark, gpath, {t for _, _, t, _ in rows}, dead
    )
    pf = F.broadcast(
        spark.createDataFrame(
            rows, "phrase_id INT, idx INT, term STRING, plen INT"
        )
    )
    matched = postings.join(pf, postings["tok"] == pf["term"]).select(
        "phrase_id", "doc_id", "idx", "positions", "plen"
    )
    per_doc = (
        matched.groupBy("phrase_id", "doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("idx", "positions"))
            ).alias("pl"),
            F.first("plen").alias("plen"),
        )
        # every phrase slot must have matched (distinct idx per row)
        .where(F.size("pl") == F.col("plen"))
    )
    first = F.col("pl").getItem(0)
    starts = F.aggregate(
        F.slice(F.col("pl"), 2, F.size("pl") - 1),
        F.transform(
            first.getField("positions"),
            lambda p: p - first.getField("idx").cast("long"),
        ),
        lambda acc, x: F.array_intersect(
            acc,
            F.transform(
                x.getField("positions"),
                lambda p: p - x.getField("idx").cast("long"),
            ),
        ),
    )
    return (
        per_doc.select(
            "phrase_id",
            "doc_id",
            F.size(starts).cast("long").alias("n_occurrences"),
        )
        .where(F.col("n_occurrences") > 0)
    )
