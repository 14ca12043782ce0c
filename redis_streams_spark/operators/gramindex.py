"""Persisted n-gram frequency index — INCREMENTAL substring dedup
(the fourth index family on ``operators/segstore.py``'s commit-point
discipline, after lexical, dedup-signature, and vector).

``duplicated_spans`` (operators/dedup.py — Lee et al. 2021's
exact-substring pass in n-gram-fingerprint form) is whole-corpus: each
call re-fingerprints everything to count gram occurrences.  The
production shape is incremental — a corpus accumulates, each ingest
batch must learn which of ITS spans duplicate text seen anywhere
before (or twice within the batch).  This index stores the corpus's
gram COUNTS: (g, cnt) rows per segment, bucket-partitioned by
``g % 64``.

The exactness device is the same associative-partial trick as the
vector index's centroid sums: counts merge by ADDITION at read time,
so one batch = one count-partial segment, at-least-once replay is a
batch-keyed dynamic partition overwrite, DELETES write NEGATIVE count
partials (no tombstones at all), and compaction nets everything into
one base segment — after any sequence of update/delete the merged
counts equal a from-scratch recount of the live corpus (driver-graded
against a DuckDB oracle that replays exactly that).

Probe semantics (``probe_gram_spans``): a batch gram is duplicated
when ``store_count + within_batch_count ≥ min_count`` — history-vs-
batch AND batch-internal repeats both covered, matching the greedy
temporal reading of corpus-level substring dedup (history text is
already ingested; only the new batch's spans are reported).  The scan
of the corpus-sized count store is an equi-join on the 8-byte
fingerprint against the batch's grams — signature bytes, never text.

Drop discipline: a delete batch's negative counts reference grams
ingested by OTHER segments, so ``drop_gram_segment`` refuses to drop
ANY segment while a delete segment exists (net counts would go wrong
in both directions) and routes the caller to compaction — the
conservative form of the vector index's entanglement rule.

Reference basis: none (SURVEY §2.2 extension surface); Lee et al.
2021 for the dedup semantics, Lucene commit points for the lifecycle.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redis_streams_spark.operators.dedup import (
    positioned_ngrams,
    spans_from_hits,
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
    is_delete_batch,
    open_index,
    persist_verdicts,
    read_optional,
    refuse_dead,
)

__all__ = [
    "build_gram_index",
    "update_gram_index",
    "delete_from_gram_index",
    "probe_gram_spans",
    "ingest_gram_batch",
    "compact_gram_index",
    "drop_gram_segment",
    "gc_gram_index",
    "gram_index_status",
]

N_BUCKETS = 64
_META_FILE = "INDEXMETA"
# deletes write NEGATIVE count partials — no tombstones, no row ids
_FAMILY = Family(
    stores={
        "grams": Store(
            "g BIGINT, cnt BIGINT, bucket INT, segment STRING", key="bucket"
        )
    }
)


def _write_meta(path: str, n: int) -> None:
    with open(os.path.join(path, _META_FILE), "w") as f:
        json.dump({"kind": "gram", "n": n, "buckets": N_BUCKETS}, f)


def read_gram_meta(path: str) -> dict:
    with open(os.path.join(path, _META_FILE)) as f:
        return json.load(f)


def _gram_counts(docs: DataFrame, n: int, negate: bool = False) -> DataFrame:
    """(g, cnt, bucket): one batch's gram-count partial.  ``negate``
    flips the signs — delete batches subtract the removed docs' gram
    occurrences (the caller passes the SAME text that was ingested)."""
    sign = -1 if negate else 1
    return (
        positioned_ngrams(docs, n)
        .groupBy("g")
        .agg((F.lit(sign) * F.count(F.lit(1))).cast("long").alias("cnt"))
        .withColumn("bucket", F.pmod("g", F.lit(N_BUCKETS)).cast("int"))
    )


def _write_segment(
    docs: DataFrame,
    gpath: str,
    write: str,
    segment: str,
    n: int,
    negate: bool = False,
) -> None:
    _FAMILY.write(
        _gram_counts(docs, n, negate=negate), gpath, "grams", write, segment
    )


def build_gram_index(
    docs: DataFrame, path: str, n: int = 8, managed: bool = False
) -> str:
    """Write the gram-count layout for a ``documents``-shaped frame
    (doc_id, text) as segment ``base``; returns the generation path.
    ``managed=True`` creates the MANIFEST-committed multi-generation
    root."""

    def write(gpath: str) -> None:
        _write_segment(docs, gpath, TREE, "base", n)
        _write_meta(path, n)

    return build_generation(path, managed, write)


def update_gram_index(
    docs_new: DataFrame, path: str, segment: str | None = None
) -> None:
    """Append one ingest batch's gram-count partial as its own segment.
    Deterministic names make the write a replay-safe dynamic partition
    overwrite; merged counts immediately include the batch."""
    n = read_gram_meta(path)["n"]
    _FAMILY.ingest(
        docs_new,
        path,
        segment,
        "update_gram_index",
        lambda gpath, seg, write: _write_segment(
            docs_new, gpath, write, seg, n
        ),
    )


def delete_from_gram_index(
    spark: SparkSession,
    path: str,
    docs_removed: DataFrame,
    segment: str | None = None,
) -> None:
    """Remove documents' gram mass by appending a NEGATIVE count
    partial — no segment is read or rewritten, and the merged counts
    immediately equal a recount without the removed docs.  The caller
    passes the removed docs WITH the text that was ingested (the index
    stores counts, not per-doc rows — the negation must re-fingerprint
    the same content)."""
    gpath, dead = open_index(path)
    n = read_gram_meta(path)["n"]
    seg = segment if segment is not None else "del-" + uuid.uuid4().hex[:12]
    if not is_delete_batch(seg):
        # the reserved namespace is the entanglement detector's ONLY
        # signal (drop_gram_segment classifies delete segments by
        # name) — a negative partial outside it would let a later
        # drop silently skew net counts in both directions, so the
        # reservation is enforced at write time, mirroring
        # check_segment_name's mirror-image guard on ingest names
        raise ValueError(
            f"delete_from_gram_index: segment name {seg!r} must be in "
            "the reserved delete-batch namespace ('del-*' or '*.del') "
            "so entanglement checks can classify it"
        )
    refuse_dead(seg, dead, "delete_from_gram_index")
    _FAMILY.rewrite_segment(
        gpath,
        seg,
        lambda gpath, seg, write: _write_segment(
            docs_removed, gpath, write, seg, n, negate=True
        ),
    )


def _live_counts(
    spark: SparkSession, gpath: str, dead: list[str],
    exclude_segment: str | None = None,
) -> DataFrame:
    g = drop_dead(_FAMILY.read(spark, gpath, "grams"), dead)
    if exclude_segment is not None:
        g = g.where(F.col("segment") != exclude_segment)
    return g


def probe_gram_spans(
    batch: DataFrame,
    path: str,
    min_count: int = 2,
    exclude_segment: str | None = None,
) -> DataFrame:
    """Duplicated-span verdicts for an INGEST BATCH against the indexed
    corpus: (doc_id, span_start, span_end, span_tokens) for every
    maximal span of the batch whose grams occur ≥ ``min_count`` times
    across history + the batch itself.  ``exclude_segment`` drops the
    batch's own previously-written segment from the history side —
    replay safety for at-least-once ingest loops (probe-then-append
    with a deterministic name; a redelivered batch excludes its own
    prior counts, so verdicts are identical on every delivery).

    Scale shape: the batch fingerprints once (batch-sized); the store
    side is an equi-join on the 8-byte gram key pruned by the join
    itself (parquet min/max + the 64-way bucket layout localize it);
    the island merge shuffles (doc_id, pos) pairs."""
    spark = batch.sparkSession
    gpath, dead = open_index(path)
    n = read_gram_meta(path)["n"]
    bg = positioned_ngrams(batch, n)
    batch_cnt = bg.groupBy("g").agg(F.count(F.lit(1)).alias("bcnt"))
    hist = (
        _live_counts(spark, gpath, dead, exclude_segment)
        .join(batch_cnt.select("g"), "g", "left_semi")
        .groupBy("g")
        .agg(F.sum("cnt").alias("hcnt"))
    )
    dup = (
        batch_cnt.join(hist, "g", "left")
        .where(
            F.col("bcnt") + F.coalesce(F.col("hcnt"), F.lit(0))
            >= min_count
        )
        .select("g")
    )
    hits = bg.join(dup, "g", "left_semi").select("doc_id", "pos")
    return spans_from_hits(hits, n)


def ingest_gram_batch(
    batch: DataFrame,
    path: str,
    segment: str,
    min_count: int = 2,
    verdicts_path: str | None = None,
) -> DataFrame:
    """The online loop: probe the batch (excluding its own segment —
    replay-safe), persist the span verdicts DURABLY, append the
    batch's counts under the deterministic segment name, and return
    the verdicts read back from disk.  Running it twice for the same
    (batch, segment) yields identical spans and identical index state
    (the overwrite replaces, the probe excluded the prior write).

    The verdicts are written to parquet (``verdicts_path``, default
    ``<path>/_verdicts``) partitioned by segment — a replay-safe
    dynamic partition overwrite, same pattern as
    ``dedup_ingest_batch`` (operators/dupindex.py) — then read back.
    Materializing them BEFORE the index append matters (a lazy frame
    evaluated afterwards would see the batch's own counts), and doing
    it via parquet rather than a driver collect keeps the hot ingest
    loop distributed: a heavily-duplicated large batch produces
    unbounded span rows, none of which ever transit the driver."""
    if verdicts_path is None:
        verdicts_path = os.path.join(path, "_verdicts")
    spans = probe_gram_spans(
        batch, path, min_count=min_count, exclude_segment=segment
    )
    stored = persist_verdicts(spans, verdicts_path, segment, one_file=False)
    update_gram_index(batch, path, segment=segment)
    return stored


def compact_gram_index(
    spark: SparkSession, src: str, dst: str | None = None
) -> str:
    """Net all live partials (negative delete mass summed away, zero
    rows dropped) into one ``base`` segment in the next generation;
    flip the MANIFEST last."""
    n = read_gram_meta(src)["n"]

    def write(gpath: str, dead: list[str], out: str) -> None:
        net = (
            _live_counts(spark, gpath, dead)
            .groupBy("g")
            .agg(F.sum("cnt").alias("cnt"))
            .where(F.col("cnt") != 0)
            .withColumn("bucket", F.pmod("g", F.lit(N_BUCKETS)).cast("int"))
        )
        _FAMILY.write(net, out, "grams", TREE, "base")
        _write_meta(src if dst is None else dst, n)

    return compact_generation(src, dst, "compact_gram_index", write)


def drop_gram_segment(spark: SparkSession, path: str, segment: str) -> None:
    """O(metadata) batch retention — refused while ANY delete segment
    is live: negative partials reference gram mass ingested by other
    segments, so dropping either side skews the net counts; compaction
    (which nets them) is the safe route.

    Idempotent for already-dropped segments (matching
    ``drop_vector_segment``'s contract): a retried retention job that
    partially applied converges instead of erroring."""

    def check(gpath: str) -> None:
        g = read_optional(spark, f"{gpath}/grams")
        if g is None:
            return
        _, dead = open_index(path)
        live_segs = {
            r["segment"]
            for r in drop_dead(g, dead).select("segment").distinct().collect()
        }
        if segment not in live_segs:
            raise ValueError(f"drop_gram_segment: no live segment {segment!r}")
        dels = {s for s in live_segs if is_delete_batch(s)}
        if dels:
            raise ValueError(
                "drop_gram_segment: delete segments "
                f"{sorted(dels)} are live — their negative counts "
                "entangle every segment; compact_gram_index first"
            )

    drop_segment_metadata(path, segment, "drop_gram_segment", check)


def gc_gram_index(path: str, force: bool = False) -> list[str]:
    """Delete dead generations'/segments' files (manifest flips leave
    them behind by design — readers drain first)."""
    return gc_generations(path, tuple(_FAMILY.stores), force=force)


def gram_index_status(spark: SparkSession, path: str) -> DataFrame:
    """One row per live segment: row count and net gram mass —
    bounded (n_segments rows)."""
    gpath, dead = open_index(path)
    g = _live_counts(spark, gpath, dead)
    return (
        g.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cnt").alias("net_gram_mass"),
        )
        .orderBy("segment")
    )
