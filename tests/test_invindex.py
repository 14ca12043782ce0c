"""Persisted inverted index (operators/invindex.py): value-identity
with the from-scratch BM25 scorer, and the partition-pruning contract —
a query's scan must touch only its terms' buckets."""

from __future__ import annotations

from pyspark.sql import functions as F

from redis_streams_spark.functions.hashing import h32_py
from redis_streams_spark.operators.invindex import (
    N_TERM_BUCKETS,
    bm25_topk_indexed,
    build_inverted_index,
    update_inverted_index,
)

_QUERIES = {0: ("spark", "stream", "window"), 1: ("hash", "join", "merge")}


def _build(spark, tmp_path):
    from redis_streams_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "idx")
    build_inverted_index(docs, path)
    return docs, path


def test_indexed_bm25_matches_from_scratch(spark, tmp_path):
    from redis_streams_spark.queries import all_queries

    docs, path = _build(spark, tmp_path)
    got = {
        (r.query_id, r.rank): (r.doc_id, r.bm25)
        for r in bm25_topk_indexed(spark, path, _QUERIES, k=10).collect()
    }
    # from-scratch scorer over the same corpus, restricted to the same
    # two queries (the registered query uses all three)
    full = all_queries()["text_bm25_topk"].fn(
        spark, "/root/testdata/sf0.001"
    )
    want = {
        (r.query_id, r.rank): (r.doc_id, r.bm25)
        for r in full.where(F.col("query_id").isin(0, 1)).collect()
    }
    assert got == want
    assert len({q for q, _ in got}) == 2


def test_query_scan_prunes_to_query_buckets(spark, tmp_path):
    """The bucket IN-filter must reach the postings scan as a partition
    filter: the executed plan reads only the query terms' buckets, so
    scan cost follows the query, not the corpus."""
    _, path = _build(spark, tmp_path)
    df = bm25_topk_indexed(spark, path, _QUERIES, k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    # probe buckets against the store's pinned layout (r14: the bucket
    # count is scale-derived at build time and recorded in LAYOUT)
    from redis_streams_spark.operators.invindex import _layout_buckets

    n_buckets = _layout_buckets(path)
    want_buckets = {
        h32_py(t) % n_buckets for ts in _QUERIES.values() for t in ts
    }
    # the pruned postings read surfaces exactly the probed buckets
    read = spark.read.parquet(f"{path}/postings").where(
        F.col("bucket").isin(sorted(want_buckets))
    )
    seen = {r.bucket for r in read.select("bucket").distinct().collect()}
    assert seen <= want_buckets
    # and pruning is real: unprobed buckets exist in the full index
    all_b = {
        r.bucket
        for r in spark.read.parquet(f"{path}/postings")
        .select("bucket")
        .distinct()
        .collect()
    }
    assert len(all_b) > len(want_buckets)


def test_build_layout_and_denormalized_dl(spark, tmp_path):
    """Postings carry (tok, doc_id, tf, dl): dl matches the document's
    token count, so scoring needs no corpus-sized join; terms/ carries
    per-term df consistent with the postings."""
    docs, path = _build(spark, tmp_path)
    postings = spark.read.parquet(f"{path}/postings")
    assert set(postings.columns) == {"tok", "doc_id", "tf", "dl", "positions", "bucket", "segment"}
    terms = spark.read.parquet(f"{path}/terms")
    df_from_postings = {
        (r.tok): r.n
        for r in postings.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in terms.collect():
        assert df_from_postings[r.tok] == r.df
    stats = spark.read.parquet(f"{path}/stats").collect()
    assert len(stats) == 1 and stats[0].n == docs.count()


def test_incremental_update_matches_full_rebuild(spark, tmp_path):
    """Segment-style maintenance: build on half the corpus, append the
    other half with update_inverted_index, and require query results
    IDENTICAL to a from-scratch build over the full corpus — the
    read-time partial merge (df sums, avgdl from stats partials) must be
    value-exact."""
    from redis_streams_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    inc_path, full_path = str(tmp_path / "inc"), str(tmp_path / "full")
    build_inverted_index(docs.where(F.col("doc_id") % 2 == 0), inc_path)
    update_inverted_index(docs.where(F.col("doc_id") % 2 == 1), inc_path)
    build_inverted_index(docs, full_path)

    def result(path):
        return {
            (r.query_id, r.rank): (r.doc_id, r.bm25)
            for r in bm25_topk_indexed(spark, path, _QUERIES, k=10).collect()
        }

    got, want = result(inc_path), result(full_path)
    assert got == want and len(want) == 20
    # two stats partials exist (one per segment) and merge to the corpus
    stats = spark.read.parquet(f"{inc_path}/stats")
    assert stats.count() == 2
    assert (
        stats.agg(F.sum("n")).first()[0]
        == spark.read.parquet(f"{full_path}/stats").agg(F.sum("n")).first()[0]
    )


def test_compaction_collapses_segments_and_preserves_results(spark, tmp_path):
    """Build + two segment updates, then compact to a new path: query
    results identical, terms collapse to one row per (term, bucket),
    stats to one row."""
    from redis_streams_spark.operators.invindex import compact_inverted_index
    from redis_streams_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    src, dst = str(tmp_path / "multi"), str(tmp_path / "compacted")
    build_inverted_index(docs.where(F.col("doc_id") % 3 == 0), src)
    update_inverted_index(docs.where(F.col("doc_id") % 3 == 1), src)
    update_inverted_index(docs.where(F.col("doc_id") % 3 == 2), src)
    assert spark.read.parquet(f"{src}/stats").count() == 3
    compact_inverted_index(spark, src, dst)

    def result(path):
        return {
            (r.query_id, r.rank): (r.doc_id, r.bm25)
            for r in bm25_topk_indexed(spark, path, _QUERIES, k=10).collect()
        }

    assert result(dst) == result(src)
    assert spark.read.parquet(f"{dst}/stats").count() == 1
    terms = spark.read.parquet(f"{dst}/terms")
    assert terms.count() == terms.select("tok").distinct().count()


def test_streaming_ingest_builds_queryable_index(spark, tmp_path):
    """The continuously-indexed-corpus shape: documents arrive on the
    stream log, each micro-batch appends a segment via
    update_inverted_index inside foreachBatch, and the resulting index
    answers BM25 queries identically to a batch build over the same
    documents — the reference's batch-collecting consumer surface
    feeding the engine's retrieval index end-to-end."""
    from redis_streams_spark.session import load_table
    from redis_streams_spark.sources.stream_log import StreamLog
    from redis_streams_spark.streaming import Producer
    from redis_streams_spark.streaming.bridge import open_stream
    from redis_streams_spark.streaming.windows import project

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").where(
        F.col("doc_id") < 200
    )
    rows = docs.select("doc_id", "text").collect()
    log = StreamLog(str(tmp_path), "docs")
    Producer(log, "docs").add_many(
        [{"doc_id": r.doc_id, "text": r.text} for r in rows]
    )

    idx_path = str(tmp_path / "stream_idx")

    def index_batch(batch_df, batch_id):
        # deterministic segment name = replay-safe: a re-delivered
        # micro-batch overwrites its own segment (at-least-once sink)
        update_inverted_index(
            batch_df.select("doc_id", "text"),
            idx_path,
            segment=f"b{batch_id}",
        )

    src = open_stream(spark, str(tmp_path), "docs", group="ix", batch_size=60)
    typed = project(src, {"doc_id": "long", "text": "string"}).select(
        "doc_id", "text"
    )
    q = (
        typed.writeStream.foreachBatch(index_batch)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # >= 2 micro-batch segments landed (200 docs / batch_size 60)
    assert spark.read.parquet(f"{idx_path}/stats").count() >= 2
    batch_path = str(tmp_path / "batch_idx")
    build_inverted_index(docs, batch_path)

    def result(path):
        return {
            (r.query_id, r.rank): (r.doc_id, r.bm25)
            for r in bm25_topk_indexed(spark, path, _QUERIES, k=10).collect()
        }

    assert result(idx_path) == result(batch_path)
    # replay a batch (at-least-once delivery): the deterministic segment
    # name makes the re-write idempotent — results must not change
    update_inverted_index(
        docs.where(F.col("doc_id") < 60).select("doc_id", "text"),
        idx_path,
        segment="b0",
    )
    assert result(idx_path) == result(batch_path)


# ------------------------------------------------------- r11: lifecycle


def _bm25(spark, path, queries=_QUERIES, k=10):
    return {
        (r.query_id, r.rank): (r.doc_id, r.bm25)
        for r in bm25_topk_indexed(spark, path, queries, k=k).collect()
    }


def test_delete_matches_rebuild_on_survivors(spark, tmp_path):
    """Tombstone delete (no postings rewrite) must answer exactly like
    a from-scratch rebuild over the surviving corpus: the anti-join
    drops the dead postings and the negative df/stats partials net
    their document-frequency and avgdl contributions out."""
    from redis_streams_spark.operators.invindex import (
        delete_from_inverted_index,
    )
    from redis_streams_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    full, ref = str(tmp_path / "full"), str(tmp_path / "ref")
    build_inverted_index(docs, full)
    dead = [r.doc_id for r in docs.where(F.col("doc_id") % 5 == 0).collect()]
    delete_from_inverted_index(spark, full, dead, segment="d1")
    build_inverted_index(docs.where(F.col("doc_id") % 5 != 0), ref)
    got, want = _bm25(spark, full), _bm25(spark, ref)
    assert got == want and len(want) == 20
    assert not any(doc in dead for (doc, _) in got.values())
    # replay the delete batch (at-least-once): dynamic overwrite of its
    # own tseg partitions keeps the corrections idempotent
    delete_from_inverted_index(spark, full, dead, segment="d1")
    assert _bm25(spark, full) == want


def test_replace_reingest_matches_full_rebuild(spark, tmp_path):
    """The dedup-refresh upsert: re-ingesting CHANGED documents with
    replace=True (tombstone old copy + new segment) must answer exactly
    like a rebuild over the refreshed corpus — the op the plain caller
    contract (one segment per doc_id) forbade."""
    from redis_streams_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    idx, ref = str(tmp_path / "idx"), str(tmp_path / "ref")
    build_inverted_index(docs, idx)
    changed = docs.where(F.col("doc_id") % 7 == 3).withColumn(
        "text", F.concat(F.col("text"), F.lit(" merge merge dup"))
    )
    update_inverted_index(changed, idx, segment="r1", replace=True)
    refreshed = docs.where(F.col("doc_id") % 7 != 3).unionByName(changed)
    build_inverted_index(refreshed, ref)
    got, want = _bm25(spark, idx), _bm25(spark, ref)
    assert got == want and len(want) == 20
    # replay the refresh batch: same segment name, same result
    update_inverted_index(changed, idx, segment="r1", replace=True)
    assert _bm25(spark, idx) == want
    # second refresh of the SAME doc_ids (doc lives in segment r1 now):
    # replace must chase the copy into its current segment
    changed2 = changed.withColumn(
        "text", F.concat(F.col("text"), F.lit(" window"))
    )
    update_inverted_index(changed2, idx, segment="r2", replace=True)
    ref2 = str(tmp_path / "ref2")
    build_inverted_index(
        docs.where(F.col("doc_id") % 7 != 3).unionByName(changed2), ref2
    )
    assert _bm25(spark, idx) == _bm25(spark, ref2)


def test_compact_drops_tombstoned_rows_physically(spark, tmp_path):
    """Compaction after deletes: dead postings rows vanish, net-zero
    vocabulary rows vanish, no tombstones are carried, and results are
    unchanged."""
    from redis_streams_spark.operators.invindex import (
        compact_inverted_index,
        delete_from_inverted_index,
    )
    from redis_streams_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    build_inverted_index(docs, src)
    dead = [r.doc_id for r in docs.where(F.col("doc_id") % 4 == 1).collect()]
    delete_from_inverted_index(spark, src, dead, segment="d1")
    want = _bm25(spark, src)
    compact_inverted_index(spark, src, dst)
    assert _bm25(spark, dst) == want
    import os

    assert not os.path.isdir(f"{dst}/tombstones")
    compacted = spark.read.parquet(f"{dst}/postings")
    assert compacted.where(F.col("doc_id").isin(dead[:50])).count() == 0
    # net document count: stats collapse to one exact row
    stats = spark.read.parquet(f"{dst}/stats").collect()
    assert len(stats) == 1
    assert stats[0].n == docs.count() - len(dead)
    terms = spark.read.parquet(f"{dst}/terms")
    assert terms.where(F.col("df") <= 0).count() == 0


def test_manifest_compact_while_querying(spark, tmp_path):
    """Managed index: compaction writes the next generation beside the
    live one and flips MANIFEST last — a DataFrame captured before the
    flip keeps reading the old generation's intact files, and the next
    call resolves the compacted one with identical values."""
    import os

    from redis_streams_spark.operators.invindex import (
        compact_inverted_index,
        delete_from_inverted_index,
        resolve_index_path,
    )
    from redis_streams_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    root = str(tmp_path / "managed")
    build_inverted_index(docs, root, managed=True)
    assert resolve_index_path(root).endswith("g00000001")
    update_inverted_index(
        docs.limit(0), root, segment="noop"
    )  # updates resolve through the manifest too
    delete_from_inverted_index(
        spark, root, [0, 1, 2, 3, 4, 5, 6, 7], segment="d1"
    )
    before = bm25_topk_indexed(spark, root, _QUERIES, k=10)  # lazy, old gen
    want = {
        (r.query_id, r.rank): (r.doc_id, r.bm25) for r in before.collect()
    }
    new_gen = compact_inverted_index(spark, root)  # no dst: pointer flip
    assert new_gen.endswith("g00000002")
    assert resolve_index_path(root) == new_gen
    import json

    with open(os.path.join(root, "MANIFEST"), encoding="utf-8") as fh:
        man = json.loads(fh.read())
    assert man == {"generation": "g00000002", "dead": [], "pending": []}
    # the pre-flip DataFrame still reads the old generation's files
    again = {
        (r.query_id, r.rank): (r.doc_id, r.bm25) for r in before.collect()
    }
    assert again == want
    # a fresh call resolves the compacted generation, value-identical
    assert _bm25(spark, root) == want
    # old generation still on disk for draining readers
    assert os.path.isdir(os.path.join(root, "g00000001"))


def test_ngram_phrase_handcrafted_counts(spark, tmp_path):
    """Arbitrary-length phrases with repeated terms and overlapping
    occurrences: known-by-hand counts through the positional index."""
    from redis_streams_spark.operators.invindex import phrase_match_indexed

    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),  # (a,b,a) starts at 1 and 3
            (2, "x a b a y"),  # one occurrence
            (3, "a b"),  # prefix only
            (4, "a a a a"),  # (a,a,a) starts at 1 and 2
        ],
        "doc_id BIGINT, text STRING",
    )
    path = str(tmp_path / "tiny")
    build_inverted_index(docs, path)
    got = {
        (r.phrase_id, r.doc_id): r.n_occurrences
        for r in phrase_match_indexed(
            spark, path, {0: ("a", "b", "a"), 1: ("a", "a", "a")}
        ).collect()
    }
    assert got == {(0, 1): 2, (0, 2): 1, (1, 4): 2}


def test_maxscore_equals_exact_and_prunes(spark, tmp_path):
    """MaxScore pruning is lossless AND real: with one rare high-idf
    term and one everywhere-term, the common term's posting list is
    skipped (it appears in the plan's skipped set) while the top-k is
    value-identical to exhaustive scoring."""
    from redis_streams_spark.operators.invindex import bm25_topk_maxscore

    rows = []
    for i in range(200):
        text = "common filler words " + ("rare special " if i % 13 == 0 else "") + "common tail"
        rows.append((i, text))
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    path = str(tmp_path / "ms")
    build_inverted_index(docs, path)
    queries = {0: ("rare", "common"), 1: ("common", "filler")}
    exact = _bm25(spark, path, queries, k=5)
    pruned_df, plan = bm25_topk_maxscore(
        spark, path, queries, k=5, return_plan=True
    )
    got = {
        (r.query_id, r.rank): (r.doc_id, r.bm25) for r in pruned_df.collect()
    }
    assert got == exact
    assert plan[0]["skipped"] == ["common"]  # rare term carries query 0
    assert plan[1]["skipped"] == []  # all-common query: no pruning
    # registry-grade identity on the real corpus too (rare+common mix)
    from redis_streams_spark.session import load_table

    corpus = load_table(spark, "/root/testdata/sf0.001", "documents")
    cpath = str(tmp_path / "corpus")
    build_inverted_index(corpus, cpath)
    q = {0: ("dup", "the", "a"), 1: ("spark", "stream", "window")}
    assert _bm25(spark, cpath, q) == {
        (r.query_id, r.rank): (r.doc_id, r.bm25)
        for r in bm25_topk_maxscore(spark, cpath, q, k=10).collect()
    }


def test_streaming_upsert_refresh_matches_rebuild(spark, tmp_path):
    """The dedup-refresh composition end-to-end: documents arrive on the
    stream log, batch 0 seeds the index, a LATER micro-batch re-delivers
    CHANGED copies of some of the same doc_ids and is applied with
    replace=True — the r09 caller contract forbade exactly this.  The
    final index must answer like a batch build over the final corpus
    (old copies tombstoned, df/avgdl netted), and replaying the upsert
    batch must be a no-op."""
    from redis_streams_spark.session import load_table
    from redis_streams_spark.sources.stream_log import StreamLog
    from redis_streams_spark.streaming import Producer
    from redis_streams_spark.streaming.bridge import open_stream
    from redis_streams_spark.streaming.windows import project

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").where(
        F.col("doc_id") < 120
    )
    base_rows = docs.collect()
    changed = {r.doc_id: r.text + " dup window" for r in base_rows[:40]}
    log = StreamLog(str(tmp_path), "docs")
    p = Producer(log, "docs")
    p.add_many(
        [{"doc_id": r.doc_id, "text": r.text} for r in base_rows]
    )
    p.add_many(
        [{"doc_id": d, "text": t} for d, t in changed.items()]
    )

    idx = str(tmp_path / "idx")

    def upsert_batch(batch_df, batch_id):
        update_inverted_index(
            batch_df.select("doc_id", "text"),
            idx,
            segment=f"b{batch_id}",
            replace=True,
        )

    src = open_stream(
        spark, str(tmp_path), "docs", group="up", batch_size=120
    )
    typed = project(src, {"doc_id": "long", "text": "string"}).select(
        "doc_id", "text"
    )
    q = (
        typed.writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    final = spark.createDataFrame(
        [
            (r.doc_id, changed.get(r.doc_id, r.text))
            for r in base_rows
        ],
        "doc_id BIGINT, text STRING",
    )
    ref = str(tmp_path / "ref")
    build_inverted_index(final, ref)
    got, want = _bm25(spark, idx), _bm25(spark, ref)
    assert got == want
    # replay the upsert micro-batch (at-least-once): idempotent
    upsert_batch(
        spark.createDataFrame(
            [(d, t) for d, t in changed.items()],
            "doc_id BIGINT, text STRING",
        ),
        1,
    )
    assert _bm25(spark, idx) == want


def test_drop_segment_matches_rebuild_without_batch(spark, tmp_path):
    """O(1) retention: dropping an ingest segment via the manifest must
    answer exactly like a rebuild over the remaining batches, cost one
    metadata write, and be idempotent; writing into a dead name is
    refused."""
    import pytest

    from redis_streams_spark.operators.invindex import drop_segment
    from redis_streams_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    old = docs.where(F.col("doc_id") % 3 == 0)
    keep = docs.where(F.col("doc_id") % 3 != 0)
    root, ref = str(tmp_path / "root"), str(tmp_path / "ref")
    build_inverted_index(old, root, managed=True)
    update_inverted_index(keep.where(F.col("doc_id") % 3 == 1), root, segment="b1")
    update_inverted_index(keep.where(F.col("doc_id") % 3 == 2), root, segment="b2")
    drop_segment(spark, root, "base")  # retention: oldest batch out
    drop_segment(spark, root, "base")  # idempotent
    build_inverted_index(keep, ref)
    assert _bm25(spark, root) == _bm25(spark, ref)
    # stats partials: the dropped batch's corpus contribution is gone
    from redis_streams_spark.operators.invindex import _stats_totals
    from redis_streams_spark.operators.segstore import (
        open_index as _open_index,
    )

    gpath, dead = _open_index(root)
    assert dead == ["base"]
    assert _stats_totals(spark, gpath, dead).first()["n"] == keep.count()
    with pytest.raises(ValueError, match="dead"):
        update_inverted_index(keep.limit(1), root, segment="base")


def test_drop_segment_refuses_tombstone_entangled(spark, tmp_path):
    import pytest

    from redis_streams_spark.operators.invindex import (
        delete_from_inverted_index,
        drop_segment,
    )
    from redis_streams_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    root = str(tmp_path / "root")
    build_inverted_index(docs, root, managed=True)
    delete_from_inverted_index(spark, root, [0, 1, 2], segment="d1")
    with pytest.raises(ValueError, match="compact"):
        drop_segment(spark, root, "base")  # targeted by d1's tombstones
    with pytest.raises(ValueError, match="compact"):
        drop_segment(spark, root, "d1")  # is itself a delete batch


def test_merge_segments_and_gc(spark, tmp_path):
    """Tiered merge: small segments collapse into one, results
    unchanged; untouched segments' files are not rewritten; gc removes
    the merged-away partitions and the swapped-out generation."""
    import os

    from redis_streams_spark.operators.segstore import (
        read_manifest as _read_manifest,
    )
    from redis_streams_spark.operators.invindex import (
        compact_inverted_index,
        gc_index,
        merge_segments,
        resolve_index_path,
    )
    from redis_streams_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    root = str(tmp_path / "root")
    build_inverted_index(docs.where(F.col("doc_id") % 4 == 0), root, managed=True)
    for i in (1, 2, 3):
        update_inverted_index(
            docs.where(F.col("doc_id") % 4 == i), root, segment=f"s{i}"
        )
    want = _bm25(spark, root)
    gpath = resolve_index_path(root)
    base_postings = os.path.join(gpath, "postings", "segment=base")
    before_files = sorted(os.listdir(base_postings))
    before_mtime = max(
        os.path.getmtime(os.path.join(base_postings, f)) for f in before_files
    )
    merged = merge_segments(spark, root, ["s1", "s2", "s3"])
    assert _bm25(spark, root) == want
    man = _read_manifest(root)
    assert sorted(man["dead"]) == ["s1", "s2", "s3"] and man["pending"] == []
    # the big base segment was not rewritten
    assert sorted(os.listdir(base_postings)) == before_files
    assert (
        max(
            os.path.getmtime(os.path.join(base_postings, f))
            for f in before_files
        )
        == before_mtime
    )
    # merge is replay-safe: deterministic name + dynamic overwrite
    assert merge_segments(spark, root, ["s1", "s2", "s3"]) == merged
    assert _bm25(spark, root) == want
    # live segments collapse to {base, merged}
    stats = spark.read.parquet(f"{gpath}/stats")
    live = {
        r.segment
        for r in stats.where(~F.col("segment").isin(["s1", "s2", "s3"]))
        .select("segment")
        .distinct()
        .collect()
    }
    assert live == {"base", merged}
    # full compact to a new generation, then gc reclaims everything
    compact_inverted_index(spark, root)
    removed = gc_index(root)
    assert _bm25(spark, root) == want
    assert any("g00000001" in p for p in removed)
    assert not os.path.isdir(os.path.join(gpath, "postings", "segment=s1"))
    man = _read_manifest(root)
    assert man["dead"] == [] and man["pending"] == []


def test_index_status_and_maintenance_advice(spark, tmp_path):
    """The introspection report sees segment states, kinds, and dead
    counts; the advice ladder recommends merge/compact/gc exactly when
    the rule thresholds trip."""
    from redis_streams_spark.operators.invindex import (
        delete_from_inverted_index,
        index_maintenance_advice,
        index_status,
        merge_segments,
    )
    from redis_streams_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    root = str(tmp_path / "root")
    build_inverted_index(docs.where(F.col("doc_id") >= 40), root, managed=True)
    update_inverted_index(docs.where(F.col("doc_id") < 20), root, segment="s1")
    update_inverted_index(
        docs.where((F.col("doc_id") >= 20) & (F.col("doc_id") < 40)),
        root,
        segment="s2",
    )
    advice = index_maintenance_advice(spark, root)
    assert any("merge_segments" in a and "s1" in a for a in advice)
    delete_from_inverted_index(
        spark, root, list(range(40, 120)), segment="d1"
    )
    st = {r.segment: r for r in index_status(spark, root).collect()}
    assert st["base"].kind == "ingest" and st["base"].dead_docs == 80
    assert st["d1"].kind == "delete" and st["d1"].n_docs == -80
    assert all(r.state == "live" for r in st.values())
    advice = index_maintenance_advice(spark, root)
    assert any("compact" in a and "80/" in a for a in advice)
    merge_segments(spark, root, ["s1", "s2"])
    st = {r.segment: r for r in index_status(spark, root).collect()}
    assert st["s1"].state == "dead" and st["s2"].state == "dead"
    assert any("gc_index" in a for a in index_maintenance_advice(spark, root))


def test_lifecycle_randomized_walk_matches_rebuild(spark, tmp_path):
    """Model-based check of the whole maintenance state machine: a
    seeded walk interleaves ingest / upsert / delete / drop / merge /
    compact+gc, and after EVERY op the index must answer BM25 exactly
    like a from-scratch build over the model corpus."""
    import random

    from redis_streams_spark.operators.invindex import (
        compact_inverted_index,
        delete_from_inverted_index,
        drop_segment,
        gc_index,
        merge_segments,
    )

    rng = random.Random(11)
    vocab = ["spark", "stream", "window", "hash", "join", "merge", "dup"]

    def text_for(i, salt):
        rng2 = random.Random(i * 1000 + salt)
        return " ".join(rng2.choices(vocab, k=rng2.randint(3, 12)))

    queries = {0: ("spark", "stream", "window"), 1: ("hash", "join", "merge")}
    root = str(tmp_path / "root")
    model: dict[int, str] = {i: text_for(i, 0) for i in range(30)}
    seg_docs: dict[str, set[int]] = {"base": set(model)}
    entangled: set[str] = set()
    next_id = 30

    def frame(ids_salt):
        return spark.createDataFrame(
            [(i, t) for i, t in ids_salt], "doc_id BIGINT, text STRING"
        )

    build_inverted_index(frame(model.items()), root, managed=True)

    def check(step):
        ref = str(tmp_path / f"ref{step}")
        build_inverted_index(frame(model.items()), ref)
        assert _bm25(spark, root, queries) == _bm25(spark, ref, queries), (
            f"diverged at step {step}"
        )

    for step in range(12):
        op = rng.choice(
            ["ingest", "upsert", "delete", "drop", "merge", "compact"]
        )
        seg = f"s{step}"
        if op == "ingest":
            batch = {next_id + j: text_for(next_id + j, step) for j in range(6)}
            next_id += 6
            update_inverted_index(frame(batch.items()), root, segment=seg)
            model.update(batch)
            seg_docs[seg] = set(batch)
        elif op == "upsert" and model:
            ids = rng.sample(sorted(model), min(5, len(model)))
            batch = {i: text_for(i, 100 + step) for i in ids}
            update_inverted_index(
                frame(batch.items()), root, segment=seg, replace=True
            )
            for i in ids:
                for s, ds in seg_docs.items():
                    if i in ds and s != seg:
                        ds.discard(i)
                        entangled.add(s)
            model.update(batch)
            seg_docs[seg] = set(ids)
        elif op == "delete" and model:
            ids = rng.sample(sorted(model), min(4, len(model)))
            delete_from_inverted_index(spark, root, ids, segment=f"d{step}")
            for i in ids:
                for s, ds in seg_docs.items():
                    if i in ds:
                        ds.discard(i)
                        entangled.add(s)
                model.pop(i)
        elif op == "drop":
            cands = [s for s in seg_docs if s not in entangled]
            if cands:
                s = rng.choice(cands)
                drop_segment(spark, root, s)
                for i in seg_docs.pop(s):
                    model.pop(i, None)
        elif op == "merge":
            cands = [s for s in seg_docs if s not in entangled]
            if len(cands) >= 2:
                picks = rng.sample(cands, 2)
                m = merge_segments(spark, root, picks)
                seg_docs[m] = seg_docs.pop(picks[0]) | seg_docs.pop(picks[1])
        else:
            compact_inverted_index(spark, root)
            gc_index(root)
            seg_docs = {"base": set(model)}
            entangled = set()
        check(step)


def test_bm25_auto_routing_pins_both_routes(spark, tmp_path):
    """The router is a physical choice only: whatever the thresholds,
    results equal exact scoring; the plan reports the route per query
    and the expected regime boundaries (r11 verdict ask #3)."""
    from redis_streams_spark.operators.invindex import (
        bm25_topk_auto,
        bm25_topk_indexed,
        build_inverted_index,
    )
    from redis_streams_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    root = str(tmp_path / "idx")
    build_inverted_index(docs, root)
    queries = {
        0: ("dup", "the", "a"),       # rare ∧ common: skippable terms
        1: ("spark", "stream", "window"),  # all-common: nothing skippable
        2: ("dup", "vector"),
    }
    want = sorted(
        tuple(r) for r in bm25_topk_indexed(spark, root, queries, k=10).collect()
    )
    # production default: corpus far below the 1e8 crossover -> all exact
    out_d, plan_d = bm25_topk_auto(
        spark, root, queries, k=10, return_plan=True
    )
    assert {q: p["route"] for q, p in plan_d.items()} == {
        0: "exact", 1: "exact", 2: "exact"
    }
    assert sorted(tuple(r) for r in out_d.collect()) == want
    # forced crossover: prunable queries route maxscore, the all-common
    # query stays exact (nothing skippable), values identical
    out_f, plan_f = bm25_topk_auto(
        spark, root, queries, k=10, postings_threshold=1, return_plan=True
    )
    assert plan_f[0]["route"] == "maxscore"
    assert plan_f[1]["route"] == "exact"
    assert plan_f[2]["route"] == "maxscore"
    assert plan_f[0]["skippable"]  # the static estimate found skip terms
    # the all-common query stays exact NOT because nothing is
    # statically skippable but because its residual candidate bound
    # fails the cut-ratio gate — the pruning would not pay
    assert plan_f[1]["essential"] > 0.5 * plan_f[1]["matched"]
    assert plan_f[0]["essential"] < plan_f[0]["matched"]
    assert sorted(tuple(r) for r in out_f.collect()) == want
    # single-route degenerate batches still work (no union branch)
    only_ms = bm25_topk_auto(
        spark, root, {0: ("dup", "the", "a")}, k=10, postings_threshold=1
    )
    assert sorted(tuple(r) for r in only_ms.collect()) == [
        t for t in want if t[0] == 0
    ]
