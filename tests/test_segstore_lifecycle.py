"""The shared segment lifecycle (operators/segstore.py) and the term
bucket layout the inverted index pins through it: rebuilds re-pin the
layout, appends to pre-layout generations keep the historical bucket
count, unknown input sizes do not inflate it, and a query whose terms
all miss the index answers empty under either ANSI setting."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from redis_streams_spark.operators.invindex import (
    N_TERM_BUCKETS,
    bm25_topk_auto,
    bm25_topk_indexed,
    build_inverted_index,
    update_inverted_index,
)
from redis_streams_spark.operators.segstore import LAYOUT, read_layout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _docs(spark, n=40, offset=0):
    return spark.createDataFrame(
        [
            (offset + i, f"spark stream batch w{i % 5} x{(offset + i) % 7}")
            for i in range(n)
        ],
        "doc_id LONG, text STRING",
    )


def _buckets(spark, gpath):
    return {
        r.bucket
        for r in spark.read.parquet(f"{gpath}/postings")
        .select("bucket")
        .distinct()
        .collect()
    }


def test_overwrite_build_repins_stale_layout(spark, tmp_path):
    """A rebuild into a path whose LAYOUT survives must pin the new
    build's bucket count, not silently reuse the old one."""
    path = str(tmp_path / "idx")
    build_inverted_index(_docs(spark), path, n_buckets=16)
    assert read_layout(path) == {"n_term_buckets": 16}
    build_inverted_index(_docs(spark), path, n_buckets=32)
    assert read_layout(path) == {"n_term_buckets": 32}
    # the rebuilt postings really use the new count, and queries agree
    # with a fresh build at that count
    ref = str(tmp_path / "ref")
    build_inverted_index(_docs(spark), ref, n_buckets=32)
    assert _buckets(spark, path) == _buckets(spark, ref)
    q = {0: ("spark", "w1"), 1: ("x3",)}
    got = bm25_topk_indexed(spark, path, q, k=5).collect()
    assert sorted(got) == sorted(bm25_topk_indexed(spark, ref, q, k=5).collect())


def test_rebuild_drops_stale_tombstones(spark, tmp_path):
    """A rebuild replaces the whole tree: the old tree's tombstones must
    not silence the new build's rows while its df/stats count them."""
    from redis_streams_spark.operators.invindex import (
        delete_from_inverted_index,
    )

    path, ref = str(tmp_path / "idx"), str(tmp_path / "ref")
    build_inverted_index(_docs(spark), path, n_buckets=16)
    delete_from_inverted_index(spark, path, [0, 1, 2], segment="d1")
    build_inverted_index(_docs(spark), path, n_buckets=16)
    build_inverted_index(_docs(spark), ref, n_buckets=16)
    q = {0: ("spark", "w1"), 1: ("x0",), 2: ("w2", "x2")}
    got = bm25_topk_indexed(spark, path, q, k=10).collect()
    assert sorted(got) == sorted(bm25_topk_indexed(spark, ref, q, k=10).collect())


def test_append_to_pre_layout_generation_keeps_default_buckets(
    spark, tmp_path
):
    """A generation written before layouts existed holds postings at
    N_TERM_BUCKETS and no LAYOUT.  Appending a (file-backed, so
    size-derivable) batch must pin N_TERM_BUCKETS; deriving a fresh
    count would make probe pruning skip the base postings."""
    root = str(tmp_path / "idx")
    build_inverted_index(_docs(spark), root, managed=True, n_buckets=N_TERM_BUCKETS)
    gpath = os.path.join(root, "g00000001")
    os.unlink(os.path.join(gpath, LAYOUT))  # a pre-layout tree
    q = {0: ("w1",)}
    want = bm25_topk_indexed(spark, root, q, k=50).count()
    assert want > 0
    batch = str(tmp_path / "batch.parquet")
    spark.createDataFrame(
        [(10_000, "unrelated words only")], "doc_id LONG, text STRING"
    ).write.parquet(batch)
    update_inverted_index(spark.read.parquet(batch), root, segment="b1")
    assert read_layout(gpath) == {"n_term_buckets": N_TERM_BUCKETS}
    assert bm25_topk_indexed(spark, root, q, k=50).count() == want


def test_failed_first_write_leaves_no_layout(spark, tmp_path):
    """LAYOUT is pinned only after the first postings write succeeds: a
    failed first write must not leave a layout later writes inherit."""
    root = str(tmp_path / "idx")
    bad = spark.range(3).select(
        F.col("id").alias("doc_id"),
        F.raise_error(F.lit("boom")).cast("string").alias("text"),
    )
    with pytest.raises(Exception, match="boom"):
        build_inverted_index(bad, root, managed=True, n_buckets=16)
    assert read_layout(os.path.join(root, "g00000001")) is None


def test_unknown_input_size_falls_back_to_default_buckets(spark, tmp_path):
    """A 1-row in-memory frame reports sizeInBytes = Long.MaxValue (the
    optimizer's "unknown"); that must not pin the maximum bucket
    count."""
    root = str(tmp_path / "idx")
    one = spark.createDataFrame([(1, "one tiny doc")], "doc_id LONG, text STRING")
    build_inverted_index(one, root, managed=True)
    layout = read_layout(os.path.join(root, "g00000001"))
    assert layout["n_term_buckets"] != 4096
    assert layout == {"n_term_buckets": N_TERM_BUCKETS}


def test_all_unknown_term_query_is_empty(spark, tmp_path):
    """A query batch whose terms all miss the index has no matched
    postings; the routed scorer must return an empty frame, not divide
    the placeholder corpus totals by zero — under ANSI on and off.
    Whether the full query reaches the division is a stage race under
    adaptive execution (an empty matched stage that finishes first
    cancels the rest), so the corpus-total frame the router hands the
    scorer is also evaluated on its own."""
    from redis_streams_spark.operators.invindex import _meta_frames

    path = str(tmp_path / "idx")
    build_inverted_index(_docs(spark), path)
    prev = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for ansi in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            out = bm25_topk_auto(
                spark, path, {0: ("nosuchterm",), 1: ("zzz", "qqq")}, k=5
            )
            assert out.collect() == [], ansi
            _, stats = _meta_frames(spark, {}, 0, 0)
            assert [tuple(r) for r in stats.collect()] == [(None, None)], ansi
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_family_modules_leave_partitioned_writes_to_segstore():
    """Every partitioned store write (and its static/dynamic overwrite
    choice) goes through segstore; window specs do not count."""
    writer = re.compile(r"(?<!W)\.partitionBy\(|partitionOverwriteMode")
    for mod in ("invindex", "vecindex", "dupindex", "gramindex"):
        src = os.path.join(ROOT, "redis_streams_spark", "operators", f"{mod}.py")
        with open(src, encoding="utf-8") as fh:
            hits = [ln for ln in fh if writer.search(ln)]
        assert hits == [], (mod, hits)


def test_dedup_compaction_keeps_shingle_opt_out(spark, tmp_path):
    """An index built with store_shingles=False stays without the
    corpus-sized shingle store across compaction, and its META keeps
    saying so (else probes would route to exact verification against an
    empty store and miss every near duplicate)."""
    import json

    from redis_streams_spark.operators.dupindex import (
        build_dedup_index,
        compact_dedup_index,
    )

    root = str(tmp_path / "dup")
    build_dedup_index(_docs(spark), root, managed=True, store_shingles=False)
    gnew = compact_dedup_index(spark, root)
    with open(os.path.join(root, "META"), encoding="utf-8") as fh:
        assert json.load(fh)["shingles"] is False
    assert not os.path.isdir(os.path.join(gnew, "shingles"))


def test_gram_drop_refused_while_dot_del_batch_live(spark, tmp_path):
    """Delete batches may be named '<segment>.del' as well as 'del-*';
    either kind entangles every segment of the gram index."""
    from redis_streams_spark.operators.gramindex import (
        build_gram_index,
        delete_from_gram_index,
        drop_gram_segment,
        update_gram_index,
    )

    root = str(tmp_path / "g")
    docs = _docs(spark)
    build_gram_index(docs.where("doc_id < 20"), root, n=3, managed=True)
    update_gram_index(docs.where("doc_id >= 20"), root, segment="u1")
    delete_from_gram_index(
        spark, root, docs.where("doc_id = 3"), segment="u0.del"
    )
    with pytest.raises(ValueError, match="compact"):
        drop_gram_segment(spark, root, "u1")
