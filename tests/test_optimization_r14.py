"""Round-14 optimization regressions: every physical-path change this
round must stay value-identical to the shape it replaced, and the new
scale guards must fire the way they promise."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from redis_streams_spark.operators.dedup import (
    PAIR_BUCKET_CAP,
    expand_bucket_pairs,
)


def _pairs(df):
    return sorted(tuple(r) for r in df.collect())


def test_expand_bucket_pairs_matches_flatten_form(spark):
    """The streamed two-Generate expansion must emit exactly the i<j
    pairs the r13 in-row flatten(transform(transform)) built — including
    buckets of size 2, odd sizes, and carried extra columns."""
    buckets = spark.createDataFrame(
        [
            (1, [10, 20]),
            (2, [1, 2, 3]),
            (3, [7, 8, 9, 11, 13]),
            (4, [5]),  # filtered upstream normally, but must not crash
        ],
        "label INT, ids ARRAY<BIGINT>",
    )
    old_arrays = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("a_id"), y.alias("b_id")),
            ),
        )
    )
    old = (
        buckets.select("label", F.explode(old_arrays).alias("p"))
        .select("label", F.col("p.a_id").alias("a_id"), F.col("p.b_id").alias("b_id"))
    )
    new = expand_bucket_pairs(buckets, extra=("label",))
    assert _pairs(new) == _pairs(old)
    # and the i<j invariant holds on the sorted input
    assert all(a < b for _, a, b in _pairs(new))


def test_expand_bucket_pairs_cap_fails_loudly(spark):
    """A bucket above max_bucket must raise with the cap named (the r13
    verdict's hot-bucket guard) instead of expanding quadratically —
    and the degenerate all-identical corpus is exactly the case that
    produces such a bucket."""
    from redis_streams_spark.operators.dedup import minhash_lsh_pairs

    hot = spark.createDataFrame(
        [(0, list(range(50)))], "label INT, ids ARRAY<BIGINT>"
    )
    with pytest.raises(Exception, match="max_bucket=10"):
        expand_bucket_pairs(hot, max_bucket=10).collect()
    # under the cap the same bucket expands fine: C(50,2) pairs
    assert expand_bucket_pairs(hot, max_bucket=50).count() == 50 * 49 // 2
    # end to end: an all-identical corpus funnels every doc into the
    # same buckets; with the default cap far above 40 docs the pair
    # path still answers (C(40,2) verified pairs, all dups)
    docs = spark.createDataFrame(
        [(i, "spark stream window batch hash join") for i in range(40)],
        "doc_id LONG, text STRING",
    )
    out = minhash_lsh_pairs(docs).collect()
    assert len(out) == 40 * 39 // 2
    assert all(r.is_dup for r in out)
    assert PAIR_BUCKET_CAP >= 10_000  # the guard must not bite real corpora


def test_inverted_index_layout_pins_bucket_count(spark, tmp_path):
    """The scale-derived bucket count is pinned in LAYOUT at first
    write; appends into the same generation and compaction into the
    next one must agree with it, and probe pruning must resolve
    against it (r14 guide-§6 compaction: file count follows corpus
    size, not a global constant)."""
    from redis_streams_spark.operators.invindex import (
        _layout_buckets,
        build_inverted_index,
        compact_inverted_index,
        update_inverted_index,
    )
    from redis_streams_spark.operators.segstore import read_layout

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma w{i % 7} delta") for i in range(60)],
        "doc_id LONG, text STRING",
    )
    root = str(tmp_path / "idx")
    build_inverted_index(docs.where("doc_id < 30"), root, managed=True)
    gpath = f"{root}/g00000001"
    n = _layout_buckets(gpath)
    assert read_layout(gpath) == {"n_term_buckets": n}
    assert n >= 8
    update_inverted_index(docs.where("doc_id >= 30"), root, segment="b1")
    # every bucket partition written by either segment obeys the layout
    seen = {
        r.bucket
        for r in spark.read.parquet(f"{gpath}/postings")
        .select("bucket")
        .distinct()
        .collect()
    }
    assert seen and all(0 <= b < n for b in seen)
    # compaction carries the layout into the new generation
    gdst = compact_inverted_index(spark, root)
    assert read_layout(gdst) == {"n_term_buckets": n}


def test_bm25_meta_frames_match_store_aggregation(spark, tmp_path):
    """bm25_topk_indexed with the router's collected metadata
    (LocalRelation dfreq/stats) must return exactly what the
    store-aggregating form returns — same docs, same doubles."""
    from redis_streams_spark.operators.segstore import (
        open_index as _open_index,
    )
    from redis_streams_spark.operators.invindex import (
        _query_frames,
        _term_meta,
        bm25_topk_indexed,
        build_inverted_index,
    )

    docs = spark.createDataFrame(
        [
            (i, f"spark stream batch hash join window w{i % 5} x{i % 11}")
            for i in range(80)
        ],
        "doc_id LONG, text STRING",
    )
    path = str(tmp_path / "idx")
    build_inverted_index(docs, path)
    queries = {0: ("spark", "w1"), 1: ("hash", "x3", "nosuchterm")}
    gpath, dead = _open_index(path)
    terms = {t for ts in queries.values() for t in ts}
    _, tpart, _ = _query_frames(spark, gpath, terms, dead)
    meta = _term_meta(spark, gpath, dead, tpart, terms)
    with_meta = bm25_topk_indexed(spark, path, queries, k=10, _meta=meta)
    plain = bm25_topk_indexed(spark, path, queries, k=10)
    assert sorted(map(tuple, with_meta.collect())) == sorted(
        map(tuple, plain.collect())
    )
    # the meta path must NOT rescan the terms/stats stores: strictly
    # fewer parquet scans than the store-aggregating form (postings
    # only), with the metadata sides arriving as local rows
    def scans(df) -> int:
        p = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        return p.count("Scan parquet")

    assert scans(with_meta) < scans(plain)
