"""Round-13 optimization regressions: every physical-path change this
round must stay value-identical to the shape it replaced (the results
contract is frozen by the oracle; these tests pin the equivalence at the
operator level so a drift fails fast and locally)."""

from __future__ import annotations

from pyspark.sql import functions as F

from redis_streams_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_band_rows,
)
from redis_streams_spark.operators.similarity import (
    brute_force_topk,
    brute_force_topk_np,
    ivf_topk,
)
from redis_streams_spark.session import load_table


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_lsh_candidate_pairs_matches_self_join(spark, sf_dir):
    """The aggregation-based pair enumerator (one pass over the band
    rows) must emit exactly the pairs the old bucket-keyed self-join
    emitted."""
    docs = load_table(spark, sf_dir, "documents")
    bands = minhash_band_rows(docs).persist()
    new = lsh_candidate_pairs(bands)
    a, b = bands.alias("a"), bands.alias("b")
    old = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    assert _rows(new, ["a_id", "b_id"]) == _rows(old, ["a_id", "b_id"])
    assert len(_rows(new, ["a_id", "b_id"])) > 0, "fixture must produce pairs"
    bands.unpersist()


def test_ivf_topk_np_matches_hof(spark, sf_dir):
    """ivf_topk(scoring='np') — the Arrow/BLAS probed-cell kernel — must
    be value-identical to the engine-pure HOF path, including rounded
    cosines and rank tie-breaks."""
    emb = load_table(spark, sf_dir, "embeddings")
    cols = ["query_id", "cand_id", "probed_label", "cosine", "rank"]
    hof = ivf_topk(emb, k=10, query_mod=25, scoring="hof")
    np_ = ivf_topk(emb, k=10, query_mod=25, scoring="np")
    assert _rows(np_, cols) == _rows(hof, cols)


def test_brute_force_np_matches_hof(spark, sf_dir):
    """The registered bench row now runs brute_force_topk_np; pin its
    identity to the HOF baseline at this SF (sim_recall_report holds the
    same identity as recall==1.0 at the driver)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cols = ["query_id", "cand_id", "cosine", "rank"]
    assert _rows(brute_force_topk_np(emb, k=10, query_mod=25), cols) == _rows(
        brute_force_topk(emb, k=10, query_mod=25), cols
    )


def test_salted_join_shuffle_hash_plan_and_values(spark, sf_dir):
    """salted_join must (a) not broadcast the replicated build side under
    the default hint, and (b) still equal the plain join."""
    from redis_streams_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    j = salted_join(
        li, orders, probe_key="l_orderkey", build_key="o_orderkey",
        salt_source="l_linenumber", n_salt=4,
    )
    plan = j._sc._jvm.PythonSQLUtils.explainString(
        j._jdf.queryExecution(), "formatted"
    )
    assert "ShuffledHashJoin" in plan, plan
    got = j.groupBy("o_orderpriority").count()
    want = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
        "o_orderpriority"
    ).count()
    assert _rows(got, ["o_orderpriority", "count"]) == _rows(
        want, ["o_orderpriority", "count"]
    )


def test_load_table_memoized_per_session(spark, sf_dir):
    """load_table returns the same plan object per (session, sf_dir,
    name) — and the escape hatch disables it."""
    import os

    from redis_streams_spark.session import load_table as lt

    a = lt(spark, sf_dir, "lineitem")
    b = lt(spark, sf_dir, "lineitem")
    assert a is b
    os.environ["SPARK_GRAFT_NO_TABLE_CACHE"] = "1"
    try:
        c = lt(spark, sf_dir, "lineitem")
        assert c is not a
        assert c.schema == a.schema
    finally:
        del os.environ["SPARK_GRAFT_NO_TABLE_CACHE"]


def test_shared_learned_index_built_once(spark, sf_dir):
    """_shared_learned_index returns the same path for identical params
    and a different path for different params."""
    from redis_streams_spark.queries.similarity6 import (
        _ITERS,
        _N_CELLS,
        _shared_learned_index,
    )

    p1 = _shared_learned_index(
        spark, sf_dir, managed=True, n_cells=_N_CELLS, train_iters=_ITERS
    )
    p2 = _shared_learned_index(
        spark, sf_dir, managed=True, n_cells=_N_CELLS, train_iters=_ITERS
    )
    assert p1 == p2
    p3 = _shared_learned_index(
        spark, sf_dir, managed=True, n_cells=_N_CELLS, train_iters=1
    )
    assert p3 != p1


def test_read_optional_cache_invalidates_on_mutation(spark, tmp_path):
    """read_optional memoizes the DataFrame plan for an UNCHANGED local
    parquet tree (same object back) and invalidates on ANY file change
    — readers must never see a stale file listing."""
    from redis_streams_spark.operators import segstore

    p = str(tmp_path / "store")
    spark.range(5).write.parquet(p)
    d1 = segstore.read_optional(spark, p)
    d2 = segstore.read_optional(spark, p)
    assert d1 is d2, "unchanged tree must hit the plan cache"
    assert d1.count() == 5
    spark.range(7).write.mode("append").parquet(p)
    d3 = segstore.read_optional(spark, p)
    assert d3 is not d1, "mutated tree must be re-read"
    assert d3.count() == 12
    # overwrite (replaced files, possibly same count) also invalidates
    spark.range(3).write.mode("overwrite").parquet(p)
    d4 = segstore.read_optional(spark, p)
    assert d4 is not d3
    assert d4.count() == 3


def test_term_meta_single_collect_matches_two_jobs(spark, tmp_path):
    """_term_meta (one crossJoin'd collect) must return exactly what the
    replaced pair of jobs (terms agg collect + stats first()) returned."""
    from redis_streams_spark.operators.segstore import (
        open_index as _open_index,
    )
    from redis_streams_spark.operators.invindex import (
        _query_frames,
        _stats_totals,
        _term_meta,
        build_inverted_index,
    )

    docs = spark.createDataFrame(
        [(i, f"spark stream batch hash join window w{i % 3}") for i in range(50)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    build_inverted_index(docs, path)
    gpath, dead = _open_index(path)
    terms = {"spark", "hash", "w1", "nosuchterm"}
    _, tpart, _ = _query_frames(spark, gpath, terms, dead)
    meta, n_docs, avgdl, sdl = _term_meta(spark, gpath, dead, tpart, terms)
    trows = (
        tpart.where(F.col("tok").isin(sorted(terms)))
        .groupBy("tok")
        .agg(F.sum("df").alias("df"), F.max("max_tf").alias("mtf"))
        .collect()
    )
    srow = _stats_totals(spark, gpath, dead).first()
    assert meta == {r["tok"]: (r["df"], r["mtf"]) for r in trows if r["df"] > 0}
    assert n_docs == (srow["n"] or 0) and n_docs > 0
    assert sdl == (srow["sdl"] or 0)
    assert avgdl == (srow["sdl"] or 0) * 1.0 / n_docs


def test_prefix_helpers_truncate_plan_to_one_input_subtree(spark, sf_dir):
    """The bucket-level helper frames (cumsum offsets, lead next-bucket
    minima, top-k threshold/rank tables) are materialized as
    LocalRelations, so a consumer's FINAL plan must reference the
    corpus-sized input subtree exactly once — the pre-r13 inline form
    embedded it 3x per helper with zero runtime exchange reuse
    (q_wasserstein_1d: 42 parquet scans in one plan).  Values are
    pinned by test_prefix.py's window-equivalence suite; this pins the
    plan shape."""
    from redis_streams_spark.operators.prefix import (
        bucketed_cumsum,
        bucketed_lead,
    )

    docs = load_table(spark, sf_dir, "documents")
    h = docs.groupBy(F.col("n_chars").alias("val")).agg(
        F.count(F.lit(1)).alias("cnt")
    )

    def scans(df) -> int:
        import re

        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # one "(n) Scan parquet" detail header per physical scan (the
        # tree rendering repeats the operator name; don't double-count)
        return len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))

    cum = bucketed_cumsum(h, "val", [("cnt", "c", True)], width=16.0)
    assert scans(cum) == 1
    led = bucketed_lead(cum, "val", "nxt", width=16.0)
    assert scans(led) == 1  # stacked helpers stay single-subtree


def test_ecdf_frames_push_source_filter_to_scan(spark, sf_dir):
    """_ecdf_frames inlines the two collected source names, so the
    documents scan must carry a pushed source filter (the former
    1-row crossJoin form could not push anything) and the ECDF frame's
    plan must hold exactly one documents scan."""
    from redis_streams_spark.queries.stats import _ecdf_frames

    import re

    ss, e = _ecdf_frames(spark, sf_dir)
    plan = e._sc._jvm.PythonSQLUtils.explainString(
        e._jdf.queryExecution(), "formatted"
    )
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    assert "In(source" in plan.split("PushedFilters:", 1)[1].split("\n", 1)[0]


def test_shared_codebook_identical_to_fresh_training(spark, sf_dir):
    """The session-shared coarse codebook / PQ books must be EXACTLY the
    rows fresh deterministic training produces (sharing is a cache of a
    pure function, never an approximation)."""
    from redis_streams_spark.operators.similarity import pq_train_codebooks
    from redis_streams_spark.operators.vecindex import (
        _train_codebook,
        as_double_vec,
    )
    from redis_streams_spark.queries.similarity6 import (
        _shared_codebook,
        _shared_pqbook,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    e = as_double_vec(emb)
    fresh_cb = sorted(
        tuple(r) for r in _train_codebook(
            e.select("vec_id", "v", "norm"), 8, 2
        ).collect()
    )
    shared_cb = sorted(
        tuple(r) for r in _shared_codebook(spark, sf_dir, 8, 2).collect()
    )
    assert shared_cb == fresh_cb and len(shared_cb) > 0
    fresh_pq = sorted(
        tuple(r) for r in pq_train_codebooks(e, 4, 8, 2).collect()
    )
    shared_pq = sorted(
        tuple(r) for r in _shared_pqbook(spark, sf_dir, 4, 8, 2).collect()
    )
    assert shared_pq == fresh_pq and len(shared_pq) > 0


def test_build_vector_index_with_injected_books_matches(spark, sf_dir, tmp_path):
    """An index built with injected (codebook, pqbook) must store the
    same quantizers and the same pinned cells/codes as a build that
    trains internally."""
    from redis_streams_spark.operators.vecindex import build_vector_index
    from redis_streams_spark.queries.similarity6 import (
        _shared_codebook,
        _shared_pqbook,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    p1 = str(tmp_path / "trained")
    p2 = str(tmp_path / "injected")
    build_vector_index(emb, p1, n_cells=8, train_iters=2, pq_m=4)
    build_vector_index(
        emb,
        p2,
        n_cells=8,
        train_iters=2,
        pq_m=4,
        codebook=_shared_codebook(spark, sf_dir, 8, 2),
        pqbook=_shared_pqbook(spark, sf_dir, 4, 8, 2),
    )

    def rows(path, sub, cols):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(f"{path}/{sub}").select(*cols).collect()
        )

    assert rows(p1, "codebook", ["cell", "cv", "cnorm"]) == rows(
        p2, "codebook", ["cell", "cv", "cnorm"]
    )
    assert rows(p1, "pqbook", ["s", "code", "cv"]) == rows(
        p2, "pqbook", ["s", "code", "cv"]
    )
    assert rows(p1, "cells", ["vec_id", "label", "codes"]) == rows(
        p2, "cells", ["vec_id", "label", "codes"]
    )


def test_pq_rerank_injected_pqbook_matches(spark, sf_dir):
    from redis_streams_spark.operators.similarity import pq_rerank_topk
    from redis_streams_spark.queries.similarity6 import _shared_pqbook

    emb = load_table(spark, sf_dir, "embeddings")
    cols = ["query_id", "cand_id", "pq_dot", "cosine", "rank"]
    base = pq_rerank_topk(emb, k=10, query_mod=25)
    inj = pq_rerank_topk(
        emb, k=10, query_mod=25,
        pqbook=_shared_pqbook(spark, sf_dir, 4, 8, 2),
    )
    assert _rows(inj, cols) == _rows(base, cols)


def test_minhash_lsh_pairs_has_no_persist_barrier(spark, sf_dir):
    """minhash_lsh_pairs used to .persist() the corpus-sized shingle
    frame, which (a) serialized the pipeline behind a cache-
    materialization barrier (measured slower at sf0.1 AND at the 10×
    corpus — OPTIMIZATION_r13 §15) and (b) registered the subtree in
    the session CacheManager at construction time.  The plan must be
    cache-free and the construction must leave nothing registered."""
    from redis_streams_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    spark.catalog.clearCache()
    out = minhash_lsh_pairs(docs)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "InMemoryRelation" not in plan
    # construction registered nothing: a fresh identical subtree still
    # plans as a parquet scan
    probe = load_table(spark, sf_dir, "documents").select("doc_id")
    pplan = probe._sc._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    assert "InMemoryRelation" not in pplan


def test_query_construction_leaves_no_base_table_cache(spark, sf_dir):
    """Constructing dedup_tier_summary used to .persist() the BASE
    documents table, which registers it in the CacheManager at plan
    time and silently rewrites every later documents scan in the
    session (InMemoryRelation swallows parquet pushdown/pruning).  A
    freshly built documents filter must still push to the scan after
    the query function has run."""
    from redis_streams_spark.queries import all_queries

    all_queries()["dedup_tier_summary"].fn(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    probe = docs.where(F.col("source") == "src0").select("doc_id")
    plan = probe._sc._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    assert "InMemoryRelation" not in plan
    assert "EqualTo(source,src0)" in plan


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_star_edges_and_incremental_have_no_persist_barrier(spark, sf_dir):
    """The §16 persist sweep: minhash_lsh_star_edges and
    incremental_dedup used to .persist() their corpus-sized shingle
    frames — same serialization + construction-time CacheManager
    registration as the §15 pairs path (star edges measured −23%
    median at sf0.1 without it).  Their plans must be cache-free and
    construction must leave nothing registered."""
    from redis_streams_spark.operators.dedup import (
        incremental_dedup,
        minhash_lsh_star_edges,
    )

    docs = load_table(spark, sf_dir, "documents")
    spark.catalog.clearCache()
    edges = minhash_lsh_star_edges(docs)
    assert "InMemoryRelation" not in _formatted_plan(edges)
    batch = docs.where(F.expr("doc_id % 10 = 7"))
    history = docs.where(~F.expr("doc_id % 10 = 7"))
    inc = incremental_dedup(history, batch)
    assert "InMemoryRelation" not in _formatted_plan(inc)
    probe = load_table(spark, sf_dir, "documents").select("doc_id")
    assert "InMemoryRelation" not in _formatted_plan(probe)


def test_kmeans_assign_has_no_presentation_sort(spark, sf_dir):
    """kmeans_assign ended with a global orderBy(vec_id) — a full
    range-shuffle + sort of the corpus-sized assignment frame that the
    order-insensitive gate never needed and join consumers had
    optimizer-eliminated anyway (§16).  The direct-return plan must
    carry no range partitioning."""
    from redis_streams_spark.operators.similarity import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    asg = kmeans_assign(emb, k=8, iters=2)
    assert "rangepartitioning" not in _formatted_plan(asg)


def test_embedding_pairs_bucket_agg_matches_self_join(spark, sf_dir):
    """§16/§18: embedding_neighbor_pairs enumerates sign-LSH candidate
    pairs per bucket from one aggregation.  The pairs (and therefore
    the verified top-k output) must match the old bucket-keyed
    self-join exactly."""
    from redis_streams_spark.operators.similarity import (
        as_double_vec,
        embedding_neighbor_pairs,
        signlsh_signature,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n_planes, bands = 16, 4
    bits_per_band = n_planes // bands
    mask = (1 << bits_per_band) - 1
    e = as_double_vec(emb).withColumn(
        "sig", signlsh_signature(F.col("v"), n_planes)
    )
    band_rows = e.select(
        "label",
        "vec_id",
        "sig",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band_idx"),
    ).withColumn(
        "band_bits",
        F.expr(f"shiftright(sig, band_idx * {bits_per_band}) & {mask}"),
    )
    a = band_rows.select(
        "label", F.col("vec_id").alias("a_id"), "band_idx", "band_bits"
    )
    b = band_rows.select(
        "label", F.col("vec_id").alias("b_id"), "band_idx", "band_bits"
    )
    old_cands = (
        a.join(b, ["label", "band_idx", "band_bits"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("label", "a_id", "b_id")
        .distinct()
    )
    # full-output identity: replay the OLD pipeline end-to-end (verify
    # join + top-k window over the self-join candidates) and compare
    # every output column against the operator
    from pyspark.sql import Window as W

    from redis_streams_spark.operators.similarity import cosine

    av = e.select(
        F.col("vec_id").alias("a_id"), F.col("v").alias("av"), F.col("norm").alias("an")
    )
    bv = e.select(
        F.col("vec_id").alias("b_id"), F.col("v").alias("bv"), F.col("norm").alias("bn")
    )
    old_scored = (
        old_cands.join(av, "a_id")
        .join(bv, "b_id")
        .select(
            "label",
            "a_id",
            "b_id",
            cosine(F.col("av"), F.col("an"), F.col("bv"), F.col("bn")).alias("cosine"),
        )
    )
    w = W.partitionBy("a_id").orderBy(F.desc("cosine"), "b_id")
    old_out = (
        old_scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .withColumn("is_near_dup", F.col("cosine") >= 0.35)
        .select("a_id", "b_id", "label", "cosine", "rank", "is_near_dup")
    )
    out = embedding_neighbor_pairs(emb, k=3, near_dup_threshold=0.35)
    cols = ["a_id", "b_id", "label", "cosine", "rank", "is_near_dup"]
    got = _rows(out, cols)
    assert len(got) > 0
    assert got == _rows(old_out, cols)
