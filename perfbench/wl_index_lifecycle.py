"""Workload ``index_lifecycle``: segment-store writes beside reads.

Builds a managed inverted index (``build_inverted_index(managed=True)``)
over a seeded ``documents``-shaped corpus (5000 docs, the shape of the
sf0.1 ``documents`` table).  After two untimed warm-up rounds it runs
rounds until the time is up: one ``update_inverted_index`` of a seeded
200-doc batch under a deterministic segment name, then one
``bm25_topk_auto`` call with 8 queries of 3 seeded terms, some of them
out of vocabulary.  It finishes with ``compact_inverted_index`` and one
more query batch, and checks that the results before and after the
compaction equal those of a fresh build over the union corpus.
"""

from __future__ import annotations

import os
import random
import time

from harness import Context, Result
from stats import median, tail
from tracing import RssSampler, exec_totals, job_spans, qe_phases, status_jobs

BASE_DOCS = 5000
BATCH_DOCS = 200
QUERIES = 8
TERMS = 3
OOV_SHARE = 0.2
TOP_K = 10
WARMUP_ROUNDS = 2
# the sf0.1 documents table draws 10-100 words per doc uniformly from a
# 31-word vocabulary; the generated corpus keeps that shape
VOCAB = [f"w{i:02d}" for i in range(31)]
OOV = [f"oov{i}" for i in range(50)]


def _docs(rng: random.Random, first_id: int, n: int):
    import pyarrow as pa

    ids = list(range(first_id, first_id + n))
    text = [" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100))) for _ in ids]
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": text})


def _queries(rng: random.Random) -> dict[int, tuple[str, ...]]:
    """Seeded query batch.  Every query keeps at least one in-vocabulary
    term: a query of only unknown terms is a known failure of
    ``bm25_topk_auto`` and is not what this workload measures."""
    out = {}
    for q in range(QUERIES):
        terms = [rng.choice(OOV) if rng.random() < OOV_SHARE else rng.choice(VOCAB) for _ in range(TERMS)]
        if all(t in OOV for t in terms):
            terms[0] = rng.choice(VOCAB)
        out[q] = tuple(terms)
    return out


def _segstore(path: str) -> dict[str, float]:
    """Segment-store shape, read from the index directory itself."""
    from redis_streams_spark.operators.segstore import read_manifest

    man = read_manifest(path) or {"generation": "", "dead": []}
    stats_dir = os.path.join(path, man["generation"], "stats")
    segs = [d for d in os.listdir(stats_dir) if d.startswith("segment=")]
    live = [d for d in segs if d.split("=", 1)[1] not in set(man["dead"])]
    files = 0
    size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    gens = [d for d in os.listdir(path) if d.startswith("g") and os.path.isdir(os.path.join(path, d))]
    return {
        "segstore.segments": len(live),
        "segstore.generations": len(gens),
        "segstore.files": files,
        "segstore.bytes": size,
    }


class Index:
    """Query calls with their per-layer detail (traced runs only)."""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark
        self.calls: dict[str, dict] = {}

    def _jobs(self, group: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def query(self, path: str, qs: dict, op: str) -> tuple[float, list[tuple]]:
        """One ``bm25_topk_auto`` call, collected; returns (seconds, rows)."""
        from redis_streams_spark.operators.invindex import bm25_topk_auto

        tr = self.ctx.tracer
        group = f"{op}.query"
        self.spark.sparkContext.setJobGroup(group, "bm25 query batch")
        t0 = time.time()
        with tr.span("invindex.query", "operators.invindex", op):
            with tr.span("invindex.query.construct", "operators.invindex", op):
                df = bm25_topk_auto(self.spark, path, qs, k=TOP_K)
            t1 = time.time()
            built_jobs = self._jobs(group) if self.ctx.traced else 0
            with tr.span("invindex.query.exec", "operators.invindex", op):
                rows = [tuple(r) for r in df.collect()]
        t2 = time.time()
        if self.ctx.traced:
            self.calls[op] = {
                "construct_s": t1 - t0,
                "exec_s": t2 - t1,
                "construct_jobs": built_jobs,
                "jobs": self._jobs(group),
                "phases": qe_phases(df),
            }
        return t2 - t0, rows


def _same(a: list[tuple], b: list[tuple]) -> bool:
    """Top-k rows (query_id, rank, doc_id, bm25) equal up to float
    rounding; a rank may swap doc ids only between tied scores."""
    if len(a) != len(b):
        return False
    for (qa, ra, da, sa), (qb, rb, db, sb) in zip(sorted(a), sorted(b)):
        if (qa, ra) != (qb, rb) or abs(sa - sb) > 1e-5 or (da != db and abs(sa - sb) > 0):
            return False
    return True


def run(ctx: Context) -> Result:
    import pyarrow.parquet as pq

    from redis_streams_spark.operators.invindex import (
        build_inverted_index,
        compact_inverted_index,
        update_inverted_index,
    )

    ready = ctx.start_spark()
    spark = ctx.spark
    sampler = RssSampler().start() if ctx.traced else None
    tr = ctx.tracer
    out = ctx.outcomes
    rng = random.Random(ctx.seed)
    data = ctx.path("data")
    pq.write_table(_docs(rng, 0, BASE_DOCS), os.path.join(data, "base.parquet"))
    ix = Index(ctx)
    path = os.path.join(ctx.path("index"), "inv")

    def round_(r: int) -> tuple[float, float, dict, list[tuple]]:
        """One update + one query batch; returns their seconds, the
        queries and the rows."""
        op = f"round{r:03d}"
        batch = os.path.join(data, f"batch{r:03d}.parquet")
        pq.write_table(_docs(rng, 1_000_000 + r * BATCH_DOCS, BATCH_DOCS), batch)
        qs = _queries(rng)
        spark.sparkContext.setJobGroup(op, "index update")
        t = time.time()
        with tr.span("invindex.update", "operators.invindex", op):
            update_inverted_index(spark.read.parquet(batch), path, segment=f"r{r:04d}")
        u_s = time.time() - t
        out.ok()
        q_s, rows = ix.query(path, qs, op)
        out.check(len(rows) > 0, f"{op}: query batch returned no rows")
        return u_s, q_s, qs, rows

    # -- set-up: build, then untimed warm-up rounds (update and query
    # times still fall for two rounds after the build) ---------------------
    t = time.time()
    with tr.span("invindex.build", "operators.invindex", "build"):
        build_inverted_index(spark.read.parquet(os.path.join(data, "base.parquet")), path, managed=True)
    build_s = time.time() - t
    with tr.span("warmup", "harness"):
        for r in range(WARMUP_ROUNDS):
            round_(r)
    setup_s = ready + (time.time() - t)

    # -- timed rounds until the time is up -----------------------------------
    updates: list[float] = []
    queries: list[float] = []
    seg_after: list[dict] = []
    t_rounds = time.time()
    r = WARMUP_ROUNDS
    while not updates or time.time() - t_rounds < ctx.seconds:
        u_s, q_s, final_q, before = round_(r)
        updates.append(u_s)
        queries.append(q_s)
        if ctx.traced:
            seg_after.append(_segstore(path))
        r += 1
    t_rounds_done = time.time()

    # -- finish: compact, repeat the last round's queries, and compare both
    # answers with a fresh build over the union corpus ----------------------
    t = time.time()
    with tr.span("invindex.compact", "operators.invindex", "compact"):
        compact_inverted_index(spark, path)
    compact_s = time.time() - t
    after_s, after = ix.query(path, final_q, "final-compacted")
    fresh = os.path.join(ctx.path("index"), "fresh")
    union = spark.read.parquet(*[os.path.join(data, f) for f in sorted(os.listdir(data))])
    build_inverted_index(union, fresh, managed=True)
    _, expect = ix.query(fresh, final_q, "final-fresh")
    for q in final_q:
        want = [x for x in expect if x[0] == q]
        out.check(_same([x for x in before if x[0] == q], want), f"query {q} {final_q[q]}: segmented index != fresh build")
        out.check(_same([x for x in after if x[0] == q], want), f"query {q} {final_q[q]}: compacted index != fresh build")

    t_val, t_pct, t_n = tail(queries)
    res = Result()
    res.e2e = {
        "setup_s": setup_s,
        "latency_p50_s": median(queries),
        "latency_tail_s": t_val,
        "throughput_per_s": BATCH_DOCS / median(updates),
    }
    res.notes = {
        "latency": "one bm25_topk_auto call (8 queries x 3 terms), collected",
        "throughput": f"documents per second of one {BATCH_DOCS}-doc update_inverted_index call (median)",
        "tail_percentile": t_pct,
        "tail_samples": t_n,
        "rounds": len(updates),
        "rounds_s": round(t_rounds_done - t_rounds, 3),
        "update_s": [round(x, 3) for x in updates],
        "query_s": [round(x, 3) for x in queries],
        "session_s": round(ready, 3),
        "build_s": round(build_s, 3),
        "compact_s": round(compact_s, 3),
    }
    if ctx.traced:
        jobs = [j for j in status_jobs(spark) if j["t0"] is not None and j["t0"] >= t_rounds and j["t0"] < t_rounds_done]
        job_spans(ctx.tracer, jobs, op_of=lambda j: (j["group"] or "").split(".")[0])
        warm = {f"round{k:03d}" for k in range(WARMUP_ROUNDS)}
        timed = [c for op, c in ix.calls.items() if op.startswith("round") and op not in warm]

        def total(key: str) -> float:
            return sum(c[key] for c in timed)

        def phase(name: str) -> float:
            return median([c["phases"].get(name, 0.0) for c in timed])

        res.layers = {
            "session.start_s": ready,
            "session.warmup_s": setup_s - ready,
            "invindex.build_s": build_s,
            "invindex.update.busy_s": sum(updates),
            "invindex.query.construct_s": total("construct_s"),
            "invindex.query.construct_jobs": total("construct_jobs"),
            "invindex.query.exec_s": total("exec_s"),
            "invindex.query.jobs": total("jobs"),
            "invindex.compact_s": compact_s,
            "invindex.query_after_compact_s": after_s,
            "catalyst.analysis_ms": phase("analysis"),
            "catalyst.optimization_ms": phase("optimization"),
            "catalyst.planning_ms": phase("planning"),
            **seg_after[-1],
            **exec_totals(jobs),
            "proc.rss_peak_mb": sampler.stop(),
        }
        res.notes["segstore_after_each_round"] = seg_after
    return res
