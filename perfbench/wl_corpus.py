"""corpus_dedup: the LLM-data operators, no table layer.

Each op is one pass over the seeded corpus: ``pipelines.corpus_build``
(funnel collected, final corpus counted), ``text.simhash_near_dup_pairs``
and ``similarity.embedding_near_dup_pairs_ivf`` with q27's settings,
every result collected. WARM_PASSES untimed passes run first. Every pass's
results must equal the DuckDB oracles of q388, q25 and q27.
"""

from __future__ import annotations

import os
import time

import checks
import common
import gen

N_DOCS = 1_500
N_VECS = 2_000
MIN_OPS = 4
#: untimed passes before the loop
WARM_PASSES = 3


def run(ctx) -> dict:
    docs_path = os.path.join(ctx.work, "documents.parquet")
    emb_path = os.path.join(ctx.work, "embeddings.parquet")
    gen.write_corpus(docs_path, ctx.seed, N_DOCS)
    gen.write_embeddings(emb_path, ctx.seed, N_VECS)

    t_setup = time.perf_counter()
    spark = ctx.start_spark()
    from product_analytics_spark.driver_queries import (
        EMBEDDING_DIM,
        NEAR_DUP_CAP_PER_CELL,
        NEAR_DUP_PAIRS_K,
    )
    from product_analytics_spark.operators import similarity, text
    from product_analytics_spark.pipelines import corpus_build

    docs = spark.read.parquet(docs_path)
    emb = spark.read.parquet(emb_path)

    def one_pass() -> dict:
        with ctx.tracer.span("pipelines.corpus_build"):
            final, funnel = corpus_build.corpus_build(spark, docs)
            funnel_rows = [tuple(r) for r in funnel.collect()]
            n_final = final.count()
        with ctx.tracer.span("operators.simhash_pairs"):
            sim = sorted(tuple(r) for r in text.simhash_near_dup_pairs(
                docs, hamming_max=8).collect())
        with ctx.tracer.span("operators.ivf_pairs"):
            ivf = sorted(tuple(r) for r in similarity.embedding_near_dup_pairs_ivf(
                emb, centroids=similarity.CENTROIDS_FINE, k=NEAR_DUP_PAIRS_K,
                cap_per_cell=NEAR_DUP_CAP_PER_CELL, dim=EMBEDDING_DIM).collect())
        return {"funnel": funnel_rows, "final": n_final, "simhash": sim, "ivf": ivf}

    results = []
    for _ in range(WARM_PASSES):
        results.append(one_pass())
        common.clear_caches()
    setup_s = time.perf_counter() - t_setup

    def op(i: int) -> None:
        ctx.tracer.op_begin(f"op-{i}")
        try:
            results.append(one_pass())
        finally:
            ctx.tracer.op_end()

    ctx.mark_timed_start()
    loop = common.closed_loop(op, ctx.seconds, MIN_OPS, lambda: common.program_cpu_s(spark),
                              after=common.clear_caches)
    lat, wall = loop["lat"], loop["wall"]
    ctx.mark_timed_end()

    want = checks.corpus_oracle(docs_path, emb_path)
    kept = dict((stage, n) for _i, stage, n in want["funnel"])["near_dup_dedup"]
    problems: list[str] = []
    failed = 0
    for i, got in enumerate(results):
        bad = [k for k in ("funnel", "simhash", "ivf") if not checks.same(got[k], want[k])]
        if got["final"] != kept:
            bad.append("final")
        if bad:
            problems.append(f"pass {i}: {', '.join(bad)} differ from the oracle")
            failed += 1
    items = N_DOCS * len(lat)
    pairs = len(results[-1]["simhash"]) + len(results[-1]["ivf"])
    return {
        "setup_s": setup_s,
        **loop,
        "items": items,
        "attempted": len(results),
        "failed": failed,
        "problems": problems,
        "report": {
            "docs_per_s": (items / wall, "1/s"),
            "pass_s.p50": (common.summarize(lat)["p50"], "s"),
            "pass_s.tail": (common.summarize(lat)["tail"], "s"),
            "simhash_pairs": (len(want["simhash"]), "count"),
            "kept_docs": (kept, "count"),
        },
        "layers": {
            "operators.pairs_out": pairs * len(lat),
            "pipelines.kept_docs": kept,
        },
        "run_totals": ("pipelines.kept_docs",),
    }
