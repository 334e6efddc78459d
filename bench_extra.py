"""Round-7 optimization profiling harness (guide §1.4): noop-sink stage
isolation for the dominant bench rows.  NOT part of the frozen driver
contract — bench.py stays the measured artifact; numbers from here are
cited in OPTIMIZATION_r07.md.

Usage:
    python bench_extra.py decided_pairs [sf_dir]
    python bench_extra.py rag_context [sf_dir]
    python bench_extra.py dedup [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

import pandas as pd  # noqa: F401  (pandas_udf type hints resolve here)


def _spark():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from earcrawler_spark.session import get_spark

    return get_spark("bench_extra", master=f"local[{cpus}]",
                     shuffle_partitions=cpus)


def _noop(spark, name, df, times):
    spark.sparkContext.setJobDescription(name)
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    times[name] = round(time.perf_counter() - t0, 3)
    spark.sparkContext.setJobDescription(None)
    print(f"  {name:40s} {times[name]:8.3f}s", flush=True)


def profile_decided_pairs(spark, sf_dir):
    """Cumulative noop timings of each pipeline prefix (each row includes
    its upstream, cold): ents -> blocking -> enriched -> scored -> decided."""
    from earcrawler_spark.operators.reconcile import (
        blocking_pairs_v2,
        decide_pairs_v2,
        score_pairs_v2,
        with_norm,
    )
    from earcrawler_spark.queries_fidelity import (
        RECONCILE_BLACKLIST,
        RECONCILE_WHITELIST,
        _synth_entities,
    )
    from earcrawler_spark.session import table
    from pyspark.sql import functions as F

    times: dict[str, float] = {}
    ents = with_norm(_synth_entities(table(spark, sf_dir, "part")))
    _noop(spark, "ents", ents, times)
    pairs = blocking_pairs_v2(ents)
    _noop(spark, "blocking_pairs_v2", pairs, times)
    left = ents.select(*[F.col(c).alias(f"{c}_a") for c in ents.columns])
    right = ents.select(*[F.col(c).alias(f"{c}_b") for c in ents.columns])
    enriched = pairs.join(left, "id_a").join(right, "id_b")
    _noop(spark, "enriched(+attrs)", enriched, times)
    scored = score_pairs_v2(enriched)
    _noop(spark, "scored(9 features)", scored, times)
    decided = decide_pairs_v2(
        scored, whitelist=RECONCILE_WHITELIST, blacklist=RECONCILE_BLACKLIST
    )
    _noop(spark, "decided", decided, times)
    # second run of the full pipeline = warm JVM reading
    _noop(spark, "decided(warm)", decided, times)
    return times


def profile_rag_context(spark, sf_dir):
    """Cumulative noop timings of build_rag_context prefixes."""
    from earcrawler_spark.operators.ranking import bm25_scores, rrf_fuse, topk_ranked
    from earcrawler_spark.operators.similarity import cosine
    from earcrawler_spark.queries_rag import (
        BM25_TERMS,
        RAG_CAND_K,
        RAG_PROMPT,
        RAG_QUERY_K,
        _rag_metadata,
        build_rag_context,
    )
    from earcrawler_spark.session import table
    from earcrawler_spark.operators.citation import apply_citation_boost, extract_targets
    from pyspark.sql import functions as F

    times: dict[str, float] = {}
    docs = table(spark, sf_dir, "documents")
    meta = _rag_metadata(docs)
    bm25 = bm25_scores(docs, BM25_TERMS, k=RAG_CAND_K).select("doc_id", "rank")
    _noop(spark, "bm25_cand", bm25, times)
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    dense_scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(F.col("v"), F.col("qv")), 6).alias("sim"),
        )
    )
    dense = topk_ranked(
        dense_scored, [F.desc("sim"), F.col("doc_id")], RAG_CAND_K
    ).select("doc_id", "rank")
    _noop(spark, "dense_cand", dense, times)
    fused = rrf_fuse(bm25, dense, k=RAG_QUERY_K)
    _noop(spark, "fused(rrf top20)", fused, times)
    results = fused.join(
        meta.select(F.col("row_id").alias("doc_id"), "section_id"), "doc_id", "left"
    ).select(
        F.col("fused_rank").alias("rank"), "doc_id", "section_id",
        F.col("rrf").alias("score"),
    )
    _noop(spark, "results(+meta)", results, times)
    boosted = apply_citation_boost(
        results, meta, extract_targets(spark, RAG_PROMPT), k=RAG_QUERY_K
    )
    _noop(spark, "boosted", boosted, times)
    full = build_rag_context(spark, sf_dir)
    _noop(spark, "full_build_cold", full, times)
    _noop(spark, "full_build_warm", build_rag_context(spark, sf_dir), times)
    return times


def profile_dedup(spark, sf_dir):
    from earcrawler_spark.operators.similarity import (
        dedup_clusters,
        lsh_candidate_pairs,
    )
    from earcrawler_spark.session import table

    times: dict[str, float] = {}
    docs = table(spark, sf_dir, "documents")
    _noop(spark, "lsh_candidate_pairs", lsh_candidate_pairs(docs), times)
    t0 = time.perf_counter()
    spark.sparkContext.setJobDescription("dedup_clusters full")
    dedup_clusters(docs).count()
    times["dedup_clusters_full"] = round(time.perf_counter() - t0, 3)
    print(f"  {'dedup_clusters_full':40s} {times['dedup_clusters_full']:8.3f}s")
    return times


def main():
    which = sys.argv[1] if len(sys.argv) > 1 else "decided_pairs"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = _spark()
    from bench import _warm_python_workers

    _warm_python_workers(spark)
    fn = {
        "decided_pairs": profile_decided_pairs,
        "rag_context": profile_rag_context,
        "dedup": profile_dedup,
    }[which]
    print(f"== {which} @ {sf_dir} ==", flush=True)
    t = fn(spark, sf_dir)
    import json

    print(json.dumps(t))


if __name__ == "__main__":
    main()
