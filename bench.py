#!/usr/bin/env python
"""Benchmark harness (driver contract: prints ONE JSON line).

Measures the headline extraction throughput (docs/sec through the fused
mapInPandas pipeline over a deterministic synthetic pages corpus derived
from ``$SPARK_GRAFT_SF_DIR/documents.parquet``) plus wall times for a
representative slice of the operator matrix.

Environment:
  SPARK_GRAFT_SF_DIR   input tables dir   (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[N] cores     (default: the host's, session.py)
  BENCH_TARGET_DOCS    corpus size        (default 200_000)
  BENCH_SKIP_QUERIES   "1" -> extraction only

The pages corpus is generated distributed (mapInPandas) and cached under
data/bench_pages/; generation time is excluded from the measured wall.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TARGET_DOCS = int(os.environ.get("BENCH_TARGET_DOCS", "200000"))
REPO = os.path.dirname(os.path.abspath(__file__))

HEADLINE_QUERIES = (
    "qr02_agg_pricing_summary",
    "qr04_multiway_dim_join",
    "qr07_window_topk_per_group",
    "qt05_minhash_signatures",
    "qt08_simhash",
    "qs02_cosine_topk",
    "qr25_asof_join",
    "qg01_pagerank",
    "qx01_roundtrip_match",
)


def build_corpus(spark, sf_dir: str, target_docs: int) -> str:
    """Generate (once) and cache the bench pages corpus; returns its path."""
    from pyspark.sql import functions as F

    from pdf_spark.gen.corpus import pages_from_documents

    from pdf_spark.gen.pdfgen import N_VARIANTS

    # variant count in the cache key: a new generator variant invalidates
    # the cached corpus automatically
    tag = os.path.basename(os.path.normpath(sf_dir))
    out = os.path.join(
        REPO, "data", "bench_pages", f"{tag}_n{target_docs}_v{N_VARIANTS}"
    )
    marker = os.path.join(out, "_SUCCESS")
    if os.path.exists(marker):
        return out
    cores = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    # Drive replication from spark.range(target): the range source is
    # parallel by construction and the small documents table broadcasts, so
    # id generation, text lookup AND the expensive PDF build all fan out
    # across ~8*cores partitions. (The previous docs-side crossJoin +
    # .limit() inherited the single-file table's ONE partition and
    # serialized the whole generation on one task.)
    src = F.broadcast(docs.select(F.col("doc_id").alias("src_id"), "text"))
    replicated = (
        spark.range(0, target_docs, 1, max(256, cores * 8))
        .withColumnRenamed("id", "doc_id")
        .join(src, F.col("doc_id") % n == F.col("src_id"))
        .select("doc_id", "text")
    )
    pages = pages_from_documents(replicated)
    # many small-ish files: parse is ~1 s/MB/core, so ~2 MB files give
    # ~2-4 s tasks and many scheduling waves per core at any cluster size
    # (parquet row groups bound split granularity, so file count is the
    # real knob, not maxPartitionBytes). The range partitioning above
    # already yields that file count — no post-generation shuffle needed.
    pages.write.mode("overwrite").parquet(out)
    return out


def main() -> None:
    t_setup = time.time()
    from pyspark.sql import functions as F

    from pdf_spark.operators.extract import extract_docs_text
    from pdf_spark.session import spark_session

    spark = spark_session("pdf-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    corpus = build_corpus(spark, SF_DIR, TARGET_DOCS)
    pages = spark.read.parquet(corpus)
    stats = pages.agg(
        F.count("*").alias("n"), F.avg(F.length("html")).alias("avg_bytes")
    ).collect()[0]
    n_docs, avg_bytes = stats["n"], stats["avg_bytes"] or 1.0

    # warm the Python workers (fork + imports are one-time per executor and
    # amortize to zero on a long-running corpus job; excluded from steady
    # state, included in cold_wall_sec below)
    setup_s = time.time() - t_setup

    # headline: fused extraction. First pass pays Python-worker startup
    # (cold); the steady-state number is the MEDIAN of BENCH_QUERY_REPEATS
    # warm passes so a single scheduler stall in one window can never own
    # the round's headline (round-3 lesson: the one single-shot metric in
    # this file was the one the driver recorded 2x slow during a contended
    # window while every median-of-3 query improved).
    import statistics

    def one_pass() -> dict:
        agg = extract_docs_text(pages).groupBy("status").count().collect()
        return {r["status"]: r["count"] for r in agg}

    repeats = max(1, int(os.environ.get("BENCH_QUERY_REPEATS", "3")))

    t0 = time.time()
    counts = one_pass()
    cold_s = time.time() - t0
    # plateau warmup before measurement: JVM JIT at 32 threads keeps
    # improving for ~6-8 passes (scaling-sandwich evidence 2026-08-19:
    # hi-side passes climbed 36.7k -> 68.8k docs/s after the cold pass);
    # the fused metric claims steady state, so warm until two consecutive
    # passes land within 3% of best (cap 6 warm passes), THEN measure.
    best = None
    flat = 0
    n_warm = 0
    for _ in range(int(os.environ.get("BENCH_WARM_CAP", "6"))):
        t0 = time.time()
        one_pass()
        t = time.time() - t0
        n_warm += 1
        flat = 0 if best is None or t < best * 0.97 else flat + 1
        best = t if best is None else min(best, t)
        if flat >= 2:
            break
    fused_walls: list[float] = []
    for _ in range(repeats):
        t0 = time.time()
        counts = one_pass()
        fused_walls.append(time.time() - t0)
    extract_s = statistics.median(fused_walls)
    fused_spread = [round(min(fused_walls), 3), round(max(fused_walls), 3)]

    # Per-query medians over same-window repeats: single-window wall times
    # on this host swing up to ~2.7x between rounds, so one-shot per-query
    # numbers cannot distinguish a regression from drift. The JSON keeps
    # "queries" as the MEDIAN of BENCH_QUERY_REPEATS runs and adds
    # "queries_spread" with [min, max] so the dispersion is visible.
    queries: dict[str, float] = {"extract_fused": round(extract_s, 3)}
    spreads: dict[str, list[float]] = {"extract_fused": fused_spread}
    if os.environ.get("BENCH_SKIP_QUERIES") != "1":
        from pdf_spark.functions.registry import all_queries

        qmap = all_queries()
        # one untimed warm pass per query before measuring: a query's
        # first execution pays Catalyst planning + codegen + shuffle-file
        # setup, which is exactly the noise that made qr25's r4 median
        # (1.104s) 2.5x its own warm floor (0.443s in the same window's
        # spread). The fused headline already warms to plateau; the
        # per-query medians get the same treatment.
        for name in HEADLINE_QUERIES:
            qmap[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
        # round-robin over queries (q1 q2 ... qN, q1 q2 ... qN, ...) so one
        # slow host window penalizes every query equally, not one of them
        walls: dict[str, list[float]] = {name: [] for name in HEADLINE_QUERIES}
        for _ in range(repeats):
            for name in HEADLINE_QUERIES:
                t0 = time.time()
                df = qmap[name](spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
                walls[name].append(time.time() - t0)
        for name, ws in walls.items():
            queries[name] = round(statistics.median(ws), 3)
            spreads[name] = [round(min(ws), 3), round(max(ws), 3)]

    result = {
        "metric": "extraction_wall_sec_fused",
        "value": round(extract_s, 3),
        "unit": "sec",
        "queries": queries,
        "sf": os.path.basename(os.path.normpath(SF_DIR)),
        "n_docs": n_docs,
        "n_ok": counts.get("ok", 0),
        "n_err": counts.get("error", 0),
        "docs_per_sec": round(n_docs / extract_s, 1),
        "cold_wall_sec": round(cold_s, 3),
        "arrow_batch_rows": int(
            spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        ),
        "avg_doc_bytes": int(avg_bytes),
        "cores": spark.sparkContext.defaultParallelism,
        "setup_sec": round(setup_s, 3),
        "query_repeats": repeats,
        "fused_warm_passes": n_warm,
        "queries_spread": spreads,
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
