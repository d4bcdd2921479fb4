"""Benchmark harness — run headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Protocol (round-4): INTERLEAVED PAIRED SAMPLES. Shared-host variance
on this sandbox exceeded the round-over-round effect size (round-3
VERDICT: identical binaries measured 41.8 s and 64.8 s back-to-back),
so a single pass per phase is not a signal. Every phase now runs
SPARK_GRAFT_BENCH_ROUNDS (default 3) full passes, interleaved — round
1 of every phase completes before round 2 of any phase starts — so a
host slowdown lands on all phases alike instead of whichever phase it
happened to hit. Reported per phase:
  * "queries"  — the per-phase MEDIAN wall (comparable to prior rounds'
                 single-pass values),
  * "spread"   — (max - min) / median across rounds — the honest
                 noise bar; a cross-round perf claim smaller than the
                 spread is not a claim.
"value" stays the sum of medians over the round-1-comparable phase set.

A second, larger corpus (SPARK_GRAFT_BENCH_LARGE synthetic docs,
default 100k, 0 disables) is benched under the "large" key — at 500
docs/sf0.01 the fixed per-job costs (session, planning, Python worker
spin-up) dominate every wall; the 100k-doc numbers are the ones that
say anything about throughput.

Headline workload (the north_rule metric surface):
  * index_build   — full BM25 weight pipeline over documents, materialized
  * bm25_topk     — batch of queries answered via broadcast join + top-k
  * tokenize      — raw tokenizer throughput (JVM expression path)
  * index_build_compressed / query_{bmw,distributed,auto} — the
    posting-list engine
  * delta_refresh / query_bmw_raw — segmented raw-index maintenance
  * query_serving — 1000-query batch through the driver-side serving
    map (one Spark job total): the BM25 top-10 QPS shape of the north
    rule, measured on the path built for it

Run the N-vs-4N scaling study with scripts/bench_scale.py (identical
synthetic input, fresh JVM per level → BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time


def _median(xs: list[float]) -> float:
    return statistics.median(xs)


def _spread(xs: list[float]) -> float:
    m = _median(xs)
    return (max(xs) - min(xs)) / m if m > 0 else 0.0


def _run_pass(spark, docs, queries, work, cpus, entry_mod) -> dict[str, float]:
    """One full pass over every phase; returns phase -> wall seconds."""
    from pyspark.sql import functions as F

    from neural_cherche_spark.index import bm25_weights
    from neural_cherche_spark.index.builder import build_index
    from neural_cherche_spark.query import bmw, retrieve_exact
    from neural_cherche_spark.streaming import CompressedIndexStream
    from neural_cherche_spark.text.ngrams import ngram_terms_column

    t: dict[str, float] = {}

    # index build (tokenize -> tf -> stats -> weights), materialized
    t0 = time.perf_counter()
    w = bm25_weights(docs)
    w.write.mode("overwrite").parquet(f"{work}/bench_weights.parquet")
    t["index_build"] = time.perf_counter() - t0
    w_stored = spark.read.parquet(f"{work}/bench_weights.parquet")

    # BM25 top-10 for the literal query batch
    t0 = time.perf_counter()
    retrieve_exact(w_stored, queries, k=10).collect()
    t["bm25_topk"] = time.perf_counter() - t0

    # tokenizer throughput (JVM expression, no Python)
    t0 = time.perf_counter()
    docs.select(F.explode(ngram_terms_column("text")).alias("t")).count()
    t["tokenize"] = time.perf_counter() - t0

    # compressed posting-list index build (full staged pipeline)
    idx_dir = f"{work}/bench_index"
    shutil.rmtree(idx_dir, ignore_errors=True)
    t0 = time.perf_counter()
    index = build_index(
        spark, docs, idx_dir, id_col="doc_id", n_buckets=cpus, resume=False
    )
    t["index_build_compressed"] = time.perf_counter() - t0

    # batch QPS over the compressed index, corpus-derived queries
    load_queries = docs.limit(64).select(
        F.col("doc_id").alias("query_id"),
        F.expr("array_join(slice(split(text, ' '), 1, 3), ' ')").alias(
            "query"
        ),
    ).cache()
    load_queries.count()
    # one untimed warmup: first-call JIT/codegen/broadcast setup
    bmw.search_bmw(index, load_queries, k=10).collect()
    for mode in ("bmw", "distributed", "auto"):
        t0 = time.perf_counter()
        getattr(bmw, f"search_{mode}")(index, load_queries, k=10).collect()
        t[f"query_{mode}"] = time.perf_counter() - t0

    # serving path: 1000 short queries in ONE batched call through the
    # driver-side termdict map — one Spark job total (the postings
    # scan/score); prepare_serving() is untimed one-off setup
    serving_queries = [
        r["q"]
        for r in docs.limit(1000)
        .select(
            F.expr("array_join(slice(split(text, ' '), 1, 3), ' ')").alias(
                "q"
            )
        )
        .collect()
    ]
    index.prepare_serving()
    bmw.search_bmw(index, serving_queries[:8]).collect()  # warmup
    t0 = time.perf_counter()
    bmw.search_bmw(index, serving_queries).collect()
    t["query_serving"] = time.perf_counter() - t0
    index.close()

    # raw-storage build + O(new batch) delta refresh: the stream holds
    # 7/8 of the corpus, materializes, then the LAST 1/8 arrives and
    # only the refresh is the timed wall — steady-state maintenance
    state_dir = f"{work}/bench_state"
    delta_dir = f"{work}/bench_delta_idx"
    shutil.rmtree(state_dir, ignore_errors=True)
    shutil.rmtree(delta_dir, ignore_errors=True)
    stream = CompressedIndexStream(spark, state_dir)
    head = docs.filter(F.col("doc_id") % 8 != 0)
    tail = docs.filter(F.col("doc_id") % 8 == 0)
    stream.add_batch(head, epoch_id=0)
    stream.materialize(delta_dir, n_buckets=cpus, storage="raw")
    t0 = time.perf_counter()
    stream.add_batch(tail, epoch_id=1)
    ridx = stream.materialize(delta_dir, n_buckets=cpus, storage="raw")
    t["delta_refresh"] = time.perf_counter() - t0

    # query the segmented raw index (query-time weights, f64)
    bmw.search_bmw(ridx, load_queries, k=10).collect()  # warmup
    t0 = time.perf_counter()
    bmw.search_bmw(ridx, load_queries, k=10).collect()
    t["query_bmw_raw"] = time.perf_counter() - t0

    load_queries.unpersist()
    return t


def _run_large(spark, work, cpus, n_docs_large, rounds) -> dict:
    """Bigger-corpus samples: synthetic webtext at n_docs_large docs —
    build + query walls where fixed per-job costs no longer dominate."""
    from pyspark.sql import functions as F

    from neural_cherche_spark.data import synth_queries, synth_webtext
    from neural_cherche_spark.index.builder import build_index
    from neural_cherche_spark.query import bmw

    corpus_path = f"{work}/bench_large_corpus.parquet"
    docs = synth_webtext(spark, n_docs_large, seed=4).select("url", "text")
    docs.write.mode("overwrite").parquet(corpus_path)
    docs = spark.read.parquet(corpus_path)
    queries = synth_queries(spark, 256, seed=41).cache()
    n_q = queries.count()
    # per-query serving latency sample (north-rule QPS surface is a
    # SINGLE query through the serving map — the batch wall hides the
    # tail): 48 one-query calls per round, percentiles across the round
    serve_texts = [
        r["query"]
        for r in sorted(queries.collect(), key=lambda r: r["query_id"])[:48]
    ]

    builds, qwalls, p50s, p95s = [], [], [], []
    lp50s, lp95s, lqps = [], [], []
    index = None
    for _ in range(rounds):
        idx_dir = f"{work}/bench_large_idx"
        shutil.rmtree(idx_dir, ignore_errors=True)
        t0 = time.perf_counter()
        index = build_index(
            spark, docs, idx_dir, id_col=None, n_buckets=cpus, resume=False
        )
        builds.append(time.perf_counter() - t0)
        bmw.search_bmw(index, queries, k=10).collect()  # warmup
        t0 = time.perf_counter()
        bmw.search_bmw(index, queries, k=10).collect()
        qwalls.append(time.perf_counter() - t0)
        index.prepare_serving()
        bmw.search_bmw(index, serve_texts[:4]).collect()  # warmup
        lat = []
        for qt in serve_texts:
            t0 = time.perf_counter()
            bmw.search_bmw(index, [qt]).collect()
            lat.append((time.perf_counter() - t0) * 1e3)
        lat.sort()
        p50s.append(lat[len(lat) // 2])
        p95s.append(lat[min(len(lat) - 1, int(len(lat) * 0.95))])
        # Spark-free serving tier (serve.LocalSearcher): same artifact,
        # same scorer, zero Spark jobs per query — the deployment shape
        # a single-node serving fleet runs
        from neural_cherche_spark.serve import LocalSearcher

        srv = LocalSearcher.from_index(index)
        srv.search(serve_texts[0], k=10)  # warm pyarrow dataset state
        llat = []
        t_all = time.perf_counter()
        for qt in serve_texts:
            t0 = time.perf_counter()
            srv.search(qt, k=10)
            llat.append((time.perf_counter() - t0) * 1e3)
        local_wall = time.perf_counter() - t_all
        llat.sort()
        lp50s.append(llat[len(llat) // 2])
        lp95s.append(llat[min(len(llat) - 1, int(len(llat) * 0.95))])
        lqps.append(len(serve_texts) / local_wall)
        index.close()
    queries.unpersist()
    return {
        "n_docs": n_docs_large,
        "n_queries": n_q,
        "n_postings": index.manifest.n_postings,
        "build_sec": round(_median(builds), 3),
        "build_spread": round(_spread(builds), 3),
        "docs_per_sec_build": round(n_docs_large / _median(builds), 1),
        "query_bmw_sec": round(_median(qwalls), 3),
        "query_bmw_spread": round(_spread(qwalls), 3),
        "qps_bmw": round(n_q / _median(qwalls), 2),
        "serving_p50_ms": round(_median(p50s), 1),
        "serving_p50_spread": round(_spread(p50s), 3),
        "serving_p95_ms": round(_median(p95s), 1),
        "serving_p95_spread": round(_spread(p95s), 3),
        "serving_local_p50_ms": round(_median(lp50s), 2),
        "serving_local_p50_spread": round(_spread(lp50s), 3),
        "serving_local_p95_ms": round(_median(lp95s), 2),
        "serving_local_p95_spread": round(_spread(lp95s), 3),
        "qps_serving_local": round(_median(lqps), 1),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    rounds = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "3"))
    n_large = int(os.environ.get("SPARK_GRAFT_BENCH_LARGE", "100000"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from neural_cherche_spark.session import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark(
        app_name="bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    # working set on tmpfs: the host /tmp disk sustains ~340 MB/s and
    # is shared — on-disk writes there measure the neighbor's IO, not
    # the engine (same hygiene as scripts/bench_scale.py)
    work = "/dev/shm/bench_work" if os.path.isdir("/dev/shm") else "/tmp"
    os.makedirs(work, exist_ok=True)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    queries = entry_mod._queries_df(spark)
    n_queries = queries.count()

    samples: dict[str, list[float]] = {}
    for _ in range(rounds):
        for k, v in _run_pass(
            spark, docs, queries, work, cpus, entry_mod
        ).items():
            samples.setdefault(k, []).append(v)

    timings = {k: _median(v) for k, v in samples.items()}
    spread = {k: round(_spread(v), 3) for k, v in samples.items()}

    # counts for throughput keys (one extra untimed pass-shaped probe)
    from neural_cherche_spark.index import bm25_weights
    from neural_cherche_spark.query import retrieve_exact

    w_stored = spark.read.parquet(f"{work}/bench_weights.parquet")
    n_postings = w_stored.count()
    n_results = len(retrieve_exact(w_stored, queries, k=10).collect())
    n_load = min(64, n_docs)
    n_serving = min(1000, n_docs)
    n_tail = docs.filter("doc_id % 8 = 0").count()

    # e2e headline = the phase set benched since round 1 (comparable
    # across BENCH_r{N}.json); later phases are additional keys
    r1_phases = (
        "index_build", "bm25_topk", "tokenize", "index_build_compressed",
        "query_bmw", "query_distributed", "query_auto",
    )
    total = sum(timings[p] for p in r1_phases)

    out = {
        "metric": "bm25_engine_e2e",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "spread": spread,
        "rounds": rounds,
        "sf": sf,
        "n_docs": n_docs,
        "n_postings": n_postings,
        "n_queries": n_queries,
        "n_results": n_results,
        "docs_per_sec_build": round(n_docs / timings["index_build"], 1),
        "docs_per_sec_compressed": round(
            n_docs / timings["index_build_compressed"], 1
        ),
        "qps_topk": round(n_queries / timings["bm25_topk"], 2),
        "qps_bmw": round(n_load / timings["query_bmw"], 2),
        "qps_distributed": round(n_load / timings["query_distributed"], 2),
        "qps_auto": round(n_load / timings["query_auto"], 2),
        "qps_serving": round(n_serving / timings["query_serving"], 2),
        "docs_per_sec_delta_refresh": round(
            n_tail / timings["delta_refresh"], 1
        ),
        "qps_bmw_raw": round(n_load / timings["query_bmw_raw"], 2),
    }
    if n_large > 0:
        out["large"] = _run_large(
            spark, work, cpus, n_large, max(2, min(rounds, 3))
        )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
