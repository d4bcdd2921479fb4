"""Round-6 optimization harness (bench.py is FROZEN for measurement —
this file holds the extra instrumentation the optimization round needs):

  * per-phase isolation with the noop sink (guide §1.4) and job labels
    (guide §1.5), so a phase's wall is the computation, not the sink;
  * ``.explain("formatted")`` capture for every headline query path
    into plans/r06/<name>_{before,after}.txt;
  * build/refresh stage walls (the manifest already records them);
  * cProfile of the Spark-free serving tier (LocalSearcher).

Usage:
  python bench_extra.py plans before|after   # capture explains
  python bench_extra.py phases               # noop-isolated phase walls
  python bench_extra.py serving              # serving-path latency probes
  python bench_extra.py profile_local        # cProfile LocalSearcher
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time


def _spark():
    from neural_cherche_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return (
        get_spark(
            app_name="bench_extra",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
        ),
        cpus,
    )


def _setup(spark, cpus, work):
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = entry_mod._queries_df(spark)
    load_queries = docs.limit(64).select(
        F.col("doc_id").alias("query_id"),
        F.expr("array_join(slice(split(text, ' '), 1, 3), ' ')").alias(
            "query"
        ),
    ).cache()
    load_queries.count()
    return docs, queries, load_queries


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, label, fn, n=3):
    walls = []
    for _ in range(n):
        spark.sparkContext.setJobDescription(label)
        t0 = time.perf_counter()
        fn()
        walls.append(round(time.perf_counter() - t0, 3))
    spark.sparkContext.setJobDescription(None)
    print(json.dumps({"phase": label, "walls": walls}), flush=True)
    return min(walls)


def cmd_plans(tag: str) -> None:
    spark, cpus = _spark()
    work = "/dev/shm/bench_extra"
    os.makedirs(work, exist_ok=True)
    docs, queries, load_queries = _setup(spark, cpus, work)
    outdir = os.path.join(os.path.dirname(__file__), "plans", "r06")
    os.makedirs(outdir, exist_ok=True)

    from pyspark.sql import functions as F

    from neural_cherche_spark.index import bm25_weights
    from neural_cherche_spark.index.builder import build_index
    from neural_cherche_spark.query import bmw, retrieve_exact
    from neural_cherche_spark.text.ngrams import ngram_terms_column

    def cap(name, df):
        p = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(p, "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            ))
        print(f"wrote {p}")

    w = bm25_weights(docs)
    cap("index_build", w)
    w.write.mode("overwrite").parquet(f"{work}/weights.parquet")
    w_stored = spark.read.parquet(f"{work}/weights.parquet")
    cap("bm25_topk", retrieve_exact(w_stored, queries, k=10))
    cap(
        "tokenize",
        docs.select(F.explode(ngram_terms_column("text")).alias("t")),
    )
    idx_dir = f"{work}/idx"
    shutil.rmtree(idx_dir, ignore_errors=True)
    index = build_index(
        spark, docs, idx_dir, id_col="doc_id", n_buckets=cpus, resume=False
    )
    # plan queries: the ENTRY query set — it survives the round-6
    # driver-side nonpositive-idf prune, so the captured plan is the
    # real scan→group→rank machinery. The bench's corpus-derived
    # common-word load batch now prunes WHOLE (its plan is a local
    # empty relation — captured separately as *_pruned for evidence).
    for mode in ("bmw", "distributed", "auto"):
        search = getattr(bmw, f"search_{mode}")
        cap(f"query_{mode}", search(index, queries, k=10))
    cap("query_bmw_pruned", bmw.search_bmw(index, load_queries, k=10))
    import __spark_entry__ as entry_mod

    serving_queries = [q for _, q in entry_mod.QUERY_SET]
    index.prepare_serving()
    cap("query_serving", bmw.search_bmw(index, serving_queries))
    index.close()

    from neural_cherche_spark.streaming import CompressedIndexStream

    state_dir, delta_dir = f"{work}/state", f"{work}/delta_idx"
    shutil.rmtree(state_dir, ignore_errors=True)
    shutil.rmtree(delta_dir, ignore_errors=True)
    stream = CompressedIndexStream(spark, state_dir)
    stream.add_batch(docs.filter(F.col("doc_id") % 8 != 0), epoch_id=0)
    stream.materialize(delta_dir, n_buckets=cpus, storage="raw")
    stream.add_batch(docs.filter(F.col("doc_id") % 8 == 0), epoch_id=1)
    ridx = stream.materialize(delta_dir, n_buckets=cpus, storage="raw")
    cap("query_bmw_raw", bmw.search_bmw(ridx, queries, k=10))
    spark.stop()


def cmd_phases() -> None:
    """Noop-isolated phase walls + build/refresh stage breakdown."""
    spark, cpus = _spark()
    work = "/dev/shm/bench_extra"
    os.makedirs(work, exist_ok=True)
    docs, queries, load_queries = _setup(spark, cpus, work)

    from pyspark.sql import functions as F

    from neural_cherche_spark.index import bm25_weights
    from neural_cherche_spark.index.builder import build_index
    from neural_cherche_spark.query import bmw, retrieve_exact
    from neural_cherche_spark.streaming import CompressedIndexStream
    from neural_cherche_spark.text.ngrams import ngram_terms_column

    _timed(spark, "index_build(noop)", lambda: _noop(bm25_weights(docs)))
    bm25_weights(docs).write.mode("overwrite").parquet(
        f"{work}/weights.parquet"
    )
    w_stored = spark.read.parquet(f"{work}/weights.parquet")
    _timed(
        spark,
        "bm25_topk",
        lambda: retrieve_exact(w_stored, queries, k=10).collect(),
    )
    _timed(
        spark,
        "tokenize",
        lambda: docs.select(
            F.explode(ngram_terms_column("text")).alias("t")
        ).count(),
    )

    def build():
        idx_dir = f"{work}/idx"
        shutil.rmtree(idx_dir, ignore_errors=True)
        return build_index(
            spark, docs, idx_dir, id_col="doc_id", n_buckets=cpus,
            resume=False,
        )

    _timed(spark, "index_build_compressed", build, n=3)
    index = build()
    print(
        json.dumps(
            {
                "build_stage_walls": {
                    s: v.get("wall_s")
                    for s, v in index.manifest.stages.items()
                }
            }
        ),
        flush=True,
    )
    bmw.search_bmw(index, load_queries, k=10).collect()  # warmup
    for mode in ("bmw", "distributed", "auto"):
        _timed(
            spark,
            f"query_{mode}",
            lambda s=getattr(bmw, f"search_{mode}"): s(
                index, load_queries, k=10
            ).collect(),
        )
    serving_queries = [
        r["q"]
        for r in docs.limit(1000)
        .select(
            F.expr("array_join(slice(split(text, ' '), 1, 3), ' ')").alias("q")
        )
        .collect()
    ]
    index.prepare_serving()
    bmw.search_bmw(index, serving_queries[:8]).collect()
    _timed(
        spark,
        "query_serving(1000)",
        lambda: bmw.search_bmw(index, serving_queries).collect(),
    )
    index.close()

    # delta refresh with stage walls
    def refresh():
        state_dir, delta_dir = f"{work}/state", f"{work}/delta_idx"
        shutil.rmtree(state_dir, ignore_errors=True)
        shutil.rmtree(delta_dir, ignore_errors=True)
        stream = CompressedIndexStream(spark, state_dir)
        stream.add_batch(docs.filter(F.col("doc_id") % 8 != 0), epoch_id=0)
        stream.materialize(delta_dir, n_buckets=cpus, storage="raw")
        t0 = time.perf_counter()
        stream.add_batch(docs.filter(F.col("doc_id") % 8 == 0), epoch_id=1)
        t_add = time.perf_counter() - t0
        t0 = time.perf_counter()
        ridx = stream.materialize(delta_dir, n_buckets=cpus, storage="raw")
        t_mat = time.perf_counter() - t0
        print(
            json.dumps(
                {
                    "delta_add_batch": round(t_add, 3),
                    "delta_materialize": round(t_mat, 3),
                    "refresh_stage_walls": {
                        s: v.get("wall_s")
                        for s, v in ridx.manifest.stages.items()
                    },
                }
            ),
            flush=True,
        )
        return ridx

    ridx = refresh()
    refresh()
    bmw.search_bmw(ridx, load_queries, k=10).collect()
    _timed(
        spark,
        "query_bmw_raw",
        lambda: bmw.search_bmw(ridx, load_queries, k=10).collect(),
    )
    spark.stop()


def cmd_serving() -> None:
    """Large-corpus serving-path probes (Spark + LocalSearcher)."""
    spark, cpus = _spark()
    work = "/dev/shm/bench_extra"
    os.makedirs(work, exist_ok=True)
    n_docs = int(os.environ.get("BX_LARGE", "100000"))

    from neural_cherche_spark.data import synth_queries, synth_webtext
    from neural_cherche_spark.index.builder import build_index
    from neural_cherche_spark.query import bmw
    from neural_cherche_spark.serve import LocalSearcher

    corpus_path = f"{work}/large_corpus.parquet"
    if not os.path.exists(corpus_path):
        synth_webtext(spark, n_docs, seed=4).select("url", "text").write.mode(
            "overwrite"
        ).parquet(corpus_path)
    docs = spark.read.parquet(corpus_path)
    queries = synth_queries(spark, 256, seed=41).cache()
    serve_texts = [
        r["query"]
        for r in sorted(queries.collect(), key=lambda r: r["query_id"])[:48]
    ]
    idx_dir = f"{work}/large_idx"
    if not os.path.exists(os.path.join(idx_dir, "manifest.json")):
        shutil.rmtree(idx_dir, ignore_errors=True)
        t0 = time.perf_counter()
        index = build_index(
            spark, docs, idx_dir, id_col=None, n_buckets=cpus, resume=False
        )
        print(json.dumps({"large_build_sec": round(time.perf_counter() - t0, 3)}))
        print(json.dumps({"build_stage_walls": {
            s: v.get("wall_s") for s, v in index.manifest.stages.items()
        }}), flush=True)
    else:
        from neural_cherche_spark.index.builder import BM25Index

        index = BM25Index(spark, idx_dir)
    bmw.search_bmw(index, queries, k=10).collect()
    t0 = time.perf_counter()
    bmw.search_bmw(index, queries, k=10).collect()
    print(json.dumps({"large_query_bmw_sec": round(time.perf_counter() - t0, 3)}))
    index.prepare_serving()
    bmw.search_bmw(index, serve_texts[:4]).collect()
    lat = []
    for qt in serve_texts:
        t0 = time.perf_counter()
        bmw.search_bmw(index, [qt]).collect()
        lat.append((time.perf_counter() - t0) * 1e3)
    lat.sort()
    print(json.dumps({
        "serving_p50_ms": round(lat[len(lat) // 2], 1),
        "serving_p95_ms": round(lat[int(len(lat) * 0.95)], 1),
    }), flush=True)
    srv = LocalSearcher.from_index(index)
    srv.search(serve_texts[0], k=10)
    llat = []
    t_all = time.perf_counter()
    for qt in serve_texts:
        t0 = time.perf_counter()
        srv.search(qt, k=10)
        llat.append((time.perf_counter() - t0) * 1e3)
    wall = time.perf_counter() - t_all
    llat.sort()
    print(json.dumps({
        "serving_local_p50_ms": round(llat[len(llat) // 2], 2),
        "serving_local_p95_ms": round(llat[int(len(llat) * 0.95)], 2),
        "qps_serving_local": round(len(serve_texts) / wall, 2),
    }), flush=True)
    spark.stop()


def cmd_ops_sweep() -> None:
    """Noop-time EVERY declared entry query (the operator checklist in
    OPTIMIZATION_r06.md): `python bench_extra.py ops_sweep [sf_dir]`."""
    import __spark_entry__ as entry_mod

    spark, cpus = _spark()
    sf_dir = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    )
    for name, fn in entry_mod.queries().items():
        spark.sparkContext.setJobDescription(f"ops_sweep: {name}")
        t0 = time.perf_counter()
        try:
            _noop(fn(spark, sf_dir))
            wall = round(time.perf_counter() - t0, 3)
        except Exception as e:  # keep sweeping; report the failure
            wall = f"ERR {type(e).__name__}: {e}"[:120]
        print(json.dumps({name: wall}), flush=True)
    spark.sparkContext.setJobDescription(None)
    spark.stop()


def cmd_profile_local() -> None:
    """cProfile the LocalSearcher single-query path on the large index
    built by cmd_serving (run `serving` first)."""
    import cProfile
    import pstats

    spark, cpus = _spark()
    work = "/dev/shm/bench_extra"
    from neural_cherche_spark.data import synth_queries
    from neural_cherche_spark.index.builder import BM25Index
    from neural_cherche_spark.serve import LocalSearcher

    queries = synth_queries(spark, 256, seed=41)
    serve_texts = [
        r["query"]
        for r in sorted(queries.collect(), key=lambda r: r["query_id"])[:48]
    ]
    index = BM25Index(spark, f"{work}/large_idx")
    index.prepare_serving()
    srv = LocalSearcher.from_index(index)
    srv.search(serve_texts[0], k=10)
    pr = cProfile.Profile()
    pr.enable()
    for qt in serve_texts:
        srv.search(qt, k=10)
    pr.disable()
    stats = pstats.Stats(pr)
    stats.sort_stats("cumulative").print_stats(35)
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "phases"
    if cmd == "plans":
        cmd_plans(sys.argv[2] if len(sys.argv) > 2 else "before")
    elif cmd == "phases":
        cmd_phases()
    elif cmd == "serving":
        cmd_serving()
    elif cmd == "profile_local":
        cmd_profile_local()
    elif cmd == "ops_sweep":
        cmd_ops_sweep()
    else:
        raise SystemExit(f"unknown command {cmd!r}")
