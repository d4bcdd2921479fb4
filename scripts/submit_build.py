"""spark-submit entry point: build the BM25 index + answer a query batch.

The north_rule launch shape:

    python scripts/make_dist.py                     # -> dist/engine.zip
    spark-submit --master local[32] \\
        --py-files dist/engine.zip \\
        scripts/submit_build.py \\
        --input /root/testdata/sf0.01/documents.parquet \\
        --index-dir /tmp/idx --queries 64 --k 10

On a real cluster the same command takes --master yarn/k8s and the
identical --py-files zip; nothing in the job is local-mode-specific.
Prints one JSON line with build/query throughput.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--queries", type=int, default=64)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--mode", default="distributed")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("bm25_index_build").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from pyspark.sql import functions as F

    from neural_cherche_spark.index.builder import build_index
    from neural_cherche_spark.query import bmw

    docs = spark.read.parquet(args.input)
    n = docs.count()
    t0 = time.perf_counter()
    index = build_index(
        spark, docs, args.index_dir, id_col=args.id_col,
        n_buckets=args.n_buckets,
    )
    build_s = time.perf_counter() - t0

    # query the corpus's RAREST words: rare terms have positive idf, so
    # results are non-empty on any vocabulary (reference semantics drop
    # scores ≤ 0, and stopwords get negative idf when tf_total > N)
    rare = (
        docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
        .filter(F.length("w") >= 3)
        .groupBy("w")
        .count()
        .orderBy(F.col("count").asc(), F.col("w").asc())
        .limit(args.queries)
        .collect()
    )
    queries = spark.createDataFrame(
        [(i, r["w"]) for i, r in enumerate(rare)], "query_id long, query string"
    )
    t0 = time.perf_counter()
    n_res = getattr(bmw, f"search_{args.mode}")(index, queries, k=args.k).count()
    query_s = time.perf_counter() - t0

    print(
        json.dumps(
            {
                "n_docs": n,
                "n_postings": index.manifest.n_postings,
                "build_s": round(build_s, 3),
                "docs_per_sec": round(n / build_s, 1),
                "query_s": round(query_s, 3),
                "qps": round(args.queries / query_s, 2),
                "n_results": n_res,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
