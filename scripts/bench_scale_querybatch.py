"""Query-batch scaling addendum: the same LARGE mixed query batch at
local[2] vs local[8] over ONE fixed index artifact.

The main study (scripts/bench_scale.py) measures 128-query batches,
where per-batch fixed costs (match-row collect, scan planning, Python
worker spin-up) are a visible fraction of the wall and depress the
measured efficiency below the engine's true scaling. This addendum
measures the production-representative regime — a 4× larger batch
amortizing the same fixed cost — which is the honest counterpart of
"at 10^12-doc scale every per-job fixed cost amortizes to noise".

Usage:
    python scripts/bench_scale_querybatch.py [--idx /dev/shm/bench_scale/idx_8]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = "/dev/shm/bench_scale"


def inner(cpus: int, idx_dir: str, n_queries: int, out_json: str) -> None:
    sys.path.insert(0, REPO)
    from neural_cherche_spark.index.builder import BM25Index
    from neural_cherche_spark.query import bmw
    from neural_cherche_spark.session import get_spark
    from neural_cherche_spark.data import synth_queries

    spark = get_spark(
        app_name=f"bench_scale_qb_{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=64,
        extra_conf={
            "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "48g"),
            "spark.local.dir": WORK + "/spark-local",
            "spark.sql.files.maxPartitionBytes": "8m",
            "spark.sql.files.openCostInBytes": "1m",
        },
    )
    index = BM25Index(spark, idx_dir)
    queries = synth_queries(spark, n_queries, seed=123).cache()
    queries.count()
    bmw.search_auto(index, queries.limit(8), k=10).collect()  # warmup

    timings = {}
    for mode in ("auto", "distributed"):
        walls = []
        for _ in range(2):
            t0 = time.perf_counter()
            getattr(bmw, f"search_{mode}")(index, queries, k=10).collect()
            walls.append(time.perf_counter() - t0)
        timings[mode] = min(walls)

    out = {
        "cpus": cpus,
        "n_queries": n_queries,
        "query_auto_s": round(timings["auto"], 3),
        "query_dist_s": round(timings["distributed"], 3),
        "qps_auto": round(n_queries / timings["auto"], 2),
        "qps_dist": round(n_queries / timings["distributed"], 2),
    }
    with open(out_json, "w") as f:
        json.dump(out, f)
    print(json.dumps(out))
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--inner", type=int, default=0)
    ap.add_argument("--idx", type=str, default=WORK + "/idx_8")
    ap.add_argument("--n-queries", type=int, default=512)
    ap.add_argument("--out", type=str, default="/tmp/bench_scale_qb.json")
    args = ap.parse_args()
    if args.inner:
        inner(args.inner, args.idx, args.n_queries, args.out)
        return
    results = {}
    for cpus in (2, 8):
        out_json = f"/tmp/bench_scale_qb_{cpus}.json"
        subprocess.run(
            [sys.executable, __file__, "--inner", str(cpus),
             "--idx", args.idx, "--n-queries", str(args.n_queries),
             "--out", out_json],
            check=True, cwd=REPO,
        )
        with open(out_json) as f:
            results[cpus] = json.load(f)
    for mode in ("auto", "dist"):
        lo = results[2][f"qps_{mode}"]
        hi = results[8][f"qps_{mode}"]
        print(f"{mode}: {lo} -> {hi} QPS  speedup {hi/lo:.2f}x  "
              f"efficiency {hi/lo/4:.3f}")


if __name__ == "__main__":
    main()
