"""The benchmark's workloads, their answer checks and their metrics.

Both workloads are closed loops with one client: each request is sent
when the previous one has returned, as a caller that waits for its
reply does. ``Run`` counts every timed request as attempted; a request
that raises or returns a wrong answer counts as failed, and the loop
goes on.
"""

from __future__ import annotations

import concurrent.futures
import os
import resource
import statistics
import sys
import time
import traceback

import numpy as np

from perfbench.corpus import QueryMaker, repeat_share, synth_texts, zipf_stream
from perfbench.oracle import Oracle, check_topk
from perfbench.trace import Tracer, attribute, busy_s, read_eventlog, span_cost_s

N_DOCS = 600  # both workloads; see README.md "Sizing"
K = 10
BATCH = 64  # queries per Spark batch
SAMPLE = 16  # fixed query sample checked after each ingest op
OPENS = 2  # index opens timed for setup_s by the query workload
SERVE_POOL = 300  # distinct texts behind the zipf request stream
# The serving stream: SERVE_WARM untimed requests fill the serving
# caches, then SERVE_TIMED timed ones, of which 80-85% repeat an earlier
# text. A fixed count, not a time: the cache mix the median sees must not
# depend on how fast the host ran the requests before it.
SERVE_WARM = 200
SERVE_TIMED = 200

END_TO_END = {
    "setup_s": "s",
    "p50_ms": "ms",
    "rss_peak_mb": "MB",
    "index_bytes_per_text_byte": "ratio",
}

PER_LAYER = {
    "setup.session_s": "s",
    "setup.corpus_s": "s",
    "setup.index_s": "s",
    "setup.open_s": "s",
    "setup.oracle_s": "s",
    "text.tokenize_s": "s",
    "index.builder.build_docs_per_s": "1/s",
    "index.builder.tf_s": "s",
    "index.builder.docmap_s": "s",
    "index.builder.termdict_s": "s",
    "index.builder.postings_s": "s",
    "index.builder.lineage_s": "s",
    "index.builder.spark_jobs": "count",
    "index.builder.task_run_s": "s",
    "index.builder.shuffle_write_bytes": "B",
    "index.builder.shuffle_read_bytes": "B",
    "index.builder.spill_bytes": "B",
    "index.codec.encode_s": "s",
    "catalog.postings_bytes": "B",
    "catalog.tf_bytes": "B",
    "catalog.termdict_bytes": "B",
    "catalog.docmap_bytes": "B",
    "catalog.n_postings": "count",
    "catalog.n_blocks": "count",
    "streaming.compressed.cycle_s": "s",
    "streaming.compressed.add_batch_s": "s",
    "streaming.compressed.delete_batch_s": "s",
    "streaming.compressed.materialize_s": "s",
    "streaming.compressed.validate_s": "s",
    "streaming.compressed.termdict_s": "s",
    "streaming.compressed.postings_s": "s",
    "streaming.compressed.shuffle_write_bytes": "B",
    "streaming.compressed.segments": "count",
    "query.bmw.batch_qps": "1/s",
    "query.bmw.batch_p50_s": "s",
    "query.bmw.spark_jobs": "count",
    "query.bmw.task_run_s": "s",
    "query.bmw.input_bytes": "B",
    "query.bmw.shuffle_write_bytes": "B",
    "query.bmw.driver_s": "s",
    "query.bmw.exchange_per_unique_block_byte": "ratio",
    "query.bmw.match_ms": "ms",
    "index.codec.decode_ms": "ms",
    "index.codec.blocks_decoded": "count",
    "serve.scan_share": "ratio",
    "serve.repeat_share": "ratio",
    "serve.other_ms": "ms",
    "serve.p95_ms": "ms",
    "serve.qps": "1/s",
    "trace.overhead_share": "ratio",
    "trace.coverage_min": "ratio",
    "trace.p50_ms": "ms",
}


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def du(path: str) -> int:
    """Bytes of every file under ``path``."""
    return sum(
        os.path.getsize(os.path.join(root, n))
        for root, _, names in os.walk(path)
        for n in names
    )


class Run:
    """State of one benchmark run: counters, set-up walls, spans."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer: Tracer):
        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.setup: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.eventlog: str | None = None  # Spark event-log dir, traced runs only
        self.open_walls: list[float] = []
        self.walls: dict[str, list[float]] = {}  # op kind -> walls of ops that returned

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def attempt(self, kind: str, fn):
        """Run one timed request as an op: ``(wall_s, result, ok)``.
        An exception counts as a failure and does not stop the run."""
        self.attempted += 1
        with self.tracer.span(kind, root=True):
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception:
                wall = time.perf_counter() - t0
                self.fail(f"{kind} raised:\n{traceback.format_exc()}")
                return wall, None, False
            wall = time.perf_counter() - t0
            self.walls.setdefault(kind, []).append(wall)
            return wall, out, True

    def check(self, what: str, oracle: Oracle, queries: list[str],
              answers: list[list[tuple[int, float]]], live=None) -> bool:
        """Count one failure when any answer is not a correct top-K."""
        for q, got in zip(queries, answers):
            why = check_topk(got, oracle.scores(q, live), K)
            if why is not None:
                self.fail(f"{what}: query {q!r}: {why}")
                return False
        return True

    def open_index(self, index_dir: str):
        """What a serving node does before its first request: open the
        index and a ``LocalSearcher`` over it. Every open is timed;
        setup_s is their median."""
        from neural_cherche_spark.index.builder import BM25Index
        from neural_cherche_spark.serve import LocalSearcher

        with self.tracer.span("setup.open", root=True):
            t0 = time.perf_counter()
            idx = BM25Index(self.spark, index_dir)
            searcher = LocalSearcher.from_index(idx)
            self.open_walls.append(time.perf_counter() - t0)
        return idx, searcher

    def timed_setup(self, name: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.setup[name] = self.setup.get(name, 0.0) + time.perf_counter() - t0
        return out

    def oracle_in_background(self, texts: list[str], queries: list[str]):
        """Tokenize for the oracle while Spark builds the first index:
        the driver thread mostly waits on the JVM then. Returns a
        future of the Oracle."""
        pool = concurrent.futures.ThreadPoolExecutor(max_workers=1)
        fut = pool.submit(self.timed_setup, "oracle", lambda: Oracle(texts, queries))
        pool.shutdown(wait=False)
        return fut


def docs_df(spark, texts: list[str], ids):
    return spark.createDataFrame(
        [(int(i), texts[i]) for i in ids], "doc_id long, text string"
    )


def serve_answer(res: list[dict]) -> list[tuple[int, float]]:
    return [(r["doc_id"], r["score"]) for r in res]


def batch_answers(rows, n: int) -> list[list[tuple[int, float]]]:
    """Spark result rows (query_id, doc_id, score, rank) per query."""
    out: list[list] = [[] for _ in range(n)]
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out[r["query_id"]].append((r["doc_id"], r["score"]))
    return out


def wrap_layers(tracer: Tracer) -> None:
    """Span the engine's public calls the workloads reach."""
    from neural_cherche_spark.index import codec
    from neural_cherche_spark.query import bmw
    from neural_cherche_spark.serve import LocalSearcher
    from neural_cherche_spark.streaming.compressed import CompressedIndexStream

    for m in ("add_batch", "delete_batch", "materialize"):
        tracer.wrap(CompressedIndexStream, m, f"streaming.compressed.{m}")
    tracer.wrap(LocalSearcher, "search", "serve.search")
    tracer.wrap(bmw, "serving_match_rows", "query.bmw.serving_match_rows")
    for fn in ("decode_blocks_batched", "decode_blocks_raw_batched"):
        tracer.wrap(codec, fn, f"index.codec.{fn}",
                    count=lambda args, out: len(args[-1]))


def finish(run: Run, e2e: dict[str, float]) -> dict[str, float]:
    """End-to-end metrics plus what every workload reports."""
    run.setup["open"] = median(run.open_walls)
    e2e["setup_s"] = run.setup["open"]
    for kind, walls in run.walls.items():
        print(f"perfbench: {kind}: n={len(walls)} median={median(walls):.4f}s "
              f"min={min(walls):.4f}s max={max(walls):.4f}s", file=sys.stderr)
    print("perfbench: setup " + " ".join(f"{k}={v:.3f}s" for k, v in run.setup.items()),
          file=sys.stderr)
    e2e["rss_peak_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    return e2e


def trace_common(run: Run, e2e: dict[str, float]) -> None:
    t, L = run.tracer, run.layer
    for name in ("session", "corpus", "index", "open", "oracle"):
        L[f"setup.{name}_s"] = run.setup.get(name, 0.0)
    ops = [s for s in t.ops() if s.name.startswith("op.")]
    op_wall = sum(s.wall for s in ops)
    n_spans = sum(1 for s in t.spans if s.op in {o.op for o in ops})
    L["trace.overhead_share"] = span_cost_s() * n_spans / op_wall if op_wall else 0.0
    cover = [1.0 - t.layer_self_times(o)["unattributed"] / o.wall for o in ops if o.wall > 0]
    L["trace.coverage_min"] = min(cover) if cover else 0.0
    L["trace.p50_ms"] = e2e["p50_ms"]
    print("perfbench: per-op layer self times (s) and coverage", file=sys.stderr)
    for o in ops:
        parts = t.layer_self_times(o)
        un = parts.pop("unattributed")
        layers = " ".join(f"{k}={v:.4f}" for k, v in sorted(parts.items()))
        print(
            f"  op {o.op:5d} {o.name:14s} wall={o.wall:.4f} {layers} "
            f"unattributed={un:.4f} coverage={1 - un / o.wall:.3f}",
            file=sys.stderr,
        )


def job_totals(jobs) -> dict[str, float]:
    return {
        "spark_jobs": len(jobs),
        "task_run_s": sum(j.task_run_s for j in jobs),
        "input_bytes": sum(j.input_bytes for j in jobs),
        "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
        "shuffle_read_bytes": sum(j.shuffle_read_bytes for j in jobs),
        "spill_bytes": sum(j.spill_bytes for j in jobs),
    }


def per_op_jobs(run: Run, kind: str, jobs) -> list[tuple]:
    return [(o, [j for j in jobs if j.op == o.op]) for o in run.tracer.ops(kind)]


# ---------------------------------------------------------------------
# ingest: the write path


def ingest(run: Run) -> tuple[dict, dict]:
    """Refresh cycles (add_batch + delete_batch + materialize raw) and
    from-scratch builds over the live docs, alternating until the run's
    seconds are spent. Each refreshed index and each build is checked
    against the exact oracle over the live docs."""
    from neural_cherche_spark.index.builder import build_index
    from neural_cherche_spark.streaming.compressed import CompressedIndexStream

    spark, work = run.spark, run.work
    texts = run.timed_setup("corpus", lambda: synth_texts(N_DOCS, run.seed))
    sample = QueryMaker(texts, run.seed, 1).distinct(SAMPLE)
    oracle_f = run.oracle_in_background(texts, sample)
    base = N_DOCS * 3 // 4
    step = N_DOCS // 16
    raw_dir = os.path.join(work, "raw")
    stream = CompressedIndexStream(spark, os.path.join(work, "stream"))

    def base_index():
        stream.add_batch(docs_df(spark, texts, range(base)))
        stream.materialize(raw_dir, storage="raw")

    run.timed_setup("index", base_index)
    oracle = oracle_f.result()
    live = np.zeros(N_DOCS, dtype=bool)
    live[:base] = True

    rng = np.random.default_rng([run.seed, 3])
    next_doc = base
    refresh_walls, build_walls, build_rates = [], [], []
    stages: dict[str, list] = {}
    build_facts: list[dict] = []
    t_start = time.perf_counter()
    n_builds = 0

    def verify(what: str, index_dir: str) -> None:
        idx, searcher = run.open_index(index_dir)
        try:
            if idx.manifest.n_docs != int(live.sum()):
                run.fail(f"{what}: manifest n_docs {idx.manifest.n_docs} != {int(live.sum())} live")
                return
            got = [serve_answer(searcher.search(q, k=K)) for q in sample]
            run.check(what, oracle, sample, got, live)
        finally:
            idx.close()

    while True:
        # --- refresh cycle
        new = list(range(next_doc, min(next_doc + step, N_DOCS)))
        dead = rng.choice(np.flatnonzero(live), size=30, replace=False).tolist()
        new_df = docs_df(spark, texts, new)

        def refresh():
            stream.add_batch(new_df)
            stream.delete_batch(dead)
            stream.materialize(raw_dir, storage="raw")

        wall, _, ok = run.attempt("op.refresh", refresh)
        next_doc += len(new)
        live[new] = True
        live[dead] = False
        if ok:
            refresh_walls.append(wall)
            try:
                verify("refresh", raw_dir)
            except Exception:
                run.fail(f"refresh check raised:\n{traceback.format_exc()}")

        # --- from-scratch build over the same live docs
        n_builds += 1
        build_dir = os.path.join(work, f"build{n_builds}")
        live_ids = np.flatnonzero(live)
        live_df = docs_df(spark, texts, live_ids)

        def build():
            with run.tracer.span("index.builder.build_index"):
                return build_index(spark, live_df, build_dir, id_col="doc_id", resume=False)

        wall, built, ok = run.attempt("op.build", build)
        if ok:
            build_walls.append(wall)
            build_rates.append(live_ids.size / wall)
            for s, v in built.manifest.stages.items():
                stages.setdefault(s, []).append(v["wall_s"])
            text_bytes = sum(len(texts[i].encode()) for i in live_ids)
            build_facts.append(
                {"dir": build_dir, "bytes": du(build_dir), "text_bytes": text_bytes,
                 "manifest": built.manifest}
            )
            built.close()
            try:
                verify("build", build_dir)
            except Exception:
                run.fail(f"build check raised:\n{traceback.format_exc()}")
        if time.perf_counter() - t_start >= run.seconds or next_doc >= N_DOCS:
            break

    last = build_facts[-1] if build_facts else None
    e2e = finish(run, {
        "p50_ms": median(build_walls) * 1e3,
        "index_bytes_per_text_byte": last["bytes"] / last["text_bytes"] if last else 0.0,
    })
    if run.tracer.enabled:
        run.layer["index.builder.build_docs_per_s"] = median(build_rates)
        run.layer["streaming.compressed.cycle_s"] = median(refresh_walls)
        trace_ingest(run, e2e, texts, stages, build_facts, raw_dir)
    return e2e, run.layer


def trace_ingest(run, e2e, texts, stages, build_facts, raw_dir) -> None:
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from neural_cherche_spark.catalog import IndexCatalog
    from neural_cherche_spark.text.ngrams import ngram_terms_column

    L, t = run.layer, run.tracer
    df = docs_df(run.spark, texts, range(N_DOCS))
    t0 = time.perf_counter()
    df.select(F.explode(ngram_terms_column("text"))).write.format("noop").mode(
        "overwrite"
    ).save()
    L["text.tokenize_s"] = time.perf_counter() - t0
    for s in ("tf", "docmap", "termdict", "postings", "lineage"):
        L[f"index.builder.{s}_s"] = median(stages.get(s, []))
    enc = [
        float(pq.read_table(os.path.join(b["dir"], "lineage"), columns=["enc_ms"])
              .column("enc_ms").to_numpy().sum()) / 1e3
        for b in build_facts
    ]
    L["index.codec.encode_s"] = median(enc)
    if build_facts:
        b = build_facts[-1]
        m = b["manifest"]
        for table, sub in (("postings", "postings"), ("tf", "tf"),
                           ("termdict", m.termdict_path or "termdict"),
                           ("docmap", "docmap")):
            L[f"catalog.{table}_bytes"] = du(os.path.join(b["dir"], sub))
        L["catalog.n_postings"] = m.n_postings
        L["catalog.n_blocks"] = float(
            pq.read_table(os.path.join(b["dir"], "lineage"), columns=["n_blocks"])
            .column("n_blocks").to_numpy().sum()
        )
    refresh_ops = {o.op for o in t.ops("op.refresh")}
    for m in ("add_batch", "delete_batch", "materialize"):
        L[f"streaming.compressed.{m}_s"] = median(
            s.wall for s in t.spans if s.name == f"streaming.compressed.{m}"
            and s.op in refresh_ops
        )
    raw = IndexCatalog(raw_dir).load_manifest()
    # stage walls of the last refresh only: earlier ones are overwritten
    for s in ("validate", "termdict", "postings"):
        L[f"streaming.compressed.{s}_s"] = raw.stages.get(s, {}).get("wall_s", 0.0)
    L["streaming.compressed.segments"] = len(raw.segments)
    jobs = run_jobs(run)
    per_build = [job_totals(js) for _, js in per_op_jobs(run, "op.build", jobs)]
    for key in ("spark_jobs", "task_run_s", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes"):
        L[f"index.builder.{key}"] = median(b[key] for b in per_build)
    L["streaming.compressed.shuffle_write_bytes"] = median(
        job_totals(js)["shuffle_write_bytes"]
        for _, js in per_op_jobs(run, "op.refresh", jobs)
    )
    trace_common(run, e2e)


def run_jobs(run: Run):
    """Event-log jobs attributed to this run's spans. Spark flushes the
    log at every job end, so it is complete once the last job is."""
    jobs = read_eventlog(run.eventlog)
    attribute(jobs, run.tracer.spans)
    return jobs


# ---------------------------------------------------------------------
# query: the Spark batch path, then the Spark-free serving tier


def query(run: Run) -> tuple[dict, dict]:
    """For half the seconds: batches of BATCH distinct queries through
    ``BM25Index.search`` (default mode), collected. Then SERVE_TIMED
    single ``LocalSearcher.search`` requests drawn zipf-wise from a pool
    of SERVE_POOL texts, so most requests repeat an earlier text (LRU
    and decoded-array cache) and the rest read row groups. Every answer
    is checked against the exact oracle."""
    from neural_cherche_spark.index.builder import build_index

    spark, work = run.spark, run.work
    texts = run.timed_setup("corpus", lambda: synth_texts(N_DOCS, run.seed))
    qm = QueryMaker(texts, run.seed, 2)
    # a batch costs well over 125 ms today, so 4·seconds batches are
    # never exhausted; the loop stops early if they are
    batches_q = qm.distinct(BATCH * (4 * int(run.seconds) + 1))
    warm_batch = batches_q[-BATCH:]
    batches_q = batches_q[:-BATCH]
    pool = qm.distinct(SERVE_POOL, exclude=set(batches_q) | set(warm_batch))
    requests = zipf_stream(pool, SERVE_WARM + SERVE_TIMED, run.seed)
    oracle_f = run.oracle_in_background(texts, batches_q + warm_batch + pool)
    index_dir = os.path.join(work, "index")
    run.timed_setup(
        "index",
        lambda: build_index(
            spark, docs_df(spark, texts, range(N_DOCS)), index_dir,
            id_col="doc_id", resume=False,
        ).close(),
    )
    oracle = oracle_f.result()
    for _ in range(OPENS - 1):
        run.open_index(index_dir)[0].close()
    idx, searcher = run.open_index(index_dir)

    def batch_df(qs):
        return spark.createDataFrame(list(enumerate(qs)), "query_id long, query string")

    # warm-up, untimed: the first batch pays query-path JIT and worker
    # start; the stream's first SERVE_WARM requests fill the serving caches
    idx.search(batch_df(warm_batch), k=K).collect()
    for q in requests[:SERVE_WARM]:
        searcher.search(q, k=K)

    batch_walls = []
    t_start = time.perf_counter()
    b = 0
    while time.perf_counter() - t_start < run.seconds / 2 and (b + 1) * BATCH <= len(batches_q):
        qs = batches_q[b * BATCH:(b + 1) * BATCH]
        b += 1
        qdf = batch_df(qs)

        def batch():
            with run.tracer.span("query.bmw.search"):
                df = idx.search(qdf, k=K)
            with run.tracer.span("query.bmw.collect"):
                return df.collect()

        wall, rows, ok = run.attempt("op.batch", batch)
        if ok:
            batch_walls.append(wall)
            run.check("batch", oracle, qs, batch_answers(rows, len(qs)))
    n_batches = b

    lat = []
    misses0 = searcher.cache_misses
    for q in requests[SERVE_WARM:]:
        wall, res, ok = run.attempt("op.serve", lambda: searcher.search(q, k=K))
        if ok:
            lat.append(wall)
            run.check("serve", oracle, [q], [serve_answer(res)])
    scan_share = (searcher.cache_misses - misses0) / SERVE_TIMED
    idx.close()

    e2e = finish(run, {
        "p50_ms": median(lat) * 1e3,
        "index_bytes_per_text_byte": du(index_dir) / sum(len(t.encode()) for t in texts),
    })
    if run.tracer.enabled:
        L = run.layer
        L["query.bmw.batch_p50_s"] = median(batch_walls)
        L["query.bmw.batch_qps"] = BATCH / median(batch_walls) if batch_walls else 0.0
        L["serve.scan_share"] = scan_share
        L["serve.qps"] = len(lat) / sum(lat) if lat else 0.0
        L["serve.repeat_share"] = repeat_share(requests, SERVE_WARM)
        # p95: 10 of the 200 timed requests lie beyond it
        L["serve.p95_ms"] = float(np.percentile(lat, 95)) * 1e3 if lat else 0.0
        trace_query(run, e2e, index_dir, batches_q[: n_batches * BATCH])
    return e2e, run.layer


def unique_block_bytes(index_dir: str, queries: list[str]) -> float:
    """Payload bytes (docs + ws) of the distinct blocks of every term
    the queries match: what a batch must read at least once."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from neural_cherche_spark.catalog import IndexCatalog
    from neural_cherche_spark.text.ngrams import char_wb_ngrams

    m = IndexCatalog(index_dir).load_manifest()
    grams = sorted({g for q in queries for g in char_wb_ngrams(q)})
    td = ds.dataset(os.path.join(index_dir, m.termdict_path or "termdict"))
    tids = td.to_table(columns=["term_id"], filter=ds.field("term").isin(pa.array(grams)))
    post = ds.dataset(os.path.join(index_dir, "postings"), partitioning="hive")
    t = post.to_table(columns=["docs", "ws"],
                      filter=ds.field("term_id").isin(tids.column("term_id")))
    return float(
        pc.sum(pc.binary_length(t.column("docs"))).as_py() or 0
    ) + float(pc.sum(pc.binary_length(t.column("ws"))).as_py() or 0)


def trace_query(run: Run, e2e: dict, index_dir: str, batch_queries: list[str]) -> None:
    L, t = run.layer, run.tracer
    jobs = run_jobs(run)
    per_batch = per_op_jobs(run, "op.batch", jobs)
    for key in ("spark_jobs", "task_run_s", "input_bytes", "shuffle_write_bytes"):
        L[f"query.bmw.{key}"] = median(job_totals(js)[key] for _, js in per_batch)
    L["query.bmw.driver_s"] = median(o.wall - busy_s(js) for o, js in per_batch)
    ratios = []
    for i, (o, js) in enumerate(per_batch):
        ub = unique_block_bytes(index_dir, batch_queries[i * BATCH:(i + 1) * BATCH])
        if ub > 0:
            ratios.append(job_totals(js)["shuffle_write_bytes"] / ub)
    L["query.bmw.exchange_per_unique_block_byte"] = median(ratios)
    serve_ops = {o.op for o in t.ops("op.serve")}
    n = max(len(serve_ops), 1)

    def per_request(name: str) -> float:
        return sum(s.wall for s in t.spans if s.name == name and s.op in serve_ops) / n

    decode = ("index.codec.decode_blocks_batched", "index.codec.decode_blocks_raw_batched")
    L["query.bmw.match_ms"] = per_request("query.bmw.serving_match_rows") * 1e3
    L["index.codec.decode_ms"] = sum(per_request(d) for d in decode) * 1e3
    L["index.codec.blocks_decoded"] = sum(
        s.count for s in t.spans if s.name in decode and s.op in serve_ops
    ) / n
    L["serve.other_ms"] = (
        per_request("serve.search") * 1e3 - L["query.bmw.match_ms"] - L["index.codec.decode_ms"]
    )
    trace_common(run, e2e)


WORKLOADS = {"ingest": ingest, "query": query}
