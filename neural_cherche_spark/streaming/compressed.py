"""Incremental maintenance of the COMPRESSED postings index.

`streaming/incremental.py` reproduces the reference's quirky ``add()``
accumulation semantics (stale idf, per-batch avgdl — the doctest
goldens). This module is the SCALABLE-path counterpart: batches append
their tokenized term frequencies (the expensive pass — tokenization —
runs once per batch, never re-runs over old batches), and
``materialize()`` rebuilds the downstream statistics + postings from
the accumulated tf with GLOBALLY RECOMPUTED idf/avgdl — producing an
index artifact identical to a from-scratch ``build_index`` over the
union corpus (pytest pins this). That is the semantics a production
pipeline wants: the reference's stale-idf behavior is an in-memory
artifact, not a retrieval feature (reference bm25.py:185-196 applies
fresh idf only to new columns because re-weighting old CSR columns
in-place would be O(index) per add — a constraint Spark doesn't have
since the weight+postings stages are already incremental-safe bulk
jobs over the materialized tf).

At 10^12-doc scale: tokenize is ~all the build cost (BENCH r1:
tokenize-bound), so add_batch ≈ the marginal cost of the new data;
materialize() re-runs only the cheap aggregate/encode stages, and is
itself checkpoint-resumable (content fingerprint over the accumulated
tf). Epoch idempotency follows the same ledger pattern as
incremental.py — foreachBatch is at-least-once.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from neural_cherche_spark.index.build import BM25Config, term_frequencies


# explicit batch-table schemas: an empty micro-batch (legal under
# at-least-once foreachBatch) writes a parquet dir with NO data files;
# schema inference fails on any read that targets such a dir directly,
# so every per-batch read pins the schema instead.
TF_BATCH_SCHEMA = "doc_id bigint, term string, tf bigint, dl bigint"
DOCS_BATCH_SCHEMA = "doc_id bigint, url string, dl bigint"


class CompressedIndexStream:
    """Accumulates tokenized batches under ``state_dir``; materializes
    a compressed BM25Index on demand. Batches must carry unique doc
    ids (re-adding an id is a corpus error here, unlike the
    reference-quirk path)."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        cfg: BM25Config = BM25Config(),
        text_col: str = "text",
        id_col: str = "doc_id",
        url_col: str | None = None,
    ) -> None:
        self.spark = spark
        self.state_dir = state_dir
        self.cfg = cfg
        self.text_col = text_col
        self.id_col = id_col
        self.url_col = url_col
        os.makedirs(state_dir, exist_ok=True)

    def _p(self, name: str) -> str:
        return os.path.join(self.state_dir, name)

    def _meta(self) -> dict:
        p = self._p("meta.json")
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {"n_batches": 0, "applied_epochs": {}}

    def _save_meta(self, m: dict) -> None:
        tmp = self._p("meta.json.tmp")
        with open(tmp, "w") as f:
            json.dump(m, f)
        os.replace(tmp, self._p("meta.json"))

    def _check_doc_ids(self) -> None:
        """Mirror build_index's id validation (ADVICE r2) over the
        accumulated doc registry — one column-pruned pass: out-of-range
        ids corrupt the packed (query_id<<41)|doc_id combine of the
        query's bulk groups; a doc_id re-added across batches
        double-counts silently."""
        from neural_cherche_spark.index.builder import check_doc_ids

        check_doc_ids(
            self.spark.read.schema(DOCS_BATCH_SCHEMA)
            .parquet(self._p("docs"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("doc_id").alias("nd"),
                F.min("doc_id").alias("lo"),
                F.max("doc_id").alias("hi"),
            )
            .collect()[0]
        )

    def add_batch(
        self, docs: DataFrame, epoch_id: int | None = None
    ) -> "CompressedIndexStream":
        """Tokenize one batch and append its tf + doc registry.
        Batch-keyed overwrite writes + epoch ledger = replay-safe.

        The stored tf carries the per-doc length ``dl`` (batch-local —
        a doc's length never changes once added) and the batch ledger
        records (n_docs, sum_dl): collection stats are then ADDITIVE
        across batches, so a delta refresh derives the exact global
        avgdl without any doc-keyed join or extra corpus pass."""
        meta = self._meta()
        if epoch_id is not None and str(epoch_id) in meta.get(
            "applied_epochs", {}
        ):
            return self
        batch_id = meta["n_batches"]

        keyed = docs.select(
            F.col(self.id_col).cast("long").alias("doc_id"),
            (
                F.col(self.url_col)
                if self.url_col
                else F.col(self.id_col).cast("string")
            ).alias("url"),
            F.col(self.text_col).alias("text"),
        )
        from pyspark import StorageLevel

        from neural_cherche_spark.index.build import doc_lengths

        # persist so tokenize (the expensive pass) runs ONCE for the
        # two derived writes; MEMORY_AND_DISK spills, batch-bounded
        tf_b = term_frequencies(
            keyed, "text", "doc_id", self.cfg.n_min, self.cfg.n_max
        ).persist(StorageLevel.MEMORY_AND_DISK)
        dl_b = doc_lengths(tf_b)
        # ledger stats ride the docs write as an Observation (guide §1:
        # a batch add is driver-job-bound at small batch sizes — this
        # was a third full job over the batch; dl>0 rows are exactly
        # the docs dl_b carries, so the observed (n, s) equal the old
        # dl_b aggregate)
        obs = Observation(f"batch_{batch_id}_stats")

        # the two batch writes share only the persisted tf — run them
        # as concurrent jobs so a small batch pays ONE job wall, not
        # two in sequence (guide §2.6; the cache layer serializes the
        # shared tf partitions' first computation)
        def _w_tf():
            tf_b.join(dl_b, "doc_id").write.mode("overwrite").parquet(
                self._p(f"tf/batch={batch_id}")
            )

        def _w_docs():
            (
                keyed.select("doc_id", "url")
                .join(dl_b, "doc_id", "left")
                .na.fill({"dl": 0})
                .observe(
                    obs,
                    F.sum(
                        F.when(F.col("dl") > 0, 1).otherwise(0)
                    ).alias("n"),
                    F.sum("dl").alias("s"),
                )
                .write.mode("overwrite")
                .parquet(self._p(f"docs/batch={batch_id}"))
            )

        from concurrent.futures import ThreadPoolExecutor

        try:
            with ThreadPoolExecutor(max_workers=2) as pool:
                futs = [pool.submit(_w_tf), pool.submit(_w_docs)]
                for f in futs:
                    f.result()
        finally:
            tf_b.unpersist()
        srow = obs.get

        applied = meta.setdefault("applied_epochs", {})
        if epoch_id is not None:
            applied[str(epoch_id)] = batch_id
        meta.setdefault("batches", {})[str(batch_id)] = {
            "n_docs": int(srow["n"] or 0),
            "sum_dl": int(srow["s"] or 0),
        }
        meta["n_batches"] = batch_id + 1
        self._save_meta(meta)
        return self

    def delete_batch(
        self, doc_ids, epoch_id: int | None = None
    ) -> "CompressedIndexStream":
        """Record document DELETIONS (reference has no delete at all —
        its CSR accumulator only grows). Deletes are logical until the
        next ``materialize``: collection stats subtract exactly via the
        ledger (each deleted doc's dl was captured from the doc
        registry), per-term stats exclude deleted docs' tf, and raw
        postings segments stay untouched bytes — queries mask the
        tombstoned ids; ``compact()`` drops them physically.

        ``doc_ids``: a DataFrame with a ``doc_id`` column or an
        iterable of ints. Unknown or already-deleted ids fail loudly
        (a silent miss would desync the ledger)."""
        meta = self._meta()
        if epoch_id is not None and str(epoch_id) in meta.get(
            "applied_delete_epochs", {}
        ):
            return self
        batch_id = meta.get("n_delete_batches", 0)
        spark = self.spark
        if isinstance(doc_ids, DataFrame):
            ids = doc_ids.select(
                F.col("doc_id").cast("long").alias("doc_id")
            ).distinct()
        else:
            ids = spark.createDataFrame(
                [(int(i),) for i in doc_ids], "doc_id long"
            ).distinct()

        reg = spark.read.schema(DOCS_BATCH_SCHEMA).parquet(
            self._p("docs")
        ).select("doc_id", "dl")
        hit = ids.join(reg, "doc_id")
        prior = meta.get("n_delete_batches", 0)
        if prior:
            hit = hit.join(
                spark.read.schema("doc_id bigint, dl bigint").parquet(
                    self._p("deletes")
                ).select("doc_id"),
                "doc_id",
                "left_anti",
            )
        hit.write.mode("overwrite").parquet(
            self._p(f"deletes/batch={batch_id}")
        )
        row = (
            spark.read.schema("doc_id bigint, dl bigint")
            .parquet(self._p(f"deletes/batch={batch_id}"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("dl") > 0, 1).otherwise(0)).alias("nd"),
                F.sum("dl").alias("s"),
            )
            .collect()[0]
        )
        n_req = ids.count()
        if int(row["n"]) != n_req:
            # roll the write back before failing: the ledger was not
            # updated, so a retry after fixing the ids is clean
            import shutil

            shutil.rmtree(
                self._p(f"deletes/batch={batch_id}"), ignore_errors=True
            )
            raise ValueError(
                f"delete_batch: {n_req - int(row['n'])} of {n_req} ids "
                "are unknown or already deleted"
            )
        applied = meta.setdefault("applied_delete_epochs", {})
        if epoch_id is not None:
            applied[str(epoch_id)] = batch_id
        # ledger counts only dl>0 docs (empty docs never entered
        # n_docs/avgdl), but sum_dl uses the captured dl exactly
        meta.setdefault("deletes", {})[str(batch_id)] = {
            "n_docs": int(row["nd"] or 0),
            "sum_dl": int(row["s"] or 0),
        }
        meta["n_delete_batches"] = batch_id + 1
        self._save_meta(meta)
        return self

    def materialize(
        self,
        index_dir: str,
        n_buckets: int | None = None,
        block_size: int = 128,
        salt_every: int = 50_000,
        resume: bool = True,
        weighting: str = "bm25",
        storage: str = "weights",
        freeze_stats: bool = False,
        max_segments: int | None = None,
    ):
        """Build (or refresh) the compressed index from the accumulated
        state.

        ``storage="weights"`` — full rebuild producing an artifact
        identical to ``build_index`` over the union of all batches
        (globally recomputed idf/avgdl/norms, float32 stored weights).

        ``storage="raw"`` — DELTA refresh: only batches not yet covered
        by an index segment are encoded (appended as a new
        ``postings/seg=K``); previously-written segments are untouched
        bytes. Statistics stay EXACT — avgdl/n_docs come from the
        additive batch ledger, and per-term (idf, term_norm) are
        recomputed over the accumulated tf (one map-side-combined agg
        pass, no shuffle of postings, no re-encode, no index rewrite) —
        because raw blocks defer weighting to query time. Search
        results equal a fresh raw build over the union corpus. This is
        the scalable analogue of the reference's O(new batch) ``add()``
        (bm25.py:146-197), without its stale-statistics quirk.

        ``freeze_stats=True`` (raw only) makes the refresh FULLY
        O(new batch): existing terms keep their previous idf/term_norm
        (and, for tfidf, existing docs their norms) — the literal
        trade the reference's ``add()`` makes (bm25.py:185-196),
        offered as an opt-in. Scores drift until the next exact
        refresh or ``compact()`` (both recompute stats globally and
        clear ``manifest.stats_frozen``); n_docs/avgdl stay exact
        (additive ledger, free).

        ``max_segments=N`` (raw only) auto-compacts: when a refresh
        leaves more than N segments, the index is re-encoded into a
        single seg=0 from the accumulated tf (tokenization never
        re-runs). Bounds stay sound at any segment count — compaction
        is a decode-overhead/write-amplification trade, so pick N by
        refresh cadence (e.g. 8–32).

        Deletions recorded via :meth:`delete_batch` are applied on
        every materialize: statistics subtract exactly; with raw
        storage the deleted docs' postings stay as query-masked
        tombstones until ``compact()``; a weights rebuild drops them
        physically.
        """
        if storage == "raw":
            if weighting not in ("bm25", "tfidf"):
                raise ValueError(f"unknown weighting {weighting!r}")
            return self._materialize_raw_delta(
                index_dir, n_buckets, block_size, salt_every, resume,
                weighting, freeze_stats, max_segments,
            )
        if freeze_stats or max_segments is not None:
            raise ValueError(
                "freeze_stats/max_segments apply to storage='raw' only"
            )
        from neural_cherche_spark.catalog import IndexCatalog
        from neural_cherche_spark.index.build import doc_lengths
        from neural_cherche_spark.index.builder import _finish_build

        spark, cfg = self.spark, self.cfg
        if self._meta()["n_batches"] == 0:
            raise RuntimeError("no batches added yet")
        if n_buckets is None:
            n_buckets = int(
                spark.conf.get("spark.sql.shuffle.partitions", "32")
            )
        cat = IndexCatalog(index_dir)

        tf_acc = spark.read.schema(TF_BATCH_SCHEMA).parquet(self._p("tf")).select(
            "doc_id", "term", "tf"
        )
        # deletes: a full (weights) rebuild drops deleted docs
        # PHYSICALLY — tf and docmap are filtered before any stage
        n_del_batches = self._meta().get("n_delete_batches", 0)
        del_ids = None
        if n_del_batches:
            del_ids = (
                spark.read.schema("doc_id bigint, dl bigint")
                .parquet(self._p("deletes"))
                .select("doc_id")
            )
            tf_acc = tf_acc.join(del_ids, "doc_id", "left_anti")
        # content fingerprint over the ACCUMULATED tf (cheap: already
        # tokenized) — any batch addition/replacement invalidates stages.
        # The delete-batch count is part of the config signature so a
        # new delete invalidates resumed stages.
        cfg_sig = (
            f"k1={cfg.k1},b={cfg.b},eps={cfg.epsilon},"
            f"n={cfg.n_min}-{cfg.n_max},"
            f"bs={block_size},se={salt_every},nb={n_buckets},w={weighting},"
            f"del={n_del_batches}"
        )
        row = tf_acc.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64("doc_id", "term", "tf").cast("decimal(38,0)")
            ).alias("h"),
        ).collect()[0]
        fingerprint = f"tf:{row['n']}:{row['h']}:{cfg_sig}"
        self._check_doc_ids()
        manifest = cat.load_manifest() if resume else None
        walls: dict[str, float] = {}

        import time

        t0 = time.perf_counter()
        if not cat.stage_done(manifest, "tf", fingerprint):
            tf_acc.write.mode("overwrite").parquet(cat.path("tf"))
        walls["tf"] = time.perf_counter() - t0
        tf = spark.read.parquet(cat.path("tf"))

        t0 = time.perf_counter()
        if not cat.stage_done(manifest, "docmap", fingerprint):
            reg = spark.read.schema(DOCS_BATCH_SCHEMA).parquet(
                self._p("docs")
            ).select("doc_id", "url")
            if del_ids is not None:
                reg = reg.join(del_ids, "doc_id", "left_anti")
            (
                reg.join(doc_lengths(tf), "doc_id", "left")
                .na.fill({"dl": 0})
                .write.mode("overwrite")
                .parquet(cat.path("docmap"))
            )
        walls["docmap"] = time.perf_counter() - t0
        return _finish_build(
            spark, cat, tf, fingerprint, cfg, n_buckets, block_size,
            salt_every, manifest, walls, index_dir, weighting,
        )


    def compact(
        self,
        index_dir: str,
        n_buckets: int | None = None,
        block_size: int = 128,
        salt_every: int = 50_000,
        weighting: str = "bm25",
    ):
        """Merge all segments of a raw index back into a single seg=0:
        a full re-encode FROM THE ACCUMULATED TF (tokenization — the
        dominant build cost — never re-runs). Run occasionally when a
        high refresh cadence has produced many small segments (each
        (term, salt) run fragments per segment; bounds stay sound but
        per-block decode overhead accretes). Also the physical GC for
        :meth:`delete_batch` tombstones (re-encode excludes them;
        tombstones_path clears) and the re-exactifier for
        ``freeze_stats`` refreshes. Equivalent to
        ``materialize(..., storage="raw", resume=False)``."""
        return self.materialize(
            index_dir,
            n_buckets=n_buckets,
            block_size=block_size,
            salt_every=salt_every,
            resume=False,
            storage="raw",
            weighting=weighting,
        )

    def _materialize_raw_delta(
        self,
        index_dir: str,
        n_buckets: int | None,
        block_size: int,
        salt_every: int,
        resume: bool,
        weighting: str = "bm25",
        freeze_stats: bool = False,
        max_segments: int | None = None,
    ):
        """O(new batch) refresh of a segmented raw-storage index; see
        :meth:`materialize`. Crash-safe: all segment writes are
        overwrite-idempotent for the same batch set, the new termdict
        snapshot goes to a fresh revision dir, and the manifest save is
        the atomic commit point. The stage rules (term stats, docnorm,
        encode, lineage) are index.builder's — this method decides only
        what each stage covers."""
        import shutil
        import time

        from neural_cherche_spark.catalog import IndexCatalog, Manifest
        from neural_cherche_spark.index.builder import (
            BM25Index,
            _unpin,
            _zip_with_index,
            doc_norms,
            quantize_norm_dl,
            term_table,
            write_lineage,
            write_postings,
        )

        spark, cfg = self.spark, self.cfg
        meta = self._meta()
        n_batches = meta["n_batches"]
        if n_batches == 0:
            raise RuntimeError("no batches added yet")
        if n_buckets is None:
            n_buckets = int(
                spark.conf.get("spark.sql.shuffle.partitions", "32")
            )
        cat = IndexCatalog(index_dir)
        cfg_dict = {
            "k1": cfg.k1, "b": cfg.b, "epsilon": cfg.epsilon,
            "n_min": cfg.n_min, "n_max": cfg.n_max,
            "block_size": block_size, "salt_every": salt_every,
            "weighting": weighting, "storage": "raw",
        }
        manifest = cat.load_manifest() if resume else None
        prev_ok = (
            manifest is not None
            and manifest.cfg == cfg_dict
            and manifest.n_buckets == n_buckets
            and manifest.segments
        )
        if prev_ok and any("batches" not in s for s in manifest.segments):
            # A segment without batch provenance was not produced by this
            # stream (e.g. build_index's raw seg=0 over a different
            # corpus). Appending stream deltas on top would rebuild the
            # termdict from stream tf only — base-corpus terms would
            # vanish and n_docs/avgdl would cover the stream alone.
            # Refuse rather than silently overwrite a foreign index.
            raise ValueError(
                f"index at {index_dir!r} has segments without batch "
                "provenance (not produced by this stream's materialize) "
                "— delta refresh cannot resume it; pass a fresh "
                "index_dir, or resume=False to rebuild it from the "
                "stream's batches (destroys the existing index)"
            )
        if prev_ok:
            done = {
                b for s in manifest.segments for b in s.get("batches", [])
            } | set(getattr(manifest, "covered_batches", []) or [])
        else:
            done = set()
            # stale/incompatible index state: clear before full
            # re-encode — including revision dirs AND the manifest
            # history (the rewrite expires every earlier snapshot;
            # leaving their manifest-*.json would point time-travel
            # reads at rewritten data — the BM25Index snapshot
            # validator would refuse, but expiring here keeps
            # `snapshots()` honest)
            for t in ("postings", "lineage", "docmap"):
                shutil.rmtree(cat.path(t), ignore_errors=True)
            for d in list(os.listdir(index_dir)) if os.path.isdir(index_dir) else []:
                if d.startswith(("termdict", "docnorm", "tombstones")):
                    shutil.rmtree(os.path.join(index_dir, d), ignore_errors=True)
                elif d.startswith("manifest-") and d.endswith(".json"):
                    os.remove(os.path.join(index_dir, d))
        new_batches = [b for b in range(n_batches) if b not in done]
        n_del_batches = meta.get("n_delete_batches", 0)
        deletes_current = (
            prev_ok
            and getattr(manifest, "applied_delete_batches", 0)
            == n_del_batches
        )
        if prev_ok and not new_batches and deletes_current:
            return BM25Index(spark, index_dir)

        walls: dict[str, float] = {}

        # id validation over the (narrow) doc registry — one pass.
        # Runs as a CONCURRENT job (guide §2.6: overlap independent
        # jobs): nothing below depends on it, and the refresh commits
        # nothing until the manifest save — `validation.result()` is
        # called (and re-raised from) before that commit point, so an
        # invalid id set still never produces a committed manifest.
        def _validate():
            t0 = time.perf_counter()
            self._check_doc_ids()
            walls["validate"] = time.perf_counter() - t0

        from concurrent.futures import ThreadPoolExecutor

        pool = ThreadPoolExecutor(max_workers=3)
        persisted = None
        ids: dict = {}  # _zip_with_index counter: n + the pinned keys
        try:
            validation = pool.submit(_validate)

            # exact global stats, additively (batch ledger): no corpus pass
            ledger = meta.get("batches", {})
            if len(ledger) != n_batches:
                raise ValueError(
                    "state predates the dl-carrying batch format — rebuild "
                    "the stream state or use storage='weights'"
                )
            del_ledger = meta.get("deletes", {})
            n_docs = sum(v["n_docs"] for v in ledger.values()) - sum(
                v["n_docs"] for v in del_ledger.values()
            )
            sum_dl = sum(v["sum_dl"] for v in ledger.values()) - sum(
                v["sum_dl"] for v in del_ledger.values()
            )
            avgdl = sum_dl / n_docs if n_docs else 0.0
            # tombstones: deleted docs' tf rows are excluded from every
            # statistic below (exact), while their postings stay
            # untouched bytes in old segments — the query paths mask them
            tomb = None
            if n_del_batches:
                tomb = (
                    spark.read.schema("doc_id bigint, dl bigint")
                    .parquet(self._p("deletes"))
                    .select("doc_id")
                )

            # ---- termdict: per-term stats over the accumulated tf -------
            # the one O(corpus) pass a refresh keeps: idf and term_norm
            # are global statistics and avgdl moved. It is a map-side-
            # combined agg over the already-tokenized tf (n_terms-sized
            # shuffle) — postings are never read, re-shuffled, or
            # re-encoded.
            t0 = time.perf_counter()
            tf_acc = spark.read.schema(TF_BATCH_SCHEMA).parquet(self._p("tf"))
            tf_new = spark.read.schema(TF_BATCH_SCHEMA).parquet(
                *[self._p(f"tf/batch={b}") for b in new_batches]
            )
            # freeze_stats: the per-term agg runs over the NEW batches
            # only — existing terms keep their previous idf/term_norm
            # verbatim (the reference add()'s stale-stats trade, opt-in);
            # the refresh touches no byte and no row proportional to the
            # corpus.
            frozen = bool(freeze_stats and prev_ok)
            stats_src = tf_new if frozen else tf_acc
            if tomb is not None:
                stats_src = stats_src.join(tomb, "doc_id", "left_anti")
            ts = term_table(stats_src, n_docs, avgdl, cfg, weighting, salt_every)
            # STABLE term ids: existing terms keep theirs (old segments
            # reference them on disk); new terms extend the id space.
            # The shared subtree (the term agg over the FULL accumulated
            # tf — the one O(corpus) pass a refresh keeps) is persisted:
            # the id-assignment checkpoint and the termdict write would
            # otherwise each re-run it (plan audit — the agg ran 2-3× per
            # refresh). n_terms-sized rows, bounded at any corpus.
            from pyspark import StorageLevel

            if prev_ok:
                old_td = spark.read.parquet(cat.path(manifest.termdict_path))
                if frozen:
                    persisted = ts = ts.persist(StorageLevel.MEMORY_AND_DISK)
                    # old rows verbatim; only genuinely-new terms appended
                    fresh = ts.join(
                        old_td.select("term"), "term", "left_anti"
                    )
                else:
                    joined = ts.join(
                        old_td.select("term", "term_id"), "term", "left"
                    )
                    persisted = joined = joined.persist(
                        StorageLevel.MEMORY_AND_DISK
                    )
                    known = joined.filter(F.col("term_id").isNotNull())
                    fresh = joined.filter(
                        F.col("term_id").isNull()
                    ).drop("term_id")
                # a routine delta batch usually introduces NO new
                # vocabulary: probing the persisted subtree costs one
                # cheap job (it materializes the cache the id-assignment
                # would have needed anyway) and skips _zip_with_index's
                # checkpoint + offset-collect jobs entirely when empty —
                # the refresh wall is job-count-bound at small batch sizes
                base = old_td if frozen else known
                if not fresh.select("term").take(1):
                    termdict = base
                    n_fresh = 0
                else:
                    new_ids = _zip_with_index(
                        fresh.select("term"), "term", "__nid", counter=ids
                    )
                    fresh_ids = fresh.join(new_ids, "term").withColumn(
                        "term_id",
                        F.col("__nid") + F.lit(int(manifest.n_terms)),
                    ).drop("__nid")
                    termdict = base.unionByName(
                        fresh_ids.select(*base.columns)
                    )
                    n_fresh = int(ids["n"])
                # n_terms without reading the written table back: frozen
                # keeps every old row verbatim; non-frozen counts the
                # surviving old terms over the cached subtree (narrow job)
                n_terms = n_fresh + (
                    int(manifest.n_terms) if frozen else known.count()
                )
                rev = int(manifest.termdict_path.split("_r")[-1]) + 1 if (
                    "_r" in manifest.termdict_path
                ) else 1
            else:
                persisted = ts = ts.persist(StorageLevel.MEMORY_AND_DISK)
                termdict = _zip_with_index(
                    ts, "term", "term_id", counter=ids
                )
                n_terms = int(ids["n"])
                rev = 0
            termdict_path = "termdict" if rev == 0 else f"termdict_r{rev}"
            # downstream stages need only the termdict CONTENT (cheap to
            # re-derive from the persisted subtree) and n_terms (known
            # above) — the parquet write runs as a concurrent job
            # overlapping docnorm/postings, joined before the manifest
            # commit
            termdict_write = pool.submit(
                termdict.write.mode("overwrite").parquet,
                cat.path(termdict_path),
            )
            walls["termdict"] = time.perf_counter() - t0

            # ---- docnorm (tfidf only): per-doc L2 norms, full rewrite ---
            # idf moved ⇒ every doc's norm moved, so this table is
            # recomputed whole each refresh — O(n_docs) SCALARS; the
            # postings segments stay untouched bytes. Same revision-dir
            # discipline as the termdict.
            docnorm_path = ""
            if weighting == "tfidf":
                t0 = time.perf_counter()
                docnorm_path = "docnorm" if rev == 0 else f"docnorm_r{rev}"
                norm_src = tf_new if frozen else tf_acc
                if tomb is not None:
                    norm_src = norm_src.join(tomb, "doc_id", "left_anti")
                new_norms = doc_norms(norm_src, termdict)
                if frozen:
                    # frozen: old docs keep their previous norms verbatim
                    # (stale idf trade); new docs' norms are computed from
                    # the new batches only — doc sets are disjoint
                    prev_dn = getattr(manifest, "docnorm_path", "") or ""
                    if not prev_dn:
                        raise ValueError(
                            "freeze_stats refresh needs a prior docnorm "
                            "table (index was not built with tfidf raw)"
                        )
                    new_norms = spark.read.parquet(
                        cat.path(prev_dn)
                    ).unionByName(new_norms)
                new_norms.write.mode("overwrite").parquet(
                    cat.path(docnorm_path)
                )
                walls["docnorm"] = time.perf_counter() - t0

            # ---- dnorm drift factors (tfidf only) -----------------------
            # Old segments' blocks were quantized against an OLDER
            # docnorm revision; block-max bounds stay sound by scaling
            # with the global min/max of dnorm_new/dnorm_prev over
            # surviving docs (one O(n_docs) scalar-join job, only on
            # non-frozen tfidf refreshes — frozen refreshes keep old
            # norms verbatim, ratio exactly 1). Factors COMPOUND per
            # refresh: product of per-step mins lower-bounds the true
            # ratio (sound, monotonically looser; compact() re-quantizes
            # and resets to [1, 1]).
            dnorm_gammas: dict = {}
            if weighting == "tfidf":
                prev_g = (
                    dict(getattr(manifest, "dnorm_gammas", {}) or {})
                    if prev_ok
                    else {}
                )
                step_lo = step_hi = 1.0
                prev_dn_path = (
                    getattr(manifest, "docnorm_path", "") or ""
                    if prev_ok
                    else ""
                )
                if prev_ok and not frozen and prev_dn_path and prev_g:
                    r = (
                        spark.read.parquet(cat.path(docnorm_path))
                        .withColumnRenamed("dnorm", "dn_new")
                        .join(
                            spark.read.parquet(cat.path(prev_dn_path))
                            .withColumnRenamed("dnorm", "dn_old"),
                            "doc_id",
                        )
                        .agg(
                            F.min(F.col("dn_new") / F.col("dn_old")).alias("lo"),
                            F.max(F.col("dn_new") / F.col("dn_old")).alias("hi"),
                        )
                        .collect()[0]
                    )
                    # empty join (no doc survived) ⇒ old segments are
                    # fully tombstoned; any factor is vacuously sound
                    step_lo = float(r["lo"]) if r["lo"] is not None else 1.0
                    step_hi = float(r["hi"]) if r["hi"] is not None else 1.0
                for s in manifest.segments if prev_ok else []:
                    key = str(int(s["seg"]))
                    if key in prev_g:
                        dnorm_gammas[key] = [
                            float(prev_g[key][0]) * step_lo,
                            float(prev_g[key][1]) * step_hi,
                        ]
                    # segments without an entry (pre-quantization layout:
                    # their dls stream holds dl, not ρq) stay uncovered —
                    # the query router keeps the index on the bulk path

            # ---- new segment: encode ONLY the new batches ---------------
            t0 = time.perf_counter()
            seg_id = (
                max(s["seg"] for s in manifest.segments) + 1 if prev_ok else 0
            )
            # an all-empty new-batch set (replayed/empty micro-batches)
            # has nothing to encode: record the batches as covered and
            # skip the segment writes — an empty parquet dir has no data
            # files and would poison later whole-dir reads. Emptiness is
            # decided AFTER the tombstone anti-join (ADVICE r4): a batch
            # whose every doc was deleted before this refresh also
            # encodes to nothing, and its "segment" write would be a
            # data-file-less parquet dir that crashes the lineage read.
            seg_has_postings = (
                sum(ledger[str(b)]["n_docs"] for b in new_batches) > 0
            )
            if seg_has_postings and tomb is not None:
                live = (
                    spark.read.schema(DOCS_BATCH_SCHEMA)
                    .parquet(*[self._p(f"docs/batch={b}") for b in new_batches])
                    .filter(F.col("dl") > 0)
                    .join(tomb, "doc_id", "left_anti")
                    .limit(1)
                    .count()
                )
                seg_has_postings = live > 0
            if seg_has_postings:
                # docmap segment write: independent of the postings
                # encode (reads only the new batches' doc registry) — run
                # it as a concurrent job so it back-fills executors
                # during the encode stage's tail
                def _write_docmap():
                    docsrc = (
                        spark.read.schema(DOCS_BATCH_SCHEMA)
                        .parquet(
                            *[self._p(f"docs/batch={b}") for b in new_batches]
                        )
                        .select("doc_id", "url", "dl")
                    )
                    if tomb is not None:
                        # tombstoned docs never reach a NEW docmap
                        # segment (ADVICE r4): on full re-encode
                        # (prev_ok=False / compact) this is the physical
                        # docmap GC; on delta refresh it keeps
                        # added-then-deleted docs out
                        docsrc = docsrc.join(tomb, "doc_id", "left_anti")
                    docsrc.write.mode("overwrite").parquet(
                        os.path.join(cat.path("docmap"), f"seg={seg_id}")
                    )

                docmap_write = pool.submit(_write_docmap)

                enc_src = tf_new
                if tomb is not None:
                    # docs added-then-deleted before this refresh never
                    # reach a segment; docs deleted from OLD segments
                    # stay as masked tombstones until compact()
                    enc_src = enc_src.join(tomb, "doc_id", "left_anti")
                if weighting == "tfidf":
                    enc_src = quantize_norm_dl(
                        enc_src, spark.read.parquet(cat.path(docnorm_path))
                    )
                # the encode task count follows the NEW batches' ledger
                # volume, so a small delta refresh runs few tasks and a
                # bulk backfill fans out
                write_postings(
                    enc_src, termdict, n_terms, n_buckets,
                    sum(ledger[str(b)]["sum_dl"] for b in new_batches),
                    block_size, "raw",
                    os.path.join(cat.path("postings"), f"seg={seg_id}"),
                )
            walls["postings"] = time.perf_counter() - t0

            t0 = time.perf_counter()
            seg_n_postings = 0
            if seg_has_postings:
                seg_n_postings = write_lineage(
                    spark.read.parquet(
                        os.path.join(cat.path("postings"), f"seg={seg_id}")
                    ),
                    f"batches={new_batches}",
                    os.path.join(cat.path("lineage"), f"seg={seg_id}"),
                )
                docmap_write.result()
            walls["lineage"] = time.perf_counter() - t0

            # a segment entry is appended ONLY when its seg dir was
            # written (ADVICE r4: a postings-less entry breaks the
            # snapshot validator — and every later snapshot — with
            # FileNotFoundError on the phantom seg dir). Batches that
            # produced no postings (empty, or fully tombstoned
            # pre-refresh) are recorded as covered at the manifest level
            # instead.
            segments = list(manifest.segments) if prev_ok else []
            covered = list(
                getattr(manifest, "covered_batches", []) or []
            ) if prev_ok else []
            if seg_has_postings:
                segments = segments + [
                    {
                        "seg": seg_id,
                        "batches": new_batches,
                        "n_postings": seg_n_postings,
                    }
                ]
                if weighting == "tfidf":
                    # quantized against THIS refresh's docnorm: exact
                    dnorm_gammas[str(seg_id)] = [1.0, 1.0]
            else:
                covered = covered + list(new_batches)

            # ---- tombstones: deleted ids whose postings sit in RETAINED
            # segments. A full re-encode (no prior segments kept) already
            # excluded them physically, so it publishes no tombstones —
            # that is also what makes compact() the delete GC.
            tombstones_path = ""
            if prev_ok and tomb is not None:
                # same revision counter as the termdict
                tombstones_path = (
                    "tombstones" if rev == 0 else f"tombstones_r{rev}"
                )
                # published PARTITIONED BY the segment holding each
                # deleted doc's postings (index/tombmask.py): decode
                # tasks lazily load only the delete sets of segments they
                # touch — no id array is ever collected at query time.
                # The docmap scan is the doc→seg source
                # (tombstoned docs never reach NEW docmap segments, so
                # every maskable id maps to a retained seg); ids with no
                # docmap row (deleted before ever materialized) have no
                # postings to mask and park under seg=-1, which no
                # postings row references.
                seg_src = spark.read.parquet(cat.path("docmap")).select(
                    "doc_id", "seg"
                )
                (
                    tomb.join(seg_src, "doc_id", "left")
                    .na.fill({"seg": -1})
                    .repartition("seg")
                    .write.partitionBy("seg")
                    .mode("overwrite")
                    .parquet(cat.path(tombstones_path))
                )
            # commit gate: the concurrent validation job must have passed
            # before the manifest (the atomic commit point) is written —
            # .result() re-raises its ValueError here, leaving only
            # uncommitted (idempotent, overwrite-safe) segment dirs
            # behind, exactly as a pre-commit crash would
            validation.result()
            termdict_write.result()
        finally:
            # on failure too, no job of this refresh outlives the call
            # and no persist outlives its jobs
            pool.shutdown(wait=True, cancel_futures=True)
            if persisted is not None:
                persisted.unpersist()
            _unpin(ids.get("keys"))
        m = Manifest(
            cfg=cfg_dict,
            input_fingerprint=f"batches:{n_batches}",
            n_docs=n_docs,
            avgdl=avgdl,
            n_terms=int(n_terms),
            n_postings=sum(s["n_postings"] for s in segments),
            n_buckets=n_buckets,
            stages={
                s: {"done": True, "wall_s": round(walls.get(s, 0.0), 3)}
                for s in ("validate", "termdict", "postings", "lineage")
                + (("docnorm",) if docnorm_path else ())
            },
            segments=segments,
            termdict_path=termdict_path,
            docnorm_path=docnorm_path,
            dnorm_gammas=dnorm_gammas,
            stats_frozen=frozen,
            tombstones_path=tombstones_path,
            applied_delete_batches=n_del_batches,
            covered_batches=covered,
        )
        cat.save_manifest(m)
        if max_segments is not None and len(segments) > max_segments:
            # auto-compaction: fold the accumulated segments back into
            # a single exact seg=0 (also re-exactifies frozen stats).
            # The manifest above was already the committed refresh, so
            # a crash mid-compact leaves a valid (just fragmented)
            # index.
            return self.compact(
                index_dir, n_buckets, block_size, salt_every, weighting
            )
        return BM25Index(spark, index_dir)


def stream_build_compressed(
    spark: SparkSession,
    input_path: str,
    state_dir: str,
    schema: str = "doc_id long, text string",
    cfg: BM25Config = BM25Config(),
    max_files_per_trigger: int = 1,
):
    """Structured Streaming wire for the compressed-index state: each
    micro-batch appends its tokenized tf (epoch-idempotent). Call
    ``CompressedIndexStream(...).materialize(index_dir)`` after (or
    periodically) to refresh the queryable index snapshot."""
    builder = CompressedIndexStream(spark, state_dir, cfg)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )
    return (
        stream.writeStream.foreachBatch(
            lambda batch_df, bid: builder.add_batch(batch_df, epoch_id=bid)
        )
        .option(
            "checkpointLocation", os.path.join(state_dir, "_stream_ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
