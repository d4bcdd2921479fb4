"""Incremental maintenance of the COMPRESSED postings index.

`streaming/incremental.py` reproduces the reference's quirky ``add()``
accumulation semantics (stale idf, per-batch avgdl — the doctest
goldens). This module is the SCALABLE-path counterpart: batches append
their tokenized term frequencies (the expensive pass — tokenization —
runs once per batch, never re-runs over old batches) plus a ledger of
(n_docs, Σdl), so collection statistics are additive. ``materialize()``
hands the accumulated tf, the new batches' rows and the ledger's
(n_docs, avgdl) to ``index.builder.write_index`` — the same writer
``build_index`` uses — with GLOBALLY RECOMPUTED idf/avgdl, so the
result equals a from-scratch build over the union corpus (pytest pins
the artifacts). The reference's stale-idf behavior is an in-memory
artifact, not a retrieval feature (reference bm25.py:185-196 applies
fresh idf only to new columns because re-weighting old CSR columns
in-place would be O(index) per add); ``freeze_stats`` offers it as an
opt-in for raw refreshes.

A raw-storage refresh appends one segment for the new batches; a
weights materialize (and ``compact()``) rewrites the index whole.
Resume is whole-index: a materialize whose stream, batches, delete
batches and settings equal the committed manifest's returns the index
untouched.
Epoch idempotency follows the same ledger pattern as incremental.py —
foreachBatch is at-least-once.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor

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
        state. With ``resume``, an index whose manifest was committed
        for this stream's same batches, delete batches and settings is
        returned untouched.

        ``storage="weights"`` — full rewrite producing an artifact
        identical to ``build_index`` over the union of all live batches
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
        (bm25.py:146-197), without its stale-statistics quirk. A raw
        index with other settings is rewritten whole, and one another
        writer committed (build_index, another stream) is refused.

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
        tombstones until ``compact()``; a rewrite drops them
        physically.
        """
        from neural_cherche_spark.catalog import IndexCatalog
        from neural_cherche_spark.index.builder import (
            BM25Index,
            index_settings,
            write_index,
        )

        settings = index_settings(
            self.cfg, block_size, salt_every, weighting, storage
        )
        if storage != "raw" and (freeze_stats or max_segments is not None):
            raise ValueError(
                "freeze_stats/max_segments apply to storage='raw' only"
            )
        spark = self.spark
        meta = self._meta()
        n_batches = meta["n_batches"]
        if n_batches == 0:
            raise RuntimeError("no batches added yet")
        ledger = meta.get("batches", {})
        if len(ledger) != n_batches:
            raise ValueError(
                "state predates the dl-carrying batch format — rebuild "
                "the stream state"
            )
        if n_buckets is None:
            n_buckets = int(
                spark.conf.get("spark.sql.shuffle.partitions", "32")
            )
        n_del_batches = meta.get("n_delete_batches", 0)
        # the input: this stream's batches and delete batches (both
        # append-only ledgers) under these settings
        owner = f"stream:{os.path.abspath(self.state_dir)}:"
        fingerprint = (
            f"{owner}batches:{n_batches}:deletes:{n_del_batches}:nb={n_buckets},"
            + ",".join(f"{k}={v}" for k, v in settings.items())
        )
        cat = IndexCatalog(index_dir)
        manifest = cat.load_manifest() if resume else None
        if manifest is not None and manifest.input_fingerprint == fingerprint:
            return BM25Index(spark, index_dir)
        base = None
        if (
            storage == "raw"
            and manifest is not None
            and manifest.cfg == settings
            and manifest.n_buckets == n_buckets
            and manifest.segments
        ):
            if not manifest.input_fingerprint.startswith(owner):
                # Segments this stream did not write (build_index's raw
                # seg=0, another stream's batches) are not its batches:
                # a delta on top would count them as covered and rebuild
                # the termdict and n_docs/avgdl from this stream alone.
                raise ValueError(
                    f"index at {index_dir!r} was not written by this "
                    "stream's materialize (segments without this stream's "
                    "batch provenance) — delta refresh cannot resume it; "
                    "pass a fresh index_dir, or resume=False to rebuild it "
                    "from the stream's batches (destroys the existing "
                    "index)"
                )
            base = manifest
        done = set()
        if base is not None:
            done = {
                b for s in base.segments for b in s["batches"]
            } | set(base.covered_batches)
        else:
            cat.reset()
        new_batches = [b for b in range(n_batches) if b not in done]

        # exact global stats, additively (batch ledger): no corpus pass
        del_ledger = meta.get("deletes", {}).values()
        n_docs = sum(v["n_docs"] for v in ledger.values()) - sum(
            v["n_docs"] for v in del_ledger
        )
        sum_dl = sum(v["sum_dl"] for v in ledger.values()) - sum(
            v["sum_dl"] for v in del_ledger
        )
        tomb = None
        if n_del_batches:
            tomb = (
                spark.read.schema("doc_id bigint, dl bigint")
                .parquet(self._p("deletes"))
                .select("doc_id")
            )
        walls: dict[str, float] = {}

        # id validation over the (narrow) doc registry runs as a
        # CONCURRENT job (guide §2.6): nothing depends on it, and
        # write_index joins it before the manifest commit, so an invalid
        # id set never produces a committed manifest
        def _validate():
            t0 = time.perf_counter()
            self._check_doc_ids()
            walls["validate"] = time.perf_counter() - t0

        pool = ThreadPoolExecutor(max_workers=1)
        try:
            idx = write_index(
                spark,
                index_dir,
                spark.read.schema(TF_BATCH_SCHEMA).parquet(self._p("tf")),
                spark.read.schema(DOCS_BATCH_SCHEMA)
                .parquet(*[self._p(f"docs/batch={b}") for b in new_batches])
                .select("doc_id", "url", "dl"),
                n_docs,
                sum_dl / n_docs if n_docs else 0.0,
                tomb,
                fingerprint,
                base,
                cfg=self.cfg,
                weighting=weighting,
                storage=storage,
                n_buckets=n_buckets,
                block_size=block_size,
                salt_every=salt_every,
                seg_tf=spark.read.schema(TF_BATCH_SCHEMA).parquet(
                    *[self._p(f"tf/batch={b}") for b in new_batches]
                ),
                # the encode task count follows the NEW batches' volume,
                # so a small delta runs few tasks and a backfill fans out
                seg_size=(
                    sum(ledger[str(b)]["n_docs"] for b in new_batches),
                    sum(ledger[str(b)]["sum_dl"] for b in new_batches),
                ),
                batches=new_batches,
                deletes=n_del_batches,
                freeze_stats=freeze_stats,
                stages=("validate", "termdict", "postings", "lineage"),
                walls=walls,
                pending=[pool.submit(_validate)],
            )
        finally:
            pool.shutdown(wait=True, cancel_futures=True)
        if max_segments is not None and len(idx.manifest.segments) > max_segments:
            # auto-compaction: fold the segments back into a single exact
            # seg=0 (also re-exactifies frozen stats). The refresh above
            # is already committed, so a crash mid-compact leaves a valid
            # (just fragmented) index.
            return self.compact(
                index_dir, n_buckets, block_size, salt_every, weighting
            )
        return idx

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
