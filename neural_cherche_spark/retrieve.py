"""Reference-shaped retriever API: ``retrieve.BM25`` / ``retrieve.TfIdf``.

A user of the reference library
(``neural_cherche.retrieve.BM25(key=..., on=[...])`` →
``encode_documents`` → ``add`` → ``encode_queries`` → ``__call__``,
reference retrieve/tfidf.py:72-219, retrieve/bm25.py:110-197) can
switch to this class and run the same calls; execution is distributed
Spark underneath.

Semantics matched:
* multi-field concat with ``" ".join(doc.get(f, ""))`` (P1,
  tfidf.py:109-111) — missing fields become empty strings;
* ids may be int or str (doctests use both);
* repeated ``add()`` batches with the reference's accumulation quirks
  (delegated to streaming/incremental.py, golden-tested);
* duplicate queries are collapsed before retrieval and re-expanded in
  the result list (J5, utils/evaluate.py:8-24 + tfidf.py:123-144);
* ``k=None`` returns all positive-score docs (T3); scores ≤ 0 dropped
  (T2); results are ``[{key, similarity}, ...]`` sorted desc.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neural_cherche_spark.index.build import BM25Config, tfidf_weights
from neural_cherche_spark.query.exact import retrieve_exact
from neural_cherche_spark.rank import ColBERT as _RankColBERT
from neural_cherche_spark.streaming.incremental import IncrementalBM25Builder


def _docs_df(
    spark: SparkSession, documents: list[dict], key: str, on: list[str]
) -> DataFrame:
    rows = [
        (
            str(doc[key]),
            " ".join(str(doc.get(f, "")) for f in on),
        )
        for doc in documents
    ]
    return spark.createDataFrame(rows, "doc_key string, text string")


class BM25:
    """Distributed BM25 retriever with the reference's call shape.

    ``backend="reference"`` (default) reproduces the reference's
    accumulation semantics exactly, INCLUDING its stale-statistics
    add() quirks (golden-tested). ``backend="delta"`` keeps the same
    call shape but runs on the segmented raw index with EXACT global
    statistics at every add — the 10^12-doc maintenance path
    (streaming/compressed.py): each add() tokenizes only the new
    batch; __call__ delta-materializes (new segments only) and
    answers via the auto-routed block-max engine.
    """

    def __init__(
        self,
        key: str,
        on: str | list[str],
        spark: SparkSession | None = None,
        k1: float = 1.5,
        b: float = 0.75,
        epsilon: float = 0.0,
        state_dir: str | None = None,
        backend: str = "reference",
    ) -> None:
        if backend not in ("reference", "delta"):
            raise ValueError(f"unknown backend {backend!r}")
        self.key = key
        self.on = [on] if isinstance(on, str) else list(on)
        self.spark = spark or SparkSession.active()
        self.cfg = BM25Config(k1=k1, b=b, epsilon=epsilon)
        self.state_dir = state_dir or tempfile.mkdtemp(prefix="bm25_state_")
        self.backend = backend
        if backend == "delta":
            from neural_cherche_spark.streaming.compressed import (
                CompressedIndexStream,
            )

            self._stream = CompressedIndexStream(
                self.spark, self.state_dir + "/stream", self.cfg,
                text_col="text", id_col="doc_id", url_col="doc_key",
            )
            self._n_docs = 0
            self._epoch = 0
        else:
            self._builder = IncrementalBM25Builder(
                self.spark, self.state_dir, self.cfg,
                text_col="text", id_col="doc_key",
            )
        self._key_values: list = []  # original (possibly int) keys, in order

    # -- reference API ------------------------------------------------------
    def encode_documents(self, documents: list[dict]) -> DataFrame:
        """Returns the (doc_key, text) DataFrame — the Spark analogue of
        the reference's dict of CSR rows (an unevaluated plan, not a
        materialization)."""
        self._pending_keys = [doc[self.key] for doc in documents]
        return _docs_df(self.spark, documents, self.key, self.on)

    def add(self, documents_embeddings: DataFrame) -> "BM25":
        if self.backend == "delta":
            from neural_cherche_spark.index.builder import _zip_with_index

            counter: dict = {}
            batch = _zip_with_index(
                documents_embeddings, "doc_key", "__bid", counter=counter
            ).select(
                (F.col("__bid") + F.lit(self._n_docs)).alias("doc_id"),
                "doc_key", "text",
            )
            self._stream.add_batch(batch, epoch_id=self._epoch)
            self._n_docs += int(counter["n"])
            self._epoch += 1
        else:
            self._builder.add_batch(documents_embeddings)
        self._key_values.extend(getattr(self, "_pending_keys", []))
        self._pending_keys = []
        return self

    def encode_queries(self, queries: list[str]) -> DataFrame:
        distinct = list(dict.fromkeys(queries))
        self._query_order = queries
        self._distinct_queries = distinct
        return self.spark.createDataFrame(
            list(enumerate(distinct)), "query_id long, query string"
        )

    def __call__(
        self, queries_embeddings: DataFrame, k: int | None = None
    ) -> list[list[dict]]:
        if self.backend == "delta":
            idx = self._stream.materialize(
                self.state_dir + "/idx", storage="raw"
            )
            res = (
                idx.search(
                    queries_embeddings,
                    k=k if k is not None else max(self._n_docs, 1),
                )
                .join(
                    idx.docmap.select(
                        "doc_id", F.col("url").alias("doc_key")
                    ),
                    "doc_id",
                )
                .select("query_id", "doc_key", "score", "rank")
            )
        else:
            res = self._builder.retrieve(queries_embeddings, k=k)
        by_query: dict[int, list] = {}
        for r in sorted(res.collect(), key=lambda r: (r["query_id"], r["rank"])):
            by_query.setdefault(int(r["query_id"]), []).append(
                {"doc_key": r["doc_key"], "similarity": float(r["score"])}
            )
        # restore original key type + re-expand duplicate queries (J5)
        key_map = {str(kv): kv for kv in self._key_values}
        qidx = {q: i for i, q in enumerate(self._distinct_queries)}
        out = []
        for q in self._query_order:
            hits = by_query.get(qidx[q], [])
            out.append(
                [
                    {self.key: key_map.get(h["doc_key"], h["doc_key"]),
                     "similarity": h["similarity"]}
                    for h in hits
                ]
            )
        return out


class Splade:
    """Distributed Splade retriever with the reference's call shape
    (reference retrieve/splade.py:23-140: encode_documents → add →
    encode_queries → __call__).

    The reference's ``model`` (torch, unavailable offline) is replaced
    by an ``encoder`` callable: ``encoder(texts: list[str]) ->
    list[dict[int, float]]`` mapping each text to its sparse
    activations (term_id → weight). A user with a real SPLADE model
    wraps ``model.encode`` in this signature; tests use a
    deterministic featurizer. Retrieval itself is
    ops/sparse_neural.splade_topk — sparse dot product, top-k.
    """

    def __init__(
        self,
        key: str,
        on: str | list[str],
        encoder,
        spark: SparkSession | None = None,
    ) -> None:
        self.key = key
        self.on = [on] if isinstance(on, str) else list(on)
        self.encoder = encoder
        self.spark = spark or SparkSession.active()
        self._acts: DataFrame | None = None
        self._key_values: list = []

    def _encode_df(self, texts: list[str], ids: list, id_name: str) -> DataFrame:
        rows = [
            (str(i), int(t), float(w))
            for i, acts in zip(ids, self.encoder(texts))
            for t, w in acts.items()
        ]
        return self.spark.createDataFrame(
            rows, f"{id_name} string, term_id long, weight double"
        )

    def encode_documents(self, documents: list[dict]) -> DataFrame:
        self._pending_keys = [doc[self.key] for doc in documents]
        texts = [
            " ".join(str(doc.get(f, "")) for f in self.on) for doc in documents
        ]
        return self._encode_df(texts, self._pending_keys, "doc_key")

    def add(self, documents_embeddings: DataFrame) -> "Splade":
        # index extend = union of activation rows (reference hstack,
        # splade.py add → U2 semantics)
        self._acts = (
            documents_embeddings
            if self._acts is None
            else self._acts.unionByName(documents_embeddings)
        )
        self._key_values.extend(getattr(self, "_pending_keys", []))
        self._pending_keys = []
        return self

    def encode_queries(self, queries: list[str]) -> DataFrame:
        distinct = list(dict.fromkeys(queries))
        self._query_order = queries
        self._distinct_queries = distinct
        rows = [
            (i, int(t), float(w))
            for i, acts in enumerate(self.encoder(distinct))
            for t, w in acts.items()
        ]
        return self.spark.createDataFrame(
            rows, "query_id long, term_id long, weight double"
        )

    def __call__(
        self, queries_embeddings: DataFrame, k: int | None = None
    ) -> list[list[dict]]:
        if self._acts is None:
            raise RuntimeError("no documents added")
        from neural_cherche_spark.ops.sparse_neural import splade_topk

        res = splade_topk(
            self._acts, queries_embeddings, k=k, doc_id="doc_key"
        )
        return self._assemble(res)

    def _assemble(self, res: DataFrame) -> list[list[dict]]:
        by_query: dict[int, list] = {}
        for r in sorted(res.collect(), key=lambda r: (r["query_id"], r["rank"])):
            by_query.setdefault(int(r["query_id"]), []).append(
                {"doc_key": r["doc_id"], "similarity": float(r["score"])}
            )
        key_map = {str(kv): kv for kv in self._key_values}
        qidx = {q: i for i, q in enumerate(self._distinct_queries)}
        return [
            [
                {self.key: key_map.get(h["doc_key"], h["doc_key"]),
                 "similarity": h["similarity"]}
                for h in by_query.get(qidx[q], [])
            ]
            for q in self._query_order
        ]


class SparseEmbed(Splade):
    """Distributed SparseEmbed retriever (reference
    retrieve/sparse_embed.py:84-452): stage-1 candidates from the
    activation dot product, stage-2 re-scoring over the intersection
    of activated tokens with per-token embeddings.

    ``encoder(texts) -> list[tuple[dict[int, float], dict[int, list[float]]]]``
    — per text: (activations, token embeddings for the activated ids).
    """

    def __init__(
        self,
        key: str,
        on: str | list[str],
        encoder,
        spark: SparkSession | None = None,
        candidates_k: int | None = 100,
    ) -> None:
        super().__init__(key, on, encoder, spark)
        self.candidates_k = candidates_k
        self._tok_embs: DataFrame | None = None

    def _encode_both(self, texts: list[str], ids: list, id_name: str):
        encoded = self.encoder(texts)
        act_rows, emb_rows = [], []
        for i, (acts, embs) in zip(ids, encoded):
            iid = str(i) if id_name == "doc_key" else int(i)
            act_rows += [(iid, int(t), float(w)) for t, w in acts.items()]
            emb_rows += [
                (iid, int(t), [float(x) for x in v]) for t, v in embs.items()
            ]
        idt = "string" if id_name == "doc_key" else "long"
        acts_df = self.spark.createDataFrame(
            act_rows, f"{id_name} {idt}, term_id long, weight double"
        )
        embs_df = self.spark.createDataFrame(
            emb_rows, f"{id_name} {idt}, term_id long, emb array<float>"
        )
        return acts_df, embs_df

    def encode_documents(self, documents: list[dict]) -> tuple[DataFrame, DataFrame]:
        self._pending_keys = [doc[self.key] for doc in documents]
        texts = [
            " ".join(str(doc.get(f, "")) for f in self.on) for doc in documents
        ]
        return self._encode_both(texts, self._pending_keys, "doc_key")

    def add(self, documents_embeddings) -> "SparseEmbed":
        acts, embs = documents_embeddings
        self._acts = acts if self._acts is None else self._acts.unionByName(acts)
        self._tok_embs = (
            embs if self._tok_embs is None else self._tok_embs.unionByName(embs)
        )
        self._key_values.extend(getattr(self, "_pending_keys", []))
        self._pending_keys = []
        return self

    def encode_queries(self, queries: list[str]) -> tuple[DataFrame, DataFrame]:
        distinct = list(dict.fromkeys(queries))
        self._query_order = queries
        self._distinct_queries = distinct
        return self._encode_both(
            distinct, list(range(len(distinct))), "query_id"
        )

    def __call__(
        self, queries_embeddings, k: int | None = None
    ) -> list[list[dict]]:
        if self._acts is None:
            raise RuntimeError("no documents added")
        from neural_cherche_spark.ops.sparse_neural import sparse_embed_topk

        q_acts, q_embs = queries_embeddings
        res = sparse_embed_topk(
            self._acts.withColumnRenamed("doc_key", "doc_id"),
            q_acts,
            self._tok_embs.withColumnRenamed("doc_key", "doc_id"),
            q_embs,
            k=k,
            candidates_k=self.candidates_k,
        )
        return self._assemble(res)


class ColBERT(_RankColBERT):
    """Distributed ColBERT *retriever* (reference retrieve/colbert.py:9
    — a subclass of the ranker that MaxSim-scores the FULL added corpus
    for every query, no stage-1 candidate list).

    ``encoder(texts) -> list[token-embedding matrices]`` replaces the
    torch model, as in :class:`neural_cherche_spark.rank.ColBERT`.
    ``add()`` accumulates document token embeddings, skipping keys
    already added (reference colbert.py:105-122); ``__call__`` returns
    per-query ``[{key, similarity}, ...]`` for the k best docs —
    scores are NOT positive-filtered (torch.topk keeps the k best
    regardless of sign).

    This list[dict] API is the compat surface, not the 100 TB path: the
    engine-level path is a token-embedding table straight into
    ``ops.maxsim.maxsim_retrieve`` (broadcast queries, one corpus scan).
    """

    def __init__(
        self,
        key: str,
        on: str | list[str],
        encoder,
        spark: SparkSession | None = None,
    ) -> None:
        super().__init__(key, on, encoder, spark)
        self._doc_tokens: DataFrame | None = None
        self._key_values: list = []
        self._seen: set[str] = set()

    def encode_documents(self, documents: list[dict]) -> DataFrame:
        self._pending_keys = [doc[self.key] for doc in documents]
        return super().encode_documents(documents)

    def add(self, documents_embeddings: DataFrame) -> "ColBERT":
        # skip keys already added (reference keeps the FIRST embedding
        # for a key and never re-scores duplicates)
        if self._seen:
            fresh = documents_embeddings.filter(
                ~F.col("doc_key").isin(sorted(self._seen))
            )
        else:
            fresh = documents_embeddings
        self._doc_tokens = (
            fresh
            if self._doc_tokens is None
            else self._doc_tokens.unionByName(fresh)
        )
        for kv in getattr(self, "_pending_keys", []):
            if str(kv) not in self._seen:
                self._seen.add(str(kv))
                self._key_values.append(kv)
        self._pending_keys = []
        return self

    def __call__(
        self, queries_embeddings: DataFrame, k: int | None = None
    ) -> list[list[dict]]:
        from neural_cherche_spark.ops.maxsim import maxsim_retrieve

        if self._doc_tokens is None:
            raise RuntimeError("no documents added")
        res = maxsim_retrieve(
            self._doc_tokens.withColumnRenamed("doc_key", "doc_id"),
            queries_embeddings,
            k=k,
        )
        key_map = {str(kv): kv for kv in self._key_values}
        by_query: dict[int, list] = {}
        for r in sorted(
            res.collect(), key=lambda r: (r["query_id"], r["rank"])
        ):
            by_query.setdefault(int(r["query_id"]), []).append(
                {
                    self.key: key_map.get(r["doc_id"], r["doc_id"]),
                    "similarity": float(r["score"]),
                }
            )
        n_queries = len(getattr(self, "_queries", [])) or (
            max(by_query) + 1 if by_query else 0
        )
        return [by_query.get(qid, []) for qid in range(n_queries)]


class TfIdf:
    """Distributed TF-IDF retriever (cosine over L2-normalized tf-idf,
    reference retrieve/tfidf.py). Default: ``add`` unions batches and
    recomputes (the reference's TfIdf does no re-weighting on add;
    tfidf.py:146-161). ``backend="delta"`` runs on the segmented raw
    tfidf index instead: each add() tokenizes only its batch and
    appends one segment; idf and the per-doc norms are refreshed
    exactly (revisioned docnorm table) without re-reading old
    postings — the O(new batch) maintenance the reference's TfIdf
    cannot do at all (it rebuilds its matrices wholesale)."""

    def __init__(
        self,
        key: str,
        on: str | list[str],
        spark: SparkSession | None = None,
        state_dir: str | None = None,
        backend: str = "union",
    ) -> None:
        if backend not in ("union", "delta"):
            raise ValueError(f"unknown backend {backend!r}")
        self.key = key
        self.on = [on] if isinstance(on, str) else list(on)
        self.spark = spark or SparkSession.active()
        self.backend = backend
        self._docs: DataFrame | None = None
        self._key_values: list = []
        if backend == "delta":
            from neural_cherche_spark.streaming.compressed import (
                CompressedIndexStream,
            )

            self.state_dir = state_dir or tempfile.mkdtemp(
                prefix="tfidf_state_"
            )
            self._stream = CompressedIndexStream(
                self.spark, self.state_dir + "/stream",
                text_col="text", id_col="doc_id", url_col="doc_key",
            )
            self._n_docs = 0
            self._epoch = 0

    def encode_documents(self, documents: list[dict]) -> DataFrame:
        self._pending_keys = [doc[self.key] for doc in documents]
        return _docs_df(self.spark, documents, self.key, self.on)

    def add(self, documents_embeddings: DataFrame) -> "TfIdf":
        if self.backend == "delta":
            from neural_cherche_spark.index.builder import _zip_with_index

            counter: dict = {}
            batch = _zip_with_index(
                documents_embeddings, "doc_key", "__bid", counter=counter
            ).select(
                (F.col("__bid") + F.lit(self._n_docs)).alias("doc_id"),
                "doc_key", "text",
            )
            self._stream.add_batch(batch, epoch_id=self._epoch)
            self._n_docs += int(counter["n"])
            self._epoch += 1
        else:
            self._docs = (
                documents_embeddings
                if self._docs is None
                else self._docs.unionByName(documents_embeddings)
            )
        self._key_values.extend(getattr(self, "_pending_keys", []))
        self._pending_keys = []
        return self

    def encode_queries(self, queries: list[str]) -> DataFrame:
        distinct = list(dict.fromkeys(queries))
        self._query_order = queries
        self._distinct_queries = distinct
        return self.spark.createDataFrame(
            list(enumerate(distinct)), "query_id long, query string"
        )

    def __call__(
        self, queries_embeddings: DataFrame, k: int | None = None
    ) -> list[list[dict]]:
        if self.backend == "delta":
            idx = self._stream.materialize(
                self.state_dir + "/idx", storage="raw", weighting="tfidf"
            )
            res = (
                idx.search(
                    queries_embeddings,
                    k=k if k is not None else max(self._n_docs, 1),
                )
                .join(
                    idx.docmap.select(
                        "doc_id", F.col("url").alias("doc_key")
                    ),
                    "doc_id",
                )
                .select("query_id", "doc_key", "score", "rank")
            )
            return self._format(res)
        if self._docs is None:
            raise RuntimeError("no documents added")
        w = tfidf_weights(self._docs, id_col="doc_key")
        # cosine: idf-weighted L2-normalized query side
        from neural_cherche_spark.query.exact import query_term_counts, top_k

        qt = query_term_counts(queries_embeddings)
        dfq = qt.join(w.select("term", "idf").distinct(), "term").withColumn(
            "qw_raw", F.col("qtf") * F.col("idf")
        )
        qnorm = dfq.groupBy("query_id").agg(
            F.sqrt(F.sum(F.col("qw_raw") ** 2)).alias("qnorm")
        )
        scored = (
            dfq.join(qnorm, "query_id")
            .withColumn("qw", F.col("qw_raw") / F.col("qnorm"))
            .join(w, "term")
            .groupBy("query_id", "doc_key")
            .agg(F.sum(F.col("qw") * F.col("w")).alias("score"))
            .filter(F.col("score") > 0)
        )
        res = top_k(scored, k, doc_id="doc_key")
        return self._format(res)

    def _format(self, res: DataFrame) -> list[list[dict]]:
        by_query: dict[int, list] = {}
        for r in sorted(res.collect(), key=lambda r: (r["query_id"], r["rank"])):
            by_query.setdefault(int(r["query_id"]), []).append(
                {"doc_key": r["doc_key"], "similarity": float(r["score"])}
            )
        key_map = {str(kv): kv for kv in self._key_values}
        qidx = {q: i for i, q in enumerate(self._distinct_queries)}
        return [
            [
                {self.key: key_map.get(h["doc_key"], h["doc_key"]),
                 "similarity": h["similarity"]}
                for h in by_query.get(qidx[q], [])
            ]
            for q in self._query_order
        ]
