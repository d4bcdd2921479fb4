"""Spark-free serving tier over a built index artifact.

``BM25Index.search`` matches on the driver with no Spark job but
still runs ONE Spark job per call for the pruned postings scan — a
single query pays job scheduling + Python-worker round-trips, i.e.
hundreds of ms of fixed cost for milliseconds of scoring, while a
large BATCH amortizes it to a few ms per query. That fixed cost is
Spark's, not the engine's.

:class:`LocalSearcher` is the missing deployment shape: Spark builds
and refreshes the index (the 100 TB side); serving nodes open the
SAME parquet artifact directly and answer single queries with no
cluster in the loop —

* term lookup: the serving map ``prepare_serving`` builds — term →
  (term_id, df, idf, term_norm, n_salts), read from the termdict
  parquet with pyarrow, so opening a searcher runs no Spark job either;
  ~100 B/term, or workload-filtered for 10^7+-term vocabularies;
* postings read: a ``pyarrow.dataset`` scan of ``postings/`` restricted
  to the row groups whose ``term_id`` min/max stats overlap the
  queried terms (a per-searcher index of the parquet footers; the
  builder writes each bucket sorted by term), filtered to
  ``term_id ∈ T``;
* scoring: the SAME ``_bmw_group_fn`` scorer the cluster path runs
  inside ``applyInPandas`` — identical block bounds, block-max pruning
  and tie-breaks — fed the identical block columns from the pyarrow
  read, one group per query. Parity with ``BM25Index.search`` is
  therefore structural, and pinned end-to-end by
  ``tests/test_serve_local.py``.

Scope: weights-storage indexes (bm25 and tfidf — the stored weights
are final either way) and RAW-storage bm25 indexes including pending
tombstones (``index/tombmask.py`` is already pyarrow-only, so the
delete-set masking runs in-process exactly as it does inside the
cluster scorer). tfidf+raw indexes raise and point at
``BM25Index.search`` (their exact cosine needs the post-aggregation
docnorm join).
"""

from __future__ import annotations

import numpy as np
import pandas as pd


class LocalSearcher:
    """Single-process searcher over a built index artifact.

    Carries a hot-term postings LRU (``cache_bytes``, default 128 MB):
    zipfian serving workloads re-hit head terms, whose block rows are
    immutable for the manifest this handle is pinned to — a refresh
    publishes a NEW manifest, served by opening a new searcher (the
    same handle-per-snapshot rule as ``BM25Index``)."""

    def __init__(
        self,
        postings_dir: str,
        serving: dict,
        manifest,
        prepared: set | None = None,
        tomb_src: str | None = None,
        cache_bytes: int = 128 << 20,
    ) -> None:
        import collections

        import pyarrow.dataset as ds

        from neural_cherche_spark.query.bmw import _raw_cfg

        self.manifest = manifest
        self._serving = serving
        self._serving_prepared = prepared
        self._tomb_src = tomb_src
        # hot-term postings cache: term_id → its block rows (immutable
        # for this manifest — segments are append-only and the handle
        # is pinned to one manifest). LRU by payload bytes; serving
        # workloads are zipfian, so the head terms' blocks stay
        # resident and repeat queries skip the dataset scan entirely.
        self._cache: "collections.OrderedDict[int, tuple]" = (
            collections.OrderedDict()
        )
        self._cache_bytes = 0
        self._cache_cap = int(cache_bytes)
        self.cache_misses = 0  # dataset reads (introspection/tests)
        self.storage = manifest.cfg.get("storage", "weights")
        self._raw_cfg = _raw_cfg(manifest)
        # dataset handle opened once: file listing + partition
        # discovery are per-searcher, not per-query
        self._ds = ds.dataset(postings_dir, format="parquet", partitioning="hive")
        self._fields = set(self._ds.schema.names)
        # per-searcher parquet row-group index (built lazily on first
        # miss): footer metadata parsing was ~2/3 of every cache-miss
        # scan wall — with it cached, a query reads ONLY the row groups
        # whose term_id min/max overlap its terms (the builder writes
        # term-sorted ~4 MB row groups for exactly this)
        self._rgmap = None

    # ------------------------------------------------------------------
    @classmethod
    def from_index(
        cls,
        index,
        queries: list[str] | None = None,
        cache_bytes: int = 128 << 20,
    ) -> "LocalSearcher":
        """Open a searcher over a ``BM25Index`` handle's artifact.

        Uses the handle's serving map if prepared (calling
        ``prepare_serving(queries)`` otherwise — a pyarrow read of the
        termdict); neither the open nor any search runs a Spark job.
        ``queries`` forwards the vocabulary-filtered prepare for huge
        termdicts."""
        storage = index.manifest.cfg.get("storage", "weights")
        weighting = index.manifest.cfg.get("weighting", "bm25")
        if storage == "raw" and weighting == "tfidf":
            raise NotImplementedError(
                "tfidf+raw needs the post-aggregation docnorm join — "
                "use index.search()"
            )
        if index._serving is None:
            index.prepare_serving(queries)
        return cls(
            index.cat.path("postings"),
            index._serving,
            index.manifest,
            prepared=index._serving_prepared,
            tomb_src=index._tomb_src() if hasattr(index, "_tomb_src") else None,
            cache_bytes=cache_bytes,
        )

    # ------------------------------------------------------------------
    def _read_postings(self, rows: list) -> pd.DataFrame:
        """Pruned pyarrow scan: row groups via the term_id stats index
        (:meth:`_rg_index`) — the LOCAL twin of query/bmw._postings_for.
        Hot terms come from the LRU cache; only cache misses touch the
        dataset."""
        hits, misses = [], []
        for r in rows:
            t = int(r["term_id"])
            if t in self._cache:
                self._cache.move_to_end(t)
                hits.append(self._decoded(t))
            else:
                misses.append(r)
        parts = list(hits)
        if misses:
            fresh = self._scan_postings(misses)
            parts.append(fresh)
            if self._cache_cap > 0 and len(fresh):
                payload = fresh["docs"].map(len)
                if "ws" in fresh.columns:
                    payload = payload + fresh["ws"].map(len)
                else:
                    payload = (
                        payload
                        + fresh["tfs"].map(len)
                        + fresh["dls"].map(len)
                    )
                for t, sub in fresh.groupby("term_id", sort=False):
                    nb = int(payload[sub.index].sum()) + 512
                    # this scan is the term's first access; decoded
                    # arrays attach on its fourth (see _decoded)
                    self._cache[int(t)] = (sub, nb, 0)
                    self._cache_bytes += nb
                while self._cache_bytes > self._cache_cap and self._cache:
                    _, (_, nb, _) = self._cache.popitem(last=False)
                    self._cache_bytes -= nb
        if not parts:
            return pd.DataFrame()
        return (
            parts[0]
            if len(parts) == 1
            else pd.concat(parts, ignore_index=True)
        )

    def _decoded(self, t: int) -> pd.DataFrame:
        """Cached rows of term ``t``, with pre-decoded posting arrays
        attached on the term's FOURTH access — the scan that cached it
        is the first, so the third cache hit decodes (two repeat hits
        mark the term hot; decoding lazily keeps cold and lukewarm
        accesses exactly as cheap as before — a benchmark whose terms
        repeat only once pays nothing — and never pre-decodes blocks a
        rarely-seen term's queries may skip).

        The decoded payload rides the cached frame as object columns
        (``__dd`` + ``__dw`` | ``__dtf``/``__ddl``) — one numpy array
        per block row; the group scorer's decode_chunk concatenates
        them instead of re-running the varint decode (profiled at ~18%
        of serving wall on repeat-heavy workloads). LRU accounting
        includes the decoded bytes."""
        import numpy as np

        from neural_cherche_spark.index.codec import (
            decode_blocks_batched,
            decode_blocks_raw_batched,
        )

        sub, nb, hits = self._cache[t]
        if hits >= 2 and "__dd" not in sub.columns:
            ns = sub["n"].to_numpy(dtype=np.int64)
            splits = np.cumsum(ns)[:-1]
            if self.storage == "raw":
                d, tf, dl = decode_blocks_raw_batched(
                    list(sub["docs"]), list(sub["tfs"]),
                    list(sub["dls"]), ns,
                )
                sub = sub.copy()
                sub["__dd"] = np.split(d, splits)
                sub["__dtf"] = np.split(tf, splits)
                sub["__ddl"] = np.split(dl, splits)
                extra = d.nbytes + tf.nbytes + dl.nbytes
            else:
                d, w = decode_blocks_batched(list(sub["docs"]), list(sub["ws"]), ns)
                sub = sub.copy()
                sub["__dd"] = np.split(d, splits)
                sub["__dw"] = np.split(w, splits)
                extra = d.nbytes + w.nbytes
            self._cache[t] = (sub, nb + extra, hits + 1)
            self._cache_bytes += extra
            while self._cache_bytes > self._cache_cap and self._cache:
                _, (_, nbe, _) = self._cache.popitem(last=False)
                self._cache_bytes -= nbe
        else:
            self._cache[t] = (sub, nb, hits + 1)
        return sub

    def _rg_index(self):
        """(fragments, seg-per-fragment, per-row-group term_id min/max
        arrays) — parquet footers parsed ONCE per searcher. Segment
        filtering happens here at the fragment level: only segments
        committed by THIS manifest are indexed (an orphan seg dir from
        a crashed refresh stays invisible — same rule as
        BM25Index.postings)."""
        if self._rgmap is None:
            import pyarrow.dataset as ds

            segs = (
                {int(s["seg"]) for s in self.manifest.segments}
                if "seg" in self._fields
                else None
            )
            frags: list = []
            fsegs: list = []
            tmins: list = []
            tmaxs: list = []
            fidx: list = []
            rgids: list = []
            for frag in self._ds.get_fragments():
                keys = ds.get_partition_keys(frag.partition_expression)
                seg_val = keys.get("seg")
                if segs is not None and int(seg_val) not in segs:
                    continue
                frag.ensure_complete_metadata()
                fi = len(frags)
                frags.append(frag)
                fsegs.append(seg_val)
                for rg in frag.row_groups:
                    st = (rg.statistics or {}).get("term_id") or {}
                    # missing stats → unbounded range (never pruned)
                    tmins.append(int(st.get("min", -(1 << 62))))
                    tmaxs.append(int(st.get("max", 1 << 62)))
                    fidx.append(fi)
                    rgids.append(rg.id)
            self._rgmap = (
                frags,
                fsegs,
                np.asarray(tmins, dtype=np.int64),
                np.asarray(tmaxs, dtype=np.int64),
                np.asarray(fidx, dtype=np.int64),
                np.asarray(rgids, dtype=np.int64),
            )
        return self._rgmap

    def _scan_postings(self, rows: list) -> pd.DataFrame:
        import pyarrow as pa
        import pyarrow.dataset as ds

        self.cache_misses += 1
        frags, fsegs, tmins, tmaxs, fidx, rgids = self._rg_index()
        tids = np.asarray(
            sorted(int(r["term_id"]) for r in rows), dtype=np.int64
        )
        if self.storage == "raw":
            cols = [
                "term_id", "salt", "n", "first_doc", "last_doc",
                "max_tf", "min_tf", "min_dl", "max_dl", "docs", "tfs", "dls",
            ]
        else:
            cols = [
                "term_id", "salt", "n", "first_doc", "last_doc",
                "max_w", "min_w", "docs", "ws",
            ]
        # row groups whose [min, max] term range contains a queried
        # term — smallest queried tid ≥ min must be ≤ max
        pos = np.searchsorted(tids, tmins)
        hit = pos < tids.size
        hit[hit] = tids[pos[hit]] <= tmaxs[hit]
        filt = ds.field("term_id").isin(pa.array(tids))
        # ONE batched scan over the selected row groups: subset
        # fragments re-wrapped as a dataset so pyarrow runs a single
        # multithreaded scanner (a per-fragment to_table loop costs
        # ~2 ms scanner setup × O(100) fragments per query)
        sel_frags = []
        for fi in np.unique(fidx[hit]):
            sel = rgids[hit & (fidx == fi)]
            sel_frags.append(
                frags[int(fi)].subset(row_group_ids=[int(i) for i in sel])
            )
        out_cols = cols + (["seg"] if "seg" in self._fields else [])
        if not sel_frags:
            return pd.DataFrame({c: pd.Series(dtype="object") for c in out_cols})
        sub_ds = ds.FileSystemDataset(
            sel_frags,
            schema=self._ds.schema,
            format=self._ds.format,
            filesystem=self._ds.filesystem,
        )
        return sub_ds.to_table(columns=out_cols, filter=filt).to_pandas()

    def search(self, queries: list[str] | str, k: int = 10) -> list:
        """Top-k per query → ``[[{"doc_id", "score", "rank"}, ...], ...]``
        (a single string returns the inner list directly).

        One pyarrow read covers the batch's term union; each query is
        then scored in-process as ONE group of the cluster scorer, as
        the Spark path scores each selective query."""
        from neural_cherche_spark.query.bmw import (
            _bmw_group_fn,
            _s_t,
            serving_match_rows,
        )

        single = isinstance(queries, str)
        qlist = [queries] if single else list(queries)
        rows = serving_match_rows(self, qlist)
        out: list[list[dict]] = [[] for _ in qlist]
        if rows:
            pdf = self._read_postings(rows)
            score_group = _bmw_group_fn(
                k, self._raw_cfg, tomb_src=self._tomb_src
            )
            # per-query term info: (qtf, s_t) keyed by term_id — s_t,
            # the raw blocks' query-time scale, is unused for weights
            per_q: list[dict[int, tuple[float, float]]] = [
                {} for _ in qlist
            ]
            for r in rows:
                s_t = _s_t(r) if self._raw_cfg is not None else 0.0
                for q in r["qs"]:
                    per_q[int(q["query_id"])][int(r["term_id"])] = (
                        float(q["qtf"]),
                        s_t,
                    )
            for qid, terms in enumerate(per_q):
                if terms:
                    out[qid] = self._score_one(pdf, terms, k, score_group)
        return out[0] if single else out

    # ------------------------------------------------------------------
    def _score_one(
        self,
        pdf: pd.DataFrame,
        terms: dict[int, tuple[float, float]],
        k: int,
        score_group,
    ) -> list:
        sub = pdf[pdf["term_id"].isin(list(terms))]
        if len(sub) == 0:
            return []
        tid = sub["term_id"].to_numpy(dtype=np.int64)
        group = sub.reset_index(drop=True)
        group["query_id"] = 0
        group["qtf"] = np.array([terms[t][0] for t in tid], dtype=np.float64)
        if self._raw_cfg is not None:
            group["s_t"] = np.array(
                [terms[t][1] for t in tid], dtype=np.float64
            )
        res = score_group(group)
        if not len(res):
            return []
        # final rank: same tie-break as the cluster window
        order = np.lexsort(
            (res["doc_id"].to_numpy(), -res["score"].to_numpy())
        )[:k]
        return [
            {
                "doc_id": int(res["doc_id"].iloc[i]),
                "score": float(res["score"].iloc[i]),
                "rank": rank + 1,
            }
            for rank, i in enumerate(order)
        ]
