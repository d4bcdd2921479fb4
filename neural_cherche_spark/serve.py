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
* scoring: the SAME numpy block kernel the cluster path runs inside
  ``applyInPandas`` (``query/bmw._score_blocks``; the Spark adapter
  only converts the group frame to numpy arrays) — identical block
  bounds, block-max pruning and tie-breaks — called here directly on
  numpy block columns, one call per query: the pyarrow read converts
  to numpy once, the hot-term LRU keeps each term's block columns (and,
  once hot, its decoded postings) as numpy arrays, and a query's
  columns are joined with ``np.concatenate``. No pandas object is built
  per request. Parity with ``BM25Index.search`` is therefore
  structural, and pinned end-to-end by ``tests/test_serve_local.py``.

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

        from neural_cherche_spark.query.bmw import _payload_codec, _raw_cfg

        self.manifest = manifest
        self._serving = serving
        self._serving_prepared = prepared
        self._tomb_src = tomb_src
        # hot-term postings cache: term_id → (its block columns as
        # numpy arrays, bytes, accesses) — immutable for this manifest:
        # segments are append-only and the handle is pinned to one
        # manifest. LRU by payload (+ decoded) bytes; serving
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
        # the block columns a scan reads and a query's cached entries
        # join: fixed per storage, plus ``seg`` for a segmented index
        raw = self.storage == "raw"
        self._payload = _payload_codec(raw)[0]
        bounds = ("max_tf", "min_tf", "min_dl", "max_dl") if raw else ("max_w", "min_w")
        self._cols = ["term_id", "salt", "n", "first_doc", "last_doc", *bounds]
        self._cols += [*self._payload] + (["seg"] if "seg" in self._fields else [])
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
    def _read_postings(self, tids: list[int]) -> tuple[list, dict | None]:
        """Block columns of terms ``tids`` → ((term_id, cached entry) of
        the hits, in ``tids`` order; this request's scan of the misses,
        or None). Hot terms come from the LRU cache; only cache misses
        touch the dataset, in ONE pruned scan (:meth:`_scan_postings`),
        whose rows then enter the cache one entry per term."""
        hits, misses = [], []
        for t in tids:
            if t in self._cache:
                self._cache.move_to_end(t)
                hits.append((t, self._decoded(t)))
            else:
                misses.append(t)
        if not misses:
            return hits, None
        fresh, nbytes = self._scan_postings(misses)
        if self._cache_cap > 0 and nbytes.size:
            u, first, inv = np.unique(
                fresh["term_id"], return_index=True, return_inverse=True
            )
            by_term = np.split(
                np.argsort(inv, kind="stable"), np.cumsum(np.bincount(inv))[:-1]
            )
            # one entry per term, inserted in scan order; the scan is
            # the term's first access — decoded arrays attach on its
            # fourth (see _decoded)
            for g in np.argsort(first):
                rows = by_term[g]
                nb = int(nbytes[rows].sum()) + 512
                self._cache[int(u[g])] = (
                    {c: a[rows] for c, a in fresh.items()}, nb, 0
                )
                self._cache_bytes += nb
            self._evict()
        return hits, fresh

    def _evict(self) -> None:
        while self._cache_bytes > self._cache_cap and self._cache:
            _, (_, nb, _) = self._cache.popitem(last=False)
            self._cache_bytes -= nb

    def _decoded(self, t: int) -> dict:
        """Cached block columns of term ``t``, with its postings decoded
        on the term's FOURTH access — the scan that cached it is the
        first, so the third cache hit decodes (two repeat hits mark the
        term hot; decoding lazily keeps cold and lukewarm accesses
        exactly as cheap as before — a benchmark whose terms repeat
        only once pays nothing — and never pre-decodes blocks a
        rarely-seen term's queries may skip).

        The decoded postings join the entry as flat arrays
        ``dec_docs`` + ``dec_ws`` | ``dec_tfs``/``dec_dls`` with
        per-block offsets ``dec_at``; the scorer gathers from them
        instead of re-running the varint decode (profiled at ~18% of
        serving wall on repeat-heavy workloads). LRU accounting
        includes the decoded bytes. A decoded entry is returned as it
        is: its access count no longer matters."""
        from neural_cherche_spark.query.bmw import _payload_codec

        e, nb, hits = self._cache[t]
        if "dec_at" in e:
            return e
        if hits < 2:
            self._cache[t] = (e, nb, hits + 1)
            return e
        decode = _payload_codec(self.storage == "raw")[1]
        ns = e["n"]
        arrs = decode(*(e[c] for c in self._payload), ns)
        dec = {"dec_" + c: a for c, a in zip(self._payload, arrs)}
        dec["dec_at"] = np.cumsum(ns) - ns
        e = {**e, **dec}
        extra = sum(a.nbytes for a in dec.values())
        self._cache[t] = (e, nb + extra, hits + 1)
        self._cache_bytes += extra
        self._evict()
        return e

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

    def _scan_postings(self, tids: list[int]) -> tuple[dict, np.ndarray]:
        """One batched pyarrow scan of terms ``tids`` → (block columns as
        numpy arrays, payload bytes per block)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        self.cache_misses += 1
        frags, fsegs, tmins, tmaxs, fidx, rgids = self._rg_index()
        tids = np.asarray(sorted(tids), dtype=np.int64)
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
        if sel_frags:
            tbl = ds.FileSystemDataset(
                sel_frags,
                schema=self._ds.schema,
                format=self._ds.format,
                filesystem=self._ds.filesystem,
            ).to_table(columns=self._cols, filter=filt)
        else:
            tbl = self._ds.schema.empty_table().select(self._cols)
        nbytes = sum(
            pc.binary_length(tbl[c]).to_numpy().astype(np.int64)
            for c in self._payload
        )
        return {c: tbl[c].to_numpy() for c in self._cols}, nbytes

    def search(self, queries: list[str] | str, k: int = 10) -> list:
        """Top-k per query → ``[[{"doc_id", "score", "rank"}, ...], ...]``
        (a single string returns the inner list directly).

        One pyarrow read covers the batch's term union; each query's
        block columns are then concatenated from it and from the cache
        and scored in-process by the cluster's block-max kernel, as the
        Spark path scores each selective query."""
        from neural_cherche_spark.query.bmw import _s_t, serving_match_rows

        single = isinstance(queries, str)
        qlist = [queries] if single else list(queries)
        rows = serving_match_rows(self, qlist)
        out: list[list[dict]] = [[] for _ in qlist]
        if rows:
            hits, fresh = self._read_postings([int(r["term_id"]) for r in rows])
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
                    out[qid] = self._score_one(hits, fresh, terms, k)
        return out[0] if single else out

    # ------------------------------------------------------------------
    def _score_one(
        self,
        hits: list,
        fresh: dict | None,
        terms: dict[int, tuple[float, float]],
        k: int,
    ) -> list:
        """One query as one kernel call: its terms' cached entries (in
        match order), then its rows of this request's scan, joined per
        column with ``np.concatenate``; the final cut uses the cluster
        window's tie rule (score desc, doc_id asc)."""
        from neural_cherche_spark.query.bmw import _score_blocks

        keys = np.fromiter(terms, dtype=np.int64, count=len(terms))
        parts = [e for t, e in hits if t in terms]
        if fresh is not None:
            sel = np.flatnonzero(np.isin(fresh["term_id"], keys))
            if sel.size:
                parts.append({c: a[sel] for c, a in fresh.items()})
        if not parts:
            return []
        cols = {c: np.concatenate([p[c] for p in parts]) for c in self._cols}
        dec = [p for p in parts if "dec_at" in p]
        if dec:
            # pre-decoded postings: flat arrays joined, per-block
            # offsets shifted to match; -1 marks blocks still encoded
            ats, base = [], 0
            for p in parts:
                if "dec_at" in p:
                    ats.append(p["dec_at"] + base)
                    base += p["dec_docs"].size
                else:
                    ats.append(np.full(p["n"].size, -1, dtype=np.int64))
            cols["dec_at"] = np.concatenate(ats)
            for c in self._payload:
                cols["dec_" + c] = np.concatenate([p["dec_" + c] for p in dec])
        order = np.argsort(keys)
        at = order[np.searchsorted(keys, cols["term_id"], sorter=order)]
        info = np.array(list(terms.values()), dtype=np.float64)
        cols["qtf"] = info[at, 0]
        if self._raw_cfg is not None:
            cols["s_t"] = info[at, 1]
        d, s = _score_blocks(cols, k, self._raw_cfg, tomb_src=self._tomb_src)
        order = np.lexsort((d, -s))[:k]
        return [
            {"doc_id": doc, "score": score, "rank": rank}
            for rank, (doc, score) in enumerate(
                zip(d[order].tolist(), s[order].tolist()), 1
            )
        ]
