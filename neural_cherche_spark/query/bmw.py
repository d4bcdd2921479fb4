"""Query answering over the compressed postings index.

Every Spark search is ONE plan, built by :func:`search_auto` (what
``BM25Index.search`` calls):

    postings (bucket-pruned, term-filtered scan) ⋈ broadcast(query terms)
      → grp = CASE WHEN query_id = -1
                   THEN pmod(xxhash64(first_doc >> 8), m_bulk) ELSE 0 END
      → groupBy(query_id, grp).applyInPandas(_bmw_group_fn)
      → [groupBy(query_id, doc_id).sum] → rank window (:func:`_rank_topk`)

Matching runs on the driver, with no Spark job
(:func:`serving_match_rows`): the batch — a ``(query_id, query)``
DataFrame, collected once, or a list of strings — is tokenized with
the Python twin of the Catalyst tokenizer and looked up in the
termdict through pyarrow. The router decides only which queries are
HEAVY (matched-postings volume Σ df above
``heavy_postings_threshold``, from those match rows). A selective query is one group, scored by block-max pruned
exact top-k. A heavy query's terms enter the broadcast table as one
sentinel ``query_id = -1`` row per term: their blocks land (once) in
``m_bulk`` doc-region bulk groups, are decoded once, fanned out to
every heavy query through a broadcast {term_id: (qids, qtfs)}
map, and emit per-(query, doc) partial sums that the final groupBy-sum
completes. :func:`search_bmw` (no query heavy) and
:func:`search_distributed` (every query heavy) are presets of the same
builder. All are rank-identical to the exact join+agg path (tests pin
this).

Block-max pruning (:func:`_score_blocks`): blocks are processed in
descending positive-upper-bound (max(qtf·max_w, 0)) order with
per-(term, salt)-run suffix bounds: unseen docs are bounded by the
positive suffix maxima, candidates' finals lower-bounded via the
negative suffix minima — sound even when idf < 0 (tf_total > N,
routine on webtext under reference semantics, bm25.py:185-190). Once
no unseen doc can reach the certified k-th lower bound, remaining
blocks are decoded only where their doc range contains a surviving
candidate (range skip + np.isin). Results are ALWAYS exact. This is
the SURVEY §4.2 "block-max WAND" realized as vectorized two-phase
pruning (a Python pointer-chasing DAAT loop would be slower than numpy
phase-scoring at batch sizes).

Scoring is a numpy kernel over a dict of block columns
(:func:`_score_blocks`; bulk groups: :func:`_bulk_partial_scores`),
with ONE decode-and-weight step shared by both
(:func:`_decode_weights`). :func:`_bmw_group_fn` is only its
``applyInPandas`` adapter — one ``to_numpy`` per column in, one
DataFrame out. The Spark-free serving tier (``serve.LocalSearcher``)
calls the same kernel on numpy arrays straight from its pyarrow read
and its hot-term cache, one query at a time; no pandas object sits
between them. Raw-storage block bounds are derived in the kernel.

Bucket pruning: the builder spreads (term_id, salt) over parquet
``bucket=`` partitions by xxhash64; :func:`_postings_for` recomputes
the exact bucket set of the matched terms on the driver with the
numpy twin of that hash (``codec.salt_bucket``), so the parquet scan
prunes directories and row-groups (PushedFilters on bucket + term_id).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from neural_cherche_spark.index.codec import salt_bucket
from neural_cherche_spark.index.tombmask import keep_mask


_SCORE_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("doc_id", LongType()),
        StructField("score", DoubleType()),
    ]
)


def _query_pairs(queries) -> list[tuple[int, str | None]]:
    """The batch as (query_id, text) pairs: a ``(query_id, query)``
    DataFrame is collected once, keeping the caller's ids; a list of
    strings takes list positions as ids. Ids must be ≥ 0 — ``-1`` keys
    the bulk groups (:func:`search_auto`)."""
    if isinstance(queries, DataFrame):
        pairs = [
            (r[0], r[1])
            for r in queries.select("query_id", "query").collect()
        ]
    else:
        pairs = list(enumerate(queries))
    for qid, _ in pairs:
        if qid is None or qid < 0:
            raise ValueError(
                f"query_id {qid!r}: query ids must be >= 0 "
                "(-1 keys the bulk groups)"
            )
    return pairs


def _drop_nonpositive_queries(index, rows: list) -> list:
    """Driver-side WAND-style whole-query prune, exact by certificate:
    every scorer's per-posting contribution is ``qtf · w1 · idf /
    term_norm`` with qtf ≥ 1, w1 ≥ 0 (tf-saturation > 0 plus ε ≥ 0)
    and term_norm > 0 — so sign(max contribution of a term) =
    sign(idf), which the driver already holds in the match rows. A
    query whose EVERY matched term has idf ≤ 0 can only reach final
    scores ≤ 0, and the engine's positive-score filter (T2, reference
    tfidf.py:210-217) drops those rows — so the query's result set is
    empty, heavy or selective. Removing it HERE skips its share of
    the postings scan, the block-row duplication in the broadcast
    join, the shuffle, and its group — the group scorer
    only reached the same conclusion after all of that was paid
    (``ub_pos[order[0]] <= 0`` early-exit). Common-word queries over
    webtext hit this constantly: reference idf goes negative whenever
    tf_total > N (bm25.py:185-190).

    Filters each row's ``qs`` in place. Inapplicable (returns rows
    unchanged) when ε < 0 — then w1's sign is not certified. tfidf
    weighting has idf > 0 everywhere, so the filter is a structural
    no-op there."""
    if float(index.manifest.cfg.get("epsilon", 0.0)) < 0.0:
        return rows
    keep = {q["query_id"] for r in rows if r["idf"] > 0.0 for q in r["qs"]}
    for r in rows:
        r["qs"] = [q for q in r["qs"] if q["query_id"] in keep]
    return [r for r in rows if r["qs"]]


def _tfidf_transform_rows(rows: list) -> list:
    """Fold the tfidf query-side weighting (idf-weighted L2-normalized
    counts, reference retrieve.TfIdf, tfidf.py:123-144 + cosine
    semantics) into the qs entries: they carry qtf·idf/‖q‖ instead of
    raw qtf, so downstream scorers stay weighting-agnostic."""
    qnorm_sq: dict[int, float] = {}
    for r in rows:
        for q in r["qs"]:
            qw = q["qtf"] * r["idf"]
            qnorm_sq[q["query_id"]] = qnorm_sq.get(q["query_id"], 0.0) + qw * qw
    for r in rows:
        for q in r["qs"]:
            q["qtf"] = q["qtf"] * r["idf"] / (qnorm_sq[q["query_id"]] ** 0.5)
    return rows


def serving_match_rows(index, queries) -> list:
    """The engine's one match path, run on the driver with no Spark
    job: for each matched term, its (term_id, df, idf, term_norm,
    n_salts) and the (query_id, qtf) fan-out list ``qs``. Every search
    plan derives its broadcast table, scan pruning and routing volumes
    from these rows; ``serve.LocalSearcher`` scores them in-process.

    ``queries``: a ``(query_id, query)`` DataFrame or a list of strings
    (see :func:`_query_pairs`). Texts are tokenized with the Python
    twin of the Catalyst tokenizer that indexed the documents
    (parity-tested); qtf is counted per (query_id, term), summed over
    rows that share an id; null text adds no terms; grams outside the
    vocabulary drop (frozen-vocabulary semantics, tfidf.py:134).

    The term stats come from the handle's serving map when it called
    ``prepare_serving()``; otherwise from a pyarrow read of only this
    batch's grams' termdict rows, which is not kept on the handle.
    """
    from neural_cherche_spark.index.builder import SERVING_FIELDS
    from neural_cherche_spark.text.ngrams import char_wb_ngrams

    cfg = index.manifest.cfg
    n_min, n_max = int(cfg["n_min"]), int(cfg["n_max"])
    counts: dict[int, dict[str, int]] = {}
    for qid, text in _query_pairs(queries):
        c = counts.setdefault(int(qid), {})
        for t in char_wb_ngrams(text or "", n_min, n_max):
            c[t] = c.get(t, 0) + 1
    smap, prepared = index._serving, index._serving_prepared
    if smap is None:
        smap = index._termdict_map({t for c in counts.values() for t in c})
    per_term: dict[str, dict] = {}
    for qid, c in counts.items():
        for term, qtf in c.items():
            info = smap.get(term)
            if info is None:
                if prepared is not None and term not in prepared:
                    # vocabulary-filtered prepare: this gram was never
                    # checked against the termdict — dropping it could
                    # silently lose a real vocabulary term, so refuse
                    raise ValueError(
                        f"query gram {term!r} was not in the "
                        "prepare_serving(queries=...) workload — "
                        "re-prepare with the extended query set"
                    )
                continue  # frozen vocabulary: unseen terms drop
            e = per_term.get(term)
            if e is None:
                e = per_term[term] = dict(zip(SERVING_FIELDS, info), qs=[])
            e["qs"].append({"query_id": qid, "qtf": float(qtf)})
    rows = _drop_nonpositive_queries(index, list(per_term.values()))
    if cfg.get("weighting", "bm25") == "tfidf":
        rows = _tfidf_transform_rows(rows)
    return rows


def _tfidf_raw_gammas(index) -> dict | None:
    """Per-segment norm-drift bounds {seg: (γ_lo, γ_hi)} for a tfidf
    raw index, or None when any committed segment lacks one.

    Blocks of a covered segment carry the floor-quantized encode-time
    docnorm in their dls stream (codec.DNORM_SCALE); for a live doc d,
    γ_lo·ρq(d)/S ≤ ‖d‖_now ≤ γ_hi·(ρq(d)+1)/S — what makes block-max
    WAND sound on tfidf raw storage across refreshes. Segments written
    by the pre-quantization layout have NO manifest entry (their dls
    stream holds dl, not ρq); one uncovered segment poisons the whole
    block-max plan, so every query takes the bulk groups."""
    g = getattr(index.manifest, "dnorm_gammas", {}) or {}
    out = {}
    for s in index.manifest.segments:
        e = g.get(str(int(s["seg"])))
        if e is None:
            return None
        out[int(s["seg"])] = (float(e[0]), float(e[1]))
    return out


def _postings_for(index, rows: list) -> DataFrame:
    """Bucket- and term-pruned postings scan from collected match rows:
    the bucket set is every (term_id, salt < n_salts) run's
    ``codec.salt_bucket`` — the writer's own assignment, so partition
    pruning is exact."""
    tids = np.array([int(r["term_id"]) for r in rows], dtype=np.int64)
    ns = np.array([int(r["n_salts"]) for r in rows], dtype=np.int64)
    salts = np.arange(int(ns.sum())) - np.repeat(np.cumsum(ns) - ns, ns)
    buckets = np.unique(
        salt_bucket(np.repeat(tids, ns), salts, index.manifest.n_buckets)
    ).tolist()
    term_ids = sorted(tids.tolist())
    # one SQL string: Column.isin builds a py4j literal per value
    # (~0.7 s at 1k ids); parsed, it is the same pushed-down In filter
    return index.postings.filter(
        F.expr(
            f"bucket IN ({', '.join(map(str, buckets))}) "
            f"AND term_id IN ({', '.join(map(str, term_ids))})"
        )
    )


def _qt_df(spark, rows: list, cols: tuple, schema: str) -> DataFrame:
    """Driver→JVM transfer of the per-call query-term table through the
    Arrow path: ``createDataFrame`` over a list of tuples serializes
    row-by-row through pickle (~0.3 s per search call measured at
    1k-row qt tables); a pandas frame rides one Arrow batch (~0.1 s).
    Every search call pays this, so it is pure fixed-cost trim
    (guide §6 "Arrow for driver transfers")."""
    pdf = pd.DataFrame(rows, columns=list(cols))
    return spark.createDataFrame(pdf, schema)


def _empty_result(spark) -> DataFrame:
    return spark.createDataFrame(
        [], "query_id long, doc_id long, score double, rank int"
    )


def _raw_cfg(manifest) -> tuple | None:
    """(k1, b, ε, avgdl, weighting) for a RAW-storage index — what the
    scorers need to weight raw blocks from CURRENT stats — or None for
    weights storage (the stored weights are final)."""
    cfg = manifest.cfg
    if cfg.get("storage", "weights") != "raw":
        return None
    return (
        float(cfg["k1"]), float(cfg["b"]), float(cfg["epsilon"]),
        float(manifest.avgdl), cfg.get("weighting", "bm25"),
    )


def _s_t(r) -> float:
    """Query-time per-term scale of raw blocks: bm25 idf/term_norm;
    tfidf has term_norm ≡ 1.0, so this is idf — the doc-side weight
    before the per-doc norm division applied after aggregation."""
    return float(r["idf"]) / float(r["term_norm"])


def _rank_topk(
    index, scored: DataFrame, k: int, aggregate: bool, tfidf_raw: bool
) -> DataFrame:
    """Final (query_id, doc_id, score, rank) from scorer emissions.

    ``aggregate``: emissions are partial sums (bulk groups) or
    unnormalized tfidf candidates — sum them per (query, doc), divide
    tfidf raw by the CURRENT per-doc norm (a doc-keyed join against the
    aggregated, query-bounded candidate set, never the postings: the
    cosine factors out of the per-term sum), drop scores ≤ 0 and cut
    each partition to k per query before the rank window."""
    if aggregate:
        scored = scored.groupBy("query_id", "doc_id").agg(
            F.sum("score").alias("score")
        )
        if tfidf_raw:
            scored = (
                scored.join(index.docnorm, "doc_id")
                .withColumn("score", F.col("score") / F.col("dnorm"))
                .select("query_id", "doc_id", "score")
            )
        scored = scored.filter(F.col("score") > 0).mapInPandas(
            _local_topk_fn(k), _SCORE_SCHEMA
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


# ---------------------------------------------------------------------------
# bulk groups: decode once, fan out to every heavy query
# ---------------------------------------------------------------------------
# (query_id, doc_id) packed into one int64 key for the vectorized
# combine: doc_id < 2^41 (10^12-doc design bound), query_id < 2^22.
_DOC_BITS = 41
# target expanded (query × posting) pairs per bulk group — sizes the
# volume-driven bulk-group count m_bulk. Small enough that modest
# batches still fan out across a wide host (250k pairs ≈ a few ms of
# numpy — worker round-trip bounded), while the 512-group cap keeps
# the group set constant (and per-group work growing) as workloads
# scale up.
_PAIRS_PER_TASK = 250_000


def _payload_codec(raw: bool) -> tuple[tuple[str, ...], object]:
    """(payload column names, batched codec decoder) of a storage. The
    decoder is looked up on the codec module at call time, so wrappers
    installed on the module (perfbench ``--trace 1``) see every call."""
    from neural_cherche_spark.index import codec

    if raw:
        return ("docs", "tfs", "dls"), codec.decode_blocks_raw_batched
    return ("docs", "ws"), codec.decode_blocks_batched


def _ranges(starts: np.ndarray, ns: np.ndarray) -> np.ndarray:
    """Concatenation of ``arange(s, s + n)`` over the (start, n) pairs."""
    return np.repeat(starts - (np.cumsum(ns) - ns), ns) + np.arange(
        int(ns.sum())
    )


def _block_payload(cols: dict, idx: np.ndarray, raw: bool) -> tuple:
    """Per-posting payload arrays of blocks ``idx``, in ``idx`` order:
    (doc_ids, w32) or (doc_ids, tf, dl).

    A block with ``dec_at >= 0`` is already decoded: its postings sit
    at ``dec_at`` in the flat ``dec_<payload>`` arrays (the serving
    tier's hot-term cache, serve.LocalSearcher). Every other block goes
    through ONE batched codec decode. The values are the codec's either
    way."""
    names, decode = _payload_codec(raw)
    ns = np.asarray(cols["n"], dtype=np.int64)[idx]
    at = cols.get("dec_at")
    hot = at[idx] >= 0 if at is not None else None
    if hot is None or not hot.any():
        return decode(*(cols[c][idx] for c in names), ns)
    src = _ranges(at[idx][hot], ns[hot])
    if hot.all():
        return tuple(cols["dec_" + c][src] for c in names)
    cold = decode(*(cols[c][idx[~hot]] for c in names), ns[~hot])
    start = np.cumsum(ns) - ns
    to_hot = _ranges(start[hot], ns[hot])
    to_cold = _ranges(start[~hot], ns[~hot])
    out = []
    for c, a in zip(names, cold):
        o = np.empty(int(ns.sum()), dtype=a.dtype)
        o[to_hot] = cols["dec_" + c][src]
        o[to_cold] = a
        out.append(o)
    return tuple(out)


def _decode_weights(cols: dict, idx: np.ndarray, raw_cfg, tomb_src) -> tuple:
    """The decode-and-weight step of both scorers: blocks ``idx`` →
    per-posting (doc_id, weight, source block, dl stream), with
    tombstoned docs dropped.

    Weights blocks give their stored f32 weight. Raw blocks are
    weighted from CURRENT stats with the query-time per-term scale
    ``s_t`` (a block column): bm25 ``w1 · s_t``; tfidf the UNNORMALIZED
    ``tf · s_t`` — the exact cosine divides by the current ‖d‖ after
    aggregation (docnorm join in :func:`_rank_topk`). The dl stream
    (raw only, None for weights) is what tfidf's norm bounds read: the
    quantized encode-time norm ρq.

    Deleted docs are masked here, before any top-k selection; block
    bounds still include them (sound, just looser until compact()).
    The per-posting source segment lets the loader read only those
    segments' delete sets (tombmask.py); blocks without a ``seg``
    column fall back to the merged set."""
    from neural_cherche_spark.index.codec import bm25_w1

    arrs = _block_payload(cols, idx, raw_cfg is not None)
    bi = np.repeat(idx, np.asarray(cols["n"], dtype=np.int64)[idx])
    d, dlv = arrs[0], None
    if raw_cfg is None:
        w = arrs[1].astype(np.float64)
    else:
        k1, b, eps, avgdl, weighting = raw_cfg
        tfv, dlv = arrs[1], arrs[2]
        s_t = np.asarray(cols["s_t"], dtype=np.float64)[bi]
        if weighting == "tfidf":
            w = tfv.astype(np.float64) * s_t
        else:
            w = bm25_w1(tfv, dlv, k1, b, avgdl, eps) * s_t
    if tomb_src is not None and d.size:
        segs = (
            np.asarray(cols["seg"], dtype=np.int64)[bi]
            if "seg" in cols
            else None
        )
        keep = keep_mask(tomb_src, d, segs)
        if keep is not None:
            d, w, bi = d[keep], w[keep], bi[keep]
            if dlv is not None:
                dlv = dlv[keep]
    return d, w, bi, dlv


def _bulk_partial_scores(cols: dict, qmap: dict, raw_cfg, tomb_src) -> tuple:
    """Decode one bulk group's postings blocks ONCE, fan out to all
    matching heavy queries via the ``{term_id: (qids[], qtfs[])}`` map,
    and pre-aggregate to per-(query, doc) partial sums →
    (query_ids, doc_ids, scores).

    The (posting × matching-query) expansion — the irreducible work of
    exact scoring — is a handful of C-level numpy ops per TERM
    (tile/repeat/outer), the block decode is BATCHED (one concatenated
    varint pass per group, segmented by the metadata ``n`` column —
    per-block decode calls were the dominant Python cost on large
    corpora), and the combine is one dense accumulate or one np.unique
    over packed (query_id, doc_id) keys. No per-block Python loops on
    tiny arrays."""
    mask = (1 << _DOC_BITS) - 1
    empty = (
        np.empty(0, dtype=np.int64),
        np.empty(0, dtype=np.int64),
        np.empty(0, dtype=np.float64),
    )
    tid_col = np.asarray(cols["term_id"], dtype=np.int64)
    sel = np.flatnonzero(
        np.isin(tid_col, np.fromiter(qmap, dtype=np.int64, count=len(qmap)))
    )
    if sel.size == 0:
        return empty
    d, w, bi, _ = _decode_weights(cols, sel, raw_cfg, tomb_src)
    if d.size == 0:
        return empty
    tid_p = tid_col[bi]
    # per-term contiguous slices for the K×n expansion
    order = np.argsort(tid_p, kind="stable")
    d, w, tid_p = d[order], w[order], tid_p[order]
    bounds = np.flatnonzero(np.diff(tid_p)) + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [tid_p.size]))
    term_qids = [qmap[int(tid_p[s0])][0] for s0 in starts]
    term_qtfs = [qmap[int(tid_p[s0])][1] for s0 in starts]
    pairs = sum(
        q.size * (int(e0) - int(s0))
        for q, s0, e0 in zip(term_qids, starts, ends)
    )
    uq = np.unique(np.concatenate(term_qids))
    ud, dinv = np.unique(d, return_inverse=True)
    cells = uq.size * ud.size
    if 4 * pairs >= cells and cells <= 64_000_000:
        # DENSE combine — the batch-size-scaling fix: accumulate into
        # a (query-slot × local-doc) matrix instead of materializing
        # every (query, posting) pair and sorting it. Within one term
        # slice both queries and docs are UNIQUE (one posting per
        # (term, doc): blocks partition a run's docs, salt runs
        # partition a term's docs, a doc lives in one segment; one
        # qtf per (query, term)), so the fancy-index += never drops a
        # duplicate increment. O(pairs) writes + one O(cells) sweep,
        # no 16 B/pair key array, no O(pairs log pairs) sort — the
        # np.unique-over-pairs combine was 54% of scorer time and is
        # what made per-query cost GROW with batch size (512-query
        # batches: pair throughput/core 4.6× worse than 128-query).
        # Guards: density ≥ 1/4 (emission sweep stays O(pairs)) and
        # ≤ 64M cells (512 MB); sparse batches take the pair path.
        m = np.zeros((uq.size, ud.size), dtype=np.float64)
        for qi, qt, s0, e0 in zip(term_qids, term_qtfs, starts, ends):
            qslots = np.searchsorted(uq, qi)
            m[qslots[:, None], dinv[s0:e0][None, :]] += (
                qt[:, None] * w[s0:e0][None, :]
            )
        nzq, nzd = np.nonzero(m)
        # dropping exact-zero partials is exact: every contribution is
        # non-negative (eps-clamped idf, qtf ≥ 1) and the engine's
        # positive-score filter (T2) drops zero totals downstream
        sums = m[nzq, nzd]
        uk = (uq[nzq] << _DOC_BITS) | ud[nzd]
    else:
        key_parts, val_parts = [], []
        for qi, qt, s0, e0 in zip(term_qids, term_qtfs, starts, ends):
            ds, wsl = d[s0:e0], w[s0:e0]
            # K×n expansion in C: scores outer product, keys packed
            scores = (qt[:, None] * wsl[None, :]).ravel()
            keys = (
                (qi.astype(np.int64) << _DOC_BITS)[:, None] | ds[None, :]
            ).ravel()
            key_parts.append(keys)
            val_parts.append(scores)
        key = np.concatenate(key_parts)
        val = np.concatenate(val_parts)
        uk, inv = np.unique(key, return_inverse=True)
        sums = np.bincount(inv, weights=val)
    return (
        (uk >> _DOC_BITS).astype(np.int64),
        (uk & mask).astype(np.int64),
        sums,
    )


def _local_topk_fn(k: int):
    """Partition-local exact top-k per query over final (query, doc,
    score) rows — the map-side cut before the global rank window.
    After the (query_id, doc_id) aggregation every pair is globally
    unique, so the union of per-partition top-k is a superset of the
    global top-k: the window's sort input shrinks from the full
    candidate set (25.6M rows on the 100k-doc/256-query probe) to
    ≤ partitions·queries·k rows. Tie-break matches the window exactly
    (score desc, doc_id asc)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [p for p in batches if not p.empty]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        order = np.lexsort(
            (pdf["doc_id"].to_numpy(), -pdf["score"].to_numpy())
        )
        pdf = pdf.iloc[order]
        yield pdf.groupby("query_id", sort=False).head(k)

    return run


# ---------------------------------------------------------------------------
# block-max pruned per-query scoring
# ---------------------------------------------------------------------------
# dense-accumulator ceiling for the block-max group scorer: groups
# whose doc-id range is below this score into a flat per-doc array
# (one bincount per chunk) instead of the sorted-merge accumulator —
# the merge (np.unique + searchsorted + insert per chunk) was ~40% of
# group scoring time on corpora where bounds cannot prune. 2^22 docs
# caps the array at 32 MB f64 + 4 MB seen-mask per in-flight group.
_DENSE_ACC_MAX_DOC = 1 << 22


def _run_links(run_key: np.ndarray) -> tuple:
    """(by_run, sorted keys, same): ONE stable argsort groups blocks by
    run, positions ascending inside a run; ``same[j]`` says sorted
    slots j and j+1 hold the same run. Both suffix bounds read it."""
    by_run = np.argsort(run_key, kind="stable")
    rk = run_key[by_run]
    return by_run, rk, rk[1:] == rk[:-1]


def _run_suffix_bounds(
    run_key: np.ndarray, ub: np.ndarray, links: tuple | None = None
) -> np.ndarray:
    """Tight unseen-doc upper bounds for every suffix of a block order.

    Blocks are given in descending-ub processing order; ``run_key[i]``
    identifies the (term_id, salt) run of the i-th block. A doc appears
    in at most ONE block per run, so the best score any unseen doc can
    still reach from blocks i..end is Σ over runs of the MAX remaining
    block ub of that run — NOT the sum over all remaining blocks (the
    round-1 bound, looser by ~blocks-per-run).

    Returns ``bound`` of length n+1 with ``bound[i]`` = that per-run
    suffix-max sum for blocks i..end (``bound[n] == 0``). Vectorized:
    each block contributes its ub exactly on the suffix positions where
    it is the first remaining block of its run, so a difference array
    holds Σ of the runs' first ubs at 0 and ``ub[next(j)] − ub[j]`` at
    j + 1 (``next``: the run's next block, 0 past its last) — one
    cumsum. ``links``: :func:`_run_links` of ``run_key``, if at hand.
    """
    n = run_key.size
    bound = np.zeros(n + 1, dtype=np.float64)
    if n == 0:
        return bound
    by_run, _, same = links or _run_links(run_key)
    nxt = np.full(n, -1, dtype=np.int64)
    nxt[by_run[:-1][same]] = by_run[1:][same]
    first = np.ones(n, dtype=bool)
    first[by_run[1:][same]] = False
    diff = np.empty(n, dtype=np.float64)
    diff[0] = np.cumsum(ub[first])[-1]  # in order (np.sum is pairwise)
    diff[1:] = np.where(nxt[:-1] >= 0, ub[nxt[:-1]], 0.0) - ub[:-1]
    np.cumsum(diff, out=bound[:-1])
    return bound


def _run_suffix_bounds_signed(
    run_key: np.ndarray, ub_pos: np.ndarray, neg: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Signed twin of :func:`_run_suffix_bounds` for indexes with
    NEGATIVE weights (reference idf goes negative whenever
    tf_total > N — routine on webtext, bm25.py:185-190).

    For blocks i..end (processing order), a doc gains at most
    ``pos_bound[i]`` = Σ over runs of max(0, best remaining block ub)
    and loses at most ``neg_bound[i]`` = Σ over runs of
    min(0, worst remaining block lb).

    One numpy pass over one stable argsort (:func:`_run_links`): the
    positive side is :func:`_run_suffix_bounds` (ub_pos ≥ 0 and
    within-run non-increasing along the descending-ub processing order,
    so "best remaining" = "first remaining"); the negative side
    telescopes the per-run suffix minima — ``neg_bound[i] =
    Σ_{j≥i} (m_j − m_next(j))`` where ``m_j = min(0, per-run suffix min
    at j)`` and ``m_next(j)`` is the same at the run's next block (0
    past the last). The suffix minima are a doubling scan of the
    run-grouped order: ``np.minimum`` at shifts 1, 2, 4, … up to the
    longest run, masked to equal run keys (``min`` is exact).
    """
    n = run_key.size
    links = _run_links(run_key)
    pos_bound = _run_suffix_bounds(run_key, ub_pos, links)
    neg_bound = np.zeros(n + 1, dtype=np.float64)
    if n == 0:
        return pos_bound, neg_bound
    by_run, rk, same = links
    sufmin = neg[by_run]
    shift = 1
    while shift < n:
        # in place: numpy computes overlapping operands as if copied
        within = rk[:-shift] == rk[shift:]
        if not within.any():
            break
        np.minimum(
            sufmin[:-shift], sufmin[shift:], out=sufmin[:-shift], where=within
        )
        shift *= 2
    m = np.minimum(sufmin, 0.0)
    m_next = np.zeros(n, dtype=np.float64)
    m_next[:-1][same] = m[1:][same]
    delta = np.empty(n, dtype=np.float64)
    delta[by_run] = m - m_next
    neg_bound[:-1] = np.cumsum(delta[::-1])[::-1]
    return pos_bound, neg_bound


def _raw_block_bounds(cols: dict, raw_cfg: tuple, gammas: dict | None):
    """Per-block score bounds of RAW blocks, from the block's tf/dl
    extrema and the query-time scale ``s_t`` (the ``max_w``/``min_w``
    a weights block stores) → (max_w, min_w, glo, ghi).

    bm25: w1 = codec.bm25_w1 is monotone (tf ↑, dl ↓), so the block's
    w1 lies in [w1(min_tf, max_dl), w1(max_tf, min_dl)], widened
    outward by 1e-9 relative + 1e-12 absolute. With k1 ≥ 0 and
    0 ≤ b ≤ 1 (BM25Config enforces both) w1 ≥ ε holds exactly in f64,
    so the low end floors at ε.

    tfidf: the dls stream holds the quantized encode-time docnorm ρq
    (codec.DNORM_SCALE); for a live doc of segment s,
    ρq·γ_lo(s)/S ≤ ‖d‖_now ≤ (ρq+1)·γ_hi(s)/S, with γ from ``gammas``
    ({seg: (γ_lo, γ_hi)}, :func:`_tfidf_raw_gammas`) widened by 1∓1e-9
    against f64 noise in the refresh-time drift job. The NORMALIZED
    block bound is s_t·max_tf·S/(min_ρq·γ_lo); every contribution is
    nonnegative (idf > 0, query weights ≥ 0), so min_w ≡ 0. glo/ghi are
    the per-block ρq → norm factors (γ/S), None for bm25."""
    from neural_cherche_spark.index.codec import DNORM_SCALE, bm25_w1

    k1, b, eps, avgdl, weighting = raw_cfg
    s_t = np.asarray(cols["s_t"], dtype=np.float64)
    max_tf = np.asarray(cols["max_tf"], dtype=np.float64)
    min_dl = np.asarray(cols["min_dl"], dtype=np.float64)
    if weighting == "tfidf":
        segs, inv = np.unique(
            np.asarray(cols["seg"], dtype=np.int64), return_inverse=True
        )
        g = np.array([gammas[int(s)] for s in segs], dtype=np.float64)
        glo = g[inv, 0] * (1.0 - 1e-9)
        ghi = g[inv, 1] * (1.0 + 1e-9)
        max_w = s_t * max_tf * float(DNORM_SCALE) / (min_dl * glo)
        return max_w, np.zeros_like(max_w), glo / DNORM_SCALE, ghi / DNORM_SCALE
    hi = bm25_w1(max_tf, min_dl, k1, b, avgdl, eps)
    lo = bm25_w1(
        np.asarray(cols["min_tf"], dtype=np.float64),
        np.asarray(cols["max_dl"], dtype=np.float64),
        k1, b, avgdl, eps,
    )
    w1_hi = np.where(hi >= 0, hi * (1.0 + 1e-9), hi * (1.0 - 1e-9)) + 1e-12
    w1_lo = np.maximum(
        eps, np.where(lo >= 0, lo * (1.0 - 1e-9), lo * (1.0 + 1e-9)) - 1e-12
    )
    pos = s_t >= 0
    return (
        np.where(pos, s_t * w1_hi, s_t * w1_lo),
        np.where(pos, s_t * w1_lo, s_t * w1_hi),
        None,
        None,
    )


def _score_blocks(
    cols: dict,
    k: int,
    raw_cfg: tuple | None = None,
    tomb_src: str | None = None,
    gammas: dict | None = None,
    _stats: dict | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """The block-max scoring kernel: ONE query's blocks → its exact
    top-k as (doc_ids, scores). Spark's group adapter
    (:func:`_bmw_group_fn`) and ``serve.LocalSearcher`` both call it.

    ``cols`` maps column name → numpy array, one entry per block: the
    stored block columns plus the query side (``qtf``; ``s_t`` for raw
    storage). Weights blocks bring their stored ``max_w``/``min_w``;
    raw blocks bring tf/dl extrema and the bounds come from
    :func:`_raw_block_bounds` (tfidf raw needs ``gammas``). Blocks may
    arrive pre-decoded (``dec_at`` + ``dec_*``, :func:`_block_payload`).

    Pruning is sound under NEGATIVE weights (sign-split bounds):
    unseen docs are bounded by the per-run positive suffix maxima;
    candidates' final scores are lower-bounded via the per-run
    negative suffix minima, so θ_low = (k-th partial) + neg_bound is a
    certified lower bound on the final k-th score even though partial
    sums can still fall. Once pos_bound < θ_low, the remaining blocks
    are decoded ONLY where their [first_doc, last_doc] range contains
    a surviving candidate — stopword-gram mega-runs (always negative
    under reference idf on webtext) are mostly range-skipped without
    decoding.

    The accumulator is a sorted-merge (searchsorted + insert) instead
    of re-running np.unique over the growing accumulator each chunk —
    per-chunk cost is O(chunk log chunk + |acc|) memcpy, not
    O(|acc| log |acc|) sort (round-1 NOTES #1).

    Returns at most k docs (score desc, doc_id asc cut) with score > 0
    — except tfidf raw, which returns an UNNORMALIZED candidate
    superset (see below).
    """
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))
    qtf = np.asarray(cols["qtf"], dtype=np.float64)
    if raw_cfg is not None:
        max_w, min_w, glo, ghi = _raw_block_bounds(cols, raw_cfg, gammas)
    else:
        max_w = np.asarray(cols["max_w"], dtype=np.float64)
        min_w = np.asarray(cols["min_w"], dtype=np.float64)
    ub_pos = np.maximum(qtf * max_w, 0.0)
    neg = np.minimum(qtf * min_w, 0.0)
    first_doc = np.asarray(cols["first_doc"], dtype=np.int64)
    last_doc = np.asarray(cols["last_doc"], dtype=np.int64)

    # blocks by descending bound, equal bounds in (term_id, salt,
    # first_doc) order — one order whatever the arrival order (scan
    # order, the serving cache's match-row order, Spark's shuffle
    # order), so a doc's terms are always summed in the same order and
    # a repeated request scores bit-identically
    order = np.lexsort(
        (first_doc, np.asarray(cols["salt"]), np.asarray(cols["term_id"]), -ub_pos)
    )
    # no block can contribute positively → every final score ≤ 0 →
    # the positive-score filter empties the result; skip all decode
    if ub_pos[order[0]] <= 0.0:
        return empty
    tfidf = raw_cfg is not None and raw_cfg[4] == "tfidf"
    # run key: salt < 2^20 (cap 1024), term_id < 2^40 → fits int64
    run_key = (
        np.asarray(cols["term_id"], dtype=np.int64) << np.int64(20)
    ) | np.asarray(cols["salt"], dtype=np.int64)
    if (neg < 0).any():
        suffix_pos, suffix_neg = _run_suffix_bounds_signed(
            run_key[order], ub_pos[order], neg[order]
        )
    else:
        suffix_pos = _run_suffix_bounds(run_key[order], ub_pos[order])
        suffix_neg = np.zeros_like(suffix_pos)

    acc_d = np.empty(0, dtype=np.int64)
    acc_s = np.empty(0, dtype=np.float64)
    # tfidf only: per-candidate norm lower/upper bounds (a doc's ρq
    # is identical in every block that contains it — one value per
    # doc, captured at first sight)
    acc_lo = np.empty(0, dtype=np.float64)
    acc_hi = np.empty(0, dtype=np.float64)

    def decode_chunk(idx, doc_filter=None):
        """Decode and weight a CHUNK of blocks in one batched pass
        (:func:`_decode_weights`) → (docs, weights, norm lo, norm hi),
        or None when no posting survives — a group with 10^4 blocks
        previously paid ~100 µs of small-array numpy overhead PER
        BLOCK here (the dominant large-corpus query cost once bounds
        can't prune)."""
        if doc_filter is not None and idx.size:
            # vectorized range skip: keep only blocks whose
            # [first_doc, last_doc] range can contain a candidate
            lo = np.searchsorted(doc_filter, first_doc[idx])
            ok = lo < doc_filter.size
            ok[ok] = doc_filter[lo[ok]] <= last_doc[idx[ok]]
            idx = idx[ok]
        if idx.size == 0:
            return None
        if _stats is not None:
            _stats["decoded"] = _stats.get("decoded", 0) + int(idx.size)
        d, w, bi, dlv = _decode_weights(cols, idx, raw_cfg, tomb_src)
        w = w * qtf[bi]
        nlo = nhi = None
        if tfidf:
            nlo = dlv * glo[bi]
            nhi = (dlv + 1.0) * ghi[bi]
        if doc_filter is not None and d.size:
            # exact membership via searchsorted (d has cross-run
            # duplicates, so isin(assume_unique) would be unsound)
            p = np.searchsorted(doc_filter, d)
            m = p < doc_filter.size
            m[m] = doc_filter[p[m]] == d[m]
            d, w = d[m], w[m]
            if nlo is not None:
                nlo, nhi = nlo[m], nhi[m]
        return (d, w, nlo, nhi) if d.size else None

    def merge(chunk_out):
        nonlocal acc_d, acc_s, acc_lo, acc_hi
        if chunk_out is None:
            return
        nd, sv, lov, hiv = chunk_out
        uniq, inv = np.unique(nd, return_inverse=True)
        sums = np.bincount(inv, weights=sv)
        if tfidf:
            # scatter (last write wins — per-doc values identical)
            lo_u = np.empty(uniq.size, dtype=np.float64)
            hi_u = np.empty(uniq.size, dtype=np.float64)
            lo_u[inv] = lov
            hi_u[inv] = hiv
        if acc_d.size == 0:
            acc_d, acc_s = uniq, sums
            if tfidf:
                acc_lo, acc_hi = lo_u, hi_u
            return
        pos = np.searchsorted(acc_d, uniq)
        hit = np.zeros(uniq.size, dtype=bool)
        inr = pos < acc_d.size
        hit[inr] = acc_d[pos[inr]] == uniq[inr]
        acc_s[pos[hit]] += sums[hit]
        miss = ~hit
        if miss.any():
            acc_d = np.insert(acc_d, pos[miss], uniq[miss])
            acc_s = np.insert(acc_s, pos[miss], sums[miss])
            if tfidf:
                acc_lo = np.insert(acc_lo, pos[miss], lo_u[miss])
                acc_hi = np.insert(acc_hi, pos[miss], hi_u[miss])

    # adaptive schedule: small early chunks → earlier termination
    # checks exactly where descending-ub mass is front-loaded
    # (skewed groups prune after a handful of blocks); geometric
    # growth caps per-check numpy overhead on uniform groups at a
    # constant factor of the work that was unavoidable anyway.
    chunk = max(32, k)
    pos = 0
    # dense fast path (non-tfidf, bounded doc range): a flat per-doc
    # score array replaces the sorted-merge accumulator — one
    # bincount per chunk, no unique/searchsorted/insert. Same
    # values summed per doc (f64 addition order differs below
    # rounding granularity); same bounds, same early termination,
    # same tie-break cut.
    use_dense = (
        not tfidf
        and last_doc.size > 0
        and int(last_doc.max()) < _DENSE_ACC_MAX_DOC
    )
    if use_dense:
        size = int(last_doc.max()) + 1
        dacc = np.zeros(size, dtype=np.float64)
        dseen = np.zeros(size, dtype=bool)

        def dmerge(chunk_out):
            if chunk_out is None:
                return
            nd, sv = chunk_out[:2]
            np.add(dacc, np.bincount(nd, weights=sv, minlength=size), out=dacc)
            dseen[nd] = True

        while pos < order.size:
            dmerge(decode_chunk(order[pos : pos + chunk]))
            pos += chunk
            chunk = min(chunk * 2, 4096)
            if pos < order.size:
                seen_scores = dacc[dseen]
                if seen_scores.size < k:
                    continue
                theta_low = np.partition(seen_scores, -k)[-k] + float(
                    suffix_neg[pos]
                )
                remaining_ub = float(suffix_pos[pos])
                if remaining_ub < theta_low:
                    cand = np.flatnonzero(
                        dseen & (dacc + remaining_ub >= theta_low)
                    )
                    dmerge(decode_chunk(order[pos:], doc_filter=cand))
                    break
        uniq = np.flatnonzero(dseen)
        sums = dacc[uniq]
    else:
        while pos < order.size:
            merge(decode_chunk(order[pos : pos + chunk]))
            pos += chunk
            chunk = min(chunk * 2, 4096)
            if acc_d.size >= k and pos < order.size:
                if tfidf:
                    # θ_low: k-th best certified NORMALIZED lower
                    # bound (partial sums only grow — contributions
                    # are nonnegative — and ‖d‖ ≤ acc_hi); suffix
                    # bounds are already in normalized score space
                    theta_low = float(np.partition(acc_s / acc_hi, -k)[-k])
                    remaining_ub = float(suffix_pos[pos])
                    if remaining_ub < theta_low:
                        cand = acc_d[
                            acc_s / acc_lo + remaining_ub >= theta_low
                        ]
                        merge(decode_chunk(order[pos:], doc_filter=cand))
                        break
                    continue
                # θ_low: ≥ k docs end with final score ≥ θ_low
                # (their partials can drop at most suffix_neg from
                # here on)
                theta_low = (
                    np.partition(acc_s, -k)[-k] + float(suffix_neg[pos])
                )
                remaining_ub = float(suffix_pos[pos])
                if remaining_ub < theta_low:
                    # no unseen doc can reach the final top-k;
                    # finish exact scores for surviving candidates
                    cand = acc_d[acc_s + remaining_ub >= theta_low]
                    merge(decode_chunk(order[pos:], doc_filter=cand))
                    break
        uniq, sums = acc_d, acc_s
    pos_mask = sums > 0
    uniq, sums = uniq[pos_mask], sums[pos_mask]
    if uniq.size == 0:
        return empty
    if tfidf:
        # emit an UNNORMALIZED candidate superset: every doc whose
        # upper bound reaches the k-th certified lower bound. Docs
        # early-termination left with stale partials rank strictly
        # below the fully-decoded true top-k after the exact
        # docnorm division in _rank_topk, so the final window never
        # promotes them — emission inflation, not error.
        lo_m, hi_m = acc_lo[pos_mask], acc_hi[pos_mask]
        if uniq.size > k:
            theta = float(np.partition(sums / hi_m, -k)[-k])
            keep = sums / lo_m >= theta
            uniq, sums = uniq[keep], sums[keep]
        return uniq, sums
    if uniq.size > k:
        # deterministic cut: score desc, doc_id asc — must match the
        # exact path's tie-break so rank-identity holds under ties
        cut = np.lexsort((uniq, -sums))[:k]
        uniq, sums = uniq[cut], sums[cut]
    return uniq, sums


def _bmw_group_fn(
    k: int,
    raw_cfg: tuple | None = None,
    _stats: dict | None = None,
    tomb_src: str | None = None,
    bulk_qmap_bc=None,
    gammas: dict | None = None,
):
    """The ``applyInPandas`` adapter of the scorers: one ``to_numpy``
    per column in, one DataFrame out.

    A group keyed by ``query_id >= 0`` is one query, scored by
    :func:`_score_blocks`. Groups keyed by the sentinel
    ``query_id == -1`` are bulk groups (``bulk_qmap_bc`` set): they
    carry the HEAVY queries' blocks, which :func:`_bulk_partial_scores`
    decodes once and fans out to every heavy query via the broadcast
    map, emitting per-(query, doc) PARTIAL sums (exactness restored by
    the downstream groupBy-sum)."""

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = {c: pdf[c].to_numpy() for c in pdf.columns}
        qid = int(cols["query_id"][0])
        if qid == -1:
            q, d, s = _bulk_partial_scores(
                cols, bulk_qmap_bc.value, raw_cfg, tomb_src
            )
        else:
            d, s = _score_blocks(cols, k, raw_cfg, tomb_src, gammas, _stats)
            q = np.full(d.size, qid, dtype=np.int64)
        return pd.DataFrame({"query_id": q, "doc_id": d, "score": s})

    return score_group


def search_auto(
    index,
    queries: DataFrame | list[str],
    k: int = 10,
    heavy_postings_threshold: float = 500_000,
) -> DataFrame:
    """The query router and plan builder: ``BM25Index.search`` lands
    here. ``queries`` is a ``(query_id, query)`` DataFrame (collected
    once; the caller's ids, ≥ 0, are kept) or a list of strings (ids
    are list positions); :func:`serving_match_rows` matches either on
    the driver.

    A query whose matched-postings volume (Σ df over its matched terms,
    from the match rows) exceeds ``heavy_postings_threshold`` is
    HEAVY: its per-query group would straggle, so its terms' blocks go
    to the bulk groups instead. Every other query is one block-max
    group. On a tfidf raw index with a pre-quantization segment (no
    norm-drift gammas) block bounds are unsound, so every query is
    heavy. Heavy and selective queries share ONE postings scan and ONE
    grouped stage (see the module docstring); their result sets are
    disjoint by query_id.
    """
    rows = serving_match_rows(index, queries)
    if not rows:
        return _empty_result(index.spark)
    raw_cfg = _raw_cfg(index.manifest)
    raw = raw_cfg is not None
    tfidf_raw = raw and raw_cfg[4] == "tfidf"
    gammas = _tfidf_raw_gammas(index) if tfidf_raw else None
    if tfidf_raw and gammas is None:
        heavy_postings_threshold = -1
    vol: dict[int, int] = {}
    for r in rows:
        for q in r["qs"]:
            qid = int(q["query_id"])
            vol[qid] = vol.get(qid, 0) + int(r["df"])
    heavy = {q for q, v in vol.items() if v > heavy_postings_threshold}
    # broadcast query table: one row per (term, selective query), plus
    # one sentinel row per heavy-matched term that routes its blocks
    # (once) into the bulk groups; raw rows carry the query-time
    # per-term scale s_t, from which the scorers derive block bounds
    # and weights (the sentinel rows too). qmap {term_id: (qids[],
    # qtfs[])} is the bulk groups' fan-out to the heavy queries.
    qt_rows: list[tuple] = []
    qmap: dict[int, tuple] = {}
    vol_h = 0
    for r in rows:
        tid = int(r["term_id"])
        st = (_s_t(r),) if raw else ()
        hq = []
        for q in r["qs"]:
            qid, qtf = int(q["query_id"]), float(q["qtf"])
            if qid in heavy:
                hq.append((qid, qtf))
            else:
                qt_rows.append((tid, qid, qtf) + st)
        if hq:
            qt_rows.append((tid, -1, 0.0) + st)
            qids, qtfs = zip(*hq)
            qmap[tid] = (
                np.array(qids, dtype=np.int64),
                np.array(qtfs, dtype=np.float64),
            )
            vol_h += int(r["df"]) * len(hq)
    # bulk-group count sized by matched heavy volume: a constant group
    # set as the fleet grows (more groups would only duplicate partial
    # (query, doc) sums across groups)
    m_bulk = max(1, min((vol_h + _PAIRS_PER_TASK - 1) // _PAIRS_PER_TASK, 512))
    if raw:
        group_cols = [
            "query_id", "grp", "term_id", "salt", "n", "qtf", "s_t",
            "max_tf", "min_tf", "min_dl", "max_dl", "first_doc",
            "last_doc", "docs", "tfs", "dls", "seg",
        ]
    else:
        group_cols = [
            "query_id", "grp", "term_id", "salt", "n", "qtf", "max_w",
            "min_w", "first_doc", "last_doc", "docs", "ws",
        ]
    qt = _qt_df(
        index.spark,
        qt_rows,
        ("term_id", "query_id", "qtf") + (("s_t",) if raw else ()),
        "term_id long, query_id long, qtf double"
        + (", s_t double" if raw else ""),
    )
    # bulk groups are keyed by DOC REGION (first_doc >> 8): all heavy
    # terms' blocks for the same ~256-doc span land in ONE group, so
    # its combine emits ~1 partial per (query, doc) instead of one per
    # touching block (region-hash keeps groups balanced when the doc
    # space is small)
    grp = F.expr(
        "CASE WHEN query_id = -1 THEN cast(pmod(xxhash64("
        f"shiftright(first_doc, 8)), {m_bulk}) as int) ELSE 0 END"
    )
    scored = (
        _postings_for(index, rows)
        .join(F.broadcast(qt), "term_id")
        .withColumn("grp", grp)
        .select(*group_cols)
        .groupBy("query_id", "grp")
        .applyInPandas(
            _bmw_group_fn(
                k,
                raw_cfg,
                tomb_src=(
                    index._tomb_src() if hasattr(index, "_tomb_src") else None
                ),
                bulk_qmap_bc=(
                    index.spark.sparkContext.broadcast(qmap) if qmap else None
                ),
                gammas=gammas,
            ),
            _SCORE_SCHEMA,
        )
    )
    # tfidf raw groups emit UNNORMALIZED candidate supersets (each keeps
    # every doc whose upper bound reaches its certified k-th lower
    # bound), and bulk groups emit partial sums: both need the
    # per-(query, doc) sum — a no-op for the selective rows, which are
    # already one per (query, doc)
    return _rank_topk(
        index, scored, k, aggregate=tfidf_raw or bool(heavy),
        tfidf_raw=tfidf_raw,
    )


def search_bmw(
    index, queries: DataFrame | list[str], k: int = 10
) -> DataFrame:
    """:func:`search_auto` with no heavy query: every query is one
    block-max group."""
    return search_auto(index, queries, k, float("inf"))


def search_distributed(
    index, queries: DataFrame | list[str], k: int = 10
) -> DataFrame:
    """:func:`search_auto` with every query heavy: all blocks go to the
    bulk groups, decoded once and fanned out to every query."""
    return search_auto(index, queries, k, -1)
