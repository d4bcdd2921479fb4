"""Posting-list codec: delta-gap + varint docIDs, float32 weights,
per-block max-score — pure vectorized numpy (no per-element Python).

This is the custom data layout Spark has no primitive for (SURVEY §4
item 1): the reference keeps a scipy CSR matrix in RAM; at 10^12 docs
the equivalent is compressed binary posting blocks stored as parquet
``binary`` columns, built inside ``applyInPandas`` per term partition.

Format per block (≤ ``block_size`` postings, doc_ids strictly
ascending):
  * ``docs``  — varint(delta-gaps): first value is doc_id[0]+1, then
    gaps (always ≥1); +1 keeps every varint nonzero.
  * ``ws``    — raw little-endian float32 weights, same order.
  * columns ``n``, ``first_doc``, ``last_doc``, ``max_w`` are block
    metadata used for block-max pruning and range skipping.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128

# tfidf + raw storage: the per-posting dls varint stream carries the
# FLOOR-QUANTIZED encode-time per-doc L2 norm ρq = floor(dnorm · SCALE)
# instead of dl (tfidf scoring never reads dl — the cosine divides by
# ‖d‖, not by length). ρq/SCALE ≤ dnorm < (ρq+1)/SCALE, so the block
# metadata min_dl/max_dl become per-block norm bounds for free and
# block-max WAND gets a sound normalized upper bound
# qw·idf·max_tf·SCALE/min_dl without any extra stream or schema column.
# Norm drift across refreshes is covered by the manifest's per-segment
# dnorm_gammas factors (catalog.Manifest).
DNORM_SCALE = 256


def doc_salt(doc_ids: np.ndarray, n_salts: int) -> np.ndarray:
    """Salt/subgroup assignment of a doc id — the numpy twin of the
    builder's Spark-side expression (index/builder.py salt column).
    Both sides MUST agree bit-for-bit: the build partitions each head
    term's posting list by this function, and the block-max query path
    re-derives ownership to split heavy per-query groups into disjoint
    doc subsets (query/bmw.py).

    Mixing in two shifted copies breaks low-bit stride patterns in
    user-supplied ids (all-even ids etc.); ids are < 2^41 so the sum
    never overflows int64. For the default dense ids this is uniform.
    """
    d = np.asarray(doc_ids, dtype=np.int64)
    return (d + (d >> 7) + (d >> 15)) % np.int64(n_salts)


def varint_encode_with_sizes(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128-encode a uint64 array, vectorized (10 passes max).

    Returns (byte array uint8, per-value byte counts int64) so callers
    can slice the buffer at value boundaries without re-encoding."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    # bytes needed per value: ceil(bitlen/7), min 1
    nbytes = np.ones(v.shape, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    # write position of each value's first byte
    starts = np.zeros(v.shape, dtype=np.int64)
    np.cumsum(nbytes[:-1], out=starts[1:])
    for j in range(10):
        mask = nbytes > j
        if not mask.any():
            break
        byte = ((v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[mask] > j + 1).astype(np.uint8) << 7
        out[starts[mask] + j] = byte | cont
    return out, nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array, vectorized."""
    out, _ = varint_encode_with_sizes(values)
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 buffer → uint64 array, vectorized.

    Per-BYTE-POSITION masked passes (the encoder's loop, inverted):
    pass j gathers byte j of every value still wider than j bytes and
    ORs it in at shift 7j — at most 10 gather+OR passes, each a dense
    C-level op over a shrinking mask. The previous one-pass
    ``np.add.at`` scatter was 3-8× slower (unbuffered scatter-add
    touches bytes one at a time), and this function sits under every
    decode hot path: all query modes, the Spark-free serving tier,
    and delta-refresh segment reads."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    starts = np.flatnonzero(np.concatenate(([True], is_last[:-1])))
    nbytes = np.flatnonzero(is_last) - starts + 1
    out = (b[starts] & np.uint8(0x7F)).astype(np.uint64)
    j = 1
    mask = nbytes > 1
    while mask.any():
        idx = starts[mask] + j
        out[mask] |= (b[idx] & np.uint8(0x7F)).astype(np.uint64) << np.uint64(7 * j)
        j += 1
        mask = nbytes > j
    return out


def encode_blocks(
    doc_ids: np.ndarray, weights: np.ndarray, block_size: int = BLOCK_SIZE
) -> list[tuple[int, int, int, int, float, bytes, bytes]]:
    """Split one posting list into compressed blocks.

    Returns rows ``(block_id, n, first_doc, last_doc, max_w, docs, ws)``.
    ``doc_ids`` must be strictly ascending int64.
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    weights = np.asarray(weights, dtype=np.float32)
    rows = []
    for bi, off in enumerate(range(0, doc_ids.size, block_size)):
        d = doc_ids[off : off + block_size]
        w = weights[off : off + block_size]
        gaps = np.empty(d.shape, dtype=np.uint64)
        gaps[0] = np.uint64(d[0] + 1)
        if d.size > 1:
            gaps[1:] = np.diff(d).astype(np.uint64)
        rows.append(
            (
                bi,
                int(d.size),
                int(d[0]),
                int(d[-1]),
                float(w.max()) if w.size else 0.0,
                varint_encode(gaps),
                w.tobytes(),
            )
        )
    return rows


def encode_partition_bulk(
    tid: np.ndarray,
    salt: np.ndarray,
    doc_ids: np.ndarray,
    weights: np.ndarray,
    block_size: int = BLOCK_SIZE,
) -> dict[str, list | np.ndarray]:
    """Encode ALL (term_id, salt) runs of one sorted partition in one
    vectorized pass — O(1) numpy calls per partition instead of per
    run (zipfian vocabularies have millions of tiny runs; per-run
    numpy overhead dominated the build before this).

    Inputs must be sorted by (tid, salt, doc_id), doc_ids strictly
    ascending within each run. Output block format is identical to
    :func:`encode_blocks` (property-tested equivalent).
    """
    n = doc_ids.size
    if n == 0:
        return {
            "term_id": np.empty(0, dtype=np.int64),
            "salt": np.empty(0, dtype=np.int64),
            "block_id": np.empty(0, dtype=np.int64),
            "n": np.empty(0, dtype=np.int64),
            "first_doc": np.empty(0, dtype=np.int64),
            "last_doc": np.empty(0, dtype=np.int64),
            "max_w": np.empty(0, dtype=np.float64),
            "min_w": np.empty(0, dtype=np.float64),
            "n_bytes": np.empty(0, dtype=np.int64),
            "docs": [],
            "ws": [],
        }
    tid = np.asarray(tid, dtype=np.int64)
    salt = np.asarray(salt, dtype=np.int64)
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    weights = np.asarray(weights, dtype=np.float32)

    run_start = np.empty(n, dtype=bool)
    run_start[0] = True
    run_start[1:] = (np.diff(tid) != 0) | (np.diff(salt) != 0)
    run_id = np.cumsum(run_start) - 1
    run_starts = np.flatnonzero(run_start)
    pos_in_run = np.arange(n, dtype=np.int64) - run_starts[run_id]

    block_start = run_start | (pos_in_run % block_size == 0)
    block_starts = np.flatnonzero(block_start)
    block_ends = np.append(block_starts[1:], n)

    gaps = np.empty(n, dtype=np.uint64)
    if n > 1:
        gaps[1:] = np.diff(doc_ids).astype(np.uint64)
    gaps[block_starts] = (doc_ids[block_starts] + 1).astype(np.uint64)

    buf, nbytes = varint_encode_with_sizes(gaps)
    byte_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(nbytes, out=byte_off[1:])

    docs_bin = [
        buf[byte_off[s] : byte_off[e]].tobytes()
        for s, e in zip(block_starts, block_ends)
    ]
    ws_bin = [weights[s:e].tobytes() for s, e in zip(block_starts, block_ends)]

    return {
        "term_id": tid[block_starts],
        "salt": salt[block_starts],
        "block_id": (pos_in_run[block_starts] // block_size).astype(np.int64),
        "n": block_ends - block_starts,
        "first_doc": doc_ids[block_starts],
        "last_doc": doc_ids[block_ends - 1],
        "max_w": np.maximum.reduceat(weights, block_starts).astype(np.float64),
        "min_w": np.minimum.reduceat(weights, block_starts).astype(np.float64),
        # stored size per block (varint docs + f32 weights): lets the
        # lineage/metrics stage aggregate bytes WITHOUT re-reading the
        # binary columns (column-pruned scan at 100 TB)
        "n_bytes": (byte_off[block_ends] - byte_off[block_starts])
        + 4 * (block_ends - block_starts),
        "docs": docs_bin,
        "ws": ws_bin,
    }


def encode_partition_bulk_raw(
    tid: np.ndarray,
    salt: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    n_salts: np.ndarray,
    block_size: int = BLOCK_SIZE,
) -> dict[str, list | np.ndarray]:
    """RAW-storage twin of :func:`encode_partition_bulk`: blocks store
    per-posting ``(tf, dl)`` varints instead of a precomputed float32
    weight. The BM25 weight is then computed at QUERY time from the
    CURRENT global statistics (idf, term_norm, avgdl) — which is what
    makes incremental index refresh O(new batch): old blocks never
    need re-encoding when collection statistics move (the reference's
    ``add()`` achieves O(new batch) by freezing stale stats instead,
    bm25.py:146-197 — raw storage gets the same cost with EXACT fresh
    stats). tf/dl are small positive ints, so the varint streams
    typically compress tighter than 4-byte floats.

    Per-block metadata is (max_tf, min_tf, min_dl, max_dl): the
    query side derives sound block-max/min score bounds from them via
    the monotonicity of the BM25 tf-saturation in tf (↑) and dl (↓).
    ``n_salts`` is a per-posting passthrough (constant within a run):
    segments of an incrementally-grown index may have been salted
    under different (monotonically growing) per-term salt counts, so
    the query side needs the salt layout PER RUN, not per term.
    """
    n = doc_ids.size
    if n == 0:
        return {
            "term_id": np.empty(0, dtype=np.int64),
            "salt": np.empty(0, dtype=np.int64),
            "n_salts": np.empty(0, dtype=np.int64),
            "block_id": np.empty(0, dtype=np.int64),
            "n": np.empty(0, dtype=np.int64),
            "first_doc": np.empty(0, dtype=np.int64),
            "last_doc": np.empty(0, dtype=np.int64),
            "max_tf": np.empty(0, dtype=np.int64),
            "min_tf": np.empty(0, dtype=np.int64),
            "min_dl": np.empty(0, dtype=np.int64),
            "max_dl": np.empty(0, dtype=np.int64),
            "n_bytes": np.empty(0, dtype=np.int64),
            "docs": [],
            "tfs": [],
            "dls": [],
        }
    tid = np.asarray(tid, dtype=np.int64)
    salt = np.asarray(salt, dtype=np.int64)
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    n_salts = np.asarray(n_salts, dtype=np.int64)

    run_start = np.empty(n, dtype=bool)
    run_start[0] = True
    run_start[1:] = (np.diff(tid) != 0) | (np.diff(salt) != 0)
    run_id = np.cumsum(run_start) - 1
    run_starts = np.flatnonzero(run_start)
    pos_in_run = np.arange(n, dtype=np.int64) - run_starts[run_id]

    block_start = run_start | (pos_in_run % block_size == 0)
    block_starts = np.flatnonzero(block_start)
    block_ends = np.append(block_starts[1:], n)

    gaps = np.empty(n, dtype=np.uint64)
    if n > 1:
        gaps[1:] = np.diff(doc_ids).astype(np.uint64)
    gaps[block_starts] = (doc_ids[block_starts] + 1).astype(np.uint64)

    d_buf, d_sz = varint_encode_with_sizes(gaps)
    t_buf, t_sz = varint_encode_with_sizes(tfs.astype(np.uint64))
    l_buf, l_sz = varint_encode_with_sizes(dls.astype(np.uint64))
    d_off = np.zeros(n + 1, dtype=np.int64)
    t_off = np.zeros(n + 1, dtype=np.int64)
    l_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(d_sz, out=d_off[1:])
    np.cumsum(t_sz, out=t_off[1:])
    np.cumsum(l_sz, out=l_off[1:])

    return {
        "term_id": tid[block_starts],
        "salt": salt[block_starts],
        "n_salts": n_salts[block_starts],
        "block_id": (pos_in_run[block_starts] // block_size).astype(np.int64),
        "n": block_ends - block_starts,
        "first_doc": doc_ids[block_starts],
        "last_doc": doc_ids[block_ends - 1],
        "max_tf": np.maximum.reduceat(tfs, block_starts),
        "min_tf": np.minimum.reduceat(tfs, block_starts),
        "min_dl": np.minimum.reduceat(dls, block_starts),
        "max_dl": np.maximum.reduceat(dls, block_starts),
        "n_bytes": (d_off[block_ends] - d_off[block_starts])
        + (t_off[block_ends] - t_off[block_starts])
        + (l_off[block_ends] - l_off[block_starts]),
        "docs": [
            d_buf[d_off[s] : d_off[e]].tobytes()
            for s, e in zip(block_starts, block_ends)
        ],
        "tfs": [
            t_buf[t_off[s] : t_off[e]].tobytes()
            for s, e in zip(block_starts, block_ends)
        ],
        "dls": [
            l_buf[l_off[s] : l_off[e]].tobytes()
            for s, e in zip(block_starts, block_ends)
        ],
    }


def decode_block_raw(
    docs: bytes, tfs: bytes, dls: bytes
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of one encode_partition_bulk_raw block →
    (doc_ids int64, tf int64, dl int64)."""
    gaps = varint_decode(docs).astype(np.int64)
    if gaps.size:
        gaps[0] -= 1
    return (
        np.cumsum(gaps),
        varint_decode(tfs).astype(np.int64),
        varint_decode(dls).astype(np.int64),
    )


def _segmented_doc_ids(gaps: np.ndarray, ns: np.ndarray) -> np.ndarray:
    """Concatenated per-block delta-gap streams → absolute doc ids.

    Each block's first gap is encoded as doc+1 (codec invariant); the
    cumulative sum is reset per block by subtracting the running total
    at each block start — all C-level, no per-block loop."""
    gaps = gaps.astype(np.int64)
    starts = np.zeros(ns.size, dtype=np.int64)
    np.cumsum(ns[:-1], out=starts[1:])
    gaps[starts] -= 1
    c = np.cumsum(gaps)
    base = np.zeros(ns.size, dtype=np.int64)
    base[1:] = c[starts[1:] - 1]
    return c - np.repeat(base, ns)


def decode_blocks_batched(
    docs_bins: list, ws_bins: list, ns: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Decode MANY weight-storage blocks in one vectorized pass:
    varint streams are self-delimiting, so the per-block buffers
    concatenate into a single decode; doc-id cumsums are segmented by
    the per-block posting counts ``ns`` (the metadata ``n`` column).

    This is the hot-path twin of :func:`decode_block`: per-block
    decode costs ~100 µs of small-array numpy overhead, so a group
    with 10^4 blocks spent ~1 s/query in per-block calls — batching
    makes the whole chunk a handful of C passes (round-5 large-corpus
    QPS work)."""
    ns = np.asarray(ns, dtype=np.int64)
    if ns.size == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32)
    gaps = varint_decode(b"".join(docs_bins))
    doc_ids = _segmented_doc_ids(gaps, ns)
    weights = np.frombuffer(b"".join(ws_bins), dtype=np.float32)
    return doc_ids, weights


def decode_blocks_raw_batched(
    docs_bins: list, tfs_bins: list, dls_bins: list, ns: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """RAW-storage twin of :func:`decode_blocks_batched` →
    (doc_ids, tf, dl) concatenated across blocks."""
    ns = np.asarray(ns, dtype=np.int64)
    if ns.size == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e, e
    gaps = varint_decode(b"".join(docs_bins))
    doc_ids = _segmented_doc_ids(gaps, ns)
    tfs = varint_decode(b"".join(tfs_bins)).astype(np.int64)
    dls = varint_decode(b"".join(dls_bins)).astype(np.int64)
    return doc_ids, tfs, dls


def bm25_w1(
    tf: np.ndarray, dl: np.ndarray, k1: float, b: float, avgdl: float,
    epsilon: float = 0.0,
) -> np.ndarray:
    """Query-time BM25 tf-saturation for RAW blocks — the numpy twin of
    the builder's weight expression. MUST stay the same evaluation tree
    as index/builder.py::bm25_w1 so raw-mode scores agree with
    weights-mode/oracle scores to f64 rounding."""
    tf = tf.astype(np.float64)
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl)) + epsilon


def decode_block(docs: bytes, ws: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of one encode_blocks row → (doc_ids int64, weights f32)."""
    gaps = varint_decode(docs).astype(np.int64)
    if gaps.size:
        gaps[0] -= 1
    doc_ids = np.cumsum(gaps)
    weights = np.frombuffer(ws, dtype=np.float32)
    return doc_ids, weights
