"""Property tests for the posting-list codec (no Spark needed)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from neural_cherche_spark.index.codec import (
    decode_blocks_batched,
    encode_blocks,
    varint_decode,
    varint_encode,
)


@given(
    st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300)
)
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert varint_decode(varint_encode(arr)).tolist() == vals


@given(
    st.sets(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=500),
    st.integers(min_value=1, max_value=64),
)
@settings(max_examples=100, deadline=None)
def test_block_roundtrip(doc_set, block_size):
    doc_ids = np.array(sorted(doc_set), dtype=np.int64)
    rng = np.random.default_rng(0)
    ws = rng.random(doc_ids.size).astype(np.float32)
    rows = encode_blocks(doc_ids, ws, block_size)
    got_d, got_w = [], []
    for bi, n, first, last, max_w, docs, wbytes in rows:
        d, w = decode_blocks_batched([docs], [wbytes], [n])
        assert d.size == n == w.size
        assert d[0] == first and d[-1] == last
        assert np.isclose(max_w, w.max())
        got_d.append(d)
        got_w.append(w)
    np.testing.assert_array_equal(np.concatenate(got_d), doc_ids)
    np.testing.assert_array_equal(np.concatenate(got_w), ws)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),   # term
            st.integers(min_value=0, max_value=2),   # salt
        ),
        min_size=1,
        max_size=400,
    ),
    st.integers(min_value=1, max_value=32),
)
@settings(max_examples=100, deadline=None)
def test_bulk_matches_per_run_encoding(keys, block_size):
    """encode_partition_bulk must produce byte-identical blocks to the
    per-run encode_blocks reference."""
    from neural_cherche_spark.index.codec import encode_partition_bulk

    # build sorted runs with strictly-ascending doc ids per run
    rows = []
    seen: dict[tuple, int] = {}
    rng = np.random.default_rng(1)
    for t, s in sorted(keys):
        nxt = seen.get((t, s), 0) + int(rng.integers(1, 50))
        seen[(t, s)] = nxt
        rows.append((t, s, nxt, float(rng.random())))
    tid = np.array([r[0] for r in rows], dtype=np.int64)
    salt = np.array([r[1] for r in rows], dtype=np.int64)
    docs = np.array([r[2] for r in rows], dtype=np.int64)
    ws = np.array([r[3] for r in rows], dtype=np.float32)

    bulk = encode_partition_bulk(tid, salt, docs, ws, block_size)

    expected = []
    i = 0
    while i < len(rows):
        j = i
        while j < len(rows) and (tid[j], salt[j]) == (tid[i], salt[i]):
            j += 1
        for bi, n, first, last, max_w, dbin, wbin in encode_blocks(
            docs[i:j], ws[i:j], block_size
        ):
            expected.append(
                (int(tid[i]), int(salt[i]), bi, n, first, last, dbin, wbin)
            )
        i = j

    got = list(
        zip(
            bulk["term_id"].tolist(),
            bulk["salt"].tolist(),
            bulk["block_id"].tolist(),
            bulk["n"].tolist(),
            bulk["first_doc"].tolist(),
            bulk["last_doc"].tolist(),
            bulk["docs"],
            bulk["ws"],
        )
    )
    assert got == expected


def test_compression_is_compact():
    # dense ids (gap 1) must take ~1 byte each
    doc_ids = np.arange(10_000, dtype=np.int64)
    ws = np.ones(doc_ids.size, dtype=np.float32)
    rows = encode_blocks(doc_ids, ws, 128)
    total_doc_bytes = sum(len(r[5]) for r in rows)
    assert total_doc_bytes < 1.1 * doc_ids.size


def test_raw_bulk_roundtrip_random_runs():
    """encode_partition_bulk_raw ↔ decode_blocks_raw_batched roundtrip
    across random multi-run partitions (the raw-storage codec), one
    block per call and all blocks in one batched call."""
    import numpy as np

    from neural_cherche_spark.index.codec import (
        decode_blocks_raw_batched,
        encode_partition_bulk_raw,
    )

    rng = np.random.default_rng(7)
    for _ in range(5):
        runs = []
        for t in range(rng.integers(1, 6)):
            for s in range(rng.integers(1, 3)):
                n = int(rng.integers(1, 400))
                docs = np.sort(
                    rng.choice(100_000, size=n, replace=False)
                ).astype(np.int64)
                runs.append(
                    (
                        np.full(n, t, dtype=np.int64),
                        np.full(n, s, dtype=np.int64),
                        docs,
                        rng.integers(1, 50, n).astype(np.int64),
                        rng.integers(1, 5000, n).astype(np.int64),
                        np.full(n, 4, dtype=np.int64),
                    )
                )
        tid, salt, d, tf, dl, ns = (np.concatenate(x) for x in zip(*runs))
        enc = encode_partition_bulk_raw(tid, salt, d, tf, dl, ns, block_size=64)
        # every block decodes back to its slice; metadata is exact
        got_d, got_tf, got_dl = [], [], []
        for i in range(len(enc["n"])):
            bd, btf, bdl = decode_blocks_raw_batched(
                [enc["docs"][i]], [enc["tfs"][i]], [enc["dls"][i]], [enc["n"][i]]
            )
            assert bd.size == enc["n"][i]
            assert bd[0] == enc["first_doc"][i] and bd[-1] == enc["last_doc"][i]
            assert btf.max() == enc["max_tf"][i] and btf.min() == enc["min_tf"][i]
            assert bdl.max() == enc["max_dl"][i] and bdl.min() == enc["min_dl"][i]
            assert enc["n_salts"][i] == 4
            got_d.append(bd)
            got_tf.append(btf)
            got_dl.append(bdl)
        # concatenation over blocks (sorted by term,salt) == input sorted
        order = np.lexsort((d, salt, tid))
        np.testing.assert_array_equal(np.concatenate(got_d), d[order])
        np.testing.assert_array_equal(np.concatenate(got_tf), tf[order])
        np.testing.assert_array_equal(np.concatenate(got_dl), dl[order])
        bd, btf, bdl = decode_blocks_raw_batched(
            enc["docs"], enc["tfs"], enc["dls"], enc["n"]
        )
        np.testing.assert_array_equal(bd, d[order])
        np.testing.assert_array_equal(btf, tf[order])
        np.testing.assert_array_equal(bdl, dl[order])
