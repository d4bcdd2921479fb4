from __future__ import annotations

import pytest

from neural_cherche_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


# Reference doctest corpus A (retrieve/bm25.py:41-47,79-83) — the
# rank-identity oracle set (FIXTURES.md F3).
CORPUS_A_BATCH1 = [(0, "Food"), (1, "Sports"), (2, "Cinema")]
CORPUS_A_BATCH2 = [(3, "Food"), (4, "Sports"), (5, "Cinema")]
QUERIES_A = ["Food", "Sports", "Cinema food sports", "cinema"]

# Golden top-k from BASELINE.md (doctest NUMBER-flag values).
GOLDEN_BATCH1 = [
    [(0, 3.0)],
    [(1, 9.0)],
    [(2, 9.0), (1, 9.0), (0, 3.0)],
    [(2, 9.0)],
]
GOLDEN_BATCH2 = [
    [(3, 2.432886242866516), (0, 1.7552960515022278)],
    [(1, 6.648760557174683), (4, 6.065804421901703)],
    [
        (1, 6.648760557174683),
        (2, 6.648760557174683),
        (4, 6.065804421901703),
        (5, 6.065804421901703),
    ],
    [(2, 6.648760557174683), (5, 6.065804421901703)],
]


def assert_rank_identical(got: list[tuple], expected: list[tuple], rtol=2e-6):
    """Compare (id, score) lists: scores close; ties compared as sets.

    The reference's tie order is argpartition-unstable (SURVEY §2.5
    T1), so docs whose scores are equal are interchangeable.
    """
    assert len(got) == len(expected), f"length {len(got)} != {len(expected)}\n{got}\n{expected}"
    i = 0
    while i < len(expected):
        # group the tie-block in expected by score (at rtol resolution)
        j = i
        while (
            j + 1 < len(expected)
            and abs(expected[j + 1][1] - expected[i][1])
            <= rtol * abs(expected[i][1])
        ):
            j += 1
        exp_ids = {d for d, _ in expected[i : j + 1]}
        got_ids = {d for d, _ in got[i : j + 1]}
        assert got_ids == exp_ids, f"rank block {i}:{j+1}: {got_ids} != {exp_ids}"
        for d, s in got[i : j + 1]:
            assert abs(s - expected[i][1]) <= rtol * max(abs(expected[i][1]), 1e-12), (
                f"score for {d}: {s} != {expected[i][1]}"
            )
        i = j + 1



def _artifact_rows(index) -> tuple[list, list]:
    blocks = index.postings.drop("enc_ms")
    blocks = blocks.select(*sorted(blocks.columns)).orderBy(
        "term_id", "salt", "block_id"
    )
    termdict = index.termdict
    termdict = termdict.select(*sorted(termdict.columns)).orderBy("term")
    return blocks.collect(), termdict.collect()


def assert_same_artifacts(got, want) -> None:
    """Two indexes built from the same corpus must hold the same
    postings block rows (without the timing column ``enc_ms``), byte
    for byte, and the same termdict. ``term_norm`` is an f64 sum whose
    order follows the tf table's file layout, so termdict floats
    compare to 1e-12 relative; every other value compares exactly."""
    import math

    got_blocks, got_td = _artifact_rows(got)
    want_blocks, want_td = _artifact_rows(want)
    assert got_blocks == want_blocks
    assert len(got_td) == len(want_td)
    for g, w in zip(got_td, want_td):
        for k, v in w.asDict().items():
            if isinstance(v, float):
                assert math.isclose(g[k], v, rel_tol=1e-12), (g, w)
            else:
                assert g[k] == v, (g, w)
