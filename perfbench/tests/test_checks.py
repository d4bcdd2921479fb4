"""The answer checks catch wrong answers, and a failing or raising op
is counted without stopping the run. No Spark session is needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import numpy as np
import pytest

from perfbench.corpus import QueryMaker, repeat_share, synth_texts, zipf_stream
from perfbench.oracle import Oracle, check_topk
from perfbench.trace import Tracer
from perfbench.workloads import K, Run, batch_answers, serve_answer


@pytest.fixture(scope="module")
def setting():
    texts = synth_texts(300, seed=5)
    queries = QueryMaker(texts, seed=5, stream=1).distinct(12)
    oracle = Oracle(texts, queries)
    live = np.ones(len(texts), dtype=bool)
    live[::7] = False  # ingest checks score live docs only
    return texts, queries, oracle, live


def exact_topk(scores: np.ndarray, k: int = K) -> list[tuple[int, float]]:
    order = np.lexsort((np.arange(scores.size), -scores))
    return [(int(d), float(scores[d])) for d in order[:k] if scores[d] > 0]


def a_full_answer(oracle, queries, live):
    for q in queries:
        got = exact_topk(oracle.scores(q, live))
        scores = [s for _, s in got]
        if len(got) == K and len(set(scores)) == K:
            return q, got
    raise AssertionError("no query with ten distinct positive scores")


def new_run() -> Run:
    return Run(spark=None, work="", seed=0, seconds=0.0, tracer=Tracer(False))


def test_inputs_repeat_for_a_seed():
    assert synth_texts(50, 3) == synth_texts(50, 3)
    assert synth_texts(50, 3) != synth_texts(50, 4)
    texts = synth_texts(200, 3)
    a = QueryMaker(texts, 3, 2).distinct(40)
    assert a == QueryMaker(texts, 3, 2).distinct(40) and len(set(a)) == 40
    stream = zipf_stream(a, 500, 3)
    assert stream == zipf_stream(a, 500, 3)
    assert 0.5 < repeat_share(stream) < 1.0
    assert repeat_share(["a", "b", "a", "c", "b"], start=2) == pytest.approx(2 / 3)


def test_exact_answers_pass(setting):
    _, queries, oracle, live = setting
    for q in queries:
        assert check_topk(exact_topk(oracle.scores(q, live)), oracle.scores(q, live), K) is None


def test_tie_cut_by_k_accepts_any_tied_doc():
    scores = np.array([3.0, 2.0, 2.0, 2.0, 0.0])
    assert check_topk([(0, 3.0), (3, 2.0)], scores, 2) is None
    assert check_topk([(0, 3.0), (1, 2.0)], scores, 2) is None


@pytest.mark.parametrize("perturb", ["swap", "score", "drop", "foreign"])
def test_perturbed_answer_fails_and_is_counted(setting, perturb):
    _, queries, oracle, live = setting
    q, got = a_full_answer(oracle, queries, live)
    bad = list(got)
    if perturb == "swap":
        bad[0], bad[1] = bad[1], bad[0]
    elif perturb == "score":
        bad[2] = (bad[2][0], bad[2][1] * 1.01)
    elif perturb == "drop":
        del bad[4]
    else:  # a deleted doc in place of a live one
        dead = int(np.flatnonzero(~live)[0])
        bad[-1] = (dead, bad[-1][1])
    assert check_topk(bad, oracle.scores(q, live), K) is not None
    run = new_run()
    # the query workload's checks (Spark batch rows, serving dicts) and
    # the ingest check (live mask) all go through Run.check
    rows = [{"query_id": 0, "doc_id": d, "score": s, "rank": r + 1} for r, (d, s) in enumerate(bad)]
    assert not run.check("batch", oracle, [q], batch_answers(rows, 1), live)
    dicts = [{"doc_id": d, "score": s, "rank": r + 1} for r, (d, s) in enumerate(bad)]
    assert not run.check("serve", oracle, [q], [serve_answer(dicts)], live)
    assert run.check("serve", oracle, [q], [got], live)
    assert run.failed == 2


def test_raising_op_is_counted_and_the_loop_goes_on():
    run = new_run()
    results = []
    for i in range(4):
        def op():
            if i == 1:
                raise RuntimeError("injected")
            return i
        wall, out, ok = run.attempt("op.test", op)
        results.append((out, ok))
        assert wall >= 0.0
    assert results == [(0, True), (None, False), (2, True), (3, True)]
    assert (run.attempted, run.failed) == (4, 1)
