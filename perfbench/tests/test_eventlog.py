"""Event-log parsing and job attribution on a small recorded log.

``data/eventlog_small.jsonl`` holds five jobs recorded from a local
Spark run of a small build and one search (trimmed to the fields the
parser reads; paths shortened). No Spark session is needed.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from perfbench.trace import Span, Tracer, attribute, busy_s, callsite_module, read_eventlog

DATA = Path(__file__).parent / "data"
T0 = 1792194700.0  # the log's times are unix ms; spans are unix s


def jobs_by_id():
    return {j.id: j for j in read_eventlog(str(DATA))}


def test_jobs_and_summed_task_metrics():
    jobs = jobs_by_id()
    assert sorted(jobs) == [2, 3, 33, 38, 41]
    j3, j33, j41 = jobs[3], jobs[33], jobs[41]
    assert j3.callsite == "collect at /checkout/neural_cherche_spark/index/builder.py:285"
    assert jobs[2].callsite is None
    assert j3.submit == pytest.approx(1792194723.408)
    assert j3.end == pytest.approx(1792194723.536)
    assert j3.task_run_s == pytest.approx(0.096) and j3.shuffle_read_bytes == 179
    assert j33.input_bytes == 4070 and j33.task_run_s == pytest.approx(0.079)  # two tasks
    assert (j41.shuffle_write_bytes, j41.shuffle_read_bytes) == (85, 505)
    assert all(j.spill_bytes == 0 for j in jobs.values())


def test_callsite_module():
    assert callsite_module("collect at /x/neural_cherche_spark/query/bmw.py:150") == "query.bmw"
    assert callsite_module("collect at /x/neural_cherche_spark/serve.py:9") == "serve"
    assert callsite_module("collect at /checkout/driver.py:18") is None
    assert callsite_module(None) is None


def test_ops_by_submission_window_and_modules_by_callsite():
    spans = [
        # op 1 ends before job 3 is submitted
        Span(1, "op.build", 1, None, T0 + 16.0, T0 + 23.2),
        Span(2, "index.builder.build_index", 1, 1, T0 + 16.1, T0 + 23.2),
        Span(3, "op.search", 3, None, T0 + 33.0, T0 + 35.8),
        Span(4, "query.bmw.search", 3, 3, T0 + 33.05, T0 + 34.2),
        Span(5, "serve.search", 3, 3, T0 + 34.2, T0 + 35.7),
    ]
    jobs = jobs_by_id()
    attribute(list(jobs.values()), spans)
    got = {j.id: (j.op, j.module) for j in jobs.values()}
    assert got == {
        2: (1, "index.builder"),  # no callsite: innermost span's layer
        3: (None, "index.builder"),  # outside every op; callsite module
        33: (3, "query.bmw"),  # callsite module
        38: (3, "serve"),  # no callsite
        41: (3, "serve"),  # callsite outside the package
    }


def test_busy_is_the_union_of_job_windows():
    jobs = jobs_by_id()
    j2, j3 = jobs[2], jobs[3]
    assert busy_s([j2, j3]) == pytest.approx((j2.end - j2.submit) + (j3.end - j3.submit))
    j3.submit = j2.submit + 0.1  # now overlapping j2
    assert busy_s([j2, j3]) == pytest.approx(j3.end - j2.submit)
    assert busy_s([]) == 0.0


def test_layer_self_times_and_unattributed():
    t = Tracer(True)
    with t.span("op.refresh", root=True) as op:
        with t.span("streaming.compressed.add_batch"):
            with t.span("index.codec.decode_blocks_batched"):
                pass
        with t.span("streaming.compressed.materialize"):
            pass
    parts = t.layer_self_times(op)
    assert set(parts) == {"streaming.compressed", "index.codec", "unattributed"}
    assert sum(parts.values()) == pytest.approx(op.wall)
    assert all(v >= 0 for v in parts.values())
    assert [s.op for s in t.spans] == [op.id] * 4
