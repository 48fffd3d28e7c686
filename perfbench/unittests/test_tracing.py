"""Self time and innermost-span lookup of the benchmark's tracer.

    python3 -m pytest perfbench/unittests -q
"""

from __future__ import annotations

import sys
import threading
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tracing import Span, Tracer, innermost, self_times  # noqa: E402


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, None, "q", "queries.build", "p1.q", 0.0, 10.0),
        Span(1, 0, "a", "operators.merge", "p1.q", 1.0, 4.0),
        Span(2, 0, "b", "operators.merge", "p1.q", 3.0, 6.0),  # overlaps a (other thread)
        Span(3, 1, "c", "operators.merge", "p1.q", 2.0, 3.0),
        Span(4, 0, "d", "sources.xlsx", "p1.q", 9.0, 12.0),  # runs past its parent
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10 - 5 - 1)  # [1, 6] and [9, 10] covered
    assert own[1] == pytest.approx(3 - 1)
    assert own[2] == pytest.approx(3)
    assert own[3] == pytest.approx(1)
    assert own[4] == pytest.approx(3)


def test_innermost_prefers_the_latest_started_span():
    outer = Span(0, None, "q", "queries.build", "p1.q", 0.0, 10.0)
    inner = Span(1, 0, "m", "operators.merge", "p1.q", 2.0, 5.0)
    assert innermost([outer, inner], 3.0) is inner
    assert innermost([outer, inner], 6.0) is outer
    assert innermost([outer, inner], 11.0) is None


def test_spans_from_another_thread_hang_under_the_main_threads_open_span():
    tracer = Tracer()
    with tracer.span("q", "queries.build") as outer:
        worker = threading.Thread(target=lambda: tracer.close(tracer.open("cb", "operators.merge")))
        worker.start()
        worker.join(timeout=10)
        assert not worker.is_alive()
    callback = tracer.spans[1]
    assert callback.parent == outer.sid and callback.end >= callback.start


def test_wrapper_keeps_the_name_spark_pickles_by():
    tracer = Tracer()

    def kernel(x):
        return x + 1

    wrapped = tracer.wrap(kernel, "operators.knn")
    assert wrapped(1) == 2
    assert (wrapped.__module__, wrapped.__qualname__) == (kernel.__module__, kernel.__qualname__)
    assert tracer.spans[0].name == f"operators.knn.{kernel.__qualname__}"
