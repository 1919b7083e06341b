"""plans.catalog.run_concurrently: every thunk is awaited, results keep
submission order, and failures surface the same way on every supported
Python — the first one raised, the rest logged."""

from __future__ import annotations

import logging
import threading

import pytest

from annotations_ingester_spark.plans.catalog import run_concurrently


def test_results_in_submission_order():
    assert run_concurrently(lambda: 1, lambda: 2, lambda: 3) == [1, 2, 3]


def test_two_failures_raise_first_and_log_second(caplog):
    finished = threading.Event()

    def first():
        raise ValueError("first failure")

    def second():
        raise KeyError("second failure")

    def slow_ok():
        finished.wait(0.2)
        finished.set()

    with caplog.at_level(logging.ERROR, logger="annotations_ingester_spark.plans.catalog"):
        with pytest.raises(ValueError, match="first failure"):
            run_concurrently(first, slow_ok, second)
    assert finished.is_set()  # the healthy thunk was awaited, not abandoned
    logged = [r for r in caplog.records if r.exc_info]
    assert len(logged) == 1 and isinstance(logged[0].exc_info[1], KeyError)
