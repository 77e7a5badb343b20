"""Focused tests for the r14 composed-pass job overlap: the
``delegated_locks`` enrollment (sinks.locks) and the ``run_overlapped``
orchestration (sinks.overlap) that let ``maintain_everywhere`` /
``erase_everywhere`` run independent per-store chains concurrently
WITHOUT weakening the per-(thread, path) single-writer contract from
review round 13."""

from __future__ import annotations

import threading

import pytest

from localsql_spark.sinks.locks import (MaintenanceBusy, delegated_locks,
                                        store_lock)
from localsql_spark.sinks.overlap import run_overlapped


def _in_thread(fn):
    """Run fn in a fresh thread; return (result, exception)."""
    out: dict = {}

    def run():
        try:
            out["r"] = fn()
        except BaseException as exc:  # noqa: BLE001 — surfaced to the test
            out["e"] = exc

    t = threading.Thread(target=run)
    t.start()
    t.join(30)
    assert not t.is_alive(), "worker thread hung"
    return out.get("r"), out.get("e")


def test_sibling_thread_still_gets_busy(tmp_path):
    """The round-13 contract is unchanged: a thread NOT enrolled as a
    delegate contends like any concurrent writer."""
    store = tmp_path / "store"
    with store_lock(str(store)):
        def attempt():
            with store_lock(str(store)):
                return "acquired"
        _, err = _in_thread(attempt)
        assert isinstance(err, MaintenanceBusy)


def test_delegated_thread_reenters(tmp_path):
    store = tmp_path / "store"
    with store_lock(str(store)):
        def attempt():
            with delegated_locks([str(store)]):
                with store_lock(str(store)):  # the locked_by re-acquire
                    return "reentered"
        res, err = _in_thread(attempt)
        assert err is None and res == "reentered"


def test_delegation_scope_ends_with_block(tmp_path):
    """After the delegation block exits, the same thread is a stranger
    again — and the real lock file is untouched by the delegate."""
    store = tmp_path / "store"
    with store_lock(str(store)):
        def attempt():
            with delegated_locks([str(store)]):
                pass
            with store_lock(str(store)):
                return "acquired"
        _, err = _in_thread(attempt)
        assert isinstance(err, MaintenanceBusy)
    # owner released cleanly: a fresh acquire now succeeds
    with store_lock(str(store)):
        pass


def test_delegation_requires_held_lock(tmp_path):
    with pytest.raises(MaintenanceBusy):
        with delegated_locks([str(tmp_path / "never_locked")]):
            pass


def test_run_overlapped_results_and_failure_gathering(spark):
    seen: list[str] = []

    def ok(name):
        def fn():
            seen.append(name)
            return name.upper()
        return fn

    def boom():
        seen.append("boom")
        raise ValueError("chain failed")

    with pytest.raises(ValueError, match="chain failed"):
        run_overlapped([("a", ok("a")), ("boom", boom), ("b", ok("b"))],
                       spark=spark)
    # every task ran to completion even though one failed
    assert sorted(seen) == ["a", "b", "boom"]

    res = run_overlapped([("a", ok("a")), ("b", ok("b"))], spark=spark)
    assert res == {"a": "A", "b": "B"}


def test_run_overlapped_sequential_fallback():
    order: list[str] = []

    def mk(name):
        def fn():
            order.append(name)
            return name
        return fn

    res = run_overlapped([("x", mk("x")), ("y", mk("y"))], max_workers=1)
    assert order == ["x", "y"] and res == {"x": "x", "y": "y"}
