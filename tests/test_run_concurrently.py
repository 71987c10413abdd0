"""sketchlib.session.run_concurrently: every thunk joins, results come
back in thunk order, and a failure carries every other failure."""

import time

import pytest

from sketchlib.session import run_concurrently


def test_results_in_thunk_order():
    def slow(v, s):
        def f():
            time.sleep(s)
            return v

        return f

    assert run_concurrently(slow("a", 0.2), slow("b", 0.0), slow("c", 0.1)) == ["a", "b", "c"]
    assert run_concurrently() == []


def test_first_thunks_failure_raised_with_the_others_attached():
    finished = []

    def fail_slowly():
        time.sleep(0.1)
        raise ValueError("first thunk")

    def fail_at_once():
        raise KeyError("second thunk")

    def ok():
        time.sleep(0.2)
        finished.append(True)

    # the second thunk fails before the first: the raised error is still
    # the first thunk's, whatever the order the threads failed in
    with pytest.raises(ValueError, match="first thunk") as info:
        run_concurrently(fail_slowly, fail_at_once, ok)
    assert [n for n in info.value.__notes__ if "second thunk" in n] == [
        "concurrent failure: KeyError: 'second thunk'"
    ]
    # the raise waited for the slowest thunk
    assert finished == [True]
