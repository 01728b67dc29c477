"""The percentile rule and failure accounting."""

from __future__ import annotations

import pytest

from perfbench.checks import Ops, frontier_digest, tail_percentile


def test_tail_percentile_needs_twenty_samples():
    assert tail_percentile(list(range(19))) is None


@pytest.mark.parametrize("n", [20, 37, 100, 1000])
def test_tail_percentile_leaves_exactly_ten_above(n):
    xs = [float(i) for i in range(n)][::-1]  # unsorted input
    p, v = tail_percentile(xs)
    assert sum(x > v for x in xs) == 10
    assert p == pytest.approx((n - 10) / n)


def test_tail_percentile_examples():
    assert tail_percentile(list(range(1, 21))) == (0.5, 10)
    assert tail_percentile(list(range(1, 101))) == (0.9, 90)


def test_failed_op_counts_once_and_run_goes_on():
    ops = Ops()
    assert ops.run("ok", lambda: 7) == 7
    assert ops.check("ok", True)
    assert ops.run("raises", lambda: 1 / 0) is None
    ops.run("checked", lambda: None)
    assert not ops.check("checked", False, "first")
    assert not ops.check("checked", False, "second")
    ops.run("after", lambda: None)
    assert (ops.attempted, ops.failed) == (4, 2)


def test_frontier_digest_ignores_order_but_not_content():
    nodes = [("A", 1, None), ("B", 2, "x")]
    edges = [("A", "B", 0)]
    d = frontier_digest(nodes, edges)
    assert d == frontier_digest(nodes[::-1], edges)
    assert d != frontier_digest([("A", 1, None), ("B", 3, "x")], edges)
    assert d != frontier_digest(nodes, [])
