"""Round-budget convergence warnings for the greedy graph algorithms
(r8 ADVICE, medium): greedy_mis/greedy_matching/greedy_coloring/boruvka_msf
promise maximality, so a budget-truncated run must warn that the result is
PARTIAL instead of silently returning a non-maximal set. The Pregel harness
(plans/pregel.iterate_fixpoint) warns the same way when a flagged fixpoint
loop reaches ``max_iter`` unconverged."""

from __future__ import annotations

import warnings

import pytest

from mimranalytics_core_spark.functions.graph_algos import (
    boruvka_msf,
    connected_components,
    greedy_coloring,
    greedy_matching,
    greedy_mis,
)


def _path_edges(spark, n=8):
    # path 1-2-3-…-n: the descending-id dependency chain forces one
    # decided node per round, so small budgets exhaust before convergence
    return spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "src int, dst int"
    )


def _weighted_path(spark, n=8):
    return spark.createDataFrame(
        [(i, i + 1, float(i)) for i in range(1, n)], "a int, b int, w double"
    )


def test_greedy_mis_warns_on_partial(spark):
    with pytest.warns(RuntimeWarning, match="greedy_mis.*PARTIAL"):
        out = greedy_mis(_path_edges(spark), rounds=1)
    assert out.count() == 1  # only node 1 decided in one round


def test_greedy_mis_converged_no_warning(spark):
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = greedy_mis(_path_edges(spark), rounds=8)
    assert out.count() == 4  # odd nodes of the 8-path


def test_greedy_matching_warns_on_partial(spark):
    with pytest.warns(RuntimeWarning, match="greedy_matching.*PARTIAL"):
        greedy_matching(_path_edges(spark, 12), rounds=1)


def test_greedy_matching_converged_no_warning(spark):
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = greedy_matching(_path_edges(spark, 12), rounds=6)
    # lexicographically-first maximal matching on a path: (1,2),(3,4),…
    assert out.count() == 6


def test_greedy_coloring_warns_on_partial(spark):
    with pytest.warns(RuntimeWarning, match="greedy_coloring.*PARTIAL"):
        out = greedy_coloring(_path_edges(spark), rounds=2)
    assert out.count() < 8


def test_greedy_coloring_converged_no_warning(spark):
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = greedy_coloring(_path_edges(spark), rounds=8)
    assert out.count() == 8
    assert out.agg({"color": "max"}).collect()[0][0] == 1  # paths are 2-colorable


def test_boruvka_warns_on_partial(spark):
    with pytest.warns(RuntimeWarning, match="boruvka_msf.*PARTIAL"):
        boruvka_msf(_weighted_path(spark, 40), rounds=1, jumps=2)


def test_boruvka_converged_no_warning(spark):
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = boruvka_msf(_weighted_path(spark, 10), rounds=6)
    assert out.count() == 9  # a path IS its own spanning tree


def test_fixpoint_warns_on_partial(spark):
    # min-label propagation moves one hop per superstep: the 8-path needs 7
    with pytest.warns(RuntimeWarning, match="iterate_fixpoint.*PARTIAL"):
        out = connected_components(_path_edges(spark), max_iter=3)
    assert out.select("component").distinct().count() > 1


def test_fixpoint_converged_no_warning(spark):
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = connected_components(_path_edges(spark), max_iter=20)
        # an unflagged loop runs its fixed step count by design: silent
        connected_components(_path_edges(spark), max_iter=3, check_convergence=False)
    assert {r.component for r in out.collect()} == {1}
