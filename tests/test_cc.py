"""The shared connected-components operator (operators/cc.py)."""

from __future__ import annotations

import pytest

from cobradb_spark.operators import cc


def _union_find_labels(vertices, edges):
    """Driver-side ground truth: min-id label per vertex."""
    parent: dict[int, int] = {v: v for v in vertices}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in vertices}


def _run(spark, vertices, edges, halve=True):
    v = spark.createDataFrame([(x,) for x in vertices], "id bigint")
    sym = edges + [(b, a) for a, b in edges]
    e = spark.createDataFrame(sym, "src bigint, dst bigint")
    return {r.n: r.comp for r in cc.min_label_components(v, e, halve).collect()}


@pytest.mark.parametrize("halve", [True, False])
def test_min_label_components_match_union_find(spark, halve):
    # two components (a chain entered from its far end, and a star whose
    # min id is a leaf) plus the isolated vertex 50
    edges = [(9, 7), (7, 8), (8, 3), (3, 12), (25, 31), (25, 22), (25, 20)]
    vertices = sorted({x for e in edges for x in e} | {50})
    got = _run(spark, vertices, edges, halve)
    assert got == _union_find_labels(vertices, edges)
    assert set(got.values()) == {3, 20, 50}


def test_round_cap_raises(spark, monkeypatch):
    # a 10-node chain needs more than 2 rounds even with path halving
    monkeypatch.setattr(cc, "_MAX_ROUNDS", 2)
    edges = [(i, i + 1) for i in range(9)]
    with pytest.raises(RuntimeError, match="did not converge"):
        _run(spark, list(range(10)), edges)
