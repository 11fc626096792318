"""Large-star/small-star connected components: property-tested equal to
label propagation on random graphs, and round-efficient on the long-chain
topology that is label-prop's worst case."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pipeline_etl_ecommerce_spark.operators.dedupe import (
    connected_components,
    connected_components_star,
)

_edge = st.tuples(st.integers(0, 24), st.integers(0, 24))


def _components(df) -> dict[int, int]:
    return {r["doc_id"]: r["component_id"] for r in df.collect()}


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=st.lists(_edge, min_size=1, max_size=30))
def test_star_equals_label_prop_on_random_graphs(spark, edges):
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "doc_a long, doc_b long"
    )
    star = _components(connected_components_star(pairs))
    prop = _components(connected_components(pairs))
    assert star == prop


def test_star_handles_long_chain_in_few_rounds(spark):
    """A 64-node path graph has diameter 63: label-prop at its default
    max_iter=20 CANNOT finish it, the star algorithm contracts it in
    O(log n) alternating rounds — the documented crossover."""
    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    star = _components(connected_components_star(pairs, max_iter=10))
    assert set(star) == set(range(n))
    assert set(star.values()) == {0}


def test_star_self_loops_and_duplicates(spark):
    pairs = spark.createDataFrame(
        [(3, 3), (1, 2), (2, 1), (5, 4)], "doc_a long, doc_b long"
    )
    star = _components(connected_components_star(pairs))
    # nodes 1,2 merge to 1; 4,5 merge to 4; the self-loop-only node 3 is a
    # singleton component — identical to label-prop's contract
    assert star[1] == star[2] == 1
    assert star[4] == star[5] == 4
    assert star[3] == 3


def test_star_empty_pairs(spark):
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components_star(pairs).count() == 0


def test_star_raises_on_max_iter_exhaustion(spark):
    """Advice r7: a non-fixed-point edge set must FAIL LOUDLY, not return
    conflicting (doc_id, component_id) labels. A 64-node chain cannot
    contract in one round, so max_iter=1 must raise."""
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="no fixed point"):
        connected_components_star(chain, max_iter=1)
    # ...and with enough rounds the same graph converges to one component
    ok = _components(connected_components_star(chain, max_iter=12))
    assert set(ok.values()) == {0}


def test_label_prop_raises_on_max_iter_exhaustion(spark):
    """A 30-node path needs 29 label-propagation rounds; the default
    max_iter=20 must fail loudly instead of returning unconverged labels
    (node 29 would otherwise come back labeled 9)."""
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(29)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="no fixed point"):
        connected_components(chain)
    ok = _components(connected_components(chain, max_iter=30))
    assert set(ok) == set(range(30)) and set(ok.values()) == {0}
