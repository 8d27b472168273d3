"""dedup_components convergence guard (r10 verdict item 5).

The engine runs a FIXED superstep budget of min-label propagation
(8 rounds), sized for the dense diameter-2/3 clusters near-dup graphs
actually produce. Before this guard, an adversarial corpus whose
duplicate graph is a long CHAIN (diameter > 8) would return a silently
under-merged clustering — only the DuckDB recursive-CTE oracle could
notice, and only when the driver happened to sample the key. The guard
makes the engine fail LOUDLY on its own: one extra neighbor-min pass
over the final labels; any label that would still shrink proves the
labels are not a fixpoint.

Chain construction: doc i carries the 5-token sliding window
``w_i .. w_{i+4}``. Consecutive docs share 4 of 6 distinct tokens
(Jaccard 4/6 = 0.667 ≥ 0.62 → edge); docs two apart share 3 of 7
(0.429 < 0.62 → no edge). So the pair graph is exactly a path, and a
path over n docs has diameter n-1: min-label propagation moves the
minimum one hop per superstep, needing n-1 rounds.
"""

from __future__ import annotations

import pytest

from tests.harness import write_tables


def _chain_world(spark, tmp_path, n_docs: int) -> str:
    rows = []
    for i in range(1, n_docs + 1):
        text = " ".join(f"w{j:03d}" for j in range(i, i + 5))
        rows.append((i, text, "en", "chain", len(text)))
    return write_tables(spark, tmp_path / f"chain{n_docs}", {"documents": rows})


def test_diameter_9_chain_trips_the_convergence_guard(spark, tmp_path):
    from systematic_review_classification_spark.operators.dedup import (
        dedup_components,
    )

    world = _chain_world(spark, tmp_path, 10)  # path of 10 → diameter 9
    with pytest.raises(RuntimeError, match="not converged after 8 supersteps"):
        dedup_components(spark, world)


def test_diameter_8_chain_converges_to_one_component(spark, tmp_path):
    from systematic_review_classification_spark.operators.dedup import (
        dedup_components,
    )

    world = _chain_world(spark, tmp_path, 9)  # path of 9 → diameter 8: fits
    got = dedup_components(spark, world).collect()
    assert len(got) == 9
    assert {r["component"] for r in got} == {1}
