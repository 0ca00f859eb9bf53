"""Three-path parity: components & label propagation.

``connected_components`` and ``label_propagation`` each run one round
on three paths: the serial finish in driver numpy (default, under
``small_graph_edges``), the driver-coordinated broadcast rounds
(``small_graph_edges=0``, V ≤ ``broadcast_vertices``) and the
DataFrame rounds (``small_graph_edges=0, broadcast_vertices=0``).
These tests pin that all three produce IDENTICAL result frames and
iteration counts, and that the gate falls through when the bound is
exceeded.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from louvain_communities_openmp_spark.operators.components import (
    connected_components,
)
from louvain_communities_openmp_spark.operators.labelprop import (
    label_propagation,
)
from louvain_communities_openmp_spark.operators.transforms import symmetricize
from louvain_communities_openmp_spark.sources.edges import edges_from_list


def _fixture_edges(spark):
    # two components, a hub, a path (stresses multi-round convergence),
    # plus a self-loop and an isolated-by-self-loop vertex
    ew = [
        (0, 1, 1.0), (1, 2, 2.0), (2, 3, 1.0), (3, 4, 1.0), (4, 5, 1.0),
        (0, 2, 3.0), (0, 3, 1.0), (0, 4, 1.0),
        (10, 11, 1.0), (11, 12, 1.0), (12, 10, 2.0),
        (7, 7, 5.0),
    ]
    return symmetricize(edges_from_list(spark, ew))


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


# serial finish (bound >> fixtures), driver-coordinated broadcast
# rounds, DataFrame rounds
PATHS = (
    {},
    {"small_graph_edges": 0},
    {"small_graph_edges": 0, "broadcast_vertices": 0},
)


def _assert_components_paths(e, **kw):
    runs = [connected_components(e, **kw, **p) for p in PATHS]
    want = _rows(runs[0].components, ["id", "comp"])
    for p, r in zip(PATHS[1:], runs[1:]):
        assert _rows(r.components, ["id", "comp"]) == want, p
        assert r.iterations == runs[0].iterations, p
    return want


def _assert_labelprop_paths(e, max_iter):
    runs = [label_propagation(e, max_iter=max_iter, **p) for p in PATHS]
    want = _rows(runs[0].labels, ["id", "label"])
    for p, r in zip(PATHS[1:], runs[1:]):
        assert _rows(r.labels, ["id", "label"]) == want, (max_iter, p)
        assert r.iterations == runs[0].iterations, (max_iter, p)


def test_components_fastpath_matches_distributed(spark):
    e = _fixture_edges(spark).persist()
    _assert_components_paths(e)
    e.unpersist()


def test_components_warm_start_paths(spark):
    """``initial_components`` skips the serial finish; the broadcast
    and DataFrame rounds must still agree, and reach the cold
    answer."""
    e = _fixture_edges(spark).persist()
    cold = _rows(connected_components(e).components, ["id", "comp"])
    # previous version: the fixture minus the edges that join 0-2 to
    # 3-5 (insert-only delta) — labels are a refinement upper bound.
    # Vertex 5 is missing (seeds as a singleton); 99 is not in the
    # graph (must be ignored).
    prev = e.where(
        ~(
            (F.least("src", "dst") <= 2)
            & (F.greatest("src", "dst").between(3, 5))
        )
    )
    init = (
        connected_components(prev).components.where("id != 5")
        .unionByName(spark.createDataFrame([(99, 0)], "id long, comp long"))
    )
    assert _assert_components_paths(e, initial_components=init) == cold
    e.unpersist()


def test_labelprop_fastpath_matches_distributed(spark):
    e = _fixture_edges(spark).persist()
    for iters in (1, 2, 4, 10):
        _assert_labelprop_paths(e, iters)
    e.unpersist()


def test_fastpath_gate_falls_through(spark):
    e = _fixture_edges(spark)
    n = e.count()
    # bound below the edge count → must take the distributed path and
    # still produce the same answers
    fast = connected_components(e)
    gated = connected_components(e, small_graph_edges=max(1, n - 1))
    assert _rows(fast.components, ["id", "comp"]) == _rows(
        gated.components, ["id", "comp"]
    )


def test_triangles_fastpath_matches_distributed(spark):
    from louvain_communities_openmp_spark.operators.triangles import (
        triangle_count_total,
    )
    from louvain_communities_openmp_spark.sources.edges import (
        synthetic_powerlaw_edges,
    )

    e = _fixture_edges(spark).persist()
    assert triangle_count_total(e) == triangle_count_total(
        e, small_graph_edges=0
    )
    e.unpersist()
    p = synthetic_powerlaw_edges(spark, 400, 3000).persist()
    assert triangle_count_total(p) == triangle_count_total(
        p, small_graph_edges=0
    )
    p.unpersist()


def test_components_fastpath_powerlaw_parity(spark):
    # a denser deterministic fixture: hash-generated power-law graph
    from louvain_communities_openmp_spark.sources.edges import (
        synthetic_powerlaw_edges,
    )

    e = synthetic_powerlaw_edges(spark, 500, 4000).persist()
    _assert_components_paths(e)
    _assert_labelprop_paths(e, 4)
    e.unpersist()
