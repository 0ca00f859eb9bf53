"""Connected components: hash-min propagation + pointer jumping.

comp(u) = min vertex id reachable from u — exact-match target vs
oracle.simple.connected_components_seq. Each round does two label
moves:

1. hash-min over edges: comp(v) ← min(comp(v), min over frontier
   in-neighbors u of comp(u)) — only the frontier's labels move;
2. pointer jump: comp(u) ← comp(comp(u)). Labels are vertex ids, so
   comp(comp(u)) is always defined and ≤ comp(u) (labels only
   decrease).

Step 2 halves each vertex's label-distance to its component minimum,
so convergence is O(log diameter) rounds instead of hash-min's
O(diameter) — the difference between ~6 and ~25,000 rounds on a
road-network graph (the reference corpus includes asia_osm/europe_osm,
main.sh:35-36). The frontier skeleton is the BFS analog of the
reference's bfsVisitedForEachU (bfs.hxx:22-55): only vertices whose
label changed propagate next round.

The same round runs on one of three paths, chosen by size (see
``connected_components``): a serial finish in driver numpy, driver-
coordinated broadcast rounds (bcast_rounds.py) and DataFrame rounds.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bcast_rounds import broadcast_round, positions, probe_vertex_ids, vertex_frame
from .transforms import vertices


@dataclass
class ComponentsResult:
    components: DataFrame  # (id long, comp long)
    iterations: int


def _components_local(
    edges: DataFrame, bound: int, max_iter: int = 200
) -> ComponentsResult | None:
    """Driver-side numpy finish for small graphs (≤ ``bound`` directed
    edges) — the same measured-optimal representation swap the Louvain
    auto mode performs (louvain.py small_graph_edges): at this size the
    whole label-propagation fixpoint costs less in numpy than a single
    distributed round's fixed overhead. The iteration body is the EXACT
    numpy transcription of the distributed round (hash-min over src→dst
    followed by one pointer jump, labels compared to the round's
    starting labels), so the per-round label states — and therefore the
    final components frame and the iteration count — are identical to
    the distributed path's (pinned by tests/test_components_fastpath.py).

    Returns None when the graph exceeds the bound (probe via LIMIT:
    under the bound the probe already IS the full edge set, so the
    fast path costs no extra pass; over it, the probe short-circuits).
    """
    import numpy as np

    tbl = edges.select("src", "dst").limit(bound + 1).toArrow()
    if tbl.num_rows > bound or tbl.num_rows == 0:
        return None
    src = tbl.column("src").to_numpy().astype(np.int64, copy=False)
    dst = tbl.column("dst").to_numpy().astype(np.int64, copy=False)
    # vertex set: unique(src) suffices on symmetric tables (saves the
    # 2E concat sort); dst-subset check guards the general case
    ids = np.unique(src)
    dp = np.searchsorted(ids, dst)
    covered = (dp < len(ids)) & (ids[np.minimum(dp, len(ids) - 1)] == dst)
    if not bool(covered.all()):
        ids = np.unique(np.concatenate([src, dst]))
        dp = np.searchsorted(ids, dst)
    sp = np.searchsorted(ids, src)
    loop = sp != dp
    sp, dp = sp[loop], dp[loop]
    comp = np.arange(len(ids), dtype=np.int64)
    it = 0
    while it < max_iter:
        # phase 1 — hash-min over edges (comp(dst) ← min in-nbr comp);
        # phase 2 — ONE pointer jump comp(u) ← comp(comp(u));
        # labels are positions here, values resolved through ids at the
        # end (labels only decrease, exactly like the DataFrame rounds)
        c1 = comp.copy()
        np.minimum.at(c1, dp, comp[sp])
        new = c1[c1]
        it += 1
        if bool(np.array_equal(new, comp)):
            break
        comp = new
    return ComponentsResult(
        vertex_frame(edges.sparkSession, ids, "comp", ids[comp]), it
    )


def _components_broadcast(
    edges: DataFrame,
    ids,
    max_iter: int,
    initial_components: DataFrame | None,
    debug_plans: list | None,
) -> ComponentsResult:
    """Driver-coordinated rounds (V ≤ broadcast_vertices): labels live
    on the driver as a numpy array over the sorted vertex ids; each
    round is ONE edge job — the frontier's (src, comp) rows broadcast
    into the dst-partitioned edge table, min(comp) aggregated per dst
    within each partition, the vertex-sized result collected. The
    merge, the pointer jump and the changed test are numpy; label
    states round by round equal the DataFrame rounds' exactly."""
    import numpy as np
    import pandas as pd

    spark = edges.sparkSession
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .repartition("dst")
        .persist()
    )
    comp = ids.copy()
    if initial_components is not None:
        # only the graph's own vertices come back (semi-join on the
        # vertex set), so this collect is bounded by V like the rounds
        verts = spark.createDataFrame(pd.DataFrame({"id": ids}), "id long")
        init = (
            initial_components.select("id", "comp")
            .where(F.col("comp").isNotNull())
            .join(F.broadcast(verts), "id", "left_semi")
            .toArrow()
        )
        pos, ok = positions(ids, init.column("id").to_numpy())
        comp[pos[ok]] = init.column("comp").to_numpy()[ok]
    # frontier: vertices whose label may still shrink (all, initially)
    frontier = np.ones(len(ids), dtype=bool)
    it = 0
    while it < max_iter:
        # phase 1 — hash-min: candidate labels flowing over edges out
        # of the frontier (only the frontier's rows are broadcast)
        cand = broadcast_round(
            e,
            {"src": ids[frontier], "comp": comp[frontier]},
            "src long, comp long",
            "src",
            lambda j: j.groupBy(F.col("dst").alias("id")).agg(
                F.min("comp").alias("new_comp")
            ),
            debug_plans,
        )
        c1 = comp.copy()
        cpos = np.searchsorted(ids, cand.column("id").to_numpy())
        c1[cpos] = np.minimum(c1[cpos], cand.column("new_comp").to_numpy())
        # phase 2 — pointer jump comp(u) ← comp(comp(u)); a label that
        # is not a vertex id (warm start) keeps its value
        jp, found = positions(ids, c1)
        new = np.where(found, c1[jp], c1)
        frontier = new < comp
        comp = new
        it += 1
        if not frontier.any():
            break
    e.unpersist()
    return ComponentsResult(vertex_frame(spark, ids, "comp", comp), it)


def _components_rounds(
    edges: DataFrame, max_iter: int, initial_components: DataFrame | None
) -> ComponentsResult:
    """DataFrame rounds (V > broadcast_vertices, the 100 TB regime):
    labels cannot ship to every executor, so e is partitioned on the
    JOIN key (src) and only the vertex-sized frontier and the
    map-side-combined min aggregate move per round. An eager
    localCheckpoint per round truncates lineage and avoids the
    unpersist-cascade recompute (see labelprop.py)."""
    verts = vertices(edges)
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .repartition("src")
        .persist()
    )
    if initial_components is not None:
        comp = (
            verts.join(
                initial_components.select("id", F.col("comp").alias("c0")),
                "id",
                "left",
            )
            .select("id", F.coalesce("c0", F.col("id")).alias("comp"))
            .localCheckpoint(eager=True)
        )
    else:
        comp = (
            verts
            .select("id", F.col("id").alias("comp"))
            .localCheckpoint(eager=True)
        )
    # frontier: vertices whose label may still shrink (all, initially)
    frontier = comp
    it = 0
    while it < max_iter:
        # phase 1 — hash-min: candidate labels flowing over edges out
        # of the frontier (vertex-sized exchange; edges stay put)
        cand = (
            e.join(frontier.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("comp").alias("new_comp"))
        )
        # checkpointed so the phase-2 self-join below reads it once
        # instead of recomputing the edge join on both sides
        m1 = (
            comp.join(cand, "id", "left")
            .select(
                "id",
                F.col("comp").alias("old"),
                F.least(
                    F.col("comp"), F.coalesce("new_comp", F.col("comp"))
                ).alias("c1"),
            )
            .localCheckpoint(eager=True)
        )
        # phase 2 — pointer jump: comp(u) ← comp(comp(u)). Labels are
        # vertex ids, so the lookup always resolves; labels only ever
        # decrease, so coalesce+direct assignment is the full least().
        lut = m1.select(F.col("id").alias("c1"), F.col("c1").alias("_c2"))
        merged = (
            m1.join(lut, "c1", "left")
            .select(
                "id",
                F.coalesce("_c2", "c1").alias("comp"),
                (F.coalesce("_c2", "c1") < F.col("old")).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = merged.where("changed").count()
        comp = merged.select("id", "comp")
        frontier = merged.where("changed").select("id", "comp")
        it += 1
        if changed == 0:
            break
    e.unpersist()
    return ComponentsResult(comp, it)


def connected_components(
    edges: DataFrame,
    max_iter: int = 200,
    broadcast_vertices: int = 5_000_000,
    initial_components: DataFrame | None = None,
    small_graph_edges: int = 4_000_000,
    debug_plans: list | None = None,
) -> ComponentsResult:
    """Three paths, one answer (identical frames and iteration counts,
    pinned by tests/test_components_fastpath.py):

    1. serial finish — ≤ ``small_graph_edges`` directed edges: the
       whole fixpoint in driver numpy over one collected edge pass;
    2. driver-coordinated broadcast rounds — V ≤ ``broadcast_vertices``:
       labels on the driver, one edge job per round;
    3. DataFrame rounds — V > ``broadcast_vertices``: nothing
       vertex-sized reaches the driver.

    ``initial_components`` (id, comp) warm-starts the labels — valid
    whenever the provided labels are a REFINEMENT upper bound of the
    true components with every label itself a present vertex id
    (e.g. the previous version's labels after insert-only deltas:
    components only merge under insertion, and hash-min then converges
    to min-over-initial-labels = the true min vertex id per component,
    in rounds proportional to the DELTA's reach, not the diameter).
    Vertices absent from the frame seed as singletons. A warm start
    skips the serial finish (which always starts cold).

    ``debug_plans`` (test hook) records each broadcast round's executed
    plan; it does not choose the path (``small_graph_edges=0`` skips
    the serial finish)."""
    # measured-optimal serial finish (guide §1.2: fix the distributed
    # algorithm first — at ≤ small_graph_edges the whole fixpoint is
    # cheaper in the driver than ONE distributed round's fixed
    # overhead; same bound and rationale as louvain.py's
    # small_graph_edges). At 100 TB the probes short-circuit and the
    # DataFrame rounds run.
    if initial_components is None and small_graph_edges > 0:
        local = _components_local(edges, small_graph_edges, max_iter)
        if local is not None:
            return local
    ids = probe_vertex_ids(edges, broadcast_vertices)
    if ids is not None:
        return _components_broadcast(
            edges, ids, max_iter, initial_components, debug_plans
        )
    return _components_rounds(edges, max_iter, initial_components)
