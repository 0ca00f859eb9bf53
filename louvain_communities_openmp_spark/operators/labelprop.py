"""Synchronous weighted label propagation (north-rule companion).

Semantics = oracle.simple.label_propagation_seq (exact-match target):
each round, every vertex takes the label with max total incident edge
weight among neighbors (self-loops ignored), tie-break min label,
isolated vertices keep their own. Structurally this is Louvain's
community scan (louvain.hxx:405-438) with ΔQ replaced by weight-count
argmax — one join + one two-level aggregation per round, all Catalyst:

    edges ⋈ labels(dst) → groupBy(src, label).sum(w)
          → max_by(struct) per src with deterministic tie-break.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bcast_rounds import broadcast_round, probe_vertex_ids, vertex_frame
from .transforms import vertices


@dataclass
class LabelPropResult:
    labels: DataFrame  # (id long, label long)
    iterations: int


def _labelprop_local(
    edges: DataFrame, bound: int, max_iter: int
) -> LabelPropResult | None:
    """Driver-side numpy finish for small graphs (≤ ``bound`` directed
    edges) — the Louvain-auto-style representation swap (louvain.py
    small_graph_edges): below the bound, the full synchronous fixpoint
    costs less in numpy than one distributed round's fixed overhead.

    The round body is the exact transcription of the distributed round
    (per-src Σw by neighbor label, argmax with (max wt, min label)
    tie-break, isolated vertices keep their own label), so per-round
    label states, the final frame, and the iteration count are
    identical to the distributed path's (pinned by
    tests/test_components_fastpath.py). Weight sums associate in a
    different order than Spark's partial aggregates — indistinguishable
    whenever weight sums are exact (integer-valued w, as everywhere in
    the engine's query surface), the same precondition the distributed
    path already needs for stable cross-run results.

    Returns None above the bound (LIMIT probe: under the bound the
    probe already IS the edge set, so no extra pass is paid).
    """
    import numpy as np

    tbl = edges.select("src", "dst", "w").limit(bound + 1).toArrow()
    if tbl.num_rows > bound or tbl.num_rows == 0:
        return None
    src = tbl.column("src").to_numpy().astype(np.int64, copy=False)
    dst = tbl.column("dst").to_numpy().astype(np.int64, copy=False)
    w = tbl.column("w").to_numpy().astype(np.float64, copy=False)
    # vertex set: unique(src) suffices on symmetric tables (saves the
    # 2E concat sort); dst-subset check guards the general case
    ids = np.unique(src)
    dp = np.searchsorted(ids, dst)
    covered = (dp < len(ids)) & (ids[np.minimum(dp, len(ids) - 1)] == dst)
    if not bool(covered.all()):
        ids = np.unique(np.concatenate([src, dst]))
        dp = np.searchsorted(ids, dst)
    n = len(ids)
    sp = np.searchsorted(ids, src)
    keep = sp != dp  # self-loops ignored (matches the e filter)
    sp, dp, w = sp[keep], dp[keep], w[keep]
    lab = np.arange(n, dtype=np.int64)  # label positions == value order
    # native rounds (oracle/_cmove.py labelprop_rounds): one stable
    # sort builds the CSR, then each synchronous round is a single
    # O(E) stamp-walk instead of a per-round O(E log E) sort
    from ..oracle._cmove import labelprop_rounds_c

    order = np.argsort(sp, kind="stable")
    indptr = np.zeros(n + 1, dtype=np.int64)
    indptr[1:] = np.cumsum(np.bincount(sp, minlength=n))
    it_c = labelprop_rounds_c(
        indptr, np.ascontiguousarray(dp[order]),
        np.ascontiguousarray(w[order]), lab, max_iter,
    )
    if it_c is not None:
        return LabelPropResult(
            vertex_frame(edges.sparkSession, ids, "label", ids[lab]), it_c
        )
    it = 0
    while it < max_iter:
        # scored: Σw per (src, neighbor-label); key packs (sp, nl) so
        # one sort groups both levels with nl ascending within src —
        # the first max-wt group per src is then the (max wt, min
        # label) argmax, the distributed max_by tie-break
        key = sp * n + lab[dp]
        order = np.argsort(key, kind="stable")
        ks, ws = key[order], w[order]
        grp = np.empty(len(ks), dtype=bool)
        if len(ks):
            grp[0] = True
            np.not_equal(ks[1:], ks[:-1], out=grp[1:])
            starts = np.flatnonzero(grp)
            sums = np.add.reduceat(ws, starts)
            gsrc = ks[starts] // n
            gnl = ks[starts] % n
            seg = np.empty(len(gsrc), dtype=bool)
            seg[0] = True
            np.not_equal(gsrc[1:], gsrc[:-1], out=seg[1:])
            seg_starts = np.flatnonzero(seg)
            wmax = np.maximum.reduceat(sums, seg_starts)
            counts = np.diff(np.r_[seg_starts, len(gsrc)])
            is_max = sums == np.repeat(wmax, counts)
            posn = np.where(is_max, np.arange(len(sums)), len(sums))
            first = np.minimum.reduceat(posn, seg_starts)
            new = lab.copy()
            new[gsrc[seg_starts]] = gnl[first]
        else:
            new = lab.copy()
        it += 1
        if bool(np.array_equal(new, lab)):
            break
        lab = new
    return LabelPropResult(
        vertex_frame(edges.sparkSession, ids, "label", ids[lab]), it
    )


def _scored_best(j: DataFrame) -> DataFrame:
    """A round's two-level aggregate over edges ⋈ neighbor labels:
    Σw per (src, nl), then the argmax with (max wt, min label)
    tie-break — max_by on a struct ordered by (wt, -nl), deterministic
    (reference-style first-max made order-free, SURVEY §7.3 /
    louvain.hxx:454-464 analog)."""
    scored = j.groupBy("src", "nl").agg(F.sum("w").alias("wt"))
    return scored.groupBy(F.col("src").alias("id")).agg(
        F.max_by(
            "nl", F.struct(F.col("wt"), (-F.col("nl")).alias("neg"))
        ).alias("new_label")
    )


def _labelprop_broadcast(
    edges: DataFrame, ids, max_iter: int, debug_plans: list | None
) -> LabelPropResult:
    """Driver-coordinated rounds (V ≤ broadcast_vertices): labels live
    on the driver as a numpy array over the sorted vertex ids. The
    static edge table is partitioned on the AGGREGATION key (src) and
    the vertex-sized labels are BROADCAST into the dst join; the
    broadcast join preserves e's src partitioning, which satisfies
    both groupBy(src, nl) and groupBy(src), so the round is ONE edge
    job with no shuffle Exchange (without the broadcast, the post-join
    groupBy(src, nl) re-shuffles the edge-sized scored table every
    round). Merge and changed test are numpy; label states round by
    round equal the DataFrame rounds' exactly."""
    import numpy as np

    e = (
        edges.select("src", "dst", "w")
        .where(F.col("src") != F.col("dst"))
        .repartition("src")
        .persist()
    )
    lab = ids.copy()
    it = 0
    while it < max_iter:
        best = broadcast_round(
            e, {"dst": ids, "nl": lab}, "dst long, nl long", "dst",
            _scored_best, debug_plans,
        )
        new = lab.copy()
        new[np.searchsorted(ids, best.column("id").to_numpy())] = (
            best.column("new_label").to_numpy()
        )
        it += 1
        if np.array_equal(new, lab):
            break
        lab = new
    e.unpersist()
    return LabelPropResult(vertex_frame(edges.sparkSession, ids, "label", lab), it)


def _labelprop_rounds(edges: DataFrame, max_iter: int) -> LabelPropResult:
    """DataFrame rounds (V > broadcast_vertices, the 100 TB regime):
    labels can't ship to every executor; e is partitioned on the JOIN
    key (dst) so the per-round exchange is the vertex-sized labels
    frame plus the map-side-combined scored aggregate. An eager
    localCheckpoint per round truncates lineage AND avoids the
    unpersist-cascade (unpersisting a parent invalidates caches built
    on it, which silently re-runs the whole chain on later rounds)."""
    e = (
        edges.select("src", "dst", "w")
        .where(F.col("src") != F.col("dst"))
        .repartition("dst")
        .persist()
    )
    labels = (
        vertices(edges)
        .select("id", F.col("id").alias("label"))
        .localCheckpoint(eager=True)
    )
    it = 0
    while it < max_iter:
        nbr = labels.select(
            F.col("id").alias("dst"), F.col("label").alias("nl")
        )
        best = _scored_best(e.join(nbr, "dst"))
        merged = (
            labels.join(best, "id", "left")
            .select(
                "id",
                F.coalesce("new_label", "label").alias("label"),
                (F.coalesce("new_label", "label") != F.col("label")).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = merged.where("changed").count()
        labels = merged.select("id", "label")
        it += 1
        if changed == 0:
            break
    e.unpersist()
    return LabelPropResult(labels, it)


def label_propagation(
    edges: DataFrame,
    max_iter: int = 10,
    broadcast_vertices: int = 5_000_000,
    debug_plans: list | None = None,
    small_graph_edges: int = 4_000_000,
) -> LabelPropResult:
    """Three paths, one answer (identical frames and iteration counts,
    pinned by tests/test_components_fastpath.py):

    1. serial finish — ≤ ``small_graph_edges`` directed edges: the
       whole fixpoint in the driver over one collected edge pass,
       under the same edge bound as louvain.py;
    2. driver-coordinated broadcast rounds — V ≤ ``broadcast_vertices``
       (the gate mirrors Louvain's): labels on the driver, one
       exchange-free edge job per round;
    3. DataFrame rounds — V > ``broadcast_vertices``: nothing
       vertex-sized reaches the driver.

    ``debug_plans`` (test hook) records each broadcast round's executed
    plan, so the exchange-free property stays pinned by pytest; it does
    not choose the path (``small_graph_edges=0`` skips the serial
    finish)."""
    if small_graph_edges > 0:
        local = _labelprop_local(edges, small_graph_edges, max_iter)
        if local is not None:
            return local
    ids = probe_vertex_ids(edges, broadcast_vertices)
    if ids is not None:
        return _labelprop_broadcast(edges, ids, max_iter, debug_plans)
    return _labelprop_rounds(edges, max_iter)
