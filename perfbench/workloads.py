"""The benchmark's workloads and the lap each one times.

A lap is the sequence of operator calls a user would run on one edge
table, each call timed on its own through the engine's public
functions:

    ingest → louvain → modularity → components → labelprop → triangles

``ingest`` is ``edges_from_pages`` over the persisted pages, with the
edge table it returns materialised.
"""

from __future__ import annotations

import os
import shutil
import sys
import traceback
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from louvain_communities_openmp_spark.operators.components import connected_components
from louvain_communities_openmp_spark.operators.labelprop import label_propagation
from louvain_communities_openmp_spark.operators.louvain import LouvainOptions, louvain
from louvain_communities_openmp_spark.operators.properties import modularity
from louvain_communities_openmp_spark.operators.triangles import triangle_count_total
from louvain_communities_openmp_spark.sources.edges import edges_from_pages

from checks import Reference
from graph import WebGraphSpec, make_web_pages
from spans import Tracer

OPS = ("ingest", "louvain", "modularity", "components", "labelprop", "triangles")
# the engine's serial-finish bounds, in directed edges (triangles: in
# canonical src < dst pairs, half of it)
ENGINE_BOUND = 4_000_000


@dataclass(frozen=True)
class Workload:
    name: str
    graph: WebGraphSpec
    # directed-edge count the generated graph must fall in
    edge_band: tuple[int, int]
    # serial-finish bound handed to every gated operator
    # (``small_graph_edges``); None keeps the engine's defaults
    bound: int | None = None
    # run Louvain under a RunDir, so every pass checkpoints
    checkpoint: bool = False
    # the traced run's delta probe: inserted links and deleted pairs
    # per mille of one edge-delta batch
    delta: tuple[int, int] | None = None

    def gate(self, op: str) -> dict:
        if self.bound is None:
            return {}
        return {"small_graph_edges": self.bound // 2 if op == "triangles" else self.bound}

    @property
    def probe_bound(self) -> int:
        return ENGINE_BOUND if self.bound is None else self.bound

    def serial(self) -> "Workload":
        """The same workload on the engine's default bounds."""
        return replace(self, bound=None, checkpoint=False)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "web_small",
            WebGraphSpec(pages=8_000),
            edge_band=(130_000, 180_000),
            delta=(2_000, 3),
        ),
        Workload(
            "web_large",
            WebGraphSpec(pages=8_000),
            edge_band=(130_000, 180_000),
            bound=100_000,
            checkpoint=True,
        ),
    )
}


@dataclass
class Lap:
    """Timings, outputs and failures of one lap."""

    index: int
    seconds: dict = field(default_factory=dict)
    values: dict = field(default_factory=dict)
    failed: dict = field(default_factory=dict)
    attempted: int = 0
    pass_log: list = field(default_factory=list)

    @property
    def pipeline_s(self) -> float:
        """One call of every operator."""
        return sum(self.seconds.values())

    def run(self, tracer: Tracer, op: str, fn):
        """Time one call of an operator. Returns its output, or None
        when the call raised."""
        self.attempted += 1
        with tracer.span(op, group=f"lap{self.index}.{op}") as s:
            try:
                out = fn()
            except Exception as exc:  # one failed call must not end the run
                traceback.print_exc(file=sys.stderr)
                self.failed[op] = f"raised {type(exc).__name__}: {exc}"
                return None
        self.seconds[op] = Tracer.seconds(s)
        return out

    def skip(self, op: str) -> None:
        self.attempted += 1
        self.failed[op] = "skipped: its input failed"

    def check(self, op: str, ok: bool, what: str) -> None:
        if not ok and op not in self.failed:
            self.failed[op] = f"check failed: {what}"


@dataclass
class Inputs:
    """What set-up leaves for the laps."""

    pages: DataFrame
    # DuckDB twin of the pages' link graph, and its answer
    reference: Reference | None = None
    expect: dict = field(default_factory=dict)
    # outputs of the first lap on these inputs
    first: dict | None = None


def generate(spark: SparkSession, wl: Workload, seed: int) -> DataFrame:
    """The workload's pages, persisted and materialised."""
    pages = make_web_pages(spark, wl.graph, seed).persist()
    pages.count()
    return pages


def run_lap(lap: Lap, wl: Workload, inputs: Inputs, work: str, tracer: Tracer) -> None:
    """One lap; outputs land in ``lap.values``, failed checks in ``lap.failed``."""
    def ingest():
        e, ids = edges_from_pages(inputs.pages)
        e = e.persist()
        e.count()
        ids.unpersist()
        return e

    e = lap.run(tracer, "ingest", ingest)
    if e is None:
        for op in OPS[1:]:
            lap.skip(op)
        return
    run_dir = os.path.join(work, f"louvain_run_{lap.index}") if wl.checkpoint else None
    opts = LouvainOptions(mode="auto", run_dir=run_dir, **wl.gate("louvain"))

    def community():
        res = louvain(e, opts)
        res.membership.count()
        return res

    res = lap.run(tracer, "louvain", community)
    _analytics(lap, wl, e, res, tracer)
    if run_dir is not None:
        lap.values["checkpoint_bytes"] = dir_bytes(run_dir)
        shutil.rmtree(run_dir, ignore_errors=True)
    e.unpersist()


def _analytics(lap: Lap, wl: Workload, e: DataFrame, res, tracer: Tracer) -> None:
    """modularity → triangles on the lap's edge table, and the output
    checks that need nothing but the lap's own results."""
    lap.values["edges"] = e.count()
    if res is None:
        lap.skip("modularity")
    else:
        lap.values.update(
            q=res.modularity, passes=res.passes, iterations=res.iterations
        )
        lap.pass_log = res.pass_log
        q = lap.run(
            tracer, "modularity",
            lambda: modularity(e, res.membership, **wl.gate("modularity")),
        )
        if q is not None:
            lap.values["q_check"] = q
            lap.check("louvain", abs(q - res.modularity) <= 1e-6,
                      f"louvain Q {res.modularity} vs modularity() {q}")
    cc = lap.run(
        tracer, "components",
        lambda: connected_components(e, **wl.gate("components"))
        .components.agg(F.countDistinct("comp")).first()[0],
    )
    if cc is not None:
        lap.values["components"] = cc
    lp = lap.run(
        tracer, "labelprop",
        lambda: label_propagation(e, max_iter=4, **wl.gate("labelprop"))
        .labels.agg(F.countDistinct("label")).first()[0],
    )
    if lp is not None:
        lap.values["labels"] = lp
    tri = lap.run(
        tracer, "triangles",
        lambda: triangle_count_total(e, **wl.gate("triangles")),
    )
    if tri is not None:
        lap.values["triangles"] = tri
    if res is not None:
        res.membership.unpersist()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
