"""Driver-coordinated broadcast rounds for vertex-state fixpoints.

While the vertex set fits ``broadcast_vertices``, the iterative
companions (connected components, label propagation) hold their
per-vertex state on the driver as numpy arrays aligned with the sorted
vertex ids — the design Louvain's ``_driver_rounds`` already uses, and
the Spark analog of the reference's shared membership arrays that
every thread reads (louvainMoveOmpW, louvain.hxx:587-609).

A round is then ONE Spark plan: the vertex-sized state becomes a
``createDataFrame``, is broadcast-joined into the cached edge table
(partitioned on the aggregation key, so the aggregate runs within each
partition with no shuffle Exchange) and the vertex-sized result comes
back as Arrow. Merging, pointer jumps and the convergence test are
O(V) numpy on the driver — no per-round join, checkpoint or count job.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .transforms import vertices


def probe_vertex_ids(edges: DataFrame, bound: int) -> np.ndarray | None:
    """Sorted vertex ids of ``edges`` when there are at most ``bound``
    of them, else None. One LIMIT job: under the bound the probe IS
    the vertex set; over it, the probe short-circuits."""
    bound = min(bound, 2**31 - 2)  # LIMIT takes a Java int
    tbl = vertices(edges).limit(bound + 1).toArrow()
    if tbl.num_rows > bound:
        return None
    return np.sort(tbl.column("id").to_numpy().astype(np.int64, copy=False))


def positions(ids: np.ndarray, vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(pos, found): each value's index in the sorted ``ids`` and
    whether it is present there (``pos`` is clipped into range)."""
    if len(ids) == 0:
        z = np.zeros(len(vals), dtype=np.int64)
        return z, z.astype(bool)
    pos = np.minimum(np.searchsorted(ids, vals), len(ids) - 1)
    return pos, ids[pos] == vals


def broadcast_round(
    edges: DataFrame,
    state: dict[str, np.ndarray],
    schema: str,
    key: str,
    aggregate: Callable[[DataFrame], DataFrame],
    debug_plans: list | None = None,
) -> pa.Table:
    """One round's plan: broadcast the vertex-sized ``state`` into the
    cached ``edges`` on ``key``, apply ``aggregate`` to the joined
    rows and collect its vertex-sized result.

    ``debug_plans`` (test hook) receives the executed physical plan,
    so the round's exchange-free shape stays pinned by pytest."""
    st = edges.sparkSession.createDataFrame(pd.DataFrame(state), schema)
    out = aggregate(edges.join(F.broadcast(st), key))
    tbl = out.toArrow()
    if debug_plans is not None:
        debug_plans.append(out._jdf.queryExecution().executedPlan().toString())
    return tbl


def vertex_frame(spark, ids: np.ndarray, name: str, values: np.ndarray) -> DataFrame:
    """The (id long, <name> long) result frame of a driver-side solve."""
    return spark.createDataFrame(
        pd.DataFrame({"id": ids, name: values}), f"id long, {name} long"
    )
