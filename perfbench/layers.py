"""Per-layer probes of the traced run.

Each probe calls one layer of the engine on its own, on the workload's
data, outside the timed laps. Spark work inside a probe runs under the
probe's job group, so its jobs and bytes can be read back from the
event log.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import time

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from louvain_communities_openmp_spark.functions.extract import extract_links_once
from louvain_communities_openmp_spark.oracle import _cmove
from louvain_communities_openmp_spark.oracle.louvain_seq import louvain_seq_fast
from louvain_communities_openmp_spark.plans.run import RunDir
from louvain_communities_openmp_spark.operators.properties import modularity
from louvain_communities_openmp_spark.sources.edges import dense_ids
from louvain_communities_openmp_spark.streaming.dynamic_louvain import DynamicLouvain
from louvain_communities_openmp_spark.streaming.edge_stream import (
    EdgeStateStore,
    apply_delta_batch,
)

from checks import Reference
from graph import delta_batch
from spans import Tracer
from workloads import Workload, dir_bytes

DELTA_METRICS = (
    "delta.apply_s", "delta.update_s", "delta.affected_vertices",
    "delta.snapshot_bytes", "delta.processed",
)


def functions_probe(tracer: Tracer, pages: DataFrame) -> dict:
    """The Arrow extract UDF alone: select + explode + count."""
    with tracer.span("probe.extract_udf", group="probe.extract_udf") as s:
        links = (
            pages.select(extract_links_once("html").alias("ls"))
            .select(F.explode("ls"))
            .count()
        )
    sec = Tracer.seconds(s)
    return {"functions.extract_udf_s": sec, "functions.links_per_s": links / sec}


def sources_probe(tracer: Tracer, pages: DataFrame) -> dict:
    with tracer.span("probe.dense_ids", group="probe.dense_ids") as s:
        dense_ids(pages.select("url"), "url").count()
    return {"sources.dense_ids_s": Tracer.seconds(s)}


def gate_probe(tracer: Tracer, edges: DataFrame, bound: int) -> dict:
    """The operators' serial-finish gate, timed from outside: a LIMIT
    probe one row past the bound, collected as Arrow."""
    with tracer.span("probe.gate", group="probe.gate") as s:
        tbl = edges.select("src", "dst", "w").limit(bound + 1).toArrow()
    return {"gate.collect_s": Tracer.seconds(s), "gate.collect_rows": tbl.num_rows}


def _csr(src: np.ndarray, dst: np.ndarray, n: int):
    order = np.argsort(src * np.int64(n) + dst, kind="stable")
    indptr = np.zeros(n + 1, dtype=np.int64)
    indptr[1:] = np.cumsum(np.bincount(src, minlength=n))
    return order, indptr


def ckernel_probe(tracer: Tracer, edges: DataFrame, work: str) -> tuple[dict, dict]:
    """The driver kernels called directly on the collected edge table:
    the native compile in a cold directory, then Louvain, label
    propagation and triangles. Returns (metrics, outputs)."""
    native = _cmove.get_local_move() is not None
    out = {"ckernel.native": int(native)}
    build = os.path.join(work, "ckernel_cold")
    os.makedirs(build, exist_ok=True)
    src_c = os.path.join(build, "move.c")
    with open(src_c, "w") as f:
        f.write(_cmove._SRC)
    with tracer.span("probe.ckernel_compile") as s:
        done = subprocess.run(
            [os.environ.get("CC", "cc"), *_cmove._CFLAGS, "-o",
             os.path.join(build, "move.so"), src_c],
            capture_output=True, timeout=120,
        )
    out["ckernel.compile_s"] = Tracer.seconds(s) if done.returncode == 0 else 0.0
    shutil.rmtree(build, ignore_errors=True)

    tbl = edges.select("src", "dst", "w").toArrow()
    src = tbl.column("src").to_numpy()
    dst = tbl.column("dst").to_numpy()
    w = tbl.column("w").to_numpy()
    ids = np.unique(np.concatenate([src, dst]))
    n = len(ids)
    sp, dp = np.searchsorted(ids, src), np.searchsorted(ids, dst)
    order, indptr = _csr(sp, dp, n)
    sp, dp, w = sp[order], dp[order], w[order]

    with tracer.span("probe.ckernel_louvain") as s:
        res = louvain_seq_fast(sp, dp, w)
    out["ckernel.louvain_s"] = Tracer.seconds(s)

    keep = sp != dp
    lp_order, lp_indptr = _csr(sp[keep], dp[keep], n)
    lab = np.arange(n, dtype=np.int64)
    with tracer.span("probe.ckernel_labelprop") as s:
        _cmove.labelprop_rounds_c(
            lp_indptr, np.ascontiguousarray(dp[keep][lp_order]),
            np.ascontiguousarray(w[keep][lp_order]), lab, 4,
        )
    out["ckernel.labelprop_s"] = Tracer.seconds(s)

    # degree-(deg, id) oriented canonical pairs, the kernel's input
    c = sp < dp
    a, b = sp[c], dp[c]
    deg = np.bincount(a, minlength=n) + np.bincount(b, minlength=n)
    fwd = deg[a] <= deg[b]
    u, v = np.where(fwd, a, b), np.where(fwd, b, a)
    t_order, t_indptr = _csr(u, v, n)
    with tracer.span("probe.ckernel_triangles") as s:
        tri = _cmove.triangle_count_csr_c(t_indptr, np.ascontiguousarray(v[t_order]))
    out["ckernel.triangles_s"] = Tracer.seconds(s)
    return out, {"louvain_q": res.modularity, "triangles": tri}


def plans_probe(tracer: Tracer, edges: DataFrame, work: str) -> dict:
    """``RunDir.save_pass`` and ``load_pass`` alone, and the bytes one
    pass checkpoint takes (of the edges, and a vertex-sized membership)."""
    membership = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "com", F.col("id")
    )
    path = os.path.join(work, "plans_probe")
    run = RunDir(path)
    with tracer.span("probe.save_pass", group="probe.save_pass") as s:
        run.save_pass(0, edges, membership, {})
    save_s = Tracer.seconds(s)
    with tracer.span("probe.load_pass", group="probe.load_pass") as s:
        e, m, _ = run.load_pass(edges.sparkSession, 0)
        e.count()
        m.count()
    out = {
        "plans.save_pass_s": save_s,
        "plans.load_pass_s": Tracer.seconds(s),
        "plans.checkpoint_bytes": dir_bytes(path),
    }
    shutil.rmtree(path, ignore_errors=True)
    return out


def delta_probe(
    tracer: Tracer, edges: DataFrame, wl: Workload, seed: int, work: str
) -> tuple[dict, dict]:
    """The streaming layer: the lap's edges committed to an edge store
    with a cold ``DynamicLouvain``, then one seeded delta batch applied
    with ``apply_delta_batch`` and the membership brought up to date,
    a warm start seeded from the batch's endpoints. Both are checked:
    the new snapshot against DuckDB, its Q against ``modularity``.
    Returns (metrics, failures by call, None where a call passed)."""
    spark = edges.sparkSession
    store = EdgeStateStore(spark, os.path.join(work, "delta_store"))
    with tracer.span("probe.delta_base"):
        store.commit(edges, 0, {})
        maintainer = DynamicLouvain(store)
        maintainer.update_to_latest()
        inserts, per_mille = wl.delta
        batch = delta_batch(store.load(0), wl.graph, seed, 1, inserts, per_mille).persist()
        batch.count()
        ref = Reference(os.path.join(work, "tmp"))
        ref.load_edges(store.load(0).select("src", "dst").toArrow())
        expect = ref.apply_delta(batch.select("op", "src", "dst").toArrow())
        ref.close()
    with tracer.span("probe.delta_apply", group="probe.delta_apply") as s:
        v = apply_delta_batch(store, batch, 1)
        n = store.load(v).count()
    apply_s = Tracer.seconds(s)
    with tracer.span("probe.delta_update", group="probe.delta_update") as s:
        _, res = maintainer.update_to_latest()
        res.membership.count()
    update_s = Tracer.seconds(s)
    q = modularity(store.load(v), res.membership)
    failures = {
        "delta_apply": None if n == expect["edges"]
        else f"{n} edges after the batch, DuckDB {expect['edges']}",
        "delta_update": None if abs(q - res.modularity) <= 1e-6
        else f"warm Q {res.modularity} vs modularity() {q}",
    }
    metrics = {
        "delta.apply_s": apply_s,
        "delta.update_s": update_s,
        "delta.affected_vertices": store.load_affected(v).count(),
        "delta.snapshot_bytes": dir_bytes(os.path.join(store.dir, f"v{v:06d}", "edges")),
        "delta.processed": sum(r.get("processed") or 0 for r in res.pass_log),
    }
    batch.unpersist()
    return metrics, failures


def louvain_layer(laps) -> dict:
    """Louvain's own pass log, median over laps."""
    per_lap = []
    for lap in laps:
        log = lap.pass_log
        rounds = [t for r in log for t in r.get("t_rounds", [])]
        per_lap.append({
            "louvain.passes": lap.values.get("passes", 0),
            "louvain.iterations": lap.values.get("iterations", 0),
            "louvain.processed": sum(r.get("processed") or 0 for r in log),
            "louvain.local_finish_s": sum(r.get("t_local", 0.0) for r in log),
            "louvain.dist_move_s": sum(r.get("t_move", 0.0) for r in log),
            "louvain.dist_agg_s": sum(r.get("t_agg", 0.0) for r in log),
            "louvain.round_s": statistics.median(rounds) if rounds else 0.0,
        })
    return {k: statistics.median(d[k] for d in per_lap) for k in per_lap[0]}


def cpu_ticks() -> list[int]:
    """The host's CPU time counters (``/proc/stat``): user, nice, system,
    idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def sentinel_sort_s() -> float:
    """Fixed work on one core, as context for the host's state: median
    of three sorts of the same two million doubles."""
    x = np.random.default_rng(0).random(2_000_000)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        np.sort(x)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)
