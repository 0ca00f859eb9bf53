#!/usr/bin/env python3
"""Benchmark command of the link-graph engine.

    python3 perfbench/run.py --workload web_small --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. One driver process on ``local[nproc]``
runs one operator call at a time (a closed loop with one client) over
inputs generated from ``--seed``, and times the engine only through its
public functions. See ``perfbench/README.md`` for the workloads and
metrics.

Set-up starts the session, generates the inputs ``SETUP_REPS`` times
and runs one discarded warm-up lap; ``setup_s`` is session start +
median generation + warm-up. Laps then run until ``--seconds`` is used
up (at least one), and each metric is the median over the laps.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced sessions and sessions with a Spark event log and job groups,
one lap each, then runs the per-layer probes in the last traced session
and prints the per-layer metrics, the tracing overhead among them.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it holds the run's details (host, samples, every lap, checks). Spans
and event logs are written to ``.perfbench_out/`` in the checkout.
Everything else the run writes goes to ``.perfbench_work/`` and is
removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import gc
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "louvain_communities_openmp_spark"
SETUP_REPS = 3
# share of the host's memory given to the driver JVM, capped
DRIVER_MEMORY_SHARE, DRIVER_MEMORY_MAX_GB = 0.25, 4
# The driver JVM compiles with C1 alone. Under the full tiered JIT the
# laps keep getting faster for about eight laps (35 s of web_small) while
# C2 compiles, longer than a run can wait; under C1 they are level from
# the first lap after the warm-up.
JVM_OPTIONS = "-XX:-UsePerfData -XX:TieredStopAtLevel=1"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_facts() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    nproc = len(os.sched_getaffinity(0))
    driver_gb = max(1, min(DRIVER_MEMORY_MAX_GB, int(mem_kb * DRIVER_MEMORY_SHARE / 2**20)))
    return {
        "nproc": nproc,
        "mem_total_mb": mem_kb // 1024,
        "master": f"local[{nproc}]",
        "shuffle_partitions": nproc,
        "driver_memory": f"{driver_gb}g",
        "python": sys.version.split()[0],
    }


def prepare_env(work: str) -> None:
    """Keep every file the run, Spark and its workers write inside the
    checkout, and let the Python workers import the engine."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(1, ROOT)


def engine_present() -> bool:
    """True when the engine package of this checkout can be imported."""
    try:
        import louvain_communities_openmp_spark as pkg
    except ImportError:
        return False
    return os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) == ROOT


class Session:
    """The run's Spark session. The traced run restarts it to turn the
    event log on and off."""

    def __init__(self, host: dict, work: str):
        self.host, self.work = host, work
        self.spark = None
        self.event_dir = os.path.join(work, "eventlog")

    def start(self, traced: bool = False):
        from louvain_communities_openmp_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
            rebind_udfs()
        # SparkSession keeps the settings of earlier sessions in the
        # process: set the event log explicitly either way
        conf = {
            "spark.driver.memory": self.host["driver_memory"],
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} {JVM_OPTIONS}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.eventLog.enabled": str(traced).lower(),
        }
        if traced:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.dir": f"file://{self.event_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(
            app_name="perfbench",
            master=self.host["master"],
            shuffle_partitions=self.host["shuffle_partitions"],
            extra_conf=conf,
        )
        return self.spark

    def event_log(self) -> str:
        return os.path.join(self.event_dir, self.spark.sparkContext.applicationId)

    def close(self) -> None:
        """Stop Spark, then the JVM and its Python workers, and wait
        until each has exited."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            # a run interrupted inside a JVM call may leave the gateway
            # unusable; the JVM and the workers are stopped below anyway
            with contextlib.suppress(Exception):
                self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        workers = descendants(proc.pid) if proc is not None else []
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        for pid in workers:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)


def descendants(pid: int) -> list[int]:
    """Process ids of every process below ``pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def rebind_udfs() -> None:
    """pyspark caches a UDF's Java function together with the
    accumulator of the session it was first used in. Drop the cache of
    the engine's module-level UDFs, so that after a restart they bind
    to the new session instead of reporting to a closed one."""
    from pyspark.sql.udf import UserDefinedFunction

    for name, mod in list(sys.modules.items()):
        if name.startswith(PACKAGE):
            for v in vars(mod).values():
                u = getattr(v, "_unwrapped", v)
                if isinstance(u, UserDefinedFunction):
                    u._judf_placeholder = None


class Run:
    def __init__(self, args, host: dict, work: str):
        from spans import Tracer
        from workloads import WORKLOADS

        self.args, self.host, self.work = args, host, work
        self.wl = WORKLOADS[args.workload]
        self.tracer = Tracer()
        self.session = Session(host, work)
        self.laps = []          # measured laps, in order
        self.warm_laps = []     # discarded warm-up laps
        self.references = []
        self.probe_failures: dict = {}
        self.detail: dict = {"workload": self.wl.name, "seed": args.seed, "trace": args.trace}

    def set_up(self, reps: int):
        """Start a session, generate the inputs ``reps`` times (each
        after dropping the previous copy) and run the discarded warm-up
        lap. Returns the inputs and the set-up time: session start +
        median generation + warm-up."""
        from workloads import generate

        tr, wl, seed = self.tracer, self.wl, self.args.seed
        with tr.span("session") as s:
            spark = self.session.start()
        start_s = tr.seconds(s)
        gens = []
        pages = None
        for _ in range(reps):
            if pages is not None:
                pages.unpersist(blocking=True)
            with tr.span("generate") as s:
                pages = generate(spark, wl, seed)
            gens.append(tr.seconds(s))
        inputs = self.reference(pages, wl)
        warm_s = self.warm_up(inputs)
        self.detail.setdefault("setup", []).append(
            {"session_start_s": start_s, "generate_s": gens, "warmup_s": warm_s}
        )
        self.detail["graph"] = {"pages": wl.graph.pages, **inputs.expect}
        return inputs, start_s + statistics.median(gens) + warm_s

    def reference(self, pages, wl):
        """The laps' inputs with DuckDB's answer for the pages; fails the
        run when the graph is outside the workload's size band."""
        from checks import Reference
        from workloads import Inputs

        with self.tracer.span("reference"):
            ref = Reference(os.path.join(self.work, "tmp"))
            self.references.append(ref)
            expect = ref.from_pages(pages.select("url", "html").toArrow())
        lo, hi = wl.edge_band
        if not lo <= expect["edges"] <= hi:
            raise SystemExit(
                f"perfbench: {wl.name} generated {expect['edges']} directed "
                f"edges, outside its band [{lo}, {hi}]"
            )
        return Inputs(pages, ref, expect)

    def warm_up(self, inputs) -> float:
        """One discarded lap on the inputs, on the serial paths; its
        seconds. It is not the first lap the later laps are compared
        with. On web_large a distributed warm-up lap would cost as much
        as the measured lap, the serial one a quarter of it, and the
        measured lap's time differs little between the two."""
        from workloads import Lap, run_lap

        lap = Lap(len(self.laps) + len(self.warm_laps))
        with self.tracer.span("warm_up") as s:
            run_lap(lap, self.wl.serial(), inputs, self.work, self.tracer)
        self.lap_checks(lap, dataclasses.replace(inputs, first=None))
        self.warm_laps.append(lap)
        self.reset_cache(inputs)
        return self.tracer.seconds(s)

    def restart(self, inputs, traced: bool):
        """A fresh session with the same pages generated again."""
        from workloads import Inputs, generate

        with self.tracer.span("restart"):
            spark = self.session.start(traced)
            pages = generate(spark, self.wl, self.args.seed)
        return Inputs(pages, inputs.reference, inputs.expect, inputs.first)

    def reset_cache(self, inputs) -> None:
        """Drop everything a lap left cached, so that no lap finds data
        an earlier one cached under the same plan; keep the pages. The
        garbage collections let Spark's cleaner release what the lap
        left unreferenced (local checkpoints, broadcasts, shuffle
        files), so that it does not pile up from lap to lap."""
        with self.tracer.span("reset_cache"):
            gc.collect()
            self.session.spark.sparkContext._jvm.System.gc()
            self.session.spark.catalog.clearCache()
            inputs.pages.persist()
            inputs.pages.count()

    def measure(self, inputs, seconds: float) -> list:
        """Laps until ``seconds`` is used up; at least one. The cache is
        reset between laps, not after the last one."""
        from workloads import Lap, run_lap

        laps = []
        t0 = time.perf_counter()
        while True:
            lap = Lap(len(self.laps) + len(self.warm_laps))
            with self.tracer.span("lap") as s:
                run_lap(lap, self.wl, inputs, self.work, self.tracer)
            self.lap_checks(lap, inputs)
            self.laps.append(lap)
            laps.append(lap)
            if time.perf_counter() - t0 + self.tracer.seconds(s) > seconds:
                return laps
            self.reset_cache(inputs)

    def lap_checks(self, lap, inputs) -> None:
        """Against DuckDB, and against the first lap on the same inputs."""
        v = lap.values
        if "edges" in v:
            lap.check("ingest", v["edges"] == inputs.expect["edges"],
                      f"{v['edges']} edges, DuckDB {inputs.expect['edges']}")
        if "triangles" in v:
            lap.check("triangles", v["triangles"] == inputs.expect["triangles"],
                      f"{v['triangles']} triangles, DuckDB {inputs.expect['triangles']}")
        if inputs.first is None:
            inputs.first = v
            return
        for key, op in (("q", "louvain"), ("passes", "louvain"),
                        ("triangles", "triangles"), ("components", "components"),
                        ("labels", "labelprop")):
            if key in v and key in inputs.first:
                was = inputs.first[key]
                lap.check(op, v[key] == was,
                          f"{key} {v[key]} differs from the first lap's {was}")

    def counts(self) -> tuple[int, int]:
        laps = self.warm_laps + self.laps
        attempted = sum(lap.attempted for lap in laps) + len(self.probe_failures)
        failed = sum(len(lap.failed) for lap in laps)
        return attempted, failed + sum(1 for v in self.probe_failures.values() if v)

    def end_to_end(self, setup_s: float) -> dict:
        m = {"setup_s": (setup_s, "s")}
        m["pipeline_s"] = (statistics.median(lap.pipeline_s for lap in self.laps), "s")
        m["louvain_q"] = (statistics.median(lap.values.get("q", 0.0) for lap in self.laps), "Q")
        m["driver_peak_rss_mb"] = (peak_rss_mb(), "MB")
        return m


def reset_peak_rss() -> None:
    """Restart the kernel's peak-RSS count of this process, so that the
    peak covers the laps and not the set-up's DuckDB reference."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def peak_rss_mb() -> float:
    """Peak resident memory of the driver process since the last reset."""
    try:
        with open("/proc/self/status") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    except (OSError, StopIteration):
        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return kb / 1024.0


def tail(values: list) -> dict:
    """Median, sample count, and the highest of p90/p99/p99.9 that has
    at least ten samples beyond it."""
    out = {"median": statistics.median(values), "n": len(values)}
    for p in (99.9, 99, 90):
        if len(values) * (1 - p / 100) >= 10:
            q = statistics.quantiles(values, n=1000, method="inclusive")
            out[f"p{p:g}"] = q[int(p * 10) - 1]
            break
    return out


def untraced(run: Run, seconds: float) -> dict:
    inputs, setup_s = run.set_up(SETUP_REPS)
    reset_peak_rss()
    run.measure(inputs, seconds)
    return run.end_to_end(setup_s)


def traced(run: Run, seconds: float) -> dict:
    import layers
    from louvain_communities_openmp_spark.sources.edges import edges_from_pages
    from spans import ENGINE_COUNTERS, read_event_log
    from workloads import OPS

    # after a warm-up lap on the workload's own inputs, untraced and
    # traced sessions alternate, one lap each in a fresh session, so that
    # a session's first lap weighs on both sides alike; the order flips
    # from pair to pair (untraced first, then traced first), so that the
    # JVM warming up over the run weighs on both sides too
    tr = run.tracer
    inputs, _ = run.set_up(1)
    plain, laps, logs = [], [], []
    t0 = time.perf_counter()

    def session(on: bool):
        tr.sc = None
        restarted = run.restart(inputs, on)
        if on:
            tr.sc = run.session.spark.sparkContext
            logs.append(run.session.event_log())
        return restarted

    while time.perf_counter() - t0 < seconds:
        for on in (False, True) if len(plain) % 2 == 0 else (True, False):
            inputs = session(on)
            (laps if on else plain).extend(run.measure(inputs, 0))
    if tr.sc is None:
        inputs = session(True)

    m = {"session.start_s": run.detail["setup"][0]["session_start_s"]}
    m.update(layers.functions_probe(tr, inputs.pages))
    m.update(layers.sources_probe(tr, inputs.pages))
    with tr.span("probe.inputs"):
        edges = edges_from_pages(inputs.pages)[0].persist()
        m["sources.edge_rows"] = edges.count()
    m.update(layers.gate_probe(tr, edges, run.wl.probe_bound))
    ck, run.detail["ckernel_probe"] = layers.ckernel_probe(tr, edges, run.work)
    m.update(ck)
    m.update(layers.plans_probe(tr, edges, run.work))
    m.update(layers.louvain_layer(laps))
    m["louvain.checkpoint_bytes"] = median_of(laps, "checkpoint_bytes")
    if run.wl.delta is not None:
        delta, probe_failed = layers.delta_probe(tr, edges, run.wl, run.args.seed, run.work)
        run.probe_failures.update(probe_failed)
    else:
        delta = dict.fromkeys(layers.DELTA_METRICS, 0)
    m.update(delta)
    tr.sc = None

    run.session.spark.stop()
    groups = {}
    for i, log in enumerate(logs):
        groups.update(read_event_log(log))
        keep = os.path.join(ROOT, ".perfbench_out", f"{os.path.basename(run.work)}.{i}.eventlog")
        shutil.copyfile(log, keep)
        run.detail.setdefault("event_logs", []).append(os.path.relpath(keep, ROOT))
    for op in OPS:
        m[f"lap.{op}_s"] = median_seconds(plain, op)
        calls = [groups.get(f"lap{lap.index}.{op}", {}) for lap in laps if op in lap.seconds]
        for c in ENGINE_COUNTERS:
            m[f"{op}.{c}"] = statistics.median(g.get(c, 0) for g in calls) if calls else 0
    m["sources.dense_ids_jobs"] = groups.get("probe.dense_ids", {}).get("jobs", 0)
    m["gate.result_bytes"] = groups.get("probe.gate", {}).get("result_bytes", 0)
    p_plain = statistics.median(lap.pipeline_s for lap in plain)
    p_traced = statistics.median(lap.pipeline_s for lap in laps)
    m["trace.pipeline_s"] = p_traced
    m["trace.untraced_pipeline_s"] = p_plain
    m["trace.overhead_share"] = p_traced / p_plain - 1.0
    return {k: (v, unit_of(k)) for k, v in m.items()}


def unit_of(name: str) -> str:
    for suffix, unit in (("_per_s", "1/s"), ("_s", "s"), ("bytes", "B"),
                         ("share", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def median_seconds(laps, op: str) -> float:
    vals = [lap.seconds[op] for lap in laps if op in lap.seconds]
    return statistics.median(vals) if vals else 0


def median_of(laps, key: str) -> float:
    vals = [lap.values[key] for lap in laps if key in lap.values]
    return statistics.median(vals) if vals else 0


def main(argv=None) -> int:
    args = parse_args(argv)
    # on SIGTERM, run the cleanup below: stop Spark and its workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    work = os.path.join(
        ROOT, ".perfbench_work",
        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}",
    )
    prepare_env(work)
    try:
        if not engine_present():
            print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
            return 2
        sys.path.insert(0, HERE)
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"one of {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        return bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def bench(args, work: str) -> int:
    import pyspark

    from layers import cpu_ticks, sentinel_sort_s, steal_share
    from louvain_communities_openmp_spark.oracle._cmove import get_local_move

    host = host_facts()
    host["pyspark"] = pyspark.__version__
    run = Run(args, host, work)
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    try:
        sentinel = sentinel_sort_s()
        ticks = cpu_ticks()
        metrics = (traced if args.trace else untraced)(run, args.seconds)
        steal = steal_share(ticks, cpu_ticks())
        sentinel_after = sentinel_sort_s()
    finally:
        for ref in run.references:
            ref.close()
        run.session.close()
    kind = "c" if get_local_move() is not None else "python"
    if kind != "c":
        print("perfbench: the C kernels are unavailable; the driver kernels "
              "ran their Python fallback", file=sys.stderr)
    attempted, failed = run.counts()
    spans_path = os.path.join(ROOT, ".perfbench_out", os.path.basename(work) + ".spans.jsonl")
    run.tracer.write(spans_path)
    run.detail.update({
        "host": host,
        "ckernel_kind": kind,
        "sentinel_sort_s": [sentinel, sentinel_after],
        "cpu_steal_share": steal,
        "samples": {"laps": len(run.laps), "generate": len(run.detail["setup"][0]["generate_s"])},
        "pipeline_s": tail([lap.pipeline_s for lap in run.laps]),
        "laps": [{"index": lap.index, "seconds": lap.seconds,
                  "values": lap.values,
                  "failed": lap.failed} for lap in run.warm_laps + run.laps],
        "failed_ops": failed / attempted,
        "spans": os.path.relpath(spans_path, ROOT),
    })
    print(json.dumps(run.detail, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
