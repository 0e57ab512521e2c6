#!/usr/bin/env python3
"""The repository's benchmark: registry entries run end to end against
seeded inputs, every result checked against the DuckDB oracle.

    python3 perfbench/run.py --workload star_10x --seed 1 --seconds 18 --trace 0

Run it from the repository root. The load is a closed loop: one client in
this process submits the next entry only after the previous result has
arrived, on a fresh ``local[N]`` session with N = ``nproc``. A run sets up
that session once, from JVM launch to the first ``load_tables``
(``setup_s``), makes one cold pass in name order (the first invocation of
every entry, each result checked against the DuckDB oracle), one warm-up
pass, then as many measured warm passes as fill ``--seconds``, each in a
seed-permuted order. Every warm result must reproduce the checked result's
digest.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced measured passes, prints the per-layer metrics and a
self-time table, and writes the spans to ``.perfbench_data/traces/``. The
last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the full record with its provenance goes to
``.perfbench_data/results/``. Any failed or mismatching invocation makes the
exit code 1.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import platform
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".perfbench_data")

# Entries come from whole registry families, thinned by one fixed rule that
# never looks at how an entry behaves: a family of n entries contributes
# k = ceil(n / stride) entries, evenly spaced in name order (positions
# floor((j + 1/2) * n / k)), so every family keeps at least one entry. The
# stride keeps a run (set-up, the cold, warm-up and measured passes) inside
# the time the benchmark is given. ``pass_s`` is the nominal length of one
# warm pass (4 cores): a run makes max(MIN_WARM_PASSES, round(seconds /
# pass_s)) measured passes, so the count depends on --seconds alone. Sized
# by a measured pass instead, runs near a boundary flipped between counts,
# and as later passes run faster, their medians moved with the count.
WORKLOADS = {
    # Fixed cost: jobs launched inside builders, iterative rounds, Python
    # workers, per-job scheduling.
    "llm_pipeline_sf01": {
        "families": ("dd_", "ds_", "df_", "mm_"),
        "stride": 22,
        "data": "base",
        "pass_s": 7.0,
    },
    # The star queries where data volume dominates: scan, shuffle, executor.
    "star_10x": {
        "families": ("tpch_", "cb_"),
        "stride": 12,
        "data": "x10",
        "pass_s": 5.0,
    },
}
MIN_WARM_PASSES = 2
# Caps the JVM heap (the program defaults to 8g) so a run's footprint stays
# small on a shared machine; the workloads peak far below it and never spill.
DRIVER_MEM = "3g"
# Per-layer metrics of a traced run, per traced warm pass unless named
# otherwise; the value says which direction is better.
PER_LAYER = {
    "engine.session_s": "lower",
    "registry.import_s": "lower",
    "tables.load_s": "lower",
    "operators.build_s": "lower",
    "operators.build_jobs": "lower",
    "planner.plan_s": "lower",
    "scheduler.jobs": "lower",
    "scheduler.stages": "lower",
    "scheduler.stages_skipped": "higher",
    "scheduler.tasks": "lower",
    "scheduler.job_wall_s": "lower",
    "executor.run_s": "lower",
    "executor.cpu_s": "lower",
    "executor.deserialize_s": "lower",
    "executor.gc_s": "lower",
    "executor.peak_mem_mb": "lower",
    "executor.busy_frac": "higher",
    "shuffle.write_mb": "lower",
    "shuffle.read_mb": "lower",
    "shuffle.fetch_wait_s": "lower",
    "shuffle.spill_mb": "lower",
    "pyworker.cpu_s": "lower",
    "pyworker.data_sent_mb": "lower",
    "pyworker.data_received_mb": "lower",
    "collect.result_mb": "lower",
    "collect.rows": "lower",
    "collect.driver_s": "lower",
    "memory.storage_mb": "lower",
    "driver.cpu_s": "lower",
    "trace.overhead_s": "lower",
    "trace.coverage": "higher",
}
UNITS = {"mb": "MB", "_s": "s", "frac": "ratio", "coverage": "ratio"}


def unit(name: str) -> str:
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def select_entries(names, families, stride) -> list[str]:
    out = []
    for fam in families:
        members = sorted(n for n in names if n.startswith(fam))
        k = -(-len(members) // stride)
        out.extend(members[(2 * j + 1) * len(members) // (2 * k)] for j in range(k))
    return out


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def tail(latencies: list[float]) -> float:
    """The 90th percentile, interpolated between order statistics."""
    if len(latencies) < 2:
        return latencies[0]
    return statistics.quantiles(latencies, n=10, method="inclusive")[-1]


class Bench:
    def __init__(self, args, data_dir: str, gen_s: float):
        self.args = args
        self.data_dir = data_dir
        self.gen_s = gen_s
        self.cores = nproc()
        self.failures: list[dict] = []
        self.attempted = 0
        self.digests: dict[str, str | None] = {}
        self.wall: dict[str, float] = {}  # seconds per phase of the run
        self.off = time.time() - time.perf_counter()  # perf_counter -> epoch

    # -- set-up -----------------------------------------------------------

    def setup(self):
        """One fresh set-up, as a new client pays it: JVM launch and session
        (``build_session``), the operator registry's import, the first
        ``load_tables``."""
        from datafusion_distributed_spark.engine import build_session
        from datafusion_distributed_spark.tables import load_tables

        tmp = os.path.join(DATA, "tmp")
        os.makedirs(tmp, exist_ok=True)
        confs = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(DATA, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(DATA, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        t0 = time.perf_counter()
        self.spark = build_session(app_name="perfbench", master=f"local[{self.cores}]",
                                   extra_confs=confs)
        t1 = time.perf_counter()
        from datafusion_distributed_spark.operators.registry import (
            REGISTRY,
            _ensure_loaded,
        )

        _ensure_loaded()
        t2 = time.perf_counter()
        load_tables(self.spark, self.data_dir)
        t3 = time.perf_counter()
        self.setup_times = {"session_s": t1 - t0, "registry_s": t2 - t1,
                            "load_s": t3 - t2, "total_s": t3 - t0}
        self.registry = REGISTRY

    # -- one invocation ---------------------------------------------------

    def invoke(self, name: str, tag: str | None):
        """Build, plan and collect one entry. Returns (df, rows, phase
        boundaries as perf_counter seconds). With ``tag`` each phase runs
        under its own job group ``tag:phase``."""
        sc = self.spark.sparkContext
        qd = self.registry[name]
        t0 = time.perf_counter()
        if tag:
            sc.setJobGroup(f"{tag}:build", name)
        df = qd.fn(self.spark, self.data_dir)
        t1 = time.perf_counter()
        if tag:
            sc.setJobGroup(f"{tag}:plan", name)
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        if tag:
            sc.setJobGroup(f"{tag}:collect", name)
        rows = df.collect()
        t3 = time.perf_counter()
        if tag:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return df, rows, (t0, t1, t2, t3)

    def hygiene(self) -> None:
        """What bench.py does between entries: drop slot-held and cached
        frames so one entry's blocks do not squeeze the next."""
        from datafusion_distributed_spark.operators._util import release_all_slots

        release_all_slots(self.spark)
        self.spark.catalog.clearCache()
        gc.collect()

    def fail(self, name: str, phase: str, why: str) -> None:
        self.failures.append({"entry": name, "phase": phase, "why": why[:500]})

    def run_entry(self, name: str, phase: str, oracle=None, tag=None,
                  on_result=None):
        """One checked invocation, then hygiene. Returns (latency, CPU
        seconds by process group), or None when it raised or, in a warm
        pass, did not reproduce the verified result. ``on_result(df, rows,
        bounds, cpu)`` sees the result before it is dropped."""
        self.attempted += 1
        try:
            return self._checked(name, phase, oracle, tag, on_result)
        finally:
            self.hygiene()

    def _checked(self, name, phase, oracle, tag, on_result):
        from perfbench.oracle import digest
        from perfbench.procstat import tree_cpu

        me = os.getpid()
        cpu0 = tree_cpu(me)
        try:
            df, rows, bounds = self.invoke(name, tag)
        except Exception as exc:  # the run goes on; the failure is counted
            self.fail(name, phase, f"{type(exc).__name__}: {exc}")
            return None
        cpu1 = tree_cpu(me)
        cpu = {k: cpu1[k] - cpu0[k] for k in cpu1}
        got = digest(df.columns, rows, bool(self.registry[name].order_by))
        if oracle is not None:
            why = oracle.check(self.registry[name], df.columns, rows)
            self.digests[name] = None if why else got
            if why:
                self.fail(name, phase, f"oracle: {why}")
        elif got != self.digests.get(name):
            self.fail(name, phase, "result differs from the oracle-verified one"
                      if self.digests.get(name) else "no oracle-verified result")
            return None
        if on_result is not None:
            on_result(df, rows, bounds, cpu)
        return bounds[3] - bounds[0], cpu

    def retained_heap_mb(self) -> float:
        jvm = self.spark.sparkContext._jvm
        # The second collection frees what the context cleaner released
        # after the first one.
        jvm.java.lang.System.gc()
        time.sleep(0.2)
        jvm.java.lang.System.gc()
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return mx.getHeapMemoryUsage().getUsed() / (1024.0 * 1024.0)

    # -- the run ----------------------------------------------------------

    def run(self, entries: list[str]) -> dict:
        import numpy as np

        from perfbench.oracle import Oracle

        rng = np.random.default_rng(self.args.seed)
        cold_start = time.perf_counter()
        oracle = Oracle(self.data_dir)
        cold: dict[str, float] = {}
        try:
            # Name order: the first entry run pays the JVM's warm-up, so a
            # seeded order would move that cost between entries run to run.
            for name in sorted(entries):
                res = self.run_entry(name, "cold", oracle=oracle)
                if res is not None:
                    cold[name] = res[0]
        finally:
            oracle.close()
        # Read after the cold pass: its order is fixed, and what an entry
        # leaves behind depends on which entry ran last; Spark's status store
        # also grows with every job, so later passes would read higher.
        self.heap_mb = self.retained_heap_mb()

        passes = []
        traced = bool(self.args.trace)
        self.tracer = None
        if traced:
            from perfbench.trace import StatusReader, Tracer

            self.tracer, self.status = Tracer(), StatusReader(self.spark)
        # One warm-up pass lets the JIT settle after the cold pass (the first
        # warm pass still runs markedly slower).
        warmup_start = time.perf_counter()
        self.wall["cold_s"] = warmup_start - cold_start
        warmup = self.warm_pass(entries, rng, False, -1)
        warm_start = time.perf_counter()
        self.wall["warmup_s"] = warm_start - warmup_start
        n = max(MIN_WARM_PASSES,
                round(self.args.seconds / WORKLOADS[self.args.workload]["pass_s"]))
        n += n % 2 if traced else 0  # untraced and traced passes in pairs
        if traced:
            self.run_span = self.tracer.add("run", self.args.workload,
                                            warm_start + self.off, 0.0, None)
        for i in range(n):
            if traced and i % 2 == 0:
                # The seed picks which pass of a pair is traced: later passes
                # run a little faster, so a fixed order would bias the
                # tracing overhead.
                traced_first = bool(rng.integers(2))
            with_trace = traced and (i % 2 == 0) == traced_first
            passes.append(self.warm_pass(entries, rng, with_trace, i))
        warm_end = time.perf_counter()
        self.wall["warm_s"] = warm_end - warm_start
        if traced:
            self.tracer.close(self.run_span, warm_end + self.off)
        return {"cold": cold, "warmup": warmup["latency"], "passes": passes}

    def warm_pass(self, entries, rng, with_trace: bool, index: int) -> dict:
        order = [entries[i] for i in rng.permutation(len(entries))]
        lat: dict[str, float] = {}
        cpu = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        tr, off = self.tracer if with_trace else None, self.off
        layer: dict[str, float] = {}
        pending = []  # invocations whose jobs are read once the pass is over
        if tr:
            pass_span = tr.add("pass", f"warm{index}", time.perf_counter() + off,
                               0.0, self.run_span)
        for k, name in enumerate(order):
            tag = on_result = None
            if tr:
                tag = f"p{index}i{k}"
                inv = tr.add("invocation", name, time.perf_counter() + off, 0.0,
                             pass_span)

                def on_result(df, rows, bounds, c, name=name, tag=tag, inv=inv):
                    pending.append(self.record_phases(name, tag, df, rows, bounds,
                                                      inv, c, layer))

            res = self.run_entry(name, "warm", tag=tag, on_result=on_result)
            if tr:
                tr.close(inv, time.perf_counter() + off)
            if res is not None:
                lat[name] = res[0]
                for key in cpu:
                    cpu[key] += res[1][key]
        out = {"latency": lat, "cpu": cpu, "traced": with_trace}
        if tr:
            # The pass wall holds everything between the phases too: CPU
            # reads, digests, plan-metric reads and the hygiene.
            end = time.perf_counter() + off
            layer["pass_s"] = end - tr.spans[pass_span - 1]["start"]
            tr.close(pass_span, end)
            self.status.drain()
            for args in pending:
                self.record_jobs(*args, layer)
            layer["memory.storage_mb"] = self.status.storage_mb()
            layer["self"] = tr.self_times(pass_span)
            out["layer"] = layer
        return out

    def record_phases(self, name, tag, df, rows, bounds, inv, cpu, layer):
        """Spans and driver-side counts of one traced invocation's build,
        plan and collect. Returns what ``record_jobs`` needs."""
        from perfbench.trace import python_node_bytes

        t0, t1, t2, t3 = (b + self.off for b in bounds)
        tr = self.tracer
        phase_span = {
            "build": tr.add("build", name, t0, t1, inv),
            "plan": tr.add("plan", name, t1, t2, inv),
            "collect": tr.add("collect", name, t2, t3, inv, rows=len(rows)),
        }
        sent, received = python_node_bytes(df)
        for key, value in (
            ("operators.build_s", t1 - t0),
            ("planner.plan_s", t2 - t1),
            ("phases_s", t3 - t0),
            ("collect.rows", len(rows)),
            ("pyworker.cpu_s", cpu["pyworker"]),
            ("driver.cpu_s", cpu["driver"]),
            ("pyworker.data_sent_mb", sent),
            ("pyworker.data_received_mb", received),
        ):
            layer[key] = layer.get(key, 0.0) + value
        return tag, phase_span, t0, t3

    def record_jobs(self, tag, phase_span, t0, t3, layer):
        """Job and stage spans of one invocation's phases, with their task
        metrics, read from Spark's status store."""
        tr, st = self.tracer, self.status

        def bump(key, value):
            layer[key] = layer.get(key, 0.0) + value

        for phase, parent in phase_span.items():
            for job in st.jobs(f"{tag}:{phase}"):
                js, je = job["start"] or t0, job["end"] or t3
                jid = tr.add("job", str(job["job_id"]), js, je, parent,
                             tasks=job["tasks"])
                bump("scheduler.jobs", 1)
                bump("scheduler.job_wall_s", je - js)
                if phase == "build":
                    bump("operators.build_jobs", 1)
                for s in job["stages"]:
                    if s["status"] == "SKIPPED":
                        bump("scheduler.stages_skipped", 1)
                        continue
                    tr.add("stage", str(s["stage_id"]), s["start"] or js,
                           s["end"] or je, jid, **{k: s[k] for k in (
                               "tasks", "run_s", "cpu_s", "shuffle_read_mb",
                               "shuffle_write_mb", "spill_mb")})
                    bump("scheduler.stages", 1)
                    bump("scheduler.tasks", s["tasks"])
                    for key in ("run_s", "cpu_s", "deserialize_s", "gc_s"):
                        bump(f"executor.{key}", s[key])
                    layer["executor.peak_mem_mb"] = max(
                        layer.get("executor.peak_mem_mb", 0.0), s["peak_mem_mb"])
                    bump("shuffle.write_mb", s["shuffle_write_mb"])
                    bump("shuffle.read_mb", s["shuffle_read_mb"])
                    bump("shuffle.fetch_wait_s", s["fetch_wait_s"])
                    bump("shuffle.spill_mb", s["spill_mb"])
                    if phase == "collect":
                        bump("collect.result_mb", s["result_mb"])


# -- reporting ---------------------------------------------------------------


def med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def per_entry_latency(passes: list[dict]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for p in passes:
        for name, x in p["latency"].items():
            out.setdefault(name, []).append(x)
    return out


def warm_total(passes: list[dict]) -> float:
    """Sum over entries of each entry's median warm latency."""
    return sum(med(v) for v in per_entry_latency(passes).values())


def end_to_end(bench: Bench, res: dict, passes: list[dict]) -> tuple[dict, dict]:
    per_entry = per_entry_latency(passes)
    all_lat = [x for v in per_entry.values() for x in v]
    metrics = {
        "setup_s": bench.setup_times["total_s"],
        "cold_pass_s": sum(res["cold"].values()),
        "warm_total_s": warm_total(passes),
        "query_p50_s": med(all_lat),
        "query_tail_s": tail(all_lat),
        "cpu_s": med([sum(p["cpu"].values()) for p in passes]),
        "retained_heap_mb": bench.heap_mb,
    }
    detail = {"tail_percentile": 90, "warm_samples": len(all_lat),
              "samples_beyond_tail": len(all_lat) / 10.0,
              "warm_passes": len(passes),
              "per_entry": {n: {"cold_s": res["cold"].get(n),
                                "warmup_s": res["warmup"].get(n), "warm_s": v}
                            for n, v in sorted(per_entry.items())}}
    return metrics, detail


def per_layer(bench: Bench, res: dict) -> tuple[dict, dict]:
    plain = [p for p in res["passes"] if not p["traced"]]
    traced = [p for p in res["passes"] if p["traced"]]
    metrics = {k: med([p["layer"].get(k, 0.0) for p in traced]) for k in PER_LAYER}
    metrics["engine.session_s"] = bench.setup_times["session_s"]
    metrics["tables.load_s"] = bench.setup_times["load_s"]
    metrics["registry.import_s"] = bench.setup_times["registry_s"]
    metrics["collect.driver_s"] = med(
        [p["layer"]["self"].get("collect.driver", 0.0) for p in traced])
    metrics["executor.busy_frac"] = med(
        [p["layer"].get("executor.run_s", 0.0) / (bench.cores * p["layer"]["pass_s"])
         for p in traced])
    untraced_total, traced_total = warm_total(plain), warm_total(traced)
    metrics["trace.overhead_s"] = traced_total - untraced_total
    # Share of each traced pass's wall that build, plan and collect cover.
    metrics["trace.coverage"] = med(
        [p["layer"].get("phases_s", 0.0) / p["layer"]["pass_s"] for p in traced])
    self_table = {}
    for p in traced:
        for layer, v in p["layer"]["self"].items():
            self_table.setdefault(layer, []).append(v)
    detail = {"self_s": {k: med(v) for k, v in sorted(self_table.items())},
              "untraced_warm_total_s": untraced_total,
              "traced_warm_total_s": traced_total,
              "invocation_coverage_min": invocation_coverage_min(bench.tracer)}
    return {k: metrics[k] for k in PER_LAYER}, detail


def invocation_coverage_min(tracer) -> float:
    """Smallest share of a traced invocation's wall time, from before its
    CPU read to the end of its hygiene, that its build, plan and collect
    spans cover."""
    kids: dict[int, float] = {}
    for s in tracer.spans:
        if s["kind"] in ("build", "plan", "collect"):
            kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["end"] - s["start"]
    shares = [kids.get(s["id"], 0.0) / (s["end"] - s["start"])
              for s in tracer.spans
              if s["kind"] == "invocation" and s["end"] > s["start"]]
    return min(shares) if shares else 0.0


def provenance(bench: Bench, entries: list[str]) -> dict:
    import duckdb
    import pyspark

    spark = bench.spark
    jvm = spark.sparkContext._jvm
    return {
        "workload": bench.args.workload,
        "seed": bench.args.seed,
        "seconds": bench.args.seconds,
        "nproc": bench.cores,
        "versions": {
            "spark": spark.version,
            "pyspark": pyspark.__version__,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "duckdb": duckdb.__version__,
        },
        "configs": {k: spark.conf.get(k, None) for k in (
            "spark.master",
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled",
            "spark.sql.files.maxPartitionBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.driver.memory",
        )},
        "entries": entries,
        "entries_sha1": hashlib.sha1("\n".join(entries).encode()).hexdigest(),
        "entry_rule": "families {families}; ceil(n/{stride}) evenly spaced "
        "entries per family in name order".format(**WORKLOADS[bench.args.workload]),
        "literal_lane": {
            "excluded": True,
            "lit_registered": sum(1 for n in bench.registry if n.startswith("lit_")),
        },
        "registry_size": len(bench.registry),
        "data_dir": os.path.relpath(bench.data_dir, ROOT),
        "generation_s": bench.gen_s,
    }


def stop_all() -> None:
    """Stop the session and the JVM, then wait for every process this run
    started (the JVM's Python workers included) to end."""
    from pyspark import SparkContext

    from perfbench.procstat import descendants

    pids = descendants(os.getpid())
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            if gateway.proc.stdin:
                gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                gateway.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
    deadline = time.time() + 20
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.perf_counter()

    if not os.path.isfile(os.path.join(ROOT, "datafusion_distributed_spark", "engine.py")):
        print(f"perfbench: no datafusion_distributed_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    # The package must import in this process and in every Python worker the
    # JVM forks, whatever the working directory is.
    sys.path.insert(0, ROOT)
    from perfbench.procstat import steal_s

    steal0 = steal_s()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(DATA, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    from perfbench import gen

    wl = WORKLOADS[args.workload]
    if wl["data"] == "x10":
        data_dir, gen_s = gen.ensure_replica(DATA, args.seed)
    else:
        data_dir, gen_s = gen.ensure_base(DATA)

    bench = Bench(args, data_dir, gen_s)
    try:
        bench.setup()
        entries = select_entries(bench.registry, wl["families"], wl["stride"])
        res = bench.run(entries)
        e2e, e2e_detail = end_to_end(
            bench, res, [p for p in res["passes"] if not p["traced"]])
        record = {"provenance": provenance(bench, entries), "end_to_end": e2e,
                  "end_to_end_detail": e2e_detail, "setup": bench.setup_times,
                  "failures": bench.failures, "attempted": bench.attempted,
                  "failed_frac": len(bench.failures) / bench.attempted}
        if args.trace:
            layers, layer_detail = per_layer(bench, res)
            record["per_layer"], record["per_layer_detail"] = layers, layer_detail
            os.makedirs(os.path.join(DATA, "traces"), exist_ok=True)
            trace_path = os.path.join(
                DATA, "traces", f"{args.workload}-seed{args.seed}.json")
            bench.tracer.write(trace_path, {"provenance": record["provenance"],
                                            "per_layer": layers, **layer_detail})
            from perfbench.report import self_time_table

            print(self_time_table({args.workload: layer_detail}))
    finally:
        t_stop = time.perf_counter()
        stop_all()
    bench.wall["stop_s"] = time.perf_counter() - t_stop
    bench.wall["total_s"] = time.perf_counter() - t_start
    # Time the host took the CPUs away: explains a run that is slow overall.
    bench.wall["host_steal_s"] = steal_s() - steal0
    record["wall"] = bench.wall

    os.makedirs(os.path.join(DATA, "results"), exist_ok=True)
    with open(os.path.join(DATA, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1)
    for fl in bench.failures:
        print(f"perfbench: FAILED {fl['entry']} ({fl['phase']}): {fl['why']}",
              file=sys.stderr)
    chosen = record["per_layer"] if args.trace else e2e
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in chosen.items()},
    }))
    return 1 if bench.failures else 0


if __name__ == "__main__":
    sys.exit(main())
