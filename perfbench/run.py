"""Seeded benchmark of the engine: end-to-end metrics, or per-layer metrics
from a traced run.

    python3 perfbench/run.py --workload driver_fit --seed 1 --seconds 12 --trace 0

Run from the repository root. The run generates its input tables, starts a
``local[nproc]`` session, runs every operation once in an untimed warm-up
pass, then measures passes over the workload until ``--seconds`` have gone.
Every pass checks its outputs after its last operation, outside the timed
region. With ``--trace 0`` it prints the end-to-end metrics; with
``--trace 1`` it alternates traced and untraced passes and prints the
per-layer metrics, including the traced/untraced pass-time ratio. The last
line of standard output is one JSON object. Everything the run writes lives
in a private directory under ``.perfbench_work/`` that is deleted when it
ends.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time
import traceback
from functools import partial
from statistics import median
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import numpy as np  # noqa: E402

from perfbench import datagen, stats, trace, workloads  # noqa: E402

SETUPS = 3
MIN_PASSES = 5
# A run must end within 180 s at the BENCHMARK.json run_seconds; leave room
# for stopping the JVM.
DEADLINE_S = 150


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _host_env(work: Path) -> None:
    """Point every temporary and local directory of the driver, the JVM and
    the Python workers into ``work``, and size the session for the host.
    Must run before pyspark starts the JVM, which inherits this environment."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    (work / "local").mkdir()
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # Python workers import the engine by module path (pickled UDFs).
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    # A quarter of host RAM, at most 4g: the session default (24g) assumes a
    # large host, and the machine is shared.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, total_kb // 4 // 2**20))}g"


def _log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


_TICK = os.sysconf("SC_CLK_TCK")


def _tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and every live
    process below it: the driver, its JVM and the Python workers."""
    procs = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            procs[int(entry)] = (int(fields[1]), int(fields[11]) + int(fields[12]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _ticks) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return total / _TICK


def _host_busy_s() -> float:
    """CPU seconds the whole host has spent busy (not idle or in I/O wait)."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return (sum(ticks[:8]) - ticks[3] - ticks[4]) / _TICK


def _identity(batches):
    yield from batches


def _problems(found: list[str]) -> str | None:
    return "; ".join(found[:5]) or None


class Bench:
    """One run: inputs, session, passes and the metrics they yield."""

    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.wl = workloads.WORKLOADS[args.workload]
        self.traced = bool(args.trace)
        self.data_dir = str(work / "data")
        self.tables = datagen.write_tables(self.data_dir)
        self.corpus = np.array(
            self.tables["embeddings"].column("embedding").to_pylist(), dtype=np.float64
        )
        self.inputs = workloads.Inputs(args.seed, list(self.wl.units), self.corpus)
        self.oracle = workloads.Oracle(
            self.data_dir, list(self.tables), str(work / "tmp")
        )
        from practicum2_nof1_adhd_bd_spark import registry

        self.registry = registry
        self.expected = {
            q: self.oracle.expected(registry.ORACLES[q]) for q in self.wl.queries
        }
        self.tracer = trace.Tracer(False)
        self.pass_no = 0
        self.timed = self.traced_pass = False
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.latency: dict[str, list[float]] = {}
        self.recall: list[float] = []
        self.pass_walls = {False: [], True: []}
        self.pass_cpu: list[tuple[float, float]] = []  # untraced passes
        self.layer_passes: list[dict] = []
        self.setups: list[tuple[float, float]] = []

    # ------------------------------------------------------------ session

    def _start(self):
        from practicum2_nof1_adhd_bd_spark.session import get_spark

        tmp = self.work / "tmp"
        spark = get_spark(
            "perfbench",
            **{
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                    f"-Dderby.system.home={self.work}"
                ),
            },
        )
        spark.sparkContext.setLogLevel("FATAL")
        return spark

    def _warm_up(self, spark) -> None:
        """JVM/codegen warm-up (a scan and an aggregation) and Python-worker
        warm-up (an Arrow round trip on every core)."""
        cpus = spark.sparkContext.defaultParallelism
        spark.read.parquet(f"{self.data_dir}/events.parquet").groupBy(
            "event_type"
        ).count().collect()
        spark.range(0, 64 * cpus, 1, cpus).mapInPandas(_identity, "id long").collect()

    def setup(self) -> None:
        """Set up SETUPS times (the first one also launches the JVM) and keep
        the last session."""
        for i in range(SETUPS):
            t0 = time.perf_counter()
            spark = self._start()
            t1 = time.perf_counter()
            self._warm_up(spark)
            self.setups.append((t1 - t0, time.perf_counter() - t1))
            _log(f"setup {i}: start {t1 - t0:.2f} s, warm-up {self.setups[-1][1]:.2f} s")
            if i < SETUPS - 1:
                spark.stop()
        self.spark = spark
        self.status = trace.SparkStatus(spark)

    def stop(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    # ------------------------------------------------------------ operations

    def _group(self, sp) -> None:
        """Tag the Spark jobs the span's code runs with a job group of its
        own; the span's index makes repeated operations distinct."""
        if self.traced_pass:
            name = f"{self.pass_no}|{len(self.tracer.spans)}|{sp.name}"
            self.spark.sparkContext.setJobGroup(name, name)
            sp.attrs["group"] = name

    def _fail(self, what: str, why: str) -> None:
        self.failed += 1
        print(f"FAIL {what}: {why}", file=sys.stderr)

    def _collect(self, op: str, build) -> tuple[list, list[str], float]:
        """Build a DataFrame, collect it, and return rows, columns and the
        wall time of both phases."""
        t0 = time.perf_counter()
        with self.tracer.span(f"{op}/build", op=op, phase="build") as sp:
            self._group(sp)
            df = build()
        with self.tracer.span(f"{op}/exec", op=op, phase="exec") as sp:
            self._group(sp)
            rows = df.collect()
        wall = time.perf_counter() - t0
        if sp is not None:
            sp.attrs.update(_plan_metrics(df))
        return rows, df.columns, wall

    def _record(self, op: str, wall: float) -> None:
        if self.timed:
            self.latency.setdefault(op, []).append(wall)

    def run_query(self, q: str, checks: list) -> None:
        self.attempted += 1
        try:
            rows, cols, wall = self._collect(
                q, lambda: self.registry.QUERIES[q](self.spark, self.data_dir)
            )
        except Exception:
            self._fail(q, traceback.format_exc())
            return
        self._record(q, wall)
        checks.append((q, lambda: workloads.check_query(
            self.expected[q], cols, [tuple(r) for r in rows]
        )))

    def _write(self, name: str, write) -> bool:
        """Run one write step; returns whether it succeeded."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"{name}/write", op=name, phase="write") as sp:
                self._group(sp)
                write()
        except Exception:
            self._fail(name, traceback.format_exc())
            return False
        wall = time.perf_counter() - t0
        self._record(f"write_{name}", wall)
        return True

    def run_bronze_silver(self, out: str, checks: list) -> None:
        """Write bronze, then silver from it, under ``out``."""
        from practicum2_nof1_adhd_bd_spark import pipeline

        med = os.path.join(out, "medallion")
        steps = {
            "bronze": lambda: pipeline.build_bronze(self.spark, self.data_dir, med),
            "silver": lambda: pipeline.build_silver(
                self.spark, os.path.join(med, "bronze", "events"), med
            ),
        }
        if all(self._write(name, step) for name, step in steps.items()):
            checks.append((workloads.BRONZE_SILVER, lambda: _problems(
                workloads.check_bronze_silver(self.oracle, out)
            )))

    def run_index_serve(self, out: str, checks: list) -> None:
        """Write the IVF index under ``out``, then send the pass's requests
        to it."""
        from practicum2_nof1_adhd_bd_spark.operators import similarity
        from practicum2_nof1_adhd_bd_spark.sources.readers import Catalog

        path = os.path.join(out, "ivf")
        emb = Catalog(self.spark, self.data_dir).embeddings
        if not self._write("ivf_index", partial(similarity.write_ivf_index, emb, path)):
            return
        checks.append((workloads.INDEX_SERVE, lambda: _problems(
            workloads.check_index(self.oracle, out, len(self.corpus))
        )))
        for _ in range(workloads.SERVE_PER_PASS):
            vec = self.inputs.request()
            self.attempted += 1
            try:
                rows, _cols, wall = self._collect("serve_ivf", partial(
                    similarity.query_ivf_index, self.spark, path, vec.tolist(),
                    k=workloads.SERVE_K,
                ))
            except Exception:
                self._fail("serve_ivf", traceback.format_exc())
                continue
            self._record("serve_ivf", wall)
            checks.append(("serve_ivf", partial(self._check_serve, rows, vec)))

    def _check_serve(self, rows, vec) -> str | None:
        problem, recall = workloads.check_serve(rows, vec, self.corpus)
        if self.timed:
            self.recall.append(recall)
        return problem

    # ------------------------------------------------------------ passes

    def run_pass(self, pass_no: int, timed: bool, traced: bool) -> tuple[float, float, float]:
        """Run every unit once, then check the outputs. Returns the wall
        time, the run's CPU seconds and the CPU seconds the rest of the host
        was busy, all taken over the operations only, not the checks."""
        self.pass_no = pass_no
        self.timed = timed
        self.traced_pass = traced
        self.tracer = trace.Tracer(traced)
        out = str(self.work / "out" / f"pass{pass_no}")
        checks: list = []
        units = self.inputs.order() if timed else self.wl.units
        t0 = time.perf_counter()
        cpu0, host0 = _tree_cpu_s(os.getpid()), _host_busy_s()
        for unit in units:
            if unit == workloads.BRONZE_SILVER:
                self.run_bronze_silver(out, checks)
            elif unit == workloads.INDEX_SERVE:
                self.run_index_serve(out, checks)
            else:
                self.run_query(unit, checks)
        wall = time.perf_counter() - t0
        cpu = _tree_cpu_s(os.getpid()) - cpu0
        other = _host_busy_s() - host0 - cpu
        for what, check in checks:
            try:
                problem = check()
            except Exception:
                problem = traceback.format_exc()
            if problem:
                self._fail(what, problem)
        if timed:
            self.pass_walls[traced].append(wall)
            if not traced:
                self.pass_cpu.append((cpu, other / wall))
        if traced:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self.layer_passes.append(_fold_layers(self, Path(out)))
        shutil.rmtree(out, ignore_errors=True)
        return wall, cpu, other

    def measure(self) -> None:
        """An untimed warm-up pass runs every unit once, in the workload's
        listed order so every seed warms the JIT up along the same path.
        Timed passes in the seeded order follow until ``--seconds`` have
        gone, at least MIN_PASSES of them: pass times keep falling for
        several passes as the JIT compiles more of the engine, so the best
        pass is only comparable between runs that ran as many passes. A
        traced run runs untraced, traced, traced, untraced, ..., so each
        kind sits on both sides of the other."""
        t0 = time.perf_counter()
        self.run_pass(0, timed=False, traced=False)
        _log(f"warm-up pass {time.perf_counter() - t0:.2f} s")
        self.retained_heap_mb = self._live_heap_mb()
        start = time.perf_counter()
        n = 0
        while True:
            n += 1
            traced = self.traced and n % 4 in (2, 3)
            wall, cpu, other = self.run_pass(n, timed=True, traced=traced)
            _log(f"pass {n} traced={traced}: {wall:.2f} s, {cpu:.2f} cpu-s, "
                 f"{other / wall:.2f} other busy cores")
            done = time.perf_counter() - start >= self.args.seconds
            if done and n >= MIN_PASSES:
                break

    # ------------------------------------------------------------ results

    def _storage(self) -> tuple[int, float]:
        self.spark.catalog.clearCache()
        self.status.drain()
        rdds = self.status.rdd_storage()
        used = sum(r["memoryUsed"] + r["diskUsed"] for r in rdds) / 2**20
        return self.spark.sparkContext._jsc.getPersistentRDDs().size(), used

    def _live_heap_mb(self) -> float:
        """JVM heap still live after a full GC."""
        jvm = self.spark._jvm
        for _ in range(2):  # the second round frees what the first finalized
            gc.collect()  # drops Python proxies that pin JVM objects
            jvm.System.gc()
        return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20

    def _rss_peak_mb(self) -> float:
        jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        with open(f"/proc/{jvm_pid}/status") as f:
            hwm_kb = int(next(line for line in f if line.startswith("VmHWM")).split()[1])
        return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024

    def results(self) -> dict:
        persisted, retained_mb = self._storage()
        rss = self._rss_peak_mb()
        ops = self.wl.ops
        if any(op not in self.latency for op in ops):
            raise RuntimeError("an operation raised in every timed pass")
        _log("op best: " + ", ".join(f"{op} {min(self.latency[op]):.2f} s" for op in ops))
        setup = [a + b for a, b in self.setups]
        if not self.traced:
            metrics = {
                "setup_s": (median(setup), "s"),
                # best of the timed passes: other load on the host and JIT
                # compilation still in progress only ever add time
                "batch_s": (min(self.pass_walls[False]), "s"),
                "query_geomean_s": (
                    stats.geomean([min(self.latency[op]) for op in ops]), "s"
                ),
                "retained_heap_mb": (self.retained_heap_mb, "MB"),
                "success_rate": (1.0 - self.failed / self.attempted, "ratio"),
            }
        else:
            metrics = _median_layers(self.layer_passes)
            metrics["session.start_s"] = (median([a for a, _ in self.setups]), "s")
            metrics["session.warmup_s"] = (median([b for _, b in self.setups]), "s")
            metrics["storage.persisted_rdds_end"] = (persisted, "count")
            metrics["storage.memory_used_mb_end"] = (retained_mb, "MB")
            metrics["memory.driver_rss_peak_mb"] = (rss, "MB")
            metrics["host.cpu_s_per_pass"] = (median([c for c, _ in self.pass_cpu]), "s")
            metrics["host.other_busy_cores"] = (
                median([o for _, o in self.pass_cpu]), "cores"
            )
            metrics["trace.overhead_ratio"] = (
                min(self.pass_walls[True]) / min(self.pass_walls[False]), "ratio"
            )
            serve = [x for op in ops if op.startswith("serve_") for x in self.latency[op]]
            metrics["serve.samples"] = (len(serve), "count")
            metrics["serve.p50_ms"] = (median(serve) * 1e3 if serve else 0.0, "ms")
            metrics["serve.recall_at_10"] = (
                median(self.recall) if self.recall else 0.0, "ratio"
            )
        return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


# ---------------------------------------------------------------- layers


def _plan_metrics(df) -> dict:
    """Catalyst phase times and Python-boundary SQL metrics of a collected
    DataFrame's query execution."""
    qe = df._jdf.queryExecution()
    out = {}
    phases = qe.tracker().phases()
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        out[phase] = summary.get().durationMs() / 1e3 if summary.isDefined() else 0.0
    sent = received = total_ms = 0
    stack = [qe.executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metrics = node.metrics()
        if metrics.contains("pythonDataSent"):
            sent += metrics.apply("pythonDataSent").value()
            received += metrics.apply("pythonDataReceived").value()
            total_ms += metrics.apply("pythonTotalTime").value()
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    out.update(py_sent=sent, py_received=received, py_s=total_ms / 1e3)
    return out


_PLAN_ATTRS = {
    "plan.analysis_s": "analysis",
    "plan.optimization_s": "optimization",
    "plan.planning_s": "planning",
    "python.bytes_to_worker": "py_sent",
    "python.bytes_from_worker": "py_received",
    "python.udf_s": "py_s",
}


def _fold_layers(bench: Bench, out: Path) -> dict[str, float]:
    """Per-layer totals of one traced pass."""
    bench.status.drain()
    jobs_by_group: dict[str, list[dict]] = {}
    for job in bench.status.jobs():
        jobs_by_group.setdefault(job.get("jobGroup"), []).append(job)
    stages = bench.status.stages()
    m: dict[str, float] = {k: 0.0 for k in LAYER_UNITS}
    serve_requests = 0
    all_stage_ids: set[int] = set()
    exec_stage_ids: set[int] = set()
    serve_stage_ids: set[int] = set()
    for sp in bench.tracer.spans:
        jobs = jobs_by_group.get(sp.attrs.get("group"), [])
        # the span's jobs are its children: its self time is driver time
        # with no job of the span running
        gap_s = trace.self_time(sp, [
            trace.Span(f"job {j['jobId']}", j["submissionTime"] / 1e3, j["completionTime"] / 1e3)
            for j in jobs
        ])
        ids = {s for j in jobs for s in j["stageIds"] if s in stages}
        all_stage_ids |= ids
        op, phase = sp.attrs["op"], sp.attrs["phase"]
        serving = op.startswith("serve_")
        if phase == "build" and not serving:
            m["registry.build_s"] += sp.duration
            m["registry.build_jobs"] += len(jobs)
            m["registry.build_job_s"] += sp.duration - gap_s
            m["registry.build_gap_s"] += gap_s
        elif phase == "build":
            serve_requests += 1
            m["similarity.serve_build_s"] += sp.duration
            m["similarity.serve_jobs_per_request"] += len(jobs)
            serve_stage_ids |= ids
        elif phase == "exec":
            exec_stage_ids |= ids
            m["exec.s"] += sp.duration
            m["exec.jobs"] += len(jobs)
            for key, attr in _PLAN_ATTRS.items():
                m[key] += sp.attrs.get(attr, 0.0)
            if serving:
                m["similarity.serve_exec_s"] += sp.duration
                m["similarity.serve_jobs_per_request"] += len(jobs)
                serve_stage_ids |= ids
        elif op in workloads.MEDALLION_STEPS:
            m[f"pipeline.{op}_s"] = sp.duration
            m["pipeline.jobs"] += len(jobs)
        else:
            m["similarity.write_s"] += sp.duration
            m["similarity.write_jobs"] += len(jobs)
    run_time_s = 0.0
    for sid in exec_stage_ids:
        st = stages[sid]
        m["exec.tasks"] += st["numCompleteTasks"]
        run_time_s += st["executorRunTime"] / 1e3
        m["exec.shuffle_read_bytes"] += st["shuffleReadBytes"]
        m["exec.shuffle_write_bytes"] += st["shuffleWriteBytes"]
        m["exec.spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        m["exec.peak_exec_mem_bytes"] = max(
            m["exec.peak_exec_mem_bytes"], st["peakExecutionMemory"]
        )
        m["exec.scheduler_delay_s"] += (
            sum(t["schedulerDelay"] for t in bench.status.tasks(st)) / 1e3
        )
    m["exec.stages"] = len(exec_stage_ids)
    m["exec.task_s_per_wall_s"] = run_time_s / m["exec.s"] if m["exec.s"] else 0.0
    for sid in all_stage_ids:
        m["sources.input_bytes"] += stages[sid]["inputBytes"]
        m["sources.input_rows"] += stages[sid]["inputRecords"]
    if serve_requests:
        m["similarity.serve_build_s"] /= serve_requests
        m["similarity.serve_exec_s"] /= serve_requests
        m["similarity.serve_jobs_per_request"] /= serve_requests
        scanned = sum(stages[s]["inputRecords"] for s in serve_stage_ids)
        m["similarity.rows_scanned_per_result"] = scanned / (
            serve_requests * workloads.SERVE_K
        )
    if out.exists():
        for dirpath, _dirs, files in os.walk(out / "medallion"):
            for f in files:
                if f.endswith(".parquet"):
                    m["pipeline.files_written"] += 1
                    m["pipeline.bytes_written"] += os.path.getsize(os.path.join(dirpath, f))
    return m


LAYER_UNITS = {
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "registry.build_job_s": "s",
    "registry.build_gap_s": "s",
    "plan.analysis_s": "s",
    "plan.optimization_s": "s",
    "plan.planning_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s_per_wall_s": "ratio",
    "exec.scheduler_delay_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.peak_exec_mem_bytes": "bytes",
    "sources.input_bytes": "bytes",
    "sources.input_rows": "count",
    "python.bytes_to_worker": "bytes",
    "python.bytes_from_worker": "bytes",
    "python.udf_s": "s",
    "pipeline.bronze_s": "s",
    "pipeline.silver_s": "s",
    "pipeline.jobs": "count",
    "pipeline.bytes_written": "bytes",
    "pipeline.files_written": "count",
    "similarity.write_s": "s",
    "similarity.write_jobs": "count",
    "similarity.serve_build_s": "s",
    "similarity.serve_exec_s": "s",
    "similarity.serve_jobs_per_request": "count",
    "similarity.rows_scanned_per_result": "count",
}


def _median_layers(passes: list[dict]) -> dict:
    return {
        k: (median([p[k] for p in passes]), unit)
        for k, unit in LAYER_UNITS.items()
    }


# ---------------------------------------------------------------- main


def _deadline(_signum, _frame):
    raise TimeoutError("run exceeded its deadline")


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)  # unwinds through the cleanup below


def main(argv=None) -> int:
    args = _parse(argv)
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _deadline)
    signal.signal(signal.SIGTERM, _terminate)
    signal.alarm(DEADLINE_S + int(args.seconds))
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    bench = None
    try:
        _host_env(work)
        bench = Bench(args, work)
        bench.setup()
        bench.measure()
        metrics = bench.results()
        result = {
            "correct": bench.failed == 0,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": metrics,
        }
    finally:
        if bench is not None:
            bench.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
        signal.alarm(0)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
