#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload cpc_release --seed 1 --seconds 6 --trace 0

One process, one ``local[N]`` Spark app (N = min(4, cores)).  A run:

1. imports the engine and starts its session (``session.get_spark``);
2. generates the seeded inputs ``SETUP_REPEATS`` times (``setup_s``
   counts the median of these), then computes their expected answers;
3. runs the cold pass, then ``WARMUP`` discarded passes, then timed
   passes until ``--seconds`` have passed (at least ``MIN_TIMED``).

Every call's answer is checked; a wrong answer or an error counts as a
failed operation and its pass is not a sample.  ``--trace 1`` makes
the timed passes alternate between untraced ones and ones with a Spark
event log attached, and reports the per-layer metrics (from the traced
passes) instead of the end-to-end ones.  Every run prints the host's
CPU steal over the run to stderr.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import procfs  # noqa: E402

CORES = min(4, len(os.sched_getaffinity(0)))
SETUP_REPEATS = 3
WARMUP = 2  # discarded warm passes: C2 compiles most of the hot code in them
MIN_TIMED = 2


class Timer:
    """Wall, process-tree CPU and Python-worker CPU of program calls."""

    def __init__(self) -> None:
        self.rss = procfs.PeakRss()

    def __call__(self, fn):
        pids = procfs.tree()
        workers = procfs.py_worker_pids(pids)
        c0, w0 = procfs.cpu_seconds(pids), procfs.cpu_seconds(workers)
        t0 = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
        pids = procfs.tree()
        workers = sorted(set(workers) | set(procfs.py_worker_pids(pids)))
        cpu = procfs.cpu_seconds(pids) - c0
        py_cpu = procfs.cpu_seconds(workers) - w0
        self.rss.sample(pids)
        return out, wall, cpu, py_cpu


# ---------------------------------------------------------------------------
# workloads: generate() writes the inputs, expect() their answers, ops()
# lists one pass as (name, call, check) and layers() adds the traced
# metrics only this workload has
# ---------------------------------------------------------------------------


class CpcRelease:
    def __init__(self, work: Path) -> None:
        import cpc_release

        self.mod = cpc_release
        self.data, self.out = work / "release", work / "out"

    def generate(self, seed: int) -> None:
        self.mod.generate(self.data, seed)

    def expect(self) -> None:
        self.want = self.mod.expected(self.data)

    def ops(self, spark):
        def run():
            return self.mod.run_pass(self.data, self.out)

        def check(report):
            return self.mod.check_pass(self.out, report, self.want)

        return [("cli.run", run, check)]

    def layers(self, r, per_pass) -> dict:
        r.spark.sparkContext.setJobGroup("layers", "layers")
        selfs = self.mod.layer_pass(r.spark, self.data, self.out.parent / "layers",
                                    lambda fn: r.timer(fn)[1])
        return {k: (v, "s") for k, v in selfs.items()} | {
            "cli.run_s": (per_pass(lambda p: p.wall), "s"),
            "sources.zip_scans": (
                per_pass(lambda p: sum(c.zip_scans for c in p.calls)), "count"
            ),
        }


class CorpusQueries:
    def __init__(self, work: Path) -> None:
        import corpus_queries

        self.mod = corpus_queries
        self.data = work / "tables"

    def generate(self, seed: int) -> None:
        self.mod.generate(self.data, seed)

    def expect(self) -> None:
        self.want = self.mod.expected(self.data)

    def ops(self, spark, names=None, data=None, want=None):
        from etl_cpc_schema_spark.queries import queries

        registry = queries()
        data, want = data or self.data, want or self.want

        def op(name):
            def run():
                df = registry[name](spark, str(data))
                return df.columns, [tuple(r) for r in df.collect()]

            def check(result):
                return self.mod.answer_hash(*result) == want[name]

            return (name, run, check)

        return [op(n) for n in names or self.mod.QUERIES]

    def layers(self, r, per_pass) -> dict:
        out = {}
        for q in self.mod.QUERIES:
            def mine(p):  # per_pass calls it at once, inside this iteration
                return [c for c in p.calls if c.name == f"{p.index}:{q}"]

            out[f"queries.{q}_s"] = (per_pass(lambda p: p.ops[q]), "s")
            out[f"queries.{q}.stages"] = (
                per_pass(lambda p: sum(c.stages for c in mine(p))), "count"
            )
            out[f"queries.{q}.shuffle_mb"] = (
                per_pass(lambda p: sum(c.shuffle_write_b for c in mine(p)) / 2**20), "MB"
            )
        return out | self.index_pass(r)

    def index_pass(self, r) -> dict:
        """One call of each index-writing query, with the write path and
        the streaming phases traced; over a fresh copy of the tables, so
        the process-cached index builds run again."""
        from index_trace import IndexTrace

        names = self.mod.INDEX_QUERIES
        want = self.mod.expected(self.data, names)
        fresh = self.data.parent / "tables-index"
        shutil.copytree(self.data, fresh)
        with IndexTrace(r.spark) as trace:
            p = r.extra_pass(self.ops(r.spark, names, fresh, want))
        return {f"index_pass.{q}_s": (p.ops[q], "s") for q in names} | trace.metrics()


WORKLOADS = {"cpc_release": CpcRelease, "corpus_queries": CorpusQueries}


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def spark_session(work: Path):
    from etl_cpc_schema_spark.session import get_spark

    # the GC log only records collections; it changes no JVM setting
    jvm_opts = (
        f"-Xlog:gc:file={work / 'gc.log'} "
        f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work / 'derby'}"
    )
    return get_spark(app_name="perfbench", cpus=CORES, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": jvm_opts,
    })


class EventLog:
    """A Spark event log attached for one pass only, so traced and
    untraced passes run in the same process and can be compared."""

    def __init__(self, spark, log_dir: Path, name: str) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        conf = self.sc._jsc.sc().conf().clone().set("spark.eventLog.compress", "false")
        self.listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            name, jvm.scala.Option.apply(None), jvm.java.net.URI(log_dir.as_uri()),
            conf, self.sc._jsc.hadoopConfiguration(),
        )

    def __enter__(self):
        self.listener.start()
        self.sc._jsc.sc().addSparkListener(self.listener)
        return self

    def __exit__(self, *exc) -> None:
        self.sc._jsc.sc().removeSparkListener(self.listener)
        self.listener.stop()  # flushes and closes the log file


def shutdown(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = procfs.tree()[1:]
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in children if Path(f"/proc/{p}").exists()]
        if not alive:
            return
        time.sleep(0.1)
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


@dataclass
class Pass:
    index: int
    traced: bool = False
    ok: bool = True
    wall: float = 0.0  # seconds inside program calls
    cpu: float = 0.0  # core-seconds of the process tree in those calls
    py_cpu: float = 0.0  # the Python workers' share of ``cpu``
    ops: dict = field(default_factory=dict)  # op name -> wall seconds
    calls: list = field(default_factory=list)  # eventlog.Call per op


class Runner:
    def __init__(self, workload, spark, log_dir: Path | None) -> None:
        self.workload, self.spark, self.log_dir = workload, spark, log_dir
        self.timer = Timer()
        self.ops = workload.ops(spark)
        self.attempted = self.failed = 0
        self.passes: list[Pass] = []

    def one_pass(self, traced: bool) -> None:
        p = Pass(len(self.passes), traced)
        if traced:
            with EventLog(self.spark, self.log_dir, f"pass{p.index}"):
                self._ops(p, self.ops)
        else:
            self._ops(p, self.ops)
        ops = " ".join(f"{k}={v:.3f}" for k, v in p.ops.items())
        print(f"pass {p.index}: {p.wall:.3f}s cpu {p.cpu:.2f}s traced={traced} "
              f"ok={p.ok} | {ops}", file=sys.stderr)
        self.passes.append(p)

    def extra_pass(self, ops) -> Pass:
        """One pass of other calls, counted and checked like the timed
        ones but kept out of every end-to-end metric."""
        p = Pass(len(self.passes))
        self._ops(p, ops)
        return p

    def _ops(self, p: Pass, ops) -> None:
        from eventlog import Call

        sc = self.spark.sparkContext
        for name, run, check in ops:
            self.attempted += 1
            group = f"{p.index}:{name}"
            sc.setJobGroup(group, group)
            t0 = time.time() * 1000
            try:
                result, wall, cpu, py_cpu = self.timer(run)
                good = check(result)
            except Exception:  # a failed call is counted, not fatal
                traceback.print_exc()
                wall = cpu = py_cpu = 0.0
                good = False
            p.calls.append(Call(group, t0, time.time() * 1000))
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.failed += not good
            p.ok &= good
            p.wall, p.cpu, p.py_cpu = p.wall + wall, p.cpu + cpu, p.py_cpu + py_cpu
            p.ops[name] = wall

    def run(self, seconds: float) -> None:
        """Cold pass, warm-up passes, then timed passes for ``seconds``;
        a traced run alternates untraced and traced timed passes."""
        for _ in range(1 + WARMUP):
            self.one_pass(traced=False)
        # untraced, traced, traced, untraced, ...: under a steady warm-up
        # drift both kinds see the same mean pass index
        kinds = (False, True, True, False) if self.log_dir else (False,)
        started = time.perf_counter()
        timed = 0  # wrong passes count here too, or a broken program never ends
        while time.perf_counter() - started < seconds or timed < MIN_TIMED * len(set(kinds)):
            self.one_pass(traced=kinds[timed % len(kinds)])
            timed += 1

    def timed(self, traced: bool) -> list[Pass]:
        return [p for p in self.passes[1 + WARMUP:]
                if p.ok and p.traced == traced]


def peak_heap_mb(gc_log: Path) -> float:
    """The largest JVM heap occupancy right after a collection, from the
    GC log: the peak of what the program keeps live, whatever size G1
    has grown the heap to."""
    scale = {"K": 1 / 1024, "M": 1, "G": 1024}
    after = re.findall(r"\d+[KMG]->(\d+)([KMG])\(", gc_log.read_text())
    return max((float(n) * scale[u] for n, u in after), default=0.0)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def end_to_end(setup_s: float, r: Runner) -> dict:
    cold, timed = r.passes[0], r.timed(False)
    return {
        "setup_s": (setup_s, "s"),
        "cold_s": (cold.wall if cold.ok else 0.0, "s"),
        "pass_s": (median(p.wall for p in timed), "s"),
        "cpu_s": (median(p.cpu for p in timed), "core-s"),
    }


def per_layer(r: Runner, steal_pct: float, work: Path) -> dict:
    import eventlog

    traced = r.timed(True)
    eventlog.rollup(r.log_dir, [c for p in traced for c in p.calls])

    def per_pass(fn) -> float:
        return median(fn(p) for p in traced)

    def total(attr: str, scale: float = 1.0):
        return per_pass(lambda p: sum(getattr(c, attr) for c in p.calls) / scale)

    wall = per_pass(lambda p: p.wall)
    base = median(p.wall for p in r.timed(False))
    run_s = total("run_ms", 1000)
    layers = {
        "spark.jobs": (per_pass(lambda p: sum(len(c.jobs) for c in p.calls)), "count"),
        "spark.stages": (total("stages"), "count"),
        "spark.tasks": (total("tasks"), "count"),
        "spark.single_task_stages": (total("single_task_stages"), "count"),
        "spark.executor_run_s": (run_s, "s"),
        "spark.gc_s": (total("gc_ms", 1000), "s"),
        "spark.shuffle_write_mb": (total("shuffle_write_b", 2**20), "MB"),
        "spark.spill_mb": (total("spill_b", 2**20), "MB"),
        "spark.core_util": (run_s / (wall * CORES) if wall else 0.0, "ratio"),
        "spark.driver_gap_s": (
            per_pass(lambda p: sum(c.wall_s - c.job_union_s() for c in p.calls)), "s"
        ),
        "py_workers.cpu_s": (per_pass(lambda p: p.py_cpu), "core-s"),
        "host.steal_pct": (steal_pct, "%"),
        "tree.peak_rss_mb": (r.timer.rss.mb(), "MB"),
        "jvm.peak_heap_mb": (peak_heap_mb(work / "gc.log"), "MB"),
        "trace.overhead_pct": (100 * (wall / base - 1) if wall and base else 0.0, "%"),
    }
    layers |= r.workload.layers(r, per_pass)
    # layers this workload leaves idle read 0
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    for m in bench["per_layer"]:
        layers.setdefault(m["name"], (0.0, m["unit"]))
    return layers


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    result_out, sys.stdout = sys.stdout, sys.stderr  # program chatter -> stderr

    import etl_cpc_schema_spark  # noqa: F401  (fails fast outside a checkout)

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    log_dir = work / "eventlog" if args.trace else None
    steal0 = procfs.host_cpu()
    spark = None
    try:
        workload = WORKLOADS[args.workload](work)
        spark = spark_session(work)
        once = procfs.process_age()
        gen = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            workload.generate(args.seed)
            gen.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        workload.expect()
        setup_s = once + median(gen) + time.perf_counter() - t0
        if log_dir:
            log_dir.mkdir()
        r = Runner(workload, spark, log_dir)
        r.run(args.seconds)
        steal1 = procfs.host_cpu()
        steal_pct = 100 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        print(f"host.steal_pct {steal_pct:.3f}", file=sys.stderr)
        if log_dir:
            metrics = per_layer(r, steal_pct, work)
        else:
            metrics = end_to_end(setup_s, r)
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }), file=result_out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
