#!/usr/bin/env python3
"""Benchmark for the occupation-wage engine: one workload per command.

    python3 perfbench/run.py --workload {refday,llm_ops} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout.  One process, one client, closed loop:
each operation starts when the previous one ends, on ``local[nproc]``.

1. Inputs are generated first and are not timed (``inputs.py``): the
   reference-day page and workbook from ``--seed``; the registry tables
   from a fixed seed, once per checkout, under ``.perfbench/``.
2. Set-up runs three times and ``setup_s`` is the median: a fresh
   SparkContext through ``session.get_spark`` (the first one also starts
   the JVM), the input layout, and one small warm-up job.
3. The first pass runs every operation once, cold: empty codegen caches
   and empty plan-time memos (``evaluation._SMALL_MEMO``,
   ``stats._FG_MEMO`` are process-global, so every later pass is
   memo-warm).
4. Steady passes follow, each in a seeded order: a fixed number per
   workload, and more only while the steady phase is shorter than
   ``--seconds``.  On ``refday`` the first steady pass re-runs the
   first day; later ones continue with new days.
5. Every output is checked; an operation that raises or returns a wrong
   result counts in ``failed``.

The last stdout line is one JSON object with the metrics that
``BENCHMARK.json`` names: its ``end_to_end`` list with ``--trace 0``, its
``per_layer`` list with ``--trace 1``.  The traced run enables Spark's
event log, folds it onto the benchmark's spans (``spans.py``) and writes
the per-operation ledger to ``.perfbench/ledger/``.  Its ``trace.pass_s``
over the untraced run's ``pass_s`` on the same seed is the tracing
overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench")
PACKAGE = "occupation_wage_etl_spark"
SETUP_CYCLES = 3
WORKLOADS = ("refday", "llm_ops")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def session_conf(run_dir: str, event_log: bool) -> dict[str, str]:
    """Benchmark-owned settings: every file Spark writes stays in
    ``run_dir`` (``-XX:-UsePerfData`` stops the JVM's own file in /tmp);
    the event log is on only for the traced context."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}/tmp "
                                         f"-Dderby.system.home={run_dir} -XX:-UsePerfData",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def warm_up(spark) -> None:
    """One small scan→shuffle→aggregate job on a generated range, so the
    first pass does not also pay the session's first job."""
    from pyspark.sql import functions as F

    (spark.range(4000).groupBy((F.col("id") % 25).alias("k"))
     .agg(F.count(F.lit(1)).alias("n"))
     .write.mode("overwrite").format("noop").save())


def jvm_children(pid: int) -> list[int]:
    kids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        kids.append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    return kids


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")


def stop_jvm(spark) -> None:
    """Stop the SparkContext, then the JVM and its Python workers, and
    wait until each has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = jvm_children(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    """One run: inputs, set-up, first and steady passes, and the report."""

    def __init__(self, args, nproc: int, run_dir: str):
        import inputs
        import workloads as W
        from spans import Tracer

        self.args, self.nproc, self.run_dir = args, nproc, run_dir
        self.rng = random.Random(args.seed)
        self.tr = Tracer(args.workload, f"{args.workload}-{args.seed}-{os.getpid()}")
        if args.workload == "refday":
            day = inputs.RefDay(args.seed)
            xlsx = os.path.join(run_dir, "skills.xlsx")
            inputs.write_xlsx(xlsx, inputs.SKILLS_HEADERS, day.skills_rows())
            self.wl = W.RefDay(day, xlsx, run_dir, inputs.first_day(args.seed))
        else:
            tables = os.path.join(SCRATCH, f"tables-sf{inputs.SF}-f{nproc}")
            if not os.path.isdir(tables):
                tmp = f"{tables}.tmp-{os.getpid()}"
                inputs.write_registry_tables(tmp, nproc)
                os.rename(tmp, tables)
            self.wl = W.Registry(W.LLM_OPS, tables)
        self.spark = None
        self.cycles: list[dict] = []

    # ------------------------------------------------------------ set-up
    def new_context(self, event_log: bool) -> float:
        from occupation_wage_etl_spark.session import get_spark

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", master=f"local[{self.nproc}]",
                               extra_conf=session_conf(self.run_dir, event_log))
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tr.sc = self.spark.sparkContext
        return time.perf_counter() - t0

    def set_up(self) -> None:
        for _ in range(SETUP_CYCLES):
            start = self.new_context(self.args.trace == 1)
            t0 = time.perf_counter()
            self.wl.layout(self.spark)
            t1 = time.perf_counter()
            warm_up(self.spark)
            t2 = time.perf_counter()
            self.cycles.append({"start_s": start, "layout_s": t1 - t0,
                                "warmup_s": t2 - t1, "setup_s": start + t2 - t0})

    # ------------------------------------------------------------ passes
    def one_pass(self, name: str, idx: int) -> dict:
        with self.tr.span("pass", name) as span:
            if self.args.workload == "refday":
                ops = self.wl.run_pass(self.spark, self.tr, self.wl.date_for(idx),
                                       self.rng.random() < 0.5)
            else:
                ops = self.wl.run_pass(self.spark, self.tr,
                                       self.rng.sample(self.wl.queries, len(self.wl.queries)))
        secs = sum(o.get("secs", 0.0) for o in ops)
        print(f"perfbench: pass {name} {secs:.3f} s: " + ", ".join(
            f"{o['op']} {o.get('secs', 0.0):.3f}" for o in ops), file=sys.stderr, flush=True)
        return {"name": name, "span": span, "ops": ops, "secs": secs}

    def steady(self, prefix: str) -> list[dict]:
        """The workload's fixed number of steady passes, and more only
        while the steady phase is shorter than ``--seconds``.  A fixed
        count keeps every run at the same point of the JVM's warm-up."""
        out, t0 = [], time.perf_counter()
        while (len(out) < self.wl.n_steady
               or time.perf_counter() - t0 < self.args.seconds):
            out.append(self.one_pass(f"{prefix}{len(out) + 1}", len(out) + 1))
        return out

    def run(self) -> dict:
        try:
            self.measure()
        finally:
            t0 = time.perf_counter()
            if self.spark is not None:
                stop_jvm(self.spark)
            self.stop_s = time.perf_counter() - t0
        return self.report()

    def measure(self) -> None:
        with self.tr.span("run", self.tr.run_id):
            self.set_up()
            self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle
                               .current().pid())
            self.first = self.one_pass("p0", 0)
            self.steady_passes = self.steady("p")
            self.app_id = self.spark.sparkContext.applicationId
            self.rss_mb = vm_hwm_mb(self.jvm_pid)

    # ------------------------------------------------------------ metrics
    def counts(self):
        ops = [o for p in [self.first, *self.steady_passes] for o in p["ops"]]
        return len(ops), sum(not o["ok"] for o in ops)

    def steady_ops(self) -> list[float]:
        return [o["secs"] for p in self.steady_passes for o in p["ops"] if "secs" in o]

    def end_to_end(self) -> dict:
        steady = self.steady_ops()
        return {
            "setup_s": (median([c["setup_s"] for c in self.cycles]), "s"),
            "first_pass_s": (self.first["secs"], "s"),
            "pass_s": (median([p["secs"] for p in self.steady_passes]), "s"),
            "op_p50_s": (median(steady), "s"),
        }

    def report(self) -> dict:
        import ledger

        attempted, failed = self.counts()
        e2e = self.end_to_end()
        for name, (v, unit) in e2e.items():
            print(f"{name}: {v:.4f} {unit}")
        steady = self.steady_ops()
        print(f"op samples: {len(steady)} steady operations in "
              f"{len(self.steady_passes)} passes")
        if len(steady) >= 100:
            print(f"op_p90_s: {statistics.quantiles(steady, n=10)[-1]:.4f} s")
        else:
            print(f"op_p90_s: not reported ({len(steady)} samples < 100)")
        print(f"fail_rate: {failed / attempted:.4f} fraction ({failed}/{attempted})")
        print(f"jvm_peak_rss_mb: {self.rss_mb:.1f} MB")
        if self.args.workload == "refday":
            for name, (v, unit) in ledger.refday_rates(self.steady_passes).items():
                print(f"{name}: {v:.4g} {unit}")
        with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
            spec = json.load(f)
        if self.args.trace:
            values = ledger.per_layer(
                self, os.path.join(self.run_dir, "eventlog", self.app_id),
                os.path.join(SCRATCH, "ledger",
                             f"{self.args.workload}-seed{self.args.seed}.json"))
            names = [m["name"] for m in spec["per_layer"]]
        else:
            values = e2e
            names = [m["name"] for m in spec["end_to_end"]]
        metrics = {k: {"value": values[k][0], "unit": values[k][1]} for k in names}
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package next to {HERE}; run from a checkout",
              file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(SCRATCH, f"run-{os.getpid()}")
    for sub in ("tmp", "local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    sys.path.insert(0, ROOT)
    t0 = time.perf_counter()
    try:
        bench = Bench(args, nproc, run_dir)
        t1 = time.perf_counter()
        result = bench.run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(f"perfbench: inputs {t1 - t0:.1f} s, run {time.perf_counter() - t1:.1f} s, "
          f"set-up cycles {[round(c['setup_s'], 2) for c in bench.cycles]} s, "
          f"JVM stop {bench.stop_s:.1f} s", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
