#!/usr/bin/env python3
"""Layer-attributed benchmark over the registered queries.

Run from the repository root:

    python3 perfbench/run.py --workload mr_scan --seed 1 --seconds 10 --trace 0

One run, for one workload (``perfbench/workloads.py``) and one seed:

1. Writes the seed's inputs under ``.perfbench/run-<pid>/data``: a seeded
   key-hash subsample of the committed sf0.01 fixture (``perfbench/data.py``).
2. Sets the session up three times: ``session.get_spark`` plus one warm-up
   scan. The first set-up starts in a fresh process (program import and
   JVM launch included); the other two follow ``spark.stop()``. ``setup_s``
   is their median.
3. Runs one untimed check pass: each query's output is collected and
   compared with its ``oracle_sql()`` on DuckDB, through ``tests/oracle.py``'s
   canonical rowset. A query whose output differs counts as wrong. The pass
   also warms the JIT for the timed passes.
4. Runs timed passes over the workload, one closed-loop client at
   ``local[nproc]``, until ``--seconds`` of pass time have been measured and
   at least three passes have run. Each metric is a median over passes.
   Each query is two steps: the query function (the operator *build*) and
   ``.write.format("noop").save()`` (the *action*).

With ``--trace 0`` the run reports the end-to-end metrics. With ``--trace 1``
the same untraced passes run, and the second timed pass is a traced one, in a
session of its own: Spark's compressed event log is turned on through JVM
system properties, which the session's ``SparkConf`` loads as defaults
(``get_spark``'s own configuration is unchanged); ``load_table`` and the
derived-cache helpers are wrapped; every job is tagged with a per-query,
per-phase job group; a ``StreamingQueryListener`` counts micro-batches. The
run reports the traced pass's per-layer metrics and the tracing overhead
(traced pass wall minus the median untraced pass wall). Spans, plan
fingerprints and the per-layer numbers go to ``.perfbench/traces/``.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``. The line before it holds
the run's details, including ``failed_frac`` and ``wrong_frac`` and the
host-regime probes (``bench.py``'s spin calibration and steal ticks).
"""

from __future__ import annotations

import argparse
import gc
import glob
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from dataclasses import dataclass, field

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import data  # noqa: E402
import eventlog  # noqa: E402
import procstat  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

N_SETUPS = 5
#: the first timed pass still warms the JIT; with three or more, the median
#: pass is a warm one
MIN_PASSES = 3


@dataclass
class Pass:
    wall_s: float
    start_ms: float
    end_ms: float
    query_s: dict[str, float] = field(default_factory=dict)
    build_s: float = 0.0
    action_s: float = 0.0
    cpu_s: float = 0.0


def _median(values):
    return statistics.median(values) if values else 0.0


def _isolate(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    import tempfile

    tempfile.tempdir = None


def _import_program():
    """The program under test, imported from the checkout this file sits in."""
    sys.path.insert(0, ROOT)
    entry_path = os.path.join(ROOT, "__spark_entry__.py")
    if not os.path.isfile(entry_path):
        raise ImportError(f"no __spark_entry__.py next to {HERE}")
    import __spark_entry__ as entry
    from mapreduce_golang_spark.session import get_spark
    from mapreduce_golang_spark.sources import tables

    spec = importlib.util.spec_from_file_location("perfbench_oracle", os.path.join(ROOT, "tests", "oracle.py"))
    oracle = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oracle)
    return entry, get_spark, tables, oracle


class Run:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = work
        self.data_dir = os.path.join(work, "data")
        self.log_dir = os.path.join(work, "eventlog")
        os.makedirs(self.log_dir)
        self.rows = data.materialize(args.seed, self.data_dir)
        self.attempted = 0
        self.failed = 0
        self.failures: dict[str, str] = {}
        self.wrong: list[str] = []
        self.checked = 0
        self.fingerprints: dict[str, str] = {}
        self.get_spark_s: list[float] = []

    # -- session -------------------------------------------------------
    def setup(self, event_log: bool = False):
        """get_spark() plus one warm-up scan; returns the session."""
        if event_log:
            self._event_log(True)
        t0 = time.perf_counter()
        if not hasattr(self, "entry"):
            self.entry, self.get_spark, self.tables, self.oracle = _import_program()
        t1 = time.perf_counter()
        spark = self.get_spark(app_name="perfbench")
        t2 = time.perf_counter()
        spark.sparkContext.setLogLevel("FATAL")
        self.tables.load_table(spark, self.data_dir, "lineitem").write.format("noop").mode("overwrite").save()
        self.get_spark_s.append(t2 - t1)
        if event_log:
            self._event_log(False)
        return spark, time.perf_counter() - t0

    def _event_log(self, on: bool) -> None:
        from pyspark import SparkContext

        props = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.log_dir,
            "spark.eventLog.compress": "true",
            "spark.eventLog.rolling.enabled": "false",
        }
        system = SparkContext._jvm.java.lang.System
        for key, value in props.items():
            if on:
                system.setProperty(key, value)
            else:
                system.clearProperty(key)

    # -- passes --------------------------------------------------------
    def query_pass(self, spark, label: str, tracer=None, check=None) -> Pass:
        queries = self.entry.queries()
        if self.wl.clear == "pass":
            self.entry.reset_derived_caches()
        gc.collect()
        cpu0 = procstat.tree_cpu_s(os.getpid())
        p = Pass(0.0, time.time() * 1000.0, 0.0)
        t_pass = time.perf_counter()
        for i, name in enumerate(self.wl.queries):
            if self.wl.clear == "query":
                self.entry.reset_derived_caches()
            self.attempted += 1
            if tracer is not None:
                tracer.qid = f"{label}.{i}"
            span = tracer.span if tracer is not None else (lambda _name: nullcontext())
            t0 = time.perf_counter()
            try:
                with span("operators.build"):
                    df = queries[name](spark, self.data_dir)
                t1 = time.perf_counter()
                if check is not None:
                    check(name, df)
                else:
                    with span("execute.action"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # a failing query is counted; the workload goes on
                self.failed += 1
                self.failures.setdefault(name, f"{label}: {type(e).__name__}: {e}"[:300])
                continue
            t2 = time.perf_counter()
            p.query_s[name] = t2 - t0
            p.build_s += t1 - t0
            p.action_s += t2 - t1
        p.wall_s = time.perf_counter() - t_pass
        p.end_ms = time.time() * 1000.0
        p.cpu_s = procstat.tree_cpu_s(os.getpid()) - cpu0
        return p

    def check_pass(self, spark) -> None:
        """Untimed: compare every query's output with its DuckDB oracle. The
        oracle queries run in a thread alongside the Spark pass."""
        from tracing import plan_fingerprint

        oracle_sql = self.entry.oracle_sql()
        with ThreadPoolExecutor(max_workers=1) as pool:
            oracle_rows = pool.submit(self._oracle_rowsets, oracle_sql)
            got: dict[str, tuple] = {}

            def check(name, df):
                if self.args.trace:
                    self.fingerprints[name] = plan_fingerprint(df, self.data_dir, self.work)
                got[name] = self.oracle._rowset(df.toPandas())

            self.query_pass(spark, "check", check=check)
            want = oracle_rows.result()
        self.checked = len(got)
        self.wrong = [name for name, rows in got.items() if rows != want[name]]

    def _oracle_rowsets(self, oracle_sql: dict[str, str]) -> dict[str, tuple]:
        con = self.oracle.duckdb_connect(self.data_dir)
        try:
            con.execute(f"SET threads = {os.environ['SPARK_GRAFT_CPUS']}")
            con.execute(f"SET temp_directory = '{os.path.join(self.work, 'duckdb')}'")
            return {n: self.oracle._rowset(con.execute(oracle_sql[n]).fetchdf()) for n in self.wl.queries}
        finally:
            con.close()

    def traced_pass(self, label: str) -> tuple[Pass, dict, list]:
        """One pass in a fresh session with the event log, spans and counters on."""
        from tracing import StreamCounter, Tracer

        spark, _ = self.setup(event_log=True)
        tracer = Tracer(self.entry, self.tables, spark)
        listener = StreamCounter()
        spark.streams.addListener(listener)
        tracer.install()
        try:
            p = self.query_pass(spark, label, tracer=tracer)
        finally:
            tracer.remove()
        if not listener.drain():
            print("warning: stream listener did not drain", file=sys.stderr)
        spark.streams.removeListener(listener)
        app_id = spark.sparkContext.applicationId
        spark.stop()
        from pyspark import SparkContext

        (path,) = glob.glob(os.path.join(self.log_dir, f"{app_id}*"))
        log = eventlog.parse(eventlog.read_compressed(SparkContext._jvm, "file://" + path))
        os.remove(path)
        nums = eventlog.layer_metrics(log, tracer.spans, p.start_ms, p.end_ms)
        nums.update(tracer.counts)
        nums.update(listener.totals)
        nums["operators.build_s"] = p.build_s
        nums["operators.build_share"] = p.build_s / p.wall_s
        nums["execute.action_s"] = p.action_s
        return p, nums, tracer.spans


def _shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for every process they started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    children = [pid for pid in procstat.tree_pids(os.getpid()) if pid != os.getpid()]
    if spark is not None:
        spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    procstat.wait_gone(children, timeout_s=15)


def _layer_units(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_share", "_frac")) or name == "spark.tasks_per_stage":
        return "ratio"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import bench  # the host-regime probes of the repository's bench harness

    spin_before, ticks_before = bench._spin_calib(), bench._cpu_ticks()
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    spark = None
    run = None
    try:
        run = Run(args, work)
        phases = {}
        setups = []
        for i in range(N_SETUPS):
            if i:
                spark.stop()
            spark, took = run.setup()
            setups.append(took)
        t_check = time.perf_counter()
        run.check_pass(spark)
        phases["check"] = time.perf_counter() - t_check

        traced: dict | None = None
        traced_wall = 0.0
        spans: list = []
        untraced: list[Pass] = []
        measured = 0.0
        t_measure = time.perf_counter()
        while measured < args.seconds or len(untraced) < MIN_PASSES or (args.trace and traced is None):
            # with tracing, the one traced pass runs second, in a session of
            # its own, so the untraced passes lie on both sides of it
            if args.trace and len(untraced) == 1 and traced is None:
                spark.stop()
                p, traced, spans = run.traced_pass("t0")
                traced_wall = p.wall_s
                spark, _ = run.setup()
            else:
                p = run.query_pass(spark, f"u{len(untraced)}")
                untraced.append(p)
            measured += p.wall_s
        peak_rss_mb = procstat.tree_peak_rss_mb(os.getpid())
        phases["measure"] = time.perf_counter() - t_measure
        spin_after, ticks_after = bench._spin_calib(), bench._cpu_ticks()
    finally:
        if run is not None and hasattr(run, "entry"):
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    steal_frac = 0.0
    if ticks_before and ticks_after:
        steal_frac = (ticks_after[0] - ticks_before[0]) / max(1, ticks_after[1] - ticks_before[1])
    query_times = [t for p in untraced for t in p.query_s.values()]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "master": f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
        "rows": run.rows,
        "untraced_pass_walls_s": [p.wall_s for p in untraced],
        "setup_samples_s": setups,
        "phases_s": phases | {"total": time.perf_counter() - T_START},
        "failed_frac": {"value": run.failed / max(1, run.attempted), "unit": "ratio"},
        "wrong_frac": {"value": len(run.wrong) / max(1, run.checked), "unit": "ratio"},
        "failures": run.failures,
        "wrong": run.wrong,
        "build_share": sum(p.build_s for p in untraced) / sum(p.wall_s for p in untraced),
        "query_median_s": {
            n: _median([p.query_s[n] for p in untraced if n in p.query_s]) for n in run.wl.queries
        },
        "host": {"spin_calib_s": [spin_before, spin_after], "steal_frac": steal_frac},
    }
    if args.trace:
        layers = traced | {
            "session.get_spark_s": _median(run.get_spark_s),
            "host.spin_s": _median([spin_before, spin_after]),
            "host.steal_frac": steal_frac,
            "trace.overhead_s": traced_wall - _median([p.wall_s for p in untraced]),
        }
        metrics = {k: {"value": v, "unit": _layer_units(k)} for k, v in sorted(layers.items())}
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_file = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(trace_file, "w") as f:
            json.dump(
                {
                    "detail": detail,
                    "plan_fingerprints": run.fingerprints,
                    "layers": layers,
                    "spans": [s.__dict__ for s in spans],
                },
                f,
                indent=1,
            )
        detail["trace_file"] = os.path.relpath(trace_file, ROOT)
    else:
        metrics = {
            "setup_s": {"value": _median(setups), "unit": "s"},
            "wall_s": {"value": _median([p.wall_s for p in untraced]), "unit": "s"},
            "query_p50_s": {"value": _median(query_times), "unit": "s"},
            "cpu_s": {"value": _median([p.cpu_s for p in untraced]), "unit": "s"},
            "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        }
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "correct": not run.wrong and not run.failed and run.checked == len(run.wl.queries),
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
