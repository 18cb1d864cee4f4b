"""Spans and counters recorded around the program's layer boundaries.

Everything here wraps the program from outside: ``Tracer.install`` swaps
``sources.tables.load_table`` (in every module that imported it) and the
derived-cache helpers of ``__spark_entry__`` for timing wrappers, and
``Tracer.remove`` puts the originals back. Spans are kept in memory; the
benchmark writes them out when it ends.
"""

from __future__ import annotations

import hashlib
import re
import sys
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

from eventlog import Span, group_for

_JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, entry, tables, spark) -> None:
        self.entry = entry
        self.tables = tables
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.qid = ""
        self.counts = {
            "sources.load_table_s": 0.0,
            "sources.load_table_calls": 0,
            "cache.derivations": 0,
            "cache.hits": 0,
            "cache.derive_s": 0.0,
        }
        self._saved: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        """Time ``name`` for the current query and tag its jobs with a group."""
        previous = self.sc.getLocalProperty(_JOB_GROUP)
        self.sc.setLocalProperty(_JOB_GROUP, group_for(self.qid, name))
        start = time.time() * 1000.0
        try:
            yield
        finally:
            self.spans.append(Span(name, self.qid, start, time.time() * 1000.0))
            self.sc.setLocalProperty(_JOB_GROUP, previous)

    def install(self) -> None:
        original = self.tables.load_table

        def load_table(*args, **kwargs):
            t0 = time.perf_counter()
            with self.span("sources.load_table"):
                df = original(*args, **kwargs)
            self.counts["sources.load_table_s"] += time.perf_counter() - t0
            self.counts["sources.load_table_calls"] += 1
            return df

        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if (name == "__spark_entry__" or name.startswith("mapreduce_golang_spark")) and getattr(
                mod, "load_table", None
            ) is original:
                self._patch(mod, "load_table", load_table)
        self._patch(self.entry, "_pair_graph", self._cached(self.entry._pair_graph, self.entry._PAIR_GRAPH_CACHE))
        self._patch(self.entry, "_cached_table", self._cached(self.entry._cached_table, self.entry._DERIVED_CACHE))

    def remove(self) -> None:
        while self._saved:
            mod, attr, value = self._saved.pop()
            setattr(mod, attr, value)

    def _patch(self, mod, attr: str, value) -> None:
        self._saved.append((mod, attr, getattr(mod, attr)))
        setattr(mod, attr, value)

    def _cached(self, fn, cache: dict):
        """Count a call that grows ``cache`` as a derivation, any other as a hit."""

        def wrapper(*args, **kwargs):
            before = len(cache)
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            if len(cache) > before:
                self.counts["cache.derivations"] += 1
                self.counts["cache.derive_s"] += time.perf_counter() - t0
            else:
                self.counts["cache.hits"] += 1
            return out

        return wrapper


class StreamCounter(StreamingQueryListener):
    """Sums micro-batch progress of every stream the session runs."""

    def __init__(self) -> None:
        self.started: set[str] = set()
        self.terminated: set[str] = set()
        self.totals = {
            "streaming.batches": 0,
            "streaming.input_rows": 0,
            "streaming.trigger_s": 0.0,
            "streaming.wal_commit_s": 0.0,
            "streaming.state_rows": 0,
        }

    def onQueryStarted(self, event) -> None:
        self.started.add(str(event.id))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        durations = p.durationMs
        self.totals["streaming.batches"] += 1
        self.totals["streaming.input_rows"] += p.numInputRows
        self.totals["streaming.trigger_s"] += durations.get("triggerExecution", 0) / 1000.0
        self.totals["streaming.wal_commit_s"] += durations.get("walCommit", 0) / 1000.0
        self.totals["streaming.state_rows"] += sum(op.numRowsUpdated for op in p.stateOperators)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated.add(str(event.id))

    def drain(self, timeout_s: float = 10.0) -> bool:
        """Wait until every started stream's termination has been delivered;
        progress events of a stream arrive before its termination."""
        deadline = time.monotonic() + timeout_s
        while not self.started <= self.terminated:
            if time.monotonic() > deadline:
                return False
            time.sleep(0.02)
        return True


_VOLATILE = [
    (re.compile(r"#\d+L?"), ""),  # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id"),
    (re.compile(r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b"), "<uuid>"),
    (re.compile(r"\[\d+\] at "), "[] at "),  # RDD ids
]


def plan_fingerprint(df, data_dir: str, tmp_dir: str) -> str:
    """sha1 of the physical plan with expression ids, plan ids and the run's
    directories stripped, so the same plan on another run hashes the same."""
    plan = df._jdf.queryExecution().executedPlan().toString().replace(data_dir, "<data>")
    plan = re.sub(re.escape(tmp_dir) + r"[^\s,\])]*", "<tmp>", plan)
    for pattern, repl in _VOLATILE:
        plan = pattern.sub(repl, plan)
    return hashlib.sha1(plan.encode()).hexdigest()[:16]
