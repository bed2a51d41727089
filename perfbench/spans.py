"""Spans, the timing catalog, and host telemetry for the benchmark.

Spans are recorded only from the benchmark's side of the package's
public surface: around the calls the benchmark makes, inside a
``SqliteIndexCatalog`` subclass handed to the table through
``catalog=``, and around the two public functions the table resolves at
call time (``sql_predicate.parse_predicate`` and
``PruningRewriter.rewrite``, wrapped while the run lasts). No file of
the package is changed.
"""

from __future__ import annotations

import contextlib
import functools
import os
import threading
import time
from typing import Dict, List, Optional

from datafusion_async_parquet_index_spark.plans import sql_predicate
from datafusion_async_parquet_index_spark.plans.pruning import PruningRewriter
from datafusion_async_parquet_index_spark.sources.catalog import (
    SqliteIndexCatalog)


class Tracer:
    """In-memory spans: name, start, end, parent span, op id, extras.
    While disabled, ``span`` records nothing."""

    def __init__(self):
        self.enabled = False
        self.op: Optional[int] = None
        self.phase = ""
        self.spans: List[dict] = []
        self._stack: List[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **extra):
        if not self.enabled:
            yield {}
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "op": self.op, "phase": self.phase, **extra}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn, measure=None):
        """``fn`` inside a span; ``measure(result)`` adds size fields."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if measure is not None and self.enabled:
                    rec.update(measure(out))
                return out
        return traced


def _rgs(out) -> dict:
    return {"rgs": sum(len(rgs) for _, rgs in out)}


def _entries(out) -> dict:
    return {"entries": len(out)}


class TimedCatalog(SqliteIndexCatalog):
    """The SQLite catalog with a span around every lookup the planner
    and the writers make."""

    def __init__(self, tracer: Tracer, *args, **kwargs):
        super().__init__(*args, **kwargs)
        t = tracer
        self.get_files = t.wrap("catalog.get_files", self.get_files, _rgs)
        self.all_files = t.wrap("catalog.all_files", self.all_files)
        self.get_blooms = t.wrap("catalog.get_blooms", self.get_blooms,
                                 _entries)
        self.get_dicts = t.wrap("catalog.get_dicts", self.get_dicts,
                                _entries)
        self.get_page_stats = t.wrap("catalog.get_page_stats",
                                     self.get_page_stats, _entries)
        self.upsert_files = t.wrap("catalog.upsert_files", self.upsert_files)
        self.upsert_dv = t.wrap("catalog.upsert_dv", self.upsert_dv)
        self.get_dv_ranges = t.wrap("catalog.get_dv_ranges",
                                    self.get_dv_ranges)


@contextlib.contextmanager
def instrumented(tracer: Tracer):
    """Spans around the parser and the pruning rewriter while active."""
    parse, rewrite = sql_predicate.parse_predicate, PruningRewriter.rewrite
    sql_predicate.parse_predicate = tracer.wrap("sql_predicate.parse", parse)
    PruningRewriter.rewrite = tracer.wrap("pruning.rewrite", rewrite)
    try:
        yield
    finally:
        sql_predicate.parse_predicate = parse
        PruningRewriter.rewrite = rewrite


def trace_table(tracer: Tracer, table) -> None:
    """A span around ``table.plan_scan``, also for the table's own
    calls from ``query`` and the DML verbs, recording the decision."""
    def decision(d) -> dict:
        kept = sum(sum(e - s for s, e in rr)
                   for rgs in d.row_ranges.values() for rr in rgs.values())
        return {"scanned": d.row_groups_scanned,
                "total": d.total_row_groups,
                "page_skipped": d.page_rows_skipped,
                "page_kept": kept,
                "page_full_rgs": d.row_groups_scanned - sum(
                    len(v) for v in d.row_ranges.values())}
    table.plan_scan = tracer.wrap("table.plan_scan", table.plan_scan,
                                  decision)


def spark_counts(sc, group: str) -> Dict[str, int]:
    """Jobs, stages and tasks Spark ran under a job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in list(info.stageIds):
            stages += 1
            si = st.getStageInfo(s)
            tasks += si.numTasks if si is not None else 0
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


class HostSampler:
    """Steal share, busy share of all cores and 1-minute load, sampled
    every half second on a daemon thread from /proc/stat and the load
    average; ``series`` keeps (time, steal %, busy %) per sample."""

    def __init__(self, interval: float = 0.5):
        self._interval = interval
        self._stop = threading.Event()
        self.steal: List[float] = []
        self.busy: List[float] = []
        self.load1: List[float] = []
        self.series: List[tuple] = []
        self._prev = self._ticks()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    @staticmethod
    def _ticks():
        """(all ticks, steal ticks, idle + iowait ticks) since boot."""
        try:
            with open("/proc/stat") as fh:
                vals = [int(x) for x in fh.readline().split()[1:]]
            return sum(vals), vals[7], vals[3] + vals[4]
        except (OSError, ValueError, IndexError):
            return None

    def _run(self):
        while not self._stop.wait(self._interval):
            cur = self._ticks()
            if cur and self._prev and cur[0] > self._prev[0]:
                d = [c - p for c, p in zip(cur, self._prev)]
                steal = 100.0 * d[1] / d[0]
                busy = 100.0 * (d[0] - d[2]) / d[0]
                self.steal.append(steal)
                self.busy.append(busy)
                self.series.append((round(time.perf_counter(), 3),
                                    round(steal, 1), round(busy, 1)))
            self._prev = cur
            self.load1.append(os.getloadavg()[0])

    def close(self) -> dict:
        self._stop.set()
        self._thread.join(timeout=5)

        def stats(xs):
            return {"mean": round(sum(xs) / len(xs), 2) if xs else None,
                    "max": round(max(xs), 2) if xs else None}
        return {"steal_pct": stats(self.steal), "busy_pct": stats(self.busy),
                "load1": stats(self.load1), "samples": len(self.load1),
                "series": self.series}


def peak_rss_kb(pid: int) -> int:
    """VmHWM, the peak resident set of a process, in KiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")
