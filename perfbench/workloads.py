"""The benchmark's workloads: ``lookup`` and ``plan_scale``, plus the
maintenance cycle that traced runs tour.

Each workload is a closed loop with one client on one indexed table
built from the seeded corpus. Every operation is checked against the benchmark's
own ground truth, and a wrong answer counts as a failed operation.
"""

from __future__ import annotations

import contextlib
import os
import time
from typing import Callable, Dict, List, Optional

import numpy as np

from datafusion_async_parquet_index_spark import IndexedParquetTable
from datafusion_async_parquet_index_spark.plans import sql_predicate

from corpus import (Corpus, Probe, Rows, Shape, collected, digest,
                    expected, generate, make_probe, matches,
                    round_of_probes)
from spans import TimedCatalog, Tracer, spark_counts, trace_table

INDEX = dict(index_columns=["k", "b", "d", "p"], bloom_columns=["b"],
             dict_columns=["d"], page_index_columns=["p"])
COLUMNS = ["k", "v"]

SHAPES = {
    "full": {
        "lookup": Shape(files=60, row_groups=8, rows=64, page_rows=16),
        "plan_scale": Shape(files=64, row_groups=16, rows=8, page_rows=2),
    },
    "tiny": {
        "lookup": Shape(files=6, row_groups=4, rows=16, page_rows=4),
        "plan_scale": Shape(files=8, row_groups=4, rows=16, page_rows=4),
    },
}
# index builds per run; setup_s is their median
SETUPS = 3
# loop steps run before timing. The first is cold: Spark's Python
# workers start and the JVM compiles each query shape. The JIT warms by
# executions, not by time, so the rest are a count too: lookup rounds
# fall steeply over the first ~4 and slowly after; planning has no JIT
WARM_STEPS = {"lookup": 4, "plan_scale": 1}
# the reference task: random reads over a table of 2**18 entries,
# ~7 ms on an idle 4-core VM
REFERENCE_SLOTS = 1 << 18
REFERENCE_READS = 8000
_REFERENCE_TABLE = {i: i for i in range(REFERENCE_SLOTS)}


def reference_task() -> int:
    """A fixed pure-Python task that never touches the package. Its
    reads land all over a table of several MB, so, like the program's
    work, it slows when other tenants crowd the caches and memory bus,
    which is most of what a slow regime on a shared host is."""
    acc, total = 1, 0
    for _ in range(REFERENCE_READS):
        acc = (acc * 1103515245 + 12345) & 0x7FFFFFFF
        total += _REFERENCE_TABLE[acc & (REFERENCE_SLOTS - 1)]
    return total


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, n))
               for n in os.listdir(path))


def file_states(data_dir: str) -> Dict[str, tuple]:
    out = {}
    for n in os.listdir(data_dir):
        st = os.stat(os.path.join(data_dir, n))
        out[n] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


class Bench:
    """One run: the table, the ledger of live rows, and the records."""

    def __init__(self, spark, workload: str, seed: int, size: str,
                 work_dir: str, tracer: Tracer,
                 inject_wrong: bool = False):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.shape = SHAPES[size][workload]
        self.work_dir = work_dir
        self.data_dir = os.path.join(work_dir, "data")
        self.tracer = tracer
        self.inject_wrong = inject_wrong    # smoke tests: corrupt one check
        self.rng = np.random.default_rng([seed, 1])
        self.corpus = Corpus(seed, self.shape)
        self.rows: Rows = self.corpus.rows
        self.located = True        # rows still sit where the corpus put them
        self.table: Optional[IndexedParquetTable] = None
        self.catalog_path = ""
        self.attempted = 0
        self.failures: List[str] = []
        self.ops: List[dict] = []  # one record per operation
        self.bytes_appended = 0
        self.bytes_written = 0
        self.bytes_rewritten = 0
        self.setup_s: List[float] = []
        self.input: Dict[str, int] = {}
        self.corpus_digest = ""

    # -- set-up ---------------------------------------------------------
    def setup(self) -> None:
        self.input = self.corpus.write(self.data_dir)
        self.corpus_digest = digest(self.data_dir)
        for i in range(SETUPS):
            if self.table is not None:
                self.table.catalog.close()
                for p in self.catalog_files():
                    os.remove(p)
            self.catalog_path = os.path.join(self.work_dir, f"catalog{i}.db")
            catalog = TimedCatalog(self.tracer, self.catalog_path,
                                   rtree_columns=["k"])
            t0 = time.perf_counter()
            self.table = IndexedParquetTable(
                self.spark, self.data_dir, catalog=catalog, **INDEX)
            self.setup_s.append(time.perf_counter() - t0)
        trace_table(self.tracer, self.table)

    # -- operations -----------------------------------------------------
    @staticmethod
    @contextlib.contextmanager
    def timed(rec: dict):
        """Add the block's duration to the operation's latency, so the
        latency covers the program's calls and not the checks."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec["s"] = rec.get("s", 0.0) + time.perf_counter() - t0

    def op(self, kind: str, fn: Callable[[dict], Optional[str]],
           cls: str = "") -> None:
        """Run one checked operation; ``fn`` times its program calls
        with ``timed`` and returns an error or None."""
        n = len(self.ops)
        rec = {"kind": kind, "cls": cls, "phase": self.tracer.phase,
               "t": round(time.perf_counter(), 3)}
        self.tracer.op = n
        # plans run no Spark job: skip the job accounting's JVM calls
        jobs = self.tracer.enabled and kind != "plan"
        if jobs:
            self.sc.setJobGroup(f"op{n}", kind)
        self.attempted += 1
        try:
            with self.tracer.span("op", kind=kind, cls=cls):
                err = fn(rec)
        except Exception as exc:  # a raising operation is a failed one
            err = f"{type(exc).__name__}: {exc}"
        rec.setdefault("s", 0.0)
        if jobs:
            rec.update(spark_counts(self.sc, f"op{n}"))
            self.sc.setJobGroup("idle", "idle")
        if err:
            rec["error"] = err
            self.failures.append(f"op {n} {kind} {cls}: {err}")
        self.ops.append(rec)

    def corrupt(self) -> bool:
        """True once per run when a wrong answer is to be injected."""
        hit, self.inject_wrong = self.inject_wrong, False
        return hit

    def lookup(self, probe: Probe) -> None:
        def run(rec):
            with self.timed(rec), self.tracer.span("table.query_build"):
                df = self.table.query_sql(probe.where, columns=COLUMNS,
                                          mode=probe.mode)
            with self.timed(rec), self.tracer.span("spark.execute",
                                                   mode=probe.mode):
                result = df.collect()
            got = collected(result)
            if self.located:
                rec["truth_rgs"] = len(self.corpus.locate(
                    matches(probe, self.rows)))
            want = expected(probe, self.rows)
            if self.corrupt():
                want = want + [(-1, -1)]
            if got != want:
                return (f"{probe.where}: {len(got)} rows, "
                        f"expected {len(want)}")
            return None
        self.op("lookup", run, probe.cls)

    def plan(self, probe: Probe) -> None:
        def run(rec):
            with self.timed(rec):
                d = self.table.plan_scan(
                    sql_predicate.parse_predicate(probe.where))
            truth = self.corpus.locate(matches(probe, self.rows))
            rec["truth_rgs"] = len(truth)
            kept = {(f, rg) for f, rgs in d.files_scanned.items()
                    for rg in rgs}
            if self.corrupt():
                truth = truth | {("missing", 0)}
            if not truth <= kept:
                return (f"{probe.where}: pruned {len(truth - kept)} "
                        f"row groups that hold matches")
            return None
        self.op("plan", run, probe.cls)

    def round(self, step: Callable[[Probe], None]) -> None:
        """One probe of every class, through ``step``."""
        for probe in round_of_probes(self.rows, self.rng):
            step(probe)

    # -- writes ---------------------------------------------------------
    def write(self, kind: str, fn: Callable[[], Optional[str]],
              rewrite: bool = False) -> None:
        """A write operation; counts the bytes it lands under the data
        directory (new files, or files replaced in place)."""
        def run(rec):
            before = file_states(self.data_dir)
            with self.timed(rec), self.tracer.span(f"table.{kind}"):
                err = fn()
            after = file_states(self.data_dir)
            written = sum(st[0] for n, st in after.items()
                          if before.get(n) != st)
            rec["bytes"] = written
            self.bytes_written += written
            if rewrite:
                self.bytes_rewritten += written
            return err
        self.op(kind, run)

    def cycle(self) -> None:
        """Append one file, refresh, delete an IN-list probe's keys,
        update a range probe's rows, look up a deleted and an updated
        key through the deletion vectors, compact, then check a count
        and a sampled lookup against the ledger. The write predicates
        are the lookup workload's IN-list and range probes."""
        t = self.table
        self.located = False
        batch = generate(self.rng, self.shape.file_rows,
                         int(self.rows.k[-1]), self.shape.rows)

        def append():
            n = t.append(self.spark.createDataFrame(
                batch.table().to_pandas()))
            self.rows = self.rows.concat(batch)
            self.bytes_appended += batch.logical_bytes()
            return None if n == len(batch) else f"appended {n}"
        self.write("append", append)
        self.write("refresh", lambda: t.refresh())

        gone = make_probe("inlist", self.rows, self.rng)

        def delete():
            n = t.delete_where(sql_predicate.parse_predicate(gone.where))
            self.rows = self.rows.take(~np.isin(self.rows.k, gone.args))
            return None if n == len(gone.args) else f"deleted {n}"
        self.write("delete_where", delete)

        changed = make_probe("range", self.rows, self.rng)

        def update():
            n = t.update_where(sql_predicate.parse_predicate(
                changed.where), {"v": "v + 1"})
            hit = np.zeros(len(self.rows), dtype=np.int64)
            hit[matches(changed, self.rows)] = 1
            self.rows = Rows(self.rows.k, self.rows.b, self.rows.d,
                             self.rows.v + hit)
            return None if n == int(hit.sum()) else f"updated {n}"
        self.write("update_where", update)

        for key in (gone.args[0], changed.args[0]):
            self.lookup(Probe("point", f"k = {key}", "files", (key,)))

        def compact():
            return None if t.compact_deletes() >= 1 else "nothing compacted"
        self.write("compact_deletes", compact, rewrite=True)

        def count(rec):
            with self.timed(rec):
                n = t.count_rows()
            return None if n == len(self.rows) else (
                f"count_rows {n}, ledger {len(self.rows)}")
        self.op("count_rows", count)
        self.lookup(make_probe("point", self.rows, self.rng))

    # -- loops ----------------------------------------------------------
    def reference(self) -> float:
        """Seconds of the fixed reference task on this thread now."""
        t0 = time.perf_counter()
        reference_task()
        return time.perf_counter() - t0

    def step(self) -> float:
        """One unit of the workload's closed loop: a round of lookups,
        or a round of plans on each core in turn. Each probe or core is
        followed by the reference task; returns its summed time."""
        ref = 0.0
        if self.workload == "lookup":
            for probe in round_of_probes(self.rows, self.rng):
                self.lookup(probe)
                self.ops[-1]["ref"] = self.reference()
                ref += self.ops[-1]["ref"]
            return ref
        # a round of plans runs wholly on this thread, so it takes the
        # speed of the core it sits on, and on a shared host the cores
        # differ for seconds at a time. Left to the scheduler, plan_scale
        # runs spread 49-60% over seeds; with a round on each core, 12-20%.
        # Spark's tasks already spread over every core.
        cpus = os.sched_getaffinity(0)
        try:
            for cpu in sorted(cpus):
                os.sched_setaffinity(0, {cpu})
                self.round(self.plan)
                ref += self.reference()
        finally:
            os.sched_setaffinity(0, cpus)
        return ref

    def loop(self, phase: str, seconds: float) -> dict:
        """Run whole steps for ``seconds``. A step's latency is the
        summed latency of its operations' program calls. Returns the
        phase's op records, step latencies, step reference times and
        wall time."""
        self.tracer.phase = phase
        first = len(self.ops)
        steps, refs = [], []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            n = len(self.ops)
            refs.append(self.step())
            steps.append(sum(r["s"] for r in self.ops[n:]))
        return {"ops": self.ops[first:], "steps": steps, "refs": refs,
                "wall": time.perf_counter() - t0}

    def warm_up(self) -> None:
        """Let the JIT, Python workers and caches settle before timing."""
        self.tracer.phase = "warmup"
        for _ in range(WARM_STEPS[self.workload]):
            self.step()

    def tour(self) -> None:
        """Traced runs only, after the traced loop: touch the layers the
        workload's own loop does not, so every per-layer metric is
        measured on every workload."""
        self.tracer.phase = "tour"
        if self.workload == "plan_scale":
            self.round(self.lookup)
        self.cycle()

    def catalog_files(self) -> List[str]:
        return [p for p in (self.catalog_path, self.catalog_path + "-wal",
                            self.catalog_path + "-shm")
                if os.path.exists(p)]

    def catalog_bytes(self) -> int:
        return sum(os.path.getsize(p) for p in self.catalog_files())

    def space_amp(self) -> float:
        """Data-directory plus catalog bytes per byte of live user data."""
        return ((dir_bytes(self.data_dir) + self.catalog_bytes())
                / self.rows.logical_bytes())
