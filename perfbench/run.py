#!/usr/bin/env python3
"""Benchmark for the indexed Parquet table: one workload per run.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``; each with its unit). The full record of the run, with
host context, input sizes and, when traced, every span, is written to
``perfbench/out/``. See ``perfbench/README.md`` for the workloads and
what each metric should move.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "datafusion_async_parquet_index_spark"
WORKLOADS = ("lookup", "plan_scale")

END_TO_END = {"setup_s": "s", "op_p50_per_ref": "ratio",
              "peak_rss_mb": "MB", "space_amp": "ratio"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the smoke tests' corpus")
    ap.add_argument("--inject-wrong", action="store_true",
                    help="corrupt one expected answer (smoke tests)")
    return ap.parse_args(argv)


def prepare_env(work_dir: str) -> None:
    """Spark's Python workers import the package from the checkout;
    one Spark core per host core; every scratch file inside the run's
    own directory."""
    local = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # no JVM writes outside the run's directory: hsperfdata would go
    # to /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}",
        "-XX:-UsePerfData"]))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work_dir, 'wh')}",
        "pyspark-shell"])
    sys.path.insert(0, ROOT)


def source_identity() -> dict:
    """The commit when the checkout is a git work tree, and always a
    digest of the package sources."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, names in os.walk(pkg):
        dirnames.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(dirpath, n)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    commit = None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        commit = out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return {"commit": commit, "source_sha256": h.hexdigest()}


def descendants(pid: int) -> list:
    """Every live process below ``pid``."""
    out, todo = [], [pid]
    while todo:
        for path in glob.glob(f"/proc/{todo.pop()}/task/*/children"):
            try:
                with open(path) as fh:
                    kids = [int(x) for x in fh.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, jvm) -> None:
    """Stop Spark, wait for the JVM it launched to exit, then for the
    JVM's Python workers."""
    from pyspark import SparkContext

    workers = descendants(jvm.pid)
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if jvm.stdin is not None:
        jvm.stdin.close()           # the JVM exits when its stdin closes
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while running(pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if running(pid):
            os.kill(pid, signal.SIGKILL)


def op_stats(loop: dict) -> dict:
    """The median of each step's latency over the reference task's time
    in the same step, which is the gated figure; plus the wall-clock
    median, nearest-rank p90 and throughput that the record keeps (see
    README)."""
    lat = sorted(s * 1000 for s in loop["steps"])
    return {"op_p50_per_ref": statistics.median(
                s / r for s, r in zip(loop["steps"], loop["refs"])),
            "op_p50_ms": statistics.median(lat),
            "ref_p50_ms": statistics.median(r * 1000 for r in loop["refs"]),
            "op_p90_ms": lat[min(len(lat) - 1, int(0.9 * len(lat)))],
            "ops_per_s": len(lat) / loop["wall"], "samples": len(lat)}


def run(args, work_dir: str) -> dict:
    from datafusion_async_parquet_index_spark import get_spark
    from layers import layer_metrics
    from spans import HostSampler, Tracer, instrumented, peak_rss_kb
    from workloads import Bench

    host = HostSampler()
    t0 = time.perf_counter()
    timeline = {}

    def mark(phase):
        timeline[phase] = round(time.perf_counter() - t0, 3)

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._gateway.proc
    tracer = Tracer()
    mark("spark_started")
    try:
        b = Bench(spark, args.workload, args.seed, args.size, work_dir,
                  tracer, inject_wrong=args.inject_wrong)
        with instrumented(tracer):
            b.setup()
            mark("set_up")
            b.warm_up()
            mark("warmed_up")
            plain = b.loop("loop", args.seconds)
            mark("looped")
            space_amp = b.space_amp()
            traced = None
            if args.trace:
                tracer.enabled = True
                traced = b.loop("traced", args.seconds)
                mark("traced")
                b.tour()
                mark("toured")
                tracer.enabled = False
        rss_kb = {"driver": peak_rss_kb(os.getpid()),
                  "jvm": peak_rss_kb(jvm.pid)}
        catalog_bytes = b.catalog_bytes()
    finally:
        stop_spark(spark, jvm)
        mark("spark_stopped")
        machine = host.close()

    e2e = {**op_stats(plain), "setup_s": statistics.median(b.setup_s),
           "peak_rss_mb": sum(rss_kb.values()) / 1024,
           "space_amp": space_amp}
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "size": args.size,
        "shape": vars(b.shape), "input": b.input,
        "corpus_sha256": b.corpus_digest,
        "host": {"cores": len(os.sched_getaffinity(0)), **machine,
                 **source_identity()},
        "peak_rss_kb": rss_kb, "timeline_s": timeline, "setup_s": b.setup_s,
        "attempted": b.attempted,
        "failed": len(b.failures),
        "fail_frac": len(b.failures) / max(1, b.attempted),
        "failures": b.failures[:50], "end_to_end": e2e,
        "ops": [{k: r[k] for k in ("phase", "kind", "cls", "t", "s", "ref")
                 if k in r} for r in b.ops],
        "loop_refs": plain["refs"],
        "write_amp": b.bytes_written / max(1, b.bytes_appended),
    }
    if traced is not None:
        record["per_layer"], record["layers"] = layer_metrics(
            b, plain, traced, catalog_bytes)
        record["spans"] = tracer.spans
    return record


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ beside perfbench/ in {ROOT}",
              file=sys.stderr)
        return 2
    base = os.path.join(HERE, "tmp")
    os.makedirs(base, exist_ok=True)
    work_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    try:
        prepare_env(work_dir)
        record = run(args, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)

    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-"
                                 f"trace{args.trace}")
    spans = record.pop("spans", None)
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1)
    if spans is not None:
        with open(stem + "-spans.json", "w") as fh:
            json.dump(spans, fh)
    if args.trace:
        metrics = {n: {"value": v, "unit": u}
                   for n, (v, u) in record["per_layer"].items()}
    else:
        metrics = {n: {"value": record["end_to_end"][n], "unit": u}
                   for n, u in END_TO_END.items()}
    print(json.dumps({"correct": record["failed"] == 0,
                      "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}),
          flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
