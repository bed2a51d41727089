"""Per-layer metrics from a traced run's spans and operation records.

A layer's figures come from the traced loop when the loop exercised
it, otherwise from the tour: the operations traced after the loop.
Self time is a span's duration minus the part covered by its child
spans.
"""

from __future__ import annotations

import statistics
from collections import defaultdict
from typing import Dict, List, Tuple

from corpus import CLASSES

PER_LAYER_UNITS = {
    "sql_predicate.parse_ms": "ms",
    "pruning.rewrite_ms": "ms",
    "pruning.rewrites_per_plan": "count",
    "catalog.get_files_ms": "ms",
    "catalog.candidates_per_plan": "count",
    "catalog.all_files_ms": "ms",
    "catalog.all_files_calls_per_plan": "count",
    "catalog.get_blooms_ms": "ms",
    "catalog.get_dicts_ms": "ms",
    "catalog.get_page_stats_ms": "ms",
    "catalog.tier_entries_per_survivor": "ratio",
    "catalog.upsert_files_ms": "ms",
    "catalog.upsert_dv_ms": "ms",
    "catalog.get_dv_ranges_ms": "ms",
    "catalog.bytes_per_row_group": "bytes",
    "table.plan_scan_ms": "ms",
    "table.plan_scan_self_ms": "ms",
    "table.query_build_ms": "ms",
    "table.rg_scanned_frac": "ratio",
    "table.rg_precision": "ratio",
    "table.page_rows_kept_frac": "ratio",
    "table.refresh_ms": "ms",
    "table.delete_where_s": "s",
    "table.update_where_s": "s",
    "table.compact_deletes_s": "s",
    "table.bytes_rewritten": "bytes",
    "table.write_amp": "ratio",
    "stats.build_files_per_s": "1/s",
    "spark.execute_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "rowgroup_source.execute_ms": "ms",
    **{f"lookup.{c}_p50_ms": "ms" for c in CLASSES},
    "loop.op_p50_ms": "ms",
    "loop.ref_p50_ms": "ms",
    "trace.overhead_ms": "ms",
    "trace.overhead_frac": "ratio",
}


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def layer_metrics(b, plain: dict, traced: dict, catalog_bytes: int
                  ) -> Tuple[Dict[str, tuple], Dict[str, dict]]:
    """({metric: (value, unit)}, {span name: busy/self/count summary})."""
    spans = b.tracer.spans
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += _dur(s)
    by = defaultdict(lambda: defaultdict(list))
    for s in spans:
        by[s["name"]][s["phase"]].append(s)

    def pick(name: str, keep=lambda s: True) -> List[dict]:
        phases = by.get(name, {})
        for phase in ("traced", "tour"):
            ss = [s for s in phases.get(phase, ()) if keep(s)]
            if ss:
                return ss
        return []

    def mean(name: str, scale: float = 1000.0, self_time=False) -> float:
        ss = pick(name)
        if not ss:
            return 0.0
        return scale * statistics.fmean(
            _dur(s) - (child[s["id"]] if self_time else 0.0) for s in ss)

    def total(name: str, key: str) -> float:
        return sum(s.get(key, 0) for s in pick(name))

    plans = pick("table.plan_scan")
    n_plans = len(plans)
    survivors = sum(s["scanned"] for s in plans)
    tier = sum(total(n, "entries") for n in (
        "catalog.get_blooms", "catalog.get_dicts", "catalog.get_page_stats"))

    # precision: row groups holding a match per row group scanned, over
    # operations of either traced phase whose ground truth is located
    plan_of = {s["op"]: s for s in spans if s["name"] == "table.plan_scan"}
    op_ids = [i for i, r in enumerate(b.ops)
              if r["phase"] in ("traced", "tour")]
    ops = [b.ops[i] for i in op_ids]
    located = [(b.ops[i], plan_of[i]) for i in op_ids
               if "truth_rgs" in b.ops[i] and i in plan_of]
    precision = _ratio(sum(r["truth_rgs"] for r, _ in located),
                       sum(p["scanned"] for _, p in located))
    page = [p for r, p in ((b.ops[i], plan_of.get(i)) for i in op_ids)
            if r["cls"] == "page" and p is not None]
    page_kept = sum(p["page_kept"] for p in page)
    page_skipped = sum(p["page_skipped"] for p in page)

    queries = [r for r in ops if "jobs" in r and r["kind"] == "lookup"]
    loop_queries = [r for r in queries if r["phase"] == "traced"] or queries
    execs = pick("spark.execute")
    rg_execs = pick("spark.execute", lambda s: s["mode"] == "rowgroups")
    rewritten = [r["bytes"] for r in b.ops if r["kind"] == "compact_deletes"
                 and r["phase"] in ("traced", "tour")]

    def per_class(cls: str) -> float:
        """Median latency of the class's loop step, from the untraced
        loop, else from any traced operation of the class."""
        kind = "plan" if b.workload == "plan_scale" else "lookup"
        for recs in (plain["ops"], b.ops):
            lat = [r["s"] * 1000 for r in recs
                   if r["cls"] == cls and r["kind"] == kind
                   and r["phase"] != "warmup"]
            if lat:
                return statistics.median(lat)
        return 0.0

    plain_mean = statistics.fmean(plain["steps"])
    traced_mean = statistics.fmean(traced["steps"])
    values = {
        "sql_predicate.parse_ms": mean("sql_predicate.parse"),
        "pruning.rewrite_ms": mean("pruning.rewrite"),
        "pruning.rewrites_per_plan": _ratio(
            len(pick("pruning.rewrite")), n_plans),
        "catalog.get_files_ms": mean("catalog.get_files"),
        "catalog.candidates_per_plan": _ratio(
            total("catalog.get_files", "rgs"), n_plans),
        "catalog.all_files_ms": mean("catalog.all_files"),
        "catalog.all_files_calls_per_plan": _ratio(
            len(pick("catalog.all_files")), n_plans),
        "catalog.get_blooms_ms": mean("catalog.get_blooms"),
        "catalog.get_dicts_ms": mean("catalog.get_dicts"),
        "catalog.get_page_stats_ms": mean("catalog.get_page_stats"),
        "catalog.tier_entries_per_survivor": _ratio(tier, survivors),
        "catalog.upsert_files_ms": mean("catalog.upsert_files"),
        "catalog.upsert_dv_ms": mean("catalog.upsert_dv"),
        "catalog.get_dv_ranges_ms": mean("catalog.get_dv_ranges"),
        "catalog.bytes_per_row_group": _ratio(
            catalog_bytes, plans[-1]["total"] if plans else 0),
        "table.plan_scan_ms": mean("table.plan_scan"),
        "table.plan_scan_self_ms": mean("table.plan_scan", self_time=True),
        "table.query_build_ms": mean("table.query_build"),
        "table.rg_scanned_frac": statistics.fmean(
            _ratio(s["scanned"], s["total"]) for s in plans) if plans
        else 0.0,
        "table.rg_precision": precision,
        "table.page_rows_kept_frac": _ratio(page_kept,
                                            page_kept + page_skipped),
        "table.refresh_ms": mean("table.refresh"),
        "table.delete_where_s": mean("table.delete_where", 1.0),
        "table.update_where_s": mean("table.update_where", 1.0),
        "table.compact_deletes_s": mean("table.compact_deletes", 1.0),
        "table.bytes_rewritten": statistics.fmean(rewritten)
        if rewritten else 0.0,
        "table.write_amp": _ratio(b.bytes_written, b.bytes_appended),
        "stats.build_files_per_s": b.input["files"]
        / statistics.median(b.setup_s),
        "spark.execute_ms": 1000 * statistics.fmean(map(_dur, execs))
        if execs else 0.0,
        "spark.jobs_per_op": _mean_of(loop_queries, "jobs"),
        "spark.stages_per_op": _mean_of(loop_queries, "stages"),
        "spark.tasks_per_op": _mean_of(loop_queries, "tasks"),
        "rowgroup_source.execute_ms": 1000 * statistics.fmean(
            map(_dur, rg_execs)) if rg_execs else 0.0,
        **{f"lookup.{c}_p50_ms": per_class(c) for c in CLASSES},
        "loop.op_p50_ms": 1000 * statistics.median(plain["steps"]),
        "loop.ref_p50_ms": 1000 * statistics.median(plain["refs"]),
        "trace.overhead_ms": 1000 * (traced_mean - plain_mean),
        "trace.overhead_frac": (traced_mean - plain_mean) / plain_mean,
    }
    metrics = {n: (values[n], u) for n, u in PER_LAYER_UNITS.items()}

    summary: Dict[str, dict] = {}
    for name, phases in by.items():
        ss = [s for p in phases.values() for s in p]
        summary[name] = {
            "count": len(ss),
            "busy_ms": 1000 * sum(map(_dur, ss)),
            "self_ms": 1000 * sum(_dur(s) - child[s["id"]] for s in ss)}
    # what plan_scan's non-self time is made of, by child span name
    under = defaultdict(float)
    plan_ids = {s["id"] for s in spans if s["name"] == "table.plan_scan"}
    for s in spans:
        if s["parent"] in plan_ids:
            under[s["name"]] += 1000 * _dur(s)
    summary["table.plan_scan"]["children_ms"] = dict(under)
    return metrics, summary


def _mean_of(records: List[dict], key: str) -> float:
    return statistics.fmean(r[key] for r in records) if records else 0.0
