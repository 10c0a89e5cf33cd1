"""Per-layer ledger: spans and event-log sums folded per operation and pass.

Each per-layer metric is a per-pass total; the reported value is its
median over the traced steady passes (``queries.build_jobs_first`` is
the first pass's).
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

from spans import covered, fold_event_log
from workloads import ONET_ROWS, OEWS_ROWS

REFDAY_ROWS = OEWS_ROWS + ONET_ROWS

# Units of the layer metrics this module computes.
UNITS = {
    "session.start_s": "s", "setup.layout_s": "s", "setup.warmup_s": "s",
    "setup.first_s": "s",
    "sources.html_table.extract_s": "s", "sources.excel.read_s": "s",
    "sources.lake.write_s": "s", "sources.lake.files": "count",
    "sources.lake.bytes_per_row": "B/row", "sources.lake.read_s": "s",
    "sources.warehouse.append_s": "s", "sources.warehouse.files": "count",
    "plans.build_s": "s", "plans.views.avg_s": "s", "plans.views.join_s": "s",
    "plans.views.topk_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.build_jobs_first": "count", "queries.exec_s": "s",
    "queries.exec_jobs": "count",
    "spark.executor_cpu_s": "s", "spark.executor_run_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.python_total_s": "s", "spark.python_data_mb": "MB",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_gap_s": "s", "spark.core_util": "ratio", "spark.task_failures": "ratio",
    "trace.first_pass_s": "s", "trace.pass_s": "s",
}

# refday operation name prefix -> the layer its phase time belongs to
_REFDAY_LAYER = {
    "html_table.fetch_and_extract": "sources.html_table.extract_s",
    "excel.read_excel": "sources.excel.read_s",
    "oews.clean_oews": "plans.build_s",
    "onet.clean_onet": "plans.build_s",
    "lake.write_snapshot": "sources.lake.write_s",
    "lake.read_snapshot": "sources.lake.read_s",
    "warehouse.idempotent_append": "sources.warehouse.append_s",
    "views.oews_avg_over_onet": "plans.views.avg_s",
    "views.onet_closest_oews": "plans.views.join_s",
    "views.top_titles_by_wage": "plans.views.topk_s",
}
_SPARK_SUMS = ("executor_cpu_s", "executor_run_s", "gc_s", "python_total_s",
               "jobs", "stages", "tasks")
_MB = {"shuffle_write_mb": "shuffle_write_bytes", "shuffle_read_mb": "shuffle_read_bytes",
       "python_data_mb": "python_data_bytes"}


def _refday_layer(op: str) -> str | None:
    for prefix, layer in _REFDAY_LAYER.items():
        if op.startswith(prefix):
            return layer
    return None


def refday_rates(passes: list[dict]) -> dict:
    """``transform_rows_per_s`` (rows ÷ plan build + lake writes) and
    ``load_rows_per_s`` (rows ÷ warehouse appends), median over passes,
    with their ratios to the reference's 2× bar (BASELINE.md)."""
    def rate(p, layers):
        secs = sum(o.get("secs", 0.0) for o in p["ops"] if _refday_layer(o["op"]) in layers)
        return REFDAY_ROWS / secs if secs else 0.0

    t = statistics.median(rate(p, {"plans.build_s", "sources.lake.write_s"}) for p in passes)
    ld = statistics.median(rate(p, {"sources.warehouse.append_s"}) for p in passes)
    return {
        "transform_rows_per_s": (t, "rows/s"),
        "transform_vs_bar": (t / 52_000, "x of 52k rows/s"),
        "load_rows_per_s": (ld, "rows/s"),
        "load_vs_bar": (ld / 3_300, "x of 3.3k rows/s"),
    }


def _pass_layers(bench, p: dict, stats: dict, jobs: dict) -> tuple[dict, list[dict]]:
    tr, wl = bench.tr, bench.args.workload
    v: dict = defaultdict(float)
    rows_written = bytes_written = 0
    op_rows = []
    for rec in p["ops"]:
        if "span" not in rec:  # skipped after an earlier failure
            continue
        span = tr.spans[rec["span"]]
        group = f"{wl}/{p['name']}/{rec['op']}"
        row = {"pass": p["name"], "op": rec["op"], "ok": rec["ok"],
               "secs": rec.get("secs"), "harness_self_s": tr.self_time(span), "phases": {}}
        for ph in tr.children(span, "phase"):
            dur = ph["end"] - ph["start"]
            st = stats.get((group, ph["name"]), {})
            iv = jobs.get((group, ph["name"]), [])
            gap = dur - covered(iv, ph["start"], ph["end"])
            row["phases"][ph["name"]] = {"secs": dur, "driver_gap_s": gap,
                                         **{k: st.get(k, 0.0) for k in (
                                             *_SPARK_SUMS, *_MB.values(), "failed_tasks")}}
            v["spark.driver_gap_s"] += gap
            for k in _SPARK_SUMS:
                v[f"spark.{k}"] += st.get(k, 0.0)
            for k, src in _MB.items():
                v[f"spark.{k}"] += st.get(src, 0.0) / 1e6
            v["_failed_tasks"] += st.get("failed_tasks", 0.0)
            if wl == "refday":
                v[_refday_layer(rec["op"])] += dur
            else:
                v[f"queries.{ph['name']}_s"] += dur
                v[f"queries.{ph['name']}_jobs"] += st.get("jobs", 0.0)
        if rec["op"].startswith("lake.write_snapshot"):
            v["sources.lake.files"] += rec.get("files", 0)
            rows_written += rec.get("rows", 0)
            bytes_written += rec.get("bytes", 0)
        elif rec["op"].startswith("warehouse.idempotent_append"):
            v["sources.warehouse.files"] += rec.get("files", 0)
        op_rows.append(row)
    if rows_written:
        v["sources.lake.bytes_per_row"] = bytes_written / rows_written
    v["spark.core_util"] = (v["spark.executor_run_s"] / (p["secs"] * bench.nproc)
                            if p["secs"] else 0.0)
    v["spark.task_failures"] = (v.pop("_failed_tasks") / v["spark.tasks"]
                                if v["spark.tasks"] else 0.0)
    return v, op_rows


def per_layer(bench, event_log: str, path: str) -> dict:
    """Per-layer metrics of a traced run; also prints the per-operation
    ledger and writes it, with every span, to ``path``."""
    stats, jobs = fold_event_log(event_log)
    by_pass, ledger_ops = {}, []
    for p in [bench.first, *bench.steady_passes]:
        by_pass[p["name"]], rows = _pass_layers(bench, p, stats, jobs)
        ledger_ops += rows
    steady = [by_pass[p["name"]] for p in bench.steady_passes]
    med = lambda k: statistics.median(s.get(k, 0.0) for s in steady)  # noqa: E731
    out = {name: (med(name), unit) for name, unit in UNITS.items()}
    for name, key in (("session.start_s", "start_s"), ("setup.layout_s", "layout_s"),
                      ("setup.warmup_s", "warmup_s")):
        out[name] = (statistics.median(c[key] for c in bench.cycles), "s")
    # the first set-up also launches the JVM, so it is kept out of setup_s
    out["setup.first_s"] = (bench.cycles[0]["setup_s"], "s")
    out["queries.build_jobs_first"] = (by_pass["p0"].get("queries.build_jobs", 0.0), "count")
    # the untraced run's first_pass_s and pass_s, here with tracing on
    out["trace.first_pass_s"] = (bench.first["secs"], "s")
    out["trace.pass_s"] = (statistics.median(p["secs"] for p in bench.steady_passes), "s")

    print(f"{'pass':<5} {'operation':<32} {'secs':>7} {'jobs':>5} {'gap_s':>6} "
          f"{'run_s':>6} {'py_s':>6}  phases")
    for r in ledger_ops:
        ph = r["phases"]
        total = lambda k: sum(x[k] for x in ph.values())  # noqa: E731
        print(f"{r['pass']:<5} {r['op'][:32]:<32} {r['secs'] or 0:7.3f} "
              f"{total('jobs'):5.0f} {total('driver_gap_s'):6.3f} "
              f"{total('executor_run_s'):6.3f} {total('python_total_s'):6.3f}  "
              + " ".join(f"{k} {x['secs']:.3f}" for k, x in ph.items()))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump({"per_layer": {k: v for k, (v, _u) in out.items()},
                   "passes": {k: dict(v) for k, v in by_pass.items()},
                   "setup_cycles": bench.cycles, "operations": ledger_ops,
                   "spans": bench.tr.spans}, f, indent=1)
    print(f"ledger: {os.path.relpath(path)}")
    return out
