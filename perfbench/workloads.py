"""The benchmark's workloads: what one pass does and how its outputs are checked.

Every call into the program goes through a public function of its
modules (``sources.*``, ``plans.*``, ``SPARK_QUERIES[...]``) inside a
``phase`` span, so the benchmark times the program from outside it.
An operation fails when it raises or when its output check fails.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys
import traceback

from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
# Rows per reference day (BASELINE.md): one OEWS page, one Skills sheet.
OEWS_ROWS, ONET_ROWS = 736, 62_580

# The ``llm_ops`` queries.  Each one is an operation: build (the
# DataFrame is constructed; iterative and memoised operators run Spark
# jobs here) then exec (collect).  perfbench/baseline.json records why
# the list is this short and which queries were left out.
LLM_OPS = [
    "q123_containment_pairs",   # dedup funnel that works at execution time
    "q224_jaro_winkler",        # Arrow pandas-UDF scorer (Python workers)
    "q190_bfs_hops",            # iterative operator: its loop runs in build
    "q112_rfm",                 # memoised plan-time decision
]

def release(spark) -> None:
    """Drop operator-internal persists and checkpoints between operations,
    as bench.py does, so no operation reads another one's cache."""
    from occupation_wage_etl_spark.operators._cache import (
        release_cached,
        release_checkpoints,
    )

    release_cached()
    release_checkpoints(spark)
    spark.catalog.clearCache()


def _fail(op: str, why: str) -> None:
    print(f"FAILED {op}: {why}", file=sys.stderr, flush=True)


class Registry:
    """``llm_ops``: registry queries on the generated tables."""

    n_steady = 2

    def __init__(self, queries: list[str], tables_dir: str):
        self.queries = queries
        self.tables_dir = tables_dir
        with open(os.path.join(HERE, "expected.json"), encoding="utf-8") as f:
            self.expected = json.load(f)

    def layout(self, spark) -> None:
        """The core-count-file layout is written once per checkout by the
        input generator; per set-up only its presence is confirmed."""
        for t in os.listdir(self.tables_dir):
            if not os.listdir(os.path.join(self.tables_dir, t)):
                raise RuntimeError(f"empty input table {t}")

    def run_pass(self, spark, tr: Tracer, order: list[str]) -> list[dict]:
        from tools.oracle_check import _value_hash

        from occupation_wage_etl_spark.queries import SPARK_QUERIES

        ops = []
        for name in order:
            rec = {"op": name, "ok": False}
            with tr.span("op", name) as op:
                try:
                    with tr.span("phase", "build") as b:
                        df = SPARK_QUERIES[name](spark, self.tables_dir)
                    with tr.span("phase", "exec") as e:
                        rows = df.collect()
                    rec["secs"] = (b["end"] - b["start"]) + (e["end"] - e["start"])
                    want = self.expected[name]
                    got = _value_hash([tuple(r) for r in rows], df.columns)
                    if len(rows) != want["rows"] or got != want["sha256"]:
                        _fail(name, f"{len(rows)} rows, hash {got[:12]}; "
                                    f"expected {want['rows']} rows, {want['sha256'][:12]}")
                    else:
                        rec["ok"] = True
                except Exception:
                    _fail(name, traceback.format_exc())
                release(spark)
            rec["span"] = op["id"]
            ops.append(rec)
        return ops


class RefDay:
    """``refday``: the reference's daily job, one snapshot day per pass."""

    n_steady = 1  # the re-run of the first day
    TABLES = ("oews_by_state", "onet_skills")

    def __init__(self, day, xlsx_path: str, work_dir: str, first_day: dt.date):
        self.day = day            # inputs.RefDay: sources and expected outputs
        self.xlsx = xlsx_path
        self.lake = os.path.join(work_dir, "lake")
        self.warehouse = os.path.join(work_dir, "warehouse")
        self.first_day = first_day
        self.done: set[str] = set()

    def layout(self, spark) -> None:
        """Start from empty catalog tables and an empty lake."""
        for t in self.TABLES:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(os.path.join(self.warehouse, t), ignore_errors=True)
        shutil.rmtree(self.lake, ignore_errors=True)
        self.done.clear()

    def date_for(self, pass_idx: int) -> str:
        """Pass 0 runs the first day and pass 1 re-runs it, which must
        leave no duplicates; later passes continue with new days."""
        return (self.first_day + dt.timedelta(days=max(0, pass_idx - 1))).isoformat()

    def run_pass(self, spark, tr: Tracer, date: str, oews_first: bool) -> list[dict]:
        from occupation_wage_etl_spark.plans import oews, onet, views
        from occupation_wage_etl_spark.sources import excel, html_table, lake, warehouse

        ops: list[dict] = []
        state: dict = {}

        def op(name, phases, check=None):
            rec = {"op": name, "ok": False}
            with tr.span("op", name) as o:
                try:
                    secs = 0.0
                    for phase, fn in phases:
                        with tr.span("phase", phase) as p:
                            fn()
                        secs += p["end"] - p["start"]
                    rec["secs"] = secs
                    why = check() if check else None
                    if why:
                        _fail(name, why)
                    else:
                        rec["ok"] = True
                except Exception:
                    _fail(name, traceback.format_exc())
            rec["span"] = o["id"]
            ops.append(rec)

        def put(key, fn):
            return lambda: state.__setitem__(key, fn())

        def snapshot(key, ds):
            def write():
                state[f"{key}_path"] = lake.write_snapshot(state[f"{key}_clean"],
                                                           self.lake, ds, date)
            return write

        def count_is(key, n):
            return lambda: None if (c := state[key].count()) == n else f"{c} rows, expected {n}"

        chains = {
            "oews": [
                ("html_table.fetch_and_extract", [("extract", put("oews_raw", lambda:
                    html_table.fetch_and_extract(spark, lambda: self.day.html)))]),
                ("oews.clean_oews", [("build", put("oews_clean", lambda:
                    oews.clean_oews(state["oews_raw"])))]),
                ("lake.write_snapshot.oews", [("write", snapshot("oews", "oews_by_state"))]),
                ("lake.read_snapshot.oews", [("read", put("oews_lake", lambda:
                    lake.read_snapshot(spark, self.lake, "oews_by_state", date)
                    .drop(lake.PARTITION_COL)))], count_is("oews_lake", OEWS_ROWS)),
            ],
            "onet": [
                ("excel.read_excel", [("read", put("onet_raw", lambda:
                    excel.read_excel(spark, self.xlsx)))]),
                ("onet.clean_onet", [("build", put("onet_clean", lambda:
                    onet.clean_onet(state["onet_raw"])))]),
                ("lake.write_snapshot.onet", [("write", snapshot("onet", "onet_skills"))]),
                ("lake.read_snapshot.onet", [("read", put("onet_lake", lambda:
                    lake.read_snapshot(spark, self.lake, "onet_skills", date)
                    .drop(lake.PARTITION_COL)))], count_is("onet_lake", ONET_ROWS)),
            ],
        }
        first, second = ("oews", "onet") if oews_first else ("onet", "oews")
        for step in range(4):
            for chain in (first, second):
                name, phases, *check = chains[chain][step]
                if all(r["ok"] for r in ops):
                    op(name, phases, check[0] if check else None)
                else:
                    ops.append({"op": name, "ok": False, "skipped": True})

        self.done.add(date)
        n_days = len(self.done)
        for key, table, rows in (("oews", "oews_by_state", OEWS_ROWS),
                                 ("onet", "onet_skills", ONET_ROWS)):
            op(f"warehouse.idempotent_append.{key}",
               [("append", lambda k=key, t=table:
                 warehouse.idempotent_append(state[f"{k}_lake"], t, date))],
               lambda t=table, n=rows * n_days: None if (
                   c := spark.table(t).count()) == n else f"{t}: {c} rows, expected {n}")

        expect_top = [(t, None if w is None else float(w)) for t, w in self.day.expected_top()]
        op("views.oews_avg_over_onet",
           [("build", put("avg", lambda: views.oews_avg_over_onet(state["onet_lake"]))),
            ("exec", put("avg_rows", lambda: state["avg"].collect()))],
           lambda: None if len(state["avg_rows"]) == 774 else f"{len(state['avg_rows'])} groups")
        op("views.onet_closest_oews",
           [("build", put("join", lambda: views.onet_closest_oews(
               state["onet_lake"], state["oews_lake"]))),
            ("exec", put("join_rows", lambda: state["join"].count()))],
           lambda: None if state["join_rows"] == 53_760 else f"{state['join_rows']} rows")
        op("views.top_titles_by_wage",
           [("build", put("top", lambda: views.top_titles_by_wage(state["join"], 10))),
            ("exec", put("top_rows", lambda: state["top"].collect()))],
           lambda: None if [(r["title"], r["annual_mean_wage"]) for r in state["top_rows"]]
           == expect_top else "top-10 differs from the independent ranking")

        # files and bytes each write left behind, for the sources.* layers
        for rec in ops:
            name = rec["op"]
            if name.startswith("lake.write_snapshot."):
                path = state.get(f"{name.rsplit('.', 1)[1]}_path", "")
            elif name.startswith("warehouse.idempotent_append."):
                table = "oews_by_state" if name.endswith("oews") else "onet_skills"
                path = os.path.join(self.warehouse, table, f"snapshot_date={date}")
            else:
                continue
            files = [os.path.join(path, f) for f in os.listdir(path)
                     if f.endswith(".parquet")] if os.path.isdir(path) else []
            rec["files"] = len(files)
            rec["bytes"] = sum(os.path.getsize(f) for f in files)
            rec["rows"] = OEWS_ROWS if name.endswith("oews") else ONET_ROWS
        release(spark)
        return ops
