"""The benchmark's own tests: its inputs, its expected outputs, its ledger.

    python3 -m pytest perfbench/test_perfbench.py -q

No Spark session is started.  The oracle test recomputes the stored
``expected.json`` hashes with DuckDB (about ten seconds).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
import oracle  # noqa: E402
from spans import covered, fold_event_log  # noqa: E402


@pytest.mark.parametrize("seed", [0, 7])
def test_refday_inputs_hold_the_reference_counts(seed):
    day = inputs.RefDay(seed)
    assert len(day.oews_rows) == 736
    assert all(len(r) == 18 for r in day.oews_rows)
    # two footer rows after the data, which the extractor drops
    assert day.html.count("<tr>") == 1 + 736 + 2
    rows = day.skills_rows()
    assert len(rows) == 62_580 and all(len(r) == 15 for r in rows)
    prefixes = {r[0].split(".")[0] for r in rows}
    assert len(prefixes) == 774
    matched = {c for c, p in inputs.onet_codes() if p in set(inputs.MATCHED)}
    assert len(matched) == 768  # × 70 skill rows = 53,760 join rows
    top = day.expected_top()
    assert len(top) == 10 and top == sorted(
        top, key=lambda t: (t[1] is None, -(t[1] or 0), t[0]))


def test_refday_inputs_follow_the_seed():
    a, b = inputs.RefDay(3), inputs.RefDay(3)
    assert a.html == b.html and a.skills_rows() == b.skills_rows()
    assert inputs.RefDay(4).html != a.html


def test_xlsx_round_trips_through_the_stdlib_reader(tmp_path):
    from occupation_wage_etl_spark.sources.excel import read_xlsx_stdlib

    rows = inputs.RefDay(1).skills_rows()[:500]
    path = str(tmp_path / "skills.xlsx")
    inputs.write_xlsx(path, inputs.SKILLS_HEADERS, rows)
    header, got = read_xlsx_stdlib(path)
    assert header == inputs.SKILLS_HEADERS
    assert got == rows


def test_registry_tables_are_fixed():
    a, b = inputs.registry_tables(), inputs.registry_tables()
    assert set(a) == set(inputs.TABLES)
    assert all(a[t].equals(b[t]) for t in a)


def test_expected_hashes_match_the_duckdb_oracle():
    with open(oracle.EXPECTED, encoding="utf-8") as f:
        assert oracle.compute() == json.load(f)


def test_covered_merges_overlapping_intervals():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert covered([], 0, 1) == 0


def test_fold_event_log_groups_by_job_group_and_phase(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "w/p1/q", "spark.job.description": "build"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Attempt": 1, "Accumulables": [
             {"Name": "time to run Python workers", "Update": 250}]},
         "Task Metrics": {"Executor Run Time": 500, "Executor CPU Time": 2e8,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    stats, jobs = fold_event_log(str(path))
    st = stats[("w/p1/q", "build")]
    assert (st["jobs"], st["stages"], st["tasks"], st["failed_tasks"]) == (1, 1, 1, 1)
    assert st["executor_run_s"] == 0.5 and st["executor_cpu_s"] == 0.2
    assert st["python_total_s"] == 0.25 and st["shuffle_write_bytes"] == 10
    assert jobs[("w/p1/q", "build")] == [(1.0, 3.0)]
