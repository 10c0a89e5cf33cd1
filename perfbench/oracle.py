#!/usr/bin/env python3
"""Expected outputs of the registry workloads, from the DuckDB oracle.

    python3 perfbench/oracle.py           # recompute and compare
    python3 perfbench/oracle.py --write   # recompute and store

Runs each ``llm_ops`` query's ``ORACLE_SQL`` twin in DuckDB
on the generated tables and hashes the result with the canonical rule
of ``tools/oracle_check.py`` (columns sorted by name, rows sorted,
floats by ``repr``).  The hashes are stored in ``expected.json`` so a
benchmark run never waits on DuckDB.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXPECTED = os.path.join(HERE, "expected.json")


def compute() -> dict:
    import duckdb

    import inputs
    from workloads import LLM_OPS

    from occupation_wage_etl_spark.queries import ORACLE_SQL
    from tools.oracle_check import _value_hash

    out = {}
    with tempfile.TemporaryDirectory() as tmp:
        inputs.write_registry_tables(tmp, 1)
        con = duckdb.connect()
        for t in inputs.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{tmp}/{t}.parquet/*.parquet')")
        for name in LLM_OPS:
            rel = con.execute(ORACLE_SQL[name])
            cols = [d[0] for d in rel.description]
            rows = rel.fetchall()
            out[name] = {"rows": len(rows), "sha256": _value_hash(rows, cols)}
            print(f"{name}: {len(rows)} rows", file=sys.stderr, flush=True)
    return out


def main(argv) -> int:
    sys.path[:0] = [HERE, ROOT]
    got = compute()
    if "--write" in argv:
        with open(EXPECTED, "w", encoding="utf-8") as f:
            json.dump(got, f, indent=1, sort_keys=True)
            f.write("\n")
        return 0
    with open(EXPECTED, encoding="utf-8") as f:
        want = json.load(f)
    bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
    print("expected.json matches the oracle" if not bad else f"differs: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
