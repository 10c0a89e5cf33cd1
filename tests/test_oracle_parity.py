"""Local replica of the driver's correctness gate: run every Spark query
and its DuckDB oracle on the same parquet and compare column names, row
counts and values.  Values go through the project's one comparator,
``tools/oracle_check._value_hash`` — columns sorted by name, rows
sorted, floats by ``repr`` — so a float must match to the bit.
"""

from __future__ import annotations

import re

import duckdb
import pytest

import __spark_entry__ as E
from occupation_wage_etl_spark import queries
from occupation_wage_etl_spark.queries import ORACLE_SQL, SPARK_QUERIES, TABLES
from tools.oracle_check import _value_hash, canon_rows


@pytest.fixture(scope="module")
def oracle(sf_tiny):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_tiny}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLE_SQL))
def test_query_matches_oracle(name, spark, sf_tiny, oracle):
    sdf = SPARK_QUERIES[name](spark, sf_tiny)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns

    cur = oracle.execute(ORACLE_SQL[name])
    ocols = [d[0] for d in cur.description]
    orows = [tuple(r) for r in cur.fetchall()]

    assert sorted(scols) == sorted(ocols), f"{name}: column names differ"
    assert len(srows) == len(orows), (
        f"{name}: row count {len(srows)} vs oracle {len(orows)}"
    )
    if _value_hash(srows, scols) != _value_hash(orows, ocols):
        s, o = canon_rows(srows, scols), canon_rows(orows, ocols)
        i = next(i for i, (a, b) in enumerate(zip(s, o)) if a != b)
        pytest.fail(
            f"{name} sorted row {i} over {sorted(scols)}: {s[i]} != oracle {o[i]}"
        )


def test_every_registry_query_is_oracle_paired():
    """The module's q<N>_* builders, both registries and both driver
    accessors name the same queries."""
    builders = {
        n for n, v in vars(queries).items()
        if re.fullmatch(r"q\d+_\w+", n) and callable(v)
    }
    assert builders == set(SPARK_QUERIES) == set(ORACLE_SQL)
    assert builders == set(E.queries()) == set(E.oracle_sql())
