#!/usr/bin/env python
"""Time single queries with the noop sink, exactly like bench.py's timed
pass (lake layout, warm JVM, min over N samples), without the other 300
queries.  For optimization work: isolate one query, iterate fast.

Usage:
    python tools/profile_query.py q80_triangles q194_clustering_coeff
    SPARK_GRAFT_SAMPLES=4 python tools/profile_query.py q80_triangles

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS,
SPARK_GRAFT_LAKE=0 to skip the lake rewrite, SPARK_GRAFT_SAMPLES (default 3).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from occupation_wage_etl_spark.operators._cache import release_all  # noqa: E402
from occupation_wage_etl_spark.queries import SPARK_QUERIES  # noqa: E402
from occupation_wage_etl_spark.session import get_spark  # noqa: E402


def main() -> int:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_samples = int(os.environ.get("SPARK_GRAFT_SAMPLES", "3"))
    spark = get_spark("profile-query")
    spark.sparkContext.setLogLevel("ERROR")

    if os.environ.get("SPARK_GRAFT_LAKE", "1") != "0":
        sf_dir, ingest = bench.ingest_lake(spark, sf_dir, cpus)
        print(f"lake ingest: {ingest:.3f}s -> {sf_dir}")

    for name in names:
        fn = SPARK_QUERIES[name]
        spark.sparkContext.setJobDescription(f"{name}: warmup")
        bench.force(fn(spark, sf_dir))  # untimed: codegen + worker spin-up
        release_all(spark)
        samples = []
        for i in range(n_samples):
            spark.sparkContext.setJobDescription(f"{name}: timed {i}")
            t0 = time.perf_counter()
            bench.force(fn(spark, sf_dir))
            samples.append(time.perf_counter() - t0)
            release_all(spark)
        print(
            f"{name}: min={min(samples):.3f}s "
            f"samples={[round(s, 3) for s in samples]}"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
