"""Time named registered queries through the noop sink.

Usage: python scripts/time_queries.py name1,name2 [n_runs]

Runs each named query ``n_runs`` times (default 5) under the project
session at ``$SPARK_GRAFT_SF_DIR`` (default sf0.1) and prints the
samples in run order plus the median. Warm-up and every timed run go
through bench.py's ``warm_up`` and ``time_once``, so the numbers are
comparable to suite medians without paying for the whole suite.
"""

from __future__ import annotations

import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    names = sys.argv[1].split(",")
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import time_once, warm_up
    from bdc_collection_builder_spark.plans.registry import (
        QUERY_REGISTRY, all_queries,
    )
    from bdc_collection_builder_spark.session import get_spark

    all_queries()
    spark = get_spark("time_queries")
    warm_up(spark, sf_dir)
    for name in names:
        fn = QUERY_REGISTRY[name].spark_fn
        samples = []
        for i in range(n_runs):
            spark.sparkContext.setJobDescription(f"{name} run {i}")
            samples.append(round(time_once(spark, fn, sf_dir), 3))
        print(f"{name}: median={statistics.median(samples):.3f} "
              f"samples={samples}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
