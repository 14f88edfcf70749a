#!/usr/bin/env python3
"""Run one registry query N times through the noop sink and print,
per run, its wall time, Spark jobs and the generated classes Spark
compiled for it.

Usage:
    python tools/profile_query.py NAME [--runs N] [--sf DIR]

The first run pays the compiles of every plan the query builds; a
later run that still compiles many classes means its generated code
does not survive in the session's codegen cache
(``spark.sql.codegen.cache.maxEntries``, see session.py).  Runs are
separated by ``clearCache()`` as in bench.py.  The test-data directory
is ``--sf``, else $SPARK_GRAFT_SF_DIR; cores come from
$SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("name")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="test-data directory (default $SPARK_GRAFT_SF_DIR)")
    args = ap.parse_args()
    if not args.sf:
        ap.error("pass --sf or set SPARK_GRAFT_SF_DIR")

    from esg_decarbonization_data_integration_and_data_pipline_spark.plans.queries import REGISTRY
    from esg_decarbonization_data_integration_and_data_pipline_spark.session import (
        classes_compiled,
        get_spark,
    )

    if args.name not in REGISTRY:
        ap.error(f"unknown query {args.name!r}")
    spark = get_spark("decarb-profile",
                      conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    print(f"{args.name} at {args.sf}, {sc.master}, codegen cache "
          f"{spark.conf.get('spark.sql.codegen.cache.maxEntries')} entries")
    for i in range(1, args.runs + 1):
        spark.catalog.clearCache()
        group = f"profile:{args.name}:{i}"
        sc.setJobGroup(group, args.name)
        compiled = classes_compiled(spark)
        t0 = time.perf_counter()
        REGISTRY[args.name].fn(spark, args.sf).write.format("noop") \
            .mode("overwrite").save()
        wall = time.perf_counter() - t0
        compiled = classes_compiled(spark) - compiled
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        print(f"run {i}: {wall:8.3f} s  {jobs:4d} jobs  "
              f"{compiled:5d} classes compiled")
    spark.stop()


if __name__ == "__main__":
    main()
