#!/usr/bin/env python3
"""Profile one registry query, or the nightly warehouse DAG, run after
run in one session.

Usage:
    python tools/profile_query.py NAME [--runs N] [--sf DIR]
    python tools/profile_query.py --nightly MONTHS [--scale N] [--seed S]

Query mode runs NAME N times through the noop sink and prints, per
run, its wall time, Spark jobs and the generated classes Spark
compiled for it.  The first run pays the compiles of every plan the
query builds; a later run that still compiles many classes means its
generated code does not survive in the session's codegen cache
(``spark.sql.codegen.cache.maxEntries``, see session.py).  Runs are
separated by ``clearCache()`` as in bench.py.  The test-data directory
is ``--sf``, else $SPARK_GRAFT_SF_DIR; cores come from
$SPARK_GRAFT_CPUS.

Nightly mode builds the ``nightly_dag`` benchmark workload
(perfbench/: its seeded inputs landed as parquet, its session conf,
``build_warehouse_dag(validate=True)``), runs its warm-up (the first
month, then a re-run of it) and then MONTHS steady-state months.  In
each of those it runs the DAG's jobs one at a time in dependency
order and prints, per job, the Spark jobs and SQL executions it
started and the CPU seconds of the process tree (driver, JVM, Python
workers) it took.  One job at a time keeps the counts and the CPU
attributable; ``run_all`` runs independent jobs concurrently, so the
benchmark's wall time is not the sum printed here.  Scratch files go
under perfbench/.work/profile_nightly; cores are the process's CPU
affinity, as in the benchmark.
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
    ap.add_argument("name", nargs="?")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="test-data directory (default $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--nightly", type=int, metavar="MONTHS",
                    help="profile the nightly DAG for MONTHS steady months")
    ap.add_argument("--scale", type=int, default=3,
                    help="nightly input scale (default 3, the benchmark's)")
    ap.add_argument("--seed", type=int, default=11,
                    help="nightly input seed (default 11)")
    args = ap.parse_args()
    if (args.name is None) == (args.nightly is None):
        ap.error("pass a query NAME or --nightly MONTHS")
    if args.nightly is not None:
        nightly(args.nightly, args.scale, args.seed)
        return
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


def nightly(months: int, scale: int, seed: int) -> None:
    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    import run as bench
    from workloads import NightlyDag

    bench.bootstrap()
    spark = bench.start_session(len(os.sched_getaffinity(0)))
    sc = spark.sparkContext._jsc.sc()
    sql = spark._jsparkSession.sharedState().statusStore()

    def counters() -> tuple[int, int, float]:
        sc.listenerBus().waitUntilEmpty(30_000)
        return (sc.dagScheduler().nextJobId(), sql.executionsCount(),
                bench.tree_cpu_s())

    try:
        wl = NightlyDag(spark, os.path.join(bench.WORK, "profile_nightly"),
                        seed, scale=scale)
        wl.setup()
        reg = wl.reg
        order, done = [], set()
        while len(order) < len(reg.names()):
            name = next(n for n in reg.names() if n not in done
                        and set(reg[n].depends_on) <= done)
            order.append(name)
            done.add(name)
        print(f"nightly_dag scale {scale}, seed {seed}, {sc.master()}")
        for _ in range(2):  # the benchmark's warm-up: month 0 twice
            res = reg.run_all(spark, wl.run_date(0))
            if set(res.values()) != {"ok"}:
                sys.exit(f"warm-up nightly failed: {res}")
        width = max(map(len, order))
        for p in range(1, months + 1):
            print(f"month {wl.run_date(p):%Y-%m}\n  {'job':<{width}}  "
                  f"spark jobs  sql execs  cpu s")
            total = [0, 0, 0.0]
            for name in order:
                before = counters()
                reg[name].run(spark, wl.run_date(p))
                delta = [a - b for a, b in zip(counters(), before)]
                total = [t + d for t, d in zip(total, delta)]
                print(f"  {name:<{width}}  {delta[0]:10d}  {delta[1]:9d}  "
                      f"{delta[2]:5.2f}")
            print(f"  {'total':<{width}}  {total[0]:10d}  {total[1]:9d}  "
                  f"{total[2]:5.2f}")
    finally:
        bench.stop_session(spark)


if __name__ == "__main__":
    main()
