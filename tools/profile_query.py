#!/usr/bin/env python3
"""Profile one registry query, or the nightly warehouse DAG, run after
run in one session.

Usage:
    python tools/profile_query.py NAME [--runs N] [--sf DIR]
    python tools/profile_query.py --nightly MONTHS [--scale N] [--seed S]
    python tools/profile_query.py --lakehouse PASSES [--seed S]

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
started, the Scan nodes in those executions' plans, the CPU seconds
of the process tree (driver, JVM, Python workers) it took, and the
JVM's JIT and GC time in it.  A job that scans more often than it has
inputs and outputs to read computes part of its upstream more than
once.  ``jit s`` is the delta of the JVM's ``CompilationMXBean``
total compilation time (C1 and C2 compiler threads), ``gc s`` that of
the summed ``GarbageCollectorMXBean`` collection times; both are
elapsed time inside the JVM, not CPU.  They come from the MXBeans
rather than from sampling per-thread CPU under /proc because JDK 17
starts and stops compiler threads on demand
(``UseDynamicNumberOfCompilerThreads``), and a thread's CPU leaves
/proc with it: in one probe, 10.5 of a month's 19.6 s of JVM CPU was
in threads that had exited before the month ended, so thread sampling
misses most of the JIT.  One job at a time keeps the counts and the
CPU attributable; ``run_all`` runs independent jobs concurrently, so
the benchmark's wall time is not the sum printed here.  Scratch files go under perfbench/.work/profile_nightly;
cores are the process's CPU affinity, as in the benchmark.

Lakehouse mode builds the ``lakehouse_rw`` benchmark workload (its
seeded versioned table and the two registry queries' inputs), runs its
warm-up pass and then PASSES timed passes, printing per op the same
columns as nightly mode.  Each op's untimed preparation and output
check run outside the counted window, as in the benchmark.  Scratch
files go under perfbench/.work/profile_lakehouse.
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
    ap.add_argument("--lakehouse", type=int, metavar="PASSES",
                    help="profile lakehouse_rw for PASSES timed passes")
    ap.add_argument("--scale", type=int, default=3,
                    help="nightly input scale (default 3, the benchmark's)")
    ap.add_argument("--seed", type=int, default=11,
                    help="workload input seed (default 11)")
    args = ap.parse_args()
    modes = [args.name, args.nightly, args.lakehouse]
    if sum(m is not None for m in modes) != 1:
        ap.error("pass a query NAME, --nightly MONTHS or --lakehouse "
                 "PASSES")
    if args.nightly is not None:
        nightly(args.nightly, args.scale, args.seed)
        return
    if args.lakehouse is not None:
        lakehouse(args.lakehouse, args.seed)
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


class Counters:
    """Spark jobs, SQL executions and Scan nodes so far, the process
    tree's CPU seconds and the JVM's JIT and GC seconds."""

    HEADER = "spark jobs  sql execs  scans  cpu s  jit s   gc s"

    def __init__(self, spark, bench) -> None:
        self.bench = bench
        self.sc = spark.sparkContext._jsc.sc()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        mf = spark._jvm.java.lang.management.ManagementFactory
        self.jit = mf.getCompilationMXBean()
        self.gcs = mf.getGarbageCollectorMXBeans()
        self.next_exec = self.scans = 0

    def read(self) -> tuple[int, int, int, float, float, float]:
        """Scans are counted in the plan graphs (the final adaptive
        plans) of the executions that finished since the previous
        call."""
        sql = self.sql
        self.sc.listenerBus().waitUntilEmpty(30_000)
        while not sql.execution(self.next_exec).isEmpty():
            nodes = sql.planGraph(self.next_exec).allNodes()
            self.scans += sum(1 for i in range(nodes.size())
                              if nodes.apply(i).name().startswith(
                                  ("Scan", "BatchScan")))
            self.next_exec += 1
        return (self.sc.dagScheduler().nextJobId(),
                sql.executionsCount(), self.scans,
                self.bench.tree_cpu_s(),
                self.jit.getTotalCompilationTime() / 1e3,
                sum(g.getCollectionTime() for g in self.gcs) / 1e3)

    def table(self, title: str, label: str, steps) -> None:
        """Run ``steps`` -- (name, prepare, run, check) tuples, None
        for no prepare or check -- one at a time and print each
        one's counter deltas, counted around ``run`` only, and the
        total."""
        width = max(len(label), *(len(st[0]) for st in steps))
        print(f"{title}\n  {label:<{width}}  {self.HEADER}")
        total = [0, 0, 0, 0.0, 0.0, 0.0]
        for name, prepare, run, check in steps:
            if prepare is not None:
                prepare()
            before = self.read()
            out = run()
            delta = [a - b for a, b in zip(self.read(), before)]
            if check is not None:
                check(out)
            total = [t + d for t, d in zip(total, delta)]
            print(f"  {name:<{width}}  {self.row(delta)}")
        print(f"  {'total':<{width}}  {self.row(total)}")

    @staticmethod
    def row(d) -> str:
        return (f"{d[0]:10d}  {d[1]:9d}  {d[2]:5d}  {d[3]:5.2f}  "
                f"{d[4]:5.2f}  {d[5]:5.2f}")


def _bench():
    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    import run as bench

    bench.bootstrap()
    return bench


def nightly(months: int, scale: int, seed: int) -> None:
    bench = _bench()
    from workloads import NightlyDag

    spark = bench.start_session(len(os.sched_getaffinity(0)))
    try:
        counters = Counters(spark, bench)
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
        print(f"nightly_dag scale {scale}, seed {seed}, "
              f"{spark.sparkContext.master}")
        for _ in range(2):  # the benchmark's warm-up: month 0 twice
            res = reg.run_all(spark, wl.run_date(0))
            if set(res.values()) != {"ok"}:
                sys.exit(f"warm-up nightly failed: {res}")
        for p in range(1, months + 1):
            counters.table(
                f"month {wl.run_date(p):%Y-%m}", "job",
                [(name, None,
                  lambda name=name: reg[name].run(spark, wl.run_date(p)),
                  None) for name in order])
    finally:
        bench.stop_session(spark)


def lakehouse(passes: int, seed: int) -> None:
    bench = _bench()

    spark = bench.start_session(len(os.sched_getaffinity(0)))
    try:
        counters = Counters(spark, bench)
        work = os.path.join(bench.WORK, "profile_lakehouse")
        wl = bench.make_workload("lakehouse_rw", spark, work, seed)
        wl.setup()
        print(f"lakehouse_rw seed {seed}, {spark.sparkContext.master}")
        h = bench.Harness(spark, wl, bench.Tracer(), None)
        h.run_pass(wl.warmup_ops(), "warmup", -1)
        if any(r.error for r in h.records):
            sys.exit(f"warm-up pass failed: "
                     f"{[r.error for r in h.records if r.error]}")
        for p in range(passes):
            counters.table(f"pass {p}", "op",
                           [(op.name, op.prepare, op.run, op.check)
                            for op in wl.pass_ops(p)])
        wl.close()
    finally:
        bench.stop_session(spark)


if __name__ == "__main__":
    main()
