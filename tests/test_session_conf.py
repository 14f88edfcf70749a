"""Session factory conf contract (r15): shuffle parallelism is
scale-adaptive -- derived from the session's core count with a
floor of 32 -- instead of a local-mode constant that would become
an under-partitioning ceiling on a real cluster (AQE only
coalesces DOWN from the static number).  Explicit conf and the
SPARK_GRAFT_SHUFFLE_PARTITIONS env override both win over the
derivation.  The codegen cache holds the engine's plan working set, so
a nightly DAG run after the first compiles almost nothing, and a
steady nightly launches no more Spark jobs than its committed budget.
The driver JVM runs with the engine's Java options (throughput
collector, raised C2 thresholds)."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from esg_decarbonization_data_integration_and_data_pipline_spark.io import writers as W
from esg_decarbonization_data_integration_and_data_pipline_spark.pipelines.warehouse_dag import (
    build_warehouse_dag,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.session import (
    DEFAULT_CONF,
    classes_compiled,
    get_spark,
)
from perfbench import gen


def test_shuffle_partitions_derive_from_parallelism(spark,
                                                    monkeypatch):
    # the shared test session passes an explicit "4": respected
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    # without an explicit conf, the floor-32 derivation applies to
    # the (reused) session; restore the explicit value afterwards
    s2 = get_spark("conf-probe", master="local[4]")
    try:
        par = s2.sparkContext.defaultParallelism
        assert s2.conf.get("spark.sql.shuffle.partitions") == \
            str(max(32, par))
        monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "99")
        s3 = get_spark("conf-probe-env", master="local[4]")
        assert s3.conf.get("spark.sql.shuffle.partitions") == "99"
    finally:
        s2.conf.set("spark.sql.shuffle.partitions", "4")


def test_driver_jvm_runs_the_engine_java_options(spark):
    """Every flag of ``spark.driver.defaultJavaOptions`` reaches the
    driver JVM's command line, and its collectors are the parallel
    collector's: the option is static, so only a session launched by
    ``get_spark`` shows it."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    args = set(mf.getRuntimeMXBean().getInputArguments())
    wanted = DEFAULT_CONF["spark.driver.defaultJavaOptions"].split()
    assert wanted and set(wanted) <= args, (wanted, sorted(args))
    collectors = {b.getName() for b in mf.getGarbageCollectorMXBeans()}
    assert collectors == {"PS Scavenge", "PS MarkSweep"}, collectors


@pytest.fixture(scope="module")
def three_nightlies(spark, tmp_path_factory):
    """The nine-job DAG on perfbench's scale-1 inputs for three
    consecutive months, run once for the tests below: per month the
    generated classes compiled and the Spark jobs launched."""
    first = dt.date(2024, 1, 1)
    sources = {k: spark.createDataFrame(v) for k, v in
               gen.esg_sources(seed=7, scale=1, run_date=first).items()}
    wh = str(tmp_path_factory.mktemp("nightly") / "wh")
    reg = build_warehouse_dag(wh, sources, base_year=2023, validate=True)
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    compiled, jobs = [], []
    for m in range(3):
        before = classes_compiled(spark), scheduler.nextJobId()
        results = reg.run_all(spark, gen.add_months(first, m))
        assert set(results.values()) == {"ok"}, results
        compiled.append(classes_compiled(spark) - before[0])
        jobs.append(scheduler.nextJobId() - before[1])
    return {"compiled": compiled, "jobs": jobs, "warehouse": wh}


def test_nightly_dag_reuses_generated_code(three_nightlies):
    """The first nightly creates the app tables and the second merges
    into them; every later month runs the second's plans again, so the
    third must take its generated classes from the codegen cache and
    compile only what its month literals change.  Spark's default cache
    (100 entries) is smaller than one nightly's working set and evicts
    every class before its reuse: each month then recompiles more than
    the first."""
    compiled = three_nightlies["compiled"]
    assert compiled[0] > 100, compiled  # more than the default cache
    assert compiled[2] < 0.2 * compiled[0], compiled


# Spark jobs of the third nightly above, measured on the test session
# (local[4], 4 shuffle partitions).  When every read_table inferred its
# schema with a Spark job and replace_keys ran its batch plan twice,
# the same nightly launched 131; when the jobs with several consumers
# of one intermediate computed it once per consumer and replace_keys
# deduplicated the keys of its anti join, 108.
NIGHTLY_JOBS = 86


def test_nightly_dag_spark_job_budget(spark, three_nightlies):
    """Regression guard on the Spark work of a steady-state nightly:
    the third month launches at most NIGHTLY_JOBS Spark jobs, and
    reading any of the warehouse's tables plans from parquet footers
    without launching one."""
    jobs = three_nightlies["jobs"]
    assert jobs[2] <= NIGHTLY_JOBS, (jobs, NIGHTLY_JOBS)
    wh = three_nightlies["warehouse"]
    tables = [os.path.join(wh, layer, t)
              for layer in ("raw.db", "staging.db", "app.db")
              for t in sorted(os.listdir(os.path.join(wh, layer)))]
    assert len(tables) == 10
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = scheduler.nextJobId()
    frames = [W.read_table(spark, t) for t in tables]
    assert scheduler.nextJobId() == before, "read_table started a job"
    for t, df in zip(tables, frames):
        assert df.schema == spark.read.parquet(t).schema, t
