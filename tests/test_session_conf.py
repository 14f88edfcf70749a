"""Session factory conf contract (r15): shuffle parallelism is
scale-adaptive -- derived from the session's core count with a
floor of 32 -- instead of a local-mode constant that would become
an under-partitioning ceiling on a real cluster (AQE only
coalesces DOWN from the static number).  Explicit conf and the
SPARK_GRAFT_SHUFFLE_PARTITIONS env override both win over the
derivation.  The codegen cache holds the engine's plan working set, so
a nightly DAG run after the first compiles almost nothing."""

from __future__ import annotations

import datetime as dt

from esg_decarbonization_data_integration_and_data_pipline_spark.pipelines.warehouse_dag import (
    build_warehouse_dag,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.session import (
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


def test_nightly_dag_reuses_generated_code(spark, tmp_path):
    """The first nightly creates the app tables and the second merges
    into them; every later month runs the second's plans again, so the
    third must take its generated classes from the codegen cache and
    compile only what its month literals change.  Spark's default cache
    (100 entries) is smaller than one nightly's working set and evicts
    every class before its reuse: each month then recompiles more than
    the first."""
    first = dt.date(2024, 1, 1)
    sources = {k: spark.createDataFrame(v) for k, v in
               gen.esg_sources(seed=7, scale=1, run_date=first).items()}
    reg = build_warehouse_dag(str(tmp_path / "wh"), sources,
                              base_year=2023, validate=True)
    compiled = []
    for m in range(3):
        before = classes_compiled(spark)
        results = reg.run_all(spark, gen.add_months(first, m))
        assert set(results.values()) == {"ok"}, results
        compiled.append(classes_compiled(spark) - before)
    assert compiled[0] > 100, compiled  # more than the default cache
    assert compiled[2] < 0.2 * compiled[0], compiled
