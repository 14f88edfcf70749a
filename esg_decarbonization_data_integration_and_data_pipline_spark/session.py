"""SparkSession factory with scale-oriented defaults.

The reference runs single-core pandas in one Flask container
(reference: Dockerfile:1-26, models/engine.py:35-58); our engine is a
SparkSession tuned for a multi-executor cluster. Tests and the local
bench run on ``local[N]`` but every setting below is chosen to also
hold on a 1000-executor cluster reading 100 TB:

- AQE on (runtime coalesce + skew-join splitting) so static
  ``shuffle.partitions`` only needs to be an upper bound;
- broadcast threshold raised: dimension tables (plant_mapping-like,
  region/nation/part) are KBs-to-MBs and must never sort-merge;
- Arrow enabled so the few Pandas-UDF operators batch efficiently;
- session timezone pinned to UTC for deterministic calendar math;
- codegen cache sized to the engine's plan working set.  The cache
  holds the Janino-compiled classes of generated code (whole-stage
  codegen, projections, predicates), keyed by their source, so a plan
  seen before skips the compile and runs bytecode HotSpot has already
  JIT-compiled.  One nightly DAG needs ~450 entries (counts beside
  DEFAULT_CONF); Spark's default of 100 evicts each class before its
  reuse, so every nightly, even an identical re-run of one month,
  recompiled ~400 classes and JIT-compiled them again.  A STATIC
  conf: it takes effect only when the session is first created --
  ``getOrCreate`` on an existing session keeps the old size;
- the DRIVER JVM's C2 tier thresholds raised 3x and the throughput
  (parallel) collector.  The driver runs Catalyst planning, analysis
  and codegen: code that is warm for one nightly but not hot.  With
  the default thresholds C2 compiled it anyway: JIT compiles took
  38-65% of a steady nightly's process CPU (``jit s`` in
  ``tools/profile_query.py --nightly``), and the short batch ended
  before those compiles paid back.  At 3x the JDK 17 tier-4 defaults
  C2 still compiles the hot loops (a steady query's compute does not
  slow, unlike C1-only JIT) but skips the lukewarm planner code.
  Executors on a cluster are untouched: they keep G1 and the default
  tiers for their long-running hot loops (in local mode the driver
  JVM is the whole engine).  Also a STATIC conf, applied only when
  ``get_spark`` launches the JVM.  Spark puts
  ``spark.driver.defaultJavaOptions`` before the caller's
  ``spark.driver.extraJavaOptions``, so both apply; a caller's own
  ``defaultJavaOptions`` replaces these.  To choose another
  collector, override that key: a second GC flag in
  ``extraJavaOptions`` conflicts with ``-XX:+UseParallelGC`` and the
  JVM does not start.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    # dynamic partition overwrite backs the idempotent
    # delete-slice-then-append write pattern (see io/writers.py)
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Janino codegen cache, sized to the engine's plan WORKING SET
    # (static conf: read once, when the session's JVM starts).
    # Distinct generated classes compiled by one session with an
    # unbounded cache, 4 cores: perfbench nightly_dag (30 sites, six
    # nightlies incl. the re-run of month 0) 595 -- 454 for the first
    # month's two runs, then 12-77 per new month; perfbench
    # lakehouse_rw 164; bench.py's 56 headline queries at sf0.1 (two
    # samples each, fixtures included) 1178.  2000 holds the largest
    # with ~1.7x headroom; the default 100 is below one nightly's
    # working set, so the LRU evicted every class before its reuse.
    "spark.sql.codegen.cache.maxEntries": "2000",
    # driver JVM flags (static: read when get_spark launches the JVM).
    # The tier-4 (C2) thresholds are JDK 17's defaults 5000/600/15000/
    # 40000, each x3; see the module docstring and the JIT/GC columns
    # of tools/profile_query.py --nightly for how they were sized
    "spark.driver.defaultJavaOptions":
        "-XX:+UseParallelGC -XX:Tier4InvocationThreshold=15000 "
        "-XX:Tier4MinInvocationThreshold=1800 "
        "-XX:Tier4CompileThreshold=45000 "
        "-XX:Tier4BackEdgeThreshold=120000",
}


def get_spark(app_name: str = "decarb-spark", master: str | None = None,
              conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no
    cluster manager is configured, mirroring how the bench harness
    runs; on a real cluster the master comes from spark-submit.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    merged = dict(DEFAULT_CONF)
    if conf:
        merged.update(conf)
    for k, v in merged.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # shuffle parallelism is SCALE-ADAPTIVE, not a constant (r15,
    # guide section 2.2): AQE only coalesces DOWN from the static
    # number, so a local-mode constant (the old "32") becomes an
    # under-partitioning ceiling on a real cluster.  The default
    # upper bound derives from the session's actual core count
    # (identical to the old value on local[32], so bench numbers
    # stay comparable; ~one wave per core elsewhere), floored at 32
    # so tiny local sessions keep enough split granularity for AQE
    # to work with.  Production jobs that know their shuffle BYTES
    # should size partitions at 100-1000 MB each instead, via the
    # explicit conf / SPARK_GRAFT_SHUFFLE_PARTITIONS override --
    # this is a parallelism bound, not a data-size tune.  Runtime-
    # mutable SQL conf, so it also applies when getOrCreate reuses
    # an existing session.
    explicit = conf and "spark.sql.shuffle.partitions" in conf
    env = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if env:
        spark.conf.set("spark.sql.shuffle.partitions", env)
    elif not explicit:
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(32, spark.sparkContext.defaultParallelism)))
    return spark


def classes_compiled(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this session's JVM
    (driver and, in local mode, executors): Spark's
    ``CodegenMetrics`` compilation counter.  A delta around a query
    or a DAG run counts the compiles the codegen cache did not
    save."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()
