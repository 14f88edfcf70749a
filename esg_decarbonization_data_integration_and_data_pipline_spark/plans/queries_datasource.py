"""Declared queries, part 5: driver-graded audits of the Spark-4
Python DataSource face (sources/versioned_source) and the
vacuum/clone/stream retention contract (io/versioned.vacuum,
io/clone, io/purge).

The r11 DataSource tier (``format("versioned_table")`` batch time
travel + the append-only streaming tail) was pytest-only; these
queries put both behind the external DuckDB oracle: the Spark side
exercises the format() face end-to-end (schema resolution, per-file
partition planning, Arrow-aligned executor reads, engine-checkpointed
streaming offsets, the rewrite-refusal/skipChangeCommits contract),
while the oracle re-derives every expected cell from the raw parquet
alone.  The retention audit pins the CROSS-feature contract the
io/clone and versioned-source docstrings promise: vacuum on a source
can strand a shallow clone (loud failure), never a deep clone, never
the source itself; purge refuses external references; a lagging
stream whose diff base was reaped fails loudly instead of silently
re-emitting.

The reference has no format()-pluggable source or retention story at
all (pandas read_sql + truncate-and-reload, e.g.
models/engine_source.py:39-52, jobs/csr_etl.py:157); these queries
grade what those surfaces become once a versioned lakehouse exists.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from esg_decarbonization_data_integration_and_data_pipline_spark.plans.fixtures import (
    audit_state,
    copy_fixture,
    orders_versioned_fixture,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.plans.queries import register

_BASE_CTE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority,
         o_custkey, CAST(year(o_orderdate) AS INT) AS yr
  FROM orders WHERE year(o_orderdate) IN (1997, 1998))
"""


def _tmp(prefix: str) -> str:
    root = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, root, True)
    return root


@register("datasource_timetravel_audit", "ext:py-datasource,P3,A1",
          oracle=_BASE_CTE + """,
vers AS (
  SELECT 1 AS version, o_totalprice, CAST(NULL AS VARCHAR) AS note
  FROM base WHERE yr = 1997
  UNION ALL SELECT 2, o_totalprice, NULL FROM base
  UNION ALL SELECT 3, o_totalprice, NULL
  FROM base WHERE o_orderkey % 7 <> 0
  UNION ALL SELECT 4, o_totalprice, NULL
  FROM base WHERE o_orderkey % 7 <> 0
  UNION ALL SELECT 4, o_totalprice, 'X'
  FROM base WHERE yr = 1998 AND o_orderkey % 19 = 0)
SELECT version, count(*) AS n_rows,
       round(sum(o_totalprice), 4) AS total_price,
       count(note) AS n_note
FROM vers GROUP BY version
""")
def datasource_timetravel_audit(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Batch time travel through ``spark.read.format(
    "versioned_table").option("version", n)`` (sources/
    versioned_source), driver-gradable end-to-end against the raw
    parquet.  A COPY of the shared 3-commit fixture gains a fourth,
    SCHEMA-EVOLVING commit (a ``note`` string column on a small
    appended slice, merge_schema); the query then reads every version
    1..4 back exclusively through the format() face and aggregates
    rowcount / price total / non-null-note count per version.  What
    the oracle convicts: per-version partition planning (v1 = the
    1997 slice, v2 = +1998, v3 = the %7 delete applied), each
    version's PINNED schema (v1-v3 carry no note column at all -- the
    frame is built without it), and v4's NULL alignment, where the
    inherited pre-evolution files must surface ``note`` as NULL while
    exactly the appended slice carries 'X' (n_note counts only it).
    Planning is driver-side manifest metadata (no Spark jobs); one
    InputPartition per data file; executors stream Arrow batches
    aligned to the pinned schema.  This face trades ~3.7x scan
    throughput for format() pluggability (SCALE.md) -- bulk batch
    scans belong on io.versioned.read_version, which shares the same
    manifests.  The 4-commit fixture build is process-memoized
    (plans/fixtures.audit_state, r12 verdict bench-hygiene item); the
    graded derivation -- eight format() reads + aggregation -- runs
    live every call."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.sources.versioned_source import (
        register as register_ds,
    )

    def build() -> dict:
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
            append_version, read_version,
        )

        td = copy_fixture(orders_versioned_fixture(spark, sf_dir))
        batch = (read_version(spark, td, 2)
                 .filter((F.col("yr") == 1998)
                         & (F.col("o_orderkey") % 19 == 0))
                 .withColumn("note", F.lit("X")))
        append_version(batch, td, merge_schema=True)
        return {"td": td, "dirs": (td,)}

    td = audit_state("ds_timetravel", sf_dir, build)["td"]
    register_ds(spark)
    # the four per-version reads union into ONE Spark job (the
    # bloom_point_lookup r12 pattern) instead of paying four rounds
    # of job scheduling; each read still plans against its own PINNED
    # schema (v1-v3 genuinely lack `note` -- the NULL column is
    # attached above the scan, so count("note")=0 for them exactly as
    # the per-version frames produced)
    frames = []
    for v in (1, 2, 3, 4):
        df = (spark.read.format("versioned_table")
              .option("path", td).option("version", str(v)).load())
        note = (F.col("note") if "note" in df.columns
                else F.lit(None).cast("string"))
        frames.append(df.select(
            F.lit(v).cast("int").alias("version"),
            "o_totalprice", note.alias("note")))
    u = frames[0]
    for f in frames[1:]:
        u = u.unionByName(f)
    rows = [(int(r["version"]), int(r["n"]), float(r["s"]),
             int(r["nn"]))
            for r in (u.groupBy("version")
                      .agg(F.count(F.lit(1)).alias("n"),
                           F.round(F.sum("o_totalprice"), 4)
                            .alias("s"),
                           F.count("note").alias("nn"))).collect()]
    return spark.createDataFrame(
        sorted(rows),
        "version int, n_rows bigint, total_price double, "
        "n_note bigint")


@register("datasource_stream_tail_audit", "ext:py-datasource,P3,A1",
          oracle=_BASE_CTE + """,
g AS (SELECT yr, count(*) AS n_rows,
             round(sum(o_totalprice), 4) AS total_price
      FROM base GROUP BY yr),
a AS (SELECT 1998 AS yr, count(*) AS n_rows,
             round(sum(o_totalprice), 4) AS total_price
      FROM base WHERE yr = 1998 AND o_orderkey % 19 = 0)
SELECT 'initial' AS stage, yr, n_rows, total_price FROM g
UNION ALL SELECT 'resume', yr, n_rows, total_price FROM a
UNION ALL SELECT 'from_v3', yr, n_rows, total_price FROM a
UNION ALL SELECT 'rewrite_refused', -1, CAST(1 AS BIGINT), 0.0
""")
def datasource_stream_tail_audit(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """The append-only streaming tail through ``spark.readStream
    .format("versioned_table")`` (sources/versioned_source),
    driver-gradable end-to-end.  Four stages over a COPY of the
    shared fixture, each stage's rows re-derived by the oracle from
    the raw parquet alone:

    - ``initial``: an availableNow drain with skipChangeCommits over
      the 3-commit chain delivers v1's files plus v2's ADDED files
      (the v3 delete-rewrite is skipped) = every base row exactly
      once -- per-year counts/totals must match the raw parquet.
    - ``resume``: a fourth commit (the %19 slice of 1998, status
      stamped 'T4' so delivered rows are attributable) lands and the
      SAME checkpoint drains again -- the engine-checkpointed offset
      must resume at exactly v4, emitting only the new slice.
    - ``from_v3``: a FRESH checkpoint with startingVersion=3 must
      emit the same slice (changes strictly after v3).
    - ``rewrite_refused``: a fresh stream WITHOUT skipChangeCommits
      must refuse the v3 rewrite commit loudly (Delta's contract);
      the constant row is recorded only if the refusal fired with
      the documented message.

    Offsets are committed version numbers checkpointed by the
    engine; partition planning per micro-batch is manifest metadata
    (added files only), so replays re-emit identical batches.  The
    commit + drain choreography (4 availableNow drains with
    checkpoint restarts -- pure scheduling cost, ~7.7 s at sf0.1) is
    process-memoized (plans/fixtures.audit_state); the graded
    derivation re-aggregates the delivered parquet live every call,
    and the refusal check observed the transient non-skip stream
    during the build (flag in state)."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.sources.versioned_source import (
        register as register_ds,
    )

    def build() -> dict:
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
            append_version, read_version,
        )

        td = copy_fixture(orders_versioned_fixture(spark, sf_dir))
        register_ds(spark)
        root = _tmp("ds_stream_aud_")
        out1, ck1 = (os.path.join(root, "out1"),
                     os.path.join(root, "ck1"))

        def drain(out, ck, skip=False, starting=None):
            r = (spark.readStream.format("versioned_table")
                 .option("path", td))
            if skip:
                r = r.option("skipChangeCommits", "true")
            if starting is not None:
                r = r.option("startingVersion", str(starting))
            q = (r.load().writeStream.format("parquet")
                 .option("path", out).option("checkpointLocation", ck)
                 .trigger(availableNow=True).start())
            q.awaitTermination()

        drain(out1, ck1, skip=True)
        batch = (read_version(spark, td, 2)
                 .filter((F.col("yr") == 1998)
                         & (F.col("o_orderkey") % 19 == 0))
                 .withColumn("o_orderstatus", F.lit("T4")))
        append_version(batch, td)
        drain(out1, ck1, skip=True)  # same checkpoint: resumes at v4

        out2, ck2 = (os.path.join(root, "out2"),
                     os.path.join(root, "ck2"))
        drain(out2, ck2, starting=3)

        refused = False
        out3, ck3 = (os.path.join(root, "out3"),
                     os.path.join(root, "ck3"))
        try:
            drain(out3, ck3, skip=False)
        except Exception as exc:  # noqa: BLE001 -- refusal contract
            if "skipChangeCommits" not in str(exc):
                raise
            refused = True
        return {"out1": out1, "out2": out2, "refused": refused,
                "dirs": (td, out1, out2)}

    st = audit_state("ds_stream_tail", sf_dir, build)
    out1, out2 = st["out1"], st["out2"]
    # one Spark job, one scan of each drained directory (the
    # bloom_point_lookup r12 pattern): the initial/resume split is a
    # row-level tag over the SAME out1 scan (T4 stamps exactly the
    # resumed slice), instead of two filtered re-scans plus a third
    # job for out2
    u = (spark.read.parquet(out1)
         .select(F.when(F.col("o_orderstatus") == "T4", "resume")
                  .otherwise("initial").alias("stage"),
                 "yr", "o_totalprice")
         .unionByName(
             spark.read.parquet(out2)
             .select(F.lit("from_v3").alias("stage"), "yr",
                     "o_totalprice")))
    rows = [(r["stage"], int(r["yr"]), int(r["n"]), float(r["s"]))
            for r in (u.groupBy("stage", "yr")
                      .agg(F.count(F.lit(1)).alias("n"),
                           F.round(F.sum("o_totalprice"), 4)
                            .alias("s"))).collect()]
    rows.sort()
    if st["refused"]:
        rows.append(("rewrite_refused", -1, 1, 0.0))
    return spark.createDataFrame(
        rows, "stage string, yr int, n_rows bigint, "
              "total_price double")


@register("datasource_cdf_audit", "ext:py-datasource-cdf,P3,A1",
          oracle=_BASE_CTE + """
SELECT 'stream' AS stage, 1 AS version, 'insert' AS change_type, yr,
       count(*) AS n_rows, round(sum(o_totalprice), 4) AS total_price
FROM base WHERE yr = 1997 GROUP BY yr
UNION ALL
SELECT 'stream', 2, 'insert', yr, count(*),
       round(sum(o_totalprice), 4)
FROM base WHERE yr = 1998 GROUP BY yr
UNION ALL
SELECT 'stream', 3, 'delete', yr, count(*),
       round(sum(o_totalprice), 4)
FROM base WHERE o_orderkey % 7 = 0 GROUP BY yr
UNION ALL
SELECT 'batch', 3, 'delete', yr, count(*),
       round(sum(o_totalprice), 4)
FROM base WHERE o_orderkey % 7 = 0 GROUP BY yr
""")
def datasource_cdf_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change feed through the DataSource face
    (``readChangeFeed``, sources/versioned_source) -- Delta's CDF
    contract, driver-gradable end-to-end against the raw parquet.
    The shared fixture is consumed READ-ONLY two ways:

    - ``stream``: ``spark.readStream...option("readChangeFeed",
      "true")`` drained to completion over the whole 3-commit chain.
      v1/v2 must surface as per-added-file inserts; v3 -- the %7
      keyed DELETE, a rewrite commit the plain tail refuses -- must
      surface as row-level deletes of EXACTLY the %7 keys, computed
      by the executor-side multiset diff of the commit's removed vs
      rewritten files and attributed to ``_commit_version`` 3.
    - ``batch``: ``spark.read...option("startingVersion", "2")``
      must return exactly v3's deletes (the read_changes
      exclusive-start convention through the format() face).

    The oracle re-derives every (version, change_type, yr) cell from
    the raw parquet, so an over-wide diff (innocent rows deleted), an
    under-wide one (spurious inserts from the rewritten survivors),
    or mis-attribution across commits all hash-mismatch.  Planning is
    manifest metadata; the diff partition is O(rewritten bytes) --
    commit-sized for keyed deletes, and compactions plan to nothing
    (#base row-identical).  The stream drain (availableNow
    scheduling, not engine cost) is process-memoized
    (plans/fixtures.audit_state); the batch CDF read -- the actual
    executor-side multiset diff -- runs live every call."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.sources.versioned_source import (
        register as register_ds,
    )

    td = orders_versioned_fixture(spark, sf_dir)
    register_ds(spark)

    def build() -> dict:
        root = _tmp("ds_cdf_aud_")
        out, ck = os.path.join(root, "out"), os.path.join(root, "ck")
        q = (spark.readStream.format("versioned_table")
             .option("path", td).option("readChangeFeed", "true")
             .load()
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return {"out": out, "dirs": (td, out)}

    out = audit_state("ds_cdf", sf_dir, build)["out"]
    # both derivations union into ONE Spark job (the
    # bloom_point_lookup r12 pattern): the drained-parquet replay and
    # the live batch CDF read (the executor-side multiset diff) each
    # keep their own scan; one groupBy serves both stages
    cols = ["_commit_version", "_change_type", "yr", "o_totalprice"]
    u = (spark.read.parquet(out)
         .select(F.lit("stream").alias("stage"), *cols)
         .unionByName(
             spark.read.format("versioned_table")
             .option("path", td).option("readChangeFeed", "true")
             .option("startingVersion", "2").load()
             .select(F.lit("batch").alias("stage"), *cols)))
    rows = [(r["stage"], int(r["_commit_version"]),
             r["_change_type"], int(r["yr"]), int(r["n"]),
             float(r["s"]))
            for r in (u.groupBy("stage", "_commit_version",
                                "_change_type", "yr")
                      .agg(F.count(F.lit(1)).alias("n"),
                           F.round(F.sum("o_totalprice"), 4)
                            .alias("s"))).collect()]
    return spark.createDataFrame(
        sorted(rows),
        "stage string, version int, change_type string, "
        "yr int, n_rows bigint, total_price double")


@register("datasource_pushdown_audit", "ext:py-datasource-pushdown,P3,A1",
          oracle=_BASE_CTE + """,
cur AS (SELECT * FROM base WHERE o_orderkey % 7 <> 0),
b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi FROM cur),
bc AS (SELECT min(o_custkey) AS ck FROM cur)
SELECT 'eq_min' AS stage, count(*) AS n_rows,
       round(coalesce(sum(o_totalprice), 0.0), 4) AS sum_price
FROM cur, b WHERE o_orderkey = b.lo
UNION ALL SELECT 'eq_absent', count(*),
       round(coalesce(sum(o_totalprice), 0.0), 4)
FROM cur WHERE o_orderkey = 1000000007
UNION ALL SELECT 'bloom_eq', count(*),
       round(coalesce(sum(o_totalprice), 0.0), 4)
FROM cur, bc WHERE o_custkey = bc.ck
UNION ALL SELECT 'range_head', count(*),
       round(coalesce(sum(o_totalprice), 0.0), 4)
FROM cur, b WHERE o_orderkey <= b.lo + 1000
UNION ALL SELECT 'in_three', count(*),
       round(coalesce(sum(o_totalprice), 0.0), 4)
FROM cur, b WHERE o_orderkey IN (b.lo, b.hi, 1000000007)
""")
def datasource_pushdown_audit(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Filter pushdown through the DataSource face
    (``.option("pushdown", "true")``, sources/versioned_source),
    driver-gradable end-to-end.  A COPY of the shared fixture is
    key-clustered (compact_table sort_by o_orderkey into small
    stats-tracked files -- the layout pruning needs) and given a
    consolidated bloom index on the non-clustered o_custkey; five
    predicate shapes then read EXCLUSIVELY through the pushdown
    reader: clustered equality at the key-space minimum, an absent
    sentinel (every file stats-pruned -- the planned-partition list
    is empty and the read must return a well-typed zero, not an
    error), a bloom-pruned equality on the unclustered column, a
    head range, and a three-value IN.  The oracle re-derives each
    (count, sum) from the raw parquet, so OVER-pruning -- the one
    failure mode pure-pruning pushdown can have, a file wrongly
    skipped dropping rows -- hash-mismatches externally; the pruning
    ratios themselves are pinned by tests/
    test_versioned_source_pushdown.py and measured in SCALE.md
    (1.9-3.0x at 128 files; the ratio IS the file-prune ratio).
    The clustered-layout build (compact + bloom sidecars + key-space
    probe) is process-memoized (plans/fixtures.audit_state); the five
    pushdown reads -- the graded engine path -- run live every
    call."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.sources.versioned_source import (
        register as register_ds,
    )

    def build() -> dict:
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.bloom_index import (
            build_bloom_index, consolidate_bloom_index,
        )
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
            compact_table, read_current,
        )

        td = copy_fixture(orders_versioned_fixture(spark, sf_dir))
        compact_table(spark, td, sort_by=["o_orderkey"],
                      sort_partitions=8,
                      stats_columns=["o_orderkey", "o_custkey"])
        build_bloom_index(spark, td, "o_custkey")
        consolidate_bloom_index(td, "o_custkey")
        probe = read_current(spark, td).agg(
            F.min("o_orderkey").alias("lo"),
            F.max("o_orderkey").alias("hi"),
            F.min("o_custkey").alias("ck")).collect()[0]
        return {"td": td, "lo": int(probe["lo"]),
                "hi": int(probe["hi"]), "ck": int(probe["ck"]),
                "dirs": (td,)}

    st = audit_state("ds_pushdown", sf_dir, build)
    td, lo, hi, ck = st["td"], st["lo"], st["hi"], st["ck"]
    register_ds(spark)
    cases = [
        ("eq_min", f"o_orderkey = {lo}"),
        ("eq_absent", "o_orderkey = 1000000007"),
        ("bloom_eq", f"o_custkey = {ck}"),
        ("range_head", f"o_orderkey <= {lo + 1000}"),
        ("in_three", f"o_orderkey in ({lo}, {hi}, 1000000007)"),
    ]
    # the five pushdown probes union into ONE Spark job (the
    # bloom_point_lookup r12 pattern): pushdown planning is per scan
    # node, so each probe still prunes its own partition list;
    # stages whose probe prunes to zero rows (eq_absent plans an
    # EMPTY partition list) vanish from the groupBy and are filled
    # driver-side with the same (0, 0.0) the per-probe coalesce
    # produced
    frames = []
    for stage, cond in cases:
        frames.append(
            spark.read.format("versioned_table")
            .option("path", td).option("pushdown", "true").load()
            .filter(cond)
            .select(F.lit(stage).alias("stage"), "o_totalprice"))
    u = frames[0]
    for f in frames[1:]:
        u = u.unionByName(f)
    got = {r["stage"]: (int(r["n"]), float(r["s"]))
           for r in (u.groupBy("stage")
                     .agg(F.count(F.lit(1)).alias("n"),
                          F.round(F.sum("o_totalprice"), 4)
                           .alias("s"))).collect()}
    rows = [(stage, *got.get(stage, (0, 0.0)))
            for stage, _cond in cases]
    return spark.createDataFrame(
        rows, "stage string, n_rows bigint, sum_price double")


@register("datasource_write_audit", "ext:py-datasource-write,P3,A1",
          oracle=_BASE_CTE + """,
y97 AS (SELECT count(*) AS n_rows,
               round(sum(o_totalprice), 4) AS total_price
        FROM base WHERE yr = 1997),
al AS (SELECT count(*) AS n_rows,
              round(sum(o_totalprice), 4) AS total_price FROM base),
sl AS (SELECT count(*) AS n_rows,
              round(sum(o_totalprice), 4) AS total_price
       FROM base WHERE yr = 1998 AND o_orderkey % 19 = 0)
SELECT 'batch' AS stage, 1 AS version, n_rows, total_price FROM y97
UNION ALL SELECT 'batch', 2, n_rows, total_price FROM al
UNION ALL SELECT 'batch', 3, n_rows, total_price FROM sl
UNION ALL SELECT 'stream', 1, n_rows, total_price FROM y97
UNION ALL SELECT 'stream', 2, n_rows, total_price FROM al
UNION ALL SELECT 'replay_noop', -1, CAST(1 AS BIGINT), 0.0
UNION ALL SELECT 'stream_idempotent', -1, 1, 0.0
""")
def datasource_write_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE face of ``format("versioned_table")``
    (sources/versioned_source _VersionedBatchWriter /
    _VersionedStreamWriter), driver-gradable end-to-end with NO
    function-API write in the loop:

    - ``batch``: ``df.write`` appends the 1997 slice (v1, with a
      ``txn`` marker) then the 1998 slice (v2), and
      ``mode("overwrite")`` snapshots the %19 slice (v3 -- truncate-
      and-load WITH history).  Every version is read back through
      the format() read face and must match the raw parquet: v1/v2
      prove the inheriting append manifests, v3 proves the snapshot
      kept v2 time-travelable.
    - ``replay_noop``: re-running the v1 write job with the SAME txn
      marker after v3 must not create a version (markers carry
      forward across commits) -- recorded only if current stayed 3.
    - ``stream``: ``df.writeStream`` (txnAppId) commits one version
      per micro-batch into a second table; two availableNow drains
      produce v1 = the 1997 slice and v2 = +1998, and a third drain
      with no new data must commit nothing (``stream_idempotent``).

    The writers stage Arrow batches straight to parquet parts in
    executors and commit through the SAME claim -> manifest ->
    pointer loop as append_version (io.versioned._commit_staged_dir)
    -- one commit protocol, graded here through its second stager.
    The write choreography (3 batch commits + replay + 3 stream
    drains, ~6.4 s of commit/drain scheduling at sf0.1) is
    process-memoized (plans/fixtures.audit_state) with the replay /
    idempotency contract checks observed during the build; the graded
    read-back of every committed version through the format() face
    runs live every call."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.sources.versioned_source import (
        register as register_ds,
    )

    register_ds(spark)

    def build() -> dict:
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import current_version
        from esg_decarbonization_data_integration_and_data_pipline_spark.tables import table

        root = _tmp("ds_write_aud_")
        td, td2 = os.path.join(root, "t"), os.path.join(root, "t2")
        base = (table(spark, sf_dir, "orders")
                .filter(F.year("o_orderdate").isin(1997, 1998))
                .select("o_orderkey", "o_orderstatus", "o_totalprice",
                        "o_orderpriority", "o_custkey",
                        F.year("o_orderdate").cast("int").alias("yr")))

        def write(df, mode="append", txn=None):
            w = (df.write.format("versioned_table").option("path", td)
                 .option("statsColumns", "o_orderkey").mode(mode))
            if txn:
                w = w.option("txn", txn)
            w.save()

        write(base.filter(F.col("yr") == 1997), txn="aud:1997")
        write(base.filter(F.col("yr") == 1998))
        write(base.filter((F.col("yr") == 1998)
                          & (F.col("o_orderkey") % 19 == 0)),
              mode="overwrite")
        write(base.filter(F.col("yr") == 1997), txn="aud:1997")  # replay
        replay_noop = current_version(td) == 3

        src, ck = os.path.join(root, "src"), os.path.join(root, "ck")
        (base.filter(F.col("yr") == 1997).write.mode("overwrite")
         .parquet(os.path.join(src, "b0")))

        def drain():
            q = (spark.readStream.schema(base.schema)
                 .parquet(src + "/*")
                 .writeStream.format("versioned_table")
                 .option("path", td2).option("txnAppId", "aud-stream")
                 .option("checkpointLocation", ck)
                 .trigger(availableNow=True).start())
            q.awaitTermination()

        drain()
        (base.filter(F.col("yr") == 1998).write.mode("overwrite")
         .parquet(os.path.join(src, "b1")))
        drain()
        v_before = current_version(td2)
        drain()
        stream_idem = current_version(td2) == v_before
        return {"td": td, "td2": td2, "replay_noop": replay_noop,
                "stream_idempotent": stream_idem,
                "dirs": (td, td2)}

    st = audit_state("ds_write", sf_dir, build)
    td, td2 = st["td"], st["td2"]
    # the five committed-version read-backs union into ONE Spark job
    # (the bloom_point_lookup r12 pattern) instead of five rounds of
    # job scheduling; every version is still read through its own
    # format() scan against its own manifest
    frames = []
    for stage, path, versions in (("batch", td, (1, 2, 3)),
                                  ("stream", td2, (1, 2))):
        for v in versions:
            frames.append(
                spark.read.format("versioned_table")
                .option("path", path).option("version", str(v)).load()
                .select(F.lit(stage).alias("stage"),
                        F.lit(v).cast("int").alias("version"),
                        "o_totalprice"))
    u = frames[0]
    for f in frames[1:]:
        u = u.unionByName(f)
    rows = [(r["stage"], int(r["version"]), int(r["n"]),
             float(r["s"]))
            for r in (u.groupBy("stage", "version")
                      .agg(F.count(F.lit(1)).alias("n"),
                           F.round(F.sum("o_totalprice"), 4)
                            .alias("s"))
                      .orderBy("stage", "version")).collect()]
    if st["replay_noop"]:
        rows.append(("replay_noop", -1, 1, 0.0))
    if st["stream_idempotent"]:
        rows.append(("stream_idempotent", -1, 1, 0.0))
    return spark.createDataFrame(
        rows, "stage string, version int, n_rows bigint, "
              "total_price double")


@register("partition_pruning_audit", "ext:partitioned-layout,P3,P5,A1",
          oracle=_BASE_CTE + """,
p AS (SELECT o_orderkey, o_totalprice,
             CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE yr END AS yr
      FROM base),
p2 AS (SELECT o_orderkey, o_totalprice,
              CASE WHEN o_orderkey % 13 = 0 THEN NULL
                   ELSE CAST(year(o_orderdate) AS INT) END AS yr,
              CASE WHEN o_orderkey % 17 = 0 THEN NULL
                   ELSE CAST(month(o_orderdate) AS INT) END AS mon
       FROM orders WHERE year(o_orderdate) IN (1997, 1998))
SELECT 'read_where_1997' AS stage, 1997 AS yr, count(*) AS n_rows,
       round(sum(o_totalprice), 4) AS total_price
FROM p WHERE yr = 1997
UNION ALL SELECT 'format_eq_1998', 1998, count(*),
       round(sum(o_totalprice), 4)
FROM p WHERE yr = 1998
UNION ALL SELECT 'format_null', -1, count(*),
       round(sum(o_totalprice), 4)
FROM p WHERE yr IS NULL
UNION ALL SELECT 'prune_exact', -1, CAST(1 AS BIGINT), 0.0
UNION ALL SELECT 'comp_eq_1997_3', 1997, count(*),
       round(sum(o_totalprice), 4)
FROM p2 WHERE yr = 1997 AND mon = 3
UNION ALL SELECT 'comp_null_mon', 1998, count(*),
       round(sum(o_totalprice), 4)
FROM p2 WHERE yr = 1998 AND mon IS NULL
UNION ALL SELECT 'comp_prune_exact', -1, CAST(1 AS BIGINT), 0.0
""")
def partition_pruning_audit(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Hive-partitioned-layout pruning, driver-gradable end-to-end
    (io/versioned.write_version ``partition_by`` + read_where +
    sources/versioned_source pushdown).  A snapshot of the 1997-98
    orders is written ``partition_by=('yr',)`` with every %13th key's
    ``yr`` NULLed (so the layout carries a real
    ``__HIVE_DEFAULT_PARTITION__`` directory), then read back three
    ways, each stage's cells re-derived by the oracle from the raw
    parquet alone:

    - ``read_where_1997``: the function face -- pruned_files treats
      the ``yr=v`` directory as an exact [v, v] stat, so only the
      partition's files are planned (the ``prune_exact`` flag row is
      recorded only if the kept set IS exactly the yr=1997 leaves and
      strictly smaller than the table);
    - ``format_eq_1998``: the format() pushdown face -- the file
      pruner (io/versioned._prune) drops every other directory before
      stats/bloom checks (planned-partition exactness pinned by
      tests/test_partitioned_layout.py);
    - ``format_null``: an IS NULL pushdown -- only the null-marker
      directory survives planning, and the executor surfaces the
      partition column as NULL for it (a mis-parsed marker would
      inflate 1997/1998 counts and hash-mismatch).

    At 100 TB partition pruning is the coarse (free, directory-
    grained) first cut ahead of file stats and blooms; the value is
    O(partitions touched) planning with zero data I/O.  The reference
    truncate-and-reloads unpartitioned tables (jobs/csr_etl.py:157);
    this is what its monthly slices become on a lakehouse layout.

    The ``comp_*`` stages (r13 verdict task 5) run the same contract
    over a TWO-LEVEL ``partition_by=('yr', 'mon')`` layout -- a
    composite equality through the format() pushdown face, an
    ``IS NULL`` on the SECOND level (a real null-marker directory
    nested under ``yr=1998/``), and a composite prune-exactness flag
    (the files surviving BOTH single-column prunes are exactly the
    ``yr=1997/mon=3`` leaves, strictly fewer than either column
    admits alone).  The snapshot builds are process-memoized
    (plans/fixtures.audit_state); every read runs live."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        pruned_files, read_where,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.sources.versioned_source import (
        register as register_ds,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.tables import table

    def build() -> dict:
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import write_version

        root = _tmp("part_aud_")
        td = os.path.join(root, "t")
        o = (table(spark, sf_dir, "orders")
             .filter(F.year("o_orderdate").isin(1997, 1998))
             .select("o_orderkey", "o_orderstatus", "o_totalprice",
                     "o_orderpriority", "o_custkey",
                     F.when(F.col("o_orderkey") % 13 == 0, F.lit(None))
                      .otherwise(F.year("o_orderdate"))
                      .cast("int").alias("yr")))
        write_version(o, td, partition_by=("yr",))
        td2 = os.path.join(root, "t2")
        o2 = (table(spark, sf_dir, "orders")
              .filter(F.year("o_orderdate").isin(1997, 1998))
              .select("o_orderkey", "o_totalprice",
                      F.when(F.col("o_orderkey") % 13 == 0,
                             F.lit(None))
                       .otherwise(F.year("o_orderdate"))
                       .cast("int").alias("yr"),
                      F.when(F.col("o_orderkey") % 17 == 0,
                             F.lit(None))
                       .otherwise(F.month("o_orderdate"))
                       .cast("int").alias("mon")))
        write_version(o2, td2, partition_by=("yr", "mon"))
        return {"td": td, "td2": td2, "dirs": (td, td2)}

    st = audit_state("partition_pruning", sf_dir, build)
    td, td2 = st["td"], st["td2"]
    register_ds(spark)
    rows = []

    aggs = [F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("s")]

    def fmt(path):
        # a FRESH load() per differently-filtered probe: two filters
        # over one shared load() in a single action make Spark's
        # Python-DS scan planning collapse the per-scan pushdown
        # state (observed r15: the second probe's pruned file set
        # replaced the first's, 226 rows -> 0), while per-probe
        # relations plan independently
        return (spark.read.format("versioned_table")
                .option("path", path).option("pushdown", "true")
                .load())

    # the five pruned probes run as ONE unioned Spark job (r15; each
    # probe previously paid its own collect round-trip) -- per-scan
    # pushdown/pruning is planned per scan node, so unioning changes
    # scheduling, not what each probe reads
    probes = [
        ("read_where_1997", 1997,
         read_where(spark, td, "yr", 1997, 1997)),
        ("format_eq_1998", 1998, fmt(td).filter("yr = 1998")),
        ("format_null", -1, fmt(td).filter("yr IS NULL")),
        ("comp_eq_1997_3", 1997,
         fmt(td2).filter("yr = 1997 AND mon = 3")),
        ("comp_null_mon", 1998,
         fmt(td2).filter("yr = 1998 AND mon IS NULL")),
    ]
    from functools import reduce as _reduce

    got = {r["stage"]: r for r in _reduce(
        DataFrame.unionByName,
        [df.agg(*aggs).select(F.lit(stg).alias("stage"),
                              F.lit(yr).alias("yr"), "n", "s")
         for stg, yr, df in probes]).collect()}

    def add(stage):
        r = got[stage]
        rows.append((stage, int(r["yr"]), int(r["n"]),
                     float(r["s"])))

    add("read_where_1997")
    add("format_eq_1998")
    add("format_null")
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import _partition_values

    kept, total = pruned_files(td, 1, "yr", 1997, 1997)
    if (kept and len(kept) < total
            and all(_partition_values(f).get("yr") == "1997"
                    for f in kept)):
        rows.append(("prune_exact", -1, 1, 0.0))
    add("comp_eq_1997_3")
    add("comp_null_mon")
    kept_y, total2 = pruned_files(td2, 1, "yr", 1997, 1997)
    kept_m, _ = pruned_files(td2, 1, "mon", 3, 3)
    comp = set(kept_y) & set(kept_m)
    if (comp and len(comp) < min(len(kept_y), len(kept_m))
            and all(_partition_values(f).get("yr") == "1997"
                    and _partition_values(f).get("mon") == "3"
                    for f in comp)):
        rows.append(("comp_prune_exact", -1, 1, 0.0))
    return spark.createDataFrame(
        rows, "stage string, yr int, n_rows bigint, "
              "total_price double")


@register("replace_partitions_audit", "ext:replace-partitions,P3,A1,F2",
          oracle="""
WITH base AS (
  SELECT o_orderkey, o_totalprice,
         CAST(month(o_orderdate) AS INT) AS mon
  FROM orders WHERE year(o_orderdate) = 1997
               AND month(o_orderdate) <= 7),
cur AS (
  SELECT mon, o_orderkey,
         CASE WHEN mon = 3 THEN o_totalprice * 2
              ELSE o_totalprice END AS o_totalprice
  FROM base WHERE mon <> 3 OR o_orderkey % 2 = 0)
SELECT 'current' AS stage, mon, count(*) AS n_rows,
       round(sum(o_totalprice), 4) AS total_price
FROM cur GROUP BY mon
UNION ALL
SELECT 'before', 3, count(*), round(sum(o_totalprice), 4)
FROM base WHERE mon = 3
UNION ALL
SELECT 'replay_noop', -1, CAST(1 AS BIGINT), 0.0
""")
def replace_partitions_audit(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite, driver-gradable end-to-end
    (io/versioned.replace_partitions -- the Delta ``replaceWhere``
    shape; the reference's monthly truncate-and-reload,
    jobs/csr_etl.py:157, made atomic WITH history).  The 1997 H1
    orders load month-partitioned (v1); month 3 is then RELOADED
    with a modified slice (even keys only, price doubled) under a
    txn marker, and month 7 arrives as a brand-new partition in the
    same call.  The oracle re-derives from raw parquet:

    - ``current``: months 1-2/4-6 untouched (inherited BY REFERENCE
      -- nothing outside the replaced partitions is rewritten),
      month 3 = exactly the replacement slice (stale rows gone),
      month 7 = the new slice;
    - ``before``: time travel to v1 still shows the original month 3
      (replace supersedes, never erases);
    - ``replay_noop``: re-running the month-3 load with the SAME txn
      marker must not create a version (the idempotent slice-reload
      contract), recorded only if current stayed put.

    The build is process-memoized (plans/fixtures.audit_state); the
    graded read-back runs live."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        read_current, read_version,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.tables import table

    def build() -> dict:
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
            current_version, replace_partitions, write_version,
        )

        root = _tmp("repl_aud_")
        td = os.path.join(root, "t")
        o = (table(spark, sf_dir, "orders")
             .filter((F.year("o_orderdate") == 1997)
                     & (F.month("o_orderdate") <= 7))
             .select("o_orderkey", "o_totalprice",
                     F.month("o_orderdate").cast("int").alias("mon")))
        # v1 loads months 1-6 only, so month 7 arrives genuinely NEW
        # through the replace call
        write_version(o.filter(F.col("mon") <= 6), td,
                      partition_by=("mon",))
        repl = (o.filter((F.col("mon") == 3)
                         & (F.col("o_orderkey") % 2 == 0))
                .withColumn("o_totalprice",
                            F.col("o_totalprice") * 2)
                .unionByName(o.filter(F.col("mon") == 7)))
        replace_partitions(spark, td, repl, ("mon",),
                           txn="reload:1997-03+07")
        v = current_version(td)
        replace_partitions(spark, td, repl, ("mon",),
                           txn="reload:1997-03+07")  # replay
        return {"td": td, "replay_noop": current_version(td) == v,
                "dirs": (td,)}

    st = audit_state("replace_partitions", sf_dir, build)
    # both read-backs (current per-month groupBy + the v1 time
    # travel) run as ONE unioned Spark job (r15)
    from functools import reduce as _reduce

    cur = (read_current(spark, st["td"]).groupBy("mon")
           .agg(F.count(F.lit(1)).alias("n"),
                F.round(F.sum("o_totalprice"), 4).alias("s"))
           .select(F.lit("current").alias("stage"), "mon", "n", "s"))
    bef = (read_version(spark, st["td"], 1)
           .filter(F.col("mon") == 3)
           .agg(F.count(F.lit(1)).alias("n"),
                F.round(F.sum("o_totalprice"), 4).alias("s"))
           .select(F.lit("before").alias("stage"),
                   F.lit(3).alias("mon"), "n", "s"))
    got = _reduce(DataFrame.unionByName, [cur, bef]).collect()
    rows = [("current", int(r["mon"]), int(r["n"]), float(r["s"]))
            for r in sorted((r for r in got
                             if r["stage"] == "current"),
                            key=lambda r: r["mon"])]
    b = next(r for r in got if r["stage"] == "before")
    rows.append(("before", 3, int(b["n"]), float(b["s"])))
    if st["replay_noop"]:
        rows.append(("replay_noop", -1, 1, 0.0))
    return spark.createDataFrame(
        rows, "stage string, mon int, n_rows bigint, "
              "total_price double")


@register("writer_replace_audit", "ext:replace-partitions-writer,S7,P3,A1",
          oracle="""
WITH base AS (
  SELECT o_orderkey, o_totalprice,
         CAST(month(o_orderdate) AS INT) AS mon
  FROM orders WHERE year(o_orderdate) = 1997
               AND month(o_orderdate) >= 7),
cur AS (
  SELECT mon, o_orderkey,
         CASE WHEN mon = 10 THEN o_totalprice * 3
              ELSE o_totalprice END AS o_totalprice
  FROM base WHERE mon <> 10 OR o_orderkey % 2 = 1)
SELECT 'current' AS stage, mon, count(*) AS n_rows,
       round(sum(o_totalprice), 4) AS total_price
FROM cur GROUP BY mon
UNION ALL
SELECT 'before', 10, count(*), round(sum(o_totalprice), 4)
FROM base WHERE mon = 10
UNION ALL
SELECT 'replay_noop', -1, CAST(1 AS BIGINT), 0.0
UNION ALL
SELECT 'append_dynamic_refused', -1, CAST(1 AS BIGINT), 0.0
""")
def writer_replace_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite through the ``format()`` WRITE
    face (r13 verdict task 1: ``df.write.format("versioned_table")
    .mode("overwrite").option("partitionOverwriteMode", "dynamic")``
    -- the reference's idempotent month reload, jobs/csr_etl.py:157 /
    jobs/raw_to_staging.py:203, on the API a Spark user actually
    writes; replace_partitions_audit grades the same semantics on the
    function face).  v1 loads the 1997 months 8-12 month-partitioned
    THROUGH THE WRITER; the reload then replaces month 10 with a
    modified slice (odd keys only, price tripled) and lands month 7
    as a brand-new partition, all in one dynamic-overwrite save with
    a txn marker.  The oracle re-derives from raw parquet:

    - ``current``: months 8-9/11-12 inherited BY REFERENCE, month 10
      = exactly the replacement slice, month 7 = the new slice;
    - ``before``: time travel to v1 still shows the original month
      10 (replace supersedes, never erases);
    - ``replay_noop``: re-running the SAME save (same txn) must not
      commit a version -- the writer detects the visible marker at
      plan time and its tasks stage nothing;
    - ``append_dynamic_refused``: ``mode("append")`` with the dynamic
      option must refuse at PLAN time (nothing would be replaced --
      a silently-appending 'replace' is the bug the option exists to
      prevent); recorded only if the refusal actually fired and no
      version was committed.

    The build is process-memoized (plans/fixtures.audit_state); the
    graded read-back -- two format() reads -- runs live."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.sources.versioned_source import (
        register as register_ds,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.tables import table

    register_ds(spark)

    def build() -> dict:
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
            current_version,
        )

        root = _tmp("wrepl_aud_")
        td = os.path.join(root, "t")
        o = (table(spark, sf_dir, "orders")
             .filter((F.year("o_orderdate") == 1997)
                     & (F.month("o_orderdate") >= 7))
             .select("o_orderkey", "o_totalprice",
                     F.month("o_orderdate").cast("int").alias("mon")))
        (o.filter(F.col("mon") >= 8)
          .write.format("versioned_table").mode("overwrite")
          .option("path", td).option("partitionBy", "mon")
          .option("statsColumns", "o_orderkey").save())
        repl = (o.filter((F.col("mon") == 10)
                         & (F.col("o_orderkey") % 2 == 1))
                .withColumn("o_totalprice",
                            F.col("o_totalprice") * 3)
                .unionByName(o.filter(F.col("mon") == 7)))

        def reload():
            (repl.write.format("versioned_table").mode("overwrite")
             .option("path", td).option("partitionBy", "mon")
             .option("partitionOverwriteMode", "dynamic")
             .option("txn", "reload:1997-10+07").save())

        reload()
        v = current_version(td)
        reload()  # replayed job, same marker -> must no-op
        replay_noop = current_version(td) == v
        refused = False
        try:
            (repl.write.format("versioned_table").mode("append")
             .option("path", td).option("partitionBy", "mon")
             .option("partitionOverwriteMode", "dynamic").save())
        except Exception as exc:
            refused = "overwrite" in str(exc)
        refused = refused and current_version(td) == v
        return {"td": td, "replay_noop": replay_noop,
                "refused": refused, "dirs": (td,)}

    st = audit_state("writer_replace", sf_dir, build)
    # both format() read-backs run as ONE unioned Spark job (r15);
    # each keeps its own .load() relation (one-load-per-filter
    # pushdown contract, sources/versioned_source.py)
    from functools import reduce as _reduce

    cur = (spark.read.format("versioned_table")
           .option("path", st["td"]).load()
           .groupBy("mon")
           .agg(F.count(F.lit(1)).alias("n"),
                F.round(F.sum("o_totalprice"), 4).alias("s"))
           .select(F.lit("current").alias("stage"), "mon", "n", "s"))
    bef = (spark.read.format("versioned_table")
           .option("path", st["td"]).option("version", "1").load()
           .filter(F.col("mon") == 10)
           .agg(F.count(F.lit(1)).alias("n"),
                F.round(F.sum("o_totalprice"), 4).alias("s"))
           .select(F.lit("before").alias("stage"),
                   F.lit(10).alias("mon"), "n", "s"))
    got = _reduce(DataFrame.unionByName, [cur, bef]).collect()
    rows = [("current", int(r["mon"]), int(r["n"]), float(r["s"]))
            for r in sorted((r for r in got
                             if r["stage"] == "current"),
                            key=lambda r: r["mon"])]
    b = next(r for r in got if r["stage"] == "before")
    rows.append(("before", 10, int(b["n"]), float(b["s"])))
    if st["replay_noop"]:
        rows.append(("replay_noop", -1, 1, 0.0))
    if st["refused"]:
        rows.append(("append_dynamic_refused", -1, 1, 0.0))
    return spark.createDataFrame(
        rows, "stage string, mon int, n_rows bigint, "
              "total_price double")


@register("hidden_partition_audit", "ext:hidden-partitioning,P3,A1,F2",
          oracle="""
WITH o AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
           FROM orders)
SELECT 'hp_year_range' AS stage, count(*) AS n_rows,
       coalesce(round(sum(o_totalprice), 4), 0.0) AS total_price
FROM o WHERE o_orderdate BETWEEN DATE '1996-06-01'
                             AND DATE '1997-08-31'
UNION ALL
SELECT 'hp_format_range', count(*),
       coalesce(round(sum(o_totalprice), 4), 0.0)
FROM o WHERE o_orderdate BETWEEN DATE '1996-01-01'
                             AND DATE '1996-09-30'
UNION ALL
SELECT 'hp_bucket_eq', count(*),
       coalesce(round(sum(o_totalprice), 4), 0.0)
FROM o WHERE o_custkey = 97
UNION ALL
SELECT 'hp_month_reload', count(*),
       coalesce(round(sum(o_totalprice), 4), 0.0)
FROM (SELECT CASE WHEN month(o_orderdate) = 3
                  THEN o_totalprice * 2 ELSE o_totalprice
             END AS o_totalprice
      FROM o WHERE year(o_orderdate) = 1997
                AND month(o_orderdate) <= 6
                AND (month(o_orderdate) <> 3
                     OR o_orderkey % 2 = 0)) t
UNION ALL
SELECT 'hp_partitions', count(*),
       CAST(count(DISTINCT year(o_orderdate)) AS DOUBLE)
FROM o
UNION ALL
SELECT 'hp_hour_range', count(*),
       coalesce(round(sum(o_totalprice), 4), 0.0)
FROM o WHERE o_orderkey % 13 <> 0
  AND 1672531200000000 + (o_orderkey % 48) * 3600000000
      + (o_orderkey % 59) * 60000000
      BETWEEN 1672574400000000 AND 1672615800000000
UNION ALL SELECT 'hp_prune_exact', CAST(1 AS BIGINT), 0.0
UNION ALL SELECT 'hp_bucket_prune', CAST(1 AS BIGINT), 0.0
UNION ALL SELECT 'hp_hour_prune', CAST(1 AS BIGINT), 0.0
""")
def hidden_partition_audit(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """HIDDEN (generated) partitioning, driver-gradable end-to-end
    (io/transforms -- the Iceberg partition-transform shape:
    ``partition_by=("year(o_orderdate)",)`` lays the table out by a
    DERIVED value that exists only in the directory names, never in
    the logical schema).  Two tables build memoized: the full orders
    year-partitioned through ``year(o_orderdate)``, and
    bucket-partitioned through ``bucket(8, o_custkey)``.  Stages,
    each re-derived by the oracle from raw parquet:

    - ``hp_year_range``: ``read_where`` on the SOURCE date column --
      the range maps through the transform, only the 1996/1997
      year directories are planned (``hp_prune_exact`` records that
      the kept set is exactly those dirs and strictly smaller than
      the table), and the predicate re-applies row-level so the
      values are exact at the mid-year boundaries;
    - ``hp_format_range``: the same contract through the format()
      PUSHDOWN face (the same file pruner, io/versioned._prune);
    - ``hp_bucket_eq``: an equality probe on o_custkey prunes to the
      single md5-bucket directory (``hp_bucket_prune``), then
      re-filters exactly -- hash-bucket layout without a bucket
      column in the schema;
    - ``hp_month_reload``: dynamic partition overwrite KEYED BY THE
      TRANSFORM -- a third table of the 1997 H1 orders laid out by
      ``month(o_orderdate)`` has its month 3 reloaded (even keys,
      price doubled) through ``replace_partitions(...,
      ("month(o_orderdate)",))`` under a txn marker, replayed once
      to prove the marker no-op; the stage reads the post-reload
      table and the oracle re-derives it from raw parquet;
    - ``hp_hour_range`` (r15): the ``hour(ts)`` transform --
      Iceberg-v2 parity, INSTANT-based (exact epoch-hour floor of
      the micros, no wall rendering, so the layout is identical in
      any session zone) -- over synthetic deterministic instants
      (``o_orderkey``-derived, %13 keys NULL into the null-marker
      dir); a tz-AWARE probe window prunes exactly to the covered
      hour directories (``hp_hour_prune``) and the re-applied
      row predicate keeps boundary minutes exact.

    At 100 TB this is Iceberg's core ingestion ergonomic: the engine
    owns the time/bucket derivation, so a writer can never place a
    row in the wrong slice, queries on the RAW column (not a
    hand-maintained month column, the reference's jobs/csr_etl.py
    shape) still prune directories for free, and the monthly reload
    keys on the derived slice directly."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.transforms import bucket_value
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        _partition_values, pruned_files, read_where,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.sources.versioned_source import (
        register as register_ds,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.tables import table

    def build() -> dict:
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
            current_version, replace_partitions, write_version,
        )

        root = _tmp("hidden_aud_")
        ty = os.path.join(root, "by_year")
        tb = os.path.join(root, "by_bucket")
        tm = os.path.join(root, "by_month")
        o = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        write_version(o, ty, partition_by=("year(o_orderdate)",))
        write_version(o, tb, partition_by=("bucket(8, o_custkey)",))
        h1 = o.filter((F.year("o_orderdate") == 1997)
                      & (F.month("o_orderdate") <= 6))
        write_version(h1, tm,
                      partition_by=("month(o_orderdate)",))
        repl = (h1.filter((F.month("o_orderdate") == 3)
                          & (F.col("o_orderkey") % 2 == 0))
                .withColumn("o_totalprice",
                            F.col("o_totalprice") * 2))
        replace_partitions(spark, tm, repl,
                           ("month(o_orderdate)",),
                           txn="reload:1997-03")
        v = current_version(tm)
        replace_partitions(spark, tm, repl,
                           ("month(o_orderdate)",),
                           txn="reload:1997-03")  # marker no-op
        th = os.path.join(root, "by_hour")
        base_us = 1_672_531_200_000_000  # 2023-01-01T00:00:00Z
        oh = o.select(
            "o_orderkey", "o_totalprice",
            F.when(F.col("o_orderkey") % 13 == 0,
                   F.lit(None).cast("timestamp"))
             .otherwise(F.timestamp_micros(
                 F.lit(base_us)
                 + (F.col("o_orderkey") % 48) * F.lit(3_600_000_000)
                 + (F.col("o_orderkey") % 59) * F.lit(60_000_000)))
             .alias("ts"))
        write_version(oh, th, partition_by=("hour(ts)",))
        return {"ty": ty, "tb": tb, "tm": tm, "th": th,
                "replay_ok": current_version(tm) == v,
                "dirs": (ty, tb, tm, th)}

    import datetime

    st = audit_state("hidden_partition", sf_dir, build)
    ty, tb = st["ty"], st["tb"]
    register_ds(spark)
    lo = datetime.date(1996, 6, 1)
    hi = datetime.date(1997, 8, 31)
    rows = []
    aggs = [F.count(F.lit(1)).alias("n"),
            F.coalesce(F.round(F.sum("o_totalprice"), 4),
                       F.lit(0.0)).alias("s")]
    fmt = (spark.read.format("versioned_table").option("path", ty)
           .option("pushdown", "true").load())
    utc = datetime.timezone.utc
    hlo = datetime.datetime(2023, 1, 1, 12, tzinfo=utc)
    hhi = datetime.datetime(2023, 1, 1, 23, 30, tzinfo=utc)
    # all transform-pruned probes run as ONE unioned Spark job (r15;
    # previously one collect round-trip per probe) -- pruning is
    # planned per scan node, so each probe still reads its own file
    # subset
    probes = [
        ("hp_year_range",
         read_where(spark, ty, "o_orderdate", lo, hi)),
        ("hp_format_range",
         fmt.filter("o_orderdate >= date'1996-01-01' AND "
                    "o_orderdate <= date'1996-09-30'")),
        ("hp_bucket_eq", read_where(spark, tb, "o_custkey", 97, 97)),
        ("hp_hour_range",
         read_where(spark, st["th"], "ts", hlo, hhi)),
    ]
    if st["replay_ok"]:
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import read_current

        probes.append(("hp_month_reload",
                       read_current(spark, st["tm"])))
    from functools import reduce as _reduce

    got = {r["stage"]: r for r in _reduce(
        DataFrame.unionByName,
        [df.agg(*aggs).select(F.lit(stg).alias("stage"), "n", "s")
         for stg, df in probes]).collect()}

    def add(stage):
        r = got[stage]
        rows.append((stage, int(r["n"]), float(r["s"])))

    add("hp_year_range")
    add("hp_format_range")
    add("hp_bucket_eq")
    if st["replay_ok"]:
        add("hp_month_reload")
    # the partition INVENTORY from metadata alone (show_partitions:
    # no session, no scan): per-partition rowcounts must total the
    # table and the year-directory count must match the data
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import show_partitions

    parts = show_partitions(ty)
    rows.append(("hp_partitions",
                 int(sum(p["n_rows"] for p in parts)),
                 float(len(parts))))
    add("hp_hour_range")
    kept, total = pruned_files(ty, 1, "o_orderdate", lo, hi)
    yrs = {_partition_values(f).get("o_orderdate_year")
           for f in kept}
    if kept and len(kept) < total and yrs == {"1996", "1997"}:
        rows.append(("hp_prune_exact", 1, 0.0))
    keptb, totalb = pruned_files(tb, 1, "o_custkey", 97, 97)
    want = str(bucket_value(97, 8))
    if (keptb and len(keptb) < totalb
            and all(_partition_values(f).get("o_custkey_bucket")
                    == want for f in keptb)):
        rows.append(("hp_bucket_prune", 1, 0.0))
    kepth, totalh = pruned_files(st["th"], 1, "ts", hlo, hhi)
    base_h = 1_672_531_200_000_000 // 3_600_000_000
    wanth = {str(h) for h in range(base_h + 12, base_h + 24)}
    if (kepth and len(kepth) < totalh
            and {_partition_values(f).get("ts_hour")
                 for f in kepth} == wanth):
        rows.append(("hp_hour_prune", 1, 0.0))
    return spark.createDataFrame(
        rows, "stage string, n_rows bigint, total_price double")


@register("vacuum_retention_audit", "ext:vacuum-retention,P3,A1",
          oracle=_BASE_CTE + """,
y AS (SELECT yr, count(*) AS n_rows,
             round(sum(o_totalprice), 4) AS total_price
      FROM base GROUP BY yr),
d AS (SELECT yr, count(*) AS n_rows,
             round(sum(o_totalprice), 4) AS total_price
      FROM base WHERE o_orderkey % 7 <> 0 GROUP BY yr)
SELECT 'shallow_before' AS stage, yr, n_rows, total_price
FROM y WHERE yr = 1997
UNION ALL SELECT 'deep_after_vacuum', yr, n_rows, total_price
FROM y WHERE yr = 1997
UNION ALL SELECT 'source_after_vacuum', yr, n_rows, total_price FROM d
UNION ALL SELECT 'purge_external_refused', -1, CAST(1 AS BIGINT), 0.0
UNION ALL SELECT 'shallow_read_fails', -1, 1, 0.0
UNION ALL SELECT 'stream_base_reaped', -1, 1, 0.0
""")
def vacuum_retention_audit(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """The vacuum/clone/stream retention contract, driver-gradable
    end-to-end (io/versioned.vacuum + io/clone + io/purge +
    sources/versioned_source).  Each docstring-promised failure mode
    is pinned separately by pytest; this query pins the CROSS-feature
    story in one externally-hashed audit over a COPY of the shared
    fixture:

    - shallow + deep clones of HISTORICAL v1 are taken; the shallow
      clone reads correctly while the source retains v1
      (``shallow_before`` = the 1997 slice, oracle-derived);
    - purge through the shallow clone is REFUSED
      (ExternalFilesError): its candidate files resolve into the
      SOURCE table, and an in-place rewrite would erase source rows
      behind their owners' backs;
    - the source is compacted (v4 terminates the inheritance chain)
      and vacuumed to ``keep_last=1``, reaping v1-v3;
    - the source itself stays fully readable
      (``source_after_vacuum`` = the post-delete content, proving
      vacuum never strands the table it runs on);
    - the SHALLOW clone is now stranded and must fail LOUDLY on read
      (its manifest references reaped source files) -- recorded only
      if the read actually raised;
    - the DEEP clone still reads its full 1997 slice (the documented
      safe path: deep_clone before retention passes the clone point);
    - a lagging stream (startingVersion=1) needs v2's reaped manifest
      as a diff base and must refuse loudly instead of silently
      re-emitting inherited rows.

    Retention must outlive clones and checkpoint lag -- this audit is
    the executable statement of that contract.  The mutation
    choreography (copy + clones + purge attempt + compact + vacuum +
    the lagging-stream attempt) is process-memoized
    (plans/fixtures.audit_state) with the two refusal contracts
    observed during the build; the live derivation re-reads the
    pre-vacuum shallow clone (cloned off the shared READ-ONLY
    fixture, so it is never stranded), the vacuumed source, the
    stranded clone (must still raise), and the deep clone every
    call."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        read_current, read_version,
    )

    def build() -> dict:
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.clone import (
            deep_clone, shallow_clone,
        )
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.purge import (
            ExternalFilesError, purge_keys_history,
        )
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
            compact_table, vacuum,
        )
        from esg_decarbonization_data_integration_and_data_pipline_spark.sources.versioned_source import (
            register as register_ds,
        )

        shared = orders_versioned_fixture(spark, sf_dir)
        src = copy_fixture(shared)
        root = _tmp("vac_aud_")
        sh, dp = os.path.join(root, "sh"), os.path.join(root, "dp")
        sh_pre = os.path.join(root, "sh_pre")
        shallow_clone(spark, src, sh, n=1)
        deep_clone(spark, src, dp, n=1)
        # pre-vacuum read path, re-derivable live: a shallow clone of
        # the shared fixture (never vacuumed by contract)
        shallow_clone(spark, shared, sh_pre, n=1)

        probe = read_version(spark, sh, 1).agg(
            F.min("o_orderkey").alias("k")).collect()[0]["k"]
        purge_refused = False
        try:
            purge_keys_history(spark, sh, "o_orderkey", [int(probe)])
        except ExternalFilesError:
            purge_refused = True

        compact_table(spark, src)
        removed = vacuum(src, keep_last=1)
        assert {1, 2, 3} <= set(removed), removed

        register_ds(spark)
        out, ck = os.path.join(root, "out"), os.path.join(root, "ck")
        stream_reaped = False
        try:
            q = (spark.readStream.format("versioned_table")
                 .option("path", src).option("startingVersion", "1")
                 .load().writeStream.format("parquet")
                 .option("path", out).option("checkpointLocation", ck)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        except Exception as exc:  # noqa: BLE001 -- reaped-base contract
            if "vacuum" not in str(exc):
                raise
            stream_reaped = True
        return {"src": src, "sh": sh, "dp": dp, "sh_pre": sh_pre,
                "purge_refused": purge_refused,
                "stream_reaped": stream_reaped,
                "dirs": (src, sh, dp, sh_pre)}

    st = audit_state("vacuum_retention", sf_dir, build)
    rows = []
    # the three per-table groupBy read-backs run as ONE unioned
    # Spark job (r15); the stranded-clone probe stays separate --
    # it must RAISE, which a union would poison
    from functools import reduce as _reduce

    probes = [
        ("shallow_before", read_version(spark, st["sh_pre"], 1)),
        ("source_after_vacuum", read_current(spark, st["src"])),
        ("deep_after_vacuum", read_version(spark, st["dp"], 1)),
    ]
    got = _reduce(DataFrame.unionByName, [
        df.groupBy("yr")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("o_totalprice"), 4).alias("s"))
        .select(F.lit(stg).alias("stage"), "yr", "n", "s")
        for stg, df in probes]).collect()

    def agg(stage):
        for r in sorted((r for r in got if r["stage"] == stage),
                        key=lambda r: r["yr"]):
            rows.append((stage, int(r["yr"]), int(r["n"]),
                         float(r["s"])))

    agg("shallow_before")
    if st["purge_refused"]:
        rows.append(("purge_external_refused", -1, 1, 0.0))
    agg("source_after_vacuum")
    try:
        read_version(spark, st["sh"], 1).count()
    except Exception:  # noqa: BLE001 -- stranded-clone contract
        rows.append(("shallow_read_fails", -1, 1, 0.0))
    agg("deep_after_vacuum")
    if st["stream_reaped"]:
        rows.append(("stream_base_reaped", -1, 1, 0.0))
    return spark.createDataFrame(
        rows, "stage string, yr int, n_rows bigint, "
              "total_price double")
