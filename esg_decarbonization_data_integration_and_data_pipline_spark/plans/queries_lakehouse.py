"""Declared queries, part 4: driver-graded audits of the lakehouse
tiers -- history purge, write-time constraints, zero-copy DDL, bloom
point lookups (io/purge, io/constraints, io/versioned, io/
bloom_index), SCD2 dimension history + point-in-time fact joins
(io/scd), zero-copy clone divergence (io/clone) and integrity
fsck/repair (io/fsck) -- over the shared memoized fixtures in
plans/fixtures.py.

Each query builds deterministic table state with the lakehouse
operators, then reads EVERY version back and materializes a literal
result frame driver-side, while the DuckDB oracle re-derives the
same cells from the raw parquet alone -- so a mismatch convicts the
operator (history rewrite, constraint audit, zero-copy DDL, bloom
point lookup, SCD2 bracket math, clone isolation, corruption
detection), not the comparison.  The reference has no versioned
tier at all (its pandas jobs truncate-and-reload, e.g.
jobs/csr_etl.py:157); these queries grade what those contracts become
once history exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from esg_decarbonization_data_integration_and_data_pipline_spark.plans.fixtures import (
    audit_state,
    copy_fixture,
    orders_versioned_fixture,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.plans.queries import register

_VERS_CTE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority,
         o_custkey, CAST(year(o_orderdate) AS INT) AS yr
  FROM orders WHERE year(o_orderdate) IN (1997, 1998)),
vers AS (
  SELECT 1 AS version, * FROM base WHERE yr = 1997
  UNION ALL SELECT 2, * FROM base
  UNION ALL SELECT 3, * FROM base WHERE o_orderkey % 7 <> 0
"""


@register("metadata_aggregates_audit", "ext:metadata-agg,A1,O2",
          oracle=_VERS_CTE + """)
SELECT 'rowcount' AS stage, version, count(*) AS n_rows,
       0.0 AS lo, 0.0 AS hi
FROM vers GROUP BY version
UNION ALL
SELECT 'range_totalprice', version, CAST(0 AS BIGINT),
       round(min(o_totalprice), 4), round(max(o_totalprice), 4)
FROM vers GROUP BY version
UNION ALL
SELECT 'count_where_head', 3, count(*), 0.0, 0.0
FROM vers,
     (SELECT (min(o_orderkey) + max(o_orderkey)) // 2 AS mid
      FROM vers WHERE version = 3) b
WHERE version = 3 AND o_orderkey <= b.mid
UNION ALL
SELECT 'nulls_totalprice', 3, CAST(0 AS BIGINT), 0.0, 0.0
UNION ALL
SELECT 'snap_rowcount', 0, count(*), 0.0, 0.0
FROM vers WHERE version = 3
UNION ALL
SELECT 'snap_range_price', 0, CAST(0 AS BIGINT),
       round(min(o_totalprice), 4), round(max(o_totalprice), 4)
FROM vers WHERE version = 3
UNION ALL
SELECT 'snap_count_head', 0, count(*), 0.0, 0.0
FROM vers,
     (SELECT (min(o_orderkey) + max(o_orderkey)) // 2 AS mid
      FROM vers WHERE version = 3) b
WHERE version = 3 AND o_orderkey <= b.mid
""")
def metadata_aggregates_audit(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Metadata-answered aggregates over the shared 3-commit fixture,
    driver-graded: count(*) per version (table_rowcount -- manifest
    row counts, ZERO Spark jobs), exact min/max per version
    (column_range -- manifest stats + parquet footers), an exact
    bounded count (count_where -- metadata for interior files, a
    boundary-only scan otherwise; the probe bound derives from the
    data on both sides), and a null count (count_nulls).  The oracle
    recomputes every cell from the raw parquet, so a stale manifest
    count, a truncated stat, or a deletion-vector misdeduction
    hash-mismatches externally.

    This is the aggregate-PUSHDOWN story of the engine: Spark 4.1's
    Python DataSource API exposes only partitions/pushFilters/read --
    there is no SupportsPushDownAggregates hook a format() reader
    could implement (verified against pyspark.sql.datasource 4.1.2),
    so count/min/max through ``format("versioned_table")`` plan a
    scan like any parquet read.  The engine's documented contract is
    therefore: metadata-priced aggregates go through THIS function
    face (the Delta `SELECT COUNT(*)`-from-log shape), which shares
    the manifests with the format() face; the zero-data-I/O property
    is pinned by tests/test_metadata_aggregates.py calling the
    metadata paths with spark=None.

    The ``snap_*`` stages (version 0 in the result) run the same
    aggregates over a PARTITIONED SNAPSHOT of the v3 content
    (write_version ``partition_by=('yr',)`` with stats_columns --
    r13 verdict task 3: snapshots previously recorded no manifest,
    so these answered metadata-flat only for the partition column
    and paid a footer-read fan-out on the rest); the snapshot build
    is process-memoized, the graded reads run live."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        column_range, count_nulls, count_where, table_rowcount,
    )

    td = orders_versioned_fixture(spark, sf_dir)

    def build() -> dict:
        import atexit
        import os
        import shutil
        import tempfile

        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
            read_version, write_version,
        )

        root = tempfile.mkdtemp(prefix="metaagg_snap_")
        atexit.register(shutil.rmtree, root, True)
        std = os.path.join(root, "snap")
        write_version(read_version(spark, td, 3), std,
                      partition_by=("yr",),
                      stats_columns=["o_orderkey", "o_totalprice"])
        return {"td": std, "dirs": (std,)}

    std = audit_state("metaagg_snapshot", sf_dir, build)["td"]
    rows = []
    for v in (1, 2, 3):
        rows.append(("rowcount", v, int(table_rowcount(td, v)),
                     0.0, 0.0))
    for v in (1, 2, 3):
        lo, hi = column_range(spark, td, "o_totalprice", n=v)
        rows.append(("range_totalprice", v, 0,
                     round(float(lo), 4), round(float(hi), 4)))
    klo, khi = column_range(spark, td, "o_orderkey", n=3)
    mid = (int(klo) + int(khi)) // 2
    rows.append(("count_where_head", 3,
                 int(count_where(spark, td, "o_orderkey", hi=mid,
                                 n=3)), 0.0, 0.0))
    rows.append(("nulls_totalprice", 3,
                 int(count_nulls(spark, td, "o_totalprice", n=3)),
                 0.0, 0.0))
    rows.append(("snap_rowcount", 0, int(table_rowcount(std)),
                 0.0, 0.0))
    slo, shi = column_range(spark, std, "o_totalprice")
    rows.append(("snap_range_price", 0, 0,
                 round(float(slo), 4), round(float(shi), 4)))
    sklo, skhi = column_range(spark, std, "o_orderkey")
    smid = (int(sklo) + int(skhi)) // 2
    rows.append(("snap_count_head", 0,
                 int(count_where(spark, std, "o_orderkey",
                                 hi=smid)), 0.0, 0.0))
    return spark.createDataFrame(
        rows, "stage string, version int, n_rows bigint, "
              "lo double, hi double")


@register("purge_erasure_audit", "ext:purge-history,P3,A1", oracle=_VERS_CTE + """)
SELECT version,
       count(*) FILTER (WHERE o_orderkey % 97 = 0) AS n_match_before,
       count(*)                                    AS n_rows_before,
       CAST(0 AS BIGINT)                           AS n_match_after,
       count(*) FILTER (WHERE o_orderkey % 97 <> 0) AS n_rows_after
FROM vers GROUP BY version
""")
def purge_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten purge across HISTORY, driver-gradable
    end-to-end (io/purge.purge_keys_history over a copy of the shared
    3-commit fixture).  The erasure subject is every o_orderkey
    divisible by 97 (present in all three versions; some of its rows
    survive only in v1/v2 history after v3's %7 delete -- exactly the
    rows a current-version delete cannot reach).  The result records,
    per readable version, the matching-row and total-row counts
    BEFORE the purge and re-scans both AFTER it: the oracle derives
    the before-counts and the arithmetic identity n_rows_after =
    n_rows_before - n_match_before from the parquet alone, and pins
    n_match_after at the zero a completed erasure must produce -- so
    a missed historical row, an over-deleted innocent row, or a
    corrupted version chain all hash-mismatch.  The purge itself is
    one Spark job over the stats-pruned candidate files (metadata
    pruning on the o_orderkey stats recorded at commit time);
    match-count verification scans only per-version candidates,
    while the TOTAL rowcounts come from commit metadata
    (table_rowcount -- zero Spark jobs), deliberately: the
    post-purge totals then also convict the purge's phase-3 #rows
    repair, because a manifest left stale after the rewrite
    mismatches the oracle even though the data itself is right.

    r15: the mutation phase (fixture copy, before-counts observing
    the PRE-purge transient state, and the purge rewrite itself) is
    process-memoized via plans/fixtures.audit_state -- the standing
    bench-hygiene discipline the r12-r14 rounds applied to the
    datasource audits; the graded derivation (post-purge candidate
    scans + manifest rowcounts) re-runs every call, so bench's
    min-of-3 tracks the verification read cost while the result
    frame (and so the CORRECTNESS hash) is unchanged."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.purge import (
        count_keys_all_versions, purge_keys_history,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        read_version, table_rowcount,
    )

    def build() -> dict:
        td = copy_fixture(orders_versioned_fixture(spark, sf_dir))
        vals = [r.o_orderkey for r in
                read_version(spark, td, 2)
                .filter(F.col("o_orderkey") % 97 == 0)
                .select("o_orderkey").distinct().collect()]
        before = count_keys_all_versions(spark, td, "o_orderkey",
                                         vals)
        rows_before = {v: table_rowcount(td, v) for v in (1, 2, 3)}
        purge_keys_history(spark, td, "o_orderkey", vals)
        return {"td": td, "vals": vals, "before": before,
                "rows_before": rows_before, "dirs": (td,)}

    st = audit_state("purge_erasure", sf_dir, build)
    td, vals = st["td"], st["vals"]
    before, rows_before = st["before"], st["rows_before"]
    after = count_keys_all_versions(spark, td, "o_orderkey", vals)
    rows_after = {v: table_rowcount(td, v) for v in (1, 2, 3)}
    rows = [(v, before[v], rows_before[v], after[v], rows_after[v])
            for v in (1, 2, 3)]
    return spark.createDataFrame(
        rows, "version int, n_match_before bigint, "
              "n_rows_before bigint, n_match_after bigint, "
              "n_rows_after bigint")


@register("constraints_history_audit", "ext:constraints,P3,A2", oracle=_VERS_CTE + """
  UNION ALL SELECT 4, * FROM base
  WHERE o_orderkey % 7 <> 0 AND o_orderstatus <> 'P'),
stats AS (
  SELECT version, count(*) AS n_rows,
    count(*) FILTER (WHERE o_orderstatus IS NOT NULL
                     AND o_orderstatus NOT IN ('F', 'O')) AS v_set,
    count(*) FILTER (WHERE o_custkey IS NULL) AS v_null,
    count(*) FILTER (WHERE o_totalprice IS NOT NULL AND
      (o_totalprice < 0.0 OR o_totalprice > 1000000.0)) AS v_range
  FROM vers GROUP BY version),
checks(check_name, kind, target) AS (VALUES
  ('in_set:o_orderstatus', 'in_set', 'o_orderstatus'),
  ('not_null:o_custkey', 'not_null', 'o_custkey'),
  ('in_range:o_totalprice', 'in_range', 'o_totalprice'))
SELECT s.version, c.check_name, c.kind, c.target,
  CAST(CASE c.check_name
    WHEN 'in_set:o_orderstatus' THEN s.v_set
    WHEN 'not_null:o_custkey'   THEN s.v_null
    ELSE s.v_range END AS BIGINT) AS n_violations,
  s.n_rows,
  CAST(CASE WHEN (CASE c.check_name
    WHEN 'in_set:o_orderstatus' THEN s.v_set
    WHEN 'not_null:o_custkey'   THEN s.v_null
    ELSE s.v_range END) = 0 THEN 1 ELSE 0 END AS INT) AS passed
FROM stats s CROSS JOIN checks c
""")
def constraints_history_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-time table constraints + historical audit, driver-
    gradable end-to-end (io/constraints over a copy of the shared
    fixture).  v4 deletes every 'P'-status row (copy-on-write keyed
    delete), making the CURRENT version satisfy in_set(o_orderstatus,
    F/O) -- so declaring the 3-check suite succeeds after its
    validation scan of v4 (the Delta ADD CONSTRAINT contract).  A
    violating append (status 'X') is then attempted and MUST be
    refused by the staged-read-back enforcement with the table still
    at v4 -- asserted in-query, so a leaked version errors the driver
    run rather than shifting counts.  audit_constraints then verifies
    the declared suite against ALL FOUR versions, including v1-v3
    history that PREDATES the declaration and legitimately violates
    in_set (the 'P' rows): the oracle recomputes every (version,
    check) violation count from parquet, so metadata-routed not_null
    counts, the scan-routed in_set/in_range counts, and version
    resolution are all convicted independently.

    r15: the mutation phase (fixture copy, v4 delete, constraint
    declaration incl. its validation scan, and the refused-append
    contract check -- a transient state that must be observed
    mid-build) is process-memoized via plans/fixtures.audit_state,
    the standing bench-hygiene discipline; the graded derivation
    (audit_constraints over all four versions) re-runs every call.
    Results unchanged."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.constraints import (
        audit_constraints, set_table_constraints,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        append_version, current_version, delete_keys_version,
        read_version,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.operators.expectations import (
        CheckFailedError, in_range, in_set, not_null,
    )

    def build() -> dict:
        td = copy_fixture(orders_versioned_fixture(spark, sf_dir))
        p_keys = (read_version(spark, td, 3)
                  .filter(F.col("o_orderstatus") == "P")
                  .select("o_orderkey"))
        delete_keys_version(spark, td, p_keys, "o_orderkey")
        set_table_constraints(spark, td, [
            in_set("o_orderstatus", ("F", "O")),
            not_null("o_custkey"),
            in_range("o_totalprice", lo=0.0, hi=1000000.0),
        ])
        bad = (read_version(spark, td, 4).limit(1)
               .withColumn("o_orderstatus", F.lit("X")))
        try:
            append_version(bad, td)
        except CheckFailedError:
            pass
        else:
            raise AssertionError(
                "violating append passed write-time constraints")
        if current_version(td) != 4:
            raise AssertionError(
                "refused append still landed a version")
        return {"td": td, "dirs": (td,)}

    td = audit_state("constraints_history", sf_dir, build)["td"]
    rows = [
        (r["version"], r["check_name"], r["kind"], r["target"],
         int(r["n_violations"]), int(r["n_rows"]),
         int(bool(r["passed"])))
        for r in audit_constraints(spark, td, versions=[1, 2, 3, 4])
    ]
    return spark.createDataFrame(
        rows, "version int, check_name string, kind string, "
              "target string, n_violations bigint, n_rows bigint, "
              "passed int")


@register("ddl_timetravel_audit", "ext:zero-copy-ddl,P3,A2", oracle=_VERS_CTE + """
  UNION ALL SELECT 4, * FROM base WHERE o_orderkey % 7 <> 0
  UNION ALL SELECT 5, * FROM base)
SELECT version,
  CAST(CASE WHEN version = 4 THEN 4 ELSE 6 END AS INT) AS n_cols,
  CASE WHEN version = 4
       THEN 'o_orderkey,o_orderstatus,o_totalprice,yr'
       ELSE 'o_orderkey,o_orderstatus,o_totalprice,'
            || 'o_orderpriority,o_custkey,yr' END AS cols,
  count(*) AS n_rows,
  round(sum(o_totalprice), 4) AS sum_price
FROM vers GROUP BY version
""")
def ddl_timetravel_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy DDL + rollback, driver-gradable end-to-end
    (io/versioned.drop_columns / restore_table over a copy of the
    shared fixture).  v4 = drop_columns(o_orderpriority, o_custkey):
    a metadata-only commit -- no file is read or rewritten -- whose
    readers must project the narrowed 4-column schema over the SAME
    rows as v3.  v5 = restore_table(to_version=2): another metadata-
    only commit that must reproduce v2's rows AND v2's full 6-column
    schema (the pre-drop columns come back, because earlier versions
    keep their schemas).  The result reads every version's schema
    (column count + exact comma-joined names, pinning both the
    projection and field ORDER) and its rowcount + price sum; the
    oracle recomputes all five versions from parquet with the
    expected schemas as literals, so a drop that rewrote data, leaked
    a dropped column, reordered fields, or a restore that referenced
    the wrong base all hash-mismatch.  Both DDL commits are O(1) in
    table size -- the audit's read-back is what costs.

    r15: the copy + two metadata-only commits are process-memoized
    via plans/fixtures.audit_state (the copytree dominated, not the
    O(1) DDL); the graded five-version read-back re-runs every
    call.  Results unchanged."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        drop_columns, read_versions, restore_table, table_schema,
    )

    def build() -> dict:
        td = copy_fixture(orders_versioned_fixture(spark, sf_dir))
        drop_columns(spark, td, ["o_orderpriority", "o_custkey"])
        restore_table(spark, td, to_version=2)
        return {"td": td, "dirs": (td,)}

    td = audit_state("ddl_timetravel", sf_dir, build)["td"]
    # the five per-version aggregates run as ONE Spark job: each
    # same-schema version group reads through read_versions (the
    # drop-columns commit v4 reads in its own schema group).  The
    # schema pinning (column count, exact comma-joined names) stays
    # a driver-side metadata read of each version's pinned schema.
    versions = (1, 2, 3, 4, 5)
    sts = {v: table_schema(td, v) for v in versions}
    schemas = {v: sts[v].fieldNames() for v in versions}
    groups: dict[str, list[int]] = {}
    for v in versions:
        groups.setdefault(sts[v].json(), []).append(v)
    u = None
    for vs in groups.values():
        f = (read_versions(spark, td, vs, version_col="version")
             .select("version", "o_totalprice"))
        u = f if u is None else u.unionByName(f)
    got = {int(r["version"]): (int(r["n"]), float(r["s"]))
           for r in (u.groupBy("version")
                     .agg(F.count(F.lit(1)).alias("n"),
                          F.round(F.sum("o_totalprice"), 4)
                           .alias("s"))).collect()}
    rows = [(v, len(schemas[v]), ",".join(schemas[v]),
             got[v][0], got[v][1]) for v in versions]
    return spark.createDataFrame(
        rows, "version int, n_cols int, cols string, n_rows bigint, "
              "sum_price double")


@register("bloom_point_lookup_orders", "ext:bloom-index,P3,A1", oracle=_VERS_CTE + """),
probes AS (SELECT CAST(min(o_custkey) AS BIGINT) AS probe FROM base
  UNION ALL SELECT CAST(max(o_custkey) AS BIGINT) FROM base
  UNION ALL SELECT CAST(1000000007 AS BIGINT)),
vn AS (SELECT CAST(unnest(range(1, 4)) AS INT) AS version)
SELECT vn.version, p.probe,
  count(v.o_orderkey) AS n_rows,
  round(coalesce(sum(v.o_totalprice), 0.0), 4) AS sum_price
FROM vn CROSS JOIN probes p
LEFT JOIN vers v ON v.version = vn.version AND v.o_custkey = p.probe
GROUP BY 1, 2
""")
def bloom_point_lookup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-sidecar point lookup, driver-gradable end-to-end
    (io/bloom_index over a copy of the shared fixture).  o_custkey is
    the high-cardinality column the table is NOT clustered by -- the
    exact shape min/max stats cannot prune -- so per-file bloom
    sidecars are built for every version's data files (one executor
    task per file), then three probes run against every version: the
    smallest and largest custkeys in the corpus (guaranteed hits) and
    an absent sentinel (guaranteed miss -- the bloom must prune every
    file and point_lookup must return a well-typed empty frame, not
    an error).  Row counts and price sums per (version, probe) come
    from point_lookup's pruned read; the oracle recomputes them from
    parquet with a LEFT JOIN so the miss row's (0, 0.0) is derived,
    not assumed.  A bloom false NEGATIVE (hashing drift between build
    and probe) would drop rows and hash-mismatch; false positives
    only cost an extra file read by construction.

    r15: the sidecar-build phase (fixture copy -- blooms write INTO
    the table dir, and the shared fixture is read-only by contract
    -- plus the three per-version index builds + consolidations) is
    process-memoized via plans/fixtures.audit_state, the same
    bench-hygiene split the r12-r14 rounds applied to the
    datasource audits: an index is built once and probed many
    times, so the measured contract is the PROBE path (driver-side
    bloom pruning + the unioned pruned read).  Results unchanged."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.bloom_index import (
        build_bloom_index, consolidate_bloom_index, point_lookup,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import read_version

    def build() -> dict:
        td = copy_fixture(orders_versioned_fixture(spark, sf_dir))
        lohi = (read_version(spark, td, 2)
                .agg(F.min("o_custkey").alias("lo"),
                     F.max("o_custkey").alias("hi")).collect()[0])
        for v in (1, 2, 3):
            build_bloom_index(spark, td, "o_custkey", n=v)
            # production probe path (r12): one root-level
            # consolidated index per version, so the 9 probes below
            # pay 3 cached file reads instead of one sidecar open
            # per (probe, file)
            consolidate_bloom_index(td, "o_custkey", n=v)
        return {"td": td, "lo": int(lohi["lo"]),
                "hi": int(lohi["hi"]), "dirs": (td,)}

    st = audit_state("bloom_point_lookup", sf_dir, build)
    td = st["td"]
    probes = [st["lo"], st["hi"], 1000000007]
    # the bloom pruning itself is driver-side metadata (lookup_files
    # inside point_lookup); the 9 surviving reads union into ONE
    # Spark job rather than paying 9 rounds of job scheduling --
    # zero-group misses are filled driver-side so the miss rows
    # (0, 0.0) still appear
    frames = []
    for v in (1, 2, 3):
        for p in probes:
            frames.append(
                point_lookup(spark, td, "o_custkey", p, n=v)
                .select(F.lit(v).cast("int").alias("version"),
                        F.lit(p).cast("bigint").alias("probe"),
                        "o_totalprice"))
    u = frames[0]
    for f in frames[1:]:
        u = u.unionByName(f)
    got = {(int(r["version"]), int(r["probe"])):
           (int(r["n"]), float(r["s"]))
           for r in (u.groupBy("version", "probe")
                     .agg(F.count(F.lit(1)).alias("n"),
                          F.round(F.sum("o_totalprice"), 4)
                           .alias("s"))).collect()}
    rows = [(v, p, *got.get((v, p), (0, 0.0)))
            for v in (1, 2, 3) for p in probes]
    return spark.createDataFrame(
        rows, "version int, probe bigint, n_rows bigint, "
              "sum_price double")


@register("scd2_customer_history", "ext:scd2,P6", oracle="""
WITH c AS (SELECT c_custkey AS k, c_mktsegment AS seg, c_acctbal AS a
           FROM customer),
f AS (SELECT k, seg, a,
             (k % 3 = 0)  AS m3, (k % 5 = 0)  AS m5,
             (k % 7 = 0)  AS m7, (k % 11 = 0) AS m11
      FROM c),
r1 AS (SELECT k, seg, a AS acct, '2023-01-01' AS valid_from,
         CASE WHEN m3 THEN '2023-02-01'
              WHEN m5 OR m7 THEN '2023-03-01'
              ELSE '9999-12-31' END AS valid_to,
         CASE WHEN m3 OR m5 OR m7 THEN 0 ELSE 1 END AS is_current
       FROM f),
r2 AS (SELECT k, seg, a + 100 AS acct, '2023-02-01' AS valid_from,
         CASE WHEN m5 OR m7 THEN '2023-03-01'
              ELSE '9999-12-31' END AS valid_to,
         CASE WHEN m5 OR m7 THEN 0 ELSE 1 END AS is_current
       FROM f WHERE m3),
r3 AS (SELECT k, 'MOVED' AS seg,
         CASE WHEN m3 THEN a + 100 ELSE a END AS acct,
         '2023-03-01' AS valid_from, '9999-12-31' AS valid_to,
         1 AS is_current
       FROM f WHERE m5 AND NOT m7),
rn AS (SELECT k + 1000000 AS k, 'NEW' AS seg, 0.0 AS acct,
         '2023-03-01' AS valid_from, '9999-12-31' AS valid_to,
         1 AS is_current
       FROM f WHERE m11)
SELECT k AS c_custkey, seg AS c_mktsegment,
       round(acct, 2) AS c_acctbal, valid_from, valid_to,
       CAST(is_current AS INT) AS is_current
FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2
      UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM rn)
""")
def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension maintenance, driver-gradable
    end-to-end (io/scd.scd2_apply; the reference keeps no dimension
    history at all -- truncate-and-reload per jobs/csr_etl.py:157 --
    so SCD2 is what that contract becomes with attribute time).
    Three monthly customer snapshots fold into one SCD2 table:

      Jan  every customer arrives (open rows);
      Feb  %3 keys change c_acctbal (+100) -> close + reopen;
      Mar  FULL snapshot: %5 keys change c_mktsegment ('MOVED'),
           %7 keys are ABSENT (close_missing closes them without a
           successor -- and %35 keys prove departure precedence over
           the segment change), %11 keys gain a NEW member
           (k + 1e6); everyone else is an untouched no-op.

    The result is the complete history (open intervals coalesced to
    the Kimball high date '9999-12-31' on both engines); the oracle
    derives every row's bracket and currency flag from the customer
    parquet with pure CASE logic, so a missed close, a spurious
    reopen on an unchanged key, a wrong interval bound, or a
    precedence slip between change/departure all hash-mismatch.
    Each apply is ONE pinned-base merge commit whose rewrite set is
    the touched keys' history only (stats-pruned on c_custkey); the
    unchanged majority never leaves the inherited files.  The dim
    build is the memoized shared fixture (plans/fixtures.py) --
    scd2_asof_fact_join reads the same table, and this query only
    READS it, so no copy is taken."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import read_current
    from esg_decarbonization_data_integration_and_data_pipline_spark.plans.fixtures import (
        scd2_customer_fixture,
    )

    td = scd2_customer_fixture(spark, sf_dir)
    return (read_current(spark, td)
            .select(F.col("k").alias("c_custkey"),
                    F.col("seg").alias("c_mktsegment"),
                    F.round("acct", 2).alias("c_acctbal"),
                    "valid_from",
                    F.coalesce("valid_to", F.lit("9999-12-31"))
                     .alias("valid_to"),
                    F.col("is_current").cast("int")
                     .alias("is_current")))


@register("scd2_asof_fact_join", "ext:scd2-asof-join,J6,A1,P6", oracle="""
WITH o AS (
  SELECT o_custkey AS k, o_totalprice,
         CASE CAST(o_orderkey % 4 AS INT)
           WHEN 0 THEN '2022-12-15'
           WHEN 1 THEN '2023-01-15'
           WHEN 2 THEN '2023-02-15'
           ELSE '2023-03-15' END AS as_of
  FROM orders),
c AS (SELECT c_custkey AS k, c_mktsegment AS seg FROM customer),
j AS (
  SELECT o.as_of, o.o_totalprice,
         CASE WHEN o.as_of = '2022-12-15' THEN NULL
              WHEN o.as_of = '2023-03-15' AND c.k % 7 = 0 THEN NULL
              WHEN o.as_of = '2023-03-15' AND c.k % 5 = 0 THEN 'MOVED'
              ELSE c.seg END AS seg
  FROM o JOIN c ON o.k = c.k)
SELECT as_of, coalesce(seg, '<no-dimension-row>') AS c_mktsegment,
       count(*) AS n_orders,
       round(sum(o_totalprice), 4) AS total_price
FROM j GROUP BY 1, 2
""")
def scd2_asof_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time fact enrichment against the SCD2 dimension
    (io/scd.scd2_enrich over the shared fixture): every order gets a
    synthetic effective date by o_orderkey % 4 -- one BEFORE the
    dimension existed, one inside each of the three validity eras --
    and joins to the customer row whose interval covers it, then
    aggregates revenue per (as_of, segment-at-that-time).  The
    oracle replays the interval resolution as pure CASE logic over
    the raw parquet: a pre-history date and a departed member
    (%7 keys at the March date) must surface as
    '<no-dimension-row>', a %5 key must read 'MOVED' only at the
    March date, and everything else must resolve to the original
    segment -- so a wrong bracket bound, a leak of the CURRENT
    attribute into an earlier as-of, or a dropped left-join row all
    hash-mismatch.  Plan shape: one equi-join on the key with the
    interval bounds as residual predicates (history per key is a
    handful of rows), broadcastable whenever the dimension is."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.scd import scd2_enrich
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import read_current
    from esg_decarbonization_data_integration_and_data_pipline_spark.plans.fixtures import (
        scd2_customer_fixture,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.tables import table

    td = scd2_customer_fixture(spark, sf_dir)
    hist = read_current(spark, td)
    facts = (table(spark, sf_dir, "orders")
             .select(F.col("o_custkey").alias("k"), "o_totalprice",
                     (F.col("o_orderkey") % 4).cast("int")
                      .alias("b"))
             .withColumn("as_of",
                         F.when(F.col("b") == 0, "2022-12-15")
                          .when(F.col("b") == 1, "2023-01-15")
                          .when(F.col("b") == 2, "2023-02-15")
                          .otherwise("2023-03-15"))
             .drop("b"))
    return (scd2_enrich(facts, hist, "k", "as_of")
            .groupBy("as_of",
                     F.coalesce(F.col("seg"),
                                F.lit("<no-dimension-row>"))
                      .alias("c_mktsegment"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 4)
                  .alias("total_price")))


@register("clone_divergence_audit", "ext:table-clone,P3,A1", oracle=_VERS_CTE + """),
src AS (SELECT version, count(*) AS n_rows,
               round(sum(o_totalprice), 4) AS total_price
        FROM vers GROUP BY version),
cl AS (
  SELECT 1 AS version, count(*) AS n_rows,
         round(sum(o_totalprice), 4) AS total_price
  FROM vers WHERE version = 2
  UNION ALL
  SELECT 2, count(*), round(sum(o_totalprice), 4)
  FROM vers WHERE version = 2 AND o_orderkey % 11 <> 0)
SELECT 'source' AS side, version, n_rows, total_price FROM src
UNION ALL
SELECT 'clone', version, n_rows, total_price FROM cl
""")
def clone_divergence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy shallow clone + independent divergence,
    driver-gradable end-to-end (io/clone.shallow_clone over the
    shared fixture -- cloning only READS the source, so no fixture
    copy is taken).  The clone forks the fixture at HISTORICAL
    version 2 (time-travel clone), then diverges with a copy-on-write
    keyed delete of every o_orderkey divisible by 11.  The result
    reads rowcount + price sum for every version of BOTH tables
    AFTER the divergence: clone v1 must equal source v2 (the
    reference hop resolves), clone v2 must be that minus the %11
    keys (the delete wrote replacement files into the clone only),
    and all three SOURCE versions must still match the raw parquet
    -- which is the oracle-checkable proof the divergence never
    touched a source byte, since the clone's deleted keys live in
    files the source still reads.  Clone creation is O(1) in table
    size: one manifest + pointer write, zero data copied.

    r15: the clone + divergence delete (the mutation phase) is
    process-memoized via plans/fixtures.audit_state, and the five
    per-version aggregates union into ONE Spark job -- the graded
    read-back is what re-runs per call."""
    import atexit
    import shutil
    import tempfile

    from esg_decarbonization_data_integration_and_data_pipline_spark.io.clone import shallow_clone
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        delete_keys_version, read_version,
    )

    def build() -> dict:
        src = orders_versioned_fixture(spark, sf_dir)
        root = tempfile.mkdtemp(prefix="clone_aud_")
        atexit.register(shutil.rmtree, root, True)
        dst = root + "/orders_clone"
        shallow_clone(spark, src, dst, n=2)
        delete_keys_version(
            spark, dst,
            read_version(spark, dst, 1)
            .filter(F.col("o_orderkey") % 11 == 0)
            .select("o_orderkey"),
            "o_orderkey")
        return {"dirs": [src, dst], "src": src, "dst": dst}

    st = audit_state("clone_divergence", sf_dir, build)
    # each table's per-version aggregates read through read_versions
    # -- one frame per table, grouped by version (the clone's reads
    # include the ``../``-external refs a shallow clone holds)
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import read_versions
    probes = [
        read_versions(spark, td, vers, version_col="v")
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("o_totalprice"), 4).alias("s"))
        .select(F.lit(side).alias("side"), "v", "n", "s")
        for side, td, vers in (("source", st["src"], (1, 2, 3)),
                               ("clone", st["dst"], (1, 2)))
    ]
    from functools import reduce
    got = {(r["side"], r["v"]): r
           for r in reduce(DataFrame.unionByName, probes).collect()}
    rows = [(side, v, int(got[(side, v)]["n"]),
             float(got[(side, v)]["s"]))
            for side, vers in (("source", (1, 2, 3)),
                               ("clone", (1, 2)))
            for v in vers]
    return spark.createDataFrame(
        rows, "side string, version int, n_rows bigint, "
              "total_price double")


@register("fsck_report_audit", "ext:fsck", oracle="""
SELECT 'healthy' AS target, 1 AS ok, 3 AS n_versions,
       CAST(0 AS BIGINT) AS total_missing,
       CAST(0 AS BIGINT) AS total_rowcount_mismatch,
       CAST(0 AS BIGINT) AS total_stats_too_narrow
UNION ALL
SELECT 'tampered', 0, 3, 0, 1, 1
UNION ALL
SELECT 'repaired', 1, 3, 0, 0, 0
""")
def fsck_report_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrity verification + repair (io/fsck.verify_table /
    repair_table), driver-gradable end-to-end.  Three stages: the
    shared fixture verified as-is (every error category must read
    zero across all three versions -- a false positive here convicts
    the checker); a COPY with two deterministic, by-construction
    corruptions injected into v1's manifest -- one #rows record
    inflated by 5 and one #stats range narrowed past the data (the
    corruption class that silently drops rows from pruned reads) --
    where verify_table must find EXACTLY one of each and nothing
    else (v2/v3 carry their own copies of the inherited records, so
    the tampering is visible in precisely one version); and the same
    copy AFTER repair_table re-derives every record from footer
    truth, which must verify fully clean again.  The oracle is the
    by-construction expectation table -- constants, but externally
    hashed: a checker that misses either corruption, double-counts
    across versions, false-positives on the healthy table, or a
    repair that leaves residue all mismatch.  Footer truth is
    computed once per unique physical file in one executor-parallel
    job per stage.

    r15: the copy + tamper + repair mutation phase is
    process-memoized via plans/fixtures.audit_state (two copies: one
    left tampered, one repaired from it); the graded contract -- the
    three verify_table read-backs -- re-runs every call."""
    import json
    import os

    from esg_decarbonization_data_integration_and_data_pipline_spark.io.fsck import (
        repair_table, verify_table,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import _MANIFEST

    def build() -> dict:
        healthy = orders_versioned_fixture(spark, sf_dir)
        tampered = copy_fixture(healthy)
        mpath = os.path.join(tampered, "v_00000001", _MANIFEST)
        with open(mpath, encoding="ascii") as fh:
            lines = fh.read().splitlines()
        done_rows = done_stats = False
        out_lines = []
        for ln in lines:
            if ln.startswith("#rows ") and not done_rows:
                rec = json.loads(ln[len("#rows "):])
                rec["n"] += 5
                ln = "#rows " + json.dumps(rec)
                done_rows = True
            elif ln.startswith("#stats ") and not done_stats:
                rec = json.loads(ln[len("#stats "):])
                if rec["c"] == "o_orderkey":
                    rec["lo"] = rec["lo"] + 1  # narrower than data
                    ln = "#stats " + json.dumps(rec)
                    done_stats = True
            out_lines.append(ln)
        assert done_rows and done_stats, \
            "fixture manifest shape changed"
        with open(mpath, "w", encoding="ascii") as fh:
            fh.write("\n".join(out_lines) + "\n")
        repaired = copy_fixture(tampered)
        repair_table(spark, repaired)
        return {"dirs": [healthy, tampered, repaired],
                "healthy": healthy, "tampered": tampered,
                "repaired": repaired}

    st = audit_state("fsck_report", sf_dir, build)

    def stage(target, td):
        rep = verify_table(spark, td)
        return (target, int(rep["ok"]), len(rep["versions"]),
                sum(len(v["missing_files"])
                    for v in rep["versions"].values()),
                sum(len(v["rowcount_mismatch"])
                    for v in rep["versions"].values()),
                sum(len(v["stats_too_narrow"])
                    for v in rep["versions"].values()))

    rows = [stage("healthy", st["healthy"]),
            stage("tampered", st["tampered"]),
            stage("repaired", st["repaired"])]
    return spark.createDataFrame(
        rows, "target string, ok int, n_versions int, "
              "total_missing bigint, total_rowcount_mismatch bigint, "
              "total_stats_too_narrow bigint")


_COLS_V13 = ("o_orderkey,o_orderstatus,o_totalprice,"
             "o_orderpriority,o_custkey,yr")
_COLS_V45 = "o_orderkey,o_orderstatus,price,o_orderpriority,o_custkey,yr"


@register("rename_column_audit", "ext:column-mapping,P2,P3,A2", oracle=_VERS_CTE + """
  UNION ALL SELECT 4, * FROM base WHERE o_orderkey % 7 <> 0
  UNION ALL SELECT 5, * FROM base WHERE o_orderkey % 7 <> 0
  UNION ALL SELECT 5, * FROM base
    WHERE yr = 1997 AND o_orderkey % 7 = 0),
names AS (
  SELECT 1 AS version, '""" + _COLS_V13 + """' AS cols
  UNION ALL SELECT 2, '""" + _COLS_V13 + """'
  UNION ALL SELECT 3, '""" + _COLS_V13 + """'
  UNION ALL SELECT 4, '""" + _COLS_V45 + """'
  UNION ALL SELECT 5, '""" + _COLS_V45 + """')
SELECT n.version, CAST(6 AS INT) AS n_cols, n.cols,
       count(*) AS n_rows,
       round(sum(v.o_totalprice), 4) AS sum_price,
       count(*) FILTER (WHERE v.o_totalprice
                        BETWEEN 1000.0 AND 50000.0) AS n_mid
FROM vers v JOIN names n ON n.version = v.version
GROUP BY 1, 3
""")
def rename_column_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy column RENAME (Delta column-mapping ``name`` mode;
    io/versioned.rename_column), driver-gradable end-to-end over a
    copy of the shared fixture.  v4 = rename o_totalprice -> price:
    a metadata-only commit -- no file is read or rewritten -- whose
    readers must surface the SAME rows as v3 under the new logical
    name while time travel to v1-v3 still shows the old one.  v5 =
    an append UNDER the new name (the 1997 rows the fixture's keyed
    delete removed, re-inserted): the writer must stage the batch
    under the stable PHYSICAL name so old and new files stay
    consistent.  Per version the result pins the column count, the
    exact comma-joined field names (projection AND order), the
    rowcount, the price sum, and ``n_mid`` = count_where over the
    version's own price column -- the last answered from the
    manifest's re-keyed file-skipping stats plus an O(boundary-file)
    scan, so a rename that lost or mis-keyed the stats tier
    hash-mismatches even though a full scan would agree.  The oracle
    re-derives all five versions from raw parquet with the expected
    schemas as literals.  Both the rename and the audit's metadata
    count are O(1) in table size; the read-back aggregates are what
    cost.  Reference has no DDL tier (pandas truncate-and-reload,
    jobs/csr_etl.py:157); this grades what RENAME becomes once
    history and file-skipping stats exist."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        append_version, count_where, read_versions, rename_column,
        table_schema,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.tables import table

    # r15: the mutation phase (fixture copy + the rename commit + the
    # new-name append) is process-memoized via audit_state -- the
    # same bench-hygiene split every other audit applies: a rename
    # happens once and is read many times, so the measured contract
    # is the five-version read-back + the metadata counts.
    def build() -> dict:
        td = copy_fixture(orders_versioned_fixture(spark, sf_dir))
        rename_column(spark, td, "o_totalprice", "price")
        reinsert = (table(spark, sf_dir, "orders")
                    .filter((F.year("o_orderdate") == 1997)
                            & (F.col("o_orderkey") % 7 == 0))
                    .select("o_orderkey", "o_orderstatus",
                            F.col("o_totalprice").alias("price"),
                            "o_orderpriority", "o_custkey",
                            F.year("o_orderdate").cast("int")
                             .alias("yr")))
        append_version(reinsert, td, stats_columns=["price"])
        return {"td": td, "dirs": (td,)}

    td = audit_state("rename_column", sf_dir, build)["td"]
    # the five per-version aggregates union into ONE Spark job (the
    # bloom_point_lookup r12 pattern); schema pinning (column count,
    # exact comma-joined names incl. order) stays a driver-side read
    # of each version's pinned schema, and count_where stays the
    # graded metadata+boundary path per version.  Each same-schema
    # version group (pre-rename, post-rename) reads through
    # read_versions
    versions = (1, 2, 3, 4, 5)
    sts = {v: table_schema(td, v) for v in versions}
    schemas = {v: sts[v].fieldNames() for v in versions}
    groups: dict[str, list[int]] = {}
    for v in versions:
        groups.setdefault(sts[v].json(), []).append(v)
    u = None
    for vs in groups.values():
        price_col = ("price" if "price" in schemas[vs[0]]
                     else "o_totalprice")
        f = (read_versions(spark, td, vs, version_col="version")
             .select("version", F.col(price_col).alias("p")))
        u = f if u is None else u.unionByName(f)
    got = {int(r["version"]): (int(r["n"]), float(r["s"]))
           for r in (u.groupBy("version")
                     .agg(F.count(F.lit(1)).alias("n"),
                          F.round(F.sum("p"), 4).alias("s"))
                     ).collect()}
    rows = []
    for v in versions:
        price_col = ("price" if "price" in schemas[v]
                     else "o_totalprice")
        n_mid = count_where(spark, td, price_col,
                            lo=1000.0, hi=50000.0, n=v)
        rows.append((v, len(schemas[v]), ",".join(schemas[v]),
                     got[v][0], got[v][1], int(n_mid)))
    return spark.createDataFrame(
        rows, "version int, n_cols int, cols string, n_rows bigint, "
              "sum_price double, n_mid bigint")


_DV_SURVIVOR = """o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 0
      AND o_totalprice NOT BETWEEN 900.0 AND 25000.0"""


@register("dv_delete_audit", "ext:deletion-vectors,P3,A2", oracle=_VERS_CTE + """
  UNION ALL SELECT 4, * FROM base
    WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 0
  UNION ALL SELECT 5, * FROM base WHERE """ + _DV_SURVIVOR + """
  UNION ALL SELECT 6, * FROM (
    SELECT * FROM base WHERE """ + _DV_SURVIVOR + """
    UNION ALL SELECT * FROM base
      WHERE yr = 1997 AND o_orderkey % 7 = 0) t)
SELECT version,
       count(*) AS n_rows,
       count(*) AS meta_rows,
       round(sum(o_totalprice), 4) AS sum_price,
       count(*) FILTER (WHERE o_orderkey % 11 = 0) AS n_key11
FROM vers GROUP BY version
""")
def dv_delete_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion vectors (Delta merge-on-read deletes;
    io/versioned.delete_keys_dv / delete_where_dv), driver-gradable
    end-to-end over a copy of the shared fixture.  v4 = a keyed DV
    delete of every o_orderkey % 11 == 0: NO data file is read back
    or rewritten -- the commit holds only per-file row-position
    sidecars, and readers anti-filter on the scan's
    (file, _metadata.row_index) identity.  v5 = a range DV delete
    (o_totalprice in [900, 25000]) planned from the recorded min/max
    stats.  v6 = an append AFTER the deletes (the fixture's
    %7-deleted 1997 rows re-inserted), proving the vectors ride the
    manifest inheritance.  Per version the result pins the scanned
    rowcount, ``meta_rows`` = table_rowcount answered from MANIFEST
    metadata alone (physical counts minus recorded vector sizes --
    zero data I/O; both columns must agree with the oracle's
    count(*)), the price sum over surviving rows, and the %11 count
    (zero in v4/v5, non-zero again in v6's re-inserted keys).  The
    oracle re-derives all six logical states from raw parquet.  At
    100 TB the write cost of v4/v5 is sidecar-sized -- the COW dual
    (delete_keys_version) would rewrite every touched file; the read
    cost is one broadcast anti-join on dv-bearing files until a
    compaction materializes the vectors.  Reference has no delete
    tier at all (pandas truncate-and-reload, jobs/csr_etl.py:157).
    The mutation phase -- fixture copy + two DV deletes + the v6
    append -- is process-memoized (plans/fixtures.audit_state, r13
    verdict task 2: per-sample copy+commit cost dominated the bench
    number and masked read-path changes); the graded derivation --
    six versioned reads + the metadata rowcounts -- runs live every
    call."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        read_versions,
        table_rowcount,
    )

    def build() -> dict:
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
            append_version, delete_keys_dv, delete_where_dv,
        )
        from esg_decarbonization_data_integration_and_data_pipline_spark.tables import table

        td = copy_fixture(orders_versioned_fixture(spark, sf_dir))
        keys11 = (table(spark, sf_dir, "orders")
                  .filter(F.year("o_orderdate").isin(1997, 1998)
                          & (F.col("o_orderkey") % 11 == 0))
                  .select("o_orderkey"))
        delete_keys_dv(spark, td, keys11, "o_orderkey")
        delete_where_dv(spark, td, "o_totalprice",
                        lo=900.0, hi=25000.0)
        reinsert = (table(spark, sf_dir, "orders")
                    .filter((F.year("o_orderdate") == 1997)
                            & (F.col("o_orderkey") % 7 == 0))
                    .select("o_orderkey", "o_orderstatus",
                            "o_totalprice", "o_orderpriority",
                            "o_custkey",
                            F.year("o_orderdate").cast("int")
                             .alias("yr")))
        append_version(reinsert, td)
        return {"td": td, "dirs": (td,)}

    td = audit_state("dv_delete", sf_dir, build)["td"]
    # the six versioned reads union into ONE Spark job (the
    # bloom_point_lookup r12 pattern) -- each version still plans its
    # own manifest + DV anti-filter; table_rowcount stays a pure
    # driver-side metadata walk (zero jobs).  The six reads go
    # through read_versions, one frame grouped by version
    u = (read_versions(spark, td, (1, 2, 3, 4, 5, 6),
                       version_col="version")
         .select("version", "o_orderkey", "o_totalprice"))
    got = {int(r["version"]): (int(r["n"]), float(r["s"]),
                               int(r["k11"]))
           for r in (u.groupBy("version")
                     .agg(F.count(F.lit(1)).alias("n"),
                          F.round(F.sum("o_totalprice"), 4)
                           .alias("s"),
                          F.count(F.when(F.col("o_orderkey") % 11
                                         == 0, 1)).alias("k11"))
                     ).collect()}
    rows = [(v, got[v][0], int(table_rowcount(td, v)), got[v][1],
             got[v][2])
            for v in (1, 2, 3, 4, 5, 6)]
    return spark.createDataFrame(
        rows, "version int, n_rows bigint, meta_rows bigint, "
              "sum_price double, n_key11 bigint")


@register("zorder_pruning_audit", "ext:zorder,P3,A1", oracle="""
WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
b AS (SELECT max(o_custkey) // 10 AS ckhi FROM base)
SELECT 'z_cust' AS stage, count(*) AS n_rows,
       round(avg(o_totalprice), 4) AS avg_price
FROM base, b WHERE o_custkey <= ckhi
UNION ALL SELECT 'z_price', count(*), round(avg(o_totalprice), 4)
FROM base WHERE o_totalprice <= 50000
UNION ALL SELECT 'z_tile', count(*), round(avg(o_totalprice), 4)
FROM base, b WHERE o_custkey <= ckhi AND o_totalprice <= 50000
UNION ALL SELECT 'z_prune_cust', CAST(1 AS BIGINT), 0.0
UNION ALL SELECT 'z_prune_price', CAST(1 AS BIGINT), 0.0
UNION ALL SELECT 'z_unclustered_keeps_all', CAST(1 AS BIGINT), 0.0
""")
def zorder_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustering as a graded data-skipping contract
    (io/versioned.compact_table ``zorder_by`` + read_where /
    read_where_all): orders lands unclustered (8 arbitrary files, no
    stats -- kept==total on any probe, the ``z_unclustered_keeps_all``
    flag), then one OPTIMIZE commit re-clusters on the interleaved-bit
    key of (o_custkey, o_totalprice) into 16 range-disjoint files
    with commit-time min/max stats.  After it, a narrow range on
    EITHER column alone prunes files (the ``z_prune_*`` flag rows
    record kept>0 AND kept<total -- the multi-dimensional skipping
    linear sort_by cannot give its trailing column), and the 2-D
    tile read (read_where_all) conjuncts both prunes.  Every
    surviving stage's count/sum is re-derived by the oracle from raw
    parquet, so a stats-corrupting compaction or an over-pruned read
    hash-mismatches externally.  The custkey probe bound derives
    from the data on both sides (max//10); at 100 TB this layout is
    the standard OPTIMIZE ZORDER answer to multi-dimension point/
    range lookups on a fact table.  Build is process-memoized
    (plans/fixtures.audit_state); the graded reads run live."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        column_range, pruned_files, read_where, read_where_all,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.tables import table

    def build() -> dict:
        import atexit
        import os
        import shutil
        import tempfile

        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
            compact_table, write_version,
        )

        root = tempfile.mkdtemp(prefix="zorder_aud_")
        atexit.register(shutil.rmtree, root, True)
        td = os.path.join(root, "t")
        o = (table(spark, sf_dir, "orders")
             .select("o_orderkey", "o_custkey", "o_totalprice")
             .repartition(8))
        write_version(o, td)
        compact_table(spark, td,
                      zorder_by=["o_custkey", "o_totalprice"],
                      sort_partitions=16)
        return {"td": td, "dirs": (root,)}

    td = audit_state("zorder_audit", sf_dir, build)["td"]
    _, ckmax = column_range(spark, td, "o_custkey", n=2)
    ckhi = int(ckmax) // 10
    # avg, not sum: at 10x SFs the slice sums reach ~4e9 where
    # sum-order float noise brushes the 1e-4 rounding grid; the
    # divide pushes it to ~1e-9 (same reasoning as merge_clauses_audit)
    aggs = [F.count(F.lit(1)).alias("n"),
            F.round(F.avg("o_totalprice"), 4).alias("s")]
    rows = []
    # the three pruned reads run as ONE unioned Spark job (r15;
    # previously one collect round-trip each) -- file skipping is
    # planned per scan node, so each probe still reads its own
    # pruned subset
    probes = [
        ("z_cust", read_where(spark, td, "o_custkey", None, ckhi,
                              n=2)),
        ("z_price", read_where(spark, td, "o_totalprice", None,
                               50000.0, n=2)),
        ("z_tile", read_where_all(
            spark, td, {"o_custkey": (None, ckhi),
                        "o_totalprice": (None, 50000.0)}, n=2)),
    ]
    from functools import reduce as _reduce

    got = {r["stage"]: r for r in _reduce(
        DataFrame.unionByName,
        [df.agg(*aggs).select(F.lit(stg).alias("stage"), "n", "s")
         for stg, df in probes]).collect()}
    for stg, _df in probes:
        r = got[stg]
        rows.append((stg, int(r["n"]), float(r["s"])))
    kept_c, total = pruned_files(td, 2, "o_custkey", None, ckhi)
    if kept_c and len(kept_c) < total:
        rows.append(("z_prune_cust", 1, 0.0))
    kept_p, _ = pruned_files(td, 2, "o_totalprice", None, 50000.0)
    if kept_p and len(kept_p) < total:
        rows.append(("z_prune_price", 1, 0.0))
    kept1, total1 = pruned_files(td, 1, "o_custkey", None, ckhi)
    if total1 > 1 and len(kept1) == total1:
        rows.append(("z_unclustered_keeps_all", 1, 0.0))
    return spark.createDataFrame(
        rows, "stage string, n_rows bigint, avg_price double")


@register("merge_clauses_audit", "ext:merge-clauses,P3,P6,A2", oracle="""
WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st,
                     o_totalprice AS p, o_custkey AS c
              FROM orders WHERE year(o_orderdate) IN (1997, 1998)),
v2 AS (
  SELECT k, CASE WHEN k % 5 = 0 THEN 'M' ELSE st END AS st,
         CASE WHEN k % 5 = 0 THEN p + 100000 ELSE p END AS p, c
  FROM base WHERE NOT (k % 5 = 0 AND p < 50000)
  UNION ALL
  SELECT -k, 'I', p, c FROM base WHERE k % 9 = 0 AND k > 0),
v3 AS (
  SELECT k,
         CASE WHEN NOT (k >= 0 AND k % 3 = 0) AND c % 7 <> 0
                   AND c % 2 = 0 THEN 'S' ELSE st END AS st,
         p, c
  FROM v2 WHERE (k >= 0 AND k % 3 = 0) OR c % 7 <> 0),
v4 AS (
  SELECT k, st, p, c,
         CASE WHEN k % 4 = 0 THEN 'T' || CAST(k AS VARCHAR) END AS tag
  FROM v3)
SELECT 1 AS version, count(*) AS n_rows,
       round(avg(p), 4) AS avg_price,
       count(*) FILTER (WHERE st = 'M') AS n_updated,
       count(*) FILTER (WHERE st = 'I') AS n_inserted,
       count(*) FILTER (WHERE st = 'S') AS n_stale,
       CAST(0 AS BIGINT) AS n_tagged, CAST(0 AS BIGINT) AS tag_chars
FROM base
UNION ALL SELECT 2, count(*), round(avg(p), 4),
       count(*) FILTER (WHERE st = 'M'),
       count(*) FILTER (WHERE st = 'I'),
       count(*) FILTER (WHERE st = 'S'),
       0, 0
FROM v2
UNION ALL SELECT 3, count(*), round(avg(p), 4),
       count(*) FILTER (WHERE st = 'M'),
       count(*) FILTER (WHERE st = 'I'),
       count(*) FILTER (WHERE st = 'S'),
       0, 0
FROM v3
UNION ALL SELECT 4, count(*), round(avg(p), 4),
       count(*) FILTER (WHERE st = 'M'),
       count(*) FILTER (WHERE st = 'I'),
       count(*) FILTER (WHERE st = 'S'),
       count(tag), CAST(coalesce(sum(length(tag)), 0) AS BIGINT)
FROM v4
""")
def merge_clauses_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional multi-clause MERGE (io/versioned.merge_clauses --
    the Delta ``MERGE INTO`` clause surface), driver-graded
    end-to-end.  v1 = the 1997-98 orders snapshot.  v2 = ONE merge
    commit whose ordered clauses exercise first-match-wins: matched
    %5 keys DELETE when cheap (t.p < 50000) else UPDATE
    (status 'M', price += 100000 -- additive, no intermediate
    rounding, so both engines agree bit-for-bit), and %9 keys INSERT
    as fresh negative-key rows (default source-column values).
    v3 = a second merge with ONLY not_matched_by_source clauses over
    a %3-keys source: stale target rows DELETE when c % 7 = 0
    (listed first) else mark status 'S' when c % 2 = 0 -- the
    sync-to-snapshot shape.  v4 = automatic schema evolution under
    MERGE (merge_schema=True, graded since r15): the source appends
    a NEW nullable `tag` column, matched %4 keys set it, and every
    other row -- including untouched pre-evolution files read
    through the evolved schema -- surfaces NULL, pinned externally
    by n_tagged / tag_chars.  Every version's rowcount / price sum /
    per-marker counts are re-derived by the oracle from raw parquet
    CASE logic, so a mis-ordered clause, a wrong-class row, a
    cardinality leak, or an evolution mis-read hash-mismatches
    externally.  Cardinality refusal, O(touched) pruning and txn
    replay are pytest-pinned (tests/test_merge_clauses.py).  Build
    is process-memoized; the graded version reads run live."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        read_version, read_versions, table_schema,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.tables import table

    def build() -> dict:
        import atexit
        import os
        import shutil
        import tempfile

        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
            merge_clauses, write_version,
        )

        root = tempfile.mkdtemp(prefix="mergecl_aud_")
        atexit.register(shutil.rmtree, root, True)
        td = os.path.join(root, "t")
        base = (table(spark, sf_dir, "orders")
                .filter(F.year("o_orderdate").isin(1997, 1998))
                .select(F.col("o_orderkey").alias("k"),
                        F.col("o_orderstatus").alias("st"),
                        F.col("o_totalprice").alias("p"),
                        F.col("o_custkey").alias("c")))
        write_version(base.repartition(4), td, stats_columns=["k"])
        m = base.filter(F.col("k") % 5 == 0)
        # k > 0: this data's orderkeys start at 0 and -0 == 0
        # would collide with the matched row of the same key
        ins = (base.filter((F.col("k") % 9 == 0) & (F.col("k") > 0))
               .select((-F.col("k")).alias("k"), F.lit("I").alias("st"),
                       "p", "c"))
        merge_clauses(spark, td, m.unionByName(ins), "k", [
            {"when": "matched", "action": "delete",
             "condition": "t.p < 50000"},
            {"when": "matched", "action": "update",
             "set": {"st": "'M'", "p": "t.p + 100000"}},
            {"when": "not_matched", "action": "insert"},
        ])
        src2 = base.filter(F.col("k") % 3 == 0).select("k")
        merge_clauses(spark, td, src2, "k", [
            {"when": "not_matched_by_source", "action": "delete",
             "condition": "t.c % 7 = 0"},
            {"when": "not_matched_by_source", "action": "update",
             "set": {"st": "'S'"}, "condition": "t.c % 2 = 0"},
        ])
        # v4 = automatic schema evolution under MERGE (r15: grades
        # the merge_schema=True path externally): the source carries
        # a NEW column `tag`; matched %4 keys set it, every other
        # row -- including rows in untouched pre-evolution files --
        # reads NULL for it through the evolved schema
        src3 = (read_version(spark, td, 3)
                .filter(F.col("k") % 4 == 0)
                .select("k", F.concat(F.lit("T"),
                                      F.col("k").cast("string"))
                             .alias("tag")))
        merge_clauses(spark, td, src3, "k", [
            {"when": "matched", "action": "update",
             "set": {"tag": "s.tag"}},
        ], merge_schema=True)
        return {"td": td, "dirs": (root,)}

    td = audit_state("merge_clauses", sf_dir, build)["td"]
    # the four version read-backs run as ONE unioned Spark job (r15;
    # previously one collect round-trip per version).  Each
    # same-schema version group reads through read_versions (the v4
    # schema-evolution commit reads in its own group)
    versions = (1, 2, 3, 4)
    sts = {v: table_schema(td, v) for v in versions}
    groups: dict[str, list[int]] = {}
    for v in versions:
        groups.setdefault(sts[v].json(), []).append(v)
    frames = []
    for vs in groups.values():
        cols = sts[vs[0]].fieldNames()
        df = read_versions(spark, td, vs, version_col="v")
        tagged = (F.count("tag") if "tag" in cols
                  else F.lit(0).cast("long"))
        tchars = (F.coalesce(F.sum(F.length("tag")), F.lit(0))
                  .cast("long") if "tag" in cols
                  else F.lit(0).cast("long"))
        frames.append(
            df.groupBy("v")
              .agg(F.count(F.lit(1)).alias("n"),
                   # avg, not sum: at sf0.1 the two-year sum is
                   # ~1.16e10 and sum-order float noise exceeds the
                   # 1e-4 rounding grid; the divide pushes the noise
                   # to ~1e-9 (r14 review follow-up)
                   F.round(F.avg("p"), 4).alias("s"),
                   F.count(F.when(F.col("st") == "M", 1)).alias("m"),
                   F.count(F.when(F.col("st") == "I", 1)).alias("i"),
                   F.count(F.when(F.col("st") == "S", 1)).alias("z"),
                   tagged.alias("t"), tchars.alias("tc")))
    from functools import reduce as _reduce

    got = {r["v"]: r for r in _reduce(
        DataFrame.unionByName, frames).collect()}
    rows = [(v, int(r["n"]), float(r["s"]), int(r["m"]),
             int(r["i"]), int(r["z"]), int(r["t"]), int(r["tc"]))
            for v in (1, 2, 3, 4) for r in (got[v],)]
    return spark.createDataFrame(
        rows, "version int, n_rows bigint, avg_price double, "
              "n_updated bigint, n_inserted bigint, n_stale bigint, "
              "n_tagged bigint, tag_chars bigint")


def _hll_estimate_sql(col: str, version: int) -> str:
    """One (version, column) cell of the ndv oracle: the EXACT
    engine-independent HLL recipe of io/ndv (md5 -> 60-bit prefix,
    top-12 index, 48-bit rank, bias-corrected harmonic mean with the
    linear-counting branch), unrolled in DuckDB SQL.  Estimates are
    deterministic given the value multiset, so the driver gate can
    hash-compare them, not just band-check."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.ndv import (
        HLL_ALPHA, HLL_M, HLL_P, _SCALE_BITS,
    )

    # every constant derives from the engine's HLL_P so a precision
    # bump can never leave the oracle stale (r14 review finding):
    m = HLL_M
    rest_bits = 60 - HLL_P
    mask = (1 << rest_bits) - 1
    rank_null = rest_bits + 1
    # bit-determinism twin of io/ndv.hll_estimate (r15 advisor
    # finding): the 2^-r terms sum as EXACT scaled integers (one
    # int->double conversion + one exact power-of-two division, so
    # float-sum order cannot skew the double) and rounding is
    # floor(est + 0.5) on BOTH sides, not each engine's round()
    scale = 1 << _SCALE_BITS
    return f"""
SELECT {version} AS version, '{col}' AS col,
       (SELECT CAST(floor(CASE WHEN raw <= 2.5 * {m} AND zeros > 0
                               THEN {m} * ln({m}.0 / zeros)
                               ELSE raw END + 0.5) AS BIGINT)
        FROM (SELECT CAST({HLL_ALPHA!r} AS DOUBLE) * {m} * {m} /
                     (CAST(({m} - np) * {scale} + psum AS DOUBLE)
                      / {float(scale)!r}) AS raw,
                     ({m} - np) AS zeros
              FROM (SELECT count(*) AS np,
                           sum(CAST(1 AS BIGINT) <<
                               ({_SCALE_BITS} - r)) AS psum
                    FROM (SELECT idx,
                                 max(CASE WHEN rest = 0
                                          THEN {rank_null}
                                     ELSE {rank_null} -
                                          length(ltrim(bin(rest),
                                                       '0'))
                                     END) AS r
                          FROM (SELECT h60 >> {rest_bits} AS idx,
                                       h60 & {mask} AS rest
                                FROM (SELECT CAST('0x' ||
                                          substring(md5(s), 1, 15)
                                          AS BIGINT) AS h60
                                      FROM (SELECT DISTINCT
                                                CAST({col} AS VARCHAR)
                                                AS s
                                            FROM vers
                                            WHERE version = {version}
                                              AND {col} IS NOT NULL)))
                          GROUP BY idx)))) AS ndv,
       (SELECT count(DISTINCT {col}) FROM vers
        WHERE version = {version}) AS exact_distinct
"""


_NDV_COLS = ("o_orderkey", "o_custkey", "o_orderpriority")
_NDV_ORACLE = _VERS_CTE + ")" + "\nUNION ALL".join(
    _hll_estimate_sql(c, v) for v in (1, 2, 3) for c in _NDV_COLS)


@register("ndv_metadata_audit", "ext:ndv-sketch,A4", oracle=_NDV_ORACLE)
def ndv_metadata_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-answered approximate distinct counts (io/ndv):
    per-file HyperLogLog register sidecars (p=12, engine-independent
    md5 recipe, one executor task per file at build time) merge by
    per-register max into an estimate with ZERO Spark jobs and zero
    data I/O -- the Iceberg puffin/ndv-sketch shape, priced like the
    other metadata tiers.  Graded against the SAME deterministic
    recipe unrolled in DuckDB SQL (not an error band: the register
    multiset, and therefore the estimate, is identical by
    construction whatever the file layout), for all three fixture
    versions x three columns (high-cardinality int, foreign key,
    5-value string; the COW delete's rewritten files re-sketch so v3
    shrinks).  ``exact_distinct`` rides along as the reality anchor
    -- both engines compute it exactly.  Coverage refusal, layout
    independence, purge interplay and type guards are pytest-pinned
    (tests/test_ndv.py).  The copy + sidecar builds are
    process-memoized; the graded merges run live."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.ndv import (
        build_ndv_index, column_ndv,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        read_version,
    )

    def build() -> dict:
        td = copy_fixture(orders_versioned_fixture(spark, sf_dir))
        for v in (1, 2, 3):
            for c in _NDV_COLS:
                build_ndv_index(spark, td, c, n=v)
        return {"td": td, "dirs": (td,)}

    td = audit_state("ndv_audit", sf_dir, build)["td"]
    # the three exact-distinct anchor jobs union into ONE Spark job
    # (r15); the nine register merges stay zero-job metadata.  The
    # anchors read through read_versions: one grouped multi-distinct
    # agg
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import read_versions

    exact_by_v = {r["v"]: r for r in (
        read_versions(spark, td, (1, 2, 3), version_col="v")
        .groupBy("v")
        .agg(*[F.count_distinct(c).alias(c) for c in _NDV_COLS])
        ).collect()}
    rows = []
    for v in (1, 2, 3):
        for c in _NDV_COLS:
            rows.append((v, c, int(column_ndv(td, c, n=v)),
                         int(exact_by_v[v][c])))
    return spark.createDataFrame(
        rows, "version int, col string, ndv bigint, "
              "exact_distinct bigint")


def _hist_cell_sql(col: str, vq_expr: str, version: int,
                   lo_q: int, hi_q: int) -> str:
    """One (version, column) row of the histogram oracle: the EXACT
    integer recipe of io/histogram unrolled in DuckDB SQL -- the
    grid derives from version 2's quantized min/max (the audit's
    build order), bucket = clamped floor-div, the quantile walk
    answers the first bucket whose cumulative count reaches
    ``max(1, ceil(q * total))``, and the range bounds mirror the
    engine's clamp-aware edge-bucket rules (including the
    outside-the-grid early answers)."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.histogram import HIST_NB

    nb = HIST_NB
    return f"""
SELECT {version} AS version, '{col}' AS col,
       CAST(t.p25q AS BIGINT) AS p25q, CAST(t.p50q AS BIGINT) AS p50q,
       CAST(t.p90q AS BIGINT) AS p90q, CAST(t.rc_lb AS BIGINT) AS rc_lb,
       CAST(t.rc_ub AS BIGINT) AS rc_ub,
       CAST(t.exact_in_range AS BIGINT) AS exact_in_range
FROM (
  WITH vq2 AS (SELECT {vq_expr} AS vq FROM vers WHERE version = 2),
  g AS (SELECT min(vq) AS glo,
               (max(vq) - min(vq)) // {nb} + 1 AS w
        FROM vq2),
  vqv AS (SELECT {vq_expr} AS vq FROM vers
          WHERE version = {version}),
  bc AS (SELECT LEAST({nb - 1},
                      GREATEST(0, (vq - g.glo) // g.w)) AS b,
                count(*) AS c
         FROM vqv, g GROUP BY 1),
  tot AS (SELECT sum(c) AS total FROM bc),
  cum AS (SELECT b, sum(c) OVER (ORDER BY b) AS cum FROM bc),
  rng AS (SELECT
      CASE WHEN {lo_q} < g.glo THEN 0
           ELSE LEAST({nb - 1}, ({lo_q} - g.glo) // g.w) END AS blo,
      CASE WHEN {hi_q} > g.glo + {nb} * g.w - 1 THEN {nb - 1}
           ELSE GREATEST(0, ({hi_q} - g.glo) // g.w) END AS bhi,
      g.glo AS glo, g.w AS w FROM g)
  SELECT
    (SELECT g.glo + g.w * (SELECT min(b) FROM cum, tot
       WHERE cum >= GREATEST(1, CAST(ceil(0.25 * total) AS BIGINT)))
     FROM g) AS p25q,
    (SELECT g.glo + g.w * (SELECT min(b) FROM cum, tot
       WHERE cum >= GREATEST(1, CAST(ceil(0.5 * total) AS BIGINT)))
     FROM g) AS p50q,
    (SELECT g.glo + g.w * (SELECT min(b) FROM cum, tot
       WHERE cum >= GREATEST(1, CAST(ceil(0.9 * total) AS BIGINT)))
     FROM g) AS p90q,
    (SELECT coalesce(sum(bc.c), 0) FROM bc, rng
     WHERE bc.b >= rng.blo AND bc.b <= rng.bhi
       AND bc.b > 0 AND bc.b < {nb - 1}
       AND rng.glo + bc.b * rng.w >= {lo_q}
       AND rng.glo + (bc.b + 1) * rng.w - 1 <= {hi_q}) AS rc_lb,
    (SELECT coalesce(sum(bc.c), 0) FROM bc, rng
     WHERE bc.b >= rng.blo AND bc.b <= rng.bhi) AS rc_ub,
    (SELECT count(*) FROM vqv
     WHERE vq BETWEEN {lo_q} AND {hi_q}) AS exact_in_range
) t
"""


# (column, quantize scale, raw probe lo, raw probe hi, SQL vq expr)
_HIST_COLS = (
    ("o_totalprice", 2, 50000.0, 150000.0,
     "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"),
    ("o_custkey", 0, 100, 800, "CAST(o_custkey AS BIGINT)"),
)


def _hist_oracle() -> str:
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.histogram import quantize

    return _VERS_CTE + ")" + "\nUNION ALL".join(
        _hist_cell_sql(c, vq, v, quantize(lo, s), quantize(hi, s))
        for v in (1, 2, 3) for (c, s, lo, hi, vq) in _HIST_COLS)


@register("histogram_quantile_audit", "ext:hist-sketch,A9,O2",
          oracle=_hist_oracle())
def histogram_quantile_audit(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Metadata-answered quantiles and range selectivities
    (io/histogram, NEW r15): per-file fixed-grid bucket-count
    sidecars -- the fourth metadata tier after file stats, bloom
    point lookups and the HLL distinct sketches -- merge by
    bucket-wise sum into (a) an approximate quantile whose error is
    bounded by one bucket width and (b) LOWER and UPPER bounds on a
    range count (the join planner's selectivity question), all with
    ZERO Spark jobs and zero data I/O at query time.

    Everything is INTEGER arithmetic over a shared grid (values
    quantize as ``floor(v * 10^scale + 0.5)``, grid from version
    2's quantized span -- the build order -- reused by every other
    version), so the DuckDB oracle re-derives the EXACT estimates
    and the gate hash-compares them: 3 versions x 2 columns (cents-
    quantized price, raw integer key), p25/p50/p90 walks, the
    clamp-aware range bounds, and ``exact_in_range`` as the reality
    anchor the ``lb <= exact <= ub`` contract is visible against.
    Coverage/mixed-grid refusals, layout independence, edge-bucket
    clamping and purge interplay are pytest-pinned
    (tests/test_histogram.py).  The copy + sidecar builds are
    process-memoized; the graded merges run live."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.histogram import (
        build_histogram_index, column_hist_quantile,
        column_hist_range_count,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        read_versions,
    )

    def build() -> dict:
        td = copy_fixture(orders_versioned_fixture(spark, sf_dir))
        # grid derives ONCE from v2 (the full 1997-98 span); the
        # v1/v3 builds reuse it, so every version merges under one
        # well-defined grid (v1's files are a subset of v2's, v3
        # adds only the COW delete's rewritten files)
        for c, s, _lo, _hi, _vq in _HIST_COLS:
            for v in (2, 1, 3):
                build_histogram_index(spark, td, c, scale=s, n=v)
        return {"td": td, "dirs": (td,)}

    td = audit_state("hist_audit", sf_dir, build)["td"]
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.histogram import quantize

    # the three exact-in-range anchor jobs union into ONE Spark job
    # (r15); the eighteen quantile/range walks stay zero-job
    # metadata.  The anchors read through read_versions: one
    # grouped agg
    exact_by_v = {r["v"]: r for r in (
        read_versions(spark, td, (1, 2, 3), version_col="v")
        .groupBy("v").agg(*[
            F.count(F.when(
                (F.col(c) if s == 0
                 else F.floor(F.col(c) * (10 ** s) + 0.5))
                .cast("long").between(quantize(lo, s),
                                      quantize(hi, s)),
                1)).alias(c)
            for c, s, lo, hi, _vq in _HIST_COLS])).collect()}
    rows = []
    for v in (1, 2, 3):
        exacts = exact_by_v[v]
        for c, s, lo, hi, _vq in _HIST_COLS:
            lb, ub = column_hist_range_count(td, c, lo, hi, n=v)
            rows.append((
                v, c,
                int(column_hist_quantile(td, c, 0.25, n=v)),
                int(column_hist_quantile(td, c, 0.5, n=v)),
                int(column_hist_quantile(td, c, 0.9, n=v)),
                int(lb), int(ub), int(exacts[c])))
    return spark.createDataFrame(
        rows, "version int, col string, p25q bigint, p50q bigint, "
              "p90q bigint, rc_lb bigint, rc_ub bigint, "
              "exact_in_range bigint")
