"""Filter pushdown on the versioned_table batch DataSource
(sources/versioned_source._PushdownBatchReader): stats + bloom file
pruning driver-side, row pre-filtering executor-side, and the
pure-pruning contract (results identical to the plain reader)."""

from __future__ import annotations

import pytest
from pyspark.sql.datasource import EqualTo, GreaterThan, In, LessThanOrEqual

from esg_decarbonization_data_integration_and_data_pipline_spark.io.bloom_index import (
    build_bloom_index,
    consolidate_bloom_index,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
    append_version,
    pruned_files,
    read_current,
    read_where,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.sources.versioned_source import (
    _PushdownBatchReader,
    register,
)


@pytest.fixture()
def registered(spark):
    register(spark)  # also enables spark.sql.python.filterPushdown
    return spark


def _clustered(spark, tmp_path, n_files=4, per_file=100):
    """n_files appends clustered on k (disjoint ranges, stats
    recorded) with a non-clustered high-cardinality column u."""
    t = str(tmp_path / "t")
    for i in range(n_files):
        rows = [(i * per_file + j, f"u{(j * n_files + i):04d}")
                for j in range(per_file)]
        append_version(
            spark.createDataFrame(rows, "k bigint, u string")
            .coalesce(1), t, stats_columns=["k"])
    return t


def _fmt(spark, t, pushdown=True):
    r = spark.read.format("versioned_table").option("path", t)
    return r.option("pushdown", "true") if pushdown else r


def test_stats_pushdown_prunes_files(spark, tmp_path):
    t = _clustered(spark, tmp_path)
    r = _PushdownBatchReader({"path": t}, 4)
    leftover = list(r.pushFilters([EqualTo(("k",), 5)]))
    assert len(leftover) == 1  # everything returned: pruning-only
    parts = r.partitions()
    assert len(parts) == 1  # k=5 lives in exactly one file's range

    r2 = _PushdownBatchReader({"path": t}, 4)
    r2.pushFilters([GreaterThan(("k",), 250)])
    assert len(r2.partitions()) == 2  # files [200,299] and [300,399]

    r3 = _PushdownBatchReader({"path": t}, 4)
    r3.pushFilters([EqualTo(("k",), 10_000)])
    assert r3.partitions() == []  # out of every range


def test_bloom_pushdown_prunes_equality(spark, tmp_path):
    t = _clustered(spark, tmp_path)
    build_bloom_index(spark, t, "u")
    r = _PushdownBatchReader({"path": t}, 4)
    r.pushFilters([EqualTo(("u",), "u0042")])
    assert len(r.partitions()) == 1  # u0042 sits in one file's bloom
    # consolidated index gives the same pruning
    consolidate_bloom_index(t, "u")
    r2 = _PushdownBatchReader({"path": t}, 4)
    r2.pushFilters([In(("u",), ("u0042", "absent-value"))])
    assert len(r2.partitions()) == 1


def test_null_and_prefix_pushdown_prune_files(spark, tmp_path):
    """IsNull/IsNotNull prune via the manifest null counts; LIKE
    'p%' prunes via string min/max stats on a string-clustered
    layout."""
    from pyspark.sql.datasource import IsNotNull, IsNull, StringStartsWith

    t = str(tmp_path / "t")
    # file 1: u fully populated; file 2: u all NULL; u stats-tracked
    append_version(
        spark.createDataFrame([(1, "aa"), (2, "ab")],
                              "k bigint, u string").coalesce(1),
        t, stats_columns=["k", "u"])
    append_version(
        spark.createDataFrame([(3, None), (4, None)],
                              "k bigint, u string").coalesce(1), t)
    r = _PushdownBatchReader({"path": t}, 2)
    r.pushFilters([IsNull(("u",))])
    assert len(r.partitions()) == 1  # the populated file pruned
    r2 = _PushdownBatchReader({"path": t}, 2)
    r2.pushFilters([IsNotNull(("u",))])
    assert len(r2.partitions()) == 1  # the all-null file pruned
    # prefix pruning on disjoint string ranges: aa-ab vs zz
    append_version(
        spark.createDataFrame([(5, "zz")], "k bigint, u string")
        .coalesce(1), t)
    r3 = _PushdownBatchReader({"path": t}, 3)
    r3.pushFilters([StringStartsWith(("u",), "z")])
    # the aa-ab file stats-pruned, the all-null file null-count-pruned
    assert len(r3.partitions()) == 1
    r4 = _PushdownBatchReader({"path": t}, 3)
    r4.pushFilters([StringStartsWith(("u",), "b")])
    # no file's [lo, hi] intersects [b, c): aa-ab pruned by hi < 'b',
    # zz pruned by lo >= next('b') == 'c'; the null file has no stats
    # (all-null string column) but its null count equals its row
    # count, and no prefix matches a NULL
    assert len(r4.partitions()) == 0
    # read_where on the same table: the all-null file is planned for
    # no range, and the rows equal a plain filter
    for lo, hi, planned in (("z", None, 1), ("b", "c", 0),
                            (None, "ab", 1), ("ab", "ab", 1)):
        got = read_where(spark, t, "u", lo, hi)
        plain = read_current(spark, t)
        if lo is not None:
            plain = plain.filter(plain.u >= lo)
        if hi is not None:
            plain = plain.filter(plain.u <= hi)
        assert sorted(got.collect()) == sorted(plain.collect()), (lo, hi)
        files, total = pruned_files(t, 3, "u", lo, hi)
        assert (len(files), total) == (planned, 3), (lo, hi, files)


def test_pushdown_results_match_plain_reader(registered, tmp_path):
    spark = registered
    t = _clustered(spark, tmp_path)
    build_bloom_index(spark, t, "u")
    cases = [
        "k = 5", "k > 250", "k <= 3", "k in (1, 150, 399)",
        "u = 'u0042'", "k > 100 and u = 'u0001'",
        "k = 5 or k = 350",  # OR: not pushable, must still be right
        "k = 99999", "u = 'absent'",
        "u like 'u00%'", "u like 'zzz%'",
        "u is not null", "u is null",
        "k is not null and u like 'u01%'",
    ]
    for cond in cases:
        pushed = sorted((r.k, r.u) for r in
                        _fmt(spark, t).load().filter(cond).collect())
        plain = sorted(
            (r.k, r.u) for r in
            _fmt(spark, t, pushdown=False).load().filter(cond)
            .collect())
        assert pushed == plain, cond


def test_pushdown_with_evolved_schema(registered, tmp_path):
    """A filter on a post-evolution column keeps pre-evolution files
    out via Spark's NULL semantics, and pushdown must agree."""
    spark = registered
    t = str(tmp_path / "t")
    append_version(spark.createDataFrame([(1, "a"), (2, "b")],
                                         "k bigint, v string")
                   .coalesce(1), t, stats_columns=["k"])
    append_version(
        spark.createDataFrame([(3, "c", 9.5)],
                              "k bigint, v string, w double"),
        t, merge_schema=True)
    got = sorted((r.k, r.w) for r in _fmt(spark, t).load()
                 .filter("w > 1.0").collect())
    assert got == [(3, 9.5)]


def test_plain_session_without_conf_still_reads(spark, tmp_path):
    """Without the pushdown OPTION the plain reader serves the read
    even when the session conf is off -- no
    DATA_SOURCE_PUSHDOWN_DISABLED error on the default path."""
    t = _clustered(spark, tmp_path, n_files=1)
    spark.dataSource.register(
        __import__(
            "esg_decarbonization_data_integration_and_data_pipline_spark.sources.versioned_source",
            fromlist=["VersionedTableDataSource"],
        ).VersionedTableDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    try:
        assert (_fmt(spark, t, pushdown=False).load()
                .filter("k = 5").count()) == 1
        # the option under a false conf fails LOUDLY with Spark's
        # documented error, never silently skips the contract
        with pytest.raises(Exception, match="filterPushdown"):
            _fmt(spark, t).load().filter("k = 5").count()
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled",
                       "true")


def test_unioned_probes_need_one_load_per_filter(registered,
                                                 tmp_path):
    """r15 sharp edge: two DIFFERENTLY-filtered probes over one
    shared .load() relation, unioned into a single action, can
    collapse to one pushdown scan (the second probe's pruned file
    set replaces the first's, under-reading it to 0 rows).  The
    supported pattern -- a fresh .load() per probe -- must plan each
    scan independently and return exactly the per-probe results;
    the r15 audit unions rely on it."""
    from functools import reduce

    from pyspark.sql import DataFrame, functions as F

    t = _clustered(registered, tmp_path)

    def probe(cond):
        return (_fmt(registered, t).load().filter(cond)
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.lit(cond).alias("c"), "n"))

    conds = ["k <= 150", "k > 250", "k = 5"]
    got = {r["c"]: r["n"] for r in reduce(
        DataFrame.unionByName,
        [probe(c) for c in conds]).collect()}
    assert got == {"k <= 150": 151, "k > 250": 149, "k = 5": 1}
