"""Metadata-answered expectations over versioned tables
(operators/expectations.metadata_report + io/versioned.count_nulls):
not_null / in_range results equal the scan-based report() on every
version -- including across appends, merges, and schema evolution
(files predating an evolved column count as all-null) -- while the
null-count plan proves a stats-committed table scans NOTHING.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
    _null_count_plan,
    append_version,
    count_nulls,
    current_version,
    merge_version,
    read_version,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.operators import expectations as E


def _checks():
    return [E.not_null("k"), E.not_null("x"),
            E.in_range("x", 0, 50)]


def _scan_report(spark, t, n):
    return {r["check_name"]: (r["n_violations"], r["n_rows"])
            for r in
            E.report(read_version(spark, t, n), _checks()).collect()}


def _meta_report(spark, t, n):
    return {r["check_name"]: (r["n_violations"], r["n_rows"])
            for r in E.metadata_report(spark, t, _checks(), n=n)}


def test_metadata_report_matches_scan_on_every_version(spark,
                                                       tmp_path):
    t = str(tmp_path / "t")
    d1 = spark.createDataFrame(
        [(1, 10.0), (2, None), (None, 70.0), (4, -5.0)],
        "k bigint, x double")
    append_version(d1.coalesce(1), t, stats_columns=["k", "x"])
    d2 = spark.createDataFrame([(5, 20.0), (None, None)],
                               "k bigint, x double")
    append_version(d2.coalesce(1), t, stats_columns=["k", "x"])
    merge_version(spark, t,
                  spark.createDataFrame([(2, 49.0), (9, 51.0)],
                                        "k bigint, x double"), "k")
    for n in (1, 2, 3):
        assert _meta_report(spark, t, n) == _scan_report(spark, t, n)
    # spot-check the v1 numbers are the interesting ones
    got = _meta_report(spark, t, 1)
    assert got["not_null:k"] == (1, 4)
    assert got["not_null:x"] == (1, 4)
    assert got["in_range:x"] == (2, 4)  # 70 and -5; null skipped


def test_not_null_plan_scans_nothing_on_committed_table(spark,
                                                        tmp_path):
    t = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 1.0), (None, 2.0)],
                               "k bigint, x double")
    append_version(df.coalesce(1), t, stats_columns=["k"])
    n = current_version(t)
    # k is stats-tracked (manifest nn); x falls back to the parquet
    # FOOTER null stat -- metadata either way, zero files scanned
    for col, want in (("k", 1), ("x", 0)):
        meta_nulls, scan = _null_count_plan(t, n, col)
        assert scan == []
        assert meta_nulls == want
        assert count_nulls(spark, t, col) == want


def test_evolved_column_counts_preexisting_files_as_null(spark,
                                                         tmp_path):
    t = str(tmp_path / "t")
    append_version(spark.createDataFrame([(1,), (2,)], "k bigint")
                        .coalesce(1), t)
    wide = spark.createDataFrame([(3, 7.0), (4, None)],
                                 "k bigint, x double")
    append_version(wide.coalesce(1), t, merge_schema=True)
    n = current_version(t)
    # v1's file has no x column: its 2 rows read back null
    assert count_nulls(spark, t, "x", n) == 3
    assert count_nulls(spark, t, "x", n) == \
        read_version(spark, t, n).filter("x is null").count()
    meta_nulls, scan = _null_count_plan(t, n, "x")
    assert scan == [] and meta_nulls == 3


def test_metadata_report_refuses_scan_kinds_and_empty(spark,
                                                      tmp_path):
    t = str(tmp_path / "t")
    append_version(spark.createDataFrame([(1,)], "k bigint"), t)
    with pytest.raises(ValueError, match="unique"):
        E.metadata_report(spark, t, [E.unique("k")])
    with pytest.raises(ValueError):
        E.metadata_report(spark, t, [])
    with pytest.raises(FileNotFoundError):
        E.metadata_report(spark, str(tmp_path / "missing"),
                          [E.not_null("k")])


def test_count_nulls_rejects_unknown_column(spark, tmp_path):
    """A column outside the version's schema raises instead of
    confidently reporting every row as null (typo insurance; the
    all-null fallback is only for files PREDATING an evolved
    column)."""
    t = str(tmp_path / "t")
    append_version(spark.createDataFrame([(1,)], "k bigint"), t)
    with pytest.raises(ValueError, match="tpyo"):
        count_nulls(spark, t, "tpyo")
    with pytest.raises(ValueError, match="tpyo"):
        E.metadata_report(spark, t, [E.not_null("tpyo")])


def test_check_table_routes_and_matches_scan_report(spark, tmp_path):
    """check_table answers metadata kinds via metadata_report and
    scan kinds via report(read_version) in one declaration-ordered
    suite; results equal running report() on the whole suite."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", -3.0), (2, None, 70.0),
         (None, "a", None)],
        "k bigint, cat string, x double")
    append_version(df.coalesce(1), t, stats_columns=["k", "x"])
    checks = [E.not_null("k"), E.in_range("x", 0, 50),
              E.unique("k"), E.in_set("cat", ["a", "b"])]
    got = E.check_table(spark, t, checks)
    assert [r["check_name"] for r in got] == [c.label for c in checks]
    want = {r["check_name"]: (r["n_violations"], r["n_rows"],
                              r["passed"])
            for r in E.report(read_version(spark, t, 1),
                              checks).collect()}
    for r in got:
        assert (r["n_violations"], r["n_rows"], r["passed"]) == \
            want[r["check_name"]]
    # the interesting numbers themselves
    by = {r["check_name"]: r["n_violations"] for r in got}
    assert by == {"not_null:k": 1, "in_range:x": 2,
                  "unique:k": 2, "in_set:cat": 0}
    with pytest.raises(ValueError):
        E.check_table(spark, t, [])


def test_check_table_routes_nonnumeric_sla_to_scan_half(spark,
                                                        tmp_path):
    """r9 review finding #1: a timestamp/string freshness SLA must
    route to the scan half (metadata min/max is numeric-only), not
    crash the suite; duplicate labels across halves raise."""
    import datetime as dt

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, dt.datetime(2023, 5, 1), "a"),
         (2, dt.datetime(2023, 6, 1), "b")],
        "k bigint, ts timestamp, s string")
    append_version(df.coalesce(1), t, stats_columns=["k"])
    rows = E.check_table(spark, t, [
        E.agg_between("ts", "max", lo=dt.datetime(2023, 6, 1),
                      name="fresh_ok"),
        E.agg_between("ts", "max", lo=dt.datetime(2024, 1, 1),
                      name="fresh_fails"),
        E.agg_between("s", "min", lo="a", name="str_min"),
        E.agg_between("k", "max", hi=10, name="k_meta"),
    ])
    by = {r["check_name"]: r["passed"] for r in rows}
    assert by == {"fresh_ok": True, "fresh_fails": False,
                  "str_min": True, "k_meta": True}
    with pytest.raises(ValueError, match="duplicate"):
        E.check_table(spark, t, [
            E.agg_between("k", "max", hi=10, name="dup"),
            E.agg_between("s", "min", lo="a", name="dup"),
        ])


def test_check_table_versions_matches_per_version_calls(spark,
                                                        tmp_path):
    """r15: the batched multi-version entry point returns the exact
    rows of calling check_table(n=v) per version, while its scan
    halves share one unioned job -- mixed metadata/scan routing,
    including a version where every check routes to metadata."""
    t = str(tmp_path / "t")
    d1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", -3.0), (None, "a", 70.0)],
        "k bigint, cat string, x double")
    append_version(d1.coalesce(1), t, stats_columns=["k", "x"])
    d2 = spark.createDataFrame([(4, "z", 20.0)],
                               "k bigint, cat string, x double")
    append_version(d2.coalesce(1), t, stats_columns=["k", "x"])
    mixed = [E.not_null("k"), E.in_range("x", 0, 50),
             E.unique("k"), E.in_set("cat", ["a", "b"])]
    got = E.check_table_versions(spark, t, mixed, (1, 2))
    for v in (1, 2):
        assert got[v] == E.check_table(spark, t, mixed, n=v)
    # in_set catches v2's 'z' only in version 2
    assert got[1][3]["n_violations"] == 0
    assert got[2][3]["n_violations"] == 1
    # an all-metadata suite must not build any scan frame
    meta_only = [E.not_null("k"), E.agg_between("k", "max", hi=10)]
    got_meta = E.check_table_versions(spark, t, meta_only, (1, 2))
    for v in (1, 2):
        assert got_meta[v] == E.check_table(spark, t, meta_only, n=v)


def test_check_table_versions_dedup_dv_schema_and_empty(spark,
                                                        tmp_path):
    """r16: the multi-version scan half must return the exact
    per-version rows across the awkward histories -- a deletion-
    vector version (per-version row masks over shared files), a
    schema-changing commit (splits the read into schema groups), and
    a version whose scan group is EMPTY after routing (the grouped
    report drops empty groups; the synthesized empty-input rows must
    fill in)."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        delete_keys_dv, drop_columns,
    )

    t = str(tmp_path / "t")
    d1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", -3.0), (3, "a", 70.0)],
        "k bigint, cat string, x double")
    append_version(d1.coalesce(1), t, stats_columns=["k", "x"])
    append_version(
        spark.createDataFrame([(4, "z", 20.0), (4, "b", 1.0)],
                              "k bigint, cat string, x double")
        .coalesce(1), t, stats_columns=["k", "x"])
    # v3: DV delete -- same files as v2, masked rows
    delete_keys_dv(spark, t,
                   spark.createDataFrame([(2,), (4,)], "k bigint"),
                   "k")
    # v4: schema change -- its reads must not share v1-v3's scan
    drop_columns(spark, t, ["x"])
    suite_v123 = [E.in_set("cat", ["a", "b"]), E.unique("k"),
                  E.agg_between("x", "avg", lo=0.0)]
    got = E.check_table_versions(spark, t, suite_v123, (1, 2, 3))
    for v in (1, 2, 3):
        assert got[v] == E.check_table(spark, t, suite_v123, n=v)
    # the DV version dropped one dup of k=4: unique violations differ
    assert got[2][1]["n_violations"] == 2
    assert got[3][1]["n_violations"] == 0
    suite_all = [E.in_set("cat", ["a", "b"])]
    got_all = E.check_table_versions(spark, t, suite_all,
                                     (1, 2, 3, 4))
    for v in (1, 2, 3, 4):
        assert got_all[v] == E.check_table(spark, t, suite_all, n=v)
    # an all-rows-deleted version exercises the synthesized
    # empty-group rows (alive keys at v4 are 1 and 3: v3's DV
    # removed k=2 and both k=4 rows)
    delete_keys_dv(spark, t,
                   spark.createDataFrame([(1,), (3,)], "k bigint"),
                   "k")
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import read_version
    assert read_version(spark, t, 5).count() == 0
    got_e = E.check_table_versions(spark, t, suite_all, (1, 5))
    assert got_e[5] == E.check_table(spark, t, suite_all, n=5)
    assert got_e[5][0]["n_rows"] == 0
    assert got_e[5][0]["passed"] is True


def test_check_table_versions_propagates_read_errors(spark, tmp_path,
                                                     monkeypatch):
    """A failing multi-version read surfaces to the caller -- no
    silent per-version fallback swaps in a different plan."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io import versioned as V

    t = str(tmp_path / "t")
    append_version(
        spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, cat string"),
        t)

    def boom(*_a, **_k):
        raise RuntimeError("multi-version read failed")

    monkeypatch.setattr(V, "read_versions", boom)
    with pytest.raises(RuntimeError, match="multi-version read failed"):
        E.check_table_versions(spark, t, [E.in_set("cat", ["a"])], (1,))
