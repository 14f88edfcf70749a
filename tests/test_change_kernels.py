"""The versioned table's row-level kernels: read_changes' grouped
multiset diff (its equality rules, map handling and its agreement with
the batch change-feed face) and the plans of the deletion-vector mask
and the full diff, pinned to Spark's typed operators."""

from __future__ import annotations

import math
from collections import Counter

import pytest

from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
    append_version,
    delete_keys_dv,
    merge_version,
    read_changes,
    read_version,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.sources.versioned_source import (
    register,
)

SCHEMA = "k bigint, x double, m map<string,int>"


def _canon(v):
    """A hashable, order-free form of one value: NaN as a marker,
    -0.0 as 0.0, a map as its sorted entries."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v + 0.0
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def _rows(df, cols):
    return Counter(tuple(_canon(r[c]) for c in cols)
                   for r in df.collect())


def test_read_changes_matches_cdf_on_float_and_map_edges(spark, tmp_path):
    """One rewrite commit whose only edits to some rows are the sign
    of a zero, a NaN rewritten as NaN and a map's entry order: the
    grouped diff sees no change there, and the batch CDF face (the
    pyarrow diff) returns the same rows."""
    td = str(tmp_path / "t")
    nan = float("nan")
    v1 = append_version(spark.createDataFrame([
        (1, 0.0, {"a": 1, "b": 2}), (2, -0.0, {"x": 1}),
        (3, nan, None), (4, None, {}), (5, 1.5, {"a": 1}),
        (6, 2.5, {"q": 9})], SCHEMA).coalesce(1), td,
        stats_columns=["k"])
    v2 = merge_version(spark, td, spark.createDataFrame([
        (1, -0.0, {"b": 2, "a": 1}), (2, 0.0, {"x": 1}),
        (3, nan, None), (4, None, {"z": 0}), (5, 1.5, {"a": 2}),
        (7, -0.0, {"n": 1})], SCHEMA), "k")
    cols = ["k", "x", "m", "_change_type"]
    got = _rows(read_changes(spark, td, v1, v2), cols)
    assert got == Counter({
        (4, None, (), "delete"): 1,
        (4, None, (("z", 0),), "insert"): 1,
        (5, 1.5, (("a", 1),), "delete"): 1,
        (5, 1.5, (("a", 2),), "insert"): 1,
        (7, 0.0, (("n", 1),), "insert"): 1})
    register(spark)
    cdf = (spark.read.format("versioned_table").option("path", td)
           .option("readChangeFeed", "true")
           .option("startingVersion", str(v1))
           .option("endingVersion", str(v2)).load())
    assert _rows(cdf, cols) == got
    assert read_changes(spark, td, v1, v2).schema["m"].dataType \
        .simpleString() == "map<string,int>"


def test_read_changes_refuses_ungroupable_column(spark, tmp_path):
    td = str(tmp_path / "t")
    schema = "k bigint, s struct<m: map<string,int>>"
    v1 = append_version(spark.createDataFrame(
        [(1, ({"a": 1},)), (2, ({"b": 2},))], schema).coalesce(1), td,
        stats_columns=["k"])
    v2 = merge_version(spark, td, spark.createDataFrame(
        [(1, ({"a": 5},))], schema), "k")
    with pytest.raises(TypeError, match="'s'"):
        read_changes(spark, td, v1, v2)


def _plan(df) -> str:
    """The analyzed, optimized and physical plans as text; building
    them runs no Spark job."""
    return df._jdf.queryExecution().toString()


def _dv_table(spark, td):
    v1 = append_version(spark.createDataFrame(
        [(i, f"r{i}") for i in range(20)], "k bigint, v string")
        .coalesce(1), td, stats_columns=["k"])
    v2 = delete_keys_dv(spark, td, spark.createDataFrame(
        [(3,), (7,)], "k bigint"), "k")
    return v1, v2


def test_dv_mask_plan_has_no_regex_or_url_decode(spark, tmp_path):
    td = str(tmp_path / "t")
    _v1, v2 = _dv_table(spark, td)
    plan = _plan(read_version(spark, td, v2)).lower()
    assert "leftanti" in plan
    for banned in ("regexp_extract", "regexpextract", "url_decode",
                   "urldecode", "urlcodec"):
        assert banned not in plan, banned


def test_full_diff_plan_has_no_json_or_full_join(spark, tmp_path):
    td = str(tmp_path / "t")
    v1, _v2 = _dv_table(spark, td)
    v3 = merge_version(spark, td, spark.createDataFrame(
        [(1, "new")], "k bigint, v string"), "k")
    plan = _plan(read_changes(spark, td, v1, v3)).lower()
    assert "aggregate" in plan
    for banned in ("to_json", "structstojson", "from_json",
                   "jsontostructs", "fullouter", "full_outer"):
        assert banned not in plan, banned
