"""Hive-partitioned snapshot layouts (write_version partition_by)
through every read face: function-side (read_current/read_where/
pruned_files), the DataSource batch + pushdown planner, and the
change feed. The r12 verdict task #4: pin that only the partition's
files are planned."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
    _data_files, _partition_values, _read_dvs, pruned_files,
    read_current, read_where, write_version,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.sources.versioned_source import (
    _PushdownBatchReader, register as register_ds,
)


@pytest.fixture()
def ptable(spark, tmp_path):
    td = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id"),
        F.when(F.col("id") % 10 == 9, F.lit(None))
         .otherwise(2000 + F.col("id") % 3).cast("int").alias("yr"),
        (F.col("id") * 1.5).alias("x"))
    write_version(df, td, partition_by=("yr",))
    return td


def test_data_files_recursive_and_partition_values(ptable):
    files = _data_files(ptable, 1)
    assert files and all("/" in f[len("v_00000001/"):] for f in files)
    dirs = {list(_partition_values(f).items())[0] for f in files}
    assert {("yr", "2000"), ("yr", "2001"), ("yr", "2002"),
            ("yr", "__HIVE_DEFAULT_PARTITION__")} == dirs


def test_read_back_schema_order_and_values(spark, ptable):
    cur = read_current(spark, ptable)
    assert cur.columns == ["id", "yr", "x"]
    assert cur.count() == 100
    assert cur.filter("yr IS NULL").count() == 10
    # partition values round-trip: every non-null row's yr matches
    # its id-derived value
    bad = cur.filter("yr IS NOT NULL AND yr != 2000 + id % 3").count()
    assert bad == 0


def test_pruned_files_partition_exact(ptable):
    kept, total = pruned_files(ptable, 1, "yr", 2001, 2001)
    assert kept and len(kept) < total
    assert all("yr=2001" in f for f in kept)
    # the null-marker directory is excluded by ANY bounded range
    assert not any("__HIVE_DEFAULT_PARTITION__" in f for f in kept)
    # unbounded keeps everything
    assert pruned_files(ptable, 1, "yr")[0] == _data_files(ptable, 1)


def test_read_where_partition_slice(spark, ptable):
    one = read_where(spark, ptable, "yr", 2002, 2002)
    assert one.count() == 30
    assert one.select("yr").distinct().collect()[0][0] == 2002


def test_datasource_plain_read_attaches_partition_col(spark, ptable):
    register_ds(spark)
    r = (spark.read.format("versioned_table")
         .option("path", ptable).load())
    assert r.columns == ["id", "yr", "x"]
    assert r.count() == 100
    got = {x[0] for x in r.select("yr").distinct().collect()}
    assert got == {2000, 2001, 2002, None}


@pytest.mark.parametrize("pushed,expect_dir", [
    ([("eq", "yr", 2001)], "yr=2001"),
    ([("in", "yr", (2000, 2002))], None),          # two dirs
    ([("ge", "yr", 2002)], "yr=2002"),
    ([("lt", "yr", 2001)], "yr=2000"),
    ([("isnull", "yr", None)], "__HIVE_DEFAULT_PARTITION__"),
])
def test_pushdown_planner_partition_exclusion(spark, ptable,
                                              pushed, expect_dir):
    rd = _PushdownBatchReader({"path": ptable, "pushdown": "true"}, 1)
    all_n = len(rd.partitions())
    rd._pushed = pushed
    parts = rd.partitions()
    assert 0 < len(parts) < all_n
    if expect_dir is not None:
        assert all(expect_dir in p.abs_path for p in parts)
    else:
        assert all(("yr=2000" in p.abs_path)
                   or ("yr=2002" in p.abs_path) for p in parts)


def test_pushdown_notnull_drops_only_null_dir(spark, ptable):
    rd = _PushdownBatchReader({"path": ptable, "pushdown": "true"}, 1)
    all_n = len(rd.partitions())
    rd._pushed = [("notnull", "yr", None)]
    parts = rd.partitions()
    assert len(parts) < all_n
    assert not any("__HIVE_DEFAULT_PARTITION__" in p.abs_path
                   for p in parts)


def test_pushdown_end_to_end_values(spark, ptable):
    register_ds(spark)
    r = (spark.read.format("versioned_table").option("path", ptable)
         .option("pushdown", "true").load())
    assert r.filter("yr = 2000").count() == 30
    assert r.filter("yr IS NULL").count() == 10
    got = (r.filter("yr = 2001").agg(F.sum("x")).collect()[0][0])
    exp = sum(i * 1.5 for i in range(100)
              if i % 10 != 9 and i % 3 == 1)
    assert abs(got - exp) < 1e-9


def test_change_feed_attaches_partition_col(spark, ptable):
    register_ds(spark)
    ch = (spark.read.format("versioned_table").option("path", ptable)
          .option("readChangeFeed", "true")
          .option("startingVersion", "0").load())
    assert ch.count() == 100
    assert ch.filter("_change_type = 'insert'").count() == 100
    got = {x[0] for x in ch.select("yr").distinct().collect()}
    assert got == {2000, 2001, 2002, None}


def test_string_partition_values_escape_roundtrip(spark, tmp_path):
    """Hive path escaping (spaces -> %20 etc.) must unescape on the
    way back through both faces."""
    td = str(tmp_path / "s")
    df = spark.createDataFrame(
        [(1, "north region", 1.0), (2, "south", 2.0),
         (3, "north region", 3.0)],
        "id bigint, reg string, x double")
    write_version(df, td, partition_by=("reg",))
    cur = read_current(spark, td)
    assert {x[0] for x in cur.select("reg").distinct().collect()} \
        == {"north region", "south"}
    kept, total = pruned_files(td, 1, "reg",
                               "north region", "north region")
    assert kept and len(kept) < total
    register_ds(spark)
    r = (spark.read.format("versioned_table").option("path", td)
         .load())
    assert r.filter(F.col("reg") == "north region").count() == 2


def test_multi_column_partitioning(spark, tmp_path):
    td = str(tmp_path / "m")
    df = spark.range(40).select(
        F.col("id"), (F.col("id") % 2).cast("int").alias("a"),
        (F.col("id") % 4).cast("int").alias("b"))
    write_version(df, td, partition_by=("a", "b"))
    files = _data_files(td, 1)
    assert all(len(_partition_values(f)) == 2 for f in files)
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import read_where_all
    got = read_where_all(spark, td, {"a": (1, 1), "b": (3, 3)})
    assert got.count() == 10
    kept_a, _ = pruned_files(td, 1, "a", 1, 1)
    assert all("a=1" in f for f in kept_a)


def test_partitioned_append_chain(spark, tmp_path):
    """append_version(partition_by=...): nested manifest paths,
    path-derived exact stats, and pruning across an inheriting
    chain with mixed flat/partitioned commits."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        _read_stats, append_version, count_nulls, count_where,
        table_rowcount,
    )

    td = str(tmp_path / "ap")
    df = spark.range(60).select(
        F.col("id"),
        F.when(F.col("id") % 15 == 14, F.lit(None))
         .otherwise(2000 + F.col("id") % 3).cast("int").alias("yr"))
    append_version(df.filter("id < 30"), td, partition_by=("yr",),
                   stats_columns=["id"])
    append_version(df.filter("id >= 30"), td, partition_by=("yr",))
    # flat commit into the same chain
    append_version(
        spark.createDataFrame([(1000, 1999)], "id bigint, yr int"),
        td)
    files = _data_files(td, 3)
    assert any("yr=" in f for f in files)
    assert read_current(spark, td).count() == 61
    # partition columns carry EXACT manifest stats from the path
    stats = _read_stats(td, 3)
    part_stats = [s["yr"] for f, s in stats.items()
                  if "yr=2001" in f]
    assert part_stats and all(s == (2001, 2001) or s == [2001, 2001]
                              for s in part_stats)
    # pruning works through the inheriting manifest
    kept, total = pruned_files(td, 3, "yr", 2001, 2001)
    assert kept and len(kept) < total
    assert read_where(spark, td, "yr", 2001, 2001).count() == \
        len([i for i in range(60) if i % 15 != 14 and i % 3 == 1])
    # metadata tiers answer for the partition column without a scan
    assert table_rowcount(td, 3) == 61
    assert count_nulls(None, td, "yr", n=2) == 4
    assert count_where(None, td, "yr", lo=2001, hi=2001, n=2) == \
        len([i for i in range(60) if i % 15 != 14 and i % 3 == 1])


def test_compact_into_partitioned_layout(spark, tmp_path):
    """compact_table(partition_by=...): a flat append chain
    re-laid out under partition directories in one commit, rows
    identical, pruning live."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        append_version, compact_table,
    )

    td = str(tmp_path / "cp")
    df = spark.range(90).select(
        F.col("id"), (F.col("id") % 3).cast("int").alias("g"),
        (F.col("id") * 0.5).alias("x"))
    append_version(df.filter("id < 45"), td)
    append_version(df.filter("id >= 45"), td)
    v = compact_table(spark, td, partition_by=("g",),
                      sort_by=["id"], sort_partitions=4,
                      stats_columns=["id"])
    files = _data_files(td, v)
    assert files and all("g=" in f for f in files)
    cur = read_current(spark, td)
    assert cur.columns == ["id", "g", "x"]
    assert sorted(r.id for r in cur.collect()) == list(range(90))
    kept, total = pruned_files(td, v, "g", 2, 2)
    assert kept and len(kept) < total and all("g=2" in f for f in kept)
    # sort_by clustering holds within partitions: id pruning works too
    kept_id, _ = pruned_files(td, v, "id", 0, 5)
    assert len(kept_id) < total


def test_partitioned_append_through_datasource_face(spark, tmp_path):
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import append_version

    td = str(tmp_path / "dsap")
    df = spark.range(40).select(
        F.col("id"), (F.col("id") % 4).cast("int").alias("b"))
    append_version(df, td, partition_by=("b",))
    register_ds(spark)
    r = (spark.read.format("versioned_table").option("path", td)
         .load())
    assert r.count() == 40
    assert {x[0] for x in r.select("b").distinct().collect()} \
        == {0, 1, 2, 3}
    rd = _PushdownBatchReader({"path": td, "pushdown": "true"}, 1)
    all_n = len(rd.partitions())
    rd._pushed = [("eq", "b", 2)]
    parts = rd.partitions()
    assert 0 < len(parts) < all_n
    assert all("b=2" in p.abs_path for p in parts)


def test_dv_suffix_pattern_nested_and_anchored():
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import _dv_suffix

    assert _dv_suffix("v_00000001/part.parquet") \
        == "v_00000001/part.parquet"
    assert _dv_suffix("v_00000001/g=2/part.parquet") \
        == "v_00000001/g=2/part.parquet"
    # the LAST v_N segment anchors: a v_N-shaped ancestor directory
    # cannot desynchronize scan-side URIs from manifest-side rels
    assert _dv_suffix("/tmp/v_00000012/tbl/v_00000001/g=2/f.pq") \
        == "v_00000001/g=2/f.pq"
    assert _dv_suffix(
        "file:/x/t/v_00000003/yr=__HIVE_DEFAULT_PARTITION__/p.pq") \
        == "v_00000003/yr=__HIVE_DEFAULT_PARTITION__/p.pq"


def test_row_level_ops_on_partitioned_table(spark, tmp_path):
    """dv-delete, copy-on-write delete, and merge all work on a
    Hive-partitioned snapshot (the dv join key spans the partition
    segments; rewrites materialize the partition column into flat
    replacement files, which mixed-layout reads handle)."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        delete_keys_dv, delete_keys_version, merge_version,
        read_version, table_rowcount, write_version,
    )

    td = str(tmp_path / "rl")
    df = spark.range(40).select(
        F.col("id"), (F.col("id") % 4).cast("int").alias("g"))
    write_version(df, td, partition_by=("g",))
    delete_keys_dv(spark, td,
                   spark.createDataFrame([(5,), (6,)], "id bigint"),
                   "id")
    got = sorted(r.id for r in read_current(spark, td).collect())
    assert len(got) == 38 and 5 not in got and 6 not in got
    assert table_rowcount(td) == 38
    delete_keys_version(
        spark, td, spark.createDataFrame([(7,)], "id bigint"), "id")
    cur = read_current(spark, td)
    assert cur.count() == 37
    assert cur.filter("g IS NULL").count() == 0
    merge_version(
        spark, td,
        spark.range(2).select((F.col("id") + 100).alias("id"),
                              F.lit(1).cast("int").alias("g")),
        "id")
    assert read_current(spark, td).count() == 39
    # time travel back to the pristine partitioned snapshot
    assert read_version(spark, td, 1).count() == 40


def test_datasource_write_partitionby_batch(spark, tmp_path):
    """df.write.format('versioned_table').option('partitionBy', ...):
    executors stage parts under col=value dirs, partition columns
    dropped from the file bytes, read back via the path on both
    faces, pruning live."""
    register_ds(spark)
    td = str(tmp_path / "wb")
    df = spark.range(60).select(
        F.col("id"), (F.col("id") % 3).cast("int").alias("g"),
        (F.col("id") * 2.0).alias("x"))
    (df.write.format("versioned_table").option("path", td)
       .option("partitionBy", "g").option("statsColumns", "id")
       .mode("append").save())
    files = _data_files(td, 1)
    assert files and all("g=" in f for f in files)
    cur = read_current(spark, td)
    assert cur.columns == ["id", "g", "x"]
    assert cur.count() == 60
    assert cur.filter("g = 1").count() == 20
    kept, total = pruned_files(td, 1, "g", 1, 1)
    assert kept and len(kept) < total
    # append a second partitioned version through the same face
    (spark.range(10).select(
        (F.col("id") + 100).alias("id"),
        F.lit(7).cast("int").alias("g"), F.lit(0.0).alias("x"))
     .write.format("versioned_table").option("path", td)
     .option("partitionBy", "g").mode("append").save())
    assert read_current(spark, td).filter("g = 7").count() == 10


def test_datasource_write_partitionby_stream(spark, tmp_path):
    td = str(tmp_path / "ws")
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    df = spark.range(30).select(
        F.col("id"), (F.col("id") % 2).cast("int").alias("g"))
    df.write.mode("overwrite").parquet(src + "/b0")
    register_ds(spark)
    q = (spark.readStream.schema(df.schema).parquet(src + "/*")
         .writeStream.format("versioned_table")
         .option("path", td).option("txnAppId", "part-stream")
         .option("partitionBy", "g")
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    files = _data_files(td, 1)
    assert files and all("g=" in f for f in files)
    cur = read_current(spark, td)
    assert cur.count() == 30
    assert cur.filter("g = 1").count() == 15
    kept, total = pruned_files(td, 1, "g", 0, 0)
    assert kept and len(kept) < total


def test_dv_delete_on_url_encoded_partition_value(spark, tmp_path):
    """r13 review finding #1: _metadata.file_path is a URI, so a
    partition dir with a space surfaces as %20 on the scan side while
    manifests hold the literal name -- the dv join key must decode."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        delete_keys_dv, table_rowcount,
    )

    td = str(tmp_path / "enc")
    df = spark.createDataFrame(
        [(i, "north region" if i % 2 else "south") for i in range(8)],
        "id bigint, reg string")
    write_version(df, td, partition_by=("reg",))
    delete_keys_dv(spark, td,
                   spark.createDataFrame([(1,), (3,)], "id bigint"),
                   "id")
    got = sorted(r.id for r in read_current(spark, td).collect())
    assert got == [0, 2, 4, 5, 6, 7]
    assert table_rowcount(td) == 6
    # the change feed's dv-delta path uses the same decoded key
    register_ds(spark)
    ch = (spark.read.format("versioned_table").option("path", td)
          .option("readChangeFeed", "true")
          .option("startingVersion", "1").load())
    dels = {(r.id, r.reg) for r in
            ch.filter("_change_type = 'delete'").collect()}
    assert dels == {(1, "north region"), (3, "north region")}


def test_dv_keys_on_awkward_partition_paths(spark, tmp_path):
    """The dv join key survives partition values with a space, ``+``,
    ``%`` and non-ASCII characters under a partition column whose
    name starts with ``v_``: every dv-masked read, the dv-tier change
    feed and the compaction equal a pandas model row for row."""
    import pandas as pd

    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        delete_keys_dv, maybe_compact, read_changes, read_versions,
    )

    regs = ["north region", "a+b", "100%", "Zürich 東京", "plain"]
    model = pd.DataFrame({"id": range(20),
                          "v_reg": [regs[i % 5] for i in range(20)]})
    td = str(tmp_path / "awk")
    v1 = write_version(spark.createDataFrame(model), td,
                       partition_by=("v_reg",))
    gone = [1, 2, 3, 4, 9, 15]
    v2 = delete_keys_dv(spark, td, spark.createDataFrame(
        [(i,) for i in gone], "id bigint"), "id")
    live = model[~model.id.isin(gone)]

    def rows(df, cols=("id", "v_reg")):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    def want(pdf, cols=("id", "v_reg")):
        return sorted(tuple(t) for t in pdf[list(cols)].itertuples(
            index=False))

    assert rows(read_current(spark, td)) == want(live)
    both = pd.concat([model.assign(__version=v1),
                      live.assign(__version=v2)])
    cols = ("__version", "id", "v_reg")
    assert rows(read_versions(spark, td, [v1, v2]), cols) \
        == want(both, cols)
    cols = ("id", "v_reg", "_change_type")
    assert rows(read_changes(spark, td, v1, v2), cols) == want(
        model[model.id.isin(gone)].assign(_change_type="delete"), cols)
    v3 = maybe_compact(spark, td, max_dv_fraction=0.01,
                       partition_by=["v_reg"])
    assert v3 is not None and not _read_dvs(td, v3)
    assert rows(read_current(spark, td)) == want(live)


def test_fsck_partitioned_unreferenced_sweep(spark, tmp_path):
    """r13 review finding #2: verify_table must not report live
    partition directories as vacuum fodder, and must see a genuine
    orphan nested inside one."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.fsck import verify_table
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import append_version

    td = str(tmp_path / "fs")
    df = spark.range(20).select(
        F.col("id"), (F.col("id") % 2).cast("int").alias("g"))
    # manifest version: the unreferenced sweep compares against the
    # manifest's listed files (a snapshot dir's files ARE the
    # version, so a stray there surfaces as unreadable instead)
    append_version(df, td, partition_by=("g",))
    rep = verify_table(spark, td)
    assert rep["ok"], rep
    assert rep["unreferenced_files"] == []
    # plant a nested orphan inside a live partition directory
    import pathlib
    orphan = pathlib.Path(td) / "v_00000001" / "g=1" / "stray.parquet"
    orphan.write_bytes(b"not parquet")
    rep2 = verify_table(spark, td)
    assert rep2["unreferenced_files"] == ["v_00000001/g=1/stray.parquet"]
    assert rep2["ok"]  # informational, not a corruption verdict


def test_partition_values_anchor_below_last_version_dir():
    """r13 review finding #3: a k=v-shaped ANCESTOR directory in a
    shallow clone's external ref must not be misread as a partition
    value."""
    assert _partition_values(
        "../../data/date=2026-01-01/src/v_00000001/part.pq") == {}
    assert _partition_values(
        "../date=x/v_00000001/g=2/part.pq") == {"g": "2"}


def test_metadata_counts_heal_pending_dv_remap(spark, tmp_path,
                                               monkeypatch):
    """r13 review finding #4: in the purge crash window the manifest
    count and sidecar witness are stale TOGETHER -- the metadata
    tiers must apply the pending journal before answering."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io import purge as P
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        append_version, count_where, delete_keys_dv, table_rowcount,
    )

    td = str(tmp_path / "heal")
    df = spark.createDataFrame(
        [(k, f"a{k}") for k in range(10)], "k bigint, a string")
    append_version(df.coalesce(1), td, stats_columns=["k"])
    delete_keys_dv(spark, td,
                   spark.createDataFrame([(3,)], "k bigint"), "k")
    monkeypatch.setattr(P, "_apply_dv_remap_journals",
                        lambda *a, **kw: 0)
    P.purge_keys_history(spark, td, "k", [1])
    monkeypatch.undo()
    # v2: 10 physical - 1 purged - 1 dv-deleted = 8 logical rows
    assert table_rowcount(td, 2) == 8
    assert count_where(spark, td, "k", n=2) == 8
