"""Deletion vectors (merge-on-read deletes, the Delta DV shape):
delete_keys_dv / delete_where_dv commit per-file position sidecars
instead of rewriting data files; readers anti-filter on the scan's
(file, row_index) identity; every writer carries the vectors through
inheritance; compaction materializes them away."""

from __future__ import annotations

import os

import pytest

from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
    _data_files,
    _read_dvs,
    append_version,
    compact_table,
    current_version,
    delete_keys_dv,
    delete_where_dv,
    merge_version,
    read_current,
    read_version,
    restore_table,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _kv(spark, pairs):
    return spark.createDataFrame(pairs, "k bigint, v string")


def _mk(spark, td):
    append_version(_kv(spark, [(1, "a"), (2, "b"), (3, "c")])
                   .coalesce(1), td, stats_columns=["k"])
    append_version(_kv(spark, [(10, "x"), (11, "y")]).coalesce(1),
                   td, stats_columns=["k"])


def test_dv_delete_is_metadata_only_and_reads_exclude(spark, tmp_path):
    td = str(tmp_path / "t")
    _mk(spark, td)
    files_before = _data_files(td, 2)
    mtimes = {f: os.path.getmtime(os.path.join(td, f))
              for f in files_before}
    n = delete_keys_dv(spark, td,
                       spark.createDataFrame([(2,), (11,)],
                                             "k bigint"), "k")
    assert n == 3 and current_version(td) == 3
    # no data file rewritten or added
    assert _data_files(td, 3) == files_before
    for f, m in mtimes.items():
        assert os.path.getmtime(os.path.join(td, f)) == m
    assert _rows(read_current(spark, td)) == [
        (1, "a"), (3, "c"), (10, "x")]
    # time travel BEFORE the delete still shows the rows
    assert _rows(read_version(spark, td, 2)) == [
        (1, "a"), (2, "b"), (3, "c"), (10, "x"), (11, "y")]
    # both files carry a vector of 1
    dvs = _read_dvs(td, 3)
    assert sorted(cnt for _d, cnt in dvs.values()) == [1, 1]


def test_dv_delete_nothing_matched_is_noop(spark, tmp_path):
    td = str(tmp_path / "t")
    _mk(spark, td)
    assert delete_keys_dv(
        spark, td,
        spark.createDataFrame([(999,)], "k bigint"), "k") is None
    assert current_version(td) == 2


def test_dv_delete_idempotent_and_incremental(spark, tmp_path):
    td = str(tmp_path / "t")
    _mk(spark, td)
    delete_keys_dv(spark, td,
                   spark.createDataFrame([(2,)], "k bigint"), "k")
    # same keys again: every match already deleted -> no commit
    assert delete_keys_dv(
        spark, td,
        spark.createDataFrame([(2,)], "k bigint"), "k") is None
    # a second delete on the SAME file merges vectors
    delete_keys_dv(spark, td,
                   spark.createDataFrame([(1,)], "k bigint"), "k")
    assert _rows(read_current(spark, td)) == [
        (3, "c"), (10, "x"), (11, "y")]
    dvs = _read_dvs(td, current_version(td))
    assert sum(cnt for _d, cnt in dvs.values()) == 2


def test_dv_txn_replay_noop(spark, tmp_path):
    td = str(tmp_path / "t")
    _mk(spark, td)
    n = delete_keys_dv(spark, td,
                       spark.createDataFrame([(2,)], "k bigint"),
                       "k", txn="job:1")
    assert delete_keys_dv(
        spark, td, spark.createDataFrame([(3,)], "k bigint"),
        "k", txn="job:1") == n
    assert _rows(read_current(spark, td).select("k")) == [
        (1,), (3,), (10,), (11,)]


def test_delete_where_dv_range(spark, tmp_path):
    td = str(tmp_path / "t")
    _mk(spark, td)
    n = delete_where_dv(spark, td, "k", lo=2, hi=10)
    assert n == 3
    assert _rows(read_current(spark, td).select("k")) == [(1,), (11,)]
    with pytest.raises(ValueError, match="lo and/or hi"):
        delete_where_dv(spark, td, "k")


def test_append_after_dv_carries_vectors(spark, tmp_path):
    td = str(tmp_path / "t")
    _mk(spark, td)
    delete_keys_dv(spark, td,
                   spark.createDataFrame([(2,)], "k bigint"), "k")
    append_version(_kv(spark, [(20, "z")]).coalesce(1), td)
    assert _rows(read_current(spark, td).select("k")) == [
        (1,), (3,), (10,), (11,), (20,)]
    assert len(_read_dvs(td, current_version(td))) == 1


def test_merge_rewrite_sheds_touched_vectors(spark, tmp_path):
    """A COW merge touching a dv-bearing file rewrites it from its
    DV-FILTERED contents and drops the vector; untouched files keep
    theirs."""
    td = str(tmp_path / "t")
    _mk(spark, td)
    delete_keys_dv(spark, td,
                   spark.createDataFrame([(2,), (11,)], "k bigint"),
                   "k")
    merge_version(spark, td, _kv(spark, [(1, "A")]), "k")
    assert _rows(read_current(spark, td)) == [
        (1, "A"), (3, "c"), (10, "x")]
    dvs = _read_dvs(td, current_version(td))
    # only the file holding (10,11) keeps its vector
    assert len(dvs) == 1


def test_compact_materializes_vectors(spark, tmp_path):
    td = str(tmp_path / "t")
    _mk(spark, td)
    delete_keys_dv(spark, td,
                   spark.createDataFrame([(2,), (10,)], "k bigint"),
                   "k")
    n = compact_table(spark, td, sort_by=["k"])
    assert _read_dvs(td, n) == {}
    assert _rows(read_current(spark, td).select("k")) == [
        (1,), (3,), (11,)]


def test_restore_across_dv(spark, tmp_path):
    td = str(tmp_path / "t")
    _mk(spark, td)
    delete_keys_dv(spark, td,
                   spark.createDataFrame([(2,)], "k bigint"), "k")
    restore_table(spark, td, 2)
    assert _rows(read_current(spark, td).select("k")) == [
        (1,), (2,), (3,), (10,), (11,)]
    # restore BACK onto the dv version resurrects the vector
    restore_table(spark, td, 3)
    assert _rows(read_current(spark, td).select("k")) == [
        (1,), (3,), (10,), (11,)]


# ------------------------------------------- metadata-query tiers


def test_metadata_tiers_respect_vectors(spark, tmp_path):
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        _count_where_plan,
        column_range,
        count_nulls,
        count_where,
        table_rowcount,
    )

    td = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, None if i % 4 == 0 else f"s{i}") for i in range(1, 9)],
        "k bigint, s string")
    append_version(df.coalesce(1), td, stats_columns=["k"])
    clean = spark.createDataFrame(
        [(i, f"s{i}") for i in range(100, 104)], "k bigint, s string")
    append_version(clean.coalesce(1), td, stats_columns=["k"])
    delete_keys_dv(spark, td,
                   spark.createDataFrame([(8,), (3,)], "k bigint"),
                   "k")
    n = current_version(td)
    # rowcount subtracts from manifest metadata alone
    assert table_rowcount(td, n) == 10
    # the dv-bearing file is forced into the scanned boundary set;
    # the clean file still answers from metadata
    meta_rows, boundary = _count_where_plan(td, n, "k", 1, 200)
    assert meta_rows == 4 and len(boundary) == 1
    assert count_where(spark, td, "k", lo=1, hi=200) == 10
    assert count_where(spark, td, "k", lo=3, hi=8) == 4  # 4..7
    # count_nulls: k=8 was a null-s row? no -- k%4==0 rows (4, 8)
    # were null; deleting k=8 removes one null
    assert count_nulls(spark, td, "s") == 1
    # column_range: the max (k=8) was deleted in its file; global max
    # now comes from the clean file, min from survivors
    assert column_range(spark, td, "k") == (1, 103)
    delete_where_dv(spark, td, "k", lo=100, hi=200)
    assert column_range(spark, td, "k") == (1, 7)
    assert table_rowcount(td) == 6


def test_show_partitions_sums_to_table_rowcount(spark, tmp_path):
    """show_partitions and table_rowcount share one per-file live-row
    count: on a partitioned dv-bearing table their totals equal the
    scan, also when a dv-bearing file has no #rows record and its #dv
    count is stale (both re-decode the vector then)."""
    import json

    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        show_partitions,
        table_rowcount,
    )

    td = str(tmp_path / "t")
    append_version(
        spark.createDataFrame([(k, k % 3) for k in range(30)],
                              "k bigint, g int"),
        td, partition_by=["g"])
    delete_keys_dv(spark, td,
                   spark.createDataFrame([(1,), (2,), (3,), (4,)],
                                         "k bigint"), "k")
    n = current_version(td)
    assert len(_read_dvs(td, n)) >= 3  # one vector per partition
    live = read_current(spark, td).count()
    assert live == 26
    assert sum(p["n_rows"] for p in show_partitions(td)) \
        == table_rowcount(td) == live

    mf = os.path.join(td, f"v_{n:08d}", "_MANIFEST")
    with open(mf, encoding="ascii") as fh:
        lines = fh.read().splitlines()
    out = []
    for ln in lines:
        if ln.startswith("#rows "):
            continue
        if ln.startswith("#dv "):
            rec = json.loads(ln[len("#dv "):])
            rec["n"] += 1
            ln = "#dv " + json.dumps(rec, sort_keys=True)
        out.append(ln)
    with open(mf, "w", encoding="ascii") as fh:
        fh.write("\n".join(out) + "\n")
    assert sum(p["n_rows"] for p in show_partitions(td)) \
        == table_rowcount(td) == live


def test_read_where_and_point_lookup_respect_vectors(spark, tmp_path):
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.bloom_index import (
        build_bloom_index,
        point_lookup,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import read_where

    td = str(tmp_path / "t")
    _mk(spark, td)
    build_bloom_index(spark, td, "k")
    delete_keys_dv(spark, td,
                   spark.createDataFrame([(2,)], "k bigint"), "k")
    assert _rows(read_where(spark, td, "k", lo=1, hi=3)
                 .select("k")) == [(1,), (3,)]
    # bloom still routes to the file; the dv filter drops the row
    assert point_lookup(spark, td, "k", 2).count() == 0
    assert _rows(point_lookup(spark, td, "k", 3).select("k")) == [(3,)]


# ---------------------------------------------------- change feed


def test_read_changes_dv_tiers(spark, tmp_path):
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import read_changes

    td = str(tmp_path / "t")
    _mk(spark, td)                                    # v1, v2
    delete_keys_dv(spark, td,
                   spark.createDataFrame([(2,), (10,)], "k bigint"),
                   "k")                               # v3
    # dv-only delta: exactly the two deleted rows, change_type delete
    ch = read_changes(spark, td, 2, 3)
    got = sorted((r.k, r._change_type) for r in ch.collect())
    assert got == [(2, "delete"), (10, "delete")]
    # append after the delete: from BEFORE the delete the feed is
    # NOT the pure-append fast path (common dv changed)
    append_version(_kv(spark, [(20, "z")]).coalesce(1), td)  # v4
    ch = read_changes(spark, td, 2, 4)
    got = sorted((r.k, r._change_type) for r in ch.collect())
    assert got == [(2, "delete"), (10, "delete"), (20, "insert")]
    # from AFTER the delete it IS the fast path (dv state equal)
    ch = read_changes(spark, td, 3, 4)
    assert sorted((r.k, r._change_type) for r in ch.collect()) == [
        (20, "insert")]
    # restore rewinding past the delete emits the rows as inserts
    restore_table(spark, td, 2)                       # v5
    ch = read_changes(spark, td, 4, 5)
    got = sorted((r.k, r._change_type) for r in ch.collect())
    assert got == [(2, "insert"), (10, "insert"), (20, "delete")]


def test_changes_fold_to_current_across_dv_history(spark, tmp_path):
    """Folding the feed from v1 onto v1's state must reproduce
    read_current, whatever mix of appends/dv-deletes/compactions."""
    from collections import Counter

    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import read_changes

    td = str(tmp_path / "t")
    _mk(spark, td)
    delete_keys_dv(spark, td,
                   spark.createDataFrame([(1,), (11,)], "k bigint"),
                   "k")
    append_version(_kv(spark, [(30, "w")]).coalesce(1), td)
    compact_table(spark, td, sort_by=["k"])
    delete_where_dv(spark, td, "k", lo=10, hi=10)
    state = Counter((r.k, r.v)
                    for r in read_version(spark, td, 1).collect())
    for r in read_changes(spark, td, 1).collect():
        key = (r.k, r.v)
        if r._change_type == "insert":
            state[key] += 1
        else:
            state[key] -= 1
    want = Counter((r.k, r.v)
                   for r in read_current(spark, td).collect())
    assert Counter({k: c for k, c in state.items() if c}) == want


# -------------------------------------------------------- vacuum


def test_vacuum_keeps_referenced_dv_sidecars(spark, tmp_path):
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import vacuum

    td = str(tmp_path / "t")
    _mk(spark, td)                                    # v1, v2
    delete_keys_dv(spark, td,
                   spark.createDataFrame([(2,)], "k bigint"), "k")  # v3
    for i in range(4):
        append_version(_kv(spark, [(50 + i, "q")]).coalesce(1), td)
    vacuum(td, keep_last=2, stage_ttl_seconds=0)
    # v3's dir holds the dv sidecar current still references -- kept
    assert os.path.isdir(os.path.join(td, "v_00000003"))
    assert _rows(read_current(spark, td).select("k")) == [
        (1,), (3,), (10,), (11,),
        (50,), (51,), (52,), (53,)]


# ---------------------------------------------- DataSource faces


def test_datasource_batch_read_applies_vectors(spark, tmp_path):
    from esg_decarbonization_data_integration_and_data_pipline_spark.sources.versioned_source import (
        register,
    )

    register(spark)
    td = str(tmp_path / "t")
    _mk(spark, td)
    delete_keys_dv(spark, td,
                   spark.createDataFrame([(2,), (10,)], "k bigint"),
                   "k")
    cur = (spark.read.format("versioned_table")
           .option("path", td).load())
    assert _rows(cur.select("k")) == [(1,), (3,), (11,)]
    # time travel before the delete
    v2 = (spark.read.format("versioned_table")
          .option("path", td).option("version", "2").load())
    assert v2.count() == 5
    # pushdown face: same logical rows under a pushed filter
    pd_df = (spark.read.format("versioned_table")
             .option("path", td).option("pushdown", "true").load()
             .filter("k >= 2"))
    assert _rows(pd_df.select("k")) == [(3,), (11,)]


def test_datasource_cdf_emits_dv_deltas(spark, tmp_path):
    from esg_decarbonization_data_integration_and_data_pipline_spark.sources.versioned_source import (
        register,
    )

    register(spark)
    td = str(tmp_path / "t")
    _mk(spark, td)                                       # v1, v2
    delete_keys_dv(spark, td,
                   spark.createDataFrame([(2,), (10,)], "k bigint"),
                   "k")                                  # v3
    append_version(_kv(spark, [(20, "z")]).coalesce(1), td)  # v4
    ch = (spark.read.format("versioned_table")
          .option("path", td).option("readChangeFeed", "true")
          .option("startingVersion", "2").load())
    got = sorted((r.k, r._change_type, r._commit_version)
                 for r in ch.collect())
    assert got == [(2, "delete", 3), (10, "delete", 3),
                   (20, "insert", 4)]
    # a restore past the delete emits the rows back as inserts
    restore_table(spark, td, 2)                          # v5
    ch = (spark.read.format("versioned_table")
          .option("path", td).option("readChangeFeed", "true")
          .option("startingVersion", "4").load())
    got = sorted((r.k, r._change_type) for r in ch.collect())
    assert got == [(2, "insert"), (10, "insert"), (20, "delete")]


def test_datasource_cdf_merge_of_dv_file_no_spurious_deletes(
        spark, tmp_path):
    """A COW merge rewriting a dv-bearing file: the diff's removed
    side must be the file's LOGICAL rows, so already-deleted rows do
    not re-emit as deletes."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.sources.versioned_source import (
        register,
    )

    register(spark)
    td = str(tmp_path / "t")
    _mk(spark, td)
    delete_keys_dv(spark, td,
                   spark.createDataFrame([(2,)], "k bigint"), "k")
    merge_version(spark, td, _kv(spark, [(1, "A")]), "k")   # v4
    ch = (spark.read.format("versioned_table")
          .option("path", td).option("readChangeFeed", "true")
          .option("startingVersion", "3")
          .option("endingVersion", "4").load())
    got = sorted((r.k, r.v, r._change_type) for r in ch.collect())
    assert got == [(1, "A", "insert"), (1, "a", "delete")]


def test_datasource_stream_tail_refuses_dv_commit(spark, tmp_path):
    import uuid

    from esg_decarbonization_data_integration_and_data_pipline_spark.sources.versioned_source import (
        register,
    )

    register(spark)
    td = str(tmp_path / "t")
    _mk(spark, td)
    delete_keys_dv(spark, td,
                   spark.createDataFrame([(2,)], "k bigint"), "k")
    ckpt = str(tmp_path / f"ck-{uuid.uuid4().hex[:6]}")
    out = str(tmp_path / "out")
    stream = (spark.readStream.format("versioned_table")
              .option("path", td).load())
    q = (stream.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    try:
        with pytest.raises(Exception, match="deletion-vector|rewrote"):
            q.awaitTermination()
    finally:
        q.stop()
    # with skipChangeCommits the tail drains the appends only
    ckpt2 = str(tmp_path / f"ck2-{uuid.uuid4().hex[:6]}")
    out2 = str(tmp_path / "out2")
    stream2 = (spark.readStream.format("versioned_table")
               .option("path", td)
               .option("skipChangeCommits", "true").load())
    q2 = (stream2.writeStream.format("parquet")
          .option("path", out2).option("checkpointLocation", ckpt2)
          .trigger(availableNow=True).start())
    q2.awaitTermination()
    got = sorted(r.k for r in spark.read.parquet(out2).collect())
    assert got == [1, 2, 3, 10, 11]


# ------------------------------------------------ purge / fsck


def test_purge_remaps_vectors_of_rewritten_files(spark, tmp_path):
    """Erasure through a dv-bearing file: the rewrite shifts row
    positions, so every referencing sidecar must drop purged
    positions and shift the rest -- reads at every version stay
    exact and fsck stays clean."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.fsck import verify_table
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.purge import (
        assert_keys_absent,
        purge_keys_history,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import table_rowcount

    td = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"s{i}") for i in range(1, 9)], "k bigint, v string")
    append_version(df.coalesce(1), td, stats_columns=["k"])   # v1
    # delete k=5 (position 4) via a vector
    delete_keys_dv(spark, td,
                   spark.createDataFrame([(5,)], "k bigint"), "k")
    # purge k in (2, 7): both BELOW and ABOVE the dv'd position --
    # position 4 must remap to 3 after k=2 (pos 1) is removed
    res = purge_keys_history(spark, td, "k", [2, 7])
    # the file is SHARED between v1 and v2 by inheritance -> rewritten
    # once, 2 rows removed
    assert res["rows_purged"] == 2
    assert_keys_absent(spark, td, "k", [2, 7])
    # v1 (pre-delete) shows everything minus the purged
    assert _rows(read_version(spark, td, 1).select("k")) == [
        (1,), (3,), (4,), (5,), (6,), (8,)]
    # v2 (dv delete) additionally hides k=5 -- the REMAPPED position
    assert _rows(read_version(spark, td, 2).select("k")) == [
        (1,), (3,), (4,), (6,), (8,)]
    assert table_rowcount(td, 2) == 5
    rep = verify_table(spark, td, deep=True)
    assert rep["ok"], rep


def test_purge_removes_dvd_rows_and_drops_their_positions(
        spark, tmp_path):
    """Purging a key that is ALSO dv-deleted: the row leaves the
    file physically and its position leaves the vector."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.fsck import verify_table
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.purge import purge_keys_history
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import _read_dvs

    td = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"s{i}") for i in range(1, 6)], "k bigint, v string")
    append_version(df.coalesce(1), td, stats_columns=["k"])
    delete_keys_dv(spark, td,
                   spark.createDataFrame([(3,), (4,)], "k bigint"),
                   "k")
    purge_keys_history(spark, td, "k", [3])
    dvs = _read_dvs(td, 2)
    assert sum(cnt for _d, cnt in dvs.values()) == 1  # only k=4 left
    assert _rows(read_version(spark, td, 2).select("k")) == [
        (1,), (2,), (5,)]
    assert _rows(read_version(spark, td, 1).select("k")) == [
        (1,), (2,), (4,), (5,)]
    assert verify_table(spark, td)["ok"]


def test_fsck_flags_tampered_vector(spark, tmp_path):
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.fsck import verify_table
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import _read_dvs

    td = str(tmp_path / "t")
    _mk(spark, td)
    delete_keys_dv(spark, td,
                   spark.createDataFrame([(2,)], "k bigint"), "k")
    d_rel = next(iter(_read_dvs(td, 3).values()))[0]
    with open(os.path.join(td, d_rel), "wb") as fh:
        fh.write(b"garbage")
    rep = verify_table(spark, td)
    assert not rep["ok"]
    assert rep["versions"][3]["dv_errors"]


# -------------------------------------------------------- clones


def test_clones_carry_vectors(spark, tmp_path):
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.clone import (
        deep_clone,
        shallow_clone,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.fsck import verify_table

    src = str(tmp_path / "src")
    _mk(spark, src)
    delete_keys_dv(spark, src,
                   spark.createDataFrame([(2,), (10,)], "k bigint"),
                   "k")
    sh = str(tmp_path / "sh")
    shallow_clone(spark, src, sh)
    assert _rows(read_current(spark, sh).select("k")) == [
        (1,), (3,), (11,)]
    dp = str(tmp_path / "dp")
    deep_clone(spark, src, dp)
    assert _rows(read_current(spark, dp).select("k")) == [
        (1,), (3,), (11,)]
    assert verify_table(spark, dp)["ok"]
    # the deep clone survives source deletion
    import shutil as _sh

    _sh.rmtree(src)
    assert _rows(read_current(spark, dp).select("k")) == [
        (1,), (3,), (11,)]


def test_matview_refresh_absorbs_dv_deletes(spark, tmp_path):
    """An incrementally-maintained aggregate view over a source with
    DV deletes: the change feed emits the deltas as delete rows and
    the refresh subtracts them -- no full recompute."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.matview import (
        create_aggregate_view,
        read_aggregate_view,
        refresh_aggregate_view,
    )

    src = str(tmp_path / "src")
    mv = str(tmp_path / "mv")
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)],
        "k bigint, g string, x double")
    append_version(df.coalesce(1), src, stats_columns=["k"])
    create_aggregate_view(
        spark, src, mv, ["g"],
        [{"name": "sum_x", "agg": "sum", "col": "x"}])
    delete_keys_dv(spark, src,
                   spark.createDataFrame([(2,)], "k bigint"), "k")
    refresh_aggregate_view(spark, mv)
    got = {r.g: r.sum_x for r in read_aggregate_view(spark, mv)
           .collect()}
    assert got == {"a": 10.0, "b": 30.0}


# ------------------------------------- purge remap crash safety


def test_purge_crash_between_swap_and_remap_is_recoverable(
        spark, tmp_path):
    """Simulate the crash window the remap journal exists for: the
    executor swapped the rewritten file (journal written) but the
    driver died before remapping the referencing sidecars.  The
    half-applied state must be (a) DETECTED by fsck via the
    rowcount witness and (b) REPAIRED by the next purge run's
    journal recovery."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.fsck import verify_table
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.purge import (
        _rewrite_file,
        purge_keys_history,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import table_rowcount

    td = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"s{i}") for i in range(1, 9)], "k bigint, v string")
    append_version(df.coalesce(1), td, stats_columns=["k"])
    delete_keys_dv(spark, td,
                   spark.createDataFrame([(5,)], "k bigint"), "k")
    rel = _data_files(td, 1)[0]
    # the "crash": swap lands (journal written), remap never runs
    assert _rewrite_file(os.path.join(td, rel), "k",
                         frozenset([2])) == 1
    rep = verify_table(spark, td)
    assert not rep["ok"]
    assert any("witness" not in str(e) or True
               for v in rep["versions"].values()
               for e in v["dv_errors"])
    assert any(v["dv_errors"] for v in rep["versions"].values())
    # the re-run recovers: journal applied at start, then the purge
    # itself is a no-op on the already-rewritten file
    purge_keys_history(spark, td, "k", [2])
    assert _rows(read_version(spark, td, 2).select("k")) == [
        (1,), (3,), (4,), (6,), (7,), (8,)]
    assert _rows(read_version(spark, td, 1).select("k")) == [
        (1,), (3,), (4,), (5,), (6,), (7,), (8,)]
    assert table_rowcount(td, 2) == 6
    rep2 = verify_table(spark, td, deep=True)
    assert rep2["ok"], rep2


def test_fsck_reports_corrupt_zlib_payload_not_crash(spark, tmp_path):
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.fsck import verify_table
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import _DV_MAGIC, _read_dvs

    td = str(tmp_path / "t")
    _mk(spark, td)
    delete_keys_dv(spark, td,
                   spark.createDataFrame([(2,)], "k bigint"), "k")
    d_rel = next(iter(_read_dvs(td, 3).values()))[0]
    with open(os.path.join(td, d_rel), "wb") as fh:
        fh.write(_DV_MAGIC + b"\x05\x00\x00\x00\x00\x00\x00\x00"
                 + b"not-zlib-at-all")
    rep = verify_table(spark, td)  # must report, never raise
    assert not rep["ok"]
    assert any(v["dv_errors"] for v in rep["versions"].values())


def test_live_sidecars_are_not_vacuum_fodder(spark, tmp_path):
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.fsck import verify_table

    td = str(tmp_path / "t")
    _mk(spark, td)
    delete_keys_dv(spark, td,
                   spark.createDataFrame([(2,)], "k bigint"), "k")
    rep = verify_table(spark, td)
    assert rep["ok"]
    assert not any(u.endswith(".dv")
                   for u in rep["unreferenced_files"]), rep


def test_mixed_dv_and_append_range_avoids_full_diff(
        spark, tmp_path, monkeypatch):
    """A range mixing a DV delete with appends must stay on the
    O(changed rows + added files) path -- the full two-sided diff
    tier (which reads both whole versions via _read_resolved) must
    not fire (review r12f-3)."""
    import esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned as V

    td = str(tmp_path / "t")
    _mk(spark, td)                                       # v1, v2
    delete_keys_dv(spark, td,
                   spark.createDataFrame([(2,), (10,)], "k bigint"),
                   "k")                                  # v3
    append_version(_kv(spark, [(20, "z")]).coalesce(1), td)  # v4
    calls = []
    orig = V._read_resolved
    monkeypatch.setattr(
        V, "_read_resolved",
        lambda *a, **k: (calls.append(a), orig(*a, **k))[1])
    ch = V.read_changes(spark, td, 2, 4)
    got = sorted((r.k, r._change_type) for r in ch.collect())
    assert got == [(2, "delete"), (10, "delete"), (20, "insert")]
    assert not calls, "fell to the full two-sided diff tier"


def test_maybe_compact_fires_on_dv_fraction(spark, tmp_path):
    """The tombstone-threshold hygiene policy: maybe_compact fires
    when deletion vectors mark more than max_dv_fraction of the
    physical rows deleted, materializing the vectors away; below
    threshold it stays a metadata-only no-op."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import maybe_compact

    td = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"s{i}") for i in range(10)], "k bigint, v string")
    append_version(df.coalesce(1), td, stats_columns=["k"])
    delete_keys_dv(spark, td,
                   spark.createDataFrame([(1,)], "k bigint"), "k")
    # 1/10 deleted: below a 0.3 threshold -> no-op
    assert maybe_compact(spark, td, max_files=64,
                         max_dv_fraction=0.3) is None
    delete_where_dv(spark, td, "k", lo=2, hi=5)
    # 5/10 deleted: fires, vectors materialized
    n = maybe_compact(spark, td, max_files=64, max_dv_fraction=0.3)
    assert n is not None
    assert _read_dvs(td, n) == {}
    assert _rows(read_current(spark, td).select("k")) == [
        (0,), (6,), (7,), (8,), (9,)]
    # and a re-run is a no-op again
    assert maybe_compact(spark, td, max_files=64,
                         max_dv_fraction=0.3) is None
    import pytest as _pt

    with _pt.raises(ValueError, match="max_dv_fraction"):
        maybe_compact(spark, td, max_dv_fraction=1.5)
