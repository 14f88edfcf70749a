"""File-skipping statistics on versioned tables (io/versioned):
commit-time per-file min/max (read from parquet footers, no data
scan) ride the manifest, read_where prunes whole files by range,
sorted compaction makes file ranges disjoint so a narrow range scan
touches O(slice) files -- and pruning is never a filter: results are
always exact, stats or not.
"""

from __future__ import annotations

import pytest

from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
    append_version, compact_table, current_version, pruned_files,
    read_current, read_where, write_version,
)


def _kv(spark, ks):
    return spark.createDataFrame(
        [(k, f"s{k}") for k in ks], "k bigint, a string")


def test_read_where_prunes_disjoint_appends(spark, tmp_path):
    t = str(tmp_path / "t")
    append_version(_kv(spark, range(0, 100)).coalesce(1), t,
                   stats_columns=["k"])
    append_version(_kv(spark, range(100, 200)).coalesce(1), t,
                   stats_columns=["k"])
    append_version(_kv(spark, range(200, 300)).coalesce(1), t,
                   stats_columns=["k"])
    kept, total = pruned_files(t, current_version(t), "k", 120, 150)
    assert total == 3 and len(kept) == 1
    got = sorted(r.k for r in read_where(spark, t, "k", 120, 150).collect())
    assert got == list(range(120, 151))


def test_read_where_bound_type_mismatch_keeps_files(spark, tmp_path):
    """A bound whose type does not compare with the recorded stats (a
    str bound on an int column) keeps the file -- pruning never
    raises where the plain filter answers: read_where returns exactly
    the rows of the same filter over read_current."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "t")
    for lo in range(0, 40, 10):
        append_version(_kv(spark, range(lo, lo + 10)).coalesce(1), t,
                       stats_columns=["k"])
    plain = read_current(spark, t).filter(
        (F.col("k") >= F.lit("10")) & (F.col("k") <= F.lit("20")))
    want = sorted(r.k for r in plain.collect())
    assert len(want) == 11
    got = sorted(r.k for r in read_where(spark, t, "k", "10", "20")
                 .collect())
    assert got == want


def test_stats_inherited_across_statless_appends(spark, tmp_path):
    """An append that doesn't ask for stats must not stop the
    table's skipping: inherited files keep their recorded stats and
    the new files are tracked on the base's columns."""
    t = str(tmp_path / "t")
    append_version(_kv(spark, range(0, 50)).coalesce(1), t,
                   stats_columns=["k"])
    append_version(_kv(spark, range(50, 100)).coalesce(1), t)  # no arg
    kept, total = pruned_files(t, current_version(t), "k", 10, 20)
    assert total == 2 and len(kept) == 1
    assert sorted(r.k for r in read_where(spark, t, "k", 10, 20).collect()) \
        == list(range(10, 21))


def test_sorted_compaction_clusters_for_skipping(spark, tmp_path):
    """Rows arrive shuffled across appends; compact_table(sort_by)
    range-partitions them so a narrow range touches few files."""
    t = str(tmp_path / "t")
    import random
    rng = random.Random(7)
    ks = list(range(1000))
    rng.shuffle(ks)
    for i in range(4):  # interleaved, every append spans ~the full range
        append_version(_kv(spark, ks[i::4]).coalesce(2), t,
                       stats_columns=["k"])
    # interleaved appends: stats exist but (almost) nothing prunes --
    # each file spans ~the whole key range
    kept0, total0 = pruned_files(t, current_version(t), "k", 0, 20)
    assert total0 == 8 and len(kept0) >= 6
    n = compact_table(spark, t, sort_by=["k"], sort_partitions=16)
    kept, total = pruned_files(t, n, "k", 0, 20)
    assert total > 4  # range partitioning actually split the data
    assert len(kept) <= 2, f"sorted compaction should skip: {kept}"
    got = sorted(r.k for r in read_where(spark, t, "k", 0, 20).collect())
    assert got == list(range(0, 21))


def test_zorder_compaction_prunes_both_dimensions(spark, tmp_path):
    """Z-order clustering: after compact_table(zorder_by=[x, y]) a
    narrow range on EITHER column prunes files; a linear sort_by=[x]
    layout prunes only on x."""
    t = str(tmp_path / "tz")
    rows = [(x, y) for x in range(32) for y in range(32)]
    df = spark.createDataFrame(rows, "x bigint, y bigint")
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        append_version as av,
    )
    av(df.coalesce(4), t, stats_columns=["x", "y"])
    n = compact_table(spark, t, zorder_by=["x", "y"], sort_partitions=16)
    for col in ("x", "y"):
        kept, total = pruned_files(t, n, col, 0, 3)
        assert total == 16
        assert len(kept) <= total // 2, \
            f"zorder should prune on {col}: kept {len(kept)}/{total}"
        got = sorted((r.x, r.y) for r in
                     read_where(spark, t, col, 0, 3).collect())
        want = sorted((x, y) for x, y in rows
                      if 0 <= (x if col == "x" else y) <= 3)
        assert got == want
    # contrast: the linear layout cannot prune the trailing dimension
    t2 = str(tmp_path / "tl")
    av(df.coalesce(4), t2, stats_columns=["x", "y"])
    n2 = compact_table(spark, t2, sort_by=["x"], sort_partitions=16)
    kept_y, total_y = pruned_files(t2, n2, "y", 0, 3)
    assert len(kept_y) == total_y  # every file spans the full y range


def test_read_where_all_conjunction_prunes_tighter(spark, tmp_path):
    """The multi-predicate reader intersects per-column prunes: on a
    Z-ordered table a 2-D tile query keeps fewer files than either
    1-D range alone, and results equal the full double filter."""
    t = str(tmp_path / "t2d")
    rows = [(x, y) for x in range(32) for y in range(32)]
    df = spark.createDataFrame(rows, "x bigint, y bigint")
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        append_version as av, read_where_all,
    )
    av(df.coalesce(4), t, stats_columns=["x", "y"])
    n = compact_table(spark, t, zorder_by=["x", "y"], sort_partitions=16)
    kx = len(pruned_files(t, n, "x", 0, 7)[0])
    ky = len(pruned_files(t, n, "y", 0, 7)[0])
    tile = read_where_all(spark, t, {"x": (0, 7), "y": (0, 7)})
    got = sorted((r.x, r.y) for r in tile.collect())
    assert got == sorted((x, y) for x, y in rows if x <= 7 and y <= 7)
    # file-count: intersect <= min of the single-column prunes
    kept_x = set(pruned_files(t, n, "x", 0, 7)[0])
    kept_y = set(pruned_files(t, n, "y", 0, 7)[0])
    assert len(kept_x & kept_y) <= min(kx, ky)
    assert len(kept_x & kept_y) < 16


def test_read_where_exact_without_stats(spark, tmp_path):
    """Snapshot versions carry no manifest and no stats: read_where
    degrades to read+filter, never to a wrong answer."""
    t = str(tmp_path / "t")
    write_version(_kv(spark, range(100)), t)
    got = sorted(r.k for r in read_where(spark, t, "k", 40, 42).collect())
    assert got == [40, 41, 42]


def test_read_where_matches_full_filter_everywhere(spark, tmp_path):
    t = str(tmp_path / "t")
    append_version(_kv(spark, range(0, 70)).coalesce(1), t,
                   stats_columns=["k", "a"])
    append_version(_kv(spark, range(70, 140)).coalesce(1), t)
    full = read_current(spark, t)
    for lo, hi in [(0, 139), (10, 10), (65, 75), (139, 200),
                   (-5, -1), (None, 30), (100, None)]:
        want = full
        if lo is not None:
            want = want.filter(f"k >= {lo}")
        if hi is not None:
            want = want.filter(f"k <= {hi}")
        got = sorted(r.k for r in read_where(spark, t, "k", lo, hi).collect())
        assert got == sorted(r.k for r in want.collect()), (lo, hi)


def test_target_file_bytes_sizes_layout_from_metadata(spark, tmp_path):
    t = str(tmp_path / "tb")
    df = spark.createDataFrame([(k, "x" * 50) for k in range(2000)],
                               "k bigint, pad string")
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        append_version as av, _data_files,
    )
    av(df.coalesce(1), t, stats_columns=["k"])
    base_bytes = sum(
        __import__("os").path.getsize(f"{t}/{rel}")
        for rel in _data_files(t, current_version(t)))
    n = compact_table(spark, t, sort_by=["k"],
                      target_file_bytes=max(1, base_bytes // 6))
    files = _data_files(t, n)
    assert 3 <= len(files) <= 12, files  # ~6 target, compression drift ok
    with pytest.raises(ValueError, match="not both"):
        compact_table(spark, t, sort_by=["k"], sort_partitions=4,
                      target_file_bytes=1)


def test_string_column_stats_prune(spark, tmp_path):
    t = str(tmp_path / "t")
    a = spark.createDataFrame([("apple",), ("banana",)], "w string")
    b = spark.createDataFrame([("melon",), ("peach",)], "w string")
    append_version(a.coalesce(1), t, stats_columns=["w"])
    append_version(b.coalesce(1), t, stats_columns=["w"])
    kept, total = pruned_files(t, current_version(t), "w", "a", "c")
    assert total == 2 and len(kept) == 1
    assert sorted(r.w for r in read_where(spark, t, "w", "a", "c").collect()) \
        == ["apple", "banana"]


def test_empty_prune_returns_empty_with_schema(spark, tmp_path):
    t = str(tmp_path / "t")
    append_version(_kv(spark, range(10)).coalesce(1), t,
                   stats_columns=["k"])
    out = read_where(spark, t, "k", 1000, 2000)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["k", "a"]
