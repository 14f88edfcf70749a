"""Calendar rules (ported reference test cases) + writer policies."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from esg_decarbonization_data_integration_and_data_pipline_spark.functions.calendar import (
    last_12_months, period_year_window, processing_window,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.io import writers as W


# reference: tests/helpers_decarb_date_test.py:10-36
def test_processing_window_normal():
    start, end = processing_window(dt.date(2023, 12, 1))
    assert start == dt.date(2023, 11, 1)
    assert end == dt.date(2023, 11, 30)


def test_processing_window_january_wraps():
    start, end = processing_window(dt.date(2023, 1, 1))
    assert start == dt.date(2022, 12, 1)
    assert end == dt.date(2022, 12, 31)


def test_period_year_window():
    start, end = period_year_window(dt.date(2024, 3, 15))
    assert start == dt.date(2023, 1, 1)
    assert end == dt.date(2024, 2, 29)  # leap-aware month end


def test_last_12_months():
    months = last_12_months(dt.date(2023, 2, 10))
    assert months[0] == dt.date(2023, 1, 1)
    assert months[-1] == dt.date(2022, 2, 1)
    assert len(set(months)) == 12


def _frame(spark, rows):
    return spark.createDataFrame(
        rows, "site string, amount double, period_month string")


def test_replace_range_touches_only_present_partitions(spark, tmp_path):
    path = os.path.join(str(tmp_path), "t")
    W.overwrite(_frame(spark, [("a", 1.0, "2023-01"), ("b", 2.0, "2023-02")]),
                path, ["period_month"])
    # rewrite only 2023-02; 2023-01 must survive
    W.replace_range(_frame(spark, [("b", 9.0, "2023-02")]),
                    path, ["period_month"])
    got = {(r.site, r.period_month): r.amount
           for r in W.read_table(spark, path).collect()}
    assert got == {("a", "2023-01"): 1.0, ("b", "2023-02"): 9.0}


def test_replace_keys_upserts(spark, tmp_path):
    path = os.path.join(str(tmp_path), "t")
    W.overwrite(_frame(spark, [("a", 1.0, "2023-01"), ("b", 2.0, "2023-01")]),
                path)
    W.replace_keys(_frame(spark, [("b", 5.0, "2023-01"), ("c", 7.0, "2023-01")]),
                   path, keys=["site", "period_month"])
    got = {r.site: r.amount for r in W.read_table(spark, path).collect()}
    assert got == {"a": 1.0, "b": 5.0, "c": 7.0}


def test_replace_keys_creates_missing_table(spark, tmp_path):
    path = os.path.join(str(tmp_path), "fresh")
    W.replace_keys(_frame(spark, [("a", 1.0, "2023-01")]), path,
                   keys=["site"])
    assert W.read_table(spark, path).count() == 1


def test_replace_keys_partitioned_prunes_and_writes_once(spark, tmp_path,
                                                         monkeypatch):
    """Upsert into a partitioned table: the merged data is written
    exactly once (no staging re-materialization), and partitions not
    present in the batch keep their original parquet files bit-for-bit
    (rename-only swap, no rewrite of untouched partitions)."""
    path = os.path.join(str(tmp_path), "t")
    W.overwrite(_frame(spark, [("a", 1.0, "2023-01"), ("b", 2.0, "2023-01"),
                               ("a", 3.0, "2023-02")]),
                path, ["period_month"])
    jan_dir = os.path.join(path, "period_month=2023-01")
    before = {f: os.path.getmtime(os.path.join(jan_dir, f))
              for f in os.listdir(jan_dir)}

    calls = []
    real_overwrite = W.overwrite

    def counting_overwrite(df, p, partition_by=()):
        calls.append(p)
        real_overwrite(df, p, partition_by)

    monkeypatch.setattr(W, "overwrite", counting_overwrite)
    W.replace_keys(_frame(spark, [("a", 9.0, "2023-02"),
                                  ("c", 4.0, "2023-02")]),
                   path, keys=["site", "period_month"],
                   partition_by=["period_month"])
    assert len(calls) == 1, "merged frame must be materialized exactly once"
    assert calls[0] != path, "data write goes to staging, swap is rename-only"
    after = {f: os.path.getmtime(os.path.join(jan_dir, f))
             for f in os.listdir(jan_dir)}
    assert after == before, "untouched partition was rewritten"
    got = {(r.site, r.period_month): r.amount
           for r in W.read_table(spark, path).collect()}
    assert got == {("a", "2023-01"): 1.0, ("b", "2023-01"): 2.0,
                   ("a", "2023-02"): 9.0, ("c", "2023-02"): 4.0}


def test_replace_keys_rejects_partition_outside_keys(spark, tmp_path):
    """partition_by ⊄ keys would let superseded rows survive in
    partitions the batch never rewrites (resurrection bug) -- refused
    loudly instead of corrupting silently."""
    import pytest

    path = os.path.join(str(tmp_path), "t")
    W.overwrite(_frame(spark, [("a", 1.0, "2023-01")]), path,
                ["period_month"])
    with pytest.raises(ValueError, match="partition_by"):
        W.replace_keys(_frame(spark, [("a", 2.0, "2023-02")]),
                       path, keys=["site"], partition_by=["period_month"])


def test_replace_keys_two_level_partition_leaf_swap(spark, tmp_path):
    """Leaf-level swap: a batch touching (site=a, 2023-02) must not
    clobber sibling leaf (site=a, 2023-01) under the same top-level
    partition value."""
    path = os.path.join(str(tmp_path), "t")
    W.overwrite(_frame(spark, [("a", 1.0, "2023-01"), ("a", 2.0, "2023-02"),
                               ("b", 3.0, "2023-01")]),
                path, ["site", "period_month"])
    W.replace_keys(_frame(spark, [("a", 9.0, "2023-02")]),
                   path, keys=["site", "period_month"],
                   partition_by=["site", "period_month"])
    got = {(r.site, r.period_month): r.amount
           for r in W.read_table(spark, path).collect()}
    assert got == {("a", "2023-01"): 1.0, ("a", "2023-02"): 9.0,
                   ("b", "2023-01"): 3.0}


def test_month_partitioned_column(spark):
    df = spark.createDataFrame([(dt.date(2023, 5, 1),)], "period_start date")
    out = W.month_partitioned(df).collect()[0]
    assert out.period_month == "2023-05"


def test_delete_keys(spark, tmp_path):
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.writers import delete_keys

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")],
                          "k bigint, v string") \
         .write.parquet(path)
    keys = spark.createDataFrame([(2,), (9,)], "k bigint")  # 9 absent: ok
    delete_keys(spark, path, keys, ["k"])
    assert sorted(r.k for r in spark.read.parquet(path).collect()) == [1, 3]
    # deleting from a missing table is a no-op, not an error
    delete_keys(spark, str(tmp_path / "missing"), keys, ["k"])


def test_keyed_writers_keep_stored_column_order(spark, tmp_path):
    """A join USING keys moves the key columns first; the merge and
    delete rewrites must still store the table's own column order,
    or every nightly re-run reshuffles app tables' columns."""
    path = str(tmp_path / "t")
    schema = "year int, amount double, category string, version int"
    spark.createDataFrame([(2025, 1.0, "REC", 1), (2025, 2.0, "PPA", 1)],
                          schema).write.parquet(path)
    keys = ["category", "year", "version"]
    order = ["year", "amount", "category", "version"]
    for amount in (5.0, 6.0):
        W.replace_keys(spark.createDataFrame([(2025, amount, "REC", 1)],
                                             schema), path, keys=keys)
        assert spark.read.parquet(path).columns == order
    W.delete_keys(spark, path, spark.createDataFrame(
        [("PPA", 2025, 1)], "category string, year int, version int"),
        keys)
    got = spark.read.parquet(path)
    assert got.columns == order
    assert [tuple(r) for r in got.collect()] == [(2025, 6.0, "REC", 1)]


def test_swap_crash_between_renames_is_recoverable(spark, tmp_path):
    """Simulated crash AFTER path->retired but BEFORE tmp->path: the
    table dir is missing and .__retired__ holds the only copy.  The
    WRITER entry points (replace_keys, delete_keys) must heal by
    rolling back -- before the heal step a rerun of replace_keys saw
    "no table" and overwrote with the batch alone, silently dropping
    every pre-existing row.  read_table deliberately does NOT heal
    (reads must never mutate -- a reader healing mid-swap would break
    a live writer's rename pair; see the io/writers.py comment)."""
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string") \
         .write.parquet(path)
    # crash state: first rename done, second never happened
    os.rename(path, path + ".__retired__")
    assert not os.path.exists(path)

    # a rerun of the upsert must see BOTH old rows plus the batch
    W.replace_keys(spark.createDataFrame([(3, "c")], "k bigint, v string"),
                   path, keys=["k"])
    got = {r.k: r.v for r in W.read_table(spark, path).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}
    assert not os.path.exists(path + ".__retired__")


def test_swap_crash_after_commit_rename_drops_retired(spark, tmp_path):
    """Crash after tmp->path but before the final cleanup: both dirs
    exist; the committed data must win.  READS leave the garbage
    retired copy alone (a read must not mutate a healthy table dir --
    it could race a live writer's cleanup); the next WRITER entry
    point clears it."""
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "new")], "k bigint, v string") \
         .write.parquet(path)
    spark.createDataFrame([(1, "old")], "k bigint, v string") \
         .write.parquet(path + ".__retired__")
    got = {r.k: r.v for r in W.read_table(spark, path).collect()}
    assert got == {1: "new"}
    assert os.path.exists(path + ".__retired__")  # reads don't mutate
    W.replace_keys(spark.createDataFrame([(2, "x")], "k bigint, v string"),
                   path, keys=["k"])
    assert not os.path.exists(path + ".__retired__")
    got = {r.k: r.v for r in W.read_table(spark, path).collect()}
    assert got == {1: "new", 2: "x"}


def test_keyed_writers_reject_uri_paths(spark, tmp_path):
    """URI paths (file://, s3a://) make every os.path existence check
    answer 'no table', so replace_keys would silently drop all prior
    rows and delete_keys would silently delete nothing -- reject them
    loudly at the entry point (reproduced data loss in review)."""
    import pytest

    df = spark.createDataFrame([(1, "a")], "k bigint, v string")
    for bad in (f"file://{tmp_path}/t", "s3a://bucket/t"):
        with pytest.raises(ValueError, match="local-path-only"):
            W.replace_keys(df, bad, keys=["k"])
        with pytest.raises(ValueError, match="local-path-only"):
            W.delete_keys(spark, bad, df.select("k"), ["k"])


def test_swap_rejects_object_store_paths(tmp_path):
    import pytest

    with pytest.raises(ValueError, match="manifest"):
        W.swap_into_place(str(tmp_path / "tmp"), "s3a://bucket/table")


def test_delete_keys_heals_crashed_swap(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string") \
         .write.parquet(path)
    os.rename(path, path + ".__retired__")
    keys = spark.createDataFrame([(1,)], "k bigint")
    W.delete_keys(spark, path, keys, ["k"])
    assert [r.k for r in W.read_table(spark, path).collect()] == [2]


def test_replace_keys_evaluates_the_batch_once(spark, tmp_path):
    """The batch is staged first and its key set is read back from the
    stage, so its plan runs once.  Deriving the keys from the batch
    itself evaluated it twice -- once for the anti join, once for the
    rows -- because column pruning leaves Spark no exchange to reuse."""
    path = str(tmp_path / "t")
    W.overwrite(_frame(spark, [("a", 1.0, "2023-01"), ("b", 2.0, "2023-01")]),
                path)
    evaluated = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def site(s):
        evaluated.add(1)
        return s

    batch = _frame(spark, [("b", 5.0, "2023-01"), ("c", 7.0, "2023-01")]) \
        .withColumn("site", site("site"))
    W.replace_keys(batch, path, keys=["site", "period_month"])
    assert evaluated.value == 2, "each batch row must be computed once"
    got = {r.site: r.amount for r in W.read_table(spark, path).collect()}
    assert got == {"a": 1.0, "b": 5.0, "c": 7.0}


def _job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_read_table_declares_the_footer_schema(spark, tmp_path):
    """read_table starts no Spark job and returns the schema Spark's
    inference would: non-nullable, decimal and both timestamp kinds
    from the footer, the partition columns from the directory names."""
    import decimal

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, decimal.Decimal("1.50"), dt.datetime(2024, 1, 1, 8),
          dt.datetime(2024, 1, 1, 9), "a", 2023),
         (2, None, None, None, "b", 2024)],
        "k int not null, d decimal(12,2), ts timestamp, "
        "ntz timestamp_ntz, site string, year int") \
        .write.partitionBy("site", "year").parquet(path)
    before = _job_id(spark)
    df = W.read_table(spark, path)
    assert _job_id(spark) == before, "read_table started a Spark job"
    assert df.schema == spark.read.parquet(path).schema
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, spark.read.parquet(path).collect()))


def test_read_table_rejects_parquet_without_a_spark_schema(spark, tmp_path):
    """No silent fallback to inference: a file Spark did not write has
    no stored Spark schema, and the error names it."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest
    from pyspark.errors import AnalysisException

    path = tmp_path / "t"
    path.mkdir()
    pq.write_table(pa.table({"k": [1, 2]}), str(path / "part-0.parquet"))
    with pytest.raises(ValueError, match="part-0.parquet"):
        W.read_table(spark, str(path))
    # a table with no data file raises what spark.read.parquet raises
    with pytest.raises(AnalysisException):
        W.read_table(spark, str(tmp_path / "missing"))


def test_replace_keys_anti_join_reads_the_keys_undeduplicated(
        spark, tmp_path, monkeypatch):
    """The surviving old rows are the old table anti-joined against the
    staged batch's keys.  An anti join keeps the same rows whether or
    not a key repeats, so the keep-write plan holds no aggregate: a
    distinct() on the key side cost one shuffle and one Spark job per
    call."""
    path = str(tmp_path / "t")
    W.overwrite(_frame(spark, [("a", 1.0, "2023-01"), ("b", 2.0, "2023-01")]),
                path)
    plans = []
    real_append = W.append

    def append(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return real_append(df, *args, **kwargs)

    monkeypatch.setattr(W, "append", append)
    batch = _frame(spark, [("b", 5.0, "2023-01"), ("b", 5.0, "2023-01"),
                           ("c", 7.0, "2023-01")])
    W.replace_keys(batch, path, keys=["site", "period_month"])
    assert len(plans) == 1, "replace_keys appends the kept rows once"
    assert "LeftAnti" in plans[0] and "Aggregate" not in plans[0], plans[0]
    got = sorted((r.site, r.amount) for r in W.read_table(spark, path)
                 .collect())
    assert got == [("a", 1.0), ("b", 5.0), ("b", 5.0), ("c", 7.0)]


def test_staged_writes_once_and_removes_the_stage(spark, tmp_path):
    """W.staged runs the shared plan once however many consumers read
    the stage, reads it back with the frame's schema declared (no
    inference job), and removes the stage on exit."""
    stage = str(tmp_path / "t.__shared__")
    os.makedirs(os.path.join(stage, "leftover"))  # a crashed prior run
    evaluated = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def site(s):
        evaluated.add(1)
        return s

    df = _frame(spark, [("a", 1.0, "2023-01"), ("b", 2.0, "2023-02")]) \
        .withColumn("site", site("site"))
    with W.staged(df, stage) as shared:
        assert not os.path.exists(os.path.join(stage, "leftover"))
        before = _job_id(spark)
        assert shared.schema == df.schema
        assert _job_id(spark) == before, "the read-back inferred a schema"
        n = shared.filter("amount > 1").count()
        rows = sorted(map(tuple, shared.collect()))
    assert n == 1
    assert rows == [("a", 1.0, "2023-01"), ("b", 2.0, "2023-02")]
    assert evaluated.value == 2, "each row of df must be computed once"
    assert not os.path.exists(stage)


def test_staged_removes_the_stage_when_the_block_fails(spark, tmp_path):
    import pytest

    stage = str(tmp_path / "t.__shared__")
    with pytest.raises(RuntimeError, match="consumer failed"):
        with W.staged(_frame(spark, [("a", 1.0, "2023-01")]), stage):
            assert os.path.isdir(stage)
            raise RuntimeError("consumer failed")
    assert not os.path.exists(stage)
    with pytest.raises(ValueError, match="local-path-only"):
        with W.staged(_frame(spark, [("a", 1.0, "2023-01")]),
                      "s3://bucket/t.__shared__"):
            pass
