"""Fallbacks that change a plan or a schema catch only the one error
they exist for; every other error raises instead of silently turning
an optimization off or swapping in a default."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from esg_decarbonization_data_integration_and_data_pipline_spark.operators.scale import (
    ensure_parallelism,
    plan_size_bytes,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.sources import versioned_source
from esg_decarbonization_data_integration_and_data_pipline_spark.streaming.events import (
    read_event_stream,
)


class _ConnectFrame:
    """A frame without the classic JVM handle, as under Spark Connect."""


class _FailingPlanner:
    class _jdf:  # noqa: N801 -- mirrors DataFrame._jdf
        @staticmethod
        def queryExecution():
            raise RuntimeError("planner failed")


def test_plan_size_bytes_is_none_only_without_a_jvm_handle(spark):
    assert plan_size_bytes(spark.range(10)) > 0
    assert plan_size_bytes(_ConnectFrame()) is None
    with pytest.raises(RuntimeError, match="planner failed"):
        plan_size_bytes(_FailingPlanner())


def test_ensure_parallelism_raises_when_listing_files_fails(spark):
    """A plan with no file scan lists no files and is redistributed;
    a failing file listing raises instead of skipping the rescue."""
    target = spark.sparkContext.defaultParallelism
    spread = ensure_parallelism(spark.range(10).coalesce(1), F.col("id"))
    assert spread.rdd.getNumPartitions() == target

    class _FailingListing:
        sparkSession = spark

        def inputFiles(self):
            raise RuntimeError("listing failed")

    with pytest.raises(RuntimeError, match="listing failed"):
        ensure_parallelism(_FailingListing(), F.col("id"))


def test_event_stream_defaults_the_schema_only_with_no_files_yet(spark,
                                                                  tmp_path):
    """An empty directory starts the stream on the default schema; a
    directory holding a file that is not parquet raises."""
    empty = tmp_path / "empty"
    empty.mkdir()
    assert read_event_stream(spark, str(empty)).isStreaming
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-0.parquet").write_text("not parquet")
    with pytest.raises(Exception, match="CANNOT_READ_FILE_FOOTER"):
        read_event_stream(spark, str(bad))


def test_register_raises_when_the_pushdown_conf_cannot_be_set():
    """register() must not leave a session without filter pushdown
    silently."""
    registered = []

    class _Conf:
        def set(self, key, value):
            raise RuntimeError(f"cannot set {key}")

    class _Session:
        conf = _Conf()

        class dataSource:  # noqa: N801 -- mirrors SparkSession.dataSource
            @staticmethod
            def register(cls):
                registered.append(cls)

    with pytest.raises(RuntimeError,
                       match="spark.sql.python.filterPushdown.enabled"):
        versioned_source.register(_Session())
    assert registered == [versioned_source.VersionedTableDataSource]
