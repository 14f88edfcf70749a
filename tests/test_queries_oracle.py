"""Golden-output tests: every registered query vs its DuckDB oracle.

This is the in-repo replica of the driver's t2 correctness gate
(SURVEY.md §5.2): Spark result and oracle SQL result must agree on
row count, column names, and canonicalized values (floats to 6
significant digits, order-insensitive).
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from esg_decarbonization_data_integration_and_data_pipline_spark.plans.queries import (
    GRADED_HEAD, REGISTRY,
)


# smoke tier, run by default: the frozen externally graded head plus the
# queries over the versioned-table file pruner, the manifest rewriters
# and the metadata planners.  Every other query is long-tail, skipped
# by the default run (pytest.ini addopts -m "not slow"); select it with
# `-m slow`.
SMOKE = frozenset(GRADED_HEAD) | {
    "partition_pruning_audit", "hidden_partition_audit",
    "datasource_pushdown_audit", "bloom_point_lookup_orders",
    "zorder_pruning_audit", "metadata_aggregates_audit",
    "purge_erasure_audit", "fsck_report_audit",
}


def _canon_cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<NULL>"
        if v == 0:
            return "0"
        return f"{v:.6g}"
    if pd.isna(v):
        return "<NULL>"
    return str(v)


def canon_rows(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = [tuple(_canon_cell(v) for v in row) for row in df.itertuples(index=False)]
    rows.sort()
    return rows


@pytest.mark.parametrize("name", [
    pytest.param(n, marks=() if n in SMOKE else pytest.mark.slow)
    for n in sorted(REGISTRY)])
def test_query_matches_oracle(name, spark, sf_dir, duck):
    spec = REGISTRY[name]
    sdf = spec.fn(spark, sf_dir).toPandas()
    if spec.oracle is None:
        assert len(sdf) >= 0  # rows-only check (non-SQL-expressible op)
        return
    ddf = duck.execute(spec.oracle).fetchdf()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert len(sdf) == len(ddf)
    assert canon_rows(sdf) == canon_rows(ddf)
