"""Gap-fix job: synthesize zero rows for sites that went silent.

Semantics (reference: jobs/fix_data.py:32-106 fix_raw): a site that
reported N months ago but is missing in the processing month gets a
synthesized 0-amount row so downstream YTM/rollup series stay dense.
The reference diffs Python sets; here it is an anti-join (J9) plus a
literal attach -- fully distributed, no collect.

Also carries the source-priority reconciliation (reference:
jobs/fix_data.py:351-359): CSR values win, ESGI fills gaps -- the
coalescing outer join operator.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, functions as F

from esg_decarbonization_data_integration_and_data_pipline_spark.operators.joins import (
    anti_join, coalescing_outer_join,
)


def synthesize_missing_sites(observations: DataFrame, period: dt.date,
                             reference_period: dt.date,
                             key_cols: tuple[str, ...] = ("site",),
                             amount_col: str = "amount") -> DataFrame:
    """Rows of ``observations`` at ``period`` plus synthesized
    zero-amount rows for keys present at ``reference_period`` but
    absent at ``period``."""
    cur = observations.filter(F.col("period_start") == F.lit(period))
    ref = observations.filter(F.col("period_start") == F.lit(reference_period))
    missing = anti_join(ref.select(*key_cols).distinct(),
                        cur.select(*key_cols).distinct(), key_cols)
    synthesized = (missing
                   .withColumn(amount_col, F.lit(0.0))
                   .withColumn("period_start", F.lit(period))
                   .withColumn("synthesized", F.lit(True)))
    return (cur.withColumn("synthesized", F.lit(False))
               .select(*key_cols, amount_col, "period_start", "synthesized")
               .unionByName(synthesized))


def reconcile_sources(primary: DataFrame, secondary: DataFrame,
                      keys: tuple[str, ...] = ("site", "period_start"),
                      amount_col: str = "amount") -> DataFrame:
    """Primary-wins outer merge of two observation feeds (the CSR-
    over-ESGI rule) -- one coalesce projection instead of the
    reference's row loop."""
    return coalescing_outer_join(primary, secondary, list(keys), [amount_col])


def import_actual_elect(tables: dict[str, DataFrame],
                        year: int) -> tuple[DataFrame, DataFrame]:
    """Copy the year's actual electricity into the target tables
    (reference: jobs/fix_data.py:327-430 import_actual_elect).

    tables:
    monthly(site, amount, period_start)  -- one row per (site,
        period_start) for the import year. The reference reads its
        site-level slice as bo='ALL' AND site != 'ALL' (:346); OUR
        staging rollup nests the other way (site='ALL' within bo),
        so the caller takes the detail slice (site <> 'ALL' AND
        bo <> 'ALL'), sums over bo, and applies the year window --
        see the warehouse DAG job,
    csr(site, period_start, amount)      -- WIHK rows of
        app.electricity_backstage_update (indicatorvalue > 0),
    esgi(site, period_start, amount)     -- WIHK rows of
        raw.electricity_total_wzsesgi,
    versions(version, sign_off_id, last_update_time, year, category,
        validate)                        -- app.elect_target_month.

    Returns (month_rows, year_rows) stamped category='actual',
    validate=true and carrying the version/sign-off/update-time of
    the latest VALIDATED version's 'predict' row (:366) -- the
    correlated MAX-version subquery as a broadcast join. The WIHK
    fill-gaps loop (:355-358) is the coalescing outer join; the
    caller upserts with replace_keys on (year, [month,] site,
    category, version) mirroring the delete predicates (:402, :410).
    """
    return actual_rows(stamp_actuals(tables, year), year)


def stamp_actuals(tables: dict[str, DataFrame], year: int) -> DataFrame:
    """The rows both target tables are derived from: the monthly
    actuals plus the reconciled WIHK rows, each stamped with the
    latest validated version's metadata (see ``import_actual_elect``
    for ``tables``).  A job writing both tables stages it once
    (``io.writers.staged``) and derives them from the stage."""
    wihk = reconcile_sources(tables["csr"], tables["esgi"])
    df = (tables["monthly"].select("site", "amount", "period_start")
          .unionByName(wihk.select("site", "amount", "period_start")))

    versions = tables["versions"]
    vmax = (versions
            .filter((F.col("year") == year) & F.col("validate"))
            .agg(F.max("version").alias("version")))
    # collapse to EXACTLY one stamp row: the predict slice at the max
    # validated version can hold many (site, month) rows whose
    # last_update_time differ (a distinct() would then duplicate
    # every imported row through the cross join), and can be EMPTY
    # when no validated version exists -- a global aggregate yields
    # one row either way (null metadata on the empty case, instead
    # of silently importing nothing). The newest update wins, like
    # the reference's first-row pick of its DISTINCT (:366,:371).
    stamp = (versions
             .filter((F.col("year") == year)
                     & (F.col("category") == "predict"))
             .join(F.broadcast(vmax), "version")
             .agg(F.max("version").alias("version"),
                  F.expr("max_by(sign_off_id, last_update_time)")
                   .alias("sign_off_id"),
                  F.max("last_update_time").alias("last_update_time")))

    return (df.crossJoin(F.broadcast(stamp))
              .withColumn("category", F.lit("actual"))
              .withColumn("validate", F.lit(True)))


def actual_rows(stamped: DataFrame,
                year: int) -> tuple[DataFrame, DataFrame]:
    """(month_rows, year_rows) of ``stamp_actuals``' rows."""
    month_rows = (stamped
                  .withColumn("year", F.year("period_start"))
                  .withColumn("month", F.month("period_start"))
                  .select("site", "amount", "year", "month", "category",
                          "validate", "version", "sign_off_id",
                          "last_update_time"))
    year_rows = (stamped
                 .groupBy("site", "category", "validate", "version",
                          "sign_off_id", "last_update_time")
                 .agg(F.sum("amount").alias("amount"))
                 .withColumn("year", F.lit(year))
                 .select("site", "amount", "year", "category", "validate",
                         "version", "sign_off_id", "last_update_time"))
    return month_rows, year_rows
