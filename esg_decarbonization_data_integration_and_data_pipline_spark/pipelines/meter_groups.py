"""Meter-group packaging: bundle metered accounts into contract
groups and derive per-group green rates.

Reference: jobs/staging_to_app.py:282-342 -- some plants buy green
power as a PACKAGE across several physical meters (the
``decarb_ww_meter_group`` / ``decarb_ww_meter_group_mapping``
tables), so the app layer carries, alongside the per-meter rows,
synthetic "meter" rows named after the group with the group's summed
volumes, plus a green_rate row per group (green volume / grey
volume). The reference builds this with three pandas merges and two
appends inside the monthly loop; here it is one broadcast join + one
rollup + one self-join, batch over all months at once.

Scale shape: the group dimension is tiny (meters per contract) ->
broadcast inner join; the rollup is a partial-agg groupBy keyed by
the output grain; the rate is a green x grey equi-join at group
grain. No shuffle of the accounts beyond the one rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

GROUP_GRAIN = ["site", "plant", "provider_name", "category2",
               "year", "month", "area"]


def build_meter_groups(meter_group: DataFrame,
                       group_mapping: DataFrame) -> DataFrame:
    """meter_group(meter_code, group_id) x group_mapping(group_id,
    group_name) -> (meter_code, group_name). Ungrouped meters
    (null group_id) are dropped BEFORE the join, mirroring the
    reference's dropna + int cast (jobs/staging_to_app.py:286-293)."""
    mg = (meter_group
          .filter(F.col("meter_code").isNotNull()
                  & F.col("group_id").isNotNull())
          .withColumn("group_id", F.col("group_id").cast("int")))
    mapping = group_mapping.withColumn("group_id",
                                       F.col("group_id").cast("int"))
    # a group_id with no mapping row must NOT surface as a NULL-named
    # synthetic meter; pandas groupby drops NaN keys, so the reference
    # silently discards unmapped groups -- make that explicit
    return (mg.join(F.broadcast(mapping), ["group_id"], "left")
              .filter(F.col("group_name").isNotNull())
              .select("meter_code", "group_name"))


def pack_meter_groups(accounts: DataFrame,
                      groups: DataFrame) -> DataFrame:
    """Roll grouped meters up to one synthetic meter per group: inner
    join on meter_code (ungrouped meters drop out), keep only the
    green/grey volume categories, sum amount at the group grain, and
    surface the group name AS the meter_code (reference
    jobs/staging_to_app.py:295-309).

    accounts(site, plant, meter_code, provider_name, category1,
    category2, amount, year, month, area)."""
    return (accounts
            .join(F.broadcast(groups), ["meter_code"], "inner")
            .filter(F.col("category1").isin("green_elect_vol",
                                            "grey_elect"))
            .groupBy(*GROUP_GRAIN, "category1", "group_name")
            .agg(F.sum("amount").alias("amount"))
            .withColumn("meter_code", F.col("group_name"))
            .drop("group_name")
            .select("site", "plant", "meter_code", "provider_name",
                    "category1", "category2", "amount", "year",
                    "month", "area"))


def group_green_rate(packed: DataFrame) -> DataFrame:
    """Per-group green rate = green volume / grey volume at the group
    grain, excluding billing rows (category2 = 'elect_bill'), emitted
    as category1 = 'green_rate' rows with the group's synthetic
    meter_code (reference jobs/staging_to_app.py:311-339; the
    reference's commented-out green/(green+grey) variant was
    superseded by green/grey at :327-328)."""
    base = packed.filter(F.col("category2") != "elect_bill")
    green = (base.filter(F.col("category1") == "green_elect_vol")
                 .select(*GROUP_GRAIN, "meter_code",
                         F.col("amount").alias("green_amount")))
    grey = (base.filter(F.col("category1") == "grey_elect")
                .select(*GROUP_GRAIN, "meter_code",
                        F.col("amount").alias("grey_amount")))
    return (green.join(grey, [*GROUP_GRAIN, "meter_code"], "left")
                 .withColumn("amount",
                             F.col("green_amount") / F.col("grey_amount"))
                 .withColumn("category1", F.lit("green_rate"))
                 .filter(F.col("amount").isNotNull())
                 .select("site", "plant", "meter_code", "provider_name",
                         "category1", "category2", "amount", "year",
                         "month", "area"))


def packaged_accounts(accounts: DataFrame, meter_group: DataFrame,
                      group_mapping: DataFrame) -> DataFrame:
    """The full packaging stage: original per-meter rows + per-group
    rollup rows + per-group green_rate rows (reference
    jobs/staging_to_app.py:341-342 double append)."""
    return with_group_rows(accounts, pack_meter_groups(
        accounts, build_meter_groups(meter_group, group_mapping)))


def with_group_rows(accounts: DataFrame, packed: DataFrame) -> DataFrame:
    """``accounts`` plus ``packed`` (``pack_meter_groups``' rollup)
    and its green_rate rows.  ``packed`` is read twice here, so a job
    stages it once (``io.writers.staged``) and passes the stage."""
    cols = ["site", "plant", "meter_code", "provider_name", "category1",
            "category2", "amount", "year", "month", "area"]
    return (accounts.select(*cols)
            .unionByName(packed.select(*cols))
            .unionByName(group_green_rate(packed).select(*cols)))
