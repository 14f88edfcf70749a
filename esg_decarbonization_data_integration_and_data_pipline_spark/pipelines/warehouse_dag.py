"""The nightly-batch DAG wired end-to-end (SURVEY.md §3.1).

Reproduces the reference ``main()`` spine (main.py:29-113) over a
parquet warehouse: ingest (ESGI normalize) -> raw, raw -> staging
(solar-adjusted totals + YTM + rollup), staging -> app (scope
accounting) -- each stage reading what the previous stage wrote via
the idempotent writers, with dependencies declared in the JobRegistry
so independent stages run concurrently.

A job whose outputs share an upstream computes it once: the shared
frame is staged with ``W.staged`` and each output is derived from the
stage.  The jobs call the two parts of each such pure function (the
shared part and the derive part); ``esgi_to_raw``, ``scope_overview``
and ``import_actual_elect`` compose them and stay importable from this
module for callers that look them up here by name.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import SparkSession, functions as F

from esg_decarbonization_data_integration_and_data_pipline_spark.io import writers as W
from esg_decarbonization_data_integration_and_data_pipline_spark.pipelines.decarb_path import decarb_path
from esg_decarbonization_data_integration_and_data_pipline_spark.pipelines.gap_fix import (  # noqa: F401
    actual_rows, import_actual_elect, stamp_actuals,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.pipelines.transfer_suggest import (
    next_year_transfer_suggest,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.pipelines.electricity_decarb import (
    electricity_decarb,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.pipelines.esgi_ingest import (  # noqa: F401
    esgi_per_site, esgi_to_raw, split_families,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.pipelines.run_all import JobRegistry
from esg_decarbonization_data_integration_and_data_pipline_spark.pipelines.scope_overview import (  # noqa: F401
    scope_by_year, scope_overview, with_pct_vs_base,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.pipelines.source_status import (
    source_status,
)


def build_warehouse_dag(warehouse: str, sources: dict, base_year: int,
                        plant_recode: dict[str, str] | None = None,
                        validate: bool = False) -> JobRegistry:
    """``sources``: in-memory frames standing in for the federated
    inputs (esgi_indicators, plant_mapping, solar, green,
    carbon_coef). Returns a registry whose jobs write/read the
    parquet warehouse at ``warehouse``.

    ``validate=True`` inserts a data-quality gate between raw and
    staging (operators/expectations.enforce): staging depends on the
    gate, so a poisoned feed fails ONE small job and the registry's
    failure-skip machinery holds back everything downstream -- the
    reference trusts its feeds implicitly (scattered na.drop /
    empty-frame guards); this makes the contract explicit and loud.
    """
    reg = JobRegistry()

    def p(schema: str, name: str) -> str:
        return W.table_path(warehouse, schema, name)

    def shared(table: str) -> str:
        """Stage dir of an intermediate the job writing ``table``
        shares between its outputs (see ``W.staged``)."""
        return table + ".__shared__"

    @reg.register("esgi_to_raw")
    def _ingest(spark: SparkSession, run_date: dt.date):
        per_site = esgi_per_site(
            {"esgi_indicators": sources["esgi_indicators"],
             "plant_mapping": sources["plant_mapping"]},
            plant_recode=plant_recode)
        elec = p("raw", "electricity_total_decarb")
        with W.staged(per_site, shared(elec)) as stage:
            out = split_families(stage)
            W.replace_keys(out["electricity_total_decarb"], elec,
                           keys=["site", "period_start"])
            W.replace_keys(out["renewable_energy_decarb"],
                           p("raw", "renewable_energy_decarb"),
                           keys=["site", "category", "period_start"])

    staging_deps = ["esgi_to_raw"]
    if validate:
        @reg.register("validate_raw_electricity",
                      depends_on=["esgi_to_raw"])
        def _validate_raw(spark: SparkSession, run_date: dt.date):
            from esg_decarbonization_data_integration_and_data_pipline_spark.operators import (
                expectations as E,
            )

            df = W.read_table(spark,
                              p("raw", "electricity_total_decarb"))
            E.enforce(df, [
                E.not_null("site"), E.not_null("period_start"),
                E.not_null("amount"),
                E.in_range("amount", lo=0.0),
                E.unique("site", "period_start"),
                E.in_set("type", ["wzs_esgi"]),
            ])

        staging_deps.append("validate_raw_electricity")

    @reg.register("electricity_decarb", depends_on=staging_deps)
    def _staging(spark: SparkSession, run_date: dt.date):
        raw_elec = W.read_table(spark, p("raw", "electricity_total_decarb"))
        out = electricity_decarb(
            {"electricity_total": raw_elec,
             "solar": sources["solar"],
             "plant_mapping": sources["plant_mapping"]},
            run_date)
        W.replace_range(W.month_partitioned(out),
                        p("staging", "electricity_decarb"),
                        ["period_month"])

    @reg.register("scope_overview", depends_on=["electricity_decarb"])
    def _app(spark: SparkSession, run_date: dt.date):
        staged = (W.read_table(spark, p("staging", "electricity_decarb"))
                  .filter("site <> 'ALL' AND bo <> 'ALL'")
                  .select("site", "amount", "period_start"))
        by_year = scope_by_year(
            {"elect_total": staged,
             "green": sources["green"],
             "solar": sources["solar"],
             "carbon_coef": sources["carbon_coef"]})
        overview = p("app", "decarb_elec_overview")
        # the rows and the base-year scalar both read the stage
        with W.staged(by_year, shared(overview)) as stage:
            W.overwrite(with_pct_vs_base(stage, base_year), overview)

    # the confirm-status and forecast jobs join the DAG only when the
    # caller supplies their inputs (the reference's main() likewise
    # sequences them as optional tail steps, main.py:29-113)
    if "confirm" in sources:
        @reg.register("source_status", depends_on=["esgi_to_raw"])
        def _status(spark: SparkSession, run_date: dt.date):
            elec = W.read_table(spark, p("raw", "electricity_total_decarb"))
            renew = (W.read_table(spark, p("raw", "renewable_energy_decarb"))
                     .withColumnRenamed("category", "category2"))
            out = source_status(
                {"electricity": elec, "renewable": renew,
                 "plant_mapping": sources["site_categories"],
                 "confirm": sources["confirm"]},
                run_date)
            W.replace_keys(out, p("app", "source_decarb_confirm"),
                           keys=["site_category", "site", "item",
                                 "year", "month"])

    if "simulate" in sources:
        @reg.register("decarb_path")
        def _path(spark: SparkSession, run_date: dt.date):
            out = decarb_path(
                {"simulate": sources["simulate"],
                 "renewable_setting": sources["renewable_setting"],
                 "coef": sources["decarb_coef"]})
            W.replace_keys(out, p("app", "decarb_path"),
                           keys=["category", "year", "version", "type"])

    # actuals import runs after staging like the reference's
    # import_actual_elect between raw_to_staging and staging_to_app
    # (main.py:83-85)
    if "target_versions" in sources:
        @reg.register("import_actual_elect",
                      depends_on=["electricity_decarb"])
        def _actuals(spark: SparkSession, run_date: dt.date):
            # detail slice, summed over bo (a site mapped to two bos
            # must land as ONE row per month) and windowed to the
            # import year -- staging carries the prior year too, and
            # an unwindowed sum would label it all as run year
            staged = (W.read_table(spark,
                                   p("staging", "electricity_decarb"))
                      .filter("site <> 'ALL' AND bo <> 'ALL'")
                      .filter(F.year("period_start") == run_date.year)
                      .groupBy("site", "period_start")
                      .agg(F.sum("amount").alias("amount")))
            stamped = stamp_actuals(
                {"monthly": staged,
                 "csr": sources["wihk_csr"],
                 "esgi": sources["wihk_esgi"],
                 "versions": sources["target_versions"]},
                run_date.year)
            month_table = p("app", "elect_target_month")
            with W.staged(stamped, shared(month_table)) as stage:
                month_rows, year_rows = actual_rows(stage, run_date.year)
                W.replace_keys(month_rows, month_table,
                               keys=["year", "month", "site", "category",
                                     "version"])
                W.replace_keys(year_rows, p("app", "elect_target_year"),
                               keys=["year", "site", "category",
                                     "version"])

    # meter-group packaging follows the green-account build the same
    # way the reference's staging_to_app monthly loop does
    # (jobs/staging_to_app.py:282-342)
    if "meter_group" in sources:
        @reg.register("meter_group_packaging")
        def _packaging(spark: SparkSession, run_date: dt.date):
            from esg_decarbonization_data_integration_and_data_pipline_spark.pipelines.meter_groups import (
                build_meter_groups, pack_meter_groups, with_group_rows,
            )
            accounts = sources["green_accounts"]
            packed = pack_meter_groups(accounts, build_meter_groups(
                sources["meter_group"], sources["meter_group_mapping"]))
            packaged = p("app", "green_elec_account_packaged")
            # the group rows and their green rates both read the stage
            with W.staged(packed, shared(packaged)) as stage:
                W.replace_keys(with_group_rows(accounts, stage), packaged,
                               keys=["site", "plant", "meter_code",
                                     "category1", "category2", "year",
                                     "month"])

    # the transfer suggestion closes the nightly run (main.py:110)
    if "transfer_offers" in sources:
        @reg.register("transfer_suggest",
                      depends_on=["electricity_decarb"])
        def _suggest(spark: SparkSession, run_date: dt.date):
            # annualize the in-progress year: max_by(amount, year)
            # picks the latest year, which mid-year holds only N
            # months -- scale by 12/N so a June run does not halve
            # the suggested next-year demand
            staged = (W.read_table(spark,
                                   p("staging", "electricity_decarb"))
                      .filter("site <> 'ALL' AND bo <> 'ALL'"))
            consumption = (staged
                           .withColumn("year", F.year("period_start"))
                           .groupBy("site", "year")
                           .agg((F.sum("amount") * 12
                                 / F.countDistinct(F.month("period_start")))
                                .alias("amount")))
            out = next_year_transfer_suggest(
                {"consumption": consumption,
                 "ratio_path": sources["ratio_path"],
                 "secured": sources["secured_green"],
                 "offers": sources["transfer_offers"]},
                run_date.year + 1)
            W.replace_keys(out, p("app", "green_transfer_suggest"),
                           keys=["site", "source_id"])

    return reg
