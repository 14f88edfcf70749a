"""ESGI indicator ingest: normalize + recode + unit fix + site rollup.

Semantics (reference: jobs/wzsesgi_etl.py:38-52 preprocess_df,
:55-123 esgi2raw): the environment-indicator feed arrives as strings
with 'NA' placeholders and plant-level codes; normalize to numeric,
recode plants, scale the unit (x1000 fix, reference :74), map
indicator names to categories, enrich with the plant dimension and
aggregate to site-month.

Spark shape: all narrow transforms + one broadcast join + one
aggregate; 'NA'-handling is try_cast (no Python).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

# indicator name -> output category (reference category_group :22-29)
INDICATOR_CATEGORIES = {
    "總用電度數": ("electricity", "total"),
    "綠電電量": ("renewable", "green_electricity"),
    "購買綠證電量": ("renewable", "green_energy"),
    "自建自用電量": ("renewable", "solar_energy"),
}


def normalize_indicators(raw: DataFrame, plant_recode: dict[str, str],
                         unit_scale: float = 1000.0) -> DataFrame:
    """raw(data_name, plant, period_start, data_value STRING).
    'NA'/'' -> 0; value scaled by unit_scale; plants recoded."""
    recode = reduce(
        lambda acc, kv: acc.when(F.col("plant") == kv[0], F.lit(kv[1])),
        plant_recode.items(), F.when(F.lit(False), F.lit(None)))
    cat = reduce(
        lambda acc, kv: acc.when(F.col("data_name") == kv[0],
                                 F.struct(F.lit(kv[1][0]).alias("family"),
                                          F.lit(kv[1][1]).alias("category"))),
        INDICATOR_CATEGORIES.items(), F.when(F.lit(False), F.lit(None)))
    return (raw
            .withColumn("plant", recode.otherwise(F.col("plant")))
            .withColumn("amount",
                        F.coalesce(F.expr("try_cast(data_value AS DOUBLE)"),
                                   F.lit(0.0)) * F.lit(unit_scale))
            .withColumn("cat", cat)
            .filter(F.col("cat").isNotNull())
            .select("plant", "period_start", "amount",
                    F.col("cat.family").alias("family"),
                    F.col("cat.category").alias("category")))


def esgi_to_raw(tables: dict[str, DataFrame],
                plant_recode: dict[str, str] | None = None
                ) -> dict[str, DataFrame]:
    """tables: esgi_indicators(raw feed), plant_mapping(site, plant).
    Returns the two raw-layer outputs keyed by table name
    (electricity_total_decarb / renewable_energy_decarb)."""
    return split_families(esgi_per_site(tables, plant_recode))


def esgi_per_site(tables: dict[str, DataFrame],
                  plant_recode: dict[str, str] | None = None) -> DataFrame:
    """The site-month rollup both raw outputs are cut from: one row
    per (site, period_start, family, category) with the summed
    amount, unit and type.  A job writing both outputs stages it once
    (``io.writers.staged``) and splits the stage."""
    norm = normalize_indicators(tables["esgi_indicators"],
                                plant_recode or {})
    mapping = tables["plant_mapping"].select("site", "plant").distinct()
    sited = (norm.join(F.broadcast(mapping), "plant", "left")
                 .na.fill({"site": "UNKNOWN"}))
    return (sited.groupBy("site", "period_start", "family", "category")
                 .agg(F.sum("amount").alias("amount"))
                 .withColumn("unit", F.lit("度"))
                 .withColumn("type", F.lit("wzs_esgi")))


def split_families(per_site: DataFrame) -> dict[str, DataFrame]:
    """``esgi_per_site``'s rows cut into the two raw-layer tables."""
    elec = (per_site.filter(F.col("family") == "electricity")
                    .select("site", "amount", "unit", "period_start", "type"))
    renew = (per_site.filter(F.col("family") == "renewable")
                     .select("category", "amount", "site",
                             "period_start", "type", "unit"))
    return {"electricity_total_decarb": elec,
            "renewable_energy_decarb": renew}
