"""KPI layer: carbon-scope accounting (the decarb_elec_overview calc).

Semantics (reference: jobs/staging_cal.py:41-139,386-922):
- location-based scope 2 = total electricity x grid coefficient / 1000
- market-based scope 2   = (total - green - solar) x coefficient / 1000
- scope 1                = location x 0.06 / (1 - 0.06)
  (reference: jobs/staging_cal.py:92-106)
- renewable ratio        = (green + solar) / total
- base-year comparison   = cross-join of the base-year scalar onto
  every row (J4, reference: jobs/staging_cal.py:17-18,221-246)

Spark shape: one groupBy per source table, broadcast coef dim, J4 as
a broadcast cross join; everything else is column arithmetic in
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from esg_decarbonization_data_integration_and_data_pipline_spark.operators.joins import attach_scalar

SCOPE1_FACTOR = 0.06 / (1 - 0.06)


def scope_overview(tables: dict[str, DataFrame], base_year: int) -> DataFrame:
    """tables:
    elect_total(site, amount, period_start) -- total consumption,
    green(site, amount, period_start)       -- purchased green power,
    solar(site, amount, period_start)       -- self-generated solar,
    carbon_coef(site, year, coef).

    Output per (site, year): totals, scopes, renewable ratio, and
    pct-vs-base-year for market-based scope 2.
    """
    return with_pct_vs_base(scope_by_year(tables), base_year)


def scope_by_year(tables: dict[str, DataFrame]) -> DataFrame:
    """Per (site, year): totals, scopes and renewable ratio -- the
    rows ``scope_overview`` returns, before the base-year comparison
    (see there for ``tables``)."""
    def yearly(name: str, df: DataFrame) -> DataFrame:
        return (df.groupBy("site", F.year("period_start").alias("year"))
                  .agg(F.sum("amount").alias(name)))

    y = (yearly("total", tables["elect_total"])
         .join(yearly("green", tables["green"]), ["site", "year"], "left")
         .join(yearly("solar", tables["solar"]), ["site", "year"], "left")
         .na.fill({"green": 0.0, "solar": 0.0}))

    coef = tables["carbon_coef"].select("site", "year", "coef")
    y = y.join(F.broadcast(coef), ["site", "year"], "left")

    return (y.withColumn("scope2_location",
                         F.round(F.col("total") * F.col("coef") / 1000, 6))
             .withColumn("scope2_market",
                         F.round(F.greatest(
                             F.col("total") - F.col("green") - F.col("solar"),
                             F.lit(0.0)) * F.col("coef") / 1000, 6))
             .withColumn("scope1",
                         F.round(F.col("total") * F.col("coef") / 1000
                                 * F.lit(SCOPE1_FACTOR), 6))
             .withColumn("renewable_ratio",
                         F.round((F.col("green") + F.col("solar"))
                                 / F.nullif(F.col("total"), F.lit(0.0)), 6)))


def with_pct_vs_base(out: DataFrame, base_year: int) -> DataFrame:
    """``scope_by_year``'s rows with pct-vs-base-year for market-based
    scope 2.  The base-year scalar is a second read of ``out``, so a
    job stages ``out`` once (``io.writers.staged``) and passes the
    stage, instead of planning ``scope_by_year`` twice in one query."""
    base = (out.filter(F.col("year") == base_year)
               .groupBy()
               .agg(F.sum("scope2_market").alias("base_scope2_market")))
    return (attach_scalar(out, base)
            .withColumn("pct_vs_base",
                        F.round((F.col("scope2_market")
                                 / F.nullif(F.col("base_scope2_market"),
                                            F.lit(0.0)) - 1) * 100, 4))
            .drop("base_scope2_market"))


MONTH_COLS = {"jan": 1, "feb": 2, "mar": 3, "apr": 4, "may": 5,
              "jun": 6, "jul": 7, "aug": 8, "sep": 9, "oct": 10,
              "nov": 11, "dec": 12}


def energy_saving_series(df: DataFrame, category: str) -> DataFrame:
    """Energy-saving measures: wide month columns -> monthly YTM
    series (reference: jobs/staging_cal.py:258-283 cal_energy_saving).

    ``df`` is the upload shape (year, jan..dec); the reference melts,
    recodes month names to numbers, builds period_start, group-sums
    duplicate uploads, and cumsums per year. Here: one unpivot (R1),
    a literal month map (P7), make_date (F1), one aggregation, one
    YTM window (W1).
    """
    from esg_decarbonization_data_integration_and_data_pipline_spark.operators.reshape import melt
    from esg_decarbonization_data_integration_and_data_pipline_spark.operators.windows import ytm_cumsum

    month_map = F.create_map(
        *[x for name, num in MONTH_COLS.items()
          for x in (F.lit(name), F.lit(num))])
    long = melt(df, ["year"], list(MONTH_COLS), "month_name", "amount")
    monthly = (long
               .withColumn("month", month_map[F.col("month_name")])
               .withColumn("period_start",
                           F.make_date("year", "month", F.lit(1)))
               .groupBy("year", "month", "period_start")
               .agg(F.sum("amount").alias("amount")))
    return (ytm_cumsum(monthly, ["year"], "month", "amount")
            .select("period_start", "amount", "ytm_amount")
            .withColumn("category", F.lit("energy_efficiency"))
            .withColumn("type", F.lit(category)))


def scope_pct_change(cur: DataFrame, base: DataFrame,
                     period_start, per_period: bool = False,
                     align: str = "period_start") -> DataFrame:
    """Percent change of a scope series vs a base series:
    ((current/base) - 1) x 100 for both amount and ytm_amount
    (reference: jobs/staging_cal.py:175-221 cal_scope_simulate and
    :198-221 cal_scope_simulate_fix).

    ``base`` is a one-row scalar frame (cross-join form, J4) unless
    ``per_period`` -- then it joins like the _fix variant. ``align``
    picks the per-period join key: 'period_start' (the _fix merge --
    both frames must live in the SAME period space, i.e. a
    previous-year baseline must already be re-stamped to current
    dates) or 'month' (calendar-month alignment for a baseline that
    keeps its own year's dates). A zero or absent base yields NULL
    (engine-wide convention; the reference emits inf/NaN and filters
    later).

    ``period_start=None`` keeps each row's own period instead of
    stamping the single literal the reference writes (:181) -- use
    None whenever the result feeds a period-keyed write, where the
    uniform stamp would collapse the key.
    """
    if per_period and align == "month":
        cur = cur.withColumn("__k", F.month("period_start"))
        base_r = base.select(F.month("period_start").alias("__k"),
                             F.col("amount").alias("__b_amount"),
                             F.col("ytm_amount").alias("__b_ytm"))
        j = cur.join(base_r, "__k", "left").drop("__k")
    elif per_period:
        base_r = base.select("period_start",
                             F.col("amount").alias("__b_amount"),
                             F.col("ytm_amount").alias("__b_ytm"))
        j = cur.join(base_r, "period_start", "left")
    else:
        base_r = base.select(F.col("amount").alias("__b_amount"),
                             F.col("ytm_amount").alias("__b_ytm"))
        j = cur.crossJoin(F.broadcast(base_r))
    pct = lambda x, b: (F.col(x) / F.nullif(F.col(b), F.lit(0.0)) - 1) * 100  # noqa: E731
    out_period = (F.col("period_start") if period_start is None
                  else F.lit(period_start))
    return j.select(
        out_period.alias("period_start"),
        pct("amount", "__b_amount").alias("amount"),
        pct("ytm_amount", "__b_ytm").alias("ytm_amount"))


def decarb_simulate_current_year(scope2_market: DataFrame,
                                 scope2_market_base: DataFrame,
                                 scope1n2: DataFrame,
                                 scope1n2_base: DataFrame,
                                 scope1n2_previous: DataFrame,
                                 period_start,
                                 per_period: bool = False):
    """The three decarb-simulate comparison series (reference:
    jobs/staging_cal.py:221-247): market scope 2 vs base year,
    scope 1+2 vs base year, and scope 1+2 vs previous year (the
    SBTi track). In per-period mode the SBTi leg aligns on calendar
    MONTH: the previous-year frame keeps its own year's dates, so a
    raw period_start join could never match (the base-year legs join
    frames that live in the same period space)."""
    return (
        scope_pct_change(scope2_market, scope2_market_base,
                         period_start, per_period),
        scope_pct_change(scope1n2, scope1n2_base,
                         period_start, per_period),
        scope_pct_change(scope1n2, scope1n2_previous,
                         period_start, per_period,
                         align="month" if per_period else "period_start"))


def s2_series(elect: DataFrame, renewables: DataFrame,
              coef: DataFrame) -> DataFrame:
    """Fleet-level monthly scope-2 series (reference:
    jobs/staging_cal.py:41-89 s2_market_cal / s2_location_cal --
    same computation, different renewable slice):

    per (site, period): (elect - renewables) x coef / 1000, for both
    the month amount and the YTM amount, then summed across sites
    per period. Missing renewable rows and coefs fill 0 like the
    reference's fillna(0). Reference-faithful asymmetry: the merge
    starts FROM elect (:43-44), so a renewable row with no matching
    electricity row contributes nothing -- callers who must catch
    lagging electricity feeds should anti-join renewables against
    elect and alert on survivors.

    elect / renewables: (site, period_start, amount, ytm_amount);
    coef: (site, coef).
    """
    r = renewables.select(
        "site", "period_start",
        F.col("amount").alias("__r_amount"),
        F.col("ytm_amount").alias("__r_ytm"))
    j = (elect.join(r, ["site", "period_start"], "left")
              .join(F.broadcast(coef.select("site", "coef")), "site", "left")
              .na.fill({"__r_amount": 0.0, "__r_ytm": 0.0, "coef": 0.0}))
    per_site = j.select(
        "period_start",
        ((F.col("amount") - F.col("__r_amount"))
         * F.col("coef") / 1000).alias("amount"),
        ((F.col("ytm_amount") - F.col("__r_ytm"))
         * F.col("coef") / 1000).alias("ytm_amount"))
    return (per_site.groupBy("period_start")
            .agg(F.sum("amount").alias("amount"),
                 F.sum("ytm_amount").alias("ytm_amount")))


def s1_and_s1n2(scope2_location: DataFrame,
                scope2_market: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Scope 1 from the location series (x 0.06/0.94) and the
    combined scope 1+2 = scope1 + market, summed per period
    (reference: jobs/staging_cal.py:92-108 s1_s1n2_cal)."""
    scope1 = scope2_location.select(
        "period_start",
        (F.col("amount") * F.lit(SCOPE1_FACTOR)).alias("amount"),
        (F.col("ytm_amount") * F.lit(SCOPE1_FACTOR)).alias("ytm_amount"))
    scope1n2 = (scope1.unionByName(
                    scope2_market.select("period_start", "amount",
                                         "ytm_amount"))
                .groupBy("period_start")
                .agg(F.sum("amount").alias("amount"),
                     F.sum("ytm_amount").alias("ytm_amount")))
    return scope1, scope1n2


def scope_cal_current_year(elect: DataFrame, solar: DataFrame,
                           green_energy: DataFrame, green_elect: DataFrame,
                           coef: DataFrame):
    """Full monthly scope assembly (reference:
    jobs/staging_cal.py:109-175 scope_cal_current_year /
    scope_cal_target_current -- identical bodies): the market
    renewable slice is solar + green certificates + green
    electricity, the location slice excludes the certificates; both
    feed the netting series and the scope-1 derivation. The
    reference's empty-frame branches vanish: a union of empty frames
    aggregates to an empty frame in the same plan.

    Returns (scope2_market, scope2_location, scope1, scope1n2).
    """
    def merged(*dfs: DataFrame) -> DataFrame:
        u = dfs[0]
        for d in dfs[1:]:
            u = u.unionByName(d)
        return (u.groupBy("site", "period_start")
                 .agg(F.sum("amount").alias("amount"),
                      F.sum("ytm_amount").alias("ytm_amount")))

    renw_market = merged(solar, green_energy, green_elect)
    renw_location = merged(solar, green_elect)
    scope2_market = s2_series(elect, renw_market, coef)
    scope2_location = s2_series(elect, renw_location, coef)
    scope1, scope1n2 = s1_and_s1n2(scope2_location, scope2_market)
    return scope2_market, scope2_location, scope1, scope1n2
