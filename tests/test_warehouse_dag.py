"""End-to-end DAG: ingest -> raw -> staging -> app over a real
parquet warehouse, twice (idempotency), with dependency ordering."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from esg_decarbonization_data_integration_and_data_pipline_spark.io import writers as W
from esg_decarbonization_data_integration_and_data_pipline_spark.pipelines.warehouse_dag import (
    build_warehouse_dag,
)

RUN = dt.date(2023, 12, 1)


@pytest.fixture()
def sources(spark):
    esgi = spark.createDataFrame(
        [("總用電度數", "P1", dt.date(2023, 5, 1), "1.0", 1),
         ("總用電度數", "P2", dt.date(2023, 5, 1), "2.0", 2),
         ("綠電電量", "P1", dt.date(2023, 5, 1), "0.1", 3)],
        "data_name string, plant string, period_start date, data_value string, "
        "performance_goalsid int")
    mapping = spark.createDataFrame(
        [("WZS", "P1", "BO1"), ("WKS", "P2", "BO1")],
        "site string, plant string, bo string")
    solar = spark.createDataFrame(
        [("WZS", 100.0, dt.date(2023, 5, 1))],
        "site string, amount double, period_start date")
    green = spark.createDataFrame(
        [("WZS", 200.0, dt.date(2023, 5, 1))],
        "site string, amount double, period_start date")
    coef = spark.createDataFrame(
        [("WZS", 2023, 0.5), ("WKS", 2023, 0.5)],
        "site string, year int, coef double")
    return {"esgi_indicators": esgi, "plant_mapping": mapping,
            "solar": solar, "green": green, "carbon_coef": coef}


def test_dag_end_to_end_and_idempotent(spark, sources, tmp_path):
    wh = str(tmp_path / "warehouse")
    reg = build_warehouse_dag(wh, sources, base_year=2023)
    results = reg.run_all(spark, RUN)
    assert results == {"esgi_to_raw": "ok", "electricity_decarb": "ok",
                       "scope_overview": "ok"}

    app = W.read_table(spark, os.path.join(wh, "app.db", "decarb_elec_overview"))
    rows = {r.site: r for r in app.collect()}
    # WZS: esgi 1.0x1000 + solar 100 = 1100 total
    assert rows["WZS"].total == pytest.approx(1100.0)
    assert rows["WZS"].scope2_location == pytest.approx(1100 * 0.5 / 1000)
    # market: total - green(200) - solar(100)
    assert rows["WZS"].scope2_market == pytest.approx(800 * 0.5 / 1000)
    assert rows["WKS"].total == pytest.approx(2000.0)

    # rerun the whole DAG: warehouse must be byte-identical in rows
    before = sorted(map(tuple, app.collect()))
    assert reg.run_all(spark, RUN)["scope_overview"] == "ok"
    after = sorted(map(tuple, W.read_table(
        spark, os.path.join(wh, "app.db", "decarb_elec_overview")).collect()))
    assert before == after


def test_dag_optional_tail_jobs(spark, sources, tmp_path):
    sources = dict(sources)
    sources["confirm"] = spark.createDataFrame(
        [("FAB", "WZS", "實際用電", 2023, 5, True),
         ("FAB", "WZS", "green_electricity", 2023, 5, False),
         ("FAB", "WKS", "實際用電", 2023, 5, False)],
        "site_category string, site string, item string, year int, "
        "month int, confirm boolean")
    sources["site_categories"] = spark.createDataFrame(
        [("FAB", "WZS"), ("FAB", "WKS")], "site_category string, site string")
    sources["simulate"] = spark.createDataFrame(
        [("WZS", 2025, 1000.0, 1, 2023)],
        "site string, year int, amount double, version int, version_year int")
    sources["renewable_setting"] = spark.createDataFrame(
        [(2025, "REC", 10.0), (2025, "PPA", 20.0), (2025, "solar", 30.0)],
        "year int, category string, amount double")
    sources["decarb_coef"] = spark.createDataFrame(
        [("WZS", 2025, 0.5)], "site string, year int, amount double")

    wh = str(tmp_path / "warehouse")
    reg = build_warehouse_dag(wh, sources, base_year=2023)
    results = reg.run_all(spark, RUN)
    assert results["source_status"] == "ok" and results["decarb_path"] == "ok"

    status = W.read_table(
        spark, os.path.join(wh, "app.db", "source_decarb_confirm"))
    by_key = {(r.site, r.item): r for r in status.collect()}
    # the esgi-landed rows surface with the recoded type label
    assert by_key[("WZS", "實際用電")].type == "ESGI"
    assert by_key[("WZS", "實際用電")].confirm is True
    assert by_key[("WZS", "green_electricity")].type == "ESGI"
    assert by_key[("WKS", "實際用電")].type == "ESGI"

    path = W.read_table(spark, os.path.join(wh, "app.db", "decarb_path"))
    by_cat = {r.category: r for r in path.collect()}
    assert by_cat["RECs"].amount == pytest.approx(1000 * 0.5 * 0.1 / 1000)
    assert by_cat["Scope 2 (Scope 2-REC)"].amount == pytest.approx(0.2)
    assert len(by_cat) == 5


def test_dag_actuals_import_and_transfer_suggest(spark, sources, tmp_path):
    sources = dict(sources)
    sources["target_versions"] = spark.createDataFrame(
        [(1, "s1", dt.datetime(2023, 2, 1), 2023, "predict", True),
         (2, "s2", dt.datetime(2023, 3, 1), 2023, "predict", True)],
        "version int, sign_off_id string, last_update_time timestamp, "
        "year int, category string, validate boolean")
    sources["wihk_csr"] = spark.createDataFrame(
        [("WIHK-1", dt.date(2023, 5, 1), 42.0)],
        "site string, period_start date, amount double")
    sources["wihk_esgi"] = spark.createDataFrame(
        [("WIHK-1", dt.date(2023, 6, 1), 7.0)],
        "site string, period_start date, amount double")
    sources["ratio_path"] = spark.createDataFrame(
        [(2024, 0.5)], "year int, renewable_ratio double")
    sources["secured_green"] = spark.createDataFrame(
        [("WZS", 150.0)], "site string, green_kwh double")
    sources["transfer_offers"] = spark.createDataFrame(
        [("WZS", "ppa-a", 2.0, 10000.0), ("WKS", "ppa-b", 3.0, 10.0)],
        "site string, source_id string, price double, available double")

    wh = str(tmp_path / "warehouse")
    reg = build_warehouse_dag(wh, sources, base_year=2023)
    results = reg.run_all(spark, RUN)
    assert results["import_actual_elect"] == "ok"
    assert results["transfer_suggest"] == "ok"

    months = W.read_table(
        spark, os.path.join(wh, "app.db", "elect_target_month"))
    by_site = {(r.site, r.month): r for r in months.collect()}
    # staging actuals (May) + the reconciled WIHK rows, stamped with
    # the max validated version's metadata
    assert by_site[("WIHK-1", 5)].amount == 42.0
    assert by_site[("WIHK-1", 6)].amount == 7.0
    assert by_site[("WZS", 5)].version == 2
    assert by_site[("WZS", 5)].category == "actual"

    years = W.read_table(
        spark, os.path.join(wh, "app.db", "elect_target_year"))
    ysite = {r.site: r for r in years.collect()}
    assert ysite["WIHK-1"].amount == pytest.approx(49.0)

    suggest = W.read_table(
        spark, os.path.join(wh, "app.db", "green_transfer_suggest"))
    srow = {r.site: r for r in suggest.collect()}
    # WZS May 2023 total = 1100 (esgi 1000 + solar 100), annualized
    # x12 for the 1-month window; gap = 13200 x 0.5 - 150 secured =
    # 6450, covered by the 10000-kWh offer
    assert srow["WZS"].allocated == pytest.approx(6450.0)
    assert srow["WZS"].unfilled == 0.0
    # WKS gap (2000x12x0.5 = 12000) dwarfs its 10-kWh offer: the
    # shortfall must surface, not vanish
    assert srow["WKS"].unfilled == pytest.approx(11990.0)


def test_dag_validation_gate_passes_and_blocks(spark, sources,
                                               tmp_path):
    """validate=True: the gate is green on a healthy feed (full DAG
    ok); a poisoned feed (negative amount) fails ONE small job and
    the failure-skip machinery holds back staging and app instead of
    publishing bad numbers."""
    wh = str(tmp_path / "wh_ok")
    reg = build_warehouse_dag(wh, sources, base_year=2023,
                              validate=True)
    results = reg.run_all(spark, RUN)
    assert results["validate_raw_electricity"] == "ok"
    assert results["scope_overview"] == "ok"

    poisoned = dict(sources)
    poisoned["esgi_indicators"] = sources["esgi_indicators"].union(
        spark.createDataFrame(
            [("總用電度數", "P1", dt.date(2023, 6, 1), "-4.0", 9)],
            sources["esgi_indicators"].schema))
    wh2 = str(tmp_path / "wh_bad")
    reg2 = build_warehouse_dag(wh2, poisoned, base_year=2023,
                               validate=True)
    results2 = reg2.run_all(spark, RUN)
    assert results2["esgi_to_raw"] == "ok"
    assert results2["validate_raw_electricity"].startswith("error")
    assert "in_range:amount" in results2["validate_raw_electricity"]
    assert results2["electricity_decarb"].startswith("skipped")
    assert results2["scope_overview"].startswith("skipped")
    assert not os.path.exists(
        os.path.join(wh2, "app.db", "decarb_elec_overview"))


def test_dag_backfill_range_is_idempotent_and_stops_on_failure(
        spark, sources, tmp_path):
    """run_range replays the DAG per date oldest-first over the
    idempotent writers: a double backfill equals a single one, and a
    failing date stops the remaining dates (their upstream state
    would be bad)."""
    wh = str(tmp_path / "wh")
    reg = build_warehouse_dag(wh, sources, base_year=2023)
    dates = [dt.date(2023, 11, 1), dt.date(2023, 12, 1)]
    r1 = reg.run_range(spark, dates)
    assert list(r1) == ["2023-11-01", "2023-12-01"]
    assert all(v == "ok" for r in r1.values() for v in r.values())
    app = os.path.join(wh, "app.db", "decarb_elec_overview")
    before = sorted(map(tuple, W.read_table(spark, app).collect()))
    r2 = reg.run_range(spark, dates)  # backfill twice == once
    assert all(v == "ok" for r in r2.values() for v in r.values())
    after = sorted(map(tuple, W.read_table(spark, app).collect()))
    assert before == after

    # a poisoned feed fails the first date's gate and STOPS the range
    poisoned = dict(sources)
    poisoned["esgi_indicators"] = sources["esgi_indicators"].union(
        spark.createDataFrame(
            [("總用電度數", "P1", dt.date(2023, 6, 1), "-4.0", 9)],
            sources["esgi_indicators"].schema))
    reg2 = build_warehouse_dag(str(tmp_path / "wh2"), poisoned,
                               base_year=2023, validate=True)
    r3 = reg2.run_range(spark, dates)
    assert list(r3) == ["2023-11-01"]  # second date never ran
    assert any(v.startswith("error") for v in r3["2023-11-01"].values())


# per multi-consumer job: the source only it reads, the column a
# counting UDF wraps in it, and the reads of that source per run when
# the shared intermediate is computed once (meter_group_packaging also
# copies the account rows themselves, outside the shared rollup)
SHARED_UPSTREAM = {"esgi_to_raw": ("esgi_indicators", "data_value", 1),
                   "scope_overview": ("green", "amount", 1),
                   "import_actual_elect": ("wihk_csr", "amount", 1),
                   "meter_group_packaging": ("green_accounts", "amount", 2)}


def test_dag_evaluates_each_shared_upstream_once(spark, tmp_path,
                                                 monkeypatch):
    """A job with several consumers of one intermediate stages it with
    W.staged, so the intermediate's plan -- and every input row under
    it -- is computed once per run, both when the job creates its
    tables and when it merges into them.  Deriving each consumer from
    the unstaged frame computed it once per consumer.  No stage dir
    outlives its job, also when the job fails inside the block."""
    from pyspark.sql import functions as F

    from perfbench import gen

    first = dt.date(2024, 1, 1)
    tables = gen.esg_sources(seed=7, scale=1, run_date=first)
    keep = ("esgi_indicators", "plant_mapping", "solar", "green",
            "carbon_coef", "target_versions", "wihk_csr", "wihk_esgi",
            "green_accounts", "meter_group", "meter_group_mapping")
    sources = {k: spark.createDataFrame(tables[k]) for k in keep}
    counts = {}
    for job, (src, col, _) in SHARED_UPSTREAM.items():
        acc = counts[job] = spark.sparkContext.accumulator(0)

        def passthrough(v, acc=acc):
            acc.add(1)
            return v

        # nondeterministic: the optimizer must not copy the call into
        # a pushed-down filter, which would count a row twice
        udf = F.udf(passthrough, sources[src].schema[col].dataType) \
            .asNondeterministic()
        sources[src] = sources[src].withColumn(col, udf(col))
    wh = str(tmp_path / "wh")
    reg = build_warehouse_dag(wh, sources, base_year=2023)
    for _ in range(2):  # creates the tables, then merges into them
        assert set(reg.run_all(spark, first).values()) == {"ok"}
    assert {j: a.value for j, a in counts.items()} == {
        j: 2 * reads * tables[src].num_rows
        for j, (src, _, reads) in SHARED_UPSTREAM.items()}
    shared = [d for _, dirs, _ in os.walk(wh) for d in dirs
              if d.endswith(".__shared__")]
    assert shared == []

    def fail(*args, **kwargs):
        raise RuntimeError("consumer failed")

    monkeypatch.setattr(W, "replace_keys", fail)
    results = reg.run_all(spark, first)
    assert results["esgi_to_raw"].startswith("error")
    assert "consumer failed" in results["esgi_to_raw"]
    assert [d for _, dirs, _ in os.walk(wh) for d in dirs
            if d.endswith(".__shared__")] == []
