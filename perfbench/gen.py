"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``(seed, scale[, run_date])``:
the same arguments give byte-identical Arrow tables, so two runs with
one seed measure the same inputs.  Nothing touches Spark; the
workloads land the tables as parquet and read them back, the way a
federated ingest hands files to the nightly job.

Two families:

- :func:`esg_sources` -- every input ``build_warehouse_dag`` accepts,
  following FIXTURES.md: month-start ``period_start`` dates, short
  site codes (``WZS-1``), Chinese category strings passed through as
  opaque UTF-8.  Amounts are whole kWh so every sum the pipelines
  take is exact and a re-run reproduces the warehouse bit for bit.
- :func:`tpch_tables` -- the TPC-H-like star schema plus the
  ``events``/``documents``/``embeddings`` tables the declared queries
  read, with the column names and types of the query registry's
  test data.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

SITE_PREFIXES = ["WZS", "WKS", "WCD", "WCQ", "WMY", "WMX", "WVN", "WOK",
                 "WHC", "WMI"]
INDICATORS = ["總用電度數", "綠電電量", "購買綠證電量", "自建自用電量"]
BOS = ["BO1", "BO2", "BO3"]
SITE_CATEGORIES = ["FAB", "OFFICE", "DORM"]
CONFIRM_ITEMS = ["實際用電", "自建太陽能", "直購綠電", "購買綠證"]


def add_months(d: dt.date, n: int) -> dt.date:
    m = d.year * 12 + d.month - 1 + n
    return dt.date(m // 12, m % 12 + 1, 1)


def month_starts(first: dt.date, n: int) -> list[dt.date]:
    return [add_months(first, i) for i in range(n)]


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table, so adding a table never
    # shifts the values of another
    return np.random.default_rng([seed, sum(map(ord, stream))])


def _kwh(rng, n: int, lo: int, hi: int) -> np.ndarray:
    return rng.integers(lo, hi, n).astype(np.float64)


# ---------------------------------------------------------------------------
# ESG warehouse inputs
# ---------------------------------------------------------------------------

def esg_sites(scale: int) -> list[str]:
    """``scale`` sites per prefix: scale 3 gives 30 sites."""
    return [f"{p}-{i}" for p in SITE_PREFIXES for i in range(1, scale + 1)]


def esg_sources(seed: int, scale: int, run_date: dt.date,
                months_back: int = 24,
                months_ahead: int = 12) -> dict[str, pa.Table]:
    """Every ``build_warehouse_dag`` input for ``len(esg_sites(scale))``
    sites over ``months_back`` months before ``run_date`` and
    ``months_ahead`` months from it, so a run of consecutive nightlies
    starting at ``run_date`` always finds its month landed."""
    sites = esg_sites(scale)
    plants = [(s, f"{s}-P{j}") for s in sites for j in (1, 2)]
    months = month_starts(add_months(run_date, -months_back),
                          months_back + months_ahead)
    years = sorted({m.year for m in months} | {run_date.year + 1,
                                               run_date.year + 2})
    out: dict[str, pa.Table] = {}

    r = _rng(seed, "plant_mapping")
    out["plant_mapping"] = pa.table({
        "site": [s for s, _ in plants],
        "plant": [p for _, p in plants],
        "bo": [BOS[i] for i in r.integers(0, len(BOS), len(plants))],
    })

    r = _rng(seed, "esgi_indicators")
    rows = [(name, p, m) for _, p in plants for m in months
            for name in INDICATORS]
    n = len(rows)
    value = _kwh(r, n, 50, 5000).astype(np.int64).astype(str)
    # the feed ships 'NA' placeholders, ingested as 0 kWh
    value[r.random(n) < 0.02] = "NA"
    out["esgi_indicators"] = pa.table({
        "data_name": [x[0] for x in rows],
        "plant": [x[1] for x in rows],
        "period_start": pa.array([x[2] for x in rows], pa.date32()),
        "data_value": value.tolist(),
        "performance_goalsid": pa.array(np.arange(n, dtype=np.int32)),
    })

    def site_month(stream: str, lo: int, hi: int) -> pa.Table:
        rr = _rng(seed, stream)
        sm = [(s, m) for s in sites for m in months]
        return pa.table({
            "site": [x[0] for x in sm],
            "amount": _kwh(rr, len(sm), lo, hi),
            "period_start": pa.array([x[1] for x in sm], pa.date32()),
        })

    out["solar"] = site_month("solar", 10, 400)
    out["green"] = site_month("green", 20, 800)

    r = _rng(seed, "carbon_coef")
    sy = [(s, y) for s in sites for y in years]
    # quarter steps keep total * coef exact in binary
    out["carbon_coef"] = pa.table({
        "site": [x[0] for x in sy],
        "year": pa.array([x[1] for x in sy], pa.int32()),
        "coef": r.integers(1, 4, len(sy)) * 0.25,
    })

    r = _rng(seed, "site_categories")
    cat_of = {s: SITE_CATEGORIES[i] for s, i in
              zip(sites, r.integers(0, len(SITE_CATEGORIES), len(sites)))}
    out["site_categories"] = pa.table({
        "site_category": [cat_of[s] for s in sites], "site": sites})

    r = _rng(seed, "confirm")
    rows = [(cat_of[s], s, item, m.year, m.month)
            for s in sites for item in CONFIRM_ITEMS for m in months]
    out["confirm"] = pa.table({
        "site_category": [x[0] for x in rows],
        "site": [x[1] for x in rows],
        "item": [x[2] for x in rows],
        "year": pa.array([x[3] for x in rows], pa.int32()),
        "month": pa.array([x[4] for x in rows], pa.int32()),
        "confirm": pa.array(r.random(len(rows)) < 0.7),
    })

    r = _rng(seed, "simulate")
    sim_years = [y for y in years if y >= run_date.year]
    rows = [(s, y, v, vy) for s in sites for y in sim_years
            for v in (1, 2) for vy in (run_date.year - 1, run_date.year)]
    out["simulate"] = pa.table({
        "site": [x[0] for x in rows],
        "year": pa.array([x[1] for x in rows], pa.int32()),
        "amount": _kwh(r, len(rows), 10_000, 200_000),
        "version": pa.array([x[2] for x in rows], pa.int32()),
        "version_year": pa.array([x[3] for x in rows], pa.int32()),
    })

    r = _rng(seed, "renewable_setting")
    rows = [(y, c) for y in sim_years for c in ("REC", "PPA", "solar")]
    out["renewable_setting"] = pa.table({
        "year": pa.array([x[0] for x in rows], pa.int32()),
        "category": [x[1] for x in rows],
        "amount": r.integers(1, 30, len(rows)).astype(np.float64),
    })

    r = _rng(seed, "decarb_coef")
    sy = [(s, y) for s in sites for y in sim_years]
    out["decarb_coef"] = pa.table({
        "site": [x[0] for x in sy],
        "year": pa.array([x[1] for x in sy], pa.int32()),
        "amount": r.integers(1, 4, len(sy)) * 0.25,
    })

    r = _rng(seed, "target_versions")
    rows = [(v, y, c) for y in years for v in (1, 2, 3)
            for c in ("predict", "actual")]
    out["target_versions"] = pa.table({
        "version": pa.array([x[0] for x in rows], pa.int32()),
        "sign_off_id": [f"so-{x[1]}-{x[0]}-{x[2]}" for x in rows],
        "last_update_time": pa.array(
            [dt.datetime(x[1], 1, 1) + dt.timedelta(days=int(d))
             for x, d in zip(rows, r.integers(0, 300, len(rows)))],
            pa.timestamp("us")),
        "year": pa.array([x[1] for x in rows], pa.int32()),
        "category": [x[2] for x in rows],
        # version 3 is a draft: never validated
        "validate": pa.array([x[0] < 3 for x in rows]),
    })

    wihk = [f"WIHK-{i}" for i in range(1, scale + 1)]
    for name in ("wihk_csr", "wihk_esgi"):
        r = _rng(seed, name)
        sm = [(s, m) for s in wihk for m in months if r.random() < 0.8]
        out[name] = pa.table({
            "site": [x[0] for x in sm],
            "period_start": pa.array([x[1] for x in sm], pa.date32()),
            "amount": _kwh(r, len(sm), 100, 9000),
        })

    r = _rng(seed, "green_accounts")
    meters = [(s, p, f"M-{p}-{k}") for s, p in plants for k in (1, 2)]
    rows = [(s, p, mc, c1, m.year, m.month) for s, p, mc in meters
            for m in months[-12:]
            for c1 in ("green_elect_vol", "grey_elect")]
    c2 = np.where(r.random(len(rows)) < 0.1, "elect_bill", "volume")
    out["green_accounts"] = pa.table({
        "site": [x[0] for x in rows],
        "plant": [x[1] for x in rows],
        "meter_code": [x[2] for x in rows],
        "provider_name": [f"prov{hash_code(x[0]) % 4}" for x in rows],
        "category1": [x[3] for x in rows],
        "category2": c2.tolist(),
        "amount": _kwh(r, len(rows), 100, 10_000),
        "year": pa.array([x[4] for x in rows], pa.int32()),
        "month": pa.array([x[5] for x in rows], pa.int32()),
        "area": ["cn" if x[0].startswith(("WZS", "WKS", "WCD", "WCQ"))
                 else "other" for x in rows],
    })

    r = _rng(seed, "meter_group")
    codes = [mc for _, _, mc in meters]
    gid = r.integers(1, max(2, len(sites) // 2), len(codes)).astype(object)
    gid[r.random(len(codes)) < 0.3] = None  # ungrouped meters
    out["meter_group"] = pa.table({
        "meter_code": codes, "group_id": pa.array(gid.tolist(), pa.int32())})
    n_groups = max(2, len(sites) // 2)
    out["meter_group_mapping"] = pa.table({
        "group_id": pa.array(range(1, n_groups), pa.int32()),
        "group_name": [f"G{g}_ALL" for g in range(1, n_groups)]})

    r = _rng(seed, "ratio_path")
    out["ratio_path"] = pa.table({
        "year": pa.array(years, pa.int32()),
        "renewable_ratio": r.integers(10, 60, len(years)) / 100.0})

    r = _rng(seed, "secured_green")
    out["secured_green"] = pa.table({
        "site": sites, "green_kwh": _kwh(r, len(sites), 0, 50_000)})

    r = _rng(seed, "transfer_offers")
    offers = [(s, f"ppa-{s}-{k}") for s in sites for k in (1, 2)]
    out["transfer_offers"] = pa.table({
        "site": [x[0] for x in offers],
        "source_id": [x[1] for x in offers],
        "price": r.integers(100, 400, len(offers)) / 100.0,
        "available": _kwh(r, len(offers), 1_000, 100_000),
    })
    return out


def hash_code(s: str) -> int:
    """A stable string hash (``hash()`` is salted per process)."""
    return sum((i + 1) * ord(c) for i, c in enumerate(s))


# ---------------------------------------------------------------------------
# TPC-H-like tables
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
VOCAB = ("a the spark line column order small sort fast value scan hash "
         "slow group batch agg filter query big key window row part table "
         "stream merge data join vector customer").split()
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def _pick(rng, values: list[str], n: int) -> list[str]:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)
                                            ].tolist()


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def orders_table(seed: int, n: int, n_cust: int,
                 first_key: int = 0) -> pa.Table:
    r = _rng(seed, f"orders{first_key}")
    days = r.integers(0, 2404, n)  # 1995-01-01 .. 2001-08-01
    return pa.table({
        "o_orderkey": np.arange(first_key, first_key + n, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n),
        "o_totalprice": _money(r, n, 1000, 500_000),
        "o_orderdate": pa.array(EPOCH_1995 + days * DAY_US,
                                pa.timestamp("us")),
        "o_orderpriority": _pick(r, PRIORITIES, n),
    })


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Row counts follow TPC-H's per-sf ratios (lineitem = 6M x sf)."""
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_line = max(10, int(6_000_000 * sf))
    n_evt = max(10, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_emb = max(100, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust)})

    r = _rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, n_supp, -999.99, 9999.99)})

    r = _rng(seed, "part")
    adj = _pick(r, PART_ADJ, n_part)
    noun = _pick(r, PART_NOUN, n_part)
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": _pick(r, PART_TYPES, n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(
            900 + (np.arange(n_part) % 1000) / 10.0, 2)})

    out["orders"] = orders_table(seed, n_ord, n_cust)
    odate = out["orders"].column("o_orderdate").to_numpy()

    r = _rng(seed, "lineitem")
    okey = r.integers(0, n_ord, n_line)
    out["lineitem"] = pa.table({
        "l_orderkey": okey.astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, n_line, 900, 105_000),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(r, ["F", "O"], n_line),
        "l_shipdate": pa.array(
            odate[okey] + r.integers(1, 121, n_line) * DAY_US,
            pa.timestamp("us"))})

    r = _rng(seed, "events")
    ts = np.sort(r.integers(0, 30 * DAY_US, n_evt))
    out["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(EPOCH_2024 + ts, pa.timestamp("us")),
        "user_id": r.integers(0, max(10, n_cust // 10), n_evt
                              ).astype(np.int64),
        "event_type": _pick(r, EVENT_TYPES, n_evt),
        "value": _money(r, n_evt, 0, 200),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)]})

    r = _rng(seed, "documents")
    texts = []
    for i in range(n_doc):
        if i > 10 and r.random() < 0.08:
            # near-duplicate of an earlier document: one word swapped,
            # so the dedup and substring kernels have real matches
            words = texts[int(r.integers(0, i))].split()
            words[int(r.integers(0, len(words)))] = VOCAB[
                int(r.integers(0, len(VOCAB)))]
        else:
            words = _pick(r, VOCAB, int(r.integers(8, 90)))
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(r, LANGS, n_doc),
        "source": [f"src{i}" for i in r.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    r = _rng(seed, "embeddings")
    centers = r.normal(0, 1, (10, 64))
    label = r.integers(0, 10, n_emb)
    vec = centers[label] + r.normal(0, 0.7, (n_emb, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": label.astype(np.int32)})
    return out
