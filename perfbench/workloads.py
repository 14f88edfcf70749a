"""The three benchmark workloads.

Each workload is closed loop with one client: an op starts when the
previous one has finished.  A workload builds its fixtures in
:meth:`setup`, hands out the ops of its warm-up pass and of each timed
pass (:meth:`warmup_ops`, :meth:`pass_ops`), and checks outputs
outside the timed part of each op (``Op.check``).  :meth:`instrument`
wraps the package functions the workload exercises so the traced run
can record spans around them.

- :class:`NightlyDag` -- ``build_warehouse_dag(validate=True)`` with
  every optional input, one ``run_all`` per consecutive month.
- :class:`QueryMix` -- a fixed list of registry queries, each forced
  through the noop sink, checked against the DuckDB oracles.
- :class:`LakehouseRW` -- one versioned table; a fixed script
  interleaves commits and reads, every read checked against a model of
  each committed version that the benchmark keeps itself, optionally
  followed by a few registry queries (a :class:`QueryMix`).
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import os
import shutil
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen
from spans import Tracer

class CheckFailed(AssertionError):
    """An op's output disagreed with the benchmark's expectation."""


@dataclass
class Op:
    name: str
    kind: str
    run: Callable[[], object]
    check: Callable[[object], None] | None = None
    prepare: Callable[[], None] | None = None


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files)


def land(tables: dict[str, pa.Table], root: str) -> dict[str, str]:
    """Write each table as one parquet file under ``root``."""
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    paths = {}
    for name, t in tables.items():
        paths[name] = os.path.join(root, f"{name}.parquet")
        pq.write_table(t, paths[name])
    return paths


# ---------------------------------------------------------------------------
# nightly_dag
# ---------------------------------------------------------------------------

JOB_LAYERS = {"esgi_to_raw": "pipelines.ingest",
              "validate_raw_electricity": "pipelines.gate",
              "electricity_decarb": "pipelines.staging"}
TRANSFORMS = ["esgi_to_raw", "electricity_decarb", "scope_overview",
              "source_status", "decarb_path", "import_actual_elect",
              "next_year_transfer_suggest"]
WRITERS = ["append", "overwrite", "replace_range", "replace_keys",
           "delete_keys"]


class NightlyDag:
    name = "nightly_dag"

    first_run = dt.date(2024, 1, 1)

    def __init__(self, spark, work: str, seed: int, scale: int = 3,
                 poison: bool = False) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.scale, self.poison = scale, poison
        self.results: list[dict[str, str]] = []
        self.notes: list[str] = []

    def setup(self) -> None:
        from esg_decarbonization_data_integration_and_data_pipline_spark.pipelines.warehouse_dag import (
            build_warehouse_dag,
        )

        tables = gen.esg_sources(self.seed, self.scale, self.first_run)
        if self.poison:
            tables["esgi_indicators"] = poison_feed(
                tables["esgi_indicators"])
        paths = land(tables, os.path.join(self.work, "inputs"))
        # declared schemas, as a catalog would give them: inferring each
        # one costs a Spark job per input and that is not the DAG's work
        sources = {k: self.spark.read.schema(input_schema(tables[k]))
                   .parquet(p) for k, p in paths.items()}
        self.warehouse = os.path.join(self.work, "warehouse")
        shutil.rmtree(self.warehouse, ignore_errors=True)
        self.reg = build_warehouse_dag(self.warehouse, sources,
                                       base_year=self.first_run.year - 1,
                                       validate=True)

    def run_date(self, p: int) -> dt.date:
        return gen.add_months(self.first_run, p)

    def nightly(self, run_date: dt.date) -> Op:
        def run():
            return self.reg.run_all(self.spark, run_date)

        def check(result: dict[str, str]) -> None:
            self.results.append(result)
            bad = {k: v for k, v in result.items() if v != "ok"}
            if set(result) != set(self.reg.names()) or bad:
                raise CheckFailed(f"run_all {run_date}: {bad}")

        return Op(f"nightly@{run_date:%Y-%m}", "nightly", run, check)

    def warmup_ops(self) -> list[Op]:
        """The first month's nightly, then a checked re-run of it: the
        re-run must leave every app.db table row-identical (the
        pipelines stamp no wall-clock time)."""
        first = self.nightly(self.run_date(0))
        before: dict = {}

        def check(result):
            first.check(result)
            after = self.app_tables()
            diff = sorted(t for t in set(before) | set(after)
                          if before.get(t, (0, 0))[1]
                          != after.get(t, (0, 0))[1])
            if diff:
                raise CheckFailed(f"re-run changed app tables {diff}")
            # rows are compared by column name; a changed column order
            # is reported, not failed (see notes in the report)
            self.notes += [f"re-run reordered the columns of app.{t}: "
                           f"{before[t][0]} -> {after[t][0]}"
                           for t in sorted(before)
                           if before[t][0] != after[t][0]]

        rerun = Op(first.name, first.kind, first.run, check,
                   prepare=lambda: before.update(self.app_tables()))
        return [first, rerun]

    def pass_ops(self, p: int) -> list[Op]:
        """One nightly per pass, each on the month after the last."""
        return [self.nightly(self.run_date(p + 1))]

    def app_tables(self) -> dict[str, tuple[list[str], list[tuple]]]:
        """Each app.db table's column order and its sorted rows, the
        row values taken in column-name order.  Read with pyarrow, so
        the check runs no Spark jobs."""
        root = os.path.join(self.warehouse, "app.db")
        out = {}
        for t in sorted(os.listdir(root)) if os.path.isdir(root) else ():
            tbl = pq.read_table(os.path.join(root, t))
            rows = tbl.select(sorted(tbl.column_names)).to_pylist()
            out[t] = (tbl.column_names,
                      sorted(tuple(r.values()) for r in rows))
        return out

    def stored_ratio(self) -> float:
        """Bytes under the warehouse per byte of the parquet files a
        reader of its tables would read."""
        live = 0
        for layer in ("raw.db", "staging.db", "app.db"):
            root = os.path.join(self.warehouse, layer)
            for t in os.listdir(root):
                files = ds.dataset(os.path.join(root, t), format="parquet",
                                   partitioning="hive").files
                live += sum(os.path.getsize(f) for f in files)
        return dir_bytes(self.warehouse) / live

    def instrument(self, tracer: Tracer, counters: dict) -> None:
        from esg_decarbonization_data_integration_and_data_pipline_spark.io import writers
        from esg_decarbonization_data_integration_and_data_pipline_spark.pipelines import (
            meter_groups, run_all, warehouse_dag,
        )

        tracer.wrap(run_all.JobRegistry, "run_all", "pipelines.dag",
                    name="pipelines.dag.run_all")
        for name in self.reg.names():
            tracer.wrap(self.reg[name], "run",
                        JOB_LAYERS.get(name, "pipelines.app"),
                        name=f"pipelines.job.{name}")
        for fn in TRANSFORMS:
            tracer.wrap(warehouse_dag, fn, "pipelines.transform")
        tracer.wrap(meter_groups, "packaged_accounts",
                    "pipelines.transform")

        def written(span, args, kwargs, result):
            if span.attrs["parent_layer"] == "io.writers":
                return  # the outer writer call counts the files
            path = args[1]
            n = b = 0
            for d, _, files in os.walk(path):
                for f in files:
                    full = os.path.join(d, f)
                    if f.endswith(".parquet") and \
                            os.path.getmtime(full) >= span.epoch:
                        n += 1
                        b += os.path.getsize(full)
            counters["io.writers.files_written"] += n
            counters["io.writers.bytes_written"] += b

        for fn in WRITERS:
            tracer.wrap(writers, fn, "io.writers",
                        name=f"io.writers.write.{fn}", after=written)
        tracer.wrap(writers, "read_table", "io.writers",
                    name="io.writers.read.read_table")

    def deps(self) -> dict[str, list[str]]:
        """Job name -> the jobs it depends on."""
        return {n: self.reg[n].depends_on for n in self.reg.names()}


def input_schema(table: pa.Table):
    """The Spark schema Spark would infer for ``table`` landed as
    parquet (pyarrow writes naive timestamps as TIMESTAMP_NTZ)."""
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(table.schema, prefer_timestamp_ntz=True)


def poison_feed(esgi: pa.Table) -> pa.Table:
    """One negative meter reading: the validate gate must stop it."""
    bad = esgi.slice(0, 1).to_pylist()[0]
    # an unmapped plant lands on a site of its own, so the negative
    # reading is that site-month's whole total
    bad.update(data_name="總用電度數", plant="UNMAPPED-P1",
               data_value="-4", performance_goalsid=-1)
    return pa.concat_tables([esgi, pa.Table.from_pylist([bad],
                                                       esgi.schema)])


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

QUERIES = [
    # warehouse analytics
    "pricing_summary", "ytm_running_sum", "rollup_region_nation",
    "asof_latest_order_at_event",
    # curation
    "text_quality", "dedup_minhash_verified", "similarity_topk",
    "exact_substring_spans_docs",
]


def load_canon_rows(root: str):
    """The order-insensitive row canonicalisation of the repository's
    correctness gate (tools/check_correctness.py)."""
    spec = importlib.util.spec_from_file_location(
        "check_correctness",
        os.path.join(root, "tools", "check_correctness.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon_rows


class QueryMix:
    name = "query_mix"

    notes = ()

    def __init__(self, spark, work: str, seed: int, sf: float,
                 root: str, names=QUERIES) -> None:
        self.spark, self.work, self.seed, self.sf = spark, work, seed, sf
        self.root, self.names = root, list(names)
        self.tracer = Tracer()

    def setup(self) -> None:
        import duckdb

        from esg_decarbonization_data_integration_and_data_pipline_spark.plans.queries import REGISTRY
        from esg_decarbonization_data_integration_and_data_pipline_spark.tables import TABLE_NAMES

        self.registry = REGISTRY
        self.sf_dir = os.path.join(self.work, "sf")
        land(gen.tpch_tables(self.seed, self.sf), self.sf_dir)
        self.duck = duckdb.connect()
        for t in TABLE_NAMES:
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                              f"'{self.sf_dir}/{t}.parquet'")
        self.canon_rows = load_canon_rows(self.root)

    def close(self) -> None:
        self.duck.close()

    def _build(self, q: str):
        with self.tracer.span("plans.build." + q, "plans"):
            return self.registry[q].fn(self.spark, self.sf_dir)

    def query(self, q: str) -> Op:
        def run():
            df = self._build(q)
            with self.tracer.span("engine.noop_sink", "engine.execute"):
                df.write.format("noop").mode("overwrite").save()

        return Op(q, "query", run)

    def checked_query(self, q: str) -> Op:
        """The warm-up face: collect the result and compare it with the
        query's DuckDB oracle, order-insensitively."""
        def run():
            return self._build(q).toPandas()

        def check(got: pd.DataFrame) -> None:
            oracle = self.registry[q].oracle
            if oracle is None:
                if len(got) == 0:
                    raise CheckFailed(f"{q}: no rows")
                return
            want = self.duck.execute(oracle).fetchdf()
            if sorted(got.columns) != sorted(want.columns):
                raise CheckFailed(f"{q}: columns {sorted(got.columns)} "
                                  f"!= {sorted(want.columns)}")
            if self.canon_rows(got) != self.canon_rows(want):
                raise CheckFailed(f"{q}: {len(got)} rows differ from the "
                                  f"oracle's {len(want)}")

        return Op(q, "query", run, check)

    def warmup_ops(self) -> list[Op]:
        return [self.checked_query(q) for q in self.names]

    def pass_ops(self, p: int) -> list[Op]:
        return [self.query(q) for q in self.names]

    def stored_ratio(self) -> None:
        return None

    def instrument(self, tracer: Tracer, counters: dict) -> None:
        self.tracer = tracer


# ---------------------------------------------------------------------------
# lakehouse_rw
# ---------------------------------------------------------------------------

KEY = "o_orderkey"
PART = "o_year"
COLS = ["o_custkey", "o_orderdate", KEY, "o_orderpriority", "o_orderstatus",
        "o_totalprice", PART]


def canon(df: pd.DataFrame, sort_by: list[str]) -> pd.DataFrame:
    """Sorted, index-free frame with timestamps as epoch micros, so a
    Spark result and a model frame compare with ``equals``."""
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].values.astype("datetime64[us]").astype("int64")
        elif c == PART or c == "__version":
            out[c] = out[c].astype("int64")
    return out.sort_values(sort_by, kind="stable").reset_index(drop=True)


def orders_batch(seed: int, first_key: int, n: int) -> pd.DataFrame:
    df = gen.orders_table(seed, n, n_cust=15_000,
                          first_key=first_key).to_pandas()
    df["o_orderdate"] = df["o_orderdate"].astype("datetime64[us]")
    df[PART] = df["o_orderdate"].dt.year.astype("int32")
    return df


class LakehouseRW:
    """Per pass: append, read_current, read_where, replace_partitions,
    read_version (time travel), merge_version (upsert), read_changes,
    delete_keys_dv, read_versions, a filtered format() read through
    the versioned_table DataSource, and maybe_compact; then the ops of
    ``queries``, if given."""

    name = "lakehouse_rw"
    notes = ()

    def __init__(self, spark, work: str, seed: int, rows: int,
                 queries: QueryMix | None = None) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.queries = queries
        # per pass: an append of 5% of the rows, an upsert of 1.5% and
        # 0.5% new, a delete of 0.5% (enough deletion vectors that
        # maybe_compact fires on every pass)
        self.rows, self.batch, self.small = rows, rows // 20, rows // 200
        self.rng = np.random.default_rng([seed, 7])
        self.tracer = Tracer()

    def setup(self) -> None:
        from esg_decarbonization_data_integration_and_data_pipline_spark.io import versioned
        from esg_decarbonization_data_integration_and_data_pipline_spark.sources import versioned_source

        self.V = versioned
        versioned_source.register(self.spark)
        self.table = os.path.join(self.work, "orders_table")
        shutil.rmtree(self.table, ignore_errors=True)
        base = orders_batch(self.seed, 0, self.rows)
        self.next_key = self.rows
        v = self.V.write_version(self._df(base), self.table,
                                 partition_by=[PART],
                                 stats_columns=[KEY])
        self.model = {v: canon(base, [KEY])}
        self.order = [v]
        if self.queries is not None:
            self.queries.setup()

    def close(self) -> None:
        if self.queries is not None:
            self.queries.close()

    # -- model helpers ---------------------------------------------------
    def _df(self, pdf: pd.DataFrame):
        """The batch as a one-partition DataFrame in the table's types
        (model frames hold timestamps as epoch micros)."""
        pdf = pdf[COLS].copy()
        if not pd.api.types.is_datetime64_any_dtype(pdf["o_orderdate"]):
            pdf["o_orderdate"] = pd.to_datetime(pdf["o_orderdate"],
                                                unit="us")
        pdf["o_orderdate"] = pdf["o_orderdate"].astype("datetime64[us]")
        pdf[PART] = pdf[PART].astype("int32")
        return self.spark.createDataFrame(pdf).coalesce(1)

    def _cur(self) -> pd.DataFrame:
        return self.model[self.order[-1]]

    def _commit(self, v: int | None, frame: pd.DataFrame) -> None:
        if v is None or v in self.model:
            raise CheckFailed(f"commit returned version {v}")
        self.model[v] = canon(frame, [KEY])
        self.order.append(v)

    def _same(self, what: str, got: pd.DataFrame, want: pd.DataFrame,
              sort_by: list[str]) -> None:
        got = canon(got, sort_by)
        want = canon(want, sort_by)
        if not got.equals(want):
            raise CheckFailed(f"{what}: {len(got)} rows read, model has "
                              f"{len(want)}")

    def _collect(self, df) -> pd.DataFrame:
        with self.tracer.span("engine.collect", "engine.execute"):
            return df.toPandas()

    # -- ops -------------------------------------------------------------
    def _write(self, name: str, make, commit, apply) -> Op:
        """A commit op: ``make()`` builds the batch (untimed),
        ``commit(batch_df)`` is timed, ``apply(model, batch)`` gives
        the new model state checked against the version returned."""
        st: dict = {}

        def prepare():
            b = st["batch"] = make()
            if b is None:
                st["df"] = None
            elif set(COLS) <= set(b.columns):
                st["df"] = self._df(b)
            else:  # a key list
                st["df"] = self.spark.createDataFrame(b)

        def run():
            return commit(st)

        def check(v):
            self._commit(v, apply(self._cur(), st["batch"]))

        return Op(name, "write", run, check, prepare)

    def _read(self, name: str, read, want) -> Op:
        st: dict = {}

        def prepare():
            st["want"] = want()

        def check(got):
            self._same(name, got, st["want"][0], st["want"][1])

        return Op(name, "read", read, check, prepare)

    def pass_ops(self, p: int) -> list[Op]:
        return self.table_ops(p) + (
            self.queries.pass_ops(p) if self.queries else [])

    def warmup_ops(self) -> list[Op]:
        return self.table_ops(-1) + (
            self.queries.warmup_ops() if self.queries else [])

    def table_ops(self, p: int) -> list[Op]:
        V, spark, t = self.V, self.spark, self.table
        rng = self.rng

        def key_range():
            keys = self._cur()[KEY].to_numpy()
            lo = int(np.quantile(keys, rng.uniform(0, 0.9)))
            return lo, lo + max(1, self.rows // 20)

        def make_append():
            batch = orders_batch(self.seed + 1 + p, self.next_key,
                                 self.batch)
            self.next_key += self.batch
            return batch

        def make_replace():
            cur = self._cur()
            year = int(rng.choice(sorted(cur[PART].unique())))
            rows = cur[cur[PART] == year]
            rows = rows[rng.random(len(rows)) > 0.1].copy()
            rows["o_totalprice"] = rows["o_totalprice"] + 1.0
            return rows

        def make_delete():
            keys = self._cur()[KEY].to_numpy()
            return pd.DataFrame({KEY: rng.choice(keys, self.small,
                                                 replace=False)})

        def make_merge():
            cur = self._cur()
            upd = cur.iloc[rng.choice(len(cur), 3 * self.small,
                                      replace=False)].copy()
            upd["o_orderstatus"] = "F"
            upd["o_totalprice"] = upd["o_totalprice"] * 2
            new = canon(orders_batch(self.seed + 1000 + p,
                                     self.next_key, self.small), [KEY])
            self.next_key += self.small
            return pd.concat([upd, new], ignore_index=True)

        def without(cur, keys):
            return cur[~cur[KEY].isin(keys)]

        rng_lo_hi: dict = {}

        def want_range(tag):
            def want():
                lo, hi = rng_lo_hi[tag] = key_range()
                cur = self._cur()
                return cur[(cur[KEY] >= lo) & (cur[KEY] <= hi)], [KEY]
            return want

        travel: dict = {}

        def want_version():
            travel["n"] = self.order[max(0, len(self.order) - 4)]
            return self.model[travel["n"]], [KEY]

        changes: dict = {}

        def want_changes():
            a, b = self.order[-3], self.order[-1]
            changes["r"] = (a, b)
            return model_changes(self.model[a], self.model[b]), \
                ["_change_type", KEY]

        multi: dict = {}

        def want_versions():
            vs = multi["vs"] = self.order[-3:]
            frames = [self.model[v].assign(__version=v) for v in vs]
            return pd.concat(frames), ["__version", KEY]

        def read_format():
            lo, hi = rng_lo_hi["f"]
            with self.tracer.span("sources.datasource.read",
                                  "sources.datasource"):
                df = (spark.read.format("versioned_table")
                      .option("path", t).option("pushdown", "true")
                      .load()
                      .filter(f"{KEY} >= {lo} AND {KEY} <= {hi}"))
                return df.toPandas()

        def compact(st):
            # the pass's delete leaves 0.5% of the rows marked deleted,
            # above the 0.1% threshold, so this fires on every pass and
            # re-lays the merge's flat files out by partition: the next
            # pass's replace_partitions needs a fully partitioned table
            return V.maybe_compact(spark, t, max_dv_fraction=0.001,
                                   partition_by=[PART],
                                   stats_columns=[KEY])

        return [
            self._write(
                "append_version", make_append,
                lambda st: V.append_version(
                    st["df"], t, partition_by=[PART], stats_columns=[KEY]),
                lambda cur, b: pd.concat([cur, canon(b, [KEY])])),
            self._read(
                "read_current",
                lambda: self._collect(V.read_current(spark, t)),
                lambda: (self._cur(), [KEY])),
            self._read(
                "read_where",
                lambda: self._collect(V.read_where(
                    spark, t, KEY, *rng_lo_hi["r"])),
                want_range("r")),
            self._write(
                "replace_partitions", make_replace,
                lambda st: V.replace_partitions(
                    spark, t, st["df"], partition_by=[PART],
                    stats_columns=[KEY]),
                lambda cur, b: pd.concat([
                    cur[cur[PART] != int(b[PART].iloc[0])],
                    canon(b, [KEY])])),
            self._read(
                "read_version",
                lambda: self._collect(V.read_version(spark, t,
                                                     travel["n"])),
                want_version),
            self._write(
                "merge_version", make_merge,
                lambda st: V.merge_version(spark, t, st["df"], KEY),
                lambda cur, b: pd.concat([without(cur, b[KEY]),
                                          canon(b, [KEY])])),
            self._read(
                "read_changes",
                lambda: self._collect(V.read_changes(spark, t,
                                                     *changes["r"])),
                want_changes),
            self._write(
                "delete_keys_dv", make_delete,
                lambda st: V.delete_keys_dv(spark, t, st["df"], KEY),
                lambda cur, b: without(cur, b[KEY])),
            self._read(
                "read_versions",
                lambda: self._collect(V.read_versions(spark, t,
                                                      multi["vs"])),
                want_versions),
            self._read("datasource_read", read_format, want_range("f")),
            self._write("maybe_compact", lambda: None, compact,
                        lambda cur, b: cur),
        ]

    def stored_ratio(self) -> float:
        live = self.V.describe_table(self.table)["bytes"]
        return dir_bytes(self.table) / live

    def instrument(self, tracer: Tracer, counters: dict) -> None:
        V = self.V
        self.tracer = tracer
        if self.queries is not None:
            self.queries.instrument(tracer, counters)
        for fn in ("append_version", "merge_version", "delete_keys_dv",
                   "replace_partitions"):
            tracer.wrap(V, fn, "io.versioned",
                        name=f"io.versioned.commit.{fn}")
        tracer.wrap(V, "maybe_compact", "io.versioned",
                    name="io.versioned.compact.maybe_compact")

        def files(span, args, kwargs, df):
            n = len(df.inputFiles())
            counters["io.versioned.reads"] += 1
            counters["io.versioned.files_read"] += n
            if span.name.endswith("read_where"):
                counters["io.versioned.range_files_read"] += n
                counters["io.versioned.range_files_total"] += \
                    V.describe_table(args[1])["n_files"]

        for fn in ("read_current", "read_version", "read_versions",
                   "read_changes", "read_where"):
            tracer.wrap(V, fn, "io.versioned",
                        name=f"io.versioned.plan.{fn}", after=files)


def model_changes(old: pd.DataFrame, new: pd.DataFrame) -> pd.DataFrame:
    """Row multiset difference ``new - old`` as inserts and ``old -
    new`` as deletes (the CDF contract of ``read_changes``)."""
    cols = list(old.columns)
    both = old.merge(new, on=cols, how="outer", indicator=True)
    ins = both[both["_merge"] == "right_only"][cols].assign(
        _change_type="insert")
    dels = both[both["_merge"] == "left_only"][cols].assign(
        _change_type="delete")
    return pd.concat([ins, dels], ignore_index=True)
