#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with the noop sink (full execution,
no driver-side collect bottleneck) -- the honest way to time a
distributed plan. Each query runs BENCH_SAMPLES (default 3) times
with the cache cleared in between; the recorded per-query number and
the headline total are MEDIANS (single samples swing +/-30% on this
box), with per-query min and raw samples alongside.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd  # module-level: pandas_udf resolves stringized type hints here

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from esg_decarbonization_data_integration_and_data_pipline_spark.session import get_spark  # noqa: E402
from esg_decarbonization_data_integration_and_data_pipline_spark.plans.queries import REGISTRY  # noqa: E402

# The frozen headline set, compared query by query across runs.
HEADLINE = [
    "pricing_summary", "ytm_running_sum", "rollup_region_nation",
    "brand_revenue", "asof_latest_order_at_event", "latest_order_per_customer",
    "unpivot_lineitem_measures", "fill_missing_part_revenue",
    "multi_key_order_lines", "monthly_order_calendar", "text_fingerprint",
    "text_quality", "dedup_minhash_verified", "similarity_topk",
    "similarity_lsh_buckets", "similarity_ivf_topk", "events_tumbling_agg",
    "text_normalize_docs", "decontaminate_spans_docs", "pii_redact_docs",
    "dedup_bloom_incremental", "bm25_retrieval_docs", "data_quality_report",
    "drift_orders_psi", "versioned_table_audit", "drift_ks_summary",
    "purge_erasure_audit", "constraints_history_audit", "ddl_timetravel_audit",
    "bloom_point_lookup_orders", "scd2_customer_history",
    "scd2_asof_fact_join", "clone_divergence_audit", "fsck_report_audit",
    "datasource_timetravel_audit", "datasource_stream_tail_audit",
    "vacuum_retention_audit", "datasource_cdf_audit",
    "datasource_pushdown_audit", "datasource_write_audit",
    "rename_column_audit", "dv_delete_audit", "bpe_encode_docs",
    "partition_pruning_audit", "metadata_aggregates_audit",
    "replace_partitions_audit", "writer_replace_audit", "bpe_tokenize_docs",
    "hidden_partition_audit", "exact_substring_spans_docs",
    "exact_substring_dedup_docs", "zorder_pruning_audit",
    "merge_clauses_audit", "ndv_metadata_audit", "approx_sketches",
    "histogram_quantile_audit",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("decarb-bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM/codegen path once so timings measure the plans,
    # not first-query classloading
    REGISTRY["pricing_summary"].fn(spark, sf_dir).write.format("noop") \
        .mode("overwrite").save()
    # ...and fork the Python/Arrow workers once -- with numpy touched
    # INSIDE the udf, because the kernels import numpy lazily in the
    # worker and a numpy-less warmup leaves ~0.3 s of import cost in
    # the first sampled pandas-UDF query (measured r6). 2x
    # parallelism partitions so every pooled worker gets warmed.
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _warm(s: pd.Series) -> pd.Series:
        import numpy as np

        return pd.Series(np.asarray(s.values, dtype="float64"))

    par = spark.sparkContext.defaultParallelism
    (spark.range(2 * par).repartition(2 * par)
          .withColumn("x", _warm(F.col("id").cast("double")))
          .write.format("noop").mode("overwrite").save())

    names = [n for n in HEADLINE if n in REGISTRY]
    extra = os.environ.get("BENCH_QUERIES")
    subset = bool(extra)
    if extra:
        names = [n for n in extra.split(",") if n in REGISTRY]
    n_samples = max(1, int(os.environ.get("BENCH_SAMPLES", "3")))

    # Pre-build the process-memoized SHARED fixtures in the warmup
    # phase (r16; r15 verdict item 4 -- a declared measurement fix):
    # whichever audit ran first paid the whole cohort's fixture build
    # in its sample 1 (versioned_table_audit's driver samples were
    # [7.6, 3.0, 6.0] -- build cost, not read cost, drowning its
    # median).  Every cold process still pays the build, just outside
    # the per-query timed samples -- the same setup-vs-read split the
    # per-query audit_state builders already apply.  Per-query
    # audit_state mutation phases still land in their own query's
    # sample 1, unchanged.
    _FIXTURE_USERS = {"versioned_table_audit", "purge_erasure_audit",
                      "constraints_history_audit",
                      "ddl_timetravel_audit",
                      "bloom_point_lookup_orders",
                      "clone_divergence_audit", "fsck_report_audit",
                      "dv_delete_audit", "rename_column_audit",
                      "ndv_metadata_audit", "histogram_quantile_audit"}
    from esg_decarbonization_data_integration_and_data_pipline_spark.plans import fixtures as _fx
    if _FIXTURE_USERS & set(names):
        _fx.orders_versioned_fixture(spark, sf_dir)
    if {"scd2_customer_history", "scd2_asof_fact_join"} & set(names):
        _fx.scd2_customer_fixture(spark, sf_dir)

    # n=3 samples per query with the cache cleared in between:
    # BENCH_LOG shows +/-30% single-sample noise on untouched code
    # round over round, so the per-query MEDIAN is the recorded
    # number (min kept alongside as the contention-free floor).
    # clearCache() between samples keeps repeats honest for
    # cache-using plans (they re-run their kernels), while codegen/
    # JIT stays warm -- so sample 1 carries the one-time compile cost
    # and the median reflects the plan's steady-state cost, which is
    # what a long-lived cluster session pays.
    # per-query fault isolation: one broken plan must not erase the
    # timings of every healthy query (the whole point of a benchmark)
    timings: dict[str, float] = {}
    minimums: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    jobs: dict[str, int] = {}
    errors: dict[str, str] = {}
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for name in names:
        runs: list[float] = []
        for i in range(n_samples):
            spark.catalog.clearCache()
            # job-count evidence (r16; r15 verdict item 7): each
            # sample runs under its own job group so the recorded
            # count is machine-checkable, not prose.  The LAST
            # sample's count is recorded -- sample 1 may carry
            # one-time memoized fixture builds.
            group = f"bench:{name}:{i}"
            sc.setJobGroup(group, name)
            t0 = time.time()
            try:
                REGISTRY[name].fn(spark, sf_dir).write.format("noop") \
                    .mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 -- record, continue
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                print(f"bench: {name} FAILED: {errors[name]}",
                      file=sys.stderr)
                break
            runs.append(round(time.time() - t0, 3))
            try:
                jobs[name] = len(tracker.getJobIdsForGroup(group))
            except Exception:  # noqa: BLE001 -- annotation only
                pass
        if not runs or name in errors:
            continue
        runs_sorted = sorted(runs)
        timings[name] = runs_sorted[len(runs_sorted) // 2]
        minimums[name] = runs_sorted[0]
        samples[name] = runs

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    # intra-run sample dispersion: three fresh-session runs of unchanged
    # code spread 8.9% on a 17-query total, so moves within ~10% are noise
    spreads = sorted(
        100.0 * (max(r) - min(r)) / (sorted(r)[len(r) // 2] or 1.0)
        for r in samples.values() if len(r) > 1)
    # the printed ONE-LINE JSON must stay well inside the driver's
    # capture limit -- BENCH_r14's captured output truncated mid-JSON
    # and cost round 15 its whole cross-round PERF comparison (r15
    # verdict item 8).  Raw per-sample lists (~6 KB and growing with
    # the headline set) now live only in the repo-side BENCH_LOG.jsonl
    # line; the printed line keeps medians, mins and job counts.
    # Declared measurement-format fix: no timing or methodology
    # change, keys are only dropped from stdout, never from the log.
    out: dict = {
        # a subset run (BENCH_QUERIES) is not a headline total; a
        # distinct metric name + flag keep trend readers honest
        # (r15 ADVICE)
        "metric": ("headline_queries_subset" if subset
                   else "headline_queries_total"),
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,          # per-query MEDIAN of n samples
        "queries_min": minimums,     # per-query best sample
        "jobs": jobs,                # Spark jobs in the LAST sample
        "sf": sf_val,
        # annotation only (r15): the driver also runs this bench at
        # lower core counts, and a BENCH_LOG line without the core
        # count is not comparable round-over-round.  Stable type
        # (r15 ADVICE): int when numeric, null otherwise.
        "cpus": int(cpus) if str(cpus).isdigit() else None,
    }
    if subset:
        out["subset"] = True
    if spreads:
        out["sample_spread_pct"] = round(spreads[len(spreads) // 2], 1)
    if errors:
        # a failing query drops out of the sum, which would make the
        # headline FASTER than a healthy run -- mark the total
        # incomparable so a broken plan can never read as a perf win
        out["value"] = None
        out["errors"] = errors
    print(json.dumps(out))
    # repo-side perf journal: append per-run timings so regressions
    # are visible across rounds without the driver's bench artifacts.
    # (BENCH_LOG.jsonl, not PROGRESS.jsonl -- the latter is the
    # driver's own heartbeat file.)
    try:
        with open(os.path.join(REPO, "BENCH_LOG.jsonl"), "a") as fh:
            fh.write(json.dumps({"ts": round(time.time()), **out,
                                 "samples": samples}) + "\n")
    except OSError:
        pass  # never let journaling break the bench contract


if __name__ == "__main__":
    main()
