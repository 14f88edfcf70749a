"""Metadata-only parallelism rescue for kernel-heavy stages.

Local pipelines hit a pathology real clusters share: a SMALL input
(single parquet file, or a join/filter output AQE coalesced down to
one partition) feeds an expensive per-row stage — an Arrow Python
kernel, or an interpreted higher-order n-gram explode — and the
whole stage runs serially. ``ensure_parallelism`` redistributes such
inputs by key BEFORE the expensive pass, deciding from metadata only
(input file list + optimizer size statistic — never ``df.rdd``,
which forces physical planning on every call).

At real scale this is a no-op twice over: multi-file datasets
already split to >= cores partitions, and anything over
``SMALL_INPUT_BYTES`` is left to parquet row-group splitting rather
than paying a raw-text shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

# ceiling below which redistributing raw text before the kernels is
# trivially cheap; anything larger is left to parquet file splitting
SMALL_INPUT_BYTES = 256 << 20

# estimated plan bytes of kernel input worth one Arrow task: below
# this a partition's kernel work is ~fraction of a second, so extra
# partitions only add task/shuffle waves (measured: the sf0.1
# documents table estimates ~250 KB and its whole minhash kernel runs
# in ~0.3 s of Python -- a 32-way repartition wave costs more than it
# saves). Only consulted on the small-input rescue paths; real
# multi-file corpora never reach it.
KERNEL_PARTITION_BYTES = 512 << 10

# per-partition byte target for interpreted higher-order-function
# n-gram stages: each input byte fans out into ~n gram-string bytes
# built OUTSIDE whole-stage codegen, so useful parallelism arrives at
# ~8x smaller inputs than the Arrow kernels (measured at sf0.1:
# boilerplate 3-grams 4.0 s on 1 partition vs 0.8 s on 32).  8 KB,
# not 64 KB: the gram/rolling-window kernels run ~100+ ms of
# interpreted/Arrow work per 64 KB of text while a task wave costs
# ~10 ms, so the old target left 7/8 of the cores idle on small
# corpora (r15 interleaved floors, 64K -> 8K: exact_substring_spans
# 1.29 -> 0.95 s, text_fingerprint 1.34 -> 0.92, decontaminate_spans
# 3.90 -> 3.65, exact_substring_dedup neutral).  Scale behavior is
# unchanged: the rescue is skipped entirely for multi-file inputs or
# > SMALL_INPUT_BYTES estimates.
NGRAM_PARTITION_BYTES = 8 << 10


def plan_size_bytes(df: DataFrame) -> int | None:
    """Metadata-only size estimate of a frame -- the same optimizer
    statistic broadcast planning uses (file-footer sizes for parquet
    scans); None when the frame has no JVM handle to ask (a Spark
    Connect frame).  Any error of the planner itself raises."""
    try:
        jdf = df._jdf
    except AttributeError:
        return None
    return int(jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def ensure_parallelism(df: DataFrame, key: Column,
                       per_partition_bytes: int = KERNEL_PARTITION_BYTES,
                       ) -> DataFrame:
    """Rescue small inputs from a serial expensive stage: when the
    frame has fewer file splits than the cluster's default
    parallelism (or none at all -- a join/aggregate output that AQE
    typically coalesces to ~1 partition at small sizes),
    redistribute by ``key`` before the kernels.

    The partition target is SIZE-AWARE, not blindly
    defaultParallelism: a shuffle wave plus N tiny downstream tasks
    costs more wall-clock than it saves when the whole kernel input
    is a few hundred KB. ~``per_partition_bytes`` of estimated input
    per partition, capped at the cluster parallelism.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    # a plan with no file scan lists no files (n_files == 0 below)
    n_files = len(df.inputFiles())
    if n_files >= target:
        return df
    size = plan_size_bytes(df)
    if n_files == 0:
        # derived/cached source (join/filter/agg output): its actual
        # partition count is unknowable without forcing planning, but
        # at these sizes AQE has typically coalesced it to ~1
        # partition, so a cheap key shuffle is worth it; above the
        # small-input ceiling leave the existing distribution alone.
        # Post-filter/post-kernel size estimates UNDERestimate badly
        # (selectivity guesses, not measured bytes -- observed 104 KB
        # for ~5 MB of text), so don't size partitions from them:
        # take the full target. NOTE this explicit-N repartition is
        # deliberate and NOT AQE-coalescible -- a byte-based advisory
        # would re-merge these partitions (the per-byte cost of the
        # downstream HOF/Python stage is what the bytes can't see);
        # the worst case is ~target near-empty tasks on a truly tiny
        # frame, a bounded scheduling cost the 4-5x serial-stage
        # savings dominate.
        if size is not None and size > SMALL_INPUT_BYTES:
            return df
        return df.repartition(target, key)
    if size is None:
        return df.repartition(target, key)
    if size > SMALL_INPUT_BYTES:
        return df
    desired = min(target, max(1, -(-size // per_partition_bytes)))
    if desired <= n_files:
        # the existing file splits already give >= the useful
        # parallelism; a shuffle would only add a stage wave
        return df
    return df.repartition(desired, key)


def local_literal_df(spark, rows, schema: str) -> DataFrame:
    """A small local DataFrame as a PURE-JVM literal plan (explode of
    a struct array over ``range(1)``) -- for control-plane frames
    (band/target/budget/limit/centroid tables) that get broadcast
    against real data.

    ``spark.createDataFrame(python_list)`` builds an RDD-backed scan:
    every evaluation round-trips through Python workers, spread over
    defaultParallelism near-empty partitions -- measured ~1.5 s/task
    cold inside merge_version's metadata join, dwarfing the actual
    work.  A literal plan evaluates JVM-side, in one partition, for
    free, and re-evaluates for free wherever the plan is reused.

    ``schema`` is a DDL string (``"k bigint, v string"``); values are
    cast per-field, ``None`` included, and Python lists become array
    literals.  Control-plane sized ONLY: every row is inlined into
    the logical plan, so thousands of rows belong in
    ``createDataFrame`` / a parquet side table instead."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    st = StructType.fromDDL(schema)
    if not rows:
        return spark.createDataFrame([], st)
    structs = [
        F.struct(*[F.lit(v).cast(f.dataType).alias(f.name)
                   for v, f in zip(row, st.fields)])
        for row in rows]
    return (spark.range(1)
                 .select(F.explode(F.array(*structs)).alias("__r"))
                 .select("__r.*"))
