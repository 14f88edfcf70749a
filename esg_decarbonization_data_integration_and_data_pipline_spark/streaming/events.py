"""Streaming jobs over the events table (SURVEY.md §2.11).

The reference is pure batch (no streaming anywhere in the repo);
this module is the engine's incremental-processing surface: the same
YTM/rollup-style aggregations expressed as micro-batch jobs with
event-time windows, watermarked late-data handling, and in-stream
dedup. ``events_tumbling_agg`` in plans/queries_data.py is the exact
batch analog of ``tumbling_value_agg`` -- same grouping, same
results on a static read -- which is how the tests pin streaming
semantics to the oracle-checked batch plan.

Scale notes: tumbling-window agg + watermark is fully partial-agg
friendly (state per (window, event_type) only); dedup state is
bounded by the watermark horizon. File source here; Kafka in
production is the same plan with a different ``format``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
    TimestampNTZType,
)

from esg_decarbonization_data_integration_and_data_pipline_spark.tables import normalize_event_ts

# fallback stream schema for a directory with no files yet (a file
# stream must start with SOME schema; this matches the current
# driver layout -- once files land, restart with the sniffed schema
# if the writer turns out to use int64 nanos instead)
DEFAULT_EVENTS_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampNTZType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])


def read_event_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source event stream sharing the batch reader's adaptive
    ``ts`` normalization (tables.normalize_event_ts).

    File streams need an explicit schema, and the physical layout of
    ``ts`` varies by writer (int64 nanos vs timestamp[us]); sniff the
    ACTUAL schema with a one-file batch read of the same path -- a
    footer-only metadata operation, no data scan -- then branch the
    same way the batch path does. An empty (not-yet-populated)
    directory cannot be sniffed; fall back to DEFAULT_EVENTS_SCHEMA
    so the stream can still start before the first file lands.  Any
    other read error (an unreadable file, a failed unit sniff)
    raises.
    Watermarks want TIMESTAMP (local-tz), not NTZ; the session runs
    UTC (session.py) so wall times equal the batch path.
    """
    from pyspark.errors import AnalysisException
    from pyspark.sql.types import IntegerType, LongType

    from esg_decarbonization_data_integration_and_data_pipline_spark.tables import sniff_epoch_unit

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    epoch_expr = None
    try:
        batch = spark.read.parquet(path)
        loaded_schema = batch.schema
        # a streaming frame cannot run the one-row unit sniff itself;
        # pin the unit here from the same files the stream will read
        if isinstance(loaded_schema["ts"].dataType, (LongType, IntegerType)):
            epoch_expr = sniff_epoch_unit(batch)
    except AnalysisException as e:  # no files yet: nothing to sniff
        if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
            raise
        loaded_schema = DEFAULT_EVENTS_SCHEMA
    reader = spark.readStream.schema(loaded_schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_event_ts(reader.parquet(path), ntz=False,
                              epoch_expr=epoch_expr)


def tumbling_value_agg(events: DataFrame, window: str = "10 minutes",
                       watermark: str = "30 minutes",
                       slide: str | None = None) -> DataFrame:
    """Watermarked windowed count+sum per event_type -- the streaming
    twin of the batch events_tumbling_agg / events_sliding_agg
    queries. ``slide=None`` is tumbling; a slide shorter than the
    window gives overlapping windows (state per (window, type) either
    way, dropped past the watermark)."""
    win = (F.window("ts", window) if slide is None
           else F.window("ts", window, slide))
    return (events
            .withWatermark("ts", watermark)
            .groupBy(win.getField("start").alias("window_start"),
                     "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 4).alias("total_value")))


def dedup_events(events: DataFrame,
                 watermark: str = "30 minutes") -> DataFrame:
    """In-stream exact dedup by event_id within the watermark horizon
    (state is dropped once the watermark passes -- bounded memory)."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id", "ts"])


def sessionize_stateful(events: DataFrame, gap_minutes: int = 30,
                        watermark: str = "30 minutes") -> DataFrame:
    """Custom stateful operator: per-user gap-based sessionization via
    ``applyInPandasWithState`` -- the streaming twin of the batch
    events_sessionize query (same 30-min-gap semantics).

    State per user_id = (open session start, last ts, count, sum).
    A micro-batch extends the open session or emits closed ones when
    the gap is exceeded. Timeout policy is NoTimeout so replays are
    deterministic (open sessions stay in state); a 24/7 deployment
    would switch to ProcessingTimeTimeout to flush idle users --
    the empty-invocation branch below already handles that path.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            # timeout / empty invocation: close the open session
            if state.exists:
                start, last, cnt, total = state.get
                state.remove()
                yield pd.DataFrame(
                    [(user_id, start, last, cnt, float(total))],
                    columns=["user_id", "session_start_us", "session_end_us",
                             "n_events", "total_value"])
            return
        rows = pd.concat(chunks)
        pairs = sorted(zip(
            (int(t.value) // 1000 for t in pd.to_datetime(rows["ts"])),
            rows["value"].astype(float)))
        if state.exists:
            start, last, cnt, total = state.get
        else:
            start, last, cnt, total = pairs[0][0], pairs[0][0], 0, 0.0
        closed = []
        for t, v in pairs:
            if t - last > gap_us:
                closed.append((user_id, start, last, cnt, float(total)))
                start, cnt, total = t, 0, 0.0
            # a late event (t outside [start, last], admitted by the
            # watermark) joins the open session; start tracks min(ts)
            # and last tracks max(ts) symmetrically, keeping parity
            # with the batch events_sessionize analog (min/max per
            # session) that the tests pin streaming semantics to
            start = min(start, t)
            last = max(last, t)
            cnt += 1
            total += v
        state.update((start, last, cnt, float(total)))
        if closed:
            yield pd.DataFrame(closed, columns=[
                "user_id", "session_start_us", "session_end_us",
                "n_events", "total_value"])

    return (events
            .withWatermark("ts", watermark)
            .groupBy("user_id")
            .applyInPandasWithState(
                update,
                outputStructType=("user_id bigint, session_start_us bigint, "
                                  "session_end_us bigint, n_events bigint, "
                                  "total_value double"),
                stateStructType=("start bigint, last bigint, cnt bigint, "
                                 "total double"),
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))


def attribute_clicks(views: DataFrame, clicks: DataFrame,
                     horizon: str = "10 minutes",
                     watermark: str = "30 minutes",
                     join_type: str = "inner") -> DataFrame:
    """Stream-stream event-time interval join: attribute each click
    to the same user's views in the preceding ``horizon`` (the
    ad-attribution / funnel-stitching shape; the reference has no
    streaming tier, so this extends §2.11 beyond its batch scope).

    Both inputs carry their own watermark and the join condition
    bounds click_ts to [view_ts, view_ts + horizon], so Spark's
    symmetric-hash join state is evictable: a view older than
    ``watermark + horizon`` past the max seen event time can never
    match a future click and is dropped -- state is bounded by the
    horizon, not the stream length, which is what makes this run
    forever on an unbounded feed. ``join_type='left_outer'`` emits
    never-clicked views (null click columns) once the CLICK
    watermark passes their horizon -- note the tail of the stream
    stays in state until later data advances that watermark.

    Works identically on batch frames (withWatermark is a
    documented no-op there), which is how the tests pin the
    streamed result to the batch interval join.

    Output: (view_id, user_id, view_ts, click_id, click_ts,
    click_value).
    """
    v = views.select(F.col("event_id").alias("view_id"),
                     F.col("user_id"),
                     F.col("ts").alias("view_ts")) \
             .withWatermark("view_ts", watermark)
    c = clicks.select(F.col("event_id").alias("click_id"),
                      F.col("user_id").alias("click_user"),
                      F.col("ts").alias("click_ts"),
                      F.col("value").alias("click_value")) \
              .withWatermark("click_ts", watermark)
    cond = ((v["user_id"] == c["click_user"])
            & (c["click_ts"] >= v["view_ts"])
            & (c["click_ts"] <= v["view_ts"] + F.expr(
                f"interval {horizon}")))
    return (v.join(c, cond, join_type)
             .select("view_id", "user_id", "view_ts",
                     "click_id", "click_ts", "click_value"))


def split_event_stream(events: DataFrame,
                       view_type: str = "view",
                       click_type: str = "click") -> tuple[DataFrame,
                                                           DataFrame]:
    """(views, clicks) legs for :func:`attribute_clicks` from one
    event feed -- two narrow filters on the same source (each leg
    re-reads in a file/Kafka stream; the scan is partition-pruned by
    nothing but cheap)."""
    return (events.filter(F.col("event_type") == view_type),
            events.filter(F.col("event_type") == click_type))


def sessionize_native(events: DataFrame, gap: str = "30 minutes",
                      watermark: str = "30 minutes") -> DataFrame:
    """Gap sessionization via Spark's NATIVE ``session_window`` --
    the pure-JVM twin of :func:`sessionize_stateful` (which exists
    to demonstrate the custom applyInPandasWithState surface; this
    is what production should use when the semantics fit a plain
    session aggregate: whole-stage codegen, no Python workers, and
    the state store handles merge/expiry natively).

    Boundary semantics vs the lag-based batch analog
    (events_sessionize): ``session_window`` starts a NEW session
    when the next event lands exactly ``gap`` after the previous
    one (intervals are half-open), while the lag formulation splits
    only on strictly-greater gaps -- a measure-zero difference on
    real-valued timestamps, documented rather than papered over.
    ``session_end_us`` here is last-event-time + gap (the window
    end), not the last event itself.

    Batch frames work too (withWatermark is a no-op there).
    Output: (user_id, session_start_us, session_end_us, n_events,
    total_value) -- epoch-micros bigints per the ts discipline.
    """
    # the window struct inherits ts's type: NTZ on the batch reader,
    # instant TIMESTAMP on the stream (watermarks need it) -- branch
    # the epoch extraction the way tables.normalize_event_ts does, so
    # the emitted micros are tz-independent either way
    ntz = isinstance(events.schema["ts"].dataType, TimestampNTZType)

    def epoch(field: str) -> "F.Column":
        if ntz:
            return F.expr(
                f"timestampdiff(MICROSECOND, "
                f"TIMESTAMP_NTZ '1970-01-01 00:00:00', "
                f"session_window.{field})")
        return F.unix_micros(F.col(f"session_window.{field}"))

    sw = F.session_window("ts", gap)
    return (events.withWatermark("ts", watermark)
            .groupBy("user_id", sw)
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 4).alias("total_value"))
            .select(
                "user_id",
                epoch("start").alias("session_start_us"),
                epoch("end").alias("session_end_us"),
                "n_events", "total_value"))


def run_to_memory(sdf: DataFrame, name: str, mode: str = "complete"):
    """Drain a streaming frame into an in-memory table (tests/dev).
    Returns the query after processing everything available."""
    q = (sdf.writeStream.format("memory").queryName(name)
            .outputMode(mode).trigger(availableNow=True).start())
    q.awaitTermination()
    return q


def stream_upsert(sdf: DataFrame, path: str, keys: list[str],
                  checkpoint: str, query_name: str = "stream_upsert"):
    """Stream -> idempotent keyed warehouse table: every micro-batch
    runs the SAME ``replace_keys`` merge the batch loaders use
    (io/writers.py), so an incremental feed and a nightly reload
    produce byte-identical tables -- the streaming twin of the
    reference's DELETE-slice-then-append policy
    (jobs/source_to_raw/fem_ratio.py:53-57), with exactly-once
    delivery from the checkpoint + the merge's idempotency (a
    replayed batch converges instead of duplicating).

    Returns the started query; callers own awaitTermination.
    """
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.writers import replace_keys

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        replace_keys(batch_df, path, keys=keys)

    return (sdf.writeStream.foreachBatch(upsert)
               .option("checkpointLocation", checkpoint)
               .queryName(query_name)
               .trigger(availableNow=True)
               .start())
