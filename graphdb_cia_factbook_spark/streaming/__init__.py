"""Structured Streaming surface (SURVEY.md §2.10 EXT -- the reference
is batch-only; the driver's ``events`` table mandates a streaming
layer).

Design: every windowed aggregation is written once as a *batch*
DataFrame transform (DuckDB-oracle-checkable, registered in
``queries_streaming``) and runs unchanged on a streaming DataFrame --
the Structured Streaming contract that batch and stream share one
logical plan.  :func:`stream_events` turns a testdata directory into a
file-source stream; tests drive it with ``trigger(availableNow)`` into
a memory sink and assert stream == batch.

Scale notes (100-TB / unbounded):

- watermarks bound state: :func:`with_watermark` + append mode drops
  late rows past the horizon instead of growing state forever;
- session windows use Spark's native ``session_window`` (state-store
  merge) -- the batch twin is the gaps-and-islands SQL the oracle runs;
- streaming dedup keys state by event_id; with a watermark the state
  for old ids is reclaimed (``dropDuplicatesWithinWatermark`` in 4.x);
- stateful per-key running totals use ``applyInPandasWithState``
  (Arrow-batched, executor-side state store).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.relational import davg, dsum
from ..schemas import TESTDATA
from ..sources import parquet_schema

def _events_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """The ``events`` schema AS STORED, read from the parquet footer
    (``sources.parquet_schema``, no Spark job): a file-source stream
    needs a declared schema, and the driver's testdata has shipped
    ``ts`` both as TIMESTAMP(NANOS) (declared as long) and as plain
    micros TIMESTAMP_NTZ across rounds -- hardcoding either silently
    misscales every timestamp when the other shows up."""
    return parquet_schema(spark, f"{sf_dir}/events.parquet")


def stream_events(spark: SparkSession, sf_dir: str,
                  max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over the testdata ``events`` parquet: the
    same rows as the batch table, delivered as a stream, ``ts``
    normalized to a timestamp exactly like ``sources.read_table``
    (nanos-as-long files truncate to micros; micros files pass
    through)."""
    schema = _events_schema(spark, sf_dir)
    reader = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "events.parquet"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    sdf = reader.parquet(sf_dir)
    return _normalize_ts(sdf, schema)


def _normalize_ts(sdf: DataFrame, schema: T.StructType) -> DataFrame:
    """ts -> TIMESTAMP regardless of storage flavor: nanos-as-long
    truncates to micros (integer DIV); TIMESTAMP_NTZ casts (watermarks
    demand LTZ, and the session tz is pinned UTC so the cast is
    value-preserving)."""
    if isinstance(schema["ts"].dataType, T.LongType):
        return sdf.withColumn("ts",
                              F.timestamp_micros(F.expr("ts DIV 1000")))
    if isinstance(schema["ts"].dataType, T.TimestampNTZType):
        return sdf.withColumn("ts", F.col("ts").cast("timestamp"))
    return sdf


def stream_events_dir(spark: SparkSession, src_dir: str,
                      schema_from: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """Stream an arbitrary directory of events-shaped parquet files
    (the multi-micro-batch test harness path: one file per trigger),
    with the same probed-schema ts normalization as
    :func:`stream_events`.  ``schema_from`` is a testdata sf dir whose
    ``events.parquet`` defines the schema."""
    schema = _events_schema(spark, schema_from)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _normalize_ts(reader.parquet(src_dir), schema)


def stream_documents(spark: SparkSession, sf_dir: str,
                     max_files_per_trigger: int | None = None
                     ) -> DataFrame:
    """File-source stream over the testdata ``documents`` parquet --
    the streaming-ingest twin of the batch corpus, for running the
    curation surface (fingerprint dedup, quality gates) as documents
    ARRIVE instead of after a full crawl lands."""
    schema = parquet_schema(spark, f"{sf_dir}/documents.parquet")
    reader = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "documents.parquet"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(sf_dir)


def doc_curation_groups(docs: DataFrame) -> DataFrame:
    """Per-fingerprint curation groups -- batch and streaming run the
    SAME plan (the stream==batch contract): one single-pass projection
    computes fingerprint + token count + quality score (no
    stream-stream self-join, which complete mode forbids), then one
    groupBy maintains dup count, first-seen id, and the canonical
    doc's verdict via min_by."""
    from ..operators.text import fingerprint, quality_metrics
    feats = quality_metrics(
        docs, extra_cols=[fingerprint(F.col("text")).alias("fingerprint")])
    g = (feats.groupBy("fingerprint")
         .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
              F.min("doc_id").alias("first_id"),
              F.min_by("n_tokens", "doc_id").alias("tok_first"),
              F.min_by("quality_score", "doc_id").alias("q_first")))
    return g.select(
        "fingerprint", "n_docs", "first_id",
        F.when(F.col("tok_first") < 15, "too_short")
        .when(F.col("q_first") < 0.45, "low_quality")
        .otherwise("kept").alias("status"))


def with_watermark(events: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """Late-data horizon: rows older than max(ts) - delay are dropped
    and window state below the horizon is finalized + freed."""
    return events.withWatermark("ts", delay)


def tumbling_agg(events: DataFrame, duration: str = "1 hour") -> DataFrame:
    """Tumbling event-time windows per event_type (epoch-aligned --
    identical buckets to DuckDB ``time_bucket``)."""
    return (events
            .groupBy(F.window("ts", duration).alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 dsum("value").alias("total_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "total_value"))


def sliding_agg(events: DataFrame, duration: str = "1 hour",
                slide: str = "30 minutes") -> DataFrame:
    """Sliding windows: each event lands in duration/slide windows."""
    return (events
            .groupBy(F.window("ts", duration, slide).alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 davg("value").alias("avg_value"))
            .select(F.col("w.start").alias("window_start"),
                    "n_events", "avg_value"))


def session_agg(events: DataFrame, gap: str = "10 minutes") -> DataFrame:
    """Session windows per user: events merge while consecutive gaps
    stay under ``gap``; window end = last event + gap (native
    ``session_window`` state merge; batch twin = gaps-and-islands)."""
    return (events
            .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 dsum("value").alias("total_value"))
            .select("user_id", F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "n_events", "total_value"))


def interval_join(events: DataFrame, left_type: str = "click",
                  right_type: str = "purchase",
                  within: str = "30 minutes",
                  watermark: str | None = None) -> DataFrame:
    """Stream-stream interval join (the ad-attribution shape): each
    ``right_type`` event matches every ``left_type`` event of the SAME
    user whose timestamp lies in [right.ts - within, right.ts).

    On a stream this is Spark's canonical stream-stream join: the
    time-bound condition plus a watermark on BOTH sides (pass
    ``watermark``) is what lets the state store evict buffered rows
    once they can no longer match -- without the bound, both sides
    buffer forever.  In batch the same plan is a plain range-condition
    join.  Scale shape: equi-key on user_id carries the shuffle; the
    range predicate is evaluated within the matched key group."""
    lhs = events.where(F.col("event_type") == left_type)
    rhs = events.where(F.col("event_type") == right_type)
    if watermark is not None:
        lhs = lhs.withWatermark("ts", watermark)
        rhs = rhs.withWatermark("ts", watermark)
    lhs = lhs.select(F.col("user_id"),
                     F.col("event_id").alias("left_id"),
                     F.col("ts").alias("left_ts"))
    rhs = rhs.select(F.col("user_id").alias("__ru"),
                     F.col("event_id").alias("right_id"),
                     F.col("ts").alias("right_ts"))
    cond = ((lhs.user_id == rhs.__ru)
            & (F.col("left_ts") >= F.col("right_ts")
               - F.expr(f"INTERVAL {within}"))
            & (F.col("left_ts") < F.col("right_ts")))
    return (lhs.join(rhs, cond)
            .select("user_id", "left_id", "left_ts",
                    "right_id", "right_ts"))


def interval_join_outer(events: DataFrame, left_type: str = "click",
                        right_type: str = "purchase",
                        within: str = "30 minutes",
                        watermark: str | None = None) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every ``left_type``
    event emits -- matched rows as soon as the match arrives, and
    UNMATCHED rows null-padded once the watermark guarantees no
    qualifying ``right_type`` event can still arrive (Spark holds the
    left row in state until then; that delayed null emission is the
    semantic difference from the inner join, and why the outer variant
    REQUIRES watermarks on a stream).  In batch the same plan is a
    plain left join, so the batch twin is directly oracle-checkable.
    The conversion-funnel staple: clicks that did NOT convert within
    the window, in the same pass as the ones that did.

    Operational caveat: the query's global watermark is the MIN across
    both withWatermark nodes, so a left row only null-emits once the
    SLOWER side's event time passes left_ts + within + delay -- the
    freshest clicks stay pending until more clicks arrive, even if
    purchases have long moved on (pinned by the streaming test)."""
    lhs = events.where(F.col("event_type") == left_type)
    rhs = events.where(F.col("event_type") == right_type)
    if watermark is not None:
        lhs = lhs.withWatermark("ts", watermark)
        rhs = rhs.withWatermark("ts", watermark)
    lhs = lhs.select(F.col("user_id"),
                     F.col("event_id").alias("left_id"),
                     F.col("ts").alias("left_ts"))
    rhs = rhs.select(F.col("user_id").alias("__ru"),
                     F.col("event_id").alias("right_id"),
                     F.col("ts").alias("right_ts"))
    cond = ((lhs.user_id == rhs.__ru)
            & (F.col("left_ts") >= F.col("right_ts")
               - F.expr(f"INTERVAL {within}"))
            & (F.col("left_ts") < F.col("right_ts")))
    return (lhs.join(rhs, cond, "left_outer")
            .select("user_id", "left_id", "left_ts",
                    "right_id", "right_ts",
                    F.col("right_id").isNull().alias("unconverted")))


def dedup_events(events: DataFrame) -> DataFrame:
    """Streaming dedup on the event key.  On a stream this keys the
    state store by event_id (bound it with a watermark /
    ``dropDuplicatesWithinWatermark``); projected to the key column so
    batch output is deterministic."""
    return events.select("event_id").dropDuplicates(["event_id"])


# ---------------------------------------------------------------------------
# custom stateful operator (applyInPandasWithState)
# ---------------------------------------------------------------------------

_USER_TOTALS_OUT = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("total_value", T.DoubleType()),
])
_USER_TOTALS_STATE = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("total", T.DoubleType()),
])


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-user event count + value
    total via ``applyInPandasWithState`` -- the engine's template for
    operators Spark lacks natively (per-key state, Arrow batches,
    update-mode emission)."""

    def update(key, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "total_value": [total]})

    return (events.groupBy("user_id").applyInPandasWithState(
        update, _USER_TOTALS_OUT, _USER_TOTALS_STATE, "update",
        GroupStateTimeout.NoTimeout))


def run_to_memory(sdf: DataFrame, name: str, output_mode: str = "complete"):
    """Drive a streaming frame to a memory sink with availableNow (one
    pass over all available files, then stop).  Returns the query;
    results land in table ``name``."""
    q = (sdf.writeStream.format("memory").queryName(name)
         .outputMode(output_mode).trigger(availableNow=True).start())
    q.awaitTermination()
    return q


def dedup_events_within_watermark(events: DataFrame,
                                  delay: str = "30 minutes") -> DataFrame:
    """Streaming dedup with BOUNDED state (Spark 4
    ``dropDuplicatesWithinWatermark``): duplicate event_ids are only
    suppressed while they can still arrive (inside the watermark
    horizon), so the state store evicts old keys instead of growing
    forever -- the production form of streaming dedup."""
    return (events.withWatermark("ts", delay)
            .dropDuplicatesWithinWatermark(["event_id"]))


_PEAK_OUT = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("peak", T.DoubleType()),
])


_PEAK_STATE = T.StructType([T.StructField("peak", T.DoubleType())])


def user_value_peaks(events: DataFrame) -> DataFrame:
    """Custom stateful operator: emit a row whenever a user's running
    max ``value`` increases (per-key ValueState semantics, incremental
    emission, update mode).

    Runs on ``applyInPandasWithState`` -- the stateful-UDF API this
    container supports end to end.  On a Spark 4 cluster with
    ``google.protobuf`` available, the same processor is a mechanical
    port to ``transformWithStateInPandas`` (getValueState("peak") +
    handleInputRows; requires the RocksDB state-store provider) --
    the API surface differs, the state machine here is identical.
    The boundary is documented in COVERAGE.md §streaming."""

    def update(key, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        prev = state.get[0] if state.exists else None
        mx = None
        for pdf in pdfs:
            if len(pdf):
                m = float(pdf["value"].max())
                mx = m if mx is None else max(mx, m)
        if mx is not None and (prev is None or mx > prev):
            state.update((mx,))
            yield pd.DataFrame({"user_id": [key[0]], "peak": [mx]})

    return (events.groupBy("user_id").applyInPandasWithState(
        update, _PEAK_OUT, _PEAK_STATE, "update",
        GroupStateTimeout.NoTimeout))


def concurrency_peaks(events: DataFrame,
                      duration: str = "5 minutes") -> DataFrame:
    """Peak session concurrency per user by SWEEP-LINE: each event
    opens a session [ts, ts + duration); emit a +1 boundary at the
    open and a -1 at the close, order boundaries by (time, delta) --
    so closes precede opens at the same instant, making intervals
    half-open -- and take the running sum's max.

    The per-user max is order-invariant under tie permutations (within
    a +1 run the max is after all of them; within a -1 run it is
    before all of them), so the result is deterministic and
    oracle-checkable even though tied boundaries interleave
    arbitrarily.  This is the batch twin of a stateful
    max-open-sessions stream operator; at scale it is one explode
    (2 rows/event) + one user-partitioned sorted window + one
    user-keyed max -- no self-join over the interval table, which is
    the naive O(n^2) formulation."""
    starts = events.select("user_id", F.col("ts").alias("t"),
                           F.lit(1).alias("delta"))
    ends = events.select(
        "user_id",
        (F.col("ts") + F.expr(f"INTERVAL {duration}")).alias("t"),
        F.lit(-1).alias("delta"))
    w = (Window.partitionBy("user_id").orderBy("t", "delta")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (starts.unionByName(ends)
            .withColumn("open", F.sum("delta").over(w))
            .groupBy("user_id")
            .agg(F.max("open").alias("peak_concurrency")))


def enriched_segment_totals(events: DataFrame,
                            customers: DataFrame) -> DataFrame:
    """STREAM-STATIC enrichment join + rollup: each event joins the
    static customer dimension on user_id (= c_custkey in the
    testdata), then value totals roll up per (market segment, event
    type).

    This is the third join mode of the streaming surface (next to
    stream-stream ``interval_join`` and the windowed aggs): the static
    side is broadcast per micro-batch -- STATELESS under Structured
    Streaming, no watermark and no state store, because only the
    stream side is unbounded.  The aggregate runs in update/complete
    mode exactly like ``tumbling_agg``.  Decimal-exact value sums
    (``dsum``) keep the totals engine-portable."""
    dim = customers.select(F.col("c_custkey").alias("user_id"),
                           "c_mktsegment")
    return (events.join(F.broadcast(dim), "user_id")
            .groupBy("c_mktsegment", "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 dsum(F.col("value")).alias("total_value")))


def sessionize(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Assign explicit SESSION IDS by inactivity gap: a new session
    starts at a user's first event or whenever the gap since their
    previous event exceeds ``gap_seconds``.  Complements
    :func:`session_agg` (which aggregates per session window but never
    exposes an id you can join on): downstream feature pipelines need
    the (user_id, session_seq) key on every event row.

    Classic two-window formulation: lag to detect boundaries, running
    sum of boundary flags to number sessions -- both windows share the
    same (user_id / ts) partitioning and sort, so Catalyst runs them
    in ONE window stage over one shuffle.  Second-granularity integer
    epoch arithmetic keeps the boundary test engine-exact.

    ``ts`` casts through TIMESTAMP before the epoch cast: parquet
    delivers TIMESTAMP_NTZ (Spark 4 infers NTZ by default) which has
    no direct BIGINT cast, and the session tz is pinned UTC so the
    NTZ->LTZ hop is exact (mirrors the oracle's CAST(ts AS
    TIMESTAMP))."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("long")
    prev = F.lag(epoch).over(w)
    boundary = prev.isNull() | (epoch - prev > gap_seconds)
    return (events.select("event_id", "user_id", "ts",
                          boundary.cast("int").alias("__new"))
            .withColumn("session_seq",
                        F.sum("__new").over(
                            w.rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)))
            .drop("__new"))


def foreach_batch_parquet_sink(sdf: DataFrame, path: str,
                               checkpoint: str):
    """Exactly-once-per-batch parquet sink via ``foreachBatch`` +
    IDEMPOTENT writes: each micro-batch lands in its own
    ``__batch_id=N`` partition with dynamic partition overwrite, so a
    replayed batch (restart after a crash between write and commit)
    overwrites its own partition instead of duplicating rows.  This +
    the checkpoint's batch tracking is Spark's standard end-to-end
    exactly-once recipe for non-transactional stores.

    Returns the started query (availableNow trigger); callers
    ``awaitTermination()``."""
    def write_batch(df: DataFrame, batch_id: int) -> None:
        (df.withColumn("__batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("__batch_id").parquet(path))

    return (sdf.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def windowed_topk(events: DataFrame, duration: str = "1 hour",
                  k: int = 3) -> DataFrame:
    """Top-k event types per tumbling window by (decimal-exact) total
    value -- the streaming leaderboard shape.

    Composition: the tumbling aggregate is the streaming-native stage
    (runs incrementally under readStream + watermark); the per-window
    rank runs on CLOSED windows -- in a live deployment it sits in a
    ``foreachBatch`` over the append-mode output where each arriving
    row's window is already final, so the rank never sees a window
    twice.  Batch-mode (here) the two stages fuse into one plan.

    Scale shape: the rank's partition key is the window start, so
    state per window is |event_types| rows -- the window count grows
    with time, not data volume; the shuffle after the windowed
    aggregate is aggregate-sized, never event-sized."""
    agg = tumbling_agg(events, duration)
    w = Window.partitionBy("window_start").orderBy(
        F.desc("total_value"), F.asc("event_type"))
    return (agg.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("window_start", "rank", "event_type",
                    "n_events", "total_value"))


_EWMA_OUT = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_obs", T.LongType()),
    T.StructField("ewma_value", T.DoubleType()),
])

_EWMA_STATE = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("s", T.DoubleType()),
])


def stateful_user_ewma(events: DataFrame,
                       alpha: float = 0.5) -> DataFrame:
    """STREAMING exponential smoothing per user via
    ``applyInPandasWithState``: the state carries (n, smoothed level)
    across micro-batches, each batch folds its rows in (ts, value)
    order -- the incremental twin of ``timeseries.ewma`` (whose batch
    fold it must match exactly when micro-batches arrive in event-time
    order; the stream==batch parity test pins this).

    This is the shape model-serving feature pipelines need: O(1) state
    per key, update-mode emissions, no reprocessing of history."""

    def update(key, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "value"])
            for v in pdf["value"].astype(float):
                s = v if n == 0 else alpha * v + (1.0 - alpha) * s
                n += 1
        state.update((n, s))
        yield pd.DataFrame({"user_id": [key[0]], "n_obs": [n],
                            "ewma_value": [s]})

    return (events.groupBy("user_id").applyInPandasWithState(
        update, _EWMA_OUT, _EWMA_STATE, "update",
        GroupStateTimeout.NoTimeout))
