"""Streaming operators over the events stream.

The reference's incremental mechanism is the batch target-exists skip (F5,
``gfw_pixetl/pipes/pipe.py:90-109``). Structured Streaming generalizes it:
a file source with ``availableNow`` processes exactly the new manifest
drops, watermarked event-time windows handle late data, and the same
aggregations (A2-A5) run incrementally.
"""

from __future__ import annotations

import contextlib
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@contextlib.contextmanager
def stream_shuffle_partitions(spark: SparkSession):
    """Pin ``spark.sql.shuffle.partitions`` for the duration of ONE
    drained stream, then restore it.

    Stateful streaming disables AQE, so the static shuffle-partition
    number is verbatim the number of state-store instances each
    micro-batch loads, snapshots and commits. The rollup state here is
    dimension-sized (event types x hourly windows — thousands of keys,
    not events), so 32 state stores are pure per-batch overhead:
    measured 32 -> 8 halves every availableNow drain at sf0.1 while the
    SCAN parallelism (file-source splits) is unaffected. The count is
    sized to state volume, not core count: it stays at 8 rather than
    tracking SPARK_GRAFT_CPUS, because state, unlike input, does not
    grow with the executor count.
    """
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def hourly_rollup_stream(
    spark: SparkSession, events_path: str, watermark: str = "2 hours"
) -> DataFrame:
    """readStream -> watermark -> tumbling-window rollup (append-capable)."""
    schema = spark.read.parquet(events_path).schema
    # the file-stream source needs a directory; glob-filter to the table
    base = events_path.rsplit("/", 1)[0]
    fname = events_path.rsplit("/", 1)[1]
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", fname)
        .parquet(base)
    )
    stream = _normalize_ts(stream)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("bucket"), "event_type", "n", "sum_value"
        )
    )


def run_hourly_rollup_once(spark: SparkSession, events_path: str) -> DataFrame:
    """Drain the stream with availableNow into a memory sink and return the
    final table — deterministic because availableNow processes all input.
    """
    name = f"hourly_rollup_{uuid.uuid4().hex[:8]}"
    with stream_shuffle_partitions(spark):
        q = (
            hourly_rollup_stream(spark, events_path)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def _normalize_ts(stream: DataFrame) -> DataFrame:
    """Normalize the event-time column to plain TIMESTAMP regardless of how
    the producer wrote it: TIMESTAMP(NANOS) arrives as long (nanosAsLong),
    TIMESTAMP(isAdjustedToUTC=false) as TIMESTAMP_NTZ (which refuses numeric
    casts). Session timezone is pinned UTC, so NTZ -> TIMESTAMP is exact.
    """
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _event_stream(spark: SparkSession, events_path: str) -> DataFrame:
    schema = spark.read.parquet(events_path).schema
    base, fname = events_path.rsplit("/", 1)
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", fname)
        .parquet(base)
    )
    return _normalize_ts(stream)


def sessionize_stream(
    spark: SparkSession,
    events_path: str,
    gap: str = "30 minutes",
    watermark: str = "4 hours",
) -> DataFrame:
    """Stateful streaming sessionization via ``session_window`` — Spark's
    native gap-session state machine (the streaming twin of the batch
    window-function sessionizer, harness q25). State per (user, open
    session) is bounded by the watermark; sessions merge as late events
    arrive within the gap.
    """
    stream = _event_stream(spark, events_path)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(
            F.session_window(F.col("ts"), gap).alias("sw"), F.col("user_id")
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            (F.col("sw.end").cast("double") - F.col("sw.start").cast("double")
             - 1800.0).alias("duration_sec"),
            "n_events",
        )
    )


def run_sessionize_once(spark: SparkSession, events_path: str) -> DataFrame:
    """Drain the sessionizer with availableNow; deterministic final state."""
    name = f"sessionize_{uuid.uuid4().hex[:8]}"
    with stream_shuffle_partitions(spark):
        q = (
            sessionize_stream(spark, events_path)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def stream_exact_dedup(spark: SparkSession, docs_path: str) -> DataFrame:
    """Stateful streaming exact-dedup: the digest state store drops
    repeats across micro-batches — the streaming twin of batch q26.
    Unbounded state by design (dedup keys live forever); a production
    deployment would add ``withWatermark`` + a digest TTL column if the
    stream is truly endless.
    """
    schema = spark.read.parquet(docs_path).schema
    base, fname = docs_path.rsplit("/", 1)
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", fname)
        .parquet(base)
    )
    return (
        stream.select(F.md5(F.col("text")).alias("digest"))
        .dropDuplicates(["digest"])
    )


def run_stream_dedup_once(spark: SparkSession, docs_path: str) -> DataFrame:
    """Drain the streaming dedup with availableNow; the surviving digest
    set is deterministic (first-arrival races only affect WHICH duplicate
    survives, and we emit only the digest)."""
    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    with stream_shuffle_partitions(spark):
        q = (
            stream_exact_dedup(spark, docs_path)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def sessionize_with_state(
    spark: SparkSession, events_path: str, gap_sec: float = 1800.0
) -> DataFrame:
    """Custom stateful sessionization via ``applyInPandasWithState`` —
    the escape hatch for stateful semantics ``session_window`` cannot
    express (here: emit CLOSED sessions only, keeping the open session
    in explicit per-user state).

    Determinism contract: draining a static table with ``availableNow``
    delivers each user's full history to one stateful group call, so the
    emitted set — every session except each user's final (still-open)
    one — is deterministic and batch-SQL-checkable (harness q60). On a
    live stream, emission timing follows arrival order, as with any
    stateful operator.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = _event_stream(spark, events_path)
    ev = stream.select(
        "user_id", F.col("ts").cast("double").alias("ts_sec")
    )

    out_schema = (
        "user_id long, session_start double, duration_sec double, "
        "n_events long"
    )
    state_schema = "start double, last double, n long"

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = None, None, 0
        closed = []
        for pdf in pdfs:
            for ts in pdf["ts_sec"].sort_values():
                ts = float(ts)
                if start is None:
                    start, last, n = ts, ts, 1
                elif ts - last > gap_sec:
                    closed.append((user_id, start, last - start, n))
                    start, last, n = ts, ts, 1
                else:
                    last = ts
                    n += 1
        if start is not None:
            state.update((start, last, n))
        yield pd.DataFrame(
            closed,
            columns=["user_id", "session_start", "duration_sec", "n_events"],
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def run_sessionize_with_state_once(
    spark: SparkSession, events_path: str
) -> DataFrame:
    name = f"sessionize_state_{uuid.uuid4().hex[:8]}"
    with stream_shuffle_partitions(spark):
        q = (
            sessionize_with_state(spark, events_path)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def view_purchase_stream_join(
    spark: SparkSession,
    events_path: str,
    horizon: str = "24 hours",
    watermark: str = "2 days",
) -> DataFrame:
    """Stream-stream interval join: each view joined to the same user's
    purchases within ``horizon`` — the attribution join, run with both
    sides unbounded. Watermarks on both sides + the time-range predicate
    bound the join state: a buffered view can be dropped once the
    purchase-side watermark passes view_ts + horizon, so state is
    O(traffic within the horizon), never O(stream length). Inner join in
    append mode emits each matched pair exactly once.
    """
    s = _event_stream(spark, events_path)
    views = (
        s.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    purchases = (
        s.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return views.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts")
           <= F.col("view_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select("view_id", "purchase_id", "user_id", "view_ts", "purchase_ts")


def run_view_purchase_join_once(
    spark: SparkSession, events_path: str
) -> DataFrame:
    """Drain the stream-stream join with availableNow (deterministic:
    inner interval joins emit every matched pair regardless of batch
    boundaries)."""
    name = f"ssjoin_{uuid.uuid4().hex[:8]}"
    with stream_shuffle_partitions(spark):
        q = (
            view_purchase_stream_join(spark, events_path)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def sliding_rollup_stream(
    spark: SparkSession,
    events_path: str,
    length: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding (overlapping) event-time windows: every event lands in
    length/slide windows (4 here) — the moving-average shape tumbling
    windows can't express. State per (window, type) is watermark-bounded
    as usual; emitted rows carry the window start as the bucket key."""
    stream = _event_stream(spark, events_path)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", length, slide).alias("win"), F.col("event_type")
        )
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("bucket"), "event_type", "n")
    )


def run_sliding_rollup_once(spark: SparkSession, events_path: str) -> DataFrame:
    name = f"sliding_{uuid.uuid4().hex[:8]}"
    with stream_shuffle_partitions(spark):
        q = (
            sliding_rollup_stream(spark, events_path)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def enriched_rollup_stream(
    spark: SparkSession, events_path: str, dim: DataFrame
) -> DataFrame:
    """Stream-static enrichment: the event stream joins a broadcast
    static dimension (the lookup/enrichment shape every streaming ETL
    has — Structured Streaming plans stream-static equi-joins without
    state, re-resolving the static side per micro-batch), then rolls up
    per (segment, event_type)."""
    stream = _event_stream(spark, events_path)
    return (
        stream.join(F.broadcast(dim), stream.user_id == dim.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.avg("value").alias("avg_value"),
        )
        .select(
            "c_mktsegment", "event_type", "n",
            F.round("avg_value", 6).alias("avg_value"),
        )
    )


def run_enriched_rollup_once(
    spark: SparkSession, events_path: str, dim: DataFrame
) -> DataFrame:
    name = f"enriched_rollup_{uuid.uuid4().hex[:8]}"
    with stream_shuffle_partitions(spark):
        q = (
            enriched_rollup_stream(spark, events_path, dim)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def stream_chunk_dedup(spark: SparkSession, docs_path: str) -> DataFrame:
    """Streaming ingest -> fixed-stride chunking -> stateful chunk-level
    exact dedup: the incremental corpus-prep pipeline (documents arrive
    continuously; only never-seen chunk digests survive). Chunking is a
    stateless explode (chunk_documents works unchanged on a stream);
    dedup state is the chunk-digest store. Emits (digest, chunk_len).
    """
    from ..functions.text import chunk_documents

    schema = spark.read.parquet(docs_path).schema
    base, fname = docs_path.rsplit("/", 1)
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", fname)
        .parquet(base)
    )
    chunks = chunk_documents(stream, size=200, overlap=40)
    return (
        chunks.select(
            F.md5(F.col("chunk_text")).alias("digest"),
            F.col("chunk_len"),
        )
        .dropDuplicates(["digest"])
    )


def run_stream_chunk_dedup_once(
    spark: SparkSession, docs_path: str
) -> DataFrame:
    """Drain with availableNow: the surviving digest set (and each
    digest's length, a function of the digest's text) is deterministic."""
    name = f"chunk_dedup_{uuid.uuid4().hex[:8]}"
    with stream_shuffle_partitions(spark):
        q = (
            stream_chunk_dedup(spark, docs_path)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def view_purchase_left_outer(
    spark: SparkSession,
    feed_dir: str,
    schema,
    horizon: str = "24 hours",
    watermark: str = "30 minutes",
) -> DataFrame:
    """LEFT OUTER stream-stream join: every view emits — matched views
    as (view, purchase) pairs exactly like the inner join (q84), and
    views with NO purchase inside ``horizon`` as NULL-padded rows once
    the global watermark passes ``view_ts + horizon`` and their state
    is evicted. This is the semantics the inner join can't express:
    "which impressions never converted" as a STREAM. State stays
    watermark-bounded exactly as in the inner case; the NULL emission
    is the state-cleanup path (Spark's no-data batches fire it).
    """
    s = _normalize_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{feed_dir}/drop_*")
    )
    views = (
        s.filter(F.col("event_type") == "view")
        .select(F.col("event_id").alias("view_id"), F.col("user_id"),
                F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", watermark)
    )
    purchases = (
        s.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", watermark)
    )
    return views.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts")
           <= F.col("view_ts") + F.expr(f"INTERVAL {horizon}")),
        "left_outer",
    ).select("view_id", "user_id", "view_ts", "purchase_id", "purchase_ts")


def run_view_purchase_left_outer_once(
    spark: SparkSession, feed_dir: str, schema
) -> DataFrame:
    """Drain the left-outer join with availableNow over a time-ordered
    multi-file feed whose LAST drop is a far-future watermark sentinel
    (one unmatchable view + one unmatchable purchase): after the
    sentinel batch the global watermark is past every real view's
    expiry, so the unmatched set is exactly "real views with no
    purchase in the horizon" — deterministic regardless of how earlier
    batches interleave. Sentinel rows themselves never emit (nothing
    ever advances the watermark past THEM)."""
    name = f"ssouter_{uuid.uuid4().hex[:8]}"
    # right-size the state store for the drain: join state shuffles at
    # spark.sql.shuffle.partitions FIXED at query start — 8 partitions
    # cut per-micro-batch task overhead ~4x on this feed (the knob a
    # production deployment sizes to stream volume, not table volume)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            view_purchase_left_outer(spark, feed_dir, schema)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def late_data_rollup(
    spark: SparkSession,
    feed_dir: str,
    schema,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling-window rollup in APPEND mode — the configuration where
    the watermark actually DROPS late data (complete mode keeps all
    state, q39): a window emits exactly once when the watermark passes
    its end, and rows arriving for an already-finalized window are
    discarded on input. Paired with a batch-ordered feed this makes
    the dropped-late set deterministic (q265)."""
    s = _normalize_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{feed_dir}/drop_*")
    )
    return (
        s.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("bucket"), "event_type", "n")
    )


def run_late_data_rollup_once(
    spark: SparkSession, feed_dir: str, schema
) -> DataFrame:
    """Drain the append-mode rollup over a feed ordered NEWER-HALF
    FIRST, then the older half (now late), then a far-future sentinel:
    batch 0 sets the watermark to max(ts) - delay, batch 1's rows only
    count where their window is still live (end > watermark), and the
    sentinel batch finalizes every real window so append emits each
    exactly once. The sentinel's own window never finalizes and so
    never appears."""
    name = f"latedrop_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            late_data_rollup(spark, feed_dir, schema)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)
