"""Structured-streaming wiring (SURVEY §2.9 T1–T11, §3.3).

The reference's four monitor *processes* become four streaming queries off
ONE bronze source DataFrame, each with its own checkpoint (T11) — the
orchestrator disappears. Other mappings:

- T1 micro-batch cadence → ``Trigger.processingTime`` (or AvailableNow for
  replay/catch-up);
- T3 offset resume → file-source checkpoints (strictly stronger than the
  reference's in-memory byte offset, which replays from 0 on restart);
- T6 unbounded dedup state → watermark + ``dropDuplicatesWithinWatermark``
  (deliberate divergence: we bound state, the reference leaks);
- T2/A9 backpressure + rates → ``observe`` metrics + StreamingQueryListener;
- T4 delivery → append entities are at-least-once into parquet; keyed
  entities go through the idempotent upsert sink (sinks.py), giving
  effectively-once.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from f1_data_pipeline_spark.ingest import decode
from f1_data_pipeline_spark.ingest.bronze import read_bronze_socket, read_bronze_stream

# Entities whose decode is a pure narrow pipeline (filter/UDF/explode/cast)
# — streamable as-is in append mode.
APPEND_ENTITIES = {
    "car_telemetry": decode.decode_car_telemetry,
    "car_positions": decode.decode_car_positions,
    "weather": decode.decode_weather,
    "driver_positions": decode.decode_driver_positions,
    "timing_laps_raw": decode.decode_timing_laps,
}


def stream_silver(
    spark: SparkSession,
    source_dir: str,
    checkpoint_root: str,
    out_root: str,
    entities: list[str] | None = None,
    trigger: dict | None = None,
):
    """Fan-out: one bronze stream → one parquet-appending query per entity.

    Each query has its own checkpoint (independent progress/restart, exactly
    like the reference's independent monitors, but with exactly-once file
    sink semantics).
    """
    bronze = read_bronze_stream(spark, source_dir)
    trigger = trigger or {"availableNow": True}
    queries = []
    for name in entities or list(APPEND_ENTITIES):
        df = APPEND_ENTITIES[name](bronze)
        q = (
            df.writeStream.format("parquet")
            .option("path", f"{out_root}/{name}")
            .option("checkpointLocation", f"{checkpoint_root}/{name}")
            .trigger(**trigger)
            .start()
        )
        queries.append(q)
    return queries


def stream_silver_from_socket(
    spark: SparkSession,
    host: str,
    port: int,
    checkpoint_root: str,
    out_root: str,
    entities: list[str] | None = None,
    trigger: dict | None = None,
):
    """S1 live-feed fan-out: the same per-entity queries as ``stream_silver``
    but fed from a TCP socket instead of file replay (the reference's live
    SignalR mode, extractor.py:21-58 → main.py's monitor processes).

    Note each query instantiates its own socket source, i.e. its own TCP
    connection — the feed server must serve every subscriber (the reference
    has the same shape: one websocket per extractor process). For a single-
    connection feed, run one query and fan out in ``foreachBatch``.

    .. warning::
        Spark's socket source is NOT fault-tolerant: a restart from the
        checkpoint cannot replay socket offsets, so rows in flight at crash
        time are lost (or, with an at-least-once feed server, duplicated).
        This is a dev/demo source; the production live path is the file/
        Kafka relay (``read_bronze_stream``), whose offsets replay. A
        loud warning is logged when more than one entity is requested,
        because most single-connection feeds serve only the first
        subscriber."""
    trigger = trigger or {"processingTime": "1 second"}
    wanted = entities or list(APPEND_ENTITIES)
    if len(wanted) > 1:
        import logging

        logging.getLogger(__name__).warning(
            "stream_silver_from_socket: %d entities requested -> %d separate "
            "TCP connections to %s:%d; a single-connection feed serves only "
            "the first. Socket offsets do NOT replay from checkpoint "
            "(non-fault-tolerant source) - use read_bronze_stream (file/Kafka "
            "relay) for the production live path.",
            len(wanted), len(wanted), host, port,
        )
    queries = []
    for name in wanted:
        bronze = read_bronze_socket(spark, host, port)
        df = APPEND_ENTITIES[name](bronze)
        q = (
            df.writeStream.format("parquet")
            .option("path", f"{out_root}/{name}")
            .option("checkpointLocation", f"{checkpoint_root}/{name}")
            .trigger(**trigger)
            .start()
        )
        queries.append(q)
    return queries


def stream_race_control(
    spark: SparkSession,
    source_dir: str,
    checkpoint: str,
    out_path: str,
    watermark: str = "10 minutes",
    trigger: dict | None = None,
):
    """A2/T6: cross-batch message dedup with *bounded* state.

    The reference keeps an unbounded ``processed_ids`` set
    (monitor_race_control.py:38); here the watermark on event time bounds
    dedup state, trading unbounded-late duplicates for bounded memory —
    the documented divergence.
    """
    bronze = read_bronze_stream(spark, source_dir)
    rc = decode.decode_race_control_stream(bronze)
    deduped = rc.withWatermark("timestamp", watermark).dropDuplicatesWithinWatermark(
        ["msg_id"]
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def stream_weather_windows(
    spark: SparkSession,
    source_dir: str,
    checkpoint: str,
    window: str = "1 minute",
    watermark: str = "5 minutes",
    sink: Callable[[DataFrame, int], None] | None = None,
    trigger: dict | None = None,
    output_mode: str = "append",
):
    """T7: event-time tumbling-window aggregation with late-data handling —
    the streaming twin of q_t1/f1_weather_10min.

    ``append`` emits each window once, when the watermark passes it (the
    production mode: downstream sees immutable rows). ``complete`` re-emits
    the full window table every batch (dashboard/replay mode — a bounded
    replay never advances the watermark past its last window, so append
    would hold the tail windows open)."""
    bronze = read_bronze_stream(spark, source_dir)
    w = decode.decode_weather(bronze)
    agg = (
        w.withWatermark("timestamp", watermark)
        .groupBy(F.window("timestamp", window).alias("win"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("air_temp"), 2).alias("avg_air"),
            F.round(F.avg("track_temp"), 2).alias("avg_track"),
        )
        .select(F.col("win.start").alias("w"), "n", "avg_air", "avg_track")
    )
    writer = agg.writeStream.outputMode(output_mode).option(
        "checkpointLocation", checkpoint
    )
    if sink is not None:
        writer = writer.foreachBatch(sink)
    else:
        writer = writer.format("memory").queryName("weather_windows")
    return writer.trigger(**(trigger or {"availableNow": True})).start()


def stream_keyed_upsert(
    spark: SparkSession,
    source_dir: str,
    checkpoint: str,
    entity: str,
    upsert: Callable[[DataFrame, int], None],
    trigger: dict | None = None,
):
    """K4/K5/K6 path for keyed entities (sessions, drivers, lap_data):
    decode inside ``foreachBatch`` with the batch decoders (they use windows
    /merges that need batch semantics), then hand the typed frame to the
    idempotent upsert sink. T4: at-least-once delivery × idempotent merge =
    effectively-once."""
    bronze = read_bronze_stream(spark, source_dir)
    builder = decode.SILVER_BUILDERS[entity]

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        # restore true arrival order within the micro-batch (the frame is
        # batch here, so monotonically_increasing_id is legal again)
        ordered = batch_df.drop("ordinal").withColumn(
            "ordinal", F.monotonically_increasing_id()
        )
        upsert(builder(ordered), epoch_id)

    return (
        bronze.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def stream_enriched_telemetry(
    spark: SparkSession,
    source_dir: str,
    checkpoint: str,
    drivers_static: DataFrame,
    out_path: str,
    trigger: dict | None = None,
):
    """Stream-static join: enrich streaming telemetry with the drivers
    dimension — the Spark replacement for the reference's cross-batch
    ``drivers_cache`` dict (transformer.py:14-16, SURVEY §1.1: key-value
    caches → broadcast/stream-static join). The static side is re-read per
    micro-batch (picks up dimension updates) and broadcast, so the stream
    side never shuffles.

    ``drivers_static`` must be a *materialized* table read (parquet/Delta):
    a lazy batch plan is re-analyzed inside the streaming query, and
    batch-only expressions in it (e.g. the ordinal's
    monotonically_increasing_id from the batch dedup) are rejected there."""
    bronze = read_bronze_stream(spark, source_dir)
    tel = decode.decode_car_telemetry(bronze)
    dim = F.broadcast(
        drivers_static.select(
            F.col("driver_number").cast("string").alias("driver_number"),
            "name",
            "team",
        )
    )
    enriched = tel.join(dim, "driver_number", "left")
    return (
        enriched.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def stream_quarantine(
    spark: SparkSession,
    source_dir: str,
    checkpoint: str,
    out_path: str,
    trigger: dict | None = None,
):
    """T10 dead-letter path: corrupt wire lines (failed literal-eval) are
    persisted with their ordinal for offline inspection/replay instead of
    being silently dropped — the durable form of the reference's
    log-and-skip (transformer.py:65-68)."""
    bronze = read_bronze_stream(spark, source_dir)
    bad = bronze.where(F.col("corrupt_line").isNotNull()).select(
        "ordinal", "corrupt_line"
    )
    return (
        bad.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def stop_all(queries, timeout: int | None = None) -> None:
    """T9 graceful shutdown: stop every query, draining in-flight batches
    (query.stop() is graceful in Spark 3.0+; the reference drains its loop
    and closes the pool on SIGTERM, main_supabase.py:196-221)."""
    for q in queries:
        if timeout is not None:
            q.awaitTermination(timeout)
        if q.isActive:
            q.stop()


def stream_driver_sessions(
    spark: SparkSession,
    source_dir: str,
    checkpoint: str,
    gap: str = "30 seconds",
    sink: Callable[[DataFrame, int], None] | None = None,
    trigger: dict | None = None,
    output_mode: str = "complete",
):
    """Native streaming sessionization: ``F.session_window`` merges
    per-driver telemetry into gap-bounded sessions with watermark-bounded
    state — the streaming twin of the batch ``operators.joins.sessionize``
    (same gap rule, cross-validated in tests)."""
    bronze = read_bronze_stream(spark, source_dir)
    tel = decode.decode_car_telemetry(bronze)
    agg = (
        tel.withWatermark("timestamp", "10 minutes")
        .groupBy(F.session_window("timestamp", gap).alias("sw"), F.col("driver_number"))
        .agg(F.count("*").alias("n_samples"))
        .select(
            "driver_number",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_samples",
        )
    )
    writer = agg.writeStream.outputMode(output_mode).option(
        "checkpointLocation", checkpoint
    )
    if sink is not None:
        writer = writer.foreachBatch(sink)
    else:
        writer = writer.format("memory").queryName("driver_sessions")
    return writer.trigger(**(trigger or {"availableNow": True})).start()


def stream_running_driver_stats(
    spark: SparkSession,
    source_dir: str,
    checkpoint: str,
    sink: Callable[[DataFrame, int], None],
    trigger: dict | None = None,
):
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-driver lap statistics (laps seen, best lap so far) maintained across
    micro-batches — the pattern for any cross-batch accumulator Spark lacks
    a builtin for (SURVEY §2.10's extension surface).

    State is one tiny tuple per driver (bounded by key cardinality, unlike
    the reference's unbounded caches); each batch emits the refreshed stats
    for drivers that changed."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    bronze = read_bronze_stream(spark, source_dir)
    laps = decode.decode_timing_laps(bronze).select(
        "driver_number", "lap_number", "lap_time"
    )

    def update(key, pdfs, state: GroupState):
        laps_seen, best = state.get if state.exists else (0, None)
        for pdf in pdfs:
            laps_seen += len(pdf)
            batch_best = pd.to_numeric(pdf["lap_time"], errors="coerce").min()
            if pd.notna(batch_best):
                best = float(batch_best) if best is None else min(best, float(batch_best))
        state.update((laps_seen, best))
        yield pd.DataFrame(
            {"driver_number": [key[0]], "laps_seen": [laps_seen], "best_lap": [best]}
        )

    stats = laps.groupBy("driver_number").applyInPandasWithState(
        update,
        outputStructType="driver_number int, laps_seen long, best_lap double",
        stateStructType="laps_seen long, best_lap double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        stats.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


class RateObserver:
    """T2/A9: throughput + slow-batch warning via StreamingQueryListener."""

    def __init__(self, slow_batch_ms: float = 500.0):
        self.slow_batch_ms = slow_batch_ms
        self.progress: list[dict] = []

    def attach(self, spark: SparkSession) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        observer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                rec = {
                    "batchId": p.batchId,
                    "numInputRows": p.numInputRows,
                    "durationMs": dict(p.durationMs),
                    "slow": sum(p.durationMs.values()) > observer.slow_batch_ms,
                }
                observer.progress.append(rec)

            def onQueryTerminated(self, event):
                pass

            def onQueryIdle(self, event):
                pass

        spark.streams.addListener(_L())


def stream_heavy_hitter_candidates(
    values: DataFrame,
    col: str,
    capacity: int,
    buckets: int = 8,
) -> DataFrame:
    """Streaming Misra–Gries: maintain bounded heavy-hitter candidate
    summaries over an UNBOUNDED value stream — the streaming twin of
    ``analytics.misra_gries_candidates`` (same decrement-merge, same
    completeness guarantee), as an ``applyInPandasWithState`` custom
    stateful operator.

    Parallelism without breaking the guarantee: values hash into
    ``buckets`` substreams (a value lives in exactly ONE bucket), each
    bucket folds its substream into an O(capacity) counter carried across
    micro-batches. Since a value's full frequency is confined to its
    bucket and the bucket stream is a subset of the whole, any value with
    global frequency > N/(capacity+1) survives in its bucket's summary —
    the MG bound transfers substream-by-substream. State is
    buckets × capacity entries TOTAL, regardless of stream length or
    distinct-value count (the property the reference's unbounded seen-set
    caches lack). Each micro-batch emits the refreshed summaries of the
    buckets it touched (output mode "update"); the consumer recounts
    candidates exactly over storage when it wants true top-k, as in
    ``analytics.heavy_hitters``."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    keyed = values.select(
        F.col(col).cast("string").alias("v"),
        (F.pmod(F.xxhash64(F.col(col).cast("string")), F.lit(buckets))).alias("b"),
    ).where(F.col("v").isNotNull())

    def update(key, pdfs, state: GroupState):
        if state.exists:
            ks, ns = state.get
            counter = dict(zip(ks, ns))
        else:
            counter = {}
        for pdf in pdfs:
            for v, c in pdf["v"].value_counts().items():
                counter[v] = counter.get(v, 0) + int(c)
                if len(counter) > capacity:
                    d = min(counter.values())
                    counter = {k2: n - d for k2, n in counter.items() if n - d > 0}
        state.update((list(counter), [int(x) for x in counter.values()]))
        yield pd.DataFrame(
            {
                "bucket": [int(key[0])] * len(counter),
                "value": list(counter),
                "lower_bound": [int(x) for x in counter.values()],
            }
        )

    return keyed.groupBy("b").applyInPandasWithState(
        update,
        outputStructType="bucket long, value string, lower_bound long",
        stateStructType="ks array<string>, ns array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_snapshot_append(
    stream: DataFrame,
    table_dir: str,
    checkpoint: str,
    txn_app_id: str | None = None,
    stats_cols: list[str] | None = None,
    trigger: dict | None = None,
    evolve_schema: bool = False,
    cluster_by: list[str] | None = None,
    cluster_files: int | None = None,
):
    """EXACTLY-ONCE streaming append into a snapshot table — the ingest
    sink for append-shaped streams (event logs, training-data shards,
    and the output half of lakehouse-to-lakehouse replication when the
    input half is the ``snapshotfeed`` source).

    Takes any STREAMING DataFrame (so it composes with every source this
    repo ships — file streams, the socket/`f1wire` feed, `snapshotfeed`)
    and commits each micro-batch through ``storage.snapshot_append``:
    O(batch rows) per trigger, prior files carried by reference, one
    atomic version per batch.

    Exactly once, not just effectively once: `foreachBatch` re-delivers
    a batch after a crash between the table commit and the checkpoint
    advance, and an APPEND is not idempotent by content the way a keyed
    upsert is — replaying it would duplicate rows. The sink therefore
    stamps ``{txn: {app_id: batch_id}}`` into the commit properties
    ATOMICALLY with the data (Delta's txnAppId/txnVersion idiom) and
    skips any batch whose id is already at-or-below the stamp. Every
    data-changing write path carries the ``txn`` map forward
    (``snaplog.next_record``), so interleaved deletes/upserts/merges by
    other writers cannot erase the stamp; ``snapshot_write`` full
    replace deliberately resets it. Each append commits under a CAS
    (``expected_version``) so a concurrent writer makes the batch fail
    and replay against fresh state rather than double-commit.

    ``txn_app_id`` defaults to the checkpoint path — one logical writer
    per checkpoint, the engine's own identity unit. MULTIPLE append
    streams (distinct app_ids) may share one table: appends compose (no
    lost update is possible — every loser's rows still land), so a lost
    CAS race re-reads the stamp and version and retries the batch
    in-sink up to ``conflict_retries`` times instead of failing the
    stream; the per-app stamp keeps each stream's own replay
    exactly-once throughout. Returns the ``StreamingQuery``."""
    from f1_data_pipeline_spark.storage import (
        SnapshotConflictError,
        snapshot_append,
        snapshot_properties,
        snapshot_version,
    )

    app_id = txn_app_id or checkpoint.rstrip("/")
    conflict_retries = 5

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.sparkSession
        for attempt in range(conflict_retries + 1):
            cur = snapshot_version(b, table_dir)
            if cur >= 1:
                done = (snapshot_properties(b, table_dir).get("txn") or {}).get(
                    app_id
                )
                if done is not None and int(done) >= batch_id:
                    return  # crash-replayed batch: already committed, skip
            if batch_df.isEmpty():
                return
            try:
                snapshot_append(
                    batch_df,
                    table_dir,
                    stats_cols=stats_cols,
                    properties={"txn": {app_id: batch_id}},
                    expected_version=cur if cur >= 1 else None,
                    evolve_schema=evolve_schema,
                    cluster_by=cluster_by,
                    cluster_files=cluster_files,
                )
                return
            except SnapshotConflictError:
                # a concurrent writer committed between our read and our
                # commit: safe to retry an APPEND after re-reading the
                # stamp (it may even prove our own replay already landed)
                if attempt >= conflict_retries:
                    raise
                import time

                time.sleep(0.05 * (attempt + 1))

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
