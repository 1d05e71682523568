"""Bronze layer: wire text file → (ordinal, topic, payload, ts, parsed_at)
DataFrame; ``parsed_at`` is the wall-clock parse time of the line's batch,
the event-time fallback (T5, ``scalars.parse_event_time``).

Sources S2/S3 (SURVEY §2.1). Batch reads the whole file; streaming uses the
file source whose checkpointed offsets strictly strengthen the reference's
in-process byte-offset resume (extractor.py:60-80, T3).

Arrival order: the reference depends on it for first-wins dedup and lap
merge (SURVEY §7.4). ``monotonically_increasing_id`` is ordered within a
partition and partitions follow file-split order for a text source, so the
ordinal reproduces byte order without any shuffle or window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from f1_data_pipeline_spark.functions.udfs import parse_wire_line


def _parse(
    lines: DataFrame, streaming: bool = False, partitions: int | None = None
) -> DataFrame:
    # Batch: monotonically_increasing_id follows file byte order → true
    # arrival ordinal. Streaming forbids it; a content hash gives a
    # deterministic (retry-stable) surrogate id — arrival *order* inside a
    # micro-batch is restored in foreachBatch where the frame is batch again
    # (streaming.stream_keyed_upsert).
    ordinal = (
        F.xxhash64("value") if streaming else F.monotonically_increasing_id()
    )
    with_ord = lines.withColumn("ordinal", ordinal)
    if partitions:
        # A single small-ish file is one input split, which would serialize
        # the Python decode; redistribute AFTER ordinal assignment (values
        # already fixed, so arrival order survives the shuffle) and BEFORE
        # the UDF so the expensive crossing runs on every core. At 100 TB
        # the source is many files/splits and this is unnecessary.
        with_ord = with_ord.repartition(partitions)
    parsed = (
        with_ord
        # P3: blank-line filter BEFORE the Python UDF crossing
        .where(F.length(F.trim(F.col("value"))) > 0)
        .select("ordinal", "value", parse_wire_line("value").alias("r"))
    )
    # T10: malformed lines surface as corrupt_line instead of failing the task
    return parsed.select(
        "ordinal",
        F.col("r.topic").alias("topic"),
        F.col("r.payload").alias("payload"),
        F.col("r.ts").alias("ts"),
        F.col("r.parsed_at").alias("parsed_at"),
        F.when(F.col("r.topic").isNull(), F.col("value")).alias("corrupt_line"),
    )


def read_bronze(
    spark: SparkSession, path: str, partitions: int | None = None
) -> DataFrame:
    """S3 batch scan of a wire-format file; ``partitions`` spreads the
    decode of a single-split file across cores (see _parse)."""
    return _parse(spark.read.text(path), partitions=partitions)


def read_bronze_stream(
    spark: SparkSession, path_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """S2 incremental tail as a file-source stream (checkpointed offsets)."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return _parse(reader.load(path_dir), streaming=True)


def read_bronze_socket(spark: SparkSession, host: str, port: int) -> DataFrame:
    """S1 live feed: wire lines over a TCP socket, decoded by the SAME
    bronze parse as file replay — the Spark-native stand-in for the
    reference's SignalR websocket subscription (extractor.py:21-58).

    The socket source is Spark's no-fault-tolerance ingestion edge (no
    offsets to checkpoint — a restart resumes from whatever the feed sends
    next, exactly like the reference's live websocket). Production hardens
    this the usual way: a tiny relay appends the feed to files/Kafka and the
    checkpointed ``read_bronze_stream`` tails that; this source exists so
    the live path is runnable end-to-end."""
    lines = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", str(port))
        .load()
    )
    return _parse(lines, streaming=True)
