"""`f1wire` — a PySpark 4 Python Data Source for the wire format.

``spark.read.format("f1wire").load(path)`` turns the reference's raw feed
file (extractor.py:60-80 line format) into bronze rows as a FIRST-CLASS
source: schema, byte-range partition planning, and line parsing all live
behind the standard reader API, so downstream code can't tell it from a
built-in format.

Why this beats the text-file + UDF path it complements (`ingest/bronze.py`):

* **True byte-offset ordinal.** Each row's ordinal is the byte offset of
  its line — globally ordered, deterministic, and stable under ANY
  partitioning, where ``monotonically_increasing_id`` is only
  per-partition-ordered and changes with split planning. First-wins dedup
  gets a physical arrival order it can trust across retries.
* **Parallelism planned at the source.** ``partitions()`` splits the file
  into byte ranges (standard start/end + align-to-newline protocol, the
  same contract Hadoop text splits use), so a single big feed file decodes
  on every core with no post-hoc ``repartition`` — and a 100 TB archive of
  many files would map one partition per range per file.
* **One Python crossing total.** The source is already Python (Arrow-batched
  by the API); parsing happens during the scan instead of as a separate
  UDF stage over an already-materialized text DataFrame.

The parse is ``functions/udfs.parse_line``, the one ``parse_wire_line`` runs
(Python-literal line → (topic, payload-as-JSON, ts); malformed → corrupt
row) — asserted row-for-row in tests/test_ingest.py — and each row carries
the same ``parsed_at`` event-time fallback column as bronze.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from f1_data_pipeline_spark.functions.udfs import parse_line
from f1_data_pipeline_spark.schemas import BRONZE


class _Range(InputPartition):
    def __init__(self, path: str, start: int, end: int):
        self.path = path
        self.start = start
        self.end = end


class F1WireReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("f1wire requires a path: .load('/path/to/wire.txt')")
        self.num_partitions = int(options.get("numPartitions", "8"))

    def partitions(self):
        size = os.path.getsize(self.path)
        n = max(1, min(self.num_partitions, size or 1))
        step = (size + n - 1) // n if size else 1
        return [
            _Range(self.path, i * step, min((i + 1) * step, size))
            for i in range(n)
            if i * step < size or (i == 0 and size == 0)
        ]

    def read(self, part: _Range):
        # Hadoop-text split contract: a partition owns every line that
        # STARTS in [start, end); it skips a partial first line (owned by
        # the previous split) and reads past `end` to finish its last line.
        # One parse time per split: the event-time fallback (T5), as
        # bronze's per-batch ``parsed_at``.
        parsed_at = datetime.now(timezone.utc)
        with open(part.path, "rb") as f:
            pos = part.start
            if pos > 0:
                f.seek(pos - 1)
                prev = f.read(1)
                if prev != b"\n":
                    skipped = f.readline()  # tail of previous split's line
                    pos += len(skipped)
            else:
                f.seek(0)
            while pos < part.end:
                raw = f.readline()
                if not raw:
                    break
                line_start = pos
                pos += len(raw)
                text = raw.decode("utf-8", errors="replace").rstrip("\r\n")
                if not text.strip():
                    continue
                topic, payload, ts = parse_line(text)
                yield (
                    line_start,
                    topic,
                    payload,
                    ts,
                    parsed_at,
                    text if topic is None else None,
                )


class F1WireDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "f1wire"

    def schema(self) -> StructType:
        return BRONZE

    def reader(self, schema) -> F1WireReader:
        return F1WireReader(self.options)


def register(spark) -> None:
    """Idempotently register the format on a session:
    ``spark.read.format('f1wire').load(path)``."""
    spark.dataSource.register(F1WireDataSource)
