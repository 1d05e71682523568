"""The engine's only Python UDFs (SURVEY §2.10) — both Arrow-vectorized.

Everything else in the engine is Catalyst builtins; these two exist because
no builtin can (a) eval Python-literal lines, (b) raw-deflate-inflate.

Scale note: both are applied *after* cheap builtin filters (topic equality,
blank-line) so the expensive Python crossing sees only the rows that need it
— the reference hand-codes the same ordering (predicate-before-decode,
monitor_car_telemetry.py:95 before :114) and Catalyst will not reorder
filters across non-deterministic-looking UDFs, so plan authorship preserves
it (SURVEY §4).
"""

from __future__ import annotations

import ast
import base64
import json
import zlib

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

WIRE_STRUCT = StructType(
    [
        StructField("topic", StringType(), True),
        StructField("payload", StringType(), True),  # JSON text (or b64 for .z topics)
        StructField("ts", StringType(), True),
        StructField("parsed_at", TimestampType(), True),
    ]
)


def parse_line(line: str):
    """Wire-line semantics shared with the ``f1wire`` source: returns
    (topic, payload_json, ts) or (None, None, None) for malformed lines
    (T10 log-and-skip)."""
    try:
        v = ast.literal_eval(line)
        if not (isinstance(v, (list, tuple)) and len(v) == 3):
            return None, None, None
        topic, payload, ts = v
        if isinstance(payload, str):
            return topic, payload, ts
        return topic, json.dumps(payload), ts
    except (ValueError, SyntaxError, MemoryError, RecursionError):
        return None, None, None


@pandas_udf(WIRE_STRUCT)
def parse_wire_line(lines: pd.Series) -> pd.DataFrame:
    """U2: Python-literal wire line ``['Topic', payload, 'ts']`` → struct.

    The feed writes Python reprs (single quotes, True/None), not JSON
    (reference format: monitor_weather.py:181-197). Dict payloads are
    re-serialized to JSON so everything downstream is `from_json`;
    compressed topics carry their base64 payload through unchanged.
    Malformed lines yield NULL topic/payload/ts (T10: log-and-skip
    semantics — the pipeline counts them instead of dying).

    ``parsed_at`` is the wall clock when this Arrow batch was parsed, the
    event-time fallback for an unparseable ``ts`` (T5): the reference's
    per-record ``datetime.now()``, to batch resolution, without a
    ``current_timestamp()`` literal in the plan.
    """
    parsed = [parse_line(x) if isinstance(x, str) else (None, None, None) for x in lines]
    out = pd.DataFrame(parsed, columns=["topic", "payload", "ts"])
    out["parsed_at"] = pd.Timestamp.now(tz="UTC")
    return out


@pandas_udf(StringType())
def raw_inflate(data: pd.Series) -> pd.Series:
    """U1: base64 + raw-deflate (zlib, -MAX_WBITS) → JSON text.

    Reference: monitor_car_telemetry.py:32-48. NULL on any decode failure.
    """

    def inflate(s):
        if s is None:
            return None
        try:
            return zlib.decompress(base64.b64decode(s.strip('"')), -zlib.MAX_WBITS).decode(
                "utf-8"
            )
        except Exception:
            return None

    return data.map(inflate)
