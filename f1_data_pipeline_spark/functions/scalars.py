"""Scalar column expressions — SURVEY §2.5 (C1–C14), all pure Catalyst.

Every helper here returns a ``Column`` built from builtin functions so the
expression stays inside whole-stage codegen; none of these are Python UDFs.
Semantics mirror the reference's per-record Python coercions (cited per
function), including their "None on failure" behavior via ``try_*``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def strip_quotes(col: Column | str) -> Column:
    """Remove one pair of surrounding double quotes.

    Reference: monitor_car_telemetry.py:38-39 (C4).
    """
    return F.regexp_replace(col, '^"|"$', "")


def parse_event_time(col: Column | str, fallback: Column | str) -> Column:
    """ISO-8601 (with trailing ``Z``) → timestamp; processing-time fallback.

    Reference: transformer.py:422-432 (C5) — ``datetime.fromisoformat`` with
    ``Z``→``+00:00`` substitution and ``datetime.now()`` on failure (T5).
    ``try_to_timestamp`` handles ISO forms incl. fractional seconds; the
    coalesce reproduces the fallback without failing the task.

    ``fallback`` is the wall-clock parse time the bronze parse emits per
    Arrow batch (``parsed_at``), not ``current_timestamp()``: Catalyst
    folds that into a new literal per query, so every load and micro-batch
    would compile its classes anew (SCALE.md "Generated-code per-query
    constant").
    """
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.regexp_replace(c.cast("string"), "Z$", "+00:00")
    return F.coalesce(F.try_to_timestamp(cleaned), fallback)


def parse_iso_strict(col: Column | str) -> Column:
    """ISO-8601 (optionally ``Z``-suffixed) → timestamp, NULL on failure.

    Deterministic variant of ``parse_event_time`` for payload-embedded
    event times (CarData ``Utc``, Position ``Timestamp``) where a
    wall-clock fallback would poison dedup/idempotence.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.try_to_timestamp(F.regexp_replace(c.cast("string"), "Z$", "+00:00"))


def lap_time_seconds(col: Column | str) -> Column:
    """Parse ``"M:SS.mmm"`` (or plain float string) → seconds as double.

    Reference: transformer.py:434-456 (C7): try ``float()`` first, else regex
    ``(\\d+):(\\d+\\.\\d+)`` → ``min*60+sec``; NULL when neither matches.
    Divergence (deliberate): Python's ``\\d``/``float()`` accept Unicode
    digits, Java regex is ASCII-only — the wire protocol is ASCII.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = c.cast("string")
    direct = c.try_cast("double")
    # reference pattern r'(\d+):(\d+\.\d+)' is re.match (prefix, fraction
    # required) — keep identical accept/reject behavior
    mins = F.regexp_extract(c, r"^(\d+):(\d+\.\d+)", 1).try_cast("double")
    secs = F.regexp_extract(c, r"^(\d+):(\d+\.\d+)", 2).try_cast("double")
    return F.coalesce(direct, mins * 60 + secs)


def numeric_coerce(col: Column | str) -> Column:
    """Bool-aware float coercion: 'true'→1.0, 'false'→0.0, ''/garbage→NULL.

    Reference: main.py:179-193 / monitor_weather.py:149-163 (C8).
    """
    c = F.col(col) if isinstance(col, str) else col
    s = F.lower(F.trim(c.cast("string")))
    return (
        F.when(s == "true", F.lit(1.0))
        .when(s == "false", F.lit(0.0))
        .otherwise(s.try_cast("double"))
    )


def int_coerce(col: Column | str) -> Column:
    """``int()`` or NULL. Reference: transformer.py:468-476 (C9).

    The reference's ``int('3.0')`` raises → NULL; but ``int(3.7)`` (already
    numeric) truncates. ``try_cast(string→int)`` matches the string path.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("string").try_cast("int")


def bool_parse(col: Column | str) -> Column:
    """``value.lower() == 'true'``. Reference: transformer.py:403 (C10)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(c.cast("string"))) == "true"
