"""Merge operators: last-non-null-wins per key (K5/A3).

The reference merges partial lap records two ways — in-batch linear probe
(transformer.py:236-249) and SQL ``ON CONFLICT … COALESCE`` upsert
(loader.py:262-278). Both reduce to: per key, for each column take the most
recent non-null value. Here that is one hash aggregate using ``max_by`` over
a null-guarded ordering key — a single shuffle with map-side partials,
deterministic because the ordinal is explicit (SURVEY §7.4), and skew-safe
under AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def last_non_null_merge(
    df: DataFrame, keys: list[str], order_col: str, cols: list[str] | None = None
) -> DataFrame:
    """Collapse to one row per ``keys``: each non-key column gets its value
    from the highest-``order_col`` row where that column is non-null."""
    if cols is None:
        cols = [c for c in df.columns if c not in keys and c != order_col]
    aggs = [
        F.max_by(c, F.when(F.col(c).isNotNull(), F.col(order_col))).alias(c)
        for c in cols
    ]
    return df.groupBy(*keys).agg(*aggs)


def scd2_history(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    tiebreak: str,
    attr_cols: list[str],
) -> DataFrame:
    """Slowly-changing-dimension Type-2 history from a change stream: each
    update row becomes a version with ``valid_from`` = its timestamp,
    ``valid_to`` = the next update's timestamp for the same key (NULL while
    current), and ``is_current`` on the open version — the warehouse-grade
    twin of the reference's last-write-wins upsert (loader.py:202-219),
    which keeps only the final state and discards history.

    One keyed window (``lead`` over the per-key update order); ``tiebreak``
    pins simultaneous updates so validity ranges are deterministic under
    any partitioning. At scale the window shuffle is keyed by the
    dimension key — the same geometry as the upsert it replaces.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(ts_col, tiebreak)
    valid_to = F.lead(ts_col).over(w)
    return df.select(
        *keys,
        *attr_cols,
        F.col(ts_col).alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


def cdc_apply(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    tiebreak: str,
    op_col: str,
    payload_cols: list[str],
    delete_op: str = "D",
) -> DataFrame:
    """Apply a change-data-capture log to produce current table state:
    per key, the highest-(ts, tiebreak) operation wins; if that operation
    is a delete the key is absent from the output; a delete followed by a
    later insert re-materializes the key (tombstones carry no special
    state — they lose to any later op by ordering alone).

    This is the general form of the reference's last-write-wins upsert
    (loader.py:202-219), extended with deletes — the missing piece for
    replaying a relational CDC feed (Debezium-style I/U/D records) into a
    lakehouse table.

    Shape at scale: ONE hash aggregate — ``max_by`` over a packed struct
    keyed on (ts, tiebreak) — so partials combine map-side and only one
    winner row per key crosses the shuffle, not the full history. No
    window sort, no join; skew on hot keys collapses in the partial
    phase. The struct comparison is lexicographic, so determinism needs
    only (ts_col, tiebreak) to be a total order per key.
    """
    packed = F.struct(
        F.col(ts_col).alias("__ts"),
        F.col(tiebreak).alias("__tb"),
        F.col(op_col).alias("__op"),
        *[F.col(c).alias(c) for c in payload_cols],
    )
    won = df.groupBy(*keys).agg(
        F.max_by(packed, F.struct(F.col(ts_col), F.col(tiebreak))).alias("__w")
    )
    return won.where(F.col("__w.__op") != delete_op).select(
        *keys, *[F.col(f"__w.{c}").alias(c) for c in payload_cols]
    )
