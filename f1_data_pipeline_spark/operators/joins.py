"""Join operators beyond vanilla equi-joins: as-of and range (SURVEY §2.7;
as-of declared at §2.12 as an engine capability the reference's data model
implies — latest weather at telemetry time — but never implements). Plain
broadcast, semi and anti joins are ``DataFrame.join`` one-liners and need
no helper.

As-of is implemented with the union + running-last-value trick rather than a
join: both sides shuffle ONCE on the key, sort by time, and a single window
pass carries the most recent right-side payload forward. That is
sort-merge-join cost with no range-explosion, and it scales to arbitrarily
dense right sides (the naive join-then-max approach explodes on skewed
keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    prefix: str = "asof_",
) -> DataFrame:
    """For each left row, attach the latest right row with
    ``right.ts <= left.ts`` within the same key group (backward as-of,
    equal timestamps match).

    One shuffle on ``keys``, one sort on (ts, side) — right rows sort before
    left rows at equal timestamps so ties are inclusive — then
    ``last(ignorenulls)`` over an unbounded-preceding frame carries the
    payload forward. Left rows with no prior right row get NULL payload
    (left-outer semantics).
    """
    payload = F.struct(*[F.col(c) for c in right_payload]).alias("__p")
    r = right.select(
        *keys, F.col(right_ts).alias("__ts"), F.lit(0).alias("__side"), payload
    )
    left_cols = [c for c in left.columns]
    l = left.select(
        *[F.col(c) for c in left_cols],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r.schema["__p"].dataType).alias("__p"),
    )
    # align column sets for the union
    for c in left_cols:
        if c not in r.columns:
            r = r.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    r = r.select(*l.columns)

    w = (
        Window.partitionBy(*keys)
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l.unionByName(r).withColumn(
        "__last", F.last("__p", ignorenulls=True).over(w)
    )
    out = carried.where(F.col("__side") == 1).select(
        *left_cols,
        *[F.col(f"__last.{c}").alias(f"{prefix}{c}") for c in right_payload],
    )
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_lo: str,
    right_hi: str,
) -> DataFrame:
    """Point-in-interval join: left.ts ∈ [right.lo, right.hi) per key.

    Expressed as an equi-join on keys plus range predicates so Catalyst can
    hash-partition on the key; for keyless range joins, bucket both sides by
    time-bin first (the standard interval-bucketing rewrite) instead of the
    O(n·m) theta join.
    """
    cond = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys] + [
        F.col(f"l.{left_ts}") >= F.col(f"r.{right_lo}"),
        F.col(f"l.{left_ts}") < F.col(f"r.{right_hi}"),
    ]
    return left.alias("l").join(right.alias("r"), cond)


def sessionize(
    events: DataFrame,
    key: str,
    ts: str,
    gap_seconds: int,
    tiebreak: str,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since
    the previous event (per key) exceeds ``gap_seconds``.

    lag → flag → running sum, all over one (key, ts) sort: exactly two
    window passes sharing one shuffle. The streaming twin is
    ``F.session_window`` in streaming.py.
    """
    o = Window.partitionBy(key).orderBy(ts, tiebreak)
    prev = F.lag(ts).over(o)
    new_s = F.when(
        prev.isNull()
        | ((F.unix_timestamp(F.col(ts)) - F.unix_timestamp(prev)) > gap_seconds),
        1,
    ).otherwise(0)
    run = (
        Window.partitionBy(key)
        .orderBy(ts, tiebreak)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.withColumn("__new", new_s).withColumn(
        "session_no", F.sum("__new").over(run)
    ).drop("__new")


# ---------------------------------------------------------------------------
# Registered correctness queries
# ---------------------------------------------------------------------------

from f1_data_pipeline_spark.catalog import Tables  # noqa: E402
from f1_data_pipeline_spark.queries import query  # noqa: E402


@query(
    "x_asof_join",
    """SELECT p.event_id, p.user_id, p.ts, c.ts AS click_ts, c.value AS click_value
       FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
         ON p.user_id = c.user_id AND c.ts <= p.ts
       ORDER BY p.event_id LIMIT 200""",
)
def x_asof_join(t: Tables):
    """Backward as-of join: each purchase matched to the user's latest
    click at-or-before it (DuckDB oracle uses its native ASOF JOIN)."""
    e = t.events
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.where(F.col("event_type") == "click")
    joined = as_of_join(
        purchases,
        clicks,
        keys=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_payload=["ts", "value"],
        prefix="c_",
    )
    return (
        joined.select(
            "event_id",
            "user_id",
            "ts",
            F.col("c_ts").alias("click_ts"),
            F.col("c_value").alias("click_value"),
        )
        .orderBy("event_id")
        .limit(200)
    )


@query(
    "x_sessionize",
    """WITH g AS (
         SELECT user_id, ts,
                CASE WHEN lag(ts) OVER w IS NULL
                          OR date_diff('second', lag(ts) OVER w, ts) > 600
                     THEN 1 ELSE 0 END AS new_s
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       s AS (
         SELECT user_id, ts,
                CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
         FROM g)
       SELECT user_id, session_no, count(*) AS n_events,
              min(ts) AS session_start, max(ts) AS session_end
       FROM s GROUP BY user_id, session_no
       ORDER BY user_id, session_no LIMIT 300""",
)
def x_sessionize(t: Tables):
    """Gap-based sessionization (10-minute gap) + per-session rollup."""
    s = sessionize(
        t.events.select("user_id", "ts", "event_id"),
        key="user_id",
        ts="ts",
        gap_seconds=600,
        tiebreak="event_id",
    )
    return (
        s.groupBy("user_id", "session_no")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .orderBy("user_id", "session_no")
        .limit(300)
    )


@query(
    "x_salted_join",
    """SELECT n.n_name, COUNT(*) AS cnt, CAST(SUM(l.l_quantity) AS BIGINT) AS qty
       FROM (SELECT CASE WHEN l_orderkey % 2 = 0 THEN 0
                         ELSE l_orderkey % 25 END AS k, l_quantity
             FROM lineitem) l
       JOIN nation n ON n.n_nationkey = l.k
       GROUP BY n.n_name ORDER BY n.n_name""",
)
def x_salted_join(t: Tables):
    """Hot-key join through ``salted_join``: half of lineitem collapses onto
    one key (a pathological 50% hot key), the dim side is forced to
    sort-merge (the ``merge`` hint stands in for a dim too big to
    broadcast — broadcast joins have no skew problem), and the salt spreads
    the hot key over 8 tasks. Values must equal the plain SQL join —
    salting must never change results, only the shuffle geometry
    (skew-spread asserted in tests/test_storage.py)."""
    from f1_data_pipeline_spark.storage import salted_join

    left = t.lineitem.select(
        F.when(F.col("l_orderkey") % 2 == 0, F.lit(0))
        .otherwise(F.col("l_orderkey") % 25)
        .cast("long")
        .alias("n_nationkey"),
        "l_quantity",
    )
    dim = t.nation.select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"), "n_name"
    ).hint("merge")
    return (
        salted_join(left, dim, "n_nationkey", num_salts=8)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("l_quantity").cast("bigint").alias("qty"),
        )
        .orderBy("n_name")
    )


@query(
    "x_range_join",
    """SELECT c.event_id, p.event_id AS purchase_id
       FROM events c JOIN events p
         ON c.user_id = p.user_id
        AND c.event_type = 'click' AND p.event_type = 'purchase'
        AND c.ts >= p.ts AND c.ts < p.ts + INTERVAL 10 MINUTE
       ORDER BY c.event_id, purchase_id LIMIT 300""",
)
def x_range_join(t: Tables):
    """Point-in-interval range join: clicks landing within 10 minutes after
    a purchase by the same user. The key equi-predicate rides the hash
    partitioning; the range predicates filter inside each task — never a
    theta join. (DuckDB's IEJoin executes the same SQL natively.)"""
    e = t.events
    intervals = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTE")).alias("hi"),
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    return (
        range_join(clicks, intervals, ["user_id"], "ts", "lo", "hi")
        .select("event_id", "purchase_id")
        .orderBy("event_id", "purchase_id")
        .limit(300)
    )


# ---------------------------------------------------------------------------
# Time-series gap-fill + LOCF (TimescaleDB time_bucket_gapfill / locf shape)
# ---------------------------------------------------------------------------


def gap_fill(
    df,
    key: str,
    ts_col: str,
    value_col: str,
    unit: str = "hour",
):
    """Regularize an irregular time series: bucket observations to the
    ``unit`` grid (bucket value = avg), emit EVERY grid slot between each
    key's first and last observation, and carry the last observation
    forward into empty slots (LOCF) — the hypertable rollup shape
    (``time_bucket_gapfill`` + ``locf``) every monitoring/feature pipeline
    needs before resampling.

    Output: (key, bucket, v_obs, v_filled) — ``v_obs`` NULL on gap rows.

    Scale shape: one keyed shuffle for the bucket aggregate, a P-row
    per-key bounds aggregate whose ``sequence``-explode generates the grid
    scan-locally (never a driver-side calendar), one equi-join of grid to
    buckets, and one keyed-window LOCF pass. Grid size is bounded by
    span/unit per key — the caller picks ``unit`` to match retention the
    same way a hypertable picks its chunk interval.
    """
    b = df.select(
        F.col(key).alias("k"),
        F.date_trunc(unit, F.col(ts_col)).alias("bucket"),
        F.col(value_col).alias("__v"),
    )
    per_bucket = b.groupBy("k", "bucket").agg(F.avg("__v").alias("__v"))
    bounds = b.groupBy("k").agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    grid = bounds.select(
        "k", F.explode(F.expr(f"sequence(lo, hi, interval 1 {unit})")).alias("bucket")
    )
    joined = grid.join(per_bucket, ["k", "bucket"], "left")
    w = (
        Window.partitionBy("k")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        F.col("k").alias(key),
        "bucket",
        F.col("__v").alias("v_obs"),
        F.last("__v", ignorenulls=True).over(w).alias("v_filled"),
    )


@query(
    "x_gapfill",
    """WITH e AS (SELECT user_id AS k, date_trunc('hour', ts) AS bucket, value AS v
                  FROM events WHERE user_id < 5),
       pb AS (SELECT k, bucket, avg(v) AS v FROM e GROUP BY k, bucket),
       bounds AS (SELECT k, min(bucket) AS lo, max(bucket) AS hi FROM e GROUP BY k),
       grid AS (SELECT k, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
                FROM bounds),
       j AS (SELECT g.k, g.bucket, pb.v FROM grid g
             LEFT JOIN pb ON pb.k = g.k AND pb.bucket = g.bucket)
       SELECT k AS user_id, bucket, ROUND(v, 4) AS v_obs,
              ROUND(last_value(v IGNORE NULLS) OVER (
                  PARTITION BY k ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS v_filled
       FROM j ORDER BY user_id, bucket""",
)
def x_gapfill(t: Tables):
    """Hourly gap-filled + LOCF'd event values for users 0-4 via
    ``gap_fill`` — the TimescaleDB ``time_bucket_gapfill``/``locf`` rollup
    expressed as bucket-agg → sequence-explode grid → keyed LOCF window."""
    out = gap_fill(
        t.events.where(F.col("user_id") < 5), "user_id", "ts", "value", unit="hour"
    )
    return out.select(
        "user_id",
        "bucket",
        F.round("v_obs", 4).alias("v_obs"),
        F.round("v_filled", 4).alias("v_filled"),
    ).orderBy("user_id", "bucket")


@query(
    "x_scd2",
    """SELECT user_id, ROUND(value, 4) AS value, ts AS valid_from,
              lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
              lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                AS is_current
       FROM events WHERE user_id < 10
       ORDER BY user_id, valid_from, value""",
)
def x_scd2(t: Tables):
    """SCD Type-2 validity ranges over the per-user event stream via
    ``merge.scd2_history`` — every update becomes a version row with
    [valid_from, valid_to) and an is_current flag, deterministic through
    the event_id tiebreak."""
    from f1_data_pipeline_spark.operators.merge import scd2_history

    src = t.events.where(F.col("user_id") < 10).select(
        "user_id", "event_id", "ts", F.round("value", 4).alias("value")
    )
    return (
        scd2_history(src, ["user_id"], "ts", "event_id", ["value"])
        .select("user_id", "value", "valid_from", "valid_to", "is_current")
        .orderBy("user_id", "valid_from", "value")
    )


@query(
    "x_cdc_apply",
    """WITH log AS (
         SELECT user_id, ts, event_id,
                CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                value
         FROM events),
       ranked AS (
         SELECT user_id, op, value,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
         FROM log)
       SELECT user_id, ROUND(value, 4) AS last_value
       FROM ranked WHERE rn = 1 AND op <> 'D'
       ORDER BY user_id""",
)
def x_cdc_apply(t: Tables):
    """CDC-log replay to current state via ``merge.cdc_apply``: the event
    stream is read as an I/U/D changelog on user_id ('error' events act as
    deletes), and the output is the live table — last write wins, deleted
    keys absent, deletes resurrected by later upserts. One ``max_by`` hash
    aggregate (map-side partials; one winner row per key crosses the
    shuffle) — deliberately NOT the window-sort form the oracle uses."""
    from f1_data_pipeline_spark.operators.merge import cdc_apply

    log = t.events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        "value",
    )
    out = cdc_apply(log, ["user_id"], "ts", "event_id", "op", ["value"])
    return out.select(
        "user_id", F.round("value", 4).alias("last_value")
    ).orderBy("user_id")


def resample_ohlc(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    every: str = "minute",
    by: list[str] | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Time-series downsampling to OHLC bars (+ count and sum) per
    ``every`` bucket (a ``date_trunc`` unit) and optional ``by`` keys —
    the resample step a telemetry/metrics table needs before plotting or
    long-horizon modeling.

    ONE hash aggregate: open/close are ``min_by``/``max_by`` over the
    composite (ts, tiebreak) struct — order-insensitive, deterministic
    under duplicate timestamps, and map-side combining like every other
    measure, so downsampling 100 TB shuffles only bucket-sized partials
    (no window function, no per-bucket sort). ``tiebreak`` must make
    (ts, tiebreak) unique within a bucket for a pinned open/close."""
    keys = list(by or [])
    bucket = F.date_trunc(every, F.col(ts_col)).alias("w")
    order = (
        F.struct(F.col(ts_col), F.col(tiebreak))
        if tiebreak
        else F.struct(F.col(ts_col))
    )
    v = F.col(value_col)
    return (
        df.groupBy(*keys, bucket)
        .agg(
            F.min_by(v, order).alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(v, order).alias("close"),
            F.count(v).alias("n"),
            F.sum(v).alias("vsum"),
        )
    )


@query(
    "x_resample",
    """WITH b AS (SELECT date_trunc('minute', ts) AS w, ts, event_id, value
                  FROM events),
       o AS (SELECT w, value,
                    row_number() OVER (PARTITION BY w ORDER BY ts, event_id) AS ra,
                    row_number() OVER (PARTITION BY w ORDER BY ts DESC, event_id DESC) AS rd
             FROM b)
       SELECT w,
              ROUND(MAX(CASE WHEN ra = 1 THEN value END), 4) AS open,
              ROUND(MAX(value), 4) AS high,
              ROUND(MIN(value), 4) AS low,
              ROUND(MAX(CASE WHEN rd = 1 THEN value END), 4) AS close,
              CAST(count(value) AS BIGINT) AS n,
              ROUND(SUM(value), 4) AS vsum
       FROM o GROUP BY w ORDER BY w""",
)
def x_resample(t: Tables) -> DataFrame:
    """Per-minute OHLC bars over the events table via ``resample_ohlc``
    (event_id tie-break pins open/close under duplicate timestamps).
    The oracle derives the same bars through window functions — a
    different algorithm whose agreement pins the min_by/max_by
    composite-key semantics. The Spark form stays one map-side-combining
    aggregate; the window form the oracle uses is exactly the per-bucket
    sort a 100 TB resample must avoid."""
    out = resample_ohlc(t.events, "ts", "value", "minute", tiebreak="event_id")
    return out.select(
        "w",
        F.round("open", 4).alias("open"),
        F.round("high", 4).alias("high"),
        F.round("low", 4).alias("low"),
        F.round("close", 4).alias("close"),
        F.col("n").cast("long").alias("n"),
        F.round("vsum", 4).alias("vsum"),
    ).orderBy("w")
