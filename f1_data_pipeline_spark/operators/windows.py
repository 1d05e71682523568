"""Scale-safe global window frames (SURVEY §2 W4 at 100 TB).

An unkeyed ``ORDER BY`` window (``avg(x) OVER (ORDER BY k ROWS n PRECEDING)``)
forces Spark to move EVERY row into one partition (``WindowExec: No
Partition Defined``) — the last single-node bottleneck a 100 TB pipeline
can hide. ``global_rolling_avg`` computes the identical frame with the
classic two-pass decomposition:

1. **Range-bucket** by the order key: partition boundaries are sampled
   ONCE on the driver (hash-systematic sample over the pruned order
   columns, bounded size) and embedded as LITERALS, so the bucket id is a
   pure deterministic expression of the row — every later pass computes
   the same assignment with no coordination. Each bucket holds a
   contiguous, disjoint key range, so "the previous ``n-1`` rows" of any
   row live either in its own bucket or in the tail of the
   immediately-preceding one.
2. **Local pass**: per-bucket ROWS-frame aggregates through a window
   *keyed by bucket id* — fully parallel (the window's own hash shuffle
   does the physical partitioning; no ``repartitionByRange``).
3. **Carry-ins**: each bucket's last ``n-1`` rows (≤ ``P·(n-1)`` rows
   total — tiny) are re-keyed to the next bucket and broadcast-joined
   to its first ``n-1`` rows, completing frames that cross the boundary.

Every shuffle is keyed, every join against boundary data is a broadcast;
no operator ever sees more than one bucket's rows plus an ``n-1``-row
tail. The driver touches only the bounded boundary sample and the P-row
per-bucket count table (the same legitimately-small class of data as an
IVF codebook).

Because bucket assignment is a deterministic literal-comparison
expression (NOT ``repartitionByRange``, whose boundaries are resampled
per evaluation under AQE), the multiple passes need no ``persist`` to
stay consistent — nothing is pinned in executor storage, fixing the
cache-leak this operator carried in earlier rounds.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from f1_data_pipeline_spark.catalog import Tables
from f1_data_pipeline_spark.queries import query


def _key_struct(df: DataFrame, order_cols: list[str], vals=None) -> Column:
    """Comparable struct over the order columns; with ``vals``, the literal
    twin with identical field names/types (struct comparison in Spark is
    field-ordinal and type-strict)."""
    if vals is None:
        return F.struct(*[F.col(c).alias(f"k{i}") for i, c in enumerate(order_cols)])
    return F.struct(
        *[
            F.lit(v).cast(df.schema[c].dataType).alias(f"k{i}")
            for i, (c, v) in enumerate(zip(order_cols, vals))
        ]
    )


def _bucket_id_expr(df: DataFrame, order_cols: list[str], bounds: list) -> Column:
    """``|{b in bounds : key >= b}|`` — the range-bucket id — as a literal
    binary-search ``when`` tree: O(log B) short-circuit comparisons per
    row instead of the flat sum of B comparison terms, whose per-row cost
    made bucket counts beyond a handful dominate the whole operator (the
    expression is evaluated once per pass over the data)."""
    key = _key_struct(df, order_cols)
    lits = [_key_struct(df, order_cols, b) for b in bounds]

    def rec(lo: int, hi: int) -> Column:
        # invariant: bounds[:lo] <= key < bounds[hi:]; result in [lo, hi]
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(key >= lits[mid], rec(mid + 1, hi)).otherwise(rec(lo, mid))

    return rec(0, len(bounds))


def global_rolling_avg(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    frame_rows: int = 100,
    partitions: int | None = None,
    out_col: str = "ma",
    finisher: Callable[[Column, Column], Column] | None = None,
) -> DataFrame:
    """``avg(value) OVER (ORDER BY order_cols ROWS frame_rows-1 PRECEDING
    AND CURRENT ROW)`` without a single-partition window.

    ``order_cols`` must be a TOTAL order (include a tiebreaker column) —
    the same requirement any deterministic global window has. Each range
    bucket must end up with at least ``frame_rows`` rows so a frame
    spans at most one boundary; the helper verifies this from the P-row
    count table and raises with guidance if violated (lower ``partitions``
    — at scale, size ``partitions ≈ rows / target_partition_rows``, which
    is always ≫ ``frame_rows``).

    ``partitions=None`` (the default) derives the bucket count from the
    data: enough buckets to feed every core a few waves, capped so each
    bucket keeps ≥ 4×``frame_rows`` rows (boundary carries stay a
    vanishing fraction) and the literal bound/count tables stay small.
    The output is identical for ANY bucket count — the decomposition is
    exact — so this is purely a parallelism decision.

    ``finisher(total_sum, total_count) -> Column`` overrides the default
    ``try_divide(sum, count)`` — use it for exact integer arithmetic
    (e.g. cents) where the division/rounding must be pinned. NULLs in
    ``value_col`` follow SQL ``avg``: excluded from both sum and count.

    Three light driver-visible passes over the PRUNED order columns
    (count, boundary sample, per-bucket counts — the first two are
    metadata/filter scans) plus the main plan; no persist, no pinned
    storage, deterministic output regardless of AQE re-planning.
    """
    n = int(frame_rows)
    if n < 1:
        raise ValueError("frame_rows must be >= 1")
    keep_cols = df.columns
    key = _key_struct(df, order_cols)
    order = [F.col(c) for c in order_cols]

    total = df.count()
    if total == 0:
        fin0 = finisher if finisher is not None else F.try_divide
        null_b = F.lit(None).cast("bigint")
        return df.select(*keep_cols, fin0(null_b, null_b).alias(out_col))
    if partitions is None:
        # scale-adaptive: one wave over the cores. The window sort is
        # fully parallel at B = cores already; more buckets only grow the
        # O(B·n) boundary-carry machinery (measured: 128 buckets ran 2.7x
        # slower than 32 on local[32] at sf1 with identical output).
        # Never buckets smaller than 4 frames (min-size precondition with
        # slack), never more than 1024 (bound the bound-literal tree).
        cores = df.sparkSession.sparkContext.defaultParallelism
        partitions = max(1, min(cores, total // (4 * n), 1024))

    # Boundary sample: hash-systematic (deterministic for a given dataset
    # irrespective of physical partitioning — unlike sample(seed), whose
    # output depends on the partition layout AQE may change). Collected
    # once, bounded at ~target rows of just the order columns.
    target = max(200 * partitions, 10_000)
    mod = max(1, total // target)
    sample_rows = (
        df.select(key.alias("k"))
        .where(F.pmod(F.hash(*order), F.lit(mod)) == 0)
        .collect()
    )
    sample = sorted(tuple(r["k"]) for r in sample_rows)
    n_parts = min(partitions, max(1, len(sample)))
    raw_bounds = [sample[(i * len(sample)) // n_parts] for i in range(1, n_parts)]
    bounds = sorted(set(raw_bounds))  # dedup — heavy key skew collapses cuts

    pid_raw = _bucket_id_expr(df, order_cols, bounds) if bounds else F.lit(0)

    # P-row per-bucket count table: validates the min-bucket-size
    # precondition; the ids may be gapped (a cut with no rows below it) —
    # gaps are harmless because "previous bucket" is resolved through the
    # tiny pstats-derived successor map below, never as pid-1.
    # Deterministic (pure expression of the row), so no pinning needed for
    # the main plan to agree with it.
    pstats = sorted(
        (r["__pid"], r["c"])
        for r in df.groupBy(pid_raw.alias("__pid")).agg(F.count("*").alias("c")).collect()
    )
    if min(c for _, c in pstats) < n and len(pstats) > 1:
        raise ValueError(
            f"range bucketing produced buckets with fewer than "
            f"frame_rows={n} rows (counts={pstats}); re-run with partitions "
            f"<= {max(1, total // (2 * n))} so every frame spans at most one "
            f"bucket boundary"
        )

    withpid = df.withColumn("__pid", pid_raw)
    w = Window.partitionBy("__pid").orderBy(*order)
    wf = w.rowsBetween(-(n - 1), Window.currentRow)
    local = withpid.select(
        *keep_cols,
        "__pid",
        F.row_number().over(w).alias("__rn"),
        F.sum(value_col).over(wf).alias("__lsum"),
        F.count(value_col).over(wf).alias("__lcnt"),
        # per-bucket size rides the same exchange (unbounded frame) — a
        # literal pid->count map here would cost a linear map probe per row
        F.count(F.lit(1)).over(Window.partitionBy("__pid")).alias("__pcnt"),
    )

    if n == 1 or len(pstats) <= 1:
        # no frame ever crosses a boundary
        out, csum, ccnt = local, F.lit(None), F.lit(None)
    else:
        pids = [p for p, _ in pstats]
        nxt = {pids[i]: pids[i + 1] for i in range(len(pids) - 1)}
        nxt_map = F.create_map(
            *[F.lit(x) for kv in sorted(nxt.items()) for x in kv]
        )  # tiny literal map pid -> successor pid (probed on tail rows only)
        # tails: the last n-1 rows of every bucket, re-keyed to the NEXT
        # bucket id; __from_end = 0 for the bucket's very last row. The
        # last bucket maps to NULL and drops — it has no successor.
        tails = (
            local.where(F.col("__rn") > F.col("__pcnt") - (n - 1))
            .select(
                nxt_map[F.col("__pid")].alias("__cpid"),
                (F.col("__pcnt") - F.col("__rn")).alias("__from_end"),
                F.col(value_col).alias("__tval"),
            )
            .where(F.col("__cpid").isNotNull())
        )
        # a boundary row at local position r (r < n) is missing the deepest
        # n-r rows of the previous bucket: exactly __from_end < n - r.
        # The (bucket, r) grid is driver-known (every bucket was validated
        # to hold >= n rows), so it is SYNTHESIZED instead of filtered out
        # of `local` — one fewer consumer re-evaluating the window pass.
        boundary = df.sparkSession.createDataFrame(
            [(p, r) for p in pids[1:] for r in range(1, n)],
            schema="__pid INT, __rn INT",
        )
        carry = (
            boundary.join(
                F.broadcast(tails),
                (F.col("__cpid") == F.col("__pid"))
                & (F.col("__from_end") < n - F.col("__rn")),
            )
            .groupBy("__pid", "__rn")
            .agg(
                F.sum("__tval").alias("__csum"),
                F.count("__tval").alias("__ccnt"),
            )
        )
        out = local.join(F.broadcast(carry), ["__pid", "__rn"], "left")
        csum, ccnt = F.col("__csum"), F.col("__ccnt")

    tot_sum = F.col("__lsum") + F.coalesce(csum, F.lit(0))
    tot_cnt = F.col("__lcnt") + F.coalesce(ccnt, F.lit(0))
    fin = finisher if finisher is not None else F.try_divide
    return out.select(*keep_cols, fin(tot_sum, tot_cnt).alias(out_col))


@query(
    "x_rolling_scaled",
    """SELECT o_orderkey, o_orderdate,
              ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER w
                    / (100.0 * COUNT(*) OVER w), 2) AS ma
       FROM orders
       WINDOW w AS (ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
       ORDER BY o_orderdate, o_orderkey LIMIT 200""",
)
def x_rolling_scaled(t: Tables) -> DataFrame:
    """q_w4's global moving average through the two-pass range-bucketed
    decomposition — the executable 100 TB form of the single-partition
    window that q_w4 pins semantically. The measure is summed as exact
    integer cents (order-independent — double summation order differs
    between the local+carry split and a sequential frame walk, and between
    engines; integer sums cannot drift), then divided and rounded once.
    Matches the DuckDB oracle bit-for-bit at every SF, unlike q_w4's
    documented 1-ulp sf0.1 flip."""
    cents = t.orders.select(
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("__cents"),
    )
    out = global_rolling_avg(
        cents,
        ["o_orderdate", "o_orderkey"],
        "__cents",
        frame_rows=100,
        finisher=lambda s, c: F.round(s / (100.0 * c), 2),
    )
    return (
        out.select("o_orderkey", "o_orderdate", "ma")
        .orderBy("o_orderdate", "o_orderkey")
        .limit(200)
    )


def _ewma_out_schema(df: DataFrame, key_col: str, ts_col: str, val_col: str) -> str:
    """Output schema for the EWMA kernels, derived from the INPUT types
    (r5 advisor finding: a hardcoded ``long/timestamp/double`` triple
    breaks string keys, integer ordering columns, …). Key and ordering
    columns pass through untouched; the value column is emitted as double
    (the recurrence is float arithmetic), matching what the kernels
    actually yield."""
    t = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return (
        f"`{key_col}` {t[key_col]}, `{ts_col}` {t[ts_col]}, "
        f"`{val_col}` double, ewma double"
    )


@query("x_ewma", None)  # recursive fold has no ANSI-SQL form → rows-only check
def x_ewma(t: Tables) -> DataFrame:
    """Per-user EWMA (α=0.3) of event values in time order via the
    partition-fold fast path (``ewma_partitioned`` — one mapInPandas
    kernel per partition instead of one task per key, exact carry across
    Arrow batch splits); row-identical to the keyed ``ewma`` reference
    (tests/reference_forms.py) and to a pure-Python replay, both asserted
    in tests/test_windows.py."""
    out = ewma_partitioned(
        t.events, "user_id", "ts", "value", alpha=0.3, tiebreak="event_id"
    )
    return out.select(
        "user_id", "ts", F.round("value", 4).alias("value"), F.round("ewma", 6).alias("ewma")
    ).orderBy("user_id", "ts")


def ewma_partitioned(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    alpha: float,
    tiebreak: str | None = None,
) -> DataFrame:
    """Per-key exponentially-weighted moving average s_i = α·x_i +
    (1-α)·s_{i-1}, a recurrence no window frame expresses (every frame
    aggregates raw values; EWMA needs the previous output). Instead of
    one applyInPandas invocation per key (slow when keys are many and
    small), repartition by key + sortWithinPartitions(key, ts) and run ONE
    ``mapInPandas`` kernel per partition, folding every key group inside
    it with pandas' grouped cython ``ewm``. Row-identical to the keyed
    ``ewma`` reference in tests/reference_forms.py (parity test-pinned);
    same single unavoidable shuffle.

    Arrow slices a partition into multiple batches, so a key's history
    can span a batch boundary mid-recurrence. The kernel carries the last
    (key, ewma) out of each batch and, when the next batch OPENS with the
    same key, seeds the continuation exactly by prepending one synthetic
    row holding the carried state — ``ewm(adjust=False)`` over
    [s_prev, x_0, …] produces precisely s_i = α·x_i + (1-α)·s_{i-1} —
    then drops it. No approximation, no per-key state dict: state is one
    scalar pair regardless of key count."""
    import pandas as pd

    order = [key_col] + [ts_col] + ([tiebreak] if tiebreak else [])
    out_schema = _ewma_out_schema(df, key_col, ts_col, val_col)
    cols = [key_col, ts_col, val_col] + ([tiebreak] if tiebreak else [])

    def kernel(batches):
        carry_key = None
        carry_val = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            first_key = pdf[key_col].iloc[0]
            seeded = carry_key is not None and first_key == carry_key
            if seeded:
                seed = pdf.iloc[:1].copy()
                seed[val_col] = carry_val
                pdf = pd.concat([seed, pdf], ignore_index=True)
            s = (
                pdf.groupby(key_col, sort=False)[val_col]
                .ewm(alpha=alpha, adjust=False)
                .mean()
                .reset_index(drop=True)
            )
            if seeded:
                pdf = pdf.iloc[1:]
                s = s.iloc[1:]
            carry_key = pdf[key_col].iloc[-1]
            carry_val = s.iloc[-1]
            yield pd.DataFrame(
                {
                    key_col: pdf[key_col].to_numpy(),
                    ts_col: pdf[ts_col].to_numpy(),
                    val_col: pdf[val_col].to_numpy(),
                    "ewma": s.to_numpy(),
                }
            )

    return (
        df.select(*cols)
        .repartition(F.col(key_col))
        .sortWithinPartitions(*order)
        .mapInPandas(kernel, out_schema)
    )
