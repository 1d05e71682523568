"""Two-pass global rolling frames (operators/windows.py): exact parity with
the single-partition window it replaces, plan-level proof that no stage
funnels into one partition, and the registered q_w4 twin cross-validated."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from f1_data_pipeline_spark.operators.windows import global_rolling_avg
from f1_data_pipeline_spark.queries import all_queries
from tests.conftest import SF_DIR


def _fixture(spark, rows=500, null_every=17):
    """Deterministic integer series with NULLs sprinkled in (SQL avg must
    skip them in both sum and count)."""
    data = [
        (i, None if i % null_every == 0 else (i * 7919) % 1000) for i in range(rows)
    ]
    return spark.createDataFrame(data, "k int, v int")


def _plain(df, n):
    w = Window.orderBy("k").rowsBetween(-(n - 1), Window.currentRow)
    return df.select("k", F.avg("v").over(w).alias("ma"))


@pytest.mark.parametrize("n,partitions", [(1, 4), (3, 4), (50, 4), (100, 2)])
def test_parity_with_single_partition_window(spark, n, partitions):
    df = _fixture(spark)
    got = {
        r["k"]: r["ma"]
        for r in global_rolling_avg(
            df, ["k"], "v", frame_rows=n, partitions=partitions
        ).collect()
    }
    want = {r["k"]: r["ma"] for r in _plain(df, n).collect()}
    assert got.keys() == want.keys()
    for k in want:
        if want[k] is None:
            assert got[k] is None, k
        else:
            # long sums on both sides -> the division is the same IEEE op
            assert got[k] == want[k], (k, got[k], want[k])


def test_parity_with_adaptive_partitions(spark):
    """partitions=None derives the bucket count from the data (r13: the
    hard-coded constant starved the cluster at scale); the decomposition
    is exact, so the output must equal the naive global window."""
    df = _fixture(spark)
    got = {
        r["k"]: r["ma"]
        for r in global_rolling_avg(df, ["k"], "v", frame_rows=10).collect()
    }
    want = {r["k"]: r["ma"] for r in _plain(df, 10).collect()}
    assert got == want


def test_null_only_frame_yields_null(spark):
    df = spark.createDataFrame([(0, None), (1, None), (2, 5)], "k int, v int")
    got = {
        r["k"]: r["ma"]
        for r in global_rolling_avg(df, ["k"], "v", frame_rows=2, partitions=1).collect()
    }
    assert got[0] is None and got[1] is None and got[2] == 5.0


def test_rejects_partitions_smaller_than_frame(spark):
    df = _fixture(spark, rows=40)
    with pytest.raises(ValueError, match="fewer than frame_rows"):
        global_rolling_avg(df, ["k"], "v", frame_rows=30, partitions=4)


def test_no_single_partition_exchange_in_plan(spark):
    """The whole point: the two-pass plan must not contain the
    Exchange SinglePartition that the naive global window requires."""
    df = _fixture(spark)
    two_pass = global_rolling_avg(df, ["k"], "v", frame_rows=10, partitions=4)
    plan = two_pass._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    # sanity contrast: the naive form DOES funnel into one partition
    naive_plan = _plain(df, 10)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" in naive_plan


def test_no_cache_residue(spark):
    """The operator must leave NOTHING pinned in executor storage: bucket
    assignment is a deterministic literal expression, so no persist is
    needed for cross-pass consistency (regression test for the r3 leak
    where the ranged dataset stayed cached until clearCache)."""
    spark.catalog.clearCache()
    df = _fixture(spark)
    for _ in range(2):
        global_rolling_avg(df, ["k"], "v", frame_rows=10, partitions=4).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def test_deterministic_across_evaluations(spark):
    """Two independent evaluations of the SAME returned plan agree row-for-row
    (the r3 design needed a disk persist for this; literal boundaries don't)."""
    df = _fixture(spark)
    out = global_rolling_avg(df, ["k"], "v", frame_rows=25, partitions=4)
    first = sorted(map(tuple, out.collect()))
    second = sorted(map(tuple, out.collect()))
    assert first == second


def test_x_rolling_scaled_matches_q_w4_semantics(spark):
    """The registered twin reproduces q_w4's frame over the corpus; the
    measure differs only by exact-cents vs running-double arithmetic, so
    rounded values agree within one cent (and exactly on almost all rows)."""
    qs = all_queries()
    w4 = {
        (r["o_orderkey"]): r["ma"] for r in qs["q_w4"].builder(spark, SF_DIR).collect()
    }
    twin = {
        (r["o_orderkey"]): r["ma"]
        for r in qs["x_rolling_scaled"].builder(spark, SF_DIR).collect()
    }
    assert twin.keys() == w4.keys()
    exact = sum(1 for k in w4 if twin[k] == w4[k])
    for k in w4:
        assert math.isclose(twin[k], w4[k], abs_tol=0.011), (k, twin[k], w4[k])
    assert exact >= len(w4) - 2  # at most the documented ulp-flip rows differ


def test_ewma_matches_pure_python_replay(spark):
    """applyInPandas EWMA equals the scalar recurrence replayed in pure
    Python per key, and is invariant under input partitioning."""
    from f1_data_pipeline_spark.catalog import load_tables
    from tests.reference_forms import ewma
    from tests.conftest import SF_DIR as _SF

    ev = load_tables(spark, _SF).events
    got = {
        (r.user_id, str(r.ts)): r.ewma
        for r in ewma(ev, "user_id", "ts", "value", 0.3, "event_id").collect()
    }

    import collections

    rows = sorted(
        ev.select("user_id", "ts", "event_id", "value").collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    state: dict = {}
    want = {}
    for r in rows:
        s = state.get(r.user_id)
        s = r.value if s is None else 0.3 * r.value + 0.7 * s
        state[r.user_id] = s
        want[(r.user_id, str(r.ts))] = s
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, k

    got2 = {
        (r.user_id, str(r.ts)): r.ewma
        for r in ewma(
            ev.repartition(17), "user_id", "ts", "value", 0.3, "event_id"
        ).collect()
    }
    assert got == got2


def test_ewma_partitioned_matches_keyed(spark):
    """The partition-fold fast path must be row-identical to the
    per-key applyInPandas reference, including across Arrow batch
    boundaries mid-key (forced tiny batches)."""
    import random

    from f1_data_pipeline_spark.operators.windows import ewma_partitioned
    from tests.reference_forms import ewma

    rng = random.Random(7)
    rows = [
        (k, 1_700_000_000 + i, rng.uniform(-5, 5), k * 10_000 + i)
        for k in range(23)
        for i in range(rng.randint(1, 80))
    ]
    df = spark.createDataFrame(
        rows, "user long, ts_s long, value double, eid long"
    ).select(
        "user",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "value",
        "eid",
    )
    want = {
        (r.user, r.ts): r.ewma
        for r in ewma(df, "user", "ts", "value", 0.3, tiebreak="eid").collect()
    }
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "17")
    try:
        got = {
            (r.user, r.ts): r.ewma
            for r in ewma_partitioned(
                df, "user", "ts", "value", 0.3, tiebreak="eid"
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert got.keys() == want.keys()
    assert all(abs(got[k] - want[k]) < 1e-9 for k in want)


def test_ewma_preserves_input_key_and_order_types(spark):
    """String keys and integer ordering columns must survive both EWMA
    paths (r5 advisor finding: the output schema was hardcoded to
    long/timestamp/double, so non-long keys cast-errored or silently
    mangled)."""
    from f1_data_pipeline_spark.operators.windows import ewma_partitioned
    from tests.reference_forms import ewma

    rows = [
        ("alice", 1, 10.0), ("alice", 2, 20.0), ("alice", 3, 30.0),
        ("bob", 1, 5.0), ("bob", 2, 15.0),
    ]
    df = spark.createDataFrame(rows, "who string, seq int, value double")
    for fn in (ewma, ewma_partitioned):
        out = fn(df, "who", "seq", "value", alpha=0.5)
        types = {f.name: f.dataType.simpleString() for f in out.schema.fields}
        assert types == {
            "who": "string", "seq": "int", "value": "double", "ewma": "double"
        }, fn.__name__
        got = {(r.who, r.seq): r.ewma for r in out.collect()}
        assert abs(got[("alice", 3)] - (0.5 * 30 + 0.5 * (0.5 * 20 + 0.5 * 10))) < 1e-9
        assert abs(got[("bob", 2)] - (0.5 * 15 + 0.5 * 5.0)) < 1e-9
