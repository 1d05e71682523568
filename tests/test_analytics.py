"""Gold-layer analytics tests: dashboard parity (A4–A6), observe metrics
(A9), catalog introspection (S5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from f1_data_pipeline_spark.analytics import (
    last_update,
    observed_run,
    recent_counts,
    table_counts,
    verify_tables,
)
from f1_data_pipeline_spark.catalog import load_tables
from tests.conftest import SF_DIR


def test_table_counts_and_freshness(spark):
    t = load_tables(spark, SF_DIR)
    counts = table_counts({"events": t.events, "nation": t.nation})
    assert counts["events"] == 1000 and counts["nation"] == 25
    lu = last_update(t.events, "ts").collect()[0]["last_update"]
    assert lu is not None


def test_recent_counts_matches_manual(spark):
    t = load_tables(spark, SF_DIR)
    got = recent_counts(t.events, "ts", minutes=5).collect()[0]["c"]
    mx = t.events.agg(F.max("ts")).collect()[0][0]
    manual = t.events.where(
        F.col("ts") > F.lit(mx) - F.expr("INTERVAL 5 MINUTE")
    ).count()
    assert got == manual > 0


def test_observe_metrics_single_pass(spark):
    t = load_tables(spark, SF_DIR)
    df, obs = observed_run(
        t.events,
        {"rows": F.count(F.lit(1)), "null_props": F.sum(F.isnull("props").cast("int"))},
    )
    df.write.format("noop").mode("overwrite").save()
    assert obs.get["rows"] == 1000
    assert obs.get["null_props"] >= 0


def test_verify_tables_report(spark):
    t = load_tables(spark, SF_DIR)
    t.events.createOrReplaceTempView("events_v")
    rep = verify_tables(
        spark,
        {"events_v": ["event_id", "ts", "nope"], "missing_table": ["x"]},
    )
    assert rep["events_v"]["exists"] and rep["events_v"]["missing"] == ["nope"]
    assert not rep["missing_table"]["exists"]


def test_rate_observer_collects_progress(spark, tmp_path):
    """K8/T2: the StreamingQueryListener records per-batch rows/durations
    and flags slow batches."""
    import time

    from f1_data_pipeline_spark.ingest.fixture import generate
    from f1_data_pipeline_spark.streaming import RateObserver, stream_silver

    obs = RateObserver(slow_batch_ms=0.001)  # everything counts as slow
    obs.attach(spark)
    d = tmp_path / "src"
    d.mkdir()
    generate(str(d / "w.txt"), n_lines=80, seed=6)
    qs = stream_silver(spark, str(d), str(tmp_path / "ck"), str(tmp_path / "out"), entities=["weather"])
    for q in qs:
        q.awaitTermination(120)
    # listener delivery is async; give it a beat (a loaded host can delay
    # the listener bus well past 10s — observed in the r13 full-suite run)
    for _ in range(90):
        if obs.progress:
            break
        time.sleep(0.5)
    assert obs.progress, "no progress events recorded"
    assert any(p["numInputRows"] > 0 for p in obs.progress)
    assert all(p["slow"] for p in obs.progress if p["numInputRows"] > 0)


def test_approx_aggregates_within_tolerance(spark):
    """Scale-path approximations: approx_count_distinct and
    approx_percentile land within tolerance of exact values (the 100 TB
    substitutes for q_a2 / x_percentiles)."""
    from pyspark.sql import functions as F

    from f1_data_pipeline_spark.catalog import load_tables

    t = load_tables(spark, SF_DIR)
    row = t.orders.agg(
        F.approx_count_distinct("o_custkey").alias("acd"),
        F.count_distinct("o_custkey").alias("cd"),
        F.approx_percentile("o_totalprice", 0.5, 10000).alias("ap"),
        F.median("o_totalprice").alias("m"),
    ).collect()[0]
    assert abs(row["acd"] - row["cd"]) / row["cd"] < 0.05
    assert abs(row["ap"] - row["m"]) / row["m"] < 0.05


def test_sketch_rollup_accuracy_and_mergeability(spark, tmp_path):
    """HLL sketch rollup: per-group and union-total estimates within 5% of
    exact; and sketches persisted to parquet then UNIONED across two
    disjoint increments reproduce the whole-corpus estimate exactly —
    the incremental-rollup contract."""
    from pyspark.sql import functions as F

    from f1_data_pipeline_spark.analytics import sketch_rollup, sketch_table
    from f1_data_pipeline_spark.catalog import load_tables

    t = load_tables(spark, SF_DIR)
    est = {r[0]: r[1] for r in sketch_rollup(t.events, "event_type", "user_id").collect()}
    exact = {
        r[0]: r[1]
        for r in t.events.groupBy("event_type")
        .agg(F.count_distinct("user_id"))
        .collect()
    }
    exact["__TOTAL__"] = t.events.select("user_id").distinct().count()
    for k, v in exact.items():
        assert abs(est[k] - v) / v < 0.05, (k, est[k], v)

    # persistence + merge: two disjoint halves, sketched separately,
    # written to parquet, unioned — same estimate as sketching everything
    lo = t.events.where(F.col("event_id") % 2 == 0)
    hi = t.events.where(F.col("event_id") % 2 == 1)
    for name, part in (("lo", lo), ("hi", hi)):
        sketch_table(part, "event_type", "user_id").write.mode("overwrite").parquet(
            str(tmp_path / name)
        )
    merged = (
        spark.read.parquet(str(tmp_path / "lo"), str(tmp_path / "hi"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("e"))
        .collect()[0]["e"]
    )
    whole = (
        sketch_table(t.events, "event_type", "user_id")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("e"))
        .collect()[0]["e"]
    )
    assert merged == whole


# --- heavy hitters (Misra-Gries candidates + exact recount) ----------------


def test_heavy_hitters_exact_on_zipfian(spark):
    from f1_data_pipeline_spark.analytics import heavy_hitters

    # Zipf-ish: value i appears ~1000/i times
    rows = [(f"v{i:03d}",) for i in range(1, 80) for _ in range(1000 // i)]
    df = spark.createDataFrame(rows, "term string").repartition(7)
    got = [(r.term, r.cnt) for r in heavy_hitters(df, "term", k=10).collect()]
    want = [
        (r.term, r.cnt)
        for r in df.groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "term")
        .limit(10)
        .collect()
    ]
    assert got == want


def test_heavy_hitters_survives_singleton_flood(spark):
    """Adversarial: 5 heavy values drowned in 20k distinct singletons —
    a per-partition value_counts would hold 20k entries; MG holds ≤cap."""
    from f1_data_pipeline_spark.analytics import heavy_hitters

    heavies = [(f"hh{i}",) for i in range(5) for _ in range(500)]
    noise = [(f"n{i}",) for i in range(20000)]
    df = spark.createDataFrame(heavies + noise, "term string").repartition(9)
    # heavies are 500/22500 ≈ 2.2% of the stream → need capacity+1 > 45
    # for the MG completeness guarantee; 64 clears it with margin
    got = [
        (r.term, r.cnt)
        for r in heavy_hitters(df, "term", k=5, capacity=64).collect()
    ]
    assert got == [(f"hh{i}", 500) for i in range(5)]


def test_heavy_hitters_raises_when_guarantee_fails(spark):
    """A flat distribution with an undersized capacity must RAISE, not
    silently return a wrong top-k (r5 advisor finding): 200 distinct
    values x 20, capacity 4 -> every count is far below N/(capacity+1)
    and the candidate set can't cover the stream, so neither exactness
    condition holds. Raising capacity past the distinct count makes the
    same call succeed via full coverage."""
    import pytest

    from f1_data_pipeline_spark.analytics import heavy_hitters

    rows = [(f"v{i:03d}",) for i in range(200) for _ in range(20)]
    df = spark.createDataFrame(rows, "term string").repartition(8)

    with pytest.raises(Exception, match="heavy_hitters.*raise capacity"):
        heavy_hitters(df, "term", k=5, capacity=4).collect()

    got = [
        (r.term, r.cnt)
        for r in heavy_hitters(df, "term", k=5, capacity=256).collect()
    ]
    assert got == [(f"v{i:03d}", 20) for i in range(5)]


def test_misra_gries_summary_bounded(spark):
    from f1_data_pipeline_spark.analytics import misra_gries_candidates

    noise = [(f"n{i}",) for i in range(5000)]
    df = spark.createDataFrame(noise, "term string").repartition(1)
    out = misra_gries_candidates(df, "term", capacity=40).collect()
    assert len(out) <= 40  # one partition -> one summary, capped


def test_misra_gries_guarantee_at_threshold(spark):
    """An item with freq > N/(capacity+1) must appear in the candidate
    union even at a deliberately tiny capacity."""
    from f1_data_pipeline_spark.analytics import misra_gries_candidates

    n_noise = 900
    heavy = [("HH",)] * 150  # 150 > 1050/(8+1) ≈ 117
    noise = [(f"n{i}",) for i in range(n_noise)]
    df = spark.createDataFrame(heavy + noise, "term string").repartition(3)
    cands = {r.term for r in misra_gries_candidates(df, "term", 8).collect()}
    assert "HH" in cands


def test_sync_replica_follows_schema_evolution(spark, tmp_path):
    """A source that gains a column through an evolving upsert is
    followed: the replica gains it too and stays row-identical, and the
    next sync is a no-op."""
    from pyspark.sql import functions as F

    from f1_data_pipeline_spark.analytics import sync_replica_from_changes
    import f1_data_pipeline_spark.storage as S

    src = str(tmp_path / "src")
    rep = str(tmp_path / "replica")

    def rows(d):
        df = S.snapshot_read(spark, d)
        return df.columns, sorted(tuple(r) for r in df.collect())

    S.snapshot_write(
        spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 2).alias("x")),
        src,
        stats_cols=["k"],
    )
    sync_replica_from_changes(spark, src, "k", rep)
    S.snapshot_upsert(
        spark,
        src,
        spark.range(5, 12).select(
            F.col("id").alias("k"),
            (F.col("id") * 3).alias("x"),
            F.concat(F.lit("r"), F.col("id").cast("string")).alias("region"),
        ),
        key="k",
        evolve_schema=True,
    )
    v, sv = sync_replica_from_changes(spark, src, "k", rep)
    assert sv == S.snapshot_version(spark, src)
    assert rows(rep) == rows(src)
    assert rows(rep)[0] == ["k", "x", "region"]
    assert sync_replica_from_changes(spark, src, "k", rep) == (v, sv)


def test_sync_replica_from_changes_exactly_once(spark, tmp_path):
    """CDF-driven table replication: the replica is row-identical to the
    source after inserts, updates, copy-on-write deletes AND
    deletion-vector deletes; a caught-up sync commits nothing; a span
    netting to zero still advances the stamp (restamp, no data move);
    and re-running after a 'crash' converges (keyed idempotence)."""
    from pyspark.sql import functions as F

    from f1_data_pipeline_spark.analytics import sync_replica_from_changes
    import f1_data_pipeline_spark.storage as S

    src = str(tmp_path / "src")
    rep = str(tmp_path / "replica")

    def mk(lo, hi, mult=1.0):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).cast("string").alias("g"),
            (F.col("id") * mult).cast("double").alias("x"),
        )

    def rows(d):
        return {
            (r["k"], r["g"], r["x"]) for r in S.snapshot_read(spark, d).collect()
        }

    S.snapshot_write(mk(0, 120).repartitionByRange(4, "k"), src, stats_cols=["k"])
    v, sv = sync_replica_from_changes(spark, src, "k", rep, cluster_files=4)
    assert (v, sv) == (1, 1)
    assert rows(rep) == rows(src)

    # mixed span: updates + inserts + a cow delete + a DV delete
    S.snapshot_upsert(spark, src, mk(100, 140, mult=7.0), key="k")
    S.snapshot_delete(spark, src, [("k", "<", 10)])
    S.snapshot_delete(spark, src, [("k", "=", 55)], mode="dv")
    v2, sv2 = sync_replica_from_changes(spark, src, "k", rep, cluster_files=4)
    assert sv2 == S.snapshot_version(spark, src) and v2 > v
    assert rows(rep) == rows(src)
    assert 55 not in {r[0] for r in rows(rep)}

    # caught up: version-preserving no-op
    v3, _ = sync_replica_from_changes(spark, src, "k", rep)
    assert v3 == v2

    # zero-net span: delete then restore — the stamp must still advance
    S.snapshot_delete(spark, src, [("k", "=", 70)], mode="dv")
    S.snapshot_restore(spark, src, S.snapshot_version(spark, src) - 1)
    v4, sv4 = sync_replica_from_changes(spark, src, "k", rep)
    assert v4 > v3  # restamp committed
    assert int(S.snapshot_properties(spark, rep)["source_version"]) == sv4
    assert rows(rep) == rows(src)
    # and the next sync is a clean no-op (the stamp really moved)
    v5, _ = sync_replica_from_changes(spark, src, "k", rep)
    assert v5 == v4


def test_table_to_downstream_sync_via_change_feed(spark, tmp_path, monkeypatch):
    """Keyed commits maintain the primary snapshot table (copy-on-write
    upserts), and a DOWNSTREAM replica syncs from it through the change
    data feed (``sync_replica_from_changes``: initial load, then per-span
    incremental applies stamped with the source version in the replica's
    own commit). After every sync the downstream content equals the
    primary exactly; a sync that dies before its commit leaves the stamp
    behind and the next sync redoes the span; a caught-up sync commits
    nothing."""
    import pytest

    import f1_data_pipeline_spark.storage as st
    from f1_data_pipeline_spark.analytics import sync_replica_from_changes

    tdir = str(tmp_path / "primary")
    ddir = str(tmp_path / "downstream")

    def rows(keys, tag):
        return spark.createDataFrame(
            [(k, f"{tag}-{k}") for k in keys], "k long, v string"
        )

    def sync_downstream():
        rep_ver, src_ver = sync_replica_from_changes(spark, tdir, "k", ddir)
        assert src_ver == st.snapshot_version(spark, tdir)
        return rep_ver

    def table(d):
        return {r["k"]: r["v"] for r in st.snapshot_read(spark, d).collect()}

    # the first commit creates the primary; downstream takes the initial load
    st.snapshot_write(
        rows(range(50), "a").repartitionByRange(4, "k"), tdir, stats_cols=["k"]
    )
    sync_downstream()
    assert table(ddir) == table(tdir)

    # updates + inserts flow through as one incremental span
    st.snapshot_upsert(spark, tdir, rows(range(48, 55), "b"), key="k", cluster_files=4)
    # incremental, not a re-load: only the changed span flows
    feed = st.snapshot_changes(spark, tdir, "k", 1, st.snapshot_version(spark, tdir))
    assert feed.count() == 2 + 2 + 5  # 2 updates (pre+post) + 5 inserts
    sync_downstream()
    assert table(ddir) == table(tdir)

    # a sync that dies after reading the feed, before its commit: the
    # replica keeps its old version and stamp, the next sync redoes it
    st.snapshot_upsert(spark, tdir, rows([0], "c"), key="k", cluster_files=4)
    before = st.snapshot_version(spark, ddir)

    def crash(*a, **k):
        raise RuntimeError("simulated crash before the replica commit")

    monkeypatch.setattr(st, "snapshot_apply_cdc", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        sync_downstream()
    monkeypatch.undo()
    assert st.snapshot_version(spark, ddir) == before
    assert table(ddir) != table(tdir)
    synced = sync_downstream()  # re-reads the same span and applies it
    assert table(ddir) == table(tdir)
    # caught up: the next sync commits nothing
    assert sync_downstream() == synced == st.snapshot_version(spark, ddir)
